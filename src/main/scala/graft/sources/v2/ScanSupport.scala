package graft.sources.v2

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}

/** The chrom/pos predicates the `vcf`, `bcf` and `bgen` scans consume,
  * decoded once at planning time: the chrom equalities and the
  * tightest 1-based inclusive pos bounds. Planning prunes with
  * [[chrom]]/[[beg0]]/[[hi]]; readers apply [[matches]] to each row, so
  * a consumed filter behaves exactly as Spark would have evaluated it.
  * Each format compares its OWN normalized chrom (vcf/bcf strip `chr`,
  * bgen keeps the file's name), so a literal the output can never
  * equal simply matches no row.
  *
  * @param chroms distinct pushed chrom equalities
  * @param lo     tightest lower pos bound, `Long.MinValue` when none
  * @param hi     tightest upper pos bound, `Long.MaxValue` when none
  */
final case class PushedRegion(chroms: Seq[String], lo: Long, hi: Long) {

  /** The one chrom every row must carry, when exactly one is pushed. */
  def chrom: Option[String] = if (chroms.length == 1) chroms.headOption else None

  /** Conflicting chrom equalities or an empty pos range: no row can
    * match, so the scan plans zero partitions. */
  def unsatisfiable: Boolean = chroms.length > 1 || lo > hi

  /** 0-based inclusive start of the pos range (the binning-index query
    * coordinate); 0 without a lower bound. */
  def beg0: Long = math.max(1L, lo) - 1L

  def chromMatches(c: String): Boolean = chroms.forall(_ == c)
  def posMatches(pos: Long): Boolean = pos >= lo && pos <= hi
  def matches(c: String, pos: Long): Boolean = chromMatches(c) && posMatches(pos)
}

object PushedRegion {

  /** Filters the genotype scans consume: a string chrom equality and
    * integral pos comparisons. Anything else stays with Spark. */
  def supports(f: Filter): Boolean = f match {
    case EqualTo("chrom", _: String) => true
    case EqualTo("pos", v) => integral(v)
    case GreaterThan("pos", v) => integral(v)
    case GreaterThanOrEqual("pos", v) => integral(v)
    case LessThan("pos", v) => integral(v)
    case LessThanOrEqual("pos", v) => integral(v)
    case _ => false
  }

  private def integral(v: Any): Boolean = v match {
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
         _: java.lang.Byte => true
    case _ => false
  }

  private def long(v: Any): Long = v.asInstanceOf[Number].longValue

  /** Decodes [[supports]]-accepted filters; bounds saturate, so
    * `pos > Long.MaxValue` or `pos < Long.MinValue` is an empty range
    * rather than an overflowed one. */
  def apply(filters: Seq[Filter]): PushedRegion = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    val chroms = Seq.newBuilder[String]
    filters.foreach {
      case EqualTo("chrom", v: String) => chroms += v
      case EqualTo("pos", v) =>
        lo = math.max(lo, long(v)); hi = math.min(hi, long(v))
      case GreaterThan("pos", v) =>
        val b = long(v)
        if (b == Long.MaxValue) { lo = Long.MaxValue; hi = Long.MinValue }
        else lo = math.max(lo, b + 1)
      case GreaterThanOrEqual("pos", v) => lo = math.max(lo, long(v))
      case LessThan("pos", v) =>
        val b = long(v)
        if (b == Long.MinValue) { lo = Long.MaxValue; hi = Long.MinValue }
        else hi = math.min(hi, b - 1)
      case LessThanOrEqual("pos", v) => hi = math.min(hi, long(v))
      case _ =>
    }
    PushedRegion(chroms.result().distinct, lo, hi)
  }
}

/** What the `vcf`, `bcf` and `bgen` tables and the DSv2 writers share
  * besides [[PushedRegion]]: the load-path property and the Hadoop
  * conf they ship to executors. */
object ScanSupport {

  /** `load(p)` sets `path`; `load(p1, p2, …)` serializes a JSON array
    * into `paths` (see FileDataSourceV2.getPaths). */
  def tablePaths(format: String, properties: util.Map[String, String]): Seq[String] = {
    val multi = Option(properties.get("paths")).toSeq.flatMap { s =>
      try new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(s, classOf[Array[String]]).toSeq
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"$format option 'paths' must be a JSON array of strings (Spark's " +
            """load(p1, p2, ...) serializes it that way), e.g. ["/a","/b"] — got: """ +
            s, e)
      }
    }
    Option(properties.get("path")).toSeq ++ multi
  }

  /** The session Hadoop conf as key-values: `Configuration` is not
    * serializable, and executor-side FS access must honor
    * `spark.hadoop.*` (s3a credentials, endpoints) exactly as the driver
    * does, so scans and writers ship this and rebuild with [[conf]]. */
  def confKv(conf: Configuration): Seq[(String, String)] = {
    val b = Seq.newBuilder[(String, String)]
    conf.iterator().forEachRemaining(e => b += (e.getKey -> e.getValue))
    b.result()
  }

  def conf(kv: Seq[(String, String)]): Configuration = {
    val c = new Configuration(false)
    kv.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
