package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** Executor-resolvable REFERENCE-GENOME handle for the genome-backed
  * kernels ([[LeftAlignExpr]], [[GenomeSliceExpr]]) — the r16
  * verdict's one real 100×-scale blocker in the validation path: a
  * `Map[String, String]` riding the expression tree serializes with
  * EVERY task closure, which at whole-genome scale (~3 GB) is a
  * per-stage 3 GB ship. This handle has two bodies:
  *
  *  - [[Genome.inline]] — the map itself rides the handle (and hence
  *    the task closure). Right for tests and small partial genomes
  *    (a few contig slices); byte-compatible with the historical
  *    `Map`-parameter behavior.
  *  - [[Genome.broadcast]] — the handle carries ONLY a Spark
  *    `Broadcast` id; the uppercased chrom → sequence map ships once
  *    per executor through the torrent protocol and every task
  *    resolves it from the local block manager. The whole-genome
  *    path: 3 GB moves once per executor, not once per task.
  *
  * `toString` is deliberately compact (contig count + total bases,
  * never sequence) so `explain`/plan text stays readable — an inline
  * genome in the expression tree must not dump chromosomes into the
  * plan dump.
  */
final class Genome private (
    private val inline: java.util.HashMap[String, String],
    private val bc: Broadcast[java.util.HashMap[String, String]])
    extends Serializable {

  /** The chrom → UPPERCASE sequence lookup, resolved on whichever JVM
    * asks: the inline map directly, or the broadcast's local value. */
  def resolve(): java.util.HashMap[String, String] =
    if (bc != null) bc.value else inline

  def isBroadcast: Boolean = bc != null

  override def toString: String =
    if (bc != null) s"genome_broadcast(${bc.id})"
    else {
      var bases = 0L
      val it = inline.values().iterator()
      while (it.hasNext) bases += it.next().length
      s"genome_inline(contigs=${inline.size}, bases=$bases)"
    }
}

object Genome {
  /** Small-map path: the genome serializes with the task closure —
    * fine for tests and partial per-contig slices, wrong for a whole
    * assembly (use [[broadcast]]). */
  def inline(genome: Map[String, String]): Genome =
    new Genome(LeftAlignKernel.genomeMap(genome), null)

  /** Whole-genome path: ship the (uppercased) map once per executor
    * via a Spark broadcast; tasks carry only the handle. */
  def broadcast(spark: SparkSession, genome: Map[String, String]): Genome =
    new Genome(null,
      spark.sparkContext.broadcast(LeftAlignKernel.genomeMap(genome)))
}
