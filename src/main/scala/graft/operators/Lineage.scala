package graft.operators

import org.apache.spark.sql.DataFrame

/** The one lineage-cut policy behind every iterative operator (PageRank,
  * Bradley–Terry, MMR, k-truss, k-core, connected components, BPE, the KN
  * LM, the kinship panel). The session's checkpoint directory says
  * whether cuts must be durable, the rule Spark MLlib's
  * `PeriodicCheckpointer` follows: with `sparkContext.setCheckpointDir`
  * set, every cut writes through it and survives executor loss; without
  * it, cuts are `localCheckpoint` blocks that die with their executor.
  */
object Lineage {

  /** Round loops cut mid-run every `Every` rounds. */
  val Every = 4

  /** Cut after `round` of `rounds`: every [[Every]] rounds, never on the
    * final one, so the caller's downstream plan composes with it. */
  def due(round: Int, rounds: Int): Boolean = round % Every == 0 && round < rounds

  /** Each live cut frame keeps the frame it cut reachable: a lazy cut
    * truncates its RDD lineage when its first job materializes it, and
    * if that dropped the last reference to the pre-cut plan, a GC could
    * collect the plan's SQL-metric accumulators while another stage that
    * reads the cut still reports updates to them (LineageSpec's GC
    * probe). The price is one generation of blocks: the pre-cut plan
    * holds its inputs, in a round loop the previous cut's blocks, so
    * ContextCleaner frees those only once the newer cut frame is gone. */
  private val cutFrom = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, DataFrame]())

  /** Truncates `df`'s plan. Lazy by default: the caller's next action
    * materializes the cut instead of an up-front job per cut (eager
    * cuts were q193's 3.5 s of pure job overhead). */
  def cut(df: DataFrame, eager: Boolean = false): DataFrame = {
    val c = if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
      else df.localCheckpoint(eager)
    cutFrom.put(c, df)
    c
  }
}
