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

  /** Truncates `df`'s plan. Lazy by default: the caller's next action
    * materializes the cut instead of an up-front job per cut (eager
    * cuts were q193's 3.5 s of pure job overhead). */
  def cut(df: DataFrame, eager: Boolean = false): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)
}
