package org.apache.spark

/** Spec access to `private[spark]` state of the running context. */
object SparkInternals {

  /** Whether a submitted stage is a shuffle-map stage. */
  def isShuffleMap(s: scheduler.StageInfo): Boolean = s.shuffleDepId.isDefined

  /** Runs `body` with `spark.driver.maxResultSize` at `size`: every task
    * set reads it from the context's conf when it is created. */
  def withMaxResultSize[A](sc: SparkContext, size: String)(body: => A): A = {
    val key = "spark.driver.maxResultSize"
    val old = sc.conf.getOption(key)
    sc.conf.set(key, size)
    try body finally old.fold(sc.conf.remove(key))(sc.conf.set(key, _))
  }

  /** Whether accumulator `id` is still registered: the driver holds each
    * one weakly, and a task update for a collected one is dropped. */
  def accumulatorLive(id: Long): Boolean = util.AccumulatorContext.get(id).isDefined
}
