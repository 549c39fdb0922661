package graft

import org.apache.spark.sql.SparkSession

package object ops {

  /** The default width of every explicit repartition the engine pins:
    * max(core count, configured shuffle width). Read through
    * `sessionState.conf` so an unset `spark.sql.shuffle.partitions` yields
    * Spark's own default, the width AQE and every planner shuffle see.
    */
  private[graft] def shuffleWidth(session: SparkSession): Int =
    math.max(session.sparkContext.defaultParallelism,
      session.sessionState.conf.numShufflePartitions)
}
