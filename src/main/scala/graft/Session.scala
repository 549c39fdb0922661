package graft

import org.apache.spark.sql.SparkSession

/** The one session posture: `Bench`, `Verify`, `Smoke` and the test suite
  * build their session from `builder(cores)` and add only their app name,
  * paths and log level.
  *
  *  - `local[cores]` with as many shuffle partitions.
  *  - AQE coalesces post-shuffle partitions by byte target
  *    (`spark.sql.adaptive.advisoryPartitionSizeInBytes`), not down to the
  *    core count only: a KB-sized shuffle runs one reduce task, which cut
  *    ~30% of the `Bench` surface at sf0.1 (its tail of small queries is
  *    task-scheduling bound), while a large shuffle keeps its partitions.
  *    CPU-quadratic pair-join stages opt out through an explicit key-hashed
  *    repartition (`Dedup.wideBy`), which AQE never coalesces.
  *  - No UI.
  *  - `nanosAsLong`: events fixtures may be TIMESTAMP(NANOS), which Spark
  *    reads only as BIGINT nanos behind this flag (`Tables.load`).
  *  - A UTC session, which pins the events NTZ → nanos normalization
  *    (`Tables.normalizeEventTs`).
  *  - Streaming checkpoints through the plain file-system manager: the
  *    default checksumming one writes from threads of its own through
  *    Hadoop's local file system, spawning `readlink` processes (1,197 in
  *    one 5-s `stream_ingest` run; 5 with this manager).
  */
object Session {
  private[graft] def settings(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.streaming.checkpointFileManagerClass" -> ("org.apache.spark." +
      "sql.execution.streaming.checkpointing." +
      "FileSystemBasedCheckpointFileManager"))

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder().config(settings(cores))
}
