package graft

class SessionSpec extends SparkSpec {

  test("the suite's session runs the one posture graft.Session sets, and " +
      "builder(n) gives local[n] with n shuffle partitions") {
    val set = Session.settings(2)
    assert(set("spark.sql.adaptive.coalescePartitions.parallelismFirst") ==
      "false")
    assert(set("spark.sql.streaming.checkpointFileManagerClass").endsWith(
      ".checkpointing.FileSystemBasedCheckpointFileManager"))
    for ((k, v) <- set) assert(spark.conf.get(k) == v, k)
    // a second session cannot be built in this JVM, so the other core
    // counts are read off the builder's settings
    for (n <- Seq(1, 3, 16))
      assert(Session.settings(n)("spark.master") == s"local[$n]" &&
        Session.settings(n)("spark.sql.shuffle.partitions") == n.toString)
  }
}
