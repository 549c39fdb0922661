package graft

/** Smoke-check main mirroring the driver's t1 gate: `SparkEntry.entry`
  * must return rows > 0 on sf0.001. Prints the row count and the plan.
  *
  * With args it becomes the pre-commit query gate (tools/precommit.sh):
  * each named `SparkEntry.queries` entry is executed against sf0.001 and
  * its row count printed; `--all` runs the whole map. Any exception
  * fails the JVM (exit != 0), so a snapshot commit can never again close
  * on a query that has never executed.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder(4).appName("graft-smoke").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names: Seq[String] =
      if (args.isEmpty) Seq.empty
      else if (args.sameElements(Array("--all"))) SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq
    if (names.isEmpty) {
      val df = SparkEntry.entry(spark)
      df.explain("formatted")
      val rows = df.collect()
      println(s"[smoke] entry rows=${rows.length}")
      rows.take(5).foreach(r => println(s"[smoke] $r"))
    } else {
      val missing = names.filterNot(SparkEntry.queries.contains)
      require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
      var failed = 0
      names.foreach { name =>
        val t0 = System.nanoTime()
        try {
          val n = SparkEntry.queries(name)(spark, sfDir).count()
          val ds = (System.nanoTime() - t0) / 100000000L
          println(s"[smoke] $name rows=$n ds=$ds")
        } catch {
          case e: Exception =>
            failed += 1
            println(s"[smoke] $name FAILED: ${e.getMessage}")
        }
      }
      println(s"[smoke] ${names.length - failed}/${names.length} ok")
      if (failed > 0) { spark.stop(); sys.exit(1) }
    }
    spark.stop()
  }
}
