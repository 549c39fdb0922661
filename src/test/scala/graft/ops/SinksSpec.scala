package graft.ops

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions.{col, lit, max, min, when}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("S3: text KV sink writes key TAB value; single-file golden mode") {
    val dir = tmp("textkv") + "/out"
    val df = Seq(("b", 2L), ("a", 1L)).toDF("word", "cnt").orderBy("word")
    Sinks.writeTextKV(df, "word", "cnt", dir, singleFile = true)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.length == 1)
    val lines = spark.read.text(dir).as[String].collect().sorted
    assert(lines.toSeq == Seq("a\t1", "b\t2"))
  }

  test("S4: partitioned parquet sink round-trips with partition pruning") {
    val dir = tmp("parq") + "/out"
    val df = Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, "x", 3.0))
      .toDF("id", "part", "v")
    Sinks.writeParquet(df, dir, partitionBy = Seq("part"))
    assert(new java.io.File(dir, "part=x").isDirectory) // layout on disk
    val back = spark.read.parquet(dir).filter($"part" === "x")
    assert(back.count() == 2)
    val plan = back.queryExecution.executedPlan.toString
    assert(!plan.contains("part=y")) // pruned partition never scanned
  }

  test("S5: sorted parquet write keeps key order within files") {
    val dir = tmp("sorted") + "/out"
    val df = Seq(5L, 1L, 3L, 2L, 4L).toDF("k").repartition(1)
    Sinks.writeSortedParquet(df, Seq("k"), dir)
    val back = spark.read.parquet(dir).as[Long].collect()
    assert(back.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("range-partitioned write yields disjoint per-file key ranges") {
    val dir = tmp("range") + "/out"
    val df = spark.range(0, 1000).toDF("k")
      .withColumn("k", (col("k") * 7919 % 1000)) // scrambled input order
    Sinks.writeRangePartitioned(df, "k", dir, numPartitions = 4)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length == 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.toString).agg(min("k"), max("k")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    // disjoint, ordered ranges → a range predicate prunes whole files
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo)
      case _ =>
    }
  }

  test("ORC and JSON-lines formats round-trip (source-format breadth)") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
    val orcDir = tmp("orc") + "/out"
    df.write.mode("overwrite").orc(orcDir)
    val orcBack = spark.read.orc(orcDir).orderBy("id")
    assert(orcBack.collect().map(_.toSeq).toSeq == df.orderBy("id")
      .collect().map(_.toSeq).toSeq)
    val jsonDir = tmp("json") + "/out"
    df.write.mode("overwrite").json(jsonDir)
    val jsonBack = spark.read.schema(df.schema).json(jsonDir).orderBy("id")
    assert(jsonBack.collect().map(_.toSeq).toSeq == df.orderBy("id")
      .collect().map(_.toSeq).toSeq)
  }

  test("writeFormat: unified sink validates and partitions") {
    val df = Seq((1L, "x", "a"), (2L, "x", "b"), (3L, "y", "a"))
      .toDF("id", "part", "s")
    val dir = tmp("fmt") + "/orc"
    Sinks.writeFormat(df, dir, "orc", partitionBy = Seq("part"))
    // partition directories exist and the read-back filter prunes on them
    val back = spark.read.orc(dir).filter($"part" === "x")
    assert(back.select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(new java.io.File(dir, "part=x").isDirectory)
    intercept[IllegalArgumentException] {
      Sinks.writeFormat(df, dir, "avro")
    }
  }

  test("sharded export: manifest matches an independent read-back audit") {
    val df = (0L until 200L).map(i => (i, s"doc$i", s"src${i % 3}"))
      .toDF("id", "name", "src")
    val dir = tmp("shards") + "/out"
    def longs(m: org.apache.spark.sql.DataFrame) =
      m.selectExpr("shard", "n_rows", "cast(checksum as long)")
        .as[(Int, Long, Long)].collect().toSeq
    val manifest = longs(Sinks.writeShardedWithManifest(df, "id",
      Seq("id", "name", "src"), dir, numShards = 4))
    assert(manifest.map(_._2).sum == 200L)
    assert(manifest.map(_._1) == manifest.map(_._1).sorted)
    // the auditor's side: recompute per shard from the written files
    val back = spark.read.parquet(dir)
    val audit = Profiling.tableChecksum(back, Seq("id", "name", "src"))
      .selectExpr("n_rows", "cast(checksum as long)")
      .as[(Long, Long)].collect().head
    assert(audit._1 == 200L)
    manifest.foreach { case (s, n, ck) =>
      val part = back.filter($"shard" === s)
      val a = Profiling.tableChecksum(part, Seq("id", "name", "src"))
        .selectExpr("n_rows", "cast(checksum as long)")
        .as[(Long, Long)].collect().head
      assert(a == ((n, ck)), s"shard $s")
    }
    // shard membership is a pure function of the id: re-export agrees
    val again = longs(Sinks.writeShardedWithManifest(df.repartition(7),
      "id", Seq("id", "name", "src"), tmp("shards2") + "/out",
      numShards = 4))
    assert(again == manifest)
  }

  test("sharded export: a null id has its own shard row, first; an empty " +
      "export has an empty manifest") {
    val df = Seq((Some(1L), "a"), (None, "b"), (Some(2L), "c"), (None, "d"))
      .toDF("id", "name")
    val m = Sinks.writeShardedWithManifest(df, "id", Seq("id", "name"),
      tmp("shards-null") + "/out", numShards = 4).collect()
    assert(m.head.isNullAt(0) && m.head.getLong(1) == 2L)
    assert(m.map(_.getLong(1)).sum == 4L)
    assert(m.tail.map(_.getInt(0)).toSeq == m.tail.map(_.getInt(0)).sorted.toSeq)
    // no shard file at all: the read-back has no footer to infer a schema
    // from, and the manifest is simply empty
    val empty = Sinks.writeShardedWithManifest(df.limit(0), "id",
      Seq("id", "name"), tmp("shards-empty") + "/out", numShards = 4)
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq == Seq("shard", "n_rows", "checksum"))
  }

  test("sharded export: collecting the returned manifest starts no job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val df = (0L until 200L).map(i => (i, s"doc$i")).toDF("id", "name")
    val manifest = Sinks.writeShardedWithManifest(df, "id",
      Seq("id", "name"), tmp("shards3") + "/out", numShards = 4)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val rows = try {
      sc.setJobGroup("manifest-collect", "collect the returned manifest")
      val r = manifest.collect()
      // the bus delivers in order: once a later sentinel job is seen,
      // every job of the collect has been seen too
      sc.setJobGroup("manifest-sentinel", "flush the listener bus")
      spark.range(1).rdd.count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("manifest-sentinel") &&
        System.nanoTime() < deadline) Thread.sleep(20)
      r
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(groups.contains("manifest-sentinel"))
    assert(!groups.contains("manifest-collect"))
    assert(rows.map(_.getLong(1)).sum == 200L)
  }

  test("S8: driver-side report file") {
    val f = tmp("report") + "/r/summary.txt"
    Sinks.writeReport(Seq("Max SilScore:0.9", "k:2"), f)
    assert(Files.readAllLines(java.nio.file.Paths.get(f)).size() == 2)
  }

  test("S3 roundtrip: checksum equals the source-side checksum; " +
      "null value writes the bare key") {
    val df = Seq(("a", "1"), ("b", "22"), ("c", "333"))
      .toDF("word", "cnt")
    val got = Sinks.textKVRoundtripChecksum(df, "word", "cnt",
        tmp("s3rt") + "/out")
      .selectExpr("n_rows", "cast(checksum as long)")
      .as[(Long, Long)].collect().head
    val want = Profiling.tableChecksum(df, Seq("word", "cnt"))
      .selectExpr("n_rows", "cast(checksum as long)")
      .as[(Long, Long)].collect().head
    assert(got == want)
  }

  test("S4 roundtrip: per-partition-value census equals the source") {
    val df = Seq((1L, "n1", "X"), (2L, "n2", "Y"), (3L, "n3", "X"))
      .toDF("id", "name", "seg")
    val got = Sinks.parquetRoundtripChecksum(df, "seg",
        Seq("id", "name"), tmp("s4rt") + "/out")
      .selectExpr("seg", "n_rows", "cast(checksum as long)")
      .as[(String, Long, Long)].collect().toSeq
    val want = df.groupBy("seg")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_rows"),
        org.apache.spark.sql.functions.sum(
          Profiling.rowDigest(Seq("id", "name")).cast("decimal(38,0)"))
          .as("checksum"))
      .orderBy("seg")
      .selectExpr("seg", "n_rows", "cast(checksum as long)")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == want)
  }

  test("S5 audit: sorted write has zero violations and full checksum; " +
      "an unsorted write is caught") {
    val df = spark.range(0, 500).toDF("k")
      .withColumn("k", (col("k") * 7919) % 500)
      .withColumn("v", col("k") * 2)
    val audit = Sinks.sortedParquetAudit(df, "k", Seq("k", "v"),
        tmp("s5rt") + "/out", parts = 3)
      .selectExpr("n_rows", "cast(checksum as long)",
        "n_sort_violations")
      .as[(Long, Long, Long)].collect().head
    assert(audit._1 == 500L)
    assert(audit._3 == 0L)
    val want = Profiling.tableChecksum(df, Seq("k", "v"))
      .selectExpr("cast(checksum as long)").as[Long].collect().head
    assert(audit._2 == want)
    // negative: an UNSORTED single-file write must show violations
    val unsortedDir = tmp("s5bad") + "/out"
    df.coalesce(1).write.mode("overwrite").parquet(unsortedDir)
    assert(Sinks.sortViolations(
      spark.read.parquet(unsortedDir), "k") > 0L)
  }

  test("sortViolations is split-independent: a file read as many tiny " +
      "splits counts boundary-straddling inversions exactly") {
    // one file whose ONLY inversions are scattered; the exact count must
    // come back regardless of how the scan chops the file into splits
    // (the _metadata.row_index adjacency contract)
    val n = 2000L
    val inv = Set(400L, 900L, 1500L) // rows whose key dips below its run
    val df = spark.range(0, n).toDF("i")
      .withColumn("k", when(col("i").isin(inv.toSeq.map(lit(_)): _*),
        col("i") - 100).otherwise(col("i")))
      .select("k", "i")
    val dir = tmp("s5split") + "/out"
    df.orderBy("i").coalesce(1).write.mode("overwrite").parquet(dir)
    // k drops at each dip row (1 violation) and the NEXT row is higher
    // again (no second violation — adjacency is pairwise), so 3 total
    val exact = Sinks.sortViolations(spark.read.parquet(dir), "k")
    assert(exact == 3L)
    val prev = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val split = Sinks.sortViolations(spark.read.parquet(dir), "k")
      assert(split == exact,
        s"split-chopped read counted $split, contiguous read $exact")
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.files.maxPartitionBytes", v)
        case None =>
          spark.conf.unset("spark.sql.files.maxPartitionBytes")
      }
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("schema evolution: merged read unions schemas, old rows NULL") {
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val v2 = Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "s", "extra")
    val merged = Sinks.schemaEvolutionRoundtrip(v1, v2,
      tmp("schev") + "/root")
    assert(merged.columns.toSet == Set("id", "s", "extra", "gen"))
    val rows = merged.select("id", "extra")
      .as[(Long, Option[Long])].collect().toMap
    assert(rows == Map(1L -> None, 2L -> None,
      3L -> Some(30L), 4L -> Some(40L)))
  }

  test("S8 roundtrip: report lines parse back into (stat, value) rows") {
    val got = Sinks.reportRoundtrip(spark,
        Seq("alpha=3", "beta=10"), tmp("s8rt") + "/r/summary.txt",
        "stat", "value")
      .as[(String, Long)].collect().toSeq
    assert(got == Seq("alpha" -> 3L, "beta" -> 10L))
  }

  test("format roundtrip: hostile strings survive csv/json/orc intact") {
    // exactly the content CSV quoting exists for: embedded quotes,
    // newlines, delimiters, tabs, unicode, leading/trailing spaces
    val df = Seq(
      (1L, "plain"),
      (2L, "with \"quotes\" inside"),
      (3L, "line\nbreak and\r\nCRLF"),
      (4L, "comma,separated,values"),
      (5L, "tab\tand unicode héllo ✓"),
      (6L, "  padded  ")
    ).toDF("doc_id", "text")
    val want = df.agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum(
          Profiling.rowDigest(Seq("doc_id", "text"))
            .cast("decimal(38,0)")).cast("string"))
      .as[(Long, String)].collect().head
    val got = Sinks.formatRoundtripChecksum(df, Seq("doc_id", "text"),
        Seq("csv", "json", "orc"), tmp("fmt_rt"))
      .as[(String, Long, String)].collect().toSeq
    assert(got == Seq(("csv", want._1, want._2),
      ("json", want._1, want._2), ("orc", want._1, want._2)))
  }

  test("codec roundtrip: every codec preserves every byte") {
    val df = Seq((1L, "alpha"), (2L, "βeta ✓"), (3L, "")).toDF("id", "s")
    val want = df.agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum(
          Profiling.rowDigest(Seq("id", "s")).cast("decimal(38,0)"))
          .cast("string"))
      .as[(Long, String)].collect().head
    val got = Sinks.codecRoundtripChecksum(df, Seq("id", "s"),
        Seq("gzip", "lz4", "snappy", "zstd"), tmp("codec_rt"))
      .as[(String, Long, String)].collect().toSeq
    assert(got == Seq("gzip", "lz4", "snappy", "zstd")
      .map(c => (c, want._1, want._2)))
  }
}
