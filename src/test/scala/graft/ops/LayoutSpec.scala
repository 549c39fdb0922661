package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the z-order layout contracts: the Morton interleave formula, the
  * generated-SQL parity (the zValueSql text must compute the identical
  * value when evaluated by Spark's own SQL engine), the census's exact
  * equi-depth quadrant recovery on a regular grid, and the write path's
  * partition-count + within-partition-sortedness guarantees.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` at prefix-scan width `p` (p >= 2: the session's width is
    * at least its 2 cores). */
  private def atWidth[T](p: Int)(body: => T): T =
    withConfs(Map("spark.sql.shuffle.partitions" -> p.toString))(body)

  /** The prefix scan at width 1, below the session's core count. */
  private def scanAtOne(df: DataFrame, group: Option[String],
                        order: Seq[String], value: Option[String],
                        step: (Long, Long) => Long): DataFrame =
    Layout.prefixScan(df, group, order, value, step, "test", 1)._1

  test("zValue interleaves bits (x even positions, y odd)") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 0L), (3L, 1L))
      .toDF("x", "y")
    val got = df.select(Layout.zValue(col("x"), col("y"), 2).as("z"))
      .as[Long].collect().toSeq
    // Morton codes: (0,0)=0 (1,0)=1 (0,1)=2 (1,1)=3 (2,0)=4 (3,1)=7
    assert(got == Seq(0L, 1L, 2L, 3L, 4L, 7L))
  }

  test("zValueSql computes the identical value as the Column form") {
    val df = Seq((13L, 6L), (255L, 0L), (1000L, 999L), (0L, 65535L))
      .toDF("x", "y")
    val both = df.select(
      Layout.zValue(col("x"), col("y"), 16).as("a"),
      expr(Layout.zValueSql("x", "y", 16)).as("b"))
    assert(both.filter(col("a") =!= col("b")).count() == 0)
  }

  test("zorderCensus recovers exact quadrants on a 4x4 grid") {
    val grid = (for { x <- 0 to 3; y <- 0 to 3 }
      yield (x.toLong, y.toLong, (x * 4 + y).toLong)).toDF("x", "y", "tie")
    val got = Layout.zorderCensus(grid, "x", "y", "tie",
        buckets = 4, bits = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // z-order visits the 2x2 quadrants consecutively, so 4 equi-depth
    // buckets over 16 rows are EXACTLY the quadrants — each bounding box
    // is 2x2, never a full-width stripe (that is the point of z-order).
    assert(got == Seq(
      (1L, 4L, 0L, 1L, 0L, 1L), (2L, 4L, 2L, 3L, 0L, 1L),
      (3L, 4L, 0L, 1L, 2L, 3L), (4L, 4L, 2L, 3L, 2L, 3L)))
  }

  test("z-order SKIPS: second-dimension predicate touches fewer files and " +
    "row-groups than the single-key sort layout (the point of z-order)") {
    // the r9 verdict's ask: write zorderPartitioned lineitem, read back
    // with predicates on BOTH interleaved dimensions, and prove pruning
    // from stats — not just partitioning shape
    val tmp = java.nio.file.Files.createTempDirectory("graft-zskip").toString
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val total = li.count() // 6000
    // balanced 4-bit dims (partkey 0..199, suppkey 0..9 — raw interleave
    // would let partkey's extra bits own the top of the z value)
    val q = li
      .withColumn("qx", Layout.quantize(col("l_partkey"), 0L, 199L, 4))
      .withColumn("qy", Layout.quantize(col("l_suppkey"), 0L, 9L, 4))
    Layout.zorderPartitioned(q, "qx", "qy", numPartitions = 16, bits = 4)
      .write.mode("overwrite").parquet(s"$tmp/z")
    // the contender: classic single-key sort layout on partkey
    li.repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/bykey")
    def overlaps(dir: String, cLo: String, cHi: String,
                 lo: Long, hi: Long): Long =
      Layout.fileStats(spark, dir, "l_partkey", "l_suppkey")
        .filter(col(cHi) >= lo && col(cLo) <= hi).count()
    val files = Layout.fileStats(spark, s"$tmp/z", "l_partkey", "l_suppkey")
      .count()
    assert(files == 16L)
    // second dimension (suppkey = 3): the single-key layout cannot skip a
    // single file; the z layout's per-file suppkey boxes must prune > half
    val zSupp = overlaps(s"$tmp/z", "y_min", "y_max", 3L, 3L)
    val kSupp = overlaps(s"$tmp/bykey", "y_min", "y_max", 3L, 3L)
    assert(kSupp == 16L, s"single-key layout read $kSupp files")
    assert(zSupp <= 8L, s"z layout read $zSupp files for the suppkey probe")
    // first dimension (partkey band): BOTH layouts prune — z must still
    // skip files (its boxes are tight in both dims, not stripes). The
    // bound is deliberately loose (≤10 of 16): zorderPartitioned's range
    // boundaries come from SAMPLING (Layout doc — not bit-reproducible
    // across runs), and a 10% band's file overlap moves ±1-2 files with
    // them; 9-of-16 was observed on a green layout. The LOAD-BEARING
    // claims are the suppkey probe and the decoded-row ratio above/below.
    val zPart = overlaps(s"$tmp/z", "x_min", "x_max", 40L, 59L)
    assert(zPart <= 10L, s"z layout read $zPart files for the partkey band")
    // and the live Spark scan agrees: with parquet filter pushdown, the
    // row groups the stats exclude are never decoded, so the scan node
    // outputs fewer rows on the z layout than the by-key layout
    def scannedRows(dir: String): Long = {
      val df = spark.read.parquet(dir).filter(col("l_suppkey") === 3L)
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
    }
    val zScan = scannedRows(s"$tmp/z")
    val kScan = scannedRows(s"$tmp/bykey")
    assert(kScan == total, s"by-key scan decoded $kScan of $total")
    assert(zScan * 2 <= kScan,
      s"z scan decoded $zScan rows vs by-key $kScan — no skipping observed")
  }

  test("zorderPartitioned: requested partition count, sorted within each") {
    val grid = (for { x <- 0 to 15; y <- 0 to 15 }
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val laid = Layout.zorderPartitioned(grid, "x", "y",
      numPartitions = 4, bits = 4)
    assert(laid.rdd.getNumPartitions == 4)
    val zIdx = laid.schema.fieldIndex("zval")
    val perPart = laid.rdd.mapPartitionsWithIndex { (i, it) =>
      val zs = it.map(_.getLong(zIdx)).toVector
      if (zs.isEmpty) Iterator.empty
      else Iterator((i, zs == zs.sorted, zs.head, zs.last))
    }.collect().toSeq.sortBy(_._1)
    assert(perPart.forall(_._2), "each partition sorted by zval")
    // range partitioning: the partitions' [min,max] z ranges do not overlap
    val ordered = perPart.sortBy(_._3)
    assert(ordered.sliding(2).forall {
      case Seq(a, b) => a._4 <= b._3
      case _         => true
    }, "partition z ranges disjoint and ordered")
  }

  test("shardedRanks equals the row_number window, at every partition count") {
    // deliberately awkward order: ranks must come out identical to the
    // single-task window regardless of where range boundaries fall
    val df = (1 to 500).map(i => ((i * 7919L) % 101, i.toLong))
      .toDF("v", "tie")
    val w = org.apache.spark.sql.expressions.Window.orderBy("v", "tie")
    val expect = df.withColumn("rnk", row_number().over(w).cast("long"))
      .orderBy("rnk").as[(Long, Long, Long)].collect().toSeq
    for (parts <- Seq(3, 32)) {
      val got = atWidth(parts) {
        Layout.shardedRanks(df, Seq("v", "tie"))
          .orderBy("rnk").as[(Long, Long, Long)].collect().toSeq
      }
      assert(got == expect, s"parts=$parts")
    }
    val one = scanAtOne(df, None, Seq("v", "tie"), None, Math.addExact(_, _))
      .select(col("v"), col("tie"),
        (coalesce(col(Layout.prevCol), lit(0L)) + 1).as("rnk"))
      .orderBy("rnk").as[(Long, Long, Long)].collect().toSeq
    assert(one == expect, "parts=1")
  }

  test("shardedRanks plans the wideBy width when shuffle.partitions is unset") {
    // an unset key must fall back to Spark's default width, the one
    // Dedup.wideBy (and every planner shuffle) sees; 1000 distinct keys so
    // range sampling can fill every requested partition
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      val df = (1 to 1000).map(_.toLong).toDF("v")
      val ranked = Layout.shardedRanks(df, Seq("v")).rdd.getNumPartitions
      val wide = Dedup.wideBy(df, col("v")).rdd.getNumPartitions
      assert(wide == spark.sessionState.conf.numShufflePartitions)
      assert(ranked == wide)
    } finally saved.foreach(spark.conf.set(key, _))
  }

  test("ntileFromRank matches SQL NTILE for ragged row/bucket combinations") {
    for ((n, b) <- Seq((16L, 4), (17L, 4), (23L, 5), (5L, 8), (1L, 3))) {
      val ranks = (1L to n).toDF("rnk")
      val got = ranks
        .select(col("rnk"), Layout.ntileFromRank(col("rnk"), n, b).as("g"))
      val viaSql = ranks.withColumn("g2",
        ntile(b).over(
          org.apache.spark.sql.expressions.Window.orderBy("rnk"))
          .cast("long"))
      val joined = got.join(viaSql, "rnk")
      assert(joined.filter(col("g") =!= col("g2")).count() == 0,
        s"n=$n buckets=$b")
    }
  }

  test("shardedRunningMax equals the strict-prefix max window, at every " +
      "partition count") {
    val w = org.apache.spark.sql.expressions.Window.orderBy("ord")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val inputs = Seq(
      (1 to 300).map(i => (i.toLong, Option((i * 7919L) % 97))),
      // a running max of Long.MinValue is a value, not "no earlier row"
      Seq((1L, Some(Long.MinValue)), (2L, Some(0L)), (3L, Some(-5L))),
      // a null value is skipped, as SQL max skips it
      Seq((1L, Some(3L)), (2L, None), (3L, Some(1L))))
    for (rows <- inputs) {
      val df = rows.toDF("ord", "v")
      val expect = df
        .withColumn("run_max_prev",
          org.apache.spark.sql.functions.max("v").over(w))
        .orderBy("ord")
        .as[(Long, Option[Long], Option[Long])].collect().toSeq
      for (parts <- Seq(3, 32)) {
        val got = atWidth(parts) {
          Layout.shardedRunningMax(df, Seq("ord"), "v")
            .orderBy("ord")
            .as[(Long, Option[Long], Option[Long])].collect().toSeq
        }
        assert(got == expect, s"parts=$parts")
      }
      val one = scanAtOne(df, None, Seq("ord"), Some("v"), math.max(_, _))
        .select(col("ord"), col("v"), col(Layout.prevCol))
        .orderBy("ord")
        .as[(Long, Option[Long], Option[Long])].collect().toSeq
      assert(one == expect, "parts=1")
    }
  }

  test("zorderCensusSharded is frame-identical to zorderCensus") {
    val grid = (for { x <- 0 to 15; y <- 0 to 15 }
      yield ((x * 31L + y * 17L) % 16, (x * 13L + y * 7L) % 16,
        (x * 16 + y).toLong)).toDF("x", "y", "tie")
    val offline = Layout.zorderCensus(grid, "x", "y", "tie",
      buckets = 7, bits = 4).collect().toSeq
    for (parts <- Seq(2, 32)) {
      val sharded = atWidth(parts) {
        Layout.zorderCensusSharded(grid, "x", "y", "tie",
          buckets = 7, bits = 4).collect().toSeq
      }
      assert(sharded == offline, s"parts=$parts")
    }
  }

  test("shardedGroupRanks equals the partitioned window; NULL group and " +
      "the string 'null' stay distinct groups") {
    val df = Seq(
      (Option("null"), 3L), (Option("null"), 1L), (Option("null"), 2L),
      (Option.empty[String], 10L), (Option.empty[String], 30L),
      (Option.empty[String], 20L), (Option("x"), 5L))
      .toDF("g", "v")
    for (parts <- Seq(2, 8)) {
      val got = atWidth(parts) {
        Layout.shardedGroupRanks(df, "g", Seq("v"))
          .select("g", "v", "rnk", "n_grp")
          .as[(Option[String], Long, Long, Long)].collect().toSet
      }
      // NULL is a 3-row group of its own; so is the LITERAL string
      // "null" — merging them (the String.valueOf collision) would
      // report n_grp=6 and interleaved ranks for both
      val want = Set(
        (Option("null"), 1L, 1L, 3L), (Option("null"), 2L, 2L, 3L),
        (Option("null"), 3L, 3L, 3L),
        (Option.empty[String], 10L, 1L, 3L),
        (Option.empty[String], 20L, 2L, 3L),
        (Option.empty[String], 30L, 3L, 3L),
        (Option("x"), 5L, 1L, 1L))
      assert(got == want, s"parts=$parts")
    }
  }

  test("the prefix scans leave nothing cached and run each range " +
      "exchange once") {
    // frames no other test builds: persisting a plan that is already
    // cached adds no RDD, so a shared fixture would hide a leak behind
    // the entry an earlier test left
    val df = (1L to 120L).map(i => (i % 3, (i * 7919L) % 61, i))
      .toDF("g", "v", "tie")
    val docs = (0L until 40L)
      .map(i => (i, Seq.fill(1 + (i % 5).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    // (name, call, map stages: the range exchange, plus the final sort's)
    val calls: Seq[(String, () => DataFrame, Int)] = Seq(
      ("shardedRanks", () => Layout.shardedRanks(df, Seq("v", "tie")), 1),
      ("shardedRunningMax",
        () => Layout.shardedRunningMax(df, Seq("tie"), "v"), 1),
      ("shardedGroupRanks",
        () => Layout.shardedGroupRanks(df, "g", Seq("v", "tie")), 1),
      ("packAssignments", () => Packing.packAssignments(docs, 8L), 2))
    spark.catalog.clearCache()
    calls.foreach { case (name, call, mapStages) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val stages = mapStagesOf(assert(call().collect().nonEmpty, name))
      assert(spark.sharedState.cacheManager.isEmpty, s"$name cached a frame")
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$name left RDDs $left persisted")
      // pass 2 reads pass 1's range exchange output: no map stage reruns
      assert(stages.size == mapStages, s"$name map stages: $stages")
    }
  }

  test("compactionPlan: prefix-sum bin assignment, no unit split, order kept") {
    val census = Seq(("a", 50L), ("b", 40L), ("c", 40L), ("d", 90L),
      ("e", 10L), ("f", 100L)).toDF("k", "n")
    val got = Layout.compactionPlan(census, Seq("k"), "n",
        targetRows = 100L)
      .as[(String, Long, Long)].collect().toSeq
    // cum-before: 0,50,90,130,220,230 → files 0,0,0,1,2,2
    assert(got == Seq(("a", 50L, 0L), ("b", 40L, 0L), ("c", 40L, 0L),
      ("d", 90L, 1L), ("e", 10L, 2L), ("f", 100L, 2L)))
    // units never split: every unit has exactly one out_file; files are
    // contiguous in key order
    assert(got.map(_._3) == got.map(_._3).sorted)
  }

  test("zoneMapPruneAudit: clustered layout prunes, arrival reads all") {
    // 40 rows, 4 files of 10: arrival order interleaves the two langs
    // (alternating by id) so EVERY file's [min,max] covers both; the
    // clustered layout packs each lang into its own 2 files
    val docs = (0L until 40L)
      .map(i => (i, if (i % 2 == 0) "aa" else "bb"))
      .toDF("doc_id", "lang")
    val got = Layout.zoneMapPruneAudit(docs, "lang", "doc_id", nFiles = 4)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("aa", 4L, 2L), ("bb", 4L, 2L)))
    // determinism across shard counts (the shardedRanks contract)
    val again = atWidth(7) {
      Layout.zoneMapPruneAudit(docs, "lang", "doc_id", nFiles = 4)
        .as[(String, Long, Long)].collect().toSeq
    }
    assert(again == got)
    // a value spanning a file boundary is charged every file it
    // straddles: langs of sizes 15/15/10 over files of 10 — here ids
    // arrive already lang-sorted, so both layouts agree (aa spans files
    // 0..1, bb 1..2, cc owns file 3)
    val skew = (0L until 40L).map(i =>
      (i, if (i < 15) "aa" else if (i < 30) "bb" else "cc"))
      .toDF("doc_id", "lang")
    val s = Layout.zoneMapPruneAudit(skew, "lang", "doc_id", nFiles = 4)
      .as[(String, Long, Long)].collect().toSeq
    assert(s == Seq(("aa", 2L, 2L), ("bb", 2L, 2L), ("cc", 1L, 1L)))
  }

  test("rendezvousReshardPlan: conservation, HRW movement lands only " +
      "on added shards, HRW moves less than mod") {
    val ids = (0L until 500L).toDF("doc_id")
    val got = Layout.rendezvousReshardPlan(ids, "doc_id",
        nOld = 8, nNew = 10)
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == (0 until 10))
    // both layouts place every row exactly once
    assert(got.map(_._2).sum == 500L && got.map(_._4).sum == 500L)
    // the HRW invariant: a doc moves iff an ADDED shard wins its argmax
    // — surviving shards receive zero arrivals, added shards receive
    // only arrivals
    for ((shard, nRdv, mRdv, _, _) <- got)
      if (shard < 8) assert(mRdv == 0L, s"shard $shard gained docs")
      else assert(mRdv == nRdv, s"shard $shard kept unmoved docs")
    // stateless-minimum economics: HRW's bill ≈ 2/10 of the corpus,
    // mod's ~4/5 — strictly cheaper on any non-trivial id set
    assert(got.map(_._3).sum < got.map(_._5).sum)
    assert(got.map(_._3).sum < 500L * 2 / 10 * 2) // well under 2x E[move]
  }

  test("hilbertValue is a continuous bijection of the full grid") {
    // the defining curve law: indexes 0..255 each hit once, and every
    // consecutive pair of cells is L1-ADJACENT (Z-order jumps; Hilbert
    // never does) — this is why Hilbert buckets box tighter
    val grid = (for { x <- 0 to 15; y <- 0 to 15 }
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val cells = Layout.hilbertValue(grid, "x", "y", bits = 4)
      .select("hval", "x", "y")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(cells.map(_._1).toSeq == (0L until 256L))
    assert(cells.sliding(2).forall { case Array(a, b) =>
      math.abs(a._2 - b._2) + math.abs(a._3 - b._3) == 1
    })
  }

  test("hilbertSqlCtes computes the identical index as the Column form") {
    val grid = (for { x <- 0 to 31; y <- 0 to 31 }
      yield (x.toLong, y.toLong)).toDF("x", "y")
    grid.createOrReplaceTempView("hil_grid")
    val viaSql = spark.sql(
      s"""WITH ${Layout.hilbertSqlCtes("hil_grid", "x, y", "x", "y", 5)}
         |SELECT x, y, hd5 AS hval FROM h5""".stripMargin)
    val viaCol = Layout.hilbertValue(grid, "x", "y", bits = 5)
      .select(col("x"), col("y"), col("hval").as("hval2"))
    assert(viaSql.join(viaCol, Seq("x", "y"))
      .filter(col("hval") =!= col("hval2")).count() == 0)
  }

  test("hilbert buckets box tighter than z-order off the power-of-4 " +
      "grain") {
    // full 32x32 grid, 10 equi-depth buckets (not a power of 4, so
    // segments cannot all be exact quadrants): Hilbert's continuity
    // keeps every segment compact; Z's discontinuities stretch boxes
    val grid = (for { x <- 0 to 31; y <- 0 to 31 }
      yield (x.toLong, y.toLong, (x * 32 + y).toLong)).toDF("x", "y", "t")
    def area(c: Seq[(Long, Long, Long, Long, Long, Long)]): Long =
      c.map(r => (r._4 - r._3 + 1) * (r._6 - r._5 + 1)).sum
    val h = Layout.hilbertCensusSharded(grid, "x", "y", "t",
      buckets = 10, bits = 5)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val z = Layout.zorderCensusSharded(grid, "x", "y", "t",
      buckets = 10, bits = 5)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // same equi-depth sizes either way; strictly tighter boxes (the
    // measured full-grid values: 1376 vs 1952)
    assert(h.map(_._2) == z.map(_._2))
    assert(area(h) == 1376L && area(z) == 1952L)
  }

  test("rendezvousReshardPlan rejects a shrink plan") {
    val ids = Seq(1L).toDF("doc_id")
    intercept[IllegalArgumentException] {
      Layout.rendezvousReshardPlan(ids, "doc_id", nOld = 10, nNew = 8)
    }
  }
}
