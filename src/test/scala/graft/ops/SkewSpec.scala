package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals the plain join on skewed data") {
    // 90% of rows share one key — the classic hot-key shape
    val big = (1 to 200).map(i => (if (i <= 180) "hot" else s"k$i", i.toLong))
      .toDF("key", "v")
    val small = Seq(("hot", "H"), ("k190", "A"), ("missing", "Z"))
      .toDF("key", "name")
    val plain = big.join(small, Seq("key")).select("key", "v", "name")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedEquiJoin(big, small, "key", saltFactor = 8)
      .select("key", "v", "name").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(plain.count(_.head == "hot") == 180)
  }

  test("salting spreads a hot key across reduce partitions") {
    val big = (1 to 400).map(i => ("hot", i.toLong)).toDF("key", "v")
    val small = Seq(("hot", "H")).toDF("key", "name")
    val parts = Skew.partitionHistogram(
      Skew.saltedEquiJoin(big, small, "key", saltFactor = 2))
      .filter(col("rows") > 0).count()
    assert(parts >= 2) // un-salted, one key = one partition
  }

  test("heavy hitters surfaces the skewed key first") {
    val df = (1 to 100).map(i => if (i <= 80) "hot" else s"k$i").toDF("key")
    val top = Skew.heavyHitters(df, "key", 1).collect().head
    assert(top.getString(0) == "hot" && top.getLong(1) == 80L)
  }

  test("heavy hitters breaks df ties on the key — deterministic cutoff") {
    // 5 keys all df=2: the top-3 must be the 3 lexicographically smallest,
    // identically on every run and layout
    val df = Seq("e", "c", "a", "d", "b").flatMap(k => Seq(k, k)).toDF("key")
    val got = Skew.heavyHitters(df, "key", 3).as[(String, Long)]
      .collect().toSeq
    assert(got == Seq(("a", 2L), ("b", 2L), ("c", 2L)))
    assert(Skew.heavyHitters(df.repartition(5), "key", 3)
      .as[(String, Long)].collect().toSeq == got)
  }

  test("partitionByKeyMod: pid is key mod n, arithmetically checkable") {
    val df = Seq(0L, 1L, 2L, 7L, 8L, 15L, -1L, -8L).toDF("k")
      .withColumn("payload", col("k") * 10)
    val placed = Skew.partitionByKeyMod(df, "k", 4)
    // the contract: spark_partition_id == floorMod(key, n) for every row
    val check = placed.select(col("k"),
      spark_partition_id().as("pid")).as[(Long, Int)].collect()
    assert(check.nonEmpty)
    check.foreach { case (k, pid) =>
      assert(pid == java.lang.Math.floorMod(k, 4L).toInt, s"key $k")
    }
    // rows and payload survive the placement untouched
    assert(placed.select("k", "payload").collect().map(_.toSeq).toSet ==
      df.collect().map(_.toSeq).toSet)
    // and the histogram of the result is the mod census
    val hist = Skew.partitionHistogram(placed)
      .as[(Int, Long)].collect().toMap
    // keys 0,8,-8 → 0; 1 → 1; 2 → 2; 7,15,-1 → 3
    assert(hist == Map(0 -> 3L, 1 -> 1L, 2 -> 1L, 3 -> 3L))
  }

  test("keyGini: 0 for an even census, rising with concentration") {
    import spark.implicits._
    // even: 4 keys × 2 rows → gini_num = 0
    val even = Seq(1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L).toDF("k")
    val e = Skew.keyGini(even, "k")
      .as[(Long, Long, Long, Long)].collect().head
    assert(e == (4L, 8L, 0L, 32L))
    // skewed: counts (1,1,1,5) sorted → num = 2*(1+2+3+20) - 5*8 = 12
    val skewed = (Seq.fill(5)(9L) ++ Seq(1L, 2L, 3L)).toDF("k")
    val s = Skew.keyGini(skewed, "k")
      .as[(Long, Long, Long, Long)].collect().head
    assert(s == (4L, 8L, 12L, 32L))
    // one-key census: num 2*1*c - 2*c = 0 (a single key is "even")
    val one = Seq.fill(3)(7L).toDF("k")
    assert(Skew.keyGini(one, "k")
      .as[(Long, Long, Long, Long)].collect().head == (1L, 3L, 0L, 3L))
  }

  test("saltPlanCensus: exact ceilings, only keys over budget, by weight") {
    // counts: a=7, b=3, c=10, d=2 at target 3 → a: ⌈7/3⌉=3, c: ⌈10/3⌉=4
    val df = (Seq.fill(7)("a") ++ Seq.fill(3)("b") ++ Seq.fill(10)("c") ++
      Seq.fill(2)("d")).toDF("k")
    val got = Skew.saltPlanCensus(df, "k", targetPerTask = 3L)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("c", 10L, 4L), ("a", 7L, 3L)))
    // exact multiple of the budget needs no extra split: 6/3 = 2
    val even = (Seq.fill(6)("x") ++ Seq.fill(3)("y")).toDF("k")
    assert(Skew.saltPlanCensus(even, "k", targetPerTask = 3L)
      .as[(String, Long, Long)].collect().toSeq == Seq(("x", 6L, 2L)))
  }

  test("skewedJoinCensus: AQE splits the planted hot partition — the " +
      "skewed AQEShuffleRead node is in the executed plan, values " +
      "AQE-invariant") {
    // production thresholds (256 MB floor) lowered to fixture scale so
    // the split ENGAGES here: the planted key owns ~90% of the fact
    // side, far past factor 2 × median and the byte floor
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    withConfs(confs) {
      val li = spark.read
        .parquet("/root/testdata/sf0.01/lineitem.parquet")
      val sup = spark.read
        .parquet("/root/testdata/sf0.01/supplier.parquet")
      val df = Skew.skewedJoinCensus(li, sup)
      val got = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // the adaptive plan must carry a skew-split shuffle read
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AQEShuffleRead"),
        s"no AQEShuffleRead in:\n${plan.take(1500)}")
      assert(plan.toLowerCase.contains("skew"),
        s"no skew-split marker in:\n${plan.take(1500)}")
      // values are AQE-invariant: the split must not change the census
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val noSplit = Skew.skewedJoinCensus(li, sup).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == noSplit)
      // the planted key (supplier 1) owns ~90% of the fact rows
      val total = got.map(_._2).sum
      val hotNation = got.maxBy(_._2)
      assert(hotNation._2 * 10 >= total * 9,
        s"plant failed: $hotNation of $total")
    }
  }
}
