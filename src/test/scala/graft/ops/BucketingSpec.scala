package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("co-located join on bucketed tables plans zero exchanges") {
    val orders = (1L to 200L).map(i => (i, s"o$i")).toDF("key", "o")
    val items = (1L to 600L).map(i => (i % 200 + 1, s"i$i")).toDF("key", "i")
    Bucketing.writeBucketed(orders, "b_orders", "key", buckets = 4)
    Bucketing.writeBucketed(items, "b_items", "key", buckets = 4)
    // tiny test tables would auto-broadcast and bypass the bucketed path
    // entirely — force the shuffle-join planner to show bucketing
    try withConfs(Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val joined = Bucketing.coLocatedJoin(spark, "b_orders", "b_items", "key")
      assert(joined.count() == 600)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketing unused in:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_items")
      ()
    }
  }

  test("writeBucketed survives an orphaned warehouse location") {
    // a previous SESSION's managed-table dir outlives its in-memory
    // catalog; creating the same table must sweep it, not throw
    // LOCATION_ALREADY_EXISTS (the q315 second-harness-run regression)
    val loc = new java.io.File(spark.conf
      .get("spark.sql.warehouse.dir").stripPrefix("file:"), "b_orphan")
    loc.mkdirs()
    new java.io.File(loc, "stale-part").createNewFile()
    val df = (1L to 10L).map(i => (i, i * 2)).toDF("key", "v")
    Bucketing.writeBucketed(df, "b_orphan", "key", buckets = 2)
    try assert(spark.table("b_orphan").count() == 10)
    finally { spark.sql("DROP TABLE IF EXISTS b_orphan"); () }
  }

  test("mismatched bucket counts still join correctly (with exchange)") {
    val a = (1L to 50L).map(i => (i, i * 2)).toDF("key", "v")
    val b = (1L to 50L).map(i => (i, i * 3)).toDF("key", "w")
    Bucketing.writeBucketed(a, "b_a", "key", buckets = 4)
    Bucketing.writeBucketed(b, "b_b", "key", buckets = 3)
    try {
      assert(Bucketing.coLocatedJoin(spark, "b_a", "b_b", "key").count() == 50)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_a")
      spark.sql("DROP TABLE IF EXISTS b_b")
      ()
    }
  }

  test("dppJoin: the fact scan carries a DYNAMIC partition filter and " +
      "the join result matches the static-filter equivalent") {
    // the dim predicate MUST be on a non-key column (the per-part row
    // count): a key-expressible filter (e.g. part < 'p3') is inferred
    // through the join as a STATIC partition filter by constraint
    // propagation and DPP never fires
    val fact = ((1L to 180L).map(i => (s"p${i % 3}", i)) ++
      (1L to 40L).map(i => (s"p${3 + i % 5}", i))).toDF("part", "v")
    val dim = fact.groupBy("part")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .filter(col("n") > 40).select("part") // p0..p2 (60 rows each)
    val path = java.nio.file.Files
      .createTempDirectory("graft-dpp").toString
    val joined = Bucketing.dppJoin(fact, "part", dim, path)
    // the physical fact scan must prune partitions with a dynamic
    // subquery injected from the dim side — not a static literal filter
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic pruning in plan:\n$plan")
    val got = joined.groupBy("part").count()
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(("p0", 60L), ("p1", 60L), ("p2", 60L)))
  }
}
