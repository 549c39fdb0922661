package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The codegen'd kernels must agree exactly with the built-in
  * higher-order-function formulation they replaced (same fold order,
  * same doubles) — this is what keeps the DuckDB oracle stable.
  */
class VectorExpressionsSpec extends SparkSpec
    with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def hofDot = (a: String, b: String) =>
    aggregate(zip_with(col(a), col(b), (x, y) => x * y), lit(0.0),
      (acc, x) => acc + x)

  test("graft_dot matches the aggregate/zip_with fold bit-for-bit") {
    val rnd = new scala.util.Random(3L)
    val df = (0 until 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian()),
        Array.fill(64)(rnd.nextGaussian()))
    }.toDF("id", "a", "b")
    val r = df.select(
      GraftFunctions.dot(col("a"), col("b")).as("native"),
      hofDot("a", "b").as("hof")).collect()
    r.foreach(x => assert(x.getDouble(0) == x.getDouble(1)))
  }

  test("graft_hyperplane_sigs matches the per-plane dot composition bit-for-bit") {
    val rnd = new scala.util.Random(9L)
    val planes = Array.fill(7, 5, 16)(rnd.nextGaussian())
    val df = (0 until 40).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian()))
    }.toDF("id", "v")
    // the composed formulation the kernel replaced: per (table, bit) a
    // literal-array dot, bit h set iff dot >= 0
    val composed = (0 until 7).map { t =>
      (0 until 5).map { h =>
        val p = array(planes(t)(h).map(lit(_)): _*)
        when(GraftFunctions.dot(col("v"), p) >= 0, lit(1L << h))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val r = df.select(
      GraftFunctions.hyperplaneSignatures(col("v"), planes.toSeq).as("k"),
      array(composed: _*).as("c")).collect()
    r.foreach { x =>
      assert(x.getSeq[Long](0) == x.getSeq[Long](1))
    }
  }

  test("graft_cosine: bounds, zero-norm guard, null propagation") {
    val df = Seq(
      (Array(1.0, 0.0), Array(2.0, 0.0)),
      (Array(1.0, 0.0), Array(0.0, 0.0)),   // zero norm → 0.0
      (Array(1.0, 2.0), Array(-1.0, -2.0))) // antiparallel → -1
      .toDF("a", "b")
    val r = df.select(GraftFunctions.cosine(col("a"), col("b"))).as[Double]
      .collect()
    assert(math.abs(r(0) - 1.0) < 1e-15)
    assert(r(1) == 0.0)
    assert(math.abs(r(2) + 1.0) < 1e-15)
    val withNull = Seq((Some(Array(1.0)), None: Option[Array[Double]]))
      .toDF("a", "b")
      .select(GraftFunctions.cosine(col("a"), col("b"))).collect()
    assert(withNull.head.isNullAt(0))
  }

  test("functions work from SQL after registration") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) d").as[Double]
    assert(r.head() == 11.0)
  }

  test("graft_topk_vec_centroids matches the struct-sort device it " +
      "replaced, including distance ties breaking on idx") {
    val rnd = new scala.util.Random(17L)
    val cs = (0 until 23).map(i => Array.fill(8)(rnd.nextGaussian()))
    // plant an exact tie: centroid 21 duplicates centroid 4 — at equal
    // distance the SMALLER idx must rank first
    val planted = cs.updated(21, cs(4).clone())
    val df = (0 until 60).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian()))
    }.toDF("id", "v")
    val k = 5
    // the replaced formulation: array_sort over (Σ(x−c)², idx) structs
    val structs = array(planted.zipWithIndex.map { case (c, i) =>
      val d = aggregate(
        zip_with(col("v"), array(c.map(lit(_)): _*),
          (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
      struct(d.as("d"), lit(i).as("i"))
    }: _*)
    val got = df.select(
        GraftFunctions.topKVecCentroids(col("v"),
          planted.indices, planted, k).as("native"),
        transform(slice(array_sort(structs), 1, k),
          s => s.getField("i")).as("device"))
      .as[(Seq[Int], Seq[Int])].collect()
    got.foreach { case (n, d) => assert(n == d) }
    // the planted duplicate pair must surface idx 4 before idx 21
    // whenever both are in the top k
    got.foreach { case (n, _) =>
      if (n.contains(21)) assert(n.indexOf(4) < n.indexOf(21))
    }
  }

  private val modes = Seq(
    "whole-stage codegen" -> (true, Map(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")),
    "no codegen" -> (false, Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")))

  for ((mode, (codegen, confs)) <- modes)
    test("vector centroid kernels: a tie goes to the earlier centroid row, " +
        s"an all-NaN distance row to the first idx ($mode)") {
      withConfs(confs) {
        // rows 0 and 1 are one point under two idxs, listed out of idx
        // order, so the scan order (not the idx) must break the tie
        val idxs = Seq(9, 4, 17)
        val cs = Seq(Array(1.0, 1.0), Array(1.0, 1.0), Array(0.0, 0.0))
        val pts = Seq(0L -> Array(1.0, 1.0), 1L -> Array(0.5, 0.5),
          2L -> Array(Double.NaN, 0.0), 3L -> Array(0.0, 0.1))
        // a two-partition RDD, so the optimizer cannot fold the projection
        val df = spark.sparkContext.parallelize(pts, 2).toDF("id", "v")
          .select(col("id"),
            GraftFunctions.nearestVecCentroid(col("v"), idxs, cs).as("near"),
            GraftFunctions.topKVecCentroids(col("v"), idxs, cs, 2).as("top"))
        val got = df.collect().map(r =>
          r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap
        val staged = find(df.queryExecution.executedPlan)(
          _.isInstanceOf[WholeStageCodegenExec]).isDefined
        assert(staged == codegen, s"whole-stage codegen was $staged")
        assert(got(0L) == ((9, Seq(9, 4)))) // on the duplicated point
        assert(got(1L) == ((9, Seq(9, 4)))) // equidistant from all three
        assert(got(2L)._1 == 9) // every distance NaN
        assert(got(3L) == ((17, Seq(17, 9))))
      }
    }

  for ((mode, (_, confs)) <- modes)
    test("topK vector centroids: slots no distance reached take the " +
        s"unchosen idxs in scan order, never a repeat ($mode)") {
      withConfs(confs) {
        val idxs = Seq(5, 6, 7)
        val cs = Seq(Array(0.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0))
        // a one-row RDD, so the optimizer cannot fold the projection
        val got = spark.sparkContext
          .parallelize(Seq(Array(Double.NaN, 0.0)), 1).toDF("v")
          .select(GraftFunctions.topKVecCentroids(col("v"), idxs, cs, 2))
          .as[Seq[Int]].collect().toSeq
        assert(got == Seq(Seq(5, 6))) // every distance NaN
      }
    }
}
