package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

/** Laws of the set-batched 2-D centroid kernels, under whole-stage codegen
  * and with every code generator off (the interpreted `nullSafeEval`):
  *  - graft_centroid_silhouette equals, bit for bit, the literal-distance
  *    `array_sort`/`element_at` formula it replaced (kept here as the
  *    oracle);
  *  - graft_nearest_centroid over several sets equals one single-set call
  *    per set, and that call is the first minimum of the driver-side
  *    distances.
  * Centroids come from a coarse grid as often as not, so duplicate
  * centroids (d2nd == dmin) and exactly equidistant points are common, and
  * centroid idxs are distinct but non-contiguous and unordered.
  */
class CentroidExpressionsSpec extends SparkSpec
    with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private final case class C(idx: Int, lat: Double, lon: Double)

  /** The replaced formulation: k inlined literal distances, sorted. */
  private def oracleSilhouette(cs: Seq[C]): Column = {
    val dists = array(cs.map { c =>
      (col("lat") - lit(c.lat)) * (col("lat") - lit(c.lat)) +
      (col("lon") - lit(c.lon)) * (col("lon") - lit(c.lon))
    }: _*)
    val sorted = array_sort(dists)
    val d1 = element_at(sorted, 1)
    val d2 = element_at(sorted, 2)
    when(d2 > 0, (d2 - d1) / d2).otherwise(lit(0.0))
  }

  private def nearest(sets: Seq[Seq[C]]): Column = {
    val all = sets.flatten
    GraftFunctions.nearestCentroid(col("lat"), col("lon"), sets.map(_.size),
      all.map(_.idx), all.map(_.lat), all.map(_.lon))
  }

  private def silhouette(sets: Seq[Seq[C]]): Column = {
    val all = sets.flatten
    GraftFunctions.centroidSilhouette(col("lat"), col("lon"),
      sets.map(_.size), all.map(_.lat), all.map(_.lon))
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** None when every law holds for these points and sets, else what broke.
    * The points go through a two-partition RDD, not a local relation, so
    * the optimizer cannot fold the projection into interpreted
    * evaluation at planning time.
    */
  private def violation(pts: Seq[(Double, Double)], sets: Seq[Seq[C]],
                        codegen: Boolean): Option[String] = {
    val df = spark.sparkContext.parallelize(pts, 2).toDF("lat", "lon")
      .select(col("lat"), col("lon"), nearest(sets).as("near"),
        silhouette(sets).as("sil"),
        array(sets.map(cs => nearest(Seq(cs)).getItem(0)): _*).as("near1"),
        array(sets.map(oracleSilhouette): _*).as("oracle"))
    val rows = df.collect()
    val staged = find(df.queryExecution.executedPlan)(
      _.isInstanceOf[WholeStageCodegenExec]).isDefined
    if (staged != codegen) return Some(s"whole-stage codegen was $staged")
    rows.iterator.flatMap { r =>
      val (la, lo) = (r.getDouble(0), r.getDouble(1))
      val near = r.getSeq[Int](2)
      val sil = r.getSeq[Double](3)
      val near1 = r.getSeq[Int](4)
      val oracle = r.getSeq[Double](5)
      sets.indices.flatMap { s =>
        val ds = sets(s).map(c =>
          (la - c.lat) * (la - c.lat) + (lo - c.lon) * (lo - c.lon))
        val first = sets(s)(ds.indexOf(ds.min)).idx
        Seq(
          (near(s) != near1(s)) ->
            s"set $s at ($la, $lo): batched ${near(s)} vs single ${near1(s)}",
          (near(s) != first) ->
            s"set $s at ($la, $lo): idx ${near(s)}, first minimum $first",
          (bits(sil(s)) != bits(oracle(s))) ->
            s"set $s at ($la, $lo): silhouette ${sil(s)} vs ${oracle(s)}")
          .collect { case (true, msg) => msg }
      }
    }.toSeq.headOption
  }

  private val grid = Gen.oneOf(-2.0, -1.0, 0.0, 1.0, 2.0)
  private val coord = Gen.frequency(1 -> grid, 1 -> Gen.chooseNum(-3.0, 3.0))

  /** A set of k >= 2 centroids with distinct, shuffled, non-contiguous
    * idxs; about a third of the centroids repeat an earlier one. */
  private val setGen: Gen[Seq[C]] = for {
    k <- Gen.chooseNum(2, 6)
    idxs <- Gen.pick(k, 0 until 40)
    order <- Gen.listOfN(k, Gen.chooseNum(0, 1000))
    coords <- Gen.listOfN(k, Gen.zip(coord, coord))
    dupOf <- Gen.listOfN(k, Gen.chooseNum(-k, k - 1))
  } yield {
    val ids = idxs.toSeq.zip(order).sortBy(_._2).map(_._1)
    val cs = coords.indices.foldLeft(Vector.empty[(Double, Double)]) {
      (acc, i) =>
        val j = dupOf(i)
        acc :+ (if (j >= 0 && j < i) acc(j) else coords(i))
    }
    ids.zip(cs).map { case (i, (la, lo)) => C(i, la, lo) }
  }

  private val caseGen = for {
    sets <- Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, setGen))
    pts <- Gen.listOfN(24, Gen.zip(coord, coord))
  } yield (pts, sets)

  /** Hand-picked: a point on a duplicated centroid (dmin == d2nd == 0), a
    * point equidistant from two centroids (dmin == d2nd > 0), a point on
    * a lone centroid (dmin == 0 < d2nd), descending non-contiguous idxs. */
  private val edgeSets = Seq(
    Seq(C(9, 1.0, 1.0), C(4, 1.0, 1.0), C(17, -1.0, 0.0)),
    Seq(C(30, -1.0, 0.0), C(2, 1.0, 0.0)),
    Seq(C(5, 0.0, 0.0), C(3, 2.0, 2.0), C(1, 0.0, 0.0), C(0, -2.0, 0.5)))
  private val edgePoints =
    Seq((1.0, 1.0), (0.0, 0.0), (0.0, 1.0), (-1.0, 0.0), (2.0, 2.0))

  private val modes = Seq(
    "whole-stage codegen" -> (true, Map(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")),
    "no codegen" -> (false, Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")))

  test("SQL surface: sizes first, then the concatenated centroid arrays") {
    // set 0 = {7: (0, 0), 3: (2, 0)}, set 1 = {5: (1, 0)}
    val r = spark.sql(
      """SELECT graft_nearest_centroid(0.5D, 0.0D, array(2, 1),
        |    array(7, 3, 5), array(0.0D, 2.0D, 1.0D), array(0.0D, 0.0D, 0.0D)),
        |  graft_centroid_silhouette(0.5D, 0.0D, array(2, 1),
        |    array(0.0D, 2.0D, 1.0D), array(0.0D, 0.0D, 0.0D))""".stripMargin)
      .head()
    assert(r.getSeq[Int](0) == Seq(7, 5))
    assert(r.getSeq[Double](1) == Seq((2.25 - 0.25) / 2.25, 0.0))
  }

  for ((mode, (codegen, confs)) <- modes) {
    test(s"centroid kernels match their oracles on edge cases ($mode)") {
      withConfs(confs) {
        val v = violation(edgePoints, edgeSets, codegen)
        assert(v.isEmpty, v.getOrElse(""))
      }
    }

    test(s"centroid kernels match their oracles on random sets ($mode)") {
      withConfs(confs) {
        var failure = ""
        val prop = Prop.forAllNoShrink(caseGen) { case (pts, sets) =>
          val v = violation(pts, sets, codegen)
          v.foreach(m => failure = s"$m\n sets=$sets")
          v.isEmpty
        }
        val res = Test.check(
          Test.Parameters.default.withMinSuccessfulTests(20), prop)
        assert(res.passed, s"${res.status}: $failure")
      }
    }
  }
}
