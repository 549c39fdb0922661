package graft.ml

import graft.SparkSpec

class KMeansVecSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(vs: (Long, Array[Double])*) =
    vs.toDF("vec_id", "emb")

  private val blobA = Array(0.0, 0.0, 0.0)
  private val blobB = Array(10.0, 10.0, 10.0)
  private def near(base: Array[Double], d: Double) = base.map(_ + d)

  private val blobs = vecs(
    0L -> near(blobA, 0.0), 1L -> near(blobA, 0.1), 2L -> near(blobA, -0.1),
    3L -> near(blobB, 0.0), 4L -> near(blobB, 0.1), 5L -> near(blobB, -0.1))

  test("fit on separable vector blobs converges to the blob means") {
    val r = KMeansVec.fit(blobs, "emb", k = 2, seed = 5L, maxIter = 10)
    assert(r.converged)
    val cs = r.centroids.map(_.vec.toSeq).sortBy(_.head)
    assert(cs(0) == blobA.toSeq) // mean of {-0.1, 0, +0.1} offsets
    assert(cs(1) == blobB.toSeq)
  }

  test("assign picks the true nearest centroid by its own idx") {
    val cs = Seq(VecCentroid(9, blobA), VecCentroid(4, blobB))
    val r = KMeansVec.assign(blobs, "emb", cs)
      .select("vec_id", "cidx").collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(Seq(0L, 1L, 2L).forall(r(_) == 9))
    assert(Seq(3L, 4L, 5L).forall(r(_) == 4))
  }

  test("recenter is the per-dimension mean; empty clusters carry over") {
    val cs = Seq(VecCentroid(0, blobA), VecCentroid(1, Array(99.0, 99.0, 99.0)))
    val assigned = KMeansVec.assign(blobs.filter($"vec_id" < 3), "emb", cs)
    val r = KMeansVec.recenter(assigned, "emb", cs)
    assert(r(0).vec.toSeq == blobA.toSeq)
    assert(r(1).vec.toSeq == Seq(99.0, 99.0, 99.0)) // untouched
  }

  test("recenter by group: each centroid set is recentered on its own " +
      "rows, all sets in one action") {
    // group 0 holds blob A's rows, group 1 blob B's, under the SAME idxs
    val grouped = blobs.withColumn("g", ($"vec_id" >= 3).cast("int"))
      .withColumn("cidx", org.apache.spark.sql.functions.lit(0))
    val prev = Map(
      0 -> Seq(VecCentroid(0, Array(1.0, 1.0, 1.0)),
        VecCentroid(1, Array(7.0, 7.0, 7.0))),
      1 -> Seq(VecCentroid(0, Array(9.0, 9.0, 9.0))))
    var r: Map[Int, Seq[VecCentroid]] = Map.empty
    val actions = actionsOf {
      r = KMeansVec.recenter(grouped, "emb", $"g", prev)
    }
    assert(actions.size == 1, actions.map(_._1).toString)
    assert(r(0).map(_.vec.toSeq) == Seq(blobA.toSeq, Seq(7.0, 7.0, 7.0)))
    assert(r(1).map(_.vec.toSeq) == Seq(blobB.toSeq))
  }

  test("fit rejects k < 1, maxIter < 1 and tol < 0, naming the value") {
    val bad: Seq[(String, () => Any)] = Seq(
      "got k=0" -> (() => KMeansVec.fit(blobs, "emb", k = 0, seed = 1L)),
      "got maxIter=0" -> (() =>
        KMeansVec.fit(blobs, "emb", k = 2, seed = 1L, maxIter = 0)),
      "got tol=-1.0" -> (() =>
        KMeansVec.fit(blobs, "emb", k = 2, seed = 1L, tol = -1.0)))
    bad.foreach { case (msg, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }

  test("init is deterministic for a fixed seed") {
    val a = KMeansVec.initFromSample(blobs, "vec_id", "emb", 3, 7L)
    val b = KMeansVec.initFromSample(blobs, "vec_id", "emb", 3, 7L)
    assert(a.map(_.vec.toSeq) == b.map(_.vec.toSeq))
  }
}
