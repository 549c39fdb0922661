package graft.ml

import graft.{SparkEntry, SparkSpec}

/** The k-means entries' pinned oracles, checked in-suite: q28 (KMeans.fit,
  * k=5) and q29 (ModelSelect.sweep, k=2..5, silhouettes rounded to 6 dp)
  * on the sf0.01 fixture must reproduce, exactly, the literal VALUES rows
  * of their oracle SQL — the rows the DuckDB compare would hash.
  */
class PinnedSweepSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.01"

  /** The tuples of the oracle's `FROM (VALUES (..), (..)) AS t(..)`. */
  private def pinnedRows(name: String): Seq[Seq[String]] = {
    val sql = SparkEntry.oracleSqlFor(sf001)(name)
    val values = sql.substring(sql.indexOf("VALUES"), sql.indexOf("AS t("))
    "\\(([^()]*)\\)".r.findAllMatchIn(values)
      .map(_.group(1).split(",").map(_.trim).toSeq).toSeq
  }

  private def run(name: String) =
    SparkEntry.queries(name)(spark, sf001).collect().toSeq

  test("q28_kmeans_centers reproduces its pinned centroids") {
    val got = run("q28_kmeans_centers")
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    val want = pinnedRows("q28_kmeans_centers").map {
      case Seq(i, la, lo) => (i.toInt, la.toDouble, lo.toDouble)
    }
    assert(want.size == 5)
    assert(got == want)
  }

  test("q29_silhouette_sweep reproduces its pinned sweep") {
    val got = run("q29_silhouette_sweep").map(r =>
      (r.getAs[Int]("k"), r.getAs[Double]("silScore"),
        r.getAs[Int]("iterations"), r.getAs[Boolean]("converged")))
    val want = pinnedRows("q29_silhouette_sweep").map {
      case Seq(k, s, i, c) => (k.toInt, s.toDouble, i.toInt, c.toBoolean)
    }
    assert(want.size == 4)
    assert(got == want)
  }
}
