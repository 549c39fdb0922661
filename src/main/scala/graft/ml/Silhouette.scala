package graft.ml

import graft.functions.CentroidScan
import org.apache.spark.sql.DataFrame

/** Simplified (centroid-based) silhouette (SURVEY.md §2.6 M4, §2.4 A11/A13).
  *
  * Reference formula — /root/reference/final/src/main/java/calc/
  * Silhouette.java:83–108: per point, with dmin and d2nd the smallest and
  * second-smallest SQUARED Euclidean centroid distances,
  * `score = (d2nd − dmin) / d2nd`, then the COUNT-WEIGHTED mean over all
  * points. Spark ML's ClusteringEvaluator(squaredEuclidean) implements the
  * same simplified silhouette and serves as a cross-check oracle in tests.
  *
  * The per-point score is [[CentroidScan.silhouette]] (A13's running
  * two-smallest scan, shared with the SQL `graft_centroid_silhouette`
  * kernel), and every centroid set is scored in one partition-local pass
  * over the points: one Spark job, one stage, no shuffle.
  */
object Silhouette {

  /** One partition's Σ sil·cnt per set and Σ cnt. */
  private[ml] final case class SilPartial(silW: Array[Double], cnt: Long)

  /** Weighted mean silhouette of every centroid set, in `sets` order, from
    * ONE pass over `scan` — the single source of the (d2nd − dmin)/d2nd
    * mean (ModelSelect's batched scoring and [[score]] both use it).
    *
    * Each partition adds, in row order from 0.0, sil·cnt per set (the
    * order SQL `sum` adds a partition's rows in) and Σ cnt (a long that
    * fails on overflow); the driver adds the partials in partition order,
    * so on one partition the mean is bit-equal to the SQL
    * `sum(sil * cnt) / sum(cnt)`. Rows with a null lat, lon or cnt add
    * nothing; a cloud without weight fails.
    */
  private[ml] def scoreSets(scan: PointScan,
                            sets: Seq[Seq[Centroid]]): Seq[Double] = {
    val offsets = sets.map(_.size).scanLeft(0)(_ + _).toArray
    val lats = sets.flatten.map(_.lat).toArray
    val lons = sets.flatten.map(_.lon).toArray
    val partials = scan.pass("silhouettes") { b =>
      val silW = new Array[Double](offsets.length - 1)
      var cnt = 0L
      var r = 0
      while (r < b.size) {
        if (b.complete(r)) {
          val lat = b.lat(r)
          val lon = b.lon(r)
          val c = b.cnt(r)
          var s = 0
          while (s < silW.length) {
            silW(s) += CentroidScan.silhouette(lat, lon, lats, lons,
              offsets(s), offsets(s + 1)) * c
            s += 1
          }
          cnt = Math.addExact(cnt, c)
        }
        r += 1
      }
      SilPartial(silW, cnt)
    }
    val silW = new Array[Double](sets.size)
    var cnt = 0L
    partials.foreach { p =>
      sets.indices.foreach(s => silW(s) += p.silW(s))
      cnt = Math.addExact(cnt, p.cnt)
    }
    require(cnt != 0, s"a silhouette needs a non-zero total weight, got cnt=$cnt")
    silW.toSeq.map(_ / cnt)
  }

  /** Weighted mean silhouette of a weighted point cloud (lat, lon, cnt)
    * under the given centroids, from one evaluation of `points`. Returns 0
    * when k < 2 (no second distance).
    */
  def score(points: DataFrame, cs: Seq[Centroid]): Double =
    if (cs.size < 2) 0.0
    else PointScan.using(points, "graft.ml.score")(scoreSets(_, Seq(cs))).head
}
