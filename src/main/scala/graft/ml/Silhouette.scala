package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Simplified (centroid-based) silhouette (SURVEY.md §2.6 M4, §2.4 A11/A13).
  *
  * Reference formula — /root/reference/final/src/main/java/calc/
  * Silhouette.java:83–108: per point, with dmin and d2nd the smallest and
  * second-smallest SQUARED Euclidean centroid distances,
  * `score = (d2nd − dmin) / d2nd`, then the COUNT-WEIGHTED mean over all
  * points. Spark ML's ClusteringEvaluator(squaredEuclidean) implements the
  * same simplified silhouette and serves as a cross-check oracle in tests.
  *
  * The per-point score is the codegen-stable `graft_centroid_silhouette`
  * kernel, which keeps A13's running two-smallest scan and takes any number
  * of centroid sets: every set's silhouette comes out of one narrow map +
  * one set-keyed aggregate; no shuffle of the point cloud.
  */
object Silhouette {

  /** Weighted mean silhouette of every centroid set, in `sets` order, from
    * ONE scan of `points` — the single source of the (d2nd − dmin)/d2nd
    * formula (ModelSelect's batched scoring and [[score]] both use it).
    */
  private[ml] def scoreSets(points: DataFrame,
                            sets: Seq[Seq[Centroid]]): Seq[Double] = {
    graft.functions.GraftFunctions.register(points.sparkSession)
    val all = sets.flatten
    val bySet = points
      .select(posexplode(graft.functions.GraftFunctions.centroidSilhouette(
        col("lat"), col("lon"), sets.map(_.size), all.map(_.lat),
        all.map(_.lon))).as(Seq("set", "sil")), col("cnt"))
      .groupBy("set")
      .agg(sum(col("sil") * col("cnt")) / sum(col("cnt")))
      .collect()
      .map(r => r.getInt(0) -> r.getDouble(1))
      .toMap
    sets.indices.map(bySet)
  }

  /** Weighted mean silhouette of a weighted point cloud (lat, lon, cnt)
    * under the given centroids. Returns 0 when k < 2 (no second distance).
    */
  def score(points: DataFrame, cs: Seq[Centroid]): Double =
    if (cs.size < 2) 0.0 else scoreSets(points, Seq(cs)).head
}
