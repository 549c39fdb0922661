package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One Lloyd's K-Means iteration state: centroid list held on the driver —
  * the Spark replacement for the reference's `Centroids` HBase table
  * (/root/reference/final/src/main/java/calc/KMeans.java:197–204, 324–343).
  */
final case class Centroid(idx: Int, lat: Double, lon: Double)

final case class KMeansResult(centroids: Seq[Centroid], iterations: Int,
                              converged: Boolean)

/** Lloyd's K-Means over a weighted 2-D point cloud (SURVEY.md §2.6 M1–M3).
  *
  * Reference semantics preserved (paths in `/root/reference/`):
  *  - M1 uniform-random init in the bbox — final/src/main/java/program/
  *    CGenerator.java:97–116, made DETERMINISTIC via a caller-supplied seed
  *    (the reference's unseeded `new Random()` is its only nondeterminism).
  *  - J3/J4 assignment: every point probes all K centroids for min squared
  *    Euclidean distance, first minimum wins — KMeans.java:93–103.
  *  - A10 recenter: weighted mean Σ(coord·cnt)/Σcnt, rounded 3 dp HALF_UP
  *    BEFORE the convergence compare — KMeans.java:178–194 (order matters:
  *    round, then diff, SURVEY §7.5).
  *  - M3 convergence: every |Δlat| and |Δlon| ≤ 0.001 — KMeans.java:294–314.
  *  - Empty clusters keep their previous centroid (the reference leaves the
  *    old HBase row in place when a reducer gets no points).
  *
  * Execution shape — the part the reference got wrong at scale: the whole
  * sweep is ONE Spark application. Points are cached once; each iteration
  * is a narrow map (assignment against the centroid list, shipped to the
  * tasks inside the codegen'd kernel — the analogue of Hadoop "load
  * centroids in task setup") plus one k-row shuffle (the recenter groupBy).
  * No job re-setup, no external state store — this is what removes the
  * ~38–40 s per-iteration overhead BASELINE.md documents.
  *
  * Assignment is the codegen-stable `graft_nearest_centroid` kernel — no
  * UDF, O(K) per row — which takes any number of centroid sets, so
  * ModelSelect's sweep assigns every k in the same scan.
  */
object KMeans {

  def round3(v: Double): Double =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** M1: k centroids uniform in the bbox, deterministic from seed. */
  def initUniform(k: Int, seed: Long, minLat: Double, maxLat: Double,
                  minLon: Double, maxLon: Double): Seq[Centroid] = {
    val rnd = new scala.util.Random(seed)
    (0 until k).map { i =>
      Centroid(i,
        minLat + rnd.nextDouble() * (maxLat - minLat),
        minLon + rnd.nextDouble() * (maxLon - minLon))
    }
  }

  /** A9: bounding box of the point cloud, one narrow aggregate. */
  def bbox(points: DataFrame): (Double, Double, Double, Double) = {
    val r = points.agg(min("lat"), max("lat"), min("lon"), max("lon")).head()
    require(!r.isNullAt(0), "k-means needs a non-empty point cloud")
    (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
  }

  /** J3/J4 for several centroid sets in ONE pass: one row per (point,
    * set) with `set` = the set's position in `sets` and `cidx` = the
    * nearest centroid's OWN idx in that set (not its array position —
    * init idxs need not be 0..k-1, e.g. when seeding from a golden
    * centroid file). First min wins, matching the reference's strict `<`
    * scan (KMeans.java:98–101).
    *
    * Uses the codegen-STABLE NearestCentroid2D kernel: the centroid arrays
    * travel via the codegen `references` array instead of inlined literals,
    * so an iterative caller reuses ONE compiled plan across all rounds,
    * whatever the centroids or the number of sets.
    */
  private[ml] def assignSets(points: DataFrame,
                             sets: Seq[Seq[Centroid]]): DataFrame =
    points.select(col("lat"), col("lon"), col("cnt"),
      posexplode(nearest(points, sets)).as(Seq("set", "cidx")))

  /** J3/J4: nearest-centroid assignment of one centroid set; adds `cidx`
    * (see [[assignSets]]).
    */
  def assign(points: DataFrame, cs: Seq[Centroid]): DataFrame =
    points.withColumn("cidx", nearest(points, Seq(cs)).getItem(0))

  private def nearest(points: DataFrame, sets: Seq[Seq[Centroid]]): Column = {
    graft.functions.GraftFunctions.register(points.sparkSession)
    val sorted = sets.map(_.sortBy(_.idx))
    val all = sorted.flatten
    graft.functions.GraftFunctions.nearestCentroid(col("lat"), col("lon"),
      sorted.map(_.size), all.map(_.idx), all.map(_.lat), all.map(_.lon))
  }

  /** A10 aggregates: the count-weighted mean lat/lon, 3 dp HALF_UP. */
  private[ml] def centerCols: Seq[Column] = Seq(
    round(sum(col("lat") * col("cnt")) / sum(col("cnt")), 3).as("lat"),
    round(sum(col("lon") * col("cnt")) / sum(col("cnt")), 3).as("lon"))

  /** A10: weighted-mean recenter, 3 dp HALF_UP; empty clusters inherit the
    * previous centroid. Collects K rows to the driver.
    */
  def recenter(assigned: DataFrame, prev: Seq[Centroid]): Seq[Centroid] = {
    val computed = assigned
      .groupBy("cidx")
      .agg(centerCols.head, centerCols.tail: _*)
      .collect()
      .map(r => r.getInt(0) -> Centroid(r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .toMap
    prev.map(c => computed.getOrElse(c.idx, c))
  }

  /** M3: converged iff every rounded delta ≤ tol (strictly-greater ⇒ keep
    * iterating, KMeans.java:307–308).
    */
  def converged(prev: Seq[Centroid], next: Seq[Centroid],
                tol: Double = 0.001): Boolean =
    prev.sortBy(_.idx).zip(next.sortBy(_.idx)).forall { case (p, q) =>
      math.abs(p.lat - q.lat) <= tol && math.abs(p.lon - q.lon) <= tol
    }

  /** M2 with caller-supplied initial centroids (the reference's golden
    * `inputs/centroids/part-r-00000` path, and the deterministic route for
    * fixture tests).
    */
  def fitWithInit(points: DataFrame, init: Seq[Centroid], maxIter: Int = 20,
                  tol: Double = 0.001): KMeansResult = {
    var cs = init
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      val next = recenter(assign(points, cs), cs)
      done = converged(cs, next, tol)
      cs = next
      iter += 1
    }
    KMeansResult(cs, iter, done)
  }

  /** M2: the full Lloyd loop. `points` must have (lat, lon, cnt) — cache it
    * before calling when running a sweep; `fit` does not manage persistence
    * so sweeps can share one cached cloud.
    */
  def fit(points: DataFrame, k: Int, seed: Long, maxIter: Int = 20,
          tol: Double = 0.001): KMeansResult = {
    val (minLat, maxLat, minLon, maxLon) = bbox(points)
    fitWithInit(points,
      initUniform(k, seed, minLat, maxLat, minLon, maxLon), maxIter, tol)
  }
}
