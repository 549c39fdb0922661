package graft.ml

import graft.functions.CentroidScan
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
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
  * sweep is ONE Spark application, and a fit or a sweep evaluates its
  * points once, into per-partition primitive blocks, and plans its passes
  * once ([[PointScan]]). The bounding box and every round are then one
  * partition-local pass each — one Spark job, one stage, no shuffle: each
  * task folds its partition's block against the centroid list shipped in
  * the job's task binary (the analogue of Hadoop "load centroids in task
  * setup") and returns partial sums that the driver merges into the new
  * centroids. No re-planned query, no shuffle, no external state store —
  * this is what removes the ~38–40 s per-iteration overhead BASELINE.md
  * documents.
  *
  * Assignment is [[CentroidScan.nearest]], the same scan as the SQL
  * `graft_nearest_centroid` kernel of [[assign]]; a round takes any number
  * of centroid sets, so ModelSelect's sweep runs every k's round in the
  * same pass, and a fit is the same round with one set.
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

  /** A9: bounding box of the point cloud (minLat, maxLat, minLon, maxLon),
    * one partition-local pass. SQL `min`/`max` semantics: nulls are skipped
    * per column, NaN ranks above every number, and of equal values
    * (0.0 and -0.0) the first seen in partition order is kept. Fails when
    * either column has no value. `points` needs only lat and lon: the
    * pass reads no weight, so a constant one stands in for `cnt`.
    */
  def bbox(points: DataFrame): (Double, Double, Double, Double) =
    PointScan.using(points.select(col("lat"), col("lon"), lit(1L).as("cnt")),
      "graft.ml.bbox")(bbox)

  /** One column's (min, max) so far, if it has a value. */
  private type Extent = Option[(Double, Double)]

  private[ml] final case class BoxPartial(lat: Extent, lon: Extent)

  private def extend(e: Extent, v: Double): Extent = e match {
    case None => Some((v, v))
    case Some((lo, hi)) =>
      Some((if (SQLOrderingUtil.compareDoubles(v, lo) < 0) v else lo,
        if (SQLOrderingUtil.compareDoubles(v, hi) > 0) v else hi))
  }

  private def merge(a: Extent, b: Extent): Extent =
    b.fold(a)(q => extend(extend(a, q._1), q._2))

  private[ml] def bbox(scan: PointScan): (Double, Double, Double, Double) = {
    val box = scan.pass("bbox") { b =>
      var lat: Extent = None
      var lon: Extent = None
      var i = 0
      while (i < b.size) {
        if (b.hasLat(i)) lat = extend(lat, b.lat(i))
        if (b.hasLon(i)) lon = extend(lon, b.lon(i))
        i += 1
      }
      BoxPartial(lat, lon)
    }.foldLeft(BoxPartial(None, None)) { (a, b) =>
      BoxPartial(merge(a.lat, b.lat), merge(a.lon, b.lon))
    }
    (box.lat, box.lon) match {
      case (Some((minLat, maxLat)), Some((minLon, maxLon))) =>
        (minLat, maxLat, minLon, maxLon)
      case _ => throw new IllegalArgumentException(
        "k-means needs a non-empty point cloud")
    }
  }

  /** J3/J4: nearest-centroid assignment of one centroid set; adds `cidx`,
    * the nearest centroid's OWN idx (not its array position — init idxs
    * need not be 0..k-1, e.g. when seeding from a golden centroid file).
    * First min wins, matching the reference's strict `<` scan
    * (KMeans.java:98–101).
    */
  def assign(points: DataFrame, cs: Seq[Centroid]): DataFrame = {
    graft.functions.GraftFunctions.register(points.sparkSession)
    val sorted = cs.sortBy(_.idx)
    points.withColumn("cidx", graft.functions.GraftFunctions.nearestCentroid(
      col("lat"), col("lon"), Seq(sorted.size), sorted.map(_.idx),
      sorted.map(_.lat), sorted.map(_.lon)).getItem(0))
  }

  /** A10 aggregates: the count-weighted mean lat/lon, 3 dp HALF_UP — the
    * SQL form of [[lloydRound]]'s recenter. */
  private def centerCols: Seq[Column] = Seq(
    round(sum(col("lat") * col("cnt")) / sum(col("cnt")), 3).as("lat"),
    round(sum(col("lon") * col("cnt")) / sum(col("cnt")), 3).as("lon"))

  /** A10: weighted-mean recenter, 3 dp HALF_UP; empty clusters inherit the
    * previous centroid. Collects K rows to the driver. The SQL reference
    * of [[lloydRound]], which the fits and the sweep run instead.
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

  /** Fails unless every `(column, value)` is finite, naming the first
    * that is not and `where` it is. */
  private def requireFinite(where: => String,
                            values: (String, Double)*): Unit =
    values.find(!_._2.isFinite).foreach { case (c, v) =>
      throw new IllegalArgumentException(
        s"k-means needs finite coordinates, got $c=$v $where")
    }

  /** The bounding box `box`, checked finite: a NaN or infinite coordinate
    * anywhere in the points makes it non-finite. */
  private[ml] def finiteBox(box: (Double, Double, Double, Double))
      : (Double, Double, Double, Double) = {
    val (minLat, maxLat, minLon, maxLon) = box
    requireFinite("in the points", "lat" -> minLat, "lat" -> maxLat,
      "lon" -> minLon, "lon" -> maxLon)
    box
  }

  /** One partition's A10 partial sums, one slot per (set, centroid) in
    * slot order (set after set, idx-ascending within a set). */
  private[ml] final case class RoundPartial(latW: Array[Double],
                                            lonW: Array[Double],
                                            cnt: Array[Long])

  /** J3/J4 + A10 for several centroid sets in one pass over `scan` (one
    * Spark job with one stage): every set's next centroids, in `sets`
    * order, each set in its own order. `round` numbers the pass's job
    * description.
    *
    * Each partition assigns its points ([[CentroidScan.nearest]] over each
    * set's idx-sorted centroids, so the winner's position is its slot) and
    * accumulates, per slot, Σ lat·cnt and Σ lon·cnt (doubles, row order,
    * from 0.0 — the order SQL `sum` adds a partition's rows in) and Σ cnt
    * (a long that fails on overflow, like ANSI `sum`). The driver adds the
    * partials in partition order and rounds each mean with [[round3]] — so
    * on one partition the result is bit-equal to [[assign]] +
    * [[recenter]]. Rows with a null lat, lon or cnt add nothing; a
    * centroid without weight keeps its previous value. A mean that is not
    * finite (a NaN or infinite coordinate in the cluster) fails, naming the
    * column and the value; the SQL reference returns NaN there. Idxs must
    * be distinct within a set.
    */
  private[ml] def lloydRound(scan: PointScan, sets: Seq[Seq[Centroid]],
                             round: Int): Seq[Seq[Centroid]] = {
    val sorted = sets.map(_.sortBy(_.idx))
    val offsets = sorted.map(_.size).scanLeft(0)(_ + _).toArray
    val all = sorted.flatten
    val idxs = all.map(_.idx).toArray
    val lats = all.map(_.lat).toArray
    val lons = all.map(_.lon).toArray
    val partials = scan.pass(s"round $round") { b =>
      val latW = new Array[Double](lats.length)
      val lonW = new Array[Double](lats.length)
      val cnt = new Array[Long](lats.length)
      var r = 0
      while (r < b.size) {
        if (b.complete(r)) {
          val lat = b.lat(r)
          val lon = b.lon(r)
          val c = b.cnt(r)
          var s = 0
          while (s < offsets.length - 1) {
            val i = CentroidScan.nearest(lat, lon, lats, lons, offsets(s),
              offsets(s + 1))
            latW(i) += lat * c
            lonW(i) += lon * c
            cnt(i) = Math.addExact(cnt(i), c)
            s += 1
          }
        }
        r += 1
      }
      RoundPartial(latW, lonW, cnt)
    }
    val latW = new Array[Double](idxs.length)
    val lonW = new Array[Double](idxs.length)
    val cnt = new Array[Long](idxs.length)
    partials.foreach { p =>
      var i = 0
      while (i < idxs.length) {
        latW(i) += p.latW(i)
        lonW(i) += p.lonW(i)
        cnt(i) = Math.addExact(cnt(i), p.cnt(i))
        i += 1
      }
    }
    sets.indices.map { s =>
      sets(s).map { c =>
        val i = java.util.Arrays.binarySearch(idxs, offsets(s),
          offsets(s + 1), c.idx)
        if (cnt(i) == 0) c
        else Centroid(c.idx, mean("lat", c.idx, latW(i), cnt(i)),
          mean("lon", c.idx, lonW(i), cnt(i)))
      }
    }
  }

  /** The rounded weighted mean `sum / cnt` of centroid `idx`'s `column`. */
  private def mean(column: String, idx: Int, sum: Double, cnt: Long): Double = {
    val m = sum / cnt
    requireFinite(s"as the mean of centroid idx=$idx's points", column -> m)
    round3(m)
  }

  /** M3: converged iff every rounded delta ≤ tol (strictly-greater ⇒ keep
    * iterating, KMeans.java:307–308).
    */
  def converged(prev: Seq[Centroid], next: Seq[Centroid],
                tol: Double = 0.001): Boolean =
    prev.sortBy(_.idx).zip(next.sortBy(_.idx)).forall { case (p, q) =>
      math.abs(p.lat - q.lat) <= tol && math.abs(p.lon - q.lon) <= tol
    }

  /** The loop's bounds: `maxIter` ≥ 1 rounds, a `tol` ≥ 0. */
  private[ml] def requireLoop(maxIter: Int, tol: Double): Unit = {
    require(maxIter >= 1, s"k-means needs maxIter >= 1, got maxIter=$maxIter")
    require(tol >= 0, s"k-means needs a tolerance >= 0, got tol=$tol")
  }

  /** M2 with caller-supplied initial centroids (the reference's golden
    * `inputs/centroids/part-r-00000` path, and the deterministic route for
    * fixture tests): non-empty, with distinct idxs and finite coordinates.
    * Each round is one [[lloydRound]] over the single set; the points are
    * evaluated once, as in [[fit]].
    */
  def fitWithInit(points: DataFrame, init: Seq[Centroid], maxIter: Int = 20,
                  tol: Double = 0.001): KMeansResult = {
    require(init.nonEmpty, "k-means needs at least one initial centroid")
    val repeated = init.map(_.idx).diff(init.map(_.idx).distinct)
    require(repeated.isEmpty,
      s"k-means needs distinct centroid idxs, idx=${repeated.head} repeats")
    init.foreach(c => requireFinite(s"in initial centroid idx=${c.idx}",
      "lat" -> c.lat, "lon" -> c.lon))
    requireLoop(maxIter, tol)
    PointScan.using(points, "graft.ml.fit")(lloyd(_, init, maxIter, tol))
  }

  private def lloyd(scan: PointScan, init: Seq[Centroid], maxIter: Int,
                    tol: Double): KMeansResult = {
    var cs = init
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      val next = lloydRound(scan, Seq(cs), iter + 1).head
      done = converged(cs, next, tol)
      cs = next
      iter += 1
    }
    KMeansResult(cs, iter, done)
  }

  /** M2: the full Lloyd loop. `points` must have (lat, lon, cnt), with
    * finite coordinates: a NaN or infinite one fails before round 1,
    * naming the column and the value. The fit evaluates `points` once,
    * into per-partition blocks that its bounding box and rounds read and
    * that it releases when it returns ([[PointScan]]); there is no need to
    * cache the points for it.
    */
  def fit(points: DataFrame, k: Int, seed: Long, maxIter: Int = 20,
          tol: Double = 0.001): KMeansResult = {
    require(k >= 1, s"k-means needs k >= 1, got k=$k")
    requireLoop(maxIter, tol)
    PointScan.using(points, "graft.ml.fit") { scan =>
      val (minLat, maxLat, minLon, maxLon) = finiteBox(bbox(scan))
      lloyd(scan, initUniform(k, seed, minLat, maxLat, minLon, maxLon),
        maxIter, tol)
    }
  }
}
