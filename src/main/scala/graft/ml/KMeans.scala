package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Encoders}
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
  * is ONE narrow stage, one Spark job: assignment against the centroid
  * list (shipped to the tasks inside the codegen'd kernel — the analogue of
  * Hadoop "load centroids in task setup"), then per-partition partial sums
  * that the driver merges into the new centroids. No shuffle, no job
  * re-setup, no external state store — this is what removes the ~38–40 s
  * per-iteration overhead BASELINE.md documents.
  *
  * Assignment is the codegen-stable `graft_nearest_centroid` kernel — no
  * UDF, O(K) per row — which takes any number of centroid sets, so
  * ModelSelect's sweep runs every k's round in the same scan; a fit is the
  * same round with one set.
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

  /** J3/J4: nearest-centroid assignment of one centroid set; adds `cidx`,
    * the nearest centroid's OWN idx (not its array position — init idxs
    * need not be 0..k-1, e.g. when seeding from a golden centroid file).
    * First min wins, matching the reference's strict `<` scan
    * (KMeans.java:98–101).
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

  /** One partition's A10 partial sums, one slot per (set, centroid) in
    * slot order (set after set, idx-ascending within a set). */
  private[ml] final case class RoundPartial(latW: Array[Double],
                                            lonW: Array[Double],
                                            cnt: Array[Long])

  /** J3/J4 + A10 for several centroid sets in ONE Spark job with one stage:
    * every set's next centroids, in `sets` order, each set in its own order.
    *
    * Each partition assigns its points through the kernel and accumulates,
    * per slot, Σ lat·cnt and Σ lon·cnt (doubles, row order, from 0.0 — the
    * order SQL `sum` adds a partition's rows in) and Σ cnt (a long that
    * fails on overflow, like ANSI `sum`). The driver adds the partials in
    * partition order and rounds each mean with [[round3]] — so on one
    * partition the result is bit-equal to [[assign]] + [[recenter]]. Rows
    * with a null lat, lon or cnt add nothing; a centroid without weight
    * keeps its previous value. Idxs must be distinct within a set.
    *
    * The round is one Dataset action (a `collect`), and its plan does not
    * depend on the centroids or the set count, so later rounds reuse the
    * first round's compiled code.
    */
  private[ml] def lloydRound(points: DataFrame,
                             sets: Seq[Seq[Centroid]]): Seq[Seq[Centroid]] = {
    val sorted = sets.map(_.sortBy(_.idx))
    val offsets = sorted.map(_.size).scanLeft(0)(_ + _).toArray
    val idxs = sorted.flatten.map(_.idx).toArray
    val partials = points
      .where(col("lat").isNotNull && col("lon").isNotNull &&
        col("cnt").isNotNull)
      .select(col("lat"), col("lon"), col("cnt"),
        nearest(points, sorted).as("cidx"))
      .as(Encoders.product[(Double, Double, Long, Array[Int])])
      .mapPartitions((rows: Iterator[(Double, Double, Long, Array[Int])]) =>
        Iterator.single(partialSums(rows, offsets, idxs)))(
        Encoders.product[RoundPartial])
      .collect()
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
        else Centroid(c.idx, round3(latW(i) / cnt(i)), round3(lonW(i) / cnt(i)))
      }
    }
  }

  private def partialSums(rows: Iterator[(Double, Double, Long, Array[Int])],
                          offsets: Array[Int],
                          idxs: Array[Int]): RoundPartial = {
    val latW = new Array[Double](idxs.length)
    val lonW = new Array[Double](idxs.length)
    val cnt = new Array[Long](idxs.length)
    rows.foreach { case (lat, lon, c, cidx) =>
      var s = 0
      while (s < cidx.length) {
        val i = java.util.Arrays.binarySearch(idxs, offsets(s),
          offsets(s + 1), cidx(s))
        latW(i) += lat * c
        lonW(i) += lon * c
        cnt(i) = Math.addExact(cnt(i), c)
        s += 1
      }
    }
    RoundPartial(latW, lonW, cnt)
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
    * fixture tests): non-empty, with distinct idxs. Each round is one
    * [[lloydRound]] over the single set.
    */
  def fitWithInit(points: DataFrame, init: Seq[Centroid], maxIter: Int = 20,
                  tol: Double = 0.001): KMeansResult = {
    require(init.nonEmpty, "k-means needs at least one initial centroid")
    val repeated = init.map(_.idx).diff(init.map(_.idx).distinct)
    require(repeated.isEmpty,
      s"k-means needs distinct centroid idxs, idx=${repeated.head} repeats")
    var cs = init
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      val next = lloydRound(points, Seq(cs)).head
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
    require(k >= 1, s"k-means needs k >= 1, got k=$k")
    val (minLat, maxLat, minLon, maxLon) = bbox(points)
    fitWithInit(points,
      initUniform(k, seed, minLat, maxLat, minLon, maxLon), maxIter, tol)
  }
}
