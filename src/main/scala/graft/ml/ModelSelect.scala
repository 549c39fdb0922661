package graft.ml

import org.apache.spark.sql.DataFrame

/** Hyperparameter sweep + model selection (SURVEY.md §2.6 M5/M6, §2.4 A12).
  *
  * The reference's KDriver (/root/reference/final/src/main/java/program/
  * KDriver.java:60–63) runs one MR-job chain per k and parks results in
  * HBase; a naive Spark port still schedules one job per (k, iteration).
  * This sweep batches instead, and evaluates and plans once
  * ([[PointScan]]): the points are evaluated once, into per-partition
  * primitive blocks, and the bounding box, each Lloyd ROUND
  * ([[KMeans.lloydRound]]) and the silhouettes re-run one planned
  * `collect` over those blocks — one Spark job with one stage each, no
  * shuffle, and no query planned between rounds. A round assigns every
  * still-active k at once and each partition hands the driver per-(k,
  * centroid) partial sums to merge. Per-k math is untouched (identical
  * centroids and iterations to sequential fits), but the job count drops
  * from Σ iterations(k) to max iterations(k) + 2, which is what matters
  * when the per-job overhead rivals the compute (the reference's own
  * diagnosis of its 38–40 s/job bottleneck, BASELINE.md).
  */
final case class SweepEntry(k: Int, silScore: Double, iterations: Int,
                            converged: Boolean)

object ModelSelect {

  private final case class KState(cs: Seq[Centroid], iterations: Int,
                                  converged: Boolean)

  /** M5: fit every k on the same points (one job per round across all
    * ks), then score all ks' silhouettes in one more action. ks must be
    * distinct and ≥ 1, `maxIter` ≥ 1, `tol` ≥ 0, and the coordinates finite
    * (a NaN or infinite one fails before round 1, naming the column and the
    * value). The sweep evaluates `points` once, into blocks it releases
    * when it returns; it never persists the caller's frame, and a caller's
    * own cache is left alone.
    */
  def sweep(points: DataFrame, ks: Seq[Int], seed: Long,
            maxIter: Int = 20, tol: Double = 0.001): Seq[SweepEntry] = {
    require(ks.nonEmpty, "sweep needs at least one k")
    ks.foreach(k => require(k >= 1, s"sweep needs every k >= 1, got k=$k"))
    val repeated = ks.diff(ks.distinct)
    require(repeated.isEmpty,
      s"sweep needs distinct ks, k=${repeated.head} repeats")
    KMeans.requireLoop(maxIter, tol)
    PointScan.using(points, "graft.ml.sweep") { scan =>
      val (minLat, maxLat, minLon, maxLon) =
        KMeans.finiteBox(KMeans.bbox(scan))
      val state = scala.collection.mutable.LinkedHashMap(ks.map { k =>
        k -> KState(
          KMeans.initUniform(k, seed, minLat, maxLat, minLon, maxLon), 0, false)
      }: _*)

      var roundNo = 0
      while (roundNo < maxIter && state.values.exists(!_.converged)) {
        val active = ks.filter(k => !state(k).converged)
        val next = KMeans.lloydRound(scan, active.map(state(_).cs),
          roundNo + 1)
        active.zip(next).foreach { case (k, cs) =>
          val prev = state(k)
          state(k) = KState(cs, prev.iterations + 1,
            KMeans.converged(prev.cs, cs, tol))
        }
        roundNo += 1
      }

      val sils = Silhouette.scoreSets(scan, ks.map(state(_).cs))
      ks.zip(sils).map { case (k, sil) =>
        val s = state(k)
        SweepEntry(k, sil, s.iterations, s.converged)
      }
    }
  }

  /** M6/A12: argmax silhouette (first k wins ties, like the reference's
    * strict `>` driver scan, Summarizer.java:81–86).
    */
  def best(entries: Seq[SweepEntry]): SweepEntry = {
    require(entries.nonEmpty, "best needs at least one sweep entry, got none")
    entries.maxBy(_.silScore)
  }

  /** M6: the reference's Summary.txt shape (Summarizer.java:98–115) —
    * `Max SilScore:<s> at kValue:<k> at iteration:<itr>`, then the winning
    * centroid list. Write with Sinks.writeReport.
    */
  def summaryReport(bestEntry: SweepEntry,
                    centroids: Seq[Centroid]): Seq[String] = {
    val header = s"Max SilScore:${bestEntry.silScore} at " +
      s"kValue:${bestEntry.k} at iteration:${bestEntry.iterations}"
    Seq(header, "Corresponding centroids") ++
      centroids.sortBy(_.idx)
        .map(c => s"${c.idx}. Lat:${c.lat} Longitude:${c.lon}")
  }

  /** M6: the reference's KResults.txt shape (Summarizer.java:86) — one
    * `SilScore:<s> at Kvalue:<k> at iteration:<itr>` line per swept k,
    * k-ascending (the reference walks its HBase scan in rowkey = k order).
    * Note the casing: `Kvalue` here, `kValue` in the Summary header —
    * both preserved verbatim from the reference's format strings.
    * GoldenPickupsSpec round-trips the reference's own committed
    * final/outputs files through this renderer byte-for-byte. Scala's
    * Double `toString` is Java's `Double.toString`, so the shortest-
    * round-trip decimal rendering matches the reference exactly.
    */
  def kResultsReport(entries: Seq[SweepEntry]): Seq[String] =
    entries.sortBy(_.k).map(e =>
      s"SilScore:${e.silScore} at Kvalue:${e.k} at iteration:${e.iterations}")
}
