package graft.ml

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** D-dimensional Lloyd's K-Means over an `array<double>` column — the
  * vector generalization of ml.KMeans (M1–M3) used as the coarse
  * quantizer for IVF similarity search (Similarity.annIvf).
  *
  * Execution shape per iteration (same discipline as the 2-D loop):
  *  - assignment: the codegen'd NearestVecCentroid kernel, Σ(x_i−c_i)² to
  *    every centroid — one narrow pass;
  *  - recenter: `posexplode` of the vector → groupBy(cluster, dim) sums —
  *    one shuffle of k·d partial rows per partition (map-side combined),
  *    collecting only k·d (cluster, dim, mean) cells to the driver.
  */
final case class VecCentroid(idx: Int, vec: Array[Double])

final case class KMeansVecResult(centroids: Seq[VecCentroid],
                                 iterations: Int, converged: Boolean)

object KMeansVec {

  /** Deterministic init: the k seeded-sample rows of the corpus (k-means||
    * style sampling is unnecessary at coarse-quantizer k). Sampling uses a
    * hash of the id column — stable across partitionings.
    */
  def initFromSample(vectors: DataFrame, idCol: String, vecCol: String,
                     k: Int, seed: Long): Seq[VecCentroid] = {
    val rows = vectors
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol), lit(seed)))
      .limit(k)
      .collect()
    require(rows.nonEmpty, "k-means needs a non-empty vector corpus")
    rows.zipWithIndex.map { case (r, i) =>
      VecCentroid(i, r.getSeq[Double](1).toArray)
    }.toSeq
  }

  /** Greedy farthest-point (k-center) init: the seeded-sample row
    * first, then k−1 rounds each taking the corpus point with the
    * LARGEST min-squared-distance to the chosen set (ties on id — fully
    * deterministic, independent of partitioning). On data with real
    * cluster structure this seeds every cluster before revisiting any —
    * the property the hash-sample init only has by seed luck (k samples
    * over k clusters collide with birthday probability ≈ 1, and a
    * collided init can leave Lloyd converged on split/merged lists):
    * the coarse-quantizer regime where pruned-probe EXACTNESS contracts
    * must hold at every scale, not at the scales the seed happened to
    * win. Cost: k driver-side scans (k = coarse nlist, small by
    * construction). Caveat: on noisy corpora farthest-point seeds
    * outliers — use for quantizer fits over deduped/structured vectors,
    * keep the sample init for exploratory clustering.
    */
  def initFarthest(vectors: DataFrame, idCol: String, vecCol: String,
                   k: Int, seed: Long): Seq[VecCentroid] = {
    val first = vectors
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol), lit(seed)))
      .limit(1).collect()
    require(first.nonEmpty, "k-means needs a non-empty vector corpus")
    var chosen = Vector(
      VecCentroid(0, first(0).getSeq[Double](1).toArray))
    // squared distance to one chosen centroid: ‖x‖² − 2·x·c + ‖c‖², with
    // x·c and ‖x‖² through the codegen'd graft_dot kernel and ‖c‖² folded
    // as a literal
    val v = col(vecCol)
    def distTo(c: VecCentroid): Column =
      GraftFunctions.dot(v, v) -
        lit(2.0) * GraftFunctions.dot(v, array(c.vec.map(lit(_)): _*)) +
        lit(c.vec.map(x => x * x).sum)
    // r19: carry the running min-distance as a materialized column
    // instead of re-deriving distances to EVERY chosen centroid each
    // round — the old per-round plan inlined chosen.size × d literal
    // vectors and re-analyzed a growing expression tree (~0.5 s/round of
    // pure planning at k = 8). Each round adds ONE centroid's distance
    // and folds it with a when() — min over the same IEEE doubles in
    // any association is the same value, so the argmax (and its id
    // tie-break) is unchanged.
    //
    // r20: the fold stays LAZY between checkpoints — the r19 form
    // eagerly localCheckpoint'ed EVERY round, which doubled the job
    // count of an already job-launch-bound loop (each round is one
    // argmax over a cached/tiny frame; 2k jobs ≈ the whole ivfIndexBuild
    // wall at sf0.1). The fold depth is capped at 8 by a periodic
    // checkpoint, so at coarse-quantizer k the loop runs k argmax jobs
    // and the recompute work per round is ≤ 8 extra dot products per
    // row — noise next to a job launch; a large-k fit still never
    // re-analyzes an unbounded plan.
    var cur = vectors.select(col(idCol), v)
      .withColumn("__d", distTo(chosen.last))
    var sinceCheckpoint = 0
    while (chosen.size < k) {
      val far = cur
        .orderBy(col("__d").desc, col(idCol))
        .limit(1).collect()(0)
      chosen = chosen :+
        VecCentroid(chosen.size, far.getSeq[Double](1).toArray)
      if (chosen.size < k) {
        val dNew = distTo(chosen.last)
        cur = cur.withColumn("__d",
          when(col("__d") < dNew, col("__d")).otherwise(dNew))
        sinceCheckpoint += 1
        if (sinceCheckpoint >= 8) {
          cur = cur.localCheckpoint(true)
          sinceCheckpoint = 0
        }
      }
    }
    chosen
  }

  /** Adds `cidx` = idx of the nearest centroid (first minimum wins).
    *
    * Codegen-STABLE (NearestVecCentroid): the centroid matrix rides the
    * codegen `references` array, so the Lloyd loop reuses one compiled
    * plan across iterations instead of recompiling per-iteration literal
    * plans. Distances are Σ(x_i−c_i)², the same scan the IVF query probe
    * (TopKVecCentroids) runs.
    */
  def assign(vectors: DataFrame, vecCol: String,
             cs: Seq[VecCentroid]): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    val sorted = cs.sortBy(_.idx)
    vectors.withColumn("cidx",
      GraftFunctions.nearestVecCentroid(col(vecCol),
        sorted.map(_.idx), sorted.map(_.vec)))
  }

  /** Mean vector per cluster via (cluster, dim) partial sums; empty
    * clusters keep their previous centroid.
    */
  def recenter(assigned: DataFrame, vecCol: String,
               prev: Seq[VecCentroid]): Seq[VecCentroid] =
    recenter(assigned, vecCol, lit(0), Map(0 -> prev))(0)

  /** [[recenter]] for several independent centroid sets in ONE Spark job:
    * `group` names each row's set (an int), `prev` holds every set by its
    * group, and the partial sums run per (group, cluster, dim).
    */
  private[graft] def recenter(assigned: DataFrame, vecCol: String,
                              group: Column,
                              prev: Map[Int, Seq[VecCentroid]])
      : Map[Int, Seq[VecCentroid]] = {
    val cells = assigned
      .select(group.as("__g"), col("cidx"), posexplode(col(vecCol)))
      .groupBy("__g", "cidx", "pos")
      .agg(sum("col").as("s"), count(lit(1)).as("n"))
      .collect()
    val byCluster = cells.groupBy(r => (r.getInt(0), r.getInt(1)))
    prev.map { case (g, cs) =>
      g -> cs.map { c =>
        byCluster.get((g, c.idx)) match {
          case Some(rows) =>
            val vec = c.vec.clone()
            rows.foreach { r =>
              vec(r.getInt(2)) = r.getDouble(3) / r.getLong(4)
            }
            VecCentroid(c.idx, vec)
          case None => c
        }
      }
    }
  }

  def converged(prev: Seq[VecCentroid], next: Seq[VecCentroid],
                tol: Double): Boolean =
    prev.sortBy(_.idx).zip(next.sortBy(_.idx)).forall { case (p, q) =>
      p.vec.zip(q.vec).forall { case (a, b) => math.abs(a - b) <= tol }
    }

  /** The Lloyd loop. Cache `vectors` before calling for multi-iteration
    * runs (same contract as KMeans.fit).
    */
  def fit(vectors: DataFrame, vecCol: String, k: Int, seed: Long,
          maxIter: Int = 10, tol: Double = 1e-4,
          idCol: String = "vec_id",
          farthestInit: Boolean = false): KMeansVecResult = {
    require(k >= 1, s"k-means needs k >= 1, got k=$k")
    KMeans.requireLoop(maxIter, tol)
    var cs =
      if (farthestInit) initFarthest(vectors, idCol, vecCol, k, seed)
      else initFromSample(vectors, idCol, vecCol, k, seed)
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      val next = recenter(assign(vectors, vecCol, cs), vecCol, cs)
      done = converged(cs, next, tol)
      cs = next
      iter += 1
    }
    KMeansVecResult(cs, iter, done)
  }
}
