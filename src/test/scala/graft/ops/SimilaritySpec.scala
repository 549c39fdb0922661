package graft.ops

import graft.SparkSpec
import graft.functions.TopKVecCentroids
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ArraySort
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def vecs(vs: (Long, Array[Float])*) =
    vs.toDF("vec_id", "embedding")

  test("cosine: parallel=1, orthogonal=0, antiparallel=-1") {
    val e = vecs(0L -> Array(1f, 0f), 1L -> Array(2f, 0f),
                 2L -> Array(0f, 3f), 3L -> Array(-1f, 0f))
    val d = e.select(col("vec_id"), Similarity.asDouble(col("embedding")).as("emb"))
    val a = d.select(col("vec_id").as("ia"), col("emb").as("ea"))
    val b = d.select(col("vec_id").as("ib"), col("emb").as("eb"))
    val cos = a.join(b, col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        Similarity.cosine(col("ea"), col("eb")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(cos((0L, 1L)) - 1.0) < 1e-12)
    assert(math.abs(cos((0L, 2L))) < 1e-12)
    assert(math.abs(cos((0L, 3L)) + 1.0) < 1e-12)
  }

  test("knn: ranks by cosine, excludes self, ties break by id") {
    val e = vecs(0L -> Array(1f, 0f), 1L -> Array(1f, 0.1f),
                 2L -> Array(1f, 0.5f), 3L -> Array(0f, 1f))
    val r = Similarity.bruteForceKnn(e, e.filter(col("vec_id") === 0), k = 3)
      .collect().map(x => (x.getAs[Int]("rank"), x.getAs[Long]("n_id")))
    assert(r.toSeq == Seq(1 -> 1L, 2 -> 2L, 3 -> 3L))
  }

  /** Deterministic clustered corpus: `n` vectors around `centers` unit
    * directions with small seeded noise — the regime ANN is for.
    */
  private def clustered(n: Int, dim: Int = 64, seed: Long = 7L) = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(4, dim)(rnd.nextGaussian())
    (0L until n).map { i =>
      val c = centers((i % 4).toInt)
      i -> c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)
    }
  }

  test("LSH embedding near-dup recovers the exact pairs on clustered vectors") {
    val e = vecs(clustered(100): _*)
    // clustered(…) points within a blob have cosine ≈ 1 → threshold 0.95;
    // (bits, tables) left to the planner — the operator's default path
    val exact = Dedup.embeddingNearDups(e, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDupsLsh(e, threshold = 0.95, seed = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact)) // verify step: no false positives ever
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall of ${exact.size}")
  }

  test("guarantee-recall config law: capped ⊆ exact, total recall at 0.4 " +
    "on the fixture (the pre-r10 q50 contract, kept as a law)") {
    // q50's driver-visible instance now runs the scale-correct lshPlanAt
    // plan; the guarantee-recall-at-borderline config (lshPlan(0.4, .999)
    // — measured quadratic at scale, see PLANS.md) lives on HERE: against
    // q25's exact pair set on the real sf0.001 embeddings it must propose
    // no false positive (exact rerank) and clear its recall target.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Dedup.embeddingNearDups(e, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDupsLsh(e, threshold = 0.4,
      targetRecall = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact))
    // at target .999 the planner's banding makes recall total on the
    // fixture — the property the old oracle depended on
    assert(lsh == exact, s"recall ${ (exact intersect lsh).size }/${exact.size}")
  }

  test("q50 construction: lshPlanAt plan finds exactly the planted near-dup " +
    "set on the fixture") {
    // pins the new q50 oracle's premise: with every third vector planted
    // back at id+1e6 and +0.001 per component (cosine ≈ 0.9999), the
    // corpus-size-aware plan reports EXACTLY the exact-cosine pair set
    // above 0.9 — background (max 0.48 at sf0.001) never intrudes and no
    // planted pair is missed.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("embedding"))
    val copies = e.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.001)).as("embedding"))
    val aug = e.unionByName(copies)
    val (bits, tables) = Similarity.lshPlanAt(aug.count())
    val got = Dedup.embeddingNearDupsLsh(aug, threshold = 0.9,
      bits = bits, tables = tables)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.embeddingNearDups(aug, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(exact.forall { case (a, b) => b - a == 1000000L })
    assert(got == exact)
  }

  test("lshPlan: recall-driven banding across similarity regimes") {
    // near-dup regime: strong pruning (max bits, few tables)
    val (b95, t95) = Similarity.lshPlan(0.95)
    assert(b95 >= 14 && t95 <= 16)
    // borderline regime: planner trades bits for tables to keep recall
    val (b40, t40) = Similarity.lshPlan(0.4)
    assert(b40 < b95 && t40 > t95)
    // the planned recall at the threshold itself clears the target
    def recallAt(t: Double, b: Int, tab: Int): Double = {
      val p = 1.0 - math.acos(t) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p, b), tab)
    }
    assert(recallAt(0.95, b95, t95) >= 0.9)
    assert(recallAt(0.4, b40, t40) >= 0.9)
    // pairs ABOVE the threshold are recalled strictly better
    assert(recallAt(0.99, b95, t95) > recallAt(0.95, b95, t95))
  }

  test("annIvf: high recall vs brute force on clustered vectors") {
    val e = vecs(clustered(120): _*)
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceKnn(e, queries, k = 5)
      .collect().map(x => (x.getLong(0), x.getLong(2))).toSet
    val ivf = Similarity.annIvf(e, queries, k = 5, nlist = 8, nprobe = 3,
      seed = 11L).collect().map(x => (x.getLong(0), x.getLong(2))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("annIvf: a NaN query probes distinct lists and returns no " +
      "neighbour twice") {
    val e = vecs(clustered(120): _*)
    val nan = vecs(1000L -> (Float.NaN +: Array.fill(63)(0.5f)))
    val ids = Similarity.annIvf(e, nan, k = 6, nlist = 8, nprobe = 3,
        seed = 11L)
      .filter(col("q_id") === 1000L)
      .select("n_id").as[Long].collect().toSeq
    assert(ids.nonEmpty && ids.distinct == ids, ids)
  }

  test("ivf index lifecycle: append assigns under FROZEN centroids, " +
      "query equals brute force over the indexed set") {
    // two far clusters in 2-D; history holds members of both so the
    // nlist=2 fit recovers them; the appended drop and the queries land
    // in known clusters
    val e = vecs(
      0L -> Array(10f, 0f), 1L -> Array(10f, 1f), 2L -> Array(0f, 10f),
      3L -> Array(1f, 10f), 4L -> Array(10f, 2f), 5L -> Array(2f, 10f),
      6L -> Array(10f, 0.5f), 7L -> Array(0.5f, 10f))
    Similarity.ivfIndexBuild(e, Seq(0L, 1L, 2L, 3L).toDF("vec_id"),
      "spec_ivf_index", nlist = 2, seed = 7L)
    val frozenBefore = spark.table("spec_ivf_index_centroids")
      .collect().map(_.toSeq).toSet
    Similarity.ivfIndexAppend(e, Seq(4L, 5L).toDF("vec_id"),
      "spec_ivf_index")
    // append must not touch the frozen quantizer
    assert(spark.table("spec_ivf_index_centroids")
      .collect().map(_.toSeq).toSet == frozenBefore)
    // ...and lands the drop in the existing list partitions
    assert(spark.table("spec_ivf_index").count() == 6)
    val queries = Seq(6L, 7L).toDF("vec_id")
    val got = Similarity.annAgainstIvfIndex(e, queries,
        "spec_ivf_index", k = 3, nprobe = 1)
      .as[(Long, Int, Long)].collect().toSeq
    val indexed = e.filter(col("vec_id") < 6)
    val exact = Similarity.bruteForceKnn(indexed, e.filter(
        col("vec_id") >= 6), k = 3)
      .as[(Long, Int, Long)].collect().toSeq
    // nprobe=1 on well-separated clusters: the probed list IS the
    // query's cluster, whose members are the true top-3
    assert(got == exact, s"got=$got exact=$exact")
    assert(got.nonEmpty)
  }

  test("ivf index compaction: file generations collapse per list " +
      "directory, retrieval invariant (layout-only)") {
    val e = vecs(
      0L -> Array(10f, 0f), 1L -> Array(10f, 1f), 2L -> Array(0f, 10f),
      3L -> Array(1f, 10f), 4L -> Array(10f, 2f), 5L -> Array(2f, 10f),
      6L -> Array(10f, 0.5f))
    Similarity.ivfIndexBuild(e, Seq(0L, 1L, 2L, 3L).toDF("vec_id"),
      "spec_ivfc_index", nlist = 2, seed = 7L)
    Similarity.ivfIndexAppend(e, Seq(4L, 5L).toDF("vec_id"),
      "spec_ivfc_index")
    def dataFiles(): Int = {
      val loc = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst
          .TableIdentifier("spec_ivfc_index")).location
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(loc.getPath))
        .count(_.getName.endsWith(".parquet"))
    }
    val before = Similarity.annAgainstIvfIndex(e, Seq(6L).toDF("vec_id"),
        "spec_ivfc_index", k = 3, nprobe = 1)
      .collect().map(_.toSeq).toSeq
    val genFiles = dataFiles()
    Similarity.ivfIndexCompact(spark, "spec_ivfc_index")
    val compacted = dataFiles()
    // build + append generations collapse: strictly fewer files, at
    // most one per non-empty list directory
    assert(compacted < genFiles, s"$compacted vs $genFiles")
    assert(compacted <= 2, s"$compacted files for 2 lists")
    val after = Similarity.annAgainstIvfIndex(e, Seq(6L).toDF("vec_id"),
        "spec_ivfc_index", k = 3, nprobe = 1)
      .collect().map(_.toSeq).toSeq
    assert(after == before)
    assert(after.nonEmpty)
  }

  test("ivf index staleness + auto: growth rule routes — fresh index " +
      "queries without a refit, grown index refits; output exact " +
      "either way") {
    val e = vecs(
      0L -> Array(10f, 0f), 1L -> Array(10f, 1f), 2L -> Array(0f, 10f),
      3L -> Array(1f, 10f), 4L -> Array(10f, 2f), 5L -> Array(2f, 10f),
      6L -> Array(10f, 0.5f))
    Similarity.ivfIndexBuild(e, Seq(0L, 1L, 2L, 3L).toDF("vec_id"),
      "spec_ivfauto_index", nlist = 2, seed = 7L)
    // fresh: growth 0‰ → no refit, requalified=false
    val fresh = Similarity.annAgainstIvfIndexAuto(e, Seq(6L).toDF("vec_id"),
        "spec_ivfauto_index", k = 2, nprobe = 1, nlist = 2)
      .as[(Long, Int, Long, Boolean)].collect().toSeq
    // 6=(10,0.5) vs 1=(10,1): cos≈0.99993 beats 0=(10,0): cos≈0.99875
    assert(fresh == Seq((6L, 1, 1L, false), (6L, 2, 0L, false)), fresh)
    assert(spark.table("spec_ivfauto_index_census")
      .as[Long].collect().toSeq == Seq(4L))
    // append 2 of 4 → 500‰ > 200‰: staleness says requalify...
    Similarity.ivfIndexAppend(e, Seq(4L, 5L).toDF("vec_id"),
      "spec_ivfauto_index")
    val st = Similarity.ivfIndexStaleness(spark, "spec_ivfauto_index")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(st == Seq((4L, 6L, 500L, true)), st)
    // ...and the auto call REFITS (census now 6) with exact output
    val auto = Similarity.annAgainstIvfIndexAuto(e, Seq(6L).toDF("vec_id"),
        "spec_ivfauto_index", k = 2, nprobe = 1, nlist = 2)
      .as[(Long, Int, Long, Boolean)].collect().toSeq
    // 6=(10,0.5): nearest indexed are 1=(10,1) then 0=(10,0)? cosine:
    // cos(6,0)=10/(√100.25·10)≈0.99875; cos(6,1)≈(100+0.5)/(√100.25·√101)
    // ≈0.99993; cos(6,4)=(100+1)/(√100.25·√104)≈0.98880 → top-2 = 1, 0
    assert(auto == Seq((6L, 1, 1L, true), (6L, 2, 0L, true)), auto)
    assert(spark.table("spec_ivfauto_index_census")
      .as[Long].collect().toSeq == Seq(6L))
  }

  test("lshPlan multi-probe: same bits, ~4x fewer tables, same recall target") {
    val (b0, t0) = Similarity.lshPlan(0.25, 0.995, 64)
    val (b1, t1) = Similarity.lshPlan(0.25, 0.995, 64, probeRadius = 1)
    assert(b1 == b0)          // pruning level unchanged
    assert(t1 * 3 <= t0)      // the corpus-side shuffle factor collapses
    // the radius-1 model actually clears the recall target with t1 tables
    val p = 1.0 - math.acos(0.25) / math.Pi
    val hit1 = math.pow(p, b1.toDouble) +
      b1 * math.pow(p, (b1 - 1).toDouble) * (1 - p)
    assert(1.0 - math.pow(1.0 - hit1, t1.toDouble) >= 0.995)
  }

  test("annLsh multi-probe: high recall vs brute force on clustered vectors") {
    val e = vecs(clustered(120): _*)
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceKnn(e, queries, k = 5)
      .collect().map(x => (x.getLong(0), x.getLong(2))).toSet
    val ann = Similarity.annLsh(e, queries, k = 5, seed = 42L,
      simFloor = 0.9, targetRecall = 0.99, probeRadius = 1)
      .collect().map(x => (x.getLong(0), x.getLong(2))).toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("clusteredEmbeddings + pruned IVF: recall 1.0, recall() reports it") {
    // unit-norm random vectors (the fixture regime), then the q62
    // construction: group g = vec_id % 8 shifted by 3·e_g
    val rnd = new scala.util.Random(5L)
    val raw = vecs((0L until 96L).map { i =>
      val v = Array.fill(16)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      i -> v.map(x => (x / n).toFloat)
    }: _*)
    val e = Similarity.clusteredEmbeddings(raw, groups = 8, scale = 3.0)
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceKnn(e, queries, k = 5)
    val ivf = Similarity.annIvf(e, queries, k = 5, nlist = 8, nprobe = 2)
    val row = Similarity.recall(exact, ivf).collect().head
    // every true neighbor is intra-cluster and every intra-cluster vector
    // sits in a probed list: pruning 6/8 lists must lose NOTHING
    assert(row.getAs[Long]("total") == 40L)
    assert(row.getAs[Long]("hits") == 40L)
    assert(row.getAs[Double]("recall") == 1.0)
  }

  test("empty corpus: every k-NN builder returns empty, same schema, no crash") {
    val empty = vecs()
    val qs = vecs(0L -> Array(1f, 0f))
    val cols = Seq("q_id", "rank", "n_id")
    Seq(
      Similarity.bruteForceKnn(empty, qs, k = 3),
      Similarity.annLsh(empty, qs, k = 3),
      Similarity.annIvf(empty, qs, k = 3),
      Similarity.annSq(empty, qs, k = 3),
      Similarity.annIvfPq(empty, qs, k = 3, m = 2)
    ).foreach { r =>
      assert(r.columns.toSeq == cols && r.count() == 0L)
    }
  }

  test("annIvfPq: m-byte codes + asymmetric scan + exact rerank equals exact top-k") {
    // nprobe = nlist isolates the PQ machinery itself (no pruning loss):
    // residual coding, per-subspace codebooks, reconstruction scoring,
    // and the exact rerank must together lose NOTHING on clustered data
    val e = vecs(clustered(120): _*)
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceKnn(e, queries, k = 5)
      .as[(Long, Int, Long)].collect().toSeq
    val pq = Similarity.annIvfPq(e, queries, k = 5, nlist = 8, nprobe = 8,
        m = 4, ksub = 16)
      .as[(Long, Int, Long)].collect().toSeq
    assert(pq == exact)
  }

  test("annIvfPq: pruned probes keep recall on clustered vectors") {
    // the IVF dial composed with PQ compression: 2 of 8 lists probed —
    // intra-cluster neighbors sit in probed lists, PQ misranking is
    // absorbed by the candFactor·k margin before the exact rerank
    val rnd = new scala.util.Random(5L)
    val raw = vecs((0L until 96L).map { i =>
      val v = Array.fill(16)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      i -> v.map(x => (x / n).toFloat)
    }: _*)
    val e = Similarity.clusteredEmbeddings(raw, groups = 8, scale = 3.0)
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceKnn(e, queries, k = 5)
    val pq = Similarity.annIvfPq(e, queries, k = 5, nlist = 8, nprobe = 2,
      m = 4, ksub = 16)
    val row = Similarity.recall(exact, pq).collect().head
    assert(row.getAs[Long]("total") == 40L)
    assert(row.getAs[Long]("hits") == 40L)
  }

  test("annSq: quantized candidate scan + exact rerank equals exact top-k") {
    val e = vecs(clustered(120): _*)
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceKnn(e, queries, k = 5)
      .as[(Long, Int, Long)].collect().toSeq
    // the q85 contract: SQ8 compression must not lose a single neighbor
    // OR disturb the exact-rerank order
    val sq = Similarity.annSq(e, queries, k = 5)
      .as[(Long, Int, Long)].collect().toSeq
    assert(sq == exact)
    // degenerate corpus (all-identical vectors): spans collapse, the
    // MIN_NORMAL guard keeps dequantization finite, ranks fall to id ties
    val flat = vecs((0L until 6L).map(i => i -> Array(1f, 2f, 3f)): _*)
    val r = Similarity.annSq(flat, flat.filter(col("vec_id") === 0), k = 3)
      .as[(Long, Int, Long)].collect().toSeq
    assert(r == Seq((0L, 1, 1L), (0L, 2, 2L), (0L, 3, 3L)))
  }

  test("annLsh: high recall vs brute force on clustered vectors") {
    val e = vecs(clustered(120): _*)
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceKnn(e, queries, k = 5)
      .collect().map(x => (x.getLong(0), x.getLong(2))).toSet
    val ann = Similarity.annLsh(e, queries, k = 5, bits = 10, tables = 8,
      seed = 42L).collect().map(x => (x.getLong(0), x.getLong(2))).toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("quantizedCentroids: exact integer sums per (label, dim)") {
    val e = Seq(
      (0L, Array(0.5f, -1.0f), 1),
      (1L, Array(0.504f, 2.0f), 1),   // 2.0 clamps to 127
      (2L, Array(0.0f, 0.25f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.quantizedCentroids(e, scale = 127)
      .as[(Int, Int, Long, Long)].collect().toSeq
    // label 1: pos0 codes round(63.5)=64, round(64.008)=64 → 128;
    //          pos1 codes -127, 127 → 0
    // label 2: pos0 0; pos1 round(31.75)=32
    assert(got == Seq((1, 0, 2L, 128L), (1, 1, 2L, 0L),
      (2, 0, 1L, 0L), (2, 1, 1L, 32L)))
  }

  test("signBucketCap: orthant buckets, cap per bucket, md5-order keeps") {
    val e = Seq(
      (1L, Array(1.0f, 1.0f)),   // ++ → bucket 3
      (2L, Array(1.0f, -1.0f)),  // +- → bucket 1
      (3L, Array(-1.0f, -1.0f)), // -- → bucket 0
      (4L, Array(1.0f, 1.0f)),   // bucket 3
      (5L, Array(1.0f, 1.0f)),   // bucket 3
      (6L, Array(0.0f, -1.0f)))  // zero counts as non-negative → bucket 1
      .map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
    val all = Similarity.signBucketCap(e, bits = 2, k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(all == Seq((0L, 3L), (1L, 2L), (1L, 6L),
      (3L, 1L), (3L, 4L), (3L, 5L)))
    // k=2 keeps the two lowest md5(vec_id) of bucket 3
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(i: Long) = md.digest(i.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val keep3 = Seq(1L, 4L, 5L).sortBy(h).take(2).sorted
    val capped = Similarity.signBucketCap(e, bits = 2, k = 2)
      .as[(Long, Long)].collect().toSeq
    assert(capped.filter(_._1 == 3L).map(_._2) == keep3)
    assert(capped.groupBy(_._1).values.forall(_.size <= 2))
  }

  test("embeddingQualityCensus: zero vectors counted, norms quantized") {
    val e = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0f, 0f), 0), // a zero vector
      (2L, Array(0.5f, 0.5f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingQualityCensus(e, scale = 1000)
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    // label 0: norms 1e6 and 0 → one zero; label 1: 2·500² = 500000
    assert(got == Seq((0, 2L, 1L, 0L, 1000000L, 1000000L),
      (1, 1L, 0L, 500000L, 500000L, 500000L)))
  }

  test("embeddingDiversityCensus: sum-identity equals the pairwise mean") {
    // label 0: two identical vectors (1,2) → quantized (1000,2000),
    // every pairwise dot = 1e6+4e6 = 5e6 → mean_dot_q = 5,000,000.
    // label 1: (1,0) and (0,1) → orthogonal, mean 0.
    // label 2: a singleton — below n_vecs ≥ 2, must not emit.
    val e = Seq(
      (0L, Array(1f, 2f), 0), (1L, Array(1f, 2f), 0),
      (2L, Array(1f, 0f), 1), (3L, Array(0f, 1f), 1),
      (4L, Array(9f, 9f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingDiversityCensus(e, scale = 1000)
      .as[(Int, Long, Long)].collect().toSeq
    assert(got == Seq((0, 2L, 5000000L), (1, 2L, 0L)))
  }

  test("hardNegatives: same-label vectors are excluded however close") {
    // anchor 0 (label 0): vector 1 is IDENTICAL but shares the label —
    // it must never appear; the top negatives are the different-label
    // vectors by cosine, ties by id
    val e = vecs(
      0L -> Array(1f, 0f), 1L -> Array(1f, 0f),
      2L -> Array(0.9f, 0.1f), 3L -> Array(0f, 1f))
      .withColumn("label",
        (col("vec_id") < 2).cast("int")) // 0,1 → label 1; 2,3 → label 0
    val got = Similarity.hardNegatives(e, e.filter(col("vec_id") === 0),
        k = 2)
      .as[(Long, Int, Long, Int)].collect().toSeq
    assert(got == Seq((0L, 1, 2L, 0), (0L, 2, 3L, 0)))
  }

  test("mutualNearestNeighbors: reciprocal top-1 only, ties by id") {
    // 0 and 1 are a tight pair (mutual); 2 points near 0 but 0's best
    // is 1 → one-directional, excluded; 3 is far from everything (its
    // best is 2, not reciprocal)
    val e = vecs(
      0L -> Array(1f, 0f), 1L -> Array(0.99f, 0.01f),
      2L -> Array(0.9f, 0.3f), 3L -> Array(0f, 1f))
    val got = Similarity.mutualNearestNeighbors(e)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((0L, 1L)))
    // zero vectors never pair (excluded before the argmax)
    val withZero = vecs(0L -> Array(1f, 0f), 1L -> Array(1f, 0f),
      2L -> Array(0f, 0f))
    val got2 = Similarity.mutualNearestNeighbors(withZero)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got2.map(r => (r._1, r._2)) == Seq((0L, 1L)))
    assert(got2.head._3 == 1000000L)
  }

  test("mutualNearestNeighborsIvf equals the exact operator on " +
      "clustered vectors") {
    // the q62 regime: clusters strong enough that every true top-1 is
    // intra-cluster, so probing the home list recovers the exact result
    val raw = (0L until 64L).map(i =>
      (i, Array.fill(8)(((i * 31) % 7).toFloat / 100f)))
      .toDF("vec_id", "embedding")
    val e = Similarity.clusteredEmbeddings(raw, groups = 8, scale = 3.0)
    val exact = Similarity.mutualNearestNeighbors(e)
      .as[(Long, Long, Long)].collect().toSeq
    val ivf = Similarity.mutualNearestNeighborsIvf(e, nlist = 8,
        nprobe = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(ivf == exact)
    assert(exact.nonEmpty, "fixture must produce mutual pairs")
  }

  test("mutualNearestNeighborsIvf two-level residual path: the planner " +
      "crosses maxFlatLists and still recovers the exact mutual set") {
    // same q62 clustered regime, but maxFlatLists forced below the
    // planned list count so the two-level residual quantizer engages
    // (k1 = ⌈√lists⌉ L1 cells, shared L2 codebook on residuals)
    val raw = (0L until 256L).map(i =>
      (i, Array.fill(8)(((i * 31) % 7).toFloat / 100f)))
      .toDF("vec_id", "embedding")
    val e = Similarity.clusteredEmbeddings(raw, groups = 8, scale = 3.0)
    val exact = Similarity.mutualNearestNeighbors(e)
      .as[(Long, Long, Long)].collect().toSeq
    // targetListSize 16 → 16 planned lists > maxFlatLists 4 → two-level
    val twoLevel = Similarity.mutualNearestNeighborsIvf(e, nprobe = 3,
        targetListSize = 16L, maxFlatLists = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(exact.nonEmpty, "fixture must produce mutual pairs")
    // the IVF recall contract, adjudicated by the exact referee: on the
    // clustered fixture the probed lists must recover (nearly) every
    // reciprocal pair — and be deterministic run to run
    val hits = twoLevel.toSet.intersect(exact.toSet).size
    assert(hits.toDouble / exact.size >= 0.9,
      s"two-level recall $hits/${exact.size}")
    val again = Similarity.mutualNearestNeighborsIvf(e, nprobe = 3,
        targetListSize = 16L, maxFlatLists = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(again == twoLevel)
  }

  test("mutualNearestNeighbors refereeTarget: the md5 slice is exact " +
      "mutual-NN OF THE SLICE, and a covering target is the full set") {
    val raw = (0L until 200L).map(i =>
      (i, Array.fill(8)(((i * 31) % 7).toFloat / 100f)))
      .toDF("vec_id", "embedding")
    val e = Similarity.clusteredEmbeddings(raw, groups = 8, scale = 3.0)
    // target ≥ N → permille 1000 → identical to the unbounded form
    val full = Similarity.mutualNearestNeighbors(e)
      .as[(Long, Long, Long)].collect().toSeq
    val covered = Similarity.mutualNearestNeighbors(e,
        refereeTarget = 5000L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(covered == full)
    // target < N → the referee equals the exact operator run on the
    // independently-computed md5 slice (permille = ceil(1000·50/200))
    val permille = (1000L * 50L + 199L) / 200L
    val sliceIds = e.select(col("vec_id"))
      .filter(graft.ops.Sampling.splitBucket(col("vec_id")) < permille)
      .as[Long].collect().toSet
    assert(sliceIds.size < 200 && sliceIds.size > 10)
    val want = Similarity.mutualNearestNeighbors(
        e.filter(col("vec_id").isin(sliceIds.toSeq.map(lit(_)): _*)))
      .as[(Long, Long, Long)].collect().toSeq
    val got = Similarity.mutualNearestNeighbors(e, refereeTarget = 50L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("mmrRerank: diversity penalty reorders a redundant runner-up") {
    // q = [1,0]; c1 at +26°, c2 a near-copy of c1, c3 mirrored at −27°:
    // pure top-k ranks (c1, c2, c3) but MMR's penalty (sim(c2,c1) ≈ 1
    // vs sim(c3,c1) ≈ 0.62) promotes the diverse c3 to rank 2
    val e = vecs(
      0L -> Array(1f, 0f),
      1L -> Array(0.9f, 0.436f),
      2L -> Array(0.9f, 0.437f),
      3L -> Array(0.89f, -0.45f))
    val got = Similarity.mmrRerank(e, e.filter($"vec_id" === 0L),
        k = 3, select = 3, lambdaPermille = 700L)
      .select("q_id", "rnk", "n_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 1L, 1L), (0L, 2L, 3L), (0L, 3L, 2L)))
  }

  test("kCenterCoreset: farthest-point order, seed has NULL maxsim") {
    // seed v0=[1,0]; v2=[0,1] is farthest (maxsim 0), then v3 diagonal
    // (maxsim ≈ 0.707 to both axes), the near-copy v1 last (maxsim ≈ 1)
    val e = vecs(
      0L -> Array(1f, 0f), 1L -> Array(1f, 0.01f),
      2L -> Array(0f, 1f), 3L -> Array(0.7f, 0.7f))
    val got = Similarity.kCenterCoreset(e, select = 4)
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(got.map(r => (r._1, r._2)) ==
      Seq((1L, 0L), (2L, 2L), (3L, 3L), (4L, 1L)))
    assert(got.head._3.isEmpty)
    assert(got(1)._3.contains(0L)) // v2 ⊥ v0
  }

  test("retrievalMetrics: hand-computed MRR/nDCG, no-hit query is NULL/zero") {
    // query 1: relevant docs {11, 13}, ranking hits 11 at rank 2 and 13
    // at rank 3 → rr = 1e6/2; dcg = 1e6/log2(3) + 1e6/log2(4) (term-
    // quantized); idcg (R=2, k=3) = 1e6/log2(2) + 1e6/log2(3).
    // query 2: one judged-relevant doc, never retrieved → rr NULL,
    // dcg 0, idcg = 1e6, ndcg 0.
    val res = Seq((1L, 1, 10L), (1L, 2, 11L), (1L, 3, 13L),
      (2L, 1, 20L), (2L, 2, 21L)).toDF("q_id", "rank", "n_id")
    val qrels = Seq((1L, 11L, 1), (1L, 13L, 1), (2L, 99L, 1))
      .toDF("q_id", "n_id", "rel")
    val got = Similarity.retrievalMetrics(res, qrels, k = 3)
      .as[(Long, Long, Option[Long], Long, Long, Option[Long])]
      .collect().toSeq
    val t2 = math.round(1e6 / (math.log(3) / math.log(2)))
    val t3 = math.round(1e6 / 2.0) // log2(4) = 2
    val i1 = 1000000L // log2(2) = 1
    val dcg1 = t2 + t3
    val idcg1 = i1 + t2
    assert(got == Seq(
      (1L, 2L, Some(500000L), dcg1, idcg1, Some(dcg1 * 1000L / idcg1)),
      (2L, 1L, None, 0L, 1000000L, Some(0L))))
  }

  test("rrfFuse: integer fusion, one-list ids keep a zero contribution") {
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val b = Seq((20L, 1L), (40L, 2L)).toDF("id", "rank")
    val got = Similarity.rrfFuse(a, b, k0 = 60L)
      .as[(Long, Option[Long], Option[Long], Long)].collect().toSeq
    def t(r: Long) = 1000000000L / (60L + r)
    // 20 leads: both lists; 10 (rank 1, one list) beats 40 (rank 2)
    assert(got.map(_._1) == Seq(20L, 10L, 40L, 30L))
    val by = got.map(r => r._1 -> r).toMap
    assert(by(20L)._4 == t(2) + t(1) && by(20L)._2.contains(2L) &&
      by(20L)._3.contains(1L))
    assert(by(10L)._4 == t(1) && by(10L)._3.isEmpty)
    assert(by(40L)._4 == t(2) && by(40L)._2.isEmpty)
  }

  test("centroidAssignmentDrift: integer argmin with cell tiebreak") {
    import spark.implicits._
    // two 3-dim centroids: cell 0 at (-64,0,0), cell 1 at (64,0,0).
    // v0 (-1.0) -> cell 0; v1 (1.0) -> cell 1; v2 at exactly 0 is
    // equidistant -> the lower cell id wins (encoded-argmin tiebreak);
    // v3 (-0.5, code -64) sits ON centroid 0
    val cells = Seq(Seq(-64L, 0L, 0L), Seq(64L, 0L, 0L))
    val e = Seq(
      (0L, Array(-1.0f, 0f, 0f, 0f)),   // old half
      (1L, Array(1.0f, 0f, 0f, 0f)),    // new half
      (2L, Array(0f, 0f, 0f, 0f)),      // old: tie -> cell 0
      (3L, Array(-0.5f, 0f, 0f, 0f)))   // new: cell 0
      .toDF("vec_id", "embedding")
    val got = Similarity.centroidAssignmentDrift(e, cells)
      .as[(Long, Long, Long, Option[Long])].collect().toSeq
    // cell 0: old {0,2}, new {3} -> (1-2)*1000 div 2 = -500;
    // cell 1: old empty -> drift NULL (guarded division)
    assert(got == Seq((0L, 2L, 1L, Some(-500L)), (1L, 0L, 1L, None)))
  }

  test("labelCentroidDistances: exact scaled mean-difference squares") {
    import spark.implicits._
    // label 0: one vector at 1.0 on dim0 (code 127); label 1: two
    // vectors at -1.0 and 1.0 (codes -127, 127; sum 0). Scaled diff at
    // pos0 = n1*s0 - n0*s1 = 2*127 - 1*0 = 254; pos1 zero ->
    // d2_scaled = 254^2 = 64516
    val e = Seq(
      (0L, 0, Array(1.0f, 0f)),
      (1L, 1, Array(-1.0f, 0f)),
      (2L, 1, Array(1.0f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.labelCentroidDistances(e)
      .as[(Int, Int, Long)].collect().toSeq
    assert(got == Seq((0, 1, 64516L)))
  }

  test("matryoshkaAudit: integer-exact truncation damage over the " +
      "consecutive-id chain") {
    // pairs (0,1) identical → zero damage; (1,2) orthogonal at every
    // prefix → zero; (2,3) orthogonal in the first 2/4 coords but
    // aligned at coord 5 → s_t = 0 vs s_f = 10¹²·10⁶ // (2·10⁶)² =
    // 250000, and a 0→+ sign flip
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f, 1f, 0f, 0f, 0f)),
      (3L, Array(-1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.matryoshkaAudit(emb, dims = Seq(2, 4),
        fullDim = 8)
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    // mean = 250000 // 3 = 83333 (integer div, both dims identical
    // because coords 2..3 are all-zero)
    assert(got == Seq((2, 3L, 83333L, 250000L, 1L),
      (4, 3L, 83333L, 250000L, 1L)))
  }

  test("annIvfAdc: flat self-planned path equals exact top-k on " +
      "clustered vectors") {
    // 120 vectors / targetListSize 16 → 8 planned lists ≤ maxFlatLists:
    // the flat coarse front end; nprobe 8 probes everything, isolating
    // the PQ + rerank machinery (the annIvfPq exactness contract)
    val e = vecs(clustered(120): _*)
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceKnn(e, queries, k = 5)
      .as[(Long, Int, Long)].collect().toSeq
    val adc = Similarity.annIvfAdc(e, queries, k = 5, nprobe = 8,
        m = 4, ksub = 16, targetListSize = 16L)
      .as[(Long, Int, Long)].collect().toSeq
    assert(adc == exact)
  }

  test("annIvfAdc: forced two-level residual path keeps recall and is " +
      "deterministic") {
    // 256 vectors / targetListSize 16 → 16 planned lists > maxFlatLists
    // 4 → two-level (k1 = 4, k2 = 4): L1+L2 probe, composed-centroid
    // residual, PQ codes, asymmetric scan, exact rerank — end to end
    val raw = (0L until 256L).map(i =>
      (i, Array.fill(8)(((i * 31) % 7).toFloat / 100f)))
      .toDF("vec_id", "embedding")
    val e = Similarity.clusteredEmbeddings(raw, groups = 8, scale = 3.0)
    val queries = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceKnn(e, queries, k = 5)
    val adc = Similarity.annIvfAdc(e, queries, k = 5, nprobe = 3,
      m = 4, ksub = 16, targetListSize = 16L, maxFlatLists = 4)
    val row = Similarity.recall(exact, adc).collect().head
    assert(row.getAs[Long]("total") == 40L)
    assert(row.getAs[Long]("hits").toDouble /
      row.getAs[Long]("total") >= 0.9)
    val again = Similarity.annIvfAdc(e, queries, k = 5, nprobe = 3,
        m = 4, ksub = 16, targetListSize = 16L, maxFlatLists = 4)
      .as[(Long, Int, Long)].collect().toSeq
    assert(again == adc.as[(Long, Int, Long)].collect().toSeq)
  }

  test("annIvfAdc: empty corpus returns empty with the k-NN schema") {
    val r = Similarity.annIvfAdc(vecs(), vecs(0L -> Array(1f, 0f)),
      k = 3, m = 2)
    assert(r.columns.toSeq == Seq("q_id", "rank", "n_id") &&
      r.count() == 0L)
  }

  test("every IVF operator probes through graft_topk_vec_centroids, " +
      "never an array_sort") {
    val e = vecs(clustered(120): _*)
    val queries = e.filter(col("vec_id") < 8)
    // 256 vectors / targetListSize 16 → 16 lists > maxFlatLists 4:
    // the two-level path
    val e2 = Similarity.clusteredEmbeddings(
      (0L until 256L).map(i =>
        (i, Array.fill(8)(((i * 31) % 7).toFloat / 100f)))
        .toDF("vec_id", "embedding"), groups = 8, scale = 3.0)
    val ops: Seq[(String, DataFrame)] = Seq(
      "annIvf" -> Similarity.annIvf(e, queries, k = 5, nlist = 8,
        nprobe = 2),
      "annIvfPq" -> Similarity.annIvfPq(e, queries, k = 5, nlist = 8,
        nprobe = 2),
      "annIvfAdc flat" -> Similarity.annIvfAdc(e, queries, k = 5,
        nprobe = 2, targetListSize = 16L),
      "annIvfAdc two-level" -> Similarity.annIvfAdc(e2,
        e2.filter(col("vec_id") < 8), k = 5, nprobe = 3,
        targetListSize = 16L, maxFlatLists = 4),
      "mutualNearestNeighborsIvf" ->
        Similarity.mutualNearestNeighborsIvf(e, nlist = 8, nprobe = 2))
    ops.foreach { case (name, df) =>
      assert(df.collect().nonEmpty, name)
      val exprs = collect(df.queryExecution.executedPlan) { case p =>
        p.expressions.flatMap(_.collect { case x => x })
      }.flatten
      assert(exprs.exists(_.isInstanceOf[TopKVecCentroids]),
        s"$name: no graft_topk_vec_centroids probe")
      assert(!exprs.exists(_.isInstanceOf[ArraySort]), s"$name: array_sort")
    }
  }

  test("mutualNearestNeighborsIvf and the ANN IVF family leave nothing " +
      "persisted, on the flat and the two-level path") {
    // a corpus no other test builds: persisting a plan that is already
    // cached adds no RDD, so a shared fixture would hide a leak behind
    // the entry an earlier test left
    val e = Similarity.clusteredEmbeddings(
      (0L until 256L).map(i =>
        (i, Array.fill(8)(((i * 13) % 5).toFloat / 50f)))
        .toDF("vec_id", "embedding"), groups = 8, scale = 2.0)
    val queries = e.filter(col("vec_id") < 8)
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "mutual-NN flat" -> (() =>
        Similarity.mutualNearestNeighborsIvf(e, nlist = 8, nprobe = 2)),
      "mutual-NN two-level" -> (() =>
        Similarity.mutualNearestNeighborsIvf(e, nprobe = 3,
          targetListSize = 16L, maxFlatLists = 4)),
      "annIvf" -> (() => Similarity.annIvf(e, queries, k = 5, nlist = 8)),
      "annIvfPq" -> (() => Similarity.annIvfPq(e, queries, k = 5,
        nlist = 8)),
      "annIvfAdc two-level" -> (() => Similarity.annIvfAdc(e, queries,
        k = 5, nprobe = 3, targetListSize = 16L, maxFlatLists = 4)))
    calls.foreach { case (name, call) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(call().collect().nonEmpty, name)
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$name left RDDs $left persisted")
    }
  }

  test("IVF operators reject a parameter below 1, naming it and its value") {
    val e = vecs(clustered(40): _*)
    val q = e.filter(col("vec_id") < 2)
    val bad: Seq[(String, () => Any)] = Seq(
      "need nprobe >= 1, got 0" -> (() =>
        Similarity.annIvf(e, q, k = 3, nlist = 4, nprobe = 0)),
      "need nlist >= 1, got 0" -> (() =>
        Similarity.annIvf(e, q, k = 3, nlist = 0)),
      "need nlist >= 1, got -2" -> (() =>
        Similarity.annIvfPq(e, q, k = 3, nlist = -2)),
      "need nprobe >= 1, got 0" -> (() =>
        Similarity.annIvfPq(e, q, k = 3, nprobe = 0)),
      "need m >= 1, got 0" -> (() => Similarity.annIvfPq(e, q, k = 3, m = 0)),
      "need ksub >= 1, got 0" -> (() =>
        Similarity.annIvfAdc(e, q, k = 3, ksub = 0)),
      "need candFactor >= 1, got 0" -> (() =>
        Similarity.annIvfPq(e, q, k = 3, candFactor = 0)),
      "need nprobe >= 1, got 0" -> (() =>
        Similarity.annIvfAdc(e, q, k = 3, nprobe = 0)),
      "need nprobe >= 1, got 0" -> (() =>
        Similarity.mutualNearestNeighborsIvf(e, nprobe = 0)))
    bad.foreach { case (msg, call) =>
      val ex = intercept[IllegalArgumentException](call())
      assert(ex.getMessage.contains(msg), ex.getMessage)
    }
  }
}
