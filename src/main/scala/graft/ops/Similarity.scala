package graft.ops

import graft.functions.GraftFunctions
import graft.ml.{KMeansVec, VecCentroid}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Similarity search over embedding columns (north-star surface; no
  * reference citation — the reference has no vector ops, SURVEY.md §2.8).
  *
  * Distance kernels are custom codegen'd Catalyst expressions
  * (graft.functions.DotProduct/CosineSimilarity): the built-in
  * `aggregate`/`zip_with` forms are interpreted per element and spent
  * >60 s on the sf0.1 all-pairs stage; the native kernels run the same
  * math as a primitive loop inside whole-stage codegen (SURVEY §7.4's
  * escalation path, taken deliberately).
  *
  * Scale design:
  *  - brute force is O(|corpus|·|queries|): the queries side is broadcast,
  *    corpus streams through one narrow stage, then a per-query top-k
  *    window. The exact baseline every ANN variant is measured against.
  *  - `annLsh` is the scale path: random-hyperplane signatures put
  *    candidates in the same bucket; only bucket-mates get exact scoring.
  *    Hyperplanes are generated on the driver from a fixed seed and enter
  *    the plan as literals — deterministic, no shared state.
  */
object Similarity {

  /** Codegen'd dot product (requires GraftFunctions.register — every
    * DataFrame-level builder here does it; see SparkSpec for tests).
    */
  def dot(a: Column, b: Column): Column = GraftFunctions.dot(a, b)

  /** Codegen'd one-pass cosine similarity. */
  def cosine(a: Column, b: Column): Column = GraftFunctions.cosine(a, b)

  /** array<float> → array<double> (all scoring in double). */
  def asDouble(a: Column): Column = transform(a, _.cast("double"))

  /** A vec_id/embedding table as (p_id, p_emb) rows in double — `p` is
    * "q" for the query side, "n" for the corpus side of a k-NN join.
    */
  private def side(df: DataFrame, p: String): DataFrame =
    df.select(col("vec_id").as(s"${p}_id"),
      asDouble(col("embedding")).as(s"${p}_emb"))

  /** Requires a parameter to be >= 1, naming it and its value. */
  private def requirePositive(name: String, v: Long): Unit =
    require(v >= 1, s"need $name >= 1, got $v")

  /** Runs `body` with `keep`, which persists a frame (MEMORY_AND_DISK)
    * until `body` returns or throws: the frames serve the operator's
    * eager work (quantizer and codebook fits) and leave no cache entry in
    * a long-lived session; the lazily returned result recomputes them.
    */
  private def withPersisted[T](body: (DataFrame => DataFrame) => T): T = {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try body { df =>
      held += df.persist(StorageLevel.MEMORY_AND_DISK); held.last
    } finally held.foreach(_.unpersist(blocking = false))
  }

  /** A k-NN builder that trains a model on its corpus (quantizer,
    * codebooks, ranges): `body` gets the corpus as persisted (n_id, n_emb)
    * rows and `keep` (see `withPersisted`). An empty corpus has no model
    * to train, so it yields the empty (q_id, rank, n_id) result — the
    * schema every k-NN builder here emits — without running `body`.
    */
  private def knnOverCorpus(corpus: DataFrame)(
      body: (DataFrame, DataFrame => DataFrame) => DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val corpusD = side(corpus, "n")
    if (corpusD.isEmpty) {
      import spark.implicits._
      Seq.empty[(Long, Int, Long)].toDF("q_id", "rank", "n_id")
    } else withPersisted(keep => body(keep(corpusD), keep))
  }

  /** Top `k` neighbors per query by exact cosine over candidate rows
    * (q_id, q_emb, n_id, n_emb), ties broken on neighbor id — the
    * (q_id, rank, n_id) result every k-NN builder here emits.
    */
  private def topKByCosine(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    cands.withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "n_id")
      .orderBy("q_id", "rank")
  }

  /** Diversity-capped sampling by coarse semantic bucket (SemDeDup-lite):
    * bucket = the sign bits of the first `bits` embedding dimensions
    * (2^bits orthant cells — the crudest possible semantic hash, but
    * engine-portable arithmetic rather than a learned codebook), keep at
    * most `k` vectors per bucket in md5(vec_id) order. The cheap first
    * cut at "don't spend the whole budget on one dense semantic region":
    * a full SemDeDup pass (cluster → within-cluster near-dup drop) is
    * q115's census with the k-means front end; this is the version that
    * needs NO training, NO pair computation, and one keyed window.
    *
    * Scale shape: the bucket id and hash key are codegen'd scan
    * projections; selection is one per-bucket top-k window (q73's
    * shape). Deterministic end to end.
    */
  def signBucketCap(embeddings: DataFrame, bits: Int = 8,
                    k: Int = 10): DataFrame = {
    require(bits >= 1 && bits <= 62, "need 1 <= bits <= 62")
    require(k >= 1, "k must be >= 1")
    val bucket = (0 until bits).map(i =>
      when(element_at(col("embedding"), i + 1) >= 0, lit(1L << i))
        .otherwise(lit(0L)))
      .reduce(_ + _)
    val w = Window.partitionBy("bucket")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    embeddings.select(col("vec_id"), bucket.as("bucket"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("bucket"), col("vec_id"))
      .orderBy("bucket", "vec_id")
  }

  /** All pairs (id_a < id_b) with cosine above `threshold` — brute-force
    * exact; also the embedding-cosine near-dup primitive (Dedup).
    */
  def cosinePairs(embeddings: DataFrame, threshold: Double,
                  maxId: Long = Long.MaxValue): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val e = embeddings.filter(col("vec_id") < maxId)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val a = e.select(col("vec_id").as("id_a"), col("emb").as("emb_a"))
    val b = e.select(col("vec_id").as("id_b"), col("emb").as("emb_b"))
    a.join(b, col("id_a") < col("id_b"))
      .filter(cosine(col("emb_a"), col("emb_b")) > threshold)
      .select("id_a", "id_b")
      .orderBy("id_a", "id_b")
  }

  /** Deterministic clustered view of a unit-norm embeddings table — the
    * regime IVF pruning exists for. The raw fixture is near-uniform on the
    * sphere (measured intra/inter-label cosine 0.0016/0.0003), where NO
    * coarse quantizer can localize neighbors; shifting group
    * g = vec_id % groups by the axis-unit center `scale·e_g` makes the
    * original vector the intra-cluster noise: pairwise cosine ≈
    * scale²/(scale²+1) (≈0.9 at the default 3.0) within a group, ≈ 1/10
    * across. A pure per-row projection — no shuffle, no state — and simple
    * enough to reproduce in ANSI SQL, so ANN-vs-exact contracts over it
    * are oracle-checkable at ANY scale instead of pinned to one fixture.
    * Requires groups ≤ dim (the center must have an axis to live on).
    */
  def clusteredEmbeddings(embeddings: DataFrame, groups: Int = 8,
                          scale: Double = 3.0): DataFrame =
    embeddings.select(col("vec_id"),
      transform(asDouble(col("embedding")),
        (x, i) => x + when(i === (col("vec_id") % groups).cast("int"),
          lit(scale)).otherwise(lit(0.0))).as("embedding"))

  /** One-row recall of an ANN result against the exact top-k (both in the
    * (q_id, rank, n_id) shape every k-NN builder here emits): `hits`
    * neighbors of `total` retrieved, `recall` rounded to 4 dp. Rank is
    * deliberately ignored — recall@k is a SET contract, so the approx side
    * is deduplicated here: a caller handing in multi-probe / multi-table
    * candidate lists with repeats must not have each repeat fan out the
    * left join and inflate both hits and total.
    */
  def recall(exact: DataFrame, approx: DataFrame): DataFrame = {
    val hit = approx.select(col("q_id"), col("n_id"))
      .dropDuplicates("q_id", "n_id")
      .withColumn("hit", lit(1L))
    exact.select("q_id", "n_id")
      .join(hit, Seq("q_id", "n_id"), "left")
      .agg(coalesce(sum("hit"), lit(0L)).as("hits"),
        count(lit(1)).as("total"))
      .withColumn("recall",
        round(col("hits").cast("double") / col("total"), 4))
  }

  /** Exact top-k by cosine for each query vector (brute-force baseline).
    * Queries (small) are broadcast; ties broken by neighbor id.
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    topKByCosine(broadcast(side(queries, "q"))
      .join(side(corpus, "n"), col("q_id") =!= col("n_id")), k)
  }

  /** Mutual nearest neighbors: pairs (a, b) where b is a's top-1 cosine
    * neighbor AND a is b's — the reciprocal-best-match device behind
    * entity alignment and high-precision dedup seeding (one-directional
    * top-1 is noisy near cluster boundaries; mutuality filters to pairs
    * both sides agree on). Output (id_a, id_b, cos_q6) with id_a < id_b;
    * ties in the top-1 break on neighbor id, so the mutual set is a pure
    * function of the embedding table.
    *
    * Scale shape: the all-pairs top-1 here is the EXACT baseline (one
    * self-join + per-id argmax — the q26 brute-force regime); the
    * production twin is `mutualNearestNeighborsIvf`. As the REFEREE it
    * must stay runnable at any corpus size, so `refereeTarget > 0` bounds
    * the input to a deterministic md5 slice (the Sampling.splitBucket
    * device — engine-portable, id-pure): permille = ⌈1000·target/N⌉
    * capped at 1000, from one bounded count. The sliced referee is then
    * exact mutual-NN OF THE SLICE — a fixed-size sub-corpus whose pair
    * stage is ~target² at ANY scale, so exact recall adjudication never
    * becomes the one quadratic plan in the bench (the r16 q275 weak).
    * `refereeTarget = 0` keeps the full-corpus exact form for specs.
    */
  def mutualNearestNeighbors(embeddings: DataFrame,
                             refereeTarget: Long = 0L): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val base = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val sliced =
      if (refereeTarget <= 0L) base
      else {
        val n = math.max(embeddings.count(), 1L)
        val permille =
          math.min(1000L, (1000L * refereeTarget + n - 1) / n)
        base.filter(Sampling.splitBucket(col("vec_id")) < permille)
      }
    val nz = sliced
      .filter(cosine(col("emb"), col("emb")) > 0)
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    val best = nz.select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      .join(nz.select(col("vec_id").as("n_id"), col("emb").as("n_emb")),
        col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .select(col("q_id"), col("n_id"),
        expr("cast(round(cos * 1000000) as bigint)").as("cos_q6"))
    best.as("x")
      .join(best.as("y"),
        col("x.q_id") === col("y.n_id") && col("x.n_id") === col("y.q_id")
          && col("x.q_id") < col("x.n_id"))
      .select(col("x.q_id").as("id_a"), col("x.n_id").as("id_b"),
        col("x.cos_q6").as("cos_q6"))
      .orderBy("id_a", "id_b")
  }

  /** Mutual nearest neighbors with the TOP-1 FROM IVF — the production
    * form of `mutualNearestNeighbors` (which stays the exact all-pairs
    * recall referee): a coarse k-means quantizer (ml.KMeansVec) buckets
    * every vector into its nearest-centroid list, each vector probes its
    * `nprobe` nearest lists, and candidates meet through a SHUFFLE
    * equi-join keyed on the list id — NOT the broadcast `annIvf` uses
    * for small query sets, because here the query side IS the corpus.
    * Per-vector work drops from |corpus| to ~nprobe/nlist of it, the
    * subquadratic shape the exact form lacks. The mutuality check and
    * output contract are verbatim the exact operator's: reciprocal
    * top-1 pairs as (id_a, id_b, cos_q6) with id_a < id_b, ties in the
    * top-1 broken on neighbor id.
    *
    * Exactness: equals the exact operator whenever every vector's true
    * top-1 lies in a probed list — the q62 regime (clustered data,
    * probes covering the home cluster). On unclustered data it is the
    * standard IVF recall trade, adjudicated by the exact referee.
    *
    * Scale shape: quantizer training is bounded model state (centroid
    * rows to the driver); assignment and probing are codegen'd
    * projections riding the scan (the TopKVecCentroids probe kernel —
    * references-backed, so generated source is byte-identical at any
    * list count); the candidate join shuffles on the list key. The pair
    * stage costs ≈ nprobe·N²/nlist, so `nlist` MUST grow with the
    * corpus — a fixed list count makes every list grow linearly and the
    * join quadratic (measured: 143× wall at 16× data with nlist pinned
    * at 8; ~linear with nlist ∝ N). `nlist = 0` (default) self-plans
    * ⌈N/targetListSize⌉ lists (floor 8) from one bounded count, keeping
    * list sizes ~constant: cost ≈ nprobe·N·targetListSize — linear.
    *
    * Past `maxFlatLists` planned lists the planner goes TWO-LEVEL
    * (`coarseQuantizer`'s residual rung): driver state is ≤ 2·√L
    * centroids (never L), expression width is O(√L), and list sizes
    * stay ~targetListSize up to maxFlatLists² lists (~4.3e9 vectors at
    * the defaults) — the r16 4096-list cap is retired, not moved. The
    * final cos re-derivation joins the ≤ N/2 surviving pairs back to
    * the embeddings — bounded shuffle joins, nothing driver-side.
    */
  def mutualNearestNeighborsIvf(embeddings: DataFrame, nlist: Int = 0,
                                nprobe: Int = 2, seed: Long = 42L,
                                trainIter: Int = 10,
                                targetListSize: Long = 256L,
                                maxFlatLists: Int = 4096): DataFrame = {
    require(maxFlatLists >= 2, "maxFlatLists must be >= 2")
    GraftFunctions.register(embeddings.sparkSession)
    withPersisted { keep =>
      val nz = keep(side(embeddings, "n")
        .filter(cosine(col("n_emb"), col("n_emb")) > 0))
      val lists =
        if (nlist > 0) nlist.toLong
        else math.max(8L, (nz.count() + targetListSize - 1) / targetListSize)
      val coarse = coarseQuantizer(nz, lists, maxFlatLists, nprobe, seed,
        trainIter, keep)
      val probes = coarse.probe(
        nz.select(col("n_id").as("q_id"), col("n_emb").as("q_emb")))
      val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
      val best = probes.join(coarse.listed, Seq("list"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") === 1)
        .select("q_id", "n_id")
      val pairs = best.as("x")
        .join(best.as("y"),
          col("x.q_id") === col("y.n_id") && col("x.n_id") === col("y.q_id")
            && col("x.q_id") < col("x.n_id"))
        .select(col("x.q_id").as("id_a"), col("x.n_id").as("id_b"))
      pairs
        .join(nz.select(col("n_id").as("id_a"), col("n_emb").as("emb_a")),
          "id_a")
        .join(nz.select(col("n_id").as("id_b"), col("n_emb").as("emb_b")),
          "id_b")
        .withColumn("__cos", cosine(col("emb_a"), col("emb_b")))
        .select(col("id_a"), col("id_b"),
          expr("cast(round(__cos * 1000000) as bigint)").as("cos_q6"))
        .orderBy("id_a", "id_b")
    }
  }

  /** MAXIMAL MARGINAL RELEVANCE rerank (Carbonell & Goldstein SIGIR'98):
    * from each query's top-`k` cosine candidates, greedily select
    * `select` results maximizing λ·sim(q, c) − (1−λ)·max_{s∈S} sim(c, s)
    * — the diversity-aware cut every retrieval stack places between
    * recall and the context window (k near-identical passages waste a
    * prompt; MMR keeps the relevant-but-distinct ones).
    *
    * Engine-exact: similarities are q6-quantized BEFORE scoring, so the
    * greedy argmax compares integers — score_q9 = λ‰·cos_q6 −
    * (1000−λ‰)·maxsim_q6 (rank 1 has no penalty term: score = λ‰·cos_q6)
    * — with ties broken on candidate id; the selection is a pure
    * function of the embedding table and the oracle unrolls the same
    * `select` greedy steps in SQL.
    *
    * Scale shape: candidate generation is the q26 broadcast-queries
    * scan (swap in annIvf/annLsh for the top-k at corpus scale — the
    * rerank is agnostic to where candidates came from). The greedy
    * itself runs PER QUERY GROUP: each query's ≤ k candidates and
    * their k² pair similarities gather into one grouped row (state
    * bounded by the constant k, never the corpus), and a typed
    * mapGroups walks the `select` steps in memory — ONE shuffle on the
    * query id for the whole rerank, embarrassingly parallel across
    * queries. The first formulation unrolled the loop into ~6 joins +
    * windows per step; on tiny per-step frames that was pure
    * stage-latency (measured 14 s at sf0.1 — 24 shuffles of
    * scheduler overhead), and at corpus scale it shuffled the full
    * candidate set `select` times. The grouped form is both the local
    * and the cluster win.
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, k: Int = 20,
                select: Int = 5, lambdaPermille: Long = 700L): DataFrame = {
    require(k >= 1 && select >= 1 && select <= k, "need 1 <= select <= k")
    require(lambdaPermille >= 0 && lambdaPermille <= 1000,
      "lambdaPermille in [0, 1000]")
    val session = corpus.sparkSession
    GraftFunctions.register(session)
    val cand0 = side(corpus, "n")
    val q = broadcast(side(queries, "q"))
    val wTop = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    val cands = q.join(cand0, col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("n_id"), col("n_emb"),
        expr("cast(round(cos * 1000000) as bigint)").as("cos_q6"))
    val lam = lambdaPermille
    import session.implicits._
    // one grouped row per query: candidate ids + relevance + the dense
    // k×k pair-similarity entries — k is a small constant, so per-group
    // state is O(k²) regardless of corpus size
    val grouped = cands
      .groupBy("q_id")
      .agg(collect_list(struct(col("n_id"), col("n_emb"),
        col("cos_q6"))).as("cs"))
      .select(col("q_id"), col("cs"))
      .as[(Long, Seq[(Long, Seq[Double], Long)])]
    grouped.flatMap { case (qId, cs) =>
      // deterministic candidate order (the collect_list order is not)
      val cand = cs.sortBy(_._1).toArray
      val n = cand.length
      val emb = cand.map(_._2.toArray)
      // the EXACT arithmetic of functions.CosineSimilarity.nullSafeEval
      // (same accumulation order, same zero-norm guard) followed by the
      // EXACT rounding of Spark's round() (BigDecimal HALF_UP — a bare
      // math.round floors negative halves the wrong way), so the
      // in-group values are bit-identical to the q275/q296 pipeline's
      def simQ6(i: Int, j: Int): Long = {
        val a = emb(i); val b = emb(j)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var t = 0
        while (t < a.length) {
          dot += a(t) * b(t); na += a(t) * a(t); nb += b(t) * b(t)
          t += 1
        }
        val c = if (na == 0 || nb == 0) 0.0
          else dot / (math.sqrt(na) * math.sqrt(nb))
        BigDecimal(c * 1000000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
      val selectedIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
      val maxSim = Array.fill(n)(Long.MinValue)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long)]
      var step = 1
      while (step <= select && selectedIdx.length < n) {
        var best = -1
        var bestScore = Long.MinValue
        var i = 0
        while (i < n) {
          if (!selectedIdx.contains(i)) {
            val score =
              if (step == 1) lam * cand(i)._3
              else lam * cand(i)._3 - (1000L - lam) * maxSim(i)
            // ties break on candidate id; cand is id-sorted, so strict
            // improvement keeps the smallest id among equals
            if (score > bestScore) { best = i; bestScore = score }
          }
          i += 1
        }
        out += ((qId, step.toLong, cand(best)._1, bestScore))
        selectedIdx += best
        var j = 0
        while (j < n) {
          if (!selectedIdx.contains(j))
            maxSim(j) = math.max(maxSim(j), simQ6(j, best))
          j += 1
        }
        step += 1
      }
      out
    }.toDF("q_id", "rnk", "n_id", "score_q9")
      .orderBy("q_id", "rnk")
  }

  /** K-CENTER CORESET by greedy farthest-point traversal (Gonzalez '85):
    * seed with the smallest vec_id, then `select`−1 times pick the
    * vector whose MAXIMUM similarity to the already-selected set is
    * smallest (maximin in distance terms; ties on id) — the 2-approx
    * cover that training-data selection uses to pick k probe/anchor
    * points spanning the embedding space (MMR diversifies a RANKING
    * against a query; this covers the CORPUS with no query).
    *
    * Engine-exact: the maximin compares q6-quantized integer
    * similarities; the per-step argmin is a struct-min partial agg, so
    * the selection is a pure function of the embedding table and the
    * oracle unrolls the same steps. Output (rnk, vec_id, maxsim_q6);
    * the seed row carries NULL maxsim_q6 (no prior set to compare to).
    *
    * Scale shape: each step scores every point against the ≤ `select`
    * selected vectors (a broadcast of bounded model state — the
    * codebook discipline): N·|S| codegen'd dot products per step,
    * linear, argmin with no global-order window; `select` is a small
    * constant unrolled into the plan.
    */
  def kCenterCoreset(embeddings: DataFrame, select: Int = 5): DataFrame = {
    require(select >= 1 && select <= 64, "need 1 <= select <= 64")
    GraftFunctions.register(embeddings.sparkSession)
    val nz = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .filter(cosine(col("emb"), col("emb")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seed = nz.agg(min(col("vec_id")).as("vec_id"))
    var out: DataFrame = seed
      .select(lit(1L).as("rnk"), col("vec_id"),
        lit(null).cast("long").as("maxsim_q6"))
    var selEmb: DataFrame = nz.join(seed, Seq("vec_id"))
      .select(col("vec_id").as("s_id"), col("emb").as("s_emb"))
    for (step <- 2 to select) {
      val ms = nz
        .join(out.select("vec_id"), Seq("vec_id"), "left_anti")
        .crossJoin(broadcast(selEmb))
        .withColumn("__s", cosine(col("emb"), col("s_emb")))
        .groupBy("vec_id")
        .agg(max(expr("cast(round(__s * 1000000) as bigint)"))
          .as("maxsim_q6"))
      val next = ms
        .agg(min(struct(col("maxsim_q6"), col("vec_id"))).as("m"))
        .filter(col("m").isNotNull)
        .select(lit(step.toLong).as("rnk"), col("m.vec_id").as("vec_id"),
          col("m.maxsim_q6").as("maxsim_q6"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out = out.unionByName(next)
      selEmb = selEmb.unionByName(nz.join(next.select("vec_id"),
          Seq("vec_id"))
        .select(col("vec_id").as("s_id"), col("emb").as("s_emb")))
    }
    out.orderBy("rnk")
  }

  /** Deterministic random hyperplanes: `tables` independent hash tables of
    * `bits` planes each, seeded. Gaussian components via Random(seed).
    */
  def hyperplanes(dim: Int, bits: Int, tables: Int,
                  seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, bits, dim)(rnd.nextGaussian())
  }

  /** LSH parameter planner: (bits, tables) for a cosine `threshold` and
    * `targetRecall`. Per random hyperplane, two vectors at cosine t agree
    * with probability p = 1 − arccos(t)/π; a pair collides in a b-bit
    * table w.p. p^b, so recall over T tables is 1 − (1 − p^b)^T. The
    * planner maximizes bits (bucket pruning is ~2^bits) subject to the
    * table count for the recall target staying ≤ `maxTables`.
    *
    * The output quantifies the regime honestly: near-dup thresholds
    * (t ≳ 0.8) get many bits and few tables — strong pruning; low
    * thresholds degrade toward few bits + many tables because LSH
    * fundamentally cannot prune borderline-similarity pairs (brute force
    * or IVF is the right tool there). Fixed (bits, tables) chosen for one
    * regime silently collapse recall in the other — the planner replaces
    * that failure mode with an explicit cost/recall trade.
    */
  def lshPlan(threshold: Double, targetRecall: Double = 0.9,
              maxTables: Int = 32, probeRadius: Int = 0): (Int, Int) = {
    require(threshold > -1.0 && threshold < 1.0,
      "cosine threshold must be in (-1, 1)")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      "target recall must be in (0, 1)")
    require(probeRadius >= 0 && probeRadius <= 2,
      "probeRadius 0 (exact bucket), 1, or 2 (multi-probe)")
    val p = 1.0 - math.acos(threshold) / math.Pi
    // multi-probe (Lv et al., VLDB'07 idea in its simplest form): a probe
    // of every signature within Hamming distance r of the query's raises
    // the per-table hit probability from p^b to Σ_{j≤r} C(b,j)·p^(b-j)
    // ·(1-p)^j — the table count for the same recall drops ~(1 + b(1-p)/p)
    // per radius step, and TABLES are what the corpus side pays for in
    // shuffle volume at scale. Bits are still chosen by the r=0 criterion:
    // bucket pruning (~2^bits) is the reason bits exist, and probing must
    // not water it down.
    def hitProb(b: Int, r: Int): Double =
      (0 to r).map { j =>
        var c = 1.0
        for (x <- 0 until j) c = c * (b - x) / (x + 1)
        c * math.pow(p, (b - j).toDouble) * math.pow(1.0 - p, j.toDouble)
      }.sum
    def tablesFor(b: Int, r: Int): Double =
      math.log1p(-targetRecall) / math.log1p(-hitProb(b, r))
    val bits = (16 to 1 by -1).find(b => tablesFor(b, 0) <= maxTables)
      .getOrElse(1)
    (bits,
      math.max(1, math.ceil(tablesFor(bits, probeRadius)).toInt))
  }

  /** Corpus-size-aware LSH plan — the 100-TB companion to `lshPlan`,
    * prompted by DevScale's measured scaling curve: `lshPlan(0.6, 0.999)`
    * under `maxTables` resolves to 4 bits / 25 tables, and 2^4 buckets on
    * an n-vector corpus means ~n/16 vectors PER BUCKET — candidate pairs
    * grow quadratically (measured 8.7× time for 4× data on the x4→x16
    * leg; theory says n^1.5 for threshold-recall plans at t = 0.6). That
    * is inherent to demanding recall at the borderline threshold: p at
    * t = 0.6 is only 0.705/bit, so bits can't rise without the table
    * count exploding.
    *
    * This planner instead targets recall at the DUPLICATE similarity
    * (`dupSim`, default 0.9) — the pairs a near-dup pass actually exists
    * to find — and scales bits with the corpus: `bits = clamp(log2 n)`
    * keeps the EXPECTED random-background bucket at ~1 vector, so
    * per-table candidates are O(n) and total work is
    * n^(1 + ln p₁/ln 2) ≈ n^1.22 at dupSim 0.9 (the classic ρ exponent),
    * with the table count still set by the recall formula — at dupSim 0.9
    * and recall 0.9 that is ~23 tables at n = 32k, growing ~n^0.22.
    * Borderline pairs (cosine just over the reporting threshold) are
    * found opportunistically rather than with a guarantee; DevScale's
    * re-measured curve and the PLANS.md scaling table pin the resulting
    * ≲ linear growth with total planted-dup recall.
    */
  def lshPlanAt(n: Long, dupSim: Double = 0.9, targetRecall: Double = 0.9,
                minBits: Int = 8, maxBits: Int = 24): (Int, Int) = {
    require(n > 0, "corpus size must be positive")
    require(dupSim > 0.0 && dupSim < 1.0, "dupSim must be in (0, 1)")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      "target recall must be in (0, 1)")
    val p = 1.0 - math.acos(dupSim) / math.Pi
    val bits = math.min(maxBits,
      math.max(minBits, math.ceil(math.log(n.toDouble) / math.log(2)).toInt))
    val tables = math.max(1, math.ceil(
      math.log1p(-targetRecall) / math.log1p(-math.pow(p, bits))).toInt)
    (bits, tables)
  }

  /** Bit-signature of `emb` (array<double>) for ONE table's planes — the
    * reference formulation (and the semantics contract) for
    * `GraftFunctions.hyperplaneSignatures`, which computes every table's
    * signature in a single codegen'd kernel and is what the LSH operators
    * actually run (VectorExpressionsSpec pins bit-for-bit agreement).
    */
  def signature(emb: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, h) =>
      val litPlane = array(p.map(lit(_)): _*)
      when(dot(emb, litPlane) >= 0, lit(1L << h)).otherwise(lit(0L))
    }.reduce(_ + _)

  // ------------------------------------------------------------------ //
  //  IVF, written once: one coarse quantizer, one PQ stage, one probe
  //  kernel (TopKVecCentroids) behind annIvf, annIvfPq, annIvfAdc and
  //  mutualNearestNeighborsIvf — the IVFADC construction of Jégou, Douze
  //  & Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
  //  2011, §III.
  // ------------------------------------------------------------------ //

  /** A trained IVF coarse quantizer over corpus rows (n_id, n_emb):
    * `listed` is those rows with their list id (`list`, a long), `probe`
    * turns query rows (q_id, q_emb) into one (q_id, q_emb, list) row per
    * probed list, and `centroidOf(list)` rebuilds a list's centroid.
    */
  private final case class CoarseQuantizer(listed: DataFrame,
                                           probe: DataFrame => DataFrame,
                                           centroidOf: Column => Column)

  /** Trains a coarse quantizer of `lists` lists over `corpus`
    * (n_id, n_emb) — each query probes `nprobe` of them — with seeded
    * k-means (ml.KMeansVec, `trainIter` rounds).
    *
    * Up to `maxFlatLists` lists it is FLAT: one quantizer (seed `seed`),
    * probed by the query's nprobe nearest centroids. Past it, TWO-LEVEL
    * residual (the IVF scale rung of IVFADC): an L1 quantizer of
    * k1 = ⌈√lists⌉ cells (seed `seed`), then ONE shared L2 quantizer of
    * k2 = ⌈lists/k1⌉ cells (seed `seed + 1`) trained on the L1 RESIDUALS
    * x − c1; a vector's list is c1·k2 + c2, and a query probes its nprobe
    * nearest L1 cells × within each, the nprobe nearest L2 cells of ITS
    * residual w.r.t. that cell. Driver state is k1 + k2 ≤ 2·√L centroids
    * (never L), and a list's centroid is mat1[list div k2] +
    * mat2[list mod k2] — two element_at lookups, never an L-wide literal.
    * Capacity is maxFlatLists² lists. The L1 residual frame is persisted
    * through `keep` for the L2 fit.
    */
  private def coarseQuantizer(corpus: DataFrame, lists: Long,
                              maxFlatLists: Int, nprobe: Int, seed: Long,
                              trainIter: Int,
                              keep: DataFrame => DataFrame): CoarseQuantizer = {
    requirePositive("nlist", lists)
    requirePositive("nprobe", nprobe)
    require(lists <= maxFlatLists.toLong * maxFlatLists,
      s"planned $lists lists exceeds two-level capacity " +
        s"(${maxFlatLists}²) — raise targetListSize")
    def fit(df: DataFrame, vecCol: String, k: Int,
            s: Long): (Seq[VecCentroid], Column) = {
      val cs = KMeansVec.fit(df, vecCol, k, s, maxIter = trainIter,
        idCol = "n_id").centroids.sortBy(_.idx)
      (cs, typedLit(cs.map(_.vec.toSeq)))
    }
    def row(mat: Column, i: Column): Column =
      element_at(mat, i.cast("int") + 1)
    def nearest(vec: Column, cs: Seq[VecCentroid]): Column =
      explode(GraftFunctions.topKVecCentroids(vec, cs.map(_.idx),
        cs.map(_.vec), nprobe))
    if (lists <= maxFlatLists) {
      val (cs, mat) = fit(corpus, "n_emb", lists.toInt, seed)
      CoarseQuantizer(
        KMeansVec.assign(corpus, "n_emb", cs).select(col("n_id"),
          col("n_emb"), col("cidx").cast("long").as("list")),
        _.withColumn("cell", nearest(col("q_emb"), cs))
          .select(col("q_id"), col("q_emb"),
            col("cell").cast("long").as("list")),
        list => row(mat, list))
    } else {
      val k1 = math.ceil(math.sqrt(lists.toDouble)).toInt
      val k2 = ((lists + k1 - 1) / k1).toInt
      val (cs1, mat1) = fit(corpus, "n_emb", k1, seed)
      def residual(vec: Column, cell: Column): Column =
        zip_with(vec, row(mat1, cell), (a, b) => a - b)
      val assigned1 = keep(KMeansVec.assign(corpus, "n_emb", cs1)
        .withColumn("res", residual(col("n_emb"), col("cidx"))))
      val (cs2, mat2) = fit(assigned1, "res", k2, seed + 1)
      CoarseQuantizer(
        KMeansVec.assign(assigned1.select(col("n_id"), col("n_emb"),
            col("cidx").as("c1"), col("res")), "res", cs2)
          .select(col("n_id"), col("n_emb"),
            (col("c1").cast("long") * k2 + col("cidx")).as("list")),
        _.withColumn("l1", nearest(col("q_emb"), cs1))
          .withColumn("qres", residual(col("q_emb"), col("l1")))
          .withColumn("l2", nearest(col("qres"), cs2))
          .select(col("q_id"), col("q_emb"),
            (col("l1").cast("long") * k2 + col("l2")).as("list")),
        list => zip_with(row(mat1, floor(list / k2)),
          row(mat2, pmod(list, lit(k2.toLong))), (a, b) => a + b))
    }
  }

  /** The PQ stage of IVFADC over a trained coarse quantizer: each corpus
    * vector's RESIDUAL w.r.t. its list centroid (its spread after coarse
    * quantization) is split into `m` subvectors, each replaced by the
    * index of its nearest entry in a per-subspace codebook of `ksub`
    * centroids (`trainPqBooks`), so an index row is (n_id, list, m small
    * ints) at ANY list count. The probed candidates are scored by cosine
    * against listCentroid + decoded residual, read from broadcast
    * literals (asymmetric distance, the faiss IVFPQ shape), cut at
    * candFactor·k per query, and exact-reranked by an id join back to
    * `corpus` (the q85 contract).
    */
  private def pqStage(corpus: DataFrame, coarse: CoarseQuantizer,
                      probes: DataFrame, k: Int, m: Int, ksub: Int,
                      candFactor: Int, seed: Long, trainIter: Int,
                      trainCap: Long): DataFrame = {
    val dim = corpus.select(size(col("n_emb"))).take(1) match {
      case Array(r) => r.getInt(0)
      case _ => 1
    }
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val dsub = dim / m
    val withRes = coarse.listed.select(col("n_id"), col("list"),
      zip_with(col("n_emb"), coarse.centroidOf(col("list")),
        (x, c) => x - c).as("res"))
    val books = trainPqBooks(withRes, m, ksub, dsub, seed, trainIter,
      trainCap)
    // encode the FULL corpus: one projection, m argmins
    val index = withRes.select(col("n_id"), col("list"),
      array(pqCodeCols(books, m, dsub): _*).as("codes"))
    val decoded = concat((0 until m).map(j =>
      element_at(typedLit(books(j).sortBy(_.idx).map(_.vec.toSeq)),
        element_at(col("codes"), j + 1) + 1)): _*)
    val approx = zip_with(coarse.centroidOf(col("list")), decoded,
      (c, r) => c + r)
    val wc = Window.partitionBy("q_id").orderBy(desc("acos"), asc("n_id"))
    val cands = probes.join(index, Seq("list"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("acos", cosine(col("q_emb"), approx))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= k * candFactor)
      .select("q_id", "q_emb", "n_id")
    topKByCosine(cands.join(corpus, "n_id"), k)
  }

  /** ANN via IVF (inverted-file) lists: a flat coarse quantizer of `nlist`
    * lists (trained on the corpus) buckets every corpus vector into its
    * nearest-centroid list; each query probes its `nprobe` nearest lists
    * (TopKVecCentroids — the Σ(x−c)² scan the corpus assignment runs) and
    * exact-reranks the candidates. The classic recall/cost dial for
    * vector search at corpus scale: work per query drops from |corpus| to
    * ~nprobe/nlist of it.
    */
  def annIvf(corpus: DataFrame, queries: DataFrame, k: Int,
             nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
             trainIter: Int = 10): DataFrame =
    knnOverCorpus(corpus) { (cached, keep) =>
      val coarse = coarseQuantizer(cached, nlist, nlist, nprobe, seed,
        trainIter, keep)
      val probes = broadcast(coarse.probe(side(queries, "q")))
      topKByCosine(probes.join(coarse.listed, Seq("list"))
        .filter(col("q_id") =!= col("n_id")), k)
    }

  /** ANN via 8-bit scalar quantization (SQ): corpus vectors are
    * compressed to one uint8 code per dimension against global per-dim
    * [lo, hi] ranges (trained from the corpus — a dim-row collect, model
    * state not data). The candidate scan scores full-precision queries
    * against DEQUANTIZED codes (asymmetric distance computation, the
    * faiss SQ8 shape), keeps `candFactor`·k per query, and exact-reranks
    * those by joining back to the full-precision corpus by id.
    *
    * This is the MEMORY-bound scale path, complementary to IVF's
    * compute-bound pruning: the scan stage touches 1 byte/dim instead of
    * 8 — an 8× smaller resident set at 100 TB — and composes with IVF
    * (quantize within lists) when both dials are needed. The rerank join
    * is the honest cost of compression: candidates are (q_id, n_id)
    * pairs, bounded by queries × candFactor·k, joined once against the
    * corpus — at scale a shuffle join keyed on n_id whose left side is
    * tiny.
    *
    * Exactness contract: the output equals exact top-k whenever
    * quantization error cannot push a true neighbor below candidate rank
    * candFactor·k — on fixtures with real cluster structure the margin is
    * orders beyond the ≤ span/512 per-dim error, which is what the
    * oracle pins (q85 mirrors q62's pruned-vs-exact form).
    */
  def annSq(corpus: DataFrame, queries: DataFrame, k: Int,
            candFactor: Int = 8): DataFrame = {
    requirePositive("candFactor", candFactor)
    // three consumers (range training, candidate scan, rerank) — cached
    // once; the training collect materializes it
    knnOverCorpus(corpus) { (cached, _) =>
      // train: global per-dimension ranges (the SQ "codebook")
      val ranges = cached
        .select(posexplode(col("n_emb")).as(Seq("pos", "x")))
        .groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
        .orderBy("pos").collect()
      val lo = ranges.map(_.getDouble(1))
      val span = ranges.map(r => math.max(r.getDouble(2) - r.getDouble(1),
        java.lang.Double.MIN_NORMAL))
      val loLit = array(lo.map(lit(_)).toIndexedSeq: _*)
      val spanLit = array(span.map(lit(_)).toIndexedSeq: _*)
      def codes(emb: Column): Column =
        transform(emb, (x, i) => least(greatest(
          round((x - element_at(loLit, i + 1)) * 255 /
            element_at(spanLit, i + 1)), lit(0.0)), lit(255.0)).cast("int"))
      def dequant(cs: Column): Column =
        transform(cs, (c, i) => element_at(loLit, i + 1) +
          c.cast("double") * element_at(spanLit, i + 1) / 255)
      // candidate scan: 1-byte codes are all the corpus this stage reads
      val coded = cached.select(col("n_id"),
        dequant(codes(col("n_emb"))).as("n_approx"))
      val q = broadcast(side(queries, "q"))
      val wc = Window.partitionBy("q_id").orderBy(desc("acos"), asc("n_id"))
      val cands = q.join(coded, col("q_id") =!= col("n_id"))
        .withColumn("acos", cosine(col("q_emb"), col("n_approx")))
        .withColumn("crank", row_number().over(wc))
        .filter(col("crank") <= k * candFactor)
        .select("q_id", "q_emb", "n_id")
      // exact rerank against full precision, by id
      topKByCosine(cands.join(cached, "n_id"), k)
    }
  }

  /** ANN via IVF + PRODUCT QUANTIZATION — the industry-standard 100-TB
    * memory/recall point beyond `annSq`'s global per-dimension ranges:
    * `pqStage` over a flat coarse quantizer of `nlist` lists (annIvf's
    * front end). The candidate scan reads ONLY (id, list, m small ints):
    * at dim=768/m=8 that is 8 bytes where SQ8 needs 768 — two more orders
    * of compression.
    *
    * Codebook training runs on a hash-ordered sample capped at
    * `trainCap` (faiss practice: codebooks need ~100k vectors, not the
    * corpus) and is ONE Spark job per Lloyd round for ALL m subspaces
    * together (`trainPqBooks`). Encoding the full corpus is a single
    * codegen'd projection (m argmins per row), no shuffle.
    *
    * Exactness contract (the q62/q85 device): on clustered fixtures the
    * pruned+quantized result must EQUAL exact top-k — quantization
    * error is bounded by candidate rank `candFactor`·k before the exact
    * rerank, so recall survives as long as no true neighbor is pushed
    * below that; the driver oracle pins it end to end.
    */
  def annIvfPq(corpus: DataFrame, queries: DataFrame, k: Int,
               nlist: Int = 16, nprobe: Int = 4,
               m: Int = 4, ksub: Int = 16,
               candFactor: Int = 8, seed: Long = 42L,
               trainIter: Int = 5, trainCap: Long = 100000L): DataFrame = {
    requirePositive("m", m)
    requirePositive("ksub", ksub)
    requirePositive("candFactor", candFactor)
    knnOverCorpus(corpus) { (cached, keep) =>
      val coarse = coarseQuantizer(cached, nlist, nlist, nprobe, seed,
        trainIter, keep)
      pqStage(cached, coarse, broadcast(coarse.probe(side(queries, "q"))),
        k, m, ksub, candFactor, seed, trainIter, trainCap)
    }
  }

  /** PQ codebook training: Lloyd over a hash-ordered sample capped at
    * `trainCap`, all m subspaces at once — init is the ksub hash-first
    * sample rows per subspace; each of the fixed `trainIter` rounds is
    * ONE Spark job (a per-subspace codegen'd argmin, then one
    * `KMeansVec.recenter` grouped by subspace, collecting m·ksub·dsub
    * cells — model-state-sized). `withRes` must carry (n_id, res).
    */
  private def trainPqBooks(withRes: DataFrame, m: Int, ksub: Int,
                           dsub: Int, seed: Long, trainIter: Int,
                           trainCap: Long): Map[Int, Seq[VecCentroid]] = {
    val subArr = array((0 until m).map(j =>
      slice(col("res"), j * dsub + 1, dsub)): _*)
    val sample = withRes
      .orderBy(xxhash64(col("n_id"), lit(seed)), col("n_id"))
      .limit(math.min(trainCap, Int.MaxValue.toLong).toInt)
      .select(col("n_id"), posexplode(subArr).as(Seq("sub", "vec")))
    val subs = sample.cache()
    try {
      // init: per subspace, the ksub hash-first sample rows
      val wInit = Window.partitionBy("sub")
        .orderBy(xxhash64(col("n_id"), lit(seed + 1)), col("n_id"))
      var books: Map[Int, Seq[VecCentroid]] = subs
        .withColumn("rn", row_number().over(wInit))
        .filter(col("rn") <= ksub)
        .select(col("sub"), col("rn"), col("vec"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (j, rows) =>
          j -> rows.sortBy(_.getInt(1)).zipWithIndex.map { case (r, i) =>
            VecCentroid(i, r.getSeq[Double](2).toArray)
          }.toSeq
        }
      def argminFor(books: Map[Int, Seq[VecCentroid]]): Column =
        (0 until m).foldLeft(lit(-1)) { (acc, j) =>
          val cs = books(j).sortBy(_.idx)
          when(col("sub") === j, GraftFunctions.nearestVecCentroid(
            col("vec"), cs.map(_.idx), cs.map(_.vec))).otherwise(acc)
        }
      for (_ <- 0 until trainIter)
        books = KMeansVec.recenter(subs.withColumn("cidx", argminFor(books)),
          "vec", col("sub"), books)
      books
    } finally { subs.unpersist(blocking = false); () }
  }

  /** Full-corpus PQ encoding projection: m codegen'd argmins over the
    * `res` column's subvectors. */
  private def pqCodeCols(books: Map[Int, Seq[VecCentroid]],
                         m: Int, dsub: Int): Seq[Column] =
    (0 until m).map { j =>
      val cs = books(j).sortBy(_.idx)
      GraftFunctions.nearestVecCentroid(
        slice(col("res"), j * dsub + 1, dsub),
        cs.map(_.idx), cs.map(_.vec))
    }

  /** Full IVFADC (r17 verdict item 4) — `pqStage` over the SELF-PLANNED
    * coarse quantizer of `mutualNearestNeighborsIvf`: the list count is
    * planned as ⌈N/targetListSize⌉ (floor 8) from one bounded count so
    * list sizes stay ~constant as the corpus grows, and past
    * `maxFlatLists` planned lists the quantizer goes two-level residual
    * (`coarseQuantizer`: ≤ 2·√L centroids of driver state, O(√L)
    * expression width). Capacity ~maxFlatLists² lists ≈ 4.3e9 vectors at
    * the defaults. PQ codes the residual w.r.t. the (possibly composed)
    * list centroid, so the index row is (id, list, m small ints) at ANY
    * list count.
    *
    * Exactness (the q62/q163 device): equals exact top-k whenever the
    * probed nprobe L1 × nprobe L2 cells contain every true neighbor and
    * quantization error keeps them above candidate rank candFactor·k —
    * the planted-ε-copy oracle pins the whole chain end to end.
    *
    * Scale shape: two bounded k-means fits (k1, k2 ≤ √L centroid rows
    * to the driver), assignment/probing/encoding are codegen'd
    * projections riding the scan, the candidate join is keyed on the
    * list id with the query side broadcast. Wall is dominated by the
    * two fits + one corpus encode — each a fixed number of scan-shaped
    * jobs — so growth is ~linear in N at constant probe cost per query.
    */
  def annIvfAdc(corpus: DataFrame, queries: DataFrame, k: Int,
                nprobe: Int = 2, m: Int = 4, ksub: Int = 16,
                candFactor: Int = 8, seed: Long = 42L,
                trainIter: Int = 5, trainCap: Long = 100000L,
                targetListSize: Long = 256L,
                maxFlatLists: Int = 4096): DataFrame = {
    requirePositive("m", m)
    requirePositive("ksub", ksub)
    requirePositive("candFactor", candFactor)
    require(maxFlatLists >= 2, "maxFlatLists must be >= 2")
    knnOverCorpus(corpus) { (cached, keep) =>
      val lists = math.max(8L,
        (cached.count() + targetListSize - 1) / targetListSize)
      val coarse = coarseQuantizer(cached, lists, maxFlatLists, nprobe,
        seed, trainIter, keep)
      pqStage(cached, coarse, broadcast(coarse.probe(side(queries, "q"))),
        k, m, ksub, candFactor, seed, trainIter, trainCap)
    }
  }

  /** ANN via banded random-hyperplane LSH: explode each vector into
    * (table, signature) buckets, join queries to corpus bucket-mates,
    * exact-rerank the candidates, top-k.
    *
    * Parameters default to `lshPlan(simFloor, targetRecall, maxTables)` —
    * the similarity level down to which the tables must retain recall
    * (for top-k that is the expected k-th-neighbor similarity, NOT a
    * near-dup threshold). The previous fixed `bits = 12, tables = 6`
    * default was tuned for a high-similarity regime and silently collapsed
    * recall on borderline neighbors — exactly the failure mode lshPlan's
    * Scaladoc documents. At a low floor the planner's own output makes the
    * cost explicit (few bits, many tables ⇒ little pruning): LSH
    * fundamentally cannot prune borderline-similarity candidates, and
    * `annIvf` is the scale path for that regime. Explicit bits/tables
    * still override for callers that know their regime.
    *
    * `probeRadius` > 0 turns on multi-probe: queries additionally probe
    * every signature within that Hamming distance, and the planner cuts
    * the TABLE count accordingly (~4–5× at radius 1 in the default
    * regime) at the same recall target. The corpus side — the one that
    * scales — is exploded `tables` times into the bucket shuffle, so
    * fewer tables is directly less shuffle volume at 100 TB; the probe
    * expansion lands on the small broadcast query side.
    */
  def annLsh(corpus: DataFrame, queries: DataFrame, k: Int,
             bits: Int = -1, tables: Int = -1, seed: Long = 42L,
             dim: Int = 0, simFloor: Double = 0.25,
             targetRecall: Double = 0.995, maxTables: Int = 64,
             probeRadius: Int = 0): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val (planBits, planTables) =
      if (bits > 0 && tables > 0) (bits, tables)
      else lshPlan(simFloor, targetRecall, maxTables, probeRadius)
    // dim <= 0 → probe the corpus (dot truncates to the common prefix, so
    // a wrong hardcoded dim would silently ignore trailing dimensions)
    val effDim =
      if (dim > 0) dim
      else corpus.select(size(col("embedding"))).take(1) match {
        case Array(r) => r.getInt(0)
        // empty corpus: any dim works — the join below is empty anyway,
        // and the output schema stays the one the real pipeline produces
        case _ => 1
      }
    val planes = hyperplanes(effDim, planBits, planTables, seed)
    // one batched kernel for ALL table signatures (posexplode pos == table
    // index) — see HyperplaneSignatures for why this beats composing
    // bits×tables literal-array dot columns
    def bucketed(df: DataFrame, p: String): DataFrame =
      side(df, p)
        .select(col(s"${p}_id"), col(s"${p}_emb"), posexplode(
          GraftFunctions.hyperplaneSignatures(col(s"${p}_emb"),
            planes.toSeq)))
        .withColumnRenamed("pos", "table")
        .withColumnRenamed("col", "sig")
    // Multi-probe rides the QUERY side (small, broadcast): each query
    // bucket expands to every signature within Hamming distance
    // `probeRadius` — the corpus pays for `tables`, and probing is what
    // lets the planner keep that number low. Masks are enumerated on the
    // driver (1 + b + C(b,2) longs at radius 2), XOR'd in-plan.
    val probeMasks: Seq[Long] = {
      val r1 = (0 until planBits).map(h => 1L << h)
      val r2 = for {
        a <- 0 until planBits; b2 <- (a + 1) until planBits
      } yield (1L << a) | (1L << b2)
      probeRadius match {
        case 0 => Seq(0L)
        case 1 => 0L +: r1
        case _ => (0L +: r1) ++ r2
      }
    }
    val qbBase = bucketed(queries, "q")
    val qb = broadcast(
      if (probeRadius <= 0) qbBase
      else qbBase.select(col("q_id"), col("q_emb"), col("table"),
        explode(array(probeMasks.map(m =>
          col("sig").bitwiseXOR(lit(m))): _*)).as("sig")))
    val cb = bucketed(corpus, "n")
    val candidates = qb.join(cb,
        Seq("table", "sig")).filter(col("q_id") =!= col("n_id"))
      .select("q_id", "q_emb", "n_id", "n_emb")
      .dropDuplicates("q_id", "n_id")
    topKByCosine(candidates, k)
  }

  /** Per-label embedding centroids in fixed-grid quantized space: each
    * component maps to `code = clamp(round(x·scale), ±scale)` and the
    * centroid crosses as the exact integer pair (Σ code, n) per (label,
    * dimension) — the mean is one division away for the consumer, while
    * the ARTIFACT stays drift-free (a float mean's partition-order
    * addition drift makes it un-hashable across engines; integer sums
    * commute exactly). The fixed grid (right-sized for unit-norm inputs)
    * is what makes the codes a pure per-element function — no trained
    * codebook to ship, unlike `sqKnn`'s range-trained SQ8.
    *
    * Shape: posexplode to (label, pos) rows with map-side partial sums —
    * the shuffle carries |labels|·dims aggregated rows, never vectors.
    * The class-prototype / centroid-init primitive for label-conditioned
    * retrieval at corpus scale.
    */
  def quantizedCentroids(embeddings: DataFrame, scale: Int = 127): DataFrame = {
    require(scale >= 1, "scale must be >= 1")
    embeddings
      .select(col("label"),
        posexplode(asDouble(col("embedding"))).as(Seq("pos", "x")))
      .withColumn("code", least(greatest(round(col("x") * scale),
        lit(-scale.toDouble)), lit(scale.toDouble)).cast("long"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum("code").as("sum_code"))
      .orderBy("label", "pos")
  }

  /** Embedding QUALITY census — the vector-column data-quality gate:
    * per label, vector count, ZERO vectors (cosine against them is
    * undefined — the q26 family filters them, this COUNTS them so the
    * upstream encoder bug is visible), and the min/max/total quantized
    * squared norm. Norms ride the q105 integer-quantization device
    * (`Σ round(x·10³)²` — exact integers, engine-portable), so the
    * census hash-checks like everything else.
    *
    * Scale shape: one posexplode to per-vector partial sums (map-side
    * combined), then a |labels|-row agg.
    */
  def embeddingQualityCensus(embeddings: DataFrame,
                             scale: Int = 1000): DataFrame = {
    require(scale >= 1, "scale must be >= 1")
    val perVec = embeddings
      .select(col("vec_id"), col("label"),
        posexplode(asDouble(col("embedding"))).as(Seq("pos", "x")))
      .withColumn("q", round(col("x") * scale).cast("long"))
      .groupBy("vec_id", "label")
      .agg(sum(col("q") * col("q")).as("norm2_q"))
    perVec.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        coalesce(sum(when(col("norm2_q") === 0, 1L)), lit(0L))
          .as("n_zero"),
        min("norm2_q").as("min_norm2_q"),
        max("norm2_q").as("max_norm2_q"),
        sum("norm2_q").as("sum_norm2_q"))
      .orderBy("label")
  }

  /** Per-label embedding DIVERSITY census — mean pairwise dot product
    * within each label, computed WITHOUT forming a single pair via the
    * sum-of-vectors identity: Σ_{i≠j} vᵢ·vⱼ = ‖Σv‖² − Σ‖vᵢ‖², so
    * mean = (S² − D) / (n·(n−1)). The cluster-collapse / mode-coverage
    * audit a curation pipeline runs over its encoder output: a label
    * whose mean pairwise similarity approaches its mean self-norm has
    * collapsed to near-identical vectors (dedup or re-embed); a low mean
    * says the label spans diverse content. Complementary to q115's
    * near-dup census (pair-level, thresholded) — this is the O(n·d)
    * population statistic.
    *
    * Cross-engine exactness: components are integer-quantized at the
    * scan (`round(x·10³)`, the quantizedCentroids device) BEFORE any
    * sum, so S², D, and the n·(n−1) denominator are exact integers and
    * `mean_dot_q6 = (S² − D) div (n·(n−1))` is bit-portable (unit is
    * 10⁻⁶ of a dot in quantized units — relabel, don't round).
    *
    * Scale shape: one posexplode to (label, pos) partial sums — the
    * shuffle carries |labels|·dims aggregated cells, never vectors, and
    * NO pair is ever materialized (the identity is the whole point at
    * n² pair counts).
    */
  def embeddingDiversityCensus(embeddings: DataFrame,
                               scale: Int = 1000): DataFrame = {
    require(scale >= 1, "scale must be >= 1")
    val cells = embeddings
      .select(col("label"),
        posexplode(asDouble(col("embedding"))).as(Seq("pos", "x")))
      .withColumn("q", round(col("x") * scale).cast("long"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum("q").as("s"),
        sum(col("q") * col("q")).as("d"))
    cells
      .groupBy("label")
      // decimal(38,0) headroom on s²: per-cell s ≈ n_vecs·scale, so the
      // Long square overflows once a label holds ~3M vectors (ANSI throw
      // / silent wrap); div on the decimal difference still returns
      // LONG, schema unchanged (oracle mirrors with HUGEINT)
      .agg(max("n").as("n_vecs"),
        sum(expr("cast(s as decimal(38,0)) * s")).as("__s2"),
        sum("d").as("__d"))
      .filter(col("n_vecs") >= 2)
      .select(col("label"), col("n_vecs"),
        expr("(__s2 - __d) div (n_vecs * (n_vecs - 1))")
          .as("mean_dot_q"))
      .orderBy("label")
  }

  /** HARD-negative mining for contrastive training: for each anchor
    * vector, the `k` highest-cosine vectors carrying a DIFFERENT label —
    * the pairs that actually teach a margin, where `Sampling
    * .negativeSample`'s hash-random negatives are mostly easy. Exact
    * top-k by brute scoring against the anchor set (the q26 baseline
    * contract — the oracle-checkable form); at corpus scale the
    * candidate generation swaps to the ANN family (annIvf/annIvfPq
    * restricted per-label, the documented bucketed path) with this as
    * the exactness referee.
    *
    * Scale shape (this form): |anchors| × corpus broadcast-join scoring
    * ending in TakeOrdered(k) per anchor — anchors are the small side by
    * contract (a training batch / probe set), the corpus is scanned
    * once.
    */
  def hardNegatives(embeddings: DataFrame, anchors: DataFrame,
                    k: Int = 5): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val corpus = embeddings.select(col("vec_id").as("n_id"),
      col("label").as("n_label"), asDouble(col("embedding")).as("n_emb"))
    val a = broadcast(anchors.select(col("vec_id").as("q_id"),
      col("label").as("q_label"), asDouble(col("embedding")).as("q_emb")))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    a.join(corpus, col("q_id") =!= col("n_id") &&
        col("q_label") =!= col("n_label"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("n_label"))
      .orderBy("q_id", "rank")
  }

  /** Retrieval-quality metrics against BINARY relevance judgments —
    * MRR and nDCG@k, the two numbers every retrieval change is judged
    * by (the evaluation face of the q26/q44/q62/q85/q163 retrieval
    * family: those pin exactness of a fixed plan, this SCORES any
    * ranking against labeled truth). Per query: relevant count, the
    * reciprocal rank of the first hit, DCG@k, ideal DCG@k, and their
    * ratio.
    *
    * Binary relevance is the contract (rel ∈ {0, 1}): the ideal
    * ranking is then "all R relevant first", so IDCG@k is the
    * closed-form Σ_{i≤min(R,k)} 1/log₂(i+1) — computed by exploding a
    * min(R,k)-row sequence per query, never by sorting judgments. All
    * float terms (1/rank, 1/log₂(i+1)) are quantized at 1e-6 BEFORE
    * their sums (the q134 device), so totals are exact integers and
    * `ndcg_permille = dcg·1000 div idcg` is bit-portable.
    *
    * Scale shape: the result list is top-k per query by construction
    * (k·|queries| rows); judgments join on (q_id, n_id); everything
    * downstream is per-query arithmetic on ≤k rows. Nothing scales
    * with the corpus behind the ranking.
    */
  def retrievalMetrics(results: DataFrame, qrels: DataFrame,
                       k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val rel = qrels.filter(col("rel") > 0)
      .select(col("q_id"), col("n_id"), lit(1L).as("__rel"))
    val nRel = rel.groupBy("q_id").agg(count(lit(1)).as("n_rel"))
    val hits = results.filter(col("rank") <= k)
      .join(rel, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(min(when(col("__rel").isNotNull, col("rank"))).as("__first"),
        coalesce(sum(when(col("__rel").isNotNull,
          round(lit(1000000.0) /
            log2(col("rank").cast("double") + 1)).cast("long"))), lit(0L))
          .as("dcg_q6"))
    val idcg = nRel
      .select(col("q_id"), col("n_rel"),
        explode(sequence(lit(1L), least(col("n_rel"), lit(k.toLong))))
          .as("i"))
      .groupBy("q_id", "n_rel")
      .agg(sum(round(lit(1000000.0) / log2(col("i").cast("double") + 1))
        .cast("long")).as("idcg_q6"))
    results.select(col("q_id")).distinct()
      .join(idcg, Seq("q_id"), "left")
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        round(lit(1000000.0) / col("__first").cast("double"))
          .cast("long").as("rr_q6"),
        coalesce(col("dcg_q6"), lit(0L)).as("dcg_q6"),
        coalesce(col("idcg_q6"), lit(0L)).as("idcg_q6"),
        expr("dcg_q6 * 1000L div nullif(idcg_q6, 0L)")
          .as("ndcg_permille"))
      .orderBy("q_id")
  }

  /** Reciprocal-rank fusion of two retrieval rankings (Cormack et al.
    * 2009) — the standard hybrid-search merge of a lexical (BM25) and a
    * vector (k-NN) result list: each list contributes `1/(k₀ + rank)`
    * and the fused order is by the sum. Here the contribution is
    * INTEGER-quantized per term — `10⁹ div (k₀ + rank)` — so the fused
    * score is an exact integer sum and the merged ordering is
    * engine-portable with no float anywhere (RRF only consumes RANKS, so
    * quantizing the reciprocal loses nothing the method cares about).
    * Ids present in only one list keep the other side's contribution at
    * zero (rank NULL surfaces the miss).
    *
    * Scale shape: a FULL OUTER hash join of two top-k lists — inputs are
    * k rows each by construction (the retrieval ops already limited
    * them), so the join broadcasts and the fuse is a constant-size
    * postprocess no matter the corpus behind the lists.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k0: Long = 60L): DataFrame = {
    require(k0 >= 1, "k0 must be >= 1")
    val l = a.select(col("id").as("id"), col("rank").cast("long")
      .as("rank_a"))
    val r = b.select(col("id").as("__id_b"), col("rank").cast("long")
      .as("rank_b"))
    l.join(r, col("id") === col("__id_b"), "full_outer")
      .select(coalesce(col("id"), col("__id_b")).as("id"),
        col("rank_a"), col("rank_b"),
        (coalesce(expr(s"1000000000L div (${k0}L + rank_a)"), lit(0L)) +
          coalesce(expr(s"1000000000L div (${k0}L + rank_b)"), lit(0L)))
          .as("rrf_q9"))
      .orderBy(col("rrf_q9").desc, col("id").asc)
  }

  /** Centroid-assignment drift monitor — the ANN-maintenance report:
    * assign every vector to its nearest centroid from a FIXED (frozen)
    * centroid set over the first `cells.head.size` quantized
    * dimensions, then compare cell occupancy between the old corpus
    * half (even `vec_id`) and the new one (odd) — the "has the
    * distribution moved enough to retrain the quantizer" check run
    * between IVF rebuilds. Default centroids: the ±`scale`/2 octant
    * grid on the first 3 dims.
    *
    * Distances ride the q105 integer device: coordinates quantize to
    * `[-scale, scale]` codes, d² is exact integer arithmetic, and the
    * argmin (cell tiebreak) is `min(d²·|cells| + cell) mod |cells|` —
    * a single integer min, no struct ordering, portable to any engine.
    *
    * Scale shape: one scan-stage projection per vector (first-d
    * quantization), a broadcast join against the |cells|-row centroid
    * dim, one partial-agg argmin on vec_id, and a |cells|-row census.
    * Nothing data-sized ever shuffles except vec_id-keyed argmin rows.
    */
  def centroidAssignmentDrift(embeddings: DataFrame,
                              cells: Seq[Seq[Long]] = defaultOctants,
                              scale: Int = 127): DataFrame = {
    require(cells.nonEmpty && cells.forall(_.size == cells.head.size),
      "cells must be non-empty and rectangular")
    val d = cells.head.size
    val nCells = cells.size
    val s = embeddings.sparkSession
    import s.implicits._
    val cent = broadcast(cells.zipWithIndex
      .map { case (m, i) => (i.toLong, m) }.toDF("cell", "m"))
    val codes = embeddings.select(col("vec_id") +:
      (0 until d).map(i =>
        least(greatest(round(asDouble(col("embedding")).getItem(i) *
          scale), lit(-scale.toDouble)), lit(scale.toDouble))
          .cast("long").as(s"c$i")): _*)
    val d2 = (0 until d).map(i =>
      (col(s"c$i") - col("m").getItem(i)) *
        (col(s"c$i") - col("m").getItem(i))).reduce(_ + _)
    val assigned = codes.crossJoin(cent)
      .select(col("vec_id"), (d2 * nCells + col("cell")).as("key"))
      .groupBy("vec_id").agg((min("key") % nCells).as("cell"))
    assigned
      .groupBy("cell")
      .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L))
          .as("n_old"),
        sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L))
          .as("n_new"))
      .select(col("cell"), col("n_old"), col("n_new"),
        expr("(n_new - n_old) * 1000 div nullif(n_old, 0)")
          .as("drift_permille"))
      .orderBy("cell")
  }

  /** The ±scale/2 octant grid on the first 3 dimensions — the default
    * frozen-centroid set for `centroidAssignmentDrift`. */
  private def defaultOctants: Seq[Seq[Long]] =
    for (a <- Seq(-64L, 64L); b <- Seq(-64L, 64L); c <- Seq(-64L, 64L))
      yield Seq(a, b, c)

  /** Pairwise distance matrix between LABEL CENTROIDS — the class-
    * separability audit (are any two label clusters collapsing?).
    * Exact-integer form: with per-(label, pos) quantized code sums
    * s and counts n, the mean-difference at each coordinate is
    * (s_a/n_a − s_b/n_b); scaled by n_a·n_b it is the integer
    * n_b·s_a − n_a·s_b, so the reported d2_scaled = Σ_pos
    * (n_b·s_a − n_a·s_b)² = d²·(n_a·n_b)² — exact in decimal(38,0),
    * no division ever happens, and relative comparisons between pairs
    * with the same (n_a, n_b) are order-true.
    *
    * Scale shape: one posexplode partial agg to |labels|·dims rows
    * (the q105 census), then a pos-keyed self-join bounded by
    * |labels|²·dims — model-state-sized at any corpus scale.
    */
  def labelCentroidDistances(embeddings: DataFrame,
                             scale: Int = 127): DataFrame = {
    val cen = quantizedCentroids(embeddings, scale)
    val a = cen.select(col("label").as("label_a"), col("pos"),
      col("n").as("na"), col("sum_code").as("sa"))
    val b = cen.select(col("label").as("label_b"),
      col("pos").as("__pos"), col("n").as("nb"),
      col("sum_code").as("sb"))
    a.join(b, col("pos") === col("__pos") &&
        col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        ((col("nb").cast("decimal(38,0)") * col("sa") -
          col("na").cast("decimal(38,0)") * col("sb"))).as("diff"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("diff") * col("diff")).cast("long").as("d2_scaled"))
      .orderBy("label_a", "label_b")
  }

  /** Matryoshka truncation audit: how much cosine structure survives
    * keeping only the first `dim` coordinates of each embedding — the
    * decision table for MRL-style dimension reduction (Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS 2022: serve the
    * prefix, fall back to full-d re-rank), where the storage/compute win
    * at 100 TB is dim/fullDim but only if the truncated prefix preserves
    * neighbor structure.
    *
    * Arithmetic is integer-exact end to end (the q202/q272 cleared-
    * denominator device): coordinates quantize to q = round(x·1000),
    * and each audited pair's signed squared cosine in ppm is
    * sign(dot) · (dot²·10⁶ div (‖a‖²·‖b‖²)) — monotone in |cos| so
    * deltas rank truncation damage faithfully, with no square root and
    * no float accumulation to diverge between engines. Pairs are the
    * deterministic consecutive-id chain (vec_id, vec_id+1): one
    * shuffle-free-width equi-join, exactly N−1 pairs at any corpus
    * size — an O(N) audit, never a pair stage.
    *
    * Output per truncation `dim`: pair count, mean/max |Δ signed-cos²|
    * in ppm vs full-d, and how many pairs flipped dot-product sign.
    */
  def matryoshkaAudit(embeddings: DataFrame,
                      dims: Seq[Int] = Seq(16, 32),
                      fullDim: Int = 64): DataFrame = {
    require(dims.nonEmpty && dims.forall(d => d >= 1 && d < fullDim),
      s"dims must be nonempty and in [1, $fullDim)")
    val q = embeddings.select(col("vec_id"),
      transform(asDouble(col("embedding")),
        x => round(x * 1000).cast("long")).as("q"))
    val pairs = q.select(col("vec_id"), col("q").as("qa"))
      .join(q.select((col("vec_id") - 1).as("vec_id"), col("q").as("qb")),
        Seq("vec_id"))
    def dotL(a: String, b: String, k: Column): Column =
      aggregate(zip_with(slice(col(a), lit(1), k), slice(col(b), lit(1), k),
        (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    // signed squared cosine in ppm from integer dot/norm columns:
    // |dot²·10⁶ div (na·nb)| ≤ 10⁶ by Cauchy–Schwarz, so the div's
    // long result never overflows
    def scos2(d: String, na: String, nb: String): Column =
      signum(col(d)).cast("long") *
        expr(s"cast($d as decimal(38,0)) * $d * 1000000 div " +
          s"(cast($na as decimal(38,0)) * $nb)")
    val audited = pairs
      .withColumn("dim", explode(typedLit(dims)))
      .withColumn("__d", dotL("qa", "qb", col("dim")))
      .withColumn("__na", dotL("qa", "qa", col("dim")))
      .withColumn("__nb", dotL("qb", "qb", col("dim")))
      .withColumn("__df", dotL("qa", "qb", lit(fullDim)))
      .withColumn("__naf", dotL("qa", "qa", lit(fullDim)))
      .withColumn("__nbf", dotL("qb", "qb", lit(fullDim)))
      // drop rows whose OWN dim's prefix (or the full vector) is all-zero
      // on either side — cosine undefined there. Prefix norms are
      // monotone in dim, so a larger dim can only ADMIT more pairs; the
      // per-dim populations coincide whenever no smallest-prefix is
      // all-zero (true of any real embedding fixture), and n_pairs
      // reports each dim's own population either way
      .filter(col("__na") > 0 && col("__nb") > 0 &&
        col("__naf") > 0 && col("__nbf") > 0)
      .withColumn("s_t", scos2("__d", "__na", "__nb"))
      .withColumn("s_f", scos2("__df", "__naf", "__nbf"))
      .withColumn("delta", abs(col("s_f") - col("s_t")))
    audited.groupBy("dim")
      .agg(count(lit(1)).as("n_pairs"),
        expr("cast(sum(delta) as decimal(38,0)) div count(1)")
          .as("mean_abs_dppm"),
        max("delta").as("max_abs_dppm"),
        sum(when(signum(col("__d")) =!= signum(col("__df")), 1L)
          .otherwise(0L)).as("n_sign_flips"))
      .orderBy("dim")
  }

  // ------------------------------------------------------------------ //
  //  Persisted IVF index LIFECYCLE (q381–q383) — the vector twin of the
  //  near-dup index lifecycle (Dedup.neardupIndex*, q375–q378): build
  //  once, append drops under the FROZEN quantizer, count-based
  //  staleness, rebuild wired to the rule.
  // ------------------------------------------------------------------ //

  /** Frozen centroids of a persisted IVF index — a bounded collect
    * (nlist rows of model state, never data).
    */
  private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                            indexTable: String)
      : Seq[VecCentroid] =
    spark.table(s"${indexTable}_centroids")
      .orderBy("idx").collect().toSeq
      .map(r => VecCentroid(r.getInt(0),
        r.getSeq[Double](1).toArray))

  /** Build (or destructively REBUILD) a persisted IVF index over
    * `histIds`: fit the coarse quantizer on the history vectors, FREEZE
    * it as `<indexTable>_centroids` (nlist rows of model state) plus a
    * 1-row `<indexTable>_census` (indexed count at build), and write the
    * (list, n_id, n_emb) assignments as a LIST-PARTITIONED managed table
    * — directory per list, so a query probing nprobe of nlist lists
    * reads nprobe/nlist of the index from disk (the q347 pruning
    * economics applied to vector search; bucketing would co-locate a
    * join, but the probe side is a broadcast — the scan is what an
    * IVF layout must prune). The once-per-corpus k-means + shuffle;
    * every drop afterwards pays only its own volume (`ivfIndexAppend`).
    *
    * DESTRUCTIVE on `indexTable`/`_centroids`/`_census` — pass a name
    * this run owns exclusively (the q374 lesson, per r18 ADVICE).
    */
  def ivfIndexBuild(embeddings: DataFrame, histIds: DataFrame,
                    indexTable: String, nlist: Int = 8, seed: Long = 42L,
                    trainIter: Int = 10): Unit = {
    require(indexTable.nonEmpty, "indexTable must be explicit")
    require(nlist >= 1, "nlist must be >= 1")
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    val hist = side(embeddings
      .join(histIds.select("vec_id"), Seq("vec_id"), "left_semi"), "n")
    val cached = hist.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = cached.count()
      require(n > 0, "cannot build an IVF index over an empty history")
      // farthest-point init (see KMeansVec.initFarthest): the pruned-
      // probe exactness contract must hold at EVERY scale, and a
      // hash-sample init recovers the cluster structure only by seed
      // luck — a collided init leaves Lloyd converged on split/merged
      // lists and nprobe-bounded queries silently lose true neighbors
      // (caught by the q383 multi-scale gate before this was switched)
      val model = KMeansVec.fit(cached, "n_emb", nlist, seed,
        maxIter = trainIter, idCol = "n_id", farthestInit = true)
      val cs = model.centroids.sortBy(_.idx)
      val sess = spark
      import sess.implicits._
      Bucketing.writeSmall(
        cs.map(c => (c.idx, c.vec.toSeq)).toDF("idx", "vec"),
        s"${indexTable}_centroids")
      Bucketing.writeSmall(Seq(n).toDF("n_frozen"),
        s"${indexTable}_census")
      Bucketing.writePartitioned(
        KMeansVec.assign(cached, "n_emb", cs)
          .select(col("cidx").cast("int").as("list"),
            col("n_id"), col("n_emb")),
        indexTable, "list")
    } finally { cached.unpersist(blocking = false); () }
  }

  /** Append a committed drop's vectors to an existing IVF index — the
    * drop-proportional maintenance operation: assign under the FROZEN
    * centroids (a bounded model-state collect, no re-fit, no history
    * re-shuffle) and append one file set into the matching list
    * directories. The frozen quantizer itself is untouched — staleness
    * (below) tells the owner when accumulated growth warrants a refit.
    */
  def ivfIndexAppend(embeddings: DataFrame, dropIds: DataFrame,
                     indexTable: String): Unit = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    val cs = loadCentroids(spark, indexTable)
    val drop = side(embeddings
      .join(dropIds.select("vec_id"), Seq("vec_id"), "left_semi"), "n")
    KMeansVec.assign(drop, "n_emb", cs)
      .select(col("cidx").cast("int").as("list"),
        col("n_id"), col("n_emb"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("list")
      .format("parquet").saveAsTable(indexTable)
  }

  /** ANN of `queryIds` vectors against everything IN the index (original
    * history + every appended drop): probe the `nprobe` nearest frozen
    * centroids per query, exact-rerank the probed lists' vectors by
    * cosine, top-k. Exactness contract = q62's (the clustered regime:
    * every true neighbor sits in a probed list by construction, so the
    * exact top-k oracle applies verbatim and one lost neighbor is a
    * driver hash mismatch).
    *
    * Scale shape: probes are |queries|·nprobe rows BROADCAST; the index
    * side streams only the probed list DIRECTORIES (the partitioned
    * layout's point — nprobe/nlist of the index read, no exchange);
    * rerank is a per-query top-k window over candidates.
    */
  def annAgainstIvfIndex(embeddings: DataFrame, queryIds: DataFrame,
                         indexTable: String, k: Int = 5,
                         nprobe: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    val cs = loadCentroids(spark, indexTable)
    val queries = side(embeddings
      .join(queryIds.select("vec_id"), Seq("vec_id"), "left_semi"), "q")
    val probes = broadcast(queries
      .withColumn("cell",
        explode(GraftFunctions.topKVecCentroids(col("q_emb"),
          cs.map(_.idx), cs.map(_.vec), nprobe)))
      .select(col("q_id"), col("q_emb"), col("cell").cast("int").as("list")))
    topKByCosine(probes.join(spark.table(indexTable), Seq("list"))
      .filter(col("q_id") =!= col("n_id")), k)
  }

  /** Compact an appended IVF index (q384): every `ivfIndexAppend` adds
    * one file set into the list directories, so k drops leave k+1 file
    * generations per list — the probe stays directory-pruned but each
    * probed list fans over k+1 files (and their footers). Compaction
    * rewrites the assignments single-generation and SWAPS the table in:
    * write-new + RENAME, never read-and-overwrite in one plan (the q377
    * device — a writePartitioned back onto `indexTable` would DROP the
    * table its own lazy lineage still reads). Layout-only: contents,
    * partition spec, frozen centroids, and census are untouched, so
    * retrieval is invariant by construction and q381's oracle applies
    * verbatim.
    *
    * Scale shape: one read + one partitioned write of the index volume,
    * repartitioned on the list key so each list lands in one task —
    * run it on the q307 small-file economics, exactly like the near-dup
    * index's compaction.
    */
  def ivfIndexCompact(spark: org.apache.spark.sql.SparkSession,
                      indexTable: String): Unit = {
    val tmp = s"${indexTable}_compacting"
    Bucketing.writePartitioned(
      spark.table(indexTable).repartition(col("list")),
      tmp, "list")
    spark.sql(s"DROP TABLE IF EXISTS `$indexTable`")
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$indexTable`")
    // a managed RENAME moves the table DIRECTORY but the catalog's
    // per-partition locations still point at the old path — without the
    // sync the renamed table scans as EMPTY (caught by SimilaritySpec's
    // invariance law); SYNC re-derives every partition from the moved
    // directories and drops the stale entries
    spark.sql(s"MSCK REPAIR TABLE `$indexTable` SYNC PARTITIONS")
    ()
  }

  /** Staleness report for a frozen IVF quantizer: indexed count NOW vs
    * the count FROZEN at build, as integer permille growth —
    * `(n_now − n_frozen)·1000 div n_frozen` — with `requalify` flipping
    * past `growthBoundPm`. The rule a production vector store actually
    * runs (refit when the index has grown past a fraction of its
    * training set): pure COUNT arithmetic, so unlike a centroid-drift
    * metric it is exactly replicable in the oracle — the q376 shape
    * with growth in place of census drift. Retrieval exactness (the q62
    * contract) never depends on it; the rule guards quantizer QUALITY
    * (lists drifting unbalanced as the corpus grows).
    */
  def ivfIndexStaleness(spark: org.apache.spark.sql.SparkSession,
                        indexTable: String,
                        growthBoundPm: Long = 200L): DataFrame =
    spark.table(s"${indexTable}_census")
      .crossJoin(
        spark.table(indexTable).agg(count(lit(1)).as("n_now")))
      .select(col("n_frozen"), col("n_now"),
        expr("(n_now - n_frozen) * 1000 div n_frozen").as("growth_pm"),
        (expr("(n_now - n_frozen) * 1000 div n_frozen")
          > lit(growthBoundPm)).as("requalify"))

  /** Staleness-DRIVEN ANN (the q378 device on the vector index): consult
    * `ivfIndexStaleness`, REBUILD — refit the quantizer over the ids the
    * index actually contains — when growth crossed the bound, then
    * query. The retrieval table is invariant either way (the q62 exact
    * contract holds under any quantizer that keeps true neighbors in
    * probed lists — frozen or refit), so the exact oracle pins the
    * OUTPUT while the `requalified` column — the same count arithmetic
    * replicated in SQL — pins the ROUTING DECISION itself.
    */
  def annAgainstIvfIndexAuto(embeddings: DataFrame, queryIds: DataFrame,
                             indexTable: String, k: Int = 5,
                             nprobe: Int = 2, nlist: Int = 8,
                             growthBoundPm: Long = 200L, seed: Long = 42L,
                             trainIter: Int = 10): DataFrame = {
    val spark = embeddings.sparkSession
    val row = ivfIndexStaleness(spark, indexTable, growthBoundPm)
      .select("requalify").collect().head
    val stale = !row.isNullAt(0) && row.getBoolean(0)
    if (stale) {
      // the rebuild DROPS the table these ids come from — cut the id
      // frame's lineage first (the q378 localCheckpoint device): an
      // evicted cache block must fail fast, never rescan dropped state.
      // Bounded: one long per indexed vector, never the vectors.
      val ids = spark.table(indexTable)
        .select(col("n_id").as("vec_id")).distinct()
        .localCheckpoint(true)
      try ivfIndexBuild(embeddings, ids, indexTable, nlist, seed,
        trainIter)
      finally { ids.unpersist(blocking = false); () }
    }
    annAgainstIvfIndex(embeddings, queryIds, indexTable, k, nprobe)
      .withColumn("requalified", lit(stale))
  }
}
