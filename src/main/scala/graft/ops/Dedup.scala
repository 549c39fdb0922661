package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication family over `documents` (north-star surface).
  *
  * The reference's only dedup is A8, distinct-by-rounded-key + count
  * (/root/reference/final/src/main/java/population/PopulatePt.java:54–135)
  * — generalized here to the document-pipeline forms a training-data
  * engine needs: exact (content hash), n-gram Jaccard, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup (delegated to Similarity).
  *
  * Everything is built from codegen'd built-ins (split/transform/xxhash64/
  * bit ops) — no UDFs. Scale design notes per operator below; the common
  * theme is that no pair enumeration is ever O(n²): candidate pairs come
  * from an inverted-index/bucket join and only candidates get exact
  * verification.
  */
object Dedup {

  /** Whitespace-normalized lowercase body — the exact-dup key (shared
    * with Text.fingerprint so the two stay byte-identical).
    */
  def normText(text: Column): Column = Text.normText(text)

  /** Exact dedup: group by content fingerprint; keep lowest doc_id.
    * One shuffle on the hash, map-side partial agg; at 100 TB the md5 is
    * computed in the scan stage and only (hash, id) crosses the exchange.
    */
  def exactDupGroups(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), md5(normText(col("text")).cast("binary")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("fp")

  /** Incremental exact dedup — the production shape: today's batch
    * arrives, yesterday's corpus exists only as its FINGERPRINT table
    * (id-free md5s, the compact artifact each run appends to). Drop every
    * batch doc whose fingerprint is already in the history, then
    * exact-dedup the survivors within the batch (keep lowest id), so the
    * output is directly appendable to both the corpus and the history.
    *
    * Scale: the history is all prior content — far too big to broadcast —
    * so membership is a plain shuffle anti-join on the 16-byte fp; the
    * batch side computes fp in the scan stage and shuffles (fp, id), text
    * stays columnar until the final semi-join re-read. Within-batch
    * keep-min is the q21 groupBy reusing the anti-join's fp partitioning
    * (no extra exchange).
    */
  def dedupAgainstHistory(docs: DataFrame, historyFps: DataFrame): DataFrame = {
    val withFp = docs.select(col("doc_id"),
      md5(normText(col("text")).cast("binary")).as("fp"))
    val fresh = withFp.join(historyFps.select("fp"), Seq("fp"), "left_anti")
    val keep = fresh.groupBy("fp").agg(min("doc_id").as("doc_id"))
    docs.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      .orderBy("doc_id")
  }

  /** Key-hashed repartition at the full configured width — pins CPU
    * parallelism for the inverted-index self-joins. These stages are
    * CPU-quadratic per key group on small BYTE volumes, so AQE's
    * byte-targeted coalescing (`graft.Session`'s posture) would serialize
    * exactly the work that must stay wide; a USER repartition is exempt from
    * coalescing, and hashing by the join key lets the self-join reuse
    * the exchange on both sides (no extra shuffle). Width follows the
    * configured shuffle width, so a 100 TB cluster widens with its
    * config instead of pinning a local constant.
    */
  private[ops] def wideBy(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(shuffleWidth(df.sparkSession), keys: _*)

  /** Spread CPU-heavy per-document work across the cluster: a small
    * parquet table often arrives as one partition (single row group), which
    * would serialize the whole shingle/hash stage on one core; documents
    * also vary 10× in length, so round-robin rebalancing helps even at
    * scale. The shuffled payload is just the raw text — cheap next to the
    * per-doc compute it balances.
    */
  private def balanced(documents: DataFrame): DataFrame =
    // Explicit round-robin width = max(core count, configured shuffle
    // width). Not the argless AQE REBALANCE: AQE sizes partitions by
    // BYTES, and these stages are CPU-bound on small byte volumes
    // (shingling/hashing of text), so byte-targeted coalescing would
    // serialize the compute the call exists to spread. The width is NOT
    // probed from `df.rdd.getNumPartitions` — under AQE, `.rdd` forces the
    // adaptive plan to materialize, eagerly RUNNING every upstream shuffle
    // stage just to read a count, and the repartition then recomputes the
    // same work (double-execution for any non-scan input). A cluster tuned
    // for 100 TB sets shuffle.partitions in the thousands, which this
    // width follows — so a wide upstream is not narrowed in practice.
    documents.repartition(shuffleWidth(documents.sparkSession))

  /** Distinct token n-gram shingles per document (one-pass native kernel;
    * empty array when the document has fewer than n tokens).
    */
  def shingleSets(documents: DataFrame, n: Int = 3): DataFrame =
    shinglesOf(balanced(documents), n)

  private def shinglesOf(parted: DataFrame, n: Int): DataFrame = {
    GraftFunctions.register(parted.sparkSession)
    parted.select(col("doc_id"),
      GraftFunctions.shingles(col("text"), n).as("shingles"))
  }

  /** Document-frequency census of the shingle universe: the top-k most
    * ubiquitous n-gram shingles across the corpus — boilerplate headers,
    * license blocks, navigation chrome. This is the OBSERVABILITY face of
    * the `maxDf` skew guard: what a cap at X would drop is exactly what
    * this surfaces, so a pipeline owner reads this census before arming
    * the cap instead of guessing. Ties at the k-th df break on shingle
    * text, so the cut is deterministic.
    *
    * Scale shape: explode → two-level count (partial agg map-side — the
    * hottest shingle contributes ONE row per map task, the same
    * no-hot-reducer property the guard itself relies on) → global top-k
    * (`TakeOrderedAndProject`: per-partition heaps, k rows to the driver).
    */
  def hotShingles(documents: DataFrame, n: Int = 3,
                  topK: Int = 20): DataFrame =
    shingleSets(documents, n)
      .select(explode(col("shingles")).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle").asc)
      .limit(topK)

  /** Duplication-depth histogram: group documents by the exact-dedup
    * fingerprint (normalized text, the q21 key), then count GROUPS per
    * group size — "how deep does duplication run" in one small table
    * (size 1 = unique, the tail = heavy re-posts). The observability
    * face of exact dedup, read before choosing keep-one vs weighting.
    * Two stacked two-level counts: nothing larger than (fp, count)
    * crosses the wire, and the output is ≤ max-group-size rows.
    */
  def dupGroupHistogram(documents: DataFrame): DataFrame =
    documents
      .select(md5(Text.normText(col("text")).cast("binary")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_groups"))
      .orderBy("sz")

  /** Distinct (source, shingle) membership — the inverted census the
    * two source-curation views below share. Distinct per source, not per
    * doc: a shingle repeated across a source's documents counts once.
    */
  private def sourceShingles(documents: DataFrame, n: Int): DataFrame =
    shingleSets(documents.select(col("doc_id"), col("source"),
        col("text")), n)
      .join(documents.select("doc_id", "source"), "doc_id")
      .select(col("source"), explode(col("shingles")).as("sh"))
      .distinct()

  /** Marginal source novelty: per source (in source-name order), the
    * distinct shingles it contains, how many it contributes FIRST (i.e.
    * appear in no earlier-named source), and the cumulative novel count
    * — the "what does adding this source actually buy" curve a corpus
    * curator reads before paying to ingest it. Attribution is
    * min(source), so the census is order-deterministic and exact.
    *
    * Scale shape: one distinct on (source, shingle) partials, one
    * min-aggregate on the shingle, two source-sized aggregates and a
    * |sources|-row cumulative window — the corpus-sized stages are all
    * partial-agg exchanges, and nothing keyed hotter than a shingle's
    * source set crosses the wire.
    */
  def sourceNovelty(documents: DataFrame, n: Int = 3): DataFrame = {
    val ss = sourceShingles(documents, n)
    val nDist = ss.groupBy("source").agg(count(lit(1)).as("n_distinct"))
    val nNew = ss.groupBy("sh").agg(min("source").as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_new"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("source")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    nDist.join(nNew, Seq("source"), "left")
      .na.fill(0L, Seq("n_new"))
      .withColumn("cum_new", sum("n_new").over(w))
      .orderBy("source")
  }

  /** Pairwise source overlap matrix: for every source pair (a < b), the
    * number of distinct shingles both contain — which sources duplicate
    * each other, the first question of any source-mix dedup decision.
    * The self-join keys on the shingle (inverted-index shape): a
    * shingle in k sources contributes k·(k−1)/2 pairs, bounded by the
    * source count squared, never by corpus size.
    *
    * `maxSourceDf` is the hot-shingle guard (the `jaccardPairs` maxDf
    * convention, default ∞): a near-universal shingle — boilerplate is
    * by nature in EVERY source — contributes C(k,2) pairs at k sources,
    * and millions of such shingles at 10⁴ sources multiply a 5×10⁷
    * fan-out each. Dropping shingles present in more than `maxSourceDf`
    * sources before the self-join removes exactly the rows that carry no
    * curation signal ("everything overlaps on boilerplate") — the capped
    * matrix counts only shingles whose source set is selective. The
    * over-cap list is at most |pairs|/maxSourceDf shingles, so AQE
    * broadcasts the anti-join; `Long.MaxValue` skips the plumbing
    * entirely (exact matrix, the oracle instance).
    */
  def sourceOverlap(documents: DataFrame, n: Int = 3,
                    maxSourceDf: Long = Long.MaxValue): DataFrame = {
    val ss0 = sourceShingles(documents, n)
    val ss =
      if (maxSourceDf == Long.MaxValue) ss0
      else {
        // ss0 is distinct (source, shingle), so count(*) per shingle IS
        // the shingle's source-df
        val overCap = ss0.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxSourceDf)
          .select("sh")
        ss0.join(overCap, Seq("sh"), "left_anti")
      }
    ss.as("a").join(ss.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("src_a", "src_b")
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minOverlap` distinct n-gram shingles with the benchmark set — the
    * standard pre-training leakage check (did an eval question's text end
    * up in the training corpus?). Membership is against the benchmark's
    * shingle UNIVERSE (union over its documents): the question "which
    * benchmark doc leaked" matters less than "is this training doc
    * tainted", and the union form needs no per-pair state.
    *
    * Scale shape: the benchmark side is eval sets — tiny next to the
    * corpus — so its distinct shingles broadcast (AQE picks it; no hint
    * needed) and the corpus postings stream through a broadcast semi
    * filter: the only shuffle is the per-doc count of SURVIVING postings,
    * which is bounded by actual contamination, not corpus size. Shingle
    * sets are per-doc distinct by construction, so `count(*)` after the
    * join IS the distinct-overlap count.
    */
  def contaminatedDocs(corpus: DataFrame, benchmark: DataFrame, n: Int = 3,
                       minOverlap: Long = 1L): DataFrame = {
    val c = shingleSets(corpus, n)
      .select(col("doc_id"), explode(col("shingles")).as("item"))
    val b = shingleSets(benchmark, n)
      .select(explode(col("shingles")).as("item")).distinct()
    c.join(b, Seq("item"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
      .orderBy("doc_id")
  }

  /** Keep-BEST exact dedup: among exact duplicates (same normalized-text
    * fingerprint — the q21 key), keep the row MAXIMIZING a caller score
    * (ties → lowest doc_id) instead of blindly keeping the first. The
    * real-world dedup decision: duplicate groups usually contain a most
    * complete / highest-quality variant (longest body, best source), and
    * keep-first throws it away whenever it isn't the lowest id.
    *
    * Pure two-level aggregate — `max(struct(score, −doc_id))` is an
    * argmax with a deterministic tie, combiner-friendly (each map task
    * contributes one partial per fingerprint), NO per-group window and no
    * sort: strictly better scale shape than the row_number form the
    * oracle uses (oracle scale doesn't care; 100 TB does).
    */
  def keepBestExact(documents: DataFrame, score: Column): DataFrame =
    documents
      .select(md5(normText(col("text"))).as("fp"), col("doc_id"),
        score.cast("long").as("score"))
      .groupBy("fp")
      .agg(max(struct(col("score"), (-col("doc_id")).as("neg_id")))
        .as("best"))
      .select(col("fp"), (-col("best.neg_id")).as("doc_id"),
        col("best.score").as("score"))
      .orderBy("fp")

  /** Cross-source duplication MATRIX: near-dup pairs attributed to
    * their (source_a, source_b) cell — the acquisition report behind
    * "these two crawls are mirrors of each other; stop paying for
    * both". Takes ANY pair proposer's (id_a, id_b) output; cells are
    * unordered (lexicographic least/greatest), the diagonal is
    * within-source duplication.
    *
    * Shape: two id-keyed joins from the (small, duplication-bounded)
    * pair list to the (doc_id, source) projection, then a
    * |sources|²-bounded count. The corpus is scanned once for the
    * projection; text never moves.
    */
  def sourceDupMatrix(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val src = documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"),
        col("source").as("__sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"),
        col("source").as("__sb")), "id_b")
      .groupBy(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** GOLDEN-RECORD merge over exact-duplicate groups — field-level
    * survivorship where `keepBestExact` is row-level: within each
    * normalized-text fingerprint group, each field takes its own best
    * value (completeness: max n_chars; consensus: the modal lang and
    * source, ties to the lexicographically smallest) instead of
    * inheriting everything from one winner row. The MDM "merge the
    * variants" primitive a crawl dedup applies to metadata that
    * disagrees across mirrors of the same content.
    *
    * All-aggregate: the mode is a two-level (fp, field) count + an
    * argmax via `min(struct(−cnt, value))` — combiner-friendly, no
    * window, the keepBestExact discipline.
    */
  def goldenRecord(documents: DataFrame): DataFrame = {
    val keyed = documents.select(
      md5(normText(col("text"))).as("fp"), col("doc_id"),
      col("lang"), col("source"), col("n_chars"))
    val base = keyed.groupBy("fp")
      .agg(min("doc_id").as("golden_id"), count(lit(1)).as("n_members"),
        max(col("n_chars").cast("long")).as("n_chars_max"))
    def mode(field: String) = keyed
      .groupBy(col("fp"), col(field))
      .agg(count(lit(1)).as("__c"))
      .groupBy("fp")
      .agg(min(struct((-col("__c")).as("__nc"), col(field).as("__v")))
        .as("__best"))
      .select(col("fp"), col("__best.__v").as(s"${field}_mode"))
    base.join(mode("lang"), "fp").join(mode("source"), "fp")
      .select(col("fp"), col("golden_id"), col("n_members"),
        col("n_chars_max"), col("lang_mode"), col("source_mode"))
      .orderBy("fp")
  }

  /** Contamination SPAN coverage — the fine-grained face of
    * `contaminatedDocs`: for every corpus document touching the benchmark
    * shingle universe, the fraction of its token POSITIONS lying inside
    * at least one contaminated n-gram. `contaminatedDocs` answers "is
    * this doc tainted"; this answers "HOW MUCH of it" — the number that
    * separates a doc quoting one eval question (strip or keep) from a
    * verbatim eval-set dump (drop), which a shingle COUNT conflates when
    * overlapping shingles pile onto the same short span.
    *
    * Positional shingles come from a sequence/slice projection (0-based
    * start `i`, tokens `[i, i+n)`); a hit covers positions `i .. i+n−1`;
    * coverage = |∪ hit spans| / n_tokens, counted exactly via a distinct
    * position explode. `coverage` is the exact rational of two integers —
    * bit-identical cross-engine.
    *
    * Scale shape: same as `contaminatedDocs` — the benchmark universe
    * broadcasts, corpus postings stream through the broadcast join, and
    * the position explode (×n) runs on HITS only, bounded by actual
    * contamination, never corpus size.
    */
  def contaminationCoverage(corpus: DataFrame, benchmark: DataFrame,
                            n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    // positional grams via the ONE shared construction (Text
    // .positionalGrams — it owns the generate-pushdown discipline this
    // operator's 8.5 s → 1.7 s fix established)
    val c = Text.positionalGrams(balanced(corpus), n)
      .withColumnRenamed("gram", "item")
    val b = shingleSets(benchmark, n)
      .select(explode(col("shingles")).as("item")).distinct()
    c.join(b, Seq("item"))
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("p"))
      .groupBy("doc_id", "n_tokens")
      .agg(countDistinct(col("p")).as("n_covered"))
      .select(col("doc_id"), col("n_tokens"), col("n_covered"),
        (col("n_covered").cast("double") /
          col("n_tokens").cast("double")).as("coverage"))
      .orderBy("doc_id")
  }

  /** FUZZY decontamination pairs — directed containment of a BENCHMARK
    * document inside a corpus document: (corpus_id, bench_id) where at
    * least `minPermille`/1000 of the benchmark doc's distinct n-gram
    * shingles also occur in the corpus doc. The threshold face of the
    * q69/q126 family: `contaminatedDocs` gates on an ABSOLUTE shared-
    * shingle count (one quoted question trips it as easily as a dump),
    * while this normalizes by the benchmark doc's own size — the
    * Dolma/Llama-style "≥τ of the eval item appears verbatim" rule that
    * survives light paraphrase/reformatting where exact-membership
    * decontamination (q69) goes blind. The decision is integer-exact
    * (`n_inter · 1000 ≥ minPermille · n_b`) and the output carries the
    * evidence columns, the q118 discipline.
    *
    * Scale shape: the benchmark side is eval-set-sized and BROADCASTS as
    * postings; corpus postings stream through the broadcast join and
    * collapse to per-(corpus, bench) counts with map-side partials —
    * work is bounded by actual overlap, never corpus × benchmark.
    */
  def benchmarkContainment(corpus: DataFrame, benchmark: DataFrame,
                           n: Int = 3,
                           minPermille: Long = 800L): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minPermille >= 1 && minPermille <= 1000,
      s"minPermille must be in [1, 1000], got $minPermille")
    val c = shingleSets(corpus, n)
      .select(col("doc_id").as("corpus_id"),
        explode(col("shingles")).as("item"))
    val bSets = shingleSets(benchmark, n)
      .select(col("doc_id").as("bench_id"), col("shingles"))
    val bSizes = bSets
      .select(col("bench_id"), size(col("shingles")).cast("long").as("n_b"))
      .filter(col("n_b") > 0)
    val b = bSets.select(col("bench_id"), explode(col("shingles")).as("item"))
    c.join(broadcast(b), Seq("item"))
      .groupBy("corpus_id", "bench_id").agg(count(lit(1)).as("n_inter"))
      .join(broadcast(bSizes), "bench_id")
      .filter(col("n_inter") * 1000L >= lit(minPermille) * col("n_b"))
      .select(col("corpus_id"), col("bench_id"), col("n_inter"), col("n_b"))
      .orderBy("corpus_id", "bench_id")
  }

  /** Exact n-gram Jaccard pairs via inverted-index join: explode
    * (doc, shingle), self-join on shingle to count intersections, then
    * |A∪B| = |A|+|B|−|A∩B|. Only docs sharing ≥1 shingle are ever paired.
    * `maxDf` drops ubiquitous shingles before the join — the skew guard
    * that keeps the hottest shingle from creating a quadratic bucket at
    * scale (df-capped shingles can only lower Jaccard below exact for
    * pairs that were never candidates anyway at sensible caps).
    */
  def jaccardPairs(documents: DataFrame, n: Int = 3,
                   threshold: Double = 0.2,
                   maxDf: Long = 10000L): DataFrame =
    pairsBySetOverlap(shingleSets(documents, n), "shingles", threshold, maxDf)

  /** Exact-dup rate under each CANONICALIZATION variant — the
    * sensitivity table behind the q21 fingerprint choice: raw bytes,
    * lowercase, whitespace-collapse, and the composed form (the q21
    * production fingerprint) each produce a different duplicate set,
    * and the deltas between rows say what each normalization step is
    * worth (a large lower→collapse jump means the corpus's duplication
    * hides behind formatting, not casing). One row per variant:
    * distinct fingerprints, docs in >1-member groups, dup share.
    *
    * Scale shape: one scan computing all fingerprints, then one keyed
    * partial agg per variant (|variants| is a plan constant) unioned
    * into a |variants|-row table. n_docs is derived IN-PLAN as sum(c)
    * over each variant's fingerprint census (every doc lands in exactly
    * one group, so Σc = corpus size) — no eager count() action at
    * plan-construction time (r17 ADVICE). All md5 over deterministic
    * string transforms — engine-portable by the q21 device.
    */
  def normalizationSensitivity(documents: DataFrame): DataFrame = {
    val variants: Seq[(String, Column => Column)] = Seq(
      "1_raw" -> identity,
      "2_lower" -> (t => lower(t)),
      "3_collapse_ws" -> (t => regexp_replace(trim(t), Text.ws, " ")),
      "4_lower_collapse" -> (t => Text.normText(t)))
    variants.map { case (name, f) =>
      documents
        .select(md5(f(col("text")).cast("binary")).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_fingerprints"),
          coalesce(sum(col("c")), lit(0L)).as("n_docs"),
          coalesce(sum(when(col("c") > 1, col("c"))), lit(0L))
            .as("n_dup_docs"))
        .select(lit(name).as("variant"), col("n_docs"),
          col("n_fingerprints"), col("n_dup_docs"),
          expr("cast(cast(n_dup_docs as decimal(38,0)) * 1000" +
            " div greatest(n_docs, 1) as bigint)").as("dup_pm"))
    }.reduce(_ unionByName _).orderBy("variant")
  }

  /** Keep-policy comparison over the exact-dup groups: for each survivor
    * rule — keep-FIRST (smallest doc_id, the q21 default), keep-LONGEST
    * (max n_chars), keep-BEST (max q92 quality score) — the surviving
    * corpus's size, character mass, and total quality score. Every
    * policy keeps exactly one row per fingerprint group, so n_survivors
    * is identical across rows; the sum_chars/sum_score deltas ARE the
    * decision: they price what keep-first throws away against what
    * keep-best preserves, before a 100 TB deletion commits to a rule.
    *
    * Scale shape: one fingerprint scan into THREE struct-argmax partial
    * aggs (combiner-friendly, the q130 device — no window, no pair
    * stage), each folded to one row and unioned into a 3-row table.
    */
  def keepPolicyComparison(documents: DataFrame): DataFrame = {
    val scored = graft.ops.Text.qualityClassify(documents)
      .select(col("doc_id"), col("score"))
    val base = documents
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        md5(graft.ops.Text.normText(col("text")).cast("binary"))
          .as("fp"))
      .join(scored, "doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // struct-argmax per policy: max(struct(key…, payload…)) keeps the
    // row with the largest key; -doc_id breaks every tie toward the
    // SMALLEST id, so each policy is a pure function of the data
    def survivors(policy: String, key: Column): DataFrame =
      base.groupBy("fp")
        .agg(max(struct(key.as("k"), (-col("doc_id")).as("nid"),
          col("n_chars").as("nc"), col("score").as("sc"))).as("w"))
        .agg(count(lit(1)).as("n_survivors"),
          sum(col("w.nc")).as("sum_chars"),
          sum(col("w.sc")).as("sum_score"))
        .select(lit(policy).as("policy"), col("n_survivors"),
          col("sum_chars"), col("sum_score"))
    survivors("1_first", lit(0L))
      .unionByName(survivors("2_longest", col("n_chars")))
      .unionByName(survivors("3_best_quality", col("score").cast("long")))
      .orderBy("policy")
  }

  /** Dedup-rate-vs-threshold curve in ONE pair-stage pass: for each
    * candidate threshold t (permille), how many near-dup pairs and how
    * many distinct affected documents the corpus has at exact n-gram
    * Jaccard ≥ t/1000. This is the table a curator reads to PICK the
    * dedup threshold before committing a 100 TB deletion — q305 plans
    * the LSH parameters FOR a chosen threshold; this shows what each
    * choice costs in corpus mass — and the whole sweep reuses a single
    * scored pair list, not one pair stage per threshold.
    *
    * Integer-exact: jac_pm = ⌊inter·1000 / union⌋, and for an integer
    * permille threshold t, jac_pm ≥ t ⟺ inter·1000 ≥ t·union ⟺
    * J ≥ t/1000 — the floor loses nothing against integer thresholds,
    * so both engines agree bit-for-bit with no double comparisons.
    *
    * Scale shape: ONE df-capped inverted-index pair join at the LOWEST
    * swept threshold (the q22 bucketed regime — never all-pairs), then a
    * |thresholds|-explode over the surviving pair list (pair-bounded,
    * ≪ corpus at sensible minimum thresholds) into two keyed partial
    * aggs; the output is |thresholds| rows, dense (zero-count thresholds
    * still emit).
    */
  def dupThresholdSweep(documents: DataFrame, n: Int = 3,
                        thresholdsPm: Seq[Int] =
                          Seq(200, 400, 600, 800, 950),
                        maxDf: Long = 10000L): DataFrame = {
    require(thresholdsPm.nonEmpty &&
        thresholdsPm.forall(t => t >= 1 && t <= 1000),
      "thresholds are permille in [1, 1000], got " +
        thresholdsPm.mkString(", "))
    val ts = thresholdsPm.distinct.sorted
    val (items, sizes) =
      cappedInvertedIndex(shingleSets(documents, n), "shingles", maxDf)
    val scored = withSizes(postingsCensus(items, items, undirected), sizes,
        sizes)
      .withColumn("jac_pm",
        expr("inter * 1000 div (sz_a + sz_b - inter)"))
      .filter(col("jac_pm") >= ts.head)
      .select("id_a", "id_b", "jac_pm")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val perT = scored
      .withColumn("t_pm", explode(typedLit(ts)))
      .filter(col("jac_pm") >= col("t_pm"))
    val nPairs = perT.groupBy("t_pm").agg(count(lit(1)).as("n_pairs"))
    val nDocs = perT
      .select(col("t_pm"),
        explode(array(col("id_a"), col("id_b"))).as("doc"))
      .groupBy("t_pm").agg(countDistinct("doc").as("n_docs"))
    documents.sparkSession.range(1)
      .select(explode(typedLit(ts)).as("t_pm"))
      .join(nPairs, Seq("t_pm"), "left")
      .join(nDocs, Seq("t_pm"), "left")
      .select(col("t_pm"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("t_pm")
  }

  /** `jaccardPairs` with PREFIX FILTERING (the AllPairs/PPJoin device —
    * Bayardo et al. WWW'07; Xiao et al. WWW'08): order every document's
    * shingles by one global (df asc, shingle) canonical order, index only
    * each document's first `sz − ⌈t·sz⌉ + 1` shingles, and generate
    * candidates from the PREFIX postings alone — if J(x, y) ≥ t, the two
    * prefixes must share at least one shingle under any common total
    * order, so the candidate set provably contains every qualifying pair.
    * Candidates are then verified with EXACT intersection on the full
    * sets, so the output equals `jaccardPairs` at the same threshold
    * verbatim (q298 runs against the exact q22 oracle).
    *
    * Why it exists next to the df-cap: the cap bounds the quadratic
    * blowup by DROPPING hot shingles (changes the score's universe);
    * prefix filtering is LOSSLESS — at t = 0.8 only ~20% of each
    * posting list is indexed and the hottest (highest-df) shingles land
    * at the END of the canonical order, exactly where prefixes rarely
    * reach, so the candidate join shrinks without touching semantics.
    * The two compose: the cap stays available as the skew rail.
    *
    * Scale shape: the df census and rarest-first rank are a partial agg
    * plus a per-document window (partitions bounded by document size,
    * never corpus size); the candidate join is keyed on the prefix
    * shingle (posting lists ≤ the full index's, typically ≪); the
    * verify stage is PAYLOAD-LIGHT (r17 verdict item 1) — Jaccard needs
    * only |A∩B| and the two set sizes, so the full postings are
    * semi-joined down to docs appearing in some candidate pair and the
    * intersection is a partial-agg COUNT keyed on the pair
    * (`countVerify` over the shared `postingsCensus`): the verify
    * shuffle carries (id_a, id_b, partial count) rows, never KB-sized
    * shingle arrays (the r17 form shipped full arrays per pair and was
    * the lone super-output x64 row — 121× wall for 64× output, OOM at
    * the default heap).
    */
  def jaccardPairsPrefix(documents: DataFrame, n: Int = 3,
                         threshold: Double = 0.2): DataFrame = {
    val tpm = prefixPermille(threshold)
    val sets = shingleSets(documents, n)
      .filter(size(col("shingles")) > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // force before fan-out: items, sizes and the verify pass all read
    // this cache; an unforced persist materializing inside one job is
    // computed once per concurrent subtree (cache-population race)
    sets.count()
    val (items, sizes) = postingsOf(sets)
    val dfc = items.groupBy("item").agg(count(lit(1)).as("__df"))
    // width-pinned before the rank window: the per-doc sort is
    // CPU-bound on small bytes and the window reuses this exchange;
    // unlike the index-build path (whose window feeds a bucketed WRITE
    // and must stay narrow — see rankedByFrozen) this output lands
    // in a persist, so the pin has no file fan-out to pay
    val prefix = prefixUnderCensus(
        wideBy(items.join(dfc, "item"), col("doc_id")), sizes, tpm)
      // item-hashed at full width before the cache: the candidate
      // self-join below is CPU-quadratic per shingle group and must not
      // be byte-coalesced (see wideBy)
      .transform(df => wideBy(df, col("item")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // force: the candidate self-join reads prefix from TWO subtrees —
    // unforced, the posting build ran once per side inside cand's job
    prefix.count()
    val cand = sharedItemPairs(prefix, prefix, undirected, PairIds)
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // force the candidate set NOW so the corpus-sized prefix postings can
    // be released before the caller materializes the verify plan (r18
    // ADVICE: un-released intermediates accumulated across calls in a
    // long-lived session and drove the mixed-run x64 OOM). The verify
    // below references `prefix` only THROUGH `cand`, so once cand's
    // blocks exist the postings cache is dead weight; on executor loss
    // cand recomputes from lineage (slower, still correct).
    cand.count()
    prefix.unpersist(blocking = false)
    // the verify reads the FULL postings of docs in some candidate pair
    // (a semi-join — no payload widening), one frame for both sides
    val candDocs = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id")))
      .distinct()
    val post = items.join(candDocs, Seq("doc_id"), "left_semi")
    countVerify(cand, post, post, sizes, sizes, undirected, PairIds,
      threshold)
  }

  /** INCREMENTAL near-dup detection: the NEW drop checked against the
    * EXISTING corpus — the asymmetric face of `jaccardPairsPrefix`, and
    * the near-dup counterpart of q82's exact `dedupAgainstHistory`. A
    * production pipeline never re-pairs 100 TB of history against
    * itself; the pair stage a daily ingest actually runs is
    * new × history. Same lossless AllPairs/PPJoin device: ONE df census
    * and rarest-first canonical order over the WHOLE corpus (both sides
    * must share the total order or the prefix guarantee breaks — the
    * cross-pair property "J(x,y) ≥ t ⇒ prefixes share a shingle" holds
    * for any pair under a common order, sides included), prefix
    * postings joined ACROSS sides only (never new×new, never
    * hist×hist), then the payload-light q298 count verify. Output:
    * every (new_id, hist_id) pair at exact n-gram Jaccard ≥ t — the
    * detection table a curator reviews before the drop commits (exact
    * duplicates surface here too, at jaccard 1).
    *
    * Scale shape: the history side's prefix postings are the INDEX (at
    * corpus scale: built once, stored bucketed by shingle; here derived
    * in-plan); the candidate join is keyed on the prefix shingle and
    * costs ∝ the drop's posting volume, never history². The verify
    * shuffles (new_id, hist_id, partial count) rows only.
    */
  def jaccardAgainstHistoryPrefix(documents: DataFrame,
                                  historyIds: DataFrame, n: Int = 3,
                                  threshold: Double = 0.2): DataFrame = {
    val tpm = prefixPermille(threshold)
    val sets = shingleSets(documents, n)
      .filter(size(col("shingles")) > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hist = historyIds.select(col("doc_id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (items, sizes) = postingsOf(sets)
    val dfc = items.groupBy("item").agg(count(lit(1)).as("__df"))
    // width-pinned before the rank window (the jaccardPairsPrefix
    // note: persist-bound output, no write fan-out)
    val prefix = prefixUnderCensus(
        wideBy(items.join(dfc, "item"), col("doc_id")), sizes, tpm)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val prefNew = prefix.join(hist, Seq("doc_id"), "left_anti")
    val prefHist = prefix.join(hist, Seq("doc_id"), "left_semi")
    val cand = sharedItemPairs(prefNew, prefHist, crossSide, CrossIds)
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // force candidates, release the postings + history-id caches (dead
    // once cand's blocks exist — the jaccardPairsPrefix release note)
    cand.count()
    prefix.unpersist(blocking = false)
    hist.unpersist(blocking = false)
    val postNew = items.join(
      cand.select(col("new_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    val postHist = items.join(
      cand.select(col("hist_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    countVerify(cand, postNew, postHist, sizes, sizes, crossSide, CrossIds,
      threshold)
  }

  /** ---- Near-dup index LIFECYCLE (q374/q375/q376) ----
    *
    * The persisted near-dup index is a PAIR of catalog tables derived
    * from the history corpus:
    *
    *   - `<indexTable>`    — the history docs' prefix postings
    *     (doc_id, item), hash-bucketed on the shingle (the q315
    *     writeBucketed economics): candidate joins never exchange this
    *     side;
    *   - `<indexTable>_df` — the FROZEN document-frequency census
    *     (item, __df) the postings' canonical rarest-first order was
    *     computed under, bucketed the same way. Every later append and
    *     every query computes its prefixes under THIS census (unseen
    *     shingles at df 0 — rarest, consistently on both sides), so all
    *     postings in the table share one total order forever and the
    *     prefix-filter lemma keeps the candidate set LOSSLESS no matter
    *     how many drops have been appended.
    *
    * DESTRUCTIVE: `neardupIndexBuild` DROPS and rewrites both tables.
    * Callers must pass an EXPLICIT table name and must not share one
    * name across concurrent runs or datasets in a session (r18 ADVICE:
    * a shared default silently clobbered cross-run state) — the query
    * registrations each own a distinct `qNNN_`-prefixed name.
    *
    * Freshness contract: losslessness never decays (any shared total
    * order works), but EFFICIENCY does — the frozen order's
    * rarest-first property drifts as real df grows, so prefixes slowly
    * stop holding the rarest shingles and candidate volume inflates.
    * `neardupIndexStaleness` measures that drift with planner-style
    * integer permille arithmetic (the q305 convention) and flags when
    * to requalify (= rebuild under a fresh census).
    */

  /** The one prefix builder, shared by the in-memory operators
    * (`jaccardPairsPrefix`, `jaccardAgainstHistoryPrefix`) and the index
    * lifecycle (build, append, query): each document's first
    * `sz − ⌈t·sz⌉ + 1` items in the canonical (df asc, item) order. All
    * postings compared against each other MUST come from one census, or
    * the shared-total-order lossless guarantee breaks.
    *
    * `ranked` is the (doc_id, item, __df) frame of the items already
    * joined to that census, so its partitioning stays the caller's
    * measured choice: the in-memory callers pin it `wideBy(doc_id)`
    * (their prefixes land in a persist), the index callers pass
    * `rankedByFrozen` unpinned (their prefixes feed bucketed writes).
    * `tpm` is `prefixPermille(threshold)`; `sizes` is (doc_id, sz).
    */
  private def prefixUnderCensus(ranked: DataFrame, sizes: DataFrame,
                                tpm: Long): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("__df"), col("item"))
    ranked
      .withColumn("__pos", row_number().over(wDoc))
      .join(sizes, "doc_id")
      .filter(col("__pos") <=
        col("sz") - expr(s"(${tpm}L * sz + 999L) div 1000L") + 1)
      .select(col("doc_id"), col("item"))
  }

  /** The prefix length's threshold in integer permille. The ceiling
    * ⌈t·sz⌉ is taken in INTEGER permille arithmetic: a double
    * ceil(0.2 · sz) can land one above the true ceiling (0.2 is not
    * binary-exact), silently shortening the prefix — and a too-short
    * prefix LOSES qualifying pairs. The quantization itself rounds DOWN:
    * floor keeps tpm/1000 ≤ t, so ceil(tpm·sz/1000) ≤ ceil(t·sz) and the
    * prefix stays ≥ the lossless length (round() could round UP —
    * 0.1995 → 200‰ — overshooting the true ceiling and dropping
    * qualifying pairs); the verify filters on the exact double
    * threshold, so a longer prefix only costs candidates, never
    * correctness.
    */
  private def prefixPermille(threshold: Double): Long = {
    require(threshold > 0 && threshold <= 1,
      s"need 0 < threshold <= 1, got $threshold")
    math.floor(threshold * 1000).toLong
  }

  /** `items` ranked against a FROZEN census (item, __df): shingles the
    * census never saw rank at df 0 — rarest, consistently on every side.
    *
    * NOT width-pinned (r20, measured): a wideBy(doc_id) pin here
    * regressed the whole lifecycle family ~20% — the window exchange
    * feeds bucketed WRITES downstream, and a 32-partition window fans
    * each write into width×buckets files whose footer overhead every
    * later candidate join then pays. The window's own sort is
    * drop-sized; letting AQE coalesce it is the cheaper shape.
    */
  private def rankedByFrozen(items: DataFrame,
                             frozen: DataFrame): DataFrame =
    items.join(frozen, Seq("item"), "left")
      .withColumn("__df", coalesce(col("__df"), lit(0L)))

  private def setsItemsSizes(documents: DataFrame, ids: DataFrame,
                             n: Int,
                             corpusSets: Option[DataFrame] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    // corpusSets: a pre-shingled (and typically persisted) (doc_id,
    // shingles) frame for the WHOLE corpus — the lifecycle queries call
    // build/append/detect back to back, and without sharing, each phase
    // re-ran the tokenize+shingle scan over its slice (~a full corpus
    // pass per query in aggregate, r19). Slicing the shared frame by a
    // semi-join is result-identical to shingling the slice.
    val sets = (corpusSets match {
      case Some(cs) =>
        cs.join(ids.select("doc_id"), Seq("doc_id"), "left_semi")
      case None => shingleSets(
        documents.join(ids.select("doc_id"), Seq("doc_id"), "left_semi"), n)
    }).filter(size(col("shingles")) > 0)
    val (items, sizes) = postingsOf(sets)
    (sets, items, sizes)
  }

  /** Build (or destructively REBUILD) the near-dup index over
    * `historyIds`: census the history's shingle df, freeze it as
    * `<indexTable>_df`, and write the history prefix postings under that
    * census as `<indexTable>`. The once-per-corpus shuffle; every drop
    * afterwards pays only its own volume (`neardupIndexAppend`).
    */
  def neardupIndexBuild(documents: DataFrame, historyIds: DataFrame,
                        indexTable: String, n: Int = 3,
                        threshold: Double = 0.2, buckets: Int = 8,
                        corpusSets: Option[DataFrame] = None): Unit = {
    val tpm = prefixPermille(threshold)
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(indexTable.nonEmpty,
      "indexTable must be explicit, got an empty name")
    val (sets, items, sizes) =
      setsItemsSizes(documents, historyIds, n, corpusSets)
    val cached = sets.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dfc = items.groupBy("item").agg(count(lit(1)).as("__df"))
      Bucketing.writeBucketed(dfc, s"${indexTable}_df", "item", buckets)
      // the prefix pass reads the census back from the BUCKETED table,
      // not an in-memory pin: the items⋈census join then rides the
      // table's bucket layout (no exchange, no sort on the census
      // side). An r20 attempt to share one in-memory census compute
      // measured ~neutral-to-worse and was reverted.
      val frozen = documents.sparkSession.table(s"${indexTable}_df")
      Bucketing.writeBucketed(
        prefixUnderCensus(rankedByFrozen(items, frozen), sizes, tpm),
        indexTable, "item", buckets)
    } finally { cached.unpersist(blocking = false); () }
  }

  /** Append a committed drop's prefix postings to an existing index —
    * the drop-proportional maintenance operation (never re-shuffles or
    * re-censuses history). Prefixes are computed under the index's
    * FROZEN census, so the appended postings share the table's total
    * order and detection stays lossless. The frozen census itself is
    * untouched — staleness (below) tells the owner when the accumulated
    * drift warrants a rebuild.
    */
  def neardupIndexAppend(documents: DataFrame, dropIds: DataFrame,
                         indexTable: String, n: Int = 3,
                         threshold: Double = 0.2, buckets: Int = 8,
                         corpusSets: Option[DataFrame] = None): Unit = {
    val tpm = prefixPermille(threshold)
    val spark = documents.sparkSession
    val (sets, items, sizes) =
      setsItemsSizes(documents, dropIds, n, corpusSets)
    val cached = sets.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val frozen = spark.table(s"${indexTable}_df")
      // bucketed APPEND: one new file per bucket, same spec as the build
      // — the table's bucket metadata keeps candidate joins exchange-free
      prefixUnderCensus(rankedByFrozen(items, frozen), sizes, tpm)
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .bucketBy(buckets, "item").sortBy("item")
        .format("parquet").saveAsTable(indexTable)
    } finally { cached.unpersist(blocking = false); () }
  }

  /** Detect near-dups of `newIds` docs against everything IN the index
    * (original history + every appended drop): prefixes of the new docs
    * under the frozen census, candidate join against the bucketed
    * postings (no exchange on the index side), then the q298
    * payload-light exact count verify. Output (new_id, hist_id,
    * jaccard ≥ threshold) — identical to `jaccardAgainstHistoryPrefix`
    * over the same history set.
    */
  def jaccardAgainstIndex(documents: DataFrame, newIds: DataFrame,
                          indexTable: String, n: Int = 3,
                          threshold: Double = 0.2,
                          corpusSets: Option[DataFrame] = None): DataFrame = {
    val tpm = prefixPermille(threshold)
    val spark = documents.sparkSession
    // persist the DROP-sized shingle sets (items + sizes both derive
    // from them — the q53-regression guard); the residents this query
    // leaves cached are bounded by the drop and its matched history
    // docs, never the corpus (the r18 form cached corpus-wide postings)
    val (newSets, newItems, newSizes) =
      setsItemsSizes(documents, newIds, n, corpusSets)
    newSets.persist(StorageLevel.MEMORY_AND_DISK)
    val frozen = spark.table(s"${indexTable}_df")
    val cand = sharedItemPairs(
        prefixUnderCensus(rankedByFrozen(newItems, frozen), newSizes, tpm),
        spark.table(indexTable), crossSide, CrossIds)
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    cand.count()
    // full postings come from `documents` by id (both sides), never from
    // the prefix-only index
    val matchedHist = cand.select(col("hist_id").as("doc_id")).distinct()
    val (histSets, histItems, histSizes) =
      setsItemsSizes(documents, matchedHist, n, corpusSets)
    histSets.persist(StorageLevel.MEMORY_AND_DISK)
    val postNew = newItems.join(
      cand.select(col("new_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    countVerify(cand, postNew, histItems, newSizes, histSizes, crossSide,
      CrossIds, threshold)
  }

  /** Staleness report for a frozen index census: the current history df
    * (recomputed from `documents` for the doc_ids actually IN the index)
    * full-outer-joined against the frozen census, folded to one
    * integer-exact row. `drift_pm` = permille of posting mass whose df
    * changed (Σ|df_now − df_frozen| · 1000 div Σdf_frozen — the q305
    * planner-arithmetic convention); `requalify` flips when it passes
    * `driftBoundPm`. Losslessness never depends on this — the flag is
    * the EFFICIENCY rule for when the rarest-first order has decayed
    * enough that prefixes stop pruning and the index should be rebuilt.
    */
  def neardupIndexStaleness(documents: DataFrame, indexTable: String,
                            n: Int = 3,
                            driftBoundPm: Long = 200L,
                            corpusSets: Option[DataFrame] = None)
      : DataFrame = {
    val spark = documents.sparkSession
    val histNow = spark.table(indexTable).select("doc_id").distinct()
    val (_, items, _) = setsItemsSizes(documents, histNow, n, corpusSets)
    val dfNow = items.groupBy("item").agg(count(lit(1)).as("__now"))
    val frozen = spark.table(s"${indexTable}_df")
    frozen.join(dfNow, Seq("item"), "full_outer")
      .select(coalesce(col("__df"), lit(0L)).as("f"),
        coalesce(col("__now"), lit(0L)).as("c"))
      .agg(
        sum(when(col("f") > 0, 1L).otherwise(0L)).as("n_items_frozen"),
        sum(when(col("f") === 0, 1L).otherwise(0L)).as("n_items_new"),
        sum(col("f")).as("postings_frozen"),
        sum(col("c")).as("postings_now"),
        sum(abs(col("c") - col("f"))).as("df_drift"))
      .withColumn("drift_pm",
        expr("df_drift * 1000L div postings_frozen"))
      .withColumn("requalify", col("drift_pm") > driftBoundPm)
      .select(col("n_items_frozen").cast("long"),
        col("n_items_new").cast("long"),
        col("postings_frozen").cast("long"),
        col("postings_now").cast("long"),
        col("df_drift").cast("long"), col("drift_pm").cast("long"),
        col("requalify"))
  }

  /** Compact an appended index (q377): every `neardupIndexAppend` adds
    * one file per bucket, so k drops leave k+1 generations per bucket —
    * the candidate join stays exchange-free but each bucket read fans
    * over k+1 files (and their footers). Compaction rewrites the
    * postings into a fresh single-generation table and SWAPS it in:
    * write-new + rename, never read-and-overwrite in one plan (a
    * writeBucketed back onto `indexTable` would DROP the table its own
    * lazy lineage still has to read). Layout-only — contents, bucket
    * spec, and the frozen census are untouched (rebuild-on-drift is
    * staleness's job, not compaction's), so detection output is
    * invariant by construction and q375's oracle applies verbatim.
    *
    * Scale shape: one bucket-local read + one bucketed write of the
    * index volume — no wide shuffle (the read is already bucketed on
    * the write's key). Run it on the q307 small-file economics: when
    * per-bucket generation count × footer overhead outweighs one
    * sequential rewrite.
    */
  def neardupIndexCompact(spark: org.apache.spark.sql.SparkSession,
                          indexTable: String, buckets: Int = 8): Unit = {
    val tmp = s"${indexTable}_compacting"
    // repartition on the BUCKET-ID expression (pmod(hash, buckets) —
    // `hash` IS the Murmur3 bucketBy uses), not on the key: a key-hash
    // repartition looks equivalent, but AQE may coalesce the exchange
    // and a merged task then spans several pmod classes — each write
    // task emits one file per bucket it holds and "compaction"
    // preserves the fragmentation (measured: 6 files → 6). Keying the
    // exchange by the bucket id itself makes every bucket's rows one
    // partition-key class, so they land in ONE task under any
    // coalescing — exactly one file per non-empty bucket. One hash
    // pass of the postings, no driver involvement.
    Bucketing.writeBucketed(
      spark.table(indexTable).repartition(buckets,
        pmod(hash(col("item")), lit(buckets))),
      tmp, "item", buckets)
    spark.sql(s"DROP TABLE IF EXISTS `$indexTable`")
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$indexTable`")
    ()
  }

  /** Staleness-DRIVEN detection (q378): wire the q376 rule to the
    * maintenance action — consult `neardupIndexStaleness`, REBUILD the
    * index under a fresh census when the drift bound is crossed (over
    * the doc_ids the index actually contains), then detect. The
    * detection table is invariant either way (losslessness holds under
    * any shared total order — that is the point of the rule), so the
    * exact all-pairs oracle pins the OUTPUT, and the `requalified`
    * column — replicated from the same census arithmetic in the
    * oracle — pins the ROUTING DECISION itself (the q366 device: the
    * choice is driver-checked, not just the result).
    *
    * The staleness consult is a 1-row collect (bounded by
    * construction); the rebuild, when it fires, costs one index build —
    * exactly what the rule exists to amortize.
    */
  def jaccardAgainstIndexAuto(documents: DataFrame, newIds: DataFrame,
                              indexTable: String, n: Int = 3,
                              threshold: Double = 0.2,
                              driftBoundPm: Long = 200L,
                              buckets: Int = 8,
                              corpusSets: Option[DataFrame] = None)
      : DataFrame = {
    val spark = documents.sparkSession
    val row = neardupIndexStaleness(documents, indexTable, n,
      driftBoundPm, corpusSets).select("requalify").collect().head
    val stale = !row.isNullAt(0) && row.getBoolean(0)
    if (stale) {
      // the rebuild DROPS the table these ids come from: the id frame's
      // lineage must be CUT before the drop, or a cache eviction would
      // silently rescan a dropped table mid-build. localCheckpoint
      // (eager) materializes the ids and severs the plan — an evicted
      // block then fails fast instead of reading stale state. Bounded:
      // one long per history doc, never the postings.
      val hist = spark.table(indexTable).select("doc_id").distinct()
        .localCheckpoint(true)
      try neardupIndexBuild(documents, hist, indexTable, n, threshold,
        buckets, corpusSets)
      finally { hist.unpersist(blocking = false); () }
    }
    jaccardAgainstIndex(documents, newIds, indexTable, n, threshold,
        corpusSets)
      .withColumn("requalified", lit(stale))
  }

  /** `jaccardAgainstHistoryPrefix` against a PERSISTED index (q374) —
    * build + detect composed from the lifecycle pieces above: the form
    * a production ingest actually deploys, where history postings are
    * written ONCE (bucketed — no exchange on the index side ever) and
    * each drop pays only its own posting volume. Output equals
    * `jaccardAgainstHistoryPrefix` exactly (possibly via different
    * candidates) — same oracle, same detection table.
    *
    * DESTRUCTIVE on `indexTable`/<indexTable>_df — see the lifecycle
    * note; pass a name this run owns exclusively.
    */
  def jaccardAgainstHistoryIndexed(documents: DataFrame,
                                   historyIds: DataFrame,
                                   indexTable: String, n: Int = 3,
                                   threshold: Double = 0.2,
                                   buckets: Int = 8): DataFrame = {
    val hist = historyIds.select(col("doc_id")).distinct()
    // one shingle pass shared by build AND detect (the corpusSets
    // device): both phases slice this cached frame instead of re-running
    // tokenize+shingle over their subsets
    val sets = shingleSets(documents, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    neardupIndexBuild(documents, hist, indexTable, n, threshold, buckets,
      Some(sets))
    val newIds = documents.select("doc_id")
      .join(hist, Seq("doc_id"), "left_anti")
    jaccardAgainstIndex(documents, newIds, indexTable, n, threshold,
      Some(sets))
  }

  /** Directed shingle-CONTAINMENT pairs: (id_a, id_b) where at least
    * `minPermille`/1000 of A's shingles also occur in B. The asymmetric
    * complement to `jaccardPairs`: a short document quoted wholesale inside
    * a long one (wrapped reprints, quote-with-commentary, boilerplate
    * around a core) has near-total containment but LOW Jaccard — the
    * union is dominated by the long side — so a Jaccard-only dedup pass
    * never sees it. Containment is the standard catch (ExactSubstr/
    * suffix-array dedup approximated at shingle granularity).
    *
    * The decision is integer-exact — `n_inter * 1000 >= minPermille * n_a`
    * — and the output carries the evidence (`n_inter`, `n_a`) rather than
    * a rounded ratio, so the contract is engine-portable with no float in
    * the filter. Documents with empty shingle sets (< n tokens) have no
    * inverted-index postings and emit nothing.
    *
    * Scale shape: identical to `pairsBySetOverlap` — inverted-index join
    * keyed on the shingle (never all-pairs), partial-agg intersection
    * counts, and the same `maxDf` hot-shingle guard: a boilerplate shingle
    * present in k docs would contribute k² candidate rows, and shingles
    * over the cap are exactly the ones carrying no containment signal.
    * The `=!=` join emits both directions of each candidate pair from the
    * same bucket — same asymptotics as the undirected join, no mirror
    * union needed.
    */
  def containmentPairs(documents: DataFrame, n: Int = 3,
                       minPermille: Long = 600L,
                       maxDf: Long = 10000L): DataFrame = {
    require(minPermille >= 1 && minPermille <= 1000,
      s"need 1 <= minPermille <= 1000, got $minPermille")
    val (items, sizes) =
      cappedInvertedIndex(shingleSets(documents, n), "shingles", maxDf)
    postingsCensus(items, items, directed)
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("n_a")),
        "id_a")
      .filter(col("inter") * lit(1000L) >= lit(minPermille) * col("n_a"))
      .select(col("id_a"), col("id_b"), col("inter").as("n_inter"),
        col("n_a"))
      .orderBy("id_a", "id_b")
  }

  /** Directed copy-flow matrix between sources: for each source pair,
    * how many docs of one source are shingle-CONTAINED (≥ `minPermille`
    * of their shingles, the q118 relation) in a doc of the other, both
    * directions plus the net — the "who copies whom" census. q112
    * counts shared vocabulary and q181 counts symmetric dup pairs;
    * containment is the DIRECTED relation, so a syndication hub (other
    * sources' content ⊂ its pages) splits from a scraper (its pages ⊂
    * other sources' content) here and nowhere else. `n_lo_in_hi` =
    * docs of the lexically-smaller source contained in the larger's.
    *
    * Scale shape: rides `containmentPairs` (capped inverted index, no
    * all-pairs); the source fold is two id-keyed joins plus a
    * |sources|²-bounded census.
    */
  def copyFlowMatrix(documents: DataFrame, n: Int = 3,
                     minPermille: Long = 600L,
                     maxDf: Long = 10000L): DataFrame = {
    val pairs = containmentPairs(documents, n, minPermille, maxDf)
    val src = documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"),
        col("source").as("__sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"),
        col("source").as("__sb")), "id_b")
      .filter(col("__sa") =!= col("__sb"))
      .select(least(col("__sa"), col("__sb")).as("source_lo"),
        greatest(col("__sa"), col("__sb")).as("source_hi"),
        when(col("__sa") < col("__sb"), 1L).otherwise(0L).as("__lh"),
        when(col("__sa") > col("__sb"), 1L).otherwise(0L).as("__hl"))
      .groupBy("source_lo", "source_hi")
      .agg(sum("__lh").as("n_lo_in_hi"), sum("__hl").as("n_hi_in_lo"))
      .withColumn("net_flow", col("n_lo_in_hi") - col("n_hi_in_lo"))
      .orderBy("source_lo", "source_hi")
  }

  /** The (items, sizes) inverted index of the count-based pair
    * operators — ONE copy of the hot-shingle guard so the undirected
    * (`pairsBySetOverlap`), directed (`containmentPairs`) and census
    * (`dupThresholdSweep`, `minhashAccuracyAudit`) joins can't drift.
    * Returns the exploded (doc_id, item) postings (df-capped when armed)
    * and the per-doc surviving-item counts `sz` the scorers divide by.
    * A `maxDf` below 1 would cap every item away and is rejected.
    *
    * The per-document item sets come from a CPU-heavy native kernel
    * (shingling / per-character Rabin–Karp), and the scoring graph consumes
    * them in three subtrees (both self-join sides + the sizes aggregate).
    * Without materialization Catalyst re-evaluates the kernel per subtree —
    * recorded as the round-3 q53 3× regression — so the kernel output is
    * pinned with `persist(MEMORY_AND_DISK)` and forced before the fan-out.
    * persist, NOT `localCheckpoint`: checkpoint blocks are executor-local
    * and non-recoverable — one lost executor fails the job on a real
    * cluster — while a lost cached partition recomputes from lineage.
    * The cache entry stays in the session's CacheManager until the
    * caller runs `spark.catalog.clearCache()` — the ContextCleaner never
    * frees a Dataset cache entry, however unreachable the frame.
    *
    * With a df-cap armed, per-item document frequency comes from a plain
    * partial-agg `groupBy(item).count()`: map-side combine means the
    * hottest item contributes ONE partial row per map task — the previous
    * `count(*) OVER (PARTITION BY item)` window buffered the hot item's
    * entire partition in a single WindowExec task (spill-then-straggle at
    * 100 TB). Items over the cap number at most totalItems/maxDf, so the
    * over-cap list is small by construction and AQE broadcasts the
    * anti-join — the exploded index is filtered without an extra shuffle
    * and no single task ever holds a hot item's full posting list. Set
    * sizes count surviving items (the Jaccard denominator matches the
    * capped universe); uncapped, sizes are a narrow array-size projection.
    */
  private def cappedInvertedIndex(sets0: DataFrame, setCol: String,
                                  maxDf: Long): (DataFrame, DataFrame) = {
    requireMaxDf(maxDf)
    val sets = sets0.persist(StorageLevel.MEMORY_AND_DISK)
    // force before fan-out (cache-population race — the q298 note):
    // postings and sizes both read this cache inside one job
    sets.count()
    val (exploded, sizes) = postingsOf(sets, setCol)
    if (maxDf == Long.MaxValue) (exploded, sizes)
    else {
      val overCap = exploded
        .groupBy("item").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf)
        .select("item")
      val capped = exploded.join(overCap, Seq("item"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      // force: both self-join sides + the size census read this cache
      capped.count()
      (capped, capped.groupBy("doc_id").agg(count(lit(1)).as("sz")))
    }
  }

  private def requireMaxDf(maxDf: Long): Unit =
    require(maxDf >= 1, s"need maxDf >= 1, got $maxDf")

  /** (doc_id, item) postings and (doc_id, sz) set sizes of a
    * (doc_id, `setCol`) frame of distinct-item arrays. */
  private def postingsOf(sets: DataFrame,
                         setCol: String = "shingles"): (DataFrame, DataFrame) =
    (sets.select(col("doc_id"), explode(col(setCol)).as("item")),
      sets.select(col("doc_id"), size(col(setCol)).cast("long").as("sz")))

  /** How the two `doc_id` sides of a shared-item pair join relate:
    * `undirected` emits each unordered pair of one postings frame once,
    * `directed` emits both orders, `crossSide` pairs two disjoint frames
    * (the new drop against history) without an id filter.
    */
  private type PairRel = (Column, Column) => Column
  private val undirected: PairRel = _ < _
  private val directed: PairRel = _ =!= _
  private val crossSide: PairRel = (_, _) => lit(true)
  /** Output id columns of a pair: self-joins and across-sides joins. */
  private val PairIds = ("id_a", "id_b")
  private val CrossIds = ("new_id", "hist_id")

  /** One row per (pair, shared item): x ⋈ y on the item under `rel`,
    * projected to the pair's `ids` plus `carry`, hash-repartitioned on
    * the pair at the full shuffle width. The census counts these rows;
    * the prefix candidate joins keep only their distinct pairs.
    *
    * Pinned wide (r20): the pair key is near-unique, so the next
    * aggregate's partial agg reduces almost nothing, and byte-targeted
    * AQE coalescing serialized the FINAL agg onto 1–4 tasks (measured
    * 1.3 s → 0.67 s with the pin at sf0.1). The user repartition IS that
    * agg's exchange (same keys — no second shuffle), just exempt from
    * coalescing; a 100 TB shuffle keeps its configured width.
    */
  private def sharedItemPairs(x: DataFrame, y: DataFrame, rel: PairRel,
                              ids: (String, String),
                              carry: Column*): DataFrame = {
    val (a, b) = ids
    wideBy(x.as("x")
        .join(y.as("y"), col("x.item") === col("y.item") &&
          rel(col("x.doc_id"), col("y.doc_id")))
        .select(col("x.doc_id").as(a) +: col("y.doc_id").as(b) +: carry: _*),
      col(a), col(b))
  }

  /** The shared-postings census behind every count-based near-dup
    * operator (jaccardPairs/winnowingPairs, containmentPairs,
    * dupThresholdSweep, minhashAccuracyAudit, the three prefix-candidate
    * verifies and, weighted, both IDF operators): per pair of documents
    * sharing an item, `inter` = the number of shared items, or with
    * `weight` (a column of x's postings) their summed weight. A
    * partial-agg count keyed on the pair: the shuffle carries
    * (pair, partial count) rows, never item strings. Each operator then
    * computes only its own score column from `inter` and the set sizes.
    */
  private def postingsCensus(x: DataFrame, y: DataFrame, rel: PairRel,
                             ids: (String, String) = PairIds,
                             weight: Option[Column] = None): DataFrame =
    sharedItemPairs(x, y, rel, ids, weight.map(_.as("__w")).toSeq: _*)
      .groupBy(ids._1, ids._2)
      .agg(weight.fold(count(lit(1)))(_ => sum(col("__w"))).as("inter"))

  /** Joins both sides' set sizes, (doc_id, sz) frames, onto a pair frame
    * as `sz_a` and `sz_b`. */
  private def withSizes(pairs: DataFrame, sizesA: DataFrame,
                        sizesB: DataFrame,
                        ids: (String, String) = PairIds): DataFrame =
    pairs
      .join(sizesA.select(col("doc_id").as(ids._1), col("sz").as("sz_a")),
        ids._1)
      .join(sizesB.select(col("doc_id").as(ids._2), col("sz").as("sz_b")),
        ids._2)

  /** Pairs of a census at exact Jaccard |A∩B| / (|A|+|B|−|A∩B|) ≥
    * `threshold`, rounded to 4 places (the q22 output). */
  private def jaccardAtLeast(census: DataFrame, sizesA: DataFrame,
                             sizesB: DataFrame, ids: (String, String),
                             threshold: Double): DataFrame =
    withSizes(census, sizesA, sizesB, ids)
      .withColumn("jaccard",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col(ids._1), col(ids._2), round(col("jaccard"), 4).as("jaccard"))

  /** The exact COUNT verify of a prefix-candidate pair set (q298, q371,
    * q374–q378): the census over the full postings `x` and `y` —
    * restricted by the caller to documents in some candidate pair —
    * joined to the candidates, then exact Jaccard against `threshold`.
    * Every candidate shares ≥1 prefix item, so the inner join against
    * the counts drops nothing; pairs co-occurring only outside the
    * candidate set are pruned by the join with `cand`.
    *
    * Why a count and not `minhashPairs`' `size(array_intersect)` over
    * the candidates' shingle arrays: prefix filtering proposes ~83× as
    * many candidates as banded MinHash, and at that volume the arrays
    * cost more than the postings. On the `corpus` seed-3 documents at
    * t = 0.2 (PLANS.md, jaccardPairsPrefix verify) the array form joins
    * 13.6 M shingle strings onto the DevScale x1 candidates where the
    * count moves 0.23 M postings-join rows, and verifies in 4.47 s
    * against 2.36 s (31.2 s against 14.9 s at x16).
    */
  private def countVerify(cand: DataFrame, x: DataFrame, y: DataFrame,
                          sizesX: DataFrame, sizesY: DataFrame,
                          rel: PairRel, ids: (String, String),
                          threshold: Double): DataFrame =
    jaccardAtLeast(
        cand.join(postingsCensus(x, y, rel, ids), Seq(ids._1, ids._2)),
        sizesX, sizesY, ids, threshold)
      .orderBy(ids._1, ids._2)

  private def pairsBySetOverlap(sets0: DataFrame, setCol: String,
                                threshold: Double, maxDf: Long): DataFrame =
    pairsBySetOverlapUnordered(sets0, setCol, threshold, maxDf)
      .orderBy("id_a", "id_b")

  /** `pairsBySetOverlap` without the trailing global sort — for callers
    * that aggregate or persist the pair list (a cached plan KEEPS its
    * orderBy, so persisting the ordered frame forces a global sort of
    * the full pair list before any consumer runs — measured 9.7 s →
    * 36 s at DevScale x16 when clusterCoherence first pinned the
    * ordered variant).
    */
  private def pairsBySetOverlapUnordered(sets0: DataFrame, setCol: String,
                                         threshold: Double,
                                         maxDf: Long): DataFrame = {
    val (items, sizes) = cappedInvertedIndex(sets0, setCol, maxDf)
    jaccardAtLeast(postingsCensus(items, items, undirected), sizes, sizes,
      PairIds, threshold)
  }

  /** MinHash signature: `numHashes` minima of the Kirsch–Mitzenmacher
    * family h_i = h1 + i·h2 over the shingle set (single native pass), for
    * every document with a shingle.
    *
    * A document has a shingle iff it has at least `n` tokens, so the
    * filter counts tokens ([[Text.tokenCount]]) before the shingle kernel
    * runs, once per kept document. A filter on `size(shingles)` would be
    * pushed below the projection that computes the shingles, and every
    * document would be shingled twice.
    */
  def minhashSignatures(documents: DataFrame, n: Int = 3,
                        numHashes: Int = 32): DataFrame =
    shingleSets(documents.filter(Text.tokenCount(col("text")) >= n), n)
      .select(col("doc_id"), col("shingles"),
        GraftFunctions.minhash(col("shingles"), numHashes).as("sig"))

  /** (doc_id, band, bhash) LSH band keys of a signature frame — the ONE
    * banding construction, shared by the batch bucket join
    * (`minhashPairs`) and the streaming band-bucket state
    * (`streaming.NearDupStream`) so the two surfaces can never drift.
    * Pure per-row projection (posexplode of `bands` slice-hashes): no
    * shuffle, streaming-safe.
    */
  private[graft] def bandKeysOf(sigs: DataFrame, bands: Int,
                                rows: Int): DataFrame =
    sigs.select(
      col("doc_id"),
      posexplode(array((0 until bands).map { b =>
        hash(slice(col("sig"), b * rows + 1, rows)).as(s"b$b")
      }: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bhash")

  /** Public banding entry over raw documents (signature kernel + band
    * keys in the scan projection) — what the streaming near-dup state
    * keys on.
    */
  def bandKeys(documents: DataFrame, n: Int = 3, numHashes: Int = 32,
               bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0,
      s"bands must divide numHashes, got bands=$bands, numHashes=$numHashes")
    bandKeysOf(minhashSignatures(documents, n, numHashes), bands,
      numHashes / bands)
  }

  /** MinHash+LSH near-dup pairs: band the signature, bucket-join on
    * (band, band-hash), then verify candidates with EXACT Jaccard — LSH
    * only proposes, it never decides. Output schema matches
    * `jaccardPairs`; the recall contract lives in DedupSpec. Documents
    * with a null `doc_id` never pair.
    *
    * The verify is bounded by the candidate pairs: each candidate gets
    * both endpoints' shingle arrays from the signature frame (two
    * equi-joins on doc_id) and scores `size(array_intersect)`, exact
    * because `shingleSets` emits DISTINCT shingles; both set sizes are
    * `size()` of the same arrays. Work is O(candidates × set size), never
    * the shared-shingle postings of every candidate document; banding
    * proposes ~83× fewer candidates than the prefix family, whose
    * verify counts postings instead (`countVerify`, PLANS.md). The array
    * side of both joins is pinned to a sort-merge join (`hint("merge")`,
    * as in `Skew.skewedJoinCensus`): shingle arrays are the corpus text
    * again, a broadcast of them fails the driver at scale, and a
    * shuffled hash join cannot spill its in-memory build side — it failed
    * at DevScale x64 where the merge join completes (PLANS.md, measured
    * scaling curves). A band-collision pair sharing ZERO shingles scores
    * exact Jaccard 0 and drops at the threshold filter, which is why the
    * threshold must be positive.
    *
    * Execution shape, for one action on the result: the documents are
    * hash-partitioned by `doc_id` at the shuffle width (`wideBy`) and the
    * signature frame `(doc_id, shingles, sig)` is cached sorted by
    * `doc_id` within those partitions. When AQE broadcasts one side of
    * the band self-join (band keys are ids and ints, so it does up to
    * its broadcast threshold), the other side probes with the cached
    * partitions in place and candidates leave it partitioned by `id_a`:
    * the dedup and the `id_a` endpoint join need no exchange, and every
    * endpoint join reads the cache already sorted. Only `(id_a, id_b, a's
    * shingles)` crosses an exchange, to `id_b`, for the second endpoint
    * join; the verified pairs then take the final range sort. `doc_id` is declared non-null in the cache (null ids are
    * dropped first), so the joins read it without a null filter of their
    * own. The signature frame stays in the session's cache until
    * `spark.catalog.clearCache()` (DedupSpec pins what is left).
    */
  def minhashPairs(documents: DataFrame, n: Int = 3,
                   numHashes: Int = 32, bands: Int = 16,
                   threshold: Double = 0.2): DataFrame = {
    require(numHashes % bands == 0,
      s"bands must divide numHashes, got bands=$bands, numHashes=$numHashes")
    require(threshold > 0 && threshold <= 1,
      s"need 0 < threshold <= 1, got threshold=$threshold")
    val rows = numHashes / bands
    // materialize once: the signature frame feeds both bucket-join sides
    // AND both endpoint joins of the verify — without this the
    // shingle+minhash kernels would re-evaluate per subtree (the
    // q53-regression pattern). persist, not localCheckpoint: recoverable
    // on executor loss (see pairsBySetOverlap). The coalesce after the
    // null filter changes no value; it makes `doc_id` non-nullable, which
    // spares each join side an `isnotnull` filter stage
    val idType = documents.schema("doc_id").dataType
    val ids = documents.where(col("doc_id").isNotNull)
      .withColumn("doc_id", coalesce(col("doc_id"), lit(0).cast(idType)))
    val sigs = shinglesOf(wideBy(ids, col("doc_id")), n)
      .select(col("doc_id"), col("shingles"),
        GraftFunctions.minhash(col("shingles"), numHashes).as("sig"))
      .sortWithinPartitions("doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // band IDS ONLY through the bucket join — carrying the shingle arrays
    // would copy every document's set `bands` times across both shuffle
    // sides. Documents with no shingle (a null signature) are cached but
    // never banded: the filter sits here, on the cached column, because
    // below the cache it would be pushed into the scan and shingle every
    // document twice
    val banded = bandKeysOf(sigs.where(size(col("shingles")) > 0), bands,
      rows)
    val cands = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cands
      .join(sigs.as("a").hint("merge"), col("id_a") === col("a.doc_id"))
      .join(sigs.as("b").hint("merge"), col("id_b") === col("b.doc_id"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("a.shingles"), col("b.shingles")))
          .cast("long").as("__inter"),
        size(col("a.shingles")).cast("long").as("__sza"),
        size(col("b.shingles")).cast("long").as("__szb"))
      // one row through a generator: the threshold filter reads only its
      // output, so it is not pushed into the join condition (computing
      // the intersection twice) nor inferred as not-null filters below
      .select(col("id_a"), col("id_b"),
        inline(array(struct("__inter", "__sza", "__szb"))))
      .withColumn("jaccard",
        col("__inter") /
          (col("__sza") + col("__szb") - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** Winnowed rolling-hash (Rabin–Karp) near-dup pairs: byte-level k-gram
    * fingerprints winnowed per w windows (graft_rolling_fp) guarantee any
    * shared substring of length ≥ k+w−1 shares a fingerprint; the
    * inverted-index join then scores set overlap exactly like
    * jaccardPairs. Catches copied PASSAGES that token-shingle Jaccard
    * dilutes in long documents.
    *
    * `maxDf` is the same skew guard as jaccardPairs': a fingerprint shared
    * by a ubiquitous boilerplate passage would otherwise make its bucket in
    * the self-join quadratic at corpus scale. Dropped fingerprints shrink
    * both the intersection and the per-doc set size, so near-identical
    * documents (the ones a dedup pass must keep finding) still score high.
    */
  def winnowingPairs(documents: DataFrame, k: Int = 16, w: Int = 8,
                     threshold: Double = 0.2,
                     maxDf: Long = 10000L): DataFrame = {
    GraftFunctions.register(documents.sparkSession)
    val sets = balanced(documents).select(col("doc_id"),
      GraftFunctions.rollingFingerprints(col("text"), k, w).as("fps"))
      .filter(size(col("fps")) > 0)
    pairsBySetOverlap(sets, "fps", threshold, maxDf)
  }

  /** 64-bit SimHash per document: each token votes ±1 on every bit of its
    * XXH64; the signature takes the majority sign per bit. A single
    * per-document native pass — NO shuffle (the earlier explode + 64-column
    * aggregate formulation shuffled every token).
    */
  def simhashSignatures(documents: DataFrame): DataFrame = {
    GraftFunctions.register(documents.sparkSession)
    balanced(documents).select(col("doc_id"),
      GraftFunctions.simhash(col("text")).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, blocked by
    * the pigeonhole principle: split the 64-bit signature into
    * `maxHamming+1` chunks — any pair within the radius agrees on at least
    * one chunk, so the bucket join on (chunk-index, chunk-value) loses
    * nothing while avoiding the O(n²) pair scan.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 8): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    val sigs = simhashSignatures(documents)
    val blocked = sigs.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until chunks).map { c =>
        // unsigned chunk extract; last chunk takes the high remainder bits
        val width = if (c == chunks - 1) 64 - bitsPer * c else bitsPer
        shiftrightunsigned(col("simhash"), bitsPer * c)
          .bitwiseAND(if (width >= 64) -1L else (1L << width) - 1)
      }: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "cval")
    blocked.as("x")
      .join(blocked.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.cval") === col("y.cval") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
      .orderBy("id_a", "id_b")
  }

  /** Embedding-cosine near-dup: pairs above threshold (exact O(n²)
    * baseline; `embeddingNearDupsLsh` is the scale path).
    */
  def embeddingNearDups(embeddings: DataFrame,
                        threshold: Double = 0.4): DataFrame =
    Similarity.cosinePairs(embeddings, threshold)

  /** Scale path for embedding near-dup: random-hyperplane LSH buckets
    * propose candidate pairs (corpus self-join on (table, signature)),
    * exact cosine decides — the vector analogue of minhashPairs'
    * propose-then-verify contract. Ids-only through the bucket shuffle;
    * vectors re-attach per surviving candidate.
    *
    * (bits, tables) default to Similarity.lshPlan(threshold): banding
    * tuned so a pair AT the threshold is proposed with ≥ ~90% probability
    * — fixed parameters tuned for the near-dup regime silently dropped to
    * ~10% recall when callers passed a borderline threshold like 0.4.
    */
  def embeddingNearDupsLsh(embeddings: DataFrame,
                           threshold: Double = 0.4,
                           bits: Int = -1, tables: Int = -1,
                           seed: Long = 42L,
                           targetRecall: Double = 0.9): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val (planBits, planTables) =
      if (bits > 0 && tables > 0) (bits, tables)
      else Similarity.lshPlan(threshold, targetRecall)
    val e = embeddings.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("emb"))
    val dim = e.select(size(col("emb"))).take(1) match {
      case Array(r) => r.getInt(0)
      case _ => 1
    }
    val planes = Similarity.hyperplanes(dim, planBits, planTables, seed)
    // one batched kernel for ALL table signatures (posexplode pos == table
    // index) — see functions.HyperplaneSignatures
    val bucketed = e.select(col("vec_id"),
      posexplode(GraftFunctions.hyperplaneSignatures(col("emb"),
        planes.toSeq)))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "sig")
    val cands = bucketed.as("x")
      .join(bucketed.as("y"),
        col("x.table") === col("y.table") && col("x.sig") === col("y.sig") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cands
      .join(e.select(col("vec_id").as("id_a"), col("emb").as("emb_a")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("emb").as("emb_b")), "id_b")
      .filter(Similarity.cosine(col("emb_a"), col("emb_b")) > threshold)
      .select("id_a", "id_b")
      .orderBy("id_a", "id_b")
  }

  /** Connected components over a pair list — the dedup ENDGAME: the pair
    * operators (jaccardPairs/minhashPairs/simhashPairs/embedding LSH) emit
    * edges, but keep-one-per-group needs the transitive closure into
    * clusters. Returns (id, cluster_id) for every id in
    * `nodes ∪ edge endpoints` — one fixed universe, one fixed schema (the
    * union-coerced id type for BOTH columns), on BOTH execution paths, so
    * the result can never depend on which path the edge count selected.
    * Edges with a NULL endpoint are dropped (identically on both paths).
    * cluster_id = min id in the component (singletons label themselves) —
    * so `cluster_id = id` picks the canonical representative and
    * everything else drops.
    *
    * Iterative min-label propagation: each round every node takes the min
    * of its own and its neighbors' labels; converged when no label
    * changes. Rounds = component diameter — near-dup clusters are shallow
    * (dups of a page cluster around it), so this beats the constant-factor
    * complexity of star-contraction variants in practice; `maxIter` is the
    * explicit guard, and non-convergence FAILS rather than returning a
    * silently-partial clustering.
    *
    * Per round: ONE edge⋈label shuffle + one min-agg, nothing else — the
    * adjacency carries a self-loop per node, so `min over neighbors` IS
    * `least(own, neighbor min)` and the old second per-round join that
    * folded the node's own label back in disappears. Convergence rides the
    * same action as an observed metric: labels are NON-INCREASING under
    * min-propagation, so the label sum strictly decreases every round
    * until the fixed point — equal consecutive sums ⇔ converged. The sum
    * is decimal(38,0), not long: a 64-bit sum could wrap on a huge-id
    * corpus and alias a real decrease to "unchanged", i.e. a
    * silently-partial clustering, exactly the failure mode this operator
    * refuses. A per-round checkpoint truncates the otherwise
    * linearly-deepening lineage (eager — it is also the action that
    * flushes the metric); the edge list is cached once.
    *
    * Executor-loss story on a real cluster — the caller picks the trade
    * via `reliable`. Default (false): `localCheckpoint`, executor-local
    * blocks; a lost label block is NOT recomputable (that is the point of
    * truncating), so a mid-convergence executor loss fails the round's
    * job and the caller reruns the operator — acceptable because rounds
    * are cheap (ids only). `reliable = true`: `checkpoint()` to the
    * cluster's checkpoint dir (caller must `sc.setCheckpointDir` first —
    * required loudly below), one distributed write per round buying
    * executor-loss survival; worth it only when components are so deep
    * that a rerun costs more than the writes. Superseded reliable-mode
    * checkpoints are SWEPT as the operator runs: a round's label files
    * are deleted the moment the round replacing them is materialized, and
    * the edge checkpoint once convergence makes it unreachable — steady
    * state is one label directory regardless of round count, so a
    * long-running app cannot fill the checkpoint dir one round at a
    * time. A failed run may leave its last round's files behind;
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` remains the
    * belt-and-braces for that path.
    *
    * Sweep attribution: a round's files are named by the round's OWN
    * checkpointed RDD — the pinned frame's plan is a `LogicalRDD` over
    * exactly the RDD `checkpoint()` just wrote, and that RDD's
    * `getCheckpointFile` is the `rdd-<id>` directory it created. Only
    * paths provably created by this pin are ever deleted, so concurrent
    * reliable CC calls — or ANY other thread checkpointing on the same
    * SparkContext — can never have their live checkpoints misattributed
    * and swept (DedupSpec pins a foreign checkpoint surviving the run).
    */
  /** `driverUnionFindMaxEdges`: below this edge count the closure runs as
    * a DRIVER-SIDE union-find over the collected (pinned) edge list — the
    * broadcast-join trade applied to connectivity. The 2M default is
    * MEASURED, not asserted (graft.DevCc, chain-of-8 graphs, local[32],
    * PLANS.md round-12 table): driver-UF wins 3.5× at 1e5 edges and ~2×
    * at 1e6, the curves cross at ~2e6 (15.2 s vs 16.5 s), and by 3–4e6
    * the collect's Row/GC overhead loses to the iterative rounds (24.4 vs
    * 19.8 s at 3e6) — long before the raw "64 MB of longs" arithmetic
    * suggests. A beefier driver moves the crossover up; callers who know
    * their heap pass a bigger threshold. Near-dup edge sets are bounded
    * by actual duplication, not corpus size, so at every real scale the
    * pair list is millions of rows while the corpus is billions;
    * collecting two longs per edge replaces
    * diameter-many shuffle rounds with one action + one ids-only distinct
    * (the nodes ∪ endpoints universe both paths share) + one broadcast
    * join, and NODES are never collected — un-edged documents label
    * themselves through the coalesce. The one action is a collect of at
    * most `driverUnionFindMaxEdges + 1` edges: its row count picks the
    * path, and on the driver path its rows are the union-find's input; only
    * past the threshold are the edges pinned for the rounds. Labels are
    * identical by construction (union
    * by min root ⇒ root = component min id = the min-label fixed point;
    * DedupSpec pins path equality — universe, schema, and values). Only
    * engaged when the coerced id type is integral; 0 forces the
    * iterative path.
    */
  /** `pointerJump`: alternate the one-hop min-label propagation with a
    * POINTER-JUMPING round — `l'(x) = l(l(x))`, a self-join of the pinned
    * N-row label frame (no edge scan) that DOUBLES each node's effective
    * distance-to-min, so total rounds scale with log(diameter) instead of
    * diameter (the r12 verdict's deep-graph regime: serial near-dup
    * chains from incremental crawls). Correctness is unchanged: labels
    * stay monotone non-increasing and component-local (l(x) is always a
    * member id of x's component), so the fixed point is the identical
    * component-min labeling; convergence is only certified by a
    * no-change PROPAGATION round (a no-change jump round merely says the
    * labels are root-compressed). Measured (DevCc chain table, PLANS.md
    * round 13): equal on shallow chains, order-of-magnitude fewer rounds
    * at diameter 511. Default on; false reproduces the pure one-hop
    * formulation.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 20,
                          reliable: Boolean = false,
                          driverUnionFindMaxEdges: Long =
                            DriverUnionFindMaxEdges,
                          pointerJump: Boolean = true): DataFrame =
    components(Some(nodes), edges, maxIter, reliable,
      driverUnionFindMaxEdges, pointerJump)

  private val DriverUnionFindMaxEdges = 2000000L

  /** The ids a keep-one-per-component pass drops, from the edges alone:
    * `(id, cluster_id)` for every edge endpoint whose component's
    * minimum is another id, with `connectedComponents`' labels, id type
    * and two paths. Every such id is an endpoint (an id on no edge is its
    * own component's minimum), so no node frame is scanned. On the driver
    * path the rows are a local frame in id order (no Spark job reads
    * them); the iterative path filters and orders its label frame.
    */
  private[ops] def nonRepresentatives(edges: DataFrame,
                                     driverUnionFindMaxEdges: Long =
                                       DriverUnionFindMaxEdges): DataFrame =
    components(None, edges, maxIter = 20, reliable = false,
      driverUnionFindMaxEdges, pointerJump = true)

  private def components(nodes: Option[DataFrame], edges: DataFrame,
                         maxIter: Int, reliable: Boolean,
                         driverUnionFindMaxEdges: Long,
                         pointerJump: Boolean): DataFrame = {
    val session = edges.sparkSession
    val sc = session.sparkContext
    if (reliable)
      require(sc.getCheckpointDir.isDefined,
        "reliable connectedComponents needs sc.setCheckpointDir(...) — " +
          "the per-round label frames are written there")
    // Checkpoint-sweep bookkeeping (reliable mode only): each round's
    // rdd-* directory is deleted once the round that supersedes it is on
    // disk — a checkpoint's whole job is truncating lineage, so once the
    // NEXT round is materialized nothing can recompute through the prior
    // one and its files are dead weight.
    def sweep(paths: Set[org.apache.hadoop.fs.Path]): Unit =
      if (reliable && paths.nonEmpty) {
        val fs = paths.head.getFileSystem(sc.hadoopConfiguration)
        paths.foreach(p => fs.delete(p, true))
      }
    // one knob, both pin sites: the round labels and the edge list live
    // or die by the same recovery story. Reliable mode returns the pinned
    // frame plus the files the pin created — read off the checkpointed
    // RDD itself (LogicalRDD.rdd.getCheckpointFile), never inferred by
    // diffing the directory, so a foreign thread's checkpoints are
    // structurally out of reach of the sweep.
    def pin(df: DataFrame): (DataFrame, Set[org.apache.hadoop.fs.Path]) =
      if (!reliable) (df.localCheckpoint(), Set.empty)
      else {
        val pinned = df.checkpoint()
        val files = pinned.queryExecution.logical.collect {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
        }.flatMap(_.getCheckpointFile)
          .map(new org.apache.hadoop.fs.Path(_)).toSet
        (pinned, files)
      }
    // A NULL endpoint is not an edge: dropped here, identically on BOTH
    // paths (it would otherwise NPE the driver union-find and silently
    // vanish in the iterative joins — the result must not depend on which
    // path ran).
    val edgeIds = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    // The labeled universe is nodes ∪ edge endpoints on BOTH paths, and
    // both emit (id, cluster_id) in the union-coerced id type — the
    // result may never depend on whether the edge count crossed the
    // driver-union-find threshold. (Call sites keep edges ⊆ nodes, where
    // this is exactly the old "just nodes" universe.)
    def universe(e: DataFrame): DataFrame = {
      val endpoints = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
      nodes.fold(endpoints)(_.select(col("id")).union(endpoints)).distinct()
    }
    val idType = universe(edgeIds).schema("id").dataType
    val integralIds =
      idType == org.apache.spark.sql.types.LongType ||
        idType == org.apache.spark.sql.types.IntegerType
    // one bounded collect both picks the path and feeds the union-find: a
    // row past the threshold sends the edges down the iterative path
    // (`limit` takes an Int; no driver holds 2^31 edges anyway)
    val driverMax = math.min(driverUnionFindMaxEdges, Int.MaxValue - 1L).toInt
    val tryDriver = integralIds && driverMax > 0
    val pairs =
      if (!tryDriver) Array.empty[(Long, Long)]
      else edgeIds.limit(driverMax + 1).collect()
        .map(r => (r.get(0).asInstanceOf[Number].longValue,
          r.get(1).asInstanceOf[Number].longValue))
    if (tryDriver && pairs.length <= driverMax) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent(c); parent(c) = r; c = nxt
        }
        r
      }
      pairs.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        // union by MIN root: the root of every set stays its smallest
        // member, so find(x) IS the component's min id — the same fixed
        // point min-label propagation converges to
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val touched = pairs.iterator
        .flatMap(p => Iterator(p._1, p._2)).toArray.distinct
      import session.implicits._
      if (nodes.isEmpty) {
        def id(x: Long): Any =
          if (idType == org.apache.spark.sql.types.IntegerType) x.toInt else x
        val rows = touched.sorted.iterator.filter(x => find(x) != x)
          .map(x => Row(id(x), id(find(x)))).toSeq
        return session.createDataFrame(java.util.Arrays.asList(rows: _*),
          StructType(Seq(StructField("id", idType, nullable = false),
            StructField("cluster_id", idType, nullable = false))))
      }
      val labelDf = touched.toSeq.map(x => (x, find(x)))
        .toDF("__uid", "__cl")
      // the nodes ∪ endpoints universe from the endpoints already on the
      // driver (`touched`), not a second edge scan; labels cast BACK to
      // the universe's id type (roots are member ids, so the narrowing
      // cast is lossless — the iterative path's min(lbl) stays in that
      // type, and so must this one)
      return nodes.get.select(col("id").cast(idType).as("id"))
        .union(touched.toSeq.toDF("id")
          .select(col("id").cast(idType).as("id")))
        .distinct()
        .join(broadcast(labelDf),
          col("id").cast("long") === col("__uid"), "left")
        .select(col("id"),
          coalesce(col("__cl").cast(idType), col("id")).as("cluster_id"))
        .orderBy("id")
    }
    // the iterative path materializes the (possibly expensive) pair
    // computation ONCE — the undirected edge list reads it twice (forward
    // + reversed), and every round reads the adjacency again
    val (e, edgeCkpt) = pin(edgeIds)
    val allIds = universe(e)
    val und = e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .union(allIds.select(col("id").as("src"), col("id").as("dst")))
      .cache()
    val sumCol =
      // coalesce: sum over an EMPTY frame is null — make it an explicit 0
      coalesce(sum(col("lbl").cast("decimal(38,0)")),
        lit(BigDecimal(0))).as("lblsum")
    val obs0 = Observation("cc_init")
    var (labels, labelCkpt) = pin(allIds
      .select(col("id"), col("id").as("lbl"))
      .observe(obs0, sumCol))
    var prevSum = obs0.get("lblsum")
    var iter = 0
    var converged = false
    try {
      while (!converged && iter < maxIter) {
        val obs = Observation(s"cc_round_$iter")
        // even rounds PROPAGATE one hop over the adjacency; odd rounds
        // (pointerJump) POINTER-JUMP l'(x) = l(l(x)) — a self-join of
        // the PINNED label frame (N rows, no edge scan). Every label is
        // an id in the universe, so the left join always hits; coalesce
        // is belt-and-braces. l(y) ≤ y always ⇒ the jump is monotone
        // non-increasing and component-local, same fixed point.
        val isJump = pointerJump && iter % 2 == 1
        val step =
          if (isJump)
            labels.select(col("id"), col("lbl").as("__via"))
              .join(labels.select(col("id").as("__via"),
                col("lbl").as("__l2")), Seq("__via"), "left")
              .select(col("id"),
                coalesce(col("__l2"), col("__via")).as("lbl"))
          else
            und.join(labels.select(col("id").as("dst"), col("lbl")), "dst")
              .groupBy(col("src").as("id"))
              .agg(min("lbl").as("lbl"))
        val (next, created) = pin(step.observe(obs, sumCol))
        val s = obs.get("lblsum")
        // only a no-change PROPAGATION round certifies the fixed point —
        // a no-change jump round merely says labels are root-compressed
        converged = !isJump && s == prevSum
        prevSum = s
        labels = next
        // `next` is on disk (pin is eager): the prior round's labels are
        // unreachable from any live frame — sweep them now
        sweep(labelCkpt)
        labelCkpt = created
        iter += 1
      }
      require(converged,
        s"connectedComponents did not converge in $maxIter rounds — " +
          "a component's diameter exceeds maxIter; raise it")
      // the returned frame reads only the FINAL label checkpoint; the
      // edge list is no longer reachable from it
      sweep(edgeCkpt)
      val out = labels.select(col("id"), col("lbl").as("cluster_id"))
      (if (nodes.isEmpty) out.filter(col("id") =!= col("cluster_id"))
       else out).orderBy("id")
    } finally { und.unpersist(blocking = false); () }
  }

  /** Near-dup clusters of the documents table: exact Jaccard pairs (the
    * q22 operator, same skew guard) closed into components. */
  def jaccardClusters(documents: DataFrame, n: Int = 3,
                      threshold: Double = 0.2,
                      maxDf: Long = 10000L): DataFrame =
    connectedComponents(
      documents.select(col("doc_id").as("id")),
      jaccardPairs(documents, n, threshold, maxDf).select("id_a", "id_b"))
      .withColumnRenamed("id", "doc_id")

  /** Embedding-side dedup ENDGAME — the vector mirror of `jaccardClusters`
    * → `dropNearDuplicates`: exact cosine pairs above `threshold` propose
    * edges, connected components close them into semantic-duplicate
    * clusters, and the census reports per label how many vectors survive
    * keep-one-per-cluster (representative = min vec_id, the row where
    * `cluster_id == id`). The curation view a training-data pipeline reads
    * before committing an embedding-dedup pass: how much of each label's
    * mass is semantic duplication.
    *
    * Scale shape: the proposer here is the brute-force `cosinePairs`
    * (O(n²) scoring, exact — what a DuckDB oracle can also compute); at
    * corpus scale swap in `embeddingNearDupsLsh` with
    * `Similarity.lshPlanAt(n)` — same (id_a, id_b) edge contract, and the
    * measured scaling curve (PLANS.md round 9: 2.4× time for 16× data,
    * planted-dup recall 1.0) is the evidence the swap holds at 100 TB.
    * Everything downstream of the pairs is ids-only: CC shuffles labels,
    * never vectors, and the census is one partial-agg join on (vec_id,
    * label).
    */
  def embeddingDedupCensus(embeddings: DataFrame, threshold: Double = 0.4,
                           maxIter: Int = 20): DataFrame = {
    val pairs = Similarity.cosinePairs(embeddings, threshold)
    val clusters = connectedComponents(
      embeddings.select(col("vec_id").as("id")),
      pairs.select("id_a", "id_b"), maxIter)
      .withColumnRenamed("id", "vec_id")
    embeddings.select(col("vec_id"), col("label"))
      .join(clusters, "vec_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("cluster_id") === col("vec_id"), 1L).otherwise(0L))
          .as("n_kept"))
      .withColumn("n_dropped", col("n_vecs") - col("n_kept"))
      .orderBy("label")
  }

  /** APPLY a near-dup clustering: keep one document per component (the
    * minimum doc_id — each cluster's canonical representative is the row
    * where `cluster_id == id` by the min-label construction) and drop the
    * rest. `pairs` is any of the pair operators' output (jaccardPairs /
    * minhashPairs / simhashPairs / winnowingPairs / embedding LSH — they
    * all emit (id_a, id_b)), so the proposer and this applier compose
    * freely. One semi-join on doc_id; the representative set is small
    * relative to the corpus only when dup density is high, so no
    * broadcast is assumed — AQE decides.
    */
  def dropNearDuplicates(documents: DataFrame, pairs: DataFrame,
                         maxIter: Int = 20): DataFrame = {
    val clusters = connectedComponents(
      documents.select(col("doc_id").as("id")),
      pairs.select("id_a", "id_b"), maxIter)
    documents.join(
      clusters.filter(col("id") === col("cluster_id"))
        .select(col("id").as("doc_id")),
      Seq("doc_id"), "left_semi")
  }

  /** Duplicate-cluster SIZE distribution, log₂-bucketed: how much of the
    * corpus sits in singletons vs pair-dups vs mega-clusters — the one
    * histogram that says whether near-dup removal is worth running and
    * whether a crawl loop is minting unbounded dup chains (a fat high
    * bucket). Bucket = ⌊log₂ size⌋ via pure integer bit arithmetic
    * (`length(bin(size)) - 1`, the q205 device — never
    * floor(log2(double))); reports clusters and member docs per bucket.
    *
    * Scale shape: rides `jaccardClusters` (inverted-index pair
    * proposal + measured-threshold components), then two cheap
    * censuses — cluster-count-sized, then ≤64 rows.
    */
  def clusterSizeHistogram(documents: DataFrame, n: Int = 3,
                           threshold: Double = 0.2,
                           maxDf: Long = 10000L): DataFrame =
    jaccardClusters(documents, n, threshold, maxDf)
      .groupBy("cluster_id").agg(count(lit(1)).as("size"))
      .select((length(bin(col("size"))) - 1).cast("long")
          .as("log2_bucket"),
        col("size"))
      .groupBy("log2_bucket")
      .agg(count(lit(1)).as("n_clusters"), sum("size").as("n_docs"))
      .orderBy("log2_bucket")

  /** Dedup-cluster COHERENCE audit — the over-merge smell test for
    * transitive closure: CC happily chains A≈B≈C into one cluster even
    * when A and C share nothing, so per multi-doc cluster this reports
    * the proposed-edge count, the WEAKEST edge (min jaccard — a cluster
    * whose min is barely at threshold was merged by its most marginal
    * link), and the edge density in permille
    * (2·E·1000 div (n·(n−1)) — 1000 = clique = every member really
    * matches every other; low density = a chain held together by
    * bridges). The q211 histogram says how big clusters are; this says
    * whether big clusters DESERVE to exist.
    *
    * Scale shape: the pair proposal (inverted-index join — the heavy
    * stage) runs ONCE: the pinned pair list feeds both the
    * connected-components closure and the per-cluster aggregates
    * (first measured with pairs rebuilt inside jaccardClusters: ~5 s
    * at sf0.1; this halves the heavy stage). The audit itself is two
    * cluster-keyed aggregates and a join — cluster-count-sized.
    */
  def clusterCoherence(documents: DataFrame, n: Int = 3,
                       threshold: Double = 0.2,
                       maxDf: Long = 10000L): DataFrame = {
    // pinned UNORDERED (persisting the ordered public variant forces a
    // global sort of the full pair list into the cache — measured, see
    // PLANS.md): one pair join feeds both CC's eager edge checkpoint
    // and the per-cluster aggregates. Measured best at bench scale
    // (sf0.1 warm 4.3 s → 1.75 s); x16 comparisons across the variants
    // were load-noise-dominated (first reps up to 6× the warm rep) and
    // did not separate them.
    val pairs = pairsBySetOverlapUnordered(
        shingleSets(documents, n), "shingles", threshold, maxDf)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val clusters = connectedComponents(
        documents.select(col("doc_id").as("id")),
        pairs.select("id_a", "id_b"))
      .withColumnRenamed("id", "doc_id")
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"))
    val edges = pairs
      .join(clusters.select(col("doc_id").as("id_a"),
        col("cluster_id")), "id_a")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_edges"), min("jaccard").as("min_j4"))
    edges.join(sizes, "cluster_id")
      .select(col("cluster_id"), col("n_docs"), col("n_edges"),
        col("min_j4"),
        expr("2 * n_edges * 1000 div (n_docs * (n_docs - 1))")
          .as("density_pm"))
      .orderBy("cluster_id")
  }

  /** MinHash estimator accuracy audit — the sketch-audit family member
    * for the dedup path (q176 audits Count-Min, q242 audits HLL): for
    * every pair at or above the Jaccard threshold, the signature
    * estimate (matching positions / numHashes) must sit within `tolQ6`
    * of the exact value. The pair set is defined by capped-set Jaccard —
    * shingles with df > `maxDf` are dropped from both the intersection
    * and the set sizes, so it equals EXACT Jaccard exactly when no
    * shingle exceeds the cap (true with ~400× headroom at the verify
    * scales: measured max shingle df is 25 at sf0.1 vs maxDf = 10000).
    * An independent oracle can thus derive the pair set with plain
    * all-pairs SQL; the estimate rides the same
    * native signature kernel production dedup uses, making this the
    * standing proof that the deployed `numHashes` is sized to the
    * banding threshold.
    *
    * Scale shape: exact pairs come from the df-capped inverted index
    * (ids + integer sizes only through the shuffle); signatures
    * re-attach to the surviving pairs via two equi-joins (each
    * signature crosses the wire once per surviving pair, the q23
    * discipline); the estimate is one codegen'd zip_with/aggregate
    * over two k-length int arrays. No all-pairs stage anywhere.
    */
  def minhashAccuracyAudit(documents: DataFrame, n: Int = 3,
                           numHashes: Int = 64, threshold: Double = 0.2,
                           tolQ6: Long = 200000L,
                           maxDf: Long = 10000L): DataFrame = {
    // no explicit persist here: cappedInvertedIndex persists this same
    // frame, and that one cache pin covers the sigs subtree below too
    val sets = shingleSets(documents, n)
      .filter(size(col("shingles")) > 0)
    val (items, sizes) = cappedInvertedIndex(sets, "shingles", maxDf)
    val pairs = withSizes(postingsCensus(items, items, undirected), sizes,
        sizes)
      .withColumn("jaccard_q6",
        expr("inter * 1000000 div (sz_a + sz_b - inter)"))
      .filter(col("jaccard_q6") >= (threshold * 1e6).toLong)
      .select("id_a", "id_b", "jaccard_q6")
    val sigs = sets.select(col("doc_id"),
      graft.functions.GraftFunctions.minhash(col("shingles"), numHashes)
        .as("sig"))
    pairs
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")),
        "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")),
        "id_b")
      .withColumn("__est_q6",
        expr("aggregate(zip_with(sig_a, sig_b, (x, y) ->" +
          " if(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)" +
          s" * 1000000L div ${numHashes}L"))
      .select(col("id_a"), col("id_b"), col("jaccard_q6"),
        (abs(col("__est_q6") - col("jaccard_q6")) <=
          lit(tolQ6)).as("within_tol"))
      .orderBy("id_a", "id_b")
  }

  /** IDF-WEIGHTED Jaccard pairs: q22's inverted-index join scored by
    * Σ idf(shared) / Σ idf(union) instead of raw set counts — the
    * dedup variant that stops boilerplate from deciding similarity: two
    * documents sharing only ubiquitous shingles (headers, license
    * blocks — idf ≈ 0) score near zero even when plain Jaccard would
    * pass them, while rare shared content dominates. The standard
    * production upgrade of set-similarity dedup.
    *
    * Engine-exact: weights quantize to integer permille idf
    * (round(1000·ln(N/df)) — ln over the same integer-ratio double both
    * engines, the benford/PMI-proven device) BEFORE any sum, so shared
    * and union masses are order-free exact integers and the score is
    * ONE integer division (q6). The `maxDf` rail composes exactly as
    * in q22 (dropping df > cap items from the weighted universe —
    * their idf is the lowest by construction, so the cap costs the
    * score least where it bites).
    *
    * Scale shape: identical to q22 — df census (keyed partial agg),
    * weighted inverted-index pair join bounded by the df cap, two
    * broadcast-joined per-doc totals. Never all-pairs.
    */
  def weightedJaccardPairs(documents: DataFrame, n: Int = 3,
                           thresholdQ6: Long = 150000L,
                           maxDf: Long = 10000L): DataFrame =
    idfWeightedPairs(documents, n, thresholdQ6, maxDf)._2
      .orderBy("id_a", "id_b")

  /** The IDF-weighted census shared by `weightedJaccardPairs` and
    * `weightedJaccardEvidence`: the weighted postings `wi`
    * (doc_id, item, w) — persisted and forced, for the evidence pass to
    * re-read — and the unordered qualifying pairs
    * (id_a, id_b, wjacc_q6). A set's weighted size is its summed weight,
    * `inter` the summed weight of the shared items.
    */
  private def idfWeightedPairs(documents: DataFrame, n: Int,
                               thresholdQ6: Long,
                               maxDf: Long): (DataFrame, DataFrame) = {
    require(thresholdQ6 >= 0 && thresholdQ6 <= 1000000L,
      s"thresholdQ6 must be in [0, 1000000], got $thresholdQ6")
    requireMaxDf(maxDf)
    val sets = shingleSets(documents, n)
      .filter(size(col("shingles")) > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (items, _) = postingsOf(sets)
    val nDocs = sets.agg(count(lit(1)).as("__n"))
    val weights = items.groupBy("item").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .crossJoin(broadcast(nDocs))
      .select(col("item"), expr(
        "cast(round(1000 * ln(cast(__n as double) / cast(__df as double)))" +
          " as long)").as("w"))
    val wi = wideBy(items.join(weights, "item"), col("item"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // force: docw + both pair-join sides read this cache (q298 note)
    wi.count()
    val docw = wi.groupBy("doc_id").agg(sum(col("w")).as("sz"))
    val scored = withSizes(
        postingsCensus(wi, wi, undirected, weight = Some(col("x.w"))), docw,
        docw)
      // nullif: a pair whose every shingle is corpus-ubiquitous has
      // sz = inter = 0 — an undefined score (filtered), not an ANSI error
      .withColumn("wjacc_q6", expr(
        "cast(cast(inter as decimal(38,0)) * 1000000" +
          " div nullif(sz_a + sz_b - inter, 0L) as bigint)"))
      .filter(col("wjacc_q6") >= thresholdQ6)
      .select(col("id_a"), col("id_b"), col("wjacc_q6"))
    (wi, scored)
  }

  /** EXPLAINABLE near-dup pairs: q330's IDF-weighted Jaccard join with
    * an EVIDENCE column — each qualifying pair carries its top-`topE`
    * rarest shared shingles (idf desc, shingle tiebreak) concatenated
    * in rank order. The audit trail a 100 TB dedup deletion needs: "we
    * removed this document BECAUSE it shares these rare passages", a
    * reviewable string instead of a bare score (the q324 ordered
    * string-agg device applied to the q330 pair stage). Same
    * inverted-index shape and integer-idf exactness as q330; the
    * per-pair evidence window partitions by pair (bounded by shared
    * shingle count, never corpus size).
    */
  def weightedJaccardEvidence(documents: DataFrame, n: Int = 3,
                              thresholdQ6: Long = 150000L,
                              maxDf: Long = 10000L,
                              topE: Int = 3): DataFrame = {
    require(topE >= 1, s"topE must be >= 1, got $topE")
    // r19: the pair blow-up is never materialized. The old form persisted
    // the full (id_a, id_b, item, w) self-join output — the largest
    // intermediate of the query, cached only so the evidence pass could
    // re-read it. Instead: the census pipes the self-join straight into
    // the map-side partial agg (the shuffle carries (id_a, id_b,
    // partial sum), never the shingle strings), and the evidence pass
    // re-joins ONLY the docs that appear in a qualifying pair (the q298
    // payload-light verify device) — a pair join over a
    // semi-join-bounded posting set, joined back to `scored` so exactly
    // the qualifying pairs rank their shared shingles. Same math, same
    // rows.
    val (wi, scored0) = idfWeightedPairs(documents, n, thresholdQ6, maxDf)
    val scored = scored0.persist(StorageLevel.MEMORY_AND_DISK)
    val candDocs = scored.select(col("id_a").as("doc_id"))
      .union(scored.select(col("id_b").as("doc_id")))
      .distinct()
    val wiC = wi.join(candDocs, Seq("doc_id"), "left_semi")
    val wEv = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b")
      .orderBy(col("w").desc, col("item"))
    val evidence = wiC.as("a")
      .join(wiC.as("b"),
        col("a.item") === col("b.item") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.item").as("item"), col("a.w").as("w"))
      .join(scored.select("id_a", "id_b"), Seq("id_a", "id_b"))
      .withColumn("__rk", row_number().over(wEv))
      .filter(col("__rk") <= topE)
      .groupBy("id_a", "id_b")
      .agg(concat_ws(",",
        transform(array_sort(collect_list(struct(col("__rk"),
          col("item")))), x => x.getField("item"))).as("evidence"))
    scored.join(evidence, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("wjacc_q6"), col("evidence"))
      .orderBy("id_a", "id_b")
  }

  /** LSH parameter planner: for every (bands b, rows-per-band r) in the
    * candidate grid, the banded-MinHash capture curve
    * P(s) = 1 − (1 − sʳ)ᵇ integrated against the ideal step at the
    * target Jaccard threshold — false-positive mass below the threshold
    * (pairs that bucket but shouldn't) plus false-negative mass above it
    * (pairs that should bucket but don't). THE decision a 100 TB dedup
    * run makes before it runs: b·r is the signature cost per document
    * and the FP mass is the candidate-verification cost, so the census
    * prices every configuration before a single shingle is hashed (the
    * planning companion to q23's fixed bands and q267's estimator
    * audit).
    *
    * Engine-exact by construction: the s-grid is i/128 (denominator a
    * power of two — every grid point is an exact double), and ALL powers
    * are squaring chains written as explicit multiplications (r ∈
    * {2,4,8}, b ∈ {4,8,16,32} — never pow(), whose libm rounding is not
    * pinned across engines), so every P(s) is the same IEEE double on
    * both sides; per-point masses quantize to q6 integers BEFORE the
    * sum, making the integral an order-free exact integer.
    *
    * Scale shape: a constant 127×12 grid built driver-side — the plan is
    * one crossJoin of two literal relations and one partial agg; zero
    * table reads. The output prices the REAL run: pick the row, then
    * q23 runs with its (b, r).
    */
  def lshParamPlan(session: org.apache.spark.sql.SparkSession,
                   thresholdNum: Int = 64): DataFrame = {
    require(thresholdNum >= 1 && thresholdNum <= 127,
      s"thresholdNum must be in [1, 127] (threshold = num/128), got " +
        thresholdNum)
    import session.implicits._
    val combos = for (b <- Seq(4, 8, 16, 32); r <- Seq(2, 4, 8))
      yield (b, r)
    val params = combos.toDF("bands", "rpb")
    val grid = session.range(1, 128)
      .select((col("id").cast("double") / lit(128.0d)).as("s"))
    params.crossJoin(grid)
      .withColumn("s2", col("s") * col("s"))
      .withColumn("s4", col("s2") * col("s2"))
      .withColumn("s8", col("s4") * col("s4"))
      .withColumn("sr", expr(
        "case rpb when 2 then s2 when 4 then s4 else s8 end"))
      .withColumn("u", lit(1.0d) - col("sr"))
      .withColumn("u2", col("u") * col("u"))
      .withColumn("u4", col("u2") * col("u2"))
      .withColumn("u8", col("u4") * col("u4"))
      .withColumn("u16", col("u8") * col("u8"))
      .withColumn("u32", col("u16") * col("u16"))
      .withColumn("pmiss", expr(
        "case bands when 4 then u4 when 8 then u8" +
          " when 16 then u16 else u32 end"))
      .withColumn("__below", col("s") < lit(thresholdNum / 128.0d))
      .groupBy("bands", "rpb")
      .agg(
        sum(when(col("__below"),
          expr("cast(round((1.0d - pmiss) * 1000000) as long)"))
          .otherwise(lit(0L))).as("fp_q6"),
        sum(when(!col("__below"),
          expr("cast(round(pmiss * 1000000) as long)"))
          .otherwise(lit(0L))).as("fn_q6"))
      .select(col("bands").cast("long").as("bands"),
        col("rpb").cast("long").as("rpb"),
        (col("bands") * col("rpb")).cast("long").as("sig_len"),
        col("fp_q6"), col("fn_q6"),
        (col("fp_q6") + col("fn_q6")).as("err_q6"))
      .orderBy("err_q6", "bands", "rpb")
  }
}
