package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end corpus-preparation composition a training-data pipeline
  * runs over raw documents: dedup → quality gate → deterministic split →
  * per-split accounting. Nothing here is a new operator — the point is
  * that the library's pieces COMPOSE declaratively, so Catalyst sees ONE
  * plan: fingerprint + tokenization in the scan stage, one
  * map-side-combined shuffle for the dup-group keys, a semi-join back
  * (AQE picks broadcast when the keeper set allows), and one global
  * aggregate with a conditional count/sum per split label. No stage
  * materializes an intermediate frame
  * (except the iterative cluster closure in the near-dup variant, which
  * is inherently multi-job — see Dedup.connectedComponents).
  *
  * Determinism discipline (what makes the result oracle-checkable):
  * every reported number is a count, an exact integer sum, or a ratio of
  * integer sums — no double accumulation whose low bits depend on
  * partition order.
  */
object Pipeline {

  /** (doc_id, n_tokens, n_stop) computed in the scan stage — text is
    * dropped RIGHT HERE, so no downstream exchange ever carries it.
    */
  private def tokenStats(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), nTokens.as("n_tokens"),
      nStop.as("n_stop"))

  /** `size(Text.tokens(text))` and the number of those tokens that are
    * `Text.defaultStopwords`, as two regex counts ([[Text.tokenCount]]): a
    * stopword token is a stopword with no token character on either side.
    * `regexp_count` is code-generated, so the counts join the scan's
    * generated stage; the split → `filter` → `isin` form goes through
    * interpreted higher-order functions and keeps its projection out of it.
    */
  private val nTokens = Text.tokenCount(col("text"))
  private val nStop = regexp_count(col("text"), lit(
    Text.defaultStopwords.map(java.util.regex.Pattern.quote)
      .mkString("(?<![^ \\t\\n\\r\\f])(?:", "|", ")(?![^ \\t\\n\\r\\f])")))

  /** The shared pipeline tail: quality gate (Gopher/C4-style — enough
    * tokens, enough stopword density to look like natural language) →
    * engine-portable md5 split (pure projection, no shuffle) → per-split
    * accounting, three-ish rows out.
    *
    * The split labels are known when the plan is built, so the accounting
    * is ONE global aggregate with a conditional count/sum/avg per label,
    * exploded into one row per label in label order (the order
    * `orderBy("split")` gives, UTF-8 binary) and filtered to the labels
    * that received a document — the rows `groupBy("split")` emits. One
    * single-partition exchange of partial rows replaces the hash
    * exchange, the range exchange and its sampling job, and the sort.
    */
  private def gateSplitAccount(scored: DataFrame, minTokens: Int,
                               minStopRatio: Double,
                               fractions: Seq[(String, Double)]): DataFrame = {
    val gate = col("n_tokens") >= minTokens &&
      col("n_stop") / col("n_tokens") >= minStopRatio
    val labels = fractions.map(_._1).distinct
      .sortBy(org.apache.spark.unsafe.types.UTF8String.fromString)
    val perLabel = labels.zipWithIndex.flatMap { case (label, i) =>
      def of(c: Column) = when(gate && col("split") === label, c)
      Seq(count(of(lit(1))).as(s"n$i"), sum(of(col("n_tokens"))).as(s"t$i"),
        avg(of(col("n_tokens"))).as(s"a$i"), sum(of(col("n_stop"))).as(s"s$i"))
    }
    Sampling.deterministicSplit(scored, "doc_id", fractions)
      .agg(perLabel.head, perLabel.tail: _*)
      .select(explode(array(labels.indices.map(i => struct(
        lit(labels(i)).as("split"),
        col(s"n$i").as("n_docs"),
        col(s"t$i").as("total_tokens"),
        round(col(s"a$i"), 2).as("avg_tokens"),
        round(col(s"s$i") / col(s"t$i"), 4).as("stop_share"))): _*)).as("r"))
      .select("r.*")
      .filter(col("n_docs") > 0)
  }

  /** Per-split corpus accounting after EXACT dedup + quality filtering:
    * `(split, n_docs, total_tokens, avg_tokens, stop_share)`.
    *
    * Dedup runs in aggregate-then-semi-join form: `groupBy(fp)`
    * partial-aggregates map-side, so a pathologically hot fingerprint
    * (the same boilerplate duplicated across the corpus) contributes one
    * row per map task instead of funneling one reducer — the window-min
    * formulation would straggle exactly there (the df-cap lesson, see
    * Dedup.pairsBySetOverlap). Fingerprint and quality stats are both
    * computed in the scan stage and text is dropped there: the semi-join
    * shuffles only (doc_id, fp, two ints) on both sides. The tempting
    * "dedup first, tokenize survivors" order would ship the raw text
    * through the fingerprint exchange — at corpus scale that IS the
    * job's cost; tokenizing a duplicate that dedup then drops is wasted
    * CPU only on the (rare) dups, and it's scan-local.
    */
  def prepareCorpus(documents: DataFrame,
                    minTokens: Int = 20,
                    minStopRatio: Double = 0.05,
                    fractions: Seq[(String, Double)] =
                      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      : DataFrame = {
    val slim = documents.select(
      col("doc_id"),
      md5(Text.normText(col("text")).cast("binary")).as("fp"),
      nTokens.as("n_tokens"),
      nStop.as("n_stop"))
    val keepers = slim.groupBy("fp").agg(min("doc_id").as("doc_id"))
    val kept = slim.join(keepers, Seq("fp", "doc_id"), "left_semi")
    gateSplitAccount(kept, minTokens, minStopRatio, fractions)
  }

  /** The NEAR-dup variant: duplicates are n-gram Jaccard components
    * (Dedup.jaccardPairs closed by Dedup.connectedComponents), each
    * cluster keeps its min-id representative, then the same quality gate
    * → split → accounting tail. This is the full LLM-corpus story —
    * boilerplate variants and trivially-edited copies collapse, not just
    * byte-identical ones; exact dups are a special case (Jaccard 1).
    *
    * Scale shape: the pair proposer shuffles df-capped shingle postings
    * and ids, the closure shuffles ids only, the representative semi-join
    * keys on doc_id, and the stats ride the scan stage — the raw text
    * never crosses an exchange here either.
    */
  def prepareCorpusNearDup(documents: DataFrame,
                           n: Int = 3,
                           jaccardThreshold: Double = 0.2,
                           maxDf: Long = 10000L,
                           minTokens: Int = 20,
                           minStopRatio: Double = 0.05,
                           fractions: Seq[(String, Double)] =
                             Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      : DataFrame =
    prepareCorpusWithPairs(documents,
      Dedup.jaccardPairs(documents, n, jaccardThreshold, maxDf),
      minTokens, minStopRatio, fractions)

  /** The pluggable form: any pair proposer's (id_a, id_b) output —
    * minhashPairs at corpus scale, simhashPairs, winnowingPairs,
    * embeddingNearDupsLsh — drives the same cluster → representative →
    * gate → split → accounting tail. The exact-Jaccard default above is
    * the oracle-checkable instance; this is what a user actually calls
    * when the corpus is too big for exact pairs.
    *
    * Execution shape: only the ids a component drops matter — every id
    * whose component minimum is another id, and each of them is a pair
    * endpoint — so `Dedup.nonRepresentatives` closes the pairs alone, with
    * no scan of the documents: one SQL execution pins the edges (its
    * observed row count picks the path), and up to 2M edges the driver's
    * union-find returns the dropped ids as a local frame. The accounting
    * is then ONE query: the documents' scan stage counts tokens and
    * stopwords (code-generated regex counts), anti-joins the broadcast
    * dropped ids and pre-aggregates per split; a single-partition
    * exchange carries the partial rows to the final aggregate. Documents
    * with a null `doc_id` are dropped: a null id is no component's
    * representative.
    */
  def prepareCorpusWithPairs(documents: DataFrame, pairs: DataFrame,
                             minTokens: Int = 20,
                             minStopRatio: Double = 0.05,
                             fractions: Seq[(String, Double)] =
                               Seq("train" -> 0.8, "val" -> 0.1,
                                 "test" -> 0.1)): DataFrame = {
    val dropped = Dedup.nonRepresentatives(pairs.select("id_a", "id_b"))
      .select(col("id").as("doc_id"))
    val kept = tokenStats(documents.filter(col("doc_id").isNotNull))
      .join(dropped, Seq("doc_id"), "left_anti")
    gateSplitAccount(kept, minTokens, minStopRatio, fractions)
  }

  /** The curation FUNNEL census — per-stage surviving doc/token mass
    * through raw → keep-best exact dedup (`Dedup.keepBestExact`, longest
    * variant wins) → recycled-text gate (`Text.dupSpanFraction`: drop
    * docs more than half covered by n-grams occurring in other surviving
    * docs). The first report every curation run publishes ("we started
    * with X tokens, dedup kept Y, the span gate kept Z") — and, like
    * `prepareCorpus`, a pure composition: the stages are the library's
    * own oracle-checked operators, re-used verbatim.
    *
    * Every number is a count or an exact integer sum; the span decision
    * is integer arithmetic (`2·n_dup ≤ n_tokens`), so the funnel is
    * hash-comparable end to end.
    */
  def curationFunnel(documents: DataFrame, n: Int = 5): DataFrame = {
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(lit(name).as("stage"), count(lit(1)).as("n_docs"),
        coalesce(sum(size(Text.tokens(col("text"))).cast("long")), lit(0L))
          .as("n_tokens"))
    val keepIds = Dedup.keepBestExact(documents, length(col("text")))
      .select("doc_id")
    // persist: the deduped corpus is read FOUR times inside the one
    // final action (its stage row, both positional-gram branches of the
    // span census, and the cleaned stage) — union branches share no
    // subplans, so without this the dedup semi-join and text scan run
    // 4×. Not unpersisted here: the caller's action is lazy, so an eager
    // unpersist would evict before it runs. The entry stays in the
    // session's cache until the caller runs `spark.catalog.clearCache()`:
    // the ContextCleaner never frees a Dataset cache entry.
    val ded = documents.join(keepIds, Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spanOk = Text.dupSpanFraction(ded, n)
      .filter(col("n_dup_positions") * 2 <= col("n_tokens"))
      .select("doc_id")
    val cleaned = ded.join(spanOk, Seq("doc_id"), "left_semi")
    stage("1_raw", documents)
      .unionByName(stage("2_dedup", ded))
      .unionByName(stage("3_spanclean", cleaned))
      .orderBy("stage")
  }

  /** Lineage manifest: the REPRODUCIBILITY artifact next to q141's
    * counts-only funnel — one row per pipeline stage (raw → keep-first
    * exact dedup → quality filter → train slice, the q63 stage chain)
    * with the stage's row count AND the q107 multiset checksum of its
    * surviving doc_id set. Two manifests agree iff every stage selected
    * EXACTLY the same documents — the artifact a re-run, an engine
    * swap, or an incremental rebuild is diffed against before anyone
    * trusts "same pipeline, same data" (counts alone pass when two
    * bugs cancel; checksums don't).
    *
    * Scale shape: each stage is a keyed agg / semi-join composition of
    * oracle-checked operators, folded by `Profiling.tableChecksum` to
    * one 2-value row — 4 rows out, nothing driver-side beyond them.
    */
  def lineageManifest(documents: DataFrame): DataFrame = {
    val stops = Seq("the", "a", "an", "of", "and", "to", "in", "is",
      "it", "for")
    val fp = documents.select(col("doc_id"), col("text"),
        md5(Text.normText(col("text")).cast("binary")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keep = fp.groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val ded = fp.join(keep, Seq("doc_id"), "left_semi")
    val toks = Text.tokens(col("text"))
    val flt = ded.select(col("doc_id"),
        size(toks).cast("long").as("__nt"),
        size(org.apache.spark.sql.functions.filter(toks,
          w => w.isInCollection(stops))).cast("long").as("__ns"))
      // q63's gate in integer form: n_tokens ≥ 20 ∧ stop share ≥ 5%
      .filter(col("__nt") >= 20L && col("__ns") * 20 >= col("__nt"))
      .select("doc_id")
    val train = flt.filter(Sampling.splitBucket(col("doc_id")) < 800)
    def stage(name: String, df: DataFrame): DataFrame =
      Profiling.tableChecksum(df.select("doc_id"), Seq("doc_id"))
        .select(lit(name).as("stage"), col("n_rows"),
          col("checksum").cast("string").as("checksum"))
    stage("1_raw", documents)
      .unionByName(stage("2_dedup", ded))
      .unionByName(stage("3_quality", flt))
      .unionByName(stage("4_train", train))
      .orderBy("stage")
  }

  /** The FULL modern curation pipeline as ONE declarative plan — the
    * round-trip a 2024-era LLM data team actually ships: keep-best
    * exact dedup (longest variant wins) → fuzzy benchmark
    * DECONTAMINATION (`Dedup.benchmarkContainment`, drop any doc
    * carrying ≥ τ‰ of an eval item) → quality-ensemble gate
    * (`Text.qualityEnsemble` rank vote ≥ `minVote`) → deterministic
    * split → the (split × source) mix manifest. Every stage is one of
    * the library's oracle-checked operators re-used verbatim, and the
    * whole thing is a single lazy composition: Catalyst sees one DAG,
    * the raw text crosses exchanges only where a stage's contract
    * needs it, and every reported number is an exact integer.
    *
    * `minVote` defaults to the upper half of the 3-signal vote range
    * [3, 3·buckets]. The manifest's totals are the honest "what
    * actually ships" numbers — downstream of every drop decision.
    */
  def cureAndMix(corpus: DataFrame, benchmark: DataFrame,
                 n: Int = 3, minPermille: Long = 300L,
                 buckets: Int = 10, minVote: Long = 16L,
                 fractions: Seq[(String, Double)] =
                   Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      : DataFrame = {
    // max vote is 3 signals × buckets: a minVote above it silently drops
    // EVERY document (the buckets=2/minVote=16 trap) — fail loudly
    require(minVote <= 3L * buckets,
      s"minVote=$minVote exceeds the max possible vote ${3L * buckets} " +
        s"(3 signals x $buckets buckets): every document would be dropped")
    val keep = Dedup.keepBestExact(corpus, length(col("text")))
      .select("doc_id")
    // persist (the curationFunnel convention): `ded` feeds both the
    // containment corpus side and the anti-join left side; `clean` is
    // re-read by each of qualityEnsemble's three bucket passes AND the
    // gated semi-join — without these the keep-best semi-join and the
    // decontamination shingle subtree recompute ~4-5x inside ONE action.
    // Both entries stay in the session's cache until `clearCache()`.
    val ded = corpus.join(keep, Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hits = Dedup.benchmarkContainment(ded, benchmark, n, minPermille)
      .select(col("corpus_id").as("doc_id")).distinct()
    val clean = ded.join(hits, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val votes = Text.qualityEnsemble(clean, buckets)
      .filter(col("vote") >= minVote).select("doc_id")
    val gated = clean.join(votes, Seq("doc_id"), "left_semi")
    Sampling.mixManifest(gated, fractions)
  }

  /** `curationFunnel` attributed per source: which sources lose the most
    * documents at each gate — the report that turns a funnel number into
    * an acquisition decision ("this crawl is 40% recycled; renegotiate
    * or drop it"). Same stages, same integer decisions; three grouped
    * counts left-joined on the source axis (≤ |sources| rows throughout
    * the join tree).
    */
  def curationFunnelBySource(documents: DataFrame, n: Int = 5): DataFrame = {
    val keepIds = Dedup.keepBestExact(documents, length(col("text")))
      .select("doc_id")
    // same 4-way reuse as curationFunnel — see the persist note there
    val ded = documents.join(keepIds, Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spanOk = Text.dupSpanFraction(ded, n)
      .filter(col("n_dup_positions") * 2 <= col("n_tokens"))
      .select("doc_id")
    val raw = documents.groupBy("source").agg(count(lit(1)).as("n_raw"))
    val d2 = ded.groupBy("source").agg(count(lit(1)).as("n_dedup"))
    val cl = ded.join(spanOk, Seq("doc_id"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_clean"))
    raw.join(d2, Seq("source"), "left").join(cl, Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
        coalesce(col("n_clean"), lit(0L)).as("n_clean"))
      .orderBy("source")
  }
}
