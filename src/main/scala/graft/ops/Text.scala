package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The word-count family and text analysis over `documents.text`
  * (SURVEY.md §2.2 P1/P2, §2.4 A1–A4, plus the north-star text-analysis
  * surface: token counting, quality scoring, fingerprinting).
  *
  * Reference semantics (paths in `/root/reference/`):
  *  - P1 whitespace tokenize → one row per token —
  *    WordCount1/src/main/java/WordCount.java:24–28.
  *  - P2 regex prefix filter `^[mnopqMNOPQ]` —
  *    WordCount2/src/main/java/WordCount.java:34.
  *  - A1–A4 sum-by-key with the four combiner strategies — all subsumed by
  *    Spark's HashAggregateExec partial→final (SURVEY.md §4); there is no
  *    user-visible combiner switch to port.
  *  - O1 custom first-char partitioner (WordCount2/WordCount.java:59–72) —
  *    data placement, not semantics; Spark's HashPartitioning on the group
  *    key replaces it (see `wordCountPartitionedLikeReference` for the
  *    layout-preserving form).
  *
  * Everything here is built from codegen'd `functions._` — split/filter/
  * explode/length — no UDFs, so the whole pipeline stays inside
  * WholeStageCodegen and the parquet scan reads only `text` (+ ids).
  */
object Text {

  /** The engine's whitespace definition: space, tab, LF, CR, FF — an
    * explicit class rather than `\s` because Java's `\s` matches vertical
    * tab U+000B and RE2's (the DuckDB oracle's) does not; pinning the
    * class keeps Spark and oracle tokenization byte-identical on any
    * input. graft.functions.Tok mirrors this set.
    */
  val ws = "[ \\t\\n\\r\\f]+"

  /** Non-empty whitespace tokens of a text column. */
  def tokens(text: Column): Column =
    filter(split(text, ws), w => length(w) > 0)

  /** `size(tokens(text))` (null for a null text) as one regex count: a
    * token is a maximal run of characters outside `ws`'s class.
    * `regexp_count` is code-generated, so the count joins the scan's
    * generated stage; `size(tokens(...))` goes through an interpreted
    * higher-order function. */
  def tokenCount(text: Column): Column =
    regexp_count(text, lit("[^ \\t\\n\\r\\f]+"))

  /** Whitespace-normalized lowercase body — the canonical form used by
    * fingerprinting AND exact dedup (Dedup delegates here; the two must
    * stay byte-identical).
    */
  def normText(text: Column): Column =
    regexp_replace(trim(lower(text)), ws, " ")

  /** P1+A1: canonical word count, output sorted by word (MR reducers emit
    * key-sorted output — §2 O5 — so the oracle-visible order is pinned).
    */
  def wordCount(documents: DataFrame): DataFrame =
    documents
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** GREEDY MAX-COVERAGE source selection: pick `steps` sources, each
    * step taking the source whose documents add the most NOT-YET-COVERED
    * distinct tokens (ties on source name) — the classic (1−1/e)-
    * approximate set-cover greedy, and the data-mixing question it
    * answers is "which k sources buy the most vocabulary": redundant
    * mirrors score near zero from step 2 even when individually huge,
    * which no per-source census (q124/q125's marginals) can see.
    *
    * Output: one row per step — (rnk, source, gain, covered_total) with
    * gain = newly covered distinct tokens and covered_total the running
    * union size. A source whose remaining gain is zero is not pickable;
    * if fewer productive sources than `steps` exist the output is
    * shorter, identically in both engines.
    *
    * Coverage units are word `n`-grams (default bigrams): unigram
    * vocabularies of same-domain sources converge to one shared pool
    * (measured: one fixture source unigram-covers every other — the
    * greedy stops at step 1), while n-gram contexts keep discriminating
    * — the same reason shingle dedup works at n ≥ 2.
    *
    * Scale shape: the postings table (DISTINCT source × n-gram) is one
    * partial-agg distinct, vocabulary-bounded per source; each step is
    * ONE job — an anti-join against the covered-gram set (grows
    * monotonically, bounded by |vocabulary|) folded to a single argmax
    * row via a struct-min partial agg and collected (the bounded-collect
    * discipline: one row of model state per step, never data). The
    * selected set rides back into the next step as an `isin` literal of
    * ≤ `steps` source names; the output is ≤ `steps` rows assembled on
    * the driver with exact long sums — the r19 form's per-step
    * persist+force+union chain launched ~3 jobs per step and measured
    * SLOWER at 32 cores than at 8 (job-launch-bound, r19 verdict
    * item 7).
    */
  def greedySourceCover(documents: DataFrame, steps: Int = 5,
                        n: Int = 2): DataFrame = {
    require(steps >= 1 && steps <= 16, "need 1 <= steps <= 16")
    require(n >= 1 && n <= 8, "need 1 <= n <= 8")
    // r19: per-document DISTINCT n-grams through the native one-pass
    // shingle kernel instead of tokens() + transform + array_join (the
    // interpreted-expression chain was the dominant cost of the whole
    // query — ~5.5 s of ~9 at sf0.1). Identical postings set: the
    // trailing DISTINCT collapses duplicate (source, gram) rows either
    // way; the kernel merely dedups per document first, which also
    // shrinks the explode before the shuffle.
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val spark = documents.sparkSession
    val postings = documents
      .select(col("source"),
        explode(graft.functions.GraftFunctions.shingles(
          col("text"), n)).as("word"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // force the cache NOW: every step's job reads these blocks from two
    // subtrees (remaining + covered), and an unforced persist
    // materializing inside one job is computed once per concurrent
    // subtree (cache-population race)
    postings.count()
    val picks =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    try {
      var exhausted = false
      while (picks.length < steps && !exhausted) {
        val selected = picks.map(_._2).toSeq
        // anti-join parity for the picked-source exclusion: a NULL
        // source never equals a picked name, so it must SURVIVE the
        // exclusion exactly as it survived the left_anti form
        val remaining =
          if (selected.isEmpty) postings
          else postings.filter(col("source").isNull ||
            !col("source").isin(selected: _*))
        val covered =
          if (selected.isEmpty) None
          else Some(postings
            .filter(col("source").isin(selected: _*)).select("word"))
        val gains = covered.fold(remaining)(c =>
            remaining.join(c, Seq("word"), "left_anti"))
          .groupBy("source").agg(count(lit(1)).as("gain"))
        // argmax as a struct-min partial agg (gain desc ⇒ negate), never
        // a global-order window over the source census; ONE collected
        // row per step (null struct = no productive source left)
        val row = gains
          .agg(min(struct((-col("gain")).as("ng"), col("source"))).as("m"))
          .select(col("m.ng").as("ng"), col("m.source").as("source"))
          .collect()(0)
        if (row.isNullAt(0) && row.isNullAt(1)) exhausted = true
        else picks +=
          (((picks.length + 1).toLong, row.getString(1), -row.getLong(0)))
      }
    } finally { postings.unpersist(blocking = false); () }
    var cum = 0L
    val rows = picks.map { case (rnk, source, gain) =>
      cum += gain
      org.apache.spark.sql.Row(rnk, source, gain, cum)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rnk",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("gain",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("covered_total",
        org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(rows.toSeq: _*)), schema)
      .orderBy("rnk")
  }

  /** P2+A2: word count restricted to tokens matching a prefix regex
    * (default = the reference's `^[mnopqMNOPQ]`).
    */
  def wordCountFiltered(documents: DataFrame,
                        pattern: String = "^[mnopqMNOPQ]"): DataFrame =
    documents
      .select(explode(tokens(col("text"))).as("word"))
      .filter(col("word").rlike(pattern))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** O1: the reference's semantic partitioner — lowercase first char,
    * `(c - 'm') % n` as the PARTITION INDEX (WordCount2/WordCount.java:
    * 59–72; inputs are pre-filtered to ^[mnopqMNOPQ] so the index is
    * 0..4). `repartition(n, expr)` would HASH the expression, scattering
    * the groups, so this drops to an RDD `Partitioner` — the one place the
    * reference's semantics are genuinely about data placement (SURVEY §2.5
    * notes plain aggregation never needs this).
    */
  def wordCountPartitionedLikeReference(documents: DataFrame,
                                        numPartitions: Int = 5): DataFrame = {
    val wc = wordCountFiltered(documents)
    val spark = documents.sparkSession
    // sort WITHIN partitions too: MR's sort phase key-sorts every
    // reducer's output file (§2.5 O5), and layout parity is this
    // function's whole purpose
    val rdd = wc.rdd
      .map(r => r.getString(0) -> r.getLong(1))
      .repartitionAndSortWithinPartitions(
        new FirstCharPartitioner(numPartitions))
      .map { case (w, c) => org.apache.spark.sql.Row(w, c) }
    spark.createDataFrame(rdd, wc.schema)
  }

  /** The reference's WordPartitioner rule, with a positive-mod guard. */
  private final class FirstCharPartitioner(n: Int)
      extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = {
      val c = Character.toLowerCase(key.asInstanceOf[String].charAt(0))
      (((c - 'm') % n) + n) % n
    }
  }

  /** PII scrubbing patterns (training-pipeline redaction stage). Written
    * in the Java∩RE2 regex subset (no lookarounds, no backrefs) so an
    * external engine — or a SQL oracle — can evaluate the identical
    * pattern, the same portability rule as `bpePattern`.
    */
  val emailPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlPattern: String = "https?://[^ \\t\\n\\r\\f]+"
  val phonePattern: String =
    "(?:\\+?[0-9]{1,3}[- .]?)?\\(?[0-9]{3}\\)?[- .]?[0-9]{3}[- .]?[0-9]{4}"

  /** The phone core wrapped in digit-boundary guards. The bare core
    * matches INSIDE longer digit runs — a 16-digit card number would
    * partially redact, and any embedded 10-digit identifier would scrub —
    * so a real match must be flanked by non-digits (or the string ends).
    * Lookarounds are off the table (the portability rule above: RE2 has
    * none), so the guards are CAPTURING one-char groups that the
    * replacement restores: `$1<PHONE>$3` / `\1<PHONE>\3`. The trailing
    * alternation tries the character class before `$` so both engines
    * consume a final newline identically.
    */
  val phoneGuardedPattern: String =
    "(^|[^0-9])(" + phonePattern + ")([^0-9]|$)"

  /** Redact emails, URLs, and phone-shaped numbers to fixed tags — the
    * standard pre-training scrub. Order matters and is fixed: URLs first
    * (an email-looking userinfo inside a URL must not leave a dangling
    * scheme), then emails, then phones. Pure per-row projection —
    * codegen'd `regexp_replace`, no shuffle, scan-speed at corpus scale.
    *
    * The phone pass runs TWICE: the consumed trailing boundary means two
    * phones separated by a single non-digit alternate — pass one takes
    * the odd ones, pass two the rest (restored boundaries separate every
    * remaining candidate, so two passes close any chain). Tags must not
    * contain digits or `$`/`\` (they'd re-trigger the guards or read as
    * replacement escapes).
    */
  def redact(documents: DataFrame,
             emailTag: String = "<EMAIL>", urlTag: String = "<URL>",
             phoneTag: String = "<PHONE>"): DataFrame = {
    def phonePass(c: Column): Column =
      regexp_replace(c, phoneGuardedPattern, "$1" + phoneTag + "$3")
    documents.withColumn("text",
      phonePass(phonePass(
        regexp_replace(
          regexp_replace(col("text"), urlPattern, urlTag),
          emailPattern, emailTag))))
  }

  /** URL canonicalization patterns — all in the Java∩RE2 subset and kept
    * as named constants so a SQL oracle interpolates the IDENTICAL
    * pattern (replacement syntax differs per engine: `$1` Java, `\1`
    * RE2, as with `phoneGuardedPattern`). Order of application is part
    * of the contract — see `canonicalizeUrl`.
    */
  val urlFragmentPat: String = "#.*$"
  val urlUtmMidPat: String = "&utm_[^&#]*"
  val urlUtmLeadAmpPat: String = "\\?utm_[^&#]*&"
  val urlUtmLeadEndPat: String = "\\?utm_[^&#]*$"
  val urlPrefixPat: String = "^((?i:https?)://[^/?#]+)"
  val urlRestPat: String = "^(?i:https?)://[^/?#]+(.*)$"
  val urlHttpsPortPat: String = "^(https://[^/:]+):443([/?#].*)?$"
  val urlHttpPortPat: String = "^(http://[^/:]+):80([/?#].*)?$"

  /** Canonical form of a URL for dedup purposes: fragment stripped,
    * `utm_*` tracking parameters removed (other params kept), scheme and
    * host lowercased (path/query case is significant and preserved), and
    * the scheme-default port dropped. Two raw spellings that canonicalize
    * equal are the same resource — the crawl-dedup key every pipeline
    * groups on before any content hashing.
    *
    * Fixed pass order (fragment → utm → lowercase prefix → default
    * port); each pass is one anchored `regexp_replace`/`regexp_extract`
    * in the shared-constant patterns above, all codegen'd projections —
    * no shuffle, scan-speed.
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, urlFragmentPat, "")
    val noUtm = regexp_replace(
      regexp_replace(
        regexp_replace(noFrag, urlUtmMidPat, ""),
        urlUtmLeadAmpPat, "?"),
      urlUtmLeadEndPat, "")
    val prefix = regexp_extract(noUtm, urlPrefixPat, 1)
    // non-http(s) inputs (ftp:, mailto:, relative paths) pass through
    // with only the fragment/utm passes applied — collapsing them all
    // to '' would alias every such URL into one bogus dedup group
    val lowered = when(prefix === "", noUtm)
      .otherwise(concat(lower(prefix),
        regexp_extract(noUtm, urlRestPat, 1)))
    regexp_replace(
      regexp_replace(lowered, urlHttpsPortPat, "$1$2"),
      urlHttpPortPat, "$1$2")
  }

  /** URL dedup census: group by canonical form, count raw spellings and
    * keep the smallest doc_id as the representative. One hash exchange
    * of (canonical, partial-count) rows.
    */
  def urlDedup(urls: DataFrame, urlCol: String = "url"): DataFrame =
    urls
      .select(col("doc_id"), canonicalizeUrl(col(urlCol)).as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_raw"), min("doc_id").as("first_doc"))
      .orderBy("canon_url")

  /** Per-domain accounting of the URLs a corpus mentions — the
    * governance census behind source-mix decisions (which hosts dominate,
    * what to downweight or block). Extract-all with the shared
    * `urlPattern` (every match, not just the first), explode, take the
    * host part, two-level count, deterministic top-k — the same
    * no-hot-reducer shape as the shingle census: a dominant domain
    * arrives as one partial row per map task, and only k rows reach the
    * driver.
    */
  def domainStats(documents: DataFrame, topK: Int = 20): DataFrame =
    documents
      .select(explode(
        regexp_extract_all(col("text"), lit(urlPattern), lit(0))).as("url"))
      .select(regexp_extract(col("url"), "https?://([^/]+)", 1).as("domain"))
      .groupBy("domain").agg(count(lit(1)).as("n_urls"))
      .orderBy(col("n_urls").desc, col("domain").asc)
      .limit(topK)

  /** Token/char statistics per document (north-star token counting). */
  def tokenStats(documents: DataFrame): DataFrame =
    documents
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"),
        length(col("text")).as("char_len"))
      .orderBy("doc_id")

  /** GPT-2-style ("BPE-ish") pre-tokenizer pattern, restricted to the
    * regex subset shared by Java and RE2 (no lookahead) so the DuckDB
    * oracle can evaluate the identical pattern: contractions, letter
    * runs, digit runs, punctuation runs — each optionally space-prefixed.
    */
  val bpePattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \\t\\n\\r\\f]+"

  /** North-star token counting, both ways: whitespace tokens and BPE-ish
    * subword-boundary tokens (`regexp_count` is codegen'd — no UDF).
    */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_ws_tokens"),
        regexp_count(col("text"), lit(bpePattern)).as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Document fingerprint: md5 of `normText` (north-star dedup/
    * fingerprinting primitive; the exact-dup key — same expression as
    * Dedup.exactDupGroups by construction).
    */
  def fingerprint(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), md5(normText(col("text")).cast("binary")).as("fp"))
      .orderBy("doc_id")

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

  /** Quality scoring per document (north-star): token count, stopword
    * ratio, mean token length. All ratios are exact-int divisions so the
    * doubles are reproducible across engines.
    */
  def qualityScore(documents: DataFrame,
                   stopwords: Seq[String] = defaultStopwords): DataFrame = {
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val nStop = size(filter(toks, w => w.isin(stopwords: _*)))
    val sumTokLen = length(array_join(toks, ""))
    // empty documents: ratios are NULL, not a DIVIDE_BY_ZERO crash (Spark
    // 4 runs ANSI mode by default; the DuckDB oracle yields NULL for 0/0)
    val guard = nTokens > 0
    documents.select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      nStop.as("n_stop"),
      when(guard, nStop / nTokens).as("stop_ratio"),
      when(guard, sumTokLen / nTokens).as("mean_tok_len"))
      .orderBy("doc_id")
  }

  /** Within-document repetition statistics (the Gopher/C4-style quality
    * filter family): per doc, the total word-bigram count, the fraction of
    * bigram OCCURRENCES that are repeats (1 − distinct/total), and the
    * share of the single most frequent bigram. High values flag the
    * boilerplate/spam/looping documents a training-data pipeline drops.
    *
    * Shape: explode to (doc_id, bigram) rows, two-level aggregate — NOT a
    * per-row O(tokens²) array-mode computation; the per-doc work is linear
    * and the heavy lifting is two partial-agg shuffles. Documents with
    * fewer than 2 tokens surface with n_bigrams = 0 and NULL fractions
    * (left join back to the corpus keeps the stat total).
    */
  def repetitionStats(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val n1 = greatest(size(toks) - 1, lit(0))
    val bg = documents.select(col("doc_id"), explode(
      zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
    val stats = bg.groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        round(lit(1.0) - count(lit(1)) / sum("c"), 4).as("dup_bigram_frac"),
        round(max("c") / sum("c"), 4).as("top_bigram_frac"))
    documents.select(col("doc_id")).join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("dup_bigram_frac"), col("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** CCNet-family fluency scoring: per-document mean log-probability
    * under a bigram language model trained on the corpus itself — the
    * quality signal that separates natural prose (common word-to-word
    * transitions) from gibberish, spam, and token salad (rare ones).
    * P(w2|w1) = c(w1 w2)/c(w1 ·) over the corpus; a document's score is
    * the occurrence-weighted mean of ln P over its bigrams. Model and
    * scored corpus are the same here; training on a reference slice is
    * the same code with a different `documents` for the model legs.
    *
    * ln P is QUANTIZED per distinct bigram (×10⁴, half-up) before the
    * per-doc average, the q57 tf-idf trick: the cross-engine-fragile
    * `ln` collapses to an integer, and the reported score is a single
    * IEEE division of two exact integers — bit-identical on any engine.
    * Docs with fewer than 2 tokens surface with n_bigrams = 0 and NULL
    * score (a left join keeps the corpus total).
    *
    * Scale: raw text leaves the plan at the first projection — every
    * shuffle after the (doc_id, bigram) count carries aggregated counts.
    * The model is bounded by OBSERVED bigrams (far under vocab²), its
    * unigram roll-up and the score join are aggregated-data joins, and
    * the per-doc reduce is a two-level sum. No window, no driver state.
    */
  /** Per-doc bigram counts — shared base of `bigramLmScore` and
    * `inDomainLmScore` (one construction, the two scorers cannot drift).
    */
  private def bigramCounts(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val n1 = greatest(size(toks) - 1, lit(0))
    documents.select(col("doc_id"), explode(
      zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
  }

  /** (bigram, lq) conditional-log-prob table from a bigram-count frame,
    * quantized to integer 1e-4 units (the exact-sum device).
    */
  private def bigramModelLq(bgc: DataFrame): DataFrame = {
    val model = bgc.groupBy("bigram").agg(sum("c").as("b12"))
      .withColumn("w1", element_at(split(col("bigram"), " ", 2), 1))
    val uni = model.groupBy("w1").agg(sum("b12").as("u1"))
    model.join(uni, "w1")
      .select(col("bigram"),
        round(log(col("b12") / col("u1")) * 10000).cast("long").as("lq"))
  }

  def bigramLmScore(documents: DataFrame): DataFrame = {
    val bgc = bigramCounts(documents)
    val q = bigramModelLq(bgc)
    val perDoc = bgc.join(q, "bigram")
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        (sum(col("c") * col("lq")).cast("double") /
          (sum("c") * 10000).cast("double")).as("lm_score"))
    documents.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm_score"))
      .orderBy("doc_id")
  }

  /** CCNet-style IN-DOMAIN language-model scoring: the bigram LM trains
    * on a curated `domain` frame and scores a DIFFERENT corpus — the
    * standard quality filter ("keep web text that looks like Wikipedia")
    * that `bigramLmScore`'s self-trained form cannot express. Out-of-model
    * bigrams cannot be scored by a count-based model; they are COUNTED
    * instead (`n_covered` vs `n_bigrams`), because coverage itself is the
    * first quality signal — a document whose bigrams are mostly unknown
    * to the in-domain LM is off-domain regardless of its score on the
    * covered slice. `lm_score` is the exact integer-quantized mean
    * log-prob over covered bigrams (NULL when nothing is covered).
    *
    * Scale shape: the model is aggregated-data — (bigram, lq) census
    * rows, bounded by the DOMAIN's vocabulary — joined to the corpus
    * bigram census; both inputs to every join are post-aggregation.
    */
  def inDomainLmScore(documents: DataFrame, domain: DataFrame): DataFrame = {
    val q = bigramModelLq(bigramCounts(domain))
    val bgc = bigramCounts(documents)
    val tot = bgc.groupBy("doc_id").agg(sum("c").as("n_bigrams"))
    val cov = bgc.join(q, "bigram")
      .groupBy("doc_id")
      .agg(sum("c").as("n_covered"),
        (sum(col("c") * col("lq")).cast("double") /
          (sum("c") * 10000).cast("double")).as("lm_score"))
    documents.select(col("doc_id"))
      .join(tot, Seq("doc_id"), "left")
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        col("lm_score"))
      .orderBy("doc_id")
  }

  /** C4-style boilerplate-line removal: delete every line that occurs in
    * at least `minDocs` DISTINCT documents (nav bars, cookie banners,
    * share buttons, copyright footers — the lines that repeat across a
    * crawl because they come from the template, not the author). Lines
    * are `\n`-delimited; blank lines are never counted as boilerplate
    * (removing them would collapse paragraph structure wholesale).
    * Output is one row per input document, line order preserved; a
    * document whose every line was boilerplate survives with empty text
    * (dropping it is a separate filtering decision).
    *
    * Shape at scale: (1) posexplode lines; (2) two-level distinct-doc
    * census per line — a template line present in every document arrives
    * at the final count as one partial row per map task, never a hot
    * reducer; (3) the frequent set is bounded by actual boilerplate
    * volume (df ≥ minDocs lines are few by construction), so it
    * BROADCASTS and the corpus anti-joins against it without shuffling;
    * (4) the one corpus-wide shuffle is the doc_id reassembly group —
    * inherent to any line-restructuring pass. At 100 TB, key the census
    * and the anti-join on `xxhash64(line)` so step 2 shuffles 8-byte
    * hashes instead of line text; the string form here keeps the operator
    * engine-portable for the oracle (both joins are equivalent absent
    * hash collisions).
    */
  def removeBoilerplateLines(documents: DataFrame,
                             minDocs: Int = 10): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would delete every non-blank line")
    val ex = documents.select(col("doc_id"),
      posexplode(split(col("text"), "\n", -1)).as(Seq("pos", "line")))
    val freq = ex.filter(col("line") =!= "")
      .groupBy("line").agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select("line")
    val kept = ex.join(broadcast(freq), Seq("line"), "left_anti")
    // collect_list is order-nondeterministic: sort the (pos, line) structs
    // (pos is unique per doc, so the struct sort IS the positional sort)
    val rebuilt = kept.groupBy("doc_id")
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as("text"))
    documents.select(col("doc_id")).join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .orderBy("doc_id")
  }

  /** Sliding-window token chunking: split each document's token stream
    * into windows of `window` tokens advancing by `stride` (overlap =
    * window − stride) — the context-window preparation stage of a
    * training pipeline. Chunk i covers tokens [i·stride+1, i·stride+window];
    * the chunk count is chosen so the last window reaches the final token
    * (a short tail rides the last window's overlap rather than being
    * dropped). Documents shorter than one window — including empty ones —
    * yield exactly one (possibly short or empty) chunk, so every input
    * row is represented.
    *
    * Pure per-row computation: split/sequence/explode/slice/concat_ws are
    * all codegen'd builtins — no shuffle, no state, scan-speed at corpus
    * scale; output size is input size × (1/stride overlap factor), the
    * irreducible cost of overlap.
    */
  def chunkTokens(documents: DataFrame, window: Int = 64,
                  stride: Int = 48): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      "need 1 <= stride <= window")
    val n = size(col("toks"))
    // ceil((n - window)/stride) + 1 for n > window, else 1; values are
    // far inside double's exact-integer range, so ceil is drift-free
    val nChunks = when(n <= window, lit(1)).otherwise(
      (ceil((n - lit(window)).cast("double") / stride) + 1).cast("int"))
    val start = col("chunk_id") * stride + 1
    documents
      // null text reads as empty: a null would null out nChunks and the
      // explode would silently DROP the row, breaking the every-input-
      // row-represented contract above
      .select(col("doc_id"),
        tokens(coalesce(col("text"), lit(""))).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        size(slice(col("toks"), start, lit(window))).as("n_tokens"),
        concat_ws(" ", slice(col("toks"), start, lit(window))).as("chunk"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Per-document top-`topK` terms by tf·idf (north-star text analysis:
    * keyword extraction / salience scoring for corpus triage).
    *
    * idf = ln(N/df) is QUANTIZED to an integer (×10⁴, half-up) before the
    * score multiply and the ranking. Ranking on raw doubles would make the
    * top-k order depend on the engine's last-ulp `ln` behavior whenever two
    * (tf, df) pairs are mathematically close — quantized, the sort key is
    * exact integer arithmetic, so any engine (the DuckDB oracle included)
    * ranks identically, and ties fall to the lexicographic term tiebreak.
    * The reported score is score_i/10⁴ — the same double everywhere.
    *
    * `docCount` avoids an extra scan when the caller already knows N
    * (≤ 0 → count here). Shuffle profile at scale: one agg on
    * (doc_id, term), one agg on term (df), a term-keyed join that
    * re-uses the df agg's partitioning, and the per-doc window — each a
    * single hash exchange of already-aggregated rows, never raw tokens.
    */
  def tfidfTopTerms(documents: DataFrame, topK: Int = 3,
                    docCount: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = if (docCount > 0) docCount else documents.count()
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idfQ = round(log(lit(n.toDouble) / col("df")) * 10000).cast("long")
    val w = Window.partitionBy("doc_id").orderBy(desc("score_i"), asc("term"))
    tf.join(df, "term")
      .withColumn("score_i", col("tf") * idfQ)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("term"),
        (col("score_i") / 10000.0).as("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** Token co-occurrence with PMI ranking: the top-`topK` token pairs by
    * pointwise mutual information `pair_df·N / (df1·df2)` over document
    * co-occurrence, with `minPairs` support. The collocation census a
    * corpus linguist (or a tokenizer-vocab builder) runs first.
    *
    * Drift-free by construction: the emitted score is the exact integer
    * RATIONAL (score_num = pair_df·N, score_den = df1·df2) — no log, no
    * float accumulation; the ORDER BY divides the two bigints once per
    * row, an exact IEEE op both engines compute bit-identically, with
    * (t1, t2) breaking ties.
    *
    * Scale shape (100 TB): distinct tokens per doc are capped at
    * `maxTokensPerDoc` (sorted-prefix, so the cap is deterministic and
    * engine-portable), bounding the per-doc pair blow-up at K²/2; the
    * census is explode → self-equi-join on doc_id → two-level count —
    * all hash exchanges of (token, count) rows, and the df side of the
    * final enrichment join reuses the df agg's partitioning on the token.
    */
  def pmiPairs(documents: DataFrame, topK: Int = 30, minPairs: Long = 5,
               maxTokensPerDoc: Int = 64): DataFrame = {
    val toks = documents.select(col("doc_id"),
      slice(array_sort(array_distinct(tokens(lower(col("text"))))),
        1, maxTokensPerDoc).as("ts"))
    val ex = toks.select(col("doc_id"), explode(col("ts")).as("t"))
    val df = ex.groupBy("t").agg(count(lit(1)).as("df"))
    val pairs = ex.as("a").join(ex.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("t1"), col("b.t").as("t2"))
      .agg(count(lit(1)).as("pair_df"))
      .filter(col("pair_df") >= minPairs)
    val n = documents.agg(count(lit(1)).as("n_docs"))
    pairs
      .join(df.select(col("t").as("t1"), col("df").as("df1")), "t1")
      .join(df.select(col("t").as("t2"), col("df").as("df2")), "t2")
      .crossJoin(broadcast(n))
      .select(col("t1"), col("t2"), col("pair_df"), col("df1"), col("df2"),
        (col("pair_df") * col("n_docs")).as("score_num"),
        (col("df1") * col("df2")).as("score_den"))
      .orderBy((col("score_num").cast("double") / col("score_den")).desc,
        col("t1"), col("t2"))
      .limit(topK)
  }

  /** One BPE training round: the corpus-wide census of adjacent
    * character pairs inside words, weighted by word frequency — the
    * argmax of this table IS the next merge a byte-pair-encoding
    * tokenizer would learn, and the ranked tail is the merge queue.
    *
    * Aggregate-then-expand: words collapse to (word, freq) FIRST, pairs
    * explode from DISTINCT words only, and the pair count is Σ freq — at
    * 100 TB the explode runs over the vocabulary (millions), not the
    * corpus (trillions of tokens). Pair extraction is character-based
    * substring arithmetic available identically in any SQL engine.
    */
  def bpePairCensus(documents: DataFrame, topK: Int = 20): DataFrame = {
    val wc = documents
      .select(explode(tokens(lower(col("text")))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    wc.filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1)," +
          " i -> substring(word, i, 2))")).as("pair"), col("freq"))
      .groupBy("pair").agg(sum("freq").as("cnt"))
      .orderBy(desc("cnt"), col("pair"))
      .limit(topK)
  }

  /** Rule-ensemble quality classifier (the C4/Gopher-style gate, scored):
    * four integer-exact heuristic rules, each worth a fixed weight, summed
    * into a document quality score; `keep = score ≥ minScore`. A logistic
    * head over these features orders documents identically (sigmoid is
    * monotone in the linear score), so thresholding the integer score IS
    * the classifier — and stays engine-exact where a sigmoid's `exp`
    * would drift between runtimes.
    *
    * Rules (all ratio tests cross-multiplied to integer comparisons):
    *   r1 (w=3): 3 ≤ n_tokens ≤ 1000          — fragment/blob length gate
    *   r2 (w=2): n_stop·50 ≥ n_tokens          — stopword ratio ≥ 2%
    *   r3 (w=2): 2·n ≤ Σ|tok| ≤ 12·n           — mean token length 2..12
    *   r4 (w=1): n_digits·5 < max(n_chars, 1)  — digit ratio < 20%
    *
    * One codegen'd projection per document — no shuffle at all; at 100 TB
    * this runs entirely inside the scan stage.
    */
  def qualityClassify(documents: DataFrame,
                      stopwords: Seq[String] = defaultStopwords,
                      minScore: Int = 6): DataFrame = {
    // null text coalesces to '' (the chunkTokens every-row-represented
    // contract): a NULL would propagate into NULL score and NULL keep —
    // neither kept nor rejected, silently dropped by either filter
    val txt = coalesce(col("text"), lit(""))
    val toks = tokens(lower(txt))
    val nTok = size(toks).cast("long")
    val nStop = size(filter(toks, w => w.isin(stopwords: _*))).cast("long")
    val sumLen = length(array_join(toks, "")).cast("long")
    val nDigits = length(regexp_replace(txt, "[^0-9]", "")).cast("long")
    val nChars = length(txt).cast("long")
    val r1 = (nTok >= 3 && nTok <= 1000).cast("int") * 3
    val r2 = (nStop * 50 >= nTok).cast("int") * 2
    val r3 = (nTok * 2 <= sumLen && sumLen <= nTok * 12).cast("int") * 2
    val r4 = (nDigits * 5 < greatest(nChars, lit(1L))).cast("int") * 1
    documents.select(col("doc_id"), nTok.as("n_tokens"),
        (r1 + r2 + r3 + r4).as("score"))
      .withColumn("keep", (col("score") >= minScore).cast("int"))
      .orderBy("doc_id")
  }

  /** Per-SOURCE token-distribution divergence: KL(source ‖ corpus) over
    * unigram distributions — the source-drift curation view. A source
    * whose token distribution sits far from the corpus mixture is either
    * a different register (code vs prose), a different language slice, or
    * contamination; this census ranks sources by that distance BEFORE a
    * mixing decision, where `domainStats` only ranks them by volume.
    *
    * Determinism across engines: a float Σ over thousands of tokens is
    * order-sensitive, so the log-ratio is quantized PER TERM to an
    * integer (`round(ln((c·N)/(n_s·g)) · 10000)` — the `bigramLmScore`
    * pattern) and the sum runs in exact integers; the final value is ONE
    * division of two exact integers. Every token of a source occurs in
    * the corpus by construction (the corpus census is the union), so the
    * ratio is never zero or infinite.
    *
    * Scale shape: two token censuses (partial-agg, map-side combined) and
    * aggregated-data joins — (source, token) rows join token-keyed global
    * counts and a broadcast-size per-source total; fact rows never
    * self-join. The wide exchanges carry census rows, not text.
    */
  def sourceDivergence(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("source"),
      explode(tokens(col("text"))).as("tok"))
    val bySrc = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val srcTotals = bySrc.groupBy("source").agg(sum("c").as("n_s"))
    val global = bySrc.groupBy("tok").agg(sum("c").as("g"))
    val total = global.agg(sum("g").as("n")).select(col("n"))
    val lq = bySrc
      .join(global, "tok")
      .join(broadcast(srcTotals), "source")
      .crossJoin(broadcast(total))
      .select(col("source"), col("c"), col("n_s"),
        round(log((col("c") * col("n")).cast("double") /
          (col("n_s") * col("g")).cast("double")) * 10000)
          .cast("long").as("lq"))
    lq.groupBy("source")
      .agg(min(col("n_s")).as("n_tokens"),
        (sum(col("c") * col("lq")).cast("double") /
          (min(col("n_s")) * lit(10000L)).cast("double")).as("kl"))
      .orderBy("source")
  }

  /** Character-CLASS Shannon entropy — the gibberish/blob detector that
    * complements `qualityClassify`'s ratio rules. Natural prose spreads
    * mass across lowercase + whitespace + some punctuation (entropy well
    * above 0.5 nat over the 5 classes); base64/hex blobs concentrate in
    * letters+digits with no whitespace, minified code concentrates in
    * `other`, and padding/ASCII-art concentrates in one class — all score
    * LOW. Five classes (lower, upper, digit, whitespace, other) rather
    * than per-character distribution: the census stays a fixed-width
    * codegen'd projection (class counts by regexp strip-and-subtract, no
    * explode), and the classes are what separate prose from blobs.
    *
    * Cross-engine parity: every count is an exact integer; the entropy
    * -Σ (cᵢ/n)·ln(cᵢ/n) is evaluated in the SAME left-to-right five-term
    * expression shape both engines and rounded to 4 decimals (the q79
    * quantized-ln precedent — IEEE doubles agree far beyond 1e-4).
    * Null/empty text scores entropy 0 with n_chars 0 (every row
    * represented — the `qualityClassify` contract).
    *
    * Scale shape: zero shuffle — one projection inside the scan stage.
    */
  def charClassEntropy(documents: DataFrame): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    val n = length(txt)
    def classCount(pattern: String): Column =
      n - length(regexp_replace(txt, pattern, ""))
    val counts = Seq(
      classCount("[a-z]"), classCount("[A-Z]"), classCount("[0-9]"),
      classCount("[ \\t\\n\\r\\f]"),
      length(regexp_replace(txt, "[a-zA-Z0-9 \\t\\n\\r\\f]", "")))
    // each term is negated INDIVIDUALLY (not the sum): a one-class
    // document's lone term is 1·ln(1) = 0, and -(0.0) is IEEE NEGATIVE
    // zero — which the oracle hash distinguishes from 0.0. Summing the
    // negated term with the other classes' +0.0 terms normalizes the sign
    // (-0.0 + 0.0 = +0.0) in both engines.
    val terms = counts.map { c =>
      when(c > 0, -(c.cast("double") / n.cast("double")) *
        log(c.cast("double") / n.cast("double"))).otherwise(lit(0.0))
    }
    val ent = when(n > 0, round(terms.reduce(_ + _), 4)).otherwise(lit(0.0))
    documents.select(col("doc_id"), n.cast("int").as("n_chars"),
        ent.as("class_entropy"))
      .orderBy("doc_id")
  }

  /** Frequency-ranked vocabulary coverage per source: build the top-`V`
    * token vocabulary over the WHOLE corpus (count desc, token asc — the
    * deterministic cut every tokenizer-training pipeline uses for its
    * frequency threshold), then report each source's token total, its
    * out-of-vocabulary token count, and the OOV rate. The pre-tokenizer
    * audit: a source whose OOV rate is an outlier either needs its own
    * vocab budget or is the wrong kind of text for the planned tokenizer.
    *
    * The OOV rate is the exact rational n_oov / n_tokens of two exact
    * integers — bit-identical cross-engine, no rounding needed.
    *
    * Scale shape: ONE (source, token) census is the base for everything —
    * the global census is a second-level aggregate of it (tokens shuffle
    * once, as (source, tok) partials), the vocabulary is a global top-V
    * (`TakeOrderedAndProject`: per-partition heaps, V rows to the driver),
    * and the per-source OOV sum is a broadcast anti-join of the census
    * against the V-row vocab — nothing wider than the census ever
    * shuffles, and the census is bounded by distinct (source, token),
    * not corpus tokens.
    */
  /** BPE tokenizer-merge training as iterative censuses on the WORD
    * FREQUENCY table — the standard trick that makes corpus-scale BPE
    * cheap: the corpus is read once for a (word, count) census, and every
    * merge round thereafter runs on distinct words weighted by count,
    * never on raw text. Each round: adjacent-symbol-pair census (weighted
    * by word count) → top-1 merge rule (weighted count desc, pair asc —
    * the deterministic tie every BPE implementation needs) → apply the
    * merge to every word. Output: one row per round,
    * `(round, pair, merged, wc)` — the ordered merge table a tokenizer
    * ships.
    *
    * Words are represented as sentinel-wrapped symbol strings
    * (`"low"` → `"|l| |o| |w|"`) so a merge is ONE engine-portable
    * `replace(s, "|l| |o|", "|lo|")`: left-to-right non-overlapping
    * replacement is exactly BPE's greedy application order, and the `|`
    * wrappers make a pair match impossible across symbol boundaries.
    * Assumes `|` does not occur inside tokens (true of the fixture and of
    * any pre-normalized corpus; a production caller picks any unused
    * codepoint).
    *
    * Fully declarative — NO driver-side loop state: each round's best
    * pair is a 1-row frame cross-joined (broadcast) into the word table,
    * so the R-round pipeline is one lazy DAG and the optimizer sees all
    * of it. The round-r census recomputes rounds 1..r−1's transforms
    * (cost R× the word census — fine for the single-digit R this query
    * ships); a long production run would checkpoint the word table every
    * few rounds, same contract. The pair explode materializes the symbol
    * array first (q126's generate-pushdown lesson: the inferred
    * `size() > 0` filter must re-derive from one cheap `size`, not
    * re-split per element).
    */
  def bpeTrainMerges(documents: DataFrame, rounds: Int): DataFrame =
    bpeLoop(documents, rounds)._1.reduce(_ unionByName _).orderBy("round")

  /** Per-document token count UNDER THE TRAINED TOKENIZER — the number a
    * context-budget / packing / pricing decision actually needs (the
    * whitespace and BPE-ish regex counts of `tokenCounts` are proxies).
    * Applies the `rounds` merges `bpeTrainMerges` learns to the word
    * census, counts each word's post-merge symbols once, and joins the
    * S-row (word → n_syms) map back to the corpus tokens — segmentation
    * work is O(distinct words), never O(corpus tokens).
    */
  def bpeSegmentCounts(documents: DataFrame, rounds: Int): DataFrame = {
    val (_, wordsFinal) = bpeLoop(documents, rounds)
    val nSyms = wordsFinal.select(col("w"),
      size(split(col("s"), " ")).cast("long").as("n_syms"))
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(nSyms, Seq("w"))
      .groupBy("doc_id").agg(sum("n_syms").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** The shared R-round merge loop: returns one (round, pair, merged, wc)
    * frame per round plus the final word table (w, s, cnt) with merges
    * applied — `bpeTrainMerges` reads the former, `bpeSegmentCounts` the
    * latter.
    */
  private def bpeLoop(documents: DataFrame,
                      rounds: Int): (Seq[DataFrame], DataFrame) = {
    require(rounds >= 1, "rounds must be >= 1")
    val words = documents
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    var w = words.select(col("w"),
      expr("array_join(transform(sequence(1, length(w)), " +
        "i -> concat('|', substr(w, i, 1), '|')), ' ')").as("s"),
      col("cnt"))
    val bests = (1 to rounds).map { r =>
      val pairs = w
        .select(col("cnt"), split(col("s"), " ").as("a"))
        .select(col("cnt"), explode(when(size(col("a")) > 1,
            expr("transform(sequence(1, size(a) - 1), " +
              "i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))"))
          .otherwise(array().cast("array<string>"))).as("pair"))
      val best = pairs.groupBy("pair").agg(sum("cnt").as("wc"))
        .orderBy(col("wc").desc, col("pair").asc).limit(1)
      w = w.crossJoin(broadcast(best.select(col("pair").as("bp"))))
        .select(col("w"),
          expr("replace(s, bp, replace(bp, '| |', ''))").as("s"),
          col("cnt"))
      best.select(lit(r.toLong).as("round"), col("pair"),
        expr("replace(pair, '| |', '')").as("merged"), col("wc"))
    }
    (bests, w)
  }

  /** One-row corpus datasheet — the header numbers of every dataset card:
    * document and token totals, language and source diversity, exact-
    * duplicate mass (docs minus distinct content fingerprints, as a count
    * and an integer per-mille), and mean document length as the exact
    * rational of the two totals. One scan, one aggregate (the multi-
    * distinct Expand is priced in `Profiling.numericProfile`'s note —
    * a release-time artifact, not a per-batch metric).
    */
  def corpusDatasheet(documents: DataFrame): DataFrame = {
    val base = documents.select(col("lang"), col("source"),
      size(tokens(col("text"))).cast("long").as("nt"),
      md5(normText(col("text"))).as("fp"))
    base.agg(
        count(lit(1)).as("n_docs"),
        sum("nt").as("n_tokens"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("source")).as("n_sources"),
        count_distinct(col("fp")).as("n_unique_docs"))
      .select(col("n_docs"), col("n_tokens"), col("n_langs"),
        col("n_sources"),
        (col("n_docs") - col("n_unique_docs")).as("n_exact_dups"),
        expr("(n_docs - n_unique_docs) * 1000L div n_docs")
          .as("dup_permille"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double"))
          .as("mean_doc_tokens"))
  }

  /** (doc_id, n_tokens, pos, gram): positional whitespace-token n-grams —
    * the ONE construction behind contamination span coverage
    * (Dedup.contaminationCoverage), phrase search, and the duplicated-span
    * census, so the three surfaces cannot drift. The explode carries only
    * the 0-based position sequence and the gram string is built AFTER the
    * Generate from the once-materialized token array: Catalyst's
    * explode-pushdown infers `size() > 0` / `isnotnull` predicates and
    * pushes them below the projection, and a sequence re-derives from one
    * cheap `size` where an inlined gram-array transform would re-split
    * the text per element (measured 8.5 s vs 1.7 s — the q126 lesson).
    */
  def positionalGrams(documents: DataFrame, n: Int): DataFrame = {
    require(n >= 1, "n must be >= 1")
    documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        col("t"),
        explode(when(size(col("t")) >= n,
            sequence(lit(0L), (size(col("t")) - n).cast("long")))
          .otherwise(array().cast("array<bigint>"))).as("pos"))
      .select(col("doc_id"), col("n_tokens"), col("pos"),
        concat_ws(" ",
          slice(col("t"), (col("pos") + 1).cast("int"), lit(n))).as("gram"))
  }

  /** Duplicated-span fraction — the ExactSubstr-style dup-rate metric:
    * for each document, the fraction of token positions covered by at
    * least one n-gram that ALSO occurs in some other document. The
    * corpus-internal sibling of `Dedup.contaminationCoverage` (same span
    * union, the reference set is the corpus itself instead of a
    * benchmark): doc-level Jaccard/MinHash answer "is this a near-dup";
    * this answers "how much of every document is recycled text" — the
    * census a dedup policy reads to pick its aggressiveness.
    *
    * Scale shape: the shared-gram set is an ids-only two-level
    * distinct-doc census with df ≥ 2 (never wider than distinct grams);
    * the span explode runs on positions whose gram is shared — bounded
    * by actual duplication. `dup_fraction` is the exact rational of two
    * integers.
    */
  def dupSpanFraction(documents: DataFrame, n: Int = 5): DataFrame = {
    val pg = positionalGrams(documents, n)
    // NOT width-pinned (r20, measured): unlike the pair censuses, both
    // aggs here REDUCE heavily map-side (each gram repeats per position;
    // each position repeats per covering gram), so a user repartition
    // would shuffle the raw gram strings instead of the partials —
    // aggregate-before-shuffle wins (guide §2.3; pinned form measured
    // q141 2.05 → 3.01 s and was reverted).
    val shared = pg.select(col("gram"), col("doc_id")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("gram")
    val cov = pg.join(shared, Seq("gram"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .groupBy("doc_id").agg(countDistinct(col("p")).as("n_dup_positions"))
    documents
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_positions"), lit(0L)).as("n_dup_positions"),
        when(col("n_tokens") > 0,
          coalesce(col("n_dup_positions"), lit(0L)).cast("double") /
            col("n_tokens").cast("double")).as("dup_fraction"))
      .orderBy("doc_id")
  }

  /** Quality-signal ENSEMBLE by rank voting: three independent per-doc
    * signals (stopword density, type-token ratio, length) are each
    * reduced to their k-quantile bucket and SUMMED — the standard
    * "no single heuristic decides" corpus filter (rank voting is
    * scale-free, so a signal with a weird distribution cannot dominate
    * the way raw-score averaging lets it). Keep/drop thresholds then
    * read off `vote` ∈ [3, 3k].
    *
    * The bucketing is `Profiling.quantileBuckets` — the SHARDED ntile
    * (q155's bit-identical-to-window contract), so the ensemble runs
    * three range-partitioned rank passes, never a single-task global
    * sort. Zero-token documents carry no signals and are excluded (the
    * q148 contract). All-integer signals (permille ratios) keep every
    * decision engine-portable.
    */
  def qualityEnsemble(documents: DataFrame, buckets: Int = 10,
                      stopwords: Seq[String] = Seq("the", "a", "an",
                        "of", "and", "to", "in", "is", "it", "for"))
      : DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val toks = tokens(col("text"))
    val stops = org.apache.spark.sql.functions.filter(toks,
      w => w.isInCollection(stopwords))
    val f = documents
      .select(col("doc_id"),
        size(stops).cast("long").as("__ns"),
        size(toks).cast("long").as("__nt"),
        size(array_distinct(toks)).cast("long").as("__nd"),
        col("n_chars").cast("long").as("n_chars"))
      .where(col("__nt") > 0L)
      .select(col("doc_id"),
        expr("__ns * 1000L div __nt").as("stop_permille"),
        expr("__nd * 1000L div __nt").as("ttr_permille"),
        col("n_chars"))
    def bucketOf(vc: String, out: String) =
      Profiling.quantileBuckets(f, "doc_id", vc, "doc_id", buckets)
        .select(col("doc_id"), col("bucket").as(out))
    bucketOf("stop_permille", "b_stop")
      .join(bucketOf("ttr_permille", "b_ttr"), "doc_id")
      .join(bucketOf("n_chars", "b_len"), "doc_id")
      .select(col("doc_id"), col("b_stop"), col("b_ttr"), col("b_len"),
        (col("b_stop") + col("b_ttr") + col("b_len")).as("vote"))
      .orderBy("doc_id")
  }

  /** Duplicated-span REMOVAL — the acting face of `dupSpanFraction`'s
    * census (ExactSubstr-style dedup at span granularity): every token
    * position covered by an n-gram occurring in ≥ `minDf` documents is
    * dropped, and the document is rebuilt from the surviving tokens.
    * Doc-level dedup keeps or kills whole documents; this keeps the
    * document and cuts the boilerplate/recycled spans INSIDE it — the
    * pass that rescues a unique article wrapped in a syndicated shell.
    *
    * Output text is the CANONICAL single-space join of kept tokens in
    * original order (the operator tokenizes to decide, so it cannot
    * reproduce the original inter-token whitespace — document contract,
    * matching `normText`'s canonical-space worldview). A fully-recycled
    * document survives as an empty string: dropping rows is the
    * caller's policy decision (`length > 0` filter), not this
    * operator's.
    *
    * Scale shape: `dupSpanFraction`'s census stages (ids-only df
    * census; span explode bounded by duplication) plus one tokens
    * posexplode anti-joined on covered positions; the rebuild sorts
    * each doc's kept (pos, token) pairs INSIDE a per-row array_sort —
    * no window, no per-group shuffle beyond the one keyed agg.
    */
  def stripDuplicatedSpans(documents: DataFrame, n: Int = 5,
                           minDf: Long = 2L): DataFrame = {
    require(n >= 1 && minDf >= 2, "need n >= 1 and minDf >= 2")
    val pg = positionalGrams(documents, n)
    val hot = pg.select(col("gram"), col("doc_id")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select("gram")
    val covered = pg.join(hot, Seq("gram"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
    val toks = documents
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p").cast("long").as("p"), col("tok"))
    toks.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("p"), col("tok")))),
        s => s.getField("tok")), " ").as("kept"))
      .join(documents.select(col("doc_id")), Seq("doc_id"), "right")
      .select(col("doc_id"), coalesce(col("kept"), lit("")).as("text"))
      .orderBy("doc_id")
  }

  /** HAPAX census — per source, vocabulary size and the share of types
    * occurring exactly once: the classic vocabulary-health number
    * (natural text runs ~40–60‰ hapax; templated/generated text
    * collapses toward 0, OCR noise explodes it) complementing q147's
    * Zipf slope with the distribution's other end. Exact integers.
    *
    * Scale shape: one (source, token) census with map-side partials,
    * then a per-source agg over census rows — vocabulary-bounded.
    */
  def hapaxCensus(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        coalesce(sum(when(col("n") === 1, 1L)), lit(0L)).as("n_hapax"))
      .select(col("source"), col("n_types"), col("n_hapax"),
        expr("n_hapax * 1000L div n_types").as("hapax_permille"))
      .orderBy("source")

  /** Context-length TRUNCATION planner: for each candidate maximum
    * sequence length, how many documents exceed it and how much token
    * mass a hard truncation would discard — the table `max_seq_len`
    * is actually chosen from (the complement of `chunkTokens`, which
    * SPLITS instead of cutting; this prices the cut). Exact integers;
    * `lost_permille` is relative to the full corpus mass.
    *
    * Scale shape: one scan-stage token count crossed with the
    * |lengths|-row literal list — the corpus is read once and the
    * cross join multiplies only the tiny literal side.
    */
  def truncationPlan(documents: DataFrame,
                     lengths: Seq[Long] = Seq(32L, 64L, 128L, 256L))
      : DataFrame = {
    require(lengths.nonEmpty && lengths.forall(_ >= 1),
      "lengths must be positive")
    val nt = documents
      .select(size(tokens(col("text"))).cast("long").as("nt"))
    val ls = lengths.map(l => s"${l}L").mkString("array(", ", ", ")")
    nt.select(col("nt"), explode(expr(ls)).as("max_len"))
      .groupBy("max_len")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("nt") > col("max_len"), 1L)), lit(0L))
          .as("n_truncated"),
        coalesce(sum(when(col("nt") > col("max_len"),
          col("nt") - col("max_len"))), lit(0L)).as("tokens_lost"),
        sum("nt").as("__tot"))
      .select(col("max_len"), col("n_docs"), col("n_truncated"),
        col("tokens_lost"),
        expr("tokens_lost * 1000L div nullif(__tot, 0L)")
          .as("lost_permille"))
      .orderBy("max_len")
  }

  /** EFFECTIVE token census — per source, raw token mass vs the mass
    * surviving duplicated-span removal (`stripDuplicatedSpans`, same
    * n/minDf): the number that answers "how much UNIQUE data does this
    * source actually contribute", which raw token counts overstate by
    * exactly the recycled-text mass (the q141 funnel drops whole docs;
    * this prices the span-level redundancy inside the survivors too).
    * `unique_permille` is the exact integer ratio.
    *
    * Scale shape: stripDuplicatedSpans' stages (ids-only df census,
    * duplication-bounded explode) plus two per-source partial aggs.
    */
  def effectiveTokens(documents: DataFrame, n: Int = 5,
                      minDf: Long = 2L): DataFrame = {
    val raw = documents
      .select(col("source"),
        size(tokens(col("text"))).cast("long").as("__nt"))
      .groupBy("source").agg(sum("__nt").as("n_tokens_raw"))
    val kept = stripDuplicatedSpans(documents, n, minDf)
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"),
        size(tokens(col("text"))).cast("long").as("__nk"))
      .groupBy("source").agg(sum("__nk").as("n_tokens_unique"))
    raw.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_tokens_raw"),
        coalesce(col("n_tokens_unique"), lit(0L)).as("n_tokens_unique"),
        expr("coalesce(n_tokens_unique, 0L) * 1000L" +
          " div nullif(n_tokens_raw, 0L)").as("unique_permille"))
      .orderBy("source")
  }

  /** Exact phrase search: documents containing `phrase` as CONSECUTIVE
    * whitespace tokens, with occurrence counts — the retrieval primitive
    * `LIKE '%...%'` answers with a full unindexed string scan and an
    * n-gram posting answers with an index probe. This operator is the
    * build+probe fused (positional |phrase|-grams in the scan projection,
    * equality filter, per-doc count); a corpus serving MANY phrase
    * queries materializes the same (shingle → doc, pos) postings ONCE
    * (Dedup.shingleSets machinery) and probes it per query — identical
    * contract, amortized build.
    *
    * The explode carries positions only and builds the gram string after
    * the Generate — the q126 generate-pushdown lesson; the inferred
    * `size() > 0` pushdown then re-derives from one cheap `size`.
    */
  def phraseSearch(documents: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    require(phrase.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      "phrase tokens must be non-empty and whitespace-free")
    positionalGrams(documents, phrase.length)
      .filter(col("gram") === phrase.mkString(" "))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** BM25 top-k retrieval — the text-side counterpart of the vector ANN
    * family: score every document against a term query with the Lucene
    * BM25 form `idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`,
    * `idf = ln(1 + (N−df+0.5)/(df+0.5))`, and return the top `k`. The
    * curation use is targeted-domain mining: "find the documents about X"
    * over a raw corpus, before any embedding exists.
    *
    * Cross-engine exactness: per-term scores are doubles from the same
    * expression shape both engines, then QUANTIZED to integer
    * micro-units before the per-doc sum (the q79/q122 device) — so the
    * only float reduction happens in deterministic single values, the
    * Σ runs in exact integers in any partitioning, and the final score
    * is one division. Ranking breaks ties on doc_id.
    *
    * Scale shape: tokens are filtered to the |q|-term query IN the scan
    * stage (`isin` on a literal list), so everything after the scan is
    * bounded by documents-matching-query, not corpus tokens; N/avgdl/df
    * are one global and one |q|-row aggregate, both broadcast; top-k is
    * `TakeOrderedAndProject`.
    */
  def bm25TopK(documents: DataFrame, queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    require(k >= 1, "k must be >= 1")
    val toks = documents.select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        col("t"))
    val stats = toks.agg(count(lit(1)).as("n_docs"), sum("dl").as("tok_total"))
    val tf = toks
      .select(col("doc_id"), col("dl"), explode(col("t")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("tok_total").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
          (col("df").cast("double") + 0.5)))
      .withColumn("tscore", col("idf") *
        (col("tf").cast("double") * (k1 + 1.0)) /
        (col("tf").cast("double") +
          lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast("double") / col("avgdl"))))
      .withColumn("q", round(col("tscore") * 1000000.0).cast("long"))
    scored.groupBy("doc_id").agg(sum("q").as("qsum"))
      .orderBy(col("qsum").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"),
        (col("qsum").cast("double") / 1000000.0).as("score"))
  }

  def vocabCoverage(documents: DataFrame, vocabSize: Int = 1000): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    // persist: vocab + totals + the final join all read this census from
    // the caller's lazy action, and each would re-run the tokenize and
    // its shuffle. The entry stays in the session's cache until the
    // caller's `clearCache()` (an eager unpersist would evict before the
    // action)
    val bySrc = documents
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = bySrc.groupBy("tok").agg(sum("c").as("g"))
      .orderBy(col("g").desc, col("tok").asc)
      .limit(vocabSize)
      .select("tok")
    val tot = bySrc.groupBy("source").agg(sum("c").as("n_tokens"))
    val oov = bySrc.join(broadcast(vocab), Seq("tok"), "left_anti")
      .groupBy("source").agg(sum("c").as("n_oov"))
    tot.join(oov, Seq("source"), "left")
      .select(col("source"), col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        (coalesce(col("n_oov"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("oov_rate"))
      .orderBy("source")
  }

  /** Stupid-Backoff in-domain scoring (Brants et al. 2007): bigram
    * conditional where the domain model has the bigram, `0.4 · p(w₂)`
    * unigram backoff where it has only the second word, OOV counted where
    * it has neither — the production fix for `inDomainLmScore`'s
    * coverage cliff (a count-based bigram model scores nothing it never
    * saw; backoff keeps scoring smooth on sparse models without the
    * renormalization a proper Katz model would need — that non-normalized
    * "stupid" shortcut is the published method, chosen precisely because
    * it scales). Both branches integer-quantize their log at 1e-4 before
    * the per-doc sum (the q134 exact-sum device); the backoff branch is
    * written `ln(0.4 · (u/N))` — ONE log call on one product — so the
    * oracle can reproduce it term-for-term.
    *
    * Scale shape: bigram + unigram model censuses are domain-vocabulary-
    * sized; the corpus side is the per-doc bigram census joined against
    * both — every join input is post-aggregation.
    */
  def stupidBackoffScore(documents: DataFrame, domain: DataFrame)
      : DataFrame = {
    val biModel = bigramModelLq(bigramCounts(domain))
      .withColumnRenamed("lq", "lq_bi")
    val uniCounts = domain
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("uc"))
    val uniN = uniCounts.agg(sum("uc").as("un"))
    val uniModel = uniCounts.crossJoin(broadcast(uniN))
      .select(col("w").as("w2"),
        round(log(lit(0.4) *
          (col("uc").cast("double") / col("un").cast("double"))) * 10000)
          .cast("long").as("lq_bo"))
    val bgc = bigramCounts(documents)
      .withColumn("w2", element_at(split(col("bigram"), " ", 2), 2))
    val tot = bgc.groupBy("doc_id").agg(sum("c").as("n_bigrams"))
    val scored = bgc
      .join(biModel, Seq("bigram"), "left")
      .join(uniModel, Seq("w2"), "left")
      .withColumn("lq", coalesce(col("lq_bi"), col("lq_bo")))
      .filter(col("lq").isNotNull)
      .groupBy("doc_id")
      .agg(sum("c").as("n_scored"),
        sum(when(col("lq_bi").isNotNull, col("c"))).as("__bi"),
        (sum(col("c") * col("lq")).cast("double") /
          (sum("c") * 10000).cast("double")).as("sb_score"))
    documents.select(col("doc_id"))
      .join(tot, Seq("doc_id"), "left")
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("__bi"), lit(0L)).as("n_bi_hits"),
        col("sb_score"))
      .orderBy("doc_id")
  }

  /** Per-language tokenizer-fertility census: whitespace tokens, BPE-ish
    * regex tokens (the q46 proxy), characters, and UTF-8 bytes summed per
    * language, with the two ratios a mixture planner budgets from —
    * `fert_permille` (BPE tokens per 1000 whitespace tokens: how much a
    * subword tokenizer fragments this language) and `bytes_per_tok_q3`
    * (bytes per 1000 BPE tokens: storage-per-token). Tokenizer fertility
    * is THE per-language cost factor when a token budget meets a
    * multilingual corpus — a high-fertility language burns budget faster
    * than its byte share suggests. All-integer ratios (exact div).
    *
    * Scale shape: one projection + one per-language partial agg;
    * scan-speed at any corpus size.
    */
  def fertilityCensus(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"),
        size(tokens(col("text"))).cast("long").as("ws"),
        regexp_count(col("text"), lit(bpePattern)).cast("long").as("bpe"),
        length(col("text")).cast("long").as("chars"),
        octet_length(col("text")).cast("long").as("bytes"))
      .groupBy("lang")
      .agg(sum("ws").as("n_ws_tokens"), sum("bpe").as("n_bpe_tokens"),
        sum("chars").as("n_chars"), sum("bytes").as("n_bytes"))
      .select(col("lang"), col("n_ws_tokens"), col("n_bpe_tokens"),
        col("n_chars"), col("n_bytes"),
        // nullif: a language whose documents are all empty/whitespace
        // has zero tokens — surface NULL ratios, not DIVIDE_BY_ZERO
        // (Spark ANSI) / a hard error (DuckDB //)
        expr("n_bpe_tokens * 1000L div nullif(n_ws_tokens, 0L)")
          .as("fert_permille"),
        expr("n_bytes * 1000L div nullif(n_bpe_tokens, 0L)")
          .as("bytes_per_tok_q3"))
      .orderBy("lang")

  /** Per-source discriminative keywords by weighted log-odds with an
    * informative Dirichlet prior (Monroe/Colaresi/Quinn 2008 "Fightin'
    * Words") — the standard "what words make this source ITSELF"
    * statistic: for word w in source s vs the rest of the corpus,
    * `δ = ln((y_sw+a_w)/(n_s+a₀−y_sw−a_w)) − ln((y_rw+a_w)/(n_r+a₀−y_rw−a_w))`
    * with prior `a_w = a₀·y_w/n` (the corpus distribution as prior mass
    * a₀), standardized by `σ² ≈ 1/(y_sw+a_w) + 1/(y_rw+a_w)`. Unlike
    * tf-idf (q57: per-document) or KL divergence (q122: one number per
    * source), this ranks WORDS per source with shrinkage on rare counts.
    * The z-score is the only float — a fixed scalar expression tree over
    * exact integer counts, quantized at 1e-4 (`z_q4`), the q134 device.
    *
    * Scale shape: one (source, word) census with map-side partials; the
    * corpus-margin table is vocabulary-sized and joins the census on the
    * word; top-k runs per source over census rows. Nothing after the
    * first partial agg scales with corpus size.
    */
  def logOddsKeywords(documents: DataFrame, topK: Int = 5,
                      priorMass: Double = 100.0,
                      minCount: Long = 3L): DataFrame = {
    require(topK >= 1 && priorMass > 0 && minCount >= 1,
      "need positive topK/priorMass/minCount")
    // persist: margins/srcTot/scored all read this census lazily, and
    // each would re-run the tokenize and its shuffle. The entry stays in
    // the session's cache until the caller's `clearCache()` (an eager
    // unpersist would evict before the caller's action)
    val census = documents
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("y_sw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val margins = census.groupBy("w").agg(sum("y_sw").as("y_w"))
    val srcTot = census.groupBy("source").agg(sum("y_sw").as("n_s"))
    val corpusTot = margins.agg(sum("y_w").as("n"))
    val scored = census
      .join(margins, "w")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(corpusTot))
      .filter(col("y_sw") >= minCount)
      .withColumn("a_w",
        lit(priorMass) * col("y_w").cast("double") / col("n").cast("double"))
      .withColumn("y_rw", (col("y_w") - col("y_sw")).cast("double"))
      .withColumn("delta",
        log((col("y_sw") + col("a_w")) /
          (col("n_s") - col("y_sw") + lit(priorMass) - col("a_w"))) -
        log((col("y_rw") + col("a_w")) /
          (col("n") - col("n_s") - col("y_rw") + lit(priorMass) -
            col("a_w"))))
      .withColumn("z", col("delta") /
        sqrt(lit(1.0) / (col("y_sw") + col("a_w")) +
          lit(1.0) / (col("y_rw") + col("a_w"))))
      .withColumn("z_q4", round(col("z") * 10000).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("z_q4").desc, col("w").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("source"), col("w").as("word"), col("y_sw"),
        col("rnk").cast("long").as("rnk"), col("z_q4"))
      .orderBy("source", "rnk")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per document, the mean
    * log-likelihood RATIO between a target-domain unigram LM and the
    * background-corpus unigram LM — `(1/n) Σ_w c_w·(log p_t(w) −
    * log p_b(w))` — positive where the document looks more like the
    * target than like the background. The unigram form is the cheap
    * family DSIR actually ships (hashed n-gram features); the bigram
    * in-domain scorer (`inDomainLmScore`) is the coverage-aware
    * complement. Ratio terms exist only for words in BOTH models
    * (out-of-either-vocabulary words are counted, not scored — the q134
    * coverage law); each log is integer-quantized at 1e-4 before the
    * per-doc sum, so the sum is exact and engine-portable, with one final
    * double division.
    *
    * Scale shape: two vocabulary-sized (word, lq) censuses joined to the
    * per-doc word census — every join input is post-aggregation; the
    * target model is domain-vocabulary-sized and broadcasts.
    */
  def dsirWeights(documents: DataFrame, domain: DataFrame): DataFrame = {
    def unigramLq(df: DataFrame): DataFrame = {
      val c = df.select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val n = c.agg(sum("c").as("n"))
      c.crossJoin(broadcast(n))
        .select(col("w"),
          round(log(col("c").cast("double") / col("n").cast("double")) *
            10000).cast("long").as("lq"))
    }
    val lqT = unigramLq(domain)
      .withColumnRenamed("lq", "lq_t")
    val lqB = unigramLq(documents)
      .withColumnRenamed("lq", "lq_b")
    val perDoc = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val tot = perDoc.groupBy("doc_id").agg(sum("c").as("n_tokens"))
    val cov = perDoc.join(lqT, "w").join(lqB, "w")
      .groupBy("doc_id")
      .agg(sum("c").as("n_covered"),
        (sum(col("c") * (col("lq_t") - col("lq_b"))).cast("double") /
          (sum("c") * 10000).cast("double")).as("dsir_w"))
    documents.select(col("doc_id"))
      .join(tot, Seq("doc_id"), "left")
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        col("dsir_w"))
      .orderBy("doc_id")
  }

  /** Per-source vocabulary-statistics census: token mass N, type count V,
    * type-token ratio (per-mille, integer), and the Zipf slope — the OLS
    * slope of log(freq) against log(rank) over the top `topK` terms,
    * which for natural text sits near −1 (Zipf's law) and drifts toward 0
    * for template/spam sources — a one-number distributional-health
    * signal per source. The slope is the only float; it is quantized at
    * 1e-6 (`zipf_slope_q6`) so sub-ulp libm/accumulation differences
    * between engines cannot surface in a hash compare.
    *
    * Scale shape: one (source, word) census with map-side partials; the
    * rank window runs per source over only the census rows, and the
    * regression consumes `topK` rows per source. Nothing after the first
    * partial agg scales with corpus size (vocabulary-bounded).
    */
  def zipfCensus(documents: DataFrame, topK: Int = 50): DataFrame = {
    require(topK >= 2, "topK must be >= 2 for a slope")
    // persist: totals + the rank window both read this census lazily,
    // and each would re-run the tokenize and its shuffle. The entry stays
    // in the session's cache until the caller's `clearCache()` (an eager
    // unpersist would evict before the caller's action)
    val census = documents
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = census.groupBy("source")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("c").desc, col("w").asc)
    val slope = census
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("source"), log(col("c").cast("double")).as("ly"),
        log(col("rnk").cast("double")).as("lx"))
      .groupBy("source")
      .agg(expr("round(regr_slope(ly, lx) * 1000000)").cast("long")
        .as("zipf_slope_q6"))
    totals.join(slope, "source")
      .select(col("source"), col("n_tokens"), col("n_types"),
        expr("n_types * 1000L div n_tokens").as("ttr_permille"),
        col("zipf_slope_q6"))
      .orderBy("source")
  }

  /** Bigram COLLOCATIONS by pointwise mutual information: adjacent word
    * pairs occurring ≥ `minCount` times, scored `PMI = ln(c₁₂·N /
    * (c₁·c₂))`, top `k` — the multi-word-expression miner ("New York",
    * "machine learning") behind tokenizer merge decisions and phrase
    * vocabularies; q91's document-level PMI reworked at the ADJACENCY
    * grain where collocations actually live. The ln is the q134 integer-
    * log device: a fixed scalar expression of four exact integer counts,
    * quantized at 10⁻⁶ — the only float, empirically bit-portable.
    *
    * Shape: two scan-stage censuses (bigrams via the zip_with slide —
    * no positional explode — and unigrams), both vocabulary-bounded
    * after their partial aggs; two broadcast margin joins; ends in a
    * distributed TakeOrderedAndProject(k).
    */
  def collocationsPmi(documents: DataFrame, minCount: Long = 5L,
                      k: Int = 30): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    require(k >= 1, "k must be >= 1")
    val toks = tokens(col("text"))
    val n1 = greatest(size(toks) - 1, lit(0))
    val bg = documents.select(explode(
        zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
    val uni = documents.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = uni.agg(sum("c").as("n"))
    // margins are vocabulary-sized (can be 1e8 types with crawl noise):
    // plain equi-joins — AQE broadcasts them when they measure small
    bg.join(uni.select(col("w").as("w1"), col("c").as("ca")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("cb")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c2"),
        round(log(col("c2").cast("double") * col("n") /
          (col("ca").cast("double") * col("cb"))) * 1000000)
          .cast("long").as("pmi_q6"))
      .orderBy(col("pmi_q6").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Per-source READABILITY census — exact integer proxies for the
    * Flesch-family inputs: words per sentence and characters per word
    * (both per-mille), from one scan-stage projection. Sentences split
    * on `[.!?]+` runs with blank fragments dropped; a sentence-less doc
    * counts 1 (its whole text is the sentence) — conventions mirrored
    * verbatim in the oracle. The syllable term of the true Flesch score
    * needs a dictionary; chars/word is the standard corpus-scale proxy
    * (same monotone signal, no lexicon shipped to executors).
    */
  def readabilityCensus(documents: DataFrame): DataFrame = {
    val d = documents.select(col("source"),
      size(tokens(col("text"))).cast("long").as("nw"),
      greatest(size(filter(split(col("text"), "[.!?]+"),
        s => length(trim(s)) > 0)), lit(1)).cast("long").as("ns"),
      length(col("text")).cast("long").as("nc"))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("n_words"),
        sum("ns").as("n_sentences"), sum("nc").as("__nchars"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_sentences"),
        expr("n_words * 1000L div nullif(n_sentences, 0L)")
          .as("words_per_sent_permille"),
        expr("__nchars * 1000L div nullif(n_words, 0L)")
          .as("chars_per_word_permille"))
      .orderBy("source")
  }

  /** CHUNK-granularity duplicate census per source: after `chunkTokens`
    * windows the corpus for training, what fraction of each source's
    * chunks also occur (token-identical) in at least `minDocs` OTHER
    * document(s)? Doc-level dedup misses this entirely — two distinct
    * docs sharing one boilerplate window still double-feed the model
    * that window; this is the number span-removal (q171) changes.
    *
    * Scale shape: chunks never shuffle as text — each chunk is reduced
    * to its md5 in the scan stage (same digest both engines), so the
    * df census and the doc join move 16-byte keys; then one per-source
    * census. `minDocs` = 2 means "shared beyond its own doc".
    */
  def chunkDupCensus(documents: DataFrame, window: Int = 64,
                     stride: Int = 48, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 1, "minDocs must be >= 1")
    val chunks = chunkTokens(documents, window, stride)
      .select(col("doc_id"), md5(col("chunk")).as("h"))
    val df = chunks.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("__nd"))
    chunks
      .join(df, "h")
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        coalesce(sum(when(col("__nd") >= minDocs, 1L)), lit(0L))
          .as("n_dup_chunks"))
      .select(col("source"), col("n_chunks"), col("n_dup_chunks"),
        expr("n_dup_chunks * 1000L div nullif(n_chunks, 0L)")
          .as("dup_permille"))
      .orderBy("source")
  }

  /** TF-IDF top terms per source: token frequency within each source ×
    * the inverse SOURCE frequency (in how many sources the token
    * appears at all), top `k` per source — the "what is distinctive
    * about this slice" report that complements the log-odds pair view
    * (q156) with an all-sources-at-once ranking.
    *
    * score_q6 = round(10⁶ · tf · ln(n_src / df)) — ONE float op per
    * term (`ln` is empirically parity-safe, the q134 precedent),
    * quantized per-term before any comparison, never summed.
    *
    * Scale shape: one corpus-wide (source, token) census (partial agg
    * in the scan stage), a vocabulary-bounded df census joined back on
    * the token, a 1-row source-count broadcast, and a SOURCE-keyed
    * top-k window — partitions are per-source vocabularies, and the
    * rank cuts at k; no global-order window anywhere.
    */
  def tfidfSourceTerms(documents: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val tf = documents
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok").as("__tok"))
      .agg(count(lit(1)).as("df"))
    val nSrc = tf.agg(count_distinct(col("source")).as("__ns"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(col("score_q6").desc, col("word"))
    tf.join(df, col("tok") === col("__tok"))
      .crossJoin(broadcast(nSrc))
      .select(col("source"), col("tok").as("word"), col("tf"), col("df"),
        expr("cast(round(1000000 * tf * ln(cast(__ns as double) / df))" +
          " as bigint)").as("score_q6"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("source"), col("rank"), col("word"), col("tf"),
        col("df"), col("score_q6"))
      .orderBy("source", "rank")
  }

  /** PII-exposure census per source: how many documents contain an
    * email, a URL, or a phone-shaped number (the same three patterns
    * `redact` scrubs — Java∩RE2, so the DuckDB oracle evaluates the
    * IDENTICAL strings), plus the any-PII permille. The triage report
    * that decides which slice needs the redaction pass at all.
    *
    * Scale shape: pure scan-stage predicates (codegen'd `rlike`, no
    * extraction, no explode) feeding one partial agg — scan-speed, one
    * exchange of ≤|sources| aggregated rows.
    */
  def piiCensus(documents: DataFrame): DataFrame = {
    val em = col("text").rlike(emailPattern)
    val ur = col("text").rlike(urlPattern)
    val ph = col("text").rlike(phoneGuardedPattern)
    documents.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(em, 1L).otherwise(0L)).as("n_email"),
        sum(when(ur, 1L).otherwise(0L)).as("n_url"),
        sum(when(ph, 1L).otherwise(0L)).as("n_phone"),
        sum(when(em || ur || ph, 1L).otherwise(0L)).as("__any"))
      .select(col("source"), col("n_docs"), col("n_email"),
        col("n_url"), col("n_phone"),
        expr("__any * 1000 div n_docs").as("any_permille"))
      .orderBy("source")
  }

  /** Language purity per source: how many languages each slice mixes,
    * which dominates, and the dominant language's permille — the
    * language-ID audit a curation pipeline runs against its declared
    * per-source language before routing slices to per-language
    * tokenizers. Ties on the top language break lexicographically.
    *
    * Scale shape: one (source, lang) partial agg bounds everything at
    * |sources|·|langs| rows; the top-1 is a source-keyed rank-1 window
    * on that census (never on documents).
    */
  def langPurity(documents: DataFrame): DataFrame = {
    val lc = documents.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n").desc, col("lang"))
    val tot = lc.groupBy(col("source").as("__s"))
      .agg(sum("n").as("__tot"), count(lit(1)).as("n_langs"))
    lc.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .join(tot, col("source") === col("__s"))
      .select(col("source"), col("n_langs"),
        col("lang").as("top_lang"),
        expr("n * 1000 div __tot").as("purity_permille"))
      .orderBy("source")
  }

  /** Per-source Pearson correlation between character length and
    * whitespace token count — the length-consistency profile (a slice
    * whose chars and tokens decorrelate is mixing content types, e.g.
    * code next to prose). Integer sums in decimal(38,0) (HUGEINT in
    * the oracle), one sqrt·sqrt division in double per source — the
    * q230 correlation device on document stats.
    *
    * Scale shape: both stats are scan-stage projections; one partial
    * agg to |sources| rows carries every sum.
    */
  def lengthTokenCorrelation(documents: DataFrame): DataFrame = {
    val d = documents.select(col("source"),
      col("n_chars").cast("decimal(38,0)").as("x"),
      size(tokens(col("text"))).cast("decimal(38,0)").as("y"))
    d.groupBy("source")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("source"), col("n").cast("long").as("n_docs"),
        Profiling.pearsonQ6("n", "sx", "sy", "sxy", "sxx", "syy")
          .as("r_q6"))
      .orderBy("source")
  }

  /** Vocabulary growth curve (Heaps'-law checkpoints) over 3-gram
    * shingles: documents fall into `buckets` md5 deciles (a
    * deterministic corpus ordering); each shingle type's FIRST bucket
    * is min over its documents, so the running sum of first-bucket
    * counts IS the distinct-vocabulary size after each decile — the
    * whole curve from ONE pass, no per-checkpoint distinct. The
    * tokenizer-planning view: is the vocabulary saturating or still
    * growing at corpus end.
    *
    * Scale shape: one shingle explode → a vocabulary-bounded min-agg
    * (map-side combined) → a `buckets`-row census + running sum on
    * that census. The naive form (k distincts over k prefixes) scans
    * the corpus k times; this is exactly once.
    */
  def vocabGrowthCurve(documents: DataFrame, n: Int = 3,
                       buckets: Int = 10): DataFrame = {
    require(buckets >= 1 && 1000 % buckets == 0,
      "buckets must divide the per-mille bucket space")
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val w = documents.select(
      (Sampling.splitBucket(col("doc_id")) % buckets).cast("long")
        .as("b"),
      explode(graft.functions.GraftFunctions.shingles(col("text"), n))
        .as("sh"))
    val tc = w.groupBy("b").agg(count(lit(1)).as("n_shingles"))
    val vb = w.groupBy("sh").agg(min("b").as("fb"))
      .groupBy(col("fb").as("__b")).agg(count(lit(1)).as("new_types"))
    val ks = documents.sparkSession.range(0, buckets)
      .select(col("id").as("bucket"))
    val win = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    ks.join(tc, col("bucket") === col("b"), "left")
      .join(vb, col("bucket") === col("__b"), "left")
      .select(col("bucket"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_vocab", sum("new_types").over(win))
      .orderBy("bucket")
  }

  /** Character-class composition per language: exact per-mille shares of
    * ASCII letters, digits, plain spaces, and everything else (which is
    * where non-Latin scripts land) over each language's total characters.
    * The corpus-governance companion to q37's lang-id: a `lang = 'en'`
    * slice whose `other_pm` is high is mislabeled or mojibake, and a
    * digit-heavy slice is tables/logs masquerading as prose — both are
    * filter decisions made per-lang, not per-doc, at training scale.
    *
    * Counting device: class count = length(text) − length(text with the
    * class deleted) — one codegen'd regexp_replace per class riding the
    * scan, no explode. Shares are cleared-denominator integer division
    * over the per-lang SUMS (decimal(38,0) products, the q227/q237
    * discipline), so the result is exact at any corpus size. Scale
    * shape: scan-stage projections into a |langs|-row partial agg.
    */
  def scriptCensus(documents: DataFrame): DataFrame = {
    def cnt(cls: String): Column =
      length(col("text")) - length(regexp_replace(col("text"), cls, ""))
    val per = documents.select(col("lang"),
      length(col("text")).cast("long").as("n"),
      cnt("[a-zA-Z]").cast("long").as("n_alpha"),
      cnt("[0-9]").cast("long").as("n_digit"),
      cnt("[ ]").cast("long").as("n_space"))
    def pm(c: String): Column =
      expr(s"cast(sum($c) as decimal(38,0)) * 1000 div sum(n)")
    per.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_chars"),
        pm("n_alpha").as("alpha_pm"), pm("n_digit").as("digit_pm"),
        pm("n_space").as("space_pm"),
        expr("cast(sum(n - n_alpha - n_digit - n_space) as " +
          "decimal(38,0)) * 1000 div sum(n)").as("other_pm"))
      .orderBy("lang")
  }

  /** Positional-template census over the first `k` token positions: per
    * position, how concentrated the corpus's vocabulary is — distinct
    * tokens, the modal token and its share, and a permille "template
    * score" (modal share). Templated corpora (scraped pages sharing a
    * header, log lines, boilerplate-led documents) show near-1000‰
    * positions at the start; prose decays fast. This is the
    * position-level companion to q77's line-frequency boilerplate: q77
    * finds repeated LINES anywhere, this finds STRUCTURAL slots — the
    * signal that decides whether to strip a fixed-width prefix before
    * tokenization.
    *
    * Scale shape: one bounded explode (min(k, len) positions per doc —
    * k is a plan constant) into a (pos, token) census, a struct-argmax
    * per position for the mode (the q130 device), and a |k|-row join.
    * Shares are cleared-denominator integer division.
    */
  def positionalTemplateCensus(documents: DataFrame,
                               k: Int = 10): DataFrame = {
    require(k >= 1 && k <= 1000, "k in [1, 1000]")
    val pos = documents
      .select(posexplode(slice(tokens(col("text")), 1, k))
        .as(Seq("p0", "w")))
      .select((col("p0") + 1).as("pos"), col("w"))
    val cnt = pos.groupBy("pos", "w").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val per = cnt.groupBy("pos")
      .agg(sum("c").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        max(struct(col("c").as("c"), col("w").as("w"))).as("m"))
    per.select(col("pos"), col("n_docs"), col("n_distinct"),
        col("m.w").as("modal_token"), col("m.c").as("modal_count"),
        expr("cast(cast(m.c as decimal(38,0)) * 1000 div n_docs" +
          " as bigint)").as("modal_pm"))
      .orderBy("pos")
  }

  /** The surrounding context of every hapax token (corpus count = 1) —
    * the audit view a data curator reads before deciding whether the
    * long vocabulary tail is real content (named entities, code) or
    * noise (OCR garbage, truncation artifacts): each rare token with its
    * ±`window` neighboring tokens, capped at the `k` first by token.
    *
    * Scale shape: one tokenize pass into a (token → count, first
    * occurrence) partial agg — min(doc_id)/min(pos) are the single
    * occurrence's coordinates exactly when count = 1, so no window and
    * no second explode ranks occurrences; the hapax set joins back to
    * the documents scan on doc_id to slice its context (hapax hits ≤
    * vocabulary size, and the join is id-keyed). The cap is a top-k,
    * not a global sort.
    */
  def rareTokenContexts(documents: DataFrame, window: Int = 2,
                        k: Int = 100): DataFrame = {
    require(window >= 1 && k >= 1, "window and k must be >= 1")
    val toks = documents.select(col("doc_id"), tokens(col("text")).as("t"))
    val pos = toks.select(col("doc_id"),
      posexplode(col("t")).as(Seq("p0", "w")))
    val hap = pos.groupBy("w")
      .agg(count(lit(1)).as("c"),
        min("doc_id").as("doc_id"), (min("p0") + 1).as("pos"))
      .filter(col("c") === 1)
      .select(col("w"), col("doc_id"), col("pos").cast("int").as("pos"))
    val start = greatest(col("pos") - window, lit(1))
    hap.join(toks, Seq("doc_id"))
      .select(col("w"), col("doc_id"), col("pos"),
        array_join(slice(col("t"), start,
          least(col("pos") + window, size(col("t"))) - start + 1), " ")
          .as("context"))
      .orderBy("w", "doc_id").limit(k)
  }
}
