package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `specs` is one operator family from SURVEY.md §2 expressed
  * over the harness tables, with (where SQL-expressible) a DuckDB oracle
  * that must hash-match the Spark result at sf0.01. Column names/aliases are
  * kept identical on both sides; every query carries an explicit
  * deterministic ORDER BY.
  *
  * Oracle-parity rules applied throughout (SURVEY.md §7.1):
  *  - exact aggregates preferred (counts, sums of integral doubles, min/max);
  *  - float-accumulation results are `round`ed so addition-order differences
  *    between engines cannot surface;
  *  - DuckDB type coercions pinned by CAST (count→BIGINT is native; month/
  *    len→INTEGER to match Spark's int; sum(int)→HUGEINT needs CAST BIGINT;
  *    ceil→double needs CAST INTEGER; cast(double AS int) in DuckDB ROUNDS,
  *    so Java-truncation semantics need trunc() first);
  *  - regexp_replace needs the 'g' flag in DuckDB to match Spark's
  *    replace-all.
  */
object SparkEntry {

  final case class QuerySpec(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      // Some(fixture) marks an oracle whose SQL is pinned LITERALS measured
      // at that fixture (e.g. "sf0.01"): the Spark side computes from data
      // at any scale, so comparing the literals at any OTHER scale would be
      // wrong by construction. Verify emits such oracles only when sfDir
      // matches; elsewhere the query degrades to a rows-only check.
      pinnedFixture: Option[String] = None)

  private def q(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, fn, Some(oracle))

  /** Deterministic output pinned as a VALUES literal oracle, valid only at
    * `fixture` (the driver's Verify scale). */
  private def qPinned(name: String, fixture: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, fn, Some(oracle), Some(fixture))

  /** Non-SQL-expressible ops: driver records a weaker rows-only check. */
  private def qRowsOnly(name: String)(
      fn: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, fn, None)

  /** Shared synthetic-domain fixture for q74/q86 (q71 has its own
    * extract-ALL shape): fixture text carries no URLs, so each document
    * gets one appended, host = doc_id mod 7. The SQL CTE pair and the
    * DataFrame builder below are the SAME construction and must change
    * together — a tweak applied to one side silently makes its queries
    * test a different corpus than the other's.
    */
  private val syntheticDomainCtes: String =
    s"""wu AS (
      |  SELECT doc_id, concat(text, ' ref https://cdn',
      |    CAST(doc_id % 7 AS VARCHAR), '.example.org/p/',
      |    CAST(doc_id AS VARCHAR), ' end') AS text
      |  FROM documents),
      |dom AS (SELECT doc_id, regexp_extract(
      |  regexp_extract(text, '${Text.urlPattern}'),
      |  'https?://([^/]+)', 1) AS domain FROM wu)""".stripMargin

  private def syntheticDomains(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{concat, lit, regexp_extract}
    val wu = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"), lit(" ref https://cdn"),
        (col("doc_id") % 7).cast("string"), lit(".example.org/p/"),
        col("doc_id").cast("string"), lit(" end")).as("text"))
    wu.select(col("doc_id"), regexp_extract(
      regexp_extract(col("text"), Text.urlPattern, 0),
      "https?://([^/]+)", 1).as("domain"))
  }

  /** q87's suffix pair: the SAME canonical text (" café Å end"), one
    * spelled with combining marks (e + U+0301, A + U+030A), one with
    * precomposed characters (U+00E9, U+00C5). NFC must map both to the
    * identical byte string in Spark and in DuckDB.
    */
  private val nfcDecomposedSuffix = " café Å end"
  private val nfcComposedSuffix = " café Å end"

  /** Partition width for the iterative k-means queries: an eighth of the
    * session's core count (floor 2) — narrow enough that the dozens of tiny
    * per-iteration jobs aren't dominated by task scheduling, yet derived,
    * so a 1000-executor cluster widens proportionally instead of being
    * pinned to a magic constant.
    */
  private def kmeansParts(s: SparkSession): Int =
    math.max(2, s.sparkContext.defaultParallelism / 8)

  /** Embeddings with zero-norm vectors excluded: engines disagree on how a
    * zero vector ranks (our kernel scores cosine 0, DuckDB's
    * list_cosine_similarity −1), so every oracle-checked k-NN/ANN query
    * works over the non-zero subset on both sides. The self-cosine is 1
    * for any nonzero vector, ≤ 0 for zero ones.
    */
  private def nonZeroEmbeddings(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.embeddings(s, d).filter(
      Similarity.cosine(
        Similarity.asDouble(col("embedding")),
        Similarity.asDouble(col("embedding"))) > 0)
  }

  /** The exact top-5-by-cosine DuckDB oracle for vec_id < 10 queries over
    * the non-zero embedding subset — shared by the brute-force k-NN query
    * and the ANN queries whose candidate recall is total at fixture scale
    * (where the approximate result IS the exact result, so the exact
    * oracle pins the recall contract: a missed neighbor surfaces as a
    * driver hash mismatch — the q23 technique).
    */
  private val exactKnnSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      |           FROM embeddings
      |           WHERE list_cosine_similarity(CAST(embedding AS DOUBLE[]),
      |                 CAST(embedding AS DOUBLE[])) > 0),
      |q AS (SELECT * FROM e WHERE vec_id < 10)
      |SELECT q_id, rank, n_id FROM (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |    CAST(row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id)
      |      AS INTEGER) AS rank
      |  FROM q JOIN e c ON c.vec_id <> q.vec_id) t
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---- scans / filters / aggregates (SURVEY §2.1/§2.2/§2.4) ----
    q("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price, avg(l_quantity) AS avg_qty,
        |  CAST(ceil(avg(l_quantity)) AS INTEGER) AS ceil_avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)(
      (s, d) => Relational.pricingSummary(Tables.lineitem(s, d))),

    q("q02_filter_project",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity BETWEEN 10 AND 20
        |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)(
      (s, d) => Relational.filterProject(Tables.lineitem(s, d))),

    q("q03_global_agg",
      """SELECT count(*) AS n_rows, sum(l_quantity) AS sum_qty,
        |  avg(l_quantity) AS avg_qty, min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price
        |FROM lineitem WHERE l_returnflag <> 'N'""".stripMargin)(
      (s, d) => Relational.globalStats(Tables.lineitem(s, d))),

    q("q04_ceil_avg_month",
      """SELECT l_returnflag AS flag, CAST(month(l_shipdate) AS INTEGER) AS mon,
        |  CAST(ceil(avg(l_quantity)) AS INTEGER) AS avg_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY flag, mon""".stripMargin)(
      (s, d) => Relational.ceilAvgByMonth(Tables.lineitem(s, d))),

    q("q05_dense_month_fill",
      """SELECT f.flag, m.mon, COALESCE(a.avg_qty, 0) AS avg_qty
        |FROM (SELECT DISTINCT l_returnflag AS flag FROM lineitem) f
        |CROSS JOIN (SELECT CAST(range AS INTEGER) AS mon FROM range(1, 13)) m
        |LEFT JOIN (
        |  SELECT l_returnflag AS flag, CAST(month(l_shipdate) AS INTEGER) AS mon,
        |    CAST(ceil(avg(l_quantity)) AS INTEGER) AS avg_qty
        |  FROM lineitem GROUP BY 1, 2) a USING (flag, mon)
        |ORDER BY flag, mon""".stripMargin)(
      (s, d) => Relational.denseMonthFill(Tables.lineitem(s, d))),

    q("q10_topk_orders",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)(
      (s, d) => Relational.topKOrders(Tables.orders(s, d))),

    q("q13_rowkey_concat",
      """SELECT concat_ws('-', c_mktsegment, c_nationkey, c_custkey) AS rowkey
        |FROM customer ORDER BY rowkey""".stripMargin)(
      (s, d) => Relational.rowkeyConcat(Tables.customer(s, d))),

    q("q14_trunc_sum",
      """SELECT event_type,
        |  CAST(sum(CAST(trunc(COALESCE(value, 0.0)) AS INTEGER)) AS BIGINT) AS sum_delay,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)(
      (s, d) => Relational.truncatedDelaySum(Tables.events(s, d))),

    // ---- joins (SURVEY §2.3) ----
    q("q06_orders_per_nation",
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)(
      (s, d) => Joins.ordersPerNation(Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d))),

    q("q07_two_leg_stats",
      """SELECT count(*) AS pairs,
        |  round(avg(e1.value + e2.value), 3) AS avg_combined
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id AND e1.ts < e2.ts
        |  AND e2.ts <= e1.ts + INTERVAL 24 HOURS
        |WHERE e1.event_type = 'view' AND e2.event_type = 'purchase'""".stripMargin)(
      (s, d) => Joins.twoLegStats(Tables.events(s, d))),

    q("q08_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)(
      (s, d) => Joins.customersWithOrders(Tables.customer(s, d),
        Tables.orders(s, d))),

    q("q09_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)(
      (s, d) => Joins.customersWithoutOrders(Tables.customer(s, d),
        Tables.orders(s, d))),

    // ---- word-count family + text analysis (SURVEY §2.2 P1/P2, §2.4 A1–A4) ----
    q("q11_word_count",
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(text, '[ \t\n\r\f]+')) AS word FROM documents) t
        |WHERE length(word) > 0 GROUP BY word ORDER BY word""".stripMargin)(
      (s, d) => Text.wordCount(Tables.documents(s, d))),

    q("q12_word_count_filtered",
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(text, '[ \t\n\r\f]+')) AS word FROM documents) t
        |WHERE length(word) > 0 AND regexp_matches(word, '^[mnopqMNOPQ]')
        |GROUP BY word ORDER BY word""".stripMargin)(
      (s, d) => Text.wordCountFiltered(Tables.documents(s, d))),

    q("q18_token_stats",
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'), w -> length(w) > 0)) AS INTEGER) AS n_tokens,
        |  CAST(length(text) AS INTEGER) AS char_len
        |FROM documents ORDER BY doc_id""".stripMargin)(
      (s, d) => Text.tokenStats(Tables.documents(s, d))),

    q("q19_fingerprint",
      """SELECT doc_id,
        |  md5(regexp_replace(trim(lower(text)), '[ \t\n\r\f]+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)(
      (s, d) => Text.fingerprint(Tables.documents(s, d))),

    q("q20_quality_score",
      """SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
        |  CAST(len(stops) AS INTEGER) AS n_stop,
        |  CAST(len(stops) AS INTEGER) / CAST(len(toks) AS INTEGER) AS stop_ratio,
        |  CAST(length(array_to_string(toks, '')) AS INTEGER) / CAST(len(toks) AS INTEGER) AS mean_tok_len
        |FROM (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\r\f]+'), w -> length(w) > 0) AS toks,
        |    list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      w -> length(w) > 0 AND w IN ('the','a','an','of','and','to','in','is','it','for')) AS stops
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => Text.qualityScore(Tables.documents(s, d))),

    // ---- geo family (SURVEY §2.2 P7, §2.4 A8–A10) ----
    q("q15_bbox",
      """SELECT min(value) AS min_v, max(value) AS max_v,
        |  min(user_id) AS min_u, max(user_id) AS max_u FROM events""".stripMargin)(
      (s, d) => Geo.bbox(Tables.events(s, d))),

    q("q16_rounded_dedup",
      """SELECT event_type, round(value, -1) AS vbucket, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY event_type, vbucket""".stripMargin)(
      (s, d) => Geo.roundedDedupCount(Tables.events(s, d))),

    q("q17_weighted_mean",
      """SELECT event_type,
        |  round(sum(value * user_id) / sum(user_id), 4) AS wmean
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)(
      (s, d) => Geo.weightedMean(Tables.events(s, d))),

    // ---- dedup family (north star; generalizes §2.4 A8) ----
    q("q21_dedup_exact",
      """SELECT fp, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM (SELECT doc_id,
        |        md5(regexp_replace(trim(lower(text)), '[ \t\n\r\f]+', ' ', 'g')) AS fp
        |      FROM documents) t
        |GROUP BY fp ORDER BY fp""".stripMargin)(
      (s, d) => Dedup.exactDupGroups(Tables.documents(s, d))),

    q("q22_jaccard_pairs",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(inter / (sza + szb - inter), 4) AS jaccard
        |FROM px WHERE inter / (sza + szb - inter) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin)(
      // maxDf arms the hot-shingle skew guard. 1000 is far above the
      // fixtures' measured maxima (max shingle df: 7 at sf0.01, 25 at
      // sf0.1), so the oracle comparison is unchanged — but a boilerplate
      // shingle ubiquitous at corpus scale gets dropped before the
      // inverted-index self-join can go quadratic in its bucket.
      (s, d) => Dedup.jaccardPairs(Tables.documents(s, d), n = 3,
        threshold = 0.2, maxDf = 1000L)),

    // LSH only PROPOSES candidates; exact Jaccard on the shingle sets
    // decides — so wherever band recall is total (it is on this corpus:
    // verified equal to the exact q22 output), the result is the exact
    // Jaccard pair set and the q22 oracle applies verbatim. A missed
    // borderline pair would surface as a driver hash mismatch — that is
    // the point: the oracle now pins the recall contract, not just rows.
    q("q23_minhash_pairs",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(inter / (sza + szb - inter), 4) AS jaccard
        |FROM px WHERE inter / (sza + szb - inter) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => Dedup.minhashPairs(Tables.documents(s, d), n = 3,
        numHashes = 32, bands = 16, threshold = 0.2)),

    // SimHash/winnowing have no DuckDB-expressible formulation (native
    // XXH64/Rabin–Karp kernels), but both are DETERMINISTIC pure functions
    // of the fixture text — no seeds, no float accumulation — so the sf0.01
    // output is a constant and the oracle pins it as literals (the q28/q29
    // technique): any change to tokenization, hashing, blocking, or
    // thresholding surfaces as a driver hash mismatch.
    qPinned("q24_simhash_pairs", "sf0.01",
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |  CAST(hamming AS INTEGER) AS hamming
        |FROM (VALUES (4, 328, 5), (5, 401, 5), (5, 478, 5), (8, 245, 2), (9, 264, 5),
        |      (9, 381, 5), (14, 296, 5), (14, 337, 4), (26, 455, 4),
        |      (31, 296, 5), (31, 300, 5), (31, 383, 4), (31, 439, 5),
        |      (44, 446, 4), (45, 267, 5), (45, 413, 3), (51, 369, 4),
        |      (58, 293, 0), (61, 185, 0), (69, 113, 5), (69, 249, 5),
        |      (70, 447, 1), (72, 377, 4), (76, 102, 2), (76, 142, 4),
        |      (87, 134, 4), (92, 450, 4), (98, 290, 2), (102, 142, 4),
        |      (107, 387, 1), (112, 274, 4), (113, 221, 4), (113, 259, 5),
        |      (113, 453, 5), (120, 332, 3), (126, 128, 5), (128, 300, 4),
        |      (128, 442, 5), (140, 280, 5), (142, 230, 5), (145, 280, 5),
        |      (147, 318, 5), (147, 411, 5), (151, 495, 5), (152, 178, 5),
        |      (155, 187, 5), (166, 323, 3), (167, 367, 4), (173, 230, 5),
        |      (196, 278, 5), (197, 263, 5), (251, 439, 5), (251, 473, 3),
        |      (258, 417, 5), (263, 461, 5), (264, 452, 5), (267, 413, 2),
        |      (280, 321, 5), (285, 301, 0), (295, 374, 5), (300, 353, 5),
        |      (302, 478, 4), (310, 389, 4), (326, 457, 2), (328, 381, 5),
        |      (351, 453, 5), (353, 473, 5), (360, 478, 5), (381, 422, 5),
        |      (393, 420, 0), (435, 486, 3), (453, 495, 5), (458, 462, 2))
        |  AS t(id_a, id_b, hamming)
        |ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => Dedup.simhashPairs(Tables.documents(s, d), maxHamming = 5)),

    qPinned("q53_winnowing_pairs", "sf0.01",
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |  CAST(jaccard AS DOUBLE) AS jaccard
        |FROM (VALUES (8, 245, 0.9897), (26, 455, 0.8750), (31, 383, 1.0000),
        |      (44, 446, 0.9643), (45, 267, 0.9897), (45, 413, 0.9897),
        |      (58, 293, 0.9875), (61, 185, 0.9846), (70, 447, 1.0000),
        |      (72, 377, 0.9783), (87, 134, 0.9630), (92, 450, 0.9615),
        |      (98, 290, 1.0000), (107, 387, 1.0000), (120, 332, 1.0000),
        |      (152, 178, 0.9545), (166, 323, 0.9846), (267, 413, 1.0000),
        |      (285, 301, 1.0000), (295, 374, 1.0000), (310, 389, 1.0000),
        |      (326, 457, 0.9722), (393, 420, 0.9798), (435, 486, 1.0000),
        |      (458, 462, 0.9853))
        |  AS t(id_a, id_b, jaccard)
        |ORDER BY id_a, id_b""".stripMargin)(
      // same skew guard as q22; fixture maxima for (k=16,w=8) fingerprints
      // are 34 (sf0.01) / 296 (sf0.1), so 1000 changes nothing at test
      // scale while bounding the hottest fingerprint's join bucket at 100 TB
      (s, d) => Dedup.winnowingPairs(Tables.documents(s, d), k = 16, w = 8,
        threshold = 0.2, maxDf = 1000L)),

    // ---- similarity search (north star) ----
    q("q25_cosine_pairs",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.emb, b.emb) > 0.4
        |ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => Similarity.cosinePairs(Tables.embeddings(s, d),
        threshold = 0.4)),

    q("q26_knn_bruteforce", exactKnnSql)(
      (s, d) => {
        val emb = nonZeroEmbeddings(s, d)
        Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 10), k = 5)
      }),

    // LSH only PROPOSES bucket-mates; exact cosine reranks. The planner
    // (simFloor 0.25 ≈ the measured 5th-neighbor floor, target .995)
    // makes candidate recall total on the fixture — verified equal to
    // brute force at sf0.001/sf0.01 — so the exact k-NN oracle applies
    // verbatim and pins the recall contract, replacing the fixed
    // bits=12/tables=6 that silently collapsed recall at this floor.
    // probeRadius=1: multi-probe keeps the same bits (pruning) and the
    // same ≥.995 recall target with ~4× fewer tables — the corpus-side
    // bucket-shuffle factor at scale. Per-pair miss probability is LOWER
    // than the radius-0 plan (0.003 vs 0.005 at the planner's output);
    // candidate recall re-verified total at sf0.001/0.01/0.1, so the
    // exact oracle still applies verbatim.
    q("q27_ann_lsh", exactKnnSql)(
      (s, d) => {
        val emb = nonZeroEmbeddings(s, d)
        Similarity.annLsh(emb, emb.filter(col("vec_id") < 10), k = 5,
          probeRadius = 1)
      }),

    // The SCALE-CORRECT near-dup plan, driver-visible (the r9 verdict's
    // surface-honesty ask): bits = ⌈log₂ n⌉ bucket pruning with tables
    // targeting recall at the DUPLICATE similarity (Similarity.lshPlanAt
    // — measured ≲ linear, 2.4× time for 16× data, planted recall 1.0 in
    // PLANS.md), not the guarantee-recall-at-borderline config DevScale
    // measured quadratic (that config survives as a SimilaritySpec law:
    // capped ⊆ exact, recall ≥ target vs q25's exact pairs). The oracle
    // pins the plan deterministically by PLANTING the near-dups (the
    // DevScale recall construction): every third vector re-enters under
    // id+1e6 with +0.001 on each component — cosine ≈ 0.9999, far above
    // the 0.9 reporting threshold, while the fixture background maxes at
    // 0.60 (measured, sf0.001/0.01/0.1) — so the exact pair set IS the
    // planted set and a single missed dup hash-mismatches. Per-pair miss
    // probability at the plan's bits/tables is < 1e-9; verified exact at
    // all three fixture scales.
    q("q50_embedding_neardup_lsh",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings),
        |aug AS (
        |  SELECT vec_id, emb FROM e
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(emb, x -> x + 0.001)
        |  FROM e WHERE vec_id % 3 = 0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.emb, b.emb) > 0.9
        |ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => {
        val e = Tables.embeddings(s, d).select(col("vec_id"),
          Similarity.asDouble(col("embedding")).as("embedding"))
        val copies = e.filter(col("vec_id") % 3 === 0)
          .selectExpr("vec_id + 1000000L AS vec_id",
            "transform(embedding, x -> x + 0.001d) AS embedding")
        val aug = e.unionByName(copies)
        val (bits, tables) = Similarity.lshPlanAt(aug.count())
        Dedup.embeddingNearDupsLsh(aug, threshold = 0.9,
          bits = bits, tables = tables)
      }),

    // nprobe = nlist: the fixture's embeddings are near-uniform random, so
    // coarse k-means lists do NOT localize neighbors (measured: nprobe=8
    // still misses 17/50 true neighbors) — probing every list is the only
    // non-fragile way to a driver-checkable contract here, and it makes
    // the result exact BY CONSTRUCTION (robust to kmeans ulp drift across
    // session widths), so the exact k-NN oracle pins the whole
    // quantize→list→probe→rerank pipeline end to end. The PRUNING
    // contract — recall ≥ 0.9 at nprobe/nlist = 1/4 — lives in
    // KMeansVecSpec on CLUSTERED vectors, the regime IVF exists for.
    q("q44_ann_ivf", exactKnnSql)(
      (s, d) => {
        val emb = nonZeroEmbeddings(s, d)
        Similarity.annIvf(emb, emb.filter(col("vec_id") < 10), k = 5,
          nlist = 16, nprobe = 16)
      }),

    // The IVF PRUNING contract, driver-checkable (q44 can't carry it: on
    // the near-uniform fixture it must probe every list to be exact).
    // Similarity.clusteredEmbeddings manufactures the clustered regime
    // deterministically AND SQL-reproducibly — the oracle builds the same
    // vectors with a list_transform lambda — so nprobe=2 of nlist=8
    // (~3/4 of the corpus never scored) runs against the EXACT top-k
    // oracle at any scale: every intra-cluster neighbor sits in a probed
    // list by construction, and a quantizer/probe/rerank regression that
    // loses even one neighbor is a driver hash mismatch.
    q("q62_ivf_pruned_recall",
      """WITH e AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      (x, i) -> x + CASE WHEN i - 1 = vec_id % 8 THEN 3.0
        |                         ELSE 0.0 END) AS emb
        |  FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 10)
        |SELECT q_id, rank, n_id FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id)
        |      AS INTEGER) AS rank
        |  FROM q JOIN e c ON c.vec_id <> q.vec_id) t
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = Similarity.clusteredEmbeddings(Tables.embeddings(s, d))
        Similarity.annIvf(emb, emb.filter(col("vec_id") < 10), k = 5,
          nlist = 8, nprobe = 2)
      }),

    // SQ8 compressed-scan ANN (Similarity.annSq): the q62 contract for
    // the MEMORY dial — candidates come from 1-byte-per-dim codes
    // (asymmetric scoring against dequantized corpus), the rerank is
    // exact by id join, and the result must STILL equal the exact top-k
    // (same oracle as q62): a quantization/rerank regression that loses
    // one neighbor is a driver hash mismatch.
    q("q85_sq_pruned_knn",
      """WITH e AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      (x, i) -> x + CASE WHEN i - 1 = vec_id % 8 THEN 3.0
        |                         ELSE 0.0 END) AS emb
        |  FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 10)
        |SELECT q_id, rank, n_id FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id)
        |      AS INTEGER) AS rank
        |  FROM q JOIN e c ON c.vec_id <> q.vec_id) t
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = Similarity.clusteredEmbeddings(Tables.embeddings(s, d))
        Similarity.annSq(emb, emb.filter(col("vec_id") < 10), k = 5)
      }),

    // ---- iterative ML (SURVEY §2.6; non-SQL-expressible) ----
    // ---- windowing / analytic / set ops (SURVEY §2.8 engine surface) ----
    q("q30_tumbling_window",
      """SELECT CAST(epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS win_us,
        |  event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY win_us, event_type""".stripMargin)(
      (s, d) => graft.streaming.EventStreams
        .tumblingTypeCounts(Tables.events(s, d))
        .orderBy("win_us", "event_type")),

    // Hopping windows (EventStreams.hoppingTypeCounts): 1 h windows every
    // 30 min — each event covers exactly window/slide = 2 windows. The
    // oracle enumerates each event's covering window starts by stepping
    // back from its slide-aligned bucket while start > t − window,
    // mirroring Spark's epoch-aligned window assignment in µs integers.
    q("q81_hopping_window",
      """WITH e AS (SELECT epoch_us(ts) AS t_us, event_type, value
        |  FROM events),
        |x AS (SELECT unnest(range((t_us // 1800000000) * 1800000000,
        |    t_us - 3600000000, -1800000000)) AS win_us, event_type, value
        |  FROM e)
        |SELECT win_us, event_type, count(*) AS cnt,
        |  round(sum(value), 2) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY win_us, event_type""".stripMargin)(
      (s, d) => graft.streaming.EventStreams
        .hoppingTypeCounts(Tables.events(s, d))
        .orderBy("win_us", "event_type")),

    q("q31_session_windows",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |m AS (SELECT user_id, us, value,
        |  CASE WHEN lag(us) OVER w IS NULL
        |         OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |sess AS (SELECT user_id, us, value,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY us
        |                 ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, min(us) AS session_start_us,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin)(
      (s, d) => graft.streaming.EventStreams
        .userSessions(Tables.events(s, d))
        .orderBy("user_id", "session_start_us")),

    q("q32_window_rank",
      """SELECT o_custkey, CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rank,
        |  o_orderkey, o_totalprice
        |FROM orders QUALIFY rank <= 3
        |ORDER BY o_custkey, rank""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{row_number, desc, asc}
        val w = Window.partitionBy("o_custkey")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "rank")
      }),

    q("q33_intersect",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT SELECT o_custkey AS c_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin)(
      (s, d) => Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .intersect(Tables.orders(s, d)
          .select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")),

    q("q34_except",
      """SELECT c_custkey FROM customer
        |EXCEPT SELECT o_custkey AS c_custkey FROM orders
        |  WHERE o_orderstatus = 'F'
        |ORDER BY c_custkey""".stripMargin)(
      (s, d) => Tables.customer(s, d).select("c_custkey")
        .except(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")),

    q("q51_union_distinct",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
        |UNION SELECT o_custkey AS c_custkey FROM orders
        |  WHERE o_orderstatus = 'P'
        |ORDER BY c_custkey""".stripMargin)(
      (s, d) => Tables.customer(s, d)
        .filter(col("c_mktsegment") === "MACHINERY").select("c_custkey")
        .union(Tables.orders(s, d).filter(col("o_orderstatus") === "P")
          .select(col("o_custkey").as("c_custkey")))
        .distinct()
        .orderBy("c_custkey")),

    q("q52_cube",
      """SELECT l_returnflag AS flag, l_linestatus AS status,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY flag NULLS FIRST, status NULLS FIRST""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit}
        Tables.lineitem(s, d)
          .cube(col("l_returnflag").as("flag"),
            col("l_linestatus").as("status"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("flag", "status") // Spark asc = NULLS FIRST
      }),

    q("q35_rollup",
      """SELECT l_returnflag AS flag, l_linestatus AS status,
        |  count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag NULLS FIRST, status NULLS FIRST""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit, sum}
        Tables.lineitem(s, d)
          .rollup(col("l_returnflag").as("flag"),
            col("l_linestatus").as("status"))
          .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
          .orderBy("flag", "status") // Spark asc = NULLS FIRST
      }),

    q("q36_pivot_months",
      """SELECT l_returnflag AS flag,
        |  CAST(ceil(avg(l_quantity) FILTER (month(l_shipdate) = 1)) AS INTEGER) AS "1",
        |  CAST(ceil(avg(l_quantity) FILTER (month(l_shipdate) = 2)) AS INTEGER) AS "2",
        |  CAST(ceil(avg(l_quantity) FILTER (month(l_shipdate) = 3)) AS INTEGER) AS "3",
        |  CAST(ceil(avg(l_quantity) FILTER (month(l_shipdate) = 4)) AS INTEGER) AS "4",
        |  CAST(ceil(avg(l_quantity) FILTER (month(l_shipdate) = 5)) AS INTEGER) AS "5",
        |  CAST(ceil(avg(l_quantity) FILTER (month(l_shipdate) = 6)) AS INTEGER) AS "6",
        |  CAST(ceil(avg(l_quantity) FILTER (month(l_shipdate) = 7)) AS INTEGER) AS "7",
        |  CAST(ceil(avg(l_quantity) FILTER (month(l_shipdate) = 8)) AS INTEGER) AS "8",
        |  CAST(ceil(avg(l_quantity) FILTER (month(l_shipdate) = 9)) AS INTEGER) AS "9",
        |  CAST(ceil(avg(l_quantity) FILTER (month(l_shipdate) = 10)) AS INTEGER) AS "10",
        |  CAST(ceil(avg(l_quantity) FILTER (month(l_shipdate) = 11)) AS INTEGER) AS "11",
        |  CAST(ceil(avg(l_quantity) FILTER (month(l_shipdate) = 12)) AS INTEGER) AS "12"
        |FROM lineitem GROUP BY l_returnflag ORDER BY flag""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{avg, ceil, month}
        Tables.lineitem(s, d)
          .withColumn("mon", month(col("l_shipdate")))
          .withColumn("flag", col("l_returnflag"))
          .groupBy("flag")
          .pivot("mon", 1 to 12)
          .agg(ceil(avg("l_quantity")).cast("int"))
          .orderBy("flag")
      }),

    // ---- scalar-function surfaces: dates, strings, conditional aggs ----
    q("q47_date_arith",
      """SELECT strftime(o_orderdate, '%Y-%m') AS ym,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY ym ORDER BY ym""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Tables.orders(s, d)
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum("o_totalprice"), 2).as("revenue"))
          .orderBy("ym")
      }),

    q("q48_string_funcs",
      """SELECT c_custkey, upper(c_name) AS uname,
        |  substr(c_name, 1, 5) AS prefix,
        |  CAST(length(c_name) AS INTEGER) AS name_len,
        |  replace(c_mktsegment, 'URE', '*') AS seg
        |FROM customer ORDER BY c_custkey""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Tables.customer(s, d).select(
          col("c_custkey"),
          upper(col("c_name")).as("uname"),
          substring(col("c_name"), 1, 5).as("prefix"),
          length(col("c_name")).as("name_len"),
          regexp_replace(col("c_mktsegment"), "URE", "*").as("seg"))
          .orderBy("c_custkey")
      }),

    q("q49_conditional_agg",
      """SELECT l_returnflag AS flag,
        |  count(*) FILTER (l_quantity > 25) AS n_big,
        |  count(*) FILTER (l_discount >= 0.05) AS n_discounted,
        |  sum(l_quantity) FILTER (l_linestatus = 'F') AS qty_f
        |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag").as("flag"))
          .agg(
            count_if(col("l_quantity") > 25).as("n_big"),
            count_if(col("l_discount") >= 0.05).as("n_discounted"),
            sum(when(col("l_linestatus") === "F", col("l_quantity")))
              .as("qty_f"))
          .orderBy("flag")
      }),

    // ---- classic multi-join analytics (TPC-H Q3/Q5 shapes) ----
    q("q42_top_revenue_orders",
      """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d)
            .filter(col("o_orderdate") <
              lit("1998-01-01").cast("timestamp_ntz")),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d)
            .filter(col("c_mktsegment") === "BUILDING"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("l_orderkey")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
            2).as("revenue"))
          .orderBy(desc("revenue"), asc("l_orderkey"))
          .limit(10)
      }),

    q("q43_regional_revenue",
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions._
        // dims broadcast; the two fact joins stay shuffled on their keys
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(Tables.supplier(s, d),
            col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)
            .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
            2).as("revenue"))
          .orderBy("n_name")
      }),

    q("q40_distinct_quantiles",
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty
        |FROM lineitem""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{countDistinct, expr}
        Tables.lineitem(s, d).agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"))
      }),

    // HLL sketch distinct — the estimate itself is algorithm-specific, so
    // the driver-visible contract is a TOLERANCE check: the oracle pins
    // the exact distinct count plus `approx_ok` = true, which hash-matches
    // iff Spark's HLL lands within the documented ±5% standard bound.
    q("q41_hll_distinct",
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |  CAST('t' AS BOOLEAN) AS approx_ok FROM lineitem""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Tables.lineitem(s, d)
          .agg(
            countDistinct(col("l_partkey")).as("exact_parts"),
            approx_count_distinct(col("l_partkey")).as("approx_parts"))
          .select(col("exact_parts"),
            (abs(col("approx_parts") - col("exact_parts")) <=
              col("exact_parts") * 0.05).as("approx_ok"))
      }),

    q("q46_bpe_token_count",
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'), w -> length(w) > 0)) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\r\f]+')) AS INTEGER) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)(
      (s, d) => Text.tokenCounts(Tables.documents(s, d))),

    q("q45_json_extract",
      """SELECT event_type,
        |  CAST(sum(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, get_json_object, lit, sum}
        Tables.events(s, d)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
          .groupBy("event_type")
          .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))
          .orderBy("event_type")
      }),

    // ---- text analysis: language ID (north star) ----
    q("q37_lang_id",
      """WITH s AS (SELECT doc_id,
        |  CAST(contains(lower(text), ' th') AS INTEGER) + CAST(contains(lower(text), 'the') AS INTEGER) +
        |  CAST(contains(lower(text), 'ing') AS INTEGER) + CAST(contains(lower(text), ' an') AS INTEGER) +
        |  CAST(contains(lower(text), 'and') AS INTEGER) + CAST(contains(lower(text), ' of') AS INTEGER) +
        |  CAST(contains(lower(text), 'ion') AS INTEGER) + CAST(contains(lower(text), ' to') AS INTEGER) AS score_en,
        |  CAST(contains(lower(text), 'der') AS INTEGER) + CAST(contains(lower(text), 'sch') AS INTEGER) +
        |  CAST(contains(lower(text), ' un') AS INTEGER) + CAST(contains(lower(text), 'und') AS INTEGER) +
        |  CAST(contains(lower(text), 'ein') AS INTEGER) + CAST(contains(lower(text), 'ich') AS INTEGER) +
        |  CAST(contains(lower(text), ' de') AS INTEGER) + CAST(contains(lower(text), 'cht') AS INTEGER) AS score_de,
        |  CAST(contains(lower(text), ' de') AS INTEGER) + CAST(contains(lower(text), 'de ') AS INTEGER) +
        |  CAST(contains(lower(text), ' la') AS INTEGER) + CAST(contains(lower(text), 'la ') AS INTEGER) +
        |  CAST(contains(lower(text), 'ión') AS INTEGER) + CAST(contains(lower(text), ' el') AS INTEGER) +
        |  CAST(contains(lower(text), 'que') AS INTEGER) + CAST(contains(lower(text), ' qu') AS INTEGER) AS score_es,
        |  CAST(contains(lower(text), ' le') AS INTEGER) + CAST(contains(lower(text), 'es ') AS INTEGER) +
        |  CAST(contains(lower(text), ' la') AS INTEGER) + CAST(contains(lower(text), 'de ') AS INTEGER) +
        |  CAST(contains(lower(text), 'ent') AS INTEGER) + CAST(contains(lower(text), ' et') AS INTEGER) +
        |  CAST(contains(lower(text), 'une') AS INTEGER) + CAST(contains(lower(text), 'eur') AS INTEGER) AS score_fr
        |FROM documents)
        |SELECT doc_id, score_en, score_de, score_es, score_fr,
        |  CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
        |       WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
        |       WHEN score_es >= score_en AND score_es >= score_de AND score_es >= score_fr THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin)(
      (s, d) => LangId.languageIdResult(Tables.documents(s, d))),

    // ---- multimodal plumbing (north star; video decode stubbed) ----
    // Audio rows carry REAL RIFF/WAVE payloads and go through the REAL
    // javax.sound.sampled header decode; the synthetic WAV's rate/frames
    // are pure functions of media_id, so the oracle predicts exactly what
    // a correct decoder must report (the q39 ImageIO technique, applied to
    // audio). n_bytes for audio is the canonical 44-byte header + 16-bit
    // mono PCM; image n_bytes is PNG-compressed (not SQL-predictable) and
    // masked. duration is integer microseconds (frames*1e6 div rate) so no
    // float rounding can disagree between engines. Feature extraction
    // (stub kernel) stays pinned by MultimodalSpec.
    q("q38_audio_decode",
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST([8000,11025,16000,22050][CAST(doc_id % 4 AS INTEGER) + 1] AS INTEGER) END AS sample_rate,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST(200 + doc_id % 800 AS BIGINT) END AS audio_frames,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST((200 + doc_id % 800) * 1000000 // [8000,11025,16000,22050][CAST(doc_id % 4 AS INTEGER) + 1] AS BIGINT) END AS duration_us,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST(44 + 2 * (200 + doc_id % 800) AS BIGINT)
        |       WHEN doc_id % 3 = 2 THEN CAST(octet_length(ENCODE(text)) AS BIGINT) END AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.when
        val media = Multimodal.syntheticMedia(Tables.documents(s, d))
        val decoded = Multimodal.decode(media).toDF()
        val audio = Multimodal.decodeAudio(media).toDF()
          .select("media_id", "sample_rate", "audio_frames", "duration_us")
        decoded.join(audio, Seq("media_id"), "left")
          .select(col("media_id"), col("kind"),
            col("sample_rate"), col("audio_frames"), col("duration_us"),
            when(col("kind") =!= "image", col("n_bytes")).as("n_bytes"))
          .orderBy("media_id")
      }),

    // Driver-verifiable decode: image rows go through the REAL ImageIO
    // codec, and because the synthetic PNG's dimensions are a pure
    // function of media_id (8 + id%32 × 8 + id%24, RGB), the oracle can
    // predict exactly what a correct decoder must report. Audio/video
    // n_bytes and video frame counts are byte-length formulas the oracle
    // reproduces with octet_length; the stub-derived width/height of
    // non-images are masked out (hash-derived, not a contract).
    q("q39_media_decode_frames",
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(8 + doc_id % 32 AS INTEGER) END AS width,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(8 + doc_id % 24 AS INTEGER) END AS height,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(3 AS INTEGER) END AS channels,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST(44 + 2 * (200 + doc_id % 800) AS BIGINT)
        |       WHEN doc_id % 3 = 2 THEN CAST(octet_length(ENCODE(text)) AS BIGINT) END AS n_bytes,
        |  CASE WHEN doc_id % 3 = 2 AND octet_length(ENCODE(text)) > 0
        |       THEN CAST(floor((ceil(octet_length(ENCODE(text)) / 64.0) - 1) / 4) + 1 AS BIGINT) END AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit, when}
        val media = Multimodal.syntheticMedia(Tables.documents(s, d))
        val decoded = Multimodal.decode(media).toDF()
        val frames = Multimodal.sampleFrames(media).toDF()
          .groupBy("media_id").agg(count(lit(1)).as("n_frames"))
        decoded.join(frames, Seq("media_id"), "left")
          .select(col("media_id"), col("kind"),
            when(col("kind") === "image", col("width")).as("width"),
            when(col("kind") === "image", col("height")).as("height"),
            when(col("kind") === "image", col("channels")).as("channels"),
            when(col("kind") =!= "image", col("n_bytes")).as("n_bytes"),
            col("n_frames"))
          .orderBy("media_id")
      }),

    // The rounded-grid point cloud is tiny after dedup (≤ ~1e6 cells even
    // for a continent-scale 3-dp grid), while the Lloyd loop runs dozens of
    // tiny jobs over it — derive a narrow width from the session's core
    // count (a fraction of defaultParallelism, floor 2) so per-iteration
    // task scheduling, not data, stops dominating, while a bigger cluster
    // still widens proportionally.
    // The Lloyd loop is seeded-DETERMINISTIC end to end: centroid init is
    // driver-side Random(42) (partition-independent), every recenter
    // rounds 3-dp HALF_UP (reference semantics) which also quashes
    // float-addition-order drift — verified bit-identical at local[4] and
    // local[32]. So the sf0.01 result is a constant, and the oracle pins
    // it as literals (the driver's Verify scale): any change to init,
    // assignment tie-break, rounding order, or convergence logic surfaces
    // as a driver hash mismatch.
    qPinned("q28_kmeans_centers", "sf0.01",
      """SELECT CAST(idx AS INTEGER) AS idx, CAST(lat AS DOUBLE) AS lat,
        |  CAST(lon AS DOUBLE) AS lon
        |FROM (VALUES (0, 0.161, -0.006), (1, -0.148, -0.097),
        |      (2, 0.043, 0.162), (3, 0.034, -0.106), (4, -0.095, 0.065))
        |  AS t(idx, lat, lon)
        |ORDER BY idx""".stripMargin)(
      (s, d) => {
        val pts = Geo.pointsFromEmbeddings(Tables.embeddings(s, d))
          .repartition(kmeansParts(s)).cache()
        try {
          s.createDataFrame(
            graft.ml.KMeans.fit(pts, k = 5, seed = 42L).centroids)
            .orderBy("idx")
        } finally { pts.unpersist(blocking = false); () }
      }),

    // Same literal-pinning as q28. Unlike the 3-dp centroids, the raw
    // silhouette IS addition-order-sensitive in its last ulps (measured:
    // local[4] vs local[32] differ at 1e-15), so the query rounds to 6 dp
    // — far above ulp noise, far below anything model selection cares
    // about — making the result width-independent and pinnable.
    qPinned("q29_silhouette_sweep", "sf0.01",
      """SELECT CAST(k AS INTEGER) AS k, CAST(s AS DOUBLE) AS "silScore",
        |  CAST(i AS INTEGER) AS iterations, c AS converged
        |FROM (VALUES (2, 0.657901, 7, true), (3, 0.673674, 13, true),
        |      (4, 0.632439, 16, true), (5, 0.604232, 20, false))
        |  AS t(k, s, i, c)
        |ORDER BY k""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.round
        val pts = Geo.pointsFromEmbeddings(Tables.embeddings(s, d))
          .repartition(kmeansParts(s))
        s.createDataFrame(
          graft.ml.ModelSelect.sweep(pts, Seq(2, 3, 4, 5), seed = 42L))
          .withColumn("silScore", round(col("silScore"), 6))
          .orderBy("k")
      }),

    // ---- as-of / range joins + deterministic split (training-pipeline
    //      surface; DuckDB's ASOF/inequality joins are the oracle) ----
    q("q54_asof_join",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  date_diff('microsecond', c.ts, p.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.expr
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        Joins.asOfJoin(purchases, clicks, "user_id", "ts")
          .select(col("event_id").as("purchase_id"),
            col("asof.event_id").as("click_id"),
            // ts is int64 nanos (Tables.events) with real sub-μs precision;
            // truncate EACH side to μs before differencing (DuckDB reads
            // TIMESTAMP(NANOS) truncated to μs, so (a-b) div 1000 would be
            // off by one whenever b's ns remainder exceeds a's). Integer
            // div, not /1000.0 — epoch nanos exceed double's 2^53.
            expr("(ts div 1000) - (asof.ts div 1000)").as("gap_us"))
          .orderBy("purchase_id")
      }),

    q("q55_range_join",
      """SELECT e.event_id AS incident_id, count(*) AS clicks_in_window
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON e.user_id = c.user_id AND c.ts >= e.ts
        | AND c.ts < e.ts + INTERVAL 24 HOURS
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit}
        val ev = Tables.events(s, d)
        val dayNs = 24L * 3600 * 1000000000L
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("incident_id"), col("user_id"),
            col("ts").as("w_start"), (col("ts") + dayNs).as("w_end"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
        Joins.rangeJoinBinned(clicks, errors, "user_id", "ts",
            "w_start", "w_end", binWidth = dayNs, maxIntervalWidth = dayNs)
          .groupBy("incident_id")
          .agg(count(lit(1)).as("clicks_in_window"))
          .orderBy("incident_id")
      }),

    // The whole training-data preparation pipeline as ONE declarative
    // plan (Pipeline.prepareCorpus): exact dedup → quality gate →
    // deterministic split → per-split accounting. The oracle composes the
    // same verified dialect pieces (q19 fingerprint, q20 token exprs, q56
    // split CASE); every output number is a count, an integer sum, or a
    // ratio of integer sums, so no partition-order float drift exists.
    q("q63_corpus_prep",
      """WITH fp AS (
        |  SELECT doc_id, text,
        |    md5(regexp_replace(trim(lower(text)), '[ \t\n\r\f]+', ' ', 'g')) AS fp
        |  FROM documents),
        |keep AS (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY fp),
        |ded AS (SELECT f.doc_id, f.text FROM fp f JOIN keep k
        |          ON f.fp = k.fp AND f.doc_id = k.doc_id),
        |q AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |        w -> length(w) > 0)) AS n_tokens,
        |    len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |        w -> length(w) > 0 AND w IN ('the','a','an','of','and','to',
        |                                     'in','is','it','for'))) AS n_stop
        |  FROM ded),
        |flt AS (SELECT * FROM q
        |        WHERE n_tokens >= 20 AND n_stop * 1.0 / n_tokens >= 0.05),
        |s AS (SELECT *, CASE
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |         AS INTEGER) % 1000 < 800 THEN 'train'
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |         AS INTEGER) % 1000 < 900 THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM flt)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(avg(n_tokens), 2) AS avg_tokens,
        |  round(sum(n_stop) * 1.0 / sum(n_tokens), 4) AS stop_share
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Pipeline.prepareCorpus(Tables.documents(s, d))),

    // The NEAR-dup variant of q63: duplicates are Jaccard components
    // (q22's pair semantics closed by q61's transitive-closure
    // machinery), each cluster keeps its min-id representative, then the
    // same gate → split → accounting tail. The oracle composes the
    // verified q61 recursive CTE with the q63 accounting CTEs.
    q("q64_corpus_prep_neardup",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM px
        |  WHERE inter / (sza + szb - inter) >= 0.2),
        |und AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.node),
        |reps AS (
        |  SELECT node AS doc_id FROM reach GROUP BY 1
        |  HAVING node = min(lbl)),
        |q AS (
        |  SELECT t.doc_id,
        |    len(t.t) AS n_tokens,
        |    len(list_filter(t.t, w -> w IN ('the','a','an','of','and','to',
        |                                    'in','is','it','for'))) AS n_stop
        |  FROM toks t JOIN reps r ON t.doc_id = r.doc_id),
        |flt AS (SELECT * FROM q
        |        WHERE n_tokens >= 20 AND n_stop * 1.0 / n_tokens >= 0.05),
        |s AS (SELECT *, CASE
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |         AS INTEGER) % 1000 < 800 THEN 'train'
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |         AS INTEGER) % 1000 < 900 THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM flt)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(avg(n_tokens), 2) AS avg_tokens,
        |  round(sum(n_stop) * 1.0 / sum(n_tokens), 4) AS stop_share
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)(
      // maxDf = MaxValue: THIS instance is hash-checked against an
      // UNCAPPED exact all-pairs oracle, so the skew guard must be
      // structurally disarmed rather than "large enough for today's
      // fixture" — a corpus where some 3-gram shingle crosses the cap
      // would silently diverge from the oracle's Jaccard universe. The
      // capped default (10000) remains the scale-path API.
      (s, d) => Pipeline.prepareCorpusNearDup(Tables.documents(s, d),
        maxDf = Long.MaxValue)),

    // Sequence packing (concat-and-chunk, budget 2048): pack_id =
    // exclusive-prefix-sum(n_tokens) / budget over the doc_id order. The
    // ORACLE can afford the single-task `sum() OVER (ORDER BY ...)`
    // window — DuckDB on one node — while the Spark side runs the
    // two-pass distributed prefix sum (Packing.packAssignments), so this
    // query is precisely the scalable-vs-naive formulation equivalence,
    // hash-checked. Integer-only arithmetic: no float drift possible.
    q("q65_sequence_packing",
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |         w -> length(w) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |p AS (SELECT doc_id, n_tokens,
        |    COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS start_tok
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(start_tok // 2048 AS BIGINT) AS pack_id
        |FROM p ORDER BY doc_id""".stripMargin)(
      (s, d) => Packing.packAssignments(Tables.documents(s, d),
        budget = 2048L)),

    q("q56_split_stats",
      """WITH s AS (SELECT text, CASE
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |         AS INTEGER) % 1000 < 800 THEN 'train'
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |         AS INTEGER) % 1000 < 900 THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS n_docs,
        |  round(avg(length(text)), 2) AS avg_chars
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{avg, count, length, lit, round}
        Sampling.deterministicSplit(Tables.documents(s, d), "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            round(avg(length(col("text"))), 2).as("avg_chars"))
          .orderBy("split")
      }),

    // idf quantized ×10⁴ to an integer before ranking on BOTH sides —
    // see Text.tfidfTopTerms: rank order is integer-exact, never at the
    // mercy of the engines' last-ulp ln()
    q("q57_tfidf_topterms",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '[ \t\n\r\f]+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE length(term) > 0 GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    tf.tf * CAST(round(ln(n.n / df.df) * 10000) AS BIGINT) AS score_i
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, score_i,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_i DESC, term) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, score_i / 10000.0 AS tfidf
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)(
      (s, d) => Text.tfidfTopTerms(Tables.documents(s, d), topK = 3)),

    q("q58_repetition_stats",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(t) - 1, 0)),
        |    i -> t[i] || ' ' || t[i+1])) AS bigram FROM toks),
        |counts AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
        |stats AS (SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    round(1 - count(*) / CAST(sum(c) AS BIGINT), 4) AS dup_bigram_frac,
        |    round(max(c) / CAST(sum(c) AS BIGINT), 4) AS top_bigram_frac
        |  FROM counts GROUP BY 1)
        |SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
        |  s.dup_bigram_frac, s.top_bigram_frac
        |FROM documents d LEFT JOIN stats s USING (doc_id)
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => Text.repetitionStats(Tables.documents(s, d))),

    // PII redaction as a driver-visible query. Deterministic synthetic PII
    // — an email, a phone, a URL, each a pure function of doc_id — is
    // appended to every document identically on BOTH sides, so the oracle
    // exercises all three patterns at every scale instead of hashing an
    // identity projection of PII-free fixture text. The pattern strings
    // are interpolated from Text.scala's constants (the Java∩RE2 subset:
    // DuckDB's RE2 evaluates the IDENTICAL patterns; only the replacement
    // backref syntax differs, $1 vs \1), and the phone pass runs twice on
    // both sides — see Text.redact on boundary-guard consumption.
    q("q66_pii_redaction",
      s"""SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    concat(text, ' contact user', CAST(doc_id AS VARCHAR),
        |      '@example.com or +1 555-123-',
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |      ' via https://data.example.com/d/', CAST(doc_id AS VARCHAR),
        |      ' asap'),
        |    '${Text.urlPattern}', '<URL>', 'g'),
        |    '${Text.emailPattern}', '<EMAIL>', 'g'),
        |    '${Text.phoneGuardedPattern}', '\\1<PHONE>\\3', 'g'),
        |    '${Text.phoneGuardedPattern}', '\\1<PHONE>\\3', 'g') AS text
        |FROM documents ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{concat, lit, lpad}
        val pii = Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or +1 555-123-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" via https://data.example.com/d/"),
            col("doc_id").cast("string"),
            lit(" asap")).as("text"))
        Text.redact(pii).orderBy("doc_id")
      }),

    // The two remaining test-pinned-only operators made driver-visible:
    // dropNearDuplicates (the keep-one-per-component APPLIER returning
    // surviving documents — q64 exercises only its accounting tail) and
    // deterministicSample (the nested-keep-set md5 subsample) composed as
    // a corpus half-run. The oracle closes the q61 recursive-CTE pair
    // machinery into representatives and filters the q56 md5 bucket under
    // 500 per-mille. Per-row output (doc_id + char length), no floats.
    // maxDf = MaxValue for the same reason as q64: the oracle's Jaccard
    // universe is uncapped, so the skew guard must be structurally off in
    // the hash-checked instance (capped default stays the scale path).
    q("q67_dedup_subsample",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM px
        |  WHERE inter / (sza + szb - inter) >= 0.2),
        |und AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.node),
        |reps AS (
        |  SELECT node AS doc_id FROM reach GROUP BY 1
        |  HAVING node = min(lbl))
        |SELECT d.doc_id, length(d.text) AS char_len
        |FROM documents d JOIN reps r USING (doc_id)
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
        |      AS INTEGER) % 1000 < 500
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.length
        val docs = Tables.documents(s, d)
        val kept = Dedup.dropNearDuplicates(docs,
          Dedup.jaccardPairs(docs, n = 3, threshold = 0.2,
            maxDf = Long.MaxValue))
        Sampling.deterministicSample(kept, "doc_id", 0.5)
          .select(col("doc_id"), length(col("text")).as("char_len"))
          .orderBy("doc_id")
      }),

    // The df census behind the maxDf skew guard (Dedup.hotShingles):
    // top-k most ubiquitous shingles, deterministic tie-break on text.
    // Oracle reuses q22's verified shingle CTE; df is an exact count.
    q("q68_hot_shingles",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |ex AS (SELECT unnest(s) AS shingle FROM sh)
        |SELECT shingle, count(*) AS df FROM ex
        |GROUP BY 1 ORDER BY df DESC, shingle LIMIT 20""".stripMargin)(
      (s, d) => Dedup.hotShingles(Tables.documents(s, d), n = 3,
        topK = 20)),

    // Benchmark decontamination (Dedup.contaminatedDocs): a deterministic
    // md5 5% slice of the documents table plays the eval set, the rest is
    // the training corpus; a training doc is flagged when ≥3 of its
    // distinct 3-gram shingles appear anywhere in the benchmark's shingle
    // union. The oracle reuses the verified shingle CTE and the q56 md5
    // bucket expression for the identical split on both sides.
    q("q69_decontamination",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |bkt AS (
        |  SELECT doc_id, s,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |         AS INTEGER) % 1000 AS bucket FROM sh),
        |b AS (SELECT DISTINCT unnest(s) AS item FROM bkt WHERE bucket >= 950),
        |c AS (SELECT doc_id, unnest(s) AS item FROM bkt WHERE bucket < 950)
        |SELECT c.doc_id, count(*) AS n_shared
        |FROM c JOIN b USING (item)
        |GROUP BY 1 HAVING count(*) >= 3 ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bucket = Sampling.splitBucket(col("doc_id"))
        Dedup.contaminatedDocs(
          docs.filter(bucket < 950), docs.filter(bucket >= 950),
          n = 3, minOverlap = 3L)
      }),

    // Corpus mixing (Sampling.stratifiedSample over LangId strata): keep
    // 80% of predicted-English docs, 25% of everything else — per-stratum
    // md5 keep rates, still a pure projection. The oracle composes q37's
    // verified language CTE with a CASE per-mille threshold on the q56
    // bucket expression. Per-row output pins membership, not just counts.
    q("q70_stratified_sample",
      """WITH s AS (SELECT doc_id,
        |  CAST(contains(lower(text), ' th') AS INTEGER) + CAST(contains(lower(text), 'the') AS INTEGER) +
        |  CAST(contains(lower(text), 'ing') AS INTEGER) + CAST(contains(lower(text), ' an') AS INTEGER) +
        |  CAST(contains(lower(text), 'and') AS INTEGER) + CAST(contains(lower(text), ' of') AS INTEGER) +
        |  CAST(contains(lower(text), 'ion') AS INTEGER) + CAST(contains(lower(text), ' to') AS INTEGER) AS score_en,
        |  CAST(contains(lower(text), 'der') AS INTEGER) + CAST(contains(lower(text), 'sch') AS INTEGER) +
        |  CAST(contains(lower(text), ' un') AS INTEGER) + CAST(contains(lower(text), 'und') AS INTEGER) +
        |  CAST(contains(lower(text), 'ein') AS INTEGER) + CAST(contains(lower(text), 'ich') AS INTEGER) +
        |  CAST(contains(lower(text), ' de') AS INTEGER) + CAST(contains(lower(text), 'cht') AS INTEGER) AS score_de,
        |  CAST(contains(lower(text), ' de') AS INTEGER) + CAST(contains(lower(text), 'de ') AS INTEGER) +
        |  CAST(contains(lower(text), ' la') AS INTEGER) + CAST(contains(lower(text), 'la ') AS INTEGER) +
        |  CAST(contains(lower(text), 'ión') AS INTEGER) + CAST(contains(lower(text), ' el') AS INTEGER) +
        |  CAST(contains(lower(text), 'que') AS INTEGER) + CAST(contains(lower(text), ' qu') AS INTEGER) AS score_es,
        |  CAST(contains(lower(text), ' le') AS INTEGER) + CAST(contains(lower(text), 'es ') AS INTEGER) +
        |  CAST(contains(lower(text), ' la') AS INTEGER) + CAST(contains(lower(text), 'de ') AS INTEGER) +
        |  CAST(contains(lower(text), 'ent') AS INTEGER) + CAST(contains(lower(text), ' et') AS INTEGER) +
        |  CAST(contains(lower(text), 'une') AS INTEGER) + CAST(contains(lower(text), 'eur') AS INTEGER) AS score_fr
        |FROM documents),
        |l AS (SELECT doc_id,
        |  CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
        |       WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
        |       WHEN score_es >= score_en AND score_es >= score_de AND score_es >= score_fr THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |  FROM s)
        |SELECT doc_id, lang_pred FROM l
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS INTEGER) % 1000
        |    < CASE WHEN lang_pred = 'en' THEN 800 ELSE 250 END
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val lang = LangId.languageId(Tables.documents(s, d))
          .select("doc_id", "lang_pred")
        Sampling.stratifiedSample(lang, "doc_id", "lang_pred",
            rates = Seq("en" -> 0.8), defaultRate = 0.25)
          .orderBy("doc_id")
      }),

    // Domain census (Text.domainStats): per-host URL accounting — the
    // governance view behind source-mix decisions. Fixture text carries
    // no URLs, so both sides append a deterministic one per document
    // (host = doc_id mod 7), exercising extract-ALL + host isolation +
    // two-level count against real matches at every scale; the shared
    // urlPattern is interpolated so both engines run identical regexes.
    q("q71_domain_stats",
      s"""WITH wu AS (
        |  SELECT concat(text, ' ref https://cdn', CAST(doc_id % 7 AS VARCHAR),
        |    '.example.org/p/', CAST(doc_id AS VARCHAR), ' end') AS text
        |  FROM documents),
        |u AS (SELECT unnest(regexp_extract_all(text,
        |  '${Text.urlPattern}')) AS url FROM wu),
        |d AS (SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS domain
        |      FROM u)
        |SELECT domain, count(*) AS n_urls FROM d GROUP BY 1
        |ORDER BY n_urls DESC, domain LIMIT 20""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{concat, lit}
        val wu = Tables.documents(s, d).select(concat(col("text"),
          lit(" ref https://cdn"), (col("doc_id") % 7).cast("string"),
          lit(".example.org/p/"), col("doc_id").cast("string"),
          lit(" end")).as("text"))
        Text.domainStats(wu, topK = 20)
      }),

    // Salting is semantics-neutral — driver-pinned (Skew.saltedEquiJoin
    // was test-only): the salted orders⋈customer equals the PLAIN SQL
    // join, hash-checked. Revenue sums as integer cents (round before
    // sum), so the hash compare is drift-free regardless of how the salt
    // reorders the addition.
    q("q72_salted_join",
      """SELECT c_mktsegment AS segment, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit, round, sum}
        val orders = Tables.orders(s, d)
          .withColumnRenamed("o_custkey", "c_custkey")
        val cust = Tables.customer(s, d)
          .select("c_custkey", "c_mktsegment")
        Skew.saltedEquiJoin(orders, cust, "c_custkey", saltFactor = 8)
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("revenue_cents"))
          .orderBy("segment")
      }),

    // The absolute half of corpus mixing (Sampling.capPerStratum): at
    // most 100 docs per predicted language, winners = first 100 in
    // md5(doc_id) order (hash-stable, engine-portable). The oracle is
    // the same q70 language CTE + the identical ROW_NUMBER window —
    // DuckDB and Spark md5 hex strings sort identically.
    q("q73_stratum_cap",
      """WITH s AS (SELECT doc_id,
        |  CAST(contains(lower(text), ' th') AS INTEGER) + CAST(contains(lower(text), 'the') AS INTEGER) +
        |  CAST(contains(lower(text), 'ing') AS INTEGER) + CAST(contains(lower(text), ' an') AS INTEGER) +
        |  CAST(contains(lower(text), 'and') AS INTEGER) + CAST(contains(lower(text), ' of') AS INTEGER) +
        |  CAST(contains(lower(text), 'ion') AS INTEGER) + CAST(contains(lower(text), ' to') AS INTEGER) AS score_en,
        |  CAST(contains(lower(text), 'der') AS INTEGER) + CAST(contains(lower(text), 'sch') AS INTEGER) +
        |  CAST(contains(lower(text), ' un') AS INTEGER) + CAST(contains(lower(text), 'und') AS INTEGER) +
        |  CAST(contains(lower(text), 'ein') AS INTEGER) + CAST(contains(lower(text), 'ich') AS INTEGER) +
        |  CAST(contains(lower(text), ' de') AS INTEGER) + CAST(contains(lower(text), 'cht') AS INTEGER) AS score_de,
        |  CAST(contains(lower(text), ' de') AS INTEGER) + CAST(contains(lower(text), 'de ') AS INTEGER) +
        |  CAST(contains(lower(text), ' la') AS INTEGER) + CAST(contains(lower(text), 'la ') AS INTEGER) +
        |  CAST(contains(lower(text), 'ión') AS INTEGER) + CAST(contains(lower(text), ' el') AS INTEGER) +
        |  CAST(contains(lower(text), 'que') AS INTEGER) + CAST(contains(lower(text), ' qu') AS INTEGER) AS score_es,
        |  CAST(contains(lower(text), ' le') AS INTEGER) + CAST(contains(lower(text), 'es ') AS INTEGER) +
        |  CAST(contains(lower(text), ' la') AS INTEGER) + CAST(contains(lower(text), 'de ') AS INTEGER) +
        |  CAST(contains(lower(text), 'ent') AS INTEGER) + CAST(contains(lower(text), ' et') AS INTEGER) +
        |  CAST(contains(lower(text), 'une') AS INTEGER) + CAST(contains(lower(text), 'eur') AS INTEGER) AS score_fr
        |FROM documents),
        |l AS (SELECT doc_id,
        |  CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
        |       WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
        |       WHEN score_es >= score_en AND score_es >= score_de AND score_es >= score_fr THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |  FROM s),
        |r AS (SELECT doc_id, lang_pred,
        |  row_number() OVER (PARTITION BY lang_pred
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM l)
        |SELECT doc_id, lang_pred FROM r WHERE rk <= 100
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val lang = LangId.languageId(Tables.documents(s, d))
          .select("doc_id", "lang_pred")
        Sampling.capPerStratum(lang, "doc_id", "lang_pred", n = 100)
          .orderBy("doc_id")
      }),

    // The many-strata mixing form (Sampling.stratifiedSampleDim): keep
    // rates as a broadcast (domain, permille) DIMENSION instead of a CASE
    // chain — the per-domain rebalance a census like q71 feeds. Domains
    // come from the q71 synthetic URLs (host = doc_id mod 7) via the same
    // shared urlPattern; cdn6 is deliberately absent from the dimension to
    // pin the defaultPermille path. Per-row output pins membership.
    q("q74_stratified_sample_dim",
      s"""WITH $syntheticDomainCtes,
        |r AS (SELECT * FROM (VALUES
        |  ('cdn0.example.org', 900), ('cdn1.example.org', 750),
        |  ('cdn2.example.org', 500), ('cdn3.example.org', 250),
        |  ('cdn4.example.org', 100), ('cdn5.example.org', 50))
        |  AS t(domain, permille))
        |SELECT doc_id, domain FROM dom LEFT JOIN r USING (domain)
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS INTEGER) % 1000 < coalesce(permille, 300)
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        import s.implicits._
        val rates = Seq(
          "cdn0.example.org" -> 900, "cdn1.example.org" -> 750,
          "cdn2.example.org" -> 500, "cdn3.example.org" -> 250,
          "cdn4.example.org" -> 100, "cdn5.example.org" -> 50)
          .toDF("domain", "permille")
        Sampling.stratifiedSampleDim(syntheticDomains(s, d), "doc_id",
            "domain", rates, defaultPermille = 300)
          .orderBy("doc_id")
      }),

    // Leakage-safe splitting (Sampling.deterministicSplit keyed on the
    // GROUP, not the row): hashing the DOMAIN assigns every doc of a
    // domain to the same split, so near-duplicate pages from one site can
    // never straddle train/test — the group-coherence contract
    // train/test decontamination needs from the split itself. Same q74
    // synthetic domains; 80/10/10 per-mille thresholds.
    q("q86_group_split",
      s"""WITH $syntheticDomainCtes,
        |b AS (SELECT doc_id, domain,
        |  CAST(('0x' || substr(md5(domain), 1, 4)) AS INTEGER) % 1000
        |    AS bucket FROM dom)
        |SELECT doc_id, domain,
        |  CASE WHEN bucket < 800 THEN 'train'
        |       WHEN bucket < 900 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin)(
      (s, d) => Sampling.deterministicSplit(syntheticDomains(s, d),
          "domain", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")),

    // Unicode canonicalization before fingerprinting (graft_nfc, a native
    // expression implementing the same Unicode NFC standard as DuckDB's
    // nfc_normalize): composed and decomposed encodings of the same text
    // are different byte strings, so un-normalized exact dedup misses
    // encoding-variant duplicates. Each doc gets a suffix whose ENCODING
    // alternates by parity (decomposed combining marks vs precomposed
    // chars) while the canonical text is identical — after NFC the
    // fingerprint depends only on the document body, and both engines
    // must agree byte-for-byte on the normalized form.
    q("q87_nfc_fingerprint",
      s"""SELECT doc_id, md5(nfc_normalize(concat(text,
        |    CASE WHEN doc_id % 2 = 0 THEN '$nfcDecomposedSuffix'
        |         ELSE '$nfcComposedSuffix' END))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{concat, lit, md5, when}
        graft.functions.GraftFunctions.register(s)
        Tables.documents(s, d).select(col("doc_id"),
          md5(graft.functions.GraftFunctions.nfc(concat(col("text"),
            when(col("doc_id") % 2 === 0, lit(nfcDecomposedSuffix))
              .otherwise(lit(nfcComposedSuffix))))
            .cast("binary")).as("fp"))
          .orderBy("doc_id")
      }),

    // The skew DIAGNOSTIC surface, driver-pinned (was test-only): the
    // heavy-hitter census that decides between plain join, AQE, and
    // salting. Ties break on the key so the cutoff row is deterministic.
    q("q75_heavy_hitters",
      """SELECT l_suppkey, count(*) AS df FROM lineitem
        |GROUP BY 1 ORDER BY df DESC, l_suppkey LIMIT 15""".stripMargin)(
      (s, d) => Skew.heavyHitters(
        Tables.lineitem(s, d).select("l_suppkey"), "l_suppkey", topN = 15)),

    // Partition-placement observability: partitionByKeyMod places each row
    // at floorMod(key, n) — placement as pure arithmetic, not a Spark-
    // internal hash — so the per-partition histogram is externally
    // reproducible: DuckDB computes the identical census from the key
    // alone. Pins BOTH diagnostics (the explicit partitioner feeds
    // partitionHistogram) end to end.
    q("q76_partition_histogram",
      """SELECT CAST(c_custkey % 8 AS INTEGER) AS pid, count(*) AS "rows"
        |FROM customer GROUP BY 1 ORDER BY pid""".stripMargin)(
      (s, d) => Skew.partitionHistogram(
        Skew.partitionByKeyMod(
          Tables.customer(s, d).select("c_custkey"), "c_custkey", 8))),

    // C4-style boilerplate removal (Text.removeBoilerplateLines): lines
    // occurring in ≥ minDocs distinct documents are template artifacts and
    // are deleted corpus-wide. Fixture docs are single-line, so both sides
    // wrap each in a synthetic page: a header and footer shared by ALL
    // docs plus a share-button line on every third — those cross the df
    // threshold and vanish; the per-doc 'para N' line and the original
    // text stay, order preserved. Docs reduced to nothing keep text = ''.
    q("q77_boilerplate_lines",
      """WITH wu AS (SELECT doc_id,
        |    concat('corpus nav home about contact', chr(10), text, chr(10),
        |      CASE WHEN doc_id % 3 = 0 THEN 'share this page'
        |           ELSE concat('para ', CAST(doc_id AS VARCHAR)) END,
        |      chr(10), 'copyright corpus example') AS text
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM wu),
        |ex AS (SELECT doc_id, unnest(lines) AS line,
        |       unnest(range(1, len(lines)+1)) AS pos FROM ls),
        |freq AS (SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS df FROM ex
        |    WHERE line <> '' GROUP BY 1) WHERE df >= 10),
        |kept AS (SELECT e.* FROM ex e ANTI JOIN freq f USING (line))
        |SELECT d.doc_id, coalesce(k.text, '') AS text FROM wu d
        |LEFT JOIN (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
        |           AS text FROM kept GROUP BY doc_id) k USING (doc_id)
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{concat, lit, when}
        val wu = Tables.documents(s, d).select(col("doc_id"), concat(
          lit("corpus nav home about contact\n"), col("text"), lit("\n"),
          when(col("doc_id") % 3 === 0, lit("share this page"))
            .otherwise(concat(lit("para "), col("doc_id").cast("string"))),
          lit("\ncopyright corpus example")).as("text"))
        Text.removeBoilerplateLines(wu, minDocs = 10)
      }),

    // Context-window preparation (Text.chunkTokens): sliding 64-token
    // windows advancing by 48 (16-token overlap), the tail riding the
    // last window so no token is dropped; short docs yield exactly one
    // chunk. Pure codegen'd projection both sides; the shared whitespace
    // class is interpolated so tokenization is byte-identical.
    q("q78_token_chunks",
      s"""WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '${Text.ws}'),
        |      x -> len(x) > 0) AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, toks,
        |    unnest(range(0, CASE WHEN len(toks) <= 64 THEN 1
        |      ELSE (len(toks) - 64 + 47) // 48 + 1 END)) AS chunk_id
        |  FROM t)
        |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
        |  CAST(len(toks[chunk_id*48+1 : chunk_id*48+64]) AS INTEGER)
        |    AS n_tokens,
        |  array_to_string(toks[chunk_id*48+1 : chunk_id*48+64], ' ')
        |    AS chunk
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin)(
      (s, d) => Text.chunkTokens(Tables.documents(s, d),
        window = 64, stride = 48)),

    // CCNet-family fluency score (Text.bigramLmScore): per-doc mean
    // ln P(w2|w1) under the corpus's own bigram model. The engine-fragile
    // ln is quantized per distinct bigram (×10⁴, the q57 trick) and the
    // reported score is one IEEE division of exact integers, so the hash
    // compare is drift-free; the shared whitespace class keeps
    // tokenization byte-identical.
    q("q79_bigram_lm_score",
      s"""WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '${Text.ws}'),
        |      x -> len(x) > 0) AS toks
        |  FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> concat(toks[i], ' ', toks[i+1]))) AS bigram FROM t),
        |bgc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
        |model AS (SELECT bigram, CAST(sum(c) AS BIGINT) AS b12,
        |    split_part(bigram, ' ', 1) AS w1 FROM bgc GROUP BY 1),
        |uni AS (SELECT w1, CAST(sum(b12) AS BIGINT) AS u1
        |  FROM model GROUP BY 1),
        |lq AS (SELECT bigram, CAST(round(ln(b12 / u1) * 10000) AS BIGINT)
        |    AS lq FROM model JOIN uni USING (w1)),
        |pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    CAST(CAST(sum(c * lq) AS BIGINT) AS DOUBLE) /
        |      CAST(CAST(sum(c) AS BIGINT) * 10000 AS DOUBLE) AS lm_score
        |  FROM bgc JOIN lq USING (bigram) GROUP BY 1)
        |SELECT d.doc_id, coalesce(pd.n_bigrams, 0) AS n_bigrams,
        |  pd.lm_score
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => Text.bigramLmScore(Tables.documents(s, d))),

    // Token-budgeted corpus mixing (Sampling.capTokensPerStratum): each
    // synthetic source keeps the longest md5-order prefix totalling
    // ≤ 3000 tokens — the unit a training mix is actually specified in.
    // Take-while cumsum over the same hash-order window as q73, integer
    // arithmetic end to end.
    q("q80_token_budget_cap",
      s"""WITH s AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'web'
        |         WHEN doc_id % 3 = 1 THEN 'book' ELSE 'code' END AS source,
        |    CAST(len(list_filter(string_split_regex(text, '${Text.ws}'),
        |      x -> len(x) > 0)) AS INTEGER) AS n_tokens
        |  FROM documents),
        |c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum FROM s)
        |SELECT doc_id, source, n_tokens FROM c WHERE cum <= 3000
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{size, when}
        val src = Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 3 === 0, "web")
            .when(col("doc_id") % 3 === 1, "book")
            .otherwise("code").as("source"),
          size(Text.tokens(col("text"))).as("n_tokens"))
        Sampling.capTokensPerStratum(src, "doc_id", "source",
            "n_tokens", budget = 3000L)
          .orderBy("doc_id")
      }),

    // Incremental dedup (Dedup.dedupAgainstHistory): today's batch vs
    // yesterday's corpus, which exists only as its fingerprint table.
    // History here = fps of every doc_id ≡ 0 (mod 3), so those docs (and
    // any content-equal twin) drop; survivors are then within-batch
    // exact-deduped keeping the lowest id — output appends cleanly to
    // corpus and history both.
    q("q82_incremental_dedup",
      """WITH fp AS (SELECT doc_id,
        |    md5(regexp_replace(trim(lower(text)), '[ \t\n\r\f]+', ' ', 'g'))
        |      AS fp
        |  FROM documents),
        |hist AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 3 = 0),
        |fresh AS (SELECT f.doc_id, f.fp FROM fp f ANTI JOIN hist h
        |  USING (fp)),
        |keep AS (SELECT min(doc_id) AS doc_id FROM fresh GROUP BY fp)
        |SELECT d.doc_id, d.text FROM documents d SEMI JOIN keep
        |USING (doc_id) ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.md5
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val hist = docs.filter(col("doc_id") % 3 === 0)
          .select(md5(Dedup.normText(col("text")).cast("binary")).as("fp"))
          .distinct()
        Dedup.dedupAgainstHistory(docs, hist)
      }),

    // Deequ-style column profile (Profiling.numericProfile): exact
    // completeness/uniqueness/range facts per column, one pass, no
    // accumulation-sensitive metric anywhere — hash-comparable by
    // construction.
    q("q83_column_profile",
      """SELECT * FROM (
        |  SELECT 'l_extendedprice' AS col_name, count(*) AS n_rows,
        |    count(*) - count(l_extendedprice) AS n_null,
        |    count(DISTINCT l_extendedprice) AS n_distinct,
        |    CAST(min(l_extendedprice) AS DOUBLE) AS min_val,
        |    CAST(max(l_extendedprice) AS DOUBLE) AS max_val FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
        |    count(DISTINCT l_quantity), CAST(min(l_quantity) AS DOUBLE),
        |    CAST(max(l_quantity) AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_suppkey', count(*), count(*) - count(l_suppkey),
        |    count(DISTINCT l_suppkey), CAST(min(l_suppkey) AS DOUBLE),
        |    CAST(max(l_suppkey) AS DOUBLE) FROM lineitem
        |) ORDER BY col_name""".stripMargin)(
      (s, d) => Profiling.numericProfile(Tables.lineitem(s, d),
        Seq("l_extendedprice", "l_quantity", "l_suppkey"))),

    // Fixed-bound value histogram (Profiling.numericHistogram): 20 equal
    // bins over [0, 200) on events.value, out-of-range clamped to the
    // edge bins, empty bins surfaced as 0. The bin expression is written
    // identically both sides so IEEE floor/divide agree bit for bit.
    q("q84_value_histogram",
      """WITH b AS (SELECT CAST(least(greatest(
        |    floor((value - 0.0) * 20 / (200.0 - 0.0)), 0), 19) AS INTEGER)
        |    AS bin
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT bin, count(*) AS cnt FROM b GROUP BY 1)
        |SELECT CAST(t.i AS INTEGER) AS bin,
        |  CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
        |FROM range(20) t(i) LEFT JOIN c ON c.bin = t.i
        |ORDER BY bin""".stripMargin)(
      (s, d) => Profiling.numericHistogram(Tables.events(s, d),
        "value", lo = 0.0, hi = 200.0, k = 20)),

    q("q59_grouped_quantiles",
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty, count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Relational.groupedQuantiles(Tables.lineitem(s, d)))
  ,

    // the streaming as-of enrichment run through Spark's unified
    // batch-streaming contract: in batch mode the FMGWS operator sees each
    // user's full history in one event-time-sorted pass, which IS the left
    // as-of join — so DuckDB's ASOF LEFT JOIN pins the stateful operator's
    // semantics, while StreamingSpec pins the incremental/TTL behavior
    q("q60_stream_enrich_batch",
      """SELECT p.user_id, p.event_id AS purchase_id,
        |  epoch_us(p.ts) AS purchase_us, c.event_id AS click_id,
        |  date_diff('microsecond', c.ts, p.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin)(
      (s, d) => graft.streaming.EventStreams
        .enrichPurchasesWithLastClick(Tables.events(s, d))
        .toDF()
        .orderBy("purchase_id")),

    // transitive closure of the q22 pair list into dedup clusters; the
    // oracle recomputes the same pairs in SQL and closes them with a
    // recursive CTE (min reachable id = component representative)
    q("q61_dedup_clusters",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM px
        |  WHERE inter / (sza + szb - inter) >= 0.2),
        |und AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.node)
        |SELECT node AS doc_id, min(lbl) AS cluster_id
        |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Dedup.jaccardClusters(Tables.documents(s, d), n = 3,
        threshold = 0.2, maxDf = 1000L)),

    // Changelog compaction (Cdc.compactChangelog): latest-wins-by-key
    // upsert with tombstones — the batch form of the reference's HBase
    // rowkey-overwrite ingest (HPopulate.java:92–105) over an explicit
    // change stream. orders as the changelog: key = custkey, version =
    // (orderdate, orderkey), status 'F' plays the delete marker. One
    // hash-shuffle + per-key sort; the oracle is the identical ROW_NUMBER
    // window. Cents as integers so the hash compare is drift-free.
    q("q88_changelog_merge",
      """WITH r AS (SELECT o_custkey, o_orderkey, o_orderstatus,
        |    o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |SELECT o_custkey AS cust, o_orderkey AS last_order,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM r WHERE rn = 1 AND o_orderstatus <> 'F'
        |ORDER BY cust""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.round
        Cdc.compactChangelog(Tables.orders(s, d),
            key = col("o_custkey"), ts = col("o_orderdate"),
            tiebreak = col("o_orderkey"),
            tombstone = col("o_orderstatus") === "F")
          .select(col("o_custkey").as("cust"),
            col("o_orderkey").as("last_order"),
            round(col("o_totalprice") * 100).cast("long").as("price_cents"))
          .orderBy("cust")
      }),

    // Snapshot diff (Cdc.snapshotDiff): per-customer 1995 vs 1996 order
    // aggregates, keys classified added / removed / changed ('same'
    // dropped — at 100 TB the diff must not re-emit the unchanged
    // majority). Both sides pre-aggregate by the key BEFORE the full
    // outer join, so the wide exchange carries one row per key and the
    // aggregation's partitioning is reused by the join.
    q("q89_snapshot_diff",
      """WITH b AS (SELECT o_custkey, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
        |a AS (SELECT o_custkey, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
        |j AS (SELECT coalesce(a.o_custkey, b.o_custkey) AS cust,
        |    CASE WHEN b.o_custkey IS NULL THEN 'added'
        |         WHEN a.o_custkey IS NULL THEN 'removed'
        |         WHEN b.n = a.n AND b.cents = a.cents THEN 'same'
        |         ELSE 'changed' END AS status,
        |    b.n AS b_n, a.n AS a_n, b.cents AS b_cents, a.cents AS a_cents
        |  FROM b FULL JOIN a ON b.o_custkey = a.o_custkey)
        |SELECT cust, status, b_n, a_n, b_cents, a_cents FROM j
        |WHERE status <> 'same' ORDER BY cust""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit, round, sum, year}
        def snap(yr: Int): DataFrame = Tables.orders(s, d)
          .filter(year(col("o_orderdate")) === yr)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        Cdc.snapshotDiff(snap(1995), snap(1996), "o_custkey",
            Seq("n", "cents"))
          .select(col("o_custkey").as("cust"), col("status"),
            col("b_n"), col("a_n"), col("b_cents"), col("a_cents"))
          .orderBy("cust")
      }),

    // Runtime-filter pruning (Joins.prunedSemiJoin): the Bloom-digest
    // pattern — a broadcast hash-bucket set from the selective dim side
    // prunes the fact scan before the exact semi join removes bucket
    // collisions. Semantics-neutral by construction, so the oracle is the
    // PLAIN semi join; the digest never appears in the output. buckets=64
    // at verify scale forces real collisions through the exact stage.
    q("q90_pruned_semi_join",
      """WITH dim AS (SELECT c_custkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 8000)
        |SELECT o_orderpriority AS priority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM orders SEMI JOIN dim ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit, round, sum}
        val dim = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING" &&
            col("c_acctbal") > 8000)
          .select("c_custkey")
        Joins.prunedSemiJoin(Tables.orders(s, d), dim,
            "o_custkey", "c_custkey", buckets = 64)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("revenue_cents"))
          .orderBy("priority")
      }),

    // Collocation census (Text.pmiPairs): top-30 token pairs by document
    // PMI with support ≥ 5. The score crosses the oracle as the exact
    // integer rational (score_num, score_den) — no log, no float sums —
    // and the ORDER BY divides the two bigints once, an IEEE op both
    // engines compute bit-identically (ties broken on the pair). The
    // shared whitespace class is interpolated so tokenization matches.
    q("q91_pmi_pairs",
      s"""WITH toks AS (SELECT doc_id,
        |    (list_sort(list_distinct(list_filter(
        |      string_split_regex(lower(text), '${Text.ws}'),
        |      w -> length(w) > 0))))[1:64] AS ts
        |  FROM documents),
        |ex AS (SELECT doc_id, unnest(ts) AS t FROM toks),
        |df AS (SELECT t, count(*) AS df FROM ex GROUP BY 1),
        |pr AS (SELECT a.t AS t1, b.t AS t2, count(*) AS pair_df
        |  FROM ex a JOIN ex b ON a.doc_id = b.doc_id AND a.t < b.t
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT t1, t2, pair_df, d1.df AS df1, d2.df AS df2,
        |  CAST(pair_df * n_docs AS BIGINT) AS score_num,
        |  CAST(d1.df * d2.df AS BIGINT) AS score_den
        |FROM pr
        |JOIN df d1 ON pr.t1 = d1.t
        |JOIN df d2 ON pr.t2 = d2.t
        |CROSS JOIN n
        |ORDER BY CAST(pair_df * n_docs AS DOUBLE) / (d1.df * d2.df) DESC,
        |  t1, t2
        |LIMIT 30""".stripMargin)(
      (s, d) => Text.pmiPairs(Tables.documents(s, d), topK = 30,
        minPairs = 5, maxTokensPerDoc = 64)),

    // Model-shaped quality gate (Text.qualityClassify): the C4/Gopher
    // rule ensemble as a scored classifier — integer-exact rules, fixed
    // weights, keep = score ≥ 6. A logistic head over the same linear
    // score orders identically (sigmoid is monotone), so the integer
    // threshold IS the classifier and no exp() crosses the engines.
    // Pure projection: zero shuffles at any scale.
    q("q92_quality_classifier",
      s"""WITH f AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '${Text.ws}'),
        |      w -> length(w) > 0) AS toks
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, w -> list_contains(
        |      ['the','a','an','of','and','to','in','is','it','for'], w)))
        |      AS BIGINT) AS n_stop,
        |    CAST(length(array_to_string(toks, '')) AS BIGINT) AS sum_len,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |      AS BIGINT) AS n_digits,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM f),
        |s AS (SELECT doc_id, n_tokens,
        |    CAST(n_tokens >= 3 AND n_tokens <= 1000 AS INTEGER) * 3
        |  + CAST(n_stop * 50 >= n_tokens AS INTEGER) * 2
        |  + CAST(n_tokens * 2 <= sum_len AND sum_len <= n_tokens * 12
        |      AS INTEGER) * 2
        |  + CAST(n_digits * 5 < greatest(n_chars, 1) AS INTEGER) * 1
        |      AS score
        |  FROM g)
        |SELECT doc_id, n_tokens, score, CAST(score >= 6 AS INTEGER) AS keep
        |FROM s ORDER BY doc_id""".stripMargin)(
      (s, d) => Text.qualityClassify(Tables.documents(s, d), minScore = 6)),

    // Robust corpus stats (Profiling.winsorizedStats): per-language token
    // counts clipped into the group's DISCRETE [p5, p95] rank percentiles
    // — ranked values from the data, never interpolated (interpolation
    // arithmetic is the classic cross-engine drift), and the clipped mean
    // crosses as the exact rational (clipped_sum, n). Both sides run the
    // identical rank formula ⌈p·n⌉ (floor 1).
    q("q93_winsorized_stats",
      s"""WITH t AS (SELECT lang, doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '${Text.ws}'),
        |      w -> length(w) > 0)) AS BIGINT) AS v
        |  FROM documents),
        |r AS (SELECT lang, v,
        |    row_number() OVER (PARTITION BY lang ORDER BY v, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM t),
        |b AS (SELECT lang,
        |    max(CASE WHEN rn = greatest(CAST(ceil(0.05 * n) AS BIGINT), 1)
        |      THEN v END) AS lo,
        |    max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
        |      THEN v END) AS hi
        |  FROM r GROUP BY 1)
        |SELECT r.lang, min(b.lo) AS lo, min(b.hi) AS hi, count(*) AS n,
        |  CAST(sum(least(greatest(v, lo), hi)) AS BIGINT) AS clipped_sum
        |FROM r JOIN b USING (lang) GROUP BY r.lang
        |ORDER BY r.lang""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.size
        val t = Tables.documents(s, d).select(col("lang"), col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_tok"))
        Profiling.winsorizedStats(t, "lang", "n_tok", "doc_id")
      }),

    // Crawl-key dedup (Text.canonicalizeUrl + urlDedup): fragment and
    // utm_* stripped, scheme/host lowercased, default port dropped —
    // raw spellings that canonicalize equal are one resource. Fixture
    // text carries no URLs, so both sides synthesize one per doc with
    // spelling variants by doc_id (case/port by mod-4 parity, tracking
    // params unique per doc); ids 350 apart collapse ACROSS spellings.
    // Patterns are shared constants; replacements differ per engine
    // ($1 Java, \\1 RE2) exactly as with the phone guards.
    q("q94_url_dedup",
      s"""WITH u AS (SELECT doc_id,
        |    concat(
        |      CASE WHEN doc_id % 4 < 2 THEN 'https://CDN'
        |           ELSE 'https://cdn' END,
        |      CAST(doc_id % 7 AS VARCHAR),
        |      CASE WHEN doc_id % 4 < 2 THEN '.Example.ORG:443'
        |           ELSE '.example.org' END,
        |      '/p/', CAST(doc_id % 50 AS VARCHAR),
        |      '?utm_source=s', CAST(doc_id AS VARCHAR), '&ref=1#sec',
        |      CAST(doc_id AS VARCHAR)) AS url
        |  FROM documents),
        |c1 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(url, '${Text.urlFragmentPat}', ''),
        |    '${Text.urlUtmMidPat}', '', 'g'),
        |    '${Text.urlUtmLeadAmpPat}', '?'),
        |    '${Text.urlUtmLeadEndPat}', '') AS u FROM u),
        |c2 AS (SELECT doc_id, concat(
        |    lower(regexp_extract(u, '${Text.urlPrefixPat}', 1)),
        |    regexp_extract(u, '${Text.urlRestPat}', 1)) AS u FROM c1),
        |c3 AS (SELECT doc_id, regexp_replace(regexp_replace(u,
        |    '${Text.urlHttpsPortPat}', '\\1\\2'),
        |    '${Text.urlHttpPortPat}', '\\1\\2') AS u FROM c2)
        |SELECT u AS canon_url, count(*) AS n_raw, min(doc_id) AS first_doc
        |FROM c3 GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{concat, lit, when}
        val u = Tables.documents(s, d).select(col("doc_id"), concat(
          when(col("doc_id") % 4 < 2, lit("https://CDN"))
            .otherwise(lit("https://cdn")),
          (col("doc_id") % 7).cast("string"),
          when(col("doc_id") % 4 < 2, lit(".Example.ORG:443"))
            .otherwise(lit(".example.org")),
          lit("/p/"), (col("doc_id") % 50).cast("string"),
          lit("?utm_source=s"), col("doc_id").cast("string"),
          lit("&ref=1#sec"), col("doc_id").cast("string")).as("url"))
        Text.urlDedup(u)
      }),

    // The skew trend metric (Skew.keyGini): Gini of the supplier load
    // distribution in lineitem, emitted as the exact integer rational of
    // the rank formula — no float division crosses the engines. The rank
    // window runs on the aggregated census (one row per key).
    q("q95_key_gini",
      """WITH c AS (SELECT l_suppkey AS k, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, k) AS rn
        |  FROM c)
        |SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total,
        |  CAST(2 * sum(rn * cnt) - (count(*) + 1) * sum(cnt) AS BIGINT)
        |    AS gini_num,
        |  CAST(count(*) * sum(cnt) AS BIGINT) AS gini_den
        |FROM r""".stripMargin)(
      (s, d) => Skew.keyGini(
        Tables.lineitem(s, d).select("l_suppkey"), "l_suppkey")),

    // Contrastive negative sampling (Sampling.negativeSample): per
    // anchor, the 3 pool candidates ranked first by md5(anchor-cand)
    // among DIFFERENT-source docs. The pair hash + md5-bucket pool are
    // the proven engine-portable idioms (q70/q73), so the draw is a pure
    // function of the ids on both sides.
    q("q96_negative_sampling",
      """WITH a AS (SELECT doc_id AS anchor_id, source AS a_src
        |  FROM documents WHERE doc_id % 100 = 0),
        |p AS (SELECT doc_id AS cand_id, source AS c_src FROM documents
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |    AS INTEGER) % 1000 < 200),
        |x AS (SELECT anchor_id, cand_id,
        |    md5(concat(CAST(anchor_id AS VARCHAR), '-',
        |      CAST(cand_id AS VARCHAR))) AS h
        |  FROM a CROSS JOIN p WHERE a_src <> c_src),
        |r AS (SELECT anchor_id, cand_id,
        |    row_number() OVER (PARTITION BY anchor_id
        |      ORDER BY h, cand_id) AS rk
        |  FROM x)
        |SELECT anchor_id, rk, cand_id FROM r WHERE rk <= 3
        |ORDER BY anchor_id, rk""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val anchors = docs.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("anchor_id"), col("source"))
        val cands = docs
          .select(col("doc_id").as("cand_id"), col("source"))
        Sampling.negativeSample(anchors, cands, "anchor_id", "cand_id",
          "source", k = 3, poolPermille = 200)
      }),

    // Class rebalance (Sampling.balancedUpsample): every language lands
    // on EXACTLY 200 rows — small strata replicate with replacement
    // (copy_idx numbers the replicas), large ones keep the md5-order
    // prefix; one integer formula covers both, identical in the oracle.
    q("q97_balanced_upsample",
      """WITH r AS (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |c AS (SELECT lang, doc_id,
        |    (200 // n) + CASE WHEN rn <= 200 % n THEN 1 ELSE 0 END
        |      AS copies
        |  FROM r)
        |SELECT lang, doc_id, unnest(range(1, copies + 1)) AS copy_idx
        |FROM c WHERE copies > 0
        |ORDER BY lang, doc_id, copy_idx""".stripMargin)(
      (s, d) => Sampling.balancedUpsample(
        Tables.documents(s, d).select("lang", "doc_id"),
        "doc_id", "lang", target = 200L)),

    // One BPE training round (Text.bpePairCensus): the frequency-weighted
    // adjacent-character-pair census whose argmax is the tokenizer's next
    // merge. Words aggregate to (word, freq) BEFORE pairs explode, so the
    // expansion runs over the vocabulary, not the corpus; pair slicing is
    // character-substring arithmetic identical in both engines.
    q("q98_bpe_pair_census",
      s"""WITH w AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '${Text.ws}'),
        |    x -> length(x) > 0)) AS word FROM documents),
        |wc AS (SELECT word, count(*) AS freq FROM w GROUP BY 1),
        |p AS (SELECT unnest(list_transform(range(1, length(word)),
        |    i -> word[i:i+1])) AS pair, freq
        |  FROM wc WHERE length(word) >= 2)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY 1
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin)(
      (s, d) => Text.bpePairCensus(Tables.documents(s, d), topK = 20)),

    // Incremental view maintenance (Relational.mergePartials): the
    // monthly partials of orders coarsen to (year, priority) by MERGING
    // algebraic aggregates — sums of counts and of integer cents — and
    // the oracle recomputes the coarse view directly from the facts, so
    // a driver mismatch means the merge lost rows or double-counted.
    q("q99_partial_agg_merge",
      """WITH p AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |    CAST(month(o_orderdate) AS INTEGER) AS mon,
        |    o_orderpriority AS priority, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1, 2, 3)
        |SELECT yr, priority, CAST(sum(n) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit, month, round,
          sum, year}
        val partials = Tables.orders(s, d)
          .groupBy(year(col("o_orderdate")).as("yr"),
            month(col("o_orderdate")).as("mon"),
            col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        Relational.mergePartials(partials, Seq("yr", "priority"),
          Seq("n", "cents"))
      }),

    // Time travel (Cdc.snapshotAsOf): the q88 changelog compaction
    // replayed only up to an as-of cutoff — event-sourced historical
    // state from the same log. The cutoff predicate sits on the scan
    // (partition-prunable at scale); both engines compare the identical
    // UTC timestamp literal.
    q("q100_snapshot_asof",
      """WITH ch AS (SELECT * FROM orders
        |  WHERE o_orderdate <= TIMESTAMP '1996-12-31 23:59:59.999'),
        |r AS (SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM ch)
        |SELECT o_custkey AS cust, o_orderkey AS last_order,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM r WHERE rn = 1 AND o_orderstatus <> 'F'
        |ORDER BY cust""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{lit, round}
        Cdc.snapshotAsOf(Tables.orders(s, d),
            key = col("o_custkey"), ts = col("o_orderdate"),
            tiebreak = col("o_orderkey"),
            tombstone = col("o_orderstatus") === "F",
            asOf = lit("1996-12-31 23:59:59.999").cast("timestamp"))
          .select(col("o_custkey").as("cust"),
            col("o_orderkey").as("last_order"),
            round(col("o_totalprice") * 100).cast("long").as("price_cents"))
          .orderBy("cust")
      }),

    // Iterative graph analytics (Graph.pageRankMicro): 3 PageRank rounds
    // in integer micro-units over a customer-derived 25-node graph —
    // truncating integer division makes the fixpoint math a pure function
    // of the edge set, so an ITERATIVE graph algorithm becomes hash-
    // checkable across engines (float PageRank never is). The oracle
    // unrolls the identical three rounds as CTE layers.
    q("q101_pagerank",
      """WITH e AS (SELECT DISTINCT c_nationkey AS src,
        |    c_custkey % 25 AS dst FROM customer),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM n),
        |i1 AS (SELECT e.dst AS node, sum(p0.pr // d.deg) AS m
        |  FROM e JOIN d USING (src) JOIN p0 ON p0.node = e.src GROUP BY 1),
        |p1 AS (SELECT n.node,
        |    150000 + (850 * coalesce(i1.m, 0)) // 1000 AS pr
        |  FROM n LEFT JOIN i1 USING (node)),
        |i2 AS (SELECT e.dst AS node, sum(p1.pr // d.deg) AS m
        |  FROM e JOIN d USING (src) JOIN p1 ON p1.node = e.src GROUP BY 1),
        |p2 AS (SELECT n.node,
        |    150000 + (850 * coalesce(i2.m, 0)) // 1000 AS pr
        |  FROM n LEFT JOIN i2 USING (node)),
        |i3 AS (SELECT e.dst AS node, sum(p2.pr // d.deg) AS m
        |  FROM e JOIN d USING (src) JOIN p2 ON p2.node = e.src GROUP BY 1),
        |p3 AS (SELECT n.node,
        |    150000 + (850 * coalesce(i3.m, 0)) // 1000 AS pr
        |  FROM n LEFT JOIN i3 USING (node))
        |SELECT node, CAST(pr AS BIGINT) AS pr FROM p3
        |ORDER BY node""".stripMargin)(
      (s, d) => Graph.pageRankMicro(
        Tables.customer(s, d).select(col("c_nationkey").as("src"),
          (col("c_custkey") % 25).as("dst")),
        iterations = 3)),

    // Ordered funnel (Behavior.funnel): view → click → purchase, each
    // step's earliest event strictly after the previous step's time.
    // A k-leg ordered join collapsed to per-user mins before every join
    // — no event×event pairs at any scale. Counts only: exact.
    q("q102_funnel",
      """WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(ts) AS t1 FROM events e
        |  JOIN s0 USING (user_id)
        |  WHERE event_type = 'click' AND ts > t0 GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t1 GROUP BY 1)
        |SELECT count(*) AS step1,
        |  (SELECT count(*) FROM s1) AS step2,
        |  (SELECT count(*) FROM s2) AS step3
        |FROM s0""".stripMargin)(
      (s, d) => Behavior.funnel(Tables.events(s, d),
        Seq("view", "click", "purchase"))),

    // Triangle census (Graph.triangleCount) on the q101 graph: edges
    // canonicalize to a<b, the a<b<c two-path closure counts each
    // triangle exactly once — orientation is also the scale trick (no
    // 6× materialization, fan-out bounded by oriented degree).
    q("q103_triangle_count",
      """WITH raw AS (SELECT c_nationkey AS src, c_custkey % 25 AS dst
        |  FROM customer),
        |c AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM raw WHERE least(src, dst) < greatest(src, dst))
        |SELECT count(*) AS n_triangles
        |FROM c e1 JOIN c e2 ON e1.b = e2.a
        |JOIN c e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin)(
      (s, d) => Graph.triangleCount(
        Tables.customer(s, d).select(col("c_nationkey").as("src"),
          (col("c_custkey") % 25).as("dst")))),

    // Weekly cohort retention (Behavior.cohortRetention): users cohorted
    // by first-event epoch week (integer div of nanos — DuckDB reads the
    // ns timestamps via epoch_ns, Spark the raw int64), distinct-user
    // counts per (cohort, offset ≤ 3). The standard retention triangle
    // as exact integers; both joins run on pre-aggregated sides.
    q("q104_cohort_retention",
      """WITH w AS (SELECT user_id,
        |    epoch_ns(ts) // 604800000000000 AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, week FROM w)
        |SELECT cohort_week, CAST(week - cohort_week AS INTEGER) AS "offset",
        |  count(DISTINCT user_id) AS n_users
        |FROM a JOIN c USING (user_id)
        |WHERE week - cohort_week <= 3
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => Behavior.cohortRetention(Tables.events(s, d),
        maxOffset = 3)),

    // Label-conditioned centroids in quantized space
    // (Similarity.quantizedCentroids): fixed-grid codes
    // clamp(round(x·127)) summed per (label, dim) — the centroid as an
    // exact integer rational, hash-checkable where a float mean never is.
    // Components are cast to DOUBLE before the multiply on BOTH sides so
    // neither engine rounds in float32.
    q("q105_quantized_centroids",
      """WITH e AS (SELECT label, unnest(embedding) AS x,
        |    unnest(range(0, len(embedding))) AS pos FROM embeddings),
        |c AS (SELECT label, pos,
        |    CAST(least(greatest(round(CAST(x AS DOUBLE) * 127), -127), 127)
        |      AS BIGINT) AS code
        |  FROM e)
        |SELECT label, CAST(pos AS INTEGER) AS pos, count(*) AS n,
        |  CAST(sum(code) AS BIGINT) AS sum_code
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => Similarity.quantizedCentroids(Tables.embeddings(s, d),
        scale = 127)),

    // Trend smoothing (Behavior.rollingPeriodCounts): weekly order
    // counts with a trailing 4-week RANGE window — gaps in the week
    // sequence shorten the frame instead of being silently bridged
    // (the rows-frame bug). The window runs on the aggregated period
    // table; both engines integer-divide epoch millis.
    q("q106_rolling_orders",
      """WITH w AS (SELECT epoch_ms(o_orderdate) // 604800000 AS period
        |  FROM orders),
        |c AS (SELECT period, count(*) AS n FROM w GROUP BY 1)
        |SELECT period, n, CAST(sum(n) OVER (ORDER BY period
        |    RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS n_trail
        |FROM c ORDER BY period""".stripMargin)(
      (s, d) => Behavior.rollingPeriodCounts(Tables.orders(s, d),
        "o_orderdate", periodMs = 604800000L, trailing = 4)),

    // Migration gate (Profiling.tableChecksum): the order-insensitive
    // (n_rows, Σ row-digest) fingerprint of customer's stable columns —
    // equal multisets hash equal under ANY partitioning or engine, and
    // the oracle recomputing it in DuckDB is itself the cross-engine
    // migration check the operator exists for. The digest is fixed-width
    // per-column md5s (null ⇒ literal 'null'), so delimiter injection
    // and null-skipping cannot alias two different rows; the sum crosses
    // as a string (Spark DECIMAL(38,0) vs DuckDB HUGEINT render equal).
    q("q107_table_checksum",
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(('0x' || substr(md5(concat(
        |    coalesce(md5(CAST(c_custkey AS VARCHAR)), 'null'),
        |    coalesce(md5(c_name), 'null'),
        |    coalesce(md5(c_mktsegment), 'null'),
        |    coalesce(md5(CAST(c_nationkey AS VARCHAR)), 'null'))), 1, 8))
        |    AS BIGINT)) AS VARCHAR) AS checksum
        |FROM customer""".stripMargin)(
      (s, d) => Profiling.tableChecksum(Tables.customer(s, d),
          Seq("c_custkey", "c_name", "c_mktsegment", "c_nationkey"))
        .select(col("n_rows"), col("checksum").cast("string")
          .as("checksum"))),

    // Sweep line (Behavior.intervalConcurrency): orders modeled as
    // 30-day-open intervals; +1/−1 boundary deltas merge per instant,
    // the running sum is the in-flight count — the no-join concurrency
    // profile (a quadratic interval self-join never exists). Epoch-ms
    // integer boundaries on both engines.
    q("q108_order_concurrency",
      """WITH iv AS (SELECT epoch_ms(o_orderdate) AS s,
        |    epoch_ms(o_orderdate) + 2592000000 AS e FROM orders),
        |d AS (SELECT t, CAST(sum(d) AS BIGINT) AS delta FROM (
        |    SELECT s AS t, 1 AS d FROM iv
        |    UNION ALL SELECT e, -1 FROM iv)
        |  GROUP BY 1)
        |SELECT t, delta, CAST(sum(delta) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS n_open
        |FROM d ORDER BY t""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.expr
        val iv = Tables.orders(s, d).select(
          expr("unix_millis(cast(o_orderdate as timestamp))").as("s"),
          expr("unix_millis(cast(o_orderdate as timestamp)) + 2592000000")
            .as("e"))
        Behavior.intervalConcurrency(iv, "s", "e")
      }),

    // Session-flow matrix (Behavior.transitionCensus): corpus-wide
    // adjacent (from, to) event-type transitions per user, ordered by
    // (ts, event_id) so same-instant order is deterministic. One lag
    // window shuffle + a pair census — the Markov view of user flows.
    q("q109_transition_census",
      """WITH s AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type
        |  FROM events)
        |SELECT from_type, event_type AS to_type, count(*) AS n
        |FROM s WHERE from_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => Behavior.transitionCensus(Tables.events(s, d))),

    // Conversion latency (Behavior.conversionLatency): discrete rank
    // percentiles (⌈p·n⌉, the winsorize convention — ranked values,
    // never interpolated) of earliest-purchase minus earliest-view per
    // converting user. Quantized to µs on BOTH sides (DuckDB reads the
    // ns fixtures at µs TIMESTAMP precision; quantize-then-compare
    // keeps the conversion test identical too).
    q("q110_conversion_latency",
      """WITH f AS (SELECT user_id, min(epoch_us(ts)) AS t_from
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |t AS (SELECT user_id, min(epoch_us(ts)) AS t_to
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |l AS (SELECT f.user_id, t_to - t_from AS lat
        |  FROM f JOIN t USING (user_id) WHERE t_to > t_from),
        |r AS (SELECT user_id, lat,
        |    row_number() OVER (ORDER BY lat, user_id) AS rn,
        |    count(*) OVER () AS n
        |  FROM l)
        |SELECT count(*) AS n_converted,
        |  max(CASE WHEN rn = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
        |    THEN lat END) AS p50_us,
        |  max(CASE WHEN rn = greatest(CAST(ceil(0.9 * n) AS BIGINT), 1)
        |    THEN lat END) AS p90_us
        |FROM r""".stripMargin)(
      (s, d) => Behavior.conversionLatency(Tables.events(s, d),
        "view", "purchase", ps = Seq(0.5, 0.9), quantumNs = 1000L,
        unitSuffix = "us")),

    // Source curation, novelty view (Dedup.sourceNovelty): what each
    // source adds — distinct 3-gram shingles, first-contributed count
    // (attribution = min source name, order-deterministic), cumulative
    // novelty. The shared shingle construction is the q61/q68 SQL idiom.
    q("q111_source_novelty",
      s"""WITH toks AS (
        |  SELECT doc_id, source, list_filter(
        |    string_split_regex(text, '${Text.ws}'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (SELECT source, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' ')))) AS s FROM toks),
        |ss AS (SELECT DISTINCT source, s FROM sh),
        |nd AS (SELECT source, count(*) AS n_distinct FROM ss GROUP BY 1),
        |nn AS (SELECT source, count(*) AS n_new FROM (
        |    SELECT s, min(source) AS source FROM ss GROUP BY 1)
        |  GROUP BY 1)
        |SELECT nd.source, n_distinct,
        |  CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
        |  CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY nd.source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_new
        |FROM nd LEFT JOIN nn USING (source)
        |ORDER BY nd.source""".stripMargin)(
      (s, d) => Dedup.sourceNovelty(Tables.documents(s, d), n = 3)),

    // Source curation, overlap view (Dedup.sourceOverlap): the pairwise
    // shared-shingle matrix — which sources duplicate each other. The
    // self-join keys on the shingle (inverted-index shape).
    q("q112_source_overlap",
      s"""WITH toks AS (
        |  SELECT doc_id, source, list_filter(
        |    string_split_regex(text, '${Text.ws}'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (SELECT source, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' ')))) AS s FROM toks),
        |ss AS (SELECT DISTINCT source, s FROM sh)
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        |FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => Dedup.sourceOverlap(Tables.documents(s, d), n = 3)),

    // Batch sessionization (Behavior.sessionStats): gaps-and-islands —
    // session id = running count of ≥30min gap-breaks. Quantized to µs
    // on both sides (q110 rationale: identical gap comparisons AND
    // ordering). The oracle-checkable twin of the streaming
    // session_window, whose semantics StreamingSpec pins.
    q("q113_session_stats",
      """WITH q AS (SELECT user_id, event_id, epoch_us(ts) AS qts
        |  FROM events),
        |s AS (SELECT user_id, qts, event_id,
        |    CASE WHEN qts - lag(qts) OVER (PARTITION BY user_id
        |        ORDER BY qts, event_id) < 1800000000
        |      THEN 0 ELSE 1 END AS brk
        |  FROM q),
        |w AS (SELECT user_id, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY qts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM s),
        |g AS (SELECT user_id, sess, count(*) AS n FROM w GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(n) AS BIGINT) AS n_events, max(n) AS max_session_events
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Behavior.sessionStats(Tables.events(s, d),
        gapNs = 30L * 60 * 1000000000L, quantumNs = 1000L)),

    // Duplication-depth histogram (Dedup.dupGroupHistogram): groups per
    // exact-fingerprint group size — how deep duplication runs, in one
    // max-group-size-row table. Both sides inject a copy of every third
    // doc (new ids) so the histogram has real mass beyond size 1 at
    // every scale; the fp is the q21 normalization.
    q("q114_dup_group_histogram",
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents
        |  WHERE doc_id % 3 = 0),
        |fp AS (SELECT md5(regexp_replace(trim(lower(text)),
        |    '[ \t\n\r\f]+', ' ', 'g')) AS fp FROM aug),
        |g AS (SELECT fp, count(*) AS sz FROM fp GROUP BY 1)
        |SELECT sz, count(*) AS n_groups FROM g GROUP BY 1
        |ORDER BY sz""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val aug = docs.unionByName(
          docs.filter(col("doc_id") % 3 === 0)
            .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        Dedup.dupGroupHistogram(aug)
      }),

    // Embedding dedup endgame (Dedup.embeddingDedupCensus): exact cosine
    // pairs → connected components → keep-one-per-cluster census by
    // label — the vector mirror of q64's text near-dup prep, and the
    // curation view read before committing a semantic-dedup pass. The
    // proposer here is the oracle-exact brute-force scorer; at corpus
    // scale it swaps for embeddingNearDupsLsh + lshPlanAt(n) on the same
    // (id_a, id_b) edge contract (PLANS.md round-9 scaling table is the
    // evidence). Downstream of the pairs everything is ids-only. The
    // oracle replays the identical pipeline: exact pairs, recursive-CTE
    // closure, min-label representative, per-label census.
    q("q115_embedding_dedup",
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.emb, b.emb) > 0.4),
        |und AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL SELECT id_b, id_a FROM p),
        |reach(node, lbl) AS (
        |  SELECT vec_id, vec_id FROM e
        |  UNION
        |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.node),
        |cl AS (
        |  SELECT node AS vec_id, min(lbl) AS cluster_id
        |  FROM reach GROUP BY 1)
        |SELECT e.label, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN c.cluster_id = e.vec_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(count(*) - sum(CASE WHEN c.cluster_id = e.vec_id
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM e JOIN cl c ON e.vec_id = c.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Dedup.embeddingDedupCensus(Tables.embeddings(s, d),
        threshold = 0.4)),

    // Data-layout audit (Layout.zorderCensus): Morton z-value over
    // (l_partkey, l_suppkey), exact equi-depth ntile buckets, per-bucket
    // bounding boxes in BOTH dimensions — the evidence view for file-
    // skipping effectiveness before a Delta-style OPTIMIZE ZORDER rewrite
    // (the production write path is Layout.zorderPartitioned:
    // repartitionByRange + sortWithinPartitions, spec-tested). The bit-
    // interleave formula is GENERATED into both engines from the same
    // Scala code (Layout.zValueSql), so the plans cannot drift.
    q("q116_zorder_layout",
      s"""WITH z AS (
        |  SELECT l_partkey, l_suppkey, l_orderkey * 10 + l_linenumber AS tie,
        |    ${Layout.zValueSql("l_partkey", "l_suppkey", 16)} AS zval
        |  FROM lineitem),
        |b AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(ntile(16) OVER (ORDER BY zval, tie) AS BIGINT) AS bucket
        |  FROM z)
        |SELECT bucket, count(*) AS n,
        |  min(l_partkey) AS x_min, max(l_partkey) AS x_max,
        |  min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)(
      // shipped form is the SHARDED census (two-pass distributed rank —
      // bit-identical to the one-pass ntile window, which stays the
      // spec-level referee in LayoutSpec): the single-task global sort
      // measured 12.25× wall at 16× data, the sharded twin 1.77×
      (s, d) => Layout.zorderCensusSharded(
        Tables.lineitem(s, d)
          .withColumn("tie",
            col("l_orderkey") * 10 + col("l_linenumber")),
        xCol = "l_partkey", yCol = "l_suppkey", tieCol = "tie",
        buckets = 16, bits = 16)),

    // SCD type-2 dimension build (Cdc.scd2Build): the orders changelog for
    // a deterministic custkey slice becomes a versioned dimension — one
    // row per change with [valid_from, valid_to) validity and a current
    // flag. Interval bounds compare cross-engine as exact epoch
    // microseconds (unix_micros / epoch_us), open end as -1.
    q("q117_scd2_build",
      """WITH ch AS (SELECT * FROM orders WHERE o_custkey % 20 = 0),
        |v AS (
        |  SELECT o_custkey AS cust,
        |    CAST(row_number() OVER w AS BIGINT) AS version,
        |    o_orderkey AS order_key,
        |    epoch_us(o_orderdate) AS from_us,
        |    lead(epoch_us(o_orderdate)) OVER w AS to_us
        |  FROM ch
        |  WINDOW w AS (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey))
        |SELECT cust, version, order_key, from_us,
        |  COALESCE(to_us, -1) AS to_us,
        |  CAST(CASE WHEN to_us IS NULL THEN 1 ELSE 0 END AS INT)
        |    AS is_current
        |FROM v ORDER BY cust, version""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{coalesce, lit, unix_micros}
        Cdc.scd2Build(
            Tables.orders(s, d).filter(col("o_custkey") % 20 === 0),
            key = col("o_custkey"), ts = col("o_orderdate"),
            tiebreak = col("o_orderkey"))
          .select(col("o_custkey").as("cust"), col("version"),
            col("o_orderkey").as("order_key"),
            // parquet timestamps arrive as NTZ; the UTC session makes the
            // LTZ cast a wall-clock no-op, so unix_micros == epoch_us
            unix_micros(col("valid_from").cast("timestamp_ltz"))
              .as("from_us"),
            coalesce(unix_micros(col("valid_to").cast("timestamp_ltz")),
              lit(-1L)).as("to_us"),
            col("is_current"))
          .orderBy("cust", "version")
      }),

    // Asymmetric containment dedup (Dedup.containmentPairs): directed
    // pairs where ≥60% of A's 3-gram shingles occur in B — catches the
    // quoted-wholesale / wrapped-reprint duplicates whose union-dominated
    // Jaccard stays under any q22 threshold. Integer-exact decision
    // (n_inter*1000 >= 600*n_a), evidence columns instead of a rounded
    // ratio. The oracle-checked instance disarms the df cap
    // (maxDf=Long.MaxValue, the q64 pattern) because the DuckDB SQL is
    // uncapped and divides by the uncapped len(a.s) — the capped default
    // stays the documented scale path.
    q("q118_containment_pairs",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_inter,
        |    CAST(len(a.s) AS BIGINT) AS n_a
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
        |SELECT id_a, id_b, n_inter, n_a
        |FROM px WHERE n_inter > 0 AND n_inter * 1000 >= 600 * n_a
        |ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => Dedup.containmentPairs(Tables.documents(s, d), n = 3,
        minPermille = 600L, maxDf = Long.MaxValue)),

    // Split-leakage audit (Sampling.splitLeakage): content fingerprints
    // straddling the id-keyed train/val/test boundary — the pre-training
    // check that catches eval inflation from exact-dup leakage (remedy:
    // group-coherent split keyed on the fingerprint, the q86 pattern).
    // Same md5 split CASE as q56's oracle, same normText fingerprint as
    // q19's; `splits` is a sorted CSV string so the hash compare never
    // touches engine array rendering. Both sides inject a new-id copy of
    // every third doc (the q114 pattern): the fixture corpus is
    // duplicate-free, and an audit pinned only on its own silence would
    // be a weak oracle — the injected dups' id-keyed assignments DO
    // straddle, so the leaked set has real mass at every scale.
    q("q119_split_leakage",
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents
        |  WHERE doc_id % 3 = 0),
        |s AS (SELECT text, CASE
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |         AS INTEGER) % 1000 < 800 THEN 'train'
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |         AS INTEGER) % 1000 < 900 THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM aug),
        |f AS (SELECT md5(regexp_replace(trim(lower(text)),
        |    '[ \t\n\r\f]+', ' ', 'g')) AS fp, split FROM s)
        |SELECT fp, count(DISTINCT split) AS n_splits, count(*) AS n_docs,
        |  array_to_string(list_sort(list(DISTINCT split)), ',') AS splits
        |FROM f GROUP BY fp HAVING count(DISTINCT split) > 1
        |ORDER BY fp""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val aug = docs.unionByName(
          docs.filter(col("doc_id") % 3 === 0)
            .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        Sampling.splitLeakage(aug, idCol = "doc_id", textCol = "text",
          fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      }),

    // Char-class entropy (Text.charClassEntropy): the gibberish/blob
    // detector — five-class (lower/upper/digit/ws/other) Shannon entropy
    // as one codegen'd scan projection; identical five-term expression
    // shape both engines, quantized at 4 decimals (q79 precedent), with
    // per-term negation so a one-class document cannot emit IEEE -0.0.
    q("q120_char_entropy",
      """WITH c AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
        |k AS (SELECT doc_id, length(t) AS n,
        |    length(t) - length(regexp_replace(t, '[a-z]', '', 'g')) AS c1,
        |    length(t) - length(regexp_replace(t, '[A-Z]', '', 'g')) AS c2,
        |    length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS c3,
        |    length(t) - length(regexp_replace(t, '[ \t\n\r\f]', '', 'g'))
        |      AS c4,
        |    length(regexp_replace(t, '[a-zA-Z0-9 \t\n\r\f]', '', 'g')) AS c5
        |  FROM c)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_chars,
        |  CASE WHEN n > 0 THEN round(
        |    CASE WHEN c1 > 0 THEN -(c1/n)*ln(c1/n) ELSE 0.0 END +
        |    CASE WHEN c2 > 0 THEN -(c2/n)*ln(c2/n) ELSE 0.0 END +
        |    CASE WHEN c3 > 0 THEN -(c3/n)*ln(c3/n) ELSE 0.0 END +
        |    CASE WHEN c4 > 0 THEN -(c4/n)*ln(c4/n) ELSE 0.0 END +
        |    CASE WHEN c5 > 0 THEN -(c5/n)*ln(c5/n) ELSE 0.0 END, 4)
        |  ELSE 0.0 END AS class_entropy
        |FROM k ORDER BY doc_id""".stripMargin)(
      (s, d) => Text.charClassEntropy(Tables.documents(s, d))),

    // Per-group percent-rank (Profiling.groupPercentRank): document
    // length percentile WITHIN language — the cross-group quantile
    // transform for length-outlier curation. (rank−1)/(n−1) is an exact
    // integer rational, bit-identical on any engine; doc_id makes the
    // order total.
    q("q121_length_percentile",
      """SELECT lang, n_chars, doc_id,
        |  percent_rank() OVER (PARTITION BY lang
        |    ORDER BY n_chars, doc_id) AS pct
        |FROM documents ORDER BY lang, n_chars, doc_id""".stripMargin)(
      // shipped form is the SHARDED per-group rank (round 16): langs
      // are few, so a per-lang window partition is corpus-sized — the
      // same single-task wall as q116/q189, grouped flavor; the window
      // form stays the ProfilingSpec referee
      (s, d) => Profiling.groupPercentRankSharded(Tables.documents(s, d),
        groupCol = "lang", valueCol = "n_chars", tieCol = "doc_id")),

    // Source-drift census (Text.sourceDivergence): KL(source ‖ corpus)
    // over unigram distributions — ranks sources by distributional
    // distance before a mixing decision. The per-term log-ratio is
    // quantized to an integer (q79 pattern) so the cross-engine sum is
    // EXACT; the final value is one division of two exact integers.
    q("q122_source_divergence",
      """WITH toks AS (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0)) AS tok FROM documents),
        |bysrc AS (SELECT source, tok, count(*) AS c
        |  FROM toks GROUP BY 1, 2),
        |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s
        |  FROM bysrc GROUP BY 1),
        |gl AS (SELECT tok, CAST(sum(c) AS BIGINT) AS g
        |  FROM bysrc GROUP BY 1),
        |t AS (SELECT CAST(sum(g) AS BIGINT) AS n FROM gl),
        |lq AS (
        |  SELECT b.source, b.c, st.n_s,
        |    CAST(round(ln(CAST(b.c * t.n AS DOUBLE) /
        |      CAST(st.n_s * gl.g AS DOUBLE)) * 10000) AS BIGINT) AS lq
        |  FROM bysrc b
        |  JOIN gl ON b.tok = gl.tok
        |  JOIN st ON b.source = st.source
        |  CROSS JOIN t)
        |SELECT source, min(n_s) AS n_tokens,
        |  CAST(CAST(sum(c * lq) AS BIGINT) AS DOUBLE) /
        |    CAST(min(n_s) * 10000 AS DOUBLE) AS kl
        |FROM lq GROUP BY source ORDER BY source""".stripMargin)(
      (s, d) => Text.sourceDivergence(Tables.documents(s, d))),

    // The SHARDED z-order census (Layout.zorderCensusSharded): the same
    // artifact as q116 — same DuckDB ntile oracle, bit-identical output —
    // but the global-order ntile window is replaced by the two-pass
    // distributed rank (Layout.shardedRanks: range partition, per-partition
    // counts to the driver, broadcast base offsets) + the closed-form
    // NTILE bucket formula. q116 is the offline audit view; THIS is the
    // plan you run the census with at corpus scale, and DevScale measures
    // it side-by-side with q116's single-task sort at 1×/4×/16×.
    q("q123_sharded_zorder_census",
      s"""WITH z AS (
        |  SELECT l_partkey, l_suppkey, l_orderkey * 10 + l_linenumber AS tie,
        |    ${Layout.zValueSql("l_partkey", "l_suppkey", 16)} AS zval
        |  FROM lineitem),
        |b AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(ntile(16) OVER (ORDER BY zval, tie) AS BIGINT) AS bucket
        |  FROM z)
        |SELECT bucket, count(*) AS n,
        |  min(l_partkey) AS x_min, max(l_partkey) AS x_max,
        |  min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Layout.zorderCensusSharded(
        Tables.lineitem(s, d)
          .withColumn("tie",
            col("l_orderkey") * 10 + col("l_linenumber")),
        xCol = "l_partkey", yCol = "l_suppkey", tieCol = "tie",
        buckets = 16, bits = 16)),

    // Frequency-ranked vocabulary coverage (Text.vocabCoverage): top-V
    // corpus vocabulary (count desc, token asc — the deterministic cut a
    // tokenizer-training frequency threshold makes), then per-source OOV
    // token mass. V=20 against the fixture's 31-token universe so the OOV
    // side carries real mass; the rate is the exact rational of two
    // integer counts.
    q("q124_vocab_coverage",
      """WITH toks AS (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0)) AS tok FROM documents),
        |bysrc AS (SELECT source, tok, count(*) AS c
        |  FROM toks GROUP BY 1, 2),
        |vocab AS (SELECT tok FROM (
        |  SELECT tok, CAST(sum(c) AS BIGINT) AS g FROM bysrc GROUP BY 1
        |  ORDER BY g DESC, tok ASC LIMIT 20)),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens
        |  FROM bysrc GROUP BY 1),
        |oov AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_oov
        |  FROM bysrc b ANTI JOIN vocab v USING (tok) GROUP BY 1)
        |SELECT t.source, t.n_tokens,
        |  CAST(coalesce(o.n_oov, 0) AS BIGINT) AS n_oov,
        |  CAST(coalesce(o.n_oov, 0) AS DOUBLE) /
        |    CAST(t.n_tokens AS DOUBLE) AS oov_rate
        |FROM tot t LEFT JOIN oov o USING (source)
        |ORDER BY source""".stripMargin)(
      (s, d) => Text.vocabCoverage(Tables.documents(s, d), vocabSize = 20)),

    // Data-mixing planner (Sampling.mixturePlan): uniform target mixture
    // over the 20 sources at a 1M-token budget — per-source target
    // allocation, sampling rate, and epoch count, all integer/rational
    // exact. epochs > 1 = the repetition an undersized source pays to
    // hold its mixture weight.
    q("q125_mixture_plan",
      """WITH toks AS (
        |  SELECT source, len(list_filter(
        |    string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0)) AS nt FROM documents),
        |per AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens
        |  FROM toks GROUP BY 1),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tok_total,
        |  CAST(count(*) AS BIGINT) AS s FROM per)
        |SELECT source, n_tokens,
        |  n_tokens * 1000 // nullif(tok_total, 0) AS share_permille,
        |  CAST(1000000 AS BIGINT) // s AS target_tokens,
        |  CAST(CAST(1000000 AS BIGINT) // s AS DOUBLE) /
        |    CAST(n_tokens AS DOUBLE) AS rate,
        |  (CAST(1000000 AS BIGINT) // s + n_tokens - 1)
        |    // nullif(n_tokens, 0) AS epochs
        |FROM per CROSS JOIN t ORDER BY source""".stripMargin)(
      (s, d) => Sampling.mixturePlan(Tables.documents(s, d),
        budgetTokens = 1000000L)),

    // Contamination span coverage (Dedup.contaminationCoverage): the
    // fine-grained complement of q69 on the same deterministic 95/5
    // train/benchmark split — the fraction of each tainted doc's token
    // positions inside at least one benchmark 3-gram. Span positions are
    // 1-based in the oracle and 0-based in Spark; the covered-position
    // COUNT is shift-invariant, and only the count crosses the contract.
    q("q126_contamination_coverage",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |bkt AS (
        |  SELECT doc_id, t,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |         AS INTEGER) % 1000 AS bucket FROM toks),
        |b AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' ')))) AS item
        |  FROM bkt WHERE bucket >= 950),
        |c AS (SELECT doc_id, len(t) AS n_tokens,
        |    unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i,
        |    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
        |      i -> array_to_string(t[i:i+2], ' '))) AS item
        |  FROM bkt WHERE bucket < 950),
        |cov AS (SELECT doc_id, n_tokens,
        |    unnest(generate_series(i, i + 2)) AS p
        |  FROM c JOIN b USING (item))
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  count(DISTINCT p) AS n_covered,
        |  CAST(count(DISTINCT p) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    AS coverage
        |FROM cov GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bucket = Sampling.splitBucket(col("doc_id"))
        Dedup.contaminationCoverage(
          docs.filter(bucket < 950), docs.filter(bucket >= 950), n = 3)
      }),

    // BPE tokenizer-merge training (Text.bpeTrainMerges): 3 merge rounds
    // on the word-frequency census — pair census weighted by word count,
    // deterministic (wc desc, pair asc) top-1, merge applied via the
    // sentinel-wrapped replace that both engines execute identically
    // (left-to-right non-overlapping = BPE's greedy order). The oracle
    // chains the same three rounds as CTEs.
    q("q127_bpe_train",
      """WITH wcen AS (
        |  SELECT w, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      x -> length(x) > 0)) AS w FROM documents) GROUP BY 1),
        |w0 AS (SELECT array_to_string(list_transform(
        |    generate_series(1, length(w)), i -> '|' || w[i] || '|'), ' ')
        |    AS s, cnt FROM wcen),
        |p1 AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS wc FROM (
        |  SELECT cnt, unnest(list_transform(
        |    generate_series(1, len(string_split(s, ' ')) - 1),
        |    i -> string_split(s, ' ')[i] || ' ' || string_split(s, ' ')[i+1]))
        |    AS pair FROM w0) GROUP BY 1),
        |b1 AS (SELECT pair, wc FROM p1 ORDER BY wc DESC, pair ASC LIMIT 1),
        |w1 AS (SELECT replace(s, b1.pair, replace(b1.pair, '| |', '')) AS s,
        |  cnt FROM w0 CROSS JOIN b1),
        |p2 AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS wc FROM (
        |  SELECT cnt, unnest(list_transform(
        |    generate_series(1, len(string_split(s, ' ')) - 1),
        |    i -> string_split(s, ' ')[i] || ' ' || string_split(s, ' ')[i+1]))
        |    AS pair FROM w1) GROUP BY 1),
        |b2 AS (SELECT pair, wc FROM p2 ORDER BY wc DESC, pair ASC LIMIT 1),
        |w2 AS (SELECT replace(s, b2.pair, replace(b2.pair, '| |', '')) AS s,
        |  cnt FROM w1 CROSS JOIN b2),
        |p3 AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS wc FROM (
        |  SELECT cnt, unnest(list_transform(
        |    generate_series(1, len(string_split(s, ' ')) - 1),
        |    i -> string_split(s, ' ')[i] || ' ' || string_split(s, ' ')[i+1]))
        |    AS pair FROM w2) GROUP BY 1),
        |b3 AS (SELECT pair, wc FROM p3 ORDER BY wc DESC, pair ASC LIMIT 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS round, pair,
        |    replace(pair, '| |', '') AS merged, wc FROM b1
        |  UNION ALL SELECT CAST(2 AS BIGINT), pair,
        |    replace(pair, '| |', ''), wc FROM b2
        |  UNION ALL SELECT CAST(3 AS BIGINT), pair,
        |    replace(pair, '| |', ''), wc FROM b3)
        |ORDER BY round""".stripMargin)(
      (s, d) => Text.bpeTrainMerges(Tables.documents(s, d), rounds = 3)),

    // Token counts under the TRAINED tokenizer (Text.bpeSegmentCounts):
    // the q127 merges applied to the word census, each word's post-merge
    // symbol count joined back to the corpus tokens — segmentation work
    // is O(distinct words). The oracle re-runs the same three CTE rounds
    // carrying the word key.
    q("q128_bpe_segment",
      """WITH wcen AS (
        |  SELECT w, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      x -> length(x) > 0)) AS w FROM documents) GROUP BY 1),
        |w0 AS (SELECT w, array_to_string(list_transform(
        |    generate_series(1, length(w)), i -> '|' || w[i] || '|'), ' ')
        |    AS s, cnt FROM wcen),
        |p1 AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS wc FROM (
        |  SELECT cnt, unnest(list_transform(
        |    generate_series(1, len(string_split(s, ' ')) - 1),
        |    i -> string_split(s, ' ')[i] || ' ' || string_split(s, ' ')[i+1]))
        |    AS pair FROM w0) GROUP BY 1),
        |b1 AS (SELECT pair FROM p1 ORDER BY wc DESC, pair ASC LIMIT 1),
        |w1 AS (SELECT w, replace(s, b1.pair, replace(b1.pair, '| |', ''))
        |  AS s, cnt FROM w0 CROSS JOIN b1),
        |p2 AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS wc FROM (
        |  SELECT cnt, unnest(list_transform(
        |    generate_series(1, len(string_split(s, ' ')) - 1),
        |    i -> string_split(s, ' ')[i] || ' ' || string_split(s, ' ')[i+1]))
        |    AS pair FROM w1) GROUP BY 1),
        |b2 AS (SELECT pair FROM p2 ORDER BY wc DESC, pair ASC LIMIT 1),
        |w2 AS (SELECT w, replace(s, b2.pair, replace(b2.pair, '| |', ''))
        |  AS s, cnt FROM w1 CROSS JOIN b2),
        |p3 AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS wc FROM (
        |  SELECT cnt, unnest(list_transform(
        |    generate_series(1, len(string_split(s, ' ')) - 1),
        |    i -> string_split(s, ' ')[i] || ' ' || string_split(s, ' ')[i+1]))
        |    AS pair FROM w2) GROUP BY 1),
        |b3 AS (SELECT pair FROM p3 ORDER BY wc DESC, pair ASC LIMIT 1),
        |w3 AS (SELECT w, replace(s, b3.pair, replace(b3.pair, '| |', ''))
        |  AS s FROM w2 CROSS JOIN b3),
        |nsym AS (SELECT w, CAST(len(string_split(s, ' ')) AS BIGINT)
        |  AS n_syms FROM w3),
        |dt AS (SELECT doc_id, unnest(list_filter(
        |  string_split_regex(text, '[ \t\n\r\f]+'),
        |  x -> length(x) > 0)) AS w FROM documents)
        |SELECT doc_id, CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
        |FROM dt JOIN nsym USING (w)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin)(
      (s, d) => Text.bpeSegmentCounts(Tables.documents(s, d), rounds = 3)),

    // Exact global quantiles via the sharded rank (Profiling
    // .globalQuantilesSharded): percentile_disc semantics — the value at
    // rank ceil(p*n) of the (n_chars, doc_id) total order — with the
    // target ranks as pure integer arithmetic, no interpolation. The
    // oracle spells out the SAME rank formula over a row_number window
    // (single-task is fine at oracle scale; the Spark side is the
    // two-pass sharded plan the round-10 DevScale table prices).
    q("q129_sharded_quantiles",
      """WITH r AS (SELECT n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS rnk
        |  FROM documents),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |ps AS (SELECT CAST(unnest([500, 900, 990]) AS BIGINT) AS p_permille)
        |SELECT p_permille, n_chars
        |FROM ps CROSS JOIN t
        |JOIN r ON r.rnk = (t.n * ps.p_permille + 999) // 1000
        |ORDER BY p_permille""".stripMargin)(
      (s, d) => Profiling.globalQuantilesSharded(Tables.documents(s, d),
        valueCol = "n_chars", tieCol = "doc_id",
        permilles = Seq(500L, 900L, 990L))),

    // Keep-BEST exact dedup (Dedup.keepBestExact): the fixture corpus is
    // duplicate-free, so every 4th doc re-enters under id+1e6 as an
    // UPPERCASED copy with two trailing spaces — same normalized-text
    // fingerprint, longer raw text — and keep-best (score = raw length)
    // must select the copy while q21's keep-first would keep the
    // original. Pure argmax aggregate on Spark; the oracle's row_number
    // window is the same decision spelled slowly.
    q("q130_keep_best_dedup",
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) || '  '
        |  FROM documents WHERE doc_id % 4 = 0),
        |fp AS (SELECT doc_id,
        |    md5(regexp_replace(trim(lower(text)), '[ \t\n\r\f]+', ' ', 'g'))
        |      AS fp,
        |    CAST(length(text) AS BIGINT) AS score FROM aug),
        |r AS (SELECT fp, doc_id, score, row_number() OVER (
        |    PARTITION BY fp ORDER BY score DESC, doc_id ASC) AS rn FROM fp)
        |SELECT fp, doc_id, score FROM r WHERE rn = 1
        |ORDER BY fp""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{concat, length, lit, upper}
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val copies = docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(upper(col("text")), lit("  ")).as("text"))
        Dedup.keepBestExact(docs.unionByName(copies), length(col("text")))
      }),

    // Rolling distinct active users (Behavior.rollingActiveUsers): exact
    // DAU + 7-day WAU per observed epoch day via window-membership
    // explode on the (day, user) deduped frame — sliding DISTINCT cannot
    // be summed from daily partials, and this is the linear exact plan.
    q("q131_active_users",
      """WITH du AS (SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day,
        |    user_id FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
        |c AS (SELECT DISTINCT wend, user_id FROM (
        |  SELECT unnest(generate_series(day, day + 6)) AS wend, user_id
        |  FROM du)),
        |wa AS (SELECT wend, count(*) AS wau FROM c GROUP BY 1)
        |SELECT day, dau, wau FROM dau JOIN wa ON day = wend
        |ORDER BY day""".stripMargin)(
      (s, d) => Behavior.rollingActiveUsers(Tables.events(s, d),
        windowDays = 7)),

    // Quality-weighted sampling without replacement (Sampling
    // .weightedSample): Efraimidis–Spirakis A-Res keys ln(u)/w over the
    // 32-bit md5 uniform, top-5 per language weighted by n_chars — the
    // reproducible weighted corpus draw. Keys are q12-QUANTIZED before
    // ranking and output (r18): the raw-double form's "ln is
    // bit-identical" premise failed at sf0.001 (one ulp apart between
    // JVM and DuckDB libm — see the operator scaladoc); quantization
    // absorbs the wobble with 10¹²× headroom.
    q("q132_weighted_sample",
      """WITH s AS (SELECT lang, doc_id,
        |    CAST(round(
        |      ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |            AS BIGINT) + 1) / 4294967297.0)
        |        / CAST(n_chars AS DOUBLE) * 1e12) AS BIGINT) AS skey_q12
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT lang, doc_id, skey_q12, row_number() OVER (
        |    PARTITION BY lang ORDER BY skey_q12 DESC, doc_id ASC) AS rn
        |  FROM s)
        |SELECT lang, doc_id, skey_q12 FROM r WHERE rn <= 5
        |ORDER BY lang, doc_id""".stripMargin)(
      (s, d) => Sampling.weightedSample(Tables.documents(s, d),
        idCol = "doc_id", stratumCol = "lang", weight = col("n_chars"),
        k = 5)),

    // BM25 top-k retrieval (Text.bm25TopK): Lucene-form BM25 over a
    // 3-term query with one rare and two common terms; per-term scores
    // quantized to integer micro-units before the per-doc sum (q79
    // device) so the only float math is deterministic single values.
    // The oracle writes (1.2 + 1.0), not 2.2: the exact sum is a
    // round-to-even TIE between adjacent doubles, so both engines must
    // fold the same addition rather than parse the same literal.
    q("q133_bm25_topk",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |d AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM toks),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(dl) AS BIGINT) AS tok_total FROM d),
        |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
        |  WHERE term IN ('dup', 'vector', 'scan') GROUP BY 1, 2, 3),
        |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id, CAST(round(
        |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
        |              (CAST(df AS DOUBLE) + 0.5)) *
        |    (CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
        |    (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |      CAST(dl AS DOUBLE) /
        |      (CAST(tok_total AS DOUBLE) / CAST(n_docs AS DOUBLE)))) *
        |    1000000.0) AS BIGINT) AS q
        |  FROM tf JOIN dfr USING (term) CROSS JOIN st)
        |SELECT doc_id, CAST(sum(q) AS DOUBLE) / 1000000.0 AS score
        |FROM sc GROUP BY 1
        |ORDER BY sum(q) DESC, doc_id ASC LIMIT 10""".stripMargin)(
      (s, d) => Text.bm25TopK(Tables.documents(s, d),
        queryTerms = Seq("dup", "vector", "scan"), k = 10)),

    // In-domain LM quality scoring (Text.inDomainLmScore): the bigram LM
    // trains on the deterministic 5% md5 slice (the q69 split reused as
    // the curated seed) and scores the other 95% — CCNet's "does this
    // look like the reference corpus" filter. Unknown bigrams are counted
    // (coverage), not scored; lm_score is the q79 integer-quantized mean
    // log-prob over the covered slice.
    q("q134_indomain_lm",
      s"""WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '${Text.ws}'),
        |      x -> len(x) > 0) AS toks,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS INTEGER) % 1000 AS bucket
        |  FROM documents),
        |bg AS (SELECT doc_id, bucket,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> concat(toks[i], ' ', toks[i+1]))) AS bigram FROM t),
        |bgc AS (SELECT doc_id, bucket, bigram, count(*) AS c
        |  FROM bg GROUP BY 1, 2, 3),
        |model AS (SELECT bigram, CAST(sum(c) AS BIGINT) AS b12,
        |    split_part(bigram, ' ', 1) AS w1
        |  FROM bgc WHERE bucket >= 950 GROUP BY 1),
        |uni AS (SELECT w1, CAST(sum(b12) AS BIGINT) AS u1
        |  FROM model GROUP BY 1),
        |lq AS (SELECT bigram, CAST(round(ln(b12 / u1) * 10000) AS BIGINT)
        |    AS lq FROM model JOIN uni USING (w1)),
        |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams
        |  FROM bgc WHERE bucket < 950 GROUP BY 1),
        |cov AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_covered,
        |    CAST(CAST(sum(c * lq) AS BIGINT) AS DOUBLE) /
        |      CAST(CAST(sum(c) AS BIGINT) * 10000 AS DOUBLE) AS lm_score
        |  FROM bgc JOIN lq USING (bigram)
        |  WHERE bucket < 950 GROUP BY 1)
        |SELECT d.doc_id, coalesce(tot.n_bigrams, 0) AS n_bigrams,
        |  coalesce(cov.n_covered, 0) AS n_covered, cov.lm_score
        |FROM (SELECT doc_id FROM t WHERE bucket < 950) d
        |LEFT JOIN tot USING (doc_id) LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bucket = Sampling.splitBucket(col("doc_id"))
        Text.inDomainLmScore(
          docs.filter(bucket < 950), docs.filter(bucket >= 950))
      }),

    // Exact phrase search (Text.phraseSearch): consecutive-token match
    // with occurrence counts via positional 3-grams built AFTER the
    // explode (the q126 pushdown discipline). The oracle counts the same
    // positional grams; LIKE would miss token boundaries.
    q("q135_phrase_search",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS g FROM toks)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM g WHERE g = 'slow hash batch'
        |GROUP BY 1 ORDER BY doc_id""".stripMargin)(
      (s, d) => Text.phraseSearch(Tables.documents(s, d),
        phrase = Seq("slow", "hash", "batch"))),

    // Duplicated-span fraction (Text.dupSpanFraction): how much of each
    // document is text recycled ANYWHERE else in the corpus — per-doc
    // union of 5-gram spans whose gram has distinct-doc df >= 2. The
    // ExactSubstr-style dup census a dedup policy reads before choosing
    // aggressiveness; corpus-internal sibling of q126 on the shared
    // positional-gram construction.
    q("q136_dup_span_fraction",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |pg AS (SELECT doc_id,
        |    unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i,
        |    unnest(list_transform(generate_series(1, greatest(len(t) - 4, 0)),
        |      i -> array_to_string(t[i:i+4], ' '))) AS g FROM toks),
        |sh AS (SELECT g FROM (
        |  SELECT g, count(DISTINCT doc_id) AS df FROM pg GROUP BY 1)
        |  WHERE df >= 2),
        |cov AS (SELECT doc_id, count(DISTINCT p) AS ndp FROM (
        |  SELECT doc_id, unnest(generate_series(i, i + 4)) AS p
        |  FROM pg JOIN sh USING (g)) GROUP BY 1)
        |SELECT toks.doc_id, CAST(len(toks.t) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(cov.ndp, 0) AS BIGINT) AS n_dup_positions,
        |  CASE WHEN len(toks.t) > 0
        |       THEN CAST(coalesce(cov.ndp, 0) AS DOUBLE) /
        |            CAST(len(toks.t) AS DOUBLE) END AS dup_fraction
        |FROM toks LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => Text.dupSpanFraction(Tables.documents(s, d), n = 5)),

    // Diversity-capped sampling by semantic sign-bucket (Similarity
    // .signBucketCap): 2^8 orthant cells over the first 8 embedding
    // dims, at most 10 vectors kept per cell in md5 order — the
    // training-free SemDeDup-lite budget spreader. The bucket formula is
    // generated into both engines from the same bit weights.
    q("q137_diversity_cap",
      s"""WITH b AS (SELECT vec_id,
        |    CAST(${(1 to 8).map(i =>
              s"(CASE WHEN embedding[$i] >= 0 THEN ${1L << (i - 1)} ELSE 0 END)")
              .mkString(" + ")} AS BIGINT) AS bucket
        |  FROM embeddings),
        |r AS (SELECT bucket, vec_id, row_number() OVER (
        |    PARTITION BY bucket
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM b)
        |SELECT bucket, vec_id FROM r WHERE rn <= 10
        |ORDER BY bucket, vec_id""".stripMargin)(
      (s, d) => Similarity.signBucketCap(Tables.embeddings(s, d),
        bits = 8, k = 10)),

    // Pre-join cardinality audit (Profiling.joinCardinalityAudit):
    // exact predicted inner-join size and worst-key pair product for
    // orders⋈customer on custkey — the explosion/skew numbers read
    // BEFORE running a 100-TB join. Pure census arithmetic.
    q("q138_join_cardinality",
      """WITH la AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
        |ra AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1),
        |ls AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS l_rows,
        |  CAST(count(*) AS BIGINT) AS l_keys,
        |  CAST(coalesce(max(c), 0) AS BIGINT) AS l_max_mult FROM la),
        |ln AS (SELECT CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END)
        |  AS BIGINT) AS l_null_keys FROM orders),
        |rs AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS r_rows,
        |  CAST(count(*) AS BIGINT) AS r_keys,
        |  CAST(coalesce(max(c), 0) AS BIGINT) AS r_max_mult FROM ra),
        |rn AS (SELECT CAST(count(CASE WHEN c_custkey IS NULL THEN 1 END)
        |  AS BIGINT) AS r_null_keys FROM customer),
        |j AS (SELECT CAST(coalesce(sum(la.c * ra.c), 0) AS BIGINT)
        |    AS join_rows,
        |  CAST(coalesce(max(la.c * ra.c), 0) AS BIGINT) AS max_key_pairs
        |  FROM la JOIN ra USING (k))
        |SELECT * FROM ls CROSS JOIN ln CROSS JOIN rs CROSS JOIN rn
        |CROSS JOIN j""".stripMargin)(
      (s, d) => Profiling.joinCardinalityAudit(
        Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey")),

    // Robust MAD outlier census (Profiling.groupMadOutliers): per-lang
    // discrete median, median absolute deviation, and |x−med| > 3·mad
    // outlier count over n_chars — every comparison integer-exact, the
    // heavy-tail-safe complement to q93's winsorized clipping.
    q("q139_mad_outliers",
      """WITH b AS (SELECT lang, CAST(n_chars AS BIGINT) AS v, doc_id
        |  FROM documents),
        |r1 AS (SELECT lang, v, doc_id, row_number() OVER (
        |    PARTITION BY lang ORDER BY v, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n FROM b),
        |med AS (SELECT lang,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS BIGINT)
        |    AS med,
        |  CAST(count(*) AS BIGINT) AS n FROM r1 GROUP BY 1),
        |dev AS (SELECT b.lang, abs(b.v - med.med) AS d, b.doc_id,
        |  med.n, med.med FROM b JOIN med USING (lang)),
        |r2 AS (SELECT lang, d, row_number() OVER (
        |    PARTITION BY lang ORDER BY d, doc_id) AS rn, n FROM dev),
        |mad AS (SELECT lang,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN d END) AS BIGINT)
        |    AS mad FROM r2 GROUP BY 1)
        |SELECT dev.lang, dev.n, dev.med, mad.mad,
        |  CAST(count(CASE WHEN dev.d > 3 * mad.mad THEN 1 END) AS BIGINT)
        |    AS n_outliers
        |FROM dev JOIN mad USING (lang)
        |GROUP BY 1, 2, 3, 4 ORDER BY lang""".stripMargin)(
      (s, d) => Profiling.groupMadOutliers(Tables.documents(s, d),
        groupCol = "lang", valueCol = "n_chars", tieCol = "doc_id",
        k = 3L)),

    // One-row corpus datasheet (Text.corpusDatasheet): the dataset-card
    // header — totals, diversity, exact-dup mass (count + integer
    // per-mille), mean doc length as an exact rational.
    q("q140_corpus_datasheet",
      """WITH b AS (SELECT lang, source,
        |    CAST(len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      w -> length(w) > 0)) AS BIGINT) AS nt,
        |    md5(regexp_replace(trim(lower(text)), '[ \t\n\r\f]+', ' ', 'g'))
        |      AS fp FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups,
        |  (count(*) - count(DISTINCT fp)) * 1000 // count(*)
        |    AS dup_permille,
        |  CAST(sum(nt) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mean_doc_tokens
        |FROM b""".stripMargin)(
      (s, d) => Text.corpusDatasheet(Tables.documents(s, d))),

    // The curation funnel (Pipeline.curationFunnel): per-stage surviving
    // doc/token mass through raw → keep-best dedup → recycled-text gate.
    // The q130 dup injection gives the dedup stage real mass (the fixture
    // is duplicate-free); the span gate trips naturally (47 of 500 docs
    // at sf0.01 exceed 50% recycled coverage). Pure composition of
    // oracle-verified stages; every number an exact count/sum.
    q("q141_curation_funnel",
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) || '  '
        |  FROM documents WHERE doc_id % 4 = 0),
        |fp AS (SELECT doc_id, text,
        |    md5(regexp_replace(trim(lower(text)), '[ \t\n\r\f]+', ' ', 'g'))
        |      AS fp,
        |    CAST(length(text) AS BIGINT) AS score FROM aug),
        |rk AS (SELECT doc_id, row_number() OVER (
        |    PARTITION BY fp ORDER BY score DESC, doc_id ASC) AS rn FROM fp),
        |ded AS (SELECT f.doc_id, f.text FROM fp f
        |  JOIN (SELECT doc_id FROM rk WHERE rn = 1) k USING (doc_id)),
        |toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM ded),
        |pg AS (SELECT doc_id,
        |    unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i,
        |    unnest(list_transform(generate_series(1, greatest(len(t) - 4, 0)),
        |      i -> array_to_string(t[i:i+4], ' '))) AS g FROM toks),
        |sh AS (SELECT g FROM (
        |  SELECT g, count(DISTINCT doc_id) AS df FROM pg GROUP BY 1)
        |  WHERE df >= 2),
        |cov AS (SELECT doc_id, count(DISTINCT p) AS ndp FROM (
        |  SELECT doc_id, unnest(generate_series(i, i + 4)) AS p
        |  FROM pg JOIN sh USING (g)) GROUP BY 1),
        |clean AS (SELECT toks.doc_id FROM toks LEFT JOIN cov USING (doc_id)
        |  WHERE coalesce(cov.ndp, 0) * 2 <= len(toks.t)),
        |ts AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS nt FROM toks)
        |SELECT '1_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0))) AS BIGINT) AS n_tokens FROM aug
        |UNION ALL
        |SELECT '2_dedup', CAST(count(*) AS BIGINT),
        |  CAST(sum(nt) AS BIGINT) FROM ts
        |UNION ALL
        |SELECT '3_spanclean', CAST(count(*) AS BIGINT),
        |  CAST(sum(nt) AS BIGINT) FROM ts JOIN clean USING (doc_id)
        |ORDER BY stage""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{concat, lit, upper}
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val copies = docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(upper(col("text")), lit("  ")).as("text"))
        Pipeline.curationFunnel(docs.unionByName(copies), n = 5)
      }),

    // The funnel attributed per source (Pipeline.curationFunnelBySource):
    // which sources lose the most mass at each gate — the acquisition
    // report behind the q141 totals. Same injected corpus with the
    // source column carried through.
    q("q142_source_funnel",
      """WITH aug AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) || '  ', source
        |  FROM documents WHERE doc_id % 4 = 0),
        |fp AS (SELECT doc_id, text, source,
        |    md5(regexp_replace(trim(lower(text)), '[ \t\n\r\f]+', ' ', 'g'))
        |      AS fp,
        |    CAST(length(text) AS BIGINT) AS score FROM aug),
        |rk AS (SELECT doc_id, row_number() OVER (
        |    PARTITION BY fp ORDER BY score DESC, doc_id ASC) AS rn FROM fp),
        |ded AS (SELECT f.doc_id, f.text, f.source FROM fp f
        |  JOIN (SELECT doc_id FROM rk WHERE rn = 1) k USING (doc_id)),
        |toks AS (SELECT doc_id, source,
        |  list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM ded),
        |pg AS (SELECT doc_id,
        |    unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i,
        |    unnest(list_transform(generate_series(1, greatest(len(t) - 4, 0)),
        |      i -> array_to_string(t[i:i+4], ' '))) AS g FROM toks),
        |sh AS (SELECT g FROM (
        |  SELECT g, count(DISTINCT doc_id) AS df FROM pg GROUP BY 1)
        |  WHERE df >= 2),
        |cov AS (SELECT doc_id, count(DISTINCT p) AS ndp FROM (
        |  SELECT doc_id, unnest(generate_series(i, i + 4)) AS p
        |  FROM pg JOIN sh USING (g)) GROUP BY 1),
        |clean AS (SELECT toks.doc_id FROM toks LEFT JOIN cov USING (doc_id)
        |  WHERE coalesce(cov.ndp, 0) * 2 <= len(toks.t)),
        |raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw
        |  FROM aug GROUP BY 1),
        |d2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_dedup
        |  FROM ded GROUP BY 1),
        |cl AS (SELECT source, CAST(count(*) AS BIGINT) AS n_clean
        |  FROM ded JOIN clean USING (doc_id) GROUP BY 1)
        |SELECT raw.source, raw.n_raw,
        |  CAST(coalesce(d2.n_dedup, 0) AS BIGINT) AS n_dedup,
        |  CAST(coalesce(cl.n_clean, 0) AS BIGINT) AS n_clean
        |FROM raw LEFT JOIN d2 USING (source) LEFT JOIN cl USING (source)
        |ORDER BY source""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{concat, lit, upper}
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("source"))
        val copies = docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(upper(col("text")), lit("  ")).as("text"), col("source"))
        Pipeline.curationFunnelBySource(docs.unionByName(copies), n = 5)
      }),

    // Interval×interval overlap join (Joins.intervalOverlapJoin): all
    // pairs of high-value orders whose 30-day active windows overlap,
    // with the overlap region. The binned equi-join + responsibility-bin
    // emit replaces the raw inequality join's nested loop; the oracle IS
    // that raw theta join, so the dedup-free binning is proven identical.
    // Self-join orientation collapsed to unordered pairs by id_a < id_b.
    q("q143_interval_overlap",
      """WITH iv AS (SELECT o_orderkey AS id,
        |    epoch_ms(o_orderdate) AS s,
        |    epoch_ms(o_orderdate) + 2592000000 AS e
        |  FROM orders WHERE o_totalprice > 495000)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  greatest(a.s, b.s) AS ov_start, least(a.e, b.e) AS ov_end
        |FROM iv a JOIN iv b
        |  ON a.id < b.id AND a.s < b.e AND b.s < a.e
        |ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.expr
        val iv = Tables.orders(s, d)
          .filter(col("o_totalprice") > 495000)
          .select(col("o_orderkey").as("id"),
            expr("unix_millis(cast(o_orderdate as timestamp))").as("s"),
            expr("unix_millis(cast(o_orderdate as timestamp)) + 2592000000")
              .as("e"))
        Joins.intervalOverlapJoin(iv, iv, "id", "id", "s", "e",
            binWidth = 2592000000L, maxIntervalWidth = 2592000000L)
          .filter(col("id_a") < col("id_b"))
          .orderBy("id_a", "id_b")
      }),

    // Exponentially-decayed daily order counts
    // (Behavior.decayedPeriodCounts): trailing half-life-one trend
    // signal; all weights dyadic (1 << gap), so the float sum is EXACT in
    // any order and the hash compare has no rounding to hide behind.
    // The oracle mirrors the bounded self-join on the aggregated period
    // table — 2^gap via integer shift, never pow().
    q("q145_decayed_counts",
      """WITH p AS (SELECT epoch_ms(o_orderdate) // 86400000 AS period
        |  FROM orders),
        |c AS (SELECT period, count(*) AS n FROM p GROUP BY 1)
        |SELECT a.period, CAST(a.n AS BIGINT) AS n,
        |  sum(CAST(b.n AS DOUBLE) /
        |    CAST(1 << CAST(a.period - b.period AS INTEGER) AS DOUBLE))
        |    AS decayed_n
        |FROM c a JOIN c b
        |  ON b.period <= a.period AND b.period > a.period - 8
        |GROUP BY 1, 2 ORDER BY a.period""".stripMargin)(
      (s, d) => Behavior.decayedPeriodCounts(Tables.orders(s, d),
        "o_orderdate", periodMs = 86400000L, window = 8)),

    // Seasonal anomaly flags (Behavior.seasonalAnomalies): daily order
    // counts vs their day-of-week population mean/variance, decided
    // integer-exactly with cleared denominators — (m·x−S)² > k²(m·Q−S²)
    // — in DECIMAL so the squares can't wrap at cluster-scale counts.
    // DuckDB's integer ops promote to HUGEINT, so both sides are exact.
    q("q146_dow_anomaly",
      """WITH p AS (SELECT epoch_ms(o_orderdate) // 86400000 AS period
        |  FROM orders),
        |c AS (SELECT period, period % 7 AS season, count(*) AS n
        |  FROM p GROUP BY 1, 2),
        |st AS (SELECT season, count(*) AS m, sum(n) AS s,
        |    sum(n * n) AS q FROM c GROUP BY 1)
        |SELECT c.period, CAST(c.season AS BIGINT) AS season,
        |  CAST(c.n AS BIGINT) AS n,
        |  (c.n * st.m - st.s) * (c.n * st.m - st.s)
        |    > 4 * (st.m * st.q - st.s * st.s) AS is_anomaly
        |FROM c JOIN st USING (season)
        |ORDER BY c.period""".stripMargin)(
      (s, d) => Behavior.seasonalAnomalies(Tables.orders(s, d),
        "o_orderdate", periodMs = 86400000L, seasonLen = 7, k = 2L)),

    // DSIR importance weights (Text.dsirWeights): unigram log-likelihood
    // ratio between the 5% md5-slice target LM (the q134 seed) and the
    // background LM trained on the scored 95% itself. Positive = looks
    // more in-domain than average. Same integer-quantized-log exact-sum
    // device as q134; the ratio terms exist only where BOTH models cover
    // the word.
    q("q144_dsir_weights",
      s"""WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '${Text.ws}'),
        |      x -> len(x) > 0) AS toks,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS INTEGER) % 1000 AS bucket
        |  FROM documents),
        |wz AS (SELECT doc_id, bucket, unnest(toks) AS w FROM t),
        |wc AS (SELECT doc_id, bucket, w, count(*) AS c
        |  FROM wz GROUP BY 1, 2, 3),
        |tm AS (SELECT w, CAST(sum(c) AS BIGINT) AS c FROM wc
        |  WHERE bucket >= 950 GROUP BY 1),
        |tn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tm),
        |lqt AS (SELECT w, CAST(round(ln(CAST(tm.c AS DOUBLE) / tn.n)
        |    * 10000) AS BIGINT) AS lq_t FROM tm CROSS JOIN tn),
        |bm AS (SELECT w, CAST(sum(c) AS BIGINT) AS c FROM wc
        |  WHERE bucket < 950 GROUP BY 1),
        |bn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bm),
        |lqb AS (SELECT w, CAST(round(ln(CAST(bm.c AS DOUBLE) / bn.n)
        |    * 10000) AS BIGINT) AS lq_b FROM bm CROSS JOIN bn),
        |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens
        |  FROM wc WHERE bucket < 950 GROUP BY 1),
        |cov AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_covered,
        |    CAST(CAST(sum(c * (lq_t - lq_b)) AS BIGINT) AS DOUBLE) /
        |      CAST(CAST(sum(c) AS BIGINT) * 10000 AS DOUBLE) AS dsir_w
        |  FROM wc JOIN lqt USING (w) JOIN lqb USING (w)
        |  WHERE bucket < 950 GROUP BY 1)
        |SELECT d.doc_id, coalesce(tot.n_tokens, 0) AS n_tokens,
        |  coalesce(cov.n_covered, 0) AS n_covered, cov.dsir_w
        |FROM (SELECT doc_id FROM t WHERE bucket < 950) d
        |LEFT JOIN tot USING (doc_id) LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bucket = Sampling.splitBucket(col("doc_id"))
        Text.dsirWeights(
          docs.filter(bucket < 950), docs.filter(bucket >= 950))
      }),

    // Per-source vocabulary health (Text.zipfCensus): token/type mass,
    // integer TTR, and the Zipf slope over the top-50 terms quantized at
    // 1e-6 — the one-number distributional check per source.
    q("q147_zipf_census",
      s"""WITH wz AS (SELECT source,
        |    unnest(list_filter(string_split_regex(text, '${Text.ws}'),
        |      x -> len(x) > 0)) AS w FROM documents),
        |c AS (SELECT source, w, count(*) AS c FROM wz GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types FROM c GROUP BY 1),
        |r AS (SELECT source, c, row_number() OVER (
        |    PARTITION BY source ORDER BY c DESC, w ASC) AS rnk FROM c),
        |s AS (SELECT source, CAST(round(regr_slope(
        |      ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE)))
        |    * 1000000) AS BIGINT) AS zipf_slope_q6
        |  FROM r WHERE rnk <= 50 GROUP BY 1)
        |SELECT t.source, t.n_tokens, t.n_types,
        |  t.n_types * 1000 // t.n_tokens AS ttr_permille, s.zipf_slope_q6
        |FROM t JOIN s USING (source) ORDER BY source""".stripMargin)(
      (s, d) => Text.zipfCensus(Tables.documents(s, d), topK = 50)),

    // Curriculum interleave (Sampling.curriculumInterleave): global
    // best-first round-robin training order with a CLOSED-FORM global
    // position (rank×size census + live-predecessor broadcast join) —
    // the oracle's global row_number window IS the single-task plan the
    // operator exists to avoid, which makes it the perfect referee.
    q("q148_curriculum_order",
      s"""WITH q AS (SELECT doc_id, source,
        |    len(list_filter(string_split_regex(text, '${Text.ws}'),
        |      w -> len(w) > 0 AND w IN ('the','a','an','of','and','to',
        |        'in','is','it','for'))) * 1000
        |      // len(list_filter(string_split_regex(text, '${Text.ws}'),
        |        w -> len(w) > 0)) AS score
        |  FROM documents
        |  WHERE len(list_filter(string_split_regex(text, '${Text.ws}'),
        |    w -> len(w) > 0)) > 0),
        |r AS (SELECT doc_id, source, score, row_number() OVER (
        |    PARTITION BY source ORDER BY score DESC, doc_id)
        |    AS rank_in_stratum FROM q)
        |SELECT doc_id, source, CAST(score AS BIGINT) AS score,
        |  CAST(rank_in_stratum AS BIGINT) AS rank_in_stratum,
        |  row_number() OVER (ORDER BY rank_in_stratum, source)
        |    AS global_pos
        |FROM r ORDER BY global_pos""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{expr, size}
        val stopwords = Seq("the", "a", "an", "of", "and", "to", "in",
          "is", "it", "for")
        val toks = Text.tokens(col("text"))
        val stops = org.apache.spark.sql.functions.filter(toks,
          w => w.isInCollection(stopwords))
        Sampling.curriculumInterleave(
          Tables.documents(s, d).select(col("doc_id"), col("source"),
              size(stops).cast("long").as("__ns"),
              size(toks).cast("long").as("__nt"))
            // zero-token docs have no stop-ratio: exclude them rather
            // than divide by zero (mirrored in the oracle's WHERE)
            .where(col("__nt") > 0L)
            .select(col("doc_id"), col("source"),
              expr("__ns * 1000L div __nt").as("score")),
          "doc_id", "source", "score")
      }),

    // 2-D Pareto frontier (Profiling.paretoFrontier): the documents no
    // other beats on BOTH stop-ratio (maximize) and length (minimize) —
    // the data-dependent "best trade-offs" set a top-k can't express.
    // The oracle is the quadratic NOT-EXISTS the running-extreme windows
    // replace.
    q("q149_pareto_frontier",
      s"""WITH q AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '${Text.ws}'),
        |      w -> len(w) > 0 AND w IN ('the','a','an','of','and','to',
        |        'in','is','it','for'))) * 1000
        |      // len(list_filter(string_split_regex(text, '${Text.ws}'),
        |        w -> len(w) > 0)) AS score,
        |    CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents
        |  WHERE len(list_filter(string_split_regex(text, '${Text.ws}'),
        |    w -> len(w) > 0)) > 0)
        |SELECT a.doc_id, CAST(a.score AS BIGINT) AS score, a.n_chars
        |FROM q a
        |WHERE NOT EXISTS (SELECT 1 FROM q b
        |  WHERE b.score >= a.score AND b.n_chars <= a.n_chars
        |    AND (b.score > a.score OR b.n_chars < a.n_chars))
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{expr, size}
        val stopwords = Seq("the", "a", "an", "of", "and", "to", "in",
          "is", "it", "for")
        val toks = Text.tokens(col("text"))
        val stops = org.apache.spark.sql.functions.filter(toks,
          w => w.isInCollection(stopwords))
        // shipped form is the SHARDED skyline (local-then-global pass,
        // bit-identical — the q116→q123 discipline applied here in
        // round 16; the one-pass global-window form stays the
        // ProfilingSpec referee and q160 keeps measuring the pair)
        Profiling.paretoFrontierSharded(
          Tables.documents(s, d).select(col("doc_id"),
              size(stops).cast("long").as("__ns"),
              size(toks).cast("long").as("__nt"), col("n_chars"))
            .where(col("__nt") > 0L)
            .select(col("doc_id"),
              expr("__ns * 1000L div __nt").as("score"), col("n_chars")),
          "doc_id", "score", "n_chars")
      }),

    // Data-constrained epoch waterfill (Sampling.epochPlan): 100k-token
    // budget, ≤4 epochs per source; small sources saturate their cap and
    // the remainder waterfills to the big ones — prefix-sum saturation
    // test and integer-division share, all BIGINT.
    q("q150_epoch_plan",
      s"""WITH c AS (SELECT source,
        |    CAST(sum(len(list_filter(string_split_regex(text,
        |      '${Text.ws}'), w -> len(w) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |k AS (SELECT source, n_tokens, n_tokens * 4 AS cap_tokens FROM c),
        |o AS (SELECT source, n_tokens, cap_tokens,
        |    row_number() OVER (ORDER BY cap_tokens, source) AS i,
        |    sum(cap_tokens) OVER (ORDER BY cap_tokens, source
        |      ROWS UNBOUNDED PRECEDING) AS pk,
        |    count(*) OVER () AS n FROM k),
        |f AS (SELECT *, cap_tokens * (n - i + 1) + pk - cap_tokens
        |    <= 100000 AS is_full FROM o),
        |a AS (SELECT coalesce(sum(CASE WHEN is_full THEN cap_tokens END), 0)
        |    AS sum_full,
        |  coalesce(sum(CASE WHEN is_full THEN 1 END), 0) AS n_full,
        |  max(n) AS n FROM f),
        |al AS (SELECT f.source, f.n_tokens, f.cap_tokens,
        |    CASE WHEN f.is_full THEN f.cap_tokens
        |      ELSE least(f.cap_tokens,
        |        (100000 - a.sum_full) // (a.n - a.n_full)) END AS alloc
        |  FROM f CROSS JOIN a)
        |SELECT source, n_tokens, CAST(cap_tokens AS BIGINT) AS cap_tokens,
        |  CAST(alloc AS BIGINT) AS alloc_tokens,
        |  CAST(alloc * 1000 // nullif(n_tokens, 0) AS BIGINT)
        |    AS epochs_permille
        |FROM al ORDER BY source""".stripMargin)(
      (s, d) => Sampling.epochPlan(Tables.documents(s, d),
        budgetTokens = 100000L, maxEpochs = 4L)),

    // GROUPING SETS (beyond q35 rollup / q52 cube): the explicit
    // marginal set {(nation, yr), (nation), (yr), ()} over the
    // orders→customer→nation roll-up, revenue in exact cents.
    q("q151_grouping_sets",
      """SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER)
        |    AS yr,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY GROUPING SETS ((nation, yr), (nation), (yr), ())
        |ORDER BY nation NULLS FIRST, yr NULLS FIRST""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{broadcast, count, lit,
          round, sum, year}
        val base = Tables.orders(s, d)
          .join(Tables.customer(s, d),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"),
            year(col("o_orderdate")).as("yr"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
        base.groupingSets(
            Seq(Seq(col("nation"), col("yr")), Seq(col("nation")),
              Seq(col("yr")), Seq()),
            col("nation"), col("yr"))
          .agg(count(lit(1)).as("cnt"), sum("cents").as("revenue_cents"))
          .orderBy("nation", "yr") // Spark asc = NULLS FIRST
      }),

    // Leakage-proof split (Sampling.clusterCoherentSplit): the split key
    // is the q61 Jaccard-cluster representative run through the q56 md5
    // bucketing — near-dups can never straddle train/val/test (q119
    // audits the failure; this op removes it). Uncapped df like q61's
    // oracle (the q64 pattern).
    q("q152_cluster_split",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM px
        |  WHERE inter / (sza + szb - inter) >= 0.2),
        |und AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.node),
        |cl AS (SELECT node AS doc_id, min(lbl) AS cluster_id
        |  FROM reach GROUP BY 1)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),
        |      1, 4)) AS INTEGER) % 1000 < 800 THEN 'train'
        |    WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),
        |      1, 4)) AS INTEGER) % 1000 < 900 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM cl ORDER BY doc_id""".stripMargin)(
      (s, d) => Sampling.clusterCoherentSplit(Tables.documents(s, d),
        n = 3, threshold = 0.2, maxDf = Long.MaxValue)),

    // Histogram-sketch quantiles WITH their own error audit
    // (Profiling.sketchQuantiles vs globalQuantilesSharded): the
    // mergeable one-partial-agg estimate next to the exact rank answer,
    // err = est − exact — the sketch ships with its accuracy measured,
    // not assumed. All integer arithmetic (HUGEINT/decimal products).
    q("q153_sketch_quantiles",
      """WITH v AS (SELECT CAST(n_chars AS BIGINT) AS v, doc_id
        |  FROM documents),
        |st AS (SELECT min(v) AS mn, max(v) AS mx, count(*) AS n FROM v),
        |b AS (SELECT CAST(CAST(v - mn AS HUGEINT) * 64 // (mx - mn + 1)
        |    AS BIGINT) AS bin FROM v CROSS JOIN st),
        |c AS (SELECT bin, count(*) AS c FROM b GROUP BY 1),
        |cum AS (SELECT bin, sum(c) OVER (ORDER BY bin
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM c),
        |t AS (SELECT unnest([250, 500, 750, 900, 990]) AS p_permille),
        |est AS (SELECT p_permille,
        |    CAST(mn + CAST(min(bin) + 1 AS HUGEINT) * (mx - mn + 1) // 64
        |      - 1 AS BIGINT) AS est
        |  FROM cum CROSS JOIN st CROSS JOIN t
        |  WHERE cum * 1000 >= p_permille * n
        |  GROUP BY p_permille, mn, mx),
        |r AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rnk,
        |    count(*) OVER () AS n FROM v),
        |ex AS (SELECT t.p_permille, r.v AS exact FROM r JOIN t
        |  ON r.rnk = (r.n * t.p_permille + 999) // 1000)
        |SELECT CAST(est.p_permille AS BIGINT) AS p_permille, est.est,
        |  ex.exact, est.est - ex.exact AS err
        |FROM est JOIN ex USING (p_permille)
        |ORDER BY p_permille""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val ps = Seq(250L, 500L, 750L, 900L, 990L)
        val est = Profiling.sketchQuantiles(docs, "n_chars", bins = 64,
          permilles = ps)
        val exact = Profiling.globalQuantilesSharded(
            docs.select(col("n_chars"), col("doc_id")),
            "n_chars", "doc_id", permilles = ps)
          .select(col("p_permille"), col("n_chars").as("exact"))
        est.join(exact, "p_permille")
          .select(col("p_permille"), col("est"), col("exact"),
            (col("est") - col("exact")).as("err"))
          .orderBy("p_permille")
      }),

    // Hybrid retrieval fusion (Similarity.rrfFuse): BM25 top-20 (q133's
    // lexical leg) ⊕ cosine top-20 for query vector 0 (q26's vector leg)
    // under integer reciprocal-rank fusion — 10⁹ div (60+rank) per list,
    // exact sum, so the fused ORDER is engine-portable. doc_id ≡ vec_id
    // is the fixture's 1:1 synthetic mapping (the q74 convention).
    q("q154_hybrid_rrf",
      s"""WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '${Text.ws}'),
        |      x -> len(x) > 0) AS t FROM documents),
        |tf AS (SELECT doc_id, unnest(t) AS term, len(t) AS dl FROM toks),
        |tfc AS (SELECT doc_id, term, count(*) AS f, max(dl) AS dl
        |  FROM tf WHERE term IN ('dup', 'vector', 'scan') GROUP BY 1, 2),
        |dfr AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs,
        |    CAST(sum(len(t)) AS BIGINT) AS tok_total FROM toks),
        |sc AS (SELECT doc_id,
        |    CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
        |      (CAST(f AS DOUBLE) * 2.2) /
        |      (CAST(f AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |        CAST(dl AS DOUBLE) /
        |        (CAST(tok_total AS DOUBLE) / CAST(n_docs AS DOUBLE)))) *
        |      1000000.0) AS BIGINT) AS q
        |  FROM tfc JOIN dfr USING (term) CROSS JOIN st),
        |bm AS (SELECT doc_id AS id, rnk AS rank FROM (
        |  SELECT doc_id, row_number() OVER (ORDER BY sum(q) DESC,
        |    doc_id ASC) AS rnk FROM sc GROUP BY doc_id) WHERE rnk <= 20),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings
        |  WHERE list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    CAST(embedding AS DOUBLE[])) > 0),
        |kn AS (SELECT id, rank FROM (
        |  SELECT c.vec_id AS id, row_number() OVER (
        |      ORDER BY list_cosine_similarity(q.emb, c.emb) DESC,
        |        c.vec_id) AS rank
        |    FROM (SELECT emb FROM e WHERE vec_id = 0) q
        |    CROSS JOIN e c WHERE c.vec_id <> 0) t WHERE rank <= 20)
        |SELECT coalesce(b.id, k.id) AS id,
        |  CAST(b.rank AS BIGINT) AS rank_a,
        |  CAST(k.rank AS BIGINT) AS rank_b,
        |  coalesce(1000000000 // (60 + b.rank), 0) +
        |    coalesce(1000000000 // (60 + k.rank), 0) AS rrf_q9
        |FROM bm b FULL OUTER JOIN kn k ON b.id = k.id
        |ORDER BY rrf_q9 DESC, id ASC""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.row_number
        val bm = Text.bm25TopK(Tables.documents(s, d),
            queryTerms = Seq("dup", "vector", "scan"), k = 20)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("score").desc, col("doc_id").asc)))
          .select(col("doc_id").as("id"), col("rank"))
        val emb = nonZeroEmbeddings(s, d)
        val kn = Similarity.bruteForceKnn(emb,
            emb.filter(col("vec_id") === 0), k = 20)
          .select(col("n_id").as("id"), col("rank"))
        Similarity.rrfFuse(bm, kn, k0 = 60L)
      }),

    // Equal-frequency bucketing (Profiling.quantileBuckets): n_chars
    // deciles for every document via sharded rank + closed-form NTILE —
    // bit-identical to the oracle's global ntile window with no
    // single-task sort (the q123/q129 machinery as a row transform).
    q("q155_quantile_buckets",
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
        |    AS bucket
        |FROM documents ORDER BY doc_id""".stripMargin)(
      (s, d) => Profiling.quantileBuckets(Tables.documents(s, d),
        "doc_id", "n_chars", "doc_id", k = 10)),

    // Discriminative keywords per source (Text.logOddsKeywords):
    // Monroe et al. weighted log-odds with the corpus as Dirichlet
    // prior, variance-standardized, z quantized at 1e-4 — word-level
    // "what makes this source itself", where q57 is per-doc tf-idf and
    // q122 is one KL number per source.
    q("q156_logodds_keywords",
      s"""WITH wz AS (SELECT source,
        |    unnest(list_filter(string_split_regex(text, '${Text.ws}'),
        |      x -> len(x) > 0)) AS w FROM documents),
        |c AS (SELECT source, w, count(*) AS y_sw FROM wz GROUP BY 1, 2),
        |m AS (SELECT w, CAST(sum(y_sw) AS BIGINT) AS y_w FROM c
        |  GROUP BY 1),
        |stt AS (SELECT source, CAST(sum(y_sw) AS BIGINT) AS n_s FROM c
        |  GROUP BY 1),
        |ct AS (SELECT CAST(sum(y_w) AS BIGINT) AS n FROM m),
        |sc AS (SELECT c.source, c.w, c.y_sw, m.y_w, stt.n_s, ct.n,
        |    (100.0 * CAST(m.y_w AS DOUBLE)) / CAST(ct.n AS DOUBLE) AS a_w,
        |    CAST(m.y_w - c.y_sw AS DOUBLE) AS y_rw
        |  FROM c JOIN m USING (w) JOIN stt USING (source) CROSS JOIN ct
        |  WHERE c.y_sw >= 3),
        |z AS (SELECT source, w, y_sw,
        |    CAST(round((ln((y_sw + a_w) / (n_s - y_sw + 100.0 - a_w)) -
        |      ln((y_rw + a_w) / (n - n_s - y_rw + 100.0 - a_w))) /
        |      sqrt(1.0 / (y_sw + a_w) + 1.0 / (y_rw + a_w)) * 10000)
        |      AS BIGINT) AS z_q4
        |  FROM sc),
        |r AS (SELECT source, w, y_sw, z_q4, row_number() OVER (
        |    PARTITION BY source ORDER BY z_q4 DESC, w ASC) AS rnk FROM z)
        |SELECT source, w AS word, CAST(y_sw AS BIGINT) AS y_sw,
        |  CAST(rnk AS BIGINT) AS rnk, z_q4
        |FROM r WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin)(
      (s, d) => Text.logOddsKeywords(Tables.documents(s, d), topK = 5,
        priorMass = 100.0, minCount = 3L)),

    // Multi-touch linear attribution (Behavior.linearAttribution): every
    // purchase splits one credit unit over the user's clicks in the
    // trailing hour — the (conv, touch, n_touches) assignment table with
    // exact-rational credit, paired via the binned range join (q55's
    // engine), unattributed conversions surfaced with NULL touch.
    q("q157_attribution",
      """WITH t AS (SELECT user_id, event_id AS touch_id,
        |    epoch_us(ts) * 1000 AS tns FROM events
        |  WHERE event_type = 'click'),
        |c AS (SELECT user_id, event_id AS conv_id,
        |    epoch_us(ts) * 1000 AS cns FROM events
        |  WHERE event_type = 'purchase'),
        |p AS (SELECT c.user_id, c.conv_id, t.touch_id,
        |    c.cns - t.tns AS gap_ns
        |  FROM c JOIN t ON c.user_id = t.user_id
        |    AND t.tns > c.cns - 3600000000000 AND t.tns <= c.cns),
        |n AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_touches
        |  FROM p GROUP BY 1)
        |SELECT p.user_id, p.conv_id, p.touch_id, p.gap_ns, n.n_touches
        |FROM p JOIN n USING (conv_id)
        |UNION ALL
        |SELECT c.user_id, c.conv_id, CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(0 AS BIGINT)
        |FROM c LEFT JOIN n USING (conv_id) WHERE n.conv_id IS NULL
        |ORDER BY conv_id, touch_id NULLS FIRST""".stripMargin)(
      (s, d) => Behavior.linearAttribution(Tables.events(s, d),
        touchType = "click", convType = "purchase",
        windowNs = 3600L * 1000000000L)),

    // Stupid-Backoff scoring (Text.stupidBackoffScore): q134's in-domain
    // bigram LM with the 0.4·p(w₂) unigram backoff where the model lacks
    // the bigram — coverage jumps from bigram-hits to vocab-hits, OOV
    // still counted. Both log branches integer-quantized at 1e-4; the
    // backoff is ONE ln on one product so the oracle reproduces it
    // term-for-term.
    q("q158_backoff_lm",
      s"""WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '${Text.ws}'),
        |      x -> len(x) > 0) AS toks,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS INTEGER) % 1000 AS bucket
        |  FROM documents),
        |bg AS (SELECT doc_id, bucket,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> concat(toks[i], ' ', toks[i+1]))) AS bigram FROM t),
        |bgc AS (SELECT doc_id, bucket, bigram, count(*) AS c
        |  FROM bg GROUP BY 1, 2, 3),
        |model AS (SELECT bigram, CAST(sum(c) AS BIGINT) AS b12,
        |    split_part(bigram, ' ', 1) AS w1
        |  FROM bgc WHERE bucket >= 950 GROUP BY 1),
        |uni AS (SELECT w1, CAST(sum(b12) AS BIGINT) AS u1
        |  FROM model GROUP BY 1),
        |lqb AS (SELECT bigram, CAST(round(ln(b12 / u1) * 10000) AS BIGINT)
        |    AS lq_bi FROM model JOIN uni USING (w1)),
        |ut AS (SELECT unnest(toks) AS w FROM t WHERE bucket >= 950),
        |ucs AS (SELECT w, count(*) AS uc FROM ut GROUP BY 1),
        |un AS (SELECT CAST(sum(uc) AS BIGINT) AS un FROM ucs),
        |ubo AS (SELECT w AS w2, CAST(round(ln(0.4 *
        |    (CAST(uc AS DOUBLE) / CAST(un AS DOUBLE))) * 10000) AS BIGINT)
        |    AS lq_bo FROM ucs CROSS JOIN un),
        |sc AS (SELECT doc_id, bigram, c, split_part(bigram, ' ', 2) AS w2
        |  FROM bgc WHERE bucket < 950),
        |j AS (SELECT sc.doc_id, sc.c, lqb.lq_bi,
        |    coalesce(lqb.lq_bi, ubo.lq_bo) AS lq
        |  FROM sc LEFT JOIN lqb USING (bigram) LEFT JOIN ubo USING (w2)),
        |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams
        |  FROM bgc WHERE bucket < 950 GROUP BY 1),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_scored,
        |    CAST(coalesce(sum(CASE WHEN lq_bi IS NOT NULL THEN c END), 0)
        |      AS BIGINT) AS n_bi_hits,
        |    CAST(CAST(sum(c * lq) AS BIGINT) AS DOUBLE) /
        |      CAST(CAST(sum(c) AS BIGINT) * 10000 AS DOUBLE) AS sb_score
        |  FROM j WHERE lq IS NOT NULL GROUP BY 1)
        |SELECT d.doc_id, coalesce(tot.n_bigrams, 0) AS n_bigrams,
        |  coalesce(agg.n_scored, 0) AS n_scored,
        |  coalesce(agg.n_bi_hits, 0) AS n_bi_hits, agg.sb_score
        |FROM (SELECT doc_id FROM t WHERE bucket < 950) d
        |LEFT JOIN tot USING (doc_id) LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bucket = Sampling.splitBucket(col("doc_id"))
        Text.stupidBackoffScore(
          docs.filter(bucket < 950), docs.filter(bucket >= 950))
      }),

    // Tokenizer-fertility census (Text.fertilityCensus): per-language
    // BPE-proxy tokens per 1000 whitespace tokens and bytes per 1000
    // tokens — the cost factor a token budget needs per language before
    // q125/q150 can plan a multilingual mixture. All-integer ratios.
    q("q159_token_fertility",
      """SELECT lang,
        |  CAST(sum(len(list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), w -> length(w) > 0))) AS BIGINT)
        |    AS n_ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\r\f]+')))
        |    AS BIGINT) AS n_bpe_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
        |  CAST(sum(len(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\r\f]+')))
        |    * 1000 // nullif(sum(len(list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), w -> length(w) > 0))), 0) AS BIGINT)
        |    AS fert_permille,
        |  CAST(sum(strlen(text)) * 1000 // nullif(sum(len(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\r\f]+'))),
        |    0) AS BIGINT) AS bytes_per_tok_q3
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)(
      (s, d) => Text.fertilityCensus(Tables.documents(s, d))),

    // The SCALE-CORRECT skyline, driver-visible (the q116→q123
    // discipline): hash-bucketed local skyline prefilter (ordinary
    // partitioned windows, parallel) then the global pass on the
    // per-bucket frontier union — bit-identical to q149, so q149's
    // quadratic NOT-EXISTS oracle applies verbatim and pins the
    // exactness of the local-prefilter argument.
    q("q160_sharded_pareto",
      s"""WITH q AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '${Text.ws}'),
        |      w -> len(w) > 0 AND w IN ('the','a','an','of','and','to',
        |        'in','is','it','for'))) * 1000
        |      // len(list_filter(string_split_regex(text, '${Text.ws}'),
        |        w -> len(w) > 0)) AS score,
        |    CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents
        |  WHERE len(list_filter(string_split_regex(text, '${Text.ws}'),
        |    w -> len(w) > 0)) > 0)
        |SELECT a.doc_id, CAST(a.score AS BIGINT) AS score, a.n_chars
        |FROM q a
        |WHERE NOT EXISTS (SELECT 1 FROM q b
        |  WHERE b.score >= a.score AND b.n_chars <= a.n_chars
        |    AND (b.score > a.score OR b.n_chars < a.n_chars))
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{expr, size}
        val stopwords = Seq("the", "a", "an", "of", "and", "to", "in",
          "is", "it", "for")
        val toks = Text.tokens(col("text"))
        val stops = org.apache.spark.sql.functions.filter(toks,
          w => w.isInCollection(stopwords))
        Profiling.paretoFrontierSharded(
          Tables.documents(s, d).select(col("doc_id"),
              size(stops).cast("long").as("__ns"),
              size(toks).cast("long").as("__nt"), col("n_chars"))
            .where(col("__nt") > 0L)
            .select(col("doc_id"),
              expr("__ns * 1000L div __nt").as("score"), col("n_chars")),
          "doc_id", "score", "n_chars", buckets = 32)
      }),

    // Per-nation order-volume trend (Behavior.periodTrend): OLS slope of
    // monthly counts per nation — "which segment is growing" as one
    // number per group, slope quantized at 1e-6 (the q147 device).
    q("q161_nation_trend",
      """WITH m AS (SELECT n.n_name AS nation,
        |    epoch_ms(o.o_orderdate) // 2592000000 AS period,
        |    count(*) AS cnt
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1, 2)
        |SELECT nation, CAST(count(*) AS BIGINT) AS n_periods,
        |  CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  CAST(round(regr_slope(CAST(cnt AS DOUBLE),
        |    CAST(period AS DOUBLE)) * 1000000) AS BIGINT) AS trend_q6
        |FROM m GROUP BY 1 ORDER BY nation""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.broadcast
        val base = Tables.orders(s, d)
          .join(Tables.customer(s, d),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"), col("o_orderdate"))
        Behavior.periodTrend(base, "nation", "o_orderdate",
          periodMs = 2592000000L)
      }),

    // Deadline funnel (Behavior.funnelWithin): view → click → purchase
    // where each step must land within ONE DAY of the previous — the
    // active-conversion form q102's unbounded funnel can't express
    // (fixture: 150 → 60 → 25 vs unbounded 150 → 150 → 150).
    q("q162_windowed_funnel",
      """WITH t1 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > t1.t
        |    AND e.ts <= t1.t + INTERVAL 1 DAY GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t
        |    AND e.ts <= t2.t + INTERVAL 1 DAY GROUP BY 1)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM t1) AS step1,
        |  (SELECT CAST(count(*) AS BIGINT) FROM t2) AS step2,
        |  (SELECT CAST(count(*) AS BIGINT) FROM t3) AS step3""".stripMargin)(
      (s, d) => Behavior.funnelWithin(Tables.events(s, d),
        Seq("view", "click", "purchase"),
        maxGapNs = 86400L * 1000000000L)),

    // IVF + PRODUCT QUANTIZATION ANN (Similarity.annIvfPq): the q50
    // planting device composed with q62's clustered construction — PQ's
    // honest contract is "strong neighbors survive 64× compression",
    // NOT "statistical cluster-mates keep their exact order" (their
    // cosine margins shrink with density, so an exact pin on them
    // breaks at any fixed candidate budget as n grows). Each query gets
    // 5 planted ε-copies (ε = j·2⁻¹², exactly representable — both
    // engines build bit-identical vectors) whose cosines ≈ 1 sit far
    // above the ~0.85 clustered background at every scale; the pruned
    // (2 of 8 lists) PQ result must EQUAL the exact top-5 — i.e. find
    // all five copies, exactly ranked — so a coarse-assign, codebook,
    // encode/decode, probe, or rerank regression that loses or reorders
    // one planted neighbor is a driver hash mismatch.
    q("q163_ivfpq_pruned_knn",
      """WITH e AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      (x, i) -> x + CASE WHEN i - 1 = vec_id % 8 THEN 3.0
        |                         ELSE 0.0 END) AS emb
        |  FROM embeddings),
        |aug AS (
        |  SELECT vec_id, emb FROM e
        |  UNION ALL
        |  SELECT e.vec_id + 1000000 * j,
        |    list_transform(emb, x -> x + 0.000244140625 * j)
        |  FROM e CROSS JOIN generate_series(1, 5) t(j)
        |  WHERE e.vec_id < 10),
        |q AS (SELECT * FROM e WHERE vec_id < 10)
        |SELECT q_id, rank, n_id FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id)
        |      AS INTEGER) AS rank
        |  FROM q JOIN aug c ON c.vec_id <> q.vec_id) t
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val base = Similarity.clusteredEmbeddings(Tables.embeddings(s, d))
          .select(col("vec_id"), col("embedding"))
        val qs = base.filter(col("vec_id") < 10)
        val copies = (1 to 5).map { j =>
          qs.selectExpr(s"vec_id + ${1000000L * j}L AS vec_id",
            s"transform(embedding, x -> x + ${j}L * 0.000244140625d)" +
              " AS embedding")
        }.reduce(_ unionByName _)
        Similarity.annIvfPq(base.unionByName(copies), qs, k = 5,
          // trainIter 3: the clustered construction separates lists at
          // +3.0/dim, so the coarse quantizer converges in ~2 rounds and
          // the codebooks only refine residual detail the candFactor·k
          // margin already absorbs — 3 rounds cuts ~40% of the
          // iterative-job floor with the exactness pin unchanged
          // (re-verified at sf0.001/0.01/0.1 and the ×16 inflation)
          nlist = 8, nprobe = 2, m = 8, ksub = 16, trainIter = 3)
      }),

    // FUZZY decontamination (Dedup.benchmarkContainment): ≥300‰ of a
    // benchmark doc's distinct 3-gram shingles verbatim inside a corpus
    // doc — the Dolma/Llama-style threshold rule on the same
    // deterministic 95/5 split as q69/q126. The hits are exactly the
    // near-dup pairs that straddle the split (the leakage q119 audits),
    // each carried with its integer evidence columns.
    q("q164_benchmark_containment",
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      w -> length(w) > 0) AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM toks),
        |bkt AS (SELECT doc_id, shingles,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS INTEGER) % 1000 AS bucket FROM sh),
        |c AS (SELECT doc_id AS corpus_id, unnest(shingles) AS item
        |  FROM bkt WHERE bucket < 950),
        |b AS (SELECT doc_id AS bench_id, unnest(shingles) AS item
        |  FROM bkt WHERE bucket >= 950),
        |bs AS (SELECT doc_id AS bench_id, len(shingles) AS n_b
        |  FROM bkt WHERE bucket >= 950 AND len(shingles) > 0),
        |j AS (SELECT corpus_id, bench_id, count(*) AS n_inter
        |  FROM c JOIN b USING (item) GROUP BY 1, 2)
        |SELECT j.corpus_id, j.bench_id,
        |  CAST(j.n_inter AS BIGINT) AS n_inter, CAST(bs.n_b AS BIGINT) AS n_b
        |FROM j JOIN bs USING (bench_id)
        |WHERE j.n_inter * 1000 >= 300 * bs.n_b
        |ORDER BY corpus_id, bench_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bucket = Sampling.splitBucket(col("doc_id"))
        Dedup.benchmarkContainment(docs.filter(bucket < 950),
          docs.filter(bucket >= 950), n = 3, minPermille = 300L)
      }),

    // Temperature-scaled mixture (Sampling.temperaturePlan, α = 0.5):
    // share ∝ √n_tokens — the multilingual resampling rule between
    // proportional and uniform. α = 0.5 rides sqrt (correctly rounded
    // under IEEE 754 in BOTH engines, unlike pow), and the weight is
    // integer-quantized before any sum, so the whole plan is exact
    // integer arithmetic cross-engine.
    q("q165_temperature_plan",
      """WITH c AS (SELECT source,
        |    CAST(sum(len(list_filter(string_split_regex(text,
        |      '[ \t\n\r\f]+'), w -> len(w) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, n_tokens,
        |    CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000)
        |      AS BIGINT) AS weight_q6 FROM c),
        |t AS (SELECT CAST(sum(weight_q6) AS BIGINT) AS wsum FROM w)
        |SELECT source, n_tokens, weight_q6,
        |  CAST(CAST(1000000 AS HUGEINT) * weight_q6 // nullif(wsum, 0)
        |    AS BIGINT) AS target_tokens,
        |  CAST((CAST(1000000 AS HUGEINT) * weight_q6 // nullif(wsum, 0)
        |    + n_tokens - 1) // nullif(n_tokens, 0) AS BIGINT) AS epochs
        |FROM w CROSS JOIN t ORDER BY source""".stripMargin)(
      (s, d) => Sampling.temperaturePlan(Tables.documents(s, d),
        budgetTokens = 1000000L, alpha = 0.5)),

    // Embedding diversity census (Similarity.embeddingDiversityCensus):
    // per-label mean pairwise dot via ‖Σv‖² − Σ‖v‖² — the cluster-
    // collapse audit with NO pair ever materialized; components integer-
    // quantized at the scan (the q105 device) so S², D, and the mean are
    // exact integers cross-engine.
    q("q166_embedding_diversity",
      """WITH e AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    unnest(range(0, len(embedding))) AS pos FROM embeddings),
        |c AS (SELECT label, pos, CAST(round(x * 1000) AS BIGINT) AS q
        |  FROM e),
        |cells AS (SELECT label, pos, count(*) AS n,
        |    CAST(sum(q) AS BIGINT) AS s, CAST(sum(q * q) AS BIGINT) AS d
        |  FROM c GROUP BY 1, 2),
        |agg AS (SELECT label, max(n) AS n_vecs,
        |    sum(CAST(s AS HUGEINT) * s) AS s2, CAST(sum(d) AS BIGINT) AS dd
        |  FROM cells GROUP BY 1)
        |SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
        |  CAST((s2 - dd) // (n_vecs * (n_vecs - 1)) AS BIGINT)
        |    AS mean_dot_q
        |FROM agg WHERE n_vecs >= 2 ORDER BY label""".stripMargin)(
      (s, d) => Similarity.embeddingDiversityCensus(Tables.embeddings(s, d),
        scale = 1000)),

    // Hard-negative mining (Similarity.hardNegatives): per anchor, the
    // top-5 highest-cosine vectors with a DIFFERENT label — the
    // contrastive-training complement of q96's hash-random negatives;
    // exact brute top-k as the oracle-checkable referee (the ANN family
    // is the documented swap at corpus scale).
    q("q167_hard_negatives",
      """WITH e AS (SELECT vec_id, label,
        |    CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 10)
        |SELECT q_id, rank, n_id, n_label FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, c.label AS n_label,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id)
        |      AS INTEGER) AS rank
        |  FROM q JOIN e c ON c.vec_id <> q.vec_id
        |    AND c.label <> q.label) t
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), k = 5)
      }),

    // SESSION-scoped funnel (Behavior.sessionFunnel): view→click→purchase
    // inside one 4-hour-gap session — the q113 sessionization feeding the
    // q102 funnel shape, counting SESSIONS. Separates "bought in that
    // visit" (14 sessions here) from q102's whole-history conversions —
    // the two numbers a product team compares.
    q("q168_session_funnel",
      """WITH q AS (SELECT user_id, event_id, event_type, epoch_us(ts)
        |    AS qts FROM events),
        |s AS (SELECT user_id, qts, event_id, event_type,
        |    CASE WHEN qts - lag(qts) OVER (PARTITION BY user_id
        |        ORDER BY qts, event_id) < 14400000000
        |      THEN 0 ELSE 1 END AS brk FROM q),
        |w AS (SELECT user_id, qts, event_type,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY qts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM s),
        |t1 AS (SELECT user_id, sess, min(qts) AS t FROM w
        |  WHERE event_type = 'view' GROUP BY 1, 2),
        |t2 AS (SELECT w.user_id, w.sess, min(w.qts) AS t
        |  FROM w JOIN t1 USING (user_id, sess)
        |  WHERE w.event_type = 'click' AND w.qts > t1.t GROUP BY 1, 2),
        |t3 AS (SELECT w.user_id, w.sess, min(w.qts) AS t
        |  FROM w JOIN t2 USING (user_id, sess)
        |  WHERE w.event_type = 'purchase' AND w.qts > t2.t GROUP BY 1, 2)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM t1) AS step1,
        |  (SELECT CAST(count(*) AS BIGINT) FROM t2) AS step2,
        |  (SELECT CAST(count(*) AS BIGINT) FROM t3) AS step3""".stripMargin)(
      (s, d) => Behavior.sessionFunnel(Tables.events(s, d),
        Seq("view", "click", "purchase"),
        gapNs = 4L * 3600 * 1000000000L, quantumNs = 1000L)),

    // PSI drift census (Profiling.psiDrift): English docs vs the rest
    // over 16-token length bins — per-bin counts + the quantized PSI
    // term (Σ = the drift number); empty-on-one-side bins surface NULL,
    // never an epsilon fudge.
    q("q169_psi_drift",
      """WITH d AS (SELECT lang, len(list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), w -> len(w) > 0)) AS nt FROM documents),
        |a AS (SELECT nt // 16 AS bin, count(*) AS c_a FROM d
        |  WHERE lang = 'en' GROUP BY 1),
        |b AS (SELECT nt // 16 AS bin, count(*) AS c_b FROM d
        |  WHERE lang <> 'en' GROUP BY 1),
        |t AS (SELECT (SELECT CAST(sum(c_a) AS BIGINT) FROM a) AS n_a,
        |  (SELECT CAST(sum(c_b) AS BIGINT) FROM b) AS n_b),
        |j AS (SELECT coalesce(a.bin, b.bin) AS bin,
        |    coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
        |  FROM a FULL OUTER JOIN b ON a.bin = b.bin)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(c_a AS BIGINT) AS c_a,
        |  CAST(c_b AS BIGINT) AS c_b,
        |  CASE WHEN c_a > 0 AND c_b > 0 THEN
        |    CAST(round((CAST(c_a AS DOUBLE) / n_a -
        |      CAST(c_b AS DOUBLE) / n_b) *
        |      ln(CAST(c_a AS DOUBLE) * n_b /
        |        (CAST(c_b AS DOUBLE) * n_a)) * 1000000) AS BIGINT)
        |  END AS term_q6
        |FROM j CROSS JOIN t ORDER BY bin""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        import org.apache.spark.sql.functions.size
        Profiling.psiDrift(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") =!= "en"),
          size(Text.tokens(col("text"))).cast("long"), binWidth = 16L)
      }),

    // Compaction plan (Layout.compactionPlan): the (source, lang) shard
    // census packed into ~60-row output files by prefix-sum assignment —
    // key order preserved, no unit split, the lakehouse OPTIMIZE shape
    // with the window on CENSUS rows only.
    q("q170_compaction_plan",
      """WITH c AS (SELECT source, lang, count(*) AS n_rows
        |  FROM documents GROUP BY 1, 2),
        |p AS (SELECT source, lang, n_rows,
        |    coalesce(sum(n_rows) OVER (ORDER BY source, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS bef FROM c)
        |SELECT source, lang, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(bef // 60 AS BIGINT) AS out_file
        |FROM p ORDER BY source, lang""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit}
        val census = Tables.documents(s, d)
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_rows"))
        Layout.compactionPlan(census, Seq("source", "lang"), "n_rows",
          targetRows = 60L)
      }),

    // Duplicated-span REMOVAL (Text.stripDuplicatedSpans): the acting
    // face of q136's census — positions covered by a 5-gram occurring in
    // ≥2 docs are cut and the doc rebuilt from surviving tokens
    // (canonical single-space join); 24 fully-recycled docs survive as
    // empty strings at this scale — dropping them is caller policy.
    q("q171_strip_dup_spans",
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      w -> length(w) > 0) AS t FROM documents),
        |pg AS (SELECT doc_id,
        |    unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i,
        |    unnest(list_transform(generate_series(1,
        |      greatest(len(t) - 4, 0)),
        |      i -> array_to_string(t[i:i+4], ' '))) AS gram
        |  FROM toks),
        |hot AS (SELECT gram FROM (SELECT gram,
        |    count(DISTINCT doc_id) AS df FROM pg GROUP BY 1)
        |  WHERE df >= 2),
        |cov AS (SELECT DISTINCT doc_id,
        |    unnest(generate_series(i, i + 4)) AS p
        |  FROM pg JOIN hot USING (gram)),
        |tk AS (SELECT doc_id, unnest(t) AS tok,
        |    unnest(generate_series(1, len(t))) AS p FROM toks),
        |kept AS (SELECT tk.doc_id, string_agg(tk.tok, ' '
        |      ORDER BY tk.p) AS text
        |  FROM tk ANTI JOIN cov ON tk.doc_id = cov.doc_id
        |    AND tk.p = cov.p GROUP BY 1)
        |SELECT d.doc_id, coalesce(k.text, '') AS text
        |FROM documents d LEFT JOIN kept k USING (doc_id)
        |ORDER BY doc_id""".stripMargin)(
      (s, d) => Text.stripDuplicatedSpans(Tables.documents(s, d),
        n = 5, minDf = 2L)),

    // Exact weighted median (Profiling.weightedMedian): per source, the
    // token count below which half the source's CHARACTER mass sits —
    // 2·cum ≥ tot over a RANGE frame (tie-safe by construction), all
    // integer decisions.
    q("q172_weighted_median",
      """WITH d AS (SELECT source,
        |    len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      w -> len(w) > 0)) AS v,
        |    CAST(n_chars AS BIGINT) AS w FROM documents),
        |c AS (SELECT source, v, w,
        |    sum(w) OVER (PARTITION BY source ORDER BY v
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER (PARTITION BY source) AS tot FROM d)
        |SELECT source, CAST(max(tot) AS BIGINT) AS total_weight,
        |  CAST(min(v) AS BIGINT) AS w_median
        |FROM c WHERE cum * 2 >= tot GROUP BY source
        |ORDER BY source""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.size
        Profiling.weightedMedian(
          Tables.documents(s, d).select(col("source"),
            size(Text.tokens(col("text"))).cast("long").as("v"),
            col("n_chars").cast("long").as("w")),
          "source", "v", "w")
      }),

    // FK integrity audit (Profiling.fkIntegrityAudit): events.user_id →
    // customer.c_custkey — null keys, orphan rows/keys (what an inner
    // join silently drops), and unreferenced parents (1350 customers
    // never emit an event at this scale), all census-vs-census.
    q("q173_fk_integrity",
      """WITH c AS (SELECT user_id AS k, count(*) AS n FROM events
        |  GROUP BY 1),
        |p AS (SELECT DISTINCT c_custkey AS pk FROM customer)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM events)
        |    AS n_child_rows,
        |  CAST(coalesce((SELECT sum(n) FROM c WHERE k IS NULL), 0)
        |    AS BIGINT) AS n_null_keys,
        |  CAST(coalesce((SELECT sum(c.n) FROM c ANTI JOIN p
        |    ON c.k = p.pk WHERE c.k IS NOT NULL), 0) AS BIGINT)
        |    AS n_orphan_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c ANTI JOIN p
        |    ON c.k = p.pk WHERE c.k IS NOT NULL) AS n_orphan_keys,
        |  (SELECT CAST(count(*) AS BIGINT) FROM p ANTI JOIN c
        |    ON p.pk = c.k) AS n_unreferenced_parents""".stripMargin)(
      (s, d) => Profiling.fkIntegrityAudit(Tables.events(s, d), "user_id",
        Tables.customer(s, d), "c_custkey")),

    // Per-state dwell-time census (Behavior.dwellTimeCensus): time users
    // sit in each event type before their next event — the
    // time-weighted face of q109's transition counts; same one
    // user-keyed window, µs-quantized for oracle parity.
    q("q174_dwell_census",
      """WITH q AS (SELECT user_id, event_id, event_type, epoch_us(ts)
        |    AS qts FROM events),
        |d AS (SELECT event_type, lead(qts) OVER (PARTITION BY user_id
        |    ORDER BY qts, event_id) - qts AS dwell FROM q)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_dwells,
        |  CAST(sum(dwell) AS BIGINT) AS sum_dwell,
        |  CAST(max(dwell) AS BIGINT) AS max_dwell
        |FROM d WHERE dwell IS NOT NULL GROUP BY 1
        |ORDER BY 1""".stripMargin)(
      (s, d) => Behavior.dwellTimeCensus(Tables.events(s, d),
        quantumNs = 1000L)),

    // Retrieval evaluation (Similarity.retrievalMetrics): MRR + nDCG@5
    // of the exact-kNN ranking against label-match relevance — on the
    // near-uniform fixture labels barely correlate with cosine, so the
    // metrics span their real range (zeros, partial hits, NULL rr for
    // no-hit queries) instead of a degenerate all-1000 pin. Every float
    // term quantized before its sum (q134 device).
    q("q175_retrieval_metrics",
      """WITH e AS (SELECT vec_id, label,
        |    CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 10),
        |res AS (SELECT q_id, rank, n_id FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id)
        |      AS INTEGER) AS rank
        |  FROM q JOIN e c ON c.vec_id <> q.vec_id) t WHERE rank <= 5),
        |rel AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id FROM q
        |  JOIN e c ON c.vec_id <> q.vec_id AND c.label = q.label),
        |nrel AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_rel
        |  FROM rel GROUP BY 1),
        |hits AS (SELECT res.q_id,
        |    min(CASE WHEN rel.n_id IS NOT NULL THEN res.rank END)
        |      AS first_hit,
        |    CAST(coalesce(sum(CASE WHEN rel.n_id IS NOT NULL THEN
        |      CAST(round(1000000.0 / log2(res.rank + 1.0)) AS BIGINT)
        |      END), 0) AS BIGINT) AS dcg_q6
        |  FROM res LEFT JOIN rel ON res.q_id = rel.q_id
        |    AND res.n_id = rel.n_id GROUP BY 1),
        |idcg AS (SELECT q_id, n_rel,
        |    CAST(sum(round(1000000.0 / log2(i + 1.0))) AS BIGINT)
        |      AS idcg_q6
        |  FROM (SELECT q_id, n_rel,
        |      unnest(generate_series(1, least(n_rel, 5))) AS i FROM nrel)
        |  GROUP BY 1, 2)
        |SELECT h.q_id, coalesce(n.n_rel, 0) AS n_rel,
        |  CAST(round(1000000.0 / h.first_hit) AS BIGINT) AS rr_q6,
        |  h.dcg_q6, coalesce(i.idcg_q6, 0) AS idcg_q6,
        |  CAST(h.dcg_q6 * 1000 // nullif(i.idcg_q6, 0) AS BIGINT)
        |    AS ndcg_permille
        |FROM hits h LEFT JOIN nrel n USING (q_id)
        |LEFT JOIN idcg i USING (q_id)
        |ORDER BY q_id""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.lit
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 10)
        val res = Similarity.bruteForceKnn(emb, qs, k = 5)
        val qrels = qs.select(col("vec_id").as("q_id"),
            col("label").as("__ql"))
          .join(emb.select(col("vec_id").as("n_id"),
            col("label").as("__nl")),
            col("q_id") =!= col("n_id") && col("__ql") === col("__nl"))
          .select(col("q_id"), col("n_id"), lit(1).as("rel"))
        Similarity.retrievalMetrics(res, qrels, k = 5)
      }),

    // Count-Min heavy hitters with measured error (Profiling
    // .cmsHeavyHitters): 3×16 md5 sketch over the word census — at this
    // width 7 of the top-10 words carry REAL collision overcounts, so
    // the audit column is exercised, not decorative (q153's discipline
    // for the frequency sketch). CMS never undercounts; `overcount ≥ 0`
    // is the one-sided guarantee the oracle pins.
    q("q176_cms_heavy_hitters",
      """WITH toks AS (SELECT unnest(list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), w -> length(w) > 0)) AS key
        |  FROM documents),
        |census AS (SELECT key, count(*) AS c FROM toks GROUP BY 1),
        |kb AS (SELECT key, c, d,
        |    CAST(('0x' || substr(md5(key || ':' || CAST(d AS VARCHAR)),
        |      1, 8)) AS BIGINT) % 16 AS b
        |  FROM census CROSS JOIN
        |    (SELECT unnest(generate_series(0, 2)) AS d) ds),
        |r AS (SELECT d, b, CAST(sum(c) AS BIGINT) AS bsum
        |  FROM kb GROUP BY 1, 2),
        |est AS (SELECT kb.key, CAST(min(r.bsum) AS BIGINT) AS est
        |  FROM kb JOIN r USING (d, b) GROUP BY 1),
        |top AS (SELECT key, c FROM census ORDER BY c DESC, key LIMIT 10)
        |SELECT t.key, CAST(t.c AS BIGINT) AS exact, e.est,
        |  CAST(e.est - t.c AS BIGINT) AS overcount
        |FROM top t JOIN est e USING (key)
        |ORDER BY exact DESC, key""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.explode
        Profiling.cmsHeavyHitters(
          Tables.documents(s, d)
            .select(explode(Text.tokens(col("text"))).as("tok")),
          "tok", width = 16, depth = 3, topK = 10)
      }),

    // Quality ensemble by rank voting (Text.qualityEnsemble): stopword
    // density, TTR, and length each decile-bucketed via the SHARDED
    // ntile (q155's bit-identical contract — the oracle's three global
    // windows are exactly what the operator avoids) and summed.
    q("q177_quality_ensemble",
      s"""WITH f AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '${Text.ws}'),
        |      w -> len(w) > 0 AND w IN ('the','a','an','of','and','to',
        |        'in','is','it','for'))) * 1000
        |      // len(list_filter(string_split_regex(text, '${Text.ws}'),
        |        w -> len(w) > 0)) AS stop_permille,
        |    len(list_distinct(list_filter(string_split_regex(text,
        |      '${Text.ws}'), w -> len(w) > 0))) * 1000
        |      // len(list_filter(string_split_regex(text, '${Text.ws}'),
        |        w -> len(w) > 0)) AS ttr_permille,
        |    CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents
        |  WHERE len(list_filter(string_split_regex(text, '${Text.ws}'),
        |    w -> len(w) > 0)) > 0)
        |SELECT doc_id,
        |  CAST(ntile(10) OVER (ORDER BY stop_permille, doc_id) AS BIGINT)
        |    AS b_stop,
        |  CAST(ntile(10) OVER (ORDER BY ttr_permille, doc_id) AS BIGINT)
        |    AS b_ttr,
        |  CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
        |    AS b_len,
        |  CAST(ntile(10) OVER (ORDER BY stop_permille, doc_id) +
        |    ntile(10) OVER (ORDER BY ttr_permille, doc_id) +
        |    ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS vote
        |FROM f ORDER BY doc_id""".stripMargin)(
      (s, d) => Text.qualityEnsemble(Tables.documents(s, d),
        buckets = 10)),

    // Forward-fill imputation (Behavior.forwardFill): every 7th event's
    // value is deterministically nulled, then each user's gap takes the
    // most recent prior observation (leading gaps stay NULL — no
    // invented data). Fill output depends on ORDER, so the µs quantum
    // is correctness here, not convention.
    q("q178_forward_fill",
      """WITH b AS (SELECT event_id, user_id, epoch_us(ts) AS qts,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT event_id, user_id,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY qts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS value_filled
        |FROM b ORDER BY event_id""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{lit, when}
        val e = Tables.events(s, d).withColumn("value",
          when(col("event_id") % 7 === 0, lit(null)
            .cast("double")).otherwise(col("value")))
        Behavior.forwardFill(e, "value", quantumNs = 1000L)
      }),

    // Golden-record merge (Dedup.goldenRecord): field-level survivorship
    // over exact-dup groups — max-completeness n_chars, modal lang and
    // source with lexicographic ties — where q130's keep-best inherits
    // every field from one winner row. The fixture is exact-dup-free, so
    // every third doc re-enters TWICE (q130's device): an uppercased
    // mirror keeping lang/source and a variant with disagreeing
    // metadata — the mode and max-merge then decide real 3-member
    // groups, not singletons.
    q("q179_golden_record",
      """WITH aug AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text), lang, source,
        |    n_chars + 5
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || '  ', 'xx', 'mirror',
        |    n_chars - 1
        |  FROM documents WHERE doc_id % 3 = 0),
        |k AS (SELECT
        |    md5(regexp_replace(trim(lower(text)), '[ \t\n\r\f]+', ' ',
        |      'g')) AS fp,
        |    doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM aug),
        |base AS (SELECT fp, min(doc_id) AS golden_id,
        |    count(*) AS n_members, max(n_chars) AS n_chars_max
        |  FROM k GROUP BY 1),
        |lm AS (SELECT fp, lang AS lang_mode FROM (
        |  SELECT fp, lang, row_number() OVER (PARTITION BY fp
        |      ORDER BY count(*) DESC, lang) AS rn
        |  FROM k GROUP BY fp, lang) WHERE rn = 1),
        |sm AS (SELECT fp, source AS source_mode FROM (
        |  SELECT fp, source, row_number() OVER (PARTITION BY fp
        |      ORDER BY count(*) DESC, source) AS rn
        |  FROM k GROUP BY fp, source) WHERE rn = 1)
        |SELECT base.fp, base.golden_id, base.n_members, base.n_chars_max,
        |  lm.lang_mode, sm.source_mode
        |FROM base JOIN lm USING (fp) JOIN sm USING (fp)
        |ORDER BY fp""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{concat, lit, upper}
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars"))
        val third = docs.filter(col("doc_id") % 3 === 0)
        val mirrorA = third.select(
          (col("doc_id") + 1000000L).as("doc_id"),
          upper(col("text")).as("text"), col("lang"), col("source"),
          (col("n_chars") + 5).as("n_chars"))
        val mirrorB = third.select(
          (col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit("  ")).as("text"),
          lit("xx").as("lang"), lit("mirror").as("source"),
          (col("n_chars") - 1).as("n_chars"))
        Dedup.goldenRecord(docs.unionByName(mirrorA).unionByName(mirrorB))
      }),

    // User growth curve (Behavior.userGrowthCurve): daily first-time
    // users + the running cumulative — per-user min then a global
    // window over the DAY census (q108 posture).
    q("q180_user_growth",
      """WITH fs AS (SELECT user_id,
        |    min(epoch_ns(ts) // 86400000000000) AS first_day
        |  FROM events GROUP BY 1),
        |d AS (SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new
        |  FROM fs GROUP BY 1)
        |SELECT day, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_cumulative
        |FROM d ORDER BY day""".stripMargin)(
      (s, d) => Behavior.userGrowthCurve(Tables.events(s, d))),

    // Cross-source duplication matrix (Dedup.sourceDupMatrix over the
    // q22 jaccard pairs): which source pairs share near-dup content —
    // the mirror-crawl acquisition report, |sources|²-bounded.
    q("q181_source_dup_matrix",
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      w -> length(w) > 0) AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM toks),
        |e AS (SELECT doc_id, unnest(shingles) AS item,
        |    len(shingles) AS n FROM sh),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS i, max(a.n) AS na, max(b.n) AS nb
        |  FROM e a JOIN e b ON a.item = b.item AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter
        |  WHERE CAST(i AS DOUBLE) / (na + nb - i) > 0.2),
        |src AS (SELECT doc_id, source FROM documents)
        |SELECT least(sa.source, sb.source) AS source_a,
        |  greatest(sa.source, sb.source) AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM pairs p JOIN src sa ON p.id_a = sa.doc_id
        |JOIN src sb ON p.id_b = sb.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.sourceDupMatrix(docs,
          Dedup.jaccardPairs(docs, n = 3, threshold = 0.2)
            .select("id_a", "id_b"))
      }),

    // Session-level type affinity (Behavior.sessionAffinity): lift of
    // unordered event-type pairs over 4-hour-gap sessions —
    // `n_both·n_sessions·10⁶ div (n_a·n_b)`, market-basket analysis
    // with no float anywhere; pair join bounded by sessions × types².
    q("q182_session_affinity",
      """WITH q AS (SELECT user_id, event_id, event_type, epoch_us(ts)
        |    AS qts FROM events),
        |s AS (SELECT user_id, qts, event_id, event_type,
        |    CASE WHEN qts - lag(qts) OVER (PARTITION BY user_id
        |        ORDER BY qts, event_id) < 14400000000
        |      THEN 0 ELSE 1 END AS brk FROM q),
        |w AS (SELECT user_id, event_type,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY qts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM s),
        |st AS (SELECT DISTINCT user_id, sess, event_type FROM w),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
        |  FROM (SELECT DISTINCT user_id, sess FROM st)),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM st
        |  GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM st a JOIN st b ON a.user_id = b.user_id
        |    AND a.sess = b.sess AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_both,
        |  CAST(CAST(p.n_both AS HUGEINT) * t.n_sessions * 1000000
        |    // (CAST(ma.n AS HUGEINT) * mb.n) AS BIGINT) AS lift_q6
        |FROM p JOIN m ma ON p.type_a = ma.event_type
        |JOIN m mb ON p.type_b = mb.event_type
        |CROSS JOIN tot t ORDER BY type_a, type_b""".stripMargin)(
      (s, d) => Behavior.sessionAffinity(Tables.events(s, d),
        gapNs = 4L * 3600 * 1000000000L, quantumNs = 1000L)),

    // Fuzzy key match (Joins.fuzzyMatch): planted 1-edit typo variants
    // of every source resolved back by Levenshtein ≤ 1 under LOSSLESS
    // length blocking (dist ≥ |len diff| — a prefix block would drop
    // position-0 edits). The oracle's theta join is the quadratic plan
    // the blocking replaces.
    q("q183_fuzzy_match",
      """WITH l AS (SELECT DISTINCT 'srx' || substr(source, 4)
        |    AS left_key FROM documents),
        |r AS (SELECT DISTINCT source AS right_key FROM documents)
        |SELECT left_key, right_key,
        |  CAST(levenshtein(left_key, right_key) AS INTEGER) AS dist
        |FROM l JOIN r ON levenshtein(left_key, right_key) <= 1
        |ORDER BY left_key, right_key""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{concat, lit, substring}
        val docs = Tables.documents(s, d)
        val variants = docs.select(concat(lit("srx"),
          substring(col("source"), 4, 100)).as("k")).distinct()
        Joins.fuzzyMatch(variants, docs, "k", "source", maxDist = 1)
      }),

    // Pareto contribution (Profiling.paretoContribution): sources by
    // descending token mass with exact permille shares, cumulative, and
    // the 800‰ head flag — the 80/20 table, windows over S rows only.
    q("q184_pareto_contribution",
      """WITH c AS (SELECT source,
        |    CAST(sum(len(list_filter(string_split_regex(text,
        |      '[ \t\n\r\f]+'), w -> len(w) > 0))) AS BIGINT) AS w
        |  FROM documents GROUP BY 1),
        |x AS (SELECT source, w,
        |    sum(w) OVER (ORDER BY w DESC, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER () AS tot FROM c)
        |SELECT source, w AS weight,
        |  CAST(w * 1000 // nullif(tot, 0) AS BIGINT) AS share_permille,
        |  CAST(cum * 1000 // nullif(tot, 0) AS BIGINT) AS cum_permille,
        |  (cum - w) * 1000 < 800 * tot AS in_head
        |FROM x ORDER BY weight DESC, source""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.size
        Profiling.paretoContribution(Tables.documents(s, d), "source",
          size(Text.tokens(col("text"))).cast("long"),
          headPermille = 800L)
      }),

    // Distribution-matching acceptance plan (Sampling
    // .distributionMatchPlan): per-bin keep rates that resample the
    // non-English slice to the English length profile — q169's bins
    // pointed at the FIX instead of the diagnosis; downsample-only
    // (capped at 1000‰), integer arithmetic end to end.
    q("q185_distribution_match",
      """WITH d AS (SELECT lang, len(list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), w -> len(w) > 0)) AS nt FROM documents),
        |cur AS (SELECT nt // 16 AS bin, count(*) AS c_cur FROM d
        |  WHERE lang <> 'en' GROUP BY 1),
        |ref AS (SELECT nt // 16 AS bin, count(*) AS c_ref FROM d
        |  WHERE lang = 'en' GROUP BY 1),
        |t AS (SELECT (SELECT CAST(sum(c_cur) AS BIGINT) FROM cur)
        |    AS t_cur,
        |  (SELECT CAST(sum(c_ref) AS BIGINT) FROM ref) AS t_ref),
        |j AS (SELECT coalesce(cur.bin, ref.bin) AS bin,
        |    coalesce(c_cur, 0) AS c_cur, coalesce(c_ref, 0) AS c_ref
        |  FROM cur FULL OUTER JOIN ref ON cur.bin = ref.bin)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(c_cur AS BIGINT) AS c_cur,
        |  CAST(c_ref AS BIGINT) AS c_ref,
        |  CASE WHEN c_cur > 0 THEN CAST(least(1000,
        |    c_ref * t_cur * 1000 // nullif(t_ref * c_cur, 0)) AS BIGINT)
        |  END AS accept_permille
        |FROM j CROSS JOIN t ORDER BY bin""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.size
        val docs = Tables.documents(s, d)
        Sampling.distributionMatchPlan(
          docs.filter(col("lang") =!= "en"),
          docs.filter(col("lang") === "en"),
          size(Text.tokens(col("text"))).cast("long"), binWidth = 16L)
      }),

    // Streaming rate monitor, batch-checked (the q30/q31 unified-
    // contract device: the SAME transform runs on the batch table so
    // the oracle pins its windowing + flag semantics, StreamingSpec
    // pins the watermark behavior): hourly per-type counts vs the
    // average hourly rate as baseline, flag outside [¼, 4×].
    q("q186_rate_monitor",
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS win
        |  FROM events),
        |w AS (SELECT win * 3600000000 AS win_us, event_type,
        |    CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1, 2),
        |nw AS (SELECT CAST(count(DISTINCT win) AS BIGINT) AS n FROM e),
        |ref AS (SELECT event_type,
        |    CAST(count(*) // (SELECT n FROM nw) AS BIGINT) AS ref_cnt
        |  FROM e GROUP BY 1)
        |SELECT w.win_us, w.event_type, w.cnt, ref.ref_cnt,
        |  (w.cnt * 1000 < 250 * ref.ref_cnt OR
        |   w.cnt * 1000 > 4000 * ref.ref_cnt) AS anomalous
        |FROM w LEFT JOIN ref USING (event_type)
        |ORDER BY win_us, event_type""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, expr, lit}
        val ev = Tables.events(s, d)
        val nWin = ev.select(expr("ts div 3600000000000L").as("w"))
          .distinct().agg(count(lit(1)).as("__n"))
        val ref = ev.groupBy("event_type").agg(count(lit(1)).as("__c"))
          .crossJoin(org.apache.spark.sql.functions.broadcast(nWin))
          .select(col("event_type"), expr("__c div __n").as("ref_cnt"))
        graft.streaming.EventStreams.rateMonitor(ev, ref,
            "1 hour", "2 hours", loPermille = 250L, hiPermille = 4000L)
          .orderBy("win_us", "event_type")
      }),

    // Training-mix manifest (Sampling.mixManifest): the (split × source)
    // doc/token matrix a model card ships — md5 split projection + one
    // partial agg, the governance artifact in |splits|·|sources| rows.
    q("q187_mix_manifest",
      """WITH s AS (SELECT source,
        |    len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      w -> len(w) > 0)) AS nt,
        |    CASE
        |      WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |        1, 4)) AS INTEGER) % 1000 < 800 THEN 'train'
        |      WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |        1, 4)) AS INTEGER) % 1000 < 900 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, source, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => Sampling.mixManifest(Tables.documents(s, d))),

    // Effective-token census (Text.effectiveTokens): raw vs
    // span-dedup-surviving token mass per source — the number raw
    // counts overstate by exactly the recycled-text redundancy
    // (81–96‰ unique on this fixture). Reuses q171's stages verbatim.
    q("q188_effective_tokens",
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      w -> length(w) > 0) AS t FROM documents),
        |pg AS (SELECT doc_id,
        |    unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i,
        |    unnest(list_transform(generate_series(1,
        |      greatest(len(t) - 4, 0)),
        |      i -> array_to_string(t[i:i+4], ' '))) AS gram FROM toks),
        |hot AS (SELECT gram FROM (SELECT gram,
        |    count(DISTINCT doc_id) AS df FROM pg GROUP BY 1)
        |  WHERE df >= 2),
        |cov AS (SELECT DISTINCT doc_id,
        |    unnest(generate_series(i, i + 4)) AS p
        |  FROM pg JOIN hot USING (gram)),
        |tk AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS p
        |  FROM toks),
        |keptn AS (SELECT tk.doc_id, count(*) AS nk
        |  FROM tk ANTI JOIN cov ON tk.doc_id = cov.doc_id
        |    AND tk.p = cov.p GROUP BY 1),
        |raw AS (SELECT d.source, CAST(sum(len(t.t)) AS BIGINT)
        |    AS n_tokens_raw
        |  FROM documents d JOIN toks t USING (doc_id) GROUP BY 1),
        |uniq AS (SELECT d.source, CAST(sum(k.nk) AS BIGINT)
        |    AS n_tokens_unique
        |  FROM documents d JOIN keptn k USING (doc_id) GROUP BY 1)
        |SELECT r.source, r.n_tokens_raw,
        |  coalesce(u.n_tokens_unique, 0) AS n_tokens_unique,
        |  CAST(coalesce(u.n_tokens_unique, 0) * 1000
        |    // nullif(r.n_tokens_raw, 0) AS BIGINT) AS unique_permille
        |FROM raw r LEFT JOIN uniq u USING (source)
        |ORDER BY r.source""".stripMargin)(
      (s, d) => Text.effectiveTokens(Tables.documents(s, d),
        n = 5, minDf = 2L)),

    // Event-lateness census (Behavior.latenessCensus): the watermark-
    // chooser — every 10th event is deterministically delivered ~500
    // positions late (the planting device; the fixture itself arrives
    // in order), and the census reports how far event time trails the
    // running ingestion max: max_late IS the lossless watermark delay.
    q("q189_lateness_census",
      """WITH q AS (SELECT CASE WHEN event_id % 10 = 0
        |      THEN event_id * 10 + 5005 ELSE event_id * 10 END
        |      AS arrival,
        |    epoch_us(ts) AS qts FROM events),
        |l AS (SELECT greatest(coalesce(max(qts) OVER (ORDER BY arrival
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), qts)
        |    - qts, 0) AS late FROM q)
        |SELECT CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(coalesce(sum(CASE WHEN late > 0 THEN 1 END), 0)
        |    AS BIGINT) AS n_late,
        |  CAST(coalesce(sum(late), 0) AS BIGINT) AS sum_late,
        |  CAST(coalesce(max(late), 0) AS BIGINT) AS max_late
        |FROM l""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.when
        val ev = Tables.events(s, d).withColumn("arrival",
          when(col("event_id") % 10 === 0,
            col("event_id") * 10 + 5005)
            .otherwise(col("event_id") * 10))
        // shipped form is the SHARDED census (two-pass prefix-max — no
        // global-order window over the raw stream; the one-pass window
        // form stays the BehaviorSpec referee)
        Behavior.latenessCensusSharded(ev, tiebreakCol = "arrival",
          quantumNs = 1000L)
      }),

    // The FULL curation pipeline in one plan (Pipeline.cureAndMix):
    // keep-best dedup → fuzzy decontamination vs the 5% benchmark
    // split → quality-ensemble gate (vote ≥ 16 of 30) → split →
    // mix manifest — four oracle-checked stages composed verbatim; the
    // manifest totals are what actually ships (284 of 475 corpus docs
    // at this scale).
    q("q190_cure_and_mix",
      """WITH bkt AS (SELECT *, CAST(('0x' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
        |    % 1000 AS bucket FROM documents),
        |corpus AS (SELECT doc_id, text, source, n_chars FROM bkt
        |  WHERE bucket < 950),
        |bench AS (SELECT doc_id, text FROM bkt WHERE bucket >= 950),
        |fp AS (SELECT doc_id, md5(regexp_replace(trim(lower(text)),
        |    '[ \t\n\r\f]+', ' ', 'g')) AS fp,
        |    CAST(length(text) AS BIGINT) AS score FROM corpus),
        |kb AS (SELECT doc_id FROM (SELECT doc_id, row_number() OVER (
        |    PARTITION BY fp ORDER BY score DESC, doc_id) AS rn FROM fp)
        |  WHERE rn = 1),
        |ded AS (SELECT c.* FROM corpus c JOIN kb USING (doc_id)),
        |toksd AS (SELECT doc_id, list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), w -> length(w) > 0) AS t FROM ded),
        |shd AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS sh FROM toksd),
        |toksb AS (SELECT doc_id, list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), w -> length(w) > 0) AS t FROM bench),
        |shb AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS sh FROM toksb),
        |cpost AS (SELECT doc_id AS corpus_id, unnest(sh) AS item
        |  FROM shd),
        |bpost AS (SELECT doc_id AS bench_id, unnest(sh) AS item
        |  FROM shb),
        |bsz AS (SELECT doc_id AS bench_id, len(sh) AS n_b FROM shb
        |  WHERE len(sh) > 0),
        |inter AS (SELECT corpus_id, bench_id, count(*) AS n_inter
        |  FROM cpost JOIN bpost USING (item) GROUP BY 1, 2),
        |hits AS (SELECT DISTINCT corpus_id AS doc_id
        |  FROM inter JOIN bsz USING (bench_id)
        |  WHERE n_inter * 1000 >= 300 * n_b),
        |clean AS (SELECT d.* FROM ded d ANTI JOIN hits USING (doc_id)),
        |f AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      w -> len(w) > 0 AND w IN ('the','a','an','of','and','to',
        |        'in','is','it','for'))) * 1000
        |      // len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |        w -> len(w) > 0)) AS sp,
        |    len(list_distinct(list_filter(string_split_regex(text,
        |      '[ \t\n\r\f]+'), w -> len(w) > 0))) * 1000
        |      // len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |        w -> len(w) > 0)) AS tp,
        |    CAST(n_chars AS BIGINT) AS nc
        |  FROM clean WHERE len(list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), w -> len(w) > 0)) > 0),
        |votes AS (SELECT doc_id,
        |    ntile(10) OVER (ORDER BY sp, doc_id) +
        |    ntile(10) OVER (ORDER BY tp, doc_id) +
        |    ntile(10) OVER (ORDER BY nc, doc_id) AS vote FROM f),
        |gated AS (SELECT c.* FROM clean c JOIN votes USING (doc_id)
        |  WHERE votes.vote >= 16),
        |s AS (SELECT source, len(list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), w -> len(w) > 0)) AS nt,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |        1, 4)) AS INTEGER) % 1000 < 800 THEN 'train'
        |      WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |        1, 4)) AS INTEGER) % 1000 < 900 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM gated)
        |SELECT split, source, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bucket = Sampling.splitBucket(col("doc_id"))
        Pipeline.cureAndMix(docs.filter(bucket < 950),
          docs.filter(bucket >= 950))
      }),

    // Entry-type conversion (Behavior.entryConversion): each 4-hour
    // session attributed to its first event's type, scored by whether
    // it contains a purchase — the channel table q168 aggregates away.
    q("q191_entry_conversion",
      """WITH q AS (SELECT user_id, event_id, event_type, epoch_us(ts)
        |    AS qts FROM events),
        |s AS (SELECT user_id, qts, event_id, event_type,
        |    CASE WHEN qts - lag(qts) OVER (PARTITION BY user_id
        |        ORDER BY qts, event_id) < 14400000000
        |      THEN 0 ELSE 1 END AS brk FROM q),
        |w AS (SELECT user_id, qts, event_id, event_type,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY qts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM s),
        |fe AS (SELECT user_id, sess, event_type AS entry_type FROM (
        |    SELECT user_id, sess, event_type, row_number() OVER (
        |      PARTITION BY user_id, sess ORDER BY qts, event_id) AS rn
        |    FROM w) WHERE rn = 1),
        |conv AS (SELECT DISTINCT user_id, sess FROM w
        |  WHERE event_type = 'purchase'),
        |j AS (SELECT fe.entry_type,
        |    (conv.user_id IS NOT NULL) AS converted
        |  FROM fe LEFT JOIN conv ON fe.user_id = conv.user_id
        |    AND fe.sess = conv.sess)
        |SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(coalesce(sum(CASE WHEN converted THEN 1 END), 0)
        |    AS BIGINT) AS n_converted,
        |  CAST(coalesce(sum(CASE WHEN converted THEN 1 END), 0) * 1000
        |    // count(*) AS BIGINT) AS conv_permille
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Behavior.entryConversion(Tables.events(s, d),
        convType = "purchase", gapNs = 4L * 3600 * 1000000000L,
        quantumNs = 1000L)),

    // Truncation planner (Text.truncationPlan): docs over / token mass
    // lost at candidate max_seq_len values — the table the context
    // window is chosen from; one scan crossed with the literal list.
    q("q192_truncation_plan",
      """WITH d AS (SELECT len(list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), w -> len(w) > 0)) AS nt FROM documents),
        |L AS (SELECT unnest([32, 64, 128, 256]) AS max_len)
        |SELECT CAST(max_len AS BIGINT) AS max_len,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(CASE WHEN nt > max_len THEN 1 END), 0)
        |    AS BIGINT) AS n_truncated,
        |  CAST(coalesce(sum(CASE WHEN nt > max_len THEN nt - max_len
        |    END), 0) AS BIGINT) AS tokens_lost,
        |  CAST(coalesce(sum(CASE WHEN nt > max_len THEN nt - max_len
        |    END), 0) * 1000 // nullif(sum(nt), 0) AS BIGINT)
        |    AS lost_permille
        |FROM d CROSS JOIN L GROUP BY max_len
        |ORDER BY max_len""".stripMargin)(
      (s, d) => Text.truncationPlan(Tables.documents(s, d))),

    // Embedding quality census (Similarity.embeddingQualityCensus): the
    // vector data-quality gate — zero-vector counts (cosine-undefined;
    // the q26 family silently filters them, this makes them VISIBLE)
    // and quantized squared-norm ranges per label (q105 device).
    q("q193_embedding_quality",
      """WITH e AS (SELECT vec_id, label,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings),
        |pv AS (SELECT vec_id, label,
        |    CAST(sum(CAST(round(x * 1000) AS BIGINT) *
        |      CAST(round(x * 1000) AS BIGINT)) AS BIGINT) AS norm2_q
        |  FROM e GROUP BY 1, 2)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(coalesce(sum(CASE WHEN norm2_q = 0 THEN 1 END), 0)
        |    AS BIGINT) AS n_zero,
        |  CAST(min(norm2_q) AS BIGINT) AS min_norm2_q,
        |  CAST(max(norm2_q) AS BIGINT) AS max_norm2_q,
        |  CAST(sum(norm2_q) AS BIGINT) AS sum_norm2_q
        |FROM pv GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Similarity.embeddingQualityCensus(
        Tables.embeddings(s, d), scale = 1000)),

    // Ship-lag SLA census (Relational.shipLagCensus): per priority, how
    // late lineitems actually ship after the order date — day-exact
    // integers on CAST-to-DATE values, the q06 join discipline.
    q("q194_ship_lag",
      """WITH j AS (SELECT o.o_orderpriority AS priority,
        |    date_diff('day', CAST(o.o_orderdate AS DATE),
        |      CAST(l.l_shipdate AS DATE)) AS lag_days
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(coalesce(sum(CASE WHEN lag_days > 90 THEN 1 END), 0)
        |    AS BIGINT) AS n_late,
        |  CAST(sum(lag_days) AS BIGINT) AS sum_lag_days,
        |  CAST(max(lag_days) AS BIGINT) AS max_lag_days
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Relational.shipLagCensus(Tables.orders(s, d),
        Tables.lineitem(s, d), lateDays = 90)),

    // Repeat-customer revenue census (Relational.repeatCustomerCensus):
    // the retention-economics row — revenue share of ≥2-order
    // customers, exact cents throughout.
    q("q195_repeat_revenue",
      """WITH pc AS (SELECT o_custkey, count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(coalesce(sum(CASE WHEN n_orders >= 2 THEN 1 END), 0)
        |    AS BIGINT) AS n_repeat,
        |  CAST(sum(rev_cents) AS BIGINT) AS rev_cents_total,
        |  CAST(coalesce(sum(CASE WHEN n_orders >= 2 THEN rev_cents END),
        |    0) AS BIGINT) AS rev_cents_repeat,
        |  CAST(coalesce(sum(CASE WHEN n_orders >= 2 THEN rev_cents END),
        |    0) * 1000 // nullif(sum(rev_cents), 0) AS BIGINT)
        |    AS repeat_share_permille
        |FROM pc""".stripMargin)(
      (s, d) => Relational.repeatCustomerCensus(Tables.orders(s, d))),

    // Discount effectiveness curve (Relational.discountCurve): volume
    // and discounted revenue per whole-percent discount level, exact
    // cents with the identical expression shape in both engines.
    q("q196_discount_curve",
      """SELECT CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Relational.discountCurve(Tables.lineitem(s, d))),

    // Session path matrix (Behavior.sessionPathMatrix): how 4-hour
    // sessions begin × how they end — one sessionization exchange, one
    // per-session sort serving both endpoint row_numbers.
    q("q197_session_paths",
      """WITH q AS (SELECT user_id, event_id, event_type, epoch_us(ts)
        |    AS qts FROM events),
        |s AS (SELECT user_id, qts, event_id, event_type,
        |    CASE WHEN qts - lag(qts) OVER (PARTITION BY user_id
        |        ORDER BY qts, event_id) < 14400000000
        |      THEN 0 ELSE 1 END AS brk FROM q),
        |w AS (SELECT user_id, qts, event_id, event_type,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY qts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM s),
        |r AS (SELECT user_id, sess, event_type,
        |    row_number() OVER (PARTITION BY user_id, sess
        |      ORDER BY qts, event_id) AS rn,
        |    row_number() OVER (PARTITION BY user_id, sess
        |      ORDER BY qts DESC, event_id DESC) AS rnd FROM w),
        |fe AS (SELECT user_id, sess, event_type AS entry_type FROM r
        |  WHERE rn = 1),
        |le AS (SELECT user_id, sess, event_type AS exit_type FROM r
        |  WHERE rnd = 1)
        |SELECT fe.entry_type, le.exit_type,
        |  CAST(count(*) AS BIGINT) AS n_sessions
        |FROM fe JOIN le USING (user_id, sess)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => Behavior.sessionPathMatrix(Tables.events(s, d),
        gapNs = 4L * 3600 * 1000000000L, quantumNs = 1000L)),

    // Cohort revenue / LTV table (Relational.cohortRevenue): revenue by
    // acquisition-month cohort × months since — q104's revenue sibling,
    // integer month index and exact cents.
    q("q198_cohort_revenue",
      """WITH fo AS (SELECT o_custkey, min(year(o_orderdate) * 12 +
        |    month(o_orderdate) - 1) AS cohort_m FROM orders GROUP BY 1),
        |r AS (SELECT fo.cohort_m, (year(o.o_orderdate) * 12 +
        |      month(o.o_orderdate) - 1) - fo.cohort_m AS offset_m,
        |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey)
        |SELECT CAST(cohort_m AS BIGINT) AS cohort_m,
        |  CAST(offset_m AS BIGINT) AS offset_m,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS rev_cents
        |FROM r WHERE offset_m <= 3 GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)(
      (s, d) => Relational.cohortRevenue(Tables.orders(s, d),
        maxOffset = 3)),

    // Supplier redundancy (Relational.supplierRedundancy): parts by
    // distinct-supplier count — the supply-risk histogram.
    q("q199_supplier_redundancy",
      """WITH ps AS (SELECT l_partkey,
        |    count(DISTINCT l_suppkey) AS n_suppliers
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(n_suppliers AS BIGINT) AS n_suppliers,
        |  CAST(count(*) AS BIGINT) AS n_parts
        |FROM ps GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Relational.supplierRedundancy(Tables.lineitem(s, d))),

    // Hapax census (Text.hapaxCensus): per-source once-occurring-type
    // share — the vocabulary-health number complementing q147's Zipf
    // slope at the distribution's other end.
    q("q200_hapax_census",
      """WITH w AS (SELECT source,
        |    unnest(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      x -> len(x) > 0)) AS tok FROM documents),
        |c AS (SELECT source, tok, count(*) AS n FROM w GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(coalesce(sum(CASE WHEN n = 1 THEN 1 END), 0) AS BIGINT)
        |    AS n_hapax,
        |  CAST(coalesce(sum(CASE WHEN n = 1 THEN 1 END), 0) * 1000
        |    // count(*) AS BIGINT) AS hapax_permille
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Text.hapaxCensus(Tables.documents(s, d))),

    // Top-k full session paths (Behavior.topSessionPaths): the ordered
    // first-4-event type sequence per 4-hour session, counted, top 15 —
    // the r12 verdict's item-5 rung on the shared sessionized() helper;
    // ordered-struct collect + TakeOrderedAndProject, no global window.
    q("q201_top_session_paths",
      """WITH q AS (SELECT user_id, event_id, event_type, epoch_us(ts)
        |    AS qts FROM events),
        |s AS (SELECT user_id, qts, event_id, event_type,
        |    CASE WHEN qts - lag(qts) OVER (PARTITION BY user_id
        |        ORDER BY qts, event_id) < 14400000000
        |      THEN 0 ELSE 1 END AS brk FROM q),
        |w AS (SELECT user_id, qts, event_id, event_type,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY qts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM s),
        |r AS (SELECT user_id, sess, event_type,
        |    row_number() OVER (PARTITION BY user_id, sess
        |      ORDER BY qts, event_id) AS rn FROM w),
        |p AS (SELECT user_id, sess,
        |    string_agg(event_type, ' > ' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 4 GROUP BY 1, 2)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 15""".stripMargin)(
      (s, d) => Behavior.topSessionPaths(Tables.events(s, d),
        gapNs = 4L * 3600 * 1000000000L, depth = 4, k = 15,
        quantumNs = 1000L)),

    // Market-basket part pairs (Relational.basketPairs): unordered part
    // pairs co-bought in >= 2 orders with the q182 integer lift —
    // bounded by orders x (parts/order)^2, never lineitem^2.
    q("q202_basket_pairs",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |m AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
        |  FROM li GROUP BY 1),
        |t AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
        |    AS n_orders FROM li)
        |SELECT part_a, part_b, n_both,
        |  CAST(CAST(n_both AS HUGEINT) * t.n_orders * 1000000
        |    // (CAST(ma.n AS HUGEINT) * mb.n) AS BIGINT) AS lift_q6
        |FROM p JOIN m ma ON p.part_a = ma.l_partkey
        |JOIN m mb ON p.part_b = mb.l_partkey CROSS JOIN t
        |WHERE n_both >= 2 ORDER BY part_a, part_b""".stripMargin)(
      (s, d) => Relational.basketPairs(Tables.lineitem(s, d),
        minSupport = 2L)),

    // Bigram collocations by PMI (Text.collocationsPmi): adjacent word
    // pairs with count >= 5 scored ln(c12*N/(c1*c2)), top 30 — the
    // multi-word-expression miner on the q134 integer-log device.
    q("q203_collocations",
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      w -> length(w) > 0) AS t FROM documents),
        |uni AS (SELECT unnest(t) AS w FROM toks),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni
        |  GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uni),
        |big AS (SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM big
        |  GROUP BY 1, 2)
        |SELECT w1, w2, c2,
        |  CAST(round(1000000 * ln(CAST(c2 AS DOUBLE) * t.n /
        |    (CAST(u1.c AS DOUBLE) * u2.c))) AS BIGINT) AS pmi_q6
        |FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w
        |CROSS JOIN tot t WHERE c2 >= 5
        |ORDER BY pmi_q6 DESC, w1, w2 LIMIT 30""".stripMargin)(
      (s, d) => Text.collocationsPmi(Tables.documents(s, d),
        minCount = 5L, k = 30)),

    // Readability census (Text.readabilityCensus): per-source words/
    // sentence and chars/word per-mille — exact integer Flesch proxies.
    q("q204_readability",
      """WITH d AS (SELECT source,
        |    len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      w -> length(w) > 0)) AS nw,
        |    greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
        |      s -> length(trim(s)) > 0)), 1) AS ns,
        |    length(text) AS nc FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nw) AS BIGINT) AS n_words,
        |  CAST(sum(ns) AS BIGINT) AS n_sentences,
        |  CAST(sum(nw) * 1000 // nullif(sum(ns), 0) AS BIGINT)
        |    AS words_per_sent_permille,
        |  CAST(sum(nc) * 1000 // nullif(sum(nw), 0) AS BIGINT)
        |    AS chars_per_word_permille
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Text.readabilityCensus(Tables.documents(s, d))),

    // Inter-arrival log2 histogram (Behavior.interArrivalHistogram):
    // per-type gap-to-next-event buckets via integer bit arithmetic
    // (length(bin(gap))-1), NOT floor(log2(double)) — the burstiness
    // profile behind every session-gap choice.
    q("q205_interarrival_histogram",
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS qts,
        |    event_id FROM events),
        |g AS (SELECT event_type,
        |    lead(qts) OVER (PARTITION BY user_id
        |      ORDER BY qts, event_id) - qts AS gap FROM e)
        |SELECT event_type,
        |  CAST(length(printf('%b', gap)) - 1 AS BIGINT) AS log2_bucket,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM g WHERE gap IS NOT NULL AND gap > 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => Behavior.interArrivalHistogram(Tables.events(s, d),
        quantumNs = 1000L)),

    // Order-priority mix by nation (Relational.priorityMix): exact
    // per-mille service-level composition; customer shuffles (corpus-
    // scaled), nation broadcasts (25 rows).
    q("q206_priority_mix",
      """WITH o AS (SELECT n.n_name AS nation,
        |    o.o_orderpriority AS priority
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |cnt AS (SELECT nation, priority,
        |    CAST(count(*) AS BIGINT) AS n_orders FROM o GROUP BY 1, 2),
        |tot AS (SELECT nation, CAST(sum(n_orders) AS BIGINT) AS nn
        |  FROM cnt GROUP BY 1)
        |SELECT c.nation, c.priority, c.n_orders,
        |  CAST(c.n_orders * 1000 // nullif(t.nn, 0) AS BIGINT)
        |    AS share_permille
        |FROM cnt c JOIN tot t ON c.nation = t.nation
        |ORDER BY 1, 2""".stripMargin)(
      (s, d) => Relational.priorityMix(Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d))),

    // Supplier revenue Pareto (Profiling.paretoContribution re-pointed
    // at supplier revenue): which suppliers are 80% of revenue — the
    // q184 operator on a second business axis, exact cents.
    q("q207_supplier_pareto",
      """WITH c AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS w FROM lineitem GROUP BY 1),
        |x AS (SELECT l_suppkey, w,
        |    sum(w) OVER (ORDER BY w DESC, l_suppkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER () AS tot FROM c)
        |SELECT l_suppkey, w AS weight,
        |  CAST(w * 1000 // nullif(tot, 0) AS BIGINT) AS share_permille,
        |  CAST(cum * 1000 // nullif(tot, 0) AS BIGINT) AS cum_permille,
        |  (cum - w) * 1000 < 800 * tot AS in_head
        |FROM x ORDER BY weight DESC, l_suppkey""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.expr
        Profiling.paretoContribution(Tables.lineitem(s, d),
          "l_suppkey",
          expr("cast(round(l_extendedprice * (1 - l_discount) * 100)" +
            " as bigint)"),
          headPermille = 800L)
      }),

    // Day-of-week × hour activity heatmap (Behavior.activityHeatmap):
    // the seasonality grid — ≤168 cells with per-mille shares. dow is
    // pure integer epoch arithmetic (epoch day 0 = Thursday → +4), so
    // no calendar function is in the parity path.
    q("q208_activity_heatmap",
      """WITH e AS (SELECT epoch_us(ts) AS qts FROM events),
        |c AS (SELECT ((qts // 86400000000 + 4) % 7) AS dow,
        |    ((qts % 86400000000) // 3600000000) AS hod,
        |    CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c)
        |SELECT CAST(dow AS BIGINT) AS dow, CAST(hod AS BIGINT) AS hod,
        |  n, CAST(n * 1000 // t.tot AS BIGINT) AS share_permille
        |FROM c CROSS JOIN t ORDER BY 1, 2""".stripMargin)(
      (s, d) => Behavior.activityHeatmap(Tables.events(s, d),
        quantumNs = 1000L)),

    // Lag-1..7 autocorrelation of daily event counts
    // (Behavior.dailyAutocorrelation): the periodicity detector. All
    // five Pearson sums are exact integers (decimal(38,0)/HUGEINT);
    // only the final r touches doubles — identical IEEE ops both
    // engines — then ×1e6 quantization. √denA·√denB, never
    // √(denA·denB): the product needs ~50 digits.
    q("q209_daily_autocorr",
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |c AS (SELECT day, CAST(count(*) AS BIGINT) AS n FROM e
        |  GROUP BY 1),
        |ext AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
        |dense AS (SELECT g.d AS day, coalesce(c.n, 0) AS n
        |  FROM ext, unnest(generate_series(ext.d0, ext.d1)) AS g(d)
        |  LEFT JOIN c ON c.day = g.d),
        |lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
        |p AS (SELECT l.lag, a.n AS x, b.n AS y
        |  FROM lags l JOIN dense a ON true
        |  JOIN dense b ON b.day = a.day + l.lag),
        |s AS (SELECT lag, CAST(count(*) AS HUGEINT) AS np,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x*y) AS HUGEINT) AS sxy,
        |    CAST(sum(x*x) AS HUGEINT) AS sxx,
        |    CAST(sum(y*y) AS HUGEINT) AS syy
        |  FROM p GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, CAST(np AS BIGINT) AS n_pairs,
        |  CAST(round(1000000 * CAST(np*sxy - sx*sy AS DOUBLE) /
        |    nullif(sqrt(CAST(np*sxx - sx*sx AS DOUBLE)) *
        |           sqrt(CAST(np*syy - sy*sy AS DOUBLE)), 0)) AS BIGINT)
        |    AS acf_q6
        |FROM s ORDER BY 1""".stripMargin)(
      (s, d) => Behavior.dailyAutocorrelation(Tables.events(s, d),
        maxLag = 7, quantumNs = 1000L)),

    // Nation-pair trade flows (Relational.tradeFlows): the TPC-H Q7
    // two-dimension join topology — supplier nation × customer nation
    // revenue by ship year, domestic flow excluded, exact cents.
    q("q210_trade_flows",
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE n1.n_nationkey <> n2.n_nationkey
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)(
      (s, d) => Relational.tradeFlows(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d),
        Tables.supplier(s, d), Tables.nation(s, d))),

    // Duplicate-cluster size histogram (Dedup.clusterSizeHistogram):
    // the q61 cluster build + a log₂-bucket census (the q205 integer
    // bit device) — singleton share vs dup-chain mass at a glance.
    q("q211_cluster_size_histogram",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM px
        |  WHERE inter / (sza + szb - inter) >= 0.2),
        |und AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.node),
        |cl AS (SELECT node, min(lbl) AS cid FROM reach GROUP BY 1),
        |sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS sz FROM cl
        |  GROUP BY 1)
        |SELECT CAST(length(printf('%b', sz)) - 1 AS BIGINT)
        |    AS log2_bucket,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(sz) AS BIGINT) AS n_docs
        |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Dedup.clusterSizeHistogram(Tables.documents(s, d),
        n = 3, threshold = 0.2, maxDf = 1000L)),

    // Chunk-granularity duplicate census (Text.chunkDupCensus): after
    // q78's 64/48 windowing, the per-source share of chunks whose token
    // content recurs in ≥2 docs — the number doc-level dedup can't see
    // and span-removal (q171) changes. Chunks reduce to md5 in the
    // scan stage; only digests shuffle.
    q("q212_chunk_dup_census",
      s"""WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '${Text.ws}'),
        |      x -> len(x) > 0) AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, toks,
        |    unnest(range(0, CASE WHEN len(toks) <= 64 THEN 1
        |      ELSE (len(toks) - 64 + 47) // 48 + 1 END)) AS chunk_id
        |  FROM t),
        |ch AS (SELECT doc_id,
        |    md5(array_to_string(toks[chunk_id*48+1 : chunk_id*48+64],
        |      ' ')) AS h FROM c),
        |df AS (SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
        |  FROM ch GROUP BY 1),
        |j AS (SELECT d.source, df.nd FROM ch
        |  JOIN documents d USING (doc_id) JOIN df USING (h))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(coalesce(sum(CASE WHEN nd >= 2 THEN 1 END), 0) AS BIGINT)
        |    AS n_dup_chunks,
        |  CAST(coalesce(sum(CASE WHEN nd >= 2 THEN 1 END), 0) * 1000
        |    // count(*) AS BIGINT) AS dup_permille
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Text.chunkDupCensus(Tables.documents(s, d),
        window = 64, stride = 48, minDocs = 2)),

    // RFM segmentation (Relational.rfmSegments): recency/frequency/
    // monetary quartiles per customer via THREE sharded-ntile passes
    // (q155's bit-identical contract — the oracle's three global ntile
    // windows, none of which the engine runs as a single-task sort),
    // then the (r,f,m) segment census with exact-cents revenue.
    q("q213_rfm_segments",
      """WITH rfm AS (SELECT o_custkey AS custkey,
        |    CAST(max(epoch_us(o_orderdate) // 86400000000) AS BIGINT)
        |      AS last_day,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT custkey, cents,
        |    ntile(4) OVER (ORDER BY last_day, custkey) AS r,
        |    ntile(4) OVER (ORDER BY n_orders, custkey) AS f,
        |    ntile(4) OVER (ORDER BY cents, custkey) AS m
        |  FROM rfm)
        |SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
        |  CAST(m AS BIGINT) AS m,
        |  CAST(count(*) AS BIGINT) AS n_custs,
        |  CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)(
      (s, d) => Relational.rfmSegments(Tables.orders(s, d), k = 4)),

    // Large-order report (Relational.largeOrders): the TPC-H Q18
    // group-HAVING-then-rejoin topology — orders whose total line
    // quantity tops 300, joined back through the header to the
    // customer, top-100 by order value.
    q("q214_large_orders",
      """WITH qy AS (SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS BIGINT)) > 300)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey,
        |  CAST(epoch_us(o.o_orderdate) AS BIGINT) AS order_us,
        |  CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
        |  qy.total_qty
        |FROM qy JOIN orders o ON qy.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY total_cents DESC, o.o_orderkey LIMIT 100""".stripMargin)(
      (s, d) => Relational.largeOrders(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d),
        minQty = 300L, k = 100)),

    // Dormant high-balance customers (Relational.dormantHighBalance):
    // the TPC-H Q22 shape — scalar-average broadcast + anti join
    // against the recent-customer set, nation census.
    q("q215_dormant_customers",
      """WITH t AS (SELECT avg(c_acctbal) AS ab FROM customer
        |  WHERE c_acctbal > 0.0),
        |recent AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE year(o_orderdate) >= 2000)
        |SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_custs,
        |  CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS bal_cents
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey, t
        |WHERE c.c_acctbal > t.ab
        |  AND NOT EXISTS (SELECT 1 FROM recent r
        |    WHERE r.o_custkey = c.c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Relational.dormantHighBalance(Tables.customer(s, d),
        Tables.orders(s, d), Tables.nation(s, d), sinceYear = 2000)),

    // Top supplier(s) by 1996 ship revenue (Relational
    // .topSupplierByRevenue): the TPC-H Q15 view-max-view shape with
    // ties KEPT — per-supplier revenue, 1-row max broadcast back.
    q("q216_top_supplier",
      """WITH r AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
        |      * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1),
        |m AS (SELECT max(rev_cents) AS mx FROM r)
        |SELECT s.s_suppkey, s.s_name, r.rev_cents
        |FROM r JOIN m ON r.rev_cents = m.mx
        |JOIN supplier s ON s.s_suppkey = r.l_suppkey
        |ORDER BY s.s_suppkey""".stripMargin)(
      (s, d) => Relational.topSupplierByRevenue(Tables.lineitem(s, d),
        Tables.supplier(s, d), shipYear = 1996)),

    // Brand revenue-share gate (Relational.brandRevenueShare): the
    // TPC-H Q11 shape — groups clearing a permille share of the GLOBAL
    // total; the share product runs decimal(38,0)/HUGEINT.
    q("q217_brand_share",
      """WITH r AS (SELECT p.p_brand,
        |    CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |      * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(rev) AS HUGEINT) AS tot FROM r)
        |SELECT r.p_brand, r.rev AS revenue_cents,
        |  CAST(CAST(r.rev AS HUGEINT) * 1000 // t.tot AS BIGINT)
        |    AS share_permille
        |FROM r, t WHERE CAST(r.rev AS HUGEINT) * 1000 >= 15 * t.tot
        |ORDER BY revenue_cents DESC, p_brand""".stripMargin)(
      (s, d) => Relational.brandRevenueShare(Tables.lineitem(s, d),
        Tables.part(s, d), thresholdPermille = 15L)),

    // Min-cost supplier per part (Relational.minCostSupplierCensus):
    // the TPC-H Q2 argmin re-expressed from observed line prices —
    // min(struct) argmin with suppkey tiebreak, per-winner census.
    q("q218_min_cost_supplier",
      """WITH c AS (SELECT l_partkey, l_suppkey,
        |    CAST(min(CAST(round(l_extendedprice * 100 /
        |      nullif(CAST(l_quantity AS BIGINT), 0)) AS BIGINT))
        |      AS BIGINT) AS unit_cents
        |  FROM lineitem GROUP BY 1, 2),
        |b AS (SELECT l_partkey, min(unit_cents) AS best FROM c
        |  GROUP BY 1),
        |w AS (SELECT c.l_partkey, min(c.l_suppkey) AS best_supp
        |  FROM c JOIN b ON c.l_partkey = b.l_partkey
        |    AND c.unit_cents = b.best GROUP BY 1),
        |j AS (SELECT w.best_supp, b.best FROM w
        |  JOIN b ON w.l_partkey = b.l_partkey)
        |SELECT s.s_suppkey, s.s_name,
        |  CAST(count(*) AS BIGINT) AS n_parts_won,
        |  CAST(sum(best) AS BIGINT) AS sum_best_cents
        |FROM j JOIN supplier s ON s.s_suppkey = j.best_supp
        |GROUP BY 1, 2
        |ORDER BY n_parts_won DESC, s_suppkey""".stripMargin)(
      (s, d) => Relational.minCostSupplierCensus(Tables.lineitem(s, d),
        Tables.supplier(s, d))),

    // Event-type Markov transitions (Behavior.transitionMatrix): one
    // user-keyed lead window → |types|²-bounded census with per-mille
    // row-normalized probabilities.
    q("q219_transition_matrix",
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS qts,
        |    event_id FROM events),
        |p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY qts, event_id) AS to_type FROM e),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS t FROM c
        |  GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  CAST(c.n * 1000 // tot.t AS BIGINT) AS p_permille
        |FROM c JOIN tot ON c.from_type = tot.from_type
        |ORDER BY 1, 2""".stripMargin)(
      (s, d) => Behavior.transitionMatrix(Tables.events(s, d),
        quantumNs = 1000L)),

    // CUSUM changepoint scan (Behavior.cusumChangepoint): integer-
    // scaled S_i = D·P_i − i·T over the dense daily series; the peak
    // |S| day flags the level shift. Days-bounded ordered window (the
    // q209 regime).
    q("q220_cusum_changepoint",
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |c AS (SELECT day, CAST(count(*) AS BIGINT) AS n FROM e
        |  GROUP BY 1),
        |ext AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
        |dense AS (SELECT g.d AS day, coalesce(c.n, 0) AS n
        |  FROM ext, unnest(generate_series(ext.d0, ext.d1)) AS g(d)
        |  LEFT JOIN c ON c.day = g.d),
        |s AS (SELECT day, n,
        |    CAST(sum(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS HUGEINT) AS pre,
        |    CAST(row_number() OVER (ORDER BY day) AS HUGEINT) AS i,
        |    CAST(count(*) OVER () AS HUGEINT) AS dd,
        |    CAST(sum(n) OVER () AS HUGEINT) AS tot
        |  FROM dense)
        |SELECT CAST(day AS BIGINT) AS day, n,
        |  CAST(dd * pre - i * tot AS BIGINT) AS cusum_scaled,
        |  abs(CAST(dd * pre - i * tot AS BIGINT)) =
        |    (SELECT max(abs(CAST(dd*pre - i*tot AS BIGINT))) FROM s)
        |    AS is_peak
        |FROM s ORDER BY day""".stripMargin)(
      (s, d) => Behavior.cusumChangepoint(Tables.events(s, d),
        quantumNs = 1000L)),

    // Time-to-convert deciles (Behavior.conversionDeciles): first view
    // → first purchase at-or-after it per user, delta bucketed by the
    // q155 sharded-ntile contract, per-bucket min/max/count/sum.
    q("q221_conversion_deciles",
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS qts
        |  FROM events),
        |v AS (SELECT user_id, min(qts) AS v0 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.qts) AS p0 FROM e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.qts >= v.v0 GROUP BY 1),
        |d AS (SELECT v.user_id, p.p0 - v.v0 AS delta_us FROM v
        |  JOIN p ON v.user_id = p.user_id),
        |b AS (SELECT user_id, delta_us,
        |    ntile(10) OVER (ORDER BY delta_us, user_id) AS bucket
        |  FROM d)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(min(delta_us) AS BIGINT) AS min_us,
        |  CAST(max(delta_us) AS BIGINT) AS max_us,
        |  CAST(sum(delta_us) AS BIGINT) AS sum_us
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Behavior.conversionDeciles(Tables.events(s, d),
        fromType = "view", toType = "purchase", k = 10,
        quantumNs = 1000L)),

    // TF-IDF top terms per source (Text.tfidfSourceTerms): (source,
    // token)
    // census × inverse source frequency, per-term ×1e6 quantization
    // (ln parity, the q134 precedent), source-keyed top-10.
    q("q222_tfidf_terms",
      """WITH w AS (SELECT source,
        |    unnest(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      x -> len(x) > 0)) AS word FROM documents),
        |f AS (SELECT source, word, CAST(count(*) AS BIGINT) AS tf
        |  FROM w GROUP BY 1, 2),
        |df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM f
        |  GROUP BY 1),
        |ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_src
        |  FROM f),
        |sc AS (SELECT f.source, f.word, f.tf, df.df,
        |    CAST(round(1000000 * f.tf *
        |      ln(CAST(ns.n_src AS DOUBLE) / df.df)) AS BIGINT)
        |      AS score_q6
        |  FROM f JOIN df ON f.word = df.word CROSS JOIN ns),
        |r AS (SELECT source, word, tf, df, score_q6,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY score_q6 DESC, word) AS rk FROM sc)
        |SELECT source, CAST(rk AS BIGINT) AS rank, word, tf, df,
        |  score_q6
        |FROM r WHERE rk <= 10 ORDER BY source, rank""".stripMargin)(
      (s, d) => Text.tfidfSourceTerms(Tables.documents(s, d), k = 10)),
    // Late-order census (Relational.lateOrderCensus): the TPC-H Q4
    // EXISTS topology — orders with ≥1 lineitem shipped >365 days
    // after the order date, one row per priority; semi join keeps the
    // per-order (not per-line) count.
    q("q223_late_order_census",
      """WITH late AS (SELECT DISTINCT l.l_orderkey FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE date_diff('day', CAST(o.o_orderdate AS DATE),
        |    CAST(l.l_shipdate AS DATE)) > 365)
        |SELECT o.o_orderpriority AS priority,
        |  CAST(count(*) AS BIGINT) AS n_late
        |FROM orders o WHERE EXISTS (SELECT 1 FROM late
        |  WHERE late.l_orderkey = o.o_orderkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Relational.lateOrderCensus(Tables.orders(s, d),
        Tables.lineitem(s, d), lateDays = 365)),

    // Order-count distribution (Relational.orderCountDistribution):
    // the TPC-H Q13 histogram — customers by how many orders they
    // placed, zero-order customers included via the left join.
    q("q224_order_count_distribution",
      """WITH pc AS (SELECT c.c_custkey,
        |    CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey GROUP BY 1)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM pc GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC LIMIT 40""".stripMargin)(
      (s, d) => Relational.orderCountDistribution(Tables.customer(s, d),
        Tables.orders(s, d), k = 40)),

    // Dominant suppliers (Relational.dominantSuppliers): the TPC-H Q20
    // excess-threshold shape — suppliers shipping >20% of a part's
    // quantity, nation census of who they are and how many parts.
    q("q225_dominant_suppliers",
      """WITH sq AS (SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |tq AS (SELECT l_partkey, CAST(sum(q) AS BIGINT) AS tot
        |  FROM sq GROUP BY 1),
        |dom AS (SELECT sq.l_suppkey, CAST(count(*) AS BIGINT) AS n_parts
        |  FROM sq JOIN tq ON sq.l_partkey = tq.l_partkey
        |  WHERE sq.q * 1000 > 200 * tq.tot GROUP BY 1)
        |SELECT n.n_name AS nation,
        |  CAST(count(*) AS BIGINT) AS n_suppliers,
        |  CAST(sum(n_parts) AS BIGINT) AS parts_dominated
        |FROM dom JOIN supplier s ON dom.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Relational.dominantSuppliers(Tables.lineitem(s, d),
        Tables.supplier(s, d), Tables.nation(s, d),
        thresholdPermille = 200L)),

    // Sole-late suppliers (Relational.soleLateSuppliers): the TPC-H
    // Q21 topology — on ≥2-supplier orders, the supplier who was the
    // ONLY late one; top-20 by blame count.
    q("q226_sole_late_supplier",
      """WITH lag AS (SELECT l.l_orderkey, l.l_suppkey,
        |    max(date_diff('day', CAST(o.o_orderdate AS DATE),
        |      CAST(l.l_shipdate AS DATE))) AS lag_d
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |m AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_supp,
        |    CAST(sum(CASE WHEN lag_d > 365 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_late
        |  FROM lag GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name,
        |  CAST(count(*) AS BIGINT) AS n_waits
        |FROM lag JOIN m ON lag.l_orderkey = m.l_orderkey
        |JOIN supplier s ON s.s_suppkey = lag.l_suppkey
        |WHERE m.n_supp >= 2 AND m.n_late = 1 AND lag.lag_d > 365
        |GROUP BY 1, 2
        |ORDER BY n_waits DESC, s_suppkey LIMIT 20""".stripMargin)(
      (s, d) => Relational.soleLateSuppliers(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.supplier(s, d),
        lateDays = 365, k = 20)),

    // Brand market share by year (Relational.brandMarketShare): the
    // TPC-H Q8 share shape — Brand#1's permille of all-brand revenue
    // per order year, share product in decimal(38,0)/HUGEINT.
    q("q227_market_share",
      """WITH rev AS (SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
        |    p.p_brand,
        |    CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |      * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey GROUP BY 1, 2),
        |tot AS (SELECT yr, CAST(sum(cents) AS HUGEINT) AS t FROM rev
        |  GROUP BY 1)
        |SELECT r.yr AS year, r.cents AS brand_cents,
        |  CAST(t.t AS BIGINT) AS total_cents,
        |  CAST(CAST(r.cents AS HUGEINT) * 1000 // t.t AS BIGINT)
        |    AS share_permille
        |FROM rev r JOIN tot t ON r.yr = t.yr
        |WHERE r.p_brand = 'Brand#1' ORDER BY 1""".stripMargin)(
      (s, d) => Relational.brandMarketShare(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.part(s, d), brand = "Brand#1")),

    // Above-customer-average orders (Relational.aboveAverageOrders):
    // the correlated-scalar decorrelation — orders beating their own
    // customer's average value (exact cents·n > total, no division),
    // census by priority.
    q("q228_above_avg_orders",
      """WITH oc AS (SELECT o_custkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |ca AS (SELECT o_custkey AS ck, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS tot FROM oc GROUP BY 1)
        |SELECT oc.o_orderpriority AS priority,
        |  CAST(count(*) AS BIGINT) AS n_above,
        |  CAST(sum(oc.cents) AS BIGINT) AS cents_above
        |FROM oc JOIN ca ON oc.o_custkey = ca.ck
        |WHERE oc.cents * ca.n > ca.tot AND ca.n >= 2
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Relational.aboveAverageOrders(Tables.orders(s, d),
        minOrders = 2L)),

    // Behavioral entropy deciles (Behavior.entropyDeciles): per-user
    // event-type Shannon entropy via the integer ln-device (each term
    // round(1e6·n·ln n) BEFORE the decimal(38,0) sum), q155-contract
    // buckets.
    q("q229_entropy_deciles",
      """WITH cnt AS (SELECT user_id, event_type,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |u AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS tot,
        |    CAST(sum(CAST(round(1000000 * n * ln(n)) AS BIGINT))
        |      AS HUGEINT) AS sterm
        |  FROM cnt GROUP BY 1),
        |h AS (SELECT user_id,
        |    CAST(round(1000000 * ln(tot)) AS BIGINT)
        |      - CAST(sterm // tot AS BIGINT) AS h_q6 FROM u),
        |b AS (SELECT user_id, h_q6,
        |    ntile(10) OVER (ORDER BY h_q6, user_id) AS bucket FROM h)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(min(h_q6) AS BIGINT) AS min_q6,
        |  CAST(max(h_q6) AS BIGINT) AS max_q6,
        |  CAST(sum(h_q6) AS BIGINT) AS sum_q6
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Behavior.entropyDeciles(Tables.events(s, d), k = 10)),

    // Type correlation matrix (Behavior.typeCorrelationMatrix):
    // pairwise Pearson over dense-filled per-type daily series —
    // integer sums in decimal(38,0)/HUGEINT, one sqrt·sqrt division
    // in double per pair (q165 sqrt rule).
    q("q230_type_correlation",
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    event_type FROM events),
        |cd AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2),
        |ext AS (SELECT min(day) AS d0, max(day) AS d1 FROM cd),
        |ty AS (SELECT DISTINCT event_type FROM cd),
        |dense AS (SELECT g.d AS day, ty.event_type,
        |    coalesce(cd.n, 0) AS n
        |  FROM ext, unnest(generate_series(ext.d0, ext.d1)) AS g(d)
        |  CROSS JOIN ty LEFT JOIN cd ON cd.day = g.d
        |    AND cd.event_type = ty.event_type),
        |p AS (SELECT a.event_type AS t1, b.event_type AS t2,
        |    CAST(count(*) AS HUGEINT) AS nn,
        |    CAST(sum(a.n) AS HUGEINT) AS sx,
        |    CAST(sum(b.n) AS HUGEINT) AS sy,
        |    CAST(sum(a.n * b.n) AS HUGEINT) AS sxy,
        |    CAST(sum(a.n * a.n) AS HUGEINT) AS sxx,
        |    CAST(sum(b.n * b.n) AS HUGEINT) AS syy
        |  FROM dense a JOIN dense b ON a.day = b.day
        |    AND a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT t1, t2, CAST(nn AS BIGINT) AS n_days,
        |  CAST(round(1000000 * CAST(nn * sxy - sx * sy AS DOUBLE) /
        |    nullif(sqrt(CAST(nn * sxx - sx * sx AS DOUBLE)) *
        |      sqrt(CAST(nn * syy - sy * sy AS DOUBLE)), 0))
        |    AS BIGINT) AS r_q6
        |FROM p ORDER BY 1, 2""".stripMargin)(
      (s, d) => Behavior.typeCorrelationMatrix(Tables.events(s, d),
        quantumNs = 1000L)),

    // PII-exposure census (Text.piiCensus): deterministic synthetic
    // PII planted on doc_id residues (the q66 device — both sides
    // build the identical text), then the three redaction patterns as
    // detection predicates, per-source counts + any-PII permille.
    q("q231_pii_census",
      s"""WITH pii AS (SELECT source, text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
        |      || CAST(doc_id AS VARCHAR) || '@example.com'
        |      ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN
        |      ' see https://example.org/d/' || CAST(doc_id AS VARCHAR)
        |      ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' call 555-'
        |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS text
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN regexp_matches(text,
        |    '${Text.emailPattern}') THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_email,
        |  CAST(sum(CASE WHEN regexp_matches(text,
        |    '${Text.urlPattern}') THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_url,
        |  CAST(sum(CASE WHEN regexp_matches(text,
        |    '${Text.phoneGuardedPattern}') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_phone,
        |  CAST(sum(CASE WHEN regexp_matches(text,
        |      '${Text.emailPattern}')
        |    OR regexp_matches(text, '${Text.urlPattern}')
        |    OR regexp_matches(text, '${Text.phoneGuardedPattern}')
        |    THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
        |    AS any_permille
        |FROM pii GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{concat, lit, lpad, when}
        val planted = Tables.documents(s, d).select(col("source"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" contact user"), col("doc_id").cast("string"),
                lit("@example.com"))).otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit(" see https://example.org/d/"),
                col("doc_id").cast("string"))).otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              concat(lit(" call 555-"),
                lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
                lit("-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
              .otherwise(lit(""))).as("text"))
        Text.piiCensus(planted)
      }),
    // Centroid-assignment drift (Similarity.centroidAssignmentDrift):
    // frozen ±64 octant grid on the first 3 quantized dims, exact
    // integer argmin (min(d²·8+cell) mod 8), occupancy old (even
    // vec_id) vs new (odd) — the retrain-the-quantizer check.
    q("q232_assignment_drift",
      """WITH codes AS (SELECT vec_id,
        |    CAST(least(greatest(round(CAST(embedding[1] AS DOUBLE)
        |      * 127), -127), 127) AS BIGINT) AS c0,
        |    CAST(least(greatest(round(CAST(embedding[2] AS DOUBLE)
        |      * 127), -127), 127) AS BIGINT) AS c1,
        |    CAST(least(greatest(round(CAST(embedding[3] AS DOUBLE)
        |      * 127), -127), 127) AS BIGINT) AS c2
        |  FROM embeddings),
        |cents AS (SELECT * FROM (VALUES
        |  (0, -64, -64, -64), (1, -64, -64, 64), (2, -64, 64, -64),
        |  (3, -64, 64, 64), (4, 64, -64, -64), (5, 64, -64, 64),
        |  (6, 64, 64, -64), (7, 64, 64, 64)) AS t(cell, m0, m1, m2)),
        |scored AS (SELECT vec_id, cell,
        |    (c0-m0)*(c0-m0) + (c1-m1)*(c1-m1) + (c2-m2)*(c2-m2) AS d2
        |  FROM codes CROSS JOIN cents),
        |assigned AS (SELECT vec_id,
        |    CAST(min(d2 * 8 + cell) % 8 AS BIGINT) AS cell
        |  FROM scored GROUP BY 1)
        |SELECT cell,
        |  CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_old,
        |  CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new,
        |  CAST((sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
        |      - sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)) * 1000
        |    // nullif(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END),
        |      0) AS BIGINT) AS drift_permille
        |FROM assigned GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Similarity.centroidAssignmentDrift(
        Tables.embeddings(s, d))),

    // Label-centroid distance matrix (Similarity
    // .labelCentroidDistances): class-separability audit on the q105
    // quantized sums — d2_scaled = Σ(n_b·s_a − n_a·s_b)², exact, no
    // division.
    q("q233_label_distances",
      """WITH e AS (SELECT label, unnest(embedding) AS x,
        |    unnest(range(0, len(embedding))) AS pos FROM embeddings),
        |q AS (SELECT label, pos,
        |    CAST(least(greatest(round(CAST(x AS DOUBLE)*127), -127),
        |      127) AS BIGINT) AS code FROM e),
        |s AS (SELECT label, pos, CAST(sum(code) AS BIGINT) AS sc
        |  FROM q GROUP BY 1, 2),
        |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n
        |  FROM embeddings GROUP BY 1),
        |j AS (SELECT a.label AS la, b.label AS lb, a.pos,
        |    CAST(nb.n AS HUGEINT) * a.sc - CAST(na.n AS HUGEINT) * b.sc
        |      AS diff
        |  FROM s a JOIN s b ON a.pos = b.pos AND a.label < b.label
        |  JOIN n na ON na.label = a.label
        |  JOIN n nb ON nb.label = b.label)
        |SELECT la AS label_a, lb AS label_b,
        |  CAST(sum(diff * diff) AS BIGINT) AS d2_scaled
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => Similarity.labelCentroidDistances(
        Tables.embeddings(s, d))),

    // Language purity (Text.langPurity): per-source language mix +
    // dominant-language permille — the language-ID audit before
    // per-language tokenizer routing.
    q("q234_lang_purity",
      """WITH lc AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS n_langs FROM lc GROUP BY 1),
        |r AS (SELECT source, lang, n, row_number() OVER (
        |    PARTITION BY source ORDER BY n DESC, lang) AS rk FROM lc),
        |d AS (SELECT source, lang AS top_lang, n AS top_n FROM r
        |  WHERE rk = 1)
        |SELECT t.source, t.n_langs, d.top_lang,
        |  CAST(d.top_n * 1000 // t.tot AS BIGINT) AS purity_permille
        |FROM t JOIN d ON t.source = d.source
        |ORDER BY 1""".stripMargin)(
      (s, d) => Text.langPurity(Tables.documents(s, d))),

    // Monthly order backlog (Relational.orderBacklog): placed vs
    // fully-shipped per month, dense-filled, running net — the
    // open-order operations series (months-bounded window).
    q("q235_order_backlog",
      """WITH pm AS (SELECT CAST(year(o_orderdate)*12
        |      + month(o_orderdate) - 1 AS BIGINT) AS m,
        |    CAST(count(*) AS BIGINT) AS placed FROM orders GROUP BY 1),
        |lo AS (SELECT l_orderkey, max(l_shipdate) AS last_ship
        |  FROM lineitem GROUP BY 1),
        |sm AS (SELECT CAST(year(last_ship)*12 + month(last_ship) - 1
        |      AS BIGINT) AS m,
        |    CAST(count(*) AS BIGINT) AS shipped FROM lo GROUP BY 1),
        |allm AS (SELECT m FROM pm UNION ALL SELECT m FROM sm),
        |ext AS (SELECT min(m) AS m0, max(m) AS m1 FROM allm),
        |dense AS (SELECT g.d AS m, coalesce(pm.placed, 0) AS placed,
        |    coalesce(sm.shipped, 0) AS shipped
        |  FROM ext, unnest(generate_series(ext.m0, ext.m1)) AS g(d)
        |  LEFT JOIN pm ON pm.m = g.d LEFT JOIN sm ON sm.m = g.d)
        |SELECT m AS month_idx, placed, shipped,
        |  CAST(sum(placed - shipped) OVER (ORDER BY m ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
        |FROM dense ORDER BY 1""".stripMargin)(
      (s, d) => Relational.orderBacklog(Tables.orders(s, d),
        Tables.lineitem(s, d))),

    // Purchase intensity by entropy decile (Behavior
    // .intensityByEntropyDecile): the q229 entropy device feeding a
    // per-bucket purchase-share report — entropy as a segmentation.
    q("q236_intensity_by_entropy",
      """WITH cnt AS (SELECT user_id, event_type,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |u AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS tot,
        |    CAST(sum(CAST(round(1000000 * n * ln(n)) AS BIGINT))
        |      AS HUGEINT) AS sterm
        |  FROM cnt GROUP BY 1),
        |h AS (SELECT user_id,
        |    CAST(round(1000000 * ln(tot)) AS BIGINT)
        |      - CAST(sterm // tot AS BIGINT) AS h_q6 FROM u),
        |b AS (SELECT user_id, ntile(10) OVER (ORDER BY h_q6, user_id)
        |    AS bucket FROM h),
        |pur AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_pur
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |tot AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_all
        |  FROM events GROUP BY 1)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(coalesce(pur.n_pur, 0)) AS BIGINT) AS n_purchases,
        |  CAST(sum(tot.n_all) AS BIGINT) AS n_events,
        |  CAST(sum(coalesce(pur.n_pur, 0)) * 1000 // sum(tot.n_all)
        |    AS BIGINT) AS intensity_permille
        |FROM b JOIN tot ON b.user_id = tot.user_id
        |LEFT JOIN pur ON b.user_id = pur.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Behavior.intensityByEntropyDecile(Tables.events(s, d),
        purchaseType = "purchase", k = 10)),

    // Revenue concentration by year (Relational.revenueConcentration):
    // brand HHI — 10⁶·Σcents²/(Σcents)², decimal(38,0)/HUGEINT, one
    // integer division; the market-structure view behind q227.
    q("q237_revenue_concentration",
      """WITH rev AS (SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
        |    p.p_brand,
        |    CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |      * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey GROUP BY 1, 2)
        |SELECT yr AS year, CAST(count(*) AS BIGINT) AS n_brands,
        |  CAST(sum(CAST(cents AS HUGEINT) * cents) * 1000000
        |    // (CAST(sum(cents) AS HUGEINT) * sum(cents)) AS BIGINT)
        |    AS hhi_q6
        |FROM rev GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Relational.revenueConcentration(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.part(s, d))),

    // Bounce rate per entry type (Behavior.bounceRate): share of
    // 4-hour sessions that end after their first event, attributed to
    // that event's type — rides the shared sessionized() exchange.
    q("q238_bounce_rate",
      """WITH q AS (SELECT user_id, event_id, event_type, epoch_us(ts)
        |    AS qts FROM events),
        |s AS (SELECT user_id, qts, event_id, event_type,
        |    CASE WHEN qts - lag(qts) OVER (PARTITION BY user_id
        |        ORDER BY qts, event_id) < 14400000000
        |      THEN 0 ELSE 1 END AS brk FROM q),
        |w AS (SELECT user_id, qts, event_id, event_type,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY qts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM s),
        |r AS (SELECT user_id, sess, event_type,
        |    row_number() OVER (PARTITION BY user_id, sess
        |      ORDER BY qts, event_id) AS rk,
        |    count(*) OVER (PARTITION BY user_id, sess) AS n_ev FROM w),
        |agg AS (SELECT event_type AS entry_type,
        |    CAST(n_ev AS BIGINT) AS n_ev FROM r WHERE rk = 1)
        |SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounce,
        |  CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) * 1000
        |    // count(*) AS BIGINT) AS bounce_permille
        |FROM agg GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Behavior.bounceRate(Tables.events(s, d),
        gapNs = 4L * 3600 * 1000000000L, quantumNs = 1000L)),
    // Cadence regularity deciles (Behavior.cadenceRegularityDeciles):
    // CV² of inter-purchase gaps per user (integer sums, one double
    // division — the q230 device), sharded-ntile buckets. CV²≈0 is
    // bot-shaped regularity.
    q("q239_cadence_regularity",
      """WITH p AS (SELECT user_id, epoch_us(ts) AS qts, event_id
        |  FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT user_id, qts - lag(qts) OVER (PARTITION BY user_id
        |    ORDER BY qts, event_id) AS gap FROM p),
        |s AS (SELECT user_id, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(gap) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS sxx
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1 HAVING count(*) >= 2),
        |cv AS (SELECT user_id,
        |    CAST(round(1000000 * CAST(n * (n * sxx - sx * sx) AS DOUBLE)
        |      / CAST((n - 1) * sx * sx AS DOUBLE)) AS BIGINT) AS cv2_q6
        |  FROM s),
        |b AS (SELECT user_id, cv2_q6,
        |    ntile(10) OVER (ORDER BY cv2_q6, user_id) AS bucket FROM cv)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(min(cv2_q6) AS BIGINT) AS min_q6,
        |  CAST(max(cv2_q6) AS BIGINT) AS max_q6
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Behavior.cadenceRegularityDeciles(Tables.events(s, d),
        eventType = "purchase", k = 10, quantumNs = 1000L)),

    // Hill tail index (Profiling.hillTailIndex): 1/α̂ over the top-20
    // user activity counts, per-term ×1e6 ln quantization — the
    // heavy-tail exponent check.
    q("q240_hill_tail_index",
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |r AS (SELECT user_id, n, row_number() OVER (ORDER BY n DESC,
        |    user_id) AS rk FROM u),
        |k AS (SELECT n AS xk FROM r WHERE rk = 20),
        |t AS (SELECT CAST(round(1000000 * ln(CAST(r.n AS DOUBLE)
        |      / k.xk)) AS BIGINT) AS term
        |  FROM r, k WHERE r.rk < 20)
        |SELECT CAST(count(*) AS BIGINT) AS k_minus_1,
        |  CAST(sum(term) AS BIGINT) AS sum_ln_q6,
        |  CAST(sum(term) // count(*) AS BIGINT) AS alpha_inv_q6
        |FROM t""".stripMargin)(
      (s, d) => Profiling.hillTailIndex(Tables.events(s, d), k = 20)),

    // SRM check (Sampling.srmCheck): md5-bucket A/B assignment on
    // distinct users + the χ²-against-50/50 imbalance statistic — the
    // experiment-readout gate.
    q("q241_srm_check",
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id
        |      AS VARCHAR)), 1, 4)) AS INTEGER) % 1000 < 500
        |    THEN 'A' ELSE 'B' END AS arm FROM u),
        |cnt AS (SELECT
        |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b FROM a)
        |SELECT n_a, n_b,
        |  CAST((n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b)
        |    AS BIGINT) AS srm_q6
        |FROM cnt""".stripMargin)(
      (s, d) => Sampling.srmCheck(Tables.events(s, d),
        permille = 500L)),

    // HLL cardinality audit (Profiling.hllCardinalityAudit): exact
    // distinct 3-gram shingles per source next to a PINNED
    // within-bound check on Spark's HLL++ estimate (the q176 CMS-audit
    // device — the estimate itself is engine-private, the BOUND is the
    // contract).
    q("q242_hll_audit",
      """WITH toks AS (SELECT doc_id, source,
        |    list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      w -> length(w) > 0) AS t FROM documents),
        |sh AS (SELECT source, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' ')))) AS sh FROM toks)
        |SELECT source, CAST(count(DISTINCT sh) AS BIGINT) AS n_exact,
        |  TRUE AS approx_ok
        |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Profiling.hllCardinalityAudit(Tables.documents(s, d),
        n = 3, rsd = 0.05, tol = 0.15)),

    // Trending types (Behavior.trendingTypes): day-over-day type-share
    // momentum — per (day, type) count, permille share, delta vs the
    // prior day (NULL on each type's first day).
    q("q243_trending_types",
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    event_type FROM events),
        |cd AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2),
        |t AS (SELECT day, CAST(sum(n) AS BIGINT) AS tot FROM cd
        |  GROUP BY 1),
        |s AS (SELECT cd.day, cd.event_type, cd.n,
        |    CAST(cd.n * 1000 // t.tot AS BIGINT) AS share_pm
        |  FROM cd JOIN t ON cd.day = t.day),
        |d AS (SELECT day, event_type, n, share_pm,
        |    share_pm - lag(share_pm) OVER (PARTITION BY event_type
        |      ORDER BY day) AS delta_pm FROM s)
        |SELECT CAST(day AS BIGINT) AS day, event_type, n, share_pm,
        |  CAST(delta_pm AS BIGINT) AS delta_pm
        |FROM d ORDER BY 1, 2""".stripMargin)(
      (s, d) => Behavior.trendingTypes(Tables.events(s, d),
        quantumNs = 1000L)),
    // Price reconciliation (Relational.priceReconciliation): header
    // o_totalprice vs the exact-cents sum of its lines — the ingest
    // consistency audit; orphan headers compare against 0.
    q("q244_price_reconciliation",
      """WITH lt AS (SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS line_cents
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT CAST(round(o.o_totalprice * 100) AS BIGINT)
        |      AS hdr, coalesce(lt.line_cents, 0) AS lin
        |  FROM orders o LEFT JOIN lt ON o.o_orderkey = lt.l_orderkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CASE WHEN hdr = lin THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact,
        |  CAST(sum(CASE WHEN hdr <> lin THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_mismatch,
        |  CAST(max(abs(hdr - lin)) AS BIGINT) AS max_abs_diff_cents,
        |  CAST(sum(abs(hdr - lin)) AS BIGINT) AS sum_abs_diff_cents
        |FROM j""".stripMargin)(
      (s, d) => Relational.priceReconciliation(Tables.orders(s, d),
        Tables.lineitem(s, d))),

    // JSON validity census (Profiling.jsonValidityCensus): payload
    // corruption planted on event_id % 7 (the q66 device — both sides
    // truncate the same strings), per-type malformed permille.
    q("q245_json_validity",
      """WITH p AS (SELECT event_type,
        |    CASE WHEN event_id % 7 = 0
        |      THEN substr(props, 1, len(props) - 1) ELSE props END
        |      AS props FROM events),
        |v AS (SELECT event_type,
        |    CASE WHEN json_valid(props) THEN 1 ELSE 0 END AS ok FROM p)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(1 - ok) AS BIGINT) AS n_malformed,
        |  CAST(sum(1 - ok) * 1000 // count(*) AS BIGINT)
        |    AS malformed_permille
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{expr, when}
        val planted = Tables.events(s, d).select(col("event_type"),
          when(col("event_id") % 7 === 0,
            expr("substring(props, 1, length(props) - 1)"))
            .otherwise(col("props")).as("props"))
        Profiling.jsonValidityCensus(planted, "event_type", "props")
      }),

    // Length-token correlation (Text.lengthTokenCorrelation): per-
    // source Pearson between n_chars and token count — the q230
    // integer-sums device on document stats.
    q("q246_length_token_corr",
      """WITH d AS (SELECT source, CAST(n_chars AS HUGEINT) AS x,
        |    CAST(len(list_filter(string_split_regex(text,
        |      '[ \t\n\r\f]+'), w -> len(w) > 0)) AS HUGEINT) AS y
        |  FROM documents),
        |s AS (SELECT source, CAST(count(*) AS HUGEINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
        |    sum(x*x) AS sxx, sum(y*y) AS syy FROM d GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n_docs,
        |  CAST(round(1000000 * CAST(n*sxy - sx*sy AS DOUBLE) /
        |    nullif(sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
        |      sqrt(CAST(n*syy - sy*sy AS DOUBLE)), 0))
        |    AS BIGINT) AS r_q6
        |FROM s ORDER BY 1""".stripMargin)(
      (s, d) => Text.lengthTokenCorrelation(Tables.documents(s, d))),

    // Bipartite degree histograms (Profiling.bipartiteDegrees): the
    // supplier↔part fan-out profile a join planner reads before
    // co-locating on either key.
    q("q247_bipartite_degrees",
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey
        |  FROM lineitem),
        |d1 AS (SELECT 'parts_per_supplier' AS side,
        |    CAST(count(*) AS BIGINT) AS degree FROM ps
        |  GROUP BY l_suppkey),
        |d2 AS (SELECT 'suppliers_per_part' AS side,
        |    CAST(count(*) AS BIGINT) AS degree FROM ps
        |  GROUP BY l_partkey),
        |u AS (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
        |SELECT side, degree, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => Profiling.bipartiteDegrees(Tables.lineitem(s, d),
        "l_suppkey", "l_partkey",
        "parts_per_supplier", "suppliers_per_part")),

    // Benford census (Profiling.benfordCensus): leading digit of
    // order cents vs log10(1+1/d) — the forensic screen; the fixture
    // (uniform synthetic) correctly reads as NON-Benford.
    q("q248_benford_census",
      """WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
        |    AS cents FROM orders WHERE o_totalprice > 0),
        |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1)
        |    AS BIGINT) AS digit FROM v),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM d)
        |SELECT digit, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) * 1000 // t.tot AS BIGINT) AS share_permille,
        |  CAST(round(1000 * ln(1.0 + 1.0 / digit) / ln(10))
        |    AS BIGINT) AS benford_permille
        |FROM d, t GROUP BY 1, t.tot ORDER BY 1""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.expr
        Profiling.benfordCensus(
          Tables.orders(s, d).select(
            expr("cast(round(o_totalprice * 100) as bigint)")
              .as("cents")), "cents")
      }),
    // Shipping priority (Relational.shippingPriority): the TPC-H Q3
    // topology — BUILDING segment, ordered before / shipped after the
    // cutoff, top-10 order revenue.
    q("q249_shipping_priority",
      """SELECT l.l_orderkey,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(epoch_us(o.o_orderdate) AS BIGINT) AS order_us,
        |  o.o_orderpriority AS priority
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l.l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY 1, 3, 4
        |ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""".stripMargin)(
      (s, d) => Relational.shippingPriority(Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d),
        segment = "BUILDING", cutoff = "1997-01-01", k = 10)),

    // Local supplier volume (Relational.localSupplierVolume): the
    // TPC-H Q5 same-nation topology — customer and supplier share the
    // nation, one region, one order year.
    q("q250_local_supplier_volume",
      """SELECT n.n_name AS nation,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        |JOIN customer c ON c.c_nationkey = n.n_nationkey
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  AND s.s_nationkey = n.n_nationkey
        |WHERE r.r_name = 'ASIA' AND year(o.o_orderdate) = 1996
        |GROUP BY 1
        |ORDER BY revenue_cents DESC, nation""".stripMargin)(
      (s, d) => Relational.localSupplierVolume(Tables.region(s, d),
        Tables.nation(s, d), Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.supplier(s, d), regionName = "ASIA", year0 = 1996)),

    // Forecast revenue probe (Relational.forecastRevenue): the TPC-H
    // Q6 pure filter-aggregate — discount band, quantity cap, one
    // ship year; every predicate at the scan.
    q("q251_forecast_revenue",
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * l_discount * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |WHERE year(l_shipdate) = 1996 AND l_discount >= 0.05
        |  AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin)(
      (s, d) => Relational.forecastRevenue(Tables.lineitem(s, d),
        shipYear = 1996, discLo = 0.05, discHi = 0.07, maxQty = 24.0)),

    // Product profit (Relational.productProfit): the TPC-H Q9
    // topology with the documented retailprice·0.6 cost proxy (no
    // partsupp in this schema) — nation × year profit for parts
    // matching a name filter.
    q("q252_product_profit",
      """SELECT n.n_name AS nation,
        |  CAST(year(o.o_orderdate) AS BIGINT) AS yr,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |      * 100) AS BIGINT)
        |    - CAST(round(l.l_quantity * p.p_retailprice * 60)
        |      AS BIGINT)) AS BIGINT) AS profit_cents
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE contains(p.p_name, 'a')
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin)(
      (s, d) => Relational.productProfit(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.part(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), nameSubstr = "a")),

    // Returned-item customers (Relational.returnedItemCustomers): the
    // TPC-H Q10 topology — 'R'-flag revenue per customer in one year,
    // top-20 with nation.
    q("q253_returned_customers",
      """SELECT c.c_custkey, c.c_name, n.n_name AS nation,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |WHERE l.l_returnflag = 'R' AND year(o.o_orderdate) = 1996
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin)(
      (s, d) => Relational.returnedItemCustomers(Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.nation(s, d), year0 = 1996, k = 20)),

    // Priority-class census (Relational.priorityClassCensus): the
    // TPC-H Q12 CASE-census topology on l_returnflag (no shipmode
    // column in this schema) — high/low priority line counts among
    // late lines.
    q("q254_priority_class",
      """SELECT l.l_returnflag AS returnflag,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN
        |    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
        |    AS high_line_count,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN
        |    ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
        |    AS low_line_count
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE date_diff('day', CAST(o.o_orderdate AS DATE),
        |  CAST(l.l_shipdate AS DATE)) > 365
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Relational.priorityClassCensus(Tables.orders(s, d),
        Tables.lineitem(s, d), lateDays = 365)),

    // Promo revenue share (Relational.promoRevenueShare): the TPC-H
    // Q14 shape — PROMO-part permille of one ship-year's revenue.
    q("q255_promo_share",
      """SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN
        |    CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |      AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_cents,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        |  CAST(CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN
        |      CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |        AS BIGINT) ELSE 0 END) AS HUGEINT) * 1000
        |    // sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |      * 100) AS BIGINT)) AS BIGINT) AS promo_permille
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE year(l.l_shipdate) = 1996""".stripMargin)(
      (s, d) => Relational.promoRevenueShare(Tables.lineitem(s, d),
        Tables.part(s, d), shipYear = 1996, promoType = "PROMO")),

    // Supplier count by part attrs (Relational.supplierCountByPart):
    // the TPC-H Q16 topology — distinct shipping suppliers per
    // (brand, size), denylist anti join (negative balance).
    q("q256_supplier_count",
      """WITH excl AS (SELECT s_suppkey FROM supplier
        |  WHERE s_acctbal < 0),
        |ps AS (SELECT DISTINCT l.l_partkey, l.l_suppkey
        |  FROM lineitem l
        |  WHERE l.l_suppkey NOT IN (SELECT s_suppkey FROM excl))
        |SELECT p.p_brand, CAST(p.p_size AS BIGINT) AS p_size,
        |  CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
        |WHERE p.p_size IN (1, 5, 9, 13)
        |GROUP BY 1, 2
        |ORDER BY supplier_cnt DESC, 1, 2 LIMIT 40""".stripMargin)(
      (s, d) => Relational.supplierCountByPart(Tables.lineitem(s, d),
        Tables.part(s, d), Tables.supplier(s, d),
        sizes = Seq(1, 5, 9, 13), k = 40)),

    // Small-quantity revenue (Relational.smallQuantityRevenue): the
    // TPC-H Q17 correlated-average shape, decorrelated — lines under
    // half their part's average quantity (qty·2 < avg, no division).
    q("q257_small_quantity",
      """WITH a AS (SELECT l_partkey, avg(l_quantity) AS aq
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM lineitem l JOIN a ON l.l_partkey = a.l_partkey
        |WHERE l.l_quantity * 2 < a.aq""".stripMargin)(
      (s, d) => Relational.smallQuantityRevenue(Tables.lineitem(s, d))),

    // Brand-band revenue (Relational.brandBandRevenue): the TPC-H Q19
    // disjunctive-predicate shape — three brand/size/quantity bands
    // OR-ed into one join filter.
    q("q258_brand_bands",
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |    AND l.l_quantity >= 1 AND l.l_quantity <= 11)
        |  OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
        |    AND l.l_quantity >= 10 AND l.l_quantity <= 20)
        |  OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
        |    AND l.l_quantity >= 20 AND l.l_quantity <= 30)""".stripMargin)(
      (s, d) => Relational.brandBandRevenue(Tables.lineitem(s, d),
        Tables.part(s, d), bands = Seq(
          ("Brand#1", 1, 15, 1.0, 11.0),
          ("Brand#2", 1, 25, 10.0, 20.0),
          ("Brand#3", 1, 35, 20.0, 30.0)))),
    // Decile lift / gains curve (Relational.decileLiftCurve): LTV
    // deciles (revenue-DESC ntile, q155 contract) with per-tier and
    // cumulative revenue share vs the uniform 100-permille baseline.
    q("q259_decile_lift",
      """WITH cr AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents FROM orders GROUP BY 1),
        |b AS (SELECT o_custkey, cents, ntile(10) OVER (
        |    ORDER BY cents DESC, o_custkey) AS bucket FROM cr),
        |t AS (SELECT CAST(sum(cents) AS HUGEINT) AS tot FROM cr),
        |agg AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_custs,
        |    CAST(sum(cents) AS BIGINT) AS cents FROM b GROUP BY 1)
        |SELECT CAST(a.bucket AS BIGINT) AS bucket, a.n_custs, a.cents,
        |  CAST(CAST(a.cents AS HUGEINT) * 1000 // t.tot AS BIGINT)
        |    AS share_permille,
        |  CAST(CAST(sum(a.cents) OVER (ORDER BY a.bucket ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) * 1000
        |    // t.tot AS BIGINT) AS cum_share_permille
        |FROM agg a, t ORDER BY 1""".stripMargin)(
      (s, d) => Relational.decileLiftCurve(Tables.orders(s, d),
        k = 10)),

    // Inter-order survival (Relational.orderGapSurvival): S(k) =
    // share of consecutive same-customer order gaps lasting >= k mean
    // months — census formulation, boundary-identical both engines.
    q("q260_order_gap_survival",
      """WITH o AS (SELECT o_custkey, epoch_us(o_orderdate) AS qts,
        |    o_orderkey FROM orders),
        |g AS (SELECT qts - lag(qts) OVER (PARTITION BY o_custkey
        |    ORDER BY qts, o_orderkey) AS gap FROM o),
        |b AS (SELECT least(gap // 2629746000000, 12) AS bm FROM g
        |  WHERE gap IS NOT NULL),
        |cen AS (SELECT bm, CAST(count(*) AS BIGINT) AS n FROM b
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cen),
        |k AS (SELECT unnest(generate_series(0, 11)) AS km)
        |SELECT CAST(k.km AS BIGINT) AS month_k,
        |  CAST(sum(CASE WHEN cen.bm >= k.km THEN cen.n ELSE 0 END)
        |    AS BIGINT) AS n_surviving,
        |  CAST(sum(CASE WHEN cen.bm >= k.km THEN cen.n ELSE 0 END)
        |    * 1000 // t.tot AS BIGINT) AS survival_permille
        |FROM k, cen, t GROUP BY 1, t.tot ORDER BY 1""".stripMargin)(
      (s, d) => Relational.orderGapSurvival(Tables.orders(s, d),
        maxMonths = 12)),
    // Vocabulary growth curve (Text.vocabGrowthCurve): Heaps'-law
    // checkpoints from ONE pass — each shingle type's first md5
    // decile, running sum = distinct vocab after each decile.
    q("q261_vocab_growth",
      """WITH d AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS INTEGER) % 10 AS b,
        |    list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      x -> len(x) > 0) AS t FROM documents),
        |w AS (SELECT b, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' ')))) AS sh FROM d),
        |tb AS (SELECT sh, CAST(min(b) AS BIGINT) AS fb FROM w
        |  GROUP BY 1),
        |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS n_shingles
        |  FROM w GROUP BY 1),
        |vb AS (SELECT fb, CAST(count(*) AS BIGINT) AS new_types
        |  FROM tb GROUP BY 1),
        |ks AS (SELECT unnest(generate_series(0, 9)) AS b)
        |SELECT CAST(ks.b AS BIGINT) AS bucket,
        |  CAST(coalesce(tc.n_shingles, 0) AS BIGINT) AS n_shingles,
        |  CAST(coalesce(vb.new_types, 0) AS BIGINT) AS new_types,
        |  CAST(sum(coalesce(vb.new_types, 0)) OVER (ORDER BY ks.b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_vocab
        |FROM ks LEFT JOIN tc ON tc.b = ks.b
        |LEFT JOIN vb ON vb.fb = ks.b
        |ORDER BY 1""".stripMargin)(
      (s, d) => Text.vocabGrowthCurve(Tables.documents(s, d),
        n = 3, buckets = 10)),

    // New vs returning revenue (Relational.newVsReturningRevenue):
    // growth accounting — each order's cents attributed to the
    // customer's first month or a later one, returning share permille.
    q("q262_new_vs_returning",
      """WITH o AS (SELECT o_custkey,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
        |      AS BIGINT) AS m,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |f AS (SELECT o_custkey, min(m) AS fm FROM o GROUP BY 1)
        |SELECT o.m AS month_idx,
        |  CAST(sum(CASE WHEN o.m = f.fm THEN o.cents ELSE 0 END)
        |    AS BIGINT) AS new_cents,
        |  CAST(sum(CASE WHEN o.m > f.fm THEN o.cents ELSE 0 END)
        |    AS BIGINT) AS returning_cents,
        |  CAST(sum(CASE WHEN o.m > f.fm THEN o.cents ELSE 0 END)
        |    * 1000 // nullif(sum(o.cents), 0) AS BIGINT)
        |    AS returning_permille
        |FROM o JOIN f ON o.o_custkey = f.o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Relational.newVsReturningRevenue(Tables.orders(s, d))),

    // Also-bought item-item table (Relational.alsoBought): top-5
    // co-purchased parts per part by co-occurrence cosine — the
    // item-based CF similarity model from order baskets.
    q("q263_also_bought",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |m AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
        |  FROM li GROUP BY 1),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |s AS (SELECT pa AS part, pb AS rec, n_both FROM p
        |  UNION ALL SELECT pb, pa, n_both FROM p),
        |c AS (SELECT s.part, s.rec, s.n_both,
        |    CAST(round(s.n_both * 1000000 /
        |      (sqrt(CAST(ma.n AS DOUBLE)) * sqrt(CAST(mb.n AS DOUBLE))))
        |      AS BIGINT) AS cosine_q6
        |  FROM s JOIN m ma ON s.part = ma.l_partkey
        |  JOIN m mb ON s.rec = mb.l_partkey),
        |r AS (SELECT *, row_number() OVER (PARTITION BY part
        |    ORDER BY cosine_q6 DESC, rec) AS rnk FROM c)
        |SELECT part, rec, n_both, cosine_q6, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 5 ORDER BY part, rnk""".stripMargin)(
      (s, d) => Relational.alsoBought(Tables.lineitem(s, d),
        minSupport = 2L, k = 5)),

    // Customer assortment overlap (Relational.customerOverlap family):
    // top-50 most-similar customer pairs by capped-set Jaccard — the
    // user-user neighborhood model on the q22 inverted-index
    // discipline. The df cap is LEAST(990‰-quantile of the part-df
    // census, rail) with rail = GREATEST(200, 10% of the distinct
    // customer count): the quantile cut keeps a constant catalog
    // FRACTION as the corpus grows (the absolute-only cap measured
    // rows → 0 at DevScale x16 — every part exceeded it), and the rail
    // is population-relative because an absolute df re-degenerates the
    // moment density crosses it — "bought by > 10% of customers" is
    // the scale-free statement of "carries no similarity signal".
    q("q264_customer_overlap",
      """WITH cp AS (SELECT DISTINCT o.o_custkey AS cust,
        |    l.l_partkey AS part
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |dfc AS (SELECT part, count(*) AS df FROM cp GROUP BY 1),
        |rk AS (SELECT part, df, row_number() OVER (ORDER BY df, part)
        |    AS rn, count(*) OVER () AS np FROM dfc),
        |cap AS (SELECT least(max(df), greatest(200,
        |    (SELECT count(DISTINCT cust) FROM cp) // 10)) AS cap
        |  FROM rk WHERE rn * 1000 <= 990 * np),
        |keep AS (SELECT cp.cust, cp.part FROM cp JOIN dfc USING (part),
        |  cap WHERE dfc.df <= cap.cap),
        |sz AS (SELECT cust, CAST(count(*) AS BIGINT) AS sz FROM keep
        |  GROUP BY 1),
        |i AS (SELECT x.cust AS cust_a, y.cust AS cust_b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM keep x JOIN keep y ON x.part = y.part
        |    AND x.cust < y.cust
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT i.cust_a, i.cust_b, i.n_common,
        |  CAST(i.n_common * 1000000 //
        |    (sa.sz + sb.sz - i.n_common) AS BIGINT) AS jaccard_q6
        |FROM i JOIN sz sa ON i.cust_a = sa.cust
        |JOIN sz sb ON i.cust_b = sb.cust
        |ORDER BY i.n_common DESC, jaccard_q6 DESC, i.cust_a, i.cust_b
        |LIMIT 50""".stripMargin)(
      (s, d) => Relational.customerOverlapQuantileCap(Tables.orders(s, d),
        Tables.lineitem(s, d), minOverlap = 3L, capPermille = 990L,
        k = 50, maxDf = 200L)),

    // Item-based CF recommendations (Relational.cfRecommend): each
    // customer's top-3 unowned parts by summed also-bought cosine.
    q("q265_cf_recommend",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |m AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
        |  FROM li GROUP BY 1),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |s AS (SELECT pa AS part, pb AS rec, n_both FROM p
        |  UNION ALL SELECT pb, pa, n_both FROM p),
        |c AS (SELECT s.part, s.rec,
        |    CAST(round(s.n_both * 1000000 /
        |      (sqrt(CAST(ma.n AS DOUBLE)) * sqrt(CAST(mb.n AS DOUBLE))))
        |      AS BIGINT) AS cosine_q6,
        |    row_number() OVER (PARTITION BY s.part
        |      ORDER BY CAST(round(s.n_both * 1000000 /
        |        (sqrt(CAST(ma.n AS DOUBLE)) * sqrt(CAST(mb.n AS DOUBLE))))
        |        AS BIGINT) DESC, s.rec) AS rnk
        |  FROM s JOIN m ma ON s.part = ma.l_partkey
        |  JOIN m mb ON s.rec = mb.l_partkey),
        |sim AS (SELECT part, rec, cosine_q6 FROM c WHERE rnk <= 5),
        |cp AS (SELECT DISTINCT o.o_custkey AS cust,
        |    l.l_partkey AS part
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |sc AS (SELECT cp.cust, sim.rec,
        |    CAST(sum(sim.cosine_q6) AS BIGINT) AS score_q6,
        |    CAST(count(*) AS BIGINT) AS n_paths
        |  FROM cp JOIN sim ON cp.part = sim.part
        |  WHERE NOT EXISTS (SELECT 1 FROM cp o WHERE o.cust = cp.cust
        |    AND o.part = sim.rec)
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY cust
        |    ORDER BY score_q6 DESC, rec) AS rnk FROM sc)
        |SELECT cust, rec, score_q6, n_paths, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY cust, rnk""".stripMargin)(
      (s, d) => Relational.cfRecommend(Tables.orders(s, d),
        Tables.lineitem(s, d), minSupport = 2L, simK = 5, topN = 3)),

    // Rolling 7-day actives (Behavior.rollingActivesStickiness): sliding
    // WAU + DAU/WAU stickiness via the (day,user)-expansion trick —
    // no sliding count-distinct state, no range self-join.
    q("q266_rolling_actives",
      """WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
        |    user_id FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du
        |  GROUP BY 1),
        |ex AS (SELECT DISTINCT du.day + g.o AS day, du.user_id
        |  FROM du, (SELECT unnest(generate_series(0, 6)) AS o) g),
        |wa AS (SELECT day, CAST(count(*) AS BIGINT) AS active_wd
        |  FROM ex GROUP BY 1)
        |SELECT CAST(dau.day AS BIGINT) AS day, dau.dau, wa.active_wd,
        |  CAST(dau.dau * 1000 // wa.active_wd AS BIGINT)
        |    AS stickiness_pm
        |FROM dau JOIN wa ON dau.day = wa.day
        |ORDER BY 1""".stripMargin)(
      (s, d) => Behavior.rollingActivesStickiness(Tables.events(s, d),
        windowDays = 7)),

    // MinHash estimator accuracy audit (Dedup.minhashAccuracyAudit):
    // the q242/q176 sketch-audit pattern — pair set defined by exact
    // Jaccard (oracle-derivable), estimate from the production
    // signature kernel, in-tolerance flag pinned TRUE. The impl's
    // df-cap skew guard (maxDf = 10000) is the q22 convention: far
    // above the fixtures' measured shingle-df maxima (7 at sf0.01,
    // 25 at sf0.1), so capped-set Jaccard == exact Jaccard here and
    // the uncapped all-pairs oracle applies verbatim.
    q("q267_minhash_audit",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks
        |  WHERE len(t) >= 3),
        |px AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |  CAST(inter * 1000000 // (sza + szb - inter) AS BIGINT)
        |    AS jaccard_q6,
        |  TRUE AS within_tol
        |FROM px WHERE inter * 1000000 // (sza + szb - inter) >= 200000
        |ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => Dedup.minhashAccuracyAudit(Tables.documents(s, d),
        n = 3, numHashes = 64, threshold = 0.2, tolQ6 = 200000L)),

    // ---- flight-CSV source (the one §2 source row that had no driver
    // oracle): the committed 318-row TranStats fixture IS the table —
    // both engines read the same file, so the quote-aware positional
    // parse (S2: 110 quoted columns, embedded commas before Dest) is
    // inside the verified surface, not just spec-pinned. The queries
    // ignore sfDir by design; the fixture is scale-independent.

    // Flight2 airline/month ceil-average delay (reference
    // Secondary.java:57–58, 181–200, 213–221): year filter,
    // not-cancelled, ""→0 then Java (int) truncation, dense months
    // 1–12 zero-filled. DuckDB divergences pinned: CAST(double AS int)
    // rounds → trunc() first; quoted-empty CSV fields arrive '' not
    // NULL → try_cast + coalesce mirrors Spark's nullValue="" parse.
    q("q268_flight_monthly_delay",
      s"""WITH raw AS (
        |  SELECT try_cast(column000 AS INTEGER) AS year,
        |         try_cast(column002 AS INTEGER) AS mon,
        |         column006 AS carrier,
        |         coalesce(try_cast(column037 AS DOUBLE), 0.0)
        |           AS arr_delay_min,
        |         coalesce(column041, '') AS cancelled
        |  FROM read_csv('${Flights.fixturePath}',
        |                header=false, all_varchar=true)),
        |valid AS (
        |  SELECT carrier, mon,
        |    CAST(trunc(arr_delay_min) AS INTEGER) AS delay
        |  FROM raw
        |  WHERE year = 2008 AND cancelled <> '1.00'
        |    AND mon IS NOT NULL AND carrier IS NOT NULL
        |    AND carrier <> ''),
        |agg AS (
        |  SELECT carrier, mon, CAST(ceil(avg(delay)) AS INTEGER)
        |    AS avg_delay
        |  FROM valid GROUP BY 1, 2),
        |months AS (SELECT unnest(generate_series(1, 12)) AS mon),
        |cs AS (SELECT DISTINCT carrier FROM valid)
        |SELECT cs.carrier, CAST(months.mon AS INTEGER) AS mon,
        |  coalesce(agg.avg_delay, 0) AS avg_delay
        |FROM cs CROSS JOIN months
        |LEFT JOIN agg ON agg.carrier = cs.carrier
        |  AND agg.mon = months.mon
        |ORDER BY cs.carrier, months.mon""".stripMargin)(
      (s, _) => Flights.airlineMonthlyDelay(
        Flights.typed(Flights.load(s, Flights.fixturePath)), 2008)),

    // Flight1 two-leg connection stats (reference PLAIN.java:86–109,
    // 175–194, 199–208): ORD→via→JFK same flight date, strict HHmm
    // ArrTime < DepTime, count + average over the (long)-truncated
    // delay sum. The fixture sum 49.5 → (long)49 → 12.25 — DuckDB's
    // rounding CAST would give 12.5, hence trunc().
    q("q269_flight_two_leg",
      s"""WITH raw AS (
        |  SELECT try_cast(column005 AS DATE) AS flight_date,
        |         column011 AS origin, column017 AS dest,
        |         try_cast(column024 AS INTEGER) AS dep_time,
        |         try_cast(column035 AS INTEGER) AS arr_time,
        |         coalesce(try_cast(column037 AS DOUBLE), 0.0)
        |           AS arr_delay_min,
        |         coalesce(column041, '') AS cancelled,
        |         coalesce(column043, '') AS diverted
        |  FROM read_csv('${Flights.fixturePath}',
        |                header=false, all_varchar=true)),
        |valid AS (
        |  SELECT * FROM raw
        |  WHERE cancelled <> '1.00' AND diverted <> '1.00'
        |    AND flight_date BETWEEN DATE '2007-06-01'
        |      AND DATE '2008-05-31'),
        |leg1 AS (SELECT dest AS via, flight_date, arr_time AS arr1,
        |    arr_delay_min AS delay1 FROM valid
        |  WHERE origin = 'ORD' AND dest <> 'JFK'),
        |leg2 AS (SELECT origin AS via, flight_date, dep_time AS dep2,
        |    arr_delay_min AS delay2 FROM valid
        |  WHERE dest = 'JFK' AND origin <> 'ORD'),
        |pairs AS (SELECT delay1 + delay2 AS d FROM leg1
        |  JOIN leg2 USING (via, flight_date) WHERE arr1 < dep2)
        |SELECT CAST(count(*) AS BIGINT) AS count,
        |  CASE WHEN count(*) > 0
        |    THEN CAST(CAST(trunc(sum(d)) AS BIGINT) AS DOUBLE)
        |      / count(*)
        |    ELSE CAST('NaN' AS DOUBLE) END AS average
        |FROM pairs""".stripMargin)(
      (s, _) => Flights.twoLegStats(
        Flights.typed(Flights.load(s, Flights.fixturePath)))),

    // Decayed trailing revenue (Behavior.decayedPeriodSums): the q145
    // decay kernel over exact integer cents instead of counts — every
    // term cents·2^−g is a dyadic rational, so the trailing sum is
    // float-exact in any addition order and the hash compare is safe.
    q("q270_decayed_revenue",
      """WITH p AS (SELECT epoch_ms(o_orderdate) // 86400000 AS period,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |c AS (SELECT period, sum(cents) AS cents FROM p GROUP BY 1)
        |SELECT a.period, CAST(a.cents AS BIGINT) AS cents,
        |  sum(CAST(b.cents AS DOUBLE) /
        |    CAST(1 << CAST(a.period - b.period AS INTEGER) AS DOUBLE))
        |    AS decayed_cents
        |FROM c a JOIN c b
        |  ON b.period <= a.period AND b.period > a.period - 8
        |GROUP BY 1, 2 ORDER BY a.period""".stripMargin)(
      (s, d) => Behavior.decayedPeriodSums(Tables.orders(s, d),
        "o_orderdate",
        org.apache.spark.sql.functions.expr(
          "cast(round(o_totalprice * 100) as long)"),
        periodMs = 86400000L, window = 8)),

    // Content-based recommender (Relational.embeddingProfileRecommend):
    // per-customer taste profile = exact integer per-dim sum of the q6-
    // quantized embeddings of purchased parts (part → vector by
    // p_partkey mod |embeddings|, the q74/q86 synthetic-map device);
    // top-3 unowned parts by profile cosine. Integer profiles make the
    // group sum order-free; the cosine itself is the q25/q26
    // bit-identical double kernel on both engines.
    q("q271_profile_recommend",
      """WITH nv AS (SELECT count(*) AS n FROM embeddings),
        |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings
        |  WHERE list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |        CAST(embedding AS DOUBLE[])) > 0),
        |pv AS (SELECT p_partkey AS part, emb FROM part, ev, nv
        |  WHERE ev.vec_id = p_partkey % nv.n),
        |cp AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_custkey < 100),
        |pq AS (SELECT cust, u.d,
        |    sum(CAST(round(emb[u.d] * 1000000) AS BIGINT)) AS v
        |  FROM cp JOIN pv USING (part),
        |    unnest(generate_series(1, 64)) AS u(d)
        |  GROUP BY 1, 2),
        |prof AS (SELECT cust, list(CAST(v AS DOUBLE) ORDER BY d) AS pemb
        |  FROM pq GROUP BY 1),
        |profnz AS (SELECT * FROM prof
        |  WHERE list_cosine_similarity(pemb, pemb) > 0),
        |sc AS (SELECT cust, pv.part AS rec,
        |    list_cosine_similarity(prof.pemb, pv.emb) AS cos
        |  FROM profnz prof CROSS JOIN pv
        |  WHERE NOT EXISTS (SELECT 1 FROM cp
        |    WHERE cp.cust = prof.cust AND cp.part = pv.part)),
        |r AS (SELECT cust, rec,
        |    CAST(round(cos * 1000000) AS BIGINT) AS score_q6,
        |    row_number() OVER (PARTITION BY cust
        |      ORDER BY round(cos * 1000000) DESC, rec) AS rnk
        |  FROM sc)
        |SELECT cust, rec, score_q6, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY cust, rnk""".stripMargin)(
      (s, d) => Relational.embeddingProfileRecommend(Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.part(s, d), Tables.embeddings(s, d),
        maxQueryCust = 100L, topN = 3)),

    // Association rules (Relational.associationRules): directed basket
    // pairs with integer-exact confidence (permille of ante baskets)
    // and lift (q6, decimal(38,0) products — DuckDB promotes to
    // HUGEINT, so the `div` results agree exactly). Separates
    // popularity co-occurrence (lift ≈ 10⁶) from real affinity.
    q("q272_association_rules",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n FROM li),
        |m AS (SELECT l_partkey, count(*) AS m FROM li GROUP BY 1),
        |px AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    count(*) AS n_both
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT pa AS ante, pb AS cons, n_both FROM px
        |  UNION ALL SELECT pb, pa, n_both FROM px),
        |j AS (SELECT ante, cons, n_both, ma.m AS n_ante,
        |    n_both * 1000 // ma.m AS confidence_pm,
        |    CAST(CAST(n_both AS HUGEINT) * n.n * 1000000
        |      // (CAST(ma.m AS HUGEINT) * mc.m) AS BIGINT) AS lift_q6
        |  FROM d JOIN m ma ON ma.l_partkey = d.ante
        |    JOIN m mc ON mc.l_partkey = d.cons, n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY ante
        |    ORDER BY lift_q6 DESC, cons) AS rnk FROM j)
        |SELECT ante, cons, CAST(n_both AS BIGINT) AS n_both,
        |  CAST(n_ante AS BIGINT) AS n_ante,
        |  CAST(confidence_pm AS BIGINT) AS confidence_pm, lift_q6,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 5 ORDER BY ante, rnk""".stripMargin)(
      (s, d) => Relational.associationRules(Tables.lineitem(s, d),
        minSupport = 2L, k = 5)),

    // Quantile-capped customer overlap (Relational
    // .customerOverlapQuantileCap): the q264 skew guard with the cap as
    // the 990‰ point of the part-df census (integer-exact rank cut,
    // rn·1000 ≤ p·n) — scale-free where the absolute cap swallows a
    // constant catalog under customer growth (measured: q264 rows → 0
    // at DevScale x16; see PLANS.md round-15 pass).
    q("q273_overlap_quantile_cap",
      """WITH cp AS (SELECT DISTINCT o_custkey AS cust,
        |    l_partkey AS part
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |dfc AS (SELECT part, count(*) AS df FROM cp GROUP BY 1),
        |rk AS (SELECT part, df, row_number() OVER (ORDER BY df, part)
        |    AS rn, count(*) OVER () AS np FROM dfc),
        |cap AS (SELECT max(df) AS cap FROM rk WHERE rn * 1000 <= 990 * np),
        |keep AS (SELECT cp.cust, cp.part FROM cp JOIN dfc USING (part),
        |  cap WHERE dfc.df <= cap.cap),
        |sz AS (SELECT cust, count(*) AS sz FROM keep GROUP BY 1),
        |px AS (SELECT x.cust AS cust_a, y.cust AS cust_b,
        |    count(*) AS n_common
        |  FROM keep x JOIN keep y ON x.part = y.part AND x.cust < y.cust
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |j AS (SELECT cust_a, cust_b, n_common,
        |    n_common * 1000000 // (sa.sz + sb.sz - n_common)
        |      AS jaccard_q6
        |  FROM px JOIN sz sa ON sa.cust = cust_a
        |    JOIN sz sb ON sb.cust = cust_b)
        |SELECT cust_a, cust_b, CAST(n_common AS BIGINT) AS n_common,
        |  CAST(jaccard_q6 AS BIGINT) AS jaccard_q6
        |FROM j ORDER BY n_common DESC, jaccard_q6 DESC, cust_a, cust_b
        |LIMIT 50""".stripMargin)(
      (s, d) => Relational.customerOverlapQuantileCap(Tables.orders(s, d),
        Tables.lineitem(s, d), minOverlap = 3L, capPermille = 990L,
        k = 50)),

    // Min-hop BFS census (Graph.kHopReach): per seed part, nodes at
    // shortest-path distance exactly h over the support-≥2 co-purchase
    // graph — the neighborhood-growth profile. Level-synchronous BFS
    // (frontier dedup + visited anti-join) on the Spark side; the
    // oracle is the same BFS as a recursive CTE with UNION dedup.
    q("q274_khop_reach",
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |px AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS src, pb AS dst FROM px
        |  UNION SELECT pb, pa FROM px),
        |seeds AS (SELECT DISTINCT src AS seed FROM e WHERE src < 10),
        |bfs AS (
        |  SELECT seed, seed AS node, 0 AS hop FROM seeds
        |  UNION
        |  SELECT b.seed, e.dst, b.hop + 1 FROM bfs b
        |    JOIN e ON e.src = b.node
        |  WHERE b.hop < 3),
        |mh AS (SELECT seed, node, min(hop) AS hop FROM bfs GROUP BY 1, 2)
        |SELECT seed, CAST(hop AS BIGINT) AS hop, count(*) AS n_nodes
        |FROM mh GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => Graph.kHopReach(
        Graph.coPurchasePairs(Tables.lineitem(s, d), minOrders = 2L),
        maxSeedId = 10L, hops = 3)),

    // Mutual nearest neighbors (Similarity.mutualNearestNeighbors):
    // reciprocal top-1 cosine pairs — the entity-alignment /
    // high-precision dedup seed set, as the BOUNDED exact referee for
    // q296: the input is a deterministic md5 slice of ~1000 vectors
    // (permille = ceil(1000·1000/N), the Sampling.splitBucket device,
    // full corpus whenever N ≤ 1000 — so the sf0.01 gate is unchanged),
    // which keeps exact recall adjudication runnable at ANY corpus size
    // instead of being the one shipped quadratic plan (r16's weak).
    // Per-id ties break on neighbor id; mutuality is a self-join of
    // the best-neighbor table.
    q("q275_mutual_nn",
      """WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings, nn
        |  WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))
        |      AS INTEGER) % 1000 < least(1000, (1000000 + n - 1) // n)
        |    AND list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |        CAST(embedding AS DOUBLE[])) > 0),
        |best AS (SELECT q_id, n_id, cos_q6 FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    CAST(round(list_cosine_similarity(q.emb, c.emb) * 1000000)
        |      AS BIGINT) AS cos_q6,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.emb, c.emb) DESC,
        |        c.vec_id) AS rank
        |  FROM e q JOIN e c ON c.vec_id <> q.vec_id) t
        |  WHERE rank = 1)
        |SELECT x.q_id AS id_a, x.n_id AS id_b, x.cos_q6
        |FROM best x JOIN best y
        |  ON x.q_id = y.n_id AND x.n_id = y.q_id AND x.q_id < x.n_id
        |ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => Similarity.mutualNearestNeighbors(Tables.embeddings(s, d),
        refereeTarget = 1000L)),

    // Functional-dependency census (Profiling.fdCensus): candidate
    // X→Y determinism audit via the two distinct counts — the
    // schema-discovery face of the profiling family (q173 audits FK
    // integrity BETWEEN tables; this audits determinism WITHIN one).
    // Candidates picked to pin both outcomes: the PK-implied FDs hold,
    // the customer→priority one fails with a measured violation count.
    q("q276_fd_census",
      """WITH c AS (
        |  SELECT 'o_orderkey' AS x_col, 'o_custkey' AS y_col,
        |    count(DISTINCT o_orderkey) AS n_x,
        |    count(DISTINCT (o_orderkey, o_custkey)) AS n_xy
        |  FROM orders
        |  WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
        |  UNION ALL
        |  SELECT 'o_orderkey', 'o_orderstatus',
        |    count(DISTINCT o_orderkey),
        |    count(DISTINCT (o_orderkey, o_orderstatus)) FROM orders
        |  WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
        |  UNION ALL
        |  SELECT 'o_custkey', 'o_orderpriority',
        |    count(DISTINCT o_custkey),
        |    count(DISTINCT (o_custkey, o_orderpriority)) FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL)
        |SELECT x_col, y_col, CAST(n_x AS BIGINT) AS n_x,
        |  CAST(n_xy AS BIGINT) AS n_xy, n_x = n_xy AS fd_holds,
        |  CAST(n_xy - n_x AS BIGINT) AS extra_pairs
        |FROM c ORDER BY x_col, y_col""".stripMargin)(
      (s, d) => Profiling.fdCensus(Tables.orders(s, d), Seq(
        "o_orderkey" -> "o_custkey",
        "o_orderkey" -> "o_orderstatus",
        "o_custkey" -> "o_orderpriority"))),

    // Theil–Sen robust trend (Behavior.theilSenTrend): lower-median of
    // pairwise daily-count slopes, the outlier-immune volume trend.
    // Median ELEMENT selected by (double slope, dt, pi, pj) — bit-
    // identical ordering both engines — and slope_q6 computed
    // sign-split (Spark div truncates toward zero, DuckDB // floors).
    q("q277_theil_sen_trend",
      """WITH p AS (SELECT epoch_ms(o_orderdate) // 86400000 AS p
        |  FROM orders),
        |c AS (SELECT p, count(*) AS n FROM p GROUP BY 1),
        |px AS (SELECT b.n - a.n AS dn, b.p - a.p AS dt,
        |    a.p AS pi, b.p AS pj,
        |    (b.n - a.n) * 1.0 / (b.p - a.p) AS slope
        |  FROM c a JOIN c b ON a.p < b.p),
        |r AS (SELECT *, row_number() OVER (ORDER BY slope, dt, pi, pj)
        |    AS rn, count(*) OVER () AS tot FROM px)
        |SELECT CAST(tot AS BIGINT) AS n_pairs,
        |  CAST(dn AS BIGINT) AS med_dn, CAST(dt AS BIGINT) AS med_dt,
        |  CAST(CASE WHEN dn >= 0 THEN dn * 1000000 // dt
        |    ELSE -((-dn) * 1000000 // dt) END AS BIGINT) AS slope_q6
        |FROM r WHERE rn = (tot + 1) // 2""".stripMargin)(
      (s, d) => Behavior.theilSenTrend(Tables.orders(s, d),
        "o_orderdate", periodMs = 86400000L)),

    // Cluster-coherence audit (Dedup.clusterCoherence): per multi-doc
    // dedup cluster, the edge count, weakest proposed-edge jaccard, and
    // edge density permille — the over-merge smell test for CC's
    // transitive closure (q211 sizes clusters; this says whether they
    // deserve to exist). q22 pair construction + q61 recursive CC.
    q("q278_cluster_coherence",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b,
        |    round(inter / (sza + szb - inter), 4) AS j
        |  FROM px WHERE inter / (sza + szb - inter) >= 0.2),
        |und AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.node),
        |cc AS (SELECT node AS doc_id, min(lbl) AS cluster_id
        |  FROM reach GROUP BY 1),
        |sizes AS (SELECT cluster_id, count(*) AS n_docs FROM cc
        |  GROUP BY 1),
        |edges AS (SELECT cc.cluster_id, count(*) AS n_edges,
        |    min(j) AS min_j4
        |  FROM pairs JOIN cc ON cc.doc_id = pairs.id_a GROUP BY 1)
        |SELECT e.cluster_id, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_edges AS BIGINT) AS n_edges, min_j4,
        |  CAST(2 * n_edges * 1000 // (n_docs * (n_docs - 1)) AS BIGINT)
        |    AS density_pm
        |FROM edges e JOIN sizes USING (cluster_id)
        |ORDER BY cluster_id""".stripMargin)(
      (s, d) => Dedup.clusterCoherence(Tables.documents(s, d), n = 3,
        threshold = 0.2, maxDf = 1000L)),

    // Kaplan–Meier sufficient statistics (Behavior.kaplanMeierTable):
    // censoring-aware time-to-first-purchase census — at-risk counts,
    // conversions, and censorings per whole day since first activity.
    // Unlike q110's converters-only latency, never-converters censor at
    // the corpus horizon instead of silently dropping.
    q("q279_km_table",
      """WITH per AS (SELECT user_id, min(epoch_ns(ts)) AS t0,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN epoch_ns(ts) END) AS tp
        |  FROM events GROUP BY 1),
        |h AS (SELECT max(epoch_ns(ts)) AS t FROM events),
        |b AS (SELECT CASE WHEN tp IS NOT NULL
        |    THEN (tp - t0) // 86400000000000
        |    ELSE (h.t - t0) // 86400000000000 END AS k,
        |    tp IS NOT NULL AS ev
        |  FROM per, h),
        |c AS (SELECT k, sum(CASE WHEN ev THEN 1 ELSE 0 END) AS n_events,
        |    sum(CASE WHEN ev THEN 0 ELSE 1 END) AS n_censored
        |  FROM b GROUP BY 1)
        |SELECT CAST(k AS BIGINT) AS k,
        |  CAST(sum(n_events + n_censored) OVER (ORDER BY k DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS n_at_risk,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  CAST(n_censored AS BIGINT) AS n_censored
        |FROM c ORDER BY k""".stripMargin)(
      (s, d) => Behavior.kaplanMeierTable(Tables.events(s, d),
        convType = "purchase")),

    // Perceptual average-hash (Multimodal.imageAHash): 8×8 nearest-point
    // integer-luma grid over REAL decoded PNG pixels, thresholded at the
    // grid mean — two 32-bit halves (a bit-63 single word overflows
    // range-checked engines). The oracle recomputes the hash from the
    // synthetic-PNG generative pixel formula (the q38/q39 device), so a
    // single luma bit off in the decode path hash-mismatches the round.
    q("q280_image_ahash",
      """WITH img AS (SELECT doc_id, 8 + doc_id % 32 AS w,
        |    8 + doc_id % 24 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |g AS (SELECT doc_id, w, h, i.i, j.j,
        |    (i.i * w) // 8 AS x, (j.j * h) // 8 AS y
        |  FROM img, (SELECT unnest(generate_series(0, 7)) AS i) i,
        |    (SELECT unnest(generate_series(0, 7)) AS j) j),
        |l AS (SELECT doc_id, w, h, j * 8 + i AS k,
        |    (299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255)
        |      + 114 * (v & 255)) // 1000 AS luma
        |  FROM (SELECT *,
        |    (doc_id * 31 + x * 7 + y * 131) & 16777215 AS v FROM g) t),
        |m AS (SELECT doc_id, sum(luma) // 64 AS mean FROM l GROUP BY 1),
        |bits AS (SELECT l.doc_id, l.w, l.h,
        |    sum(CASE WHEN l.luma >= m.mean AND l.k >= 32
        |      THEN (CAST(1 AS BIGINT) << CAST(l.k - 32 AS INTEGER))
        |      ELSE 0 END) AS ahash_hi,
        |    sum(CASE WHEN l.luma >= m.mean AND l.k < 32
        |      THEN (CAST(1 AS BIGINT) << CAST(l.k AS INTEGER))
        |      ELSE 0 END) AS ahash_lo
        |  FROM l JOIN m USING (doc_id) GROUP BY 1, 2, 3)
        |SELECT doc_id AS media_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height, CAST(ahash_hi AS BIGINT)
        |    AS ahash_hi, CAST(ahash_lo AS BIGINT) AS ahash_lo
        |FROM bits ORDER BY media_id""".stripMargin)(
      (s, d) => Multimodal.imageAHash(
          Multimodal.syntheticMedia(Tables.documents(s, d))).toDF()
        .orderBy("media_id")),

    // Perceptual image near-dup pairs (Multimodal.imageNearDupPairs):
    // hamming ≤ 7 on the q280 aHash via 8-bit pigeonhole chunks — the
    // q130 copy-injection device plants exact duplicates (same PNG
    // bytes under shifted ids), so recall has known ground truth; the
    // oracle recomputes both hash sets from the generative formula and
    // does the exact all-pairs hamming.
    q("q281_image_neardup",
      """WITH ids AS (
        |  SELECT doc_id AS mid, doc_id AS seed FROM documents
        |  WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id FROM documents
        |  WHERE doc_id % 3 = 0),
        |img AS (SELECT mid, seed, 8 + seed % 32 AS w,
        |    8 + seed % 24 AS h FROM ids),
        |g AS (SELECT mid, seed, w, h, i.i, j.j,
        |    (i.i * w) // 8 AS x, (j.j * h) // 8 AS y
        |  FROM img, (SELECT unnest(generate_series(0, 7)) AS i) i,
        |    (SELECT unnest(generate_series(0, 7)) AS j) j),
        |l AS (SELECT mid, j * 8 + i AS k,
        |    (299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255)
        |      + 114 * (v & 255)) // 1000 AS luma
        |  FROM (SELECT *,
        |    (seed * 31 + x * 7 + y * 131) & 16777215 AS v FROM g) t),
        |m AS (SELECT mid, sum(luma) // 64 AS mean FROM l GROUP BY 1),
        |bits AS (SELECT l.mid,
        |    sum(CASE WHEN l.luma >= m.mean AND l.k >= 32
        |      THEN (CAST(1 AS BIGINT) << CAST(l.k - 32 AS INTEGER))
        |      ELSE 0 END) AS hi,
        |    sum(CASE WHEN l.luma >= m.mean AND l.k < 32
        |      THEN (CAST(1 AS BIGINT) << CAST(l.k AS INTEGER))
        |      ELSE 0 END) AS lo
        |  FROM l JOIN m USING (mid) GROUP BY 1)
        |SELECT a.mid AS id_a, b.mid AS id_b,
        |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
        |    AS BIGINT) AS hamming
        |FROM bits a JOIN bits b ON a.mid < b.mid
        |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
        |ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.{Encoder, Encoders}
        implicit val enc: Encoder[Multimodal.Media] =
          Encoders.product[Multimodal.Media]
        val media = Multimodal.syntheticMedia(Tables.documents(s, d))
          .filter(col("kind") === "image").as[Multimodal.Media]
        val copies = media.map(m => m.copy(media_id = m.media_id + 1000000L))
        Multimodal.imageNearDupPairs(
          Multimodal.imageAHash(media.union(copies)).toDF(),
          maxHamming = 7)
      }),

    // Seasonal-naive backtest (Behavior.seasonalNaiveBacktest): score
    // pred(t) = cents(t−7) over daily revenue — exact-cents MAE + bias,
    // the drift dial for volume monitoring. Periods whose seasonal
    // parent is a gap are skipped (q106 no-silent-bridging).
    q("q282_seasonal_backtest",
      """WITH p AS (SELECT epoch_ms(o_orderdate) // 86400000 AS period,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |c AS (SELECT period, sum(cents) AS cents FROM p GROUP BY 1),
        |j AS (SELECT a.cents, b.cents AS pred
        |  FROM c a JOIN c b ON a.period = b.period + 7)
        |SELECT CAST(count(*) AS BIGINT) AS n_scored,
        |  CAST(sum(abs(cents - pred)) // nullif(count(*), 0) AS BIGINT)
        |    AS mae_cents,
        |  CAST(sum(cents - pred) AS BIGINT) AS bias_cents
        |FROM j""".stripMargin)(
      (s, d) => Behavior.seasonalNaiveBacktest(Tables.orders(s, d),
        "o_orderdate",
        org.apache.spark.sql.functions.expr(
          "cast(round(o_totalprice * 100) as long)"),
        periodMs = 86400000L, season = 7)),

    // Deterministic Poisson bootstrap (Sampling.bootstrapConversionCi):
    // 400 reproducible resamples via Poisson(1) inverse-CDF on the
    // 32-bit md5 uniform of (user, replicate) — integer thresholds, so
    // both engines draw byte-identical weights; CI = (2.5%, 97.5%)
    // rank pair of replicate rates in permille.
    q("q283_bootstrap_ci",
      """WITH per AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY 1),
        |point AS (SELECT count(*) AS n_users, sum(conv) AS converted
        |  FROM per),
        |rep AS (SELECT user_id, conv,
        |    unnest(generate_series(1, 400)) AS b FROM per),
        |u AS (SELECT conv, b,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':'
        |      || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) AS u FROM rep),
        |wts AS (SELECT conv, b, CASE
        |    WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1
        |    WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3
        |    WHEN u < 4279248373 THEN 4 ELSE 5 END AS w FROM u),
        |rates AS (SELECT b,
        |    sum(w * conv) * 1000 // nullif(sum(w), 0) AS rate_pm
        |  FROM wts GROUP BY 1),
        |r AS (SELECT rate_pm, row_number() OVER (ORDER BY rate_pm, b)
        |    AS rn FROM rates),
        |ci AS (SELECT max(CASE WHEN rn = 10 THEN rate_pm END) AS lo_pm,
        |    max(CASE WHEN rn = 390 THEN rate_pm END) AS hi_pm FROM r)
        |SELECT CAST(n_users AS BIGINT) AS n_users,
        |  CAST(converted AS BIGINT) AS converted,
        |  CAST(converted * 1000 // nullif(n_users, 0) AS BIGINT)
        |    AS point_pm,
        |  CAST(lo_pm AS BIGINT) AS lo_pm, CAST(hi_pm AS BIGINT) AS hi_pm
        |FROM point, ci""".stripMargin)(
      (s, d) => Sampling.bootstrapConversionCi(Tables.events(s, d),
        convType = "purchase", reps = 400)),

    // Rank movers (Relational.rankMovers): month-over-month revenue-rank
    // climbers per part — the "suddenly selling" dial absolute top-k
    // can't see. Ranks per month on the collapsed (month, part) revenue
    // table; only parts present in both months compare.
    q("q284_rank_movers",
      """WITH rev AS (SELECT year(o_orderdate) * 12
        |    + month(o_orderdate) - 1 AS m, l_partkey AS part,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS rev_cents
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |rk AS (SELECT m, part, rev_cents,
        |    row_number() OVER (PARTITION BY m
        |      ORDER BY rev_cents DESC, part) AS rank FROM rev),
        |mv AS (SELECT cur.m, cur.part, cur.rank, prv.rank AS rank_prev,
        |    prv.rank - cur.rank AS delta
        |  FROM rk cur JOIN rk prv
        |    ON prv.m + 1 = cur.m AND prv.part = cur.part),
        |top AS (SELECT *, row_number() OVER (PARTITION BY m
        |    ORDER BY delta DESC, part) AS rnk FROM mv)
        |SELECT CAST(m AS BIGINT) AS month_idx, part,
        |  CAST(rank AS BIGINT) AS rank, CAST(rank_prev AS BIGINT)
        |    AS rank_prev, CAST(delta AS BIGINT) AS delta,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM top WHERE rnk <= 5 ORDER BY month_idx, rnk""".stripMargin)(
      (s, d) => Relational.rankMovers(Tables.orders(s, d),
        Tables.lineitem(s, d), k = 5)),

    // Wilson lower-bound ranking (Relational.wilsonReturnRank): brand
    // return rates ranked by the worst rate the data still supports —
    // raw-rate ranking promotes 1-of-1 flukes. The bound is one
    // fixed-shape double expression over exact (r, n) with z and z·z
    // from the same parsed literal on both engines, then q6-quantized.
    q("q285_wilson_return_rank",
      """WITH cens AS (SELECT p_brand AS brand,
        |    count(*) AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1),
        |wl AS (SELECT brand, n, r,
        |    (r / n + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
        |        / (2 * n)
        |      - CAST(1.96 AS DOUBLE) * sqrt(r / n * (1 - r / n) / n
        |        + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
        |          / (4 * n * n)))
        |     / (1 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / n)
        |    AS w FROM cens)
        |SELECT brand, CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS r,
        |  CAST(r * 1000 // n AS BIGINT) AS rate_pm,
        |  CAST(round(w * 1000000) AS BIGINT) AS wilson_q6,
        |  CAST(row_number() OVER (ORDER BY round(w * 1000000) DESC,
        |    brand) AS BIGINT) AS rnk
        |FROM wl ORDER BY rnk""".stripMargin)(
      (s, d) => Relational.wilsonReturnRank(Tables.lineitem(s, d),
        Tables.part(s, d), z = 1.96)),

    // Directed copy-flow matrix (Dedup.copyFlowMatrix): per source pair,
    // containment counts in BOTH directions + net — syndication hubs
    // split from scrapers only under the directed relation (q112/q181
    // are symmetric). Rides q118's containment; uncapped here to match
    // the exact oracle (q118 convention).
    q("q286_copy_flow",
      """WITH toks AS (
        |  SELECT doc_id, source, list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, source, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.source AS sa, b.source AS sb
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) > 0
        |    AND len(list_intersect(a.s, b.s)) * 1000 >= 600 * len(a.s)
        |    AND a.source <> b.source),
        |f AS (SELECT least(sa, sb) AS source_lo,
        |    greatest(sa, sb) AS source_hi,
        |    CASE WHEN sa < sb THEN 1 ELSE 0 END AS lh,
        |    CASE WHEN sa > sb THEN 1 ELSE 0 END AS hl FROM px)
        |SELECT source_lo, source_hi,
        |  CAST(sum(lh) AS BIGINT) AS n_lo_in_hi,
        |  CAST(sum(hl) AS BIGINT) AS n_hi_in_lo,
        |  CAST(sum(lh) - sum(hl) AS BIGINT) AS net_flow
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => Dedup.copyFlowMatrix(Tables.documents(s, d), n = 3,
        minPermille = 600L, maxDf = Long.MaxValue)),

    // Forget-cascade census (Cdc.forgetCascadeCensus): rows each table
    // loses for a 1%-of-customers GDPR erasure — id-only semi-joins,
    // lineitem resolved against the already-filtered orders, one-row
    // report. The md5 slice stands in for a real request table.
    q("q287_forget_cascade",
      """WITH forget AS (SELECT c_custkey FROM customer
        |  WHERE CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
        |    1, 4)) AS INTEGER) % 1000 < 10),
        |fo AS (SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM forget))
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM forget) AS n_customers,
        |  (SELECT CAST(count(*) AS BIGINT) FROM fo) AS n_orders,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_orderkey IN (SELECT o_orderkey FROM fo))
        |    AS n_lineitems,
        |  (SELECT CAST(count(*) AS BIGINT) FROM events
        |   WHERE user_id IN (SELECT c_custkey FROM forget))
        |    AS n_events""".stripMargin)(
      (s, d) => Cdc.forgetCascadeCensus(Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), Tables.events(s, d),
        permille = 10L)),

    // Changepoint localization (Behavior.binarySegmentation): the split
    // of the daily order-count series maximizing between-segment sum of
    // squares — q220 flags THAT a shift exists, this says WHERE. Scores
    // are bit-identical doubles over exact cumulative sums; ordinal
    // tiebreak.
    q("q288_binary_segmentation",
      """WITH p AS (SELECT epoch_ms(o_orderdate) // 86400000 AS period
        |  FROM orders),
        |c AS (SELECT period, count(*) AS n FROM p GROUP BY 1),
        |r AS (SELECT period,
        |    row_number() OVER (ORDER BY period) AS i,
        |    sum(n) OVER (ORDER BY period
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl,
        |    count(*) OVER () AS m, sum(n) OVER () AS st FROM c),
        |f AS (SELECT *,
        |    sl * sl / i + (st - sl) * (st - sl) / (m - i) AS f
        |  FROM r WHERE i < m)
        |SELECT period AS split_period,
        |  CAST(i AS BIGINT) AS n_periods_left,
        |  CAST(m - i AS BIGINT) AS n_periods_right,
        |  CAST(sl AS BIGINT) AS sum_left,
        |  CAST(st - sl AS BIGINT) AS sum_right,
        |  CAST(round(f - st * st / m) AS BIGINT) AS gain
        |FROM f ORDER BY f DESC, i LIMIT 1""".stripMargin)(
      (s, d) => Behavior.binarySegmentation(Tables.orders(s, d),
        "o_orderdate", periodMs = 86400000L)),

    // Top-N + OTHER rollup (Relational.topNWithOther): revenue by
    // nation, top-3 + the conserved tail — shares are of the WHOLE, so
    // the table stays 4 rows at any nation cardinality.
    q("q289_topn_other",
      """WITH cens AS (SELECT n_name AS grp,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |t AS (SELECT sum(cents) AS t FROM cens),
        |r AS (SELECT grp, cents,
        |    row_number() OVER (ORDER BY cents DESC, grp) AS rn
        |  FROM cens),
        |lab AS (SELECT CASE WHEN rn <= 3 THEN grp ELSE 'OTHER' END
        |    AS label,
        |    CASE WHEN rn <= 3 THEN rn ELSE 4 END AS rnk, cents FROM r)
        |SELECT label, CAST(sum(cents) AS BIGINT) AS cents,
        |  CAST(sum(cents) * 1000 // nullif(t.t, 0) AS BIGINT)
        |    AS share_pm,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM lab, t GROUP BY label, rnk, t.t
        |ORDER BY rnk, label""".stripMargin)(
      (s, d) => Relational.topNWithOther(
        Tables.orders(s, d)
          .join(Tables.customer(s, d),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.nation(s, d),
            col("c_nationkey") === col("n_nationkey")),
        "n_name",
        org.apache.spark.sql.functions.expr(
          "cast(round(o_totalprice * 100) as long)"),
        k = 3)),

    // Burstiness census (Behavior.burstinessCensus): Fano factor of
    // per-day counts per event type, integer-exact with cleared
    // denominators in decimal/HUGEINT — Poisson ≈ 1000 q3, retry
    // storms above, heartbeats below. Observed days only (q106 law).
    q("q290_burstiness",
      """WITH c AS (SELECT event_type,
        |    epoch_ns(ts) // 86400000000000 AS p, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*) AS m, sum(n) AS s,
        |    sum(n * n) AS q FROM c GROUP BY 1)
        |SELECT event_type, CAST(m AS BIGINT) AS m,
        |  CAST((m * q - s * s) * 1000 // (m * s) AS BIGINT) AS fano_q3,
        |  m * q - s * s > m * s AS is_bursty
        |FROM s ORDER BY event_type""".stripMargin)(
      (s, d) => Behavior.burstinessCensus(Tables.events(s, d),
        periodMs = 86400000L)),

    // ---- sink driver gates (SURVEY §2.1 S3/S4/S5/S8): each sink writes
    // to scratch, reads its own output back, and must reproduce the
    // q107 order-insensitive checksum the oracle computes from the
    // SOURCE rows — a dropped row, mangled separator, misplaced
    // partition, or re-encoded value is a driver hash mismatch. ----

    // S3 text KV sink (Sinks.writeTextKV → read-back): word counts
    // through the key TAB value serialization (TextOutputFormat
    // semantics — reference WordCount1/src/main/java/hw1/WordCount
    // .java:58). Checksum over the parsed STRINGS on the Spark side;
    // the oracle stringifies the same columns.
    q("q291_sink_text_roundtrip",
      """WITH wc AS (SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(string_split_regex(text, '[ \t\n\r\f]+'))
        |      AS word FROM documents) t
        |  WHERE length(word) > 0 GROUP BY word)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(('0x' || substr(md5(concat(
        |    coalesce(md5(CAST(word AS VARCHAR)), 'null'),
        |    coalesce(md5(CAST(cnt AS VARCHAR)), 'null'))), 1, 8))
        |    AS BIGINT)) AS VARCHAR) AS checksum
        |FROM wc""".stripMargin)(
      (s, d) => Sinks.textKVRoundtripChecksum(
          Text.wordCount(Tables.documents(s, d)), "word", "cnt",
          Sinks.scratch("q291"))
        .select(col("n_rows"),
          col("checksum").cast("string").as("checksum"))),

    // S4 partitioned columnar sink (Sinks.writeParquet partitionBy →
    // partition-discovery read-back): customer by market segment
    // (reference HPopulate.java:61–108's buffered KV write, re-expressed
    // as the columnar layout). Per-segment census proves rows landed
    // under the right partition directory AND survived the encode.
    q("q292_sink_partitioned_parquet",
      """SELECT c_mktsegment, count(*) AS n_rows,
        |  CAST(sum(CAST(('0x' || substr(md5(concat(
        |    coalesce(md5(CAST(c_custkey AS VARCHAR)), 'null'),
        |    coalesce(md5(c_name), 'null'),
        |    coalesce(md5(CAST(c_nationkey AS VARCHAR)), 'null'))), 1, 8))
        |    AS BIGINT)) AS VARCHAR) AS checksum
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Sinks.parquetRoundtripChecksum(
          Tables.customer(s, d).select("c_custkey", "c_name",
            "c_nationkey", "c_mktsegment"),
          "c_mktsegment", Seq("c_custkey", "c_name", "c_nationkey"),
          Sinks.scratch("q292"))
        .select(col("c_mktsegment"), col("n_rows"),
          col("checksum").cast("string").as("checksum"))),

    // S5 bulk-load sink (Sinks.writeSortedParquet → read-back audit):
    // orders keys hashed into 4 partitions, sorted within each before
    // the columnar write (sorted-HFile generation, reference
    // HPopulateV1.java:144–156). n_sort_violations counts read-back
    // rows whose key DECREASES within a file — the sort property the
    // bulk-load contract is about — and must be exactly 0.
    q("q293_sink_bulkload_sorted",
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(('0x' || substr(md5(concat(
        |    coalesce(md5(CAST(o_orderkey AS VARCHAR)), 'null'),
        |    coalesce(md5(CAST(o_custkey AS VARCHAR)), 'null'))), 1, 8))
        |    AS BIGINT)) AS VARCHAR) AS checksum,
        |  CAST(0 AS BIGINT) AS n_sort_violations
        |FROM orders""".stripMargin)(
      (s, d) => Sinks.sortedParquetAudit(
          Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          "o_orderkey", Seq("o_orderkey", "o_custkey"),
          Sinks.scratch("q293"), parts = 4)
        .select(col("n_rows"),
          col("checksum").cast("string").as("checksum"),
          col("n_sort_violations"))),

    // S8 report sink (Sinks.writeReport → read-back): the per-region
    // nation census as driver-side stat=value lines (Summarizer.java:
    // 68–99), parsed back into rows the oracle reproduces relationally.
    q("q294_sink_report",
      """SELECT r_name AS stat, CAST(count(*) AS BIGINT) AS value
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => {
        val summary = Tables.nation(s, d)
          .join(Tables.region(s, d),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
          .orderBy("r_name").collect()
        val lines = summary.map(r => s"${r.getString(0)}=${r.getLong(1)}")
        Sinks.reportRoundtrip(s, lines.toSeq,
          Sinks.scratch("q294") + "/report.txt", "stat", "value")
      }),

    // O1 semantic partitioner (Text.wordCountPartitionedLikeReference):
    // the reference's first-char partitioner — partition index
    // ((lower(first char) − 'm') mod 5, WordCount2/WordCount.java:59–72)
    // — made driver-visible via spark_partition_id(): the physical
    // placement IS the query output, and the oracle predicts it as pure
    // arithmetic on the word. Inputs pre-filtered to ^[mnopqMNOPQ], so
    // indexes land in 0..4.
    q("q295_first_char_partitioner",
      """WITH wc AS (SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(string_split_regex(text, '[ \t\n\r\f]+'))
        |      AS word FROM documents) t
        |  WHERE length(word) > 0
        |    AND regexp_matches(word, '^[mnopqMNOPQ]')
        |  GROUP BY word)
        |SELECT CAST((((ascii(substr(lower(word), 1, 1)) - 109) % 5)
        |    + 5) % 5 AS INTEGER) AS pid,
        |  word, cnt FROM wc ORDER BY word""".stripMargin)(
      (s, d) => Text.wordCountPartitionedLikeReference(
          Tables.documents(s, d), numPartitions = 5)
        .withColumn("pid",
          org.apache.spark.sql.functions.spark_partition_id())
        .select(col("pid"), col("word"), col("cnt"))
        .orderBy("word")),

    // Mutual NN, production form (Similarity.mutualNearestNeighborsIvf):
    // the q275 reciprocal-top-1 contract with the top-1 from IVF lists
    // joined on the list key — subquadratic (≈ nprobe/nlist of the
    // all-pairs work), exact on the q62 clustered regime where every
    // true top-1 is intra-cluster, so the EXACT mutual-NN oracle pins
    // the whole quantize→probe→join→mutuality pipeline. q275 stays the
    // exact all-pairs recall referee on the raw fixture.
    q("q296_mutual_nn_ivf",
      """WITH e AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      (x, i) -> x + CASE WHEN i - 1 = vec_id % 8 THEN 3.0
        |                         ELSE 0.0 END) AS emb
        |  FROM embeddings),
        |best AS (SELECT q_id, n_id, cos_q6 FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    CAST(round(list_cosine_similarity(q.emb, c.emb) * 1000000)
        |      AS BIGINT) AS cos_q6,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.emb, c.emb) DESC,
        |        c.vec_id) AS rank
        |  FROM e q JOIN e c ON c.vec_id <> q.vec_id) t
        |  WHERE rank = 1)
        |SELECT x.q_id AS id_a, x.n_id AS id_b, x.cos_q6
        |FROM best x JOIN best y
        |  ON x.q_id = y.n_id AND x.n_id = y.q_id AND x.q_id < x.n_id
        |ORDER BY id_a, id_b""".stripMargin)(
      // nlist self-planned from the corpus count (⌈N/256⌉, floor 8 — at
      // the fixture scales that resolves to 8 = the construction's true
      // cluster count, so the exact oracle applies; at DevScale x16 it
      // grows to ~125 lists and the pair stage stays linear)
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        Similarity.mutualNearestNeighborsIvf(
          Similarity.clusteredEmbeddings(Tables.embeddings(s, d)),
          nprobe = 2)
      }),

    // Multimodal decode governance (Multimodal.decodeCensus): per media
    // kind, payloads a REAL codec decodes vs the documented stub —
    // image/audio ride ImageIO/javax.sound (0‰ stub), video has no
    // stock-JDK codec (1000‰ stub by design). The census a 100 TB run
    // reads before trusting decode-derived features; it shares the
    // real-vs-stub decision with the decode stage itself.
    q("q297_decode_stub_census",
      """WITH m AS (SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
        |    WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind
        |  FROM documents)
        |SELECT kind, count(*) AS n_media,
        |  CAST(CASE WHEN kind = 'video' THEN 0
        |    ELSE count(*) END AS BIGINT) AS n_real,
        |  CAST(CASE WHEN kind = 'video' THEN count(*)
        |    ELSE 0 END AS BIGINT) AS n_stub,
        |  CAST(CASE WHEN kind = 'video' THEN 1000
        |    ELSE 0 END AS BIGINT) AS stub_pm
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin)(
      (s, d) => Multimodal.decodeCensus(
        Multimodal.syntheticMedia(Tables.documents(s, d)))),

    // Prefix-filtered Jaccard join (Dedup.jaccardPairsPrefix): the
    // AllPairs/PPJoin device — rarest-first canonical order, index only
    // each doc's first sz−⌈t·sz⌉+1 shingles, verify candidates exactly.
    // LOSSLESS (unlike the q22 df-cap, which drops hot shingles), so
    // the exact all-pairs q22 oracle applies verbatim: one missed
    // candidate is a driver hash mismatch.
    q("q298_prefix_jaccard",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(inter / (sza + szb - inter), 4) AS jaccard
        |FROM px WHERE inter / (sza + szb - inter) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => Dedup.jaccardPairsPrefix(Tables.documents(s, d), n = 3,
        threshold = 0.2)),

    // Per-nation Spearman rank correlation (Relational
    // .spearmanOrderSpend): do frequent buyers spend more — monotone
    // association, immune to whale leverage (q230 is the Pearson
    // counterpart on daily counts). Average-tie ranks kept integral by
    // doubling; one exact integer division, q6-quantized.
    q("q299_spearman",
      """WITH cen AS (SELECT o_custkey, count(*) AS n_ord,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |j AS (SELECT c_nationkey AS nation, n_ord, cents
        |  FROM cen JOIN customer ON o_custkey = c_custkey),
        |r AS (SELECT nation,
        |    2 * rank() OVER (PARTITION BY nation ORDER BY n_ord)
        |      + count(*) OVER (PARTITION BY nation, n_ord) - 1 AS rx,
        |    2 * rank() OVER (PARTITION BY nation ORDER BY cents)
        |      + count(*) OVER (PARTITION BY nation, cents) - 1 AS ry
        |  FROM j),
        |s AS (SELECT nation, count(*) AS n,
        |    sum(CAST(rx AS HUGEINT)) AS sx,
        |    sum(CAST(ry AS HUGEINT)) AS sy,
        |    sum(CAST(rx AS HUGEINT) * ry) AS sxy,
        |    sum(CAST(rx AS HUGEINT) * rx) AS sxx,
        |    sum(CAST(ry AS HUGEINT) * ry) AS syy
        |  FROM r GROUP BY 1)
        |SELECT CAST(nation AS BIGINT) AS nation,
        |  CAST(n AS BIGINT) AS n_cust,
        |  CAST(round(1000000 * CAST(n * sxy - sx * sy AS DOUBLE) /
        |    nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |           sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0))
        |    AS BIGINT) AS rho_q6
        |FROM s ORDER BY nation""".stripMargin)(
      (s, d) => Relational.spearmanOrderSpend(Tables.orders(s, d),
        Tables.customer(s, d))),

    // Exact two-sample KS drift (Profiling.ksTwoSample): max ECDF gap
    // between two sources' doc-length distributions, integral-exact as
    // D·n_a·n_b (PSI q169 needs bins; KS is binning-free and localizes
    // the divergence). One value-census window — the q108 posture.
    q("q300_ks_drift",
      """WITH v AS (SELECT source AS g, n_chars AS v FROM documents
        |  WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL),
        |c AS (SELECT v,
        |    sum(CASE WHEN g = 'src0' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN g = 'src1' THEN 1 ELSE 0 END) AS cb
        |  FROM v GROUP BY 1),
        |t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM c),
        |w AS (SELECT v,
        |    sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cumb
        |  FROM c)
        |SELECT CAST(max(t.na) AS BIGINT) AS n_a,
        |  CAST(max(t.nb) AS BIGINT) AS n_b,
        |  CAST(max(abs(CAST(w.cuma AS HUGEINT) * t.nb
        |    - CAST(w.cumb AS HUGEINT) * t.na)) AS VARCHAR) AS d_num,
        |  CAST(max(abs(CAST(w.cuma AS HUGEINT) * t.nb
        |    - CAST(w.cumb AS HUGEINT) * t.na)) * 1000
        |    // (CAST(max(t.na) AS HUGEINT) * max(t.nb)) AS BIGINT) AS ks_pm
        |FROM w, t""".stripMargin)(
      (s, d) => Profiling.ksTwoSample(Tables.documents(s, d),
        "source", "n_chars", "src0", "src1")),

    // MMR diversified rerank (Similarity.mmrRerank): greedy λ-tradeoff
    // between query relevance and redundancy to already-selected
    // results over each query's top-20 cosine candidates — the
    // diversity cut between retrieval and the context window. All
    // scoring on q6-quantized integer similarities; the oracle unrolls
    // the same 5 greedy steps.
    q("q301_mmr_rerank",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings
        |  WHERE list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |        CAST(embedding AS DOUBLE[])) > 0),
        |q AS (SELECT * FROM e WHERE vec_id < 10),
        |cand AS (SELECT q_id, n_id, cos_q6 FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    CAST(round(list_cosine_similarity(q.emb, c.emb) * 1000000)
        |      AS BIGINT) AS cos_q6,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.emb, c.emb) DESC,
        |        c.vec_id) AS rk
        |  FROM q JOIN e c ON c.vec_id <> q.vec_id) t WHERE rk <= 20),
        |sims AS (SELECT a.q_id, a.n_id AS c_id, b.n_id AS s_id,
        |    CAST(round(list_cosine_similarity(ea.emb, eb.emb) * 1000000)
        |      AS BIGINT) AS sim_q6
        |  FROM cand a JOIN cand b ON a.q_id = b.q_id
        |    AND a.n_id <> b.n_id
        |  JOIN e ea ON ea.vec_id = a.n_id
        |  JOIN e eb ON eb.vec_id = b.n_id),
        |s1 AS (SELECT q_id, n_id, 1 AS rnk, 700 * cos_q6 AS score FROM (
        |  SELECT q_id, n_id, cos_q6, row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos_q6 DESC, n_id) AS rk FROM cand) t WHERE rk = 1),
        |sel1 AS (SELECT q_id, n_id FROM s1),
        |m2 AS (SELECT m.q_id, m.c_id AS n_id, max(m.sim_q6) AS ms
        |  FROM sims m JOIN sel1 s ON m.q_id = s.q_id AND m.s_id = s.n_id
        |  GROUP BY 1, 2),
        |r2 AS (SELECT c.q_id, c.n_id, 700 * c.cos_q6 - 300 * m2.ms
        |    AS score,
        |    row_number() OVER (PARTITION BY c.q_id
        |      ORDER BY 700 * c.cos_q6 - 300 * m2.ms DESC, c.n_id) AS rk
        |  FROM cand c JOIN m2 ON m2.q_id = c.q_id AND m2.n_id = c.n_id
        |  WHERE NOT EXISTS (SELECT 1 FROM sel1 s
        |    WHERE s.q_id = c.q_id AND s.n_id = c.n_id)),
        |s2 AS (SELECT q_id, n_id, 2 AS rnk, score FROM r2 WHERE rk = 1),
        |sel2 AS (SELECT * FROM sel1 UNION ALL
        |  SELECT q_id, n_id FROM s2),
        |m3 AS (SELECT m.q_id, m.c_id AS n_id, max(m.sim_q6) AS ms
        |  FROM sims m JOIN sel2 s ON m.q_id = s.q_id AND m.s_id = s.n_id
        |  GROUP BY 1, 2),
        |r3 AS (SELECT c.q_id, c.n_id, 700 * c.cos_q6 - 300 * m3.ms
        |    AS score,
        |    row_number() OVER (PARTITION BY c.q_id
        |      ORDER BY 700 * c.cos_q6 - 300 * m3.ms DESC, c.n_id) AS rk
        |  FROM cand c JOIN m3 ON m3.q_id = c.q_id AND m3.n_id = c.n_id
        |  WHERE NOT EXISTS (SELECT 1 FROM sel2 s
        |    WHERE s.q_id = c.q_id AND s.n_id = c.n_id)),
        |s3 AS (SELECT q_id, n_id, 3 AS rnk, score FROM r3 WHERE rk = 1),
        |sel3 AS (SELECT * FROM sel2 UNION ALL
        |  SELECT q_id, n_id FROM s3),
        |m4 AS (SELECT m.q_id, m.c_id AS n_id, max(m.sim_q6) AS ms
        |  FROM sims m JOIN sel3 s ON m.q_id = s.q_id AND m.s_id = s.n_id
        |  GROUP BY 1, 2),
        |r4 AS (SELECT c.q_id, c.n_id, 700 * c.cos_q6 - 300 * m4.ms
        |    AS score,
        |    row_number() OVER (PARTITION BY c.q_id
        |      ORDER BY 700 * c.cos_q6 - 300 * m4.ms DESC, c.n_id) AS rk
        |  FROM cand c JOIN m4 ON m4.q_id = c.q_id AND m4.n_id = c.n_id
        |  WHERE NOT EXISTS (SELECT 1 FROM sel3 s
        |    WHERE s.q_id = c.q_id AND s.n_id = c.n_id)),
        |s4 AS (SELECT q_id, n_id, 4 AS rnk, score FROM r4 WHERE rk = 1),
        |sel4 AS (SELECT * FROM sel3 UNION ALL
        |  SELECT q_id, n_id FROM s4),
        |m5 AS (SELECT m.q_id, m.c_id AS n_id, max(m.sim_q6) AS ms
        |  FROM sims m JOIN sel4 s ON m.q_id = s.q_id AND m.s_id = s.n_id
        |  GROUP BY 1, 2),
        |r5 AS (SELECT c.q_id, c.n_id, 700 * c.cos_q6 - 300 * m5.ms
        |    AS score,
        |    row_number() OVER (PARTITION BY c.q_id
        |      ORDER BY 700 * c.cos_q6 - 300 * m5.ms DESC, c.n_id) AS rk
        |  FROM cand c JOIN m5 ON m5.q_id = c.q_id AND m5.n_id = c.n_id
        |  WHERE NOT EXISTS (SELECT 1 FROM sel4 s
        |    WHERE s.q_id = c.q_id AND s.n_id = c.n_id)),
        |s5 AS (SELECT q_id, n_id, 5 AS rnk, score FROM r5 WHERE rk = 1),
        |allsel AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
        |  UNION ALL SELECT * FROM s5)
        |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, n_id,
        |  CAST(score AS BIGINT) AS score_q9
        |FROM allsel ORDER BY q_id, rnk""".stripMargin)(
      (s, d) => {
        val emb = nonZeroEmbeddings(s, d)
        Similarity.mmrRerank(emb, emb.filter(col("vec_id") < 10),
            k = 20, select = 5, lambdaPermille = 700L)
          .select(col("q_id"), col("rnk"), col("n_id"),
            col("score_q9"))
      }),

    // Greedy max-coverage source selection (Text.greedySourceCover):
    // which 5 sources buy the most distinct BIGRAM vocabulary — the
    // set-cover greedy over (source, bigram) postings (unigram pools
    // converge to one shared vocabulary: the greedy would stop at step
    // 1); redundant mirrors score ~0 from step 2, which no per-source
    // marginal census can see. Both sides unroll the same 5 steps;
    // argmax ties break on source name.
    q("q302_greedy_source_cover",
      """WITH toks AS (SELECT source, list_filter(string_split_regex(
        |    text, '[ \t\n\r\f]+'), w -> length(w) > 0) AS t
        |  FROM documents),
        |p AS (SELECT DISTINCT source, word FROM (
        |    SELECT source, unnest(list_transform(
        |      generate_series(1, greatest(len(t) - 1, 0)),
        |      i -> array_to_string(t[i:i+1], ' '))) AS word
        |    FROM toks) t),
        |g1 AS (SELECT source, count(*) AS gain FROM p GROUP BY 1),
        |s1 AS (SELECT source, 1 AS rnk, gain FROM (SELECT *,
        |    row_number() OVER (ORDER BY gain DESC, source) AS rk
        |  FROM g1) t WHERE rk = 1),
        |l1 AS (SELECT source FROM s1),
        |c1 AS (SELECT DISTINCT word FROM p JOIN s1 USING (source)),
        |g2 AS (SELECT source, count(*) AS gain FROM p
        |  WHERE source NOT IN (SELECT source FROM l1)
        |    AND NOT EXISTS (SELECT 1 FROM c1 WHERE c1.word = p.word)
        |  GROUP BY 1),
        |s2 AS (SELECT source, 2 AS rnk, gain FROM (SELECT *,
        |    row_number() OVER (ORDER BY gain DESC, source) AS rk
        |  FROM g2) t WHERE rk = 1),
        |l2 AS (SELECT source FROM l1 UNION ALL SELECT source FROM s2),
        |c2 AS (SELECT word FROM c1 UNION
        |  SELECT word FROM p JOIN s2 USING (source)),
        |g3 AS (SELECT source, count(*) AS gain FROM p
        |  WHERE source NOT IN (SELECT source FROM l2)
        |    AND NOT EXISTS (SELECT 1 FROM c2 WHERE c2.word = p.word)
        |  GROUP BY 1),
        |s3 AS (SELECT source, 3 AS rnk, gain FROM (SELECT *,
        |    row_number() OVER (ORDER BY gain DESC, source) AS rk
        |  FROM g3) t WHERE rk = 1),
        |l3 AS (SELECT source FROM l2 UNION ALL SELECT source FROM s3),
        |c3 AS (SELECT word FROM c2 UNION
        |  SELECT word FROM p JOIN s3 USING (source)),
        |g4 AS (SELECT source, count(*) AS gain FROM p
        |  WHERE source NOT IN (SELECT source FROM l3)
        |    AND NOT EXISTS (SELECT 1 FROM c3 WHERE c3.word = p.word)
        |  GROUP BY 1),
        |s4 AS (SELECT source, 4 AS rnk, gain FROM (SELECT *,
        |    row_number() OVER (ORDER BY gain DESC, source) AS rk
        |  FROM g4) t WHERE rk = 1),
        |l4 AS (SELECT source FROM l3 UNION ALL SELECT source FROM s4),
        |c4 AS (SELECT word FROM c3 UNION
        |  SELECT word FROM p JOIN s4 USING (source)),
        |g5 AS (SELECT source, count(*) AS gain FROM p
        |  WHERE source NOT IN (SELECT source FROM l4)
        |    AND NOT EXISTS (SELECT 1 FROM c4 WHERE c4.word = p.word)
        |  GROUP BY 1),
        |s5 AS (SELECT source, 5 AS rnk, gain FROM (SELECT *,
        |    row_number() OVER (ORDER BY gain DESC, source) AS rk
        |  FROM g5) t WHERE rk = 1),
        |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
        |  UNION ALL SELECT * FROM s5)
        |SELECT CAST(rnk AS BIGINT) AS rnk, source,
        |  CAST(gain AS BIGINT) AS gain,
        |  CAST(sum(gain) OVER (ORDER BY rnk) AS BIGINT)
        |    AS covered_total
        |FROM u ORDER BY rnk""".stripMargin)(
      (s, d) => Text.greedySourceCover(Tables.documents(s, d),
        steps = 5)),

    // K-center coreset (Similarity.kCenterCoreset): greedy farthest-
    // point traversal — 5 anchors spanning the embedding space by
    // maximin similarity (q301's MMR diversifies a per-query ranking;
    // this covers the corpus, query-free). Seed = smallest id; argmin
    // per step is a struct-min partial agg on q6 integers.
    q("q303_kcenter_coreset",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings
        |  WHERE list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |        CAST(embedding AS DOUBLE[])) > 0),
        |s1 AS (SELECT 1 AS rnk, min(vec_id) AS vec_id,
        |  CAST(NULL AS BIGINT) AS maxsim_q6 FROM e),
        |l1 AS (SELECT vec_id FROM s1),
        |m2 AS (SELECT p.vec_id, max(CAST(round(
        |    list_cosine_similarity(p.emb, s.emb) * 1000000) AS BIGINT))
        |    AS ms
        |  FROM e p JOIN e s ON s.vec_id IN (SELECT vec_id FROM l1)
        |  WHERE p.vec_id NOT IN (SELECT vec_id FROM l1) GROUP BY 1),
        |s2 AS (SELECT 2 AS rnk, vec_id, ms AS maxsim_q6 FROM m2
        |  ORDER BY ms, vec_id LIMIT 1),
        |l2 AS (SELECT vec_id FROM l1 UNION ALL
        |  SELECT vec_id FROM s2),
        |m3 AS (SELECT p.vec_id, max(CAST(round(
        |    list_cosine_similarity(p.emb, s.emb) * 1000000) AS BIGINT))
        |    AS ms
        |  FROM e p JOIN e s ON s.vec_id IN (SELECT vec_id FROM l2)
        |  WHERE p.vec_id NOT IN (SELECT vec_id FROM l2) GROUP BY 1),
        |s3 AS (SELECT 3 AS rnk, vec_id, ms AS maxsim_q6 FROM m3
        |  ORDER BY ms, vec_id LIMIT 1),
        |l3 AS (SELECT vec_id FROM l2 UNION ALL
        |  SELECT vec_id FROM s3),
        |m4 AS (SELECT p.vec_id, max(CAST(round(
        |    list_cosine_similarity(p.emb, s.emb) * 1000000) AS BIGINT))
        |    AS ms
        |  FROM e p JOIN e s ON s.vec_id IN (SELECT vec_id FROM l3)
        |  WHERE p.vec_id NOT IN (SELECT vec_id FROM l3) GROUP BY 1),
        |s4 AS (SELECT 4 AS rnk, vec_id, ms AS maxsim_q6 FROM m4
        |  ORDER BY ms, vec_id LIMIT 1),
        |l4 AS (SELECT vec_id FROM l3 UNION ALL
        |  SELECT vec_id FROM s4),
        |m5 AS (SELECT p.vec_id, max(CAST(round(
        |    list_cosine_similarity(p.emb, s.emb) * 1000000) AS BIGINT))
        |    AS ms
        |  FROM e p JOIN e s ON s.vec_id IN (SELECT vec_id FROM l4)
        |  WHERE p.vec_id NOT IN (SELECT vec_id FROM l4) GROUP BY 1),
        |s5 AS (SELECT 5 AS rnk, vec_id, ms AS maxsim_q6 FROM m5
        |  ORDER BY ms, vec_id LIMIT 1),
        |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
        |  UNION ALL SELECT * FROM s5)
        |SELECT CAST(rnk AS BIGINT) AS rnk, vec_id, maxsim_q6
        |FROM u ORDER BY rnk""".stripMargin)(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        Similarity.kCenterCoreset(Tables.embeddings(s, d), select = 5)
      }),

    // Schema-evolution merge (Sinks.schemaEvolutionRoundtrip): two
    // written generations — gen 2 adds o_orderstatus — read back under
    // mergeSchema as ONE union schema; the per-generation census
    // proves new columns are real where written and NULL (not dropped
    // rows, not garbage) where history predates them. The no-rewrite
    // contract a 100 TB lake depends on.
    q("q304_schema_evolution",
      """WITH g AS (SELECT CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2
        |    END AS gen, o_orderkey, o_custkey FROM orders)
        |SELECT CAST(gen AS BIGINT) AS gen, count(*) AS n_rows,
        |  CAST(CASE WHEN gen = 2 THEN count(*) ELSE 0 END AS BIGINT)
        |    AS n_status,
        |  CAST(sum(CAST(('0x' || substr(md5(concat(
        |    coalesce(md5(CAST(o_orderkey AS VARCHAR)), 'null'),
        |    coalesce(md5(CAST(o_custkey AS VARCHAR)), 'null'))), 1, 8))
        |    AS BIGINT)) AS VARCHAR) AS checksum
        |FROM g GROUP BY gen ORDER BY gen""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit, sum, when}
        val o = Tables.orders(s, d)
        val v1 = o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_custkey")
        val v2 = o.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_custkey", "o_orderstatus")
        Sinks.schemaEvolutionRoundtrip(v1, v2, Sinks.scratch("q304"))
          .groupBy(col("gen").cast("long").as("gen"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("o_orderstatus").isNotNull, 1L).otherwise(0L))
              .as("n_status"),
            sum(graft.ops.Profiling.rowDigest(
              Seq("o_orderkey", "o_custkey")).cast("decimal(38,0)"))
              .as("checksum"))
          .select(col("gen"), col("n_rows"), col("n_status"),
            col("checksum").cast("string").as("checksum"))
          .orderBy("gen")
      }),

    // LSH parameter planner (Dedup.lshParamPlan): FP/FN mass of the
    // banded-MinHash capture curve P(s) = 1−(1−sʳ)ᵇ against the ideal
    // step at jaccard 0.5, for every (bands, rows) candidate — the
    // decision a 100 TB dedup prices BEFORE hashing a shingle. Exact
    // cross-engine: s-grid i/128 (power-of-two denominator), powers as
    // explicit squaring chains (never libm pow), per-point q6
    // quantization before the order-free integer sum.
    q("q305_lsh_param_plan",
      """WITH p AS (SELECT bands, rpb FROM (VALUES (4),(8),(16),(32))
        |    b(bands) CROSS JOIN (VALUES (2),(4),(8)) r(rpb)),
        |g AS (SELECT i / CAST(128 AS DOUBLE) AS s
        |  FROM generate_series(1, 127) t(i)),
        |c1 AS (SELECT bands, rpb, s, s * s AS s2 FROM p CROSS JOIN g),
        |c2 AS (SELECT *, s2 * s2 AS s4 FROM c1),
        |c3 AS (SELECT *, s4 * s4 AS s8 FROM c2),
        |c4 AS (SELECT *, CASE rpb WHEN 2 THEN s2 WHEN 4 THEN s4
        |    ELSE s8 END AS sr FROM c3),
        |c5 AS (SELECT *, CAST(1 AS DOUBLE) - sr AS u FROM c4),
        |c6 AS (SELECT *, u * u AS u2 FROM c5),
        |c7 AS (SELECT *, u2 * u2 AS u4 FROM c6),
        |c8 AS (SELECT *, u4 * u4 AS u8 FROM c7),
        |c9 AS (SELECT *, u8 * u8 AS u16 FROM c8),
        |c10 AS (SELECT *, u16 * u16 AS u32 FROM c9),
        |c11 AS (SELECT bands, rpb, s, CASE bands WHEN 4 THEN u4
        |    WHEN 8 THEN u8 WHEN 16 THEN u16 ELSE u32 END AS pmiss
        |  FROM c10),
        |a AS (SELECT bands, rpb,
        |    CAST(sum(CASE WHEN s < 0.5e0 THEN CAST(round(
        |      (CAST(1 AS DOUBLE) - pmiss) * 1000000) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS fp_q6,
        |    CAST(sum(CASE WHEN s >= 0.5e0 THEN CAST(round(
        |      pmiss * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS fn_q6
        |  FROM c11 GROUP BY 1, 2)
        |SELECT CAST(bands AS BIGINT) AS bands, CAST(rpb AS BIGINT)
        |    AS rpb,
        |  CAST(bands * rpb AS BIGINT) AS sig_len, fp_q6, fn_q6,
        |  fp_q6 + fn_q6 AS err_q6
        |FROM a ORDER BY err_q6, bands, rpb""".stripMargin)(
      (s, _) => Dedup.lshParamPlan(s, thresholdNum = 64)),

    // Sequence-gap census (Profiling.sequenceGapCensus): is every
    // order's linenumber sequence EXACTLY 1..n — within-key ordinal
    // completeness, the event-log integrity audit fk_integrity
    // (between tables) and fd_census (within columns) don't cover;
    // per sequence length so corruption localizes. Zero dup/gapped
    // rows IS the pass state.
    q("q306_sequence_gap_census",
      """WITH k AS (SELECT l_orderkey, count(*) AS n,
        |    min(l_linenumber) AS mn, max(l_linenumber) AS mx,
        |    count(DISTINCT l_linenumber) AS d
        |  FROM lineitem GROUP BY 1)
        |SELECT n AS seq_len, count(*) AS n_keys,
        |  CAST(sum(CASE WHEN d = n AND mn = 1 AND mx = n THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_ok,
        |  CAST(sum(CASE WHEN d < n THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup,
        |  CAST(sum(CASE WHEN d = n AND NOT (mn = 1 AND mx = n)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_gapped
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Profiling.sequenceGapCensus(Tables.lineitem(s, d),
        keyCol = "l_orderkey", seqCol = "l_linenumber")),

    // Degree assortativity (Graph.degreeAssortativity): Newman's r —
    // Pearson over endpoint degrees of every directed edge end — on
    // the q103 affinity graph: do hubs connect to hubs (r>0) or to
    // leaves (r<0)? Integer degree sums in decimal(38,0)/HUGEINT (the
    // q299 discipline), one q6-quantized IEEE-exact division.
    q("q307_degree_assortativity",
      """WITH raw AS (SELECT c_nationkey AS src, c_custkey % 25 AS dst
        |  FROM customer),
        |c AS (SELECT DISTINCT least(src, dst) AS a,
        |    greatest(src, dst) AS b
        |  FROM raw WHERE least(src, dst) < greatest(src, dst)),
        |e AS (SELECT a AS u, b AS v FROM c
        |  UNION ALL SELECT b, a FROM c),
        |deg AS (SELECT u AS node, count(*) AS deg FROM e GROUP BY 1),
        |j AS (SELECT du.deg AS dx, dv.deg AS dy FROM e
        |  JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
        |s AS (SELECT count(*) AS n, sum(CAST(dx AS HUGEINT)) AS sx,
        |    sum(CAST(dy AS HUGEINT)) AS sy,
        |    sum(CAST(dx AS HUGEINT) * dy) AS sxy,
        |    sum(CAST(dx AS HUGEINT) * dx) AS sxx,
        |    sum(CAST(dy AS HUGEINT) * dy) AS syy FROM j)
        |SELECT CAST(n AS BIGINT) AS n_ends,
        |  CAST(round(1000000 * CAST(n * sxy - sx * sy AS DOUBLE) /
        |    nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |           sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0))
        |    AS BIGINT) AS r_q6
        |FROM s""".stripMargin)(
      (s, d) => Graph.degreeAssortativity(
        Tables.customer(s, d).select(col("c_nationkey").as("src"),
          (col("c_custkey") % 25).as("dst")))),

    // Integer fixed-point GD linear probe (ml.LinearProbe): full-batch
    // gradient descent with a HARD sigmoid (clamp(½ + m/4, 0, 1)) so
    // the whole training loop — margins, activations, gradients,
    // updates — is exact integer arithmetic, bit-identical across
    // engines (no libm exp; the pageRankMicro/q28 determinism
    // argument applied to a trainer). Task: predict exact-dup
    // membership from (n_chars div 64, token count). Each iteration is
    // one partial agg folding to four driver numbers (the kmeans
    // discipline); the oracle unrolls the same three iterations.
    q("q308_linear_probe",
      """WITH d AS (SELECT text, n_chars,
        |    count(*) OVER (PARTITION BY md5(text)) AS c FROM documents),
        |f AS (SELECT CAST(n_chars // 64 AS BIGINT) AS f1,
        |    CAST(len(list_filter(string_split_regex(text,
        |      '[ \t\n\r\f]+'), w -> length(w) > 0)) AS BIGINT) AS f2,
        |    CASE WHEN c > 1 THEN 1 ELSE 0 END AS y FROM d),
        |s1 AS (SELECT count(*) AS n,
        |    sum(CAST(500000 - 1000000 * y AS HUGEINT)) AS g0,
        |    sum(CAST(500000 - 1000000 * y AS HUGEINT) * f1) AS g1,
        |    sum(CAST(500000 - 1000000 * y AS HUGEINT) * f2) AS g2
        |  FROM f),
        |w1 AS (SELECT n, -(g0 // (64 * n)) AS w0,
        |    -(g1 // (64 * n)) AS wa, -(g2 // (64 * n)) AS wb FROM s1),
        |h2 AS (SELECT f.y, f.f1, f.f2, greatest(least(500000 +
        |    CAST(w1.w0 + w1.wa * f.f1 + w1.wb * f.f2 AS BIGINT) // 4,
        |    1000000), 0) AS h FROM f, w1),
        |s2 AS (SELECT count(*) AS n,
        |    sum(CAST(h - 1000000 * y AS HUGEINT)) AS g0,
        |    sum(CAST(h - 1000000 * y AS HUGEINT) * f1) AS g1,
        |    sum(CAST(h - 1000000 * y AS HUGEINT) * f2) AS g2 FROM h2),
        |w2 AS (SELECT s2.n, w1.w0 - (s2.g0 // (64 * s2.n)) AS w0,
        |    w1.wa - (s2.g1 // (64 * s2.n)) AS wa,
        |    w1.wb - (s2.g2 // (64 * s2.n)) AS wb FROM s2, w1),
        |h3 AS (SELECT f.y, f.f1, f.f2, greatest(least(500000 +
        |    CAST(w2.w0 + w2.wa * f.f1 + w2.wb * f.f2 AS BIGINT) // 4,
        |    1000000), 0) AS h FROM f, w2),
        |s3 AS (SELECT count(*) AS n,
        |    sum(CAST(h - 1000000 * y AS HUGEINT)) AS g0,
        |    sum(CAST(h - 1000000 * y AS HUGEINT) * f1) AS g1,
        |    sum(CAST(h - 1000000 * y AS HUGEINT) * f2) AS g2 FROM h3),
        |w3 AS (SELECT s3.n, w2.w0 - (s3.g0 // (64 * s3.n)) AS w0,
        |    w2.wa - (s3.g1 // (64 * s3.n)) AS wa,
        |    w2.wb - (s3.g2 // (64 * s3.n)) AS wb FROM s3, w2),
        |mf AS (SELECT f.y, CAST(w3.w0 + w3.wa * f.f1 +
        |    w3.wb * f.f2 AS BIGINT) AS m FROM f, w3),
        |a AS (SELECT count(*) AS n, sum(CASE WHEN (m >= 0) = (y = 1)
        |    THEN 1 ELSE 0 END) AS ok FROM mf)
        |SELECT 'acc_pm' AS term, CAST(ok * 1000 // n AS BIGINT) AS val
        |  FROM a
        |UNION ALL SELECT 'n', CAST(n AS BIGINT) FROM a
        |UNION ALL SELECT 'w0', CAST(w0 AS BIGINT) FROM w3
        |UNION ALL SELECT 'w1', CAST(wa AS BIGINT) FROM w3
        |UNION ALL SELECT 'w2', CAST(wb AS BIGINT) FROM w3
        |ORDER BY term""".stripMargin)(
      (s, d) => graft.ml.LinearProbe.trainHardSigmoidGd(
        Tables.documents(s, d), iterations = 3)),

    // Streaming-engine parity (EventStreams.tumblingCountsViaStream):
    // q30's tumbling aggregate executed THROUGH Structured Streaming —
    // readStream file source → state-store windowed agg → memory sink
    // under Trigger.AvailableNow, complete mode — and checked against
    // q30's batch oracle VERBATIM. Micro-batch planning and cross-batch
    // state accumulation must reproduce the batch result bit for bit;
    // the unit specs pin watermark/late-data behavior, this entry pins
    // the arithmetic parity under the driver's gate.
    q("q309_stream_tumbling_parity",
      """SELECT CAST(epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS win_us,
        |  event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY win_us, event_type""".stripMargin)(
      (s, d) => graft.streaming.EventStreams.tumblingCountsViaStream(s, d)),

    // Leave-one-out target encoding (Relational.targetEncodeLoo): the
    // high-cardinality categorical encoder with the leakage fix — each
    // order's nation feature is the mean of the OTHER orders' values,
    // reported as the exact rational (group cents − own cents, n − 1)
    // so both engines agree bit for bit; singleton groups get NULL
    // (no peers), not 0. One keyed agg + one broadcast-back join.
    q("q310_target_encode_loo",
      """WITH fact AS (SELECT o_orderkey, c_nationkey AS nation,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |g AS (SELECT nation, count(*) AS n,
        |    sum(CAST(cents AS HUGEINT)) AS s FROM fact GROUP BY 1)
        |SELECT o_orderkey, CAST(nation AS BIGINT) AS nation,
        |  CASE WHEN n > 1 THEN CAST(s - cents AS VARCHAR)
        |    ELSE NULL END AS loo_num,
        |  CAST(n - 1 AS BIGINT) AS loo_den
        |FROM fact JOIN g USING (nation)
        |WHERE o_orderkey < 500
        |ORDER BY o_orderkey""".stripMargin)(
      (s, d) => Relational.targetEncodeLoo(Tables.orders(s, d),
        Tables.customer(s, d), maxOrderKey = 500L)),

    // Salt-factor planning census (Skew.saltPlanCensus): per-key counts
    // vs a rows-per-task budget → the ⌈cnt/target⌉ salt factor a salted
    // repartition needs per hot key. Turns q72's constant salt and the
    // q75/q95 skew diagnostics into an actionable pre-flight plan; one
    // keyed partial agg, integer ceiling both engines.
    q("q311_salt_plan",
      """SELECT event_type AS key, count(*) AS cnt,
        |  CAST((count(*) + 999) // 1000 AS BIGINT) AS salt_factor
        |FROM events GROUP BY 1 HAVING count(*) > 1000
        |ORDER BY cnt DESC, key""".stripMargin)(
      (s, d) => Skew.saltPlanCensus(Tables.events(s, d),
        key = "event_type", targetPerTask = 1000L)),

    // Streaming dedup law (EventStreams.dedupedUnionCensusViaStream):
    // the events file ingested TWICE through the real streaming engine
    // (doubled at-least-once delivery), dropDuplicatesWithinWatermark
    // collapses the copies, and the surviving per-type census must
    // equal the batch census of the single table — exactly-once
    // recovered from at-least-once, checked by the driver's oracle,
    // not just unit specs. Exact-cents sums (no double fold).
    q("q312_stream_dedup_parity",
      """SELECT event_type, count(*) AS cnt,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => graft.streaming.EventStreams
        .dedupedUnionCensusViaStream(s, d)),

    // SQL front door: q01's pricing summary submitted as SQL TEXT
    // through spark.sql over a registered view — same Catalyst logical
    // plan, same oracle, zero DataFrame code. Pins that a user of this
    // engine can drive it from SQL alone (the reference's users write
    // jobs; ours can write either) and that the SQL parser path stays
    // plan-identical to the declarative builders.
    q("q313_sql_frontdoor",
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price, avg(l_quantity) AS avg_qty,
        |  CAST(ceil(avg(l_quantity)) AS INTEGER) AS ceil_avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)(
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v313")
        s.sql("""SELECT l_returnflag, l_linestatus,
            sum(l_quantity) AS sum_qty,
            round(sum(l_extendedprice), 2) AS sum_price,
            avg(l_quantity) AS avg_qty,
            CAST(ceil(avg(l_quantity)) AS INT) AS ceil_avg_qty,
            count(*) AS count_order
          FROM lineitem_v313
          WHERE l_shipdate <= CAST('1998-09-02' AS TIMESTAMP_NTZ)
          GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""")
      }),

    // Simpson's-paradox audit (Profiling.simpsonSlopeAudit): per-group
    // OLS slope of quantity on discount cents next to the pooled slope,
    // reversal flagged on EXACT integer numerators (never the rounded
    // doubles) — "is the aggregate trend an artifact of pooling", the
    // governance question q230/q299 correlation censuses can't answer.
    q("q314_simpson_audit",
      """WITH b AS (SELECT l_returnflag AS grp,
        |    CAST(round(l_discount * 100) AS BIGINT) AS x,
        |    CAST(l_quantity AS BIGINT) AS y FROM lineitem),
        |g AS (SELECT grp, count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx,
        |    sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx FROM b GROUP BY 1),
        |p AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx,
        |    sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx FROM b),
        |gg AS (SELECT grp, n, n * sxy - sx * sy AS num,
        |    n * sxx - sx * sx AS den FROM g),
        |pp AS (SELECT n * sxy - sx * sy AS p_num,
        |    n * sxx - sx * sx AS p_den FROM p)
        |SELECT grp, CAST(gg.n AS BIGINT) AS n,
        |  CAST(round(1000000 * CAST(num AS DOUBLE) /
        |    nullif(CAST(den AS DOUBLE), 0)) AS BIGINT) AS slope_q6,
        |  CAST(round(1000000 * CAST(p_num AS DOUBLE) /
        |    nullif(CAST(p_den AS DOUBLE), 0)) AS BIGINT)
        |    AS pooled_slope_q6,
        |  (den > 0 AND p_den > 0 AND ((num < 0 AND p_num > 0)
        |    OR (num > 0 AND p_num < 0))) AS reversed
        |FROM gg, pp ORDER BY grp""".stripMargin)(
      (s, d) => Profiling.simpsonSlopeAudit(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          org.apache.spark.sql.functions
            .expr("cast(round(l_discount * 100) as long)").as("disc_c"),
          col("l_quantity")),
        groupCol = "l_returnflag", xCol = "disc_c", yCol = "l_quantity"))
  ,

    // Bucketed co-located join (Bucketing.writeBucketed/coLocatedJoin):
    // both sides pre-hashed into 8 buckets on the join key at WRITE
    // time, so the join itself plans with zero exchanges (BucketingSpec
    // pins the no-Exchange plan) — the 100 TB lever for recurring
    // fact joins: pay the shuffle once, never at read. This entry puts
    // the bucketed read path's RESULT under the driver oracle too.
    q("q315_bucketed_join",
      """SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |    AS HUGEINT)) AS VARCHAR) AS cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, expr, lit, sum}
        Bucketing.writeBucketed(Tables.orders(s, d)
            .select(col("o_custkey").as("k"),
              expr("cast(round(o_totalprice * 100) as long)").as("cents")),
          "g315_orders", "k", buckets = 8)
        Bucketing.writeBucketed(Tables.customer(s, d)
            .select(col("c_custkey").as("k"), col("c_nationkey")),
          "g315_customer", "k", buckets = 8)
        Bucketing.coLocatedJoin(s, "g315_orders", "g315_customer", "k")
          .groupBy(col("c_nationkey").cast("long").as("nation"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("cents").cast("decimal(38,0)")).cast("string")
              .as("cents"))
          .orderBy("nation")
      }),

    // Interchange-format lossless law (Sinks.formatRoundtripChecksum):
    // the documents projection written through the CSV, JSON and ORC
    // sinks, each read back and checksummed — all three rows must equal
    // the source census (q291's law generalized across the format
    // surface; CSV quoting/escaping is the leg this gate exists for).
    q("q316_format_roundtrip",
      """WITH c AS (SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(('0x' || substr(md5(concat(
        |    coalesce(md5(CAST(doc_id AS VARCHAR)), 'null'),
        |    coalesce(md5(text), 'null'))), 1, 8)) AS BIGINT))
        |    AS VARCHAR) AS checksum
        |  FROM documents)
        |SELECT 'csv' AS format, n_rows, checksum FROM c
        |UNION ALL SELECT 'json', n_rows, checksum FROM c
        |UNION ALL SELECT 'orc', n_rows, checksum FROM c
        |ORDER BY format""".stripMargin)(
      (s, d) => Sinks.formatRoundtripChecksum(Tables.documents(s, d),
        cols = Seq("doc_id", "text"), formats = Seq("csv", "json", "orc"),
        path = Sinks.scratch("q316_formats"))),

    // CUPED variance-reduced experiment readout (Behavior.cupedReadout):
    // per md5-split variant, post-period mean and its ȳ−θ(x̄−x̄_all)
    // adjustment with θ = cov/var from pre-period activity — the
    // industry-standard variance cut. θ's ingredients are exact
    // HUGEINT/decimal integers; the readout is one fixed-shape IEEE
    // expression (the q285 Wilson discipline), q6-quantized.
    q("q317_cuped_readout",
      """WITH e AS (SELECT user_id,
        |    epoch_ns(ts) // 86400000000000 AS day FROM events),
        |r AS (SELECT min(day) AS mnd, max(day) AS mxd FROM e),
        |p AS (SELECT user_id,
        |    sum(CASE WHEN day < (mnd + mxd + 1) // 2 THEN 1 ELSE 0 END)
        |      AS x,
        |    sum(CASE WHEN day >= (mnd + mxd + 1) // 2 THEN 1 ELSE 0 END)
        |      AS y
        |  FROM e, r GROUP BY 1),
        |v AS (SELECT CASE WHEN CAST(('0x' ||
        |      substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS INTEGER)
        |      % 1000 < 500 THEN 'A' ELSE 'B' END AS variant, x, y FROM p),
        |g AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx,
        |    sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx FROM v),
        |a AS (SELECT variant, count(*) AS n_users,
        |    sum(CAST(x AS HUGEINT)) AS sxv,
        |    sum(CAST(y AS HUGEINT)) AS syv FROM v GROUP BY 1)
        |SELECT variant, CAST(n_users AS BIGINT) AS n_users,
        |  CAST(round(1000000 * (CAST(syv AS DOUBLE) /
        |    CAST(n_users AS DOUBLE))) AS BIGINT) AS mean_y_q6,
        |  CAST(round(1000000 * (CAST(n * sxy - sx * sy AS DOUBLE) /
        |    nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0))) AS BIGINT)
        |    AS theta_q6,
        |  CAST(round(1000000 * ((CAST(syv AS DOUBLE) /
        |    CAST(n_users AS DOUBLE)) -
        |    (CAST(n * sxy - sx * sy AS DOUBLE) /
        |     nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0)) *
        |    ((CAST(sxv AS DOUBLE) / CAST(n_users AS DOUBLE)) -
        |     (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))) AS BIGINT)
        |    AS adj_mean_y_q6
        |FROM g, a ORDER BY variant""".stripMargin)(
      (s, d) => Behavior.cupedReadout(Tables.events(s, d))),

    // Difference-in-differences (Behavior.diffInDiff): md5-split
    // variant × pre/post-1996 cell means of order value, DiD in exact
    // cents from one conditional partial agg — the quasi-experimental
    // readout when arms share pre-trends but assignment isn't random.
    q("q318_diff_in_diff",
      """WITH c AS (SELECT CASE WHEN CAST(('0x' ||
        |      substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4)) AS INTEGER)
        |      % 1000 < 500 THEN 'A' ELSE 'B' END AS variant,
        |    (year(o_orderdate) >= 1996) AS post,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |g AS (SELECT
        |  sum(CASE WHEN variant = 'A' AND NOT post THEN 1 ELSE 0 END)
        |    AS n_a_pre,
        |  sum(CASE WHEN variant = 'A' AND post THEN 1 ELSE 0 END)
        |    AS n_a_post,
        |  sum(CASE WHEN variant = 'B' AND NOT post THEN 1 ELSE 0 END)
        |    AS n_b_pre,
        |  sum(CASE WHEN variant = 'B' AND post THEN 1 ELSE 0 END)
        |    AS n_b_post,
        |  sum(CAST(CASE WHEN variant = 'A' AND NOT post THEN cents
        |    ELSE 0 END AS HUGEINT)) AS s_a_pre,
        |  sum(CAST(CASE WHEN variant = 'A' AND post THEN cents
        |    ELSE 0 END AS HUGEINT)) AS s_a_post,
        |  sum(CAST(CASE WHEN variant = 'B' AND NOT post THEN cents
        |    ELSE 0 END AS HUGEINT)) AS s_b_pre,
        |  sum(CAST(CASE WHEN variant = 'B' AND post THEN cents
        |    ELSE 0 END AS HUGEINT)) AS s_b_post FROM c)
        |SELECT CAST(n_a_pre AS BIGINT) AS n_a_pre,
        |  CAST(n_a_post AS BIGINT) AS n_a_post,
        |  CAST(n_b_pre AS BIGINT) AS n_b_pre,
        |  CAST(n_b_post AS BIGINT) AS n_b_post,
        |  CAST(round(1000000 * (((CAST(s_b_post AS DOUBLE) /
        |    CAST(n_b_post AS DOUBLE)) - (CAST(s_b_pre AS DOUBLE) /
        |    CAST(n_b_pre AS DOUBLE))) - ((CAST(s_a_post AS DOUBLE) /
        |    CAST(n_a_post AS DOUBLE)) - (CAST(s_a_pre AS DOUBLE) /
        |    CAST(n_a_pre AS DOUBLE))))) AS BIGINT) AS did_cents_q6
        |FROM g""".stripMargin)(
      (s, d) => Behavior.diffInDiff(Tables.orders(s, d))),

    // Two-proportion z-test (Behavior.conversionZTest): converting
    // users per md5-split variant and the pooled z — the significance
    // readout next to q241's SRM gate and q283's bootstrap CI. Exact
    // integer counts, one fixed-shape IEEE expression.
    q("q319_conversion_ztest",
      """WITH p AS (SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase'
        |      THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY 1),
        |v AS (SELECT CASE WHEN CAST(('0x' ||
        |      substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS INTEGER)
        |      % 1000 < 500 THEN 'A' ELSE 'B' END AS variant, conv FROM p),
        |g AS (SELECT
        |  sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS n_a,
        |  sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS c_a,
        |  sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS n_b,
        |  sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS c_b
        |  FROM v)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS c_a,
        |  CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS c_b,
        |  CAST(round(1000000 * (((CAST(c_a AS DOUBLE) /
        |    CAST(n_a AS DOUBLE)) - (CAST(c_b AS DOUBLE) /
        |    CAST(n_b AS DOUBLE))) / nullif(sqrt((CAST(c_a + c_b AS DOUBLE) /
        |    CAST(n_a + n_b AS DOUBLE)) * (1e0 -
        |    (CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))) *
        |    ((1e0 / CAST(n_a AS DOUBLE)) + (1e0 /
        |    CAST(n_b AS DOUBLE)))), 0))) AS BIGINT) AS z_q6
        |FROM g""".stripMargin)(
      (s, d) => Behavior.conversionZTest(Tables.events(s, d))),

    // Spatial ε-neighbor pairs by grid-cell join (Geo.gridNeighborPairs):
    // floor-division cells + 3×3 probe + exact integer milli² distance —
    // the 2D analog of the LSH band bucket, LOSSLESS at cell size = ε,
    // proven by the brute-force all-pairs ORACLE (the q298 pattern in
    // 2D). Integer arithmetic past the scan; no dedup stage needed
    // (each pair found exactly once).
    q("q320_grid_neighbor_pairs",
      """WITH p AS (SELECT vec_id,
        |    CAST(round(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
        |      AS la,
        |    CAST(round(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT)
        |      AS lo
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  (a.la - b.la) * (a.la - b.la) +
        |  (a.lo - b.lo) * (a.lo - b.lo) AS d2
        |FROM p a JOIN p b ON a.vec_id < b.vec_id
        |WHERE (a.la - b.la) * (a.la - b.la) +
        |  (a.lo - b.lo) * (a.lo - b.lo) <= 100
        |ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => Geo.gridNeighborPairs(Tables.embeddings(s, d),
        epsMilli = 10L)),

    // Delete-one-bucket jackknife SE for a ratio metric
    // (Sampling.jackknifeRatioSe): B hash buckets, leave-one-out ratio
    // replicates, SE² = (B−1)/B·Σ(r_j−r̄)² — the production variance
    // estimator for ratio metrics (no per-row decomposition exists),
    // one pass vs q283's 400-replicate explode. Replicates q6-quantize
    // BEFORE the variance fold (order-free integer sums); one
    // fixed-shape IEEE sqrt at the end.
    q("q321_jackknife_ratio_se",
      """WITH per AS (SELECT CAST(('0x' ||
        |      substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)) AS INTEGER)
        |      % 1000 % 20 AS b, count(*) AS n_j,
        |    sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |      AS HUGEINT)) AS s_j
        |  FROM orders GROUP BY 1),
        |t AS (SELECT count(*) AS nb, sum(n_j) AS n, sum(s_j) AS s
        |  FROM per),
        |r AS (SELECT CAST(round(1000000 * (CAST(s - s_j AS DOUBLE) /
        |    CAST(n - n_j AS DOUBLE))) AS BIGINT) AS r FROM per, t),
        |g AS (SELECT count(*) AS n_buckets, sum(CAST(r AS HUGEINT))
        |    AS sr, sum(CAST(r AS HUGEINT) * r) AS srr FROM r)
        |SELECT CAST(n_buckets AS BIGINT) AS n_buckets,
        |  CAST(round(CAST(sr AS DOUBLE) / CAST(n_buckets AS DOUBLE))
        |    AS BIGINT) AS mean_r_q6,
        |  CAST(round(sqrt((CAST(n_buckets - 1 AS DOUBLE) /
        |    CAST(n_buckets AS DOUBLE)) *
        |    ((CAST(n_buckets * srr - sr * sr AS DOUBLE)) /
        |     CAST(n_buckets * n_buckets AS DOUBLE)))) AS BIGINT)
        |    AS se_q6
        |FROM g""".stripMargin)(
      (s, d) => Sampling.jackknifeRatioSe(Tables.orders(s, d))),

    // k-anonymity / l-diversity release gate (Profiling
    // .kAnonymityCensus): QI classes (nation × segment) sized against
    // k=5, account-balance diversity against l=3 — can these ROWS ship
    // in a training set at all (the privacy companion to q231's PII
    // value scan). Zero in the risk columns IS the release condition.
    q("q322_k_anonymity",
      """WITH per AS (SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |    count(DISTINCT c_acctbal) AS d
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |  count(*) AS n_classes,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS small_classes,
        |  CAST(sum(CASE WHEN d < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS low_div_classes
        |FROM per""".stripMargin)(
      (s, d) => Profiling.kAnonymityCensus(Tables.customer(s, d),
        qiCols = Seq("c_nationkey", "c_mktsegment"),
        sensCol = "c_acctbal")),

    // Compression-codec lossless law (Sinks.codecRoundtripChecksum):
    // the orders projection written under gzip/lz4/snappy/zstd, each
    // read back and checksummed against the source census — the codec
    // choice (a first-order 100 TB storage decision) must be a PURE
    // storage decision. Sizes belong in logs, not the oracle row.
    q("q323_codec_matrix",
      """WITH c AS (SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(('0x' || substr(md5(concat(
        |    coalesce(md5(CAST(o_orderkey AS VARCHAR)), 'null'),
        |    coalesce(md5(CAST(o_custkey AS VARCHAR)), 'null'))), 1, 8))
        |    AS BIGINT)) AS VARCHAR) AS checksum
        |  FROM orders)
        |SELECT 'gzip' AS codec, n_rows, checksum FROM c
        |UNION ALL SELECT 'lz4', n_rows, checksum FROM c
        |UNION ALL SELECT 'snappy', n_rows, checksum FROM c
        |UNION ALL SELECT 'zstd', n_rows, checksum FROM c
        |ORDER BY codec""".stripMargin)(
      (s, d) => Sinks.codecRoundtripChecksum(Tables.orders(s, d),
        cols = Seq("o_orderkey", "o_custkey"),
        codecs = Seq("gzip", "lz4", "snappy", "zstd"),
        path = Sinks.scratch("q323_codecs"))),

    // Ordered top-k string aggregation (Relational.topNamesConcat):
    // per-nation top-3 names by exact-cents balance, concatenated in
    // rank order — collect_list is partition-order-nondeterministic,
    // so the list collects (rank, name) structs and array_sorts on the
    // rank, making the string a pure function of the data.
    q("q324_top_names_concat",
      """WITH r AS (SELECT c_nationkey, c_name,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY CAST(round(c_acctbal * 100) AS BIGINT) DESC,
        |        c_name) AS rk
        |  FROM customer)
        |SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |  string_agg(c_name, ',' ORDER BY rk) AS top_names
        |FROM r WHERE rk <= 3 GROUP BY 1
        |ORDER BY nation""".stripMargin)(
      (s, d) => Relational.topNamesConcat(Tables.customer(s, d), k = 3)),

    // Chi-square test of independence (Profiling
    // .chiSquareIndependence): nation × market segment contingency,
    // ALL R×C cells including empty ones (a zero cell still
    // contributes its expectation — dropping it understates χ²).
    // Exact HUGEINT numerators, fixed-shape IEEE terms, q6-quantized
    // order-free fold. The 2D completion of q241's SRM.
    q("q325_chi_square_independence",
      """WITH b AS (SELECT CAST(c_nationkey AS VARCHAR) AS r,
        |    c_mktsegment AS c FROM customer),
        |cells AS (SELECT r, c, count(*) AS o FROM b GROUP BY 1, 2),
        |rm AS (SELECT r, count(*) AS rt FROM b GROUP BY 1),
        |cm AS (SELECT c, count(*) AS ct FROM b GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM b),
        |grid AS (SELECT CAST(round(1000000 *
        |    ((CAST(CAST(coalesce(o, 0) AS HUGEINT) * t.n -
        |      CAST(rt AS HUGEINT) * ct AS DOUBLE)) *
        |     (CAST(CAST(coalesce(o, 0) AS HUGEINT) * t.n -
        |      CAST(rt AS HUGEINT) * ct AS DOUBLE)) /
        |     (CAST(t.n AS DOUBLE) * (CAST(rt AS DOUBLE) *
        |      CAST(ct AS DOUBLE))))) AS BIGINT) AS term
        |  FROM ((rm CROSS JOIN cm) LEFT JOIN cells USING (r, c))
        |    CROSS JOIN t),
        |k AS (SELECT (SELECT count(*) FROM rm) AS r_levels,
        |    (SELECT count(*) FROM cm) AS c_levels,
        |    (SELECT n FROM t) AS n)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(r_levels AS BIGINT) AS r_levels,
        |  CAST(c_levels AS BIGINT) AS c_levels,
        |  CAST((r_levels - 1) * (c_levels - 1) AS BIGINT) AS dof,
        |  (SELECT CAST(sum(term) AS BIGINT) FROM grid) AS chi2_q6
        |FROM k""".stripMargin)(
      (s, d) => Profiling.chiSquareIndependence(Tables.customer(s, d),
        rowCol = "c_nationkey", colCol = "c_mktsegment")),

    // Partitioning-invariance audit (Profiling
    // .partitioningInvarianceAudit): the q11 word census at 7 and at 32
    // partitions, each checksummed — BOTH rows must equal the oracle's
    // single census, putting "results are a pure function of the data,
    // not the cluster" under the driver's gate instead of scaladoc.
    q("q326_partitioning_invariance",
      """WITH w AS (SELECT unnest(list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), x -> length(x) > 0)) AS w FROM documents),
        |c AS (SELECT w, count(*) AS n FROM w GROUP BY 1),
        |k AS (SELECT count(*) AS n_words,
        |  CAST(sum(CAST(('0x' || substr(md5(concat(
        |    coalesce(md5(w), 'null'),
        |    coalesce(md5(CAST(n AS VARCHAR)), 'null'))), 1, 8))
        |    AS BIGINT)) AS VARCHAR) AS checksum FROM c)
        |SELECT CAST(7 AS BIGINT) AS parts, n_words, checksum FROM k
        |UNION ALL
        |SELECT CAST(32 AS BIGINT), n_words, checksum FROM k
        |ORDER BY parts""".stripMargin)(
      (s, d) => Profiling.partitioningInvarianceAudit(
        Tables.documents(s, d))),

    // Language-ID confusion census (LangId.confusionCensus): the q37
    // heuristic folded against the corpus label into (true, predicted)
    // counts — diagonal mass is the accuracy, off-diagonal rows name
    // the confusions. The model-eval completion of q37 (per-doc dump)
    // and q234 (purity).
    q("q327_lang_confusion",
      """WITH s AS (SELECT lang,
        |  CAST(contains(lower(text), ' th') AS INTEGER) + CAST(contains(lower(text), 'the') AS INTEGER) +
        |  CAST(contains(lower(text), 'ing') AS INTEGER) + CAST(contains(lower(text), ' an') AS INTEGER) +
        |  CAST(contains(lower(text), 'and') AS INTEGER) + CAST(contains(lower(text), ' of') AS INTEGER) +
        |  CAST(contains(lower(text), 'ion') AS INTEGER) + CAST(contains(lower(text), ' to') AS INTEGER) AS score_en,
        |  CAST(contains(lower(text), 'der') AS INTEGER) + CAST(contains(lower(text), 'sch') AS INTEGER) +
        |  CAST(contains(lower(text), ' un') AS INTEGER) + CAST(contains(lower(text), 'und') AS INTEGER) +
        |  CAST(contains(lower(text), 'ein') AS INTEGER) + CAST(contains(lower(text), 'ich') AS INTEGER) +
        |  CAST(contains(lower(text), ' de') AS INTEGER) + CAST(contains(lower(text), 'cht') AS INTEGER) AS score_de,
        |  CAST(contains(lower(text), ' de') AS INTEGER) + CAST(contains(lower(text), 'de ') AS INTEGER) +
        |  CAST(contains(lower(text), ' la') AS INTEGER) + CAST(contains(lower(text), 'la ') AS INTEGER) +
        |  CAST(contains(lower(text), 'ión') AS INTEGER) + CAST(contains(lower(text), ' el') AS INTEGER) +
        |  CAST(contains(lower(text), 'que') AS INTEGER) + CAST(contains(lower(text), ' qu') AS INTEGER) AS score_es,
        |  CAST(contains(lower(text), ' le') AS INTEGER) + CAST(contains(lower(text), 'es ') AS INTEGER) +
        |  CAST(contains(lower(text), ' la') AS INTEGER) + CAST(contains(lower(text), 'de ') AS INTEGER) +
        |  CAST(contains(lower(text), 'ent') AS INTEGER) + CAST(contains(lower(text), ' et') AS INTEGER) +
        |  CAST(contains(lower(text), 'une') AS INTEGER) + CAST(contains(lower(text), 'eur') AS INTEGER) AS score_fr
        |FROM documents),
        |p AS (SELECT lang AS lang_true,
        |  CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
        |       WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
        |       WHEN score_es >= score_en AND score_es >= score_de AND score_es >= score_fr THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM s)
        |SELECT lang_true, lang_pred, count(*) AS n
        |FROM p GROUP BY 1, 2
        |ORDER BY lang_true, lang_pred""".stripMargin)(
      (s, d) => LangId.confusionCensus(Tables.documents(s, d))),

    // 2D Mahalanobis outliers (Profiling.mahalanobisOutliers):
    // multivariate anomaly over quantized embedding dims — a point can
    // clear both per-axis gates (q139 MAD) yet sit far off the
    // correlation ridge. Denominator-cleared integer stats, one
    // fixed-shape IEEE division per point, top-10 by (d², vec_id).
    q("q328_mahalanobis_outliers",
      """WITH p AS (SELECT vec_id,
        |    CAST(least(greatest(round(CAST(embedding[1] AS DOUBLE)
        |      * 127), -127), 127) AS BIGINT) AS x,
        |    CAST(least(greatest(round(CAST(embedding[2] AS DOUBLE)
        |      * 127), -127), 127) AS BIGINT) AS y
        |  FROM embeddings),
        |g AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx,
        |    sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy FROM p)
        |SELECT vec_id, CAST(round(1000000 * (
        |    ((CAST(n * x - sx AS DOUBLE)) * (CAST(n * x - sx AS DOUBLE))
        |       * CAST(n * syy - sy * sy AS DOUBLE) -
        |     2e0 * (CAST(n * x - sx AS DOUBLE)) *
        |       (CAST(n * y - sy AS DOUBLE)) *
        |       CAST(n * sxy - sx * sy AS DOUBLE) +
        |     (CAST(n * y - sy AS DOUBLE)) * (CAST(n * y - sy AS DOUBLE))
        |       * CAST(n * sxx - sx * sx AS DOUBLE)) /
        |    nullif(CAST(n * sxx - sx * sx AS DOUBLE) *
        |           CAST(n * syy - sy * sy AS DOUBLE) -
        |           CAST(n * sxy - sx * sy AS DOUBLE) *
        |           CAST(n * sxy - sx * sy AS DOUBLE), 0)))
        |  AS BIGINT) AS d2_q6
        |FROM p, g ORDER BY d2_q6 DESC, vec_id
        |LIMIT 10""".stripMargin)(
      (s, d) => Profiling.mahalanobisOutliers(Tables.embeddings(s, d),
        topK = 10)),

    // Cohen's kappa (Profiling.cohensKappa): chance-corrected agreement
    // between two quality raters (length rule vs token-count rule) —
    // percent agreement overstates whenever both say "yes" often; κ is
    // the number to read before trusting either rule to filter a
    // corpus. Cleared-denominator integers, one IEEE division.
    q("q329_cohens_kappa",
      """WITH r AS (SELECT (n_chars >= 200) AS a,
        |    (len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      w -> length(w) > 0)) >= 40) AS b
        |  FROM documents),
        |g AS (SELECT count(*) AS n,
        |  sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS n11,
        |  sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS n10,
        |  sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS n01,
        |  sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS n00
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n, CAST(n11 AS BIGINT) AS n11,
        |  CAST(n10 AS BIGINT) AS n10, CAST(n01 AS BIGINT) AS n01,
        |  CAST(n00 AS BIGINT) AS n00,
        |  CAST(round(1000000 * (CAST(CAST(n AS HUGEINT) * (n11 + n00) -
        |    (CAST(n11 + n10 AS HUGEINT) * (n11 + n01) +
        |     CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) AS DOUBLE) /
        |    nullif(CAST(CAST(n AS HUGEINT) * n -
        |    (CAST(n11 + n10 AS HUGEINT) * (n11 + n01) +
        |     CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) AS DOUBLE), 0)))
        |  AS BIGINT) AS kappa_q6
        |FROM g""".stripMargin)(
      (s, d) => Profiling.cohensKappa(
        Tables.documents(s, d).select(
          (col("n_chars") >= 200).as("ra"),
          (org.apache.spark.sql.functions.size(
            Text.tokens(col("text"))) >= 40).as("rb")),
        raterA = "ra", raterB = "rb")),

    // IDF-weighted Jaccard pairs (Dedup.weightedJaccardPairs): q22's
    // inverted index scored by Σidf(shared)/Σidf(union) — boilerplate
    // (idf ≈ 0) stops deciding similarity. Integer permille idf
    // quantized BEFORE the sums (order-free; the benford/PMI-proven
    // ln device), one q6 integer division.
    q("q330_weighted_jaccard",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks
        |  WHERE len(t) >= 3),
        |it AS (SELECT doc_id, unnest(s) AS item FROM sh),
        |nn AS (SELECT count(*) AS n FROM sh),
        |w AS (SELECT item, CAST(round(1000 * ln(CAST(nn.n AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE))) AS BIGINT) AS w
        |  FROM it, nn GROUP BY item, nn.n
        |  HAVING count(*) <= 10000),
        |wi AS (SELECT doc_id, it.item, w FROM it JOIN w USING (item)),
        |dw AS (SELECT doc_id, sum(w) AS tw FROM wi GROUP BY 1),
        |sp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    sum(a.w) AS sw
        |  FROM wi a JOIN wi b ON a.item = b.item
        |    AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sc AS (SELECT id_a, id_b,
        |    CAST(CAST(sw AS HUGEINT) * 1000000 //
        |      nullif(ta.tw + tb.tw - sw, 0) AS BIGINT) AS wjacc_q6
        |  FROM sp JOIN dw ta ON ta.doc_id = sp.id_a
        |  JOIN dw tb ON tb.doc_id = sp.id_b)
        |SELECT id_a, id_b, wjacc_q6 FROM sc
        |WHERE wjacc_q6 >= 150000
        |ORDER BY id_a, id_b""".stripMargin)(
      (s, d) => Dedup.weightedJaccardPairs(Tables.documents(s, d),
        n = 3, thresholdQ6 = 150000L)),

    // One-way ANOVA F (Relational.anovaOrderValue): does ANY nation's
    // mean order value differ — the family-wise gate before 25
    // pairwise tests. Dollar-quantized so every double stays below
    // 2^53 (the cents form diverged at the last ulp — the driver hash
    // caught Spark's Decimal.toDouble vs DuckDB's HUGEINT cast
    // disagreeing above 2^53); per-group terms round to dollar²
    // before order-free sums; one fixed-shape IEEE F.
    q("q331_anova_f",
      """WITH fact AS (SELECT c_nationkey AS g,
        |    CAST(round(o_totalprice) AS BIGINT) AS d
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |per AS (SELECT g, count(*) AS n_g, sum(CAST(d AS HUGEINT))
        |    AS s_g, sum(CAST(d AS HUGEINT) * d) AS ss_g
        |  FROM fact GROUP BY 1),
        |t AS (SELECT sum(n_g) AS n, sum(s_g) AS s FROM per),
        |terms AS (SELECT n_g,
        |    CAST(round(CAST(n_g AS DOUBLE) *
        |      ((CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) -
        |        CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) *
        |       (CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) -
        |        CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))) AS BIGINT)
        |      AS b_g,
        |    CAST(ss_g AS BIGINT) - CAST(round(CAST(n_g AS DOUBLE) *
        |      ((CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)) *
        |       (CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)))) AS BIGINT)
        |      AS w_g
        |  FROM per, t),
        |f AS (SELECT count(*) AS k, sum(n_g) AS n, sum(b_g) AS ssb,
        |    sum(w_g) AS ssw FROM terms)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  CAST(ssb AS BIGINT) AS ssb_d2, CAST(ssw AS BIGINT) AS ssw_d2,
        |  CAST(round(1000000 * ((CAST(ssb AS DOUBLE) /
        |    CAST(k - 1 AS DOUBLE)) / nullif(CAST(ssw AS DOUBLE) /
        |    CAST(n - k AS DOUBLE), 0))) AS BIGINT) AS f_q6
        |FROM f""".stripMargin)(
      (s, d) => Relational.anovaOrderValue(Tables.orders(s, d),
        Tables.customer(s, d))),

    // Mann–Whitney U (Profiling.mannWhitney): nonparametric rank-sum
    // between two sources' doc-length distributions — the stochastic-
    // dominance companion to q300's KS. Doubled average-tie ranks keep
    // U exact-integer (the q299 device); the basic normal z (no tie
    // correction, stated) is one fixed-shape IEEE expression.
    q("q332_mann_whitney",
      """WITH v AS (SELECT source AS g, n_chars AS v FROM documents
        |  WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL),
        |c AS (SELECT v,
        |    sum(CASE WHEN g = 'src0' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN g = 'src1' THEN 1 ELSE 0 END) AS cb
        |  FROM v GROUP BY 1),
        |w AS (SELECT ca, cb, coalesce(sum(ca + cb) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
        |  FROM c),
        |t AS (SELECT sum(ca) AS n_a, sum(cb) AS n_b,
        |    sum(CAST(ca AS HUGEINT) * (2 * p + ca + cb + 1)) AS r2x
        |  FROM w)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(r2x - CAST(n_a AS HUGEINT) * (n_a + 1) AS VARCHAR)
        |    AS u2x,
        |  CAST(round(1000000 * (CAST(r2x - CAST(n_a AS HUGEINT) *
        |    (n_a + 1) - CAST(n_a AS HUGEINT) * n_b AS DOUBLE) /
        |    nullif(sqrt(CAST(CAST(n_a AS HUGEINT) * n_b *
        |    (n_a + n_b + 1) AS DOUBLE) / 3e0), 0))) AS BIGINT) AS z_q6
        |FROM t""".stripMargin)(
      (s, d) => Profiling.mannWhitney(Tables.documents(s, d),
        "source", "n_chars", "src0", "src1")),

    // Explainable near-dup pairs (Dedup.weightedJaccardEvidence): each
    // q330 pair carries its top-3 rarest shared shingles in rank order
    // — the audit trail a deletion decision needs ("removed BECAUSE it
    // shares these rare passages"), the q324 ordered string-agg device
    // on the q330 pair stage.
    q("q333_dedup_evidence",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text,
        |    '[ \t\n\r\f]+'), w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks
        |  WHERE len(t) >= 3),
        |it AS (SELECT doc_id, unnest(s) AS item FROM sh),
        |nn AS (SELECT count(*) AS n FROM sh),
        |w AS (SELECT item, CAST(round(1000 * ln(CAST(nn.n AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE))) AS BIGINT) AS w
        |  FROM it, nn GROUP BY item, nn.n
        |  HAVING count(*) <= 10000),
        |wi AS (SELECT doc_id, it.item, w FROM it JOIN w USING (item)),
        |dw AS (SELECT doc_id, sum(w) AS tw FROM wi GROUP BY 1),
        |shrd AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.item AS item, a.w AS w
        |  FROM wi a JOIN wi b ON a.item = b.item
        |    AND a.doc_id < b.doc_id),
        |sc AS (SELECT id_a, id_b,
        |    CAST(CAST(sum(w) AS HUGEINT) * 1000000 //
        |      nullif(ta.tw + tb.tw - sum(w), 0) AS BIGINT) AS wjacc_q6
        |  FROM shrd JOIN dw ta ON ta.doc_id = shrd.id_a
        |  JOIN dw tb ON tb.doc_id = shrd.id_b
        |  GROUP BY id_a, id_b, ta.tw, tb.tw),
        |q AS (SELECT id_a, id_b, wjacc_q6 FROM sc
        |  WHERE wjacc_q6 >= 150000),
        |ev AS (SELECT shrd.id_a, shrd.id_b,
        |    string_agg(item, ',' ORDER BY rk) AS evidence
        |  FROM (SELECT id_a, id_b, item,
        |      row_number() OVER (PARTITION BY id_a, id_b
        |        ORDER BY w DESC, item) AS rk FROM shrd) shrd
        |  JOIN q ON q.id_a = shrd.id_a AND q.id_b = shrd.id_b
        |  WHERE rk <= 3 GROUP BY 1, 2)
        |SELECT q.id_a, q.id_b, q.wjacc_q6, ev.evidence
        |FROM q JOIN ev ON ev.id_a = q.id_a AND ev.id_b = q.id_b
        |ORDER BY q.id_a, q.id_b""".stripMargin)(
      (s, d) => Dedup.weightedJaccardEvidence(Tables.documents(s, d),
        n = 3, thresholdQ6 = 150000L, topE = 3)),

    // DIMSUM-style sampled overlap (Relational.customerOverlapSampled):
    // q264's sub-quadratic twin for the DENSE regime — hot-part
    // postings survive by a deterministic md5 bucket with probability
    // ≈ maxPostings/df and carry (df/maxPostings)² permille weights, so
    // est_pm estimates 1000·n_common while pair work is bounded by
    // maxPostings²·|catalog| (flat under densifying inflation, where
    // q264's Σ df² is quadratic by construction). The md5 "sample" is a
    // pure function of the data, so the WHOLE estimator — survival,
    // weights, top-k — is oracle-checked exactly, not rows-only.
    q("q334_overlap_sampled",
      """WITH cp AS (SELECT DISTINCT o.o_custkey AS cust,
        |    l.l_partkey AS part
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |dfc AS (SELECT part, count(*) AS df FROM cp GROUP BY 1),
        |s AS (SELECT cp.cust, cp.part,
        |    CASE WHEN dfc.df <= 64 THEN 1000
        |      ELSE CAST(CAST(dfc.df AS HUGEINT) * dfc.df * 1000 // 4096
        |        AS BIGINT) END AS w_pm
        |  FROM cp JOIN dfc USING (part)
        |  WHERE dfc.df <= 64 OR
        |    CAST(('0x' || substr(md5(CAST(cp.cust AS VARCHAR) || '_' ||
        |      CAST(cp.part AS VARCHAR)), 1, 4)) AS INTEGER) * dfc.df
        |      < 65536 * 64)
        |SELECT x.cust AS cust_a, y.cust AS cust_b,
        |  CAST(sum(x.w_pm) AS BIGINT) AS est_pm,
        |  CAST(count(*) AS BIGINT) AS n_parts_sampled
        |FROM s x JOIN s y ON x.part = y.part AND x.cust < y.cust
        |GROUP BY 1, 2 HAVING sum(x.w_pm) >= 3000
        |ORDER BY est_pm DESC, n_parts_sampled DESC, cust_a, cust_b
        |LIMIT 50""".stripMargin)(
      (s, d) => Relational.customerOverlapSampled(Tables.orders(s, d),
        Tables.lineitem(s, d), maxPostings = 64L,
        minEstPermille = 3000L, k = 50)),

    // Sampled-overlap error audit (Relational.customerOverlapSampleAudit,
    // the q153 sketch-audit device): est_pm vs 1000·n_common over every
    // exact pair inside a deterministic ~300-customer md5 slice, with
    // maxPostings = 8 so sampling ENGAGES on the fixture (every part's
    // df > 8 here). One row: pair coverage + integer error mass — the
    // evidence that prices the estimator's accuracy next to its rung.
    q("q335_overlap_sample_audit",
      """WITH cp0 AS (SELECT DISTINCT o.o_custkey AS cust,
        |    l.l_partkey AS part
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |nc AS (SELECT count(DISTINCT cust) AS n FROM cp0),
        |cp AS (SELECT cust, part FROM cp0, nc
        |  WHERE CAST(('0x' || substr(md5(CAST(cust AS VARCHAR)), 1, 4))
        |    AS INTEGER) % 1000 < least(1000, (300000 + n - 1) // n)),
        |dfc AS (SELECT part, count(*) AS df FROM cp GROUP BY 1),
        |s AS (SELECT cp.cust, cp.part,
        |    CASE WHEN dfc.df <= 8 THEN 1000
        |      ELSE CAST(CAST(dfc.df AS HUGEINT) * dfc.df * 1000 // 64
        |        AS BIGINT) END AS w_pm
        |  FROM cp JOIN dfc USING (part)
        |  WHERE dfc.df <= 8 OR
        |    CAST(('0x' || substr(md5(CAST(cp.cust AS VARCHAR) || '_' ||
        |      CAST(cp.part AS VARCHAR)), 1, 4)) AS INTEGER) * dfc.df
        |      < 65536 * 8),
        |est AS (SELECT x.cust AS cust_a, y.cust AS cust_b,
        |    CAST(sum(x.w_pm) AS BIGINT) AS est_pm
        |  FROM s x JOIN s y ON x.part = y.part AND x.cust < y.cust
        |  GROUP BY 1, 2),
        |ex AS (SELECT x.cust AS cust_a, y.cust AS cust_b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM cp x JOIN cp y ON x.part = y.part AND x.cust < y.cust
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |j AS (SELECT ex.n_common, coalesce(est.est_pm, 0) AS e
        |  FROM ex LEFT JOIN est ON est.cust_a = ex.cust_a
        |    AND est.cust_b = ex.cust_b)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(CASE WHEN e > 0 THEN 1 END) AS BIGINT) AS n_found,
        |  CAST(coalesce(sum(abs(e - n_common * 1000)), 0) AS BIGINT)
        |    AS sum_abs_err_pm,
        |  CAST(coalesce(max(abs(e - n_common * 1000)), 0) AS BIGINT)
        |    AS max_abs_err_pm
        |FROM j""".stripMargin)(
      (s, d) => Relational.customerOverlapSampleAudit(Tables.orders(s, d),
        Tables.lineitem(s, d), maxPostings = 8L, minOverlap = 3L,
        refereeCustomers = 300L)),

    // ---- SQL front door, breadth (r16 verdict item 6). q313 pinned ONE
    // topology (the q01 scan-agg) through spark.sql; these five submit one
    // representative query per FAMILY as SQL TEXT over registered views —
    // a keyed window, a pair self-join, a ROLLUP (the Expand operator,
    // reached by no DataFrame entry), the exact-dedup fingerprint group,
    // and a join + TakeOrderedAndProject top-k — each against the same
    // DuckDB oracle discipline as its DataFrame twin. Together they pin
    // that the parser path plans every major operator shape this engine
    // ships, not just one aggregation topology.

    // SQL window: per-user inter-event gap (lag over a keyed order) into
    // a digit-count census — digit count, not floor(log10), because the
    // string length of an integer is exact in both engines while log10 of
    // a power of 10 can land on either side of an integer in doubles.
    q("q336_sql_window",
      """WITH q AS (SELECT user_id, event_id, epoch_us(ts) AS qts
        |  FROM events),
        |g AS (SELECT qts - lag(qts) OVER (PARTITION BY user_id
        |    ORDER BY qts, event_id) AS gap_us FROM q)
        |SELECT CAST(length(CAST(gap_us AS VARCHAR)) AS INTEGER)
        |    AS n_digits,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM g WHERE gap_us > 0 GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("events_v336")
        s.sql("""WITH q AS (SELECT user_id, event_id, ts DIV 1000 AS qts
            FROM events_v336),
          g AS (SELECT qts - lag(qts) OVER (PARTITION BY user_id
              ORDER BY qts, event_id) AS gap_us FROM q)
          SELECT CAST(length(CAST(gap_us AS STRING)) AS INT) AS n_digits,
            CAST(count(*) AS BIGINT) AS n
          FROM g WHERE gap_us > 0 GROUP BY 1 ORDER BY 1""")
      }),

    // SQL pair self-join: the q202 basket-pair core (distinct basket
    // frame, equi-join on the order, triangular part filter) as parsed
    // text — the shape every dedup/recommender pair stage reduces to.
    q("q337_sql_pair_join",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  CAST(count(*) AS BIGINT) AS n_both
        |FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY part_a, part_b""".stripMargin)(
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v337")
        // REPARTITION hints (r20) = the Dedup.wideBy pin in SQL form:
        // the self-join and the near-unique pair agg are CPU-dense on
        // small byte volumes, so byte-targeted AQE coalescing serialized
        // them (measured 3.6 s → ~1.4 s pinned in the pf A/B). The
        // width must be EXPLICIT: a number-less REPARTITION(col) hint
        // stays AQE-coalescible, so it pinned nothing. It follows the
        // session's configured shuffle width (the wideBy arithmetic) —
        // a cluster tuned for 100 TB widens with its config.
        val w = ops.shuffleWidth(s)
        s.sql(s"""WITH li AS (SELECT /*+ REPARTITION($w, l_orderkey) */
              DISTINCT l_orderkey, l_partkey
            FROM lineitem_v337),
          p AS (SELECT /*+ REPARTITION($w, part_a, part_b) */
              a.l_partkey AS part_a, b.l_partkey AS part_b
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey)
          SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_both
          FROM p GROUP BY 1, 2 HAVING count(*) >= 2
          ORDER BY part_a, part_b""")
      }),

    // SQL ROLLUP: nation × order-year revenue with subtotal and grand-
    // total rows — Catalyst plans GROUP BY ROLLUP through Expand, an
    // operator no DataFrame query here reaches. Sort keys are coalesced
    // (never NULL) so the two engines' NULLS FIRST/LAST defaults cannot
    // diverge; cents stay integral end to end.
    q("q338_sql_rollup",
      """WITH b AS (SELECT n.n_name, year(o.o_orderdate) AS yr,
        |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey)
        |SELECT coalesce(n_name, '_ALL_') AS nation,
        |  CAST(coalesce(yr, -1) AS BIGINT) AS yr,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM b GROUP BY ROLLUP(n_name, yr)
        |ORDER BY nation, yr""".stripMargin)(
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_v338")
        Tables.customer(s, d).createOrReplaceTempView("customer_v338")
        Tables.nation(s, d).createOrReplaceTempView("nation_v338")
        s.sql("""WITH b AS (SELECT n.n_name, year(o.o_orderdate) AS yr,
              CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
            FROM orders_v338 o
            JOIN customer_v338 c ON o.o_custkey = c.c_custkey
            JOIN nation_v338 n ON c.c_nationkey = n.n_nationkey)
          SELECT coalesce(n_name, '_ALL_') AS nation,
            CAST(coalesce(yr, -1) AS BIGINT) AS yr,
            CAST(count(*) AS BIGINT) AS n_orders,
            CAST(sum(cents) AS BIGINT) AS cents
          FROM b GROUP BY ROLLUP(n_name, yr)
          ORDER BY nation, yr""")
      }),

    // SQL exact-dedup: q21's whitespace-normalized md5 fingerprint group
    // as parsed text. The Spark literal doubles the backslashes so the
    // parser's escape pass hands the regex engine \t\n\r\f verbatim —
    // Spark's literal parser would otherwise eat the unknown \f.
    q("q339_sql_dedup",
      """SELECT fp, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM (SELECT doc_id,
        |        md5(regexp_replace(trim(lower(text)), '[ \t\n\r\f]+', ' ', 'g')) AS fp
        |      FROM documents) t
        |GROUP BY fp ORDER BY fp""".stripMargin)(
      (s, d) => {
        Tables.documents(s, d).createOrReplaceTempView("documents_v339")
        s.sql("""SELECT fp, min(doc_id) AS keep_id, count(*) AS n_dups
          FROM (SELECT doc_id,
                  md5(regexp_replace(trim(lower(text)),
                    '[ \\t\\n\\r\\f]+', ' ')) AS fp
                FROM documents_v339) t
          GROUP BY fp ORDER BY fp""")
      }),

    // SQL join + top-k: per-order revenue over the lineitem ⋈ orders
    // equi-join, ORDER BY … LIMIT 10 — Catalyst must collapse the sort
    // into TakeOrderedAndProject on the parser path exactly as the
    // DataFrame top-k entries do (q10/q249 discipline).
    q("q340_sql_topk",
      """SELECT l.l_orderkey AS okey, o.o_orderpriority AS priority,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2 ORDER BY rev_cents DESC, okey
        |LIMIT 10""".stripMargin)(
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v340")
        Tables.orders(s, d).createOrReplaceTempView("orders_v340")
        s.sql("""SELECT l.l_orderkey AS okey,
            o.o_orderpriority AS priority,
            CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
              * 100) AS BIGINT)) AS BIGINT) AS rev_cents
          FROM lineitem_v340 l
          JOIN orders_v340 o ON l.l_orderkey = o.o_orderkey
          GROUP BY 1, 2 ORDER BY rev_cents DESC, okey
          LIMIT 10""")
      }),

    // Zone-map pruning audit (Layout.zoneMapPruneAudit): files a
    // `lang = v` predicate must read under the arrival layout vs
    // clustered-on-lang, from per-file min/max — the quantified
    // "should we re-sort this table" decision (q116/q123's layout
    // family, turned into the read-cost it actually buys). Both layout
    // ranks are the sharded two-pass prefix count, never a global
    // window; the oracle's row_number is the small-scale referee.
    q("q341_zonemap_prune",
      """WITH b AS (SELECT doc_id, lang FROM documents),
        |t AS (SELECT count(*) AS n FROM b),
        |fs AS (SELECT greatest(1, (n + 15) // 16) AS s FROM t),
        |ra AS (SELECT lang, (row_number() OVER (ORDER BY doc_id) - 1)
        |    // s AS f FROM b, fs),
        |za AS (SELECT f, min(lang) AS lo, max(lang) AS hi FROM ra
        |  GROUP BY 1),
        |rc AS (SELECT lang,
        |    (row_number() OVER (ORDER BY lang, doc_id) - 1) // s AS f
        |  FROM b, fs),
        |zc AS (SELECT f, min(lang) AS lo, max(lang) AS hi FROM rc
        |  GROUP BY 1),
        |l AS (SELECT DISTINCT lang FROM b)
        |SELECT l.lang,
        |  (SELECT CAST(count(*) AS BIGINT) FROM za
        |    WHERE za.lo <= l.lang AND l.lang <= za.hi) AS files_arrival,
        |  (SELECT CAST(count(*) AS BIGINT) FROM zc
        |    WHERE zc.lo <= l.lang AND l.lang <= zc.hi) AS files_clustered
        |FROM l ORDER BY lang""".stripMargin)(
      (s, d) => Layout.zoneMapPruneAudit(Tables.documents(s, d),
        predCol = "lang", tieCol = "doc_id", nFiles = 16)),

    // Matryoshka truncation audit (Similarity.matryoshkaAudit): signed
    // squared-cosine damage (ppm, integer-exact) of keeping only the
    // first 16/32 of 64 embedding coordinates, over the deterministic
    // consecutive-id pair chain — the MRL serve-the-prefix decision
    // table. O(N) pairs by construction, never a pair stage.
    q("q342_matryoshka_audit",
      """WITH e AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(round(x * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |p AS (SELECT a.q AS qa, b.q AS qb FROM e a
        |  JOIN e b ON b.vec_id = a.vec_id + 1),
        |x AS (SELECT unnest([16, 32]) AS dim, qa, qb FROM p),
        |m AS (SELECT dim,
        |    list_sum(list_transform(generate_series(1, dim),
        |      i -> qa[i] * qb[i])) AS d,
        |    list_sum(list_transform(generate_series(1, dim),
        |      i -> qa[i] * qa[i])) AS na,
        |    list_sum(list_transform(generate_series(1, dim),
        |      i -> qb[i] * qb[i])) AS nb,
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> qa[i] * qb[i])) AS df,
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> qa[i] * qa[i])) AS naf,
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> qb[i] * qb[i])) AS nbf
        |  FROM x),
        |s AS (SELECT dim, d, df,
        |    sign(d) * (CAST(d AS HUGEINT) * d * 1000000
        |      // (CAST(na AS HUGEINT) * nb)) AS s_t,
        |    sign(df) * (CAST(df AS HUGEINT) * df * 1000000
        |      // (CAST(naf AS HUGEINT) * nbf)) AS s_f
        |  FROM m WHERE na > 0 AND nb > 0 AND naf > 0 AND nbf > 0)
        |SELECT CAST(dim AS INTEGER) AS dim,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(abs(s_f - s_t)) // count(*) AS BIGINT)
        |    AS mean_abs_dppm,
        |  CAST(max(abs(s_f - s_t)) AS BIGINT) AS max_abs_dppm,
        |  CAST(sum(CASE WHEN sign(d) <> sign(df) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_sign_flips
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Similarity.matryoshkaAudit(Tables.embeddings(s, d),
        dims = Seq(16, 32), fullDim = 64)),

    // Character-class composition per language (Text.scriptCensus):
    // exact per-mille ASCII-letter/digit/space/other shares — the
    // mislabel/mojibake governance census next to q37's lang-id and
    // q327's confusion view. Scan-stage counts, |langs|-row agg.
    q("q343_script_census",
      """WITH per AS (SELECT lang, CAST(length(text) AS BIGINT) AS n,
        |    CAST(length(text) - length(regexp_replace(text,
        |      '[a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
        |    CAST(length(text) - length(regexp_replace(text,
        |      '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |    CAST(length(text) - length(regexp_replace(text,
        |      '[ ]', '', 'g')) AS BIGINT) AS n_space
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_chars,
        |  CAST(sum(n_alpha) * 1000 // sum(n) AS BIGINT) AS alpha_pm,
        |  CAST(sum(n_digit) * 1000 // sum(n) AS BIGINT) AS digit_pm,
        |  CAST(sum(n_space) * 1000 // sum(n) AS BIGINT) AS space_pm,
        |  CAST(sum(n - n_alpha - n_digit - n_space) * 1000 // sum(n)
        |    AS BIGINT) AS other_pm
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Text.scriptCensus(Tables.documents(s, d))),

    // Hapax context windows (Text.rareTokenContexts): every corpus-
    // count-1 token with its ±2 neighboring tokens, first 100 by token
    // — the audit view behind vocabulary-tail filter decisions (is the
    // tail entities and code, or OCR noise). min(doc_id)/min(pos) ARE
    // the single occurrence when count = 1: no second pass, no window.
    // The fixture vocabulary is a closed set (31 types, min corpus
    // count 26 — no natural hapax at any SF), so both sides append one
    // synthetic unique token to every 50th doc (the q114 dup-inject
    // device) to give the operator real mass under the oracle.
    q("q344_rare_token_contexts",
      s"""WITH aug AS (SELECT doc_id,
        |    CASE WHEN doc_id % 50 = 0 THEN text || ' zq' ||
        |      CAST(doc_id AS VARCHAR) ELSE text END AS text
        |  FROM documents),
        |toks AS (SELECT doc_id, list_filter(
        |    string_split_regex(text, '${Text.ws}'),
        |    w -> length(w) > 0) AS t FROM aug),
        |pos AS (SELECT doc_id, i AS pos, t[i] AS w
        |  FROM toks, unnest(generate_series(1, len(t))) AS g(i)),
        |hap AS (SELECT w, min(doc_id) AS doc_id,
        |    CAST(min(pos) AS INTEGER) AS pos
        |  FROM pos GROUP BY 1 HAVING count(*) = 1)
        |SELECT h.w, h.doc_id, h.pos,
        |  array_to_string(k.t[greatest(h.pos - 2, 1):
        |    least(h.pos + 2, len(k.t))], ' ') AS context
        |FROM hap h JOIN toks k ON h.doc_id = k.doc_id
        |ORDER BY h.w, h.doc_id LIMIT 100""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{concat, lit, when}
        val aug = Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 50 === 0,
            concat(col("text"), lit(" zq"), col("doc_id").cast("string")))
            .otherwise(col("text")).as("text"))
        Text.rareTokenContexts(aug, window = 2, k = 100)
      }),

    // Stream-stream join parity (EventStreams.twoLegPairsCensusViaStream):
    // the watermarked view ⋈ purchase interval join run through the REAL
    // micro-batch engine (file source → join state store → memory sink),
    // per-user pair census vs the batch theta-join oracle. Inner join
    // emission is immediate on match — over a finite source the emitted
    // set IS the batch join, checked here bit for bit.
    q("q345_stream_join_parity",
      """WITH v AS (SELECT user_id, epoch_us(ts) AS vt, value AS v1
        |  FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id AS uid2, epoch_us(ts) AS pt, value AS v2
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT user_id,
        |    CAST(round((v1 + v2) * 100) AS BIGINT) AS cents
        |  FROM v JOIN p ON user_id = uid2 AND pt > vt
        |    AND pt <= vt + 86400000000)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => graft.streaming.EventStreams
        .twoLegPairsCensusViaStream(s, d)),

    // Custom-state sessionization parity (EventStreams
    // .closedSessionCensusViaStream): flatMapGroupsWithState through the
    // real engine, census of successor-closed sessions vs the q113
    // gaps-and-islands oracle with each user's FINAL session dropped
    // (the wrapper's no-timeout watermark contract — see its scaladoc;
    // the timeout path is StreamingSpec's law).
    q("q346_stream_session_parity",
      """WITH q AS (SELECT user_id, event_id, epoch_us(ts) AS qts
        |  FROM events),
        |s AS (SELECT user_id, event_id, qts,
        |    CASE WHEN qts - lag(qts) OVER (PARTITION BY user_id
        |        ORDER BY qts, event_id) < 1800000000
        |      THEN 0 ELSE 1 END AS brk
        |  FROM q),
        |w AS (SELECT user_id, qts, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY qts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM s),
        |g AS (SELECT user_id, sess, count(*) AS n, min(qts) AS st,
        |    max(qts) AS en FROM w GROUP BY 1, 2),
        |m AS (SELECT user_id, max(sess) AS last_sess FROM g GROUP BY 1)
        |SELECT g.user_id,
        |  CAST(count(*) AS BIGINT) AS n_sessions_closed,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(en - st) AS BIGINT) AS dur_us
        |FROM g JOIN m ON g.user_id = m.user_id AND g.sess < m.last_sess
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => graft.streaming.EventStreams
        .closedSessionCensusViaStream(s, d)),

    // Dynamic partition pruning (Bucketing.dppJoin): orders written
    // hive-partitioned on priority, joined to a FILTERED priority dim —
    // the fact scan's partitions prune on values known only at runtime
    // from the dim (BucketingSpec pins `dynamicpruning` in the scan's
    // PartitionFilters). Completes the scan-elimination triple next to
    // static pushdown (q02) and zone maps (q341); this entry puts the
    // pruned read path's RESULT under the driver oracle.
    // The dim filter must live on a column INDEPENDENT of the join key
    // (here: each priority's order count vs the cross-priority average)
    // — a key-expressible predicate would be inferred through the join
    // as a STATIC partition filter by constraint propagation, and DPP
    // would never be exercised (found out the hard way in the spec).
    q("q347_dynamic_partition_prune",
      """WITH c AS (SELECT o_orderpriority AS prio, count(*) AS n
        |  FROM orders GROUP BY 1),
        |a AS (SELECT avg(n) AS a FROM c),
        |dim AS (SELECT prio FROM c, a WHERE n > a)
        |SELECT o.o_orderpriority AS prio, count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |    AS HUGEINT)) AS VARCHAR) AS cents
        |FROM orders o JOIN dim ON o.o_orderpriority = dim.prio
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{avg, broadcast, count,
          expr, lit, sum}
        val fact = Tables.orders(s, d).select(
          col("o_orderpriority").as("prio"),
          expr("cast(round(o_totalprice * 100) as long)").as("cents"))
        val counts = Tables.orders(s, d)
          .groupBy(col("o_orderpriority").as("prio"))
          .agg(count(lit(1)).as("n"))
        val dim = counts
          .crossJoin(broadcast(counts.agg(avg(col("n")).as("a"))))
          .filter(col("n") > col("a")).select("prio")
        Bucketing.dppJoin(fact, "prio", dim, Sinks.scratch("q347"))
          .groupBy("prio")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("cents").cast("decimal(38,0)")).cast("string")
              .as("cents"))
          .orderBy("prio")
      }),

    // Classifier calibration (Profiling.scoreCalibration): the q92
    // quality score ranked into deciles (closed-form NTILE over sharded
    // ranks) against q21 exact-duplicate membership — per decile, the
    // exact per-mille duplicate rate. The governance readout that says
    // whether the heuristic filter's score actually separates the
    // outcome it is deployed against, on the whole corpus, not a spec
    // fixture.
    q("q348_quality_calibration",
      s"""WITH f AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '${Text.ws}'),
        |      w -> length(w) > 0) AS toks
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, w -> list_contains(
        |      ['the','a','an','of','and','to','in','is','it','for'], w)))
        |      AS BIGINT) AS n_stop,
        |    CAST(length(array_to_string(toks, '')) AS BIGINT) AS sum_len,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |      AS BIGINT) AS n_digits,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM f),
        |s AS (SELECT doc_id,
        |    CAST(n_tokens >= 3 AND n_tokens <= 1000 AS INTEGER) * 3
        |  + CAST(n_stop * 50 >= n_tokens AS INTEGER) * 2
        |  + CAST(n_tokens * 2 <= sum_len AND sum_len <= n_tokens * 12
        |      AS INTEGER) * 2
        |  + CAST(n_digits * 5 < greatest(n_chars, 1) AS INTEGER) * 1
        |      AS score
        |  FROM g),
        |o AS (SELECT doc_id, md5(regexp_replace(trim(lower(text)),
        |    '[ \t\n\r\f]+', ' ', 'g')) AS fp FROM documents),
        |gc AS (SELECT fp, count(*) AS c FROM o GROUP BY 1),
        |od AS (SELECT o.doc_id, CAST(gc.c > 1 AS INTEGER) AS is_dup
        |  FROM o JOIN gc USING (fp)),
        |j AS (SELECT s.doc_id, s.score, od.is_dup FROM s
        |  JOIN od ON s.doc_id = od.doc_id),
        |b AS (SELECT score, is_dup,
        |    ntile(10) OVER (ORDER BY score, doc_id) AS bucket FROM j)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(score) AS BIGINT) AS score_min,
        |  CAST(max(score) AS BIGINT) AS score_max,
        |  CAST(sum(is_dup) AS BIGINT) AS n_pos,
        |  CAST(sum(is_dup) * 1000 // count(*) AS BIGINT) AS pos_pm
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit, md5}
        val docs = Tables.documents(s, d)
        val scored = Text.qualityClassify(docs)
          .select(col("doc_id"), col("score"))
        val fp = docs.select(col("doc_id"),
          md5(Text.normText(col("text")).cast("binary")).as("fp"))
        val outcome = fp
          .join(fp.groupBy("fp").agg(count(lit(1)).as("c")), "fp")
          .select(col("doc_id"), (col("c") > 1).cast("int").as("is_dup"))
        Profiling.scoreCalibration(scored.join(outcome, "doc_id"),
          "doc_id", "score", "doc_id", "is_dup", k = 10)
      }),

    // Rendezvous reshard planner (Layout.rendezvousReshardPlan): the
    // per-shard movement bill for growing 8 → 10 shards, highest-random-
    // weight hashing vs naive mod — HRW moves ~2/10 of the corpus (the
    // stateless minimum), mod ~8/10. One explode(nNew) into a keyed
    // argmax partial agg; census is nNew rows.
    q("q349_rendezvous_reshard",
      """WITH ids AS (SELECT doc_id FROM documents),
        |w AS (SELECT doc_id, s,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' ||
        |      CAST(s AS VARCHAR)), 1, 12)) AS BIGINT) AS w
        |  FROM ids, unnest(generate_series(0, 9)) AS g(s)),
        |ownn AS (SELECT doc_id, first(s ORDER BY w DESC, s DESC)
        |    AS owner_new FROM w GROUP BY 1),
        |owno AS (SELECT doc_id, first(s ORDER BY w DESC, s DESC)
        |    AS owner_old FROM w WHERE s < 8 GROUP BY 1),
        |h AS (SELECT doc_id, CAST(('0x' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS hm
        |  FROM ids),
        |o AS (SELECT n.doc_id, owner_new, owner_old,
        |    CAST(hm % 10 AS INTEGER) AS mod_new,
        |    CAST(hm % 8 AS INTEGER) AS mod_old
        |  FROM ownn n JOIN owno USING (doc_id) JOIN h USING (doc_id)),
        |rdv AS (SELECT owner_new AS shard, count(*) AS n_docs_rdv,
        |    sum(CASE WHEN owner_old <> owner_new THEN 1 ELSE 0 END)
        |      AS moved_rdv
        |  FROM o GROUP BY 1),
        |md AS (SELECT mod_new AS shard, count(*) AS n_docs_mod,
        |    sum(CASE WHEN mod_old <> mod_new THEN 1 ELSE 0 END)
        |      AS moved_mod
        |  FROM o GROUP BY 1),
        |sh AS (SELECT CAST(unnest(generate_series(0, 9)) AS INTEGER)
        |    AS shard)
        |SELECT shard,
        |  CAST(coalesce(n_docs_rdv, 0) AS BIGINT) AS n_docs_rdv,
        |  CAST(coalesce(moved_rdv, 0) AS BIGINT) AS moved_rdv,
        |  CAST(coalesce(n_docs_mod, 0) AS BIGINT) AS n_docs_mod,
        |  CAST(coalesce(moved_mod, 0) AS BIGINT) AS moved_mod
        |FROM sh LEFT JOIN rdv USING (shard) LEFT JOIN md USING (shard)
        |ORDER BY shard""".stripMargin)(
      (s, d) => Layout.rendezvousReshardPlan(Tables.documents(s, d),
        "doc_id", nOld = 8, nNew = 10)),

    // Isotonic calibration (Profiling.isotonicCalibration): PAV via the
    // exact minimax identity over the q348 bucket table — the monotone
    // score → dup-probability map. Quantized-ppm pooled rates keep both
    // engines bit-identical; everything past the sharded rank is k-row.
    q("q350_isotonic_calibration",
      s"""WITH f AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '${Text.ws}'),
        |      w -> length(w) > 0) AS toks
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, w -> list_contains(
        |      ['the','a','an','of','and','to','in','is','it','for'], w)))
        |      AS BIGINT) AS n_stop,
        |    CAST(length(array_to_string(toks, '')) AS BIGINT) AS sum_len,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |      AS BIGINT) AS n_digits,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM f),
        |s AS (SELECT doc_id,
        |    CAST(n_tokens >= 3 AND n_tokens <= 1000 AS INTEGER) * 3
        |  + CAST(n_stop * 50 >= n_tokens AS INTEGER) * 2
        |  + CAST(n_tokens * 2 <= sum_len AND sum_len <= n_tokens * 12
        |      AS INTEGER) * 2
        |  + CAST(n_digits * 5 < greatest(n_chars, 1) AS INTEGER) * 1
        |      AS score
        |  FROM g),
        |o AS (SELECT doc_id, md5(regexp_replace(trim(lower(text)),
        |    '[ \t\n\r\f]+', ' ', 'g')) AS fp FROM documents),
        |gc AS (SELECT fp, count(*) AS c FROM o GROUP BY 1),
        |od AS (SELECT o.doc_id, CAST(gc.c > 1 AS INTEGER) AS is_dup
        |  FROM o JOIN gc USING (fp)),
        |j AS (SELECT s.doc_id, s.score, od.is_dup FROM s
        |  JOIN od ON s.doc_id = od.doc_id),
        |b AS (SELECT score, is_dup,
        |    ntile(10) OVER (ORDER BY score, doc_id) AS bucket FROM j),
        |base AS (SELECT bucket, count(*) AS n, sum(is_dup) AS n_pos
        |  FROM b GROUP BY 1),
        |cum AS (SELECT bucket, n, n_pos,
        |    sum(n) OVER (ORDER BY bucket) AS cn,
        |    sum(n_pos) OVER (ORDER BY bucket) AS cp FROM base),
        |pools AS (SELECT j.bucket AS j, l.bucket AS l,
        |    CAST(CAST(l.cp - (j.cp - j.n_pos) AS HUGEINT) * 1000000
        |      // (l.cn - (j.cn - j.n)) AS BIGINT) AS rate_ppm
        |  FROM cum j JOIN cum l ON j.bucket <= l.bucket),
        |iso1 AS (SELECT i.bucket AS i, p.j, min(p.rate_ppm) AS mr
        |  FROM base i JOIN pools p
        |  ON p.j <= i.bucket AND p.l >= i.bucket GROUP BY 1, 2),
        |iso AS (SELECT i, max(mr) AS iso_ppm FROM iso1 GROUP BY 1)
        |SELECT CAST(base.bucket AS BIGINT) AS bucket,
        |  CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(CAST(n_pos AS HUGEINT) * 1000000 // n AS BIGINT)
        |    AS raw_ppm,
        |  CAST(iso_ppm AS BIGINT) AS iso_ppm
        |FROM base JOIN iso ON iso.i = base.bucket
        |ORDER BY bucket""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit, md5}
        val docs = Tables.documents(s, d)
        val scored = Text.qualityClassify(docs)
          .select(col("doc_id"), col("score"))
        val fp = docs.select(col("doc_id"),
          md5(Text.normText(col("text")).cast("binary")).as("fp"))
        val outcome = fp
          .join(fp.groupBy("fp").agg(count(lit(1)).as("c")), "fp")
          .select(col("doc_id"), (col("c") > 1).cast("int").as("is_dup"))
        Profiling.isotonicCalibration(scored.join(outcome, "doc_id"),
          "doc_id", "score", "doc_id", "is_dup", k = 10)
      }),

    // Dedup threshold sweep (Dedup.dupThresholdSweep): pairs + affected
    // docs at each candidate Jaccard threshold, from ONE df-capped pair
    // stage at the lowest threshold — the pick-the-threshold table next
    // to q305's plan-the-LSH-for-it. Integer jac_pm ⟺ exact J ≥ t/1000.
    q("q351_dup_threshold_sweep",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |sc AS (SELECT id_a, id_b,
        |    inter * 1000 // (sza + szb - inter) AS jac_pm
        |  FROM px WHERE inter > 0),
        |t AS (SELECT CAST(unnest([200, 400, 600, 800, 950]) AS INTEGER)
        |    AS t_pm),
        |pt AS (SELECT t_pm, id_a, id_b FROM t JOIN sc ON jac_pm >= t_pm),
        |np AS (SELECT t_pm, count(*) AS n_pairs FROM pt GROUP BY 1),
        |nd AS (SELECT t_pm, count(DISTINCT doc) AS n_docs FROM
        |  (SELECT t_pm, unnest([id_a, id_b]) AS doc FROM pt) GROUP BY 1)
        |SELECT t.t_pm,
        |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs
        |FROM t LEFT JOIN np USING (t_pm) LEFT JOIN nd USING (t_pm)
        |ORDER BY t_pm""".stripMargin)(
      // maxDf arms the q22 hot-shingle skew guard while the oracle is
      // EXACT all-pairs Jaccard: the comparison holds because 1000 is
      // far above the fixtures' measured shingle-df maxima (7 at
      // sf0.01, 25 at sf0.1), so no posting is dropped at either scale
      // — the q22 headroom contract restated (r17 ADVICE). At corpus
      // scale the cap changes the score's universe by design (the
      // priced skew rail), exactly as documented on q22.
      (s, d) => Dedup.dupThresholdSweep(Tables.documents(s, d), n = 3,
        thresholdsPm = Seq(200, 400, 600, 800, 950), maxDf = 1000L)),

    // Hilbert-curve layout census (Layout.hilbertCensusSharded): the
    // q123 sharded equi-depth census over the HILBERT order — the other
    // standard lakehouse clustering curve, strictly tighter bucket boxes
    // than Z where buckets don't align with power-of-4 quadrants
    // (LayoutSpec pins continuity + the 10-bucket win). The oracle
    // evaluates the IDENTICAL unrolled xy2d chain (hilbertSqlCtes —
    // generated from the same per-level formula as the Spark plan).
    // 10 buckets deliberately: the non-power-of-4 regime is where the
    // curves differ.
    q("q352_hilbert_census",
      s"""WITH z AS (
        |  SELECT l_partkey, l_suppkey, l_orderkey * 10 + l_linenumber AS tie
        |  FROM lineitem),
        |${Layout.hilbertSqlCtes("z", "l_partkey, l_suppkey, tie",
            "l_partkey", "l_suppkey", 16)},
        |b AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(ntile(10) OVER (ORDER BY hd16, tie) AS BIGINT) AS bucket
        |  FROM h16)
        |SELECT bucket, count(*) AS n,
        |  min(l_partkey) AS x_min, max(l_partkey) AS x_max,
        |  min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Layout.hilbertCensusSharded(
        Tables.lineitem(s, d)
          .withColumn("tie",
            col("l_orderkey") * 10 + col("l_linenumber")),
        xCol = "l_partkey", yCol = "l_suppkey", tieCol = "tie",
        buckets = 10, bits = 16)),

    // Fleiss' kappa (Profiling.fleissKappa): chance-corrected agreement
    // of THREE labeling heuristics (quality-score bands, token-count
    // bands, char-count bands) binning documents into low/mid/high —
    // the multi-rater completion of q329. Exact integer sufficient
    // statistics, one fixed-shape IEEE kappa (the q329 q6 device).
    q("q353_fleiss_kappa",
      s"""WITH f AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '${Text.ws}'),
        |      w -> length(w) > 0) AS toks
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, w -> list_contains(
        |      ['the','a','an','of','and','to','in','is','it','for'], w)))
        |      AS BIGINT) AS n_stop,
        |    CAST(length(array_to_string(toks, '')) AS BIGINT) AS sum_len,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |      AS BIGINT) AS n_digits,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM f),
        |s AS (SELECT doc_id,
        |    CAST(n_tokens >= 3 AND n_tokens <= 1000 AS INTEGER) * 3
        |  + CAST(n_stop * 50 >= n_tokens AS INTEGER) * 2
        |  + CAST(n_tokens * 2 <= sum_len AND sum_len <= n_tokens * 12
        |      AS INTEGER) * 2
        |  + CAST(n_digits * 5 < greatest(n_chars, 1) AS INTEGER) * 1
        |      AS score
        |  FROM g),
        |feat AS (SELECT s.doc_id, s.score, g.n_tokens, d.n_chars
        |  FROM s JOIN g USING (doc_id)
        |  JOIN documents d ON d.doc_id = s.doc_id),
        |tall AS (
        |  SELECT doc_id, 1 AS rater, CASE WHEN score >= 6 THEN 2
        |    WHEN score >= 3 THEN 1 ELSE 0 END AS cat FROM feat
        |  UNION ALL SELECT doc_id, 2, CASE WHEN n_tokens >= 70 THEN 2
        |    WHEN n_tokens >= 45 THEN 1 ELSE 0 END FROM feat
        |  UNION ALL SELECT doc_id, 3, CASE WHEN n_chars >= 400 THEN 2
        |    WHEN n_chars >= 250 THEN 1 ELSE 0 END FROM feat),
        |nij AS (SELECT doc_id, cat, count(*) AS nij
        |  FROM tall GROUP BY 1, 2),
        |per AS (SELECT doc_id, sum(nij) AS n, sum(nij * nij) AS s2
        |  FROM nij GROUP BY 1),
        |a AS (SELECT count(*) AS ns, min(n) AS n_min, max(n) AS n_max,
        |    sum(s2) AS a2 FROM per),
        |bb AS (SELECT sum(CAST(cj AS HUGEINT) * cj) AS b2 FROM
        |  (SELECT cat, sum(nij) AS cj FROM nij GROUP BY 1)),
        |x AS (SELECT ns, n_min, a2, b2,
        |    (n_min = n_max AND n_min >= 2) AS ok FROM a, bb),
        |y AS (SELECT ns, n_min, ok,
        |    CASE WHEN ok THEN CAST(a2 - CAST(ns AS HUGEINT) * n_min
        |      AS DOUBLE) / CAST(CAST(ns AS HUGEINT) * n_min *
        |      (n_min - 1) AS DOUBLE) END AS pbar,
        |    CASE WHEN ok THEN CAST(b2 AS DOUBLE) /
        |      CAST(CAST(ns AS HUGEINT) * n_min * ns * n_min AS DOUBLE)
        |      END AS pe
        |  FROM x)
        |SELECT CAST(ns AS BIGINT) AS n_subjects,
        |  CAST(CASE WHEN ok THEN n_min END AS BIGINT) AS n_raters,
        |  CAST(round(1000000 * pbar) AS BIGINT) AS pbar_q6,
        |  CAST(round(1000000 * pe) AS BIGINT) AS pe_q6,
        |  CAST(round(1000000 * (pbar - pe) / nullif(1 - pe, 0))
        |    AS BIGINT) AS kappa_q6
        |FROM y""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.Column
        import org.apache.spark.sql.functions.{lit, when}
        val docs = Tables.documents(s, d)
        val feat = Text.qualityClassify(docs)
          .select(col("doc_id"), col("n_tokens"), col("score"))
          .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        def band(c: Column, hi: Long, mid: Long): Column =
          when(c >= hi, 2).when(c >= mid, 1).otherwise(0)
        val tall = feat.select(col("doc_id"), lit(1).as("rater"),
            band(col("score"), 6, 3).as("cat"))
          .unionByName(feat.select(col("doc_id"), lit(2).as("rater"),
            band(col("n_tokens"), 70, 45).as("cat")))
          .unionByName(feat.select(col("doc_id"), lit(3).as("rater"),
            band(col("n_chars"), 400, 250).as("cat")))
        Profiling.fleissKappa(tall, "doc_id", "rater", "cat")
      }),

    // Quantile normalization (Sampling.quantileNormalize): per-source
    // n_chars mapped onto the global distribution at the same
    // within-source rank quantile — the cross-source score harmonizer
    // in front of q125's mixture plan. Exact integer rank mapping;
    // endpoints hit the global min/max exactly (SamplingSpec law).
    // Census: per-source raw-vs-normalized sums + normalized extremes.
    q("q354_quantile_normalize",
      """WITH d AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM d),
        |g AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rg
        |  FROM d),
        |s AS (SELECT doc_id, source, v,
        |    row_number() OVER (PARTITION BY source ORDER BY v, doc_id)
        |      AS rs,
        |    count(*) OVER (PARTITION BY source) AS m FROM d),
        |t AS (SELECT s.source, s.v,
        |    CASE WHEN m >= 2 THEN CAST(CAST(rs - 1 AS HUGEINT) * (n - 1)
        |      // (m - 1) + 1 AS BIGINT) ELSE (n + 1) // 2 END AS gr
        |  FROM s, tot),
        |j AS (SELECT t.source, t.v, g.v AS norm
        |  FROM t JOIN g ON g.rg = t.gr)
        |SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(v) AS BIGINT) AS sum_raw,
        |  CAST(sum(norm) AS BIGINT) AS sum_norm,
        |  CAST(min(norm) AS BIGINT) AS min_norm,
        |  CAST(max(norm) AS BIGINT) AS max_norm
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit, max, min, sum}
        val docs = Tables.documents(s, d).select(col("doc_id"),
          col("source"), col("n_chars").cast("long").as("v"))
        Sampling.quantileNormalize(docs, "doc_id", "source", "v",
            "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n"), sum("v").as("sum_raw"),
            sum("norm").as("sum_norm"), min("norm").as("min_norm"),
            max("norm").as("max_norm"))
          .orderBy("source")
      }),

    // Learning curve of the q308 probe (ml.LinearProbe.learningCurve):
    // the same exact-integer GD trained on nested md5 slices (125/250/
    // 500/1000‰) and evaluated on the FULL corpus — the is-more-data-
    // still-helping readout behind a labeling/cleaning budget decision.
    // The oracle is GENERATED from the same iteration structure
    // (learningCurveOracleSql — the hilbertSqlCtes one-formula
    // discipline), so the whole curve incl. weights is hash-checked.
    q("q355_learning_curve",
      graft.ml.LinearProbe.learningCurveOracleSql(
        slicesPm = Seq(125, 250, 500, 1000), iterations = 3))(
      (s, d) => graft.ml.LinearProbe.learningCurve(
        Tables.documents(s, d),
        slicesPm = Seq(125, 250, 500, 1000), iterations = 3)),

    // Exact 1-D Wasserstein drift (Profiling.wassersteinDrift): the
    // integral transport cost between src0/src1 n_chars distributions —
    // q300's KS flags the worst single CDF gap, this bills the TOTAL
    // shift, so wide-but-shallow drift still registers. Same census +
    // aggregated-window posture, cleared-denominator decimal terms.
    q("q356_wasserstein_drift",
      """WITH v AS (SELECT source AS g, n_chars AS v FROM documents
        |  WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL),
        |c AS (SELECT v,
        |    sum(CASE WHEN g = 'src0' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN g = 'src1' THEN 1 ELSE 0 END) AS cb
        |  FROM v GROUP BY 1),
        |t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM c),
        |w AS (SELECT v,
        |    sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cumb,
        |    lead(v) OVER (ORDER BY v) AS nxt
        |  FROM c),
        |s AS (SELECT coalesce(sum(CASE WHEN w.nxt IS NOT NULL THEN
        |      abs(CAST(w.cuma AS HUGEINT) * t.nb
        |        - CAST(w.cumb AS HUGEINT) * t.na) * (w.nxt - w.v)
        |      ELSE NULL END), 0) AS wnum,
        |    max(t.na) AS na, max(t.nb) AS nb
        |  FROM w, t)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(wnum AS VARCHAR) AS w1_num,
        |  CAST(wnum * 1000 // (CAST(na AS HUGEINT) * nb) AS BIGINT)
        |    AS w1_mv
        |FROM s""".stripMargin)(
      (s, d) => Profiling.wassersteinDrift(Tables.documents(s, d),
        "source", "n_chars", "src0", "src1")),

    // Split-conformal coverage audit (Profiling.conformalCoverage): the
    // distribution-free abstention gate — q̂ is the exact
    // ⌈0.9(n_cal+1)⌉-th smallest calibration residual of a crude length
    // model (|n_chars − 6·n_tokens|), coverage is the eval slice's
    // realized {r ≤ q̂} share. md5 split, sharded-rank order statistic,
    // cleared-denominator coverage.
    q("q357_conformal_coverage",
      s"""WITH f AS (SELECT doc_id,
        |    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS INTEGER) % 1000) AS bkt,
        |    abs(CAST(n_chars AS BIGINT) - 6 * CAST(len(list_filter(
        |      string_split_regex(text, '${Text.ws}'),
        |      w -> length(w) > 0)) AS BIGINT)) AS r
        |  FROM documents),
        |cal AS (SELECT doc_id, r FROM f WHERE bkt < 500),
        |n AS (SELECT count(*) AS n_cal FROM cal),
        |rk AS (SELECT r, row_number() OVER (ORDER BY r, doc_id) AS rnk
        |  FROM cal),
        |kk AS (SELECT n_cal, (900 * (n_cal + 1) + 999) // 1000 AS k
        |  FROM n),
        |q AS (SELECT rk.r AS qhat, kk.n_cal, kk.k FROM rk, kk
        |  WHERE rk.rnk = kk.k),
        |ev AS (SELECT r FROM f WHERE bkt >= 500)
        |SELECT CAST(q.n_cal AS BIGINT) AS n_cal,
        |  CAST(q.k AS BIGINT) AS k, CAST(q.qhat AS BIGINT) AS qhat,
        |  CAST(count(*) AS BIGINT) AS n_eval,
        |  CAST(CAST(sum(CASE WHEN ev.r <= q.qhat THEN 1000 ELSE 0 END)
        |    AS HUGEINT) // count(*) AS BIGINT) AS cover_pm
        |FROM ev, q GROUP BY 1, 2, 3""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{abs, lit, size}
        val docs = Tables.documents(s, d)
        val resid = docs.select(col("doc_id"),
          abs(col("n_chars").cast("long") -
            lit(6L) * size(Text.tokens(col("text"))).cast("long"))
            .as("r"))
        Profiling.conformalCoverage(resid, "doc_id", "r",
          calPermille = 500, alphaPm = 100)
      }),

    // Mondrian (group-conditional) conformal (Profiling.
    // mondrianConformalCoverage): one q̂ PER SOURCE from each source's
    // own calibration order statistic — per-source validity where
    // q357's single global q̂ can under-cover one source while the
    // marginal number looks fine. Sharded GROUP ranks, row-wise
    // per-group k, NULLs where a source's slice can't support α.
    q("q358_mondrian_conformal",
      s"""WITH f AS (SELECT doc_id, source,
        |    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS INTEGER) % 1000) AS bkt,
        |    abs(CAST(n_chars AS BIGINT) - 6 * CAST(len(list_filter(
        |      string_split_regex(text, '${Text.ws}'),
        |      w -> length(w) > 0)) AS BIGINT)) AS r
        |  FROM documents),
        |cal AS (SELECT doc_id, source, r FROM f WHERE bkt < 500),
        |rk AS (SELECT source, r,
        |    row_number() OVER (PARTITION BY source ORDER BY r, doc_id)
        |      AS rnk,
        |    count(*) OVER (PARTITION BY source) AS n_grp FROM cal),
        |q AS (SELECT source, (900 * (n_grp + 1) + 999) // 1000 AS k,
        |    r AS qhat FROM rk
        |  WHERE rnk = (900 * (n_grp + 1) + 999) // 1000),
        |thr AS (SELECT c.source, c.n_cal, q.k, q.qhat FROM
        |  (SELECT source, count(*) AS n_cal FROM cal GROUP BY 1) c
        |  LEFT JOIN q USING (source)),
        |ev AS (SELECT f.source, f.r, thr.n_cal, thr.k, thr.qhat
        |  FROM f LEFT JOIN thr USING (source) WHERE f.bkt >= 500)
        |SELECT source,
        |  CAST(coalesce(max(n_cal), 0) AS BIGINT) AS n_cal,
        |  CAST(max(k) AS BIGINT) AS k,
        |  CAST(max(qhat) AS BIGINT) AS qhat,
        |  CAST(count(*) AS BIGINT) AS n_eval,
        |  CAST(CASE WHEN max(qhat) IS NOT NULL THEN
        |    CAST(sum(CASE WHEN r <= qhat THEN 1000 ELSE 0 END)
        |      AS HUGEINT) // count(*) END AS BIGINT) AS cover_pm
        |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{abs, lit, size}
        val docs = Tables.documents(s, d)
        val resid = docs.select(col("doc_id"), col("source"),
          abs(col("n_chars").cast("long") -
            lit(6L) * size(Text.tokens(col("text"))).cast("long"))
            .as("r"))
        Profiling.mondrianConformalCoverage(resid, "doc_id", "source",
          "r", calPermille = 500, alphaPm = 100)
      }),

    // Coarsened-exact-matching stratum table (Profiling.cemStrataDiff):
    // is src0's quality score actually different, or is it a length
    // artifact? Strata = token-count bins (div 16); strata without both
    // a treated (src0) and control row are dropped — the matching; each
    // matched stratum reports the exact cleared-denominator score
    // difference. The matching-based sibling of q314's slope audit.
    q("q359_cem_strata",
      s"""WITH f AS (SELECT doc_id, source, text,
        |    list_filter(string_split_regex(lower(text), '${Text.ws}'),
        |      w -> length(w) > 0) AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, source,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, w -> list_contains(
        |      ['the','a','an','of','and','to','in','is','it','for'], w)))
        |      AS BIGINT) AS n_stop,
        |    CAST(length(array_to_string(toks, '')) AS BIGINT) AS sum_len,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |      AS BIGINT) AS n_digits,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM f),
        |s AS (SELECT doc_id, n_tokens // 16 AS bin,
        |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS t,
        |    CAST(n_tokens >= 3 AND n_tokens <= 1000 AS INTEGER) * 3
        |  + CAST(n_stop * 50 >= n_tokens AS INTEGER) * 2
        |  + CAST(n_tokens * 2 <= sum_len AND sum_len <= n_tokens * 12
        |      AS INTEGER) * 2
        |  + CAST(n_digits * 5 < greatest(n_chars, 1) AS INTEGER) * 1
        |      AS y
        |  FROM g),
        |a AS (SELECT bin, sum(t) AS n_treat, sum(1 - t) AS n_ctrl,
        |    sum(y * t) AS st, sum(y * (1 - t)) AS sc
        |  FROM s GROUP BY 1)
        |SELECT CAST(bin AS BIGINT) AS bin,
        |  CAST(n_treat AS BIGINT) AS n_treat,
        |  CAST(n_ctrl AS BIGINT) AS n_ctrl,
        |  CAST((CAST(st AS HUGEINT) * n_ctrl -
        |    CAST(sc AS HUGEINT) * n_treat) * 1000000 //
        |    (CAST(n_treat AS HUGEINT) * n_ctrl) AS BIGINT) AS diff_q6
        |FROM a WHERE n_treat > 0 AND n_ctrl > 0
        |ORDER BY bin""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{expr, when}
        val docs = Tables.documents(s, d)
        val scored = Text.qualityClassify(docs)
          .select(col("doc_id"), col("n_tokens"), col("score"))
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .select(expr("n_tokens div 16").as("bin"),
            when(col("source") === "src0", 1L).otherwise(0L).as("t"),
            col("score"))
        Profiling.cemStrataDiff(scored, "bin", "t", "score")
      }),

    // Pack-contamination census (Packing.packContaminationCensus): how
    // many sources/languages each 512-token packed context window mixes
    // — the cross-doc-attention leakage table behind the q65 packing and
    // the doc-order decision. Two-pass prefix sum + keyed aggs.
    q("q360_pack_contamination",
      """WITH t AS (SELECT doc_id, source, lang,
        |    CAST(len(list_filter(string_split_regex(text,
        |      '[ \t\n\r\f]+'), w -> length(w) > 0)) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |p AS (SELECT doc_id, source, lang,
        |    (sum(n_tokens) OVER (ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |     - n_tokens) // 512 AS pack_id
        |  FROM t),
        |g AS (SELECT pack_id, count(*) AS nd,
        |    count(DISTINCT source) AS n_sources,
        |    count(DISTINCT lang) AS n_langs
        |  FROM p GROUP BY 1)
        |SELECT CAST(n_sources AS BIGINT) AS n_sources,
        |  CAST(n_langs AS BIGINT) AS n_langs,
        |  CAST(count(*) AS BIGINT) AS n_packs,
        |  CAST(sum(nd) AS BIGINT) AS n_docs
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => Packing.packContaminationCensus(
        Tables.documents(s, d), budget = 512L)),

    // Streaming AS-OF parity (EventStreams.asOfEnrichmentViaStream):
    // the one-row-per-user custom-state enrichment executed through the
    // real micro-batch engine, checked against q54's batch ASOF-join
    // oracle VERBATIM — the fifth streaming-executed entry, covering
    // the as-of operator itself (q309 agg, q312 dedup, q345 join,
    // q346 sessions). Horizon-free TTL/watermark + single AvailableNow
    // batch make the finite-input parity exact (see the wrapper doc) —
    // GIVEN the fixture's no-equal-timestamp property (r17 ADVICE): the
    // stream processes each user sorted by (ts, event_id) and a click
    // replaces state on clickUs <= us, so with a click and a purchase
    // (or two clicks) at the SAME microsecond the emitted click_id
    // depends on event_id order, while DuckDB's ASOF JOIN (p.ts >= c.ts)
    // matches equal-ts clicks and picks an unspecified one among ties.
    // The events fixture has no (user_id, ts) collisions across
    // click/purchase rows (FIXTURES.md; verified at both SFs), so the
    // parity is exact here; a tie-bearing deployment would need an
    // explicit tie-break pinned in BOTH engines.
    q("q361_stream_asof_parity",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  date_diff('microsecond', c.ts, p.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin)(
      (s, d) => graft.streaming.EventStreams
        .asOfEnrichmentViaStream(s, d)),

    // Normalization-sensitivity census (Dedup.normalizationSensitivity):
    // exact-dup rate under raw / lowercase / ws-collapse / composed
    // fingerprints — what each canonicalization step of the q21
    // fingerprint is worth on this corpus. One scan, one keyed agg per
    // variant, 4 rows.
    q("q362_normalization_sensitivity",
      """WITH v AS (
        |  SELECT '1_raw' AS variant, md5(text) AS fp FROM documents
        |  UNION ALL SELECT '2_lower', md5(lower(text)) FROM documents
        |  UNION ALL SELECT '3_collapse_ws', md5(regexp_replace(
        |    trim(text), '[ \t\n\r\f]+', ' ', 'g')) FROM documents
        |  UNION ALL SELECT '4_lower_collapse', md5(regexp_replace(
        |    trim(lower(text)), '[ \t\n\r\f]+', ' ', 'g')) FROM documents),
        |t AS (SELECT count(*) AS n FROM documents),
        |g AS (SELECT variant, fp, count(*) AS c FROM v GROUP BY 1, 2),
        |a AS (SELECT variant, count(*) AS n_fingerprints,
        |    coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS n_dup_docs
        |  FROM g GROUP BY 1)
        |SELECT variant, CAST(t.n AS BIGINT) AS n_docs,
        |  CAST(n_fingerprints AS BIGINT) AS n_fingerprints,
        |  CAST(n_dup_docs AS BIGINT) AS n_dup_docs,
        |  CAST(CAST(n_dup_docs AS HUGEINT) * 1000 //
        |    greatest(t.n, 1) AS BIGINT) AS dup_pm
        |FROM a, t ORDER BY variant""".stripMargin)(
      (s, d) => Dedup.normalizationSensitivity(Tables.documents(s, d))),

    // Keep-policy comparison (Dedup.keepPolicyComparison): what each
    // survivor rule — keep-first / keep-longest / keep-best-quality —
    // preserves of the deduplicated corpus (chars, total q92 score).
    // Three struct-argmax partial aggs on one fingerprint scan, 3 rows.
    q("q363_keep_policy",
      s"""WITH f AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '${Text.ws}'),
        |      w -> length(w) > 0) AS toks
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, w -> list_contains(
        |      ['the','a','an','of','and','to','in','is','it','for'], w)))
        |      AS BIGINT) AS n_stop,
        |    CAST(length(array_to_string(toks, '')) AS BIGINT) AS sum_len,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |      AS BIGINT) AS n_digits,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM f),
        |sc AS (SELECT doc_id,
        |    CAST(n_tokens >= 3 AND n_tokens <= 1000 AS INTEGER) * 3
        |  + CAST(n_stop * 50 >= n_tokens AS INTEGER) * 2
        |  + CAST(n_tokens * 2 <= sum_len AND sum_len <= n_tokens * 12
        |      AS INTEGER) * 2
        |  + CAST(n_digits * 5 < greatest(n_chars, 1) AS INTEGER) * 1
        |      AS score
        |  FROM g),
        |fpt AS (SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars,
        |    sc.score, md5(regexp_replace(trim(lower(d.text)),
        |    '[ \t\n\r\f]+', ' ', 'g')) AS fp
        |  FROM documents d JOIN sc ON sc.doc_id = d.doc_id),
        |s1 AS (SELECT *, row_number() OVER (PARTITION BY fp
        |    ORDER BY doc_id) AS rn FROM fpt),
        |s2 AS (SELECT *, row_number() OVER (PARTITION BY fp
        |    ORDER BY n_chars DESC, doc_id) AS rn FROM fpt),
        |s3 AS (SELECT *, row_number() OVER (PARTITION BY fp
        |    ORDER BY score DESC, doc_id) AS rn FROM fpt),
        |u AS (
        |  SELECT '1_first' AS policy, count(*) AS n, sum(n_chars) AS c,
        |    sum(score) AS s FROM s1 WHERE rn = 1
        |  UNION ALL SELECT '2_longest', count(*), sum(n_chars),
        |    sum(score) FROM s2 WHERE rn = 1
        |  UNION ALL SELECT '3_best_quality', count(*), sum(n_chars),
        |    sum(score) FROM s3 WHERE rn = 1)
        |SELECT policy, CAST(n AS BIGINT) AS n_survivors,
        |  CAST(c AS BIGINT) AS sum_chars, CAST(s AS BIGINT) AS sum_score
        |FROM u ORDER BY policy""".stripMargin)(
      (s, d) => Dedup.keepPolicyComparison(Tables.documents(s, d))),

    // Positional-template census (Text.positionalTemplateCensus): modal-
    // token concentration over the first 10 token slots — structural
    // boilerplate detection (strip-a-fixed-prefix decisions), the
    // position-level companion to q77's repeated-line census.
    q("q364_positional_template",
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |pos AS (SELECT CAST(i AS INTEGER) AS pos, t[i] AS w
        |  FROM toks, unnest(generate_series(1, least(len(t), 10)))
        |    AS g(i)),
        |cnt AS (SELECT pos, w, count(*) AS c FROM pos GROUP BY 1, 2),
        |m AS (SELECT pos, w, c, row_number() OVER (PARTITION BY pos
        |    ORDER BY c DESC, w DESC) AS rn FROM cnt),
        |per AS (SELECT pos, sum(c) AS n_docs, count(*) AS n_distinct
        |  FROM cnt GROUP BY 1)
        |SELECT per.pos, CAST(per.n_docs AS BIGINT) AS n_docs,
        |  CAST(per.n_distinct AS BIGINT) AS n_distinct,
        |  m.w AS modal_token, CAST(m.c AS BIGINT) AS modal_count,
        |  CAST(CAST(m.c AS HUGEINT) * 1000 // per.n_docs AS BIGINT)
        |    AS modal_pm
        |FROM per JOIN m ON m.pos = per.pos AND m.rn = 1
        |ORDER BY per.pos""".stripMargin)(
      (s, d) => Text.positionalTemplateCensus(Tables.documents(s, d),
        k = 10)),

    // Pipeline lineage manifest (Pipeline.lineageManifest): per-stage
    // row count + q107 multiset checksum of the surviving doc_id set
    // over the q63 stage chain — the reproducibility artifact a re-run
    // or engine swap is diffed against (counts pass when two bugs
    // cancel; checksums don't).
    q("q365_lineage_manifest",
      """WITH fp AS (SELECT doc_id, text,
        |    md5(regexp_replace(trim(lower(text)), '[ \t\n\r\f]+', ' ',
        |      'g')) AS fp
        |  FROM documents),
        |keep AS (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY fp),
        |ded AS (SELECT f.doc_id, f.text FROM fp f JOIN keep k
        |  ON f.fp = k.fp AND f.doc_id = k.doc_id),
        |q AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      w -> length(w) > 0)) AS nt,
        |    len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |      w -> length(w) > 0 AND w IN ('the','a','an','of','and',
        |      'to','in','is','it','for'))) AS ns
        |  FROM ded),
        |flt AS (SELECT doc_id FROM q WHERE nt >= 20 AND ns * 20 >= nt),
        |tr AS (SELECT doc_id FROM flt
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |    AS INTEGER) % 1000 < 800),
        |u AS (
        |  SELECT '1_raw' AS stage, count(*) AS n, CAST(sum(CAST(('0x' ||
        |    substr(md5(concat(coalesce(md5(CAST(doc_id AS VARCHAR)),
        |    'null'))), 1, 8)) AS BIGINT)) AS VARCHAR) AS checksum
        |  FROM documents
        |  UNION ALL SELECT '2_dedup', count(*), CAST(sum(CAST(('0x' ||
        |    substr(md5(concat(coalesce(md5(CAST(doc_id AS VARCHAR)),
        |    'null'))), 1, 8)) AS BIGINT)) AS VARCHAR) FROM ded
        |  UNION ALL SELECT '3_quality', count(*), CAST(sum(CAST(('0x' ||
        |    substr(md5(concat(coalesce(md5(CAST(doc_id AS VARCHAR)),
        |    'null'))), 1, 8)) AS BIGINT)) AS VARCHAR) FROM flt
        |  UNION ALL SELECT '4_train', count(*), CAST(sum(CAST(('0x' ||
        |    substr(md5(concat(coalesce(md5(CAST(doc_id AS VARCHAR)),
        |    'null'))), 1, 8)) AS BIGINT)) AS VARCHAR) FROM tr)
        |SELECT stage, CAST(n AS BIGINT) AS n_rows, checksum
        |FROM u ORDER BY stage""".stripMargin)(
      (s, d) => Pipeline.lineageManifest(Tables.documents(s, d))),

    // Regime-guarded overlap (Relational.customerOverlapAuto): the
    // q264-vs-q334 routing decision, PINNED (r17 verdict item 2) —
    // Σ df² from the part-df census (the q138 join-audit device)
    // routes to the exact overlap under the 1e8 budget (maxPostings =
    // census max-df, every weight 1000, est_pm ≡ 1000·n_common) and to
    // the DIMSUM-sampled estimator past it. Both engines replicate the
    // routing arithmetic verbatim; sum_df2 ships as the decimal string
    // (the q300 u2x device — Σ df² passes int64 at corpus scale). The
    // fixtures route EXACT (Σ df² = 1.8e6 at sf0.01, 1.9e7 at sf0.1);
    // the DevScale densifying inflation crosses the budget at x4, so
    // the rung must go flat exactly where q264's exact form is
    // quadratic by construction.
    q("q366_overlap_regime_guard",
      """WITH cp AS (SELECT DISTINCT o.o_custkey AS cust,
        |    l.l_partkey AS part
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |dfc AS (SELECT part, count(*) AS df FROM cp GROUP BY 1),
        |g AS (SELECT coalesce(sum(CAST(df AS HUGEINT) * df),
        |      CAST(0 AS HUGEINT)) AS sd2,
        |    greatest(coalesce(max(df), 1), 1) AS mx FROM dfc),
        |m AS (SELECT sd2,
        |    CASE WHEN sd2 <= 100000000 THEN mx ELSE 64 END AS mp
        |  FROM g),
        |s AS (SELECT cp.cust, cp.part,
        |    CASE WHEN dfc.df <= m.mp THEN 1000
        |      ELSE CAST(CAST(dfc.df AS HUGEINT) * dfc.df * 1000 //
        |        (m.mp * m.mp) AS BIGINT) END AS w_pm
        |  FROM cp JOIN dfc USING (part), m
        |  WHERE dfc.df <= m.mp OR
        |    CAST(('0x' || substr(md5(CAST(cp.cust AS VARCHAR) || '_' ||
        |      CAST(cp.part AS VARCHAR)), 1, 4)) AS INTEGER) * dfc.df
        |      < 65536 * m.mp)
        |SELECT CASE WHEN m.sd2 <= 100000000 THEN '1_exact'
        |    ELSE '2_sampled' END AS path,
        |  CAST(m.sd2 AS VARCHAR) AS sum_df2,
        |  cust_a, cust_b, est_pm, n_parts_sampled
        |FROM (SELECT x.cust AS cust_a, y.cust AS cust_b,
        |    CAST(sum(x.w_pm) AS BIGINT) AS est_pm,
        |    CAST(count(*) AS BIGINT) AS n_parts_sampled
        |  FROM s x JOIN s y ON x.part = y.part AND x.cust < y.cust
        |  GROUP BY 1, 2 HAVING sum(x.w_pm) >= 3000) p, m
        |ORDER BY est_pm DESC, n_parts_sampled DESC, cust_a, cust_b
        |LIMIT 50""".stripMargin)(
      (s, d) => Relational.customerOverlapAuto(Tables.orders(s, d),
        Tables.lineitem(s, d), maxPostings = 64L,
        minEstPermille = 3000L, k = 50, df2Budget = 100000000L)),

    // Full IVFADC (Similarity.annIvfAdc, r17 verdict item 4): q296's
    // self-planned TWO-LEVEL residual coarse quantizer composed with
    // q163's PQ codes + exact re-rank — the complete Jégou IVFADC
    // shape, oracle-checked by the same planted-ε-copy device as q163.
    // targetListSize = 16 forces the two-level path at the driver gate
    // scale (2050 vectors → 129 planned lists > maxFlatLists = 100 →
    // k1·k2 = 12×11), so the L1+L2 probe, composed-centroid residual,
    // codebooks, encode, asymmetric scan, and rerank are ALL exercised
    // where a lost or reordered planted neighbor is a hash mismatch.
    // Driver state is k1 + k2 ≤ 2·√L centroids at any corpus size.
    q("q367_ivfadc_two_level",
      """WITH e AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      (x, i) -> x + CASE WHEN i - 1 = vec_id % 8 THEN 3.0
        |                         ELSE 0.0 END) AS emb
        |  FROM embeddings),
        |aug AS (
        |  SELECT vec_id, emb FROM e
        |  UNION ALL
        |  SELECT e.vec_id + 1000000 * j,
        |    list_transform(emb, x -> x + 0.000244140625 * j)
        |  FROM e CROSS JOIN generate_series(1, 5) t(j)
        |  WHERE e.vec_id < 10),
        |q AS (SELECT * FROM e WHERE vec_id < 10)
        |SELECT q_id, rank, n_id FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id)
        |      AS INTEGER) AS rank
        |  FROM q JOIN aug c ON c.vec_id <> q.vec_id) t
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val base = Similarity.clusteredEmbeddings(Tables.embeddings(s, d))
          .select(col("vec_id"), col("embedding"))
        val qs = base.filter(col("vec_id") < 10)
        val copies = (1 to 5).map { j =>
          qs.selectExpr(s"vec_id + ${1000000L * j}L AS vec_id",
            s"transform(embedding, x -> x + ${j}L * 0.000244140625d)" +
              " AS embedding")
        }.reduce(_ unionByName _)
        Similarity.annIvfAdc(base.unionByName(copies), qs, k = 5,
          nprobe = 2, m = 8, ksub = 16, trainIter = 3,
          targetListSize = 16L, maxFlatLists = 100)
      }),

    // AQE skew-join proof (Skew.skewedJoinCensus, r17 verdict item 6):
    // planted 90%-on-one-key skew through a hint-forced sort-merge
    // join — the partition shape spark.sql.adaptive.skewJoin splits at
    // runtime. The census values are AQE-invariant (this oracle pins
    // them either way); SkewSpec pins the "skewed" AQEShuffleRead plan
    // node at fixture-scale thresholds, and the DevScale rung measures
    // the split engaged. Manual salt (q72) and automatic split now
    // cover both 100-TB skew paths.
    q("q368_aqe_skew_join",
      """WITH f AS (SELECT CASE WHEN l_orderkey % 10 < 9 THEN 1
        |      ELSE l_suppkey END AS skew_key,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem)
        |SELECT CAST(s_nationkey AS BIGINT) AS nation,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM f JOIN supplier ON skew_key = s_suppkey
        |GROUP BY 1 ORDER BY nation""".stripMargin)(
      (s, d) => Skew.skewedJoinCensus(Tables.lineitem(s, d),
        Tables.supplier(s, d))),

    // Streaming state-store census (EventStreams.stateStoreCensus, r17
    // verdict item 7; made DRIVER-CHECKABLE r19 per the r18 verdict
    // item 2): the q345 join buffers + q346 per-user session state
    // reported from the StreamingQueryProgress surface — state growth
    // as a measured number next to the parity entries' correctness.
    // No SQL engine has a state store to oracle, but the row metrics
    // ARE deterministic for a fixture (state contents are a pure
    // function of the finite input under AvailableNow; EventStreams'
    // spec pins the laws — session state = live users, join state =
    // both sides' buffered rows, bit-equal across reruns), so the
    // deterministic columns are pinned as a VALUES literal oracle at
    // the gate fixture (the q24/q28 technique). The engine-internal
    // byte sizes (layout + versioning overhead — honest observability,
    // not a contract) stay on the stateStoreCensus debug surface and
    // are dropped from the compared output. The DevScale rung pins
    // state growth under event-volume inflation — the 100 TB/day
    // capacity number.
    qPinned("q369_stream_state_census", "sf0.01",
      """SELECT pipeline, operator,
        |  CAST(n_state_rows AS BIGINT) AS n_state_rows,
        |  CAST(n_rows_updated AS BIGINT) AS n_rows_updated
        |FROM (VALUES ('1_stream_join', 'symmetricHashJoin', 82, 0),
        |      ('2_sessionize', 'flatMapGroupsWithState', 150, 0))
        |  AS t(pipeline, operator, n_state_rows, n_rows_updated)
        |ORDER BY pipeline, operator""".stripMargin)(
      (s, d) => graft.streaming.EventStreams.stateStoreCensus(s, d)
        .select("pipeline", "operator", "n_state_rows", "n_rows_updated")
        .orderBy("pipeline", "operator")),

    // Stream-STATIC dim enrichment parity (EventStreams
    // .dimEnrichmentViaStream): the purchase stream broadcast-joined to
    // the static customer dim inside the real micro-batch engine — the
    // SIXTH streaming-executed entry, covering the stateless
    // enrichment shape (q345 is stream-stream state; this is the
    // per-batch dim join with no state at all). Oracle = the batch
    // join verbatim; orphan user_ids drop on both sides (inner).
    q("q370_stream_dim_join",
      """SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY nation""".stripMargin)(
      (s, d) => graft.streaming.EventStreams.dimEnrichmentViaStream(s, d)),

    // Incremental near-dup detection (Dedup.jaccardAgainstHistoryPrefix):
    // the NEW drop (doc_id % 3 ≠ 0 — the q82 history device) checked
    // against the EXISTING corpus's prefix index, cross-side candidates
    // only, exact count-verify — the pair stage a daily ingest actually
    // runs (new × history, never history²). LOSSLESS (the q298 prefix
    // guarantee holds for cross pairs under the shared canonical
    // order), so the exact all-pairs new×hist oracle applies verbatim.
    q("q371_incremental_neardup",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.doc_id AS new_id, b.doc_id AS hist_id,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0)
        |SELECT new_id, hist_id,
        |  round(inter / (sza + szb - inter), 4) AS jaccard
        |FROM px WHERE sza > 0 AND szb > 0
        |  AND inter / (sza + szb - inter) >= 0.2
        |ORDER BY new_id, hist_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.jaccardAgainstHistoryPrefix(docs,
          docs.filter(col("doc_id") % 3 === 0).select("doc_id"),
          n = 3, threshold = 0.2)
      }),

    // Approx-percentile audit (Profiling.approxPercentileAudit):
    // percentile_approx pinned against its own n/accuracy rank-error
    // contract — the q242 in-artifact-bound device for THE workhorse
    // sketch of 100 TB profiling. The estimate never ships (engine-
    // private); exact lower-percentile values from the value census +
    // the within-bound flag do, and the flag flipping FALSE is a
    // driver hash mismatch.
    q("q372_percentile_sketch_audit",
      """WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS v
        |  FROM documents WHERE n_chars IS NOT NULL),
        |c AS (SELECT source, v, count(*) AS c FROM v GROUP BY 1, 2),
        |w AS (SELECT source, v,
        |    sum(c) OVER (PARTITION BY source ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS n FROM c),
        |p AS (SELECT CAST(unnest([500, 900, 990]) AS INTEGER) AS p_pm),
        |e AS (SELECT source, p_pm, min(v) AS exact_val, max(n) AS n
        |  FROM w JOIN p ON cum * 1000 >= p_pm * n GROUP BY 1, 2)
        |SELECT source, CAST(p_pm AS BIGINT) AS p_pm,
        |  CAST(n AS BIGINT) AS n, CAST(exact_val AS BIGINT) AS exact_val,
        |  TRUE AS approx_ok
        |FROM e ORDER BY source, p_pm""".stripMargin)(
      (s, d) => Profiling.approxPercentileAudit(Tables.documents(s, d),
        "source", "n_chars", psPm = Seq(500, 900, 990),
        accuracy = 10000)),

    // Neyman minimum-variance allocation (Sampling.neymanAllocation):
    // an audit-sample budget split across sources ∝ N_h·σ_h, next to
    // the proportional split — the classical stratified-sampling
    // optimum as a query, integer-exact via the q299 sqrt-quantize
    // device (σ·10³ weights, order-free integer sums, one div each).
    q("q373_neyman_allocation",
      """WITH s AS (SELECT source, count(*) AS n_rows,
        |    sum(CAST(n_chars AS HUGEINT)) AS sx,
        |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |w AS (SELECT source, n_rows,
        |    CASE WHEN n_rows >= 2 THEN CAST(round(1000 * sqrt(
        |      CAST(n_rows * sxx - sx * sx AS DOUBLE) /
        |      CAST(CAST(n_rows AS HUGEINT) * (n_rows - 1)
        |        AS DOUBLE))) AS BIGINT) ELSE 0 END AS sigma_q3
        |  FROM s),
        |t AS (SELECT sum(CAST(n_rows AS HUGEINT) * sigma_q3) AS tw,
        |    sum(n_rows) AS ntot FROM w)
        |SELECT source, CAST(n_rows AS BIGINT) AS n_rows, sigma_q3,
        |  CAST(CASE WHEN tw > 0 THEN
        |    (1000 * CAST(n_rows AS HUGEINT) * sigma_q3) // tw
        |    ELSE 0 END AS BIGINT) AS neyman_alloc,
        |  CAST((1000 * n_rows) // ntot AS BIGINT) AS prop_alloc
        |FROM w, t ORDER BY source""".stripMargin)(
      (s, d) => Sampling.neymanAllocation(Tables.documents(s, d),
        "source", "n_chars", budget = 1000L)),

    // Incremental near-dup against the PERSISTED bucketed index
    // (Dedup.jaccardAgainstHistoryIndexed): q371's detection run the
    // way production deploys it — history prefix postings written ONCE
    // as a shingle-bucketed table (the q315 economics), each drop
    // joining with no exchange on the index side, canonical order
    // FROZEN at build time (history-only df; unseen shingles at df 0).
    // Lossless under any shared total order, so the output — and this
    // oracle — are q371's verbatim.
    q("q374_neardup_index_reuse",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.doc_id AS new_id, b.doc_id AS hist_id,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0)
        |SELECT new_id, hist_id,
        |  round(inter / (sza + szb - inter), 4) AS jaccard
        |FROM px WHERE sza > 0 AND szb > 0
        |  AND inter / (sza + szb - inter) >= 0.2
        |ORDER BY new_id, hist_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.jaccardAgainstHistoryIndexed(docs,
          docs.filter(col("doc_id") % 3 === 0).select("doc_id"),
          indexTable = "q374_neardup_index", n = 3, threshold = 0.2)
      }),

    // Index LIFECYCLE, append path (Dedup.neardupIndexAppend — r18
    // verdict item 5): build the index at history (doc_id % 3 = 0),
    // APPEND a committed drop (% 3 = 1) — drop-proportional cost, no
    // history re-shuffle, prefixes under the census FROZEN at build —
    // then detect the next drop (% 3 = 2) against the refreshed index.
    // The prefix lemma holds for any SHARED total order, appended
    // postings included, so the detection table equals the exact
    // all-pairs new × (hist ∪ drop1) oracle verbatim — the losslessness
    // of the maintenance path is what this entry pins.
    q("q375_neardup_index_refresh",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.doc_id AS new_id, b.doc_id AS hist_id,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id % 3 = 2 AND b.doc_id % 3 <> 2)
        |SELECT new_id, hist_id,
        |  round(inter / (sza + szb - inter), 4) AS jaccard
        |FROM px WHERE sza > 0 AND szb > 0
        |  AND inter / (sza + szb - inter) >= 0.2
        |ORDER BY new_id, hist_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        def res(r: Int) =
          docs.filter(col("doc_id") % 3 === r).select("doc_id")
        // one shingle pass shared by every lifecycle phase (the
        // corpusSets device — see Dedup.setsItemsSizes)
        val sets = Dedup.shingleSets(docs, 3).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Dedup.neardupIndexBuild(docs, res(0), "q375_neardup_index",
          corpusSets = Some(sets))
        Dedup.neardupIndexAppend(docs, res(1), "q375_neardup_index",
          corpusSets = Some(sets))
        Dedup.jaccardAgainstIndex(docs, res(2), "q375_neardup_index",
          corpusSets = Some(sets))
      }),

    // Index STALENESS rule (Dedup.neardupIndexStaleness): after the
    // q375 append, the frozen census (history-only df) is compared to
    // the df the index's CURRENT contents actually have — Σ|Δdf| as a
    // permille of the frozen posting mass, integer-exact (the q305
    // planner arithmetic), with the requalify flag at 200‰. This is the
    // maintenance DECISION the lifecycle needs: losslessness survives
    // any drift (shared total order), but the rarest-first pruning
    // decays with it, and this number says when the rebuild is due.
    q("q376_neardup_index_staleness",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |it AS (SELECT doc_id, unnest(s) AS item FROM sh),
        |f AS (SELECT item, count(*) AS df FROM it
        |      WHERE doc_id % 3 = 0 GROUP BY 1),
        |c AS (SELECT item, count(*) AS dfn FROM it
        |      WHERE doc_id % 3 <> 2 GROUP BY 1),
        |j AS (SELECT coalesce(f.df, 0) AS fd, coalesce(c.dfn, 0) AS cd
        |      FROM f FULL OUTER JOIN c ON f.item = c.item),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN fd > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_items_frozen,
        |  CAST(sum(CASE WHEN fd = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_items_new,
        |  CAST(sum(fd) AS BIGINT) AS postings_frozen,
        |  CAST(sum(cd) AS BIGINT) AS postings_now,
        |  CAST(sum(abs(cd - fd)) AS BIGINT) AS df_drift FROM j)
        |SELECT n_items_frozen, n_items_new, postings_frozen,
        |  postings_now, df_drift,
        |  CAST(CASE WHEN postings_frozen > 0
        |    THEN df_drift * 1000 // postings_frozen END AS BIGINT)
        |    AS drift_pm,
        |  CASE WHEN postings_frozen > 0
        |    THEN (df_drift * 1000 // postings_frozen) > 200 END
        |    AS requalify
        |FROM a""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        def res(r: Int) =
          docs.filter(col("doc_id") % 3 === r).select("doc_id")
        // one shingle pass shared by every lifecycle phase (the
        // corpusSets device — see Dedup.setsItemsSizes)
        val sets = Dedup.shingleSets(docs, 3).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Dedup.neardupIndexBuild(docs, res(0), "q376_neardup_index",
          corpusSets = Some(sets))
        Dedup.neardupIndexAppend(docs, res(1), "q376_neardup_index",
          corpusSets = Some(sets))
        Dedup.neardupIndexStaleness(docs, "q376_neardup_index",
          corpusSets = Some(sets))
      }),

    // Index COMPACTION (Dedup.neardupIndexCompact): k appends leave
    // k+1 file generations per bucket; compaction rewrites the postings
    // single-generation via write-new + RENAME swap (never
    // read-and-overwrite in one plan) — layout-only, census untouched.
    // Detection after compaction must equal q375 bit for bit (the
    // invariance IS the law this entry pins); DedupSpec pins the
    // file-count collapse itself.
    q("q377_neardup_index_compact",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |px AS (
        |  SELECT a.doc_id AS new_id, b.doc_id AS hist_id,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id % 3 = 2 AND b.doc_id % 3 <> 2)
        |SELECT new_id, hist_id,
        |  round(inter / (sza + szb - inter), 4) AS jaccard
        |FROM px WHERE sza > 0 AND szb > 0
        |  AND inter / (sza + szb - inter) >= 0.2
        |ORDER BY new_id, hist_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        def res(r: Int) =
          docs.filter(col("doc_id") % 3 === r).select("doc_id")
        // one shingle pass shared by every lifecycle phase (the
        // corpusSets device — see Dedup.setsItemsSizes)
        val sets = Dedup.shingleSets(docs, 3).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Dedup.neardupIndexBuild(docs, res(0), "q377_neardup_index",
          corpusSets = Some(sets))
        Dedup.neardupIndexAppend(docs, res(1), "q377_neardup_index",
          corpusSets = Some(sets))
        Dedup.neardupIndexCompact(s, "q377_neardup_index")
        Dedup.jaccardAgainstIndex(docs, res(2), "q377_neardup_index",
          corpusSets = Some(sets))
      }),

    // Staleness-DRIVEN auto-requalify (Dedup.jaccardAgainstIndexAuto):
    // the q376 rule wired to its action — two appended drops push the
    // census drift past 200‰, the detect call consults staleness,
    // REBUILDS under a fresh census, then detects. Output is invariant
    // either way (losslessness under any shared order), so the exact
    // all-pairs oracle pins the result while the `requalified` column —
    // the SAME census arithmetic replicated in SQL — pins the routing
    // decision itself (the q366 device).
    q("q378_neardup_index_auto",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
        |    w -> length(w) > 0) AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |it AS (SELECT doc_id, unnest(s) AS item FROM sh),
        |f AS (SELECT item, count(*) AS df FROM it
        |      WHERE doc_id % 4 = 0 GROUP BY 1),
        |c AS (SELECT item, count(*) AS dfn FROM it
        |      WHERE doc_id % 4 <> 3 GROUP BY 1),
        |j AS (SELECT coalesce(f.df, 0) AS fd, coalesce(c.dfn, 0) AS cd
        |      FROM f FULL OUTER JOIN c ON f.item = c.item),
        |r AS (SELECT CASE WHEN sum(fd) > 0
        |    THEN (sum(abs(cd - fd)) * 1000 // sum(fd)) > 200 END
        |    AS requalified FROM j),
        |px AS (
        |  SELECT a.doc_id AS new_id, b.doc_id AS hist_id,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) AS sza, len(b.s) AS szb
        |  FROM sh a JOIN sh b ON a.doc_id % 4 = 3 AND b.doc_id % 4 <> 3)
        |SELECT new_id, hist_id,
        |  round(inter / (sza + szb - inter), 4) AS jaccard, r.requalified
        |FROM px, r WHERE sza > 0 AND szb > 0
        |  AND inter / (sza + szb - inter) >= 0.2
        |ORDER BY new_id, hist_id""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        def res(r: Int) =
          docs.filter(col("doc_id") % 4 === r).select("doc_id")
        // one shingle pass shared by every lifecycle phase (the
        // corpusSets device — see Dedup.setsItemsSizes)
        val sets = Dedup.shingleSets(docs, 3).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Dedup.neardupIndexBuild(docs, res(0), "q378_neardup_index",
          corpusSets = Some(sets))
        Dedup.neardupIndexAppend(docs, res(1), "q378_neardup_index",
          corpusSets = Some(sets))
        Dedup.neardupIndexAppend(docs, res(2), "q378_neardup_index",
          corpusSets = Some(sets))
        Dedup.jaccardAgainstIndexAuto(docs, res(3), "q378_neardup_index",
          corpusSets = Some(sets))
      }),

    // TRUE-Bloom pruned semi join (Joins.bloomPrunedSemiJoin): the dim
    // keys fold into ONE BloomFilter sketch inlined as a foldable
    // literal probed at the fact scan (no broadcast exchange, no second
    // join — q90's digest pays a broadcast-hash probe; the bloom is a
    // pure codegen predicate), exact semi join after. Output ≡ the
    // plain semi join — that invariance IS the oracle; JoinsSpec
    // re-checks it under an undersized sketch that forces false
    // positives. Revenue as integer cents (the exact-sum device).
    q("q379_bloom_semi_join",
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM orders
        |WHERE o_custkey IN
        |  (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit, round, sum}
        Joins.bloomPrunedSemiJoin(
            Tables.orders(s, d),
            Tables.customer(s, d).filter(col("c_acctbal") < 0),
            "o_custkey", "c_custkey")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("revenue_cents"))
          .orderBy("o_orderpriority")
      }),

    // LEFT-OUTER stream-stream join parity (EventStreams
    // .leftOuterPairsCensusViaStream): the watermark-evicted outer path
    // run through the REAL engine — a view with no purchase in-window is
    // null-emitted by state eviction in the trailing no-data batch —
    // vs the batch LEFT JOIN oracle. Census restricted to views ≥ one
    // guard hour older than the end-of-input eviction line, so
    // membership is exact integer µs arithmetic and the engine's
    // ms-quantized watermark edge can never decide a row (the q346
    // keep-the-edge-out-of-the-oracle device; see the wrapper scaladoc).
    q("q380_stream_left_outer_parity",
      """WITH m AS (SELECT
        |    max(CASE WHEN event_type = 'view'
        |      THEN epoch_us(ts) END) AS mv,
        |    max(CASE WHEN event_type = 'purchase'
        |      THEN epoch_us(ts) END) AS mp FROM events),
        |b AS (SELECT CASE WHEN mv IS NULL OR mp IS NULL THEN NULL
        |    ELSE (CASE WHEN mv < mp THEN mv ELSE mp END)
        |      - 93600000000 END AS bound FROM m),
        |v AS (SELECT user_id, epoch_us(ts) AS vt, value AS v1
        |  FROM events, b WHERE event_type = 'view'
        |    AND epoch_us(ts) <= b.bound),
        |p AS (SELECT user_id AS uid2, epoch_us(ts) AS pt, value AS v2
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT user_id, pt,
        |    CAST(round((v1 + v2) * 100) AS BIGINT) AS cents
        |  FROM v LEFT JOIN p ON user_id = uid2 AND pt > vt
        |    AND pt <= vt + 86400000000)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(pt) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN pt IS NOT NULL THEN cents END) AS BIGINT)
        |    AS matched_cents
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => graft.streaming.EventStreams
        .leftOuterPairsCensusViaStream(s, d)),

    // Persisted IVF index LIFECYCLE (Similarity.ivfIndexBuild/Append +
    // annAgainstIvfIndex) — the vector twin of q375: quantizer fit on
    // history and FROZEN (centroids + census persisted as tables),
    // assignments LIST-PARTITIONED (directory per list — the probe reads
    // nprobe/nlist of the index, the q347 pruning economics), a drop
    // appended under the frozen centroids (no refit, no history
    // re-shuffle), then ANN of held-out queries. Exactness = the q62
    // clustered-regime contract: every true neighbor sits in a probed
    // list by construction, so the EXACT top-k oracle over the indexed
    // set pins build, append, probe, and rerank end to end — one lost
    // neighbor is a driver hash mismatch.
    q("q381_ann_index_lifecycle",
      """WITH e AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      (x, i) -> x + CASE WHEN i - 1 = vec_id % 8 THEN 3.0
        |                         ELSE 0.0 END) AS emb
        |  FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id % 3 = 2 AND vec_id < 30),
        |c AS (SELECT * FROM e WHERE vec_id % 3 <> 2)
        |SELECT q_id, rank, n_id FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id)
        |      AS INTEGER) AS rank
        |  FROM q JOIN c ON true) t
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)(
      (s, d) => {
        val e = Similarity.clusteredEmbeddings(Tables.embeddings(s, d))
        def res(r: Int) =
          e.filter(col("vec_id") % 3 === r).select("vec_id")
        Similarity.ivfIndexBuild(e, res(0), "q381_ivf_index")
        Similarity.ivfIndexAppend(e, res(1), "q381_ivf_index")
        Similarity.annAgainstIvfIndex(e,
          e.filter(col("vec_id") % 3 === 2 && col("vec_id") < 30)
            .select("vec_id"),
          "q381_ivf_index", k = 5, nprobe = 2)
      }),

    // IVF quantizer staleness (Similarity.ivfIndexStaleness): indexed
    // count NOW vs the count FROZEN at build as integer permille growth
    // — the refit-when-grown rule a production vector store runs, in
    // pure count arithmetic so the oracle replicates the decision
    // exactly (the q376 shape with growth in place of census drift).
    // The fixture appends ~half the history again → ~500‰ > 200‰.
    q("q382_ann_index_staleness",
      """WITH n AS (SELECT
        |    count(CASE WHEN vec_id % 3 = 0 THEN 1 END) AS n_frozen,
        |    count(CASE WHEN vec_id % 3 <> 2 THEN 1 END) AS n_now
        |  FROM embeddings)
        |SELECT CAST(n_frozen AS BIGINT) AS n_frozen,
        |  CAST(n_now AS BIGINT) AS n_now,
        |  CAST((n_now - n_frozen) * 1000 // n_frozen AS BIGINT)
        |    AS growth_pm,
        |  (n_now - n_frozen) * 1000 // n_frozen > 200 AS requalify
        |FROM n ORDER BY n_frozen""".stripMargin)(
      (s, d) => {
        val e = Similarity.clusteredEmbeddings(Tables.embeddings(s, d))
        def res(r: Int) =
          e.filter(col("vec_id") % 3 === r).select("vec_id")
        Similarity.ivfIndexBuild(e, res(0), "q382_ivf_index")
        Similarity.ivfIndexAppend(e, res(1), "q382_ivf_index")
        Similarity.ivfIndexStaleness(s, "q382_ivf_index")
      }),

    // Growth-DRIVEN auto-requalify (Similarity.annAgainstIvfIndexAuto,
    // the q378 device on the vector index): two appended drops push
    // growth past 200‰, the ANN call consults staleness, REFITS the
    // quantizer over the ids the index contains, then queries. Output is
    // invariant either way (the q62 exact contract holds under frozen or
    // refit quantizer), so the exact oracle pins the result while
    // `requalified` — the same count arithmetic in SQL — pins the
    // routing decision itself.
    q("q383_ann_index_auto",
      """WITH e AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      (x, i) -> x + CASE WHEN i - 1 = vec_id % 8 THEN 3.0
        |                         ELSE 0.0 END) AS emb
        |  FROM embeddings),
        |r AS (SELECT
        |    (count(CASE WHEN vec_id % 5 IN (0, 1, 2) THEN 1 END)
        |     - count(CASE WHEN vec_id % 5 = 0 THEN 1 END)) * 1000
        |    // count(CASE WHEN vec_id % 5 = 0 THEN 1 END) > 200
        |    AS requalified FROM e),
        |q AS (SELECT * FROM e WHERE vec_id % 5 = 4 AND vec_id < 40),
        |c AS (SELECT * FROM e WHERE vec_id % 5 IN (0, 1, 2))
        |SELECT q_id, rank, n_id, r.requalified FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id)
        |      AS INTEGER) AS rank
        |  FROM q JOIN c ON true) t, r
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)(
      (s, d) => {
        // residues mod 5, NOT mod 4: the split modulus must be COPRIME
        // with the 8 clusters — under %4 the clusters ≡3 (mod 8) land
        // ENTIRELY in the query residue, so their queries' true
        // neighbors are cross-cluster and no probe budget finds them
        // (caught by this entry's own multi-scale gate)
        val e = Similarity.clusteredEmbeddings(Tables.embeddings(s, d))
        def res(r: Int) =
          e.filter(col("vec_id") % 5 === r).select("vec_id")
        Similarity.ivfIndexBuild(e, res(0), "q383_ivf_index")
        Similarity.ivfIndexAppend(e, res(1), "q383_ivf_index")
        Similarity.ivfIndexAppend(e, res(2), "q383_ivf_index")
        Similarity.annAgainstIvfIndexAuto(e,
          e.filter(col("vec_id") % 5 === 4 && col("vec_id") < 40)
            .select("vec_id"),
          "q383_ivf_index", k = 5, nprobe = 2)
      }),

    // IVF index COMPACTION (Similarity.ivfIndexCompact): k appends leave
    // k+1 file generations per list directory; compaction rewrites the
    // assignments single-generation via write-new + RENAME (the q377
    // device) — layout-only, centroids/census untouched, retrieval
    // invariant bit for bit (the oracle IS q381's); SimilaritySpec pins
    // the file-count collapse itself.
    q("q384_ann_index_compact",
      """WITH e AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      (x, i) -> x + CASE WHEN i - 1 = vec_id % 8 THEN 3.0
        |                         ELSE 0.0 END) AS emb
        |  FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id % 3 = 2 AND vec_id < 30),
        |c AS (SELECT * FROM e WHERE vec_id % 3 <> 2)
        |SELECT q_id, rank, n_id FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id)
        |      AS INTEGER) AS rank
        |  FROM q JOIN c ON true) t
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)(
      (s, d) => {
        val e = Similarity.clusteredEmbeddings(Tables.embeddings(s, d))
        def res(r: Int) =
          e.filter(col("vec_id") % 3 === r).select("vec_id")
        Similarity.ivfIndexBuild(e, res(0), "q384_ivf_index")
        Similarity.ivfIndexAppend(e, res(1), "q384_ivf_index")
        Similarity.ivfIndexCompact(s, "q384_ivf_index")
        Similarity.annAgainstIvfIndex(e,
          e.filter(col("vec_id") % 3 === 2 && col("vec_id") < 30)
            .select("vec_id"),
          "q384_ivf_index", k = 5, nprobe = 2)
      }),

    // transformWithState sessionizer parity (EventStreams
    // .closedSessionCensusViaStreamV2): the q346 state machine ported to
    // Spark 4's arbitrary-state API v2 (StatefulProcessor: named
    // ValueState + registered event-time timers, RocksDB provider as the
    // v2 layout requires) and pinned bit for bit against q346's ORACLE
    // VERBATIM — the api-migration invariance a production pipeline
    // needs before moving custom-state code to the new API.
    q("q385_stream_tws_session_parity",
      """WITH q AS (SELECT user_id, event_id, epoch_us(ts) AS qts
        |  FROM events),
        |s AS (SELECT user_id, event_id, qts,
        |    CASE WHEN qts - lag(qts) OVER (PARTITION BY user_id
        |        ORDER BY qts, event_id) < 1800000000
        |      THEN 0 ELSE 1 END AS brk
        |  FROM q),
        |w AS (SELECT user_id, qts, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY qts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM s),
        |g AS (SELECT user_id, sess, count(*) AS n, min(qts) AS st,
        |    max(qts) AS en FROM w GROUP BY 1, 2),
        |m AS (SELECT user_id, max(sess) AS last_sess FROM g GROUP BY 1)
        |SELECT g.user_id,
        |  CAST(count(*) AS BIGINT) AS n_sessions_closed,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(en - st) AS BIGINT) AS dur_us
        |FROM g JOIN m ON g.user_id = m.user_id AND g.sess < m.last_sess
        |GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => graft.streaming.EventStreams
        .closedSessionCensusViaStreamV2(s, d)),

    // VARIANT-typed extraction (Relational.variantExtractCensus): a
    // nested JSON payload built from the event columns, parsed ONCE
    // into Spark 4's VariantType, typed paths extracted (scalar /
    // string / nested field / array elements) and aggregated. The
    // oracle computes the same census from the RAW columns — never
    // through JSON — so the driver pins encode → parse → typed-path
    // extraction as lossless (the q45 string-path form re-parses per
    // extraction; variant parses once into a shreddable binary).
    q("q386_variant_extract",
      """SELECT event_type AS etype,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS sum_u,
        |  CAST(sum(CAST(round(coalesce(value, 0.0) * 100) AS BIGINT))
        |    AS BIGINT) AS v_cents,
        |  CAST(sum(epoch_ns(ts) % 7) AS BIGINT) AS sum_s0,
        |  CAST(sum(epoch_ns(ts) % 11) AS BIGINT) AS sum_s1
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => Relational.variantExtractCensus(Tables.events(s, d))),

    // State-store READBACK (EventStreams.aggStateReadback): the q309
    // pipeline run with a durable checkpoint, then the checkpoint's
    // aggregation state opened as a DataFrame via Spark's state data
    // source and the census reconstructed from the raw (key, buffer)
    // rows — in complete mode the state IS the census, so q30's batch
    // oracle pins the STATE CONTENTS bit for bit. The driver-checkable
    // complement of q369 (which counts state rows from progress
    // metrics; this reads the rows themselves — the live-state
    // inspection/backfill tool of a 100 TB streaming deployment).
    q("q387_state_readback",
      """SELECT CAST(epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS win_us,
        |  event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY win_us, event_type""".stripMargin)(
      (s, d) => graft.streaming.EventStreams.aggStateReadback(s, d)),

    // RECURSIVE CTE executed by Spark's OWN UnionLoop (Spark 4's
    // WITH RECURSIVE): the q274 co-purchase BFS — same graph, same
    // hop-bounded frontier — but the Spark side runs the SQL through
    // spark.sql instead of the DataFrame iteration, so the engine's
    // recursion machinery itself sits under the oracle (the q313
    // sql-frontdoor device applied to recursion; UNION ALL in the
    // recursive branch — Spark rejects deduplicating UNION in
    // recursion (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE) — with
    // multiplicity collapsed by the min-hop aggregate, so the bounded
    // recursion terminates identically on both engines). GraphSpec
    // pins the implementation-invariance law: this result ≡
    // Graph.kHopReach's iterative-join form. SCALE NOTE: UNION ALL
    // recursion carries PATH multiplicity, guarded by the engine's
    // recursion row limit (default 1M) — on a densifying graph the
    // frontier must be bounded (lower hop cap, pre-pruned edges, or
    // the q274 iterative form, whose per-hop DISTINCT is the frontier
    // dedup recursion cannot express yet); green at all three fixture
    // scales, excluded from DevScale inflation for the q273 reason
    // (the inflated catalog densifies the co-purchase graph
    // quadratically by construction — see the family-map note).
    q("q388_recursive_reach",
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |px AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS src, pb AS dst FROM px
        |  UNION SELECT pb, pa FROM px),
        |seeds AS (SELECT DISTINCT src AS seed FROM e WHERE src < 10),
        |bfs AS (
        |  SELECT seed, seed AS node, 0 AS hop FROM seeds
        |  UNION ALL
        |  SELECT b.seed, e.dst, b.hop + 1 FROM bfs b
        |    JOIN e ON e.src = b.node
        |  WHERE b.hop < 3),
        |mh AS (SELECT seed, node, min(hop) AS hop FROM bfs GROUP BY 1, 2)
        |SELECT seed, CAST(hop AS BIGINT) AS hop, count(*) AS n_nodes
        |FROM mh GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => {
        // r19: materialize the edge set BEFORE the recursion. UnionLoop
        // re-executes the recursive step's whole logical subtree every
        // iteration WITHOUT consulting the cache manager, so with `e`
        // inlined (or merely persisted) the distinct + pair census +
        // HAVING re-ran per hop — measured 11.3 s for the recursion alone
        // over a 7k-row cached edge set. localCheckpoint cuts the lineage
        // to materialized blocks, so each iteration's re-execution is a
        // block read. The edge census itself is built with an IN-ROW pair
        // expansion (collect_set per order, i<j pairs from the sorted
        // array) — two exchanges instead of four, no self-join — and the
        // two directed copies concatenate with UNION ALL, which is
        // duplicate-free by construction (pa < pb strictly, so no mirror
        // collision). Same edge SET as the r18 SQL form, bit-identical
        // recursion result.
        val pairs = Graph.coPurchasePairs(Tables.lineitem(s, d),
          minOrders = 2L)
        val e = pairs
          .unionAll(pairs.select(col("dst").as("src"),
            col("src").as("dst")))
          .localCheckpoint()
        e.createOrReplaceTempView("e_v388")
        s.sql("""WITH RECURSIVE
          seeds AS (SELECT DISTINCT src AS seed FROM e_v388 WHERE src < 10),
          bfs AS (
            SELECT seed, seed AS node, 0 AS hop FROM seeds
            UNION ALL
            SELECT b.seed, e.dst, b.hop + 1 FROM bfs b
              JOIN e_v388 e ON e.src = b.node
            WHERE b.hop < 3),
          mh AS (SELECT seed, node, min(hop) AS hop
            FROM bfs GROUP BY 1, 2)
          SELECT seed, CAST(hop AS BIGINT) AS hop, count(*) AS n_nodes
          FROM mh GROUP BY 1, 2 ORDER BY 1, 2""")
      }),

    // UNPIVOT roundtrip (Dataset.unpivot — Spark's melt): q36's month
    // pivot melted back to long form must equal the direct grouped
    // aggregate — the pivot⟲unpivot inverse law, with the oracle AS the
    // direct form. Null cells (a flag×month with no rows) are dropped
    // explicitly on both sides, making the law hold on sparse fixtures
    // too.
    q("q389_unpivot_roundtrip",
      """SELECT l_returnflag AS flag,
        |  CAST(month(l_shipdate) AS INTEGER) AS mon,
        |  CAST(ceil(avg(l_quantity)) AS INTEGER) AS ceil_avg
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.functions.{avg, ceil, month}
        val piv = Tables.lineitem(s, d)
          .withColumn("mon", month(col("l_shipdate")))
          .withColumn("flag", col("l_returnflag"))
          .groupBy("flag")
          .pivot("mon", 1 to 12)
          .agg(ceil(avg("l_quantity")).cast("int"))
        piv.unpivot(Array(col("flag")),
            (1 to 12).map(m => col(s"`$m`")).toArray,
            "mon", "ceil_avg")
          .filter(col("ceil_avg").isNotNull)
          .select(col("flag"), col("mon").cast("int").as("mon"),
            col("ceil_avg"))
          .orderBy("flag", "mon")
      }),

    // LATERAL join (correlated subquery with ORDER BY + LIMIT per
    // outer row — Spark's DecorrelateInnerQuery machinery under the
    // oracle, the q313 frontdoor device): top-2 orders per nation.
    // The declarative twin of the q32/q324 window-rank reformulation —
    // the form an analyst actually writes.
    q("q390_lateral_topk",
      """SELECT n_name, o_orderkey, price_cents
        |FROM nation, LATERAL (
        |  SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY n_name, price_cents DESC, o_orderkey""".stripMargin)(
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("nation_v390")
        Tables.orders(s, d).createOrReplaceTempView("orders_v390")
        Tables.customer(s, d).createOrReplaceTempView("customer_v390")
        s.sql("""SELECT n_name, o_orderkey, price_cents
          FROM nation_v390, LATERAL (
            SELECT o_orderkey,
              CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM orders_v390 JOIN customer_v390 ON o_custkey = c_custkey
            WHERE c_nationkey = n_nationkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          ORDER BY n_name, price_cents DESC, o_orderkey""")
      }),

    // Null-aware anti join (NOT IN three-valued logic — Spark plans
    // the single-column broadcast case as NullAwareAntiJoin): the
    // no-nulls leg counts customers without orders; the planted-NULL
    // leg must count ZERO — one NULL in a NOT IN subquery makes every
    // membership test UNKNOWN, the SQL semantics an anti-join rewrite
    // gets wrong if it ignores nullability. Both legs in one output so
    // the contrast itself is what the driver hashes.
    q("q391_null_aware_anti",
      """SELECT 'no_nulls' AS leg, CAST(count(*) AS BIGINT) AS n
        |FROM customer WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'with_null' AS leg, CAST(count(*) AS BIGINT) AS n
        |FROM customer WHERE c_custkey NOT IN
        |  (SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL
        |     ELSE o_custkey END FROM orders)
        |ORDER BY leg""".stripMargin)(
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_v391")
        Tables.customer(s, d).createOrReplaceTempView("customer_v391")
        s.sql("""SELECT 'no_nulls' AS leg, count(*) AS n
          FROM customer_v391 WHERE c_custkey NOT IN
            (SELECT o_custkey FROM orders_v391)
          UNION ALL
          SELECT 'with_null' AS leg, count(*) AS n
          FROM customer_v391 WHERE c_custkey NOT IN
            (SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL
               ELSE o_custkey END FROM orders_v391)
          ORDER BY leg""")
      }),

    // Observation API (Profiling.observedScanCensus): metrics collected
    // DURING a query — accumulator-backed expressions riding the
    // existing scan, zero extra passes — surfaced as the result and
    // pinned exact by a plain-aggregate oracle. Integer metrics only,
    // so accumulator merge order cannot wobble a bit; the production
    // use is row-count/invariant checks piggybacked on every run of a
    // 100 TB pipeline.
    q("q392_observe_metrics",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS price_cents,
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_null_ship
        |FROM lineitem ORDER BY n_rows""".stripMargin)(
      (s, d) => Profiling.observedScanCensus(Tables.lineitem(s, d))),

    // Stream-stream JOIN STATE readback (EventStreams
    // .joinStateReadback): the q345 checkpoint's LEFT-side buffered
    // rows via the state source (joinSide=left), censused over the
    // SAFE-RETAINED region — views younger than min(max view, max
    // purchase) − window sit a full watermark-delay above the eviction
    // line, so each is provably IN state and an over-eager eviction
    // (the bug that silently loses future matches) hash-mismatches.
    // The retention dual of q380's eviction census; same per-side
    // min-watermark bound arithmetic, exact integer µs both engines.
    q("q393_join_state_readback",
      """WITH m AS (SELECT
        |    max(CASE WHEN event_type = 'view'
        |      THEN epoch_us(ts) END) AS mv,
        |    max(CASE WHEN event_type = 'purchase'
        |      THEN epoch_us(ts) END) AS mp FROM events),
        |b AS (SELECT CASE WHEN mv IS NULL OR mp IS NULL THEN NULL
        |    ELSE (CASE WHEN mv < mp THEN mv ELSE mp END)
        |      - 86400000000 END AS bound FROM m),
        |v AS (SELECT user_id, value FROM events, b
        |  WHERE event_type = 'view'
        |    AND (b.bound IS NULL OR epoch_us(ts) >= b.bound))
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_recent_views,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS v_cents
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin)(
      (s, d) => graft.streaming.EventStreams.joinStateReadback(s, d)))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The Flight1 two-leg theta-join re-keyed to events (SURVEY §3.2).
    */
  def entry(spark: SparkSession): DataFrame =
    Joins.twoLegStats(Tables.events(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    specs.flatMap(s => s.oracle.map(o => s.name -> o)).toMap

  /** Oracles valid at `sfDir`: literal-pinned oracles are dropped (→
    * rows-only) when the verify scale is not the one their literals were
    * measured at — a regenerated fixture or a different SF must not turn a
    * harness artifact into a phantom kmeans/simhash bug. */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    specs.flatMap { s =>
      val valid = s.pinnedFixture.forall(f =>
        sfDir.stripSuffix("/").endsWith(f))
      if (valid) s.oracle.map(o => s.name -> o) else None
    }.toMap
}
