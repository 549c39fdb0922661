package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality profiling — the observability layer a 100 TB pipeline
  * runs before trusting a new drop: per-column completeness/uniqueness/
  * range facts and value histograms (the Deequ-style constraint-metric
  * family; the reference has no profiling surface — engine extension).
  *
  * Every metric here is EXACT and accumulation-free (counts, distincts,
  * min/max): no floating-point sums whose partition order could drift
  * between engines, so the whole profile is hash-comparable against any
  * SQL oracle. Means/stddevs are deliberately absent — they are one
  * `agg` away for a caller who wants them, but they cannot be made
  * bit-stable across engines without integer quantization.
  */
object Profiling {

  /** One profile row per column: total rows, nulls, exact distinct count,
    * min and max (cast to double — callers profile numeric columns).
    *
    * Single-pass: all metrics ride ONE aggregate. The per-column exact
    * distincts make Catalyst plan an Expand (rows × columns before the
    * partial agg) — the price of exactness in one pass; at 100 TB either
    * profile few columns per pass or swap `count_distinct` for
    * `approx_count_distinct` (HLL, one row per input, no Expand) where a
    * ±2% uniqueness answer is acceptable — which is the normal trade for
    * a monitoring metric, but not oracle-checkable, so the exact form is
    * the default.
    */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    require(cols.forall(df.columns.contains),
      s"unknown columns: ${cols.filterNot(df.columns.contains).mkString(",")}")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(
        (count(lit(1)) - count(col(c))).as(s"${c}__n_null"),
        count_distinct(col(c)).as(s"${c}__n_distinct"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), col("n_rows"),
        col(s"${c}__n_null").as("n_null"),
        col(s"${c}__n_distinct").as("n_distinct"),
        col(s"${c}__min").as("min_val"),
        col(s"${c}__max").as("max_val"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
      .orderBy("col_name")
  }

  /** Fixed-bound equal-width histogram: bin i covers
    * [lo + i·(hi−lo)/k, lo + (i+1)·(hi−lo)/k); values outside [lo, hi)
    * clamp into the edge bins (min/max from `numericProfile` are the
    * natural bounds feed). Bounds are EXPLICIT, not computed in-query —
    * a two-pass min/max-then-bin would make every run's bin edges data-
    * dependent, and histograms exist to be compared across runs. Empty
    * bins surface with count 0 (a monitoring gap reads very differently
    * from a zero), via a range join no wider than k rows.
    *
    * The bin expression is one multiply-divide-floor on doubles, written
    * identically here and in any SQL oracle, so IEEE evaluation matches
    * bit for bit. A pure projection + one two-level count: scan-speed.
    */
  def numericHistogram(df: DataFrame, valueCol: String,
                       lo: Double, hi: Double, k: Int): DataFrame = {
    require(k >= 1, "need at least one bin")
    require(lo < hi, "need lo < hi")
    val spark = df.sparkSession
    val bin = least(greatest(
      floor((col(valueCol) - lit(lo)) * k / (lit(hi) - lit(lo))), lit(0)),
      lit(k - 1)).cast("int")
    val counts = df.filter(col(valueCol).isNotNull)
      .select(bin.as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    spark.range(k).select(col("id").cast("int").as("bin"))
      .join(counts, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("bin")
  }

  /** Fixed-width per-row digest for `tableChecksum` and the sharded-
    * export manifest: each column contributes `md5(cast(col as string))`
    * (32 hex chars) or the literal `"null"` (4 chars) — fields are
    * FIXED-WIDTH and the null marker cannot collide with any md5, so
    * neither delimiter injection (`('a|b','c')` vs `('a','b|c')`) nor
    * null-skipping (`(1, NULL, 'x')` vs `(1, 'x', NULL)`) can make two
    * different rows serialize equal, which a bare `concat_ws` allows.
    * The digest is expressible verbatim in any SQL engine with md5.
    */
  def rowDigest(cols: Seq[String]): Column =
    conv(substring(md5(concat(cols.map(c =>
      coalesce(md5(col(c).cast("string")), lit("null"))): _*)),
      1, 8), 16, 10).cast("long")

  /** Order-insensitive table checksum: Σ over rows of a 32-bit integer
    * drawn from `rowDigest` (fixed-width, null-safe — see above), plus
    * the row count — equal multisets of rows ⇒ equal (n, checksum)
    * regardless of partitioning, sort order, or engine. The
    * constant-size "did the copy/migration/engine-swap preserve the
    * data" probe: compare two 2-value rows, not two tables.
    *
    * The sum accumulates in DECIMAL(38,0): the per-row term is < 2³²,
    * so a 64-bit sum overflows around 4.3e9 rows — exactly the scale
    * the gate exists for (Spark 4's ANSI mode would throw; DuckDB's
    * BIGINT sum promotes to HUGEINT, which the decimal matches).
    * Collision odds for a single changed row are 2⁻³², and any
    * row-count change is caught exactly — right-sized for a monitoring
    * gate, not a security boundary.
    *
    * Restricted to integral/string columns by contract: float
    * formatting differs across engines (the q13 rowkey rule), so the
    * caller picks the stable columns (or pre-rounds to cents-style
    * integers).
    */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "checksum at least one column")
    df.select(rowDigest(cols).as("h"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("h").cast("decimal(38,0)")).as("checksum"))
  }

  /** Winsorized per-group statistics: clip `valueCol` (integral) into the
    * group's discrete [pLo, pHi] percentiles, then report exact clipped
    * sums — the robust-mean building block for outlier-tolerant corpus
    * stats (a handful of 10M-token blobs must not own the average).
    *
    * DISCRETE percentiles by rank (the value at row ⌈p·n⌉ of the sorted
    * group, floor 1) — not interpolated: interpolation arithmetic is the
    * classic cross-engine drift source, while a ranked VALUE is a value
    * from the data, compared exactly. The clipped mean crosses any oracle
    * as the rational (clipped_sum, n); both are exact integers.
    *
    * Shape: one shuffle on the group key feeds BOTH the rank window and
    * the final aggregate; the percentile-bound sub-aggregate is rows ≤
    * |groups| and broadcast back. Exact ranks need the per-group sort —
    * that IS the winsorize contract; callers at 100 TB with huge groups
    * trade down to `approx_percentile` bounds explicitly.
    */
  def winsorizedStats(df: DataFrame, groupCol: String, valueCol: String,
                      tieCol: String, pLo: Double = 0.05,
                      pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo <= pHi, "need 0 <= pLo <= pHi <= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(col("__v"), col(tieCol))
    val ranked = df
      .select(col(groupCol), col(valueCol).cast("long").as("__v"),
        col(tieCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(groupCol)))
    val bounds = ranked.groupBy(groupCol).agg(
      max(when(col("__rn") ===
        greatest(ceil(lit(pLo) * col("__n")).cast("long"), lit(1L)),
        col("__v"))).as("lo"),
      // same greatest(...,1) floor as lo: pHi = 0.0 passes the require
      // but yields rank 0, which matches no row — hi would be NULL and
      // every group's clipped_sum would silently go NULL with it
      max(when(col("__rn") ===
        greatest(ceil(lit(pHi) * col("__n")).cast("long"), lit(1L)),
        col("__v"))).as("hi"))
    ranked.join(broadcast(bounds), Seq(groupCol))
      .groupBy(groupCol)
      .agg(first(col("lo")).as("lo"), first(col("hi")).as("hi"),
        count(lit(1)).as("n"),
        sum(least(greatest(col("__v"), col("lo")), col("hi")))
          .as("clipped_sum"))
      .orderBy(groupCol)
  }

  /** Per-group percent-rank normalization: each row's rank position in
    * [0, 1] within its group's `(valueCol, tieCol)` total order — the
    * quantile-transform feature a curation pipeline uses to compare
    * values ACROSS heterogeneous groups ("this document is at the 97th
    * length percentile FOR ITS LANGUAGE" — an outlier test that a global
    * threshold gets wrong for every low-resource language at once).
    *
    * percent_rank = (rank − 1) / (n − 1) is an exact rational of two
    * integers, so the double is bit-identical on any engine — no rounding
    * needed (unlike mean/stddev z-scores, whose accumulation order
    * drifts). The tie column makes the order total and the output
    * deterministic; a single-row group scores 0.0.
    *
    * Scale shape: ONE hash-shuffle on the group key feeding one per-group
    * sorted window — the `scd2Build` minimum; no join, no global sort. A
    * giant group degrades to a bigger sort bucket (the same trade every
    * rank statistic makes — `winsorizedStats` above shares it).
    */
  /** Pre-join cardinality audit for an equi-join: per side the row count,
    * distinct-key count, null-key count, and max key multiplicity, plus
    * the EXACT inner-join output size `Σ_k cntA(k)·cntB(k)` and the
    * worst single key's pair product — the numbers that predict a join
    * explosion or a skewed straggler BEFORE the join runs. Every input
    * to every arithmetic step is a post-aggregation census (one partial
    * agg per side, a key-census join, three 1-row aggregates crossed),
    * so the audit costs two scans and shuffles only (key, count) pairs —
    * run it on the 100-TB pair first, then decide broadcast/salt/cap.
    * Null keys are counted but excluded from the prediction (SQL equi
    * semantics).
    */
  /** Population-Stability-Index drift census between two slices of the
    * same population — THE standard "has my distribution moved" monitor
    * (feature drift, corpus drift between snapshots, slice-vs-corpus
    * skew): bin a non-negative integer feature into `binWidth` buckets
    * and emit, per bin, both counts and the PSI term
    * `(pA − pB)·ln(pA/pB)` — `Σ term = PSI` (rule of thumb: < 0.1 calm,
    * > 0.25 drifted). The term is quantized at 1e-6 from EXACT integer
    * counts (the q134 integer-log device — the ln is the only float and
    * it is a fixed scalar expression of four longs), so the census sums
    * exactly cross-engine.
    *
    * Bins where either slice is EMPTY have an undefined PSI term
    * (ln 0): they surface with their counts and a NULL term rather than
    * a fabricated epsilon — the consumer sees exactly which mass is
    * un-scorable (the standard epsilon fudge hides precisely the
    * all-new/all-gone bins that matter most).
    *
    * Scale shape: each slice collapses to a |bins|-row census in the
    * scan stage (map-side partials); the join and term arithmetic run
    * on bins × 2 counts. Nothing after the partial aggs scales with
    * data.
    */
  def psiDrift(a: DataFrame, b: DataFrame, value: Column,
               binWidth: Long = 16L): DataFrame = {
    require(binWidth >= 1, "binWidth must be >= 1")
    // integer floor-div bin for non-negative integer features (the
    // documented contract, where truncation == floor): `div` stays exact
    // past 2^53 where the old double route would round, and matches the
    // oracle's integer `//` by construction
    def census(df: DataFrame, cn: String) = df
      .select(value.cast("long").as("__v"))
      .selectExpr(s"__v div ${binWidth}L as bin")
      .groupBy("bin").agg(count(lit(1)).as(cn))
    val ca = census(a, "c_a")
    val cb = census(b, "c_b")
    val tot = ca.agg(sum("c_a").as("n_a"))
      .crossJoin(cb.agg(sum("c_b").as("n_b")))
    ca.join(cb, Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
      .crossJoin(broadcast(tot))
      .withColumn("term_q6",
        when(col("c_a") > 0 && col("c_b") > 0,
          round((col("c_a").cast("double") / col("n_a").cast("double") -
            col("c_b").cast("double") / col("n_b").cast("double")) *
            log(col("c_a").cast("double") * col("n_b").cast("double") /
              (col("c_b").cast("double") * col("n_a").cast("double"))) *
            1000000).cast("long")))
      .select("bin", "c_a", "c_b", "term_q6")
      .orderBy("bin")
  }

  /** Pareto CONTRIBUTION report (the 80/20 table): groups ordered by
    * descending weight with each group's exact per-mille share and
    * running cumulative share, plus the head flag — every group needed
    * to reach `headPermille` of the total (the first group to cross
    * the line is included, the classic convention). "Which 3 sources
    * are 80% of the corpus" as one |groups|-row artifact, all integer
    * arithmetic.
    *
    * Scale shape: one per-group partial agg, then windows over GROUP
    * rows only (q108 posture).
    */
  def paretoContribution(df: DataFrame, groupCol: String,
                         weight: Column,
                         headPermille: Long = 800L): DataFrame = {
    require(headPermille >= 1 && headPermille <= 1000,
      "headPermille must be in [1, 1000]")
    val census = df.groupBy(groupCol)
      .agg(sum(weight.cast("long")).as("w"))
    val ord = org.apache.spark.sql.expressions.Window
      .orderBy(col("w").desc, col(groupCol).asc)
    val cum = ord.rowsBetween(org.apache.spark.sql.expressions.Window
      .unboundedPreceding, 0)
    val tot = org.apache.spark.sql.expressions.Window.partitionBy()
    census
      .withColumn("__cum", sum("w").over(cum))
      .withColumn("__tot", sum("w").over(tot))
      .select(col(groupCol), col("w").as("weight"),
        expr("w * 1000L div nullif(__tot, 0L)").as("share_permille"),
        expr("__cum * 1000L div nullif(__tot, 0L)").as("cum_permille"),
        // head: every group whose PREDECESSOR cumulative was still
        // short of the line — includes the crossing group exactly once
        ((col("__cum") - col("w")) * 1000L <
          lit(headPermille) * col("__tot")).as("in_head"))
      .orderBy(col("weight").desc, col(groupCol).asc)
  }

  /** Count-Min-sketch heavy hitters WITH measured error — the q153
    * audited-sketch discipline applied to frequency estimation: `depth`
    * hash rows of `width` buckets each (the md5 device, so the sketch
    * is bit-reproducible in ANY engine), estimate = min over rows of
    * the key's bucket sum, reported NEXT TO the exact count for the
    * exact top-k keys so the artifact carries its own error audit
    * (`overcount` — CMS never undercounts, the one-sided guarantee).
    *
    * The sketch here is built from the exact (key, count) census —
    * count-identical to the map-side per-row construction a 100 TB
    * deployment uses (bucket sums are sums of counts either way), and
    * the census keeps the fixture build one job. At scale the sketch
    * IS the point: depth·width cells replace a |keys|-sized census
    * where keys are unbounded (URLs, user ids), and this operator is
    * the referee that prices that trade before you make it.
    *
    * Scale shape: one (key, count) partial agg; each sketch row is a
    * width-bounded re-agg of census rows; the top-k probe joins k×depth
    * aggregated cells. All integer arithmetic.
    */
  def cmsHeavyHitters(df: DataFrame, keyCol: String,
                      width: Int = 64, depth: Int = 4,
                      topK: Int = 10): DataFrame = {
    require(width >= 1 && depth >= 1 && topK >= 1,
      "width/depth/topK must be >= 1")
    val census = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("c"))
    def bucket(d: Int): Column =
      conv(substring(md5(concat_ws(":", col("key").cast("string"),
        lit(d.toString))), 1, 8), 16, 10).cast("long") % width
    val est = (0 until depth).map { d =>
      val row = census.groupBy(bucket(d).as("b"))
        .agg(sum("c").as("bsum"))
      census.select(col("key"), bucket(d).as("b"))
        .join(row, "b")
        .select(col("key"), col("bsum"))
    }.reduce(_ unionByName _)
      .groupBy("key").agg(min("bsum").as("est"))
    val top = census
      .orderBy(col("c").desc, col("key").asc)
      .limit(topK)
    top.join(est, "key")
      .select(col("key"), col("c").as("exact"), col("est"),
        (col("est") - col("c")).as("overcount"))
      .orderBy(col("exact").desc, col("key").asc)
  }

  /** Exact WEIGHTED median per group — the smallest value whose
    * cumulative weight reaches half the group's total (`2·cum ≥ tot`,
    * integer-exact for integer weights): "the token count below which
    * half the corpus BYTES sit" and its siblings, where the unweighted
    * median (q139's device) answers a different question whenever size
    * and count diverge. Tie-safe by construction: the cumulative frame
    * is RANGE-based on the value ordering, so equal values accumulate
    * together and no tiebreak column can change the answer.
    *
    * Scale shape: one keyed window exchange (partition by group, order
    * by value) shared by the cumulative and total sums, then a keyed
    * min — per-group rows, never a global sort.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String): DataFrame = {
    val cum = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("__v"))
      .rangeBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
    df.select(col(groupCol), col(valueCol).cast("long").as("__v"),
        col(weightCol).cast("long").as("__w"))
      .withColumn("__cum", sum("__w").over(cum))
      .withColumn("__tot", sum("__w").over(whole))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy(groupCol)
      .agg(max("__tot").as("total_weight"),
        min("__v").as("w_median"))
      .orderBy(groupCol)
  }

  /** Referential-integrity audit of one FK edge — the data-quality
    * check every pipeline join silently assumes: child rows whose key
    * is NULL, child rows whose key has NO parent (orphans — an inner
    * join drops them unseen), and parent keys never referenced (dead
    * dimension mass). One row, exact integers.
    *
    * Scale shape: the child collapses to a (key, count) census in the
    * scan stage; both orphan and unreferenced sets are census-vs-census
    * anti-joins — the fact table's row count never crosses a join.
    */
  def fkIntegrityAudit(child: DataFrame, childKey: String,
                       parent: DataFrame, parentKey: String): DataFrame = {
    val census = child.groupBy(col(childKey).as("__k"))
      .agg(count(lit(1)).as("__n"))
    val pkeys = parent.select(col(parentKey).as("__p")).distinct()
    val nulls = census.filter(col("__k").isNull)
      .agg(coalesce(sum("__n"), lit(0L)).as("n_null_keys"))
    val orphans = census.filter(col("__k").isNotNull)
      .join(pkeys, col("__k") === col("__p"), "left_anti")
      .agg(coalesce(sum("__n"), lit(0L)).as("n_orphan_rows"),
        count(lit(1)).as("n_orphan_keys"))
    val unref = pkeys
      .join(census, col("__p") === col("__k"), "left_anti")
      .agg(count(lit(1)).as("n_unreferenced_parents"))
    val totals = child.agg(count(lit(1)).as("n_child_rows"))
    totals.crossJoin(nulls).crossJoin(orphans).crossJoin(unref)
  }

  /** Functional-dependency census: for each candidate FD X → Y, does
    * every X value map to exactly one Y? Reported as the two distinct
    * counts — n_x = |distinct X|, n_xy = |distinct (X, Y)| — so
    * `fd_holds ⇔ n_x = n_xy` and `extra_pairs = n_xy − n_x` measures HOW
    * broken a failed dependency is (the schema-discovery companion to
    * `fkIntegrityAudit`: FK audits reference integrity between tables,
    * this audits determinism within one). Rows where EITHER column is
    * NULL are excluded up front, on both engines: the engines' native
    * multi-column distincts diverge on nullable data (Spark's
    * countDistinct(x, y) drops a row if either side is NULL, while
    * DuckDB's count(DISTINCT (x, y)) counts struct rows with NULL
    * fields), so the operator pins one semantics — an FD is audited
    * over fully-observed (X, Y) pairs — and the oracle carries the same
    * explicit filter.
    *
    * Scale shape: one partial-agg distinct per candidate over the fact
    * scan (map-side combine collapses to the key cardinality); the
    * candidate list is a constant — the union of one-row results is
    * driver-sized. A shared-scan rewrite (grouping sets over all
    * candidates) trades one pass for |candidates| shuffles of the SAME
    * total key volume; per-candidate passes keep each shuffle keyed and
    * prunable, and candidates are few by nature.
    */
  def fdCensus(df: DataFrame,
               candidates: Seq[(String, String)]): DataFrame = {
    require(candidates.nonEmpty, "need at least one candidate FD")
    candidates.map { case (x, y) =>
      df.filter(col(x).isNotNull && col(y).isNotNull)
        .agg(
          countDistinct(col(x)).as("n_x"),
          countDistinct(col(x), col(y)).as("n_xy"))
        .select(lit(x).as("x_col"), lit(y).as("y_col"),
          col("n_x"), col("n_xy"),
          (col("n_x") === col("n_xy")).as("fd_holds"),
          (col("n_xy") - col("n_x")).as("extra_pairs"))
    }.reduce(_ unionByName _).orderBy("x_col", "y_col")
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic between the
    * `valueCol` distributions of two groups — the distribution-drift
    * gate that reports WHERE the ECDFs maximally diverge, not just that
    * they do (PSI (q169) needs binning; chi-square needs expected
    * counts; KS is binning-free and integral-exact here): with group
    * sizes n_a, n_b and cumulative counts cum_a(v), cum_b(v) over the
    * merged value census, D·n_a·n_b = max |cum_a·n_b − cum_b·n_a| — an
    * integer, compared exactly across engines; ks_pm quantizes it
    * per-mille for reading.
    *
    * Scale shape: one partial-agg census keyed on the value (domain-
    * bounded — lengths, scores, day indexes); the running sums ride one
    * global-order window over CENSUS rows (the q108 aggregated-window
    * posture), totals broadcast as one row; output is a single row.
    */
  def ksTwoSample(df: DataFrame, groupCol: String, valueCol: String,
                  groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "need two distinct groups")
    val v = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(valueCol).cast("long").as("__v"))
    val cens = v.groupBy("__v").agg(
      coalesce(sum(when(col("__g") === groupA, 1L)), lit(0L)).as("__ca"),
      coalesce(sum(when(col("__g") === groupB, 1L)), lit(0L)).as("__cb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("__v")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val tot = cens.agg(sum("__ca").as("__na"), sum("__cb").as("__nb"))
    cens
      .withColumn("__cuma", sum("__ca").over(w))
      .withColumn("__cumb", sum("__cb").over(w))
      .crossJoin(broadcast(tot))
      .agg(
        max(col("__na")).as("n_a"),
        max(col("__nb")).as("n_b"),
        // promote BEFORE the product (the mannWhitney cleared-denominator
        // discipline): cum·n products pass int64 once each group nears
        // ~3e9 rows — exactly the scale the operator exists for. d_num
        // ships as the decimal's string form (the u2x device), ks_pm
        // stays BIGINT (≤ 1000 by construction).
        max(abs(col("__cuma").cast("decimal(38,0)") * col("__nb") -
          col("__cumb").cast("decimal(38,0)") * col("__na"))).as("__dnum"))
      .select(col("n_a"), col("n_b"),
        col("__dnum").cast("string").as("d_num"),
        expr("cast(__dnum * 1000 div" +
          " (cast(n_a as decimal(38,0)) * n_b) as bigint)").as("ks_pm"))
  }

  /** Exact 1-D Wasserstein (earth-mover) distance between two groups'
    * integer-value distributions — the INTEGRAL drift metric next to
    * q300's KS sup-metric: KS flags the single worst CDF gap, W₁ prices
    * the total transport (Σ|F_A − F_B| over the value axis), so a drift
    * that is wide-but-shallow (KS-invisible) still bills correctly.
    * Standard pairing in distribution-shift monitoring (same census,
    * both metrics, one decision).
    *
    * Cleared-denominator exactness (the ksTwoSample discipline): each
    * step contributes |cum_a·n_b − cum_b·n_a| · Δv in decimal(38,0) —
    * products promote BEFORE multiplying — and W₁ = Σ/(n_a·n_b) emerges
    * once, reported in milli-value-units (w1_mv); the raw numerator
    * ships as its decimal string (the q300 u2x device).
    *
    * Scale shape: one keyed value census (partial agg), then cum-sums +
    * lead over the CENSUS — |distinct values| rows, the q300
    * aggregated-window posture, never corpus-sized.
    */
  def wassersteinDrift(df: DataFrame, groupCol: String, valueCol: String,
                       groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "need two distinct groups")
    val v = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(valueCol).cast("long").as("__v"))
    val cens = v.groupBy("__v").agg(
      coalesce(sum(when(col("__g") === groupA, 1L)), lit(0L)).as("__ca"),
      coalesce(sum(when(col("__g") === groupB, 1L)), lit(0L)).as("__cb"))
    val ord = org.apache.spark.sql.expressions.Window.orderBy("__v")
    val cum = ord.rowsBetween(org.apache.spark.sql.expressions.Window
      .unboundedPreceding, 0)
    val tot = cens.agg(sum("__ca").as("__na"), sum("__cb").as("__nb"))
    cens
      .withColumn("__cuma", sum("__ca").over(cum))
      .withColumn("__cumb", sum("__cb").over(cum))
      .withColumn("__next", lead("__v", 1).over(ord))
      .crossJoin(broadcast(tot))
      .agg(
        max(col("__na")).as("n_a"),
        max(col("__nb")).as("n_b"),
        coalesce(sum(when(col("__next").isNotNull,
          abs(col("__cuma").cast("decimal(38,0)") * col("__nb") -
            col("__cumb").cast("decimal(38,0)") * col("__na")) *
            (col("__next") - col("__v")))), lit(0L))
          .cast("decimal(38,0)").as("__wnum"))
      .select(col("n_a"), col("n_b"),
        col("__wnum").cast("string").as("w1_num"),
        expr("cast(__wnum * 1000 div" +
          " (cast(n_a as decimal(38,0)) * n_b) as bigint)").as("w1_mv"))
  }

  def joinCardinalityAudit(left: DataFrame, leftKey: String,
                           right: DataFrame, rightKey: String): DataFrame = {
    def census(df: DataFrame, key: String) =
      df.filter(col(key).isNotNull)
        .groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
    def nulls(df: DataFrame, key: String) =
      df.agg(count(when(col(key).isNull, 1)).as("n"))
    val la = census(left, leftKey)
    val ra = census(right, rightKey)
    val lstats = la.agg(coalesce(sum("c"), lit(0L)).as("l_rows"),
      count(lit(1)).as("l_keys"),
      coalesce(max("c"), lit(0L)).as("l_max_mult"))
    val rstats = ra.agg(coalesce(sum("c"), lit(0L)).as("r_rows"),
      count(lit(1)).as("r_keys"),
      coalesce(max("c"), lit(0L)).as("r_max_mult"))
    val j = la.join(ra.withColumnRenamed("c", "c2"), Seq("k"))
      .agg(coalesce(sum(col("c") * col("c2")), lit(0L)).as("join_rows"),
        coalesce(max(col("c") * col("c2")), lit(0L)).as("max_key_pairs"))
    lstats
      .crossJoin(nulls(left, leftKey).withColumnRenamed("n", "l_null_keys"))
      .crossJoin(rstats)
      .crossJoin(nulls(right, rightKey).withColumnRenamed("n", "r_null_keys"))
      .crossJoin(j)
  }

  /** EXACT global quantiles (percentile_disc semantics: the value at rank
    * ⌈p·n⌉ of the total order) WITHOUT a single-task sort — the second
    * driver-visible consumer of `Layout.shardedRanks`. approx-quantile
    * sketches answer this with an error bound; rank statistics that feed
    * a CONTRACT (token-budget caps, SLA thresholds, the q73-style
    * stratum cut) want the exact value, and the classic exact plan — one
    * global-order window — is the single-task wall the sharded rank
    * removes (measured: PLANS.md round-10 table).
    *
    * Target ranks are pure integer arithmetic (`⌈p·n⌉ = (n·p‰ + 999) div
    * 1000`), computed from the two-pass machinery's exact row count and
    * joined as a broadcast k-row frame — so the answer is engine-exact,
    * no interpolation, no float thresholds. The tie column only makes
    * the ORDER total (determinism of the rank pass); the value at a
    * given global rank is tie-break-invariant among equal values, so the
    * output is a property of the value distribution alone.
    */
  def globalQuantilesSharded(df: DataFrame, valueCol: String,
      tieCol: String,
      permilles: Seq[Long] = Seq(500L, 900L, 990L)): DataFrame = {
    require(permilles.nonEmpty && permilles.forall(p => p >= 1 && p <= 1000),
      "permilles must be in [1, 1000]")
    val session = df.sparkSession
    import session.implicits._
    val (ranked, n) = graft.ops.Layout.shardedRanksWithTotal(
      df.select(col(valueCol), col(tieCol)), Seq(valueCol, tieCol))
    val targets = permilles.map(p => (p, (n * p + 999L) / 1000L))
      .toDF("p_permille", "target_rnk")
    ranked.join(broadcast(targets), col("rnk") === col("target_rnk"))
      .select(col("p_permille"), col(valueCol))
      .orderBy("p_permille")
  }

  /** Robust per-group outlier census via median absolute deviation:
    * `med = value@rank⌈n/2⌉`, `mad = |x−med|@rank⌈n/2⌉`, outlier ⇔
    * `|x−med| > k·mad` — the heavy-tail-safe alternative to mean/stddev
    * z-scores, whose estimates a single extreme value drags
    * (`winsorizedStats` clips; this DETECTS, with a scale estimate the
    * outliers themselves cannot corrupt). Discrete (percentile_disc)
    * medians on integer values keep every comparison integer-exact —
    * no float in any decision, so the census is engine-portable
    * bit-for-bit.
    *
    * Scale shape: two keyed window passes (rank of x, then rank of
    * |x−med| after a broadcast of the S-row med table) + one count
    * aggregate — the q93/q121 family shape; a giant group degrades to a
    * bigger sort bucket, never a join.
    */
  def groupMadOutliers(df: DataFrame, groupCol: String, valueCol: String,
                       tieCol: String, k: Long = 3L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(groupCol), col(valueCol).cast("long").as("__v"),
      col(tieCol))
    val w1 = Window.partitionBy(groupCol).orderBy(col("__v"), col(tieCol))
    val n = Window.partitionBy(groupCol)
    val med = base
      .withColumn("__rn", row_number().over(w1).cast("long"))
      .withColumn("__n", count(lit(1)).over(n))
      .groupBy(groupCol)
      .agg(max(when(col("__rn") === expr("(__n + 1L) div 2L"), col("__v")))
        .as("med"), count(lit(1)).as("n"))
    val dev = base.join(broadcast(med), Seq(groupCol))
      .withColumn("__d", abs(col("__v") - col("med")))
    val w2 = Window.partitionBy(groupCol).orderBy(col("__d"), col(tieCol))
    val mad = dev
      .withColumn("__rn", row_number().over(w2).cast("long"))
      .groupBy(groupCol)
      .agg(max(when(col("__rn") === expr("(n + 1L) div 2L"), col("__d")))
        .as("mad"))
    dev.join(broadcast(mad), Seq(groupCol))
      .groupBy(col(groupCol), col("n"), col("med"), col("mad"))
      .agg(count(when(col("__d") > lit(k) * col("mad"), 1)).as("n_outliers"))
      .select(col(groupCol), col("n"), col("med"), col("mad"),
        col("n_outliers"))
      .orderBy(groupCol)
  }

  def groupPercentRank(df: DataFrame, groupCol: String, valueCol: String,
                       tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol), col(tieCol))
    df.select(col(groupCol), col(valueCol), col(tieCol))
      .withColumn("pct", percent_rank().over(w))
      .orderBy(groupCol, valueCol, tieCol)
  }

  /** `groupPercentRank` without the corpus-sized window partition — the
    * SHIPPED form for low-cardinality groups (languages, sources): a
    * "partitioned" window only parallelizes when no partition is
    * corpus-sized, and a per-language window over a 40%-one-language
    * corpus sorts 40% of it in one task. Rides
    * `Layout.shardedGroupRanks` (range exchange on (group, value, tie),
    * per-(partition, group) run counts to the driver, streaming second
    * pass); pct = (rnk − 1) / (n_grp − 1) — exactly SQL percent_rank
    * for a total order (the tie column makes rank ≡ row_number), 0.0
    * for single-row groups, same double division both engines.
    * Bit-identical to the window form (ProfilingSpec pins it).
    */
  def groupPercentRankSharded(df: DataFrame, groupCol: String,
                              valueCol: String, tieCol: String): DataFrame = {
    Layout.shardedGroupRanks(
        df.select(col(groupCol), col(valueCol), col(tieCol)),
        groupCol, Seq(valueCol, tieCol))
      .withColumn("pct",
        when(col("n_grp") === 1L, lit(0.0))
          .otherwise((col("rnk") - 1).cast("double") /
            (col("n_grp") - 1).cast("double")))
      .drop("rnk", "n_grp")
      .orderBy(groupCol, valueCol, tieCol)
  }

  /** 2-D Pareto frontier (skyline): rows not DOMINATED under
    * (maximize `maxCol`, minimize `minCol`) — dominated means some other
    * row is ≥ on the max-dimension and ≤ on the min-dimension with at
    * least one strict. Equal (max, min) pairs are mutually non-dominating
    * and all survive. The "best trade-offs" selector (shortest
    * highest-quality documents, cheapest fastest plans) — a top-k can't
    * express it because the frontier's size is data-dependent.
    *
    * In 2-D the quadratic NOT-EXISTS collapses to a running extreme: a
    * row survives iff its `minCol` is (a) strictly below every
    * STRICTLY-better `maxCol` row's minimum — a range frame ending at
    * −1 on the descending order, which excludes the current tie group —
    * and (b) the minimum within its own tie group. Window (b) is an
    * ordinary hash-partitioned agg; window (a) is a GLOBAL ordered frame
    * — the same single-task wall as q116's ntile and q121's percent-rank,
    * priced the same way (Layout.scala:30): at 100 TB, pre-filter with
    * the per-partition local skyline first (a row dominated within any
    * subset is dominated globally, so local-then-global is exact), which
    * shrinks the global pass to the per-partition frontier union.
    * `maxCol` must be numeric: the strictly-better frame is a RANGE
    * bound, integer offsets.
    */
  /** One skyline pass — the shared core of `paretoFrontier` (global) and
    * `paretoFrontierSharded` (per-shard prefilter): within each
    * `extraPart` group (none = globally), keep rows not dominated inside
    * that group. ONE copy of the dominance windows so the global and
    * sharded forms cannot drift.
    */
  private def skylinePass(df: DataFrame, maxCol: String, minCol: String,
                          extraPart: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wTies = Window.partitionBy((extraPart :+ maxCol).map(col): _*)
    val wBetterBase =
      if (extraPart.isEmpty) Window.orderBy(col(maxCol).desc)
      else Window.partitionBy(extraPart.map(col): _*)
        .orderBy(col(maxCol).desc)
    val wBetter = wBetterBase.rangeBetween(Window.unboundedPreceding, -1)
    df.withColumn("__minSame", min(minCol).over(wTies))
      .withColumn("__minBetter", min(minCol).over(wBetter))
      .filter(col(minCol) === col("__minSame") &&
        (col("__minBetter").isNull || col(minCol) < col("__minBetter")))
      .drop("__minSame", "__minBetter")
  }

  def paretoFrontier(df: DataFrame, idCol: String, maxCol: String,
                     minCol: String): DataFrame =
    skylinePass(df.select(col(idCol), col(maxCol), col(minCol)),
        maxCol, minCol, Nil)
      .orderBy(idCol)

  /** `paretoFrontier` without the single-task wall: a row dominated in
    * ANY subset is dominated globally, so a hash-bucketed LOCAL skyline
    * pass (an ordinary partitioned window — parallel across `buckets`)
    * first removes everything dominated within its bucket, and the
    * global pass runs only on the per-bucket frontier union — bounded by
    * buckets × frontier size, not data. Output is BIT-IDENTICAL to
    * `paretoFrontier` (the local pass only ever removes dominated rows;
    * equal (max, min) pairs co-survive both passes) — which is what the
    * q149 oracle checks when this form is driver-visible. The q116→q123
    * discipline applied to skylines.
    */
  def paretoFrontierSharded(df: DataFrame, idCol: String, maxCol: String,
                            minCol: String, buckets: Int = 32): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val local = skylinePass(
      df.select(col(idCol), col(maxCol), col(minCol))
        .withColumn("__b",
          pmod(xxhash64(col(idCol).cast("string")), lit(buckets.toLong))),
      maxCol, minCol, Seq("__b"))
    skylinePass(local.drop("__b"), maxCol, minCol, Nil)
      .orderBy(idCol)
  }

  /** Histogram-sketch quantile ESTIMATES: a two-pass equi-width integer
    * binning (pass 1: min/max/count; pass 2: per-bin counts), with the
    * quantile read off the cumulative bin table as the covering bin's
    * inclusive upper edge. The mergeable-sketch shape every monitoring
    * system runs where `globalQuantilesSharded`'s exact rank pass is too
    * heavy: the census is ONE partial agg (map-side combine over ≤ `bins`
    * distinct keys — no sort, no rank pass, no per-row shuffle), and two
    * sketches merge by adding bin counts. Error is bounded by the bin
    * width `⌈span/bins⌉`; q153 AUDITS that bound against the exact rank
    * answer instead of trusting it. Everything is integer arithmetic —
    * the bin index multiplication runs in DECIMAL(38,0) so a full-range
    * int64 value column cannot overflow the product (DuckDB's HUGEINT
    * promotion, made explicit on the Spark side).
    */
  def sketchQuantiles(df: DataFrame, valueCol: String,
                      bins: Int = 256,
                      permilles: Seq[Long] = Seq(500L, 900L, 990L))
      : DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    require(permilles.nonEmpty && permilles.forall(p => p >= 1 && p <= 1000),
      "permilles must be in [1, 1000]")
    val v = col(valueCol).cast("long")
    val stats = df.agg(min(v).as("__min"), max(v).as("__max"),
      count(lit(1)).as("__n"))
    // integral `div`, never `/`: decimal true-division rounds at result
    // scale, which could flip a value sitting on a bin edge
    val binned = df.select(v.as("__v")).crossJoin(broadcast(stats))
      .select(expr(s"cast(__v - __min as decimal(38,0)) * $bins" +
        " div (__max - __min + 1)").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("bin")
      .rowsBetween(Long.MinValue, 0)
    val cum = binned.withColumn("cum", sum("c").over(wCum))
    val session = df.sparkSession
    import session.implicits._
    val targets = permilles.toDF("p_permille")
    cum.crossJoin(broadcast(stats)).crossJoin(broadcast(targets))
      .filter(col("cum") * 1000 >= col("p_permille") * col("__n"))
      .groupBy("p_permille")
      .agg(min("bin").as("__bin"), first("__min").as("__mn"),
        first("__max").as("__mx"))
      .select(col("p_permille"),
        expr(s"__mn + cast(__bin + 1 as decimal(38,0))" +
          s" * (__mx - __mn + 1) div $bins - 1").as("est"))
      .orderBy("p_permille")
  }

  /** Quantile-bucket feature transform: every row labeled with its
    * `NTILE(k)` bucket over `(valueCol, tieCol)` — equal-frequency
    * binning (length deciles, price quartiles) as a SCALABLE transform:
    * the global-order window NTILE plants a single-task sort; this runs
    * `Layout.shardedRanks` (range-partitioned two-pass rank) and maps
    * rank→bucket with the closed-form `ntileFromRank`, so the output is
    * bit-identical to SQL `ntile(k) OVER (ORDER BY value, tie)` — which
    * IS the oracle — with no task ever holding more than one range
    * partition.
    */
  /** Score-vs-outcome calibration table: rows ranked by (`scoreCol`,
    * `tieCol`) into `k` equal-frequency buckets (the q155 closed-form
    * NTILE over sharded ranks — no global-order window), then one row
    * per bucket with the exact per-mille positive rate of the binary
    * `outcomeCol`. The model-governance readout behind any heuristic
    * filter: a classifier whose positive rate is flat across its own
    * score deciles carries no signal about the outcome, whatever its
    * unit specs say (q348 reads the q92 quality score against q21
    * exact-duplicate membership).
    *
    * Scale shape: one two-pass sharded rank + a k-row partial agg;
    * integer-exact shares (cleared-denominator decimal division).
    * `outcomeCol` must be 0/1-valued.
    */
  def scoreCalibration(df: DataFrame, idCol: String, scoreCol: String,
                       tieCol: String, outcomeCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val cols = Seq(idCol, scoreCol, tieCol, outcomeCol).distinct
    val (ranked, n) = graft.ops.Layout.shardedRanksWithTotal(
      df.select(cols.map(col): _*), Seq(scoreCol, tieCol))
    ranked
      .select(graft.ops.Layout.ntileFromRank(col("rnk"), n, k)
          .as("bucket"),
        col(scoreCol), col(outcomeCol))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(scoreCol).cast("long").as("score_min"),
        max(scoreCol).cast("long").as("score_max"),
        sum(col(outcomeCol).cast("long")).as("n_pos"),
        expr(s"cast(sum(cast($outcomeCol as long)) as decimal(38,0))" +
          " * 1000 div count(1)").as("pos_pm"))
      .orderBy("bucket")
  }

  /** Isotonic (monotone nondecreasing) calibration of the q348 score-vs-
    * outcome table — pool-adjacent-violators, computed through the exact
    * minimax identity (Robertson, Wright & Dykstra, "Order Restricted
    * Statistical Inference", 1988, §1.2): over score buckets i = 1..k,
    * iso(i) = max over j ≤ i of ( min over l ≥ i of rate(j..l) ), where
    * rate(j..l) is the pooled positive rate of buckets j through l. The
    * result is provably nondecreasing in i for ANY per-pool rate (the
    * j-range grows and the l-range shrinks with i), and equals the
    * weighted-L2 isotonic regression when rates are exact. This is the
    * production form of a heuristic-score recalibration: q348 tells you
    * whether the score carries signal; this gives the monotone score →
    * probability map you'd actually threshold on.
    *
    * Arithmetic is integer-exact and engine-portable: pooled rates
    * quantize to ppm by cleared-denominator decimal division BEFORE the
    * minimax (both engines compare identical quantized values; the
    * minimax of the quantized table is still exactly monotone), so the
    * oracle is the same SQL verbatim — no float accumulation anywhere.
    *
    * Scale shape: one two-pass sharded rank over the corpus (the q348
    * pass, corpus-sized) into a k-row bucket table; everything after —
    * the cumulative sums, the (i, j, l) minimax over k³ ≤ 10⁶ combos —
    * is k-row-bounded joins on broadcast-sized frames. `k` is a plan
    * constant (≤ 100 enforced), so the minimax never touches the corpus.
    */
  def isotonicCalibration(df: DataFrame, idCol: String, scoreCol: String,
                          tieCol: String, outcomeCol: String,
                          k: Int): DataFrame = {
    require(k >= 1 && k <= 100, "k must be in [1, 100]")
    val base = scoreCalibration(df, idCol, scoreCol, tieCol, outcomeCol, k)
      .select(col("bucket"), col("n"), col("n_pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // cumulative counts over the k-row table (domain-bounded window)
    val ord = org.apache.spark.sql.expressions.Window.orderBy("bucket")
    val cum = base
      .withColumn("cn", sum("n").over(ord))
      .withColumn("cp", sum("n_pos").over(ord))
    val j = cum.select(col("bucket").as("j"),
      (col("cn") - col("n")).as("cn0"), (col("cp") - col("n_pos")).as("cp0"))
    val l = cum.select(col("bucket").as("l"),
      col("cn").as("cn1"), col("cp").as("cp1"))
    // pooled rate of buckets j..l in ppm, quantized identically on both
    // engines (decimal product before the integer division)
    val pools = j.join(l, col("j") <= col("l"))
      .select(col("j"), col("l"),
        expr("cast(cp1 - cp0 as decimal(38,0)) * 1000000 div (cn1 - cn0)")
          .cast("long").as("rate_ppm"))
    val i = base.select(col("bucket").as("i"))
    val iso = i.join(pools, col("j") <= col("i") && col("l") >= col("i"))
      .groupBy("i", "j").agg(min("rate_ppm").as("mr"))
      .groupBy("i").agg(max("mr").as("iso_ppm"))
    base.join(iso, base("bucket") === iso("i"))
      .select(col("bucket"), col("n"), col("n_pos"),
        expr("cast(n_pos as decimal(38,0)) * 1000000 div n").cast("long")
          .as("raw_ppm"),
        col("iso_ppm"))
      .orderBy("bucket")
  }

  def quantileBuckets(df: DataFrame, idCol: String, valueCol: String,
                      tieCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // idCol may double as tieCol — select each needed column once
    val cols = Seq(idCol, valueCol, tieCol).distinct
    val (ranked, n) = graft.ops.Layout.shardedRanksWithTotal(
      df.select(cols.map(col): _*), Seq(valueCol, tieCol))
    ranked.select(col(idCol), col(valueCol),
        graft.ops.Layout.ntileFromRank(col("rnk"), n, k).as("bucket"))
      .orderBy(idCol)
  }

  /** Hill tail-index estimate on the user-activity distribution: over
    * the top `k` users by event count, 1/α̂ = mean of ln(xᵢ/x₍ₖ₎) for
    * i < k — the standard heavy-tail exponent check (α ≈ 1–2 means a
    * few users dominate; large α means near-uniform). Integer device:
    * each ln term quantizes to ×10⁶ BEFORE the sum (the q134 family),
    * the mean is one integer division; one row out.
    *
    * Scale shape: the per-user census is one partial agg; the top-k
    * cut is TakeOrderedAndProject (k+ rows to the driver-side plan,
    * never the census); the k−1 terms reduce to one row.
    */
  def hillTailIndex(events: DataFrame, k: Int = 20): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val u = events.groupBy("user_id").agg(count(lit(1)).as("n"))
    val top = u.orderBy(col("n").desc, col("user_id")).limit(k)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("user_id"))))
    val xk = top.filter(col("rk") === k)
      .select(col("n").as("__xk"))
    top.filter(col("rk") < k)
      .crossJoin(broadcast(xk))
      .select(expr("cast(round(1000000 * ln(cast(n as double)" +
        " / __xk)) as bigint)").as("term"))
      .agg(count(lit(1)).as("k_minus_1"), sum("term").as("sum_ln_q6"))
      .select(col("k_minus_1"), col("sum_ln_q6"),
        expr("sum_ln_q6 div k_minus_1").as("alpha_inv_q6"))
  }

  /** HLL cardinality audit — the approximate-distinct counterpart of
    * q176's Count-Min audit: per source, the EXACT distinct 3-gram
    * shingle count next to Spark's HyperLogLog++ estimate, and a
    * bound check (|approx − exact| ≤ tol·exact). The oracle pins the
    * exact column and `approx_ok = true` — a sketch drifting past its
    * advertised error bound FAILS the gate, which is the audit's job.
    * The approx value itself is intentionally NOT in the output:
    * sketch internals differ across engines and runs are only bound-
    * comparable, not bit-comparable.
    *
    * Scale shape: the shingle explode feeds TWO partial aggregates in
    * one pass (exact distinct needs the dedup shuffle; the HLL sketch
    * is map-side mergeable and rides the same exchange) — at corpus
    * scale the sketch column is why this query is cheap while the
    * exact one pays the distinct; keeping both quantifies that trade.
    */
  def hllCardinalityAudit(documents: DataFrame, n: Int = 3,
                          rsd: Double = 0.05,
                          tol: Double = 0.15): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val sh = documents.select(col("source"),
      explode(graft.functions.GraftFunctions.shingles(col("text"), n))
        .as("sh"))
    sh.groupBy("source")
      .agg(count_distinct(col("sh")).as("n_exact"),
        approx_count_distinct(col("sh"), rsd).as("__approx"))
      .select(col("source"), col("n_exact"),
        (abs(col("__approx") - col("n_exact")) <=
          col("n_exact").cast("double") * tol).as("approx_ok"))
      .orderBy("source")
  }

  /** The shared integer-exact Pearson device (q230/q246 — one
    * definition of the arithmetic, multiple reports): with
    * decimal(38,0) sums named `n/sx/sy/sxy/sxx/syy` in scope,
    * r_q6 = round(10⁶·(n·Σxy−ΣxΣy)/(√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²))),
    * NULL when either variance is zero — exact integer operands, one
    * sqrt·sqrt division in double (sqrt is correctly rounded
    * everywhere, the q165 rule).
    */
  private[ops] def pearsonQ6(n: String, sx: String, sy: String,
                             sxy: String, sxx: String,
                             syy: String): Column =
    expr(s"cast(round(1000000 * cast($n * $sxy - $sx * $sy as double)" +
      s" / nullif(sqrt(cast($n * $sxx - $sx * $sx as double))" +
      s" * sqrt(cast($n * $syy - $sy * $sy as double)), 0d))" +
      " as bigint)")

  /** JSON validity census over a string column: events whose payload
    * no longer parses, per group — the ingestion-quality gate run
    * before any `get_json_object` extraction is trusted. Validity is
    * `get_json_object(col, "$")` non-null (Spark's parser; the oracle
    * uses its engine's `json_valid` on the identical strings).
    *
    * Scale shape: a scan-stage predicate feeding one partial agg —
    * scan-speed, one exchange of ≤|groups| rows.
    */
  def jsonValidityCensus(df: DataFrame, groupCol: String,
                         jsonCol: String): DataFrame =
    df.select(col(groupCol),
        when(get_json_object(col(jsonCol), "$").isNotNull, 1L)
          .otherwise(0L).as("__ok"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_events"),
        sum(lit(1L) - col("__ok")).as("n_malformed"))
      .select(col(groupCol), col("n_events"), col("n_malformed"),
        expr("n_malformed * 1000 div n_events").as("malformed_permille"))
      .orderBy(groupCol)

  /** Bipartite degree histograms over a relationship table: for the
    * distinct (a, b) pairs, how many nodes on each side have degree d
    * — the fan-out profile a join planner (or a skew guard) reads
    * before co-locating on either key. One frame, both sides labeled.
    *
    * Scale shape: one distinct on the pair (ids-only shuffle), then
    * two chained censuses per side — everything after the distinct is
    * bounded by node counts, then by distinct degrees.
    */
  def bipartiteDegrees(df: DataFrame, aCol: String, bCol: String,
                       aLabel: String, bLabel: String): DataFrame = {
    // pinned: both sides' degree censuses read the distinct pair frame
    // (the q53 pattern, plan-audit sweep round 15). Width-pinned before
    // the distinct (r20, the Dedup.wideBy rationale): the fact-sized
    // dedup is CPU-bound on small bytes and byte-targeted AQE
    // coalescing serialized it (1.8 s → 1.1 s measured in the pf A/B).
    val pairs = graft.ops.Dedup.wideBy(
        df.select(col(aCol), col(bCol)), col(aCol), col(bCol))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def side(key: String, label: String) = pairs
      .groupBy(col(key)).agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .select(lit(label).as("side"), col("degree"), col("n_nodes"))
    side(aCol, aLabel).unionByName(side(bCol, bLabel))
      .orderBy("side", "degree")
  }

  /** Benford first-digit census over a positive integer column: the
    * observed permille share of each leading digit next to Benford's
    * log₁₀(1 + 1/d) expectation — the standard forensic screen for
    * fabricated or uniformly-generated amounts. The expectation is
    * computed per digit (one ln ratio, ×10³, rounded — deterministic
    * IEEE both engines); the comparison is the reader's.
    *
    * Scale shape: leading digit is a scan-stage string projection;
    * the census is 9 rows after one partial agg; the total joins back
    * as a 1-row broadcast.
    */
  def benfordCensus(df: DataFrame, valueCol: String): DataFrame = {
    val d = df.filter(col(valueCol) > 0)
      .select(substring(col(valueCol).cast("string"), 1, 1)
        .cast("long").as("digit"))
    val tot = d.agg(count(lit(1)).as("__tot"))
    d.groupBy("digit").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("n * 1000 div __tot").as("share_permille"),
        expr("cast(round(1000 * ln(1.0d + 1.0d / digit) / ln(10.0d))" +
          " as bigint)").as("benford_permille"))
      .orderBy("digit")
  }

  /** Sequence-gap census: per key, is the sequence column EXACTLY
    * 1..n — the event-log integrity audit ("did we drop or double-ship
    * any line of any order") that fkIntegrityAudit (between tables) and
    * fdCensus (within columns) don't cover: within-key ordinal
    * completeness. Each key classifies into exactly one of three bins —
    * `dup` if any sequence value repeats (distinct < count), `gapped`
    * if values are distinct but not the 1..n prefix (min ≠ 1 or
    * max ≠ n), `ok` otherwise — reported per sequence length so a
    * 100 TB run sees WHERE the corruption concentrates (long orders vs
    * short), not just that it exists; zero dup/gapped rows IS the
    * audit's pass state (the fk_integrity posture).
    *
    * Scale shape: one keyed partial agg over the fact scan (count, min,
    * max collapse map-side; the distinct-count is a two-level agg on
    * (key, seq) — still keyed, never global); the census folds |keys|
    * rows to ≤ max-sequence-length rows in a second partial agg. No
    * window, no join.
    */
  def sequenceGapCensus(df: DataFrame, keyCol: String,
                        seqCol: String): DataFrame = {
    val per = df
      .groupBy(col(keyCol).as("__k"))
      .agg(count(lit(1)).as("n"),
        min(col(seqCol).cast("long")).as("mn"),
        max(col(seqCol).cast("long")).as("mx"),
        countDistinct(col(seqCol)).as("d"))
    per.groupBy(col("n").as("seq_len"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("d") === col("n") && col("mn") === 1L &&
          col("mx") === col("n"), 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("d") < col("n"), 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("d") === col("n") &&
          !(col("mn") === 1L && col("mx") === col("n")), 1L)
          .otherwise(0L)).as("n_gapped"))
      .orderBy("seq_len")
  }

  /** Partitioning-invariance audit: the SAME word-count census run at
    * two explicitly different partitionings, each folded to an
    * order-insensitive (n_words, checksum) row — the engine law every
    * result in this library leans on ("a pure function of the data,
    * not of the cluster"), demonstrated under the driver's oracle
    * rather than asserted in scaladoc. Both rows must equal the
    * oracle's single census: a partition-count-dependent result (a
    * nondeterministic UDF, an order-sensitive accumulation, a
    * collect_list fold) is a hash mismatch here before it is a silent
    * wrong answer at 1000 executors.
    *
    * Scale shape: two passes of the q11 shuffle at different widths;
    * the audit is a harness device — run it when promoting an operator,
    * not per-batch.
    */
  def partitioningInvarianceAudit(documents: DataFrame,
                                  partsA: Int = 7,
                                  partsB: Int = 32): DataFrame = {
    require(partsA != partsB && partsA >= 1 && partsB >= 1,
      "need two different positive partition counts")
    def census(parts: Int) = documents.repartition(parts)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_words"),
        sum(rowDigest(Seq("w", "n")).cast("decimal(38,0)"))
          .cast("string").as("checksum"))
      .select(lit(parts.toLong).as("parts"), col("n_words"),
        col("checksum"))
    census(partsA).unionByName(census(partsB)).orderBy("parts")
  }

  /** Mann–Whitney U rank-sum test between two groups' value
    * distributions — the NONPARAMETRIC two-sample test next to q300's
    * KS (KS asks "do the ECDFs differ anywhere", U asks "does one
    * group stochastically dominate") and q319's z (which needs a
    * binary outcome). Integer-exact by the q299 doubling device:
    * average tie ranks double to 2p + c + 1 (p = rows before the
    * value, c = its tie count), so R2x and U2x = R2x − n_a(n_a+1) are
    * exact integers; the normal-approximation z (no tie correction —
    * the basic form, stated) is one fixed-shape IEEE expression over
    * them (variance of U2x is n_a·n_b·(n+1)/3), q6-quantized.
    *
    * Scale shape: one value-census partial agg (domain-bounded), one
    * census-sized global-order window (the q108 aggregated-window
    * posture), a single-row fold.
    */
  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String,
                  groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "need two distinct groups")
    val cens = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(valueCol).cast("long").as("__v"))
      .groupBy("__v")
      .agg(coalesce(sum(when(col("__g") === groupA, 1L)), lit(0L))
        .as("__ca"),
        coalesce(sum(when(col("__g") === groupB, 1L)), lit(0L))
          .as("__cb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("__v")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    cens
      .withColumn("__p", coalesce(sum(col("__ca") + col("__cb")).over(w),
        lit(0L)))
      .agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"),
        // promote BEFORE the product: ca · (2p + …) passes int64 at
        // cluster scale (p is the running row count)
        sum(col("__ca").cast("decimal(38,0)") *
          (lit(2L) * col("__p") + col("__ca") + col("__cb") + 1L))
          .as("r2x_a"))
      .select(col("n_a"), col("n_b"),
        expr("cast(r2x_a - cast(n_a as decimal(38,0)) * (n_a + 1)" +
          " as string)").as("u2x"),
        expr("""cast(round(1000000 * (cast(r2x_a -
          cast(n_a as decimal(38,0)) * (n_a + 1) -
          cast(n_a as decimal(38,0)) * n_b as double) /
          nullif(sqrt(cast(cast(n_a as decimal(38,0)) * n_b *
          (n_a + n_b + 1) as double) / 3.0d), 0d))) as bigint)""")
          .as("z_q6"))
  }

  /** 2D Mahalanobis outlier ranking over quantized embedding dims —
    * the MULTIVARIATE anomaly view (q139's MAD and q93's winsorizing
    * are per-axis; a point can be unremarkable on both axes yet far
    * off the correlation ridge). Everything is denominator-cleared
    * exact integers until one fixed-shape IEEE division: with
    * Δ = n·x − Σx (n× the centered point) and C = n²·cov entries
    * (n·Σxx − (Σx)² etc.), d² = (Δx²·Cyy − 2ΔxΔy·Cxy + Δy²·Cxx)/det —
    * algebraically the true Mahalanobis d², no /n anywhere. The factor
    * products run in DOUBLE (they pass 38 digits at cluster scale)
    * over exact decimal(38,0)/HUGEINT factors, same shape both engines
    * (q285 discipline), q6-quantized; top-k by (d², vec_id).
    *
    * Scale shape: one global partial agg to six numbers (1-row
    * broadcast), one scan-stage expression, TakeOrderedAndProject(k).
    */
  def mahalanobisOutliers(embeddings: DataFrame,
                          topK: Int = 10): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    def code(i: Int) = expr(
      s"""cast(least(greatest(round(
         cast(element_at(embedding, $i) as double) * 127),
         -127), 127) as long)""")
    val pts = embeddings.select(col("vec_id"),
      code(1).as("x"), code(2).as("y"))
    val g = pts.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
      sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
      sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
    pts.crossJoin(broadcast(g))
      .select(col("vec_id"),
        expr("""cast(round(1000000 * (
          ((cast(n * x - sx as double)) * (cast(n * x - sx as double)) *
             cast(n * syy - sy * sy as double) -
           2.0d * (cast(n * x - sx as double)) *
             (cast(n * y - sy as double)) *
             cast(n * sxy - sx * sy as double) +
           (cast(n * y - sy as double)) * (cast(n * y - sy as double)) *
             cast(n * sxx - sx * sx as double)) /
          nullif(cast(n * sxx - sx * sx as double) *
                 cast(n * syy - sy * sy as double) -
                 cast(n * sxy - sx * sy as double) *
                 cast(n * sxy - sx * sy as double), 0d)))
          as bigint)""").as("d2_q6"))
      .orderBy(col("d2_q6").desc, col("vec_id"))
      .limit(topK)
  }

  /** Cohen's kappa between two boolean raters — chance-corrected
    * agreement, the model-eval number a raw percent-agreement census
    * overstates whenever both raters say "yes" most of the time (the
    * inter-annotator readout for q92-style quality rules before one is
    * trusted to filter a corpus). κ = (N·a − e)/(N² − e) with
    * a = n11 + n00 and e = r1·c1 + r0·c0 — cleared denominators, every
    * ingredient an exact integer from ONE conditional partial agg; a
    * single fixed-shape IEEE division, q6-quantized.
    */
  def cohensKappa(df: DataFrame, raterA: String,
                  raterB: String): DataFrame = {
    df.select(col(raterA).cast("boolean").as("a"),
        col(raterB).cast("boolean").as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        // every product promotes to decimal(38,0)/HUGEINT FIRST —
        // n·n alone passes int64 at cluster scale
        expr("""cast(round(1000000 * (cast(
          cast(n as decimal(38,0)) * (n11 + n00) -
          (cast(n11 + n10 as decimal(38,0)) * (n11 + n01) +
           cast(n01 + n00 as decimal(38,0)) * (n10 + n00))
          as double) / nullif(cast(
          cast(n as decimal(38,0)) * n -
          (cast(n11 + n10 as decimal(38,0)) * (n11 + n01) +
           cast(n01 + n00 as decimal(38,0)) * (n10 + n00))
          as double), 0d))) as bigint)""").as("kappa_q6"))
  }

  /** Fleiss' kappa: chance-corrected agreement among n ≥ 2 raters
    * assigning N subjects to k categories (Fleiss, "Measuring nominal
    * scale agreement among many raters", Psych. Bulletin 1971) — the
    * multi-rater completion of q329's two-rater Cohen's kappa. In an
    * LLM-data pipeline the "raters" are labeling heuristics or model
    * ensemble members; kappa near 0 says the ensemble's agreement is
    * what chance predicts — majority-voting it adds nothing.
    *
    * Exact sufficient statistics (all integer partial aggs): per-subject
    * Σ_j n_ij² (a2 summed), category totals Σ_j c_j² (b2), subject and
    * rater counts. P̄ = (a2 − N·n)/(N·n·(n−1)), P̄_e = b2/(N·n)², κ =
    * (P̄ − P̄_e)/(1 − P̄_e) — evaluated as ONE fixed-shape IEEE expression
    * over the exact integers (the cohensKappa q6 device), so both
    * engines compute bit-identical doubles. NULL when raters are unequal
    * across subjects (Fleiss is undefined there), when n < 2, or when
    * P̄_e = 1 (a single used category saturates chance agreement).
    *
    * Scale shape: two keyed partial aggs ((subject, category) then
    * subject; category totals ride the same scan) folded to one row;
    * the crossJoin is two 1-row frames.
    */
  def fleissKappa(labels: DataFrame, subjectCol: String, raterCol: String,
                  categoryCol: String): DataFrame = {
    val nij = labels
      .groupBy(col(subjectCol).as("__s"), col(categoryCol).as("__c"))
      .agg(count(lit(1)).as("nij"))
    val per = nij.groupBy("__s")
      .agg(sum("nij").as("n"), sum(expr("nij * nij")).as("s2"))
    val a = per.agg(count(lit(1)).as("ns"), min("n").as("n_min"),
      max("n").as("n_max"), sum("s2").as("a2"))
    val b = nij.groupBy("__c").agg(sum("nij").as("cj"))
      .agg(sum(expr("cast(cj as decimal(38,0)) * cj")).as("b2"))
    a.crossJoin(b)
      .withColumn("__ok",
        col("n_min") === col("n_max") && col("n_min") >= 2)
      .withColumn("__pbar", when(col("__ok"), expr(
        "cast(a2 - cast(ns as decimal(38,0)) * n_min as double) / " +
          "cast(cast(ns as decimal(38,0)) * n_min * (n_min - 1) " +
          "as double)")))
      .withColumn("__pe", when(col("__ok"), expr(
        "cast(b2 as double) / " +
          "cast(cast(ns as decimal(38,0)) * n_min * ns * n_min " +
          "as double)")))
      .select(col("ns").as("n_subjects"),
        when(col("__ok"), col("n_min")).as("n_raters"),
        expr("cast(round(1000000 * __pbar) as bigint)").as("pbar_q6"),
        expr("cast(round(1000000 * __pe) as bigint)").as("pe_q6"),
        expr("cast(round(1000000 * (__pbar - __pe) / " +
          "nullif(1 - __pe, 0d)) as bigint)").as("kappa_q6"))
  }

  /** Split-conformal coverage audit: the distribution-free prediction-
    * interval gate (Vovk's split conformal; Lei et al., JASA 2018) run
    * as a query. A deterministic md5 slice of the corpus is the
    * CALIBRATION set; q̂ is its ⌈(1−α)(n+1)⌉-th smallest nonconformity
    * (an exact order statistic — no libm quantile), and the audit
    * reports the EVAL slice's achieved coverage of {r ≤ q̂}. The
    * guarantee is marginal coverage ≥ 1−α in expectation over splits —
    * this query shows the realized number, which is how a production
    * filter-with-abstention budget is actually set ("reject documents
    * whose residual exceeds q̂; expect ≤ α of clean traffic rejected").
    *
    * Exactness: the calibration split is the id-pure md5 device, the
    * order statistic is a two-pass sharded rank (k comes from one
    * bounded count — the shardedRanksWithTotal total), and coverage is
    * cleared-denominator integer division. NULL-residual rows are the
    * caller's to handle; `alphaPm` is α in permille.
    *
    * Scale shape: one sharded rank over the CALIBRATION slice, a 1-row
    * broadcast of q̂, and one partial agg over the eval slice.
    */
  def conformalCoverage(df: DataFrame, idCol: String, residCol: String,
                        calPermille: Int = 500,
                        alphaPm: Int = 100): DataFrame = {
    require(calPermille >= 1 && calPermille <= 999,
      "calPermille must split both ways")
    require(alphaPm >= 1 && alphaPm <= 999, "alphaPm in [1, 999]")
    val base = df
      .select(col(idCol), col(residCol).cast("long").as("__r"))
      .withColumn("__bkt", graft.ops.Sampling.splitBucket(col(idCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cal = base.filter(col("__bkt") < calPermille)
      .select(col(idCol), col("__r"))
    val (ranked, nCal) = graft.ops.Layout.shardedRanksWithTotal(
      cal, Seq("__r", idCol))
    val k = ((1000L - alphaPm) * (nCal + 1) + 999L) / 1000L
    require(k <= nCal,
      s"calibration slice too small: need ⌈(1−α)(n+1)⌉ = $k ≤ n = $nCal")
    val qhat = ranked.filter(col("rnk") === k)
      .select(col("__r").as("qhat"))
    val eval = base.filter(col("__bkt") >= calPermille)
    // fail fast on an empty eval slice (r17 ADVICE): the global agg
    // below would emit one row (n_eval = 0, NULL qhat/cover_pm) while
    // a GROUP-BY oracle over the same empty slice emits zero rows —
    // refuse the degenerate audit instead, mirroring the k ≤ nCal
    // require above (base is already persisted, so this probe is a
    // limit-1 scan of the cache, not a second pass over the source)
    require(!eval.isEmpty,
      s"eval slice is empty: calPermille=$calPermille leaves no eval rows")
    eval
      .crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("n_eval"),
        max(col("qhat")).as("qhat"),
        expr("cast(sum(case when __r <= qhat then 1000 else 0 end)" +
          " as decimal(38,0)) div count(1)").cast("long")
          .as("cover_pm"))
      .select(lit(nCal).as("n_cal"), lit(k).as("k"), col("qhat"),
        col("n_eval"), col("cover_pm"))
  }

  /** Approximate-percentile AUDIT — Spark's `percentile_approx`
    * (KLL/GK-family sketch) pinned against its own rank-error contract,
    * the q242/q176 in-artifact-bound device: the estimate is
    * engine-private (partition-merge order can legally move it within
    * the bound), so the estimate never ships — the BOUND is the
    * contract. Per (group, p): the exact lower-percentile value from
    * the value census (min v with cum·1000 ≥ p·n — integer-exact on
    * both engines) and `approx_ok` = whether the sketch's value covers
    * a rank within n/accuracy of the target (±1 value-run slack on
    * each side, since the sketch returns an actual data point whose
    * rank is an interval [n_lt+1, n_le]) — deterministically TRUE
    * while the sketch honors its published guarantee, so a regression
    * is a driver hash mismatch. Comparisons are decimal(38,0)-promoted
    * BEFORE the p·n·accuracy products (int64 passes at corpus scale).
    *
    * Scale shape: the exact leg is one value census + census-sized
    * window (the q300 posture); the audited leg is one sketch pass
    * (driver state ∝ accuracy, never n); output |groups|·|ps| rows.
    */
  def approxPercentileAudit(df: DataFrame, groupCol: String,
                            valCol: String,
                            psPm: Seq[Int] = Seq(500, 900, 990),
                            accuracy: Int = 10000): DataFrame = {
    require(psPm.nonEmpty && psPm.forall(p => p >= 1 && p <= 999),
      "percentiles are permille in [1, 999]")
    require(accuracy >= 1, "accuracy must be >= 1")
    val ps = psPm.distinct.sorted
    val base = df
      .select(col(groupCol).as("grp"), col(valCol).cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("__v")
      .rowsBetween(Long.MinValue, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    val cum = base.groupBy("grp", "__v").agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum("__c").over(w))
      .withColumn("__n", sum("__c").over(wAll))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exact = cum
      .withColumn("p_pm", explode(typedLit(ps)))
      // decimal-promoted (the oracle's sum() is already HUGEINT): a
      // 9.2e15-row group would overflow cum·1000 in int64
      .filter(expr("cast(__cum as decimal(38,0)) * 1000 >= " +
        "cast(p_pm as decimal(38,0)) * __n"))
      .groupBy("grp", "p_pm")
      .agg(min("__v").as("exact_val"), max("__n").as("n"))
    val apx = base.groupBy("grp")
      .agg(percentile_approx(col("__v"),
        typedLit(ps.map(_ / 1000.0)), lit(accuracy)).as("__apx"))
      .select(col("grp"), posexplode(col("__apx")).as(Seq("__i", "__av")))
      .withColumn("p_pm", element_at(typedLit(ps), col("__i") + 1))
      .select(col("grp"), col("p_pm"), col("__av"))
    val ranks = apx.join(cum, Seq("grp"))
      .groupBy("grp", "p_pm")
      .agg(coalesce(max(when(col("__v") <= col("__av"), col("__cum"))),
          lit(0L)).as("__nle"),
        coalesce(max(when(col("__v") < col("__av"), col("__cum"))),
          lit(0L)).as("__nlt"))
    exact.join(ranks, Seq("grp", "p_pm"))
      .select(col("grp").as(groupCol),
        col("p_pm").cast("long").as("p_pm"),
        col("n"), col("exact_val"),
        // [n_lt+1, n_le] must intersect p·n/1000 ± n/accuracy (±1):
        // cleared to integer products, decimal-promoted
        (expr(s"cast(__nle as decimal(38,0)) * 1000 * $accuracy") >=
          expr(s"cast(p_pm as decimal(38,0)) * n * $accuracy" +
            s" - 1000 * cast(n as decimal(38,0))" +
            s" - 1000L * $accuracy") &&
          expr(s"cast(__nlt as decimal(38,0)) * 1000 * $accuracy") <=
          expr(s"cast(p_pm as decimal(38,0)) * n * $accuracy" +
            s" + 1000 * cast(n as decimal(38,0))" +
            s" + 1000L * $accuracy")).as("approx_ok"))
      .orderBy(groupCol, "p_pm")
  }

  /** Mondrian (group-conditional) split-conformal coverage: one q̂ PER
    * GROUP from each group's own calibration order statistic (Vovk's
    * Mondrian construction) — the fix for exactly the failure mode the
    * marginal gate (conformalCoverage) tolerates: a global q̂ can cover
    * 95% overall while covering 60% of one source and 99% of another;
    * per-source thresholds make the abstention budget valid PER SOURCE,
    * which is how a mixed-corpus filter must be tuned.
    *
    * Same exactness devices as the marginal form — md5 calibration
    * split, sharded GROUP ranks (no global window), per-group
    * k = ⌈(1−α)(n_grp+1)⌉ selected row-wise, cleared-denominator
    * coverage. Groups whose calibration slice cannot support α (k >
    * n_grp) surface with NULL qhat and NULL coverage rather than a
    * silently-borrowed global threshold.
    *
    * Scale shape: one sharded group rank over the calibration slice, a
    * |groups|-row broadcast of thresholds, one keyed eval partial agg.
    * `groupCol` must be low-cardinality (the shardedGroupRanks
    * contract; sources are).
    */
  def mondrianConformalCoverage(df: DataFrame, idCol: String,
                                groupCol: String, residCol: String,
                                calPermille: Int = 500,
                                alphaPm: Int = 100): DataFrame = {
    require(calPermille >= 1 && calPermille <= 999,
      "calPermille must split both ways")
    require(alphaPm >= 1 && alphaPm <= 999, "alphaPm in [1, 999]")
    val base = df
      .select(col(idCol), col(groupCol),
        col(residCol).cast("long").as("__r"))
      .withColumn("__bkt", graft.ops.Sampling.splitBucket(col(idCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cal = base.filter(col("__bkt") < calPermille)
      .select(col(idCol), col(groupCol), col("__r"))
    val ranked = graft.ops.Layout.shardedGroupRanks(
      cal, groupCol, Seq("__r", idCol))
    val kExpr = expr(s"(${1000L - alphaPm} * (n_grp + 1) + 999) div 1000")
    val qhat = ranked
      .filter(col("rnk") === kExpr)
      .select(col(groupCol), kExpr.as("k"), col("__r").as("qhat"))
    // thresholds table: every calibrated group, with NULL k/qhat where
    // the slice cannot support alpha (k > n_grp selects no row)
    val thr = cal.groupBy(groupCol).agg(count(lit(1)).as("n_cal"))
      .join(qhat, Seq(groupCol), "left")
    base.filter(col("__bkt") >= calPermille)
      .join(broadcast(thr), Seq(groupCol), "left")
      .groupBy(groupCol)
      .agg(coalesce(max("n_cal"), lit(0L)).as("n_cal"),
        max("k").as("k"), max("qhat").as("qhat"),
        count(lit(1)).as("n_eval"),
        when(max(col("qhat")).isNotNull,
          expr("cast(sum(case when __r <= qhat then 1000 else 0 end)" +
            " as decimal(38,0)) div count(1)").cast("long"))
          .as("cover_pm"))
      .orderBy(groupCol)
  }

  /** Coarsened-exact-matching stratum table (Iacus, King & Porro,
    * "Causal Inference without Balance Checking", Political Analysis
    * 2012): rows stratify on a coarse covariate bin, strata missing
    * either a treated or a control row are DROPPED (that is the
    * matching), and each matched stratum reports its exact
    * treated-vs-control outcome difference. The curation question this
    * answers: "does source X really produce worse documents, or is it
    * just longer/shorter ones?" — the stratum table is the
    * confound-controlled readout the raw per-source mean cannot give
    * (exactly the q314 Simpson's-paradox failure mode, addressed by
    * matching instead of slope comparison).
    *
    * Exactness: per-stratum sums/counts are integer partial aggs; the
    * difference clears denominators before one integer division
    * (diff_q6 = 10⁶·(sum_t·n_c − sum_c·n_t) div (n_t·n_c), decimal-
    * promoted products, truncation-toward-zero in both engines — the
    * LinearProbe-verified negative-division contract).
    *
    * Scale shape: ONE keyed partial agg on the bin + a |strata|-row
    * filter/projection. No window, no join.
    */
  def cemStrataDiff(df: DataFrame, binCol: String, treatCol: String,
                    outcomeCol: String): DataFrame = {
    val t = col(treatCol).cast("long")
    val y = col(outcomeCol).cast("long")
    df.groupBy(col(binCol).as("bin"))
      .agg(sum(t).as("n_treat"),
        sum(lit(1L) - t).as("n_ctrl"),
        sum(y * t).as("__sum_t"),
        sum(y * (lit(1L) - t)).as("__sum_c"))
      .filter(col("n_treat") > 0 && col("n_ctrl") > 0)
      .select(col("bin"), col("n_treat"), col("n_ctrl"),
        expr("cast((cast(__sum_t as decimal(38,0)) * n_ctrl - " +
          "cast(__sum_c as decimal(38,0)) * n_treat) * 1000000 div " +
          "(cast(n_treat as decimal(38,0)) * n_ctrl) as bigint)")
          .as("diff_q6"))
      .orderBy("bin")
  }

  /** k-anonymity / l-diversity census over quasi-identifier columns:
    * rows group into QI equivalence classes; a class smaller than `k`
    * re-identifies its members, and a class whose SENSITIVE column
    * takes fewer than `l` distinct values discloses the attribute even
    * at size ≥ k — the two standard release-gate numbers for sharing a
    * training table (the privacy companion to the q231 PII census:
    * q231 finds values that shouldn't ship, this measures whether the
    * ROWS can ship at all). One row out: totals, at-risk row/class
    * counts, low-diversity class count — zero in the risk columns IS
    * the release condition.
    *
    * Scale shape: one keyed partial agg on the QI tuple (count +
    * distinct-sensitive, the fdCensus two-level shape), one fold to a
    * single row. No window, no join.
    */
  def kAnonymityCensus(df: DataFrame, qiCols: Seq[String],
                       sensCol: String, k: Long = 5L,
                       l: Long = 3L): DataFrame = {
    require(qiCols.nonEmpty, "name the quasi-identifier columns")
    require(k >= 1 && l >= 1, "k and l must be >= 1")
    val per = df
      .groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensCol)).as("d"))
    per.agg(
      sum(col("n")).as("n_rows"),
      count(lit(1)).as("n_classes"),
      sum(when(col("n") < k, col("n")).otherwise(0L)).as("rows_at_risk"),
      sum(when(col("n") < k, 1L).otherwise(0L)).as("small_classes"),
      sum(when(col("d") < l, 1L).otherwise(0L)).as("low_div_classes"))
  }

  /** Pearson chi-square test of independence over a two-way
    * contingency table — the 2D completion of the inference set (q241
    * SRM is the 1D uniformity special case; q314 audits slopes, this
    * audits CATEGORICAL association): are the two columns distributed
    * independently? Every R×C cell participates, INCLUDING empty ones
    * (a zero cell still contributes its full expectation E — dropping
    * them understates χ², the classic bug), via a levels cross of the
    * two margins left-joined to the observed cells.
    *
    * Exactness: the per-cell numerator O·N − r·c is an exact
    * decimal(38,0)/HUGEINT; each term squares it in DOUBLE (the square
    * would pass 38 digits at cluster scale) over the exact N·r·c in
    * one fixed-shape IEEE expression (q285 discipline), q6-quantizes,
    * and the χ² fold is an order-free integer sum (q305 device).
    *
    * Scale shape: one keyed partial agg for cells, two margin aggs, a
    * levels cross bounded by the two domains (broadcast — levels are
    * category-bounded by contract), one fold to a single row.
    */
  def chiSquareIndependence(df: DataFrame, rowCol: String,
                            colCol: String): DataFrame = {
    val base = df.select(col(rowCol).cast("string").as("r"),
      col(colCol).cast("string").as("c"))
    val cells = base.groupBy("r", "c").agg(count(lit(1)).as("o"))
    val rm = base.groupBy("r").agg(count(lit(1)).as("rt"))
    val cm = base.groupBy("c").agg(count(lit(1)).as("ct"))
    val n = base.agg(count(lit(1)).as("n"))
    val grid = rm.crossJoin(broadcast(cm))
      .join(cells, Seq("r", "c"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(n))
      .select(expr("""cast(round(1000000 *
        ((cast(cast(o as decimal(38,0)) * n - cast(rt as decimal(38,0))
          * ct as double)) * (cast(cast(o as decimal(38,0)) * n -
          cast(rt as decimal(38,0)) * ct as double)) /
         (cast(n as double) * (cast(rt as double) * cast(ct as double)))))
        as bigint)""").as("term"))
    val counts = rm.agg(count(lit(1)).as("r_levels"))
      .crossJoin(broadcast(cm.agg(count(lit(1)).as("c_levels"))))
      .crossJoin(broadcast(n))
    grid.agg(sum(col("term")).as("chi2_q6"))
      .crossJoin(broadcast(counts))
      .select(col("n"), col("r_levels"), col("c_levels"),
        ((col("r_levels") - 1) * (col("c_levels") - 1)).as("dof"),
        col("chi2_q6"))
  }

  /** Simpson's-paradox audit: the OLS slope of y on x within every
    * group next to the pooled slope, with a reversal flag where the
    * within-group trend and the aggregate trend point in OPPOSITE
    * directions — the one-query answer to "is this correlation an
    * artifact of pooling" that a per-group Pearson (q230/q299) alone
    * can't give. The reversal decision compares EXACT integer slope
    * numerators n·Σxy − Σx·Σy (decimal(38,0)/HUGEINT — the q299
    * discipline), never the rounded doubles, so the flag has no
    * boundary noise; slope_q6 is the human-readable rounding of the
    * same integers (denominator n·Σxx − (Σx)² ≥ 0 always, so the
    * numerator alone carries the sign). Zero-variance sides report
    * NULL slope and a false flag.
    *
    * Scale shape: one keyed partial agg for the groups, one global
    * partial agg for the pool (a 1-row broadcast crossJoin); output is
    * |groups| rows. No window, no per-row join.
    */
  def simpsonSlopeAudit(df: DataFrame, groupCol: String,
                        xCol: String, yCol: String): DataFrame = {
    val base = df.select(col(groupCol).cast("string").as("grp"),
      col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
    def stats(g: org.apache.spark.sql.RelationalGroupedDataset) = g.agg(
      count(lit(1)).as("n"),
      sum(col("__x").cast("decimal(38,0)")).as("sx"),
      sum(col("__y").cast("decimal(38,0)")).as("sy"),
      sum((col("__x") * col("__y")).cast("decimal(38,0)")).as("sxy"),
      sum((col("__x") * col("__x")).cast("decimal(38,0)")).as("sxx"))
    val per = stats(base.groupBy("grp"))
      .withColumn("num", expr("n * sxy - sx * sy"))
      .withColumn("den", expr("n * sxx - sx * sx"))
    val pooled = stats(base.groupBy())
      .select(expr("n * sxy - sx * sy").as("p_num"),
        expr("n * sxx - sx * sx").as("p_den"))
    def slopeQ6(num: String, den: String) = expr(
      s"""cast(round(1000000 * cast($num as double) /
         nullif(cast($den as double), 0d)) as bigint)""")
    per.crossJoin(broadcast(pooled))
      .select(col("grp"), col("n"),
        slopeQ6("num", "den").as("slope_q6"),
        slopeQ6("p_num", "p_den").as("pooled_slope_q6"),
        (col("den") > 0 && col("p_den") > 0 &&
          ((col("num") < 0 && col("p_num") > 0) ||
           (col("num") > 0 && col("p_num") < 0))).as("reversed"))
      .orderBy("grp")
  }

  /** Observation-API scan census (q392): metrics collected DURING a
    * query via `Dataset.observe` — count, exact integer cents sum, and
    * null count ride the existing scan as accumulator-backed
    * expressions, costing ZERO extra passes — then surfaced as a 1-row
    * frame. This is how a 100 TB pipeline gets row-count/invariant
    * checks on every production run without doubling its I/O: the
    * observation piggybacks the job the pipeline already runs (here a
    * small downstream aggregate stands in for it). The oracle computes
    * the same census with a plain aggregate, pinning the observed
    * values as EXACT — integer metrics only, so accumulator merge
    * order cannot wobble a bit.
    */
  def observedScanCensus(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    val obs = org.apache.spark.sql.Observation()
    val observed = lineitem.observe(obs,
      count(lit(1)).as("n_rows"),
      sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
        .as("price_cents"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L))
        .as("n_null_ship"))
    // the pipeline's own job — any action drains the metrics; a count
    // keeps the stand-in honest (every row flows past the observer)
    observed.count()
    val m = obs.get
    import spark.implicits._
    Seq((m("n_rows").asInstanceOf[Long],
      m("price_cents").asInstanceOf[Long],
      m("n_null_ship").asInstanceOf[Long]))
      .toDF("n_rows", "price_cents", "n_null_ship")
  }
}
