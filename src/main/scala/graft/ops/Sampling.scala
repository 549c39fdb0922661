package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / split assignment for training-data pipelines.
  *
  * The reference has no sampling surface; this is part of the
  * LLM-data-pipeline extension (SURVEY §2.9 family). The operation every
  * corpus pipeline needs before training: carve train/val/test so that
  * (a) the assignment is a pure function of the row's id — re-running the
  * pipeline, adding executors, or switching engines never reshuffles the
  * split (no RNG state, no row order dependence), and (b) a given id lands
  * in the same split even as the corpus grows (new ids fill in around it).
  *
  * Mechanics: bucket = first 4 hex digits of md5(id as string) as an
  * integer (uniform over [0, 65536), folded to [0, 1000)), then cumulative
  * fraction thresholds in per-mille. md5-of-decimal-string is chosen over
  * xxhash64/crc32 precisely because it is engine-portable — DuckDB,
  * Postgres, Python all produce the identical bucket, so the split can be
  * reproduced (and audited) outside Spark. A narrow codegen'd projection:
  * no shuffle, no UDF, scan-speed at 100 TB.
  */
object Sampling {

  /** The [0, 1000) per-mille bucket for an id column. */
  def splitBucket(id: Column): Column =
    (conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("int") % 1000)

  /** Adds a `split` column assigning each row to one of `fractions`'
    * labels. Fraction values are per-unit (must sum to ≤ 1.0 within 1e-9;
    * any remainder goes to the LAST label, so (0.8, 0.1, 0.1) is exact).
    * Fractions are resolved at per-mille granularity — quantization error
    * ≤ 0.001, which is noise against the sampling variance of any real
    * corpus split.
    */
  def deterministicSplit(df: DataFrame, idCol: String,
                         fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty, "at least one split label required")
    require(fractions.map(_._2).forall(f => f >= 0 && f <= 1),
      "fractions must be in [0, 1]")
    require(fractions.map(_._2).sum <= 1.0 + 1e-9,
      "fractions must sum to at most 1")
    val bucket = splitBucket(col(idCol))
    // cumulative per-mille upper bounds; last label absorbs the remainder
    val bounds = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.round(c * 1000).toInt)
    val assign = fractions.init.map(_._1).zip(bounds.init)
      .foldRight(lit(fractions.last._1): Column) { case ((label, hi), rest) =>
        when(bucket < hi, label).otherwise(rest)
      }
    df.withColumn("split", assign)
  }

  /** Split-LEAKAGE audit: exact-duplicate content that STRADDLES the
    * train/val/test boundary. `deterministicSplit` is keyed on the id, so
    * two byte-identical documents with different ids can land in
    * different splits — and a test document whose text also sits in train
    * silently inflates eval scores. This is the audit a pipeline runs
    * BEFORE training: every content fingerprint (md5 of the same
    * `Text.normText` canonical form dedup uses) appearing in more than
    * one split, with the straddled split set and the duplicate count.
    * Empty result = leakage-free split. The remedy is group-coherent
    * splitting keyed on the FINGERPRINT (the q86 pattern with `fp` as the
    * group column) — this operator is how you discover you need it.
    *
    * Scale shape: one partial-agg groupBy on the 16-byte fingerprint
    * (text never shuffles — the fingerprint is computed in the scan
    * projection); leaked fingerprints are a tiny filtered tail of the
    * census. `splits` is emitted as a sorted CSV string, deterministic
    * and engine-portable.
    */
  def splitLeakage(documents: DataFrame, idCol: String, textCol: String,
                   fractions: Seq[(String, Double)]): DataFrame =
    deterministicSplit(documents, idCol, fractions)
      .select(md5(graft.ops.Text.normText(col(textCol)).cast("binary"))
        .as("fp"), col("split"))
      .groupBy("fp")
      .agg(count_distinct(col("split")).as("n_splits"),
        count(lit(1)).as("n_docs"),
        concat_ws(",", array_sort(collect_set(col("split")))).as("splits"))
      .filter(col("n_splits") > 1)
      .orderBy("fp")

  /** Keep a deterministic `rate` fraction of rows (per-mille
    * granularity): the same id is kept on every run, on every engine, and
    * its fate never changes as the corpus grows — `df.sample()`
    * guarantees none of those. The kept set at rate r and the kept set's
    * complement partition the corpus exactly, and a smaller rate's keep
    * set is a SUBSET of a larger one's (buckets are a fixed total order),
    * so nested subsamples — 1%, 10%, 100% runs of the same pipeline —
    * are possible without re-materializing anything.
    */
  def deterministicSample(df: DataFrame, idCol: String,
                          rate: Double): DataFrame = {
    require(rate >= 0 && rate <= 1, "rate must be in [0, 1]")
    df.filter(splitBucket(col(idCol)) < math.round(rate * 1000).toInt)
  }

  /** Stratified deterministic sampling: a per-stratum keep rate (strata
    * not in `rates` get `defaultRate`) — the corpus-mixing primitive
    * (keep 80% of English, 25% of everything else; rebalance domains;
    * downweight a crawl). Same md5 bucket as `deterministicSample`, so
    * all its guarantees carry over PER STRATUM: engine-portable,
    * growth-stable, and nested (raising one stratum's rate only ADDS
    * rows; every stratum's keep set is the global sample's restriction).
    * Still a pure codegen'd projection — the rate lookup is a CASE
    * chain, no shuffle, no join, scan-speed at corpus scale. The CASE
    * chain is right for the handful-of-strata case (languages, splits);
    * for thousands of strata (per-domain rates) use `stratifiedSampleDim`
    * — a broadcast `(stratum, permille)` dimension join — because
    * codegen'd comparisons don't scale to 10k-branch expressions.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       rates: Seq[(String, Double)],
                       defaultRate: Double = 0.0): DataFrame = {
    require((defaultRate +: rates.map(_._2)).forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    require(rates.map(_._1).distinct.length == rates.length,
      "duplicate stratum in rates")
    val permille = rates.foldRight(
        lit(math.round(defaultRate * 1000).toInt): Column) {
      case ((stratum, r), rest) =>
        when(col(stratumCol) === stratum,
          lit(math.round(r * 1000).toInt)).otherwise(rest)
    }
    df.filter(splitBucket(col(idCol)) < permille)
  }

  /** The many-strata form of `stratifiedSample`: per-stratum keep rates
    * arrive as a `(stratumCol, permille)` DATAFRAME broadcast-joined onto
    * the corpus — the per-domain mixing case (thousands to millions of
    * strata, typically fed by a domain census), where a CASE chain would
    * become a 10k-branch codegen'd expression. Same md5 bucket, so every
    * `deterministicSample` guarantee still holds per stratum; strata
    * absent from `rates` get `defaultPermille`. One broadcast hash join +
    * a codegen'd filter — no shuffle of the corpus, scan-speed at 100 TB
    * as long as the dimension fits a broadcast (millions of strata do).
    *
    * Rates are integer per-mille (0..1000), not doubles: the threshold
    * each engine applies is then a stored literal, never a rounding
    * decision — the dimension can be written once and read back by any
    * engine with identical keep sets. `rates` must carry one row per
    * stratum; a duplicated stratum would duplicate its rows in the output
    * (it multiplies the join), which is on the caller exactly as a
    * duplicated dimension key is in any star join.
    */
  def stratifiedSampleDim(df: DataFrame, idCol: String, stratumCol: String,
                          rates: DataFrame,
                          defaultPermille: Int = 0): DataFrame = {
    require(defaultPermille >= 0 && defaultPermille <= 1000,
      "defaultPermille must be in [0, 1000]")
    require(rates.columns.contains(stratumCol) &&
      rates.columns.contains("permille"),
      s"rates must have columns ($stratumCol, permille)")
    require(!df.columns.contains("graft_permille"),
      "input already has a graft_permille column")
    // in-plan range check (the CASE form validates its literal rates up
    // front; a DataFrame's contents can only be checked as they flow):
    // an out-of-range permille poisons the mix silently — fail loudly
    val checked = when(
      col("permille").cast("int").between(0, 1000),
      col("permille").cast("int")).otherwise(raise_error(concat(
        lit(s"stratifiedSampleDim: permille out of [0, 1000] for $stratumCol="),
        col(stratumCol).cast("string"))))
    val dim = broadcast(rates.select(col(stratumCol),
      checked.as("graft_permille")))
    df.join(dim, Seq(stratumCol), "left")
      .filter(splitBucket(col(idCol)) <
        coalesce(col("graft_permille"), lit(defaultPermille)))
      .drop("graft_permille")
      // the left join reorders columns (join key first); restore the
      // input's layout so the operator is a pure row filter to callers
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Absolute per-stratum cap: keep at most `n` rows per stratum — the
    * other half of corpus mixing (stratifiedSample scales proportionally;
    * a cap bounds a dominant domain/source outright). Which rows survive
    * is deterministic and engine-portable: rank in md5(id) order (hash
    * order — "random but stable", no bias toward low ids), id as the
    * tie-break, keep rank ≤ n. Re-running, repartitioning, or switching
    * engines keeps the same winners, and a grown corpus can only displace
    * losers, never reorder the existing hash order.
    *
    * Scale note: the rank is a window per stratum, so one dominant
    * stratum becomes one big sorted partition — acceptable because the
    * cap is applied ONCE per layout decision, not per query; if a single
    * stratum outgrows an executor, pre-filter with `deterministicSample`
    * to shrink the window's input first. The composition stays fully
    * deterministic and hash-unbiased, but note it picks the top-n of the
    * SAMPLED pool, not of the full stratum — the sample keeps md5-bucket
    * residues (`v % 1000 < T`), which is not a prefix of the md5 order
    * this rank sorts by.
    */
  def capPerStratum(df: DataFrame, idCol: String, stratumCol: String,
                    n: Int): DataFrame = {
    require(n >= 1, "cap must be >= 1")
    require(!df.columns.contains("graft_rank"),
      "input already has a graft_rank column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("graft_rank", row_number().over(w))
      .filter(col("graft_rank") <= n)
      .drop("graft_rank")
  }

  /** Token-budget cap per stratum: keep the longest md5-order prefix of
    * each stratum whose `tokenCol` total stays within `budget` — corpus
    * mixing when the unit that matters is TOKENS, not documents
    * (`capPerStratum` bounds row counts; a source of long documents blows
    * a token budget long before a row cap trips). Take-while semantics:
    * the running total INCLUDES skipped-over rows, so the kept set is
    * exactly a prefix of the stratum's hash order — a row's fate depends
    * only on the rows hashed before it, which makes the selection
    * engine-portable (same window, same integer cumsum anywhere) and
    * growth-stable the same way `capPerStratum`'s rank is. A single
    * document larger than the whole budget at the prefix head blocks its
    * stratum — by design: take-while, not best-fit (bin-packing here
    * would make every row's fate depend on global layout).
    *
    * Same scale posture as `capPerStratum`: one window per stratum,
    * applied once per layout decision; pre-shrink a dominant stratum with
    * `deterministicSample` if it outgrows an executor (then the budget
    * applies to the sampled pool's prefix, as documented there).
    */
  def capTokensPerStratum(df: DataFrame, idCol: String, stratumCol: String,
                          tokenCol: String, budget: Long): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    require(!df.columns.contains("graft_cum"),
      "input already has a graft_cum column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // in-plan non-negativity check (same posture as stratifiedSampleDim's
    // permille range check): a negative token count makes the cumsum
    // non-monotone, so the kept set would no longer be a hash-order
    // prefix — the documented take-while contract would break silently
    val checkedTok = when(col(tokenCol).cast("long") >= 0,
      col(tokenCol).cast("long")).otherwise(raise_error(concat(
        lit(s"capTokensPerStratum: negative $tokenCol for $idCol="),
        col(idCol).cast("string"))))
    df.withColumn("graft_cum", sum(checkedTok).over(w))
      .filter(col("graft_cum") <= budget)
      .drop("graft_cum")
  }

  /** Deterministic negative sampling for contrastive training: for each
    * anchor, the `k` candidates ranked first by `md5(anchor-cand)` among
    * candidates whose `excludeCol` differs from the anchor's (the
    * positive-group exclusion — same source, same cluster, same label).
    * The pair hash makes every anchor's negative set an independent
    * pseudo-random draw, yet a pure function of the ids: re-runs, engine
    * swaps, and corpus re-partitioning reproduce byte-identical batches.
    *
    * `poolPermille` pre-shrinks the candidate side by the same md5 bucket
    * as `deterministicSample` — THAT is the scale lever: the anchor ×
    * pool product is linear in |anchors| with a bounded broadcast pool,
    * instead of a quadratic blow-up against the full corpus. (With the
    * pool at a few thousand rows the exact per-anchor top-k is cheap;
    * growing the pool buys sampling diversity with compute, never
    * correctness.)
    */
  def negativeSample(anchors: DataFrame, candidates: DataFrame,
                     anchorIdCol: String, candIdCol: String,
                     excludeCol: String, k: Int,
                     poolPermille: Int = 1000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(poolPermille >= 1 && poolPermille <= 1000,
      "poolPermille must be in [1, 1000]")
    val pool = candidates
      .filter(splitBucket(col(candIdCol)) < poolPermille)
      .select(col(candIdCol), col(excludeCol).as("__cand_ex"))
    val a = anchors.select(col(anchorIdCol),
      col(excludeCol).as("__anchor_ex"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(anchorIdCol).orderBy(col("__h"), col(candIdCol))
    a.crossJoin(broadcast(pool))
      .filter(col("__anchor_ex") =!= col("__cand_ex"))
      .withColumn("__h", md5(concat(col(anchorIdCol).cast("string"),
        lit("-"), col(candIdCol).cast("string"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(anchorIdCol), col("rk"), col(candIdCol))
      .orderBy(anchorIdCol, "rk")
  }

  /** Class-balanced resampling to an exact per-stratum row target: small
    * strata are upsampled with replacement (each row gets ⌊target/n⌋
    * copies, the first `target mod n` rows in md5(id) order one more),
    * large strata are downsampled to the md5-order prefix — one formula,
    * `copies = target div n + [rn ≤ target mod n]`, covers both, and
    * every stratum lands on EXACTLY `target` rows. `copy_idx` numbers
    * the replicas so downstream shuffles can keep them distinct.
    *
    * The standard rebalance before training on a skewed label/language
    * mix. Deterministic end to end (hash order, integer arithmetic);
    * explode emits copies inline — no shuffle beyond the per-stratum
    * window's.
    */
  def balancedUpsample(df: DataFrame, idCol: String, stratumCol: String,
                       target: Long): DataFrame = {
    require(target >= 1, "target must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val n = org.apache.spark.sql.expressions.Window.partitionBy(stratumCol)
    df.withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(n))
      .withColumn("__copies",
        expr(s"${target}L div __n") +
          when(col("__rn") <= expr(s"${target}L % __n"), 1L).otherwise(0L))
      .filter(col("__copies") > 0)
      .withColumn("copy_idx", explode(sequence(lit(1L), col("__copies"))))
      .select(col(stratumCol), col(idCol), col("copy_idx"))
      .orderBy(stratumCol, idCol, "copy_idx")
  }

  /** Weighted sampling WITHOUT replacement, k rows per stratum —
    * Efraimidis–Spirakis A-Res keys, deterministic: each row draws the
    * reproducible uniform `u = (md5₃₂(id)+1) / (2³²+1)` (the `splitBucket`
    * device widened to 32 bits) and scores `key = ln(u) / w`; the k
    * LARGEST keys per stratum are distributed identically to k sequential
    * weighted draws without replacement. THE quality-weighted corpus
    * sampler: w = a quality/length score upweights the documents a
    * training mix should prefer, while staying auditable — any engine
    * recomputes the same u and the same QUANTIZED key.
    *
    * The key quantizes to q12 integers (round(key·10¹²)) BEFORE both the
    * ranking and the output. This is a FOUND divergence, not caution:
    * the raw-double form shipped through round 17 and its "ln is
    * bit-identical IEEE" claim is FALSE — libm ln is not required
    * correctly rounded, and at sf0.001 one input (doc 149) came back a
    * ulp apart between the JVM and DuckDB (…9605 vs …96049), caught by
    * the r18 all-scales parity sweep.
    *
    * The parity guarantee after quantization is PROBABILISTIC, not
    * absolute (r18 ADVICE): a 1-ulp ln wobble (relative ~2.2·10⁻¹⁶)
    * moves key·10¹² by |key|·2.2·10⁻⁴, so round() can still flip when
    * the true value lands within that distance of a .5 boundary —
    * per-row flip odds ≤ ~4·10⁻⁴·|key|·P(engines disagree on this ln),
    * i.e. rare at gate scale (zero across all three fixture scales) but
    * expected in the thousands over 10⁸ rows. The quantum is a
    * deliberate point on a trade-off curve, not a fix: coarser (q6)
    * would shrink flip odds 10⁶× but tie keys whose true gap is below
    * 10⁻⁶ — at large strata (gaps ~1/n) that collapses the E-S ranking
    * into id order; q12 keeps ties negligible to n ~ 10¹⁰ per stratum.
    * Ties at either quantum resolve on the id, identically in both
    * engines, so a tie is never a divergence — only a boundary flip is,
    * and a flip costs one swapped selection at the stratum's margin,
    * not a corrupted sample.
    *
    * Scale shape: the key is a codegen'd scan projection; selection is
    * one per-stratum top-k window (single key shuffle — the q73 stratum
    * cap's shape). Rows with non-positive weight are excluded by
    * definition (they can never be drawn).
    */
  def weightedSample(df: DataFrame, idCol: String, stratumCol: String,
                     weight: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") + 1.0) / 4294967297.0
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(col("skey_q12").desc, col(idCol).asc)
    df.filter(weight > 0)
      .withColumn("skey_q12",
        round(log(u) / weight.cast("double") * 1e12).cast("long"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(stratumCol), col(idCol), col("skey_q12"))
      .orderBy(stratumCol, idCol)
  }

  /** Data-mixing planner: given a token budget and per-source mixture
    * weights (empty = uniform), report for each source its token total,
    * its actual corpus share, the TARGET token allocation
    * `budget · w / Σw`, the sampling rate needed to hit it, and the epoch
    * count `⌈target / n_tokens⌉` (> 1 = the source repeats — the
    * oversampling a small high-weight source pays). This is the artifact
    * a pre-training run is configured from once the mixture is chosen
    * (the census feeding the choice is q122's divergence / q111's
    * novelty); rate > 1 flags an infeasible weight before any data moves.
    *
    * Every decision column is integer arithmetic (div / ceil-div of
    * exact token counts); `rate` is the exact rational target/n_tokens of
    * two integers — bit-identical cross-engine.
    *
    * Scale shape: one (source) aggregate of a scan-stage token count, an
    * S-row broadcast of the (Σw, Σtokens) totals, and S rows out — the
    * corpus is read once, nothing else scales with data.
    */
  /** Neyman minimum-variance stratified allocation: split a sample
    * budget B across strata ∝ N_h·σ_h (Neyman's classical optimum) —
    * the answer to "which sources deserve the audit-sample budget" that
    * proportional allocation (∝ N_h) gets wrong whenever strata differ
    * in spread: a high-variance source needs more draws per row to pin
    * its mean to the same precision. The sampling-side decision sibling
    * of `mixturePlan`'s token budget; emitted next to the proportional
    * column so the delta IS the variance argument.
    *
    * Engine-exact: per-stratum variance is the exact integer rational
    * (n·Σx² − (Σx)²)/(n·(n−1)) with decimal-promoted products; σ takes
    * ONE fixed-shape IEEE sqrt of that ratio and quantizes to σ·10³
    * (the q299 correctly-rounded-sqrt device), so the weight
    * w = N_h·σ_q3 is an exact integer, Σw is an order-free integer
    * sum, and both allocations are single integer divisions — no
    * double ever crosses an aggregation. Degenerate strata (n < 2) get
    * σ = 0 and Neyman allocation 0. The q331 unit rail applies: value
    * units must keep n·Σx² under 2⁵³ for the double conversion
    * (n_chars at corpus scale: quantize to KB first).
    *
    * Scale shape: one keyed partial agg (n, Σx, Σx²), a 1-row
    * broadcast of the totals, |strata| rows out.
    */
  def neymanAllocation(df: DataFrame, stratumCol: String,
                       valCol: String, budget: Long = 1000L): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    val per = df
      .select(col(stratumCol).as("__s"), col(valCol).cast("long").as("__x"))
      .filter(col("__x").isNotNull)
      .groupBy("__s")
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("cast(__x as decimal(38,0))")).as("__sx"),
        sum(expr("cast(__x as decimal(38,0)) * __x")).as("__sxx"))
      .withColumn("sigma_q3", when(col("n_rows") >= 2, expr(
        "cast(round(1000 * sqrt(" +
          "cast(n_rows * __sxx - __sx * __sx as double) / " +
          "cast(cast(n_rows as decimal(38,0)) * (n_rows - 1)" +
          " as double))) as bigint)"))
        .otherwise(lit(0L)))
      .withColumn("__w", expr("cast(n_rows as decimal(38,0)) * sigma_q3"))
    val tot = per.agg(
      coalesce(sum(col("__w")), lit(0).cast("decimal(38,0)")).as("__tw"),
      coalesce(sum(col("n_rows")), lit(1L)).as("__ntot"))
    per.crossJoin(broadcast(tot))
      .select(col("__s").as(stratumCol), col("n_rows"), col("sigma_q3"),
        expr(s"cast(case when __tw > 0 then (${budget}L * __w) div __tw" +
          " else 0L end as bigint)").as("neyman_alloc"),
        expr(s"(${budget}L * n_rows) div __ntot").as("prop_alloc"))
      .orderBy(stratumCol)
  }

  def mixturePlan(documents: DataFrame, budgetTokens: Long,
                  weights: Map[String, Long] = Map.empty): DataFrame = {
    require(budgetTokens >= 1, "budgetTokens must be >= 1")
    require(weights.values.forall(_ >= 0), "weights must be >= 0")
    val perSrc = documents
      .select(col("source"),
        size(Text.tokens(col("text"))).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").as("n_tokens"))
    val w =
      if (weights.isEmpty) lit(1L)
      else coalesce(
        element_at(typedLit(weights), col("source")), lit(0L))
    val withW = perSrc.withColumn("__w", w)
    val totals = withW.agg(sum("__w").as("__wsum"),
      sum("n_tokens").as("__tok_total"))
    withW.crossJoin(broadcast(totals))
      // nullif guards: all-zero weights (__wsum), an all-empty corpus
      // (__tok_total), and an all-empty source (n_tokens) each surface
      // NULL, not DIVIDE_BY_ZERO (Spark ANSI) / a DuckDB error
      .withColumn("target_tokens",
        expr(s"${budgetTokens}L * __w div nullif(__wsum, 0L)"))
      .select(col("source"), col("n_tokens"),
        expr("n_tokens * 1000L div nullif(__tok_total, 0L)")
          .as("share_permille"),
        col("target_tokens"),
        (col("target_tokens").cast("double") /
          col("n_tokens").cast("double")).as("rate"),
        expr("(target_tokens + n_tokens - 1L) div nullif(n_tokens, 0L)")
          .as("epochs"))
      .orderBy("source")
  }

  /** TEMPERATURE-scaled mixture plan (the multilingual-pretraining
    * resampling rule, mBERT/XLM-R style): source share ∝ n_tokensᵅ,
    * α ∈ (0, 1] — α = 1 is the natural (proportional) mixture, smaller α
    * flattens it toward uniform, boosting small sources without the hard
    * uniformity `mixturePlan`'s explicit weights would impose. Output
    * per source: token census, the quantized weight, the target
    * allocation of `budgetTokens`, and the ceil-div epoch count (> 1 =
    * the repetition the boost costs).
    *
    * Cross-engine exactness: the ONLY float is n_tokensᵅ, quantized to
    * an integer weight (`round(·10⁶)`) BEFORE any sum — so every
    * downstream total/share is exact integer arithmetic, never an
    * order-dependent double sum. At the α = 0.5 default the power is
    * computed as `sqrt` — correctly rounded under IEEE 754 in every
    * engine, so even the quantization boundary is bit-portable; other α
    * ride `pow`, which IEEE does NOT require correctly rounded, and a
    * 1-ulp engine disagreement could flip a weight's last digit (the
    * oracle-parity hazard class) — documented, not hidden.
    *
    * Scale shape: one per-source aggregate of a scan-stage token count,
    * an S-row broadcast total, S rows out.
    */
  def temperaturePlan(documents: DataFrame, budgetTokens: Long,
                      alpha: Double = 0.5): DataFrame = {
    require(budgetTokens >= 1, "budgetTokens must be >= 1")
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    val perSrc = documents
      .select(col("source"),
        size(Text.tokens(col("text"))).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").as("n_tokens"))
    val p = col("n_tokens").cast("double")
    val powered =
      if (alpha == 0.5) sqrt(p)
      else if (alpha == 1.0) p
      else pow(p, lit(alpha))
    val withW = perSrc
      .withColumn("weight_q6", round(powered * 1e6).cast("long"))
    val totals = withW.agg(sum("weight_q6").as("__wsum"))
    withW.crossJoin(broadcast(totals))
      .select(col("source"), col("n_tokens"), col("weight_q6"),
        // decimal(38,0) headroom: budget·weight_q6 crosses Long at a
        // ~9e12-token budget (weight_q6 ≈ 10⁶·√tokens); div on decimals
        // still returns LONG so the schema is unchanged (oracle mirrors
        // with HUGEINT, the q134-family convention)
        expr(s"cast(${budgetTokens} as decimal(38,0)) * weight_q6" +
          " div nullif(__wsum, 0L)")
          .as("target_tokens"))
      .withColumn("epochs",
        expr("(target_tokens + n_tokens - 1L) div nullif(n_tokens, 0L)"))
      .orderBy("source")
  }

  /** Data-CONSTRAINED epoch allocation (the Muennighoff et al. 2023
    * regime): split `budgetTokens` across sources proportionally, but no
    * source may repeat more than `maxEpochs` times — its capacity is
    * `maxEpochs · n_tokens` — and budget a capped source can't absorb
    * waterfills to the uncapped ones. `mixturePlan` reports the
    * unconstrained target (and flags rate > 1); this operator RESOLVES
    * the constraint: sources sorted by capacity, the classic prefix-sum
    * waterfill decides which saturate, and the survivors share the
    * remainder by integer division (≤ S tokens of the budget go
    * unallocated — the deterministic no-remainder-juggling rule).
    * `alloc_tokens = min(capacity, λ)` with the SATURATION TEST
    * `k·(S−i+1) + pk−k ≤ B` evaluated row-wise over the prefix sums —
    * all integer arithmetic, bit-identical cross-engine.
    *
    * Scale shape: one per-source aggregate of a scan-stage token count;
    * the waterfill windows run over S source rows. Nothing after the
    * first partial agg scales with data.
    */
  def epochPlan(documents: DataFrame, budgetTokens: Long,
                maxEpochs: Long = 4L): DataFrame = {
    require(budgetTokens >= 1, "budgetTokens must be >= 1")
    require(maxEpochs >= 1, "maxEpochs must be >= 1")
    val census = documents
      .select(col("source"),
        size(Text.tokens(col("text"))).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").as("n_tokens"))
      .withColumn("cap_tokens", col("n_tokens") * maxEpochs)
    val wOrd = org.apache.spark.sql.expressions.Window
      .orderBy("cap_tokens", "source")
    val ord = census
      .withColumn("i", row_number().over(wOrd))
      .withColumn("pk", sum("cap_tokens").over(
        wOrd.rowsBetween(Long.MinValue, 0)))
      .withColumn("full",
        col("cap_tokens") *
          (count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy()) - col("i") + 1) +
          col("pk") - col("cap_tokens") <= budgetTokens)
    val agg = ord.agg(
      coalesce(sum(when(col("full"), col("cap_tokens"))), lit(0L))
        .as("__sum_full"),
      coalesce(sum(when(col("full"), 1L)), lit(0L)).as("__n_full"),
      count(lit(1)).as("__n"))
    ord.crossJoin(broadcast(agg))
      .withColumn("alloc_tokens",
        when(col("full"), col("cap_tokens"))
          .otherwise(least(col("cap_tokens"),
            expr(s"(${budgetTokens}L - __sum_full) div (__n - __n_full)"))))
      .select(col("source"), col("n_tokens"), col("cap_tokens"),
        col("alloc_tokens"),
        // nullif: a source of only empty documents has n_tokens = 0 —
        // NULL epochs, not a divide-by-zero (same guard as q159's census)
        expr("alloc_tokens * 1000L div nullif(n_tokens, 0L)")
          .as("epochs_permille"))
      .orderBy("source")
  }

  /** Mixture-proportional curriculum interleave: a deterministic GLOBAL
    * training order where each source's documents appear best-first
    * (ranked by `scoreCol` descending) and the sources round-robin — the
    * no-RNG form of "shuffle so no source clumps". Round r of the order
    * is every source's rank-r document, sources in name order; a source
    * exhausts and the remaining ones keep rotating. `global_pos` is
    * CLOSED-FORM, not a global window: position = Σ_s min(r−1, n_s)
    * (all earlier rounds' mass, from the rank×size census) + the number
    * of still-live predecessor sources in round r (a broadcast join
    * against the S-row size table) — so the one place a naive
    * implementation plants a single-task global sort (the q116/q121
    * wall) is replaced by two broadcast joins.
    *
    * Scale shape: the per-source rank window shuffles once on stratum
    * (the q73/q80 pattern); everything else joins against S-row or
    * rank-census aggregates. Output: one row per input row with
    * (rank_in_stratum, global_pos), both exact integers.
    */
  def curriculumInterleave(df: DataFrame, idCol: String, stratumCol: String,
                           scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(col(scoreCol).desc, col(idCol).asc)
    // persist: the rank window feeds three downstream reads of the lazy
    // result (the stratum sizes, the distinct ranks, the predecessor join),
    // which would each re-run its shuffle and sort. An eager unpersist
    // here would evict before the caller's action runs, so the entry
    // stays in the session's cache until the caller's `clearCache()`
    val ranked = df.select(col(idCol), col(stratumCol), col(scoreCol))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = ranked.groupBy(stratumCol).agg(max("rnk").as("__n_s"))
    // mass of all earlier rounds, per distinct rank: Σ_s min(r−1, n_s)
    val before = ranked.select(col("rnk")).distinct()
      .crossJoin(broadcast(sizes.select(col("__n_s"))))
      .groupBy("rnk")
      .agg(sum(least(col("rnk") - 1, col("__n_s"))).as("__n_before"))
    // predecessors still live in this round: strata before mine with
    // n_s ≥ my rank
    val pred = broadcast(sizes
      .select(col(stratumCol).as("__s2"), col("__n_s")))
    val withOff = ranked
      .join(pred, col("__s2") < col(stratumCol) &&
        col("__n_s") >= col("rnk"), "left")
      .groupBy(col(idCol), col(stratumCol), col(scoreCol), col("rnk"))
      .agg(count(col("__s2")).as("__n_off"))
    withOff.join(broadcast(before), "rnk")
      .select(col(idCol), col(stratumCol), col(scoreCol),
        col("rnk").as("rank_in_stratum"),
        (col("__n_before") + col("__n_off") + 1L).as("global_pos"))
      .orderBy("global_pos")
  }

  /** Distribution-MATCHING acceptance plan: per-bin acceptance rates
    * that resample `current` to the shape of `reference` over a binned
    * feature — "make my web-crawl length profile look like Wikipedia's"
    * as a deterministic per-bin keep rate. Acceptance for bin b is
    * `min(1000, ref_share_b / cur_share_b · 1000)` ‰ — exact integers
    * (`ref_cnt·cur_total·1000 div (ref_total·cur_cnt)`), capped at
    * keep-everything (matching by downsampling only — upsampling is
    * q97's balanced-upsample job). Bins absent from the reference get
    * 0‰ (the reference says that mass shouldn't exist); bins absent
    * from current surface with NULL acceptance (nothing to accept).
    * Executing the plan is one md5-permille projection per row against
    * this S-row broadcast (the q56 split device).
    *
    * Scale shape: two |bins|-row censuses with map-side partials; the
    * plan arithmetic is census-only (the q169 PSI shape, pointed at the
    * fix instead of the diagnosis).
    */
  def distributionMatchPlan(current: DataFrame, reference: DataFrame,
                            value: Column,
                            binWidth: Long = 16L): DataFrame = {
    require(binWidth >= 1, "binWidth must be >= 1")
    // integer floor-div bin (q169's fix applied here too): exact past
    // 2^53 and structurally identical to the oracle's integer `//`
    def census(df: DataFrame, cn: String) = df
      .select(value.cast("long").as("__v"))
      .selectExpr(s"__v div ${binWidth}L as bin")
      .groupBy("bin").agg(count(lit(1)).as(cn))
    val cur = census(current, "c_cur")
    val ref = census(reference, "c_ref")
    val tot = cur.agg(sum("c_cur").as("t_cur"))
      .crossJoin(ref.agg(sum("c_ref").as("t_ref")))
    cur.join(ref, Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("c_cur"), lit(0L)).as("c_cur"),
        coalesce(col("c_ref"), lit(0L)).as("c_ref"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("c_cur"), col("c_ref"),
        when(col("c_cur") > 0,
          least(lit(1000L),
            expr("c_ref * t_cur * 1000L div nullif(t_ref * c_cur, 0L)")))
          .as("accept_permille"))
      .orderBy("bin")
  }

  /** Training-MIX MANIFEST — the (split × source) doc/token matrix a
    * model card ships: after the deterministic md5 split, exactly how
    * many documents and tokens each source contributes to each split.
    * The provenance artifact every data-governance review asks for
    * first, and the sanity check that a stratified pipeline actually
    * delivered its intended mixture.
    *
    * Scale shape: the split is a pure md5 projection (no shuffle), the
    * matrix one (split, source) partial agg — |splits|·|sources| rows
    * out, scan-speed at any corpus size.
    */
  def mixManifest(documents: DataFrame,
                  fractions: Seq[(String, Double)] =
                    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      : DataFrame = {
    val slim = documents.select(col("doc_id"), col("source"),
      size(Text.tokens(col("text"))).cast("long").as("__nt"))
    deterministicSplit(slim, "doc_id", fractions)
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"))
      .orderBy("split", "source")
  }

  /** Dedup-cluster-coherent split assignment: near-duplicate documents
    * must never straddle a train/val/test boundary (q119 measures the
    * leakage; this PREVENTS it). The split key is the document's
    * Jaccard-dedup CLUSTER representative (`Dedup.jaccardClusters`' min
    * reachable doc_id), run through the same md5 per-mille bucketing as
    * `deterministicSplit` — so every member of a near-dup cluster lands
    * in the same split, singletons split exactly as before (their
    * representative is themselves), and the assignment stays a pure
    * engine-portable function of content relationships.
    *
    * Scale shape = jaccardPairs + the iterative min-label closure
    * (bounded by component diameter, and dedup components are shallow),
    * then one codegen'd projection for the bucket.
    */
  def clusterCoherentSplit(documents: DataFrame, n: Int = 3,
                           threshold: Double = 0.2,
                           maxDf: Long = 10000L,
                           fractions: Seq[(String, Double)] =
                             Seq("train" -> 0.8, "val" -> 0.1,
                               "test" -> 0.1)): DataFrame = {
    val clusters = Dedup.jaccardClusters(documents, n, threshold, maxDf)
    deterministicSplit(clusters, "cluster_id", fractions)
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy("doc_id")
  }

  /** Sample-ratio-mismatch (SRM) check on the md5-bucket A/B
    * assignment — the first gate of any experiment readout: distinct
    * users are armed by `splitBucket(user_id) < permille`, and the
    * imbalance statistic srm_q6 = 10⁶·(n_A−n_B)²/(n_A+n_B) (the
    * χ²-against-50/50 numerator, exact integer division) tells the
    * analyst whether the assignment itself is broken before any
    * metric is read. One row out.
    *
    * Scale shape: distinct users is one partial-agg shuffle of bare
    * ids; the arm flag is the same codegen'd projection every split
    * query uses; the census is one row. Integer headroom: safe while
    * (n_A−n_B)² · 10⁶ stays in Long — an imbalance of ~3·10⁶ users.
    */
  /** Deterministic Poisson-bootstrap confidence interval for a binary
    * per-user rate (here: conversion = user has ≥ 1 `convType` event).
    * Each of `reps` replicates draws an integer weight per user from the
    * Poisson(1) inverse CDF applied to a 32-bit md5 uniform of
    * (user, replicate) — the standard streaming bootstrap, made
    * REPRODUCIBLE AND ENGINE-PORTABLE: weights come from integer
    * comparisons of the exact md5 word against fixed precomputed
    * thresholds (⌊CDF·2³²⌋), so both engines draw byte-identical
    * resamples and the CI is a pure function of the data (the q56/q132
    * md5-uniform device, extended to two-index draws). The interval is
    * the (2.5%, 97.5%) RANK pair of the replicate rates in permille —
    * order statistics of integers, no float percentile semantics.
    *
    * Scale shape: the event scan collapses to one row per user first;
    * the ×`reps` explode runs on that collapsed frame (users × reps,
    * never events × reps) and partial-aggregates per replicate map-side;
    * the rank pass sorts `reps` rows. At a billion users make reps the
    * knob, not the user set — the estimator needs every user exactly
    * once.
    */
  def bootstrapConversionCi(events: DataFrame,
                            convType: String = "purchase",
                            reps: Int = 400): DataFrame = {
    require(reps >= 40, "need enough replicates for 2.5% ranks")
    val per = events.groupBy("user_id")
      .agg(max(when(col("event_type") === convType, 1L).otherwise(0L))
        .as("conv"))
    val point = per.agg(count(lit(1)).as("n_users"),
      sum("conv").as("converted"))
    // Poisson(1) inverse CDF on u ∈ [0, 2^32): P(≤k) thresholds, k capped
    // at 5 (P(>5) ≈ 6e-5 of draws land on the cap's tail mass)
    val w = expr(
      """case
        |  when __u < 1580030168L then 0L
        |  when __u < 3160060337L then 1L
        |  when __u < 3950075421L then 2L
        |  when __u < 4213413783L then 3L
        |  when __u < 4279248373L then 4L
        |  else 5L end""".stripMargin)
    val rates = per
      .select(col("user_id"), col("conv"),
        explode(sequence(lit(1), lit(reps))).as("b"))
      .withColumn("__u",
        expr("cast(conv(substring(md5(concat(cast(user_id as string)," +
          " ':', cast(b as string))), 1, 8), 16, 10) as long)"))
      .withColumn("w", w)
      .groupBy("b")
      .agg(sum(expr("w * conv")).as("__c"), sum("w").as("__w"))
      .select(col("b"),
        expr("__c * 1000 div nullif(__w, 0)").as("rate_pm"))
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy(col("rate_pm"), col("b"))
    val lo = (reps * 25) / 1000
    val hi = (reps * 975) / 1000
    val ci = rates.withColumn("rn", row_number().over(wr))
      .agg(max(when(col("rn") === lo, col("rate_pm"))).as("lo_pm"),
        max(when(col("rn") === hi, col("rate_pm"))).as("hi_pm"))
    point.crossJoin(broadcast(ci))
      .select(col("n_users"), col("converted"),
        expr("converted * 1000 div nullif(n_users, 0)").as("point_pm"),
        col("lo_pm"), col("hi_pm"))
  }

  def srmCheck(events: DataFrame, permille: Long = 500L): DataFrame = {
    require(permille >= 0 && permille <= 1000, "permille in [0,1000]")
    events.select(col("user_id")).distinct()
      .select(when(splitBucket(col("user_id")) < permille, "A")
        .otherwise("B").as("arm"))
      .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        expr("(n_a - n_b) * (n_a - n_b) * 1000000 div (n_a + n_b)")
          .as("srm_q6"))
  }

  /** Delete-one-bucket JACKKNIFE standard error for a ratio metric
    * (mean cents per order) — the estimator production systems use when
    * the bootstrap's per-replicate resampling is too expensive: rows
    * hash into `buckets` deterministic groups, each leave-one-bucket-out
    * complement yields a ratio replicate r_j = (S−s_j)/(N−n_j), and
    * SE² = (B−1)/B · Σ(r_j − r̄)². One pass, B-row state — versus
    * q283's 400-replicate explode. A ratio metric NEEDS this: it has no
    * per-row unbiased decomposition, so naive row variance is wrong.
    *
    * Exactness: replicates quantize to q6 integers BEFORE the variance
    * fold, so Σr and Σr² are exact decimal(38,0)/HUGEINT (order-free —
    * the q305 device); the final sqrt runs one fixed-shape IEEE
    * expression over those integers (q285 discipline). B·Σr² exceeds
    * 2⁵³, but both engines convert the SAME exact integer to double —
    * nearest-even is deterministic, not order-dependent.
    *
    * Scale shape: one keyed partial agg to B rows, one B-row fold.
    */
  def jackknifeRatioSe(orders: DataFrame,
                       buckets: Int = 20): DataFrame = {
    require(buckets >= 2 && buckets <= 1000, "need 2 <= buckets <= 1000")
    val per = orders.select(
        (splitBucket(col("o_orderkey")) % buckets).as("b"),
        expr("cast(round(o_totalprice * 100) as long)").as("cents"))
      .groupBy("b")
      .agg(count(lit(1)).as("n_j"),
        sum(col("cents").cast("decimal(38,0)")).as("s_j"))
    val tot = per.agg(count(lit(1)).as("nb"),
      sum(col("n_j").cast("decimal(38,0)")).as("n"),
      sum(col("s_j")).as("s"))
    val reps = per.crossJoin(broadcast(tot))
      .select(expr("""cast(round(1000000 * (cast(s - s_j as double) /
        cast(n - n_j as double))) as bigint)""").as("r"))
    reps.agg(count(lit(1)).as("n_buckets"),
        sum(col("r").cast("decimal(38,0)")).as("sr"),
        // r ~ 10⁶·mean-cents can pass 2³¹·10⁶ — square in DECIMAL, a
        // long×long square overflows exactly where this gate matters
        sum(col("r").cast("decimal(38,0)") * col("r")).as("srr"))
      .select(col("n_buckets"),
        expr("""cast(round(cast(sr as double) /
          cast(n_buckets as double)) as bigint)""").as("mean_r_q6"),
        expr("""cast(round(sqrt((cast(n_buckets - 1 as double) /
          cast(n_buckets as double)) *
          ((cast(n_buckets * srr - sr * sr as double)) /
           cast(n_buckets * n_buckets as double)))) as bigint)""")
          .as("se_q6"))
  }

  /** Quantile normalization of a per-source score onto the GLOBAL score
    * distribution — the harmonization step before any cross-source
    * mixing decision that thresholds on the score (q125's mixture plan,
    * q80's budget cap): two sources whose scorers run hot and cold
    * become comparable by replacing each row's value with the global
    * value at the same within-source rank quantile (the microarray
    * quantile-normalization construction, Bolstad et al.,
    * Bioinformatics 2003, applied one-table-vs-pooled).
    *
    * Exact integer mapping: within-source rank r of m rows targets
    * global rank g = ⌊(r−1)(N−1)/(m−1)⌋ + 1 (endpoints hit ranks 1 and
    * N exactly; a singleton source maps to the global median rank
    * ⌊(N+1)/2⌋), and `norm` is the global order statistic at rank g.
    * The rank product promotes to decimal BEFORE multiplying — r·N
    * passes int64 exactly at the corpus sizes this exists for.
    *
    * Scale shape: one global two-pass sharded rank (the quantile
    * function table), one per-source sharded group rank, and one
    * rank-keyed equi-join back — no global-order window, no collect
    * beyond the bounded per-partition counts both rank passes already
    * ship. (`groupCol` must be low-cardinality — the shardedGroupRanks
    * contract; sources are.)
    */
  def quantileNormalize(df: DataFrame, idCol: String, groupCol: String,
                        valueCol: String, tieCol: String): DataFrame = {
    val cols = Seq(idCol, groupCol, valueCol, tieCol).distinct
    val base = df.select(cols.map(col): _*)
    val (g, n) = graft.ops.Layout.shardedRanksWithTotal(
      base, Seq(valueCol, tieCol))
    val qf = g.select(col("rnk").as("__g"), col(valueCol).as("norm"))
    val s = graft.ops.Layout.shardedGroupRanks(
      base, groupCol, Seq(valueCol, tieCol))
    val target = s.withColumn("__g",
      when(col("n_grp") >= 2, expr(
        s"cast(cast(rnk - 1 as decimal(38,0)) * ${n - 1} " +
          s"div (n_grp - 1) + 1 as bigint)"))
        .otherwise(lit((n + 1) / 2)))
    target.join(qf, "__g")
      .select(col(idCol), col(groupCol), col(valueCol), col("norm"))
  }
}
