package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Multi-dimensional data layout: Z-order (Morton) clustering so that
  * file-level min/max statistics prune on EVERY interleaved dimension,
  * not just the leading sort key.
  *
  * Engine-surface extension (no reference analogue — the reference's only
  * layout lever is HBase's single rowkey sort, Flight2/src/main/java/hw4/
  * HPopulate.java:92: one dimension clusters, every other predicate scans
  * the full table). Z-order is the standard lakehouse answer (Delta
  * OPTIMIZE ZORDER BY, Iceberg rewrite with zorder strategy): interleave
  * the bits of k dimensions into one scalar, range-partition and sort on
  * it, and each output file's bounding box in EVERY dimension is small, so
  * a point/range predicate on ANY zordered column skips most files.
  *
  * Scale notes (100 TB):
  *  - `zValue` is a pure codegen'd integer expression (shift/and/or per
  *    bit) — no UDF, no shuffle; it rides the scan projection.
  *  - The WRITE path is `zorderPartitioned`: `repartitionByRange` on the
  *    z-value (distributed reservoir-sampled range boundaries — the same
  *    machinery as a global sort, one exchange) + `sortWithinPartitions`,
  *    then write; min/max parquet footer stats per file then do the
  *    pruning at read time. Boundaries come from sampling, so the exact
  *    file split is not bit-reproducible across runs — correctness never
  *    depends on it (layout is a performance property).
  *  - The AUDIT path is `zorderCensus`: exact equi-depth buckets via a
  *    global-order `ntile`, deterministic and oracle-checkable. A global
  *    window is a single-task sort at corpus scale — the census is the
  *    small-sample/offline view a layout owner reads to SEE the per-bucket
  *    bounding boxes shrink (tight boxes = effective skipping), never the
  *    production write path. `zorderCensusSharded` computes the IDENTICAL
  *    census with `shardedRanks` (two-pass distributed rank) instead of
  *    the window — the corpus-scale form, measured vs the single-task
  *    sort in PLANS.md.
  *  - Raw bit-interleave assumes the dimensions use comparable bit ranges;
  *    a dimension whose values occupy far more bits than the other
  *    dominates the interleave. For skewed/continuous dimensions,
  *    rank-quantize each to [0, 2^bits) first (Profiling.valueHistogram
  *    bucket ids are exactly that) and interleave the bucket ids.
  */
object Layout {

  /** Morton z-value: interleave the low `bits` bits of `x` (even positions)
    * and `y` (odd positions). Bit i of x lands at position 2i, bit i of y
    * at 2i+1 — so 2*`bits` result bits; `bits` ≤ 31 keeps the result in a
    * positive BIGINT. Negative inputs are the caller's responsibility to
    * pre-quantize (two's-complement high bits would invert the ordering).
    *
    * The disjoint bit positions make `+` and `|` equivalent; `+` is used so
    * the identical formula is expressible as portable ANSI SQL
    * (`zValueSql`) for cross-engine verification.
    */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "need 1 <= bits <= 31")
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** The same interleave as ANSI SQL text over column names `x`/`y` —
    * generated from one formula so the Spark plan and a foreign engine's
    * oracle can never drift.
    */
  def zValueSql(x: String, y: String, bits: Int): String = {
    require(bits >= 1 && bits <= 31, "need 1 <= bits <= 31")
    (0 until bits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")
  }

  /** Deterministic equi-depth layout audit: assign each row to one of
    * `buckets` z-order buckets (`ntile` over the total order (z, tiebreak))
    * and report each bucket's size and bounding box in both dimensions.
    * Tight per-bucket boxes are the whole point of z-order — this census
    * is the evidence, readable before committing a full rewrite.
    *
    * Global-order window: audit/off-line view only (see object doc); the
    * production write path is `zorderPartitioned`.
    */
  def zorderCensus(df: DataFrame, xCol: String, yCol: String,
                   tieCol: String, buckets: Int = 16,
                   bits: Int = 16): DataFrame = {
    val w = Window.orderBy(col("zval"), col(tieCol))
    bucketBoxes(df.select(col(xCol), col(yCol), col(tieCol),
        zValue(col(xCol), col(yCol), bits).as("zval"))
      .withColumn("bucket", ntile(buckets).over(w).cast("long")), xCol, yCol)
  }

  /** The census tail of `zorderCensus`, `zorderCensusSharded` and
    * `hilbertCensusSharded`: each `bucket`'s size and bounding box in both
    * dimensions, in bucket order.
    */
  private def bucketBoxes(bucketed: DataFrame, xCol: String,
                          yCol: String): DataFrame =
    bucketed.groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(xCol).as("x_min"), max(xCol).as("x_max"),
        min(yCol).as("y_min"), max(yCol).as("y_max"))
      .orderBy("bucket")

  /** The production layout write path: range-partition on the z-value
    * (one exchange, sampled boundaries) and sort within each partition so
    * every output file's footer min/max is tight on BOTH dimensions.
    * Returns the frame ready for `.write.parquet` — the z-value column is
    * kept (name `zval`) so callers can also partition-prune on its range.
    */
  def zorderPartitioned(df: DataFrame, xCol: String, yCol: String,
                        numPartitions: Int, bits: Int = 16): DataFrame =
    df.withColumn("zval", zValue(col(xCol), col(yCol), bits))
      .repartitionByRange(numPartitions, col("zval"))
      .sortWithinPartitions("zval")

  /** Linear quantization of `c` from [lo, hi] onto [0, 2^bits) — the
    * balanced-bit-width preprocessing the object doc requires before
    * interleaving dimensions of very different ranges (a 15-bit partkey
    * interleaved raw with a 10-bit suppkey leaves the top z bits
    * partkey-only, so file ranges stripe by partkey and the second
    * dimension never prunes). Monotone, so sorting by the interleave of
    * quantized dims still clusters the RAW columns — footer min/max stats
    * on the raw columns stay tight. For uniform keys this is the
    * rank-quantization the doc points at (Profiling.valueHistogram) in
    * closed form; pure codegen'd arithmetic riding the scan.
    */
  def quantize(c: Column, lo: Long, hi: Long, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "need 1 <= bits <= 31")
    require(hi >= lo, "need hi >= lo")
    least(lit((1L << bits) - 1),
      floor((c - lit(lo)) * lit(1L << bits) / lit(hi - lo + 1L))
        .cast("long"))
  }

  /** Per-file min/max statistics of a written parquet directory — exactly
    * what a footer-stats pruning reader (Spark's parquet row-group filter,
    * a lakehouse file-skipping index) consults. One scan + partial agg
    * keyed on `input_file_name()`; the audit a layout owner runs to count
    * how many files a predicate on either dimension would touch. Actual
    * per-file min/max EQUALS the parquet footer stat for these columns, so
    * the overlap count computed from this frame is the skipped-file truth,
    * engine-independent.
    */
  /** Small-files COMPACTION plan over a shard census: given one row per
    * physical unit (file / partition / bucket) with its row count, in a
    * deterministic key order, assign each unit to an output file id so
    * consecutive units coalesce into ~`targetRows` outputs —
    * `out_file = (rows before this unit) div targetRows`, the classic
    * prefix-sum bin assignment (Delta OPTIMIZE / Iceberg rewrite
    * planning shape). Key order is preserved, so a sorted table stays
    * sorted across the rewrite; an output file holds at most
    * targetRows + maxUnitRows − 1 rows (a unit is never split — the
    * whole point of a cheap plan).
    *
    * Scale shape: the window runs over CENSUS rows (units, not data) —
    * |files|-sized input, the q108 aggregated-window posture. The data
    * itself moves only in the rewrite the plan drives.
    */
  def compactionPlan(census: DataFrame, keyCols: Seq[String],
                     rowsCol: String, targetRows: Long): DataFrame = {
    require(targetRows >= 1, "targetRows must be >= 1")
    require(keyCols.nonEmpty, "need at least one ordering key")
    val w = Window.orderBy(keyCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    census
      .withColumn("__before", coalesce(sum(col(rowsCol)).over(w), lit(0L)))
      .withColumn("out_file", expr(s"__before div ${targetRows}L"))
      .select(keyCols.map(col) :+ col(rowsCol).cast("long").as("n_rows")
        :+ col("out_file"): _*)
      .orderBy(keyCols.map(col): _*)
  }

  def fileStats(spark: org.apache.spark.sql.SparkSession, dir: String,
                xCol: String, yCol: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n"),
        min(xCol).as("x_min"), max(xCol).as("x_max"),
        min(yCol).as("y_min"), max(yCol).as("y_max"))

  /** Exact global `row_number() OVER (ORDER BY orderCols)` WITHOUT a
    * single-task sort — the sharded alternative to the global-order window
    * (the wall `zorderCensus` and any ungrouped rank statistic hit at
    * corpus scale): `prefixScan` counting rows, `rnk` = earlier rows + 1.
    *
    * `orderCols` must be a TOTAL order (include a tie column) — rows that
    * compare equal would receive an arbitrary rank assignment (and range
    * boundaries could split them nondeterministically across runs).
    *
    * Output: the input columns plus `rnk` (1-based global rank).
    */
  def shardedRanks(df: DataFrame, orderCols: Seq[String]): DataFrame =
    shardedRanksWithTotal(df, orderCols)._1

  /** `shardedRanks` plus the row count, known on the driver after pass 1. */
  private[graft] def shardedRanksWithTotal(
      df: DataFrame, orderCols: Seq[String]): (DataFrame, Long) = {
    val (scanned, total) = prefixScan(df, None, orderCols, None,
      Math.addExact(_, _), "shardedRanks", shuffleWidth(df.sparkSession))
    (scanned.withColumn("rnk", rankOf).drop(prevCol, totalCol),
      total.getOrElse(0L))
  }

  /** Exact running max of `valueCol` over rows STRICTLY BEFORE each row
    * in the `orderCols` total order — `max(valueCol) OVER (ORDER BY
    * orderCols ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)` as a
    * `prefixScan` under `math.max`, the machinery that removes the
    * global-order window from ingestion-order audits
    * (Behavior.latenessCensusSharded).
    *
    * Output: the input columns plus `run_max_prev` (nullable long — null
    * where no earlier row has a value). `valueCol` must be a LONG column;
    * its nulls are skipped, as SQL `max` skips them. `orderCols` must be
    * a total order (equal keys would make "before" ambiguous).
    */
  def shardedRunningMax(df: DataFrame, orderCols: Seq[String],
                        valueCol: String): DataFrame =
    prefixScan(df, None, orderCols, Some(valueCol), math.max(_, _),
        "shardedRunningMax", shuffleWidth(df.sparkSession))._1
      .withColumnRenamed(prevCol, "run_max_prev")
      .drop(totalCol)

  /** Exact per-GROUP `row_number() OVER (PARTITION BY group ORDER BY
    * orderCols)` plus the group total, without any group's rows ever
    * sorting in one task — the grouped twin of `shardedRanks`, for the
    * LOW-CARDINALITY-group regime where a partitioned window is still a
    * wall (a per-language window over a corpus that is 40% one language
    * sorts 40% of the corpus in a single task; "partitioned" only helps
    * when no partition is corpus-sized). Pass 1 of `prefixScan` ships one
    * count per (partition, group) run, so the driver holds width ×
    * groups-per-partition runs — the low-cardinality contract, enforced
    * by `maxDriverRuns`. High-cardinality groups should use the ordinary
    * partitioned window instead (partitions are small by construction
    * there).
    *
    * Output: input columns + `rnk` (1-based within group) + `n_grp`
    * (group row count). `orderCols` must total-order within a group.
    */
  def shardedGroupRanks(df: DataFrame, groupCol: String,
                        orderCols: Seq[String]): DataFrame =
    prefixScan(df, Some(groupCol), orderCols, None, Math.addExact(_, _),
        "shardedGroupRanks", shuffleWidth(df.sparkSession))._1
      .withColumn("rnk", rankOf)
      .withColumn("n_grp", col(totalCol))
      .drop(prevCol, totalCol)

  /** The two columns `prefixScan` appends: the fold of the group's earlier
    * values (null when there are none) and the fold of the whole group. */
  private[ops] val prevCol = "__scan_prev"
  private[ops] val totalCol = "__scan_total"

  /** 1-based rank from a row-counting `prefixScan`: earlier rows + 1. */
  private def rankOf: Column = coalesce(col(prevCol), lit(0L)) + 1

  /** The one distributed prefix scan, behind `shardedRanks`,
    * `shardedRunningMax`, `shardedGroupRanks` and
    * `Packing.packAssignments`: an exclusive fold of `value` under `step`
    * over the total order `group ++ orderCols`, restarted for each
    * `group` value (`None`: one constant group). `value` is a LONG column
    * whose nulls are skipped, as SQL aggregates skip them (`None`: 1 per
    * row, a row count); `step` must be associative (`Math.addExact`,
    * `math.max`).
    *
    * Blelloch's two-pass form ("Prefix Sums and Their Applications",
    * CMU-CS-90-190), the Spark-native stand-in for a partitioner plus
    * secondary sort: range-partition on the order at `width` (one
    * exchange, sampled boundaries — the first stage of a global sort,
    * without its single merge task) and sort within partitions; pass 1
    * collects one fold per (partition, group) run; the driver turns the
    * runs into each run's exclusive base and each group's total and
    * broadcasts both; pass 2 streams each partition once from its base.
    * Both passes read the ONE RDD taken from the sorted frame, so pass 2
    * reads the range exchange's shuffle output instead of re-running it,
    * and nothing enters the session cache. Pass 2 is row-streaming (no
    * buffering) but leaves whole-stage codegen — the trade for removing
    * the single-task sort; downstream aggregation re-enters codegen.
    *
    * A row's fold is a property of the order alone, so it does not depend
    * on where the sampled boundaries fall (LayoutSpec pins equality across
    * widths); `orderCols` must totally order each group for that to hold.
    *
    * Output: the input columns plus `prevCol` and `totalCol` (non-null
    * for a row count). Also returns the fold of every group, on the
    * driver — the grand total of a sum, `None` for an empty frame.
    */
  private[graft] def prefixScan(df: DataFrame, group: Option[String],
      orderCols: Seq[String], value: Option[String],
      step: (Long, Long) => Long, caller: String,
      width: Int): (DataFrame, Option[Long]) = {
    require(orderCols.nonEmpty, "need at least one order column")
    val keys = (group.toSeq ++ orderCols).map(col)
    val ranged = df.repartitionByRange(width, keys: _*)
      .sortWithinPartitions(keys: _*).rdd
    val gIdx = group.fold(-1)(df.schema.fieldIndex)
    val vIdx = value.fold(-1)(df.schema.fieldIndex)
    // group key for the driver-side bookkeeping: (isNull, string form).
    // A bare String.valueOf would merge a NULL group with the literal
    // string "null" (totals folded across both, bases interleaved —
    // wrong results for each); the isNull flag keeps them distinct.
    // Within one typed column the string form of NON-null values is
    // injective for every group type this operator contracts for
    // (string/integral/date — the low-cardinality regime).
    def gKey(r: Row): (Boolean, String) =
      if (gIdx < 0) (false, "")
      else if (r.isNullAt(gIdx)) (true, "")
      else (false, String.valueOf(r.get(gIdx)))
    def fold(acc: Option[Long], r: Row): Option[Long] =
      if (vIdx >= 0 && r.isNullAt(vIdx)) acc
      else {
        val v = if (vIdx < 0) 1L else r.getLong(vIdx)
        Some(acc.fold(v)(step(_, v)))
      }
    def merge(a: Option[Long], b: Option[Long]): Option[Long] =
      (a ++ b).reduceOption(step)
    // pass 1: one fold per (partition, group) run. The collect is bounded
    // by width × groups-per-partition (the low-cardinality contract);
    // maxDriverRuns makes a violated contract fail FAST with a named
    // remedy instead of OOMing the driver at 100× — checked in the
    // executor (before the rows ship) and again on the assembled total.
    val groupName = group.getOrElse("")
    val runs = ranged.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap
        .empty[(Boolean, String), Option[Long]]
      it.foreach { r =>
        val g = gKey(r)
        m.update(g, fold(m.getOrElse(g, None), r))
        if (m.size > maxDriverRuns)
          throw new IllegalStateException(
            s"$caller: > $maxDriverRuns distinct '$groupName' " +
              "groups in one range partition — the group column is " +
              "high-cardinality; use an ordinary partitioned window " +
              "(partitions are small by construction there)")
      }
      m.iterator.map { case (g, f) => (pid, g, f) }
    }.collect()
    require(runs.length <= maxDriverRuns,
      s"$caller: ${runs.length} (partition, group) runs " +
        s"exceed the $maxDriverRuns driver budget — '$groupName' is " +
        "high-cardinality; use an ordinary partitioned window")
    val byGroup = runs.groupBy(_._2).map { case (g, rs) =>
      g -> rs.sortBy(_._1).toSeq }
    val bases = byGroup.flatMap { case (g, rs) =>
      rs.map(_._3).scanLeft(Option.empty[Long])(merge).zip(rs)
        .map { case (base, (pid, _, _)) => (pid, g) -> base }
    }
    val totals = byGroup.map { case (g, rs) =>
      g -> rs.map(_._3).reduce(merge) }
    val sc = df.sparkSession.sparkContext
    val bBases = sc.broadcast(bases)
    val bTotals = sc.broadcast(totals)
    // pass 2: each partition streamed once more, each run from its base
    val rows = ranged.mapPartitionsWithIndex { (pid, it) =>
      var cur: (Boolean, String) = null
      var acc = Option.empty[Long]
      var tot = Option.empty[Long]
      it.map { r =>
        val g = gKey(r)
        if (g != cur) {
          cur = g
          acc = bBases.value((pid, g))
          tot = bTotals.value(g)
        }
        val prev = acc
        acc = fold(acc, r)
        Row.fromSeq(r.toSeq ++ Seq(prev.getOrElse(null), tot.getOrElse(null)))
      }
    }
    val schema = StructType(df.schema.fields ++ Seq(
      StructField(prevCol, LongType, nullable = true),
      StructField(totalCol, LongType, nullable = value.isDefined)))
    (df.sparkSession.createDataFrame(rows, schema),
      totals.values.foldLeft(Option.empty[Long])(merge))
  }

  /** Hard ceiling on pass-1's driver-side (partition, group) run count —
    * roughly the driver-memory budget of `prefixScan`'s bookkeeping
    * (~1e6 small tuples ≈ tens of MB). A group column that blows past it
    * violates the grouped scan's low-cardinality contract; failing fast
    * with the remedy in the message beats a driver OOM three stages later.
    */
  private val maxDriverRuns = 1000000

  /** SQL `NTILE(buckets)` bucket of 1-based rank `rnk` over `nRows` rows,
    * in closed form: the first `nRows mod buckets` buckets take
    * `⌈nRows/buckets⌉` rows, the rest `⌊nRows/buckets⌋` — exactly the SQL
    * semantics, as pure codegen'd arithmetic. This is what turns
    * `shardedRanks` into a sharded NTILE: the window function needed the
    * total order; the bucket id needs only (rank, total), both of which
    * the two-pass machinery provides.
    */
  def ntileFromRank(rnk: Column, nRows: Long, buckets: Int): Column = {
    require(buckets >= 1, "need buckets >= 1")
    val q = nRows / buckets
    val m = nRows % buckets
    val cut = m * (q + 1) // rows in the first m (larger) buckets
    when(rnk <= lit(cut), (rnk - 1) / lit(q + 1) + 1)
      .otherwise(lit(m) + (rnk - lit(cut) - 1) / lit(math.max(q, 1L)) + 1)
      .cast("long")
  }

  /** `zorderCensus` computed the sharded way: identical output (bucket
    * sizes and bounding boxes — LayoutSpec pins frame equality; the
    * driver-visible q123 pins it against the SAME DuckDB ntile oracle as
    * q116), but the global-order `ntile` window is replaced by
    * `shardedRanks` + `ntileFromRank`, so no single task ever sees more
    * than one range partition. This is the version of the census you run
    * at corpus scale; `zorderCensus` stays the small-sample offline view.
    */
  def zorderCensusSharded(df: DataFrame, xCol: String, yCol: String,
                          tieCol: String, buckets: Int = 16,
                          bits: Int = 16): DataFrame = {
    val z = df.select(col(xCol), col(yCol), col(tieCol),
      zValue(col(xCol), col(yCol), bits).as("zval"))
    val (ranked, total) = shardedRanksWithTotal(z, Seq("zval", tieCol))
    bucketBoxes(ranked
      .withColumn("bucket", ntileFromRank(col("rnk"), total, buckets)),
      xCol, yCol)
  }

  /** Zone-map pruning audit: how many of `nFiles` equal-row files a
    * point predicate on `predCol` must READ under two physical layouts —
    * the arrival order (`tieCol` alone) vs clustering on (`predCol`,
    * `tieCol`) — using exactly the statistic engines actually prune with
    * (per-file min/max of the predicate column; parquet row-group /
    * Iceberg-manifest zone maps). This is the quantified "should we
    * re-sort this table" decision: the `files_clustered` column shows the
    * post-OPTIMIZE read cost (~⌈n_rows(v)/fileSize⌉ files per value v),
    * `files_arrival` the status quo (typically all of them — arrival
    * order interleaves every value into every file).
    *
    * Scale shape: both layout assignments are `shardedRanks` two-pass
    * prefix counts (no global-order window, no single-task sort); zone
    * maps are an `nFiles`-row census; the value × file containment join
    * is |values| × nFiles on two broadcast-sized frames. `tieCol` must
    * make (`predCol`, `tieCol`) a total order (the shardedRanks
    * contract).
    */
  def zoneMapPruneAudit(df: DataFrame, predCol: String, tieCol: String,
                        nFiles: Int = 16): DataFrame = {
    require(nFiles >= 1, "nFiles must be >= 1")
    val base = df.select(col(predCol), col(tieCol))
    def zoneMaps(orderCols: Seq[String]): (DataFrame, Long) = {
      val (ranked, total) = shardedRanksWithTotal(base, orderCols)
      val fileSize = math.max(1L, (total + nFiles - 1) / nFiles)
      (ranked
        .withColumn("file", expr(s"(rnk - 1) div ${fileSize}L"))
        .groupBy("file")
        .agg(min(predCol).as("lo"), max(predCol).as("hi")), total)
    }
    val (za, _) = zoneMaps(Seq(tieCol))
    val (zc, _) = zoneMaps(Seq(predCol, tieCol))
    val values = base.select(col(predCol).as("v")).distinct()
    def filesRead(zm: DataFrame, out: String): DataFrame =
      values.join(broadcast(zm),
          col("lo") <= col("v") && col("v") <= col("hi"))
        .groupBy("v").agg(count(lit(1)).as(out))
    filesRead(za, "files_arrival")
      .join(filesRead(zc, "files_clustered"), Seq("v"))
      .select(col("v").as(predCol), col("files_arrival"),
        col("files_clustered"))
      .orderBy(predCol)
  }

  /** One Hilbert refinement level as three SQL expressions (d', x', y')
    * over the previous level's columns — the ONE formula consumed by both
    * the Column builder (`hilbertValue`, via `expr`) and the DuckDB
    * oracle generator (`hilbertSqlCtes`) so the two engines can never
    * drift. The step is the public-domain xy2d recurrence (Hilbert curve
    * bit algorithm, e.g. Wikipedia "Hilbert curve", Applications §):
    * quadrant digit (3·rx) XOR ry — written as the XOR-free closed form
    * 3·rx + ry − 2·rx·ry (exact over {0,1}², table inline below), so no
    * engine-specific XOR operator is needed — then the ry=0 rotation
    * (negate-if-rx on the FULL grid width, then swap).
    */
  private def hilbertStepSql(n: Long, s: Long, xc: String, yc: String,
                             dc: String): (String, String, String) = {
    val rx = s"(CASE WHEN ($xc & $s) > 0 THEN 1 ELSE 0 END)"
    val ry = s"(CASE WHEN ($yc & $s) > 0 THEN 1 ELSE 0 END)"
    // (3·rx) XOR ry over {0,1}²: (0,0)→0 (0,1)→1 (1,0)→3 (1,1)→2 —
    // exactly 3·rx + ry − 2·rx·ry, so no engine-specific XOR operator
    val quad = s"(3 * $rx + $ry - 2 * $rx * $ry)"
    val d2 = s"($dc + ${s * s} * $quad)"
    // ry=1: untouched. ry=0: negate both on the full grid if rx, then
    // swap — coordinates stay in [0, n), so the next level's masks see
    // plain nonnegative integers on every engine
    val x2 = s"(CASE WHEN ($yc & $s) > 0 THEN $xc ELSE " +
      s"(CASE WHEN ($xc & $s) > 0 THEN ${n - 1} - $yc ELSE $yc END) END)"
    val y2 = s"(CASE WHEN ($yc & $s) > 0 THEN $yc ELSE " +
      s"(CASE WHEN ($xc & $s) > 0 THEN ${n - 1} - $xc ELSE $xc END) END)"
    (d2, x2, y2)
  }

  /** Appends the Hilbert-curve index of (`xCol`, `yCol`) on the
    * 2^bits × 2^bits grid as column `out` — the OTHER standard lakehouse
    * clustering curve (Delta liquid clustering's choice over Z-order):
    * same interleave-and-prune economics as `zValue`, strictly better
    * locality where buckets don't align with power-of-4 quadrants —
    * consecutive Hilbert indexes are always L1-adjacent cells (the
    * continuity law LayoutSpec pins; Z-order jumps), so equi-depth
    * segments have tighter bounding boxes (measured on the full 32×32
    * grid at 10 buckets: Σ box area 1376 vs Z's 1952, max 160 vs 288).
    *
    * Unlike the Morton interleave there is no closed per-bit form — the
    * quadrant orientation is state threaded through the levels — so the
    * recurrence is UNROLLED: one projection per level (bits levels), each
    * a few CASE/mask expressions over the previous level's three columns.
    * All pure codegen'd integer arithmetic riding the scan — no UDF, no
    * shuffle, no driver state; `bits` is a plan constant, so the chain
    * depth never grows with the corpus. Inputs must be pre-quantized to
    * [0, 2^bits) (`quantize`), exactly as for `zValue`.
    */
  def hilbertValue(df: DataFrame, xCol: String, yCol: String, bits: Int,
                   out: String = "hval"): DataFrame = {
    require(bits >= 1 && bits <= 31, "need 1 <= bits <= 31")
    val n = 1L << bits
    // domain guard (r17 ADVICE): the unrolled chain is only meaningful
    // for quantized coordinates 0 ≤ v < 2^bits — a raw key outgrowing
    // the grid (e.g. partkey > 65535 at a larger scale factor) would
    // yield a silently meaningless curve index in BOTH engines, so fail
    // loudly in the data path instead. NULLs pass through (the chain
    // propagates them to a NULL hval, the pre-guard behavior); the
    // when/raise_error pair stays inside whole-stage codegen.
    def inDomain(c: Column): Column =
      when(c.isNull || (c >= 0 && c < n), c)
        .otherwise(raise_error(concat(
          lit(s"hilbertValue: coordinate out of domain [0, $n): "),
          c.cast("string"))).cast("long"))
    var cur = df
      .withColumn("__hx0", inDomain(col(xCol).cast("long")))
      .withColumn("__hy0", inDomain(col(yCol).cast("long")))
      .withColumn("__hd0", lit(0L))
    var i = 0
    for (lev <- (bits - 1) to 0 by -1) {
      val s = 1L << lev
      val (dE, xE, yE) = hilbertStepSql(n, s, s"__hx$i", s"__hy$i",
        s"__hd$i")
      cur = cur
        .withColumn(s"__hd${i + 1}", expr(dE))
        .withColumn(s"__hx${i + 1}", expr(xE))
        .withColumn(s"__hy${i + 1}", expr(yE))
      i += 1
    }
    cur.withColumn(out, col(s"__hd$i"))
      .drop((0 to i).flatMap(j =>
        Seq(s"__hx$j", s"__hy$j", s"__hd$j")): _*)
  }

  /** The same unrolled chain as ANSI SQL CTE text: `h0 .. h<bits>` over
    * base relation `from`, carrying `carryCols` through every level; the
    * final index is column `hd<bits>` of CTE `h<bits>`. Generated from
    * `hilbertStepSql` — the oracle evaluates the IDENTICAL formula.
    */
  def hilbertSqlCtes(from: String, carryCols: String, xCol: String,
                     yCol: String, bits: Int): String = {
    require(bits >= 1 && bits <= 31, "need 1 <= bits <= 31")
    val n = 1L << bits
    val sb = new StringBuilder
    sb ++= s"h0 AS (SELECT $carryCols, CAST($xCol AS BIGINT) AS hx0, " +
      s"CAST($yCol AS BIGINT) AS hy0, CAST(0 AS BIGINT) AS hd0 FROM $from)"
    var i = 0
    for (lev <- (bits - 1) to 0 by -1) {
      val s = 1L << lev
      val (dE, xE, yE) = hilbertStepSql(n, s, s"hx$i", s"hy$i", s"hd$i")
      sb ++= s",\nh${i + 1} AS (SELECT $carryCols, $dE AS hd${i + 1}, " +
        s"$xE AS hx${i + 1}, $yE AS hy${i + 1} FROM h$i)"
      i += 1
    }
    sb.toString
  }

  /** The q123 sharded equi-depth census over the HILBERT order: bucket
    * sizes and per-bucket bounding boxes under Hilbert clustering — the
    * side-by-side evidence against `zorderCensusSharded` for the
    * re-layout decision. Same two-pass sharded rank (no global-order
    * window), same output shape.
    */
  def hilbertCensusSharded(df: DataFrame, xCol: String, yCol: String,
                           tieCol: String, buckets: Int = 16,
                           bits: Int = 16): DataFrame = {
    val h = hilbertValue(
      df.select(col(xCol), col(yCol), col(tieCol)), xCol, yCol, bits)
    val (ranked, total) = shardedRanksWithTotal(h, Seq("hval", tieCol))
    bucketBoxes(ranked
      .withColumn("bucket", ntileFromRank(col("rnk"), total, buckets)),
      xCol, yCol)
  }

  /** Rendezvous (highest-random-weight) reshard planner: the per-shard
    * movement bill for growing a hash-sharded corpus from `nOld` to
    * `nNew` shards, under rendezvous hashing (Thaler & Ravishankar,
    * "Using Name-Based Mappings to Increase Hit Rates", IEEE/ACM ToN
    * 1998: owner(x) = argmax over shards s of h(x, s)) side by side with
    * naive mod-hashing. Rendezvous moves a row only when one of the
    * ADDED shards wins its argmax — an expected (nNew−nOld)/nNew of the
    * corpus, the provable minimum for a deterministic stateless scheme —
    * while mod-hashing remaps everything whose h mod nOld ≠ h mod nNew
    * (~1 − 1/lcm-period ≈ 80% at 8→10). At 100 TB that difference is the
    * difference between rewriting 20 TB and rewriting 80 TB.
    *
    * Deterministic and engine-portable: h(x, s) is the first 48 bits of
    * md5(x # s) (the splitBucket device widened so argmax ties are
    * measure-zero), with the (weight, shard) struct-max tie-break making
    * the owner a pure function of the data. Output: one row per NEW
    * shard with its rendezvous population/arrivals and the mod-hash
    * population/arrivals — `moved` counts rows this shard RECEIVES that
    * lived elsewhere under the old layout.
    *
    * Scale shape: one explode of nNew rows per id (nNew is a plan
    * constant ≪ corpus) into a keyed partial-agg argmax — scan-linear,
    * no joins, no windows; the census is an nNew-row aggregate.
    */
  def rendezvousReshardPlan(df: DataFrame, idCol: String,
                            nOld: Int = 8, nNew: Int = 10): DataFrame = {
    require(nOld >= 1 && nNew > nOld,
      "need nNew > nOld >= 1 (a grow-reshard plan)")
    val id = col(idCol).cast("string")
    def w48(s: Column): Column =
      conv(substring(md5(concat(id, lit("#"), s.cast("string"))), 1, 12),
        16, 10).cast("long")
    val hmod = conv(substring(md5(id), 1, 12), 16, 10).cast("long")
    val owners = df.select(col(idCol))
      .withColumn("s", explode(typedLit((0 until nNew).toList)))
      .withColumn("w", w48(col("s")))
      .groupBy(idCol)
      .agg(
        max(struct(col("w"), col("s"))).getField("s").as("owner_new"),
        max(when(col("s") < nOld, struct(col("w"), col("s"))))
          .getField("s").as("owner_old"))
      .withColumn("mod_new", (hmod % nNew).cast("int"))
      .withColumn("mod_old", (hmod % nOld).cast("int"))
    val rdv = owners.groupBy(col("owner_new").as("shard"))
      .agg(count(lit(1)).as("n_docs_rdv"),
        sum(when(col("owner_old") =!= col("owner_new"), 1L).otherwise(0L))
          .as("moved_rdv"))
    val md = owners.groupBy(col("mod_new").as("shard"))
      .agg(count(lit(1)).as("n_docs_mod"),
        sum(when(col("mod_old") =!= col("mod_new"), 1L).otherwise(0L))
          .as("moved_mod"))
    val shards = df.sparkSession.range(nNew)
      .select(col("id").cast("int").as("shard"))
    shards.join(rdv, Seq("shard"), "left")
      .join(md, Seq("shard"), "left")
      .select(col("shard"),
        coalesce(col("n_docs_rdv"), lit(0L)).as("n_docs_rdv"),
        coalesce(col("moved_rdv"), lit(0L)).as("moved_rdv"),
        coalesce(col("n_docs_mod"), lit(0L)).as("n_docs_mod"),
        coalesce(col("moved_mod"), lit(0L)).as("moved_mod"))
      .orderBy("shard")
  }
}
