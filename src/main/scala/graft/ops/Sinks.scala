package graft.ops

import org.apache.spark.sql.DataFrame

/** Sink surface (SURVEY.md §2.1 S3/S4/S5/S8).
  *
  * The reference's sinks are HDFS text part-files and HBase writes; the
  * Spark-native analogues are columnar/text file writes — the buffer
  * tuning the reference hand-rolls (20 MB vs 1 MB BufferedMutator, HFile
  * bulk load) is subsumed by the file writers (SURVEY §4).
  */
object Sinks {

  /** S3: text-style sink — key TAB value lines like TextOutputFormat.
    * `singleFile` coalesces to one part for golden-output comparison.
    * Null handling matches TextOutputFormat: `concat_ws` skips nulls, so a
    * null value writes the bare key with no separator — exactly what
    * Hadoop's writer does for a null value.
    */
  def writeTextKV(df: DataFrame, keyCol: String, valueCol: String,
                  path: String, singleFile: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.{col, concat_ws}
    val lines = df.select(concat_ws("\t", col(keyCol), col(valueCol))
      .as("value"))
    (if (singleFile) lines.coalesce(1) else lines)
      .write.mode("overwrite").text(path)
  }

  /** S4: the general columnar sink (replaces HBase buffered puts). */
  def writeParquet(df: DataFrame, path: String,
                   partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** S5: bulk-load analogue — rows sorted within partitions by the key
    * before the columnar write, the direct equivalent of sorted-HFile
    * generation (gives parquet min/max row-group pruning on the key).
    */
  def writeSortedParquet(df: DataFrame, keyCols: Seq[String],
                         path: String): Unit =
    df.sortWithinPartitions(keyCols.head, keyCols.tail: _*)
      .write.mode("overwrite").parquet(path)

  /** Range-partitioned sorted layout: `repartitionByRange` gives each
    * output file a disjoint key range, and the in-file sort tightens
    * parquet row-group min/max stats — so a range predicate on the key
    * prunes whole files at scan time. The complement of Bucketing (which
    * co-locates equi-join keys): use this for time/range-scanned fact
    * tables.
    */
  def writeRangePartitioned(df: DataFrame, keyCol: String, path: String,
                            numPartitions: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(numPartitions, col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.mode("overwrite").parquet(path)
  }

  /** Columnar sink in any Spark-built-in format ("parquet", "orc",
    * "json", "csv") — the interchange surface for downstream systems
    * that dictate their input format. Parquet stays this library's
    * native layout (every fixture and sink contract above); ORC carries
    * the same columnar/pruning properties, json/csv are row formats for
    * small exports only — at 100 TB a row-format sink is a 5–10×
    * size/scan regression and should be a deliberate choice.
    */
  def writeFormat(df: DataFrame, path: String, format: String,
                  partitionBy: Seq[String] = Nil): Unit = {
    require(Seq("parquet", "orc", "json", "csv").contains(format),
      s"unsupported format: $format")
    val base = df.write.mode("overwrite").format(format)
    // Spark's CSV WRITER defaults ignoreLeading/TrailingWhiteSpace to
    // TRUE — it silently trims padded fields on the way out (data loss
    // the roundtrip gate catches). A sink must write what it was given.
    val w = if (format == "csv")
      base.option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
    else base
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .save(path)
  }

  /** Sharded training-set export with a verifiable manifest: rows are
    * assigned to `numShards` files by the same engine-portable md5
    * bucket as Sampling.splitBucket (shard = bucket(id) mod shards — a
    * pure function of the id, so re-exports and engine swaps produce
    * byte-identical shard membership), written as one file per shard,
    * and a `_manifest` parquet records each shard's row count and
    * order-insensitive checksum (Profiling.tableChecksum semantics, on
    * the caller-named stable columns).
    *
    * The manifest is the handoff contract: a downstream trainer (or the
    * same pipeline a month later) re-derives (n_rows, checksum) per
    * shard and diffs two tiny tables to prove the export is intact — no
    * row-level comparison, no trust in file timestamps. Returns the
    * manifest as a driver-local DataFrame (one row per shard, ordered by
    * shard): collecting it starts no Spark job.
    *
    * Execution shape: the write is one SQL execution (the input's plan,
    * one hash exchange to `numShards` partitions, the writer's sort by
    * shard). The manifest is read back from the written files with the
    * written schema (no inference job) as one scan-only Spark job: each
    * scan task sums its own rows per shard and the driver adds the
    * partials in shard order — no exchange, no aggregate stage. The
    * `_manifest` file is one more write of the collected rows.
    */
  def writeShardedWithManifest(df: DataFrame, idCol: String,
                               checksumCols: Seq[String], path: String,
                               numShards: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, conv, md5, substring}
    import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType,
      StructField, StructType}
    require(numShards >= 1, "numShards must be >= 1")
    require(checksumCols.nonEmpty, "name the stable checksum columns")
    val shard = (conv(substring(md5(col(idCol).cast("string")), 1, 4),
      16, 10).cast("int") % numShards).as("shard")
    val sharded = df.withColumn("shard", shard)
    sharded.repartition(numShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    // the manifest is computed from the FILES ON DISK, not by a second
    // pass over the input plan: it must describe the export it ships
    // with even if an upstream stage was nondeterministic, and the
    // read-back scans shard-pruned parquet instead of re-running the
    // whole upstream DAG. The read-back is given the schema just
    // written (parquet reads every column back nullable), so no job
    // infers it from the footers. It has one row per shard, so each scan
    // partition sums its own rows per shard and the driver adds the
    // partials in shard order (null shard first, as `orderBy` puts it):
    // an exchange and a final aggregate would carry nothing the driver
    // cannot add. The `_manifest` file and the returned frame are built
    // from the same rows, so neither the write nor the caller's collect
    // re-reads the shard files
    val spark = df.sparkSession
    val written = StructType(sharded.schema.map(_.copy(nullable = true)))
    val digests = spark.read.schema(written).parquet(path)
      .select(col("shard"), Profiling.rowDigest(checksumCols))
    // a digest is < 2^32, so a partition's long sum overflows (loudly)
    // only past 2^31 rows; the driver adds the partials exactly, as the
    // DECIMAL(38,0) sum of `Profiling.tableChecksum` does
    val partials = digests.queryExecution.toRdd.mapPartitions { rows =>
      val acc = scala.collection.mutable.HashMap.empty[Option[Int],
        (Long, Long)]
      rows.foreach { r =>
        val k = if (r.isNullAt(0)) None else Some(r.getInt(0))
        val (n, sum) = acc.getOrElse(k, (0L, 0L))
        acc(k) = (n + 1, Math.addExact(sum, r.getLong(1)))
      }
      Iterator.single(acc.toMap)
    }.collect()
    val rows = partials.flatten.groupMapReduce(_._1) {
        case (_, (n, sum)) => (n, java.math.BigInteger.valueOf(sum))
      } { case ((n1, s1), (n2, s2)) => (n1 + n2, s1.add(s2)) }
      .toSeq.sortBy(_._1)
      .map { case (k, (n, sum)) =>
        Row(k.map(Int.box).orNull, n, new java.math.BigDecimal(sum)) }
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("shard", IntegerType),
        StructField("n_rows", LongType, nullable = false),
        StructField("checksum", DecimalType(38, 0)))))
    local.coalesce(1).write.mode("overwrite").parquet(s"$path/_manifest")
    local
  }

  /** Deterministic per-query scratch directory for the sink roundtrip
    * queries: a fixed path under java.io.tmpdir, so repeated invocations
    * (bench reps, verify re-runs) overwrite instead of accumulating.
    * NOT a staging area for data — every roundtrip below reads its own
    * write back within the same query.
    */
  def scratch(name: String): String =
    new java.io.File(new java.io.File(
      sys.props("java.io.tmpdir"), "graft-sinks"), name).getAbsolutePath

  /** S3 driver gate: write `df` through the text KV sink, read the part
    * files back, parse key TAB value, and emit the order-insensitive
    * (n_rows, checksum) of the parsed STRINGS (Profiling.tableChecksum
    * semantics). Equal to the same checksum computed on the source rows
    * iff the sink's serialization lost nothing — a dropped row, a
    * mangled separator, or a re-encoded value all move the sum. The
    * parse splits on the FIRST tab only (limit 2), the exact inverse of
    * TextOutputFormat's key TAB value contract (reference
    * WordCount1/src/main/java/hw1/WordCount.java:58).
    *
    * Scale shape: the write is the sink under test; the read-back is one
    * file scan + partial agg to a single row — both partition-parallel,
    * nothing driver-side.
    */
  def textKVRoundtripChecksum(df: DataFrame, keyCol: String,
                              valueCol: String, path: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, split}
    writeTextKV(df, keyCol, valueCol, path)
    val back = df.sparkSession.read.text(path)
      .select(split(col("value"), "\t", 2).as("kv"))
      .select(col("kv").getItem(0).as(keyCol),
        col("kv").getItem(1).as(valueCol))
    Profiling.tableChecksum(back, Seq(keyCol, valueCol))
  }

  /** S4 driver gate: write `df` through the partitioned columnar sink
    * (the buffered-KV-store replacement — reference
    * HPopulate/src/main/java/hw2/HPopulate.java:61–108), read the
    * directory back through partition discovery, and emit the per-
    * partition-value (n_rows, checksum) census over `checksumCols`.
    * Verifies BOTH sink properties: values survive the columnar
    * encode/decode, and rows land under the right partition directory
    * (a row written to the wrong partition moves a whole group's
    * checksum). The partition column itself round-trips through the
    * directory NAME, so it is the group key, not a digest column.
    */
  def parquetRoundtripChecksum(df: DataFrame, partCol: String,
                               checksumCols: Seq[String],
                               path: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    require(checksumCols.nonEmpty, "name the stable checksum columns")
    writeParquet(df, path, partitionBy = Seq(partCol))
    df.sparkSession.read.parquet(path)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(Profiling.rowDigest(checksumCols).cast("decimal(38,0)"))
          .as("checksum"))
      .orderBy(partCol)
  }

  /** S5 driver gate: write `df` through the bulk-load sink (`parts`
    * hash partitions on the key, rows sorted by `keyCol` within each —
    * the sorted-HFile generation analogue, reference
    * HPopulateV1/src/main/java/hw2/HPopulateV1.java:144–156), read the
    * files back, and emit (n_rows, checksum, n_sort_violations):
    * the data checksum proves nothing was lost, and the violation count
    * proves the SORT property the bulk-load contract is about — each
    * file's keys nondecreasing in physical row order.
    *
    * The sortedness check rides the parquet source's `_metadata` columns
    * (file_path + row_index), so it is independent of how the scan maps
    * files to read splits — a per-file window ordered by the PHYSICAL
    * row index compares every adjacent row pair, including pairs that
    * straddle a split boundary (the failure mode of a per-split
    * streaming tracker: a file larger than maxPartitionBytes spans
    * several splits, and a boundary inversion never meets its
    * predecessor). Window partitions are file-bounded, never
    * corpus-bounded. `keyCol` must be integral and non-null.
    */
  def sortedParquetAudit(df: DataFrame, keyCol: String,
                         checksumCols: Seq[String], path: String,
                         parts: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name, lit}
    require(parts >= 1, "parts must be >= 1")
    writeSortedParquet(df.repartition(parts, col(keyCol)), Seq(keyCol),
      path)
    val back = df.sparkSession.read.parquet(path)
    Profiling.tableChecksum(back, checksumCols)
      .withColumn("n_sort_violations", lit(sortViolations(back, keyCol)))
  }

  /** Count of read-back rows whose key DECREASES from the previous row
    * of the same FILE in physical row order — 0 iff every file is
    * key-sorted. Adjacency comes from `_metadata.row_index` (not scan
    * arrival order), so the count is exact regardless of split sizing
    * or multi-file partition coalescing; each per-file window sorts one
    * file's rows — bounded by the write's own file sizing, never by the
    * corpus.
    */
  private[ops] def sortViolations(back: DataFrame,
                                  keyCol: String): Long = {
    import org.apache.spark.sql.functions.{col, lag}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__file").orderBy("__idx")
    back
      .select(col(keyCol).cast("long").as("__k"),
        col("_metadata.file_path").as("__file"),
        col("_metadata.row_index").as("__idx"))
      .withColumn("__pk", lag("__k", 1).over(w))
      .filter(col("__pk").isNotNull && col("__k") < col("__pk"))
      .count()
  }

  /** S8 driver gate: round-trip the report sink — write the driver-side
    * `key=value` lines, read the file back as text, and parse each line
    * into (stat, value). The report is the Summarizer.java analogue
    * (reference Summarizer.java:68–99): a handful of aggregate lines, so
    * the driver-side write is bounded by construction.
    */
  def reportRoundtrip(spark: org.apache.spark.sql.SparkSession,
                      lines: Seq[String], path: String,
                      keyName: String, valueName: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, split}
    writeReport(lines, path)
    spark.read.text(path)
      .select(split(col("value"), "=", 2).as("kv"))
      .select(col("kv").getItem(0).as(keyName),
        col("kv").getItem(1).cast("long").as(valueName))
      .orderBy(keyName)
  }

  /** SCHEMA-EVOLUTION roundtrip: write two generations of a table —
    * `v2` carrying columns `v1` lacks — under one root, read the root
    * back with `mergeSchema`, and return the merged frame (old-
    * generation rows surface the new columns as NULL). The capability a
    * 100 TB lake lives on: a column added in month 14 must not force a
    * rewrite of months 1–13, and readers must see one union schema
    * with NULLs where history predates the column. The caller's query
    * over the returned frame (a per-generation null census + checksum)
    * is what proves both directions: new columns are real where
    * written, NULL (not garbage, not dropped rows) where not.
    */
  def schemaEvolutionRoundtrip(v1: DataFrame, v2: DataFrame,
                               path: String): DataFrame = {
    v1.write.mode("overwrite").parquet(s"$path/gen=1")
    v2.write.mode("overwrite").parquet(s"$path/gen=2")
    v1.sparkSession.read.option("mergeSchema", "true").parquet(path)
  }

  /** Lossless-law gate for the interchange sinks: write the projection
    * through `writeFormat` in EACH of the given formats, read each back
    * (CSV with multiLine + the explicit schema — row formats carry no
    * types; ORC/JSON self-describe), and emit one
    * (format, n_rows, checksum) row per format with the
    * order-insensitive `Profiling.rowDigest` census. Every row must
    * equal the census of the source — a dropped row, a mangled quote,
    * a re-encoded string in ANY format is a driver hash mismatch
    * (q291's text-KV law, generalized across the format surface).
    *
    * Scale shape: per format one write + one read-back partial agg;
    * rows out = |formats|. The CSV leg is the one this gate exists for
    * — quoting/escaping is where row formats lose data.
    */
  def formatRoundtripChecksum(df: DataFrame, cols: Seq[String],
                              formats: Seq[String],
                              path: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    require(formats.nonEmpty, "name at least one format")
    val proj = df.select(cols.map(col): _*)
    val session = df.sparkSession
    formats.map { f =>
      val p = s"$path/$f"
      writeFormat(proj, p, f)
      val back = f match {
        case "csv" => session.read.schema(proj.schema)
          .option("multiLine", "true").csv(p)
        case "json" => session.read.schema(proj.schema).json(p)
        case "orc" => session.read.orc(p)
        case _ => session.read.parquet(p)
      }
      back.agg(count(lit(1)).as("n_rows"),
        sum(Profiling.rowDigest(cols).cast("decimal(38,0)"))
          .cast("string").as("checksum"))
        .select(lit(f).as("format"), col("n_rows"), col("checksum"))
    }.reduce(_ unionByName _).orderBy("format")
  }

  /** Codec lossless-law gate: the projection written as parquet under
    * each COMPRESSION codec, read back, checksummed — every row must
    * equal the source census. The codec choice is a first-order 100 TB
    * decision (zstd ≈ 30–40% smaller than snappy at comparable scan
    * speed; gzip trades CPU for cold storage) and this gate pins that
    * it is a PURE storage decision: no codec may change a byte of data.
    * Sizes are deliberately NOT in the output — they are
    * layout-dependent and belong in logs, not an oracle row.
    */
  def codecRoundtripChecksum(df: DataFrame, cols: Seq[String],
                             codecs: Seq[String],
                             path: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    require(codecs.nonEmpty, "name at least one codec")
    val proj = df.select(cols.map(col): _*)
    val session = df.sparkSession
    codecs.map { c =>
      val p = s"$path/$c"
      proj.write.mode("overwrite").option("compression", c).parquet(p)
      session.read.parquet(p)
        .agg(count(lit(1)).as("n_rows"),
          sum(Profiling.rowDigest(cols).cast("decimal(38,0)"))
            .cast("string").as("checksum"))
        .select(lit(c).as("codec"), col("n_rows"), col("checksum"))
    }.reduce(_ unionByName _).orderBy("codec")
  }

  /** S8: tiny driver-side report file (the Summarizer.java analogue). */
  def writeReport(lines: Seq[String], path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, String.join("\n", lines: _*)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }
}
