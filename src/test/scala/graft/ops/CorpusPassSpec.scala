package graft.ops

import graft.SparkSpec
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col

/** One corpus pass as the `corpus` benchmark composes it: `minhashPairs`
  * → persist → `prepareCorpusWithPairs` → `left_anti` of the pairs'
  * `id_b` → `writeShardedWithManifest(8)`.
  *
  * Spark keeps compiled generated classes in one LRU cache of
  * `spark.sql.codegen.cache.maxEntries` (default 100) entries, split into
  * four segments of 25 whose membership is a hash of the class loader
  * and the code; local mode compiles each whole-stage class twice, once
  * under the driver's loader and once under the executors'. A pass that
  * adds more entries than its segments hold evicts its own classes and
  * recompiles them on every repeat, so the pass is kept to at most 64
  * entries — the size at which one of four 25-entry segments overflows in
  * about 2% of JVMs (a binomial count of the entries per segment).
  */
class CorpusPassSpec extends SparkSpec {

  /** Spark's generated-class cache, reached by reflection (it is
    * private to `CodeGenerator`). */
  private lazy val codegenCache: AnyRef = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator)
  }
  private def cacheCall(name: String): AnyRef =
    codegenCache.getClass.getMethod(name).invoke(codegenCache)
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Seeded `documents`-schema corpus with planted near-duplicates (a
    * copy of an earlier document with ~6% of its tokens replaced and a
    * short tail), written to parquet so the pass scans files as the
    * benchmark's does. */
  private def corpus(dir: String, n: Int, seed: Long): DataFrame = {
    val rng = new scala.util.Random(seed)
    val words = Seq("the", "a", "of", "and", "to", "in", "is", "it") ++
      (0 until 400).map(i => s"w$i")
    def word() = words(rng.nextInt(words.length))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until n) {
      val toks =
        if (i >= 10 && rng.nextDouble() < 0.25) {
          val t = texts(rng.nextInt(i)).split(" ").toBuffer
          (0 until math.max(1, t.length / 16))
            .foreach(_ => t(rng.nextInt(t.length)) = word())
          t ++ Seq.fill(3)(word())
        } else Seq.fill(24 + rng.nextInt(96))(word())
      texts += toks.mkString(" ")
    }
    val rows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, "en", s"src${i % 20}", t.length.toLong)
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def pass(docs: DataFrame, shards: String): Seq[Seq[Row]] = {
    val pairs = Dedup.minhashPairs(docs).persist()
    try {
      val p = pairs.collect().toSeq
      val acct = Pipeline.prepareCorpusWithPairs(docs, pairs).collect().toSeq
      val kept = docs.join(pairs.select(col("id_b").as("doc_id")),
        Seq("doc_id"), "left_anti")
      val manifest = Sinks.writeShardedWithManifest(kept, "doc_id",
        Seq("doc_id", "text"), shards, 8).collect().toSeq
      Seq(p, acct, manifest)
    } finally {
      pairs.unpersist()
      spark.catalog.clearCache()
    }
  }

  test("a corpus pass fits the codegen cache: ≤ 64 entries, a repeat " +
      "compiles nothing") {
    assume(spark.streams.active.isEmpty,
      "a running stream would compile classes during the measurement")
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus-pass")
    val docs = corpus(s"$dir/documents", 600, 7L)
    val shards = s"$dir/shards"
    spark.catalog.clearCache()
    cacheCall("invalidateAll")
    val c0 = compiles
    val first = pass(docs, shards)
    val added = compiles - c0
    val c1 = compiles
    val second = pass(docs, shards)
    info(s"one pass added $added generated classes")
    assert(added <= 64,
      s"one pass added $added generated classes to the codegen cache")
    // which segment an entry lands in hashes this JVM's class loaders, so
    // even a pass this small overflows one now and then (see above); the
    // first pass then evicted its own classes and the repeat recompiles
    // them whatever the plans are
    val cached = cacheCall("size").asInstanceOf[Long]
    assume(cached == added, s"a codegen cache segment overflowed in this " +
      s"JVM: $added classes compiled, $cached still cached")
    assert(compiles == c1, s"a repeated pass compiled ${compiles - c1} " +
      s"classes (first pass: $added added)")
    assert(second == first)
    assert(first.head.nonEmpty, "the corpus must plant near-duplicates")
  }
}
