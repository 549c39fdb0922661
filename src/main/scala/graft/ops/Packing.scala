package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Sequence packing for pre-training: documents in doc_id order are
  * conceptually concatenated and cut into fixed token-budget chunks;
  * each document is assigned the pack containing its FIRST token
  * (`pack_id = exclusive_prefix_sum(n_tokens) / budget`). The
  * concat-and-chunk scheme is the standard way training pipelines fill
  * fixed-length context windows without padding waste.
  *
  * The interesting part at scale is the prefix sum. The SQL formulation —
  * `sum(n_tokens) OVER (ORDER BY doc_id)` with no PARTITION BY — plans as
  * a SINGLE-task window over the whole corpus (the same funnel the df-cap
  * work removed from dedup). Here it is the classic two-pass distributed
  * prefix sum instead: range-partition by doc_id, pass 1 collects one
  * (partition, token-total) row per partition to the driver, pass 2
  * streams each partition once more adding its broadcast base offset.
  * Both passes are narrow scans of the cached stats frame; nothing wider
  * than `numPartitions` rows ever reaches the driver.
  *
  * Result determinism does NOT depend on where the range boundaries fall:
  * the prefix of a total order is a property of the ORDER, not of the
  * partitioning — moving a boundary moves which pass computes a row's
  * offset, never its value (PackingSpec pins equality across partition
  * counts).
  */
object Packing {

  /** `(doc_id, n_tokens, pack_id)` for every document; whitespace tokens
    * (Text.tokens), packs of `budget` tokens. `parts` overrides the
    * prefix-sum partition count (defaults to the session's shuffle
    * width); any value produces the identical assignment.
    */
  def packAssignments(documents: DataFrame, budget: Long,
                      parts: Int = 0): DataFrame = {
    require(budget >= 1, "token budget must be >= 1")
    val session = documents.sparkSession
    import session.implicits._
    val n =
      if (parts > 0) parts
      else shuffleWidth(session)
    val stats = documents.select(col("doc_id"),
      size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    // persist: pass 1 (eager collect, below) and the caller's eventual
    // action on pass 2 both read this frame — without the cache, pass 2
    // would re-run the tokenize + range shuffle. NOT unpersisted here:
    // pass 2 is lazy, so an eager unpersist would evict before the caller
    // ever runs it. The entry stays in the session's cache until the
    // caller's `clearCache()` (the pairsBySetOverlap convention).
    val ranged = stats
      .repartitionByRange(n, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .as[(Long, Long)]
      .persist(StorageLevel.MEMORY_AND_DISK)
    // pass 1: one (partitionId, tokenTotal) row per partition
    val totals = ranged.mapPartitions { it =>
      var sum = 0L
      it.foreach { case (_, t) => sum += t }
      Iterator.single((TaskContext.getPartitionId(), sum))
    }.collect().toMap
    // base offset of partition p = sum of totals of partitions < p
    val base = (0 until n).scanLeft(0L)(
      (acc, p) => acc + totals.getOrElse(p, 0L)).toArray
    val bBase = session.sparkContext.broadcast(base)
    // pass 2: running sum within each partition, seeded by its base
    ranged.mapPartitions { it =>
      var cum = bBase.value(TaskContext.getPartitionId())
      it.map { case (id, t) =>
        val start = cum
        cum += t
        (id, t, start / budget)
      }
    }.toDF("doc_id", "n_tokens", "pack_id")
      .orderBy("doc_id")
  }

  /** Pack-contamination census: how MIXED the packed context windows
    * are — for each (distinct sources, distinct langs) combination, the
    * number of packs and documents whose window mixes exactly that many.
    * Cross-document attention inside a pack leaks tokens across its
    * documents unless the trainer masks pack boundaries; a pack mixing
    * many sources/languages is where that leakage costs most (and where
    * sequence-level contamination audits must look first). This is the
    * governance table read before choosing doc-order (q148 curriculum
    * vs shuffled) and pack budget.
    *
    * Scale shape: the two-pass prefix-sum assignment (`packAssignments`)
    * + one id-keyed join to the doc dims + two keyed partial aggs
    * (per-pack, then per-combination). No window beyond the sharded
    * prefix sum.
    */
  def packContaminationCensus(documents: DataFrame, budget: Long,
                              parts: Int = 0): DataFrame = {
    val packs = packAssignments(documents, budget, parts)
    packs.join(documents.select(col("doc_id"), col("source"),
        col("lang")), "doc_id")
      .groupBy("pack_id")
      .agg(count(lit(1)).as("__nd"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"))
      .groupBy("n_sources", "n_langs")
      .agg(count(lit(1)).as("n_packs"), sum("__nd").as("n_docs"))
      .orderBy("n_sources", "n_langs")
  }
}
