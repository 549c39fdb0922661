package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * work removed from dedup). Here it is `Layout.prefixScan`, the two-pass
  * distributed prefix sum, instead: the token counts are range-partitioned
  * by doc_id, pass 1 ships one token total per partition to the driver,
  * and pass 2 streams each partition once more from its broadcast base
  * offset, reading the same range exchange output as pass 1. Nothing is
  * cached, and nothing wider than one row per partition reaches the
  * driver.
  *
  * Result determinism does NOT depend on where the range boundaries fall:
  * the prefix of a total order is a property of the ORDER, not of the
  * partitioning — moving a boundary moves which pass computes a row's
  * offset, never its value (PackingSpec pins equality across partition
  * counts).
  */
object Packing {

  /** `(doc_id, n_tokens, pack_id)` for every document, in doc_id order;
    * whitespace tokens (Text.tokens), packs of `budget` tokens.
    */
  def packAssignments(documents: DataFrame, budget: Long): DataFrame = {
    require(budget >= 1, "token budget must be >= 1")
    val stats = documents.select(col("doc_id"),
      size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    Layout.prefixScan(stats, None, Seq("doc_id"), Some("n_tokens"),
        Math.addExact(_, _), "packAssignments",
        shuffleWidth(documents.sparkSession))._1
      .select(col("doc_id"), col("n_tokens"),
        expr(s"coalesce(${Layout.prevCol}, 0L) div ${budget}L")
          .as("pack_id"))
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
  def packContaminationCensus(documents: DataFrame,
                              budget: Long): DataFrame = {
    val packs = packAssignments(documents, budget)
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
