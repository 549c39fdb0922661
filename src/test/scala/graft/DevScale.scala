package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Text

/** Deterministic input inflation: F copies of a fixture table, built so the
  * workload's intrinsic output scales exactly linearly in F — then any
  * superlinear runtime at scale is the operator's fault, not the corpus's.
  * The scaling tables in PLANS.md were measured on these constructions;
  * DevScaleSpec pins their laws.
  *
  *  - Documents, copy c ≥ 1: every token gets a copy-unique suffix `~c`
  *    (same `Text.ws` whitespace class as the shingle family), so shingles
  *    and fingerprints NEVER collide across copies while each copy's
  *    internal duplicate/near-dup structure mirrors the original exactly.
  *    Pair output, cluster count, and census rows therefore grow by
  *    exactly F; shingle df maxima are unchanged.
  *  - Embeddings, copy 1: a hash-seeded ±0.01/dim jitter of the original —
  *    a planted near-duplicate (cosine ≈ 0.999) per vector. Copies c ≥ 2:
  *    fresh hash-uniform vectors in [-0.5, 0.5]^d (novel mass, near-dup to
  *    nothing).
  *  - Keyed tables (events, orders, lineitem), copy c ≥ 1: the id columns
  *    shift by `c · idStride`, everything else untouched — F key-disjoint
  *    populations with identical structure, so keyed-window output grows
  *    exactly F× and per-key window partitions keep their size.
  */
object DevScale {

  // ≡ 0 mod 20, so a modular id-slice filter selects the same fraction of
  // every copy
  private val idStride = 10000000L

  /** F deterministic copies of `documents`; copy 0 is the original, copy
    * c ≥ 1 re-ids by `c * idStride` and suffixes every token with `~c`.
    * Schema (doc_id, text, lang, source, n_chars) is preserved; n_chars is
    * recomputed on the suffixed text.
    */
  def inflateDocuments(docs: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    (0 until factor).map { c =>
      if (c == 0) docs
      else docs
        .select(
          (col("doc_id") + lit(c * idStride)).as("doc_id"),
          array_join(transform(Text.tokens(col("text")),
            w => concat(w, lit(s"~$c"))), " ").as("text"),
          col("lang"), col("source"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
    }.reduce(_ unionByName _)
  }

  /** F deterministic copies of a table by shifting its id columns by
    * `c · idStride`: every copy is a key-disjoint population with identical
    * structure. Non-id columns (timestamps, dims, measures) pass through
    * untouched.
    */
  def inflateByIds(df: DataFrame, factor: Int, idCols: Seq[String]): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    (0 until factor).map { c =>
      if (c == 0) df
      else idCols.foldLeft(df)((d, ic) =>
        d.withColumn(ic, col(ic) + lit(c * idStride)))
    }.reduce(_ unionByName _)
  }

  /** F deterministic copies of `embeddings`; copy 0 original, copy 1 a
    * planted near-dup (hash-seeded ±0.01/dim jitter), copies ≥ 2 fresh
    * hash-uniform vectors in [-0.5, 0.5]^d. Element type stays FLOAT.
    */
  def inflateEmbeddings(emb: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    def u(c: Int) = (i: org.apache.spark.sql.Column) =>
      pmod(xxhash64(col("vec_id"), lit(c), i), lit(1000001L)) / 500000.0 - 1.0
    (0 until factor).map { c =>
      val vec =
        if (c == 0) col("embedding")
        else if (c == 1)
          transform(col("embedding"),
            (x, i) => x + u(c)(i) * 0.01).cast("array<float>")
        else
          transform(col("embedding"),
            (_, i) => u(c)(i) * 0.5).cast("array<float>")
      emb.select((col("vec_id") + lit(c * idStride)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
  }
}
