package perfbench

import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.ml.{KMeans, ModelSelect}
import graft.ops.{Dedup, Pipeline, Sinks}

object Outputs {
  /** Order-sensitive digest of fully collected rows, for pass-to-pass
    * equality. */
  def digest(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Writes collected rows as parquet for the out-of-process oracle
    * compare (not timed). */
  def save(ctx: Ctx, rows: Seq[Row], schema: StructType, path: String): Unit =
    ctx.spark.createDataFrame(rows.asJava, schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  def append(ctx: Ctx, key: String, v: Any): Unit =
    ctx.checks(key) = ctx.checks.getOrElse(key, Vector.empty[Any])
      .asInstanceOf[Vector[Any]] :+ v

  /** Times a full evaluation of `df` without collecting it — the
    * kernel-only projections of traced runs. */
  def timeNoop(ctx: Ctx, layer: String, name: String, df: DataFrame,
               rows: Long): Unit = {
    val t0 = ctx.now()
    df.write.format("noop").mode("overwrite").save()
    ctx.probes += Map("layer" -> layer, "name" -> name, "s" -> (ctx.now() - t0),
      "rows" -> rows)
  }
}

/** The 22 TPC-H topologies, closed loop with one client: each query is
  * built and fully collected after the previous one returns, in an order
  * the seed permutes every pass. */
final class Olap extends Workload {
  val queries = Seq("q01_pricing_summary", "q218_min_cost_supplier",
    "q249_shipping_priority", "q223_late_order_census",
    "q250_local_supplier_volume", "q251_forecast_revenue", "q210_trade_flows",
    "q227_market_share", "q252_product_profit", "q253_returned_customers",
    "q217_brand_share", "q254_priority_class",
    "q224_order_count_distribution", "q255_promo_share",
    "q216_top_supplier", "q256_supplier_count", "q257_small_quantity",
    "q214_large_orders", "q258_brand_bands", "q225_dominant_suppliers",
    "q226_sole_late_supplier", "q215_dormant_customers")
  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem")

  def register(ctx: Ctx): Unit =
    tables.foreach(t => Tables.load(ctx.spark, ctx.in, t).schema)

  /** The warm-up pass also writes each result for the oracle compare. */
  def warmup(ctx: Ctx): Unit = {
    val oracle = SparkEntry.oracleSqlFor(ctx.in)
    ctx.checks("oracle_sql") = queries.map(q => q -> oracle(q)).toMap
    queries.foreach { q =>
      val df = SparkEntry.queries(q)(ctx.spark, ctx.in)
      val rows = df.collect().toSeq
      Outputs.save(ctx, rows, df.schema, s"${ctx.out}/olap/$q")
      ctx.checks(s"warm:$q") = Outputs.digest(rows)
      ctx.spark.catalog.clearCache()
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(ctx.out, "olap", "oracle_sql.json"),
      Json.render(ctx.checks("oracle_sql")).getBytes("UTF-8"))
  }

  def pass(ctx: Ctx): Boolean = {
    val order = new scala.util.Random(ctx.seed * 1000003L + ctx.pass)
      .shuffle(queries)
    order.map { q =>
      val rows = ctx.op(q, "ops") { id =>
        val df = ctx.planned(id)(SparkEntry.queries(q)(ctx.spark, ctx.in))
        ctx.sub(id, "exec", "ops")(df.collect().toSeq)
      }
      rows.foreach(r => Outputs.append(ctx, s"pass:$q", Outputs.digest(r)))
      ctx.spark.catalog.clearCache()
      rows.isDefined
    }.forall(identity)
  }

  override def opCount(ctx: Ctx): Int = ctx.ops.length

}

/** The LLM-data pipeline: MinHash-LSH near-duplicate pairs → corpus
  * preparation over those pairs → a sharded export with a manifest. */
final class Corpus extends Workload {
  val tables = Seq("documents")
  private var docs: DataFrame = _
  def register(ctx: Ctx): Unit = {
    docs = Tables.documents(ctx.spark, ctx.in)
    docs.schema
  }

  def warmup(ctx: Ctx): Unit = run(ctx, timed = false)

  def pass(ctx: Ctx): Boolean = run(ctx, timed = true)

  /** One pipeline run; a timed run records each call as an operation,
    * the warm-up keeps the pair list for the Jaccard and recall checks. */
  private def run(ctx: Ctx, timed: Boolean): Boolean = {
    def call[T](name: String)(f: String => T): Option[T] =
      if (timed) ctx.op(name, "ops")(f) else Some(f("warmup"))
    val shards = s"${ctx.out}/shards"
    var pairsDf: DataFrame = null
    val pairs = call("minhashPairs") { id =>
      pairsDf = ctx.planned(id)(Dedup.minhashPairs(docs).persist())
      ctx.sub(id, "exec", "ops")(pairsDf.collect().toSeq)
    }
    val acct = call("prepareCorpusWithPairs") { id =>
      val df = ctx.planned(id)(Pipeline.prepareCorpusWithPairs(docs, pairsDf))
      ctx.sub(id, "exec", "ops")(df.collect().toSeq)
    }
    val kept = docs.join(pairsDf.select(col("id_b").as("doc_id")),
      Seq("doc_id"), "left_anti")
    val manifest = call("writeShardedWithManifest")(_ =>
      Sinks.writeShardedWithManifest(kept, "doc_id", Seq("doc_id", "text"),
        shards, 8).collect().toSeq)
    if (pairsDf != null) pairsDf.unpersist()
    if (!timed) pairs.foreach { ps =>
      ctx.checks("warm:pairs") =
        ps.map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2)))
      ctx.checks("warm:pairs_digest") = Outputs.digest(ps)
    } else {
      pairs.foreach(p => Outputs.append(ctx, "pass:pairs", Outputs.digest(p)))
      acct.foreach(a => Outputs.append(ctx, "pass:accounting",
        a.map(_.toString)))
      manifest.foreach(m => Outputs.append(ctx, "pass:manifest",
        m.map(_.toString)))
      val files = Option(new java.io.File(shards).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("shard="))
        .flatMap(d => d.listFiles().toSeq.filter(_.getName.endsWith(".parquet")))
      Outputs.append(ctx, "pass:sink", Map("files" -> files.length,
        "bytes" -> files.map(_.length).sum))
    }
    pairs.isDefined && acct.isDefined && manifest.isDefined
  }

  override def probe(ctx: Ctx): Unit = {
    val sigs = Dedup.minhashSignatures(docs)
    Outputs.timeNoop(ctx, "functions", "minhashSignatures", sigs,
      docs.count())
    // LSH candidates: the band-bucket self-join minhashPairs verifies
    val bk = Dedup.bandKeys(docs)
    val cands = bk.as("x").join(bk.as("y"),
      col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    ctx.probes += Map("layer" -> "ops", "name" -> "dedup_candidates",
      "s" -> 0.0, "rows" -> cands)
  }
}

/** The paper's model-selection sweep: k = 10..100 step 10, at most 20
  * Lloyd rounds, over weighted pickup cells. */
final class KmeansSweep extends Workload {
  val ks: Seq[Int] = 10 to 100 by 10
  val tables = Seq("cells")
  private var cells: DataFrame = _
  def register(ctx: Ctx): Unit = {
    cells = Tables.load(ctx.spark, ctx.in, tables.head)
    cells.schema
  }

  /** Every plan of a sweep (bounding box, a round over all ks,
    * silhouettes) compiles within three rounds. */
  def warmup(ctx: Ctx): Unit = ModelSelect.sweep(cells, ks, ctx.seed, 3)

  /** Lloyd rounds: every action of a sweep but the first (bounding box)
    * and the last (silhouettes). */
  override def opCount(ctx: Ctx): Int = ctx.ops.map(
    _("actions").asInstanceOf[Seq[_]].length - 2).sum

  def pass(ctx: Ctx): Boolean = {
    val entries = ctx.op("sweep", "ml")(_ =>
      ModelSelect.sweep(cells, ks, ctx.seed, 20))
    entries.foreach(es => Outputs.append(ctx, "pass:sweep", es.map(e =>
      Seq[Any](e.k, e.silScore, e.iterations, e.converged))))
    entries.isDefined
  }

  override def probe(ctx: Ctx): Unit = {
    val (a, b, c, d) = KMeans.bbox(cells)
    val cs = KMeans.initUniform(ks.last, ctx.seed, a, b, c, d)
    Outputs.timeNoop(ctx, "functions", "assign", KMeans.assign(cells, cs),
      cells.count())
  }

  /** One k refit alone must equal its sweep entry. */
  override def finish(ctx: Ctx): Unit = {
    val r = KMeans.fit(cells, ks.head, ctx.seed, 20)
    ctx.checks("fit") = Map("k" -> ks.head, "iterations" -> r.iterations,
      "converged" -> r.converged)
  }
}
