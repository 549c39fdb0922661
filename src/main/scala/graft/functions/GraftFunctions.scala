package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.{call_function, lit}

/** Registration + Column-level API for the custom expressions.
  *
  * Two ways in, ONE builder table, same expressions:
  *  - `GraftFunctions.register(spark)` — idempotent runtime registration in
  *    the session's FunctionRegistry (used by the library's own builders).
  *  - `spark.sql.extensions=graft.functions.GraftExtensions` — the standard
  *    SparkSessionExtensions injection point for clusters that configure
  *    the engine at session build time; also exposes the functions to pure
  *    SQL (`SELECT graft_dot(a, b)`).
  */
object GraftFunctions {

  private def constInt(e: Expression): Int =
    e.eval(null).asInstanceOf[Number].intValue

  private def constInts(e: Expression): Seq[Int] =
    e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray().toSeq

  private def constDoubles(e: Expression): Seq[Double] =
    e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray().toSeq

  private def constVecs(e: Expression): Seq[Seq[Double]] =
    e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toObjectArray(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
      .map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toDoubleArray().toSeq).toSeq

  /** (name, implementing class, builder) — the single registry. */
  private[functions] val builders
      : Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct].getName,
      c => DotProduct(c(0), c(1))),
    ("graft_cosine", classOf[CosineSimilarity].getName,
      c => CosineSimilarity(c(0), c(1))),
    ("graft_shingles", classOf[TokenShingles].getName,
      c => TokenShingles(c(0), constInt(c(1)))),
    ("graft_minhash", classOf[MinHashSignature].getName,
      c => MinHashSignature(c(0), constInt(c(1)))),
    ("graft_simhash", classOf[SimHash64].getName,
      c => SimHash64(c(0))),
    ("graft_rolling_fp", classOf[RollingFingerprints].getName,
      c => RollingFingerprints(c(0), constInt(c(1)), constInt(c(2)))),
    ("graft_nearest_centroid", classOf[NearestCentroid2D].getName,
      c => NearestCentroid2D(c(0), c(1), constInts(c(2)), constInts(c(3)),
        constDoubles(c(4)), constDoubles(c(5)))),
    ("graft_centroid_silhouette", classOf[CentroidSilhouette2D].getName,
      c => CentroidSilhouette2D(c(0), c(1), constInts(c(2)),
        constDoubles(c(3)), constDoubles(c(4)))),
    ("graft_nearest_vec_centroid", classOf[NearestVecCentroid].getName,
      c => NearestVecCentroid(c(0), constInts(c(1)), constVecs(c(2)))),
    ("graft_topk_vec_centroids", classOf[TopKVecCentroids].getName,
      c => TopKVecCentroids(c(0), constInts(c(1)), constVecs(c(2)),
        constInt(c(3)))),
    ("graft_hyperplane_sigs", classOf[HyperplaneSignatures].getName,
      c => HyperplaneSignatures(c(0), constMats(c(1)))),
    ("graft_nfc", classOf[NfcNormalize].getName,
      c => NfcNormalize(c(0))),
    // Spark's own runtime-filter bloom expressions, surfaced for MANUAL
    // semi-join pruning (Joins.bloomPrunedSemiJoin): the optimizer's
    // InjectRuntimeFilter builds exactly this pair internally but only
    // fires under its own conf-bounded heuristics — registering the
    // builders lets the library construct the same sketch/probe plan
    // deliberately. Input convention matches the injector's: both sides
    // pre-hashed with xxhash64 (the aggregate expects LongType).
    ("graft_bloom_agg",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate].getName,
      c => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(c(0), constLong(c(1)))),
    ("graft_bloom_contains",
      classOf[org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain].getName,
      c => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(c(0), c(1))))

  private def constLong(e: Expression): Long =
    e.eval(null).asInstanceOf[Number].longValue

  private def constMats(e: Expression): Seq[Seq[Seq[Double]]] =
    e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toObjectArray(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
      .map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))
        .map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toDoubleArray().toSeq).toSeq).toSeq

  /** Per-session registration. The first call for a session installs every
    * builder with createOrReplace semantics — a pre-existing user temp
    * function of the same name cannot silently shadow the library's
    * expression (graft_* names are reserved by this library). Subsequent
    * calls for the same session are no-ops (every DataFrame-level builder
    * registers defensively), tracked in a weak map so dropped sessions
    * don't leak.
    */
  private val registeredSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit =
    if (registeredSessions.putIfAbsent(spark, java.lang.Boolean.TRUE) == null) {
      val registry = spark.sessionState.functionRegistry
      builders.foreach { case (name, _, b) =>
        registry.createOrReplaceTempFunction(name, b, "built-in")
      }
    }

  /** Codegen'd dot product of two array<double> columns (requires a
    * registered session — the library's DataFrame-level builders call
    * `register` themselves).
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Codegen'd one-pass cosine similarity of two array<double> columns. */
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** Distinct whitespace-token n-gram shingles of a string column. */
  def shingles(text: Column, n: Int): Column =
    call_function("graft_shingles", text, lit(n))

  /** MinHash signature (k minima) of an array<string> shingle set. */
  def minhash(shingleSet: Column, k: Int): Column =
    call_function("graft_minhash", shingleSet, lit(k))

  /** 64-bit SimHash of a string column (whitespace tokens vote per bit). */
  def simhash(text: Column): Column = call_function("graft_simhash", text)

  /** Unicode NFC normalization (composed form) of a string column — run
    * before fingerprinting when the corpus may mix encodings.
    */
  def nfc(text: Column): Column = call_function("graft_nfc", text)

  /** Winnowed Rabin–Karp rolling fingerprints of a string column. */
  def rollingFingerprints(text: Column, k: Int, w: Int): Column =
    call_function("graft_rolling_fp", text, lit(k), lit(w))

  /** Bloom-filter sketch aggregate over an xxhash64-hashed key column —
    * Spark's BloomFilterAggregate (the runtime-filter injector's build
    * expression), returning the serialized sketch as one binary value.
    * Sketch size is derived from `estItems` by Spark's own sizing
    * (capped by the engine's runtime-filter max-bits conf), so the
    * driver-collected bytes are bounded regardless of build-side rows.
    */
  def bloomAgg(hashedKey: Column, estItems: Long): Column =
    call_function("graft_bloom_agg", hashedKey, lit(estItems))

  /** Membership probe against a bloom sketch built by [[bloomAgg]].
    * The sketch argument must be FOLDABLE (a `lit(bytes)` literal) —
    * BloomFilterMightContain rejects non-constant sketches by design,
    * which is exactly what makes the probe a scan-level codegen
    * predicate instead of a join.
    */
  def bloomContains(sketch: Column, hashedKey: Column): Column =
    call_function("graft_bloom_contains", sketch, hashedKey)

  /** Codegen-STABLE 2-D nearest centroid per centroid set (see
    * NearestCentroid2D): array<int>, one winning idx per set. The sets are
    * concatenated — `sizes(s)` centroids of set s, set after set, in
    * `idxs`/`lats`/`lons`. The centroid arrays ride the codegen
    * `references` array, so an iterative caller reuses ONE compiled plan
    * across iterations; the array-literal arguments are consumed at
    * analysis time (they become plain constructor fields, not expression
    * children).
    */
  def nearestCentroid(lat: Column, lon: Column, sizes: Seq[Int],
                      idxs: Seq[Int], lats: Seq[Double],
                      lons: Seq[Double]): Column =
    call_function("graft_nearest_centroid", lat, lon, lit(sizes.toArray),
      lit(idxs.toArray), lit(lats.toArray), lit(lons.toArray))

  /** Codegen-STABLE simplified silhouette per centroid set (see
    * CentroidSilhouette2D): array<double>, one (d2nd − dmin)/d2nd per set,
    * sets concatenated as in [[nearestCentroid]].
    */
  def centroidSilhouette(lat: Column, lon: Column, sizes: Seq[Int],
                         lats: Seq[Double], lons: Seq[Double]): Column =
    call_function("graft_centroid_silhouette", lat, lon, lit(sizes.toArray),
      lit(lats.toArray), lit(lons.toArray))

  /** Codegen-STABLE banded LSH signatures (see HyperplaneSignatures): all
    * `tables` bit-signatures of `vec` in one kernel, the [tables][bits][dim]
    * plane tensor riding codegen `references` instead of ~tables·bits·dim
    * inlined double literals.
    */
  def hyperplaneSignatures(vec: Column,
                           planes: Seq[Array[Array[Double]]]): Column =
    call_function("graft_hyperplane_sigs", vec,
      org.apache.spark.sql.functions.array(planes.map(t =>
        org.apache.spark.sql.functions.array(t.toSeq.map(p =>
          org.apache.spark.sql.functions.array(
            p.toSeq.map(v => lit(v)): _*)): _*)): _*))

  /** Codegen-STABLE vector nearest-centroid (see NearestVecCentroid). */
  def nearestVecCentroid(vec: Column, idxs: Seq[Int],
                         centroids: Seq[Array[Double]]): Column =
    call_function("graft_nearest_vec_centroid", vec,
      org.apache.spark.sql.functions.array(idxs.map(i => lit(i)): _*),
      org.apache.spark.sql.functions.array(centroids.map(c =>
        org.apache.spark.sql.functions.array(c.toSeq.map(v => lit(v)): _*)): _*))

  /** Codegen-STABLE top-k nearest centroids (see TopKVecCentroids) — the
    * IVF probe kernel: array<int> of the k closest centroid idxs,
    * (distance asc, idx asc).
    */
  def topKVecCentroids(vec: Column, idxs: Seq[Int],
                       centroids: Seq[Array[Double]], k: Int): Column =
    call_function("graft_topk_vec_centroids", vec,
      org.apache.spark.sql.functions.array(idxs.map(i => lit(i)): _*),
      org.apache.spark.sql.functions.array(centroids.map(c =>
        org.apache.spark.sql.functions.array(c.toSeq.map(v => lit(v)): _*)): _*),
      lit(k))
}

/** `spark.sql.extensions` entry point — injects the same builder table. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, clazz, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz, name), b))
    }
}
