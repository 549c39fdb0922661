package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** The two 2-D centroid scans, each written once: the SQL kernels below
  * call them once per set (interpreted and generated code alike), and the
  * k-means passes of graft.ml call them from their partition closures.
  * A centroid SET is a range `[from, until)` of the concatenated `lats` /
  * `lons` arrays. Distances are `dl·dl + dn·dn` with `dl = lat − cLat`,
  * `dn = lon − cLon` (the reference's op order, KMeans.java:98), scanned
  * in array order with a strict `<`.
  */
object CentroidScan {

  /** Array position of the point's nearest centroid in `[from, until)`:
    * the first minimum wins (reference KMeans.java:93–103); a point whose
    * every distance is NaN goes to `from`. */
  def nearest(lat: Double, lon: Double, lats: Array[Double],
              lons: Array[Double], from: Int, until: Int): Int = {
    var best = from
    var bd = Double.PositiveInfinity
    var i = from
    while (i < until) {
      val dl = lat - lats(i)
      val dn = lon - lons(i)
      val d = dl * dl + dn * dn
      if (d < bd) { bd = d; best = i }
      i += 1
    }
    best
  }

  /** The point's simplified silhouette against `[from, until)` (reference
    * Silhouette.java:83–97): with dmin and d2nd the smallest and
    * second-smallest squared distances, `(d2nd − dmin) / d2nd`, or 0 when
    * d2nd is not > 0 or the set has a single centroid. dmin/d2nd come from
    * a running two-smallest scan (the reference's A13 trick), which yields
    * exactly the first two elements of the sorted distance array. */
  def silhouette(lat: Double, lon: Double, lats: Array[Double],
                 lons: Array[Double], from: Int, until: Int): Double = {
    var d1 = Double.PositiveInfinity
    var d2 = Double.PositiveInfinity
    var i = from
    while (i < until) {
      val dl = lat - lats(i)
      val dn = lon - lons(i)
      val d = dl * dl + dn * dn
      if (d < d1) { d2 = d1; d1 = d } else if (d < d2) d2 = d
      i += 1
    }
    if (until - from >= 2 && d2 > 0) (d2 - d1) / d2 else 0.0
  }
}

/** Shared shape of the 2-D centroid kernels: a point (lat, lon) against
  * any number of centroid SETS, passed as concatenated arrays — `sizes(s)`
  * centroids per set, set after set, in `lats`/`lons` (and `idxs` where the
  * kernel reports idxs). Each kernel returns one value per set, so a sweep
  * over many k evaluates every k in ONE scan of the points. The per-set
  * work is one [[CentroidScan]] call.
  *
  * Why an Expression and not literal distance columns: a double `Literal`
  * inlines its VALUE into the generated Java source, so a plan that bakes
  * each round's centroids in produces DIFFERENT source every round — a
  * fresh Janino compile per plan per round. Here the centroid arrays travel
  * through `ctx.addReferenceObj` (the codegen `references` array) into a
  * static [[CentroidScan]] call, so every plan — whatever its centroids,
  * set count or set sizes — generates byte-identical source and hits
  * Spark's codegen cache; only the tiny reference objects change.
  */
abstract class CentroidSetsKernel extends BinaryExpression {
  def sizes: Seq[Int]
  def lats: Seq[Double]
  def lons: Seq[Double]

  /** Called from each subclass body: a superclass constructor would run
    * before the case-class fields are set. */
  protected def requireSets(): Unit =
    require(sizes.nonEmpty && sizes.forall(_ >= 1) &&
      sizes.sum == lats.length && lats.length == lons.length,
      s"$prettyName needs non-empty centroid sets whose sizes sum to the " +
        "length of equal-length centroid arrays")

  @transient protected lazy val offArr: Array[Int] =
    sizes.scanLeft(0)(_ + _).toArray
  @transient protected lazy val latArr: Array[Double] = lats.toArray
  @transient protected lazy val lonArr: Array[Double] = lons.toArray

  /** One value per set from `elem(from, until)`, the interpreted path. */
  protected def perSet[T: ClassTag](elem: (Int, Int) => T): Array[T] =
    Array.tabulate(offArr.length - 1)(s => elem(offArr(s), offArr(s + 1)))

  /** Generated code: an `elemType[]` with one element per set, each
    * `elem(args)` where `args` are the point and the set's centroids as
    * [[CentroidScan]] takes them. The loop over sets stays in the
    * generated method, so the JIT can inline the scan into it: a static
    * wrapper that looped over the sets itself was compiled out of line
    * and ran the kernel 5–8% slower per row (3 M rows × 100 centroids,
    * local[4]). */
  protected def perSetCode(ctx: CodegenContext, ev: ExprCode,
                           elemType: String)(elem: String => String): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val off = ctx.addReferenceObj("coffsets", offArr, "int[]")
      val la = ctx.addReferenceObj("clats", latArr, "double[]")
      val lo = ctx.addReferenceObj("clons", lonArr, "double[]")
      val out = ctx.freshName("out")
      val s = ctx.freshName("s")
      s"""
         |final $elemType[] $out = new $elemType[$off.length - 1];
         |for (int $s = 0; $s < $out.length; $s++) {
         |  $out[$s] = ${elem(s"$a, $b, $la, $lo, $off[$s], $off[$s + 1]")};
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two double arguments (lat, lon)")
}

/** Nearest centroid per set (SURVEY.md §2.6 M2, reference
  * KMeans.java:93–103 semantics: scan in centroid-idx order, strict `<`,
  * first minimum wins): array<int> of the winning centroid's own idx, one
  * element per set ([[CentroidScan.nearest]]).
  */
case class NearestCentroid2D(left: Expression, right: Expression,
                             sizes: Seq[Int], idxs: Seq[Int],
                             lats: Seq[Double], lons: Seq[Double])
    extends CentroidSetsKernel {
  requireSets()
  require(idxs.length == lats.length,
    "graft_nearest_centroid needs one idx per centroid")

  @transient private lazy val idxArr: Array[Int] = idxs.toArray

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_centroid"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lat = a.asInstanceOf[Double]
    val lon = b.asInstanceOf[Double]
    UnsafeArrayData.fromPrimitiveArray(perSet((from, until) =>
      idxArr(CentroidScan.nearest(lat, lon, latArr, lonArr, from, until))))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    perSetCode(ctx, ev, "int") { args =>
      val idx = ctx.addReferenceObj("cidxs", idxArr, "int[]")
      s"$idx[graft.functions.CentroidScan.nearest($args)]"
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid2D =
    copy(left = newLeft, right = newRight)
}

/** Simplified silhouette per set (SURVEY.md §2.6 M4, reference
  * Silhouette.java:83–97): array<double>, one
  * [[CentroidScan.silhouette]] per set.
  */
case class CentroidSilhouette2D(left: Expression, right: Expression,
                                sizes: Seq[Int], lats: Seq[Double],
                                lons: Seq[Double])
    extends CentroidSetsKernel {
  requireSets()

  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_centroid_silhouette"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lat = a.asInstanceOf[Double]
    val lon = b.asInstanceOf[Double]
    UnsafeArrayData.fromPrimitiveArray(perSet((from, until) =>
      CentroidScan.silhouette(lat, lon, latArr, lonArr, from, until)))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    perSetCode(ctx, ev, "double")(args =>
      s"graft.functions.CentroidScan.silhouette($args)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidSilhouette2D =
    copy(left = newLeft, right = newRight)
}

/** The vector centroid scans, each written once — the [[CentroidScan]]
  * discipline for array<double> vectors: [[NearestVecCentroid]] and
  * [[TopKVecCentroids]] call them from `nullSafeEval` and from their
  * generated code alike. Row `c` of `cs` is the centroid whose idx is
  * `idxs(c)`; its distance to `x` is Σ(x_i−c_i)² over the common prefix.
  * Rows are scanned in order with a strict `<`, so at equal distance the
  * earlier row wins, and a NaN distance never displaces anything.
  */
object VecCentroidScan {

  private def sqDist(x: ArrayData, c: Array[Double]): Double = {
    val n = math.min(x.numElements(), c.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      val dx = x.getDouble(i) - c(i)
      s += dx * dx
      i += 1
    }
    s
  }

  /** Idx of the nearest centroid; a vector whose every distance is NaN
    * goes to `idxs(0)`. */
  def nearest(x: ArrayData, idxs: Array[Int],
              cs: Array[Array[Double]]): Int = {
    var best = idxs(0)
    var bd = Double.PositiveInfinity
    var c = 0
    while (c < cs.length) {
      val s = sqDist(x, cs(c))
      if (s < bd) { bd = s; best = idxs(c) }
      c += 1
    }
    best
  }

  /** Idxs of the min(k, |cs|) nearest centroids, nearest first, kept in a
    * k-element insertion buffer of rows. Slots no finite distance reached
    * take the rows not yet chosen, in scan order, so no row is chosen
    * twice; with k = 1 that is [[nearest]]'s all-NaN rule. */
  def topK(x: ArrayData, idxs: Array[Int], cs: Array[Array[Double]],
           k: Int): Array[Int] = {
    val kk = math.min(k, cs.length)
    val bd = Array.fill(kk)(Double.PositiveInfinity)
    val br = new Array[Int](kk)
    var filled = 0
    var c = 0
    while (c < cs.length) {
      val s = sqDist(x, cs(c))
      if (s < bd(kk - 1)) {
        var p = kk - 1
        while (p > 0 && s < bd(p - 1)) {
          bd(p) = bd(p - 1); br(p) = br(p - 1); p -= 1
        }
        bd(p) = s; br(p) = c
        if (filled < kk) filled += 1
      }
      c += 1
    }
    c = 0
    while (filled < kk) {
      if (!br.take(filled).contains(c)) { br(filled) = c; filled += 1 }
      c += 1
    }
    var p = 0
    while (p < kk) { br(p) = idxs(br(p)); p += 1 }
    br
  }
}

/** Shared shape of the vector centroid kernels: an array<double> child
  * against a centroid matrix with one idx per row. Same codegen-stability
  * story as [[CentroidSetsKernel]]: the matrix and idxs ride
  * `ctx.addReferenceObj` into a static [[VecCentroidScan]] call, so the
  * generated source is byte-identical for any centroid set and list count.
  */
abstract class VecCentroidKernel extends UnaryExpression {
  def idxs: Seq[Int]
  def centroids: Seq[Seq[Double]]

  /** Called from each subclass body (see [[CentroidSetsKernel]]). */
  protected def requireCentroids(): Unit =
    require(idxs.nonEmpty && idxs.length == centroids.length,
      s"$prettyName needs equal-length non-empty centroid arrays")

  @transient protected lazy val idxArr: Array[Int] = idxs.toArray
  @transient protected lazy val cMat: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  /** Generated code: `call(x, idxs, matrix)` on the non-null child. */
  protected def scanCode(ctx: CodegenContext, ev: ExprCode)(
      call: (String, String, String) => String): ExprCode = {
    val idxRef = ctx.addReferenceObj("cidxs", idxArr, "int[]")
    val matRef = ctx.addReferenceObj("cmat", cMat, "double[][]")
    defineCodeGen(ctx, ev, a => call(a, idxRef, matRef))
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<double> argument")
  }
}

/** Vector nearest-centroid for the IVF coarse quantizer's Lloyd loop
  * (ml.KMeansVec): the idx of [[VecCentroidScan.nearest]].
  */
case class NearestVecCentroid(child: Expression, idxs: Seq[Int],
                              centroids: Seq[Seq[Double]])
    extends VecCentroidKernel {
  requireCentroids()

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_vec_centroid"

  override def nullSafeEval(a: Any): Any =
    VecCentroidScan.nearest(a.asInstanceOf[ArrayData], idxArr, cMat)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    scanCode(ctx, ev)((a, i, m) =>
      s"graft.functions.VecCentroidScan.nearest($a, $i, $m)")

  override protected def withNewChildInternal(
      newChild: Expression): NearestVecCentroid = copy(child = newChild)
}

/** Top-`k` nearest centroids of an array<double> vector, as an array<int>
  * of centroid idxs ordered (distance asc, scan order) — the IVF PROBE
  * kernel ([[VecCentroidScan.topK]]). It replaced an
  * `array_sort(array(struct(dist_0, 0), …))` device whose expression width
  * grew with the LIST COUNT; here the per-row cost is one O(nlist·d) scan
  * with a k-element insertion buffer (k = nprobe, a small constant).
  */
case class TopKVecCentroids(child: Expression, idxs: Seq[Int],
                            centroids: Seq[Seq[Double]], k: Int)
    extends VecCentroidKernel {
  requireCentroids()
  require(k >= 1, "graft_topk_vec_centroids needs k >= 1")

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_topk_vec_centroids"

  override def nullSafeEval(a: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      VecCentroidScan.topK(a.asInstanceOf[ArrayData], idxArr, cMat, k))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    scanCode(ctx, ev)((a, i, m) =>
      "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" +
        s".fromPrimitiveArray(graft.functions.VecCentroidScan.topK($a, $i, $m, $k))")

  override protected def withNewChildInternal(
      newChild: Expression): TopKVecCentroids = copy(child = newChild)
}
