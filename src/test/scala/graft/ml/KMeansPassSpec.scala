package graft.ml

import graft.SparkSpec
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}

/** The partition-local bounding box and silhouette passes against the SQL
  * they replaced:
  *  - [[KMeans.bbox]] equals `agg(min, max)` over nulls in either column,
  *    NaN, ±0.0, empty partitions and 1–7 partitions — bit for bit on one
  *    partition, and under SQL equality (0.0 = -0.0) on more, where the
  *    aggregate's merge order is not fixed;
  *  - [[Silhouette.scoreSets]] is bit-equal, on one partition, to the old
  *    `posexplode` → `groupBy(set)` → `sum(sil * cnt) / sum(cnt)` formula
  *    (kept here as the oracle), and on three partitions to a driver-side
  *    oracle that sums each partition's rows in row order, then the
  *    partitions' sums in partition order;
  *  - one planned [[PointScan]], re-run pass after pass with alternating
  *    centroid sets, gives every pass the result of a fresh scan.
  */
class KMeansPassSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("cnt", IntegerType)))

  private type P = (Option[Double], Option[Double], Option[Int])

  private def frame(ps: Seq[P], partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ps.map {
      case (la, lo, c) => Row(la.orNull, lo.orNull, c.orNull)
    }, partitions), schema)

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** SQL equality of doubles: 0.0 = -0.0 and NaN = NaN. */
  private def sqlEq(a: Double, b: Double): Boolean =
    a == b || (a.isNaN && b.isNaN)

  // ---- bounding box -------------------------------------------------------

  private val coord: Gen[Option[Double]] = Gen.frequency(
    6 -> Gen.chooseNum(-4, 4).map(i => Some(i * 0.5)),
    1 -> Gen.oneOf(Some(0.0), Some(-0.0)),
    1 -> Gen.const(Some(Double.NaN)),
    2 -> Gen.const(None))

  private val boxCase: Gen[(Seq[P], Int)] = for {
    n <- Gen.chooseNum(0, 12)
    ps <- Gen.listOfN(n, Gen.zip(coord, coord, Gen.some(Gen.chooseNum(1, 3))))
    parts <- Gen.chooseNum(1, 7)
  } yield (ps, parts)

  /** None when bbox matches the aggregate (or both have no value). */
  private def boxViolation(ps: Seq[P], parts: Int): Option[String] = {
    val df = frame(ps, parts)
    val r = df.agg(min("lat"), max("lat"), min("lon"), max("lon")).head()
    val got = scala.util.Try(KMeans.bbox(df))
    if ((0 until 4).exists(r.isNullAt)) got.failed.toOption match {
      case Some(e: IllegalArgumentException)
          if e.getMessage.contains("non-empty point cloud") => None
      case _ => Some(s"a column without values gave $got, not the error")
    } else {
      val want = (0 until 4).map(r.getDouble)
      got.toOption.map(b => Seq(b._1, b._2, b._3, b._4)) match {
        case Some(g) if parts == 1 && g.map(bits) == want.map(bits) => None
        case Some(g) if parts > 1 && g.zip(want).forall((sqlEq _).tupled) =>
          None
        case other => Some(s"$parts partitions: bbox $other, agg $want")
      }
    }
  }

  test("bbox equals agg(min, max) over nulls, NaN, ±0.0 and 1–7 " +
      "partitions") {
    var failure = ""
    val prop = Prop.forAllNoShrink(boxCase) { case (ps, parts) =>
      val v = boxViolation(ps, parts)
      v.foreach(m => failure = s"$m\n points=$ps")
      v.isEmpty
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, s"${res.status}: $failure")
  }

  test("bbox on hand-picked signed zeros, NaN and empty partitions") {
    val ps: Seq[P] = Seq(
      (Some(-0.0), None, Some(1)), (Some(0.0), Some(2.0), Some(1)),
      (Some(Double.NaN), Some(-1.0), None), (None, Some(Double.NaN), Some(1)))
    // first seen of equal values wins: -0.0 is both min and max of lat
    val (minLat, maxLat, minLon, maxLon) = KMeans.bbox(frame(ps, 1))
    assert(bits(minLat) == bits(-0.0) && maxLat.isNaN)
    assert(minLon == -1.0 && maxLon.isNaN)
    // seven partitions for four rows: three are empty
    assert(KMeans.bbox(frame(ps, 7))._3 == -1.0)
    val noLon = intercept[IllegalArgumentException](
      KMeans.bbox(frame(Seq((Some(1.0), None, Some(1))), 2)))
    assert(noLon.getMessage.contains("non-empty point cloud"))
    val allNull = intercept[IllegalArgumentException](
      KMeans.bbox(frame(Seq((None, None, Some(1))), 3)))
    assert(allNull.getMessage.contains("non-empty point cloud"))
  }

  // ---- silhouettes --------------------------------------------------------

  private val half = Gen.chooseNum(-4, 4).map(_ * 0.5)

  private val pointGen: Gen[P] = for {
    la <- Gen.frequency(9 -> half.map(Option(_)), 1 -> Gen.const(None))
    lo <- Gen.frequency(9 -> half.map(Option(_)), 1 -> Gen.const(None))
    c <- Gen.frequency(9 -> Gen.chooseNum(1, 9).map(Option(_)),
      1 -> Gen.const(None))
  } yield (la, lo, c)

  /** 1–5 centroids on the grid, so duplicates (d2nd == dmin) are common. */
  private val setGen: Gen[Seq[Centroid]] = for {
    k <- Gen.chooseNum(1, 5)
    coords <- Gen.listOfN(k, Gen.zip(half, half))
  } yield coords.zipWithIndex.map { case ((la, lo), i) => Centroid(i, la, lo) }

  /** At least one complete row, so the cloud has weight. */
  private val silCase = for {
    sets <- Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, setGen))
    anchor <- Gen.zip(half, half, Gen.chooseNum(1, 9))
    pts <- Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, pointGen))
    at <- Gen.chooseNum(0, pts.size)
  } yield {
    val (la, lo, c) = anchor
    (pts.patch(at, Seq((Some(la), Some(lo), Some(c))), 0), sets)
  }

  private def silColumn(sets: Seq[Seq[Centroid]]) = {
    val all = sets.flatten
    GraftFunctions.centroidSilhouette(col("lat"), col("lon"),
      sets.map(_.size), all.map(_.lat), all.map(_.lon))
  }

  /** The SQL formula `scoreSets` replaced. */
  private def sqlOracle(df: DataFrame, sets: Seq[Seq[Centroid]]): Seq[Double] = {
    val bySet = df
      .select(posexplode(silColumn(sets)).as(Seq("set", "sil")), col("cnt"))
      .groupBy("set")
      .agg(sum(col("sil") * col("cnt")) / sum(col("cnt")))
      .collect()
      .map(r => r.getInt(0) -> r.getDouble(1))
      .toMap
    sets.indices.map(bySet)
  }

  /** The SQL kernel's per-row scores, summed partition by partition on
    * the driver. */
  private def partitionOracle(df: DataFrame,
                              sets: Seq[Seq[Centroid]]): Seq[Double] = {
    val parts = df.select(silColumn(sets), col("cnt")).rdd.glom().collect()
    val sums = parts.toSeq.map { rows =>
      rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        .foldLeft((Seq.fill(sets.size)(0.0), 0L)) { case ((w, n), r) =>
          val sil = r.getSeq[Double](0)
          val c = r.getInt(1)
          (w.zip(sil).map { case (a, s) => a + s * c }, n + c)
        }
    }
    val (w, n) = sums.foldLeft((Seq.fill(sets.size)(0.0), 0L)) {
      case ((w, n), (pw, pn)) => (w.zip(pw).map { case (a, b) => a + b }, n + pn)
    }
    w.map(_ / n)
  }

  private def silViolation(pts: Seq[P],
                           sets: Seq[Seq[Centroid]]): Option[String] = {
    val one = frame(pts, 1)
    val three = frame(pts, 3)
    val got1 = PointScan.using(one, "test")(Silhouette.scoreSets(_, sets))
    val got3 = PointScan.using(three, "test")(Silhouette.scoreSets(_, sets))
    val want1 = sqlOracle(one, sets)
    val want3 = partitionOracle(three, sets)
    Seq(
      (got1.map(bits) != want1.map(bits)) ->
        s"one partition: $got1 vs SQL $want1",
      (got3.map(bits) != want3.map(bits)) ->
        s"three partitions: $got3 vs oracle $want3")
      .collectFirst { case (true, msg) => msg }
  }

  test("silhouettes equal the SQL formula on one partition and the " +
      "partition-order oracle on three") {
    var failure = ""
    val prop = Prop.forAllNoShrink(silCase) { case (pts, sets) =>
      val v = silViolation(pts, sets)
      v.foreach(m => failure = s"$m\n points=$pts\n sets=$sets")
      v.isEmpty
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, s"${res.status}: $failure")
  }

  test("silhouettes of a cloud without weight fail with a message") {
    val ps: Seq[P] = Seq((Some(1.0), Some(1.0), None), (None, Some(0.0), Some(2)))
    val e = intercept[IllegalArgumentException](Silhouette.score(frame(ps, 2),
      Seq(Centroid(0, 0.0, 0.0), Centroid(1, 2.0, 2.0))))
    assert(e.getMessage.contains("cnt=0"), e.getMessage)
  }

  // ---- one planned scan, many passes --------------------------------------

  /** The doubles of a pass result as their bits, so NaN and ±0.0 compare
    * exactly. */
  private def exact(x: Any): Any = x match {
    case d: Double => bits(d)
    case s: Iterable[_] => s.map(exact).toList
    case p: Product => p.productIterator.map(exact).toList
    case o => o
  }

  private val reuseCase = for {
    a <- setGen
    b <- setGen
    anchor <- Gen.zip(half, half, Gen.chooseNum(1, 9))
    pts <- Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, pointGen))
    parts <- Gen.chooseNum(1, 7)
  } yield {
    val (la, lo, c) = anchor
    (Seq[P]((Some(la), Some(lo), Some(c))) ++ pts, a, b, parts)
  }

  test("one planned scan, re-run with alternating centroid sets over 1–7 " +
      "partitions with nulls, equals a fresh scan bit for bit every time") {
    var failure = ""
    val prop = Prop.forAllNoShrink(reuseCase) { case (pts, a, b, parts) =>
      val df = frame(pts, parts)
      val passes: Seq[PointScan => Any] = Seq(
        KMeans.lloydRound(_, Seq(a), 1),
        KMeans.lloydRound(_, Seq(b), 2),
        Silhouette.scoreSets(_, Seq(a)),
        KMeans.lloydRound(_, Seq(a, b), 3),
        KMeans.bbox(_),
        Silhouette.scoreSets(_, Seq(b, a)),
        KMeans.lloydRound(_, Seq(b), 4))
      val reused = PointScan.using(df, "reused")(s => passes.map(_(s)))
      val fresh = passes.map(p => PointScan.using(df, "fresh")(p))
      val bad = passes.indices.find(i => exact(reused(i)) != exact(fresh(i)))
      bad.foreach(i => failure = s"pass $i over $parts partitions: " +
        s"${reused(i)} vs fresh ${fresh(i)}\n points=$pts\n a=$a\n b=$b")
      bad.isEmpty
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, s"${res.status}: $failure")
  }
}
