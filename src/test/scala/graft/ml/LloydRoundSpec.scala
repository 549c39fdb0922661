package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}

/** [[KMeans.lloydRound]] against its SQL reference, [[KMeans.assign]] +
  * [[KMeans.recenter]] one set at a time:
  *  - on one partition the centroids are bit-equal to the reference over
  *    the rows without nulls (rows with a null lat, lon or cnt add
  *    nothing; the reference cannot take them);
  *  - on three partitions they are bit-equal to a driver-side oracle that
  *    sums each partition's rows in row order, then the partitions' sums
  *    in partition order, over the reference's own assignment.
  * Points and centroids sit on a half-unit grid, so exact ties (first
  * minimum wins) and duplicate centroids are common; idxs are distinct but
  * non-contiguous and unordered, and a far centroid is often left empty.
  */
class LloydRoundSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("cnt", IntegerType)))

  private type P = (Option[Double], Option[Double], Option[Int])

  private def frame(ps: Seq[P], partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ps.map {
      case (la, lo, c) => Row(la.orNull, lo.orNull, c.orNull)
    }, partitions), schema)

  private def complete(ps: Seq[P]): Seq[P] =
    ps.filter { case (la, lo, c) => la.isDefined && lo.isDefined && c.isDefined }

  /** The partition-order oracle: the reference's assignment, summed
    * partition by partition on the driver. */
  private def oracle(df: DataFrame, cs: Seq[Centroid]): Seq[Centroid] = {
    val parts = KMeans.assign(df, cs).rdd.glom().collect()
    def sums(rows: Seq[Row]): Map[Int, (Double, Double, Long)] = rows
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
      .foldLeft(Map.empty[Int, (Double, Double, Long)]) { (m, r) =>
        val (la, lo, n) = m.getOrElse(r.getInt(3), (0.0, 0.0, 0L))
        val c = r.getInt(2).toLong
        m.updated(r.getInt(3),
          (la + r.getDouble(0) * c, lo + r.getDouble(1) * c, n + c))
      }
    val partials = parts.toSeq.map(p => sums(p.toSeq))
    cs.map { c =>
      val (la, lo, n) = partials.foldLeft((0.0, 0.0, 0L)) { (acc, p) =>
        p.get(c.idx).fold(acc)(q => (acc._1 + q._1, acc._2 + q._2, acc._3 + q._3))
      }
      if (n == 0) c
      else Centroid(c.idx, KMeans.round3(la / n), KMeans.round3(lo / n))
    }
  }

  private def bits(cs: Seq[Centroid]) = cs.map(c => (c.idx,
    java.lang.Double.doubleToLongBits(c.lat),
    java.lang.Double.doubleToLongBits(c.lon)))

  private val half = Gen.chooseNum(-4, 4).map(_ * 0.5)

  private val pointGen: Gen[P] = for {
    la <- Gen.frequency(9 -> half.map(Option(_)), 1 -> Gen.const(None))
    lo <- Gen.frequency(9 -> half.map(Option(_)), 1 -> Gen.const(None))
    c <- Gen.frequency(9 -> Gen.chooseNum(1, 9).map(Option(_)),
      1 -> Gen.const(None))
  } yield (la, lo, c)

  /** 1–5 centroids with distinct, shuffled idxs from 0..39; a few sit far
    * outside the points and stay empty. */
  private val setGen: Gen[Seq[Centroid]] = for {
    k <- Gen.chooseNum(1, 5)
    idxs <- Gen.pick(k, 0 until 40)
    order <- Gen.listOfN(k, Gen.chooseNum(0, 1000))
    coords <- Gen.listOfN(k, Gen.frequency(
      6 -> Gen.zip(half, half), 1 -> Gen.const((50.0, 50.0))))
  } yield idxs.toSeq.zip(order).sortBy(_._2).map(_._1).zip(coords)
    .map { case (i, (la, lo)) => Centroid(i, la, lo) }

  private val caseGen = for {
    sets <- Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, setGen))
    pts <- Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, pointGen))
  } yield (pts, sets)

  /** None when the round matches the reference and the oracle. */
  private def violation(pts: Seq[P], sets: Seq[Seq[Centroid]]): Option[String] = {
    val one =
      PointScan.using(frame(pts, 1), "test")(KMeans.lloydRound(_, sets, 1))
    val clean = frame(complete(pts), 1)
    val three = frame(pts, 3)
    val got3 = PointScan.using(three, "test")(KMeans.lloydRound(_, sets, 1))
    sets.indices.iterator.flatMap { s =>
      val ref = KMeans.recenter(KMeans.assign(clean, sets(s)), sets(s))
      val orc = oracle(three, sets(s))
      Seq(
        (bits(one(s)) != bits(ref)) ->
          s"set $s, one partition: ${one(s)} vs reference $ref",
        (bits(got3(s)) != bits(orc)) ->
          s"set $s, three partitions: ${got3(s)} vs oracle $orc")
        .collect { case (true, msg) => msg }
    }.toSeq.headOption
  }

  test("a round on hand-picked ties, empty clusters and nulls") {
    val pts: Seq[P] = Seq(
      (Some(0.5), Some(0.0), Some(2)),   // equidistant from idx 4 and idx 9
      (Some(1.0), Some(0.0), Some(1)),
      (Some(0.0), Some(0.0), Some(3)),
      (None, Some(0.0), Some(5)),        // null lat: adds nothing
      (Some(1.0), None, Some(5)),        // null lon: adds nothing
      (Some(1.0), Some(0.0), None))      // null cnt: adds nothing
    val cs = Seq(Centroid(9, 0.0, 0.0), Centroid(4, 1.0, 0.0),
      Centroid(17, 50.0, 50.0))
    val got = PointScan.using(frame(pts, 1), "test")(
      KMeans.lloydRound(_, Seq(cs, cs.reverse), 1))
    // the tie goes to idx 4 (the scan runs in idx order), idx 17 is empty
    val want = Seq(Centroid(9, 0.0, 0.0), Centroid(4, 0.667, 0.0),
      Centroid(17, 50.0, 50.0))
    assert(got == Seq(want, want.reverse))
  }

  test("a round equals assign + recenter per set, and the partition-order " +
      "oracle on three partitions") {
    var failure = ""
    val prop = Prop.forAllNoShrink(caseGen) { case (pts, sets) =>
      val v = violation(pts, sets)
      v.foreach(m => failure = s"$m\n points=$pts\n sets=$sets")
      v.isEmpty
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, s"${res.status}: $failure")
  }
}
