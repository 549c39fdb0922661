package graft.ops

import graft.SparkSpec

class ProfilingSpec extends SparkSpec {
  import spark.implicits._

  test("numericProfile: exact completeness/uniqueness/range per column") {
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 1.5), (2L, 1.5), (3L, null), (null, 4.0), (3L, -2.0))
      .toDF("a", "b")
    val got = Profiling.numericProfile(df, Seq("a", "b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == Seq(
      ("a", 5L, 1L, 3L, 1.0, 3.0),    // distinct ignores the null
      ("b", 5L, 1L, 3L, -2.0, 4.0)))  // 1.5 counted once
    intercept[IllegalArgumentException] {
      Profiling.numericProfile(df, Seq("a", "nope"))
    }
    intercept[IllegalArgumentException] {
      Profiling.numericProfile(df, Seq.empty)
    }
  }

  test("numericHistogram: clamped edges, empty bins as zero, null skip") {
    val df = Seq[java.lang.Double](-5.0, 0.0, 0.9, 1.0, 99.0, null)
      .toDF("v")
    // [0,4) in 4 bins of width 1: -5 clamps into bin 0, 99 into bin 3,
    // bin 2 is genuinely empty and must surface as 0
    val got = Profiling.numericHistogram(df, "v", lo = 0.0, hi = 4.0, k = 4)
      .as[(Int, Long)].collect().toSeq
    assert(got == Seq((0, 3L), (1, 1L), (2, 0L), (3, 1L)))
    intercept[IllegalArgumentException] {
      Profiling.numericHistogram(df, "v", 0.0, 4.0, 0)
    }
    intercept[IllegalArgumentException] {
      Profiling.numericHistogram(df, "v", 4.0, 4.0, 4)
    }
  }

  test("tableChecksum: order-insensitive, change-sensitive") {
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "s")
    val shuffled = Seq((3L, "z"), (1L, "x"), (2L, "y")).toDF("id", "s")
      .repartition(3)
    def ck(df: org.apache.spark.sql.DataFrame) =
      Profiling.tableChecksum(df, df.columns.toSeq)
        .selectExpr("n_rows", "cast(checksum as string)")
        .as[(Long, String)].collect().head
    assert(ck(a) == ck(shuffled)) // layout/order neutral
    val changed = Seq((1L, "x"), (2L, "y"), (3L, "w")).toDF("id", "s")
    assert(ck(a) != ck(changed)) // one cell flips the sum
    assert(ck(a)._1 == 3L)
    intercept[IllegalArgumentException] {
      Profiling.tableChecksum(a, Seq.empty)
    }
  }

  test("tableChecksum digest defeats null-skip and delimiter aliasing") {
    def ck(rows: Seq[(Option[String], Option[String])]) =
      Profiling.tableChecksum(rows.toDF("a", "b"), Seq("a", "b"))
        .selectExpr("cast(checksum as string)").as[String].collect().head
    // value-in-wrong-column with a NULL: concat_ws would alias these
    assert(ck(Seq((Some("x"), None))) != ck(Seq((None, Some("x")))))
    // delimiter injection: ('a|b','c') vs ('a','b|c')
    assert(ck(Seq((Some("a|b"), Some("c")))) !=
      ck(Seq((Some("a"), Some("b|c")))))
    // null vs the literal string "null"
    assert(ck(Seq((Some("null"), Some("x")))) != ck(Seq((None, Some("x")))))
  }

  test("winsorizedStats clips into discrete rank percentiles") {
    // g: sorted values 1..9,1000; n=10. pLo=0.1 → rank 1 → lo=1;
    // pHi=0.8 → rank 8 → hi=8. Clipped: 1..8 kept, 9→8, 1000→8 ⇒ 52.
    val df = ((1 to 9).map(i => ("g", i.toLong, i.toLong)) :+
      ("g", 1000L, 10L)).toDF("grp", "v", "id")
    val got = Profiling.winsorizedStats(df, "grp", "v", "id",
        pLo = 0.1, pHi = 0.8)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("g", 1L, 8L, 10L, 52L)))
  }

  test("winsorizedStats: pLo rank floors at 1 and groups are independent") {
    val df = Seq(("a", 5L, 1L), ("a", 7L, 2L), ("b", 100L, 3L))
      .toDF("grp", "v", "id")
    // a: n=2, lo rank max(ceil(0.1),1)=1 → 5; hi rank ceil(1.8)=2 → 7
    // b: n=1, lo=hi=100
    val got = Profiling.winsorizedStats(df, "grp", "v", "id",
        pLo = 0.05, pHi = 0.9)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 5L, 7L, 2L, 12L), ("b", 100L, 100L, 1L, 100L)))
  }

  test("winsorizedStats: pHi rank floors at 1 — pHi=0.0 must not NULL sums") {
    // pHi=0.0 passes the require but ceil(0*n)=0 matches no rank — without
    // the same floor as lo, hi is NULL and clipped_sum goes NULL with it
    val df = Seq(("g", 3L, 1L), ("g", 7L, 2L)).toDF("grp", "v", "id")
    val got = Profiling.winsorizedStats(df, "grp", "v", "id",
        pLo = 0.0, pHi = 0.0)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // both ranks floor to 1 → lo = hi = min = 3; every value clips to 3
    assert(got == Seq(("g", 3L, 3L, 2L, 6L)))
  }

  test("groupPercentRank: exact rationals, ties ranked by tie column") {
    val df = Seq(
      ("en", 10L, 1L), ("en", 10L, 2L), ("en", 30L, 3L), ("en", 40L, 4L),
      ("de", 99L, 5L)).toDF("grp", "v", "id")
    val got = Profiling.groupPercentRank(df, "grp", "v", "id")
      .as[(String, Long, Long, Double)].collect().toSeq
    // en (n=4): the tie column makes the window ORDER total, so the two
    // 10s take DISTINCT ranks (1, 2) -> pct 0 and 1/3 — deterministic
    // where a value-only ordering would let rank() tie them both at 0
    assert(got == Seq(
      ("de", 99L, 5L, 0.0), // single-row group scores 0
      ("en", 10L, 1L, 0.0), ("en", 10L, 2L, 1.0 / 3),
      ("en", 30L, 3L, 2.0 / 3), ("en", 40L, 4L, 1.0)))
  }

  test("joinCardinalityAudit: exact prediction equals the actual join") {
    val l = Seq(Some(1L), Some(1L), Some(1L), Some(2L), Some(3L), None)
      .toDF("k1")
    val r = Seq(Some(1L), Some(1L), Some(2L), Some(9L), None, None)
      .toDF("k2")
    val got = Profiling.joinCardinalityAudit(l, "k1", r, "k2")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().head
    // l: 5 non-null rows, keys {1×3, 2, 3}; r: 4 non-null, {1×2, 2, 9}
    // join_rows = 3·2 (key 1) + 1·1 (key 2) = 7; worst key pairs 6
    assert(got == ((5L, 3L, 3L, 1L, 4L, 3L, 2L, 2L, 7L, 6L)))
    // the prediction IS the actual inner-join size (nulls never match)
    val actual = l.join(r,
      org.apache.spark.sql.functions.col("k1") ===
        org.apache.spark.sql.functions.col("k2")).count()
    assert(actual == got._9)
  }

  test("groupMadOutliers: discrete median/MAD, integer decision") {
    val df = Seq(
      // g: values 1..5 plus a wild 1000 → med of 6 = value@rank 3 = 3,
      // |x-med| = {2,1,0,1,2,997} → mad = value@rank 3 = 1 →
      // outliers (d > 3): {5: d=2 no, 1000: d=997 yes} → 1
      ("g", 1L, 1L), ("g", 2L, 2L), ("g", 3L, 3L), ("g", 4L, 4L),
      ("g", 5L, 5L), ("g", 1000L, 6L),
      // h: constant values → mad 0, every deviation 0 → no outliers
      ("h", 7L, 7L), ("h", 7L, 8L))
      .toDF("grp", "v", "id")
    val got = Profiling.groupMadOutliers(df, "grp", "v", "id", k = 3L)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("g", 6L, 3L, 1L, 1L), ("h", 2L, 7L, 0L, 0L)))
  }

  test("globalQuantilesSharded: percentile_disc at exact integer ranks") {
    val df = (1L to 10L).map(i => (i, i * 11))
      .toDF("doc_id", "v") // values 11,22,...,110
    val got = Profiling.globalQuantilesSharded(df, "v", "doc_id",
        permilles = Seq(1L, 500L, 900L, 1000L))
      .as[(Long, Long)].collect().toSeq
    // ceil(p*n): p=.001 -> rank 1; .5 -> 5; .9 -> 9; 1.0 -> 10
    assert(got == Seq((1L, 11L), (500L, 55L), (900L, 99L), (1000L, 110L)))
    // tie-break-invariance: the value at a rank is a property of the
    // value distribution — duplicate values with any ids agree
    val ties = Seq((1L, 7L), (2L, 7L), (3L, 7L), (4L, 9L), (5L, 9L))
      .toDF("doc_id", "v")
    val g2 = Profiling.globalQuantilesSharded(ties, "v", "doc_id",
        permilles = Seq(500L, 1000L))
      .as[(Long, Long)].collect().toSeq
    assert(g2 == Seq((500L, 7L), (1000L, 9L)))
  }

  test("paretoFrontier: dominance exact, equal points co-survive") {
    val pts = Seq(
      (1L, 10L, 5L),  // frontier
      (2L, 10L, 7L),  // same q as 1, longer → dominated
      (3L, 9L, 4L),   // frontier (shorter than every q>9)
      (4L, 8L, 4L),   // dominated by 3 (q 9>8, len 4≤4)
      (5L, 8L, 6L),   // dominated
      (6L, 7L, 3L),   // frontier
      (7L, 9L, 4L))   // EQUAL to 3: mutually non-dominating, survives
      .toDF("id", "q", "len")
    val got = Profiling.paretoFrontier(pts, "id", "q", "len")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 3L, 6L, 7L))
    // brute-force NOT EXISTS agrees
    val rows = pts.as[(Long, Long, Long)].collect()
    val brute = rows.filter { a => !rows.exists(b =>
      b._2 >= a._2 && b._3 <= a._3 && (b._2 > a._2 || b._3 < a._3))
    }.map(_._1).sorted.toSeq
    assert(got.map(_._1) == brute)
  }

  test("sketchQuantiles: covering-bin upper edge, error within one bin") {
    // values 1..100, 10 bins over span 100 → bin width 10, bin i covers
    // [1+10i, 10+10i]; p500 target rank 50 → value 50 sits in bin 4
    // (41..50) → est = its upper edge 50: exact here by construction
    val df = (1L to 100L).toDF("v")
    val got = Profiling.sketchQuantiles(df, "v", bins = 10,
        permilles = Seq(500L, 990L, 1000L))
      .as[(Long, Long)].collect().toMap
    assert(got(500L) == 50L && got(990L) == 100L && got(1000L) == 100L)
    // error bound law on a skewed set: est within one bin width of exact
    val skew = (1L to 99L).map(_ => 5L) ++ Seq(1000L)
    val est2 = Profiling.sketchQuantiles(skew.toDF("v"), "v", bins = 64,
        permilles = Seq(500L))
      .as[(Long, Long)].collect().head._2
    val width = (1000L - 5L + 1L) / 64L + 1L
    assert(math.abs(est2 - 5L) <= width)
  }

  test("paretoFrontierSharded ≡ paretoFrontier at every bucket count") {
    // local-pass exactness law: dominated-in-any-subset ⇒ dominated
    // globally, so the bucketed prefilter may never change the result —
    // including co-surviving equal points split across buckets
    val pts = ((1L to 60L).map(i => (i, (i * 13) % 17, (i * 7) % 23)) ++
      Seq((100L, 5L, 5L), (101L, 5L, 5L))).toDF("id", "q", "len")
    val global = Profiling.paretoFrontier(pts, "id", "q", "len")
      .as[(Long, Long, Long)].collect().toSeq
    for (b <- Seq(1, 2, 7, 32)) {
      val sharded = Profiling.paretoFrontierSharded(pts, "id", "q", "len",
          buckets = b)
        .as[(Long, Long, Long)].collect().toSeq
      assert(sharded == global, s"buckets=$b diverged")
    }
  }

  test("groupPercentRankSharded ≡ the window form at every part count") {
    // skewed groups (one group holds most rows — the regime the sharded
    // form exists for), ties in the value column, a single-row group
    val df = ((1L to 80L).map(i => ("big", (i * 7) % 13, i)) ++
      (81L to 90L).map(i => ("small", (i * 3) % 5, i)) ++
      Seq(("one", 9L, 99L)))
      .toDF("lang", "n_chars", "doc_id")
    val want = Profiling.groupPercentRank(df, "lang", "n_chars", "doc_id")
      .as[(String, Long, Long, Double)].collect().toSeq
    for (p <- Seq(3, 32)) {
      val got = withConfs(Map("spark.sql.shuffle.partitions" -> p.toString)) {
        Profiling.groupPercentRankSharded(df, "lang", "n_chars", "doc_id")
          .as[(String, Long, Long, Double)].collect().toSeq
      }
      assert(got == want, s"parts=$p")
    }
    // width 1, below the session's core count: the scan itself, with
    // rnk - 1 = the earlier rows and n_grp = the group total
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val one = Layout.prefixScan(df, Some("lang"), Seq("n_chars", "doc_id"),
        None, Math.addExact(_, _), "test", 1)._1
      .select(col("lang"), col("n_chars"), col("doc_id"),
        when(col(Layout.totalCol) === 1L, lit(0.0))
          .otherwise(coalesce(col(Layout.prevCol), lit(0L)).cast("double") /
            (col(Layout.totalCol) - 1).cast("double")).as("pct"))
      .orderBy("lang", "n_chars", "doc_id")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(one == want, "parts=1")
  }

  test("quantileBuckets: bit-identical to the ntile window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.ntile
    val df = (1L to 23L).map(i => (i, (i * 7) % 13)).toDF("id", "v")
    val got = Profiling.quantileBuckets(df, "id", "v", "id", k = 4)
      .as[(Long, Long, Long)].collect().toSeq
    val win = df.withColumn("bucket",
        ntile(4).over(Window.orderBy($"v", $"id")).cast("long"))
      .select($"id", $"v", $"bucket").orderBy($"id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == win)
  }

  test("weightedMedian: half the WEIGHT, tie-safe, ≠ unweighted median") {
    import org.apache.spark.sql.functions.col
    // group a: values 1,2,3 with weights 1,1,10 → half of 12 is 6,
    // reached only at value 3 (the unweighted median is 2)
    // group b: duplicated value 5 with split weights — the RANGE frame
    // accumulates ties together, so 5 is the median however the two
    // 5-rows are ordered internally
    val df = Seq(("a", 1L, 1L), ("a", 2L, 1L), ("a", 3L, 10L),
      ("b", 4L, 1L), ("b", 5L, 2L), ("b", 5L, 2L), ("b", 9L, 1L))
      .toDF("g", "v", "w")
    val got = Profiling.weightedMedian(df, "g", "v", "w")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 12L, 3L), ("b", 6L, 5L)))
  }

  test("fkIntegrityAudit: nulls, orphans, and unreferenced parents counted") {
    val child = Seq(Some(1L), Some(1L), Some(7L), None, Some(8L))
      .toDF("k")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val got = Profiling.fkIntegrityAudit(child, "k", parent, "pk")
      .as[(Long, Long, Long, Long, Long)].collect().head
    // 5 rows; 1 null; orphans: keys 7,8 → 2 rows / 2 keys; parents 2,3
    // never referenced
    assert(got == ((5L, 1L, 2L, 2L, 2L)))
  }

  test("paretoContribution: exact shares, crossing group included in head") {
    import org.apache.spark.sql.functions.col
    // weights 50, 30, 15, 5 (total 100): head at 800‰ = {a (500), b
    // (→800 exactly: predecessor 500 < 800 → in), c's predecessor 800
    // is NOT < 800 → out}
    val df = Seq(("a", 50L), ("b", 30L), ("c", 15L), ("d", 5L))
      .toDF("g", "w")
    val got = Profiling.paretoContribution(df, "g", col("w"),
        headPermille = 800L)
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      ("a", 50L, 500L, 500L, true), ("b", 30L, 300L, 800L, true),
      ("c", 15L, 150L, 950L, false), ("d", 5L, 50L, 1000L, false)))
  }

  test("cmsHeavyHitters: never undercounts, exact when collision-free") {
    import org.apache.spark.sql.functions.col
    // keys with known counts; width 1 forces EVERY key into one bucket
    // per row → every estimate = grand total (the worst case), so
    // overcount = total − exact, still one-sided
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c"))
      .toDF("k")
    val worst = Profiling.cmsHeavyHitters(df, "k", width = 1, depth = 2,
        topK = 3)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(worst == Seq(("a", 5L, 9L, 4L), ("b", 3L, 9L, 6L),
      ("c", 1L, 9L, 8L)))
    // a wide sketch separates 3 keys: estimates exact, overcount 0
    val wide = Profiling.cmsHeavyHitters(df, "k", width = 4096,
        depth = 4, topK = 3)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(wide == Seq(("a", 5L, 5L, 0L), ("b", 3L, 3L, 0L),
      ("c", 1L, 1L, 0L)))
    // one-sided guarantee at any geometry
    for (w <- Seq(2, 3, 7)) {
      val r = Profiling.cmsHeavyHitters(df, "k", width = w, depth = 3,
        topK = 3).as[(String, Long, Long, Long)].collect()
      assert(r.forall(_._4 >= 0L), s"undercount at width $w")
    }
  }

  test("psiDrift: identical slices are flat; one-sided bins surface NULL") {
    import org.apache.spark.sql.functions.col
    // identical distributions → every term exactly 0 (ln 1 = 0)
    val a = Seq(1L, 5L, 17L, 33L, 33L).toDF("v")
    val flat = Profiling.psiDrift(a, a, col("v"), binWidth = 16L)
      .as[(Long, Long, Long, Option[Long])].collect().toSeq
    assert(flat == Seq((0L, 2L, 2L, Some(0L)), (1L, 1L, 1L, Some(0L)),
      (2L, 2L, 2L, Some(0L))))
    // a bin present on only one side: counts shown, term NULL (no
    // epsilon fudge); a shared bin with different mass scores ≠ 0
    val b = Seq(1L, 5L, 5L, 60L).toDF("v")
    val got = Profiling.psiDrift(a, b, col("v"), binWidth = 16L)
      .as[(Long, Long, Long, Option[Long])].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3)) ==
      Seq((0L, 2L, 3L), (1L, 1L, 0L), (2L, 2L, 0L), (3L, 0L, 1L)))
    assert(got(0)._4.exists(_ != 0L)) // 2/5 vs 3/4: real drift term
    assert(got(1)._4.isEmpty && got(2)._4.isEmpty && got(3)._4.isEmpty)
    // hand value: (0.4 − 0.75)·ln(0.4/0.75)·1e6 = round(219,970.55…)
    assert(got(0)._4.contains(math.round(
      (0.4 - 0.75) * math.log((2.0 * 4.0) / (3.0 * 5.0)) * 1e6)))
  }

  test("hillTailIndex: exact quantized terms over the top k") {
    import spark.implicits._
    // activity 8/4/2/1 -> top-3 with x3=2: terms ln(4)=1386294,
    // ln(2)=693147 -> sum 2079441, mean 1039720 (integer div)
    val e = (Seq.fill(8)(1L) ++ Seq.fill(4)(2L) ++ Seq.fill(2)(3L) ++
      Seq(4L)).zipWithIndex
      .map { case (u, i) => (u, i.toLong, i.toLong, "x") }
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Profiling.hillTailIndex(e, k = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 2079441L, 1039720L)))
  }

  test("hllCardinalityAudit: exact shingle counts, estimate in bound") {
    import spark.implicits._
    // source s1: shingles {a b c, b c d} from doc1, {a b c} from doc2
    // -> 2 exact; tiny cardinalities are exact in HLL++ -> in bound
    val d = Seq((1L, "a b c d", "s1"), (2L, "a b c", "s1"))
      .toDF("doc_id", "text", "source")
    val got = Profiling.hllCardinalityAudit(d)
      .as[(String, Long, Boolean)].collect().toSeq
    assert(got == Seq(("s1", 2L, true)))
  }

  test("jsonValidityCensus: truncated payloads counted per group") {
    import spark.implicits._
    val d = Seq(("a", "{\"k\": 1}"), ("a", "{\"k\": 2"), ("b", "{}"))
      .toDF("event_type", "props")
    val got = Profiling.jsonValidityCensus(d, "event_type", "props")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 2L, 1L, 500L), ("b", 1L, 0L, 0L)))
  }

  test("bipartiteDegrees: duplicate pairs collapse before degrees") {
    import spark.implicits._
    // pair (s1,p1) appears twice -> distinct first; s1 touches 2 parts,
    // s2 one; p1 has 2 suppliers, p2 one
    val d = Seq((1L, 10L), (1L, 10L), (1L, 20L), (2L, 10L))
      .toDF("s", "p")
    val got = Profiling.bipartiteDegrees(d, "s", "p", "parts_per_s",
      "supp_per_p").as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("parts_per_s", 1L, 1L), ("parts_per_s", 2L, 1L),
      ("supp_per_p", 1L, 1L), ("supp_per_p", 2L, 1L)))
  }

  test("benfordCensus: digits, shares, and the log expectation") {
    import spark.implicits._
    // values 1,1,2,9: digit 1 x2 (500 permille), 2 and 9 x1 (250)
    val d = Seq(1L, 1L, 2L, 9L).toDF("v")
    val got = Profiling.benfordCensus(d, "v")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // benford: round(1000*log10(2))=301, log10(1.5)->176, log10(10/9)->46
    assert(got == Seq((1L, 2L, 500L, 301L), (2L, 1L, 250L, 176L),
      (9L, 1L, 250L, 46L)))
  }

  test("fdCensus: holds iff distinct X = distinct (X, Y)") {
    import spark.implicits._
    // k→v: k 1 maps to both 'a' and 'b' (FD fails, one extra pair);
    // v→k: each of a/b/c maps to one k? 'a'→{1}, 'b'→{1,2}? no —
    // rows: (1,a),(1,a),(1,b),(2,b): k→v n_x=2 n_xy=3; v→k 'a'→1,
    // 'b'→{1,2} → n_x=2, n_xy=3 — both fail here; (id col) id→k holds
    val d = Seq((10L, 1L, "a"), (11L, 1L, "a"), (12L, 1L, "b"),
      (13L, 2L, "b")).toDF("id", "k", "v")
    val got = Profiling.fdCensus(d,
        Seq("k" -> "v", "v" -> "k", "id" -> "k"))
      .as[(String, String, Long, Long, Boolean, Long)].collect().toSeq
    assert(got == Seq(
      ("id", "k", 4L, 4L, true, 0L),
      ("k", "v", 2L, 3L, false, 1L),
      ("v", "k", 2L, 3L, false, 1L)))
  }

  test("ksTwoSample: hand-computed max ECDF gap, identical dists -> 0") {
    import spark.implicits._
    // a: {1,2,3}; b: {3,4,5,6} — ECDF gap peaks after v=3:
    // |3·4 − 1·3| = 9 → D = 9/12 = 0.75 → 750‰
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 3L), ("b", 4L), ("b", 5L), ("b", 6L), ("c", 99L))
      .toDF("g", "v")
    val got = Profiling.ksTwoSample(df, "g", "v", "a", "b")
      .as[(Long, Long, String, Long)].collect().head
    assert(got == ((3L, 4L, "9", 750L)))
    // identical distributions: D = 0
    val same = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L))
      .toDF("g", "v")
    assert(Profiling.ksTwoSample(same, "g", "v", "a", "b")
      .as[(Long, Long, String, Long)].collect().head == ((2L, 2L, "0", 0L)))
    // cleared-denominator discipline: cum·n products ride decimal(38,0),
    // so group counts near ~3e9 each cannot wrap the int64 product —
    // pinned structurally (d_num is the decimal's string form)
    assert(Profiling.ksTwoSample(df, "g", "v", "a", "b")
      .schema("d_num").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("sequenceGapCensus: ok / dup / gapped partition the key space") {
    val df = Seq(
      ("a", 1), ("a", 2), ("a", 3),  // exact 1..3 → ok
      ("b", 1), ("b", 2), ("b", 2),  // repeat → dup
      ("c", 1), ("c", 3), ("c", 4),  // hole → gapped
      ("d", 2), ("d", 3), ("d", 4),  // offset start → gapped
      ("e", 1),                      // exact 1..1 → ok
      ("f", 5)                       // singleton off origin → gapped
    ).toDF("key", "seq")
    val got = Profiling.sequenceGapCensus(df, "key", "seq")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 0L, 1L),
      (3L, 4L, 1L, 1L, 2L)))
  }

  test("kAnonymityCensus: size and diversity risks counted per class") {
    val df = (
      (1 to 6).map(i => ("A", (i % 3) + 1)) ++   // size 6, d=3: clean
      (1 to 3).map(_ => ("B", 1)) ++             // size 3 < k, d=1 < l
      Seq(("C", 1), ("C", 1), ("C", 2), ("C", 2), ("C", 1)) // d=2 < l
    ).toDF("qi", "sens")
    val got = Profiling.kAnonymityCensus(df, Seq("qi"), "sens",
        k = 5L, l = 3L)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(got == ((14L, 3L, 3L, 1L, 2L)))
  }

  test("partitioningInvarianceAudit: both widths yield one checksum") {
    val docs = Seq((1L, "a b b"), (2L, "b c"), (3L, "a"))
      .toDF("doc_id", "text")
    val got = Profiling.partitioningInvarianceAudit(docs, 2, 5)
      .as[(Long, Long, String)].collect().toSeq
    assert(got.map(_._1) == Seq(2L, 5L))
    assert(got(0)._2 == 3L && got(0)._2 == got(1)._2)
    assert(got(0)._3 == got(1)._3)
  }

  test("mannWhitney: separation, ties, and the doubled-rank identity") {
    // A = {1,2}, B = {3,4}: complete separation → U = 0,
    // z = −4/√(20/3) = −1.549193…
    val sep = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L))
      .toDF("g", "v")
    val g1 = Profiling.mannWhitney(sep, "g", "v", "a", "b")
      .as[(Long, Long, String, Option[Long])].collect().head
    assert(g1 == ((2L, 2L, "0", Some(-1549193L))))
    // ties: A = {1,1}, B = {1,2} — the three 1s average to rank 2
    // (doubled 4), R2x_A = 8 → U2x = 2 (U = 1)
    val tied = Seq(("a", 1L), ("a", 1L), ("b", 1L), ("b", 2L))
      .toDF("g", "v")
    val g2 = Profiling.mannWhitney(tied, "g", "v", "a", "b")
      .as[(Long, Long, String, Option[Long])].collect().head
    assert(g2._1 == 2L && g2._2 == 2L && g2._3 == "2")
  }

  test("mahalanobisOutliers: symmetric cross has d² exactly 2") {
    // codes (±127, 0), (0, ±127): zero means, zero cross-cov, equal
    // axis variance 8064.5 → every point's d² = 127²/8064.5 = 2
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(-1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val got = Profiling.mahalanobisOutliers(df, topK = 10)
      .as[(Long, Option[Long])].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(got.forall(_._2.contains(2000000L)))
  }

  test("mahalanobisOutliers: singular covariance → NULL, not a crash") {
    // colinear cloud: det = 0 exactly
    val df = Seq((1L, Array(1.0f, 1.0f)), (2L, Array(-1.0f, -1.0f)),
      (3L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val got = Profiling.mahalanobisOutliers(df, topK = 5)
      .as[(Long, Option[Long])].collect().toSeq
    assert(got.size == 3 && got.forall(_._2.isEmpty))
  }

  test("cohensKappa: hand case 0.6, perfect 1, degenerate NULL") {
    def df(cells: (Boolean, Boolean, Int)*) =
      cells.flatMap { case (a, b, k) => Seq.fill(k)((a, b)) }
        .toDF("ra", "rb")
    // n11=4 n10=1 n01=1 n00=4: κ = (80−50)/(100−50) = 0.6
    assert(Profiling.cohensKappa(
        df((true, true, 4), (true, false, 1), (false, true, 1),
          (false, false, 4)), "ra", "rb")
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().head ==
      ((10L, 4L, 1L, 1L, 4L, Some(600000L))))
    // perfect agreement with both classes present: κ = 1
    assert(Profiling.cohensKappa(df((true, true, 2), (false, false, 3)),
        "ra", "rb")
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().head ==
      ((5L, 2L, 0L, 0L, 3L, Some(1000000L))))
    // constant raters: chance agreement is total → κ undefined (NULL)
    assert(Profiling.cohensKappa(df((true, true, 3)), "ra", "rb")
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect()
      .head._6.isEmpty)
  }

  test("chiSquareIndependence: 2×2 hand case and the zero-cell law") {
    // balanced 2×2 with association: all E = 2, χ² = 4·(1²/2) = 2
    val assoc = (Seq.fill(3)(("a", "x")) ++ Seq(("a", "y")) ++
      Seq(("b", "x")) ++ Seq.fill(3)(("b", "y"))).toDF("r", "c")
    assert(Profiling.chiSquareIndependence(assoc, "r", "c")
      .as[(Long, Long, Long, Long, Long)].collect().head ==
      ((8L, 2L, 2L, 1L, 2000000L)))
    // diagonal-only: the two EMPTY cells must still contribute E = 1
    // each → χ² = 2·(1²/1) + 2·(1²/1) = 4, not 2
    val diag = (Seq.fill(2)(("a", "x")) ++ Seq.fill(2)(("b", "y")))
      .toDF("r", "c")
    assert(Profiling.chiSquareIndependence(diag, "r", "c")
      .as[(Long, Long, Long, Long, Long)].collect().head ==
      ((4L, 2L, 2L, 1L, 4000000L)))
  }

  test("simpsonSlopeAudit: textbook reversal, hand-computed slopes") {
    // within each group y FALLS with x (slope −1 exactly); the groups
    // sit on an ascending diagonal, so the pooled slope RISES:
    // pooled num = 4·242 − 14·58 = 156, den = 4·66 − 196 = 68 →
    // slope_q6 = round(156e6/68) = 2294118 — a reversal in both groups
    val df = Seq(("a", 1L, 10L), ("a", 2L, 9L),
      ("b", 5L, 20L), ("b", 6L, 19L)).toDF("g", "x", "y")
    val got = Profiling.simpsonSlopeAudit(df, "g", "x", "y")
      .as[(String, Long, Option[Long], Option[Long], Boolean)]
      .collect().toSeq
    assert(got == Seq(
      ("a", 2L, Some(-1000000L), Some(2294118L), true),
      ("b", 2L, Some(-1000000L), Some(2294118L), true)))
  }

  test("simpsonSlopeAudit: zero-variance group gets NULL, no flag") {
    val df = Seq(("a", 1L, 10L), ("a", 2L, 9L),
      ("b", 5L, 20L), ("b", 6L, 19L), ("c", 3L, 3L)).toDF("g", "x", "y")
    // pooled num = 5·251 − 17·61 = 218, den = 5·75 − 289 = 86 →
    // slope_q6 = round(218e6/86) = 2534884
    val got = Profiling.simpsonSlopeAudit(df, "g", "x", "y")
      .as[(String, Long, Option[Long], Option[Long], Boolean)]
      .collect().toSeq
    assert(got == Seq(
      ("a", 2L, Some(-1000000L), Some(2534884L), true),
      ("b", 2L, Some(-1000000L), Some(2534884L), true),
      ("c", 1L, None, Some(2534884L), false)))
  }

  test("scoreCalibration: equal-frequency buckets, exact per-mille " +
      "positive rate") {
    // 12 rows, scores 1..12, outcome = 1 for the top half (score > 6):
    // 4 buckets of 3 → positive rates 0, 0, 2/3, 1 per-mille-exact
    val df = (1L to 12L).map(i => (i, i.toInt, if (i > 6) 1 else 0))
      .toDF("id", "score", "y")
    val got = Profiling.scoreCalibration(df, "id", "score", "id", "y",
        k = 4)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 1L, 3L, 0L, 0L),
      (2L, 3L, 4L, 6L, 0L, 0L),
      (3L, 3L, 7L, 9L, 3L, 1000L),
      (4L, 3L, 10L, 12L, 3L, 1000L)))
    // shard-count determinism (the shardedRanks contract)
    assert(withConfs(Map("spark.sql.shuffle.partitions" -> "5")) {
      Profiling.scoreCalibration(df, "id", "score", "id", "y", k = 4)
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    } == got)
  }

  test("conformalCoverage: q-hat is the exact order statistic; eval " +
      "coverage counts r <= q-hat") {
    // plant residuals by bucket: calibration ids (bucket < 500) carry
    // r = 1..10, eval ids carry (5, 9, 10, 11)
    def bkt(i: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
      Integer.parseInt(md.take(2).map("%02x".format(_)).mkString, 16) %
        1000
    }
    val calIds = (1L to 5000L).filter(bkt(_) < 500).take(10)
    val evIds = (1L to 5000L).filter(bkt(_) >= 500).take(4)
    assume(calIds.size == 10 && evIds.size == 4)
    val df = (calIds.zip(1L to 10L) ++
        evIds.zip(Seq(5L, 9L, 10L, 11L)))
      .toDF("id", "r")
    val got = Profiling.conformalCoverage(df, "id", "r",
        calPermille = 500, alphaPm = 100)
      .as[(Long, Long, Long, Long, Long)].collect().head
    // k = ceil(0.9 * 11) = 10 -> q-hat = 10th smallest = 10; eval
    // covers 5, 9, 10 of 4 -> 750 permille
    assert(got == ((10L, 10L, 10L, 4L, 750L)))
  }

  test("cemStrataDiff: unmatched strata drop; matched strata report " +
      "the exact treated-vs-control difference") {
    val df = Seq(
      // bin 1: treated mean 4, control mean 1 -> diff +3.0
      (1L, 1L, 5L), (1L, 1L, 3L), (1L, 0L, 1L),
      // bin 2: treated only -> dropped by matching
      (2L, 1L, 9L),
      // bin 3: control only -> dropped
      (3L, 0L, 2L),
      // bin 4: treated mean 1, control mean 2 -> diff -1.0
      (4L, 1L, 1L), (4L, 0L, 2L))
      .toDF("bin", "t", "y")
    val got = Profiling.cemStrataDiff(df, "bin", "t", "y")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 3000000L),
      (4L, 1L, 1L, -1000000L)))
  }

  test("mondrianConformalCoverage: per-group thresholds; unsupported " +
      "groups surface NULLs, never a borrowed global q-hat") {
    def bkt(i: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
      Integer.parseInt(md.take(2).map("%02x".format(_)).mkString, 16) %
        1000
    }
    val calIds = (1L to 9000L).filter(bkt(_) < 500)
    val evIds = (1L to 9000L).filter(bkt(_) >= 500)
    assume(calIds.size >= 13 && evIds.size >= 5)
    // group A: 10 calibration rows r = 1..10 (k = 10 -> qhat = 10),
    //          3 eval rows (5, 10, 11) -> covered 2/3 = 666 pm
    // group B: 3 calibration rows (k = ceil(0.9*4) = 4 > 3 -> NULLs),
    //          2 eval rows
    val rows =
      calIds.take(10).zip(1L to 10L).map { case (i, r) => (i, "A", r) } ++
      calIds.slice(10, 13).zip(Seq(1L, 2L, 3L))
        .map { case (i, r) => (i, "B", r) } ++
      evIds.take(3).zip(Seq(5L, 10L, 11L))
        .map { case (i, r) => (i, "A", r) } ++
      evIds.slice(3, 5).zip(Seq(1L, 2L))
        .map { case (i, r) => (i, "B", r) }
    val df = rows.toDF("id", "src", "r")
    val got = Profiling.mondrianConformalCoverage(df, "id", "src", "r",
        calPermille = 500, alphaPm = 100)
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5))).toSeq
    assert(got == Seq(
      ("A", 10L, 10L, 10L, 3L, 666L),
      ("B", 3L, -1L, -1L, 2L, -1L)))
  }

  test("conformalCoverage refuses a calibration slice too small for " +
      "the requested alpha") {
    def bkt(i: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
      Integer.parseInt(md.take(2).map("%02x".format(_)).mkString, 16) %
        1000
    }
    val ids = (1L to 5000L).filter(bkt(_) < 500).take(3)
    assume(ids.size == 3)
    val df = ids.zip(Seq(1L, 2L, 3L)).toDF("id", "r")
    // n_cal = 3, k = ceil(0.9 * 4) = 4 > 3 -> fail fast with remedy
    intercept[IllegalArgumentException] {
      Profiling.conformalCoverage(df, "id", "r", calPermille = 500,
        alphaPm = 100)
    }
  }

  test("wassersteinDrift: exact transport on a hand case; zero on " +
      "identical distributions") {
    // A = {0, 10}, B = {10}: half of A's mass moves 10 -> W1 = 5
    val df = Seq(("a", 0L), ("a", 10L), ("b", 10L))
      .toDF("g", "v")
    val got = Profiling.wassersteinDrift(df, "g", "v", "a", "b")
      .as[(Long, Long, String, Long)].collect().head
    assert(got == ((2L, 1L, "10", 5000L)))
    // identical distributions transport nothing
    val same = Seq(("a", 1L), ("a", 5L), ("b", 1L), ("b", 5L))
      .toDF("g", "v")
    val zero = Profiling.wassersteinDrift(same, "g", "v", "a", "b")
      .as[(Long, Long, String, Long)].collect().head
    assert(zero == ((2L, 2L, "0", 0L)))
    // KS-blind regime: a constant +1 shift of a wide distribution has a
    // small sup gap but bills its full transport here
    val shift = (1L to 100L).flatMap(i =>
      Seq(("a", i), ("b", i + 1))).toDF("g", "v")
    val w = Profiling.wassersteinDrift(shift, "g", "v", "a", "b")
      .as[(Long, Long, String, Long)].collect().head
    assert(w._4 == 1000L) // W1 exactly 1.0 value units
  }

  test("fleissKappa: perfect agreement, chance-level disagreement, " +
      "unequal-rater NULL") {
    // perfect: both subjects unanimous, two categories used —
    // pbar = 1, pe = 0.5, kappa = 1
    val perfect = Seq(
      (1L, 1, "A"), (1L, 2, "A"), (1L, 3, "A"),
      (2L, 1, "B"), (2L, 2, "B"), (2L, 3, "B"))
      .toDF("subj", "rater", "cat")
    assert(Profiling.fleissKappa(perfect, "subj", "rater", "cat")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq ==
      Seq((2L, 3L, 1000000L, 500000L, 1000000L)))
    // maximal disagreement at 2 raters: pbar = 0, pe = 0.5, kappa = -1
    val split = Seq(
      (1L, 1, "A"), (1L, 2, "B"),
      (2L, 1, "A"), (2L, 2, "B"))
      .toDF("subj", "rater", "cat")
    assert(Profiling.fleissKappa(split, "subj", "rater", "cat")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq ==
      Seq((2L, 2L, 0L, 500000L, -1000000L)))
    // unequal rater counts: Fleiss undefined -> NULL statistics
    val uneven = Seq(
      (1L, 1, "A"), (1L, 2, "A"),
      (2L, 1, "A"), (2L, 2, "A"), (2L, 3, "A"))
      .toDF("subj", "rater", "cat")
    val r = Profiling.fleissKappa(uneven, "subj", "rater", "cat")
      .collect()(0)
    assert(r.getLong(0) == 2L && r.isNullAt(1) && r.isNullAt(2) &&
      r.isNullAt(3) && r.isNullAt(4))
  }

  test("fleissKappa is NULL when one category saturates chance " +
      "agreement (pe = 1)") {
    val allSame = Seq(
      (1L, 1, "A"), (1L, 2, "A"),
      (2L, 1, "A"), (2L, 2, "A"))
      .toDF("subj", "rater", "cat")
    val r = Profiling.fleissKappa(allSame, "subj", "rater", "cat")
      .collect()(0)
    // pbar = pe = 1; kappa's denominator is 0 -> NULL
    assert(r.getLong(2) == 1000000L && r.getLong(3) == 1000000L &&
      r.isNullAt(4))
  }

  test("isotonicCalibration pools adjacent violators (minimax = PAV)") {
    // 3 buckets of 2 rows each, raw rates (1.0, 0.0, 0.5): PAV pools
    // 1.0 with 0.0 to 0.5, then 0.5 == 0.5 stands — iso flat at 500000
    val df = Seq(
      (1L, 1L, 1L), (2L, 1L, 1L),   // bucket 1: both positive
      (3L, 2L, 0L), (4L, 2L, 0L),   // bucket 2: none
      (5L, 3L, 1L), (6L, 3L, 0L))   // bucket 3: half
      .toDF("id", "score", "y")
    val got = Profiling.isotonicCalibration(df, "id", "score", "id", "y",
        k = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 1000000L, 500000L),
      (2L, 2L, 0L, 0L, 500000L),
      (3L, 2L, 1L, 500000L, 500000L)))
  }

  test("isotonicCalibration: already-monotone rates pass through; " +
      "output is always nondecreasing") {
    val df = Seq(
      (1L, 1L, 0L), (2L, 1L, 0L),
      (3L, 2L, 1L), (4L, 2L, 0L),
      (5L, 3L, 1L), (6L, 3L, 1L))
      .toDF("id", "score", "y")
    val got = Profiling.isotonicCalibration(df, "id", "score", "id", "y",
        k = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // monotone input: iso equals raw bucket rates verbatim
    assert(got.map(r => (r._1, r._5)) ==
      Seq((1L, 0L), (2L, 500000L), (3L, 1000000L)))
    assert(got.map(_._5).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("approxPercentileAudit: exact lower percentiles by hand, " +
      "within-bound flag true, repeats respected") {
    // group a: 1..10 → p500 = 5 (cum 5·1000 ≥ 500·10), p900 = 9;
    // group b: value 7 ×9 + one 100 → p500 = 7, p900 = 7 (cum 9000 ≥
    // 8100), p990 = 100 (needs cum·1000 ≥ 9900)
    val df = ((1L to 10L).map(v => ("a", v)) ++
      (1 to 9).map(_ => ("b", 7L)) :+ ("b", 100L))
      .toDF("src", "v")
    val got = Profiling.approxPercentileAudit(df, "src", "v",
        psPm = Seq(500, 900, 990), accuracy = 10000)
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._4)) == Seq(
      ("a", 500L, 5L), ("a", 900L, 9L), ("a", 990L, 10L),
      ("b", 500L, 7L), ("b", 900L, 7L), ("b", 990L, 100L)))
    assert(got.forall(_._3 == 10L))
    // the in-artifact bound: at accuracy 10000 the sketch is exact at
    // this size, and the flag's slack must still hold
    assert(got.forall(_._5), got.toString)
  }
}
