package graft

import graft.ml.{Centroid, KMeans, Silhouette}
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Property-based invariants (SURVEY.md §5.4). Driver-side laws run on
  * every generated case; Spark-backed laws sample fewer cases (one job
  * each) but assert exact semantics.
  */
object PropertyProps extends Properties("graft") {

  // Spark-backed properties run one job per case — keep sampling tight.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = SparkSpec.session

  private val coord = Gen.chooseNum(-90.0, 90.0)

  property("round3 is idempotent and within half a milli") =
    Prop.forAll(coord) { v =>
      val r = KMeans.round3(v)
      KMeans.round3(r) == r && math.abs(r - v) <= 0.0005 + 1e-12
    }

  property("initUniform is deterministic and inside the bbox") =
    Prop.forAll(Gen.chooseNum(1, 20), Gen.chooseNum(0L, 1000L)) { (k, seed) =>
      val a = KMeans.initUniform(k, seed, -10, 10, -20, 20)
      val b = KMeans.initUniform(k, seed, -10, 10, -20, 20)
      a == b && a.forall(c =>
        c.lat >= -10 && c.lat <= 10 && c.lon >= -20 && c.lon <= 20) &&
        a.map(_.idx) == (0 until k)
    }

  property("convergence: reflexive, and any axis delta > tol breaks it") =
    Prop.forAll(coord, coord, Gen.chooseNum(0.002, 1.0)) { (la, lo, d) =>
      val c = Seq(Centroid(0, la, lo))
      KMeans.converged(c, c) &&
        !KMeans.converged(c, Seq(Centroid(0, la + d, lo)))
    }

  private val pointGen = for {
    la <- Gen.chooseNum(-5.0, 5.0); lo <- Gen.chooseNum(-5.0, 5.0)
    c <- Gen.chooseNum(1, 9)
  } yield (la, lo, c)

  property("assignment picks a true argmin for every point") = {
    import spark.implicits._
    Prop.forAllNoShrink(
      Gen.listOfN(30, pointGen), Gen.chooseNum(2, 6), Gen.chooseNum(0L, 99L)) {
      (ps, k, seed) =>
        val pts = ps.toDF("lat", "lon", "cnt")
        val cs = KMeans.initUniform(k, seed, -5, 5, -5, 5)
        val assigned = KMeans.assign(pts, cs)
          .select("lat", "lon", "cidx").collect()
        assigned.forall { r =>
          val (la, lo, ci) = (r.getDouble(0), r.getDouble(1), r.getInt(2))
          def d(c: Centroid) =
            (la - c.lat) * (la - c.lat) + (lo - c.lon) * (lo - c.lon)
          val best = cs.map(d).min
          d(cs(ci)) == best && cs.indexWhere(d(_) == best) == ci // first min
        }
    }
  }

  property("silhouette is within [0,1] for k >= 2 squared distances") = {
    import spark.implicits._
    Prop.forAllNoShrink(
      Gen.listOfN(20, pointGen), Gen.chooseNum(2, 5), Gen.chooseNum(0L, 99L)) {
      (ps, k, seed) =>
        val pts = ps.toDF("lat", "lon", "cnt")
        val cs = KMeans.initUniform(k, seed, -5, 5, -5, 5)
        val s = Silhouette.score(pts, cs)
        s >= 0.0 && s <= 1.0
    }
  }

  property("lshPlan: multi-probe keeps bits, never needs more tables") =
    Prop.forAll(Gen.chooseNum(0.05, 0.95), Gen.chooseNum(0.5, 0.995)) {
      (t, r) =>
        val (b0, t0) = graft.ops.Similarity.lshPlan(t, r, 64)
        val (b1, t1) = graft.ops.Similarity.lshPlan(t, r, 64, probeRadius = 1)
        val (b2, t2) = graft.ops.Similarity.lshPlan(t, r, 64, probeRadius = 2)
        b1 == b0 && b2 == b0 && t1 <= t0 && t2 <= t1 && t2 >= 1
    }

  property("lshPlan: planned (bits, tables) clears the recall target") =
    Prop.forAll(Gen.chooseNum(0.05, 0.95), Gen.chooseNum(0.5, 0.995),
      Gen.chooseNum(0, 2)) { (t, r, radius) =>
      val (b, tb) = graft.ops.Similarity.lshPlan(t, r, 64, radius)
      val p = 1.0 - math.acos(t) / math.Pi
      val hit = (0 to radius).map { j =>
        var c = 1.0
        for (x <- 0 until j) c = c * (b - x) / (x + 1)
        c * math.pow(p, (b - j).toDouble) * math.pow(1.0 - p, j.toDouble)
      }.sum
      // ceil() in the planner guarantees the model recall ≥ the target
      // (up to fp slack on the boundary)
      1.0 - math.pow(1.0 - hit, tb.toDouble) >= r - 1e-9
    }

  property("hyperplane signature kernel agrees with a driver-side reference") = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-1.0, 1.0))
    Prop.forAllNoShrink(Gen.listOfN(5, vecGen), Gen.chooseNum(0L, 999L)) {
      (vs, seed) =>
        val planes = graft.ops.Similarity.hyperplanes(8, 3, 4, seed)
        val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
          .toDF("vec_id", "emb")
        val got = df.select(col("vec_id"),
          graft.functions.GraftFunctions
            .hyperplaneSignatures(col("emb"), planes.toSeq).as("sigs"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        vs.zipWithIndex.forall { case (v, i) =>
          // same fold order as the kernel: sequential over the dimension
          val expect = planes.toSeq.map { tp =>
            tp.zipWithIndex.map { case (p, h) =>
              val dot = v.zip(p).map { case (a, b) => a * b }.sum
              if (dot >= 0) 1L << h else 0L
            }.sum
          }
          got(i.toLong) == expect
        }
    }
  }

  property("deterministicSplit: total, stable, labels from the spec") = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val fracs = Seq("train" -> 0.7, "val" -> 0.2, "test" -> 0.1)
    Prop.forAllNoShrink(Gen.listOf(Gen.chooseNum(0L, 1000000L))) { ids0 =>
      val ids = ids0.distinct
      val df = ids.toDF("id")
      def run() = graft.ops.Sampling.deterministicSplit(df, "id", fracs)
        .select(col("id"), col("split")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val s1 = run()
      // every row gets exactly one label, from the declared set, and the
      // assignment is a pure function of the id — identical on re-run
      s1.size == ids.size &&
        s1.values.forall(Set("train", "val", "test")) &&
        run() == s1
    }
  }

  private val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
  private val docGen = Gen.listOfN(12, wordGen).map(_.mkString(" "))

  property("rolling fingerprint kernel matches a driver-side reference") = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // reference winnowing: same Rabin–Karp (base 257 mod 2^64), every
    // length-w window's unsigned min, deduped, signed-ascending output
    def ref(text: String, k: Int, w: Int): Seq[Long] = {
      val bytes = text.getBytes("UTF-8")
      val n = bytes.length
      if (n < k) return Seq.empty
      var basePowK = 1L
      for (_ <- 0 until k) basePowK *= 257L
      val nWin = n - k + 1
      val hashes = new Array[Long](nWin)
      var h = 0L
      for (i <- 0 until k) h = h * 257L + (bytes(i) & 0xffL)
      hashes(0) = h
      for (i <- k until n) {
        h = h * 257L + (bytes(i) & 0xffL) - basePowK * (bytes(i - k) & 0xffL)
        hashes(i - k + 1) = h
      }
      val mins = scala.collection.mutable.SortedSet.empty[Long]
      for (s <- 0 to math.max(0, nWin - w)) {
        val end = math.min(s + w, nWin)
        var m = hashes(s)
        for (j <- s + 1 until end)
          if (java.lang.Long.compareUnsigned(hashes(j), m) < 0) m = hashes(j)
        mins += m
      }
      mins.toSeq
    }
    val textGen = Gen.chooseNum(0, 14).flatMap(n => Gen.listOfN(n, wordGen))
      .map(_.mkString(" "))
    Prop.forAllNoShrink(Gen.listOfN(6, textGen),
      Gen.chooseNum(2, 6), Gen.chooseNum(2, 5)) { (texts, k, w) =>
      val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "t")
        .select(col("id"),
          graft.functions.GraftFunctions
            .rollingFingerprints(col("t"), k, w).as("fp"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      texts.zipWithIndex.forall { case (t, i) =>
        got(i.toLong) == ref(t, k, w)
      }
    }
  }

  property("jaccardPairs equals a brute-force reference on random corpora") = {
    import spark.implicits._
    val doc = Gen.chooseNum(3, 10).flatMap(k => Gen.listOfN(k, wordGen))
      .map(_.mkString(" "))
    def refShingles(text: String): Set[String] = {
      val toks = text.split("[ \t\n\r\f]+").filter(_.nonEmpty)
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    Prop.forAllNoShrink(Gen.listOfN(8, doc)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.ops.Dedup.jaccardPairs(docs, n = 3, threshold = 0.0)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val sets = texts.map(refShingles)
      val want = (for {
        a <- texts.indices; b <- (a + 1) until texts.size
        inter = (sets(a) intersect sets(b)).size
        if inter > 0
      } yield (a.toLong, b.toLong) ->
        inter.toDouble / (sets(a).size + sets(b).size - inter)).toMap
      got.keySet == want.keySet && want.forall { case (k, j) =>
        math.abs(got(k) - j) <= 5e-5 // operator rounds to 4 dp
      }
    }
  }

  property("jaccard of a document with itself is 1; bounded in (0,1]") = {
    import spark.implicits._
    Prop.forAllNoShrink(Gen.listOfN(4, docGen)) { texts =>
      val docs = (texts ++ texts).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val pairs = graft.ops.Dedup.jaccardPairs(docs, n = 2, threshold = 0.0)
        .collect()
      val dupPairs = texts.indices.map(i => (i.toLong, (i + texts.size).toLong))
      pairs.forall { r =>
        val j = r.getDouble(2); j > 0.0 && j <= 1.0
      } && dupPairs.forall { case (a, b) =>
        pairs.exists(r => r.getLong(0) == a && r.getLong(1) == b &&
          r.getDouble(2) == 1.0)
      }
    }
  }

  // Adversarial PII soup: digit runs of every length (phone-shaped,
  // card-shaped, longer), single-char separators that chain phones, real
  // emails/URLs, and tag-colliding punctuation — the shapes that broke or
  // nearly broke the redaction patterns.
  private val redactFrag: Gen[String] = Gen.oneOf(
    Gen.chooseNum(1, 18).flatMap(n =>
      Gen.listOfN(n, Gen.numChar).map(_.mkString)),
    Gen.oneOf(" ", ",", "-", ".", "(", ")", "+", "x", "@", "<", ">",
      "the ", "call "),
    Gen.const("user.name@example.com"),
    Gen.const("https://ex.com/a?b=c"),
    Gen.const("+1 555-123-4567"))

  property("chunkTokens: stride-prefixes + last chunk reconstruct the doc") = {
    import spark.implicits._
    val word: Gen[String] = Gen.chooseNum(1, 6)
      .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    Prop.forAllNoShrink(
      Gen.listOfN(4, Gen.chooseNum(0, 30).flatMap(n =>
        Gen.listOfN(n, word).map(_.mkString(" ")))),
      Gen.chooseNum(2, 8), Gen.chooseNum(1, 8)) { (texts, w, s0) =>
      val s = math.min(s0, w)
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val chunks = graft.ops.Text.chunkTokens(d, w, s)
        .as[(Long, Int, Int, String)].collect().toSeq
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      texts.zipWithIndex.forall { case (t, i) =>
        val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
        val cs = chunks(i.toLong)
        def words(c: String) = if (c.isEmpty) Seq.empty[String]
          else c.split(" ").toSeq
        val rebuilt = cs.dropRight(1).flatMap(c => words(c._4).take(s)) ++
          words(cs.last._4)
        // every doc represented, every chunk within the window, and the
        // stride-prefix reconstruction is exactly the token stream
        cs.nonEmpty && cs.forall(_._3 <= w) && rebuilt == toks
      }
    }
  }

  property("capTokensPerStratum keeps the MAXIMAL in-budget hash prefix") = {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    Prop.forAllNoShrink(Gen.chooseNum(5, 40), Gen.chooseNum(1L, 60L)) {
      (n, budget) =>
      val rows = (0L until n.toLong).map(i =>
        (i, if (i % 2 == 0) "a" else "b", (i % 5 + 1).toInt))
      val kept = graft.ops.Sampling.capTokensPerStratum(
          rows.toDF("doc_id", "stratum", "n_tokens"),
          "doc_id", "stratum", "n_tokens", budget)
        .as[(Long, String, Int)].collect().toSeq
      rows.groupBy(_._2).forall { case (stratum, g) =>
        val order = g.sortBy(r => (md5hex(r._1.toString), r._1))
        val keptIds = kept.filter(_._2 == stratum).map(_._1).toSet
        val prefix = order.takeWhile(r => keptIds.contains(r._1))
        val total = prefix.map(_._3.toLong).sum
        // kept is exactly a prefix, within budget, and MAXIMAL: the next
        // row (if any) would overflow
        prefix.map(_._1).toSet == keptIds && total <= budget &&
          order.drop(prefix.length).headOption
            .forall(nxt => total + nxt._3 > budget)
      }
    }
  }

  property("nfc: idempotent and merges canonally-equal spellings") = {
    // driver-side law over the same Normalizer the expression calls —
    // strings mix ascii, precomposed chars, and combining marks
    val frag: Gen[String] = Gen.oneOf(
      Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString),
      Gen.const("é"), Gen.const("é"),
      Gen.const("Å"), Gen.const("Å"),
      Gen.const(" "), Gen.const("ö"), Gen.const("ö"))
    def nfc(s: String) =
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    Prop.forAll(Gen.listOfN(8, frag).map(_.mkString)) { s =>
      val once = nfc(s)
      // idempotence, and decomposed spellings land on the composed form
      nfc(once) == once &&
        java.text.Normalizer.isNormalized(once,
          java.text.Normalizer.Form.NFC)
    }
  }

  property("redact is idempotent: a second full pass changes nothing") = {
    import spark.implicits._
    // Idempotence is the closure law for the whole scrub: the two phone
    // passes leave no boundary-unblocked phone behind, and no replacement
    // may CREATE a new email/URL/phone match (tags carry no digits, no
    // scheme, no '@'-adjacent word chars).
    Prop.forAllNoShrink(
      Gen.listOfN(12, Gen.listOfN(8, redactFrag).map(_.mkString))) { texts =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val once = graft.ops.Text.redact(d)
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      val twice = graft.ops.Text.redact(
          once.toDF("doc_id", "text"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      once == twice
    }
  }

  property("compactChangelog is idempotent and tombstone-consistent") = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val change = for {
      k <- Gen.chooseNum(1L, 5L)
      t <- Gen.chooseNum(1L, 20L)
      del <- Gen.prob(0.3)
    } yield (k, t, del)
    Prop.forAllNoShrink(Gen.listOfN(25, change)) { cs0 =>
      // unique (key, ts, off): off = index makes the log deterministic
      val cs = cs0.zipWithIndex.map { case ((k, t, d), i) =>
        (k, t, i.toLong, d)
      }
      val df = cs.toDF("key", "ts", "off", "del")
      def compact(in: org.apache.spark.sql.DataFrame) =
        graft.ops.Cdc.compactChangelog(in, col("key"), col("ts"),
          col("off"), col("del"))
      val once = compact(df).as[(Long, Long, Long, Boolean)]
        .collect().toSet
      // law 1: compacting the compacted state is the identity
      val twice = compact(once.toSeq.toDF("key", "ts", "off", "del"))
        .as[(Long, Long, Long, Boolean)].collect().toSet
      // law 2: the winner per key is the (ts, off) max; deleted keys gone
      val want = cs.groupBy(_._1).view.mapValues(
          _.maxBy(r => (r._2, r._3))).values
        .filterNot(_._4).toSet
      once == twice && once == want
    }
  }

  property("funnel counts are monotone non-increasing down the steps") = {
    import spark.implicits._
    val ev = for {
      u <- Gen.chooseNum(1L, 6L)
      t <- Gen.chooseNum(1L, 50L)
      ty <- Gen.oneOf("view", "click", "purchase")
    } yield (u, t, ty, 1.0)
    Prop.forAllNoShrink(Gen.listOfN(40, ev)) { es =>
      val df = es.toDF("user_id", "ts", "event_type", "value")
      val Array(s1, s2, s3) = graft.ops.Behavior
        .funnel(df, Seq("view", "click", "purchase"))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      s1 >= s2 && s2 >= s3 && s1 >= 0
    }
  }

  property("balancedUpsample: every stratum lands on exactly target") = {
    import spark.implicits._
    val row = for {
      id <- Gen.chooseNum(0L, 500L)
      s <- Gen.oneOf("a", "b", "c")
    } yield (id, s)
    Prop.forAllNoShrink(Gen.nonEmptyListOf(row).map(_.distinct),
      Gen.chooseNum(1L, 12L)) { (rows, target) =>
      val df = rows.toDF("doc_id", "lang").dropDuplicates("doc_id")
      val got = graft.ops.Sampling
        .balancedUpsample(df, "doc_id", "lang", target)
        .as[(String, Long, Long)].collect().toSeq
      val present = df.select("lang").distinct().as[String].collect().toSet
      val sizes = got.groupBy(_._1).view.mapValues(_.size).toMap
      present.forall(l => sizes.getOrElse(l, 0) == target) &&
        got.forall(r => r._3 >= 1)
    }
  }

  property("keyGini is within [0, 1) and zero iff counts are even") = {
    import spark.implicits._
    Prop.forAllNoShrink(
      Gen.nonEmptyListOf(Gen.chooseNum(1L, 8L))) { keys =>
      val df = keys.toDF("k")
      val r = graft.ops.Skew.keyGini(df, "k").collect().head
      val (num, den) = (r.getLong(2), r.getLong(3))
      val counts = keys.groupBy(identity).values.map(_.size).toSet
      num >= 0 && num < den &&
        ((counts.size == 1) == (num == 0L))
    }
  }

  property("transitionCensus total = sum over users of (n_events - 1)") = {
    import spark.implicits._
    val ev = for {
      u <- Gen.chooseNum(1L, 5L)
      t <- Gen.chooseNum(1L, 100L)
      ty <- Gen.oneOf("a", "b", "c")
    } yield (u, t, ty)
    Prop.forAllNoShrink(Gen.nonEmptyListOf(ev)) { es0 =>
      // unique event_id; (user, ts, id) unique ⇒ deterministic order
      val es = es0.zipWithIndex.map { case ((u, t, ty), i) =>
        (u, t, i.toLong, ty, 1.0)
      }
      val df = es.toDF("user_id", "ts", "event_id", "event_type", "value")
      // a corpus of single-event users has an EMPTY census: sum → null
      val total = graft.ops.Behavior.transitionCensus(df)
        .agg(org.apache.spark.sql.functions.sum("n")).as[Option[Long]]
        .collect().head.getOrElse(0L)
      val want = es.groupBy(_._1).values.map(_.size - 1L).sum
      total == want
    }
  }

  property("intervalConcurrency: never negative, closes at zero") = {
    import spark.implicits._
    val iv = for {
      s <- Gen.chooseNum(0L, 50L)
      w <- Gen.chooseNum(1L, 20L)
    } yield (s, s + w)
    Prop.forAllNoShrink(Gen.nonEmptyListOf(iv)) { ivs =>
      val got = graft.ops.Behavior
        .intervalConcurrency(ivs.toDF("s", "e"), "s", "e")
        .as[(Long, Long, Long)].collect().toSeq
      got.forall(_._3 >= 0) && got.last._3 == 0L &&
        got.map(_._2).sum == 0L // deltas balance
    }
  }

  property("tableChecksum is invariant under permutation and layout") = {
    import spark.implicits._
    val row = for {
      id <- Gen.chooseNum(0L, 1000L)
      s <- Gen.alphaStr.map(_.take(6))
    } yield (id, s)
    Prop.forAllNoShrink(Gen.nonEmptyListOf(row),
      Gen.chooseNum(1, 7)) { (rows, parts) =>
      val a = rows.toDF("id", "s")
      val b = scala.util.Random.shuffle(rows).toDF("id", "s")
        .repartition(parts)
      def ck(df: org.apache.spark.sql.DataFrame) =
        graft.ops.Profiling.tableChecksum(df, Seq("id", "s"))
          .selectExpr("n_rows", "cast(checksum as string)")
          .as[(Long, String)].collect().head
      ck(a) == ck(b)
    }
  }

  property("connectedComponents equals union-find on random graphs") = {
    import spark.implicits._
    // the most complex iterative operator in the repo vs the textbook
    // driver-side reference: cluster_id = min id of the component, every
    // node labelled (singletons label themselves)
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 11L); b <- Gen.chooseNum(0L, 11L)
    } yield (math.min(a, b), math.max(a, b))
    Prop.forAllNoShrink(Gen.chooseNum(1L, 12L), Gen.listOf(edgeGen)) {
      (n, es0) =>
      val es = es0.filter { case (a, b) => a != b && a < n && b < n }
      val nodes = (0L until n).toDF("id")
      val edges = es.toDF("id_a", "id_b")
      val got = graft.ops.Dedup.connectedComponents(nodes, edges)
        .as[(Long, Long)].collect().toMap
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0L until n).map(i =>
        i -> (0L until n).filter(j => find(j.toInt) == find(i.toInt)).min)
        .toMap
      got == want
    }
  }

  property("asOfJoin equals the per-row latest-preceding reference") = {
    import spark.implicits._
    // right (key, time) unique by construction (distinct pairs); both
    // boundary rules and both join types against the obvious reference
    val keyGen = Gen.chooseNum(1L, 3L)
    val lrow = for { k <- keyGen; t <- Gen.chooseNum(0L, 30L) } yield (k, t)
    Prop.forAllNoShrink(Gen.listOfN(12, lrow), Gen.listOfN(12, lrow),
      Gen.oneOf(true, false), Gen.oneOf("inner", "left")) {
      (ls0, rs0, strict, joinType) =>
      val ls = ls0.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val rs = rs0.distinct.zipWithIndex
        .map { case ((k, t), i) => (1000L + i, k, t) }
      val left = ls.toDF("l_id", "key", "ts")
      val right = rs.toDF("r_id", "key", "ts")
      val got = graft.ops.Joins
        .asOfJoin(left, right, "key", "ts", strict, joinType)
        .selectExpr("l_id", "asof.r_id as rid")
        .as[(Long, Option[Long])].collect().toMap
      val want = ls.flatMap { case (lid, k, t) =>
        val preceding = rs.filter { case (_, rk, rt) =>
          rk == k && (if (strict) rt < t else rt <= t) }
        val m = preceding.sortBy(r => (r._3, r._1)).lastOption.map(_._1)
        if (m.isEmpty && joinType == "inner") None
        else Some(lid -> m)
      }.toMap
      got == want
    }
  }

  property("packAssignments equals the exact prefix-sum reference") = {
    import spark.implicits._
    val word: Gen[String] = Gen.chooseNum(1, 4)
      .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val doc = Gen.chooseNum(0, 9).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    Prop.forAllNoShrink(Gen.nonEmptyListOf(doc), Gen.chooseNum(1L, 20L),
      Gen.chooseNum(1, 5)) { (texts, budget, parts) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Session.withConfs(spark,
          Map("spark.sql.shuffle.partitions" -> parts.toString)) {
        graft.ops.Packing.packAssignments(docs.toDF("doc_id", "text"), budget)
          .as[(Long, Long, Long)].collect().toSeq
      }
      // reference: token counts in doc_id order, pack = floor(prefix/budget)
      var cum = 0L
      val want = docs.sortBy(_._1).map { case (id, t) =>
        val nt = t.split("\\s+").count(_.nonEmpty).toLong
        val start = cum; cum += nt
        (id, nt, start / budget)
      }
      got == want
    }
  }

  property("pageRankMicro equals the integer-arithmetic reference") = {
    import spark.implicits._
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 7L); b <- Gen.chooseNum(0L, 7L)
    } yield (a, b)
    Prop.forAllNoShrink(Gen.nonEmptyListOf(edgeGen), Gen.chooseNum(1, 3),
      Gen.chooseNum(0, 1000)) { (es0, iters, damp) =>
      val es = es0.distinct
      val got = graft.ops.Graph
        .pageRankMicro(es.toDF("src", "dst"), iters, damp)
        .as[(Long, Long)].collect().toMap
      // same micro-unit truncating arithmetic, driver-side
      val nodes = es.flatMap { case (a, b) => Seq(a, b) }.distinct
      val deg = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val base = (1000L - damp) * 1000L
      var pr = nodes.map(_ -> 1000000L).toMap
      for (_ <- 1 to iters) {
        val m = es.groupBy(_._2).view.mapValues(
          _.map { case (s, _) => pr(s) / deg(s) }.sum).toMap
        pr = nodes.map(n =>
          n -> (base + damp * m.getOrElse(n, 0L) / 1000L)).toMap
      }
      got == pr
    }
  }

  property("triangleCount equals brute force on random graphs") = {
    import spark.implicits._
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 9L); b <- Gen.chooseNum(0L, 9L)
    } yield (a, b)
    Prop.forAllNoShrink(Gen.listOf(edgeGen)) { es0 =>
      val canon = es0.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a < b }.toSet
      val got = graft.ops.Graph.triangleCount(es0.toDF("src", "dst"))
        .as[Long].collect().head
      val ns = canon.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
      val want = (for {
        a <- ns; b <- ns if a < b && canon((a, b))
        c <- ns if b < c && canon((b, c)) && canon((a, c))
      } yield 1).size.toLong
      got == want
    }
  }

  property("canonicalizeUrl is idempotent") = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val urlGen = for {
      scheme <- Gen.oneOf("https://", "http://", "HTTPS://")
      host <- Gen.oneOf("A.com", "a.com", "cdn7.Example.ORG")
      port <- Gen.oneOf("", ":443", ":80", ":8080")
      path <- Gen.oneOf("", "/p/1", "/X")
      qs <- Gen.oneOf("", "?utm_a=1", "?k=2", "?utm_a=1&k=2",
        "?k=2&utm_b=3&utm_c=4")
      frag <- Gen.oneOf("", "#f", "#utm_x=9")
    } yield scheme + host + port + path + qs + frag
    Prop.forAllNoShrink(Gen.listOfN(12, urlGen)) { urls =>
      val df = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
        .toDF("doc_id", "url")
      val once = df.select(col("doc_id"),
          graft.ops.Text.canonicalizeUrl(col("url")).as("url"))
      val c1 = once.orderBy("doc_id").as[(Long, String)].collect().toSeq
      val c2 = once.select(col("doc_id"),
          graft.ops.Text.canonicalizeUrl(col("url")).as("url"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      c1 == c2
    }
  }

  property("zValue matches the reference interleave and is injective") = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // reference Morton implementation, independent of the Column formula
    def morton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map { i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
    val pairGen = for {
      x <- Gen.chooseNum(0L, 255L); y <- Gen.chooseNum(0L, 255L)
    } yield (x, y)
    Prop.forAllNoShrink(Gen.listOfN(20, pairGen)) { pairs =>
      val df = pairs.toDF("x", "y")
      val got = df.select(col("x"), col("y"),
          graft.ops.Layout.zValue(col("x"), col("y"), 8).as("z"))
        .as[(Long, Long, Long)].collect()
      got.forall { case (x, y, z) => z == morton(x, y, 8) } &&
        got.map(r => (r._1, r._2)).distinct.length ==
          got.map(_._3).distinct.length
    }
  }

  property("scd2Build intervals tile each key's timeline exactly") = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rowGen = for {
      key <- Gen.chooseNum(1L, 3L); ts <- Gen.chooseNum(0L, 50L)
    } yield (key, ts)
    Prop.forAllNoShrink(Gen.listOfN(12, rowGen)) { rows0 =>
      // unique (key, ts, off): the off index is the determinism tiebreak
      val rows = rows0.zipWithIndex.map { case ((k, t), i) =>
        (k, t, i.toLong)
      }
      val got = graft.ops.Cdc.scd2Build(rows.toDF("key", "ts", "off"),
          key = col("key"), ts = col("ts"), tiebreak = col("off"))
        .select("key", "version", "valid_from", "valid_to", "is_current")
        .as[(Long, Long, Long, Option[Long], Int)].collect().toSeq
      got.groupBy(_._1).values.forall { g =>
        val byV = g.sortBy(_._2)
        byV.map(_._2) == (1L to g.length.toLong) && // consecutive versions
          byV.init.zip(byV.tail).forall { case (a, b) =>
            a._4.contains(b._3) && a._5 == 0 // valid_to chains to next from
          } && byV.last._4.isEmpty && byV.last._5 == 1 // open current row
      }
    }
  }

  property("containmentPairs is monotone: a higher bar keeps a subset") = {
    import spark.implicits._
    // random word-soup docs over a tiny vocabulary so shingle overlap is
    // common; the 800-permille pair set must be contained in the 500 one
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
    val docGen = Gen.chooseNum(3, 8)
      .flatMap(k => Gen.listOfN(k, wordGen).map(_.mkString(" ")))
    Prop.forAllNoShrink(Gen.listOfN(5, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def pairs(p: Long) =
        graft.ops.Dedup.containmentPairs(docs, n = 3, minPermille = p)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      pairs(800L).subsetOf(pairs(500L))
    }
  }

  property("splitLeakage ≡ independent straddle computation") = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val fr = Seq("train" -> 0.7, "test" -> 0.3)
    // ids drawn from a small range force duplicate TEXTS across ids
    val rowGen = for {
      id <- Gen.chooseNum(0L, 60L); t <- Gen.oneOf("aa bb", "cc dd", "ee ff")
    } yield (id, t)
    Prop.forAllNoShrink(Gen.listOfN(20, rowGen)) { rows0 =>
      val rows = rows0.distinctBy(_._1)
      val docs = rows.toDF("doc_id", "text")
      val got = graft.ops.Sampling
        .splitLeakage(docs, "doc_id", "text", fr)
        .select("fp", "n_docs").as[(String, Long)].collect().toMap
      // reference: assign splits independently, group texts in Scala
      val assigned = graft.ops.Sampling.deterministicSplit(docs, "doc_id", fr)
        .select(col("text"), col("split")).as[(String, String)]
        .collect().toSeq
      val want = assigned.groupBy(_._1).collect {
        case (t, g) if g.map(_._2).distinct.length > 1 =>
          val md = java.security.MessageDigest.getInstance("MD5")
          md.digest(t.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString -> g.length.toLong
      }.toMap
      got == want
    }
  }

  property("charClassEntropy is in [0, ln 5] and permutation-invariant") = {
    import spark.implicits._
    val charGen = Gen.oneOf(('a' to 'z') ++ ('A' to 'Z') ++
      ('0' to '9') ++ Seq(' ', '\t', '\n', '.', ',', '!', '#'))
    val textGen = Gen.listOfN(40, charGen).map(_.mkString)
    Prop.forAllNoShrink(Gen.listOfN(6, textGen), Gen.chooseNum(1L, 999L)) {
      (texts, seed) =>
        val rng = new scala.util.Random(seed)
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val shuf = texts.zipWithIndex
          .map { case (t, i) => (i.toLong, rng.shuffle(t.toList).mkString) }
          .toDF("doc_id", "text")
        val a = graft.ops.Text.charClassEntropy(df)
          .as[(Long, Int, Double)].collect().toSeq
        val b = graft.ops.Text.charClassEntropy(shuf)
          .as[(Long, Int, Double)].collect().toSeq
        a == b && a.forall { case (_, _, e) =>
          e >= 0.0 && e <= math.log(5.0) + 1e-9 &&
            java.lang.Double.doubleToRawLongBits(e) !=
              java.lang.Double.doubleToRawLongBits(-0.0)
        }
    }
  }

  property("shardedRanks is a bijection onto 1..n in the total order") = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rowGen = for {
      v <- Gen.chooseNum(0L, 20L); t <- Gen.chooseNum(0L, 10000L)
    } yield (v, t)
    Prop.forAllNoShrink(Gen.listOfN(40, rowGen), Gen.chooseNum(1, 8)) {
      (rows0, parts) =>
        val rows = rows0.distinct // (v, t) must be a total order
        val df = rows.toDF("v", "t")
        val got = Session.withConfs(spark,
            Map("spark.sql.shuffle.partitions" -> parts.toString)) {
          graft.ops.Layout.shardedRanks(df, Seq("v", "t"))
            .select(col("v"), col("t"), col("rnk"))
            .as[(Long, Long, Long)].collect().toSeq
        }
        val want = rows.sorted.zipWithIndex
          .map { case ((v, t), i) => (v, t, i + 1L) }.toSet
        got.toSet == want
    }
  }

  property("ntileFromRank buckets are contiguous, sized within one") = {
    // driver-side law over the closed form itself (no Spark job): for any
    // (n, b), bucket ids over ranks 1..n are non-decreasing, cover
    // 1..min(n,b), and sizes differ by at most one with the larger
    // buckets first — the SQL NTILE contract
    Prop.forAll(Gen.chooseNum(1L, 200L), Gen.chooseNum(1, 12)) { (n, b) =>
      val q = n / b; val m = n % b; val cut = m * (q + 1)
      def bucket(r: Long): Long =
        if (r <= cut) (r - 1) / (q + 1) + 1
        else m + (r - cut - 1) / math.max(q, 1L) + 1
      val ids = (1L to n).map(bucket)
      val sizes = ids.groupBy(identity).view.mapValues(_.size).toMap
      ids == ids.sorted &&
        ids.distinct == (1L to math.min(n, b.toLong)) &&
        (sizes.values.max - sizes.values.min) <= 1 &&
        sizes.toSeq.sortBy(_._1).map(_._2).reverse.sorted ==
          sizes.toSeq.sortBy(_._1).map(_._2).reverse
    }
  }

  property("mixturePlan: targets sum within Σw of budget; epochs = ceil") = {
    import spark.implicits._
    val srcGen = for {
      s <- Gen.oneOf("a", "b", "c", "d")
      n <- Gen.chooseNum(1, 30)
    } yield (s, Seq.fill(n)("t").mkString(" "))
    Prop.forAllNoShrink(Gen.listOfN(8, srcGen),
        Gen.chooseNum(10L, 5000L)) { (docs, budget) =>
      val df = docs.zipWithIndex
        .map { case ((s, t), i) => (i.toLong, t, s) }
        .toDF("doc_id", "text", "source")
      val got = graft.ops.Sampling.mixturePlan(df, budget)
        .as[(String, Long, Long, Long, Double, Long)].collect().toSeq
      val nSrc = got.length
      // uniform weights: every target is budget div nSrc; floor rounding
      // loses < nSrc tokens in total; epochs is the exact ceil-div
      got.forall { case (_, n, _, target, rate, epochs) =>
        target == budget / nSrc &&
          epochs == (target + n - 1) / n &&
          rate == target.toDouble / n.toDouble
      } && got.map(_._4).sum > budget - nSrc
    }
  }

  property("cmsHeavyHitters never undercounts at any geometry") = {
    import spark.implicits._
    Prop.forAllNoShrink(
      Gen.listOfN(40, Gen.oneOf("a", "b", "c", "d", "e", "f", "g")),
      Gen.chooseNum(1, 9), Gen.chooseNum(1, 4)) { (keys, w, d) =>
      val df = keys.toDF("k")
      val exact = keys.groupBy(identity).view.mapValues(_.size.toLong)
      val got = graft.ops.Profiling
        .cmsHeavyHitters(df, "k", width = w, depth = d, topK = 7)
        .as[(String, Long, Long, Long)].collect()
      got.nonEmpty && got.forall { case (k, ex, est, over) =>
        ex == exact(k) && est >= ex && over == est - ex
      }
    }
  }

  property("fuzzyMatch length blocking equals the quadratic theta join") = {
    import spark.implicits._
    val word = Gen.choose(1, 5)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')))
      .map(_.mkString)
    Prop.forAllNoShrink(Gen.listOfN(6, word), Gen.listOfN(6, word),
      Gen.chooseNum(0, 2)) { (ls, rs, k) =>
      val l = ls.toDF("k")
      val r = rs.toDF("s")
      val got = graft.ops.Joins.fuzzyMatch(l, r, "k", "s", k)
        .as[(String, String, Int)].collect().toSet
      // brute-force reference: every distinct pair within distance k
      def lev(a: String, b: String): Int = {
        val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to a.length; j <- 1 to b.length)
          dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
            dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        dp(a.length)(b.length)
      }
      val ref = (for {
        a <- ls.distinct; b <- rs.distinct
        d = lev(a, b) if d <= k
      } yield (a, b, d)).toSet
      got == ref
    }
  }

  property("distributionMatchPlan rates are capped, zero off-reference") = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    Prop.forAllNoShrink(
      Gen.listOfN(25, Gen.chooseNum(0L, 63L)),
      Gen.listOfN(25, Gen.chooseNum(0L, 63L))) { (cur, ref) =>
      val plan = graft.ops.Sampling.distributionMatchPlan(
          cur.toDF("v"), ref.toDF("v"), col("v"), binWidth = 16L)
        .as[(Long, Long, Long, Option[Long])].collect()
      plan.forall { case (_, cCur, cRef, acc) =>
        if (cCur == 0) acc.isEmpty // nothing to accept
        else if (cRef == 0) acc.contains(0L) // reference says: none
        else acc.exists(a => a >= 1L && a <= 1000L)
      }
    }
  }

  property("hilbert: continuous bijection of the full grid at any bits") = {
    import spark.implicits._
    Prop.forAllNoShrink(Gen.chooseNum(2, 4)) { bits =>
      val n = 1 << bits
      val grid = (for { x <- 0 until n; y <- 0 until n }
        yield (x.toLong, y.toLong)).toDF("x", "y")
      val cells = graft.ops.Layout.hilbertValue(grid, "x", "y", bits)
        .select("hval", "x", "y")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      cells.map(_._1).toSeq == (0L until n.toLong * n) &&
        cells.sliding(2).forall { case Array(a, b) =>
          math.abs(a._2 - b._2) + math.abs(a._3 - b._3) == 1
        }
    }
  }

  property("rendezvous reshard: conservation and HRW-minimum movement " +
      "at any grow step") = {
    import spark.implicits._
    Prop.forAllNoShrink(
      Gen.chooseNum(2, 6), Gen.chooseNum(1, 4),
      Gen.chooseNum(0L, 500L)) { (nOld, grow, base) =>
      val nNew = nOld + grow
      val ids = (base until base + 120L).toDF("doc_id")
      val got = graft.ops.Layout
        .rendezvousReshardPlan(ids, "doc_id", nOld, nNew)
        .as[(Int, Long, Long, Long, Long)].collect()
      got.map(_._2).sum == 120L && got.map(_._4).sum == 120L &&
        got.forall { case (shard, nRdv, mRdv, _, _) =>
          if (shard < nOld) mRdv == 0L else mRdv == nRdv
        }
    }
  }

  property("wasserstein: zero on identical groups, symmetric in " +
      "group order") = {
    import spark.implicits._
    Prop.forAllNoShrink(Gen.listOfN(10, Gen.chooseNum(0L, 30L)),
      Gen.listOfN(10, Gen.chooseNum(0L, 30L))) { (as, bs) =>
      val df = (as.map(("a", _)) ++ bs.map(("b", _))).toDF("g", "v")
      val ab = graft.ops.Profiling.wassersteinDrift(df, "g", "v", "a", "b")
        .as[(Long, Long, String, Long)].collect().head
      val ba = graft.ops.Profiling.wassersteinDrift(df, "g", "v", "b", "a")
        .as[(Long, Long, String, Long)].collect().head
      val same = (as.map(("a", _)) ++ as.map(("b", _))).toDF("g", "v")
      val zero = graft.ops.Profiling
        .wassersteinDrift(same, "g", "v", "a", "b")
        .as[(Long, Long, String, Long)].collect().head
      ab._3 == ba._3 && ab._4 == ba._4 && zero._3 == "0" && zero._4 == 0L
    }
  }

  property("isotonicCalibration output is always nondecreasing") = {
    import spark.implicits._
    Prop.forAllNoShrink(Gen.listOfN(12, Gen.chooseNum(0, 1))) { ys =>
      val df = ys.zipWithIndex.map { case (y, i) =>
        (i.toLong + 1, (i / 3).toLong, y.toLong) }.toDF("id", "score", "y")
      val iso = graft.ops.Profiling
        .isotonicCalibration(df, "id", "score", "id", "y", k = 4)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      iso.map(_._5).sliding(2).forall(p =>
        p.length < 2 || p(0) <= p(1))
    }
  }

  property("weightedMedian: >= half the weight at or below the answer") = {
    import spark.implicits._
    Prop.forAllNoShrink(Gen.listOfN(12,
      Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(1L, 9L)))) { vw =>
      val df = vw.map { case (v, w) => ("g", v, w) }.toDF("g", "v", "w")
      val Array((tot, med)) = graft.ops.Profiling
        .weightedMedian(df, "g", "v", "w")
        .as[(String, Long, Long)].collect().map(r => (r._2, r._3))
      val below = vw.filter(_._1 <= med).map(_._2).sum
      val strictlyBelow = vw.filter(_._1 < med).map(_._2).sum
      // med is the SMALLEST value whose cumulative reaches half
      tot == vw.map(_._2).sum && 2 * below >= tot && 2 * strictlyBelow < tot
    }
  }

  property("jaccardAgainstHistoryPrefix equals the cross-side filter " +
      "of the exact symmetric join on any corpus and split") = {
    import spark.implicits._
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docGen = Gen.chooseNum(3, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val corpusGen = Gen.chooseNum(4, 8).flatMap(n => Gen.listOfN(n, docGen))
    Prop.forAll(corpusGen, Gen.chooseNum(1, 5)) { (texts, mod) =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val histIds = texts.indices.map(_.toLong).filter(_ % mod == 0).toSet
      val hist = histIds.toSeq.toDF("doc_id")
      val exact = graft.ops.Dedup.jaccardPairs(d, n = 2, threshold = 0.3,
          maxDf = Long.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .collect {
          case (a, b, j) if !histIds(a) && histIds(b) => (a, b, j)
          case (a, b, j) if histIds(a) && !histIds(b) => (b, a, j)
        }.sortBy(x => (x._1, x._2)).toSeq
      val got = graft.ops.Dedup.jaccardAgainstHistoryPrefix(d, hist,
          n = 2, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      got == exact
    }
  }

  property("approxPercentileAudit: the flag is always within-bound and " +
      "exact_val is the true lower percentile") = {
    import spark.implicits._
    val valsGen = Gen.chooseNum(2, 30).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 50L)))
    Prop.forAll(valsGen, Gen.oneOf(Seq(100, 500, 900))) { (vs, p) =>
      val df = vs.map(("g", _)).toDF("src", "v")
      val row = graft.ops.Profiling.approxPercentileAudit(df, "src", "v",
          psPm = Seq(p), accuracy = 10000)
        .as[(String, Long, Long, Long, Boolean)].collect().head
      val n = vs.length
      val want = vs.sorted
        .find(v => vs.count(_ <= v).toLong * 1000 >= p.toLong * n).get
      row._3 == n && row._4 == want && row._5
    }
  }

  property("neymanAllocation: allocations within budget, zero-σ strata " +
      "get zero, row totals conserved") = {
    import spark.implicits._
    val strataGen = Gen.chooseNum(2, 5).flatMap(k =>
      Gen.listOfN(k, Gen.chooseNum(1, 8).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(0L, 100L)))))
    Prop.forAll(strataGen, Gen.chooseNum(10L, 1000L)) { (strata, b) =>
      val rows = strata.zipWithIndex.flatMap { case (vs, i) =>
        vs.map(v => (s"s$i", v)) }
      val df = rows.toDF("src", "v")
      val got = graft.ops.Sampling.neymanAllocation(df, "src", "v", b)
        .as[(String, Long, Long, Long, Long)].collect().toSeq
      got.length == strata.length &&
        got.forall(r => r._4 >= 0 && r._4 <= b && r._5 >= 0 && r._5 <= b) &&
        got.map(_._4).sum <= b && got.map(_._5).sum <= b &&
        got.filter(_._3 == 0).forall(_._4 == 0L) &&
        got.map(_._2).sum == rows.length
    }
  }

  property("customerOverlapAuto routes by the Σdf² budget and the exact " +
      "path carries exact weights") = {
    import spark.implicits._
    val basketsGen = Gen.chooseNum(3, 6).flatMap(nc =>
      Gen.listOfN(nc,
        Gen.nonEmptyListOf(Gen.chooseNum(1L, 8L)).map(_.distinct)))
    Prop.forAll(basketsGen) { baskets =>
      val orders = baskets.indices.map(i => (i.toLong + 1, i.toLong + 1))
        .toDF("o_orderkey", "o_custkey")
      val li = baskets.zipWithIndex.flatMap { case (ps, i) =>
        ps.map(p => (i.toLong + 1, p)) }.toDF("l_orderkey", "l_partkey")
      // the routing pre-estimate, recomputed independently
      val cp = baskets.zipWithIndex
        .flatMap { case (ps, i) => ps.map(p => (i.toLong + 1, p)) }
        .distinct
      val sd2 = cp.groupBy(_._2).values
        .map(g => g.size.toLong * g.size).sum
      val huge = graft.ops.Relational.customerOverlapAuto(orders, li,
          maxPostings = 2L, minEstPermille = 1L, k = 100,
          df2Budget = Long.MaxValue / 4)
        .as[(String, String, Long, Long, Long, Long)].collect().toSeq
      val tiny = graft.ops.Relational.customerOverlapAuto(orders, li,
          maxPostings = 2L, minEstPermille = 1L, k = 100, df2Budget = 1L)
        .as[(String, String, Long, Long, Long, Long)].collect().toSeq
      val sampled = graft.ops.Relational.customerOverlapSampled(orders,
          li, maxPostings = 2L, minEstPermille = 1L, k = 100)
        .as[(Long, Long, Long, Long)].collect().toSeq
      val hugeOk = huge.forall(r => r._1 == "1_exact" &&
        r._2 == sd2.toString && r._5 == r._6 * 1000)
      val tinyOk =
        if (sd2 <= 1L) tiny.forall(_._1 == "1_exact")
        else tiny.forall(_._1 == "2_sampled") &&
          tiny.map(r => (r._3, r._4, r._5, r._6)) == sampled
      hugeOk && tinyOk
    }
  }

}
