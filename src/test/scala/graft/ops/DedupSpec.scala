package graft.ops

import graft.SparkSpec
import graft.functions.GraftFunctions
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.types.{ArrayType, StringType}

class DedupSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("exact dedup groups case/whitespace-normalized duplicates") {
    val r = Dedup.exactDupGroups(docs("The  Cat", "the cat", "dog"))
      .collect().map(x => x.getLong(1) -> x.getLong(2)).toMap
    assert(r == Map(0L -> 2L, 2L -> 1L)) // keep_id 0 has 2 dups; doc 2 alone
  }

  test("native shingles match the built-in HOF formulation exactly") {
    import org.apache.spark.sql.functions._
    // includes : NOT whitespace under the engine's pinned RE2-parity
    // definition (Text.ws), in both the HOF regex and the native kernel
    val d = docs("a b c d e", " x  y\tz w ", "only two", "",
      "a b c a b c a", "ab c d e f")
    val toks = Text.tokens(col("text"))
    val hof = d.select(col("doc_id"),
      when(size(toks) >= 3,
        array_distinct(transform(sequence(lit(0), size(toks) - 3),
          i => array_join(slice(toks, i + 1, lit(3)), " "))))
        .otherwise(array().cast("array<string>")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val native = Dedup.shingleSets(d, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(native == hof)
  }

  test("shingles: documents shorter than n yield no shingles, not garbage") {
    val r = Dedup.shingleSets(docs("a b"), n = 3).collect().head
    assert(r.getSeq[String](1).isEmpty)
  }

  test("shingles are distinct n-grams in order") {
    val r = Dedup.shingleSets(docs("a b c a b c a"), n = 3).collect().head
    // positions: "a b c","b c a","c a b","a b c","b c a" → 3 distinct
    assert(r.getSeq[String](1).toSet == Set("a b c", "b c a", "c a b"))
  }

  test("jaccard pairs: known overlap value") {
    // d0: shingles {a b c, b c d}; d1: {a b c, b c e} → j = 1/3
    val r = Dedup.jaccardPairs(docs("a b c d", "a b c e"), n = 3,
      threshold = 0.3).collect()
    assert(r.length == 1)
    assert(r.head.getDouble(2) == math.rint(1.0 / 3.0 * 10000) / 10000)
    // below threshold → excluded
    assert(Dedup.jaccardPairs(docs("a b c d", "a b c e"), n = 3,
      threshold = 0.34).count() == 0)
  }

  test("jaccard skew guard: maxDf drops a hot shingle before the join") {
    // every doc shares the hot prefix "spam spam spam spam"; only docs 0/1
    // share anything else. With the cap at 2 the ubiquitous hot shingles
    // (df=4 > 2) are dropped, so candidate pairs can only come through the
    // rare shingles — the 4-choose-2 hot-bucket blowup never happens.
    val hot = "spam spam spam spam "
    val d = docs(hot + "alpha beta gamma delta", hot + "alpha beta gamma zeta",
      hot + "unrelated one two three", hot + "other words entirely here")
    val capped = Dedup.jaccardPairs(d, n = 3, threshold = 0.1, maxDf = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((0L, 1L)))
    // uncapped, the hot shingles alone push every pair over the threshold
    val uncapped = Dedup.jaccardPairs(d, n = 3, threshold = 0.1,
      maxDf = Long.MaxValue).count()
    assert(uncapped == 6L) // all 4-choose-2 pairs — the quadratic bucket
  }

  test("df-cap is partial-agg + anti-join — no single-task Window funnel") {
    // structural pin for the 100 TB skew story: per-item df must come from
    // a partial-aggregating groupBy (hot item ⇒ one partial row per map
    // task) + an anti-join against the small over-cap list — NOT from
    // `count(*) OVER (PARTITION BY item)`, which buffers the hottest
    // item's entire posting list in one WindowExec task.
    val hot = "spam spam spam spam "
    val d = docs(hot + "alpha beta gamma delta", hot + "alpha beta gamma zeta",
      hot + "unrelated one two three", hot + "other words entirely here")
    val df = Dedup.jaccardPairs(d, n = 3, threshold = 0.1, maxDf = 2L)
    val plan = df.queryExecution.analyzed.toString
    assert(!plan.contains("Window"))
    assert(plan.contains("LeftAnti"))
    // and the capped result is still correct with the hot shingle present
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 1L)))
  }

  test("winnowing skew guard: maxDf drops a hot boilerplate fingerprint") {
    val boiler = "standard corporate disclaimer footer text repeated everywhere " * 2
    val passage = "the quick brown fox jumps over the lazy dog repeatedly " * 3
    val d = docs(boiler + " " + passage, boiler + " different middle " + passage,
      boiler + " unrelated body content entirely its own words",
      boiler + " another independent body with separate phrasing")
    // cap of 2 kills fingerprints present in all 4 docs (the boilerplate);
    // the passage-sharing pair still scores via its df=2 fingerprints
    val capped = Dedup.winnowingPairs(d, k = 16, w = 8, threshold = 0.2,
      maxDf = 2L).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((0L, 1L)))
  }

  test("minhash candidates recover all high-jaccard pairs here") {
    val base = "q w e r t y u i o p a s d f g h j k l z x c v b n m"
    val d = docs(base, base + " extra", "completely different text with words")
    val exact = Dedup.jaccardPairs(d, n = 3, threshold = 0.5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val mh = Dedup.minhashPairs(d, n = 3, numHashes = 32, bands = 16,
      threshold = 0.5).collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(exact == Set((0L, 1L)))
    assert(mh == exact)
  }

  test("minhashPairs and bandKeys reject a non-dividing bands and a " +
      "threshold outside (0, 1], naming the value") {
    val d = docs("a b c d", "a b c e")
    val bad: Seq[(String, () => Any)] = Seq(
      "bands=5, numHashes=32" -> (() =>
        Dedup.minhashPairs(d, numHashes = 32, bands = 5)),
      "bands=5, numHashes=32" -> (() =>
        Dedup.bandKeys(d, numHashes = 32, bands = 5)),
      "threshold=1.5" -> (() => Dedup.minhashPairs(d, threshold = 1.5)))
    bad.foreach { case (msg, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }

  /** A seeded corpus for the MinHash verify: random base documents, planted
    * edits of them, exact duplicates, documents shorter than n = 3
    * tokens, one band collision between documents that share no shingle
    * (found by search over single-shingle documents: band 9 of the
    * default 32-hash/16-band signature), and pairs at exactly J = 2/10.
    */
  private def minhashCorpus(seed: Long) = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 120).map(i => s"v$i")
    def words(k: Int) = Seq.fill(k)(vocab(rnd.nextInt(vocab.size)))
    val base = Seq.fill(40)(words(8 + rnd.nextInt(28)))
    val edits = Seq.fill(30) {
      val b = base(rnd.nextInt(base.size)).toVector
      (0 until 1 + rnd.nextInt(4)).foldLeft(b) { (t, _) =>
        val i = rnd.nextInt(t.size)
        rnd.nextInt(3) match {
          case 0 => t.updated(i, vocab(rnd.nextInt(vocab.size)))
          case 1 => t.patch(i, Seq(vocab(rnd.nextInt(vocab.size))), 0)
          case _ => if (t.size > 1) t.patch(i, Nil, 1) else t
        }
      }
    }
    val dups = Seq.fill(5)(base(rnd.nextInt(base.size)))
    val short = Seq(Nil, Seq("v1"), Seq("v1", "v2"), Seq("v1", "v2"))
    val collision = Seq("w29559a w29559b w29559c", "w74413a w74413b w74413c")
      .map(_.split(" ").toSeq)
    // 6 shingles each, 2 shared: J = 2 / 10 exactly
    val atThreshold = (0 until 8).flatMap { k =>
      val head = Seq("p", "q", "r", "s").map(w => s"$w$k$seed")
      Seq(head ++ (1 to 4).map(i => s"a$i$k$seed"),
        head ++ (1 to 4).map(i => s"b$i$k$seed"))
    }
    rnd.shuffle(base ++ edits ++ dups ++ short ++ collision ++ atThreshold)
      .map(_.mkString(" "))
  }

  test("minhash verify ≡ driver-side exact Jaccard over the band-bucket " +
      "candidates") {
    val threshold = 0.2
    for (seed <- 1L to 3L) {
      val d = docs(minhashCorpus(seed): _*)
      val sets = Dedup.shingleSets(d, 3).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      val cands = Dedup.bandKeys(d, 3, 32, 16).collect()
        .groupBy(r => (r.getInt(1), r.getInt(2)))
        .values.flatMap { rs =>
          val ids = rs.map(_.getLong(0)).distinct.sorted.toSeq
          for (a <- ids; b <- ids if a < b) yield (a, b)
        }.toSet
      val scored = cands.toSeq.map { case (a, b) =>
        val i = (sets(a) intersect sets(b)).size.toLong
        (a, b, i.toDouble / (sets(a).size + sets(b).size - i))
      }
      val oracle = scored.filter(_._3 >= threshold).map { case (a, b, j) =>
        (a, b, BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
      }.sortBy(p => (p._1, p._2))
      val got = Dedup.minhashPairs(d, n = 3, numHashes = 32, bands = 16,
          threshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      assert(got == oracle, s"seed $seed")
      // the planted shapes are really exercised at this seed
      val text = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.exists(_._3 == 1.0), s"seed $seed: no exact duplicate")
      assert(got.exists(_._3 == threshold), s"seed $seed: no pair at J = t")
      val shortIds = text.collect {
        case (id, t) if t.split(" ").count(_.nonEmpty) < 3 => id }.toSet
      assert(shortIds.size == 4 && shortIds.forall(sets(_).isEmpty))
      assert(!got.exists(p => shortIds(p._1) || shortIds(p._2)))
      val coll = text.collect { case (id, t) if t.startsWith("w") => id }
        .toSeq.sorted
      assert(cands(coll(0) -> coll(1)), s"seed $seed: collision not banded")
      assert(sets(coll(0)).intersect(sets(coll(1))).isEmpty)
      assert(!got.exists(p => p._1 == coll(0) && p._2 == coll(1)))
    }
  }

  test("minhashSignatures shingles each document once and keeps the " +
      "documents with a shingle") {
    import org.apache.spark.sql.functions._
    // an RDD source: the optimizer folds a filter over a local relation
    val d = spark.sparkContext.parallelize(Seq((0L, "a b c d"),
      (1L, "only two"), (2L, ""), (3L, " x\ty  z\f"), (4L, null),
      (5L, "p q r p q r")), 2).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(d)
    val got = sigs.collect()
      .map(r => r.getLong(0) -> (r.getSeq[String](1), r.getSeq[Long](2))).toMap
    val want = Dedup.shingleSets(d).filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"),
        GraftFunctions.minhash(col("shingles"), 32))
      .collect()
      .map(r => r.getLong(0) -> (r.getSeq[String](1), r.getSeq[Long](2))).toMap
    assert(got.keySet == Set(0L, 3L, 5L) && got == want, s"$got vs $want")
    val plan = stripAQEPlan(sigs.queryExecution.executedPlan).toString
    assert("graft_shingles\\(".r.findAllIn(plan).size == 1, plan)
  }

  test("minhash verify plan: no shingle explode, no shingle-array " +
      "broadcast") {
    val df = Dedup.minhashPairs(docs(minhashCorpus(1L): _*))
    df.collect()
    val plan = df.queryExecution.executedPlan
    val explodes = collect(plan) {
      case g: GenerateExec
          if g.generator.references.exists(_.name == "shingles") => g
    }
    assert(explodes.isEmpty, plan.toString)
    val arrayBroadcasts = collect(plan) {
      case b: BroadcastExchangeExec if b.output.exists(_.dataType match {
        case ArrayType(StringType, _) => true
        case _ => false
      }) => b
    }
    assert(arrayBroadcasts.isEmpty, plan.toString)
  }

  test("prefix-family verify counts shared postings: no exchange ships " +
      "an array column") {
    import org.apache.spark.sql.execution.exchange.Exchange
    // the prefix candidates are ~10² times MinHash's, so their verify
    // counts postings instead of shipping shingle arrays to each pair
    // (PLANS.md, the minhashPairs verify measurements)
    val d = docs(minhashCorpus(2L): _*)
    val ids = d.select("doc_id").as[Long].collect().sorted
    val hist = ids.take(ids.length / 2).toSeq.toDF("doc_id")
    val fresh = ids.drop(ids.length / 2).toSeq.toDF("doc_id")
    Dedup.neardupIndexBuild(d, hist, "spec_verify_form_index", n = 3,
      threshold = 0.2, buckets = 4)
    val verifies = Seq(
      "jaccardPairsPrefix" -> Dedup.jaccardPairsPrefix(d),
      "jaccardAgainstHistoryPrefix" ->
        Dedup.jaccardAgainstHistoryPrefix(d, hist),
      "jaccardAgainstIndex" ->
        Dedup.jaccardAgainstIndex(d, fresh, "spec_verify_form_index"))
    for ((name, df) <- verifies) {
      assert(df.collect().nonEmpty, name)
      val plan = df.queryExecution.executedPlan
      val arrayExchanges = collect(plan) {
        case e: Exchange
            if e.output.exists(_.dataType.isInstanceOf[ArrayType]) => e
      }
      assert(arrayExchanges.isEmpty, s"$name: $plan")
    }
  }

  test("minhash verify computes each candidate's intersection once") {
    import org.apache.spark.sql.catalyst.expressions.ArrayIntersect
    val d = docs(minhashCorpus(1L): _*)
    val df = Dedup.minhashPairs(d)
    assert(df.collect().nonEmpty)
    val intersects = collect(df.queryExecution.executedPlan) { case p =>
      p.expressions.map(_.collect { case e: ArrayIntersect => e }.size).sum
    }.sum
    assert(intersects == 1, df.queryExecution.executedPlan.toString)
  }

  test("winnowing: shared long passage yields shared fingerprints") {
    val passage = "the quick brown fox jumps over the lazy dog repeatedly " * 3
    val d = docs(
      "intro text one " + passage,
      "completely different opening words here " + passage,
      "no overlap with anything else at all whatsoever in this body")
    val pairs = Dedup.winnowingPairs(d, k = 16, w = 8, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L))) // the two passage-sharers, only them
    // identical docs → jaccard exactly 1
    val dup = Dedup.winnowingPairs(docs(passage, passage), 16, 8, 0.99)
      .collect()
    assert(dup.length == 1 && dup.head.getDouble(2) == 1.0)
    // shorter than k bytes → no fingerprints, no pairs, no crash
    assert(Dedup.winnowingPairs(docs("tiny", "tiny"), 16, 8, 0.0).count() == 0)
  }

  test("simhash: identical docs at hamming 0, disjoint docs far apart") {
    val d = docs("spark makes big data small", "spark makes big data small",
                 "entirely unrelated words appear here")
    val sigs = Dedup.simhashSignatures(d).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) > 8)
    val pairs = Dedup.simhashPairs(d, maxHamming = 8).collect()
    assert(pairs.map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((0L, 1L)))
    assert(pairs.head.getAs[Int]("hamming") == 0)
  }

  test("connected components: chains close transitively, singletons self-label") {
    // edges 1-2, 2-3 (one chain) and 5-6; 4 isolated
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L),
      (5L, 5L), (6L, 5L)))
  }

  test("connected components: propagation crosses a long path within maxIter") {
    // a 12-node path needs ~11 rounds: exercises multi-round convergence
    val n = 12
    val nodes = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, i.toLong + 1))
      .toDF("id_a", "id_b")
    // force the ITERATIVE path (0 disables the driver union-find rung):
    // multi-round convergence and the maxIter guard are its laws
    val got = Dedup.connectedComponents(nodes, edges, maxIter = 15,
        driverUnionFindMaxEdges = 0L)
      .as[(Long, Long)].collect()
    assert(got.forall(_._2 == 1L))
    // and FAILS (not silently partial) when maxIter is too small
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(nodes, edges, maxIter = 3,
        driverUnionFindMaxEdges = 0L)
    }
  }

  test("driver union-find rung ≡ iterative min-label on a random graph") {
    // the q61-family fast path: same labels, bit for bit, on a graph
    // with chains, a cycle, merged components, self-loops, singletons
    val nodes = (1L to 40L).toDF("id")
    val edges = ((1L to 12L).map(i => (i, i + 1)) ++       // chain
      Seq((20L, 21L), (21L, 22L), (22L, 20L)) ++           // cycle
      Seq((5L, 30L), (30L, 31L), (17L, 17L)) ++            // merge + self
      Seq((35L, 36L))).toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toSeq
    // 0 skips the driver path; 1 takes it only past the edge collect
    for (max <- Seq(0L, 1L)) {
      val slow = Dedup.connectedComponents(nodes, edges, maxIter = 20,
          driverUnionFindMaxEdges = max)
        .as[(Long, Long)].collect().toSeq
      assert(fast == slow, s"driverUnionFindMaxEdges = $max")
    }
    assert(fast.toMap.apply(31L) == 1L) // 30-31 merged into the chain via 5
  }

  test("connected components: a 3-edge call is one SQL execution, the " +
      "edge pin") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    var cc: org.apache.spark.sql.DataFrame = null
    // below the threshold the one execution is a collect of at most
    // driverUnionFindMaxEdges + 1 edges: it picks the path and feeds the
    // union-find, with no edge pin and no `count` of its own
    assert(actionsOf { cc = Dedup.connectedComponents(nodes, edges) }
      .map(_._1) == Seq("collect"))
    assert(cc.as[(Long, Long)].collect().toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L)))
    // past the threshold the same collect sends the edges to the rounds:
    // the edge pin comes next, over the (src, dst) edge list
    val past = actionsOf(Dedup.connectedComponents(nodes, edges,
      driverUnionFindMaxEdges = 2L))
    assert(past.take(2).map(_._1) == Seq("collect", "localCheckpoint"))
    assert(past(1)._2.analyzed.output.map(_.name) == Seq("src", "dst"))
  }

  test("minhashPairs leaves its signature frame in the session cache " +
      "until clearCache") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val d = docs("the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat",
      "an entirely different sentence about other things")
    assert(Dedup.minhashPairs(d).collect().length == 1)
    // a persisted Dataset stays in the CacheManager until unpersist or
    // clearCache: the ContextCleaner frees nothing a cache entry holds
    System.gc()
    val cm = spark.sharedState.cacheManager
    assert(!cm.isEmpty)
    val left = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before(id) }.values.toSeq
    assert(left.size == 1, left.map(_.name))
    assert(left.head.name.contains("graft_minhash") &&
      left.head.name.contains("graft_shingles"), left.head.name)
    assert(left.head.getStorageLevel ==
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    spark.catalog.clearCache()
    assert(cm.isEmpty)
  }

  test("nonRepresentatives ≡ the non-root rows of connectedComponents, " +
      "on both paths") {
    val nodes = (1L to 40L).toDF("id")
    val edges = ((1L to 12L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 20L)) ++
      Seq((5L, 30L), (30L, 31L), (17L, 17L)) ++
      Seq((35L, 36L))).toDF("id_a", "id_b")
    val want = Dedup.connectedComponents(nodes, edges)
      .filter($"id" =!= $"cluster_id").as[(Long, Long)].collect().toSeq
    for (f <- Seq(Dedup.nonRepresentatives(edges),
        Dedup.nonRepresentatives(edges, driverUnionFindMaxEdges = 0L),
        Dedup.nonRepresentatives(edges, driverUnionFindMaxEdges = 1L)))
      assert(f.as[(Long, Long)].collect().toSeq == want)
    // the id type follows the edges on both paths; null endpoints drop
    val edgesI = Seq((Some(3), Some(2)), (Some(2), Some(1)), (Some(4), None))
      .toDF("id_a", "id_b")
    for (f <- Seq(Dedup.nonRepresentatives(edgesI),
        Dedup.nonRepresentatives(edgesI, driverUnionFindMaxEdges = 0L))) {
      assert(f.schema.map(_.dataType) ==
        Seq(org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.IntegerType))
      assert(f.as[(Int, Int)].collect().toSeq == Seq((2, 1), (3, 1)))
    }
  }

  test("connected components: path equivalence — int ids, foreign endpoints, null edges") {
    // Integer ids: BOTH paths emit IntegerType for id and cluster_id —
    // the schema must not flip with the edge count (r11 ADVICE)
    val nodesI = Seq(1, 2, 3, 4).toDF("id")
    val edgesI = Seq((1, 2), (2, 3)).toDF("id_a", "id_b")
    val fastI = Dedup.connectedComponents(nodesI, edgesI)
    val slowI = Dedup.connectedComponents(nodesI, edgesI,
      driverUnionFindMaxEdges = 0L)
    // names + types must match (nullability may differ: min-agg vs
    // coalesce-of-non-null — invisible to any reader of the values)
    assert(fastI.schema.map(f => (f.name, f.dataType)) ==
      slowI.schema.map(f => (f.name, f.dataType)))
    assert(fastI.schema("cluster_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(fastI.as[(Int, Int)].collect().toSeq ==
      slowI.as[(Int, Int)].collect().toSeq)

    // edge endpoints absent from `nodes` are labeled on BOTH paths —
    // the universe is nodes ∪ endpoints regardless of path
    val nodes = Seq(1L, 2L).toDF("id")
    val edges = Seq((2L, 7L), (8L, 9L)).toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toSeq
    val slow = Dedup.connectedComponents(nodes, edges,
        driverUnionFindMaxEdges = 0L)
      .as[(Long, Long)].collect().toSeq
    assert(fast == slow)
    assert(fast == Seq((1L, 1L), (2L, 2L), (7L, 2L), (8L, 8L), (9L, 8L)))

    // a NULL endpoint is not an edge: dropped identically on both paths
    // (previously an NPE in the driver collect)
    val nodesN = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edgesN = Seq((Some(1L), Some(2L)), (Some(3L), None),
      (None, Some(4L))).toDF("id_a", "id_b")
    val fastN = Dedup.connectedComponents(nodesN, edgesN)
      .as[(Long, Long)].collect().toSeq
    val slowN = Dedup.connectedComponents(nodesN, edgesN,
        driverUnionFindMaxEdges = 0L)
      .as[(Long, Long)].collect().toSeq
    assert(fastN == slowN)
    assert(fastN == Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L)))
  }

  test("jaccard clusters: near-dup docs merge, distinct docs stay apart") {
    val a1 = "the quick brown fox jumps over the lazy dog near the river bank"
    val a2 = "the quick brown fox jumps over the lazy dog near the river"
    val b = "completely different content with no overlap whatsoever in any shingle text"
    val got = Dedup.jaccardClusters(docs(a1, a2, b), threshold = 0.2)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 0L), (1L, 0L), (2L, 2L)))
  }

  test("dropNearDuplicates keeps each cluster's min-id doc and all content") {
    val a1 = "the quick brown fox jumps over the lazy dog near the river bank"
    val a2 = "the quick brown fox jumps over the lazy dog near the river"
    val b = "completely different content with no overlap whatsoever in any shingle text"
    val d = docs(a1, a2, b)
    val pairs = Dedup.jaccardPairs(d, n = 3, threshold = 0.2)
    val kept = Dedup.dropNearDuplicates(d, pairs)
      .orderBy("doc_id").collect()
    // cluster {0,1} keeps 0; singleton 2 survives; full rows retained
    assert(kept.map(_.getLong(0)).toSeq == Seq(0L, 2L))
    assert(kept.map(_.getString(1)).toSeq == Seq(a1, b))
  }

  test("sourceDupMatrix: unordered cells, diagonal = within-source dups") {
    val docs = Seq((1L, "x", "A"), (2L, "x", "B"), (3L, "x", "A"),
      (4L, "x", "C")).toDF("doc_id", "text", "source")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L))
      .toDF("id_a", "id_b") // 1-2 A↔B, 1-3 A↔A (diagonal), 2-3 A↔B
    val got = Dedup.sourceDupMatrix(docs, pairs)
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("A", "A", 1L), ("A", "B", 2L)))
  }

  test("goldenRecord: per-field survivorship — completeness max, modal values") {
    // one dup group ("the cat" × 3 variants): golden id = min; n_chars
    // takes the group MAX (9, not the winner row's); lang mode = 'en'
    // (2 of 3); source tie (1 each of a/b/c… actually en,en,de and
    // a,a,b) → modal source 'a'. Singleton keeps its own fields.
    val d = Seq(
      (1L, "The  Cat", "en", "a", 8L),
      (2L, "the cat", "de", "a", 7L),
      (3L, " THE CAT ", "en", "b", 9L),
      (9L, "dog", "fr", "z", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.goldenRecord(d)
      .as[(String, Long, Long, Long, String, String)].collect().toSeq
      .sortBy(_._2)
    assert(got.map(r => (r._2, r._3, r._4, r._5, r._6)) == Seq(
      (1L, 3L, 9L, "en", "a"), (9L, 1L, 3L, "fr", "z")))
  }

  test("hotShingles: df census with deterministic tie-break") {
    // "a b c" appears in all three docs; each doc contributes its other
    // shingle once; ties (df=1) break on shingle text ascending
    val d = docs("a b c d", "z z a b c", "a b c q")
    val got = Dedup.hotShingles(d, n = 3, topK = 3)
      .as[(String, Long)].collect().toSeq
    assert(got.head == ("a b c", 3L))
    assert(got.tail == got.tail.sortBy(_._1))
    assert(got.tail.forall(_._2 == 1L))
    // distinct within a doc: a repeated shingle counts once per doc
    val rep = Dedup.hotShingles(docs("x y z x y z x y z"), n = 3, topK = 2)
      .as[(String, Long)].collect().toSeq
    assert(rep.forall(_._2 == 1L))
  }

  test("benchmarkContainment: normalized by the BENCH side, integer gate") {
    // corpus doc 0 contains bench doc 10 verbatim plus padding: bench
    // containment is total (every bench shingle appears) even though
    // Jaccard vs the padded doc is low — the case the threshold rule
    // exists for. Corpus doc 1 shares nothing.
    val bench = Seq((10L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "intro words first then the quick brown fox jumps over " +
        "the lazy dog and much more trailing commentary text here"),
      (1L, "completely different content with no shared trigrams at all"))
      .toDF("doc_id", "text")
    val got = Dedup.benchmarkContainment(corpus, bench, n = 3,
        minPermille = 900L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 10L, 7L, 7L))) // all 7 bench 3-grams found
    // a partial quote fails a 900‰ gate but passes a lax one: drop the
    // last three bench tokens from the corpus doc → 4/7 shingles left
    val partial = Seq((0L, "padding the quick brown fox jumps over " +
      "unrelated trailing words")).toDF("doc_id", "text")
    assert(Dedup.benchmarkContainment(partial, bench, 3, 900L).isEmpty)
    assert(Dedup.benchmarkContainment(partial, bench, 3, 500L)
      .as[(Long, Long, Long, Long)].collect().toSeq ==
      Seq((0L, 10L, 4L, 7L)))
  }

  test("contaminatedDocs: union membership, distinct counts, overlap gate") {
    val bench = docs("the quick brown fox jumps high")
    val corpus = docs(
      // shares 3 shingles with the benchmark (the/quick/brown fox jumps)
      "the quick brown fox jumps over something else entirely today",
      "totally different words with no common trigrams at all here")
    val got = Dedup.contaminatedDocs(corpus, bench, n = 3, minOverlap = 2)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 3L)))
    // the gate excludes, not truncates: overlap 3 < minOverlap 4 -> gone
    assert(Dedup.contaminatedDocs(corpus, bench, n = 3, minOverlap = 4)
      .isEmpty)
  }

  test("connected components: reliable checkpoint mode matches default") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    // a 5-edge chain: diameter 5 forces several propagation rounds, so
    // the sweep assertion below actually has superseded rounds to catch
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    // snapshot the shared session's checkpoint dir so this test neither
    // depends on suite order nor leaks its own setting to later suites
    val prevDir = spark.sparkContext.getCheckpointDir
    // without a checkpoint dir the reliable mode must fail LOUDLY, not
    // fall back to lineage-truncation-free rounds — clear the dir so the
    // guard is exercised REGARDLESS of what earlier suites left set
    // (null clears: sc wraps the argument in Option)
    spark.sparkContext.setCheckpointDir(null)
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(nodes, edges, reliable = true,
        driverUnionFindMaxEdges = 0L)
    }
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      // iterative path forced: the per-round checkpoint sweep is ITS law
      val got = Dedup.connectedComponents(nodes, edges, reliable = true,
          driverUnionFindMaxEdges = 0L)
        .as[(Long, Long)].collect().toSeq
      assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
        (5L, 1L), (6L, 1L)))
      // superseded rounds are swept: ~6 rounds + init + edges ran, but
      // only the FINAL label checkpoint may remain on disk (the edge
      // checkpoint is swept after convergence) — the dir must not grow
      // with round count
      val root = new org.apache.hadoop.fs.Path(
        spark.sparkContext.getCheckpointDir.get)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val left = fs.listStatus(root).map(_.getPath.getName).toSeq
      assert(left.length <= 1, s"checkpoint dir not swept: $left")
    } finally {
      // restore whatever was set before (None -> unset; null is safe on
      // a local master, where no executor re-reads the dir)
      spark.sparkContext.setCheckpointDir(prevDir.orNull)
    }
  }

  test("connected components: sweep never claims a foreign thread's checkpoints") {
    val prevDir = spark.sparkContext.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt_foreign")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val nodes = (1L to 12L).toDF("id")
      val edges = (1L to 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      // a foreign thread checkpoints its own RDDs throughout the CC run —
      // with directory-diff attribution those could land inside a pin
      // window and be swept as if they were a CC round; attribution off
      // the pinned RDD's own getCheckpointFile makes that structurally
      // impossible, so every foreign file must survive
      @volatile var stop = false
      val foreign = scala.collection.mutable.ArrayBuffer[String]()
      val t = new Thread(() => {
        while (!stop) {
          val r = spark.sparkContext.parallelize(1 to 4, 1)
          r.checkpoint(); r.count()
          r.getCheckpointFile.foreach(f =>
            foreign.synchronized { foreign += f })
        }
      })
      t.start()
      try {
        val got = Dedup.connectedComponents(nodes, edges, reliable = true)
          .as[(Long, Long)].collect()
        assert(got.forall(_._2 == 1L))
      } finally { stop = true; t.join() }
      val fs = new org.apache.hadoop.fs.Path(dir.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val snapshot = foreign.synchronized { foreign.toVector }
      assert(snapshot.nonEmpty, "foreign thread produced no checkpoints")
      snapshot.foreach { f =>
        assert(fs.exists(new org.apache.hadoop.fs.Path(f)),
          s"foreign checkpoint swept: $f")
      }
    } finally {
      spark.sparkContext.setCheckpointDir(prevDir.orNull)
    }
  }

  test("dedupAgainstHistory: history fps drop, then within-batch keep-min") {
    import org.apache.spark.sql.functions.{col, md5}
    val docs = Seq(
      (1L, "alpha"), (2L, "beta"),
      (3L, "  ALPHA "),  // normalizes to doc 1's content
      (4L, "gamma")).toDF("doc_id", "text")
    val hist = Seq("beta").toDF("t")
      .select(md5(Dedup.normText(col("t")).cast("binary")).as("fp"))
    val got = Dedup.dedupAgainstHistory(docs, hist)
      .as[(Long, String)].collect().toSeq
    // beta is in history -> doc 2 drops; alpha keeps its lowest id only
    assert(got == Seq((1L, "alpha"), (4L, "gamma")))
    // empty history: pure within-batch exact dedup
    val none = hist.filter(col("fp").isNull)
    assert(Dedup.dedupAgainstHistory(docs, none)
      .as[(Long, String)].collect().map(_._1).toSeq == Seq(1L, 2L, 4L))
  }

  test("dupGroupHistogram counts groups per size, normalization-aware") {
    val df = Seq((1L, "alpha"), (2L, " ALPHA "), (3L, "beta"),
      (4L, "beta"), (5L, "beta"), (6L, "gamma"))
      .toDF("doc_id", "text")
    val got = Dedup.dupGroupHistogram(df)
      .as[(Long, Long)].collect().toSeq
    // gamma alone (1×1), alpha≡ALPHA (1×2), beta ×3 (1×3)
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("sourceNovelty attributes shingles to the first-named source") {
    // shingle sets (n=2): A: {a b, b c}; B: {a b}; C: {x y}
    val df = Seq(
      (1L, "A", "a b c"), (2L, "B", "a b"), (3L, "C", "x y"),
      (4L, "A", "a b"))  // repeat within A: counted once
      .toDF("doc_id", "source", "text")
    val got = Dedup.sourceNovelty(df, n = 2)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("A", 2L, 2L, 2L), ("B", 1L, 0L, 2L),
      ("C", 1L, 1L, 3L)))
  }

  test("sourceOverlap counts distinct shared shingles per pair") {
    val df = Seq(
      (1L, "A", "a b c"),   // A: {a b, b c}
      (2L, "B", "a b c d"), // B: {a b, b c, c d}
      (3L, "C", "zz ww"))   // C: {zz ww} — disjoint
      .toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlap(df, n = 2)
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("A", "B", 2L))) // disjoint pairs absent, not 0
  }

  test("sourceOverlap: maxSourceDf caps hot shingles, law vs uncapped") {
    // 'a b' is in ALL four sources (boilerplate); 'b c' in A,B; 'c d' in
    // B,D — a df cap at 3 must remove exactly the universal shingle's
    // contribution and nothing else
    val df = Seq(
      (1L, "A", "a b c"), (2L, "B", "a b c d"),
      (3L, "C", "a b"), (4L, "D", "a b x c d"))
      .toDF("doc_id", "source", "text")
    def m(r: Seq[(String, String, Long)]) = r.map(t => (t._1, t._2) -> t._3).toMap
    val uncapped = m(Dedup.sourceOverlap(df, n = 2)
      .as[(String, String, Long)].collect().toSeq)
    val capped = m(Dedup.sourceOverlap(df, n = 2, maxSourceDf = 3)
      .as[(String, String, Long)].collect().toSeq)
    // law 1: capped ⊆ uncapped — every capped pair exists uncapped with a
    // count no larger (dropping shingles can only remove shared evidence)
    assert(capped.forall { case (k, v) => uncapped.get(k).exists(v <= _) })
    // law 2: cap ≥ |sources| cannot drop anything — equal to uncapped
    assert(m(Dedup.sourceOverlap(df, n = 2, maxSourceDf = 4)
      .as[(String, String, Long)].collect().toSeq) == uncapped)
    // exact shape: universal 'a b' (df 4 > 3) is out; only the selective
    // shingles remain — A∩B on 'b c', B∩D on 'c d', D-only 'b x'/'x c'
    assert(capped == Map(("A", "B") -> 1L, ("B", "D") -> 1L))
    assert(uncapped == Map(("A", "B") -> 2L, ("A", "C") -> 1L,
      ("A", "D") -> 1L, ("B", "C") -> 1L, ("B", "D") -> 2L,
      ("C", "D") -> 1L))
  }

  test("embeddingDedupCensus: per-label kept/dropped from CC keep-one") {
    // Pairs above 0.9: (0,1), (3,4), and the CROSS-LABEL (2,5) — so the
    // clusters are {0,1}, {2,5}, {3,4}, with representatives 0, 2, 3.
    // Label 0 keeps 0 and 2 (2 of 3); label 1 keeps only 3 (1 of 3):
    // vector 5's representative lives in the other label, which is
    // exactly the cross-label semantics keep-one-per-cluster implies.
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 0),
      (3L, Array(0.0f, 0.0f, 1.0f), 1),
      (4L, Array(0.1f, 0.0f, 0.99f), 1),
      (5L, Array(0.0f, 1.0f, 0.1f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Dedup.embeddingDedupCensus(df, threshold = 0.9)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0, 3L, 2L, 1L), (1, 3L, 1L, 2L)))
  }

  test("containmentPairs: directed, integer-exact, catches low-Jaccard quotes") {
    // doc 1 ("a b c d e") has 3 shingles, ALL present in doc 2's 5 — so
    // containment 1→2 is 1000‰ while Jaccard is only 3/5; the reverse
    // direction is 3/5 = exactly 600‰ (boundary inclusive). doc 3 shares
    // nothing.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d e y"),
      (3L, "p q r s t u v")).toDF("doc_id", "text")
    val at600 = Dedup.containmentPairs(docs, n = 3, minPermille = 600L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(at600 == Seq((1L, 2L, 3L, 3L), (2L, 1L, 3L, 5L)))
    // raising the bar past the reverse direction's 600‰ keeps only the
    // full containment — the asymmetry is the contract
    val at700 = Dedup.containmentPairs(docs, n = 3, minPermille = 700L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(at700 == Seq((1L, 2L, 3L, 3L)))
  }

  test("containmentPairs maxDf cap drops hot shingles from both sides") {
    // shingle "a b c" appears in all 4 docs; cap at 3 removes it, so doc 4
    // (ONLY that shingle) vanishes and doc 1's denominator shrinks to 2.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d e y"),
      (3L, "z a b c w"),
      (4L, "a b c")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, n = 3, minPermille = 1000L,
        maxDf = 3L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // post-cap sets: 1={b c d, c d e} (2), 2={x a b, b c d, c d e, d e y}
    // (4), 3={z a b, b c w} (2), 4={} — full containment only 1→2
    assert(got == Seq((1L, 2L, 2L, 2L)))
  }

  test("contaminationCoverage: overlapping hit spans count once; " +
    "flagged set equals contaminatedDocs at minOverlap=1") {
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 x y z w"), // hits at pos 0 and 1 → union {0,1,2,3}
      (2L, "x y z w1 w2 w3 q"),    // one hit → 3 of 7 covered
      (3L, "none here at all"))    // clean → absent
      .toDF("doc_id", "text")
    val bench = Seq((100L, "w1 w2 w3 w4")).toDF("doc_id", "text")
    val got = Dedup.contaminationCoverage(corpus, bench, n = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 8L, 4L, 0.5),
      (2L, 7L, 3L, 3.0 / 7.0)))
    // the coarse flag and the fine-grained coverage agree on WHO is tainted
    val flagged = Dedup.contaminatedDocs(corpus, bench, n = 3,
      minOverlap = 1L).select("doc_id").as[Long].collect().toSet
    assert(got.map(_._1).toSet == flagged)
  }

  test("keepBestExact: argmax score per fingerprint, lowest id on ties") {
    val docs = Seq(
      (1L, "the cat", 0L),  // dup group A, score 7
      (2L, "THE  CAT  ", 0L), // dup group A, score 10 → kept
      (3L, "the cat", 0L),  // dup group A, score 7
      (4L, "unique body", 0L), // singleton → kept
      (5L, "tie text", 0L), (6L, "tie text", 0L)) // equal scores → id 5
      .toDF("doc_id", "text", "ignore")
    val got = Dedup.keepBestExact(docs,
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")))
      .as[(String, Long, Long)].collect().toSeq
    val kept = got.map(r => r._2 -> r._3).toMap
    assert(kept == Map(2L -> 10L, 4L -> 11L, 5L -> 8L))
    // and the keep-first baseline disagrees exactly where scores differ
    val first = Dedup.exactDupGroups(docs).select("keep_id")
      .as[Long].collect().toSet
    assert(first == Set(1L, 4L, 5L))
  }
  test("pointer jumping crosses a deep chain in logarithmic rounds") {
    import spark.implicits._
    // a 100-node path (diameter 99): one-hop needs ~100 rounds, the
    // alternating propagate/jump schedule converges inside 20 -- and
    // both formulations agree with each other and the driver-UF rung
    val n = 100
    val nodes = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, i.toLong + 1))
      .toDF("id_a", "id_b")
    val jump = Dedup.connectedComponents(nodes, edges, maxIter = 20,
        driverUnionFindMaxEdges = 0L)
      .as[(Long, Long)].collect().toSeq
    assert(jump.forall(_._2 == 1L) && jump.length == n)
    // the pure one-hop formulation cannot cross it in 20 rounds -- and
    // fails LOUDLY (the maxIter law), never silently partial
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(nodes, edges, maxIter = 20,
        driverUnionFindMaxEdges = 0L, pointerJump = false)
    }
    // equivalence of all three paths on a shallow multi-component graph
    val nodes2 = (1 to 12).map(_.toLong).toDF("id")
    val edges2 = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L),
      (9L, 10L)).toDF("id_a", "id_b")
    val a = Dedup.connectedComponents(nodes2, edges2,
      driverUnionFindMaxEdges = 0L).as[(Long, Long)].collect().toSeq
    val b = Dedup.connectedComponents(nodes2, edges2,
        driverUnionFindMaxEdges = 0L, pointerJump = false)
      .as[(Long, Long)].collect().toSeq
    val c = Dedup.connectedComponents(nodes2, edges2)
      .as[(Long, Long)].collect().toSeq
    assert(a == b && b == c)
  }

  test("clusterSizeHistogram: singleton and pair buckets") {
    import spark.implicits._
    // docs 1+2 token-identical (jaccard 1.0 → one cluster of 2);
    // docs 3..5 mutually disjoint singletons. Buckets: ⌊log₂1⌋=0 with
    // 3 clusters / 3 docs, ⌊log₂2⌋=1 with 1 cluster / 2 docs.
    val d = Seq(
      (1L, "aa bb cc dd"), (2L, "aa bb cc dd"),
      (3L, "ee ff gg hh"), (4L, "ii jj kk ll"), (5L, "mm nn oo pp"))
      .toDF("doc_id", "text")
    val got = Dedup.clusterSizeHistogram(d, n = 3, threshold = 0.2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 3L, 3L), (1L, 1L, 2L)))
  }

  test("clusterCoherence: chain density below clique, weakest edge") {
    import spark.implicits._
    // docs 1/2 and 2/3 near-identical token streams (chain), 1/3 also
    // overlap → triangle? Use: 1="aa bb cc dd", 2="aa bb cc dd", 3=
    // "aa bb cc ee": 1-2 jaccard 1.0; 1-3/2-3: shingles {aa bb cc,
    // bb cc dd} vs {aa bb cc, bb cc ee} → 1/3 = 0.3333. All ≥ 0.2 →
    // one cluster of 3 with 3 edges (clique): density 1000, min 0.3333.
    // Plus a disjoint pair 4/5 (identical): density 1000, min 1.0.
    val d = Seq(
      (1L, "aa bb cc dd"), (2L, "aa bb cc dd"), (3L, "aa bb cc ee"),
      (4L, "ff gg hh ii"), (5L, "ff gg hh ii"),
      (6L, "zz yy xx ww"))
      .toDF("doc_id", "text")
    val got = Dedup.clusterCoherence(d, n = 3, threshold = 0.2)
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 3L, 0.3333, 1000L),
      (4L, 2L, 1L, 1.0, 1000L)))
  }

  test("copyFlowMatrix: direction survives the unordered fold") {
    import spark.implicits._
    // doc 1 (src a) is fully contained in doc 2 (src b): a→b flow.
    // doc 2 is NOT contained in doc 1 (2 has extra shingles).
    // doc 3 (src b) ⊂ doc 4 (src a): the reverse direction, once.
    // doc 5 (src c) disjoint.
    val d = Seq(
      (1L, "w1 w2 w3 w4", "a"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 wa wb wc", "b"),
      (3L, "z1 z2 z3 z4", "b"),
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 za zb zc", "a"),
      (5L, "q1 q2 q3 q4", "c"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.copyFlowMatrix(d, n = 3, minPermille = 600L,
        maxDf = Long.MaxValue)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    // (a,b): doc1(a) ⊂ doc2(b) → n_lo_in_hi 1; doc3(b) ⊂ doc4(a) →
    // n_hi_in_lo 1; net 0 — the two directions stay distinguishable
    assert(got == Seq(("a", "b", 1L, 1L, 0L)))
  }

  test("minhashAccuracyAudit: exact pair set, estimate within tolerance") {
    import spark.implicits._
    // docs 1/2: shingle sets {abc,bcd,cde,def} vs +{efg} → J = 4/5 =
    // 0.8 → 800000 q6, above the 0.2 threshold; doc 3 disjoint (no
    // pair); docs 1/4 share 1 of 7 union shingles → 142857 < threshold
    val d = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f g"),
      (3L, "x y z w v u"), (4L, "a b c q r s"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashAccuracyAudit(d, n = 3, numHashes = 64,
        threshold = 0.2, tolQ6 = 200000L)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3)) == Seq((1L, 2L, 800000L)))
    // the audit's own contract: the 64-hash estimate sits within ±0.2
    // of exact — deterministic for the fixed hash family, so pinnable
    assert(got.head._4)
  }

  test("prefix-filtered jaccard equals the exact uncapped join") {
    // near-dups, partial overlaps, disjoint docs, short docs — the
    // prefix candidates must lose NOTHING at any of several thresholds
    val d = docs(
      "a b c d e f g h", "a b c d e f g x", "a b c d y z w q",
      "p q r s t u v w", "p q r s t u v y", "m n o", "a b",
      "f g h a b c d e")
    for (t <- Seq(0.2, 0.5, 0.8)) {
      val exact = Dedup.jaccardPairs(d, n = 3, threshold = t,
        maxDf = Long.MaxValue).collect().map(_.toSeq).toSeq
      val pref = Dedup.jaccardPairsPrefix(d, n = 3, threshold = t)
        .collect().map(_.toSeq).toSeq
      assert(pref == exact, s"threshold=$t")
      assert(exact.nonEmpty || t > 0.5, s"fixture too weak at $t")
    }
  }

  test("jaccardAgainstHistoryPrefix: cross-side pairs only, equals the " +
      "exact new×hist filter of the symmetric join") {
    // docs 0/1 near-dups WITHIN the new side (must NOT emit), 4/5
    // near-dups WITHIN history (must NOT emit), 2↔4 and 0↔6 cross-side
    // near-dups (must emit), 3 unrelated
    val d = docs(
      "a b c d e f g h", "a b c d e f g x", "p q r s t u v w",
      "m n o j k l i z", "p q r s t u v y", "p q r s t u v k",
      "f g h a b c d e")
    val hist = Seq(4L, 5L, 6L).toDF("doc_id")
    val histIds = Set(4L, 5L, 6L)
    for (t <- Seq(0.2, 0.5)) {
      // expected: the symmetric exact join filtered to cross pairs,
      // re-keyed (new_id, hist_id) whichever side each id fell on
      val exact = Dedup.jaccardPairs(d, n = 3, threshold = t,
          maxDf = Long.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .collect {
          case (a, b, j) if !histIds(a) && histIds(b) => (a, b, j)
          case (a, b, j) if histIds(a) && !histIds(b) => (b, a, j)
        }.sortBy(r => (r._1, r._2)).toSeq
      val got = Dedup.jaccardAgainstHistoryPrefix(d, hist, n = 3,
          threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      assert(got == exact, s"threshold=$t")
      assert(exact.nonEmpty || t > 0.2, s"fixture too weak at $t")
      // no within-side pair may ever appear
      assert(got.forall { case (n2, h, _) => !histIds(n2) && histIds(h) })
    }
  }

  test("jaccardAgainstHistoryIndexed: equals the in-plan form under the " +
      "frozen order, and the candidate join reads the index bucketed") {
    val d = docs(
      "a b c d e f g h", "a b c d e f g x", "p q r s t u v w",
      "m n o j k l i z", "p q r s t u v y", "p q r s t u v k",
      "f g h a b c d e")
    val hist = Seq(4L, 5L, 6L).toDF("doc_id")
    val direct = Dedup.jaccardAgainstHistoryPrefix(d, hist, n = 3,
        threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val viaIndex = Dedup.jaccardAgainstHistoryIndexed(d, hist, n = 3,
      threshold = 0.2, indexTable = "spec_neardup_index", buckets = 4)
    val got = viaIndex
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    // lossless under ANY shared total order: the frozen history-df
    // order may propose different candidates, never different output
    assert(got == direct)
    assert(got.nonEmpty)
    // the persisted index is read bucket-aware — no exchange on that
    // side of the candidate join
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), plan.take(1500))
  }

  test("neardupIndexAppend: detection after append equals the " +
      "from-scratch prefix form over the union history — losslessness " +
      "survives maintenance under the frozen order") {
    // hist0 = {4,5}, appended drop = {6}, query drop = {0,1,2,3}:
    // 0↔6 cross near-dup must be FOUND VIA THE APPENDED postings (6 is
    // not in the build census), 2↔4 via the built ones; 0/1 within-drop
    // near-dups must not emit
    val d = docs(
      "a b c d e f g h", "a b c d e f g x", "p q r s t u v w",
      "m n o j k l i z", "p q r s t u v y", "p q r s t u v k",
      "f g h a b c d e")
    val hist0 = Seq(4L, 5L).toDF("doc_id")
    val drop1 = Seq(6L).toDF("doc_id")
    val newIds = Seq(0L, 1L, 2L, 3L).toDF("doc_id")
    Dedup.neardupIndexBuild(d, hist0, "spec_lifecycle_index", n = 3,
      threshold = 0.2, buckets = 4)
    Dedup.neardupIndexAppend(d, drop1, "spec_lifecycle_index", n = 3,
      threshold = 0.2, buckets = 4)
    val viaIndex = Dedup.jaccardAgainstIndex(d, newIds,
      "spec_lifecycle_index", n = 3, threshold = 0.2)
    val got = viaIndex
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val direct = Dedup.jaccardAgainstHistoryPrefix(d,
        Seq(4L, 5L, 6L).toDF("doc_id"), n = 3, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got == direct)
    // both the built AND the appended posting generations participate
    assert(got.exists(_._2 == 6L), s"appended postings unused: $got")
    assert(got.exists(_._2 == 4L), s"built postings unused: $got")
    // the appended table still reads bucketed (one more file per
    // bucket, same spec — the exchange-free join survives maintenance)
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), plan.take(1500))
  }

  test("neardupIndexCompact: file generations collapse, detection " +
      "output invariant (layout-only)") {
    val d = docs(
      "a b c d e f g h", "a b c d e f g x", "p q r s t u v w",
      "m n o j k l i z", "p q r s t u v y", "p q r s t u v k",
      "f g h a b c d e")
    Dedup.neardupIndexBuild(d, Seq(4L, 5L).toDF("doc_id"),
      "spec_compact_index", n = 3, threshold = 0.2, buckets = 4)
    Dedup.neardupIndexAppend(d, Seq(6L).toDF("doc_id"),
      "spec_compact_index", n = 3, threshold = 0.2, buckets = 4)
    val newIds = Seq(0L, 1L, 2L, 3L).toDF("doc_id")
    val before = Dedup.jaccardAgainstIndex(d, newIds,
        "spec_compact_index", n = 3, threshold = 0.2)
      .collect().map(_.toSeq).toSeq
    def dataFiles(): Int = {
      val loc = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst
          .TableIdentifier("spec_compact_index")).location
      new java.io.File(loc.getPath).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
    }
    val genFiles = dataFiles()
    Dedup.neardupIndexCompact(spark, "spec_compact_index", buckets = 4)
    val compacted = dataFiles()
    // two write generations collapse to one: at most one file per
    // bucket afterwards, strictly fewer files than before
    assert(compacted < genFiles, s"$compacted vs $genFiles")
    assert(compacted <= 4, s"$compacted files for 4 buckets")
    val after = Dedup.jaccardAgainstIndex(d, newIds,
        "spec_compact_index", n = 3, threshold = 0.2)
      .collect().map(_.toSeq).toSeq
    assert(after == before)
    assert(after.nonEmpty)
  }

  test("jaccardAgainstIndexAuto: the drift rule routes — fresh index " +
      "detects WITHOUT a rebuild, drifted index rebuilds the frozen " +
      "census, output exact either way") {
    val d = Seq((10L, "a b"), (11L, "a c"), (12L, "a b d"),
      (13L, "a b e")).toDF("doc_id", "text")
    def frozenDf() = spark.table("spec_auto_index_df")
      .as[(String, Long)].collect().toMap
    // fresh build over {10,11}: drift 0 → no rebuild, requalified=false
    Dedup.neardupIndexBuild(d, Seq(10L, 11L).toDF("doc_id"),
      "spec_auto_index", n = 1, threshold = 0.2, buckets = 2)
    val fresh = Dedup.jaccardAgainstIndexAuto(d, Seq(12L).toDF("doc_id"),
        "spec_auto_index", n = 1, threshold = 0.2)
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    // 12="a b d" vs 10="a b": 2/3; vs 11="a c": 1/4
    assert(fresh == Seq((12L, 10L, 0.6667, false), (12L, 11L, 0.25, false)))
    assert(frozenDf() == Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
    // append {12} → hand drift 750‰ > 200‰ → the detect call REBUILDS:
    // the frozen census must now equal the current df of {10,11,12}
    Dedup.neardupIndexAppend(d, Seq(12L).toDF("doc_id"),
      "spec_auto_index", n = 1, threshold = 0.2, buckets = 2)
    val auto = Dedup.jaccardAgainstIndexAuto(d, Seq(13L).toDF("doc_id"),
        "spec_auto_index", n = 1, threshold = 0.2)
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    // 13="a b e" vs 10="a b": 2/3; vs 11="a c": 1/4; vs 12="a b d": 2/4
    assert(auto == Seq((13L, 10L, 0.6667, true), (13L, 11L, 0.25, true),
      (13L, 12L, 0.5, true)))
    assert(frozenDf() ==
      Map("a" -> 3L, "b" -> 2L, "c" -> 1L, "d" -> 1L))
  }

  test("neardupIndexStaleness: hand-computed census drift, and zero " +
      "drift right after a build") {
    // n=1 shingles for hand arithmetic: hist {10:"a b", 11:"a c"} →
    // frozen census a:2 b:1 c:1 (3 items, 4 postings); append
    // {12:"a b d"} → current census over {10,11,12}: a:3 b:2 c:1 d:1
    // (7 postings) → drift |3-2|+|2-1|+|1-1|+|1-0| = 3, 3000 div 4 =
    // 750‰ > 200‰ → requalify
    val d = Seq((10L, "a b"), (11L, "a c"), (12L, "a b d"))
      .toDF("doc_id", "text")
    Dedup.neardupIndexBuild(d, Seq(10L, 11L).toDF("doc_id"),
      "spec_stale_index", n = 1, threshold = 0.2, buckets = 2)
    val fresh = Dedup.neardupIndexStaleness(d, "spec_stale_index", n = 1)
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().head
    assert(fresh == ((3L, 0L, 4L, 4L, 0L, 0L, false)))
    Dedup.neardupIndexAppend(d, Seq(12L).toDF("doc_id"),
      "spec_stale_index", n = 1, threshold = 0.2, buckets = 2)
    val stale = Dedup.neardupIndexStaleness(d, "spec_stale_index", n = 1)
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().head
    assert(stale == ((3L, 1L, 4L, 7L, 3L, 750L, true)))
  }

  test("weightedJaccardPairs: boilerplate cannot decide similarity") {
    // every doc opens with the same "x y z" shingle (df = N → idf 0);
    // d1/d2 share ONLY that — weighted score 0, pair excluded — while
    // d3/d4 share three rare shingles: idf(df=2) = round(1000·ln 2) =
    // 693, idf(df=1) = 1386 → sw = 3·693 = 2079, tw = 3·693 + 1386 =
    // 3465 each → 2079e6 div 4851 = 428571
    val d = Seq(
      (1L, "x y z a b c"), (2L, "x y z d e f"),
      (3L, "x y z p q r s"), (4L, "x y z p q r t"))
      .toDF("doc_id", "text")
    val got = Dedup.weightedJaccardPairs(d, n = 3,
        thresholdQ6 = 150000L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((3L, 4L, 428571L)))
  }

  test("weightedJaccardEvidence: rarest shared shingles in rank order") {
    // same fixture as the boilerplate-law test: d3/d4 share three
    // idf-693 shingles (and the idf-0 boilerplate, which cannot make
    // the evidence) → lexicographic among equals
    val d = Seq(
      (1L, "x y z a b c"), (2L, "x y z d e f"),
      (3L, "x y z p q r s"), (4L, "x y z p q r t"))
      .toDF("doc_id", "text")
    val got = Dedup.weightedJaccardEvidence(d, n = 3,
        thresholdQ6 = 150000L, topE = 3)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq((3L, 4L, 428571L, "p q r,y z p,z p q")))
  }

  test("lshParamPlan: (4,2) row matches the squaring-chain replay") {
    // replay the exact double chain the operator promises: s = i/128,
    // powers by explicit squaring, per-point q6 round, integer sum
    var fp = 0L; var fn = 0L
    for (i <- 1 to 127) {
      val s = i / 128.0; val s2 = s * s
      val u = 1.0 - s2; val u2 = u * u; val u4 = u2 * u2
      if (s < 0.5) fp += math.round((1.0 - u4) * 1000000)
      else fn += math.round(u4 * 1000000)
    }
    val rows = Dedup.lshParamPlan(spark)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length == 12)
    val r42 = rows.find(r => r._1 == 4L && r._2 == 2L).get
    assert(r42 == ((4L, 2L, 8L, fp, fn, fp + fn)))
  }

  test("lshParamPlan: more bands = more capture (fp up, fn down)") {
    val rows = Dedup.lshParamPlan(spark)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    for (r <- Seq(2L, 4L, 8L)) {
      val byBands = rows.filter(_._2 == r).sortBy(_._1)
      assert(byBands.map(_._4).sliding(2).forall(p => p(0) <= p(1)),
        s"fp not monotone in bands at rpb=$r")
      assert(byBands.map(_._5).sliding(2).forall(p => p(0) >= p(1)),
        s"fn not monotone in bands at rpb=$r")
      assert(byBands.forall(x => x._3 == x._1 * x._2 &&
        x._6 == x._4 + x._5))
    }
    // sorted by total error: first row is the planner's pick
    assert(rows.map(_._6).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("normalizationSensitivity: dup mass grows monotonically with " +
      "canonicalization strength") {
    val docs = Seq(
      (1L, "Hello World"),
      (2L, "hello world"),     // dup of 1 only under lowercasing
      (3L, "hello   world "),  // dup of 2 only under ws-collapse
      (4L, "something else"))
      .toDF("doc_id", "text")
    val got = Dedup.normalizationSensitivity(docs)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq("1_raw", "2_lower", "3_collapse_ws",
      "4_lower_collapse"))
    assert(got.map(_._2).forall(_ == 4L))
    // raw: all distinct; lower merges {1,2}; collapse alone merges
    // {2,3} (they differ only in whitespace); composed merges {1,2,3}
    assert(got.map(_._4) == Seq(0L, 2L, 2L, 3L))
    assert(got.map(_._3) == Seq(4L, 3L, 3L, 2L))
    assert(got.map(_._5) == Seq(0L, 500L, 500L, 750L))
  }

  test("keepPolicyComparison: same survivor count, policy-specific " +
      "preserved mass") {
    // one dup group {1, 2, 3} (same normalized text, different casing /
    // whitespace so n_chars differ) + a singleton
    val docs = Seq(
      (1L, "Hello World", 11L),
      (2L, "hello   world", 13L),
      (3L, "HELLO WORLD", 11L),
      (4L, "solo document here", 18L))
      .toDF("doc_id", "text", "n_chars")
    val got = Dedup.keepPolicyComparison(docs)
      .as[(String, Long, Long, Long)].collect().toSeq
    // every policy keeps 2 rows (group survivor + singleton)
    assert(got.map(_._1) == Seq("1_first", "2_longest",
      "3_best_quality"))
    assert(got.map(_._2).forall(_ == 2L))
    // keep-first keeps doc 1 (11 chars); keep-longest keeps doc 2 (13)
    assert(got(0)._3 == 11L + 18L)
    assert(got(1)._3 == 13L + 18L)
    // ties on quality fall back to smallest doc_id: same as keep-first
    // here (all group members score identically on this fixture)
    assert(got(2)._3 == got(0)._3 && got(2)._4 == got(0)._4)
  }

  test("dupThresholdSweep: dense monotone curve, exact dups at 1000‰, " +
      "agreement with jaccardPairs at the low end") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),        // exact dup of 1
      (3L, "alpha beta gamma delta epsilon eta theta"),   // near dup of 1
      (4L, "one two three four five six seven eight"))    // unrelated
      .toDF("doc_id", "text")
    val got = Dedup.dupThresholdSweep(docs, n = 3,
        thresholdsPm = Seq(200, 500, 999, 1000))
      .as[(Int, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(200, 500, 999, 1000))
    // n_pairs and n_docs both nonincreasing in the threshold
    assert(got.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
    assert(got.map(_._3).sliding(2).forall(p => p(0) >= p(1)))
    // the exact-dup pair (1,2) survives every threshold up to 1000‰
    assert(got.last == ((1000, 1L, 2L)))
    // at the lowest threshold the sweep counts exactly the
    // jaccardPairs(0.2) pair set
    val exact = Dedup.jaccardPairs(docs, n = 3, threshold = 0.2).count()
    assert(got.head._2 == exact)
  }

  test("dupThresholdSweep emits zero rows for unreached thresholds") {
    val docs = Seq(
      (1L, "aa bb cc dd ee"),
      (2L, "vv ww xx yy zz"))
      .toDF("doc_id", "text")
    val got = Dedup.dupThresholdSweep(docs, n = 3,
        thresholdsPm = Seq(100, 900))
      .as[(Int, Long, Long)].collect().toSeq
    assert(got == Seq((100, 0L, 0L), (900, 0L, 0L)))
  }

  test("a maxDf below 1 is rejected with the value in the message") {
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardPairs(docs("a b c d", "a b c e"), maxDf = 0)
    }
    assert(e.getMessage.contains("got 0"), e.getMessage)
  }

  test("the postings census's consumers agree on a seeded corpus") {
    val d = docs(minhashCorpus(3L): _*)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    val sweep = Dedup.dupThresholdSweep(d, n = 3,
        thresholdsPm = Seq(200, 500, 800), maxDf = 1000L)
      .as[(Int, Long, Long)].collect().toSeq
    for ((t, nPairs, _) <- sweep) {
      val exact = Dedup.jaccardPairs(d, n = 3, threshold = t / 1000.0,
        maxDf = 1000L).count()
      assert(nPairs == exact, s"t=$t")
    }
    assert(sweep.head._2 > sweep.last._2 && sweep.last._2 > 0, sweep)
    val audit = Dedup.minhashAccuracyAudit(d, n = 3, threshold = 0.2,
      maxDf = 1000L)
    val exact = pairs(Dedup.jaccardPairs(d, n = 3, threshold = 0.2,
      maxDf = 1000L))
    assert(exact.nonEmpty && pairs(audit) == exact)
    val weighted = Dedup.weightedJaccardPairs(d, n = 3)
      .as[(Long, Long, Long)].collect().toSeq
    val evidence = Dedup.weightedJaccardEvidence(d, n = 3)
      .select("id_a", "id_b", "wjacc_q6").as[(Long, Long, Long)]
      .collect().toSeq
    assert(weighted.nonEmpty && evidence == weighted)
  }
}
