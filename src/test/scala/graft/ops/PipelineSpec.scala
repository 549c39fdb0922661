package graft.ops

import graft.SparkSpec

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("prepareCorpus: dedups, gates quality, accounts exactly") {
    val good1 = ("the cat sat on a mat and it is big for now " * 2).trim
    val good2 = ("a dog ran to the park and it was fun in sun " * 2).trim
    val docs = Seq(
      1L -> good1,
      2L -> good1,                              // exact dup: higher id drops
      3L -> "short text here",                  // < 20 tokens: drops
      4L -> Seq.fill(25)("zebra").mkString(" "), // no stopwords: drops
      5L -> good2
    ).toDF("doc_id", "text")
    val r = Pipeline.prepareCorpus(docs).collect()
    // split assignment is md5-bucketed, so assert over ALL splits: the two
    // surviving docs (1 and 5) carry 24 whitespace tokens each
    assert(r.map(_.getAs[Long]("n_docs")).sum == 2L)
    assert(r.map(_.getAs[Long]("total_tokens")).sum == 48L)
    assert(r.length <= 3 && r.map(_.getAs[String]("split")).distinct.length == r.length)
  }

  test("prepareCorpusNearDup: near-identical (not byte-equal) docs collapse") {
    val a1 = "the quick brown fox jumps over a lazy dog and it is near " +
      "the old river bank for fun today"                   // 20 toks, 7 stops
    val a2 = a1.stripSuffix(" today")                      // near-dup of a1
    val b = "it is a fine day and the sun shines over the tall green " +
      "hills for everyone to enjoy in peace"               // 20 toks, 9 stops
    val docs = Seq(0L -> a1, 1L -> a2, 2L -> b).toDF("doc_id", "text")
    val r = Pipeline.prepareCorpusNearDup(docs).collect()
    // {a1, a2} is one Jaccard cluster → rep a1 (min id); b is a singleton;
    // exact dedup would have kept a2 too — that's the difference this
    // variant exists for
    assert(r.map(_.getAs[Long]("n_docs")).sum == 2L)
    assert(r.map(_.getAs[Long]("total_tokens")).sum == 40L)
  }

  test("prepareCorpusWithPairs: a MinHash proposer plugs into the same tail") {
    val a1 = "the quick brown fox jumps over a lazy dog and it is near " +
      "the old river bank for fun today"
    val a2 = a1.stripSuffix(" today")
    val b = "it is a fine day and the sun shines over the tall green " +
      "hills for everyone to enjoy in peace"
    val docs = Seq(0L -> a1, 1L -> a2, 2L -> b).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, n = 3, numHashes = 32, bands = 16,
      threshold = 0.2).persist()
    var viaMinhash = Array.empty[org.apache.spark.sql.Row]
    try {
      assert(pairs.count() == 1L)
      // one bounded collect of the persisted pairs feeds the union-find;
      // the other jobs are the accounting query's
      val jobs = jobsOf {
        viaMinhash = Pipeline.prepareCorpusWithPairs(docs, pairs).collect()
      }
      assert(jobs == 4, s"$jobs jobs")
    } finally spark.catalog.clearCache()
    // the scale-path proposer reaches the same accounting as the exact one
    assert(viaMinhash.map(_.getAs[Long]("n_docs")).sum == 2L)
    assert(viaMinhash.map(_.getAs[Long]("total_tokens")).sum == 40L)
  }

  test("prepareCorpusWithPairs: documents with a null doc_id are dropped") {
    val a1 = "the quick brown fox jumps over a lazy dog and it is near " +
      "the old river bank for fun today"
    val a2 = a1.stripSuffix(" today")
    val b = "it is a fine day and the sun shines over the tall green " +
      "hills for everyone to enjoy in peace"
    val c = "a man and a dog walk to the shop in town for bread and it " +
      "is a long way for them"                             // 21 toks, passes
    val docs = Seq(Some(0L) -> a1, Some(1L) -> a2, Some(2L) -> b,
      None -> c, None -> a2).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L)).toDF("id_a", "id_b")
    val r = Pipeline.prepareCorpusWithPairs(docs, pairs).collect()
    // only the non-null ids 0 and 2 survive: a null id is never a
    // component's representative, whether or not its text pairs
    assert(r.map(_.getAs[Long]("n_docs")).sum == 2L)
    assert(r.map(_.getAs[Long]("total_tokens")).sum == 40L)
  }

  test("prepareCorpus: keeps the LOWEST doc_id of a dup group") {
    val text = ("the cat sat on a mat and it is big for now " * 2).trim
    val docs = Seq(7L -> text, 3L -> text, 9L -> text).toDF("doc_id", "text")
    // doc 3 survives; its md5 split bucket is deterministic, so exactly
    // one split row with one doc
    val r = Pipeline.prepareCorpus(docs).collect()
    assert(r.length == 1 && r.head.getAs[Long]("n_docs") == 1L)
  }

  test("curationFunnel: dedup keeps the longest variant, span gate drops " +
    "mostly-recycled docs") {
    val shared = "w1 w2 w3 w4 w5 w6"
    val docs = Seq(
      (1L, "the cat"), (2L, "THE  CAT  "),       // dups; 2 is longer
      (3L, s"$shared a b c d e f g h"),           // <50% recycled: kept
      (4L, s"$shared x"),                         // 6/7 recycled: dropped
      (5L, s"$shared y"))                         // 6/7 recycled: dropped
      .toDF("doc_id", "text")
    val got = Pipeline.curationFunnel(docs, n = 5)
      .as[(String, Long, Long)].collect().toSeq
    // raw: 5 docs, 2+2+14+7+7 = 32 tokens; dedup drops doc 1 (2 wins on
    // length); span: docs 4/5 share w1..w6 with 3 → >50% covered → out;
    // doc 3 is 6/14 covered → kept
    assert(got == Seq(
      ("1_raw", 5L, 32L),
      ("2_dedup", 4L, 30L),
      ("3_spanclean", 2L, 16L)))
  }

  test("curationFunnelBySource: per-source attribution sums to the funnel") {
    val shared = "w1 w2 w3 w4 w5 w6"
    val docs = Seq(
      (1L, "the cat", "sA"), (2L, "THE  CAT  ", "sB"),
      (3L, s"$shared a b c d e f g h", "sA"),
      (4L, s"$shared x", "sB"), (5L, s"$shared y", "sB"))
      .toDF("doc_id", "text", "source")
    val got = Pipeline.curationFunnelBySource(docs, n = 5)
      .as[(String, Long, Long, Long)].collect().toSeq
    // sA: raw 2 (1, 3) — doc 1 loses the dedup to sB's longer doc 2 —
    // dedup 1, clean 1; sB: raw 3, dedup 3, clean 1 (docs 4/5 recycled)
    assert(got == Seq(("sA", 2L, 1L, 1L), ("sB", 3L, 3L, 1L)))
    // attribution sums to the unattributed funnel's stage counts
    val funnel = Pipeline.curationFunnel(docs, n = 5)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(got.map(_._2).sum == funnel("1_raw"))
    assert(got.map(_._3).sum == funnel("2_dedup"))
    assert(got.map(_._4).sum == funnel("3_spanclean"))
  }

  test("cureAndMix: each stage's drop is visible in the manifest totals") {
    import org.apache.spark.sql.functions.col
    // corpus: 1 and 2 are exact dups (keep-best keeps the longer 2);
    // 3 contains the benchmark doc verbatim (decontaminated away);
    // 4 and 5 survive to the gate, which at vote >= 3 (minimum) keeps
    // both → manifest = the split cells of {2, 4, 5}
    val corpus = Seq(
      (1L, "the quick brown fox jumps over it", "s1"),
      (2L, "The  quick brown fox jumps over it ", "s1"), // dup, longer
      (3L, "padding eval question one two three four five end", "s2"),
      (4L, "genuine content with the usual words in it", "s1"),
      (5L, "another clean document of fresh text here", "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(col("text")))
    val bench = Seq((99L, "eval question one two three four five"))
      .toDF("doc_id", "text")
    val got = Pipeline.cureAndMix(corpus, bench, n = 3,
        minPermille = 900L, buckets = 2, minVote = 3L)
      .as[(String, String, Long, Long)].collect().toSeq
    // totals: docs 2, 4, 5 (doc 1 deduped away, doc 3 decontaminated)
    assert(got.map(_._3).sum == 3L)
    val bySource = got.groupBy(_._2).view.mapValues(_.map(_._3).sum)
    assert(bySource("s1") == 2L && bySource("s2") == 1L)
    // and a harsher gate (vote >= the max) drops more
    val strict = Pipeline.cureAndMix(corpus, bench, n = 3,
        minPermille = 900L, buckets = 2, minVote = 6L)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(strict.map(_._3).sum < 3L)
  }

  test("lineageManifest: stages shrink monotonically, identical input " +
      "reproduces identical checksums, a changed selection changes them") {
    val prose = "the cat and the dog sat in the yard of the house " +
      "and it was a fine day for everyone to see it all"
    val docs = (1L to 30L).map(i =>
      (i, if (i <= 2) prose // docs 1 and 2 are exact dups
          else prose + s" extra$i"))
      .toDF("doc_id", "text")
    val a = Pipeline.lineageManifest(docs)
      .as[(String, Long, String)].collect().toSeq
    assert(a.map(_._1) == Seq("1_raw", "2_dedup", "3_quality",
      "4_train"))
    // monotone funnel: each stage keeps a subset
    assert(a.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
    assert(a(0)._2 == 30L && a(1)._2 == 29L) // one dup collapsed
    // determinism: the same input yields the identical manifest
    val b = Pipeline.lineageManifest(docs)
      .as[(String, Long, String)].collect().toSeq
    assert(a == b)
    // a different selection (one doc swapped) changes the raw checksum
    val docs2 = docs.filter($"doc_id" =!= 30L)
      .unionByName(Seq((31L, prose + " extra31")).toDF("doc_id", "text"))
    val c = Pipeline.lineageManifest(docs2)
      .as[(String, Long, String)].collect().toSeq
    assert(c(0)._2 == 30L && c(0)._3 != a(0)._3)
  }
}
