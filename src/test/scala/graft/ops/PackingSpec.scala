package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.{expr, size}

class PackingSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("pack assignment equals the sequential concat-and-chunk reference") {
    val rnd = new scala.util.Random(11L)
    val texts = (0 until 60).map(_ =>
      Seq.fill(1 + rnd.nextInt(12))("w").mkString(" "))
    val got = Packing.packAssignments(docs(texts: _*), budget = 16)
      .as[(Long, Long, Long)].collect().toSeq
    var cum = 0L
    val want = texts.zipWithIndex.map { case (t, i) =>
      val n = t.split(" ").length.toLong
      val r = (i.toLong, n, cum / 16)
      cum += n
      r
    }
    assert(got == want)
  }

  test("assignment is invariant to the prefix-sum partition count") {
    val texts = (0 until 40).map(i => Seq.fill(1 + i % 7)("w").mkString(" "))
    def run(parts: Int) =
      withConfs(Map("spark.sql.shuffle.partitions" -> parts.toString)) {
        Packing.packAssignments(docs(texts: _*), budget = 10)
          .as[(Long, Long, Long)].collect().toSeq
      }
    // width 1, below the session's core count: the scan itself
    val one = Layout.prefixScan(
        docs(texts: _*).select($"doc_id",
          size(Text.tokens($"text")).cast("long").as("n_tokens")),
        None, Seq("doc_id"), Some("n_tokens"), Math.addExact(_, _),
        "test", 1)._1
      .select($"doc_id", $"n_tokens",
        expr(s"coalesce(${Layout.prevCol}, 0L) div 10L"))
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(one == run(3))
    assert(run(3) == run(13))
  }

  test("documents spanning a chunk boundary take the pack of their first token") {
    // budget 5; docs of 3 tokens each: starts 0,3,6,9 -> packs 0,0,1,1
    val r = Packing.packAssignments(docs("a b c", "a b c", "a b c", "a b c"),
      budget = 5).as[(Long, Long, Long)].collect().map(_._3).toSeq
    assert(r == Seq(0L, 0L, 1L, 1L))
  }

  test("empty corpus packs to an empty result") {
    assert(Packing.packAssignments(docs(), budget = 8).count() == 0L)
  }

  test("packContaminationCensus counts mixed-source/lang windows") {
    // budget 5, 3-token docs -> packs of 2 docs: (0,1), (2,3)
    // pack 0 mixes two sources one lang; pack 1 is pure
    val df = Seq(
      (0L, "a b c", "s1", "en"), (1L, "a b c", "s2", "en"),
      (2L, "a b c", "s1", "en"), (3L, "a b c", "s1", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val got = Packing.packContaminationCensus(df, budget = 5)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 1L, 2L), (2L, 1L, 1L, 2L)))
  }
}
