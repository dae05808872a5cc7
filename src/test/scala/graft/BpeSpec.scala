package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Bpe

/** BPE merge learning (ops.Bpe): the Sennrich worked example, rewrite
  * edge cases, early stop, and the reliable-checkpoint path. */
class BpeSpec extends AnyFunSuite with SparkSuite {

  private def learn(text: Seq[String], k: Int): Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    Bpe.learnMerges(text.toDF("text"), "text", k)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
  }

  test("learns the hand-computed merges on a tiny weighted corpus") {
    // corpus: "aa ab aa" + "aa" → words: aa×3, ab×1
    // pairs: (a,a)×3, (a,</w>)×3+... compute:
    //   aa → [a,a,</w>]: (a,a)×3, (a,</w>)×3; ab → [a,b,</w>]: (a,b), (b,</w>)
    // step1: (a,a) w=3 ties (a,</w>) w=3 → lexical tie-break: '</w>' < 'a'
    //   (ASCII '<' 0x3c < 'a' 0x61) so (a,</w>) wins
    val got = learn(Seq("aa ab aa", "aa"), 2)
    assert(got(0) == ((1, "a", "</w>", 3L)))
    // after merge 1: aa → [a, a</w>]; ab → [a, b, </w>]
    // step2 pairs: (a, a</w>)×3, (a,b)×1, (b,</w>)×1 → (a, a</w>) w=3
    assert(got(1) == ((2, "a", "a</w>", 3L)))
  }

  test("rewrite is left-to-right non-overlapping") {
    assert(Bpe.applyMerge(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(Bpe.applyMerge(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(Bpe.applyMerge(Seq("b", "a", "a"), "a", "a") == Seq("b", "aa"))
  }

  test("encodeWord applies the merge list in order") {
    val merges = Seq(("e", "r"), ("er", "</w>"), ("l", "o"))
    assert(Bpe.encodeWord("lower", merges) == Seq("lo", "w", "er</w>"))
  }

  test("stops early when no pairs remain") {
    // single 1-char word: syms [x, </w>] → one pair, then [x</w>] → none
    val got = learn(Seq("x"), 5)
    assert(got == Seq((1, "x", "</w>", 1L)))
  }

  test("tokenCounts accounts tokens per doc through the distinct-word path") {
    import spark.implicits._
    val docs = Seq(
      (1L, "low lower low"),
      (2L, "lowest"),
      (3L, ""),
    ).toDF("doc_id", "text")
    val merges = Seq(("l", "o"), ("lo", "w"), ("low", "</w>"))
    // low → [low</w>] (1); lower → [low, e, r, </w>] (4); lowest → 5
    val got = Bpe.tokenCounts(docs, "doc_id", "text", merges)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    // doc 3 has no words → no row (matches the oracle's inner join)
    assert(got == Seq((1L, 3L, 6L), (2L, 1L, 5L)))
  }

  test("reliable checkpoint path matches default") {
    def merges(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      val docs = Seq("the fast query the fast scan").toDF("text")
      Bpe.learnMerges(docs, "text", 3).collect().toSeq.map(_.toString)
    }
    val want = merges(spark)
    val got = merges(checkpointedSession())
    assert(got == want)
  }
}
