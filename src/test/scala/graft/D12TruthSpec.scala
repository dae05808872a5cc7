package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedupe
import graft.queries.DedupeQueries

/** r21 optimization pin (supersedes r20's SizeFilterSpec, which replayed
  * a copy of the pipeline instead of the production code — ADVICE r20):
  * d12's ground truth is now the broadcast probe loop with the length
  * band (5·min ≥ 4·max) and the exact sorted-merge Jaccard in the join
  * condition (DedupeQueries.d12TruthPairs). Both layers must be EXACT:
  *
  *  1. the production truth table must EQUAL the unfiltered exhaustive
  *     gram-join replay row for row (a pair with inter ≤ min(pn,cn)
  *     can only reach jaccard ≥ 0.8 inside the size band, so the band
  *     drops nothing; the merge-walk kernel must count the same
  *     intersection the gram join counts);
  *  2. the jaccard3Sorted kernel must agree with the hash-set jaccard3
  *     under its sorted-input contract, including the empty-set edge.
  *
  * A future threshold change that forgets to re-derive the size band
  * breaks this spec, not the recall audit's meaning. The spec calls the
  * PRODUCTION builder, so the pinned bounds are the shipped ones. */
class D12TruthSpec extends AnyFunSuite with SparkSuite {

  private val P = 100

  private def shingleTable = spark.read
    .parquet("/root/testdata/sf0.01/documents.parquet")
    .select(col("doc_id"), Dedupe.shingles3(col("text")).as("sh"))
    .localCheckpoint(true)

  /** The unfiltered exhaustive replay: every (probe, corpus) gram match
    * counted, jaccard tested on the counts — no prefix, no size band. */
  private def exhaustive(sh: org.apache.spark.sql.DataFrame) = {
    val pex = sh.filter(col("doc_id") < P)
      .select(col("doc_id").as("probe_id"), size(col("sh")).as("pn"),
        explode(col("sh")).as("g"))
    val cex = sh.select(col("doc_id"), size(col("sh")).as("cn"),
      explode(col("sh")).as("g"))
    cex.join(broadcast(pex), "g")
      .where(col("doc_id") =!= col("probe_id"))
      .groupBy("probe_id", "doc_id")
      .agg(count(lit(1)).as("inter"), max(col("pn")).as("pn"),
        max(col("cn")).as("cn"))
      .where(col("inter") * 5 >= (col("pn") + col("cn") - col("inter")) * 4)
      .select(col("probe_id"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("jaccard3_sorted agrees with jaccard3 on sorted fixture arrays") {
    import graft.functions.NativeExpressions
    val sh = shingleTable
    // every (probe, corpus) pair on a 40-doc slice: 1600 comparisons
    // spanning empty sets, identical sets, and disjoint sets
    val a = sh.filter(col("doc_id") < 40)
      .select(col("doc_id").as("ia"), array_sort(col("sh")).as("sa"))
    val b = sh.filter(col("doc_id") < 40)
      .select(col("doc_id").as("ib"), array_sort(col("sh")).as("sb"))
    val rows = a.crossJoin(b)
      .select(
        NativeExpressions.jaccard3Sorted(col("sa"), col("sb")).as("m"),
        NativeExpressions.jaccard3(col("sa"), col("sb")).as("h"),
        NativeExpressions.interSorted(col("sa"), col("sb")).as("i"),
        size(array_intersect(col("sa"), col("sb"))).as("ib"))
      .collect()
    assert(rows.length == 1600)
    rows.foreach { r =>
      val (m, h) = (r.getDouble(0), r.getDouble(1))
      assert(m == h || (m.isNaN && h.isNaN), s"merge=$m hash=$h")
      // the raw count kernel (d17's verify) against the built-in
      assert(r.getInt(2) == r.getInt(3), s"inter=${r.getInt(2)} builtin=${r.getInt(3)}")
    }
  }

  test("production truth table equals the unfiltered exhaustive replay") {
    import spark.implicits._
    // two texts under 3 codepoints have no shingles, one of them a probe
    // (id < P): the Jaccard of two empty sets is NaN, NaN >= 0.8 holds
    // in Spark, and the replay never pairs them
    val short = Seq((-1L, "ab"), (1000000000L, "x")).toDF("doc_id", "text")
      .select(col("doc_id"), Dedupe.shingles3(col("text")).as("sh"))
    val sh = shingleTable.unionByName(short)
    val prod = DedupeQueries.d12TruthPairs(sh, P)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val replay = exhaustive(sh)
    assert(prod == replay,
      s"truth set drifted: only-production=${prod -- replay}, " +
        s"missing=${replay -- prod}")
    assert(replay.nonEmpty, "fixture produced no truth pairs — vacuous")
  }
}
