package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** T-family: byte-pair-encoding merge learning (Sennrich et al., ACL 2016
  * — the subword tokenizer trained before any LLM pretraining run).
  *
  * Scale design: the corpus collapses to its WORD FREQUENCY TABLE first —
  * one partial-agg'd groupBy over the raw text, the only corpus-sized
  * shuffle — and the merge loop then runs entirely over that vocabulary
  * table: per merge, one vocabulary-sized pair count (map-side combined),
  * one O(1) argmax collect, one vocabulary-sized rewrite. A 100 TB corpus
  * has a bounded surface vocabulary (~10^7–10^8 forms), so each of the k
  * iterations costs vocab work, not corpus work — the corpus-once /
  * state-many-times shape of [[PageRank]]. Per-iteration state is
  * checkpoint-materialized so lineage stays flat across hundreds of
  * merges.
  *
  * Determinism: pair selection orders by (count DESC, left, right); the
  * rewrite is left-to-right non-overlapping. No hash-iteration order
  * anywhere, so the learned merge table is engine-reproducible — the t13
  * oracle replays the whole loop level by level in SQL.
  */
object Bpe {

  val EndOfWord = "</w>"

  /** One left-to-right non-overlapping merge pass over a symbol sequence. */
  private[graft] def applyMerge(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Encode one word with a learned merge list (inference path). */
  private[graft] def encodeWord(w: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms: Seq[String] = w.map(_.toString) :+ EndOfWord
    merges.foreach { case (l, r) => syms = applyMerge(syms, l, r) }
    syms
  }

  /** t14 inference path: tokenize a corpus with a learned merge list and
    * account tokens per document.
    *
    * Scale design mirrors [[learnMerges]]: encoding is a function of the
    * WORD alone, so the corpus collapses to its distinct-word table and
    * each surface form is encoded exactly ONCE (vocabulary work, not
    * corpus work — at 100 TB the vocabulary is ~10^7–10^8 forms while the
    * corpus is ~10^13 tokens, a 10^5× saving over per-occurrence
    * encoding). The merge list itself is O(k) rows — driver-collected and
    * broadcast inside the encode closure; it never enters a shuffle. The
    * per-doc accounting pre-groups on (doc_id, word) so the join back to
    * the encoded vocabulary moves one row per distinct (doc, word) pair,
    * and the final per-doc rollup partial-aggs map-side.
    *
    * Returns (doc_id, n_words, n_tokens): whitespace word count and BPE
    * token count per document — the unit every mixture/budget decision
    * (cu15) is denominated in.
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(merges)
    val nToks = udf((w: String) => encodeWord(w, bc.value).length)
    val dw = docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val wordToks = dw.select("w").distinct()
      .withColumn("nt", nToks(col("w")))
    dw.join(wordToks, "w")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("nt")).as("n_tokens"))
  }

  /** Learn `k` merges from whitespace-tokenized `textCol` (characters +
    * terminal [[EndOfWord]] marker as the initial alphabet). Returns
    * (step, lhs, rhs, weight) ordered by step — weight is the pair's
    * frequency-weighted count at selection time. Stops early if the
    * vocabulary runs out of adjacent pairs. */
  def learnMerges(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val mat = Iterative.materializer(spark)
    val words = docs
      .select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    var vocab = mat(words.select(col("freq"),
      concat(filter(split(col("w"), ""), x => x =!= ""),
        array(lit(EndOfWord))).as("syms")))
    val merges = mutable.Buffer.empty[(Int, String, String, Long)]
    var step = 1
    var done = false
    while (step <= k && !done) {
      val n = size(col("syms"))
      val best = vocab.select(col("freq"),
        explode(zip_with(
          slice(col("syms"), lit(1), n - 1),
          slice(col("syms"), lit(2), n - 1),
          (x, y) => struct(x.as("l"), y.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (l, r, w) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step, l, r, w))
        val rewrite = udf((syms: Seq[String]) => applyMerge(syms, l, r))
        vocab = mat(vocab.withColumn("syms", rewrite(col("syms"))))
      }
      step += 1
    }
    merges.toSeq.toDF("step", "lhs", "rhs", "weight")
  }
}
