package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Hashing
import graft.ops.Dedupe

class DedupeSpec extends AnyFunSuite with SparkSuite {

  test("simhash LSH pairs == brute-force hamming<=3 pairs (sf0.001)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val lsh = Dedupe.simhashNearDupPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet

    // brute force on the driver — fine at sf0.001 scale
    val hashed = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), Hashing.simhash64(r.getString(1))))
    val brute = (for {
      (ida, ha) <- hashed
      (idb, hb) <- hashed
      if ida < idb && Hashing.hammingDistance(ha, hb) <= 3
    } yield (ida, idb)).toSet

    assert(lsh == brute)
  }

  test("minhash LSH: perfect precision, high recall at near-exact jaccard (sf0.001)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val lsh = Dedupe.minhashNearDupPairs(docs, "doc_id", "text", 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: exhaustive within a single constant block (O(n²), tests only)
    val exact = Dedupe.exactJaccardPairs(
        docs.withColumn("blk", lit(1)), "doc_id", "text", "blk", 0.8)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val exactAll = exact.map(_._1).toSet
    // precision is exact by construction (every candidate is re-verified)
    assert(lsh.subsetOf(exactAll))
    // the 6×12 curve guarantees ≥99% expected recall at j ≥ 0.95 — on this
    // deterministic data every near-exact pair must be found
    val nearExact = exact.filter(_._2 >= 0.95).map(_._1).toSet
    assert(nearExact.subsetOf(lsh))
    assert(lsh.nonEmpty)
  }

  test("connected components: min-label clusters over known pairs") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val got = graft.ops.Components.starContract(pairs, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("portable simhash LSH pairs == brute-force hamming<=3 (sf0.001)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val lsh = Dedupe.portableSimhashPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // driver-side reimplementation of the portable 60-bit simhash
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def portable(text: String): Long = {
      val sh = (0 to text.length - 3).map(i => text.substring(i, i + 3)).distinct
      val hs = sh.map(s => java.lang.Long.parseLong(md5hex(s).take(15), 16))
      (0 until 60).map { b =>
        if (hs.count(h => ((h >> b) & 1L) == 1L) * 2 >= hs.size) 1L << b else 0L
      }.sum
    }
    val sims = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), portable(r.getString(1))))
    val brute = (for {
      (ida, sa) <- sims; (idb, sb) <- sims
      if ida < idb && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ida, idb)).toSet
    assert(lsh == brute)
  }

  test("incremental dedupe == self-join pairs restricted to batch×corpus (sf0.001)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val batchPred = col("source") === "src0"
    val inc = Dedupe.incrementalNearDupPairs(
        corpus = docs.filter(!batchPred), batch = docs.filter(batchPred),
        id = "doc_id", text = "text", threshold = 0.8)
      .select("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // ground truth: the full self-join pairs, keeping exactly those with
    // one side in the batch, re-oriented (new, corpus)
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = Dedupe.minhashNearDupPairs(docs, "doc_id", "text", 0.8)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) => (srcOf(a) == "src0", srcOf(b) == "src0") match {
        case (true, false) => Some((a, b))
        case (false, true) => Some((b, a))
        case _             => None
      }}.toSet
    assert(inc == expected)
    assert(inc.nonEmpty)
  }

  test("exact dup groups: md5 grouping counts copies") {
    import spark.implicits._
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val got = Dedupe.exactDupGroups(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L), (3L, 1L)))
  }

  test("persistent banded index: probe == direct, and append grows the corpus (sf0.001)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // two batches arrive in sequence against a base corpus that contains
    // neither — the real ingest loop
    val corpus0 = docs.filter(col("source") =!= "src0" && col("source") =!= "src1")
    val batch1 = docs.filter(col("source") === "src0")
    val batch2 = docs.filter(col("source") === "src1")
    val suffix = java.lang.Long.toHexString(System.nanoTime())
    val path = java.nio.file.Files.createTempDirectory("graft-idx-").toString
    Dedupe.writeBandedIndex(corpus0, "doc_id", "text", s"idx_$suffix", path)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaIndex = pairs(Dedupe.probeBandedIndex(
      spark, s"idx_$suffix", batch1, "doc_id", "text", 0.8))
    val direct = pairs(Dedupe.incrementalNearDupPairs(
      corpus0, batch1, "doc_id", "text", 0.8))
    assert(viaIndex == direct)

    // fold batch1's non-dup survivors in; probing batch2 must then equal
    // the direct incremental pairs against the GROWN corpus
    val dupIds = viaIndex.map(_._1)
    val accepted = batch1.filter(!col("doc_id").isin(dupIds.toSeq: _*))
    Dedupe.appendToBandedIndex(accepted, "doc_id", "text", s"idx_$suffix")
    val grown = corpus0.unionByName(accepted)
    val viaIndex2 = pairs(Dedupe.probeBandedIndex(
      spark, s"idx_$suffix", batch2, "doc_id", "text", 0.8))
    val direct2 = pairs(Dedupe.incrementalNearDupPairs(
      grown, batch2, "doc_id", "text", 0.8))
    assert(viaIndex2 == direct2)
    assert((viaIndex ++ viaIndex2).nonEmpty)
  }

  test("banded index rejects append/probe with mismatched signature params") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val suffix = java.lang.Long.toHexString(System.nanoTime())
    val path = java.nio.file.Files.createTempDirectory("graft-midx-").toString
    Dedupe.writeBandedIndex(docs.limit(50), "doc_id", "text",
      s"midx_$suffix", path, k = 72, bands = 6)
    // Spark validates the bucket spec on append, but only the stamped
    // table properties catch a k/bands drift — which would silently mix
    // incompatible band keys and make future probes miss duplicates
    assertThrows[IllegalArgumentException] {
      Dedupe.appendToBandedIndex(docs.limit(5), "doc_id", "text",
        s"midx_$suffix", k = 48, bands = 6)
    }
    assertThrows[IllegalArgumentException] {
      Dedupe.probeBandedIndex(spark, s"midx_$suffix",
        docs.limit(5), "doc_id", "text", 0.8, k = 72, bands = 4)
    }
    // matching parameters still pass (the stamp guards, it doesn't block)
    Dedupe.appendToBandedIndex(docs.limit(5), "doc_id", "text", s"midx_$suffix")
  }

  test("index probe plan: corpus sides stay bucketed with no exchange (SMJ regime)") {
    // the reason the persistent index exists: under sort-merge (probe too
    // big to broadcast) the corpus tables must join via their bucketed
    // layout. Expected exchanges are exactly the batch/intermediate ones:
    // batch bands to the index's layout, the pair distinct, both sides of
    // the new_id verify join, and the corpus_id repartition of its result
    // — 5. A broken bucket spec re-shuffles the two corpus scans and the
    // count jumps to 7.
    val session = spark.newSession()
    session.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val docs = session.read.parquet(s"$sfDir/documents.parquet")
    val suffix = java.lang.Long.toHexString(System.nanoTime())
    val path = java.nio.file.Files.createTempDirectory("graft-pidx-").toString
    Dedupe.writeBandedIndex(docs.filter(col("source") =!= "src0"),
      "doc_id", "text", s"pidx_$suffix", path)
    val p = Dedupe.probeBandedIndex(session, s"pidx_$suffix",
        docs.filter(col("source") === "src0"), "doc_id", "text", 0.8)
      .queryExecution.executedPlan.toString
    assert("Bucketed: true".r.findAllIn(p).size >= 2, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 5, p)
  }

  test("shared-substring pairs: planted run found, unrelated docs not paired") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def noise(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // a 120-char run shared by docs 1 and 2, embedded in different noise;
    // docs 3 and 4 are independent noise and must not pair with anything
    val run = noise(120)
    val docs = Seq(
      (1L, noise(200) + run + noise(150)),
      (2L, noise(80) + run + noise(300)),
      (3L, noise(400)),
      (4L, noise(400)),
    ).toDF("doc_id", "text")
    val pairs = Dedupe.sharedSubstringPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a 120-char run has 109 overlapping 12-grams; E[selected] ≈ 6.8 at the
    // 1/16 md5 gate, and this seed selects ≥ minShared of them
    assert(pairs == Set((1L, 2L)))
  }

  test("shared-substring pairs: boilerplate beyond stopDocFreq never fans out") {
    import spark.implicits._
    // 40 docs all carrying the same 60-char boilerplate header: its anchors
    // have doc-freq 40 > stopDocFreq 32, so the gate drops them and NO
    // pairs form — the quadratic fan-out a naive postings join would hit
    val boiler = "standard legal disclaimer header shared by every document!"
    val rnd = new scala.util.Random(11)
    def noise(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val docs = (1L to 40L).map(i => (i, boiler + noise(300))).toDF("doc_id", "text")
    assert(Dedupe.sharedSubstringPairs(docs, "doc_id", "text").count() == 0L)
  }

  test("duplicated spans: planted cross-doc span found with exact bounds") {
    import spark.implicits._
    val rnd = new scala.util.Random(18)
    def words(n: Int, tag: String) =
      (1 to n).map(i => s"$tag${rnd.nextInt(1 << 30)}").mkString(" ")
    val shared = (1 to 30).map(i => s"dup$i").mkString(" ") // 30 shared tokens
    // doc 1: 10 unique + shared + 5 unique; doc 2: 3 unique + shared + 8
    val docs = Seq(
      (1L, words(10, "a") + " " + shared + " " + words(5, "b")),
      (2L, words(3, "c") + " " + shared + " " + words(8, "d")),
      (3L, words(40, "e"))).toDF("doc_id", "text")
    val spans = Dedupe.duplicatedSpans(docs, "doc_id", "text",
        gram = 4, minSpanTokens = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // exact bounds: the 30-token span starts at token 11 in doc 1 and
    // token 4 in doc 2; doc 3 contributes nothing
    assert(spans == Set((1L, 11L, 30L), (2L, 4L, 30L)))
  }

  test("duplicated spans: nearby matches union into one interval (no double count)") {
    import spark.implicits._
    // two 4-gram matches separated by a 2-token gap: covered windows
    // [1,4]+[2,5] and [8,11]+[9,12] → runs [1,5] and [8,12], NOT a sum
    // of overlapping window lengths
    val a = "p q r s t GAP1 GAP2 u v w x y"
    val b = "p q r s t NOP1 NOP2 u v w x y"
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val spans = Dedupe.duplicatedSpans(docs, "doc_id", "text",
        gram = 4, minSpanTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans == Set((1L, 1L, 5L), (2L, 1L, 5L),
      (1L, 8L, 5L), (2L, 8L, 5L)))
  }

  test("contamination spans: benchmark overlap marks exact windows only") {
    import spark.implicits._
    val rnd = new scala.util.Random(27)
    def words(n: Int, tag: String) =
      (1 to n).map(i => s"$tag${rnd.nextInt(1 << 30)}").mkString(" ")
    val leak = (1 to 6).map(i => s"bench$i").mkString(" ") // 6 shared tokens
    val corpus = Seq(
      (1L, words(5, "a") + " " + leak + " " + words(4, "b")),
      (2L, words(12, "c"))).toDF("doc_id", "text")
    val bench = Seq((100L, words(3, "q") + " " + leak + " " + words(2, "r")))
      .toDF("doc_id", "text")
    val spans = graft.ops.Dedupe.contaminationSpans(corpus, bench,
        "doc_id", "text", gram = 4, minSpanTokens = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the 6 leaked tokens sit at positions 6..11 of doc 1; doc 2 clean
    assert(spans == Set((1L, 6L, 6L)))
  }

  test("contamination spans: corpus-internal duplication never marks") {
    import spark.implicits._
    val repeated = (1 to 4).map(_ => "x y z w").mkString(" ")
    val corpus = Seq((1L, repeated), (2L, repeated)).toDF("doc_id", "text")
    val bench = Seq((9L, "totally unrelated benchmark text here"))
      .toDF("doc_id", "text")
    // corpus docs duplicate EACH OTHER but share nothing with the
    // benchmark — decontamination must not fire (that's d18's job)
    assert(graft.ops.Dedupe.contaminationSpans(corpus, bench,
      "doc_id", "text", gram = 4, minSpanTokens = 4).count() == 0L)
  }

  test("duplicated spans: within-doc repeats alone do not mark coverage") {
    import spark.implicits._
    val rep = (1 to 5).map(_ => "same same same same").mkString(" ")
    val docs = Seq((1L, rep), (2L, "totally different words here okay"))
      .toDF("doc_id", "text")
    // the repeated gram has df=1 distinct doc → below the ≥2-doc gate
    assert(Dedupe.duplicatedSpans(docs, "doc_id", "text",
      gram = 4, minSpanTokens = 4).count() == 0L)
  }

  test("d20 paragraph dedupe: keep-first, in-order reassembly, exact accounting") {
    import spark.implicits._
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    // B appears in 3 docs (keeper: doc 1, idx 1), C in 2 (keeper: doc 1);
    // doc 3 is pure boilerplate and loses everything
    val docs = Seq(
      (1L, "aa one\n\nbb two\n\ncc three"),
      // 3 newlines and a CRLF blank line split the same as \n\n
      (2L, "xx four\n\n\nbb two\r\n\r\ncc three"),
      (3L, "bb two")).toDF("doc_id", "text")
    val got = Dedupe.paragraphDedupe(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got(1L) == ((3L, 0L, 0L,
      md5hex("aa one\n\nbb two\n\ncc three"))))
    assert(got(2L) == ((3L, 2L, 4L, md5hex("xx four"))))
    assert(got(3L) == ((1L, 1L, 2L, md5hex(""))))
  }

  private def spanSet(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("d19: hashed span kernel is output-identical to the string form (sf0.001)") {
    // xxhash64 collisions can only over-mark; at gate scale (<< 2^32
    // distinct grams) there are none, so the outputs must be EQUAL —
    // the property the d19 oracle (the d18 string-replay SQL) gates
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(
      spanSet(Dedupe.duplicatedSpansHashed(docs, "doc_id", "text",
        gram = 8, minSpanTokens = 50)) ==
      spanSet(Dedupe.duplicatedSpans(docs, "doc_id", "text",
        gram = 8, minSpanTokens = 50)))
    // contamination twin, src0 as the benchmark slice
    import org.apache.spark.sql.functions.col
    val corpus = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    assert(
      spanSet(Dedupe.contaminationSpansHashed(corpus, bench,
        "doc_id", "text", gram = 13, minSpanTokens = 13)) ==
      spanSet(Dedupe.contaminationSpans(corpus, bench,
        "doc_id", "text", gram = 13, minSpanTokens = 13)))
  }

  test("d20 hashed keying is output-identical to the md5 form (sf0.001)") {
    // the d19 argument one tier up: xxhash64(paragraph) shuffles 8
    // bytes instead of 32-char md5 hex; at gate scale no collisions,
    // so identical output — keep-first keeper choice included
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        // fold real text into blank-line paragraphs with shared footers
        concat_ws("\n\n", col("text"),
          concat(lit("footer variant "), (col("doc_id") % 5).cast("string")))
          .as("text"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().toSeq.map(_.toString)
    assert(
      canon(Dedupe.paragraphDedupeHashed(docs, "doc_id", "text")) ==
      canon(Dedupe.paragraphDedupe(docs, "doc_id", "text")))
  }

  test("d19 collision direction: a lossy key only ever OVER-marks coverage") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // force collisions with a 4-bit key: every exact span must survive
    // inside some lossy span (collisions merge DIFFERENT grams — they
    // can add or extend spans, never shrink or drop a true one)
    val rnd = new scala.util.Random(19)
    def words(n: Int, tag: String) =
      (1 to n).map(i => s"$tag${rnd.nextInt(1 << 30)}").mkString(" ")
    val shared = (1 to 30).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, words(10, "a") + " " + shared + " " + words(15, "b")),
      (2L, words(3, "c") + " " + shared + " " + words(8, "d")),
      (3L, words(60, "e")), (4L, words(45, "f"))).toDF("doc_id", "text")
    def covered(df: org.apache.spark.sql.DataFrame) =
      df.collect().flatMap { r =>
        val (id, s, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
        (s until s + n).map(t => (id, t))
      }.toSet
    val exact = covered(Dedupe.duplicatedSpans(docs, "doc_id", "text",
      gram = 4, minSpanTokens = 10))
    val lossy = covered(Dedupe.duplicatedSpansKeyed(docs, "doc_id", "text",
      gram = 4, minSpanTokens = 10, g => pmod(xxhash64(g), lit(16L))))
    assert(exact.nonEmpty)
    assert(exact.subsetOf(lossy),
      s"lossy key dropped covered tokens: ${(exact -- lossy).take(5)}")
  }

  test("cu31 applySpans: token-range subtraction + in-order reassembly") {
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq(
      (1L, "a b c d e f g h"), // one interior span
      (2L, "p q r s"),         // no spans reported — untouched
      (3L, "x y z"),           // fully covered
      (4L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")) // two disjoint spans
      .toDF("doc_id", "text")
    val spans = Seq(
      (1L, 3L, 2L),  // remove c d
      (3L, 1L, 3L),  // remove everything
      (4L, 1L, 2L),  // remove t1 t2
      (4L, 9L, 2L))  // remove t9 t10
      .toDF("doc_id", "span_start", "span_tokens")
    val got = Dedupe.applySpans(docs, spans, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(got.toSeq == Seq(
      (1L, 8L, 2L, 6L, md5hex("a b e f g h")),
      (2L, 4L, 0L, 4L, md5hex("p q r s")),
      (3L, 3L, 3L, 0L, md5hex("")),
      (4L, 10L, 4L, 6L, md5hex("t3 t4 t5 t6 t7 t8"))))
  }

  test("d21 keep-first rewrite: first occurrence survives, later and within-doc copies removed") {
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(21)
    def words(n: Int, tag: String) =
      (1 to n).map(i => s"$tag${rnd.nextInt(1 << 30)}").mkString(" ")
    val shared = (1 to 30).map(i => s"dup$i").mkString(" ")
    val a = words(12, "a"); val b = words(12, "b")
    val c = words(12, "c"); val d = words(12, "d")
    val e1 = words(12, "e"); val e2 = words(12, "f")
    val docs = Seq(
      (1L, s"$a $shared $b"),      // first occurrence — keeps everything
      (2L, s"$c $shared $d"),      // later copy — loses the block
      (3L, s"$e1 $shared $e2 $shared")) // within-doc repeat — loses BOTH
      .toDF("doc_id", "text")      //   (doc 1 owns the first occurrence)
    val got = graft.ops.Dedupe.exactSubstrRewrite(docs, "doc_id", "text",
        gram = 4, minSpanTokens = 10)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(got(0) == ((1L, 54L, 0L, 54L, md5hex(s"$a $shared $b"))))
    assert(got(1) == ((2L, 54L, 30L, 24L, md5hex(s"$c $d"))))
    assert(got(2) == ((3L, 84L, 60L, 24L, md5hex(s"$e1 $e2"))))
  }

  test("d21 collision direction: a lossy key only ever REMOVES MORE (keeper demotion, never under-removal)") {
    import spark.implicits._
    val rnd = new scala.util.Random(22)
    def words(n: Int, tag: String) =
      (1 to n).map(i => s"$tag${rnd.nextInt(1 << 30)}").mkString(" ")
    val shared = (1 to 30).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, words(10, "a") + " " + shared + " " + words(15, "b")),
      (2L, words(3, "c") + " " + shared + " " + words(8, "d")),
      (3L, words(60, "e")), (4L, words(45, "f"))).toDF("doc_id", "text")
    def kept(keyOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      graft.ops.Dedupe.applySpans(docs,
          graft.ops.Dedupe.keepFirstCoverageKeyed(docs, "doc_id", "text",
            gram = 4, minSpanTokens = 10, keyOf),
          "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val exact = kept(identity)
    val lossy = kept(g => pmod(xxhash64(g), lit(16L)))
    assert(exact.nonEmpty)
    // a collision can merge occurrence sets and demote a true keeper —
    // more coverage, never less: per doc the lossy form keeps <= tokens
    exact.foreach { case (id, k) =>
      assert(lossy(id) <= k, s"doc $id: lossy key KEPT MORE ($k -> ${lossy(id)})")
    }
    // the 4-bit key must actually collide somewhere or the pin is vacuous
    assert(exact.exists { case (id, k) => lossy(id) < k })
  }

  test("cu31 applySpans composes with contaminationSpans: kept+removed == total, clean docs intact (sf0.001)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val bench = docs.filter(col("source") === "src0")
    val corpus = docs.filter(col("source") =!= "src0")
    val spans = Dedupe.contaminationSpansHashed(corpus, bench,
      "doc_id", "text", gram = 13, minSpanTokens = 13)
    val out = Dedupe.applySpans(corpus, spans, "doc_id", "text")
    assert(out.count() == corpus.count()) // every corpus doc reported
    assert(out.filter(col("kept_tokens") + col("removed_tokens") =!=
      col("n_tokens")).count() == 0)
    // a doc with no reported spans keeps its full text verbatim
    val cleanParity = out.filter(col("removed_tokens") === 0)
      .join(corpus, "doc_id")
      .filter(md5(concat_ws(" ",
        graft.ops.TextAnalysis.tokens(col("text"))).cast("binary"))
        =!= col("cleaned_md5"))
    assert(cleanParity.count() == 0)
  }
}
