package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp
import scala.util.Random

import graft.ops.CrawlDb

/** Model-based merge tests in the style of the reference's
  * CrawlDBMergingReducerTests (randomized typed inputs, semantic equality
  * with an in-memory model, shuffled-input order-insensitivity). */
class CrawlDbSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def statusDf(rows: Seq[(Long, String, String, Timestamp)]): DataFrame = {
    import spark.implicits._
    rows.toDF("key", "status", "priority", "attempt_ts")
  }

  private def linksDf(rows: Seq[(Long, String, String, Timestamp, Long, Boolean, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("key", "link_type", "link_rel", "link_date", "link_src", "internal", "qty")
  }

  private val status = Seq(
    (1L, "O", "1-URGENT", ts("2020-01-01 00:00:00")),
    (2L, "F", "5-LOW", ts("2020-06-01 00:00:00")),
    (3L, "P", "2-HIGH", ts("2020-03-01 00:00:00")), // key 3 has no links
  )
  private val links = Seq(
    (1L, "A", "x", ts("2020-02-01 00:00:00"), 10L, true, 1.0),
    (1L, "B", "y", ts("2020-02-02 00:00:00"), 11L, false, 2.0),
    (1L, "B", "y", ts("2020-02-02 00:00:00"), 12L, false, 3.0), // tie date: src breaks it
    (1L, "C", "z", ts("2020-01-15 00:00:00"), 13L, true, 4.0),
    (1L, "D", "w", ts("2020-01-10 00:00:00"), 14L, false, 5.0), // 5 distinct srcs > cap 3
    (2L, "A", "x", ts("2020-05-01 00:00:00"), 20L, true, 6.0),
  )

  private def collectMerged(s: DataFrame, l: DataFrame): Seq[Row] =
    CrawlDb.withLatestLink(CrawlDb.merge(s, l, maxSrcSamples = 3))
      .orderBy("url_key").collect().toSeq

  test("merged record fold: counts, dates, latest-by-ts, capped samples") {
    val out = collectMerged(statusDf(status), linksDf(links))
    assert(out.map(_.getLong(0)) == Seq(1L, 2L, 3L))
    val r1 = out(0)
    assert(r1.getAs[Long]("attempt_count") == 1L)
    assert(r1.getAs[Long]("link_count") == 5L)
    assert(r1.getAs[Long]("int_src_count") == 2L)
    assert(r1.getAs[Long]("ext_src_count") == 3L)
    assert(r1.getAs[Timestamp]("earliest_link_date") == ts("2020-01-10 00:00:00"))
    assert(r1.getAs[Timestamp]("latest_link_date") == ts("2020-02-02 00:00:00"))
    // tie on latest date between two B/y links → identical value selected
    assert(r1.getAs[String]("latest_link") == "B/y")
    assert(r1.getAs[scala.collection.Seq[String]]("type_and_rels") == Seq("A/x", "B/y", "C/z", "D/w"))
    // sorted distinct srcs capped at 3, truncation flagged
    assert(r1.getAs[scala.collection.Seq[Long]]("src_samples") == Seq(10L, 11L, 12L))
    assert(r1.getAs[Boolean]("src_truncated"))
    assert(r1.getAs[Double]("sum_qty") == 15.0)
    // key 3: status only — zero link stats, empty samples, no truncation
    val r3 = out(2)
    assert(r3.getAs[Long]("link_count") == 0L)
    assert(r3.getAs[String]("latest_link") == null)
    assert(r3.getAs[scala.collection.Seq[String]]("type_and_rels") == Seq())
    assert(!r3.getAs[Boolean]("src_truncated"))
  }

  test("fold is order-insensitive: shuffled + repartitioned inputs agree") {
    val base = collectMerged(statusDf(status), linksDf(links))
    val rnd = new Random(7)
    for (_ <- 1 to 3) {
      val s = statusDf(rnd.shuffle(status)).repartition(5)
      val l = linksDf(rnd.shuffle(links)).repartition(3)
      assert(collectMerged(s, l) == base)
    }
  }

  test("incremental combine == one-shot merge under any split") {
    val all = collectMerged(statusDf(status), linksDf(links))
    // split the raw streams three different ways; combine must be exact
    val splits = Seq[((Long, String, String, Timestamp)) => Boolean](
      _._1 == 1L, _._4.getTime % 2 == 0, _ => false)
    val lsplits = Seq[((Long, String, String, Timestamp, Long, Boolean, Double)) => Boolean](
      _._1 == 1L, _._4.getTime % 2 == 0, _ => true)
    splits.zip(lsplits).foreach { case (sp, lp) =>
      val oldDb = CrawlDb.merge(
        statusDf(status.filter(sp)), linksDf(links.filter(lp)), maxSrcSamples = 3)
      val delta = CrawlDb.merge(
        statusDf(status.filterNot(sp)), linksDf(links.filterNot(lp)), maxSrcSamples = 3)
      val combined = CrawlDb.withLatestLink(
        CrawlDb.combineMerged(oldDb, delta, maxSrcSamples = 3))
        .orderBy("url_key").collect().toSeq
      assert(combined == all)
    }
  }

  test("window-ranked sample lists equal the collect_set replay (r21 pin)") {
    // r21 moved the capped sample lists out of the main fold (which the
    // collect_set aggregates forced through ObjectHashAggregate) into a
    // per-key dense_rank pivot. This pins row-for-row identity against
    // the r5–r20 collect_set form on every edge the rank path has to
    // get right: null type/rel/src link fields (nulls must never occupy
    // a slot or count toward truncation), distinct src counts below /
    // at / one-past / far-past the cap, negative srcs (numeric order,
    // not string order), status-only and links-only keys, and an
    // all-null-src key (truncation must read false, not null).
    import spark.implicits._
    val s2 = statusDf(status :+ (9L, "O", "3-MEDIUM", ts("2021-01-01 00:00:00")))
    val edgy = links ++ Seq[(Long, String, String, Timestamp, Long, Boolean, Double)](
      (2L, "B", "y", ts("2020-05-02 00:00:00"), 21L, false, 1.0),
      (2L, "C", "z", ts("2020-05-03 00:00:00"), 22L, true, 1.0), // exactly cap 3
      (4L, "A", "x", ts("2020-07-01 00:00:00"), -8L, true, 1.0), // links-only key, negative src
      (4L, "A", "x", ts("2020-07-02 00:00:00"), 30L, false, 1.0),
      (4L, "A", "x", ts("2020-07-03 00:00:00"), 31L, true, 1.0),
      (4L, "A", "x", ts("2020-07-04 00:00:00"), 32L, false, 1.0), // cap+1 distinct
      (5L, null, "y", ts("2020-08-01 00:00:00"), 40L, true, 1.0), // null type
      (5L, "A", null, ts("2020-08-02 00:00:00"), 41L, false, 1.0), // null rel
      (5L, "A", "x", null, 42L, true, 1.0), // null date
      (6L, "A", "x", ts("2020-09-01 00:00:00"), -1L, true, 1.0), // nulls + negatives mixed
      (6L, null, null, ts("2020-09-02 00:00:00"), -2L, false, 1.0),
      (7L, "A", "x", ts("2020-10-01 00:00:00"), -3L, true, 1.0))
    // all-null-src key: built separately (the tuple encoder can't carry
    // a null Long), union'd with an explicit null cast
    val nullSrc = Seq((8L, "A", "x", "2020-11-01 00:00:00"))
      .toDF("key", "link_type", "link_rel", "d")
      .select(col("key"), col("link_type"), col("link_rel"),
        col("d").cast("timestamp").as("link_date"),
        lit(null).cast("bigint").as("link_src"),
        lit(true).as("internal"), lit(1.0).as("qty"))
    val l2 = linksDf(edgy).unionByName(nullSrc)
    def replayCollectSet(st: DataFrame, li: DataFrame, cap: Int): DataFrame = {
      val u = CrawlDb.taggedUnion(st, li)
      val isS = col("tag") === "status"
      val isL = col("tag") === "link"
      val typeAndRel = when(isL, concat(col("link_type"), lit("/"), col("link_rel")))
      val ord = coalesce(
        concat(
          lpad((unix_millis(col("link_date")) + CrawlDb.OrdMillisBias)
            .cast("string"), 15, "0"),
          lit("|"), typeAndRel,
          lit("|"), lpad(col("link_src").cast("string"), 12, "0")),
        lit(""))
      u.groupBy(col("key").as("url_key"))
        .agg(
          sum(when(isS, 1L).otherwise(0L)).as("attempt_count"),
          max(when(isS, col("status"))).as("status"),
          max(when(isS, col("priority"))).as("priority"),
          min(when(isS, col("attempt_ts"))).as("first_attempt"),
          max(when(isS, col("attempt_ts"))).as("latest_attempt"),
          sum(when(isL, 1L).otherwise(0L)).as("link_count"),
          sum(when(isL && col("internal"), 1L).otherwise(0L)).as("int_src_count"),
          sum(when(isL && !col("internal"), 1L).otherwise(0L)).as("ext_src_count"),
          min(when(isL, col("link_date"))).as("earliest_link_date"),
          max(when(isL, col("link_date"))).as("latest_link_date"),
          max(ord).as("latest_link_ord"),
          slice(array_sort(collect_set(typeAndRel)), 1, CrawlDb.MaxTypeSamples)
            .as("type_and_rels"),
          array_sort(collect_set(when(isL, col("link_src")))).as("src_set"),
          sum(when(isL, col("qty")).otherwise(0.0)).as("sum_qty"))
        .withColumn("src_samples", slice(col("src_set"), 1, cap))
        .withColumn("src_truncated", size(col("src_set")) > cap)
        .select(
          col("url_key"), col("attempt_count"), col("status"), col("priority"),
          col("first_attempt"), col("latest_attempt"), col("link_count"),
          col("int_src_count"), col("ext_src_count"), col("earliest_link_date"),
          col("latest_link_date"), col("latest_link_ord"), col("type_and_rels"),
          col("src_samples"), col("src_truncated"), col("sum_qty"))
    }
    val prod = CrawlDb.merge(s2, l2, maxSrcSamples = 3)
      .orderBy("url_key").collect().toSeq
    val replay = replayCollectSet(s2, l2, cap = 3)
      .orderBy("url_key").collect().toSeq
    assert(prod == replay)
    // and on real testdata, where key counts exercise agg fallback paths
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val st = orders.select(col("o_orderkey").as("key"),
      col("o_orderstatus").as("status"),
      col("o_orderpriority").as("priority"), col("o_orderdate").as("attempt_ts"))
    val ln = li.select(col("l_orderkey").as("key"),
      col("l_returnflag").as("link_type"), col("l_linestatus").as("link_rel"),
      col("l_shipdate").as("link_date"), col("l_partkey").as("link_src"),
      (col("l_returnflag") === "N").as("internal"), col("l_quantity").as("qty"))
    val a = CrawlDb.merge(st, ln, maxSrcSamples = 3)
    val b = replayCollectSet(st, ln, cap = 3)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("fold over testdata matches itself under input re-partitioning") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    def run(shuffle: Boolean) = {
      val o = if (shuffle) orders.repartition(7) else orders
      val l = if (shuffle) li.repartition(9) else li
      CrawlDb.merge(
        o.select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"), col("o_orderdate").as("attempt_ts")),
        l.select(col("l_orderkey").as("key"), col("l_returnflag").as("link_type"),
          col("l_linestatus").as("link_rel"), col("l_shipdate").as("link_date"),
          col("l_partkey").as("link_src"), (col("l_returnflag") === "N").as("internal"),
          col("l_quantity").as("qty")),
        maxSrcSamples = 3,
      ).orderBy("url_key").collect().toSeq
    }
    assert(run(shuffle = true) == run(shuffle = false))
  }

  test("redirect resolution follows a 12-hop chain to its end and marks cycles open") {
    import spark.implicits._
    // 100 → 101 → … → 112 (12 hops; three fixed rounds stopped at 8),
    // a 2-cycle 200 ↔ 201, a 3-cycle 300 → 301 → 302 → 300 (pointer
    // doubling never lands a 3-cycle back on itself), a tail 400 → 200
    // into the 2-cycle, and a one-hop 500 → 7
    val edges = ((100L until 112L).map(s => (s, s + 1)) ++
      Seq((200L, 201L), (201L, 200L), (300L, 301L), (301L, 302L),
        (302L, 300L), (400L, 200L), (500L, 7L)))
      .map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "hops")
    val got = CrawlDb.resolveRedirects(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got.size == 19)
    for (s <- 100L until 112L) assert(got(s) == ((112L, 112L - s, false)), s"src $s")
    for (s <- Seq(200L, 201L, 300L, 301L, 302L, 400L)) assert(got(s)._3, s"src $s not a loop")
    assert(got(500L) == ((7L, 1L, false)))
  }
}
