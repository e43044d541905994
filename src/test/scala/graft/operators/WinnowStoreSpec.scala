package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Caches
import graft.sources.WinnowStore

/** Maintenance face of the substring-dedup char-winnow index: the
  * [[graft.sources.SignatureStore]] contract (day-over-day advance
  * without re-reading prior days' source, XOR-healed retirement,
  * digest-gated freshness) applied to q152's history fingerprint
  * index.
  */
class WinnowStoreSpec extends SparkSpec {
  import spark.implicits._

  private val K = SubstringDedup.K

  // A shared ≥K-char passage planted across a fresh (odd-id) batch and
  // two history days (even ids), with unique filler elsewhere.
  private val passage =
    "all rights reserved worldwide under the berne convention and " +
      "no part of this publication may be reproduced without permission "
  private def filler(tag: String, n: Int): String =
    Iterator.from(0).map(i => s"$tag$i ").take(n).mkString.take(n)
      .dropRight(1) + tag.head

  private def day0 = Seq(
    (2L, passage + filler("vc", 95)),
    (4L, filler("wd", 120) + "nothing shared here beyond its own words " + filler("we", 80)))
    .toDF("doc_id", "text")
  private def day1 = Seq(
    (6L, filler("xf", 60) + passage + filler("xg", 40)),
    (8L, filler("yh", 150)))
    .toDF("doc_id", "text")
  private def fresh = Seq(
    (1L, filler("za", 30) + passage + filler("zb", 50)),
    (3L, filler("zc", 90)))
    .toDF("doc_id", "text")

  private def spansVia(hist: DataFrame, idx: DataFrame): Set[(Long, Long, Long)] = {
    val out = SubstringDedup.substringProbeOn(fresh, hist, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    Caches.releaseAll()
    out
  }

  private def withStore[T](dir: String)(body: => T): T = {
    spark.conf.set(WinnowStore.DirKey, dir)
    try body
    finally { spark.conf.unset(WinnowStore.DirKey); Caches.releaseAll() }
  }

  test("day-over-day: advance never re-reads prior days' source; probe rides the stored index; retire heals the digest") {
    // Day 0's source lands in parquet so we can DELETE it and prove
    // maintenance never goes back to it.
    val srcDir = tmpDir("winnow_src")
    day0.write.parquet(s"$srcDir/day0")
    val day0FromSource = spark.read.parquet(s"$srcDir/day0")

    val dir = tmpDir("winnow_days")
    WinnowStore.build(day0FromSource, dir, day = 0)
    Caches.releaseAll()

    val fsys = new org.apache.hadoop.fs.Path(srcDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fsys.delete(new org.apache.hadoop.fs.Path(s"$srcDir/day0"), true)
    WinnowStore.advanceDay(day1, dir, day = 1)
    Caches.releaseAll()

    val union = day0.unionByName(day1)
    val direct = spansVia(union, SubstringDedup.charWinnowOf(union))
    assert(direct.exists(_._1 == 1L), s"fixture must surface doc 1's planted span: $direct")

    withStore(dir) {
      val idx = WinnowStore.openFresh(union)
      assert(idx.isDefined, "digest must compose across days")
      assert(spansVia(union, idx.get) == direct,
        "the stored index must reproduce the direct winnow exactly")
      // q152-shaped freshness gate: a mutated history (same row count)
      // is stale and falls back.
      val mutated = union.withColumn("text",
        when(col("doc_id") === 4L, lit(filler("mm", 90))).otherwise(col("text")))
      assert(WinnowStore.openFresh(mutated).isEmpty,
        "digest must catch a content mutation at identical row count")
    }

    // Retire day 0 (takedown): the store serves day 1 alone — and the
    // probe against it equals a probe against an index REBUILT without
    // day 0 (the right-to-be-forgotten contract, no rebuild needed).
    WinnowStore.retireDay(spark, dir, day = 0)
    withStore(dir) {
      assert(WinnowStore.openFresh(union).isEmpty,
        "after retirement the union corpus is correctly stale")
      val idx = WinnowStore.openFresh(day1)
      assert(idx.isDefined, "the remaining day must still serve")
      assert(spansVia(day1, idx.get) ==
        spansVia(day1, SubstringDedup.charWinnowOf(day1)),
        "retired-day probe must equal a from-scratch index without that day")
    }
  }

  test("retiring the last live day serves an empty index for an empty history") {
    val dir = tmpDir("winnow_empty")
    WinnowStore.build(day0, dir, day = 0)
    Caches.releaseAll()
    WinnowStore.retireDay(spark, dir, day = 0)
    withStore(dir) {
      // The store now has zero live days: meta sums to (0, 0). An empty
      // offered history matches that digest, so the index is served as
      // a typed empty relation (an empty fps/ dir has no schema to
      // infer — this used to NPE inside the meta agg and log
      // "unreadable (null)").
      val emptyHist = Seq.empty[(Long, String)].toDF("doc_id", "text")
      val idx = WinnowStore.openFresh(emptyHist)
      assert(idx.isDefined, "zero live days + empty history = fresh empty index")
      assert(idx.get.columns.toSeq == Seq("doc_id", "fp"))
      assert(idx.get.count() == 0)
      // A non-empty history is correctly stale against the empty store.
      assert(WinnowStore.openFresh(day0).isEmpty)
    }
  }

  test("an orphan day (payload written, meta never committed) is not served") {
    // A crashed or fenced advance of day 1: fps/day=1 lands, its meta
    // row never does. Offered the pre-advance history, the store still
    // digests fresh — and must serve exactly the day-0 index.
    val dir = tmpDir("winnow_orphan")
    WinnowStore.build(day0, dir, day = 0)
    Caches.releaseAll()
    def fps(idx: DataFrame) =
      idx.select("doc_id", "fp").as[(Long, Long)].collect().toSet
    val day0Fps = withStore(dir)(fps(WinnowStore.openFresh(day0).get))
    SubstringDedup.charWinnowOf(day1).withColumn("day", lit(1))
      .write.mode("append").partitionBy("day").parquet(s"$dir/fps")
    Caches.releaseAll()
    withStore(dir) {
      val idx = WinnowStore.openFresh(day0)
      assert(idx.isDefined, "the pre-advance history is still exactly covered")
      assert(fps(idx.get) == day0Fps, "the orphan day's fingerprints must not be served")
    }
  }

  test("q152 consults the store when configured and fresh for its history half") {
    // q152's contract: fresh = odd doc_id, history = even. Build the
    // store for exactly the even half of the fixture corpus.
    val corpus = day0.unionByName(day1).unionByName(fresh)
    val dirC = tmpDir("winnow_q152src")
    corpus.write.parquet(s"$dirC/documents.parquet")
    val hist = spark.read.parquet(s"$dirC/documents.parquet")
      .where(col("doc_id") % 2 === 0).select("doc_id", "text")
    val direct = SubstringDedup.q152SubstringProbe(spark, dirC)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    Caches.releaseAll()
    val dir = tmpDir("winnow_q152")
    WinnowStore.build(hist, dir)
    Caches.releaseAll()
    withStore(dir) {
      assert(WinnowStore.openFresh(hist).isDefined)
      val got = SubstringDedup.q152SubstringProbe(spark, dirC)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      Caches.releaseAll()
      assert(got == direct, "q152 through the maintained store must match the direct path")
    }
  }
}
