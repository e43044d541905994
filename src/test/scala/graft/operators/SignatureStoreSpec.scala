package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Caches
import graft.sources.SignatureStore

/** The shared signature store: the dedup tier reads materialized
  * shingles/signatures when a store is configured AND fresh for the
  * exact corpus offered, falls back to direct computation otherwise,
  * and maintains day-over-day without ever re-reading prior days'
  * source data (the bloom-index carry contract, applied to the LSH
  * tier).
  */
class SignatureStoreSpec extends SparkSpec {
  import spark.implicits._

  // Same fixture shape as IncrementalDedupSpec: 1~2 and 10~1, 15~1 are
  // near-dup pairs; 3 and 20 are unrelated.
  private val base = (1 to 40).map(i => s"w$i").mkString(" ")
  private def corpusDf = Seq(
    (1L, base + " tail one"),
    (2L, base + " tail two"),
    (3L, "completely different text about nothing shared at all here"),
    (10L, base + " tail one x"),
    (15L, base + " tail one y"),
    (20L, "another unrelated fresh document with its own words entirely"))
    .toDF("doc_id", "text")

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("d1", "d2").as[(Long, Long)].collect().toSet

  private def withStore[T](dir: String, trust: Boolean = false)(body: => T): T = {
    spark.conf.set(SignatureStore.DirKey, dir)
    if (trust) spark.conf.set(SignatureStore.TrustKey, "true")
    try body
    finally {
      spark.conf.unset(SignatureStore.DirKey)
      spark.conf.unset(SignatureStore.TrustKey)
      Caches.releaseAll()
    }
  }

  test("store-backed q17 and q40 reproduce the direct results exactly") {
    val corpus = corpusDf
    val directJaccard = pairsOf(DedupQueries.ngramJaccardOn(corpus))
    val directFast = pairsOf(DedupQueries.minhashLshOn(corpus, fastHash = true))
    Caches.releaseAll()
    assert(directJaccard.nonEmpty, "fixture must contain near-dup pairs")

    val dir = tmpDir("sigstore")
    SignatureStore.build(corpus, dir)
    Caches.releaseAll()
    withStore(dir) {
      assert(SignatureStore.openFresh(corpus).isDefined, "store must be fresh")
      assert(pairsOf(DedupQueries.ngramJaccardOn(corpus)) == directJaccard)
      Caches.releaseAll()
      // Fast path rides the STORED signatures — and the store actually
      // feeds the plan (its parquet path appears in the scan).
      val viaStore = DedupQueries.minhashLshOn(corpus, fastHash = true)
      assert(pairsOf(viaStore) == directFast)
      val p = viaStore.queryExecution.executedPlan.toString()
      assert(p.contains(dir.replace("\\", "/").stripPrefix("/")) || p.contains(dir),
        s"fast path must read the materialized store, not recompute:\n$p")
    }
  }

  test("a stale store is detected and silently falls back to direct computation") {
    val corpus = corpusDf
    val dir = tmpDir("sigstore_stale")
    SignatureStore.build(corpus, dir)
    Caches.releaseAll()
    // The corpus then changes: one doc mutated (same ids — only content
    // differs, the case a row-count freshness check would MISS).
    val mutated = corpusDf.withColumn("text",
      when(col("doc_id") === 3L, lit(base + " tail three")).otherwise(col("text")))
    withStore(dir) {
      assert(SignatureStore.openFresh(mutated).isEmpty,
        "digest must catch a content mutation at identical row count")
      // and the query is CORRECT for the mutated corpus: doc 3 is now a
      // near-dup of the base family — a stale store would miss it.
      val got = pairsOf(DedupQueries.ngramJaccardOn(mutated))
      Caches.releaseAll()
      assert(got.exists { case (a, b) => a == 3L || b == 3L },
        s"fallback must compute on the OFFERED corpus: $got")
    }
    // trust mode skips the digest scan and uses the store as-is.
    withStore(dir, trust = true) {
      assert(SignatureStore.openFresh(mutated).isDefined,
        "trust mode must accept the store without a digest scan")
    }
  }

  test("day-over-day: advance never re-reads prior days; retire heals the digest") {
    val day0 = Seq((1L, base + " tail one"), (2L, base + " tail two"),
      (3L, "completely different text about nothing shared at all here"))
      .toDF("doc_id", "text")
    val day1 = Seq((10L, base + " tail one x"),
      (20L, "another unrelated fresh document with its own words entirely"))
      .toDF("doc_id", "text")

    // Day 0's source lands in parquet first — so we can DELETE it later
    // and prove maintenance never goes back to it.
    val srcDir = tmpDir("sigstore_src")
    day0.write.parquet(s"$srcDir/day0")
    val day0FromSource = spark.read.parquet(s"$srcDir/day0")

    val dir = tmpDir("sigstore_days")
    SignatureStore.build(day0FromSource, dir, day = 0)
    Caches.releaseAll()

    // Delete day 0's SOURCE files; advancing day 1 must still work —
    // by construction it only shingles its own batch.
    val fs = new org.apache.hadoop.fs.Path(srcDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$srcDir/day0"), true)
    SignatureStore.advanceDay(day1, dir, day = 1)
    Caches.releaseAll()

    // The store is fresh for the union corpus (XOR digest composes).
    val union = day0.unionByName(day1)
    withStore(dir) {
      val store = SignatureStore.openFresh(union)
      assert(store.isDefined, "digest must compose across days")
      // The stored bands still cover day 0: a probe of day 1's batch
      // finds the cross-day pair 10~1 without any day-0 re-read.
      val probed = pairsOf(DedupQueries.probeIndex(union,
        DedupQueries.bandsOfSigs(store.get.sigs.where(col("doc_id") >= 10L)),
        DedupQueries.bandsOfSigs(store.get.sigs.where(col("doc_id") < 10L))))
      Caches.releaseAll()
      assert(probed.contains((10L, 1L)), s"cross-day pair must surface: $probed")
    }

    // Retire day 0 (takedown): the store becomes fresh for day 1 ALONE
    // and stale for the union — the digest subtracts exactly.
    SignatureStore.retireDay(spark, dir, day = 0)
    withStore(dir) {
      assert(SignatureStore.openFresh(day1).isDefined,
        "after retirement the store serves the remaining corpus")
      assert(SignatureStore.openFresh(union).isEmpty,
        "and is correctly stale for a corpus still containing day 0")
      val left = SignatureStore.openFresh(day1).get.sigs
        .select("doc_id").as[Long].collect().toSet
      assert(left == Set(10L, 20L), s"day-0 signatures must be gone: $left")
    }
  }

  test("an orphan day (payload written, meta never committed) is not served") {
    // A crashed or fenced advance of day 1: shingles/ and sigs/ day=1
    // land, its meta row never does (StoreLease.checkWrite throws at
    // the commit point after the payload writes). Offered the
    // pre-advance corpus, the store still digests fresh — and must
    // serve exactly the day-0 relations.
    val day0 = corpusDf.where(col("doc_id") < 10L)
    val day1 = corpusDf.where(col("doc_id") >= 10L)
    val dir = tmpDir("sigstore_orphan")
    SignatureStore.build(day0, dir, day = 0)
    Caches.releaseAll()
    def rows(s: SignatureStore.Store) =
      (s.shingles.collect().map(_.toString).toSet, s.sigs.collect().map(_.toString).toSet)
    val before = withStore(dir)(rows(SignatureStore.openFresh(day0).get))
    val sh = DedupQueries.shinglesOf(day1)
    sh.withColumn("day", lit(1))
      .write.mode("append").partitionBy("day").parquet(s"$dir/shingles")
    DedupQueries.sigsOf(sh, fastHash = true).withColumn("day", lit(1))
      .write.mode("append").partitionBy("day").parquet(s"$dir/sigs")
    Caches.releaseAll()
    val after = withStore(dir) {
      val store = SignatureStore.openFresh(day0)
      assert(store.isDefined, "the pre-advance corpus is still exactly covered")
      rows(store.get)
    }
    assert(after == before, "the orphan day's shingles and signatures must not be served")
  }

  test("retiring the last live day serves an empty store for an empty corpus") {
    val dir = tmpDir("sigstore_empty")
    SignatureStore.build(corpusDf, dir, day = 0)
    Caches.releaseAll()
    SignatureStore.retireDay(spark, dir, day = 0)
    withStore(dir) {
      // Zero live days: the store digests (0, 0), which an empty corpus
      // matches — a typed empty store, not "unreadable".
      val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      val store = SignatureStore.openFresh(empty)
      assert(store.isDefined, "zero live days + empty corpus = fresh empty store")
      assert(store.get.shingles.columns.toSeq == Seq("doc_id", "sh"))
      assert(store.get.sigs.columns.toSeq == "doc_id" +: (0 until 20).map(i => s"s$i"))
      assert(store.get.shingles.count() == 0 && store.get.sigs.count() == 0)
      // a non-empty corpus is correctly stale against the empty store
      assert(SignatureStore.openFresh(corpusDf).isEmpty)
    }
  }
}
