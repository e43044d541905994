package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Dedup-suite semantics that the oracle rows can't pin: posting-list
  * boundedness under a viral shingle, LSH recall against the exact
  * pairs, fast-hash/parity-hash equivalence, and Hamming verification
  * of SimHash candidates.
  */
class DedupSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.01"

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** 200 docs all opening with the same boilerplate 3-gram, otherwise
    * unique — plus one genuine clone pair with distinctive text. */
  private lazy val viralDocs = {
    import spark.implicits._
    val boiler = (0 until 200).map { i =>
      (i.toLong, s"all rights reserved u${i}a u${i}b u${i}c u${i}d u${i}e")
    }
    val cloneText = "the quick brown fox jumps over the lazy dog tonight"
    (boiler :+ (1000L, cloneText) :+ (1001L, cloneText)).toDF("doc_id", "text")
  }

  test("shingle df cap bounds every posting list under a viral shingle") {
    val sh = DedupQueries.rowsOf(DedupQueries.shinglesOf(viralDocs))
    val maxDf = sh.groupBy("sh").count().agg(max("count")).head().getLong(0)
    assert(maxDf <= DedupQueries.MaxShingleDf,
      s"a shingle survived with df=$maxDf > cap — self-join fan-out unbounded")
  }

  test("the cap drops boilerplate but still finds genuine clone pairs") {
    assert(pairs(DedupQueries.ngramJaccardOn(viralDocs)) == Set((1000L, 1001L)))
    assert(pairs(DedupQueries.minhashLshOn(viralDocs)) == Set((1000L, 1001L)))
  }

  test("LSH recall >= 95% of the exact n-gram Jaccard pairs at sf0.01") {
    val exact = pairs(DedupQueries.ngramJaccard(spark, Dir))
    val lsh = pairs(DedupQueries.minhashLsh(spark, Dir))
    assert(exact.nonEmpty, "testdata must contain near-dup pairs")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.95, s"LSH recall $recall over ${exact.size} exact pairs")
  }

  test("fast xxhash64 LSH finds the same verified pairs as the md5 parity path") {
    val md5Pairs = pairs(DedupQueries.minhashLsh(spark, Dir))
    val fastPairs = pairs(DedupQueries.minhashLshFast(spark, Dir))
    assert(fastPairs == md5Pairs,
      s"fast-path missed ${(md5Pairs -- fastPairs).size}, invented ${(fastPairs -- md5Pairs).size}")
  }

  test("q76 fast simhash: clones pair at hamming 0, unique-token docs never pair") {
    import spark.implicits._
    val cloneText = "the quick brown fox jumps over the lazy dog tonight"
    val docs = ((0 until 40).map { i =>
      (i.toLong, (0 until 12).map(j => s"tok${i}x$j").mkString(" "))
    } :+ (1000L, cloneText) :+ (1001L, cloneText)).toDF("doc_id", "text")
    val got = DedupQueries.simhashNearDupFastOn(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got.get((1000L, 1001L)).contains(0L),
      s"identical docs must pair with hamming 0: $got")
    assert(got.keySet == Set((1000L, 1001L)),
      s"docs with disjoint token sets must not survive the hamming verify: $got")
    graft.core.Caches.releaseAll()
  }

  test("both simhash paths find every identical-token-set pair with hamming 0 at sf0.01") {
    import graft.functions.TextExprs
    // Ground truth: docs whose DISTINCT token sets are identical have
    // identical fingerprints under ANY per-token hash — both paths must
    // report them at hamming 0 (all four bands collide by construction).
    val truth = graft.core.Tables(spark, Dir, "documents")
      .select(col("doc_id"),
        array_sort(array_distinct(TextExprs.tokens(col("text")))).as("s"))
      .groupBy("s").agg(collect_list("doc_id").as("ids"))
      .where(size(col("ids")) > 1)
      .select("ids").collect()
      .flatMap { r =>
        val ids = r.getSeq[Long](0).sorted
        for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
      }.toSet
    assert(truth.nonEmpty, "sf0.01 documents must contain exact duplicates")
    val parityZero = pairs(DedupQueries.simhashNearDup(spark, Dir).where(col("hamming") === 0))
    val fastZero = pairs(DedupQueries.simhashNearDupFast(spark, Dir).where(col("hamming") === 0))
    assert(truth.subsetOf(parityZero),
      s"parity path missed ${(truth -- parityZero).size} identical-set pairs")
    assert(truth.subsetOf(fastZero),
      s"fast path missed ${(truth -- fastZero).size} identical-set pairs")
    graft.core.Caches.releaseAll()
  }

  test("simhash Hamming pairing verifies candidates with popcount(xor)") {
    import spark.implicits._
    // fingerprints with known pairwise Hamming: (0,1)=1, (1,2)=3, (0,2)=4
    val fp = Seq(
      (0L, "0000000000000000"),
      (1L, "0000000000000001"),
      (2L, "000000000000000f")).toDF("doc_id", "simhash")
    assert(pairs(DedupQueries.simhashNearDupOn(fp)) == Set((0L, 1L), (1L, 2L)))
  }

  /** The deletion-neighborhood block must catch every edit KIND at
    * distance 1 — substitution, insert, delete — on names of any shape
    * and length (the old digit-mask block silently missed
    * length-changing edits and 10+-digit names). */
  test("fuzzy match finds substitution, insert, and delete typos on any name shape") {
    import spark.implicits._
    val customers = Seq(
      (1L, "Customer#000000001"),  // base
      (2L, "Customer#000000002"),  // substitution of 1 (dist 1)
      (3L, "Customer#0000000011"), // digit INSERTED vs 1 (dist 1, longer)
      (4L, "Customer#00000001"),   // digit DELETED vs 1 (dist 1, shorter)
      (5L, "Customer#9999999999"), // 10-digit name, no partner
      (6L, "alice"),               // arbitrary shape
      (7L, "alice"),               // identical (dist 0)
      (8L, "alicia"),              // dist 2 from alice — must NOT match
      (9L, "malice")               // insert at front of alice (dist 1)
    ).toDF("c_custkey", "c_name")
    val got = DedupQueries.fuzzyNameMatchOn(customers)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 3L), (1L, 4L), (6L, 7L), (6L, 9L), (7L, 9L)),
      s"got $got")
  }

  test("winnowing guarantees a shared fingerprint for any 6-token overlap") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta" // 6 tokens = ShingleN+W-1
    val docs = Seq(
      (1L, s"one two three four five $shared"),
      (2L, s"$shared six seven eight nine ten"),
      (3L, "completely different words with no run in common at all")).toDF("doc_id", "text")
    val fps = DedupQueries.winnowOn(docs).collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty,
      "the winnowing guarantee: a >= ShingleN+W-1 token overlap must share a fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty,
      "disjoint texts must not collide on 32-bit fingerprints")
  }

  test("native simhash_fold equals the 64-aggregate reference bit-for-bit on real docs") {
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val agg = DedupQueries.simhashFastOn(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = DedupQueries.simhashFastNative(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(agg.nonEmpty && agg == native,
      "fold order can't matter (commutative votes) — any diff is a hashing/bit bug")
    // and the native path must be a pure projection: no exchange at all
    val plan = DedupQueries.simhashFastNative(docs)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("simhash_fold"), s"native expression missing:\n$plan")
    assert(!plan.contains("Exchange"),
      s"signatures must not shuffle — scan → project only:\n$plan")
  }

  test("token-less docs (empty/null text) get NO fingerprint in either simhash path") {
    import spark.implicits._
    // Two empty and one null doc alongside real text: BOTH fast paths
    // must drop them before fingerprinting. Unfiltered, `split("")` is
    // `[""]`, so every no-content doc lands the identical fingerprint
    // and the q76 band join goes quadratic in their count; the raw
    // native fold additionally emitted a null-fingerprint row for null
    // text where explode emitted nothing.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""), (3L, ""), (4L, null.asInstanceOf[String]),
      (5L, "an entirely different document about spark engines"))
      .toDF("doc_id", "text")
    val agg = DedupQueries.simhashFastOn(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = DedupQueries.simhashFastNative(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(agg.keySet == Set(1L, 5L), s"aggregate path fingerprinted $agg")
    assert(native == agg, "the two fast paths must drop token-less docs identically")
    // and the banded near-dup join must not pair the empty docs
    val pairs = DedupQueries.simhashNearDupFastOn(docs)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists(p => Set(2L, 3L, 4L)(p._1) || Set(2L, 3L, 4L)(p._2)),
      s"no-content docs must not appear as near-dups: $pairs")
  }

  // ----------------------------------------------------------- q132
  test("q132: no near-dup pair straddles a split — the leakage guarantee") {
    val split = DedupQueries.clusterSplit(spark, Dir)
    assert(split.count() == 500)
    val bySplit = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")), bySplit.toString)
    assert(bySplit("train") > bySplit.getOrElse("val", 0L) &&
      bySplit("train") > bySplit.getOrElse("test", 0L), s"90/5/5 skew: $bySplit")
    // Every exact-Jaccard near-dup pair — the edges q42 clusters over,
    // including transitive chains via the shared cluster id — lands on
    // one side: zero pairs with differing splits.
    val s1 = split.select(col("doc_id").as("d1"), col("split").as("sp1"))
    val s2 = split.select(col("doc_id").as("d2"), col("split").as("sp2"))
    val straddling = DedupQueries.ngramJaccard(spark, Dir)
      .join(s1, "d1").join(s2, "d2")
      .where(col("sp1") =!= col("sp2")).count()
    graft.core.Caches.releaseAll()
    assert(straddling == 0, s"$straddling near-dup pairs leak across splits")
  }

  // ----------------------------------------------------------- q138
  test("q138: the band-geometry audit prices both knobs — full recall, sub-1 candidate precision") {
    val r = DedupQueries.q138LshRecall(spark, Dir).collect().head
    graft.core.Caches.releaseAll()
    val (nExact, nCand, nFound) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nExact > 0, "testdata must contain near-dup pairs")
    assert(r.getDouble(3) == 1.0, s"10×2 banding recalls every J≥0.8 pair here: $r")
    assert(nFound == nExact, s"found ⊆ exact and recall 1 ⇒ equality: $r")
    assert(nCand >= nFound, s"candidates superset the survivors: $r")
    assert(r.getDouble(4) <= 1.0 && r.getDouble(4) > 0.0, r.toString)
  }

  test("q138's fused counts equal the separate q17 exact pairs and q18 verified candidates") {
    val r = DedupQueries.q138LshRecall(spark, Dir).collect().head
    graft.core.Caches.releaseAll()
    val nExact = DedupQueries.ngramJaccard(spark, Dir).count()
    graft.core.Caches.releaseAll()
    val nFound = DedupQueries.minhashLsh(spark, Dir).count()
    graft.core.Caches.releaseAll()
    assert(r.getLong(0) == nExact, s"n_exact vs q17's pair count $nExact: $r")
    assert(r.getLong(2) == nFound, s"n_found vs q18's pair count $nFound: $r")
  }

  // ----------------------------------------------------------- q141
  test("q141: the signature estimator tracks exact Jaccard within theory bounds") {
    val rows = DedupQueries.q141MinhashEst(spark, Dir).collect()
      .map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    graft.core.Caches.releaseAll()
    assert(rows.nonEmpty)
    rows.foreach { case (j, est, err) =>
      assert(est >= 0.0 && est <= 1.0, s"est out of range: $est")
      // sd = √(J(1−J)/20) ≈ 0.09 at J=0.8; measured max 0.045 at
      // sf0.01 — 0.2 is a >2σ headroom floor, not a tight pin
      assert(err <= 0.2, s"estimator error blew past theory: j=$j est=$est err=$err")
    }
    // identical shingle sets (J = 1) have identical signatures: est = 1
    rows.filter(_._1 == 1.0).foreach { case (_, est, err) =>
      assert(est == 1.0 && err == 0.0, s"J=1 pair must estimate exactly 1: $est")
    }
  }

  test("per-document minhash signatures equal the 20-aggregate formulation in both hash modes") {
    // The reference: per-shingle base hashes as columns (the md5 pair
    // is the spelling the DuckDB oracles use), then 20 min aggregates
    // per doc_id over the exploded rows — the formulation the native
    // per-set expression replaces.
    val kmPrime = 1125899906842597L
    val sh = spark.read.parquet(s"$Dir/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("sh")).distinct()
    val sets = sh.groupBy("doc_id").agg(collect_set("sh").as("shs"))
    def hashes(fast: Boolean): Seq[org.apache.spark.sql.Column] =
      if (fast) Seq(pmod(xxhash64(col("sh")), lit(kmPrime)).as("h1"),
        pmod(xxhash64(col("sh"), lit(1L)), lit(kmPrime)).as("h2"))
      else {
        val hex = md5(col("sh").cast("binary"))
        Seq(conv(substring(hex, 1, 12), 16, 10).cast("long").as("h1"),
          conv(substring(hex, 17, 12), 16, 10).cast("long").as("h2"))
      }
    def bySig(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> (1 to 20).map(r.getLong).toSeq).toMap
    for (fast <- Seq(true, false)) {
      val aggs = (0 until 20).map(i =>
        min(pmod(col("h1") + lit(i.toLong) * col("h2"), lit(kmPrime))).as(s"s$i"))
      val viaColumns = bySig(sh.select(col("doc_id") +: hashes(fast): _*)
        .groupBy("doc_id").agg(aggs.head, aggs.tail: _*))
      val viaNative = bySig(DedupQueries.sigsOf(sets, fastHash = fast))
      assert(viaNative.size == viaColumns.size && viaNative.nonEmpty, s"fast=$fast")
      assert(viaNative == viaColumns,
        s"fast=$fast: the per-set expression must reproduce every signature bit-for-bit")
    }
    // and the signature pass is a narrow map over the sets: no exchange
    val scanned = spark.range(4).select(col("id").as("doc_id"),
      array(lit("a b c"), concat(lit("b c "), col("id").cast("string"))).as("shs"))
    val plan = DedupQueries.sigsOf(scanned, fastHash = false).queryExecution.executedPlan.toString()
    assert(plan.contains("minhash_sigs") && !plan.contains("Exchange"),
      s"signatures must not shuffle:\n$plan")
  }

  // ------------------------------------------- doc-keyed shingle sets
  test("a document with an empty capped set gets no signature or band row") {
    import spark.implicits._
    // 140 documents open with the same boilerplate 3-gram (df 142 > the
    // cap); docs 500/501 are nothing BUT that 3-gram, so their capped
    // sets are empty; three more have under three tokens or no text.
    val boiler = (0 until 140).map(i => (i.toLong, s"all rights reserved u${i}a u${i}b"))
    val cloneText = "the quick brown fox jumps over the lazy dog tonight"
    val docs = (boiler ++ Seq(
      (500L, "all rights reserved"), (501L, "all rights reserved"),
      (1L << 40, "too short"), ((1L << 40) + 1, ""), ((1L << 40) + 2, null.asInstanceOf[String]),
      (1000L, cloneText), (1001L, cloneText))).toDF("doc_id", "text")
    val empty = Set(500L, 501L, 1L << 40, (1L << 40) + 1, (1L << 40) + 2)
    val sets = DedupQueries.shinglesOf(docs)
    val setIds = sets.select("doc_id").as[Long].collect().toSet
    assert((setIds & empty).isEmpty, s"empty capped sets must have no row: ${setIds & empty}")
    assert(sets.where(col("n") <= 0).count() == 0)
    val bands = DedupQueries.bandsOf(sets, fastHash = false)
    assert(bands.where(col("doc_id").isin(empty.toSeq: _*)).count() == 0)
    assert(bands.where(col("bk") === "" || col("bk").isNull).count() == 0,
      "no band key may be built from a missing signature")
    // the two all-boilerplate docs are identical, yet never candidates
    assert(pairs(DedupQueries.minhashLshOn(docs)) == Set((1000L, 1001L)))
    graft.core.Caches.releaseAll()
  }

  test("a doc_id repeated across rows gets the union of its rows' shingle sets") {
    import spark.implicits._
    // DuckDB's `SELECT DISTINCT doc_id, sh` unions doc 1's two rows:
    // {a b c, b c d} ∪ {c d e, d e f} is doc 2's set exactly (J = 1).
    val docs = Seq((1L, "a b c d"), (1L, "c d e f"), (2L, "a b c d e f"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val sets = DedupQueries.shinglesOf(docs)
      .select("doc_id", "n").as[(Long, Long)].collect().toMap
    assert(sets == Map(1L -> 4L, 2L -> 4L, 3L -> 2L), s"one row per doc_id: $sets")
    val got = DedupQueries.ngramJaccardOn(docs).select("d1", "d2", "inter", "un", "jaccard")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 4L, 4L, 1.0)), s"q17 over the union: $got")
    assert(pairs(DedupQueries.minhashLshOn(docs)) == Set((1L, 2L)))
    assert(DedupQueries.sigsOf(DedupQueries.shinglesOf(docs), fastHash = false)
      .where(col("doc_id") === 1L).count() == 1, "one signature per doc_id")
    graft.core.Caches.releaseAll()
  }

  test("q42's components are the same through the driver union-find and the distributed loop") {
    val edges = DedupQueries.ngramJaccard(spark, Dir).select(col("d1").as("src"), col("d2").as("dst"))
    def labels(maxDriverEdges: Long) = GraphOps.connectedComponents(edges, maxDriverEdges = maxDriverEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = labels(5000000L)
    val distributed = labels(1L)
    graft.core.Caches.releaseAll()
    assert(local.exists { case (id, l) => id != l }, "sf0.01 must hold a non-trivial component")
    assert(distributed == local)
  }

  // ----------------------------------------------------------- q146
  test("q146: an excerpt is caught by containment exactly where Jaccard dedup is blind") {
    // Doc 1 = 10 tokens, doc 2 = those 10 + 30 more: every shingle of
    // doc 1 appears in doc 2 → containment 1.0, but J = 8/38 ≈ 0.21 —
    // invisible to the q17/q18 threshold. Docs 3/4 are J=1 twins: the
    // near-dup tier owns them, q146 must NOT report them. Doc 5 is
    // unrelated.
    import spark.implicits._
    val short = (1 to 10).map(i => s"w$i").mkString(" ")
    val long = ((1 to 10) ++ (100 to 129)).map(i => s"w$i").mkString(" ")
    val other = (200 to 220).map(i => s"w$i").mkString(" ")
    val got = DedupQueries.q146ContainmentOn(Seq(
      (1L, short), (2L, long), (3L, other), (4L, other),
      (5L, (300 to 320).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5), r.getDouble(6)))
    graft.core.Caches.releaseAll()
    assert(got.length == 1, s"exactly the excerpt pair: ${got.mkString(";")}")
    val (contained, container, cont, j) = got.head
    assert(contained == 1L && container == 2L, got.head.toString)
    assert(cont == 1.0, s"full containment: $cont")
    assert(j < 0.8, s"and a Jaccard the near-dup tier ignores: $j")
  }

  test("containment probe vs the persisted store: recall floor at the 0.9 threshold") {
    // Five excerpt families: container = 40 tokens, excerpt = its first
    // 12 tokens (containment 1.0, J = 10/38 ≈ 0.26 — invisible to the
    // near-dup tier). Plus a J=1 twin pair (the near-dup tier's case:
    // the probe must NOT report it) and an unrelated fresh doc.
    import spark.implicits._
    import graft.sources.SignatureStore
    def fam(f: Int) = (1 to 40).map(i => s"f${f}w$i")
    val indexDocs = (1 to 5).map(f => (f.toLong, fam(f).mkString(" "))) ++ Seq(
      (6L, (500 to 540).map(i => s"t$i").mkString(" ")),
      (7L, (500 to 540).map(i => s"t$i").mkString(" ")))
    val freshDocs = (1 to 5).map(f => (100L + f, fam(f).take(12).mkString(" "))) ++ Seq(
      (106L, (600 to 620).map(i => s"t$i").mkString(" ")),
      (107L, (500 to 540).map(i => s"t$i").mkString(" "))) // twin of 6/7: J=1, not containment
    val index = indexDocs.toDF("doc_id", "text")
    val fresh = freshDocs.toDF("doc_id", "text")
    val all = index.unionByName(fresh)

    val dir = tmpDir("sigstore_containment")
    SignatureStore.build(index, dir)
    graft.core.Caches.releaseAll()
    val idxSigs = spark.read.parquet(s"$dir/sigs")

    val exhaustive = DedupQueries.q146ContainmentOn(all)
      .where(col("contained") >= 100L) // the fresh-vs-index slice the probe covers
      .select("contained", "container").as[(Long, Long)].collect().toSet
    graft.core.Caches.releaseAll()
    assert(exhaustive.size == 5, s"fixture must plant 5 excerpt pairs: $exhaustive")

    val probed = DedupQueries.containmentProbeIndexed(all, fresh, idxSigs)
      .select("contained", "container").as[(Long, Long)].collect().toSet
    graft.core.Caches.releaseAll()
    assert(probed.subsetOf(exhaustive),
      s"probe must report only true containment pairs: ${probed -- exhaustive}")
    val recall = probed.size.toDouble / exhaustive.size
    assert(recall >= 0.9, s"r=1 banding must clear the recall floor: $recall ($probed)")
    assert(!probed.exists { case (a, b) => Set(a, b).intersect(Set(6L, 7L, 107L)).nonEmpty },
      s"J=1 twins belong to the near-dup tier, not the containment probe: $probed")
  }

  // ------------------------------------------------------ q142/q143
  test("q142: per-source dup audit conserves documents and bounds rates") {
    val rows = DedupQueries.q142DupBySource(spark, Dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(rows.map(_._1).sum == 500, "every document lands in exactly one source row")
    rows.foreach { case (n, u, rate, dupChars) =>
      assert(u <= n && rate >= 0.0 && rate < 1.0, s"$n $u $rate")
      assert((u == n) == (rate == 0.0), "rate 0 iff all texts unique")
      assert(dupChars >= 0L)
    }
  }

  test("q143: split balance conserves docs and tokens; train dominates the shares") {
    val rows = DedupQueries.q143SplitBalance(spark, Dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    graft.core.Caches.releaseAll()
    assert(rows.values.map(_._1).sum == 500)
    val shareSum = rows.values.map(_._3).sum
    assert(math.abs(shareSum - 1.0) < 3e-6, s"token shares must normalize: $shareSum")
    assert(rows("train")._3 > rows.getOrElse("val", (0L, 0L, 0.0))._3 &&
      rows("train")._3 > rows.getOrElse("test", (0L, 0L, 0.0))._3,
      s"the 90-bucket split should dominate tokens too: $rows")
  }

  // ----------------------------------------------------------- q182
  test("q182: effective size re-derives from q42 keepers; cross-source clusters credit the keeper") {
    import spark.implicits._
    // the real corpus: cells must re-derive from q42's keeper set
    val cells = DedupQueries.q182EffectiveSize(spark, Dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    graft.core.Caches.releaseAll()
    val docs = spark.read.parquet(s"$Dir/documents.parquet")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val keepers = DedupQueries.dedupClusters(spark, Dir).collect()
      .filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    graft.core.Caches.releaseAll()
    val wantRaw = docs.values.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val wantEff = docs.filter(kv => keepers(kv._1)).values
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    cells.foreach { case (src, (_, raw, eff)) =>
      assert(raw == wantRaw(src), s"$src raw")
      assert(eff == wantEff.getOrElse(src, 0L), s"$src effective")
      assert(eff <= raw)
    }
    assert(cells.values.map(_._3).sum == wantEff.values.sum,
      "effective mass is exactly the q42 keeper mass")

    // hand fixture: a near-dup cluster spanning two sources credits the
    // keeper's source; the duplicate-holding source is discounted
    val base = Iterator.from(0).map(i => s"w$i").take(40).mkString(" ")
    val nearDup = base.split(" ").dropRight(1).mkString(" ") + " zz"
    val other = Iterator.from(100).map(i => s"v$i").take(40).mkString(" ")
    val d = Seq(
      (1L, "srcA", base),     // keeper (min doc_id in its cluster)
      (2L, "srcB", nearDup),  // near-dup of 1 under another source
      (3L, "srcB", other)     // unique
    ).toDF("doc_id", "source", "text")
    val got = DedupQueries.effectiveSizeOn(d).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    graft.core.Caches.releaseAll()
    assert(got("srcA") == ((40L, 40L, 0.0)), s"srcA keeps everything: $got")
    val (rawB, effB, discB) = got("srcB")
    assert(rawB == 80L && effB == 40L,
      s"srcB's duplicate mass credits the srcA keeper: $got")
    assert(math.abs(discB - 0.5) < 1e-12)
  }
}
