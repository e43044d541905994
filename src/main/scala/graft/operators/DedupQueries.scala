package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Caches, Par, Tables}
import graft.functions.TextExprs
import graft.sources.SignatureStore

/** Deduplication operators over the `documents` table — the LLM
  * training-data-pipeline surface (BASELINE.json north star): exact
  * hash dedup, n-gram Jaccard near-dup, MinHash+LSH near-dup, SimHash
  * fingerprints + Hamming pairing, and normalized content
  * fingerprinting.
  *
  * Scale design: every per-document computation is a narrow map; the only
  * shuffles are (a) groupBy(hash) for exact dedup — uniformly distributed
  * keys, no skew — and (b) the shingle/band self-joins, whose fan-out is
  * bounded by the shingle document-frequency cap and LSH band width
  * rather than O(N²). Brute-force pair enumeration never happens outside
  * LSH candidate buckets, which is what makes the approach viable at
  * 100 TB: candidates ∝ Σ bucket², not N².
  */
object DedupQueries {

  private val ShingleN = 3
  private val MinhashSeeds = 20
  private val BandRows = 2 // 10 bands × 2 rows — ~1.0 recall at J≥0.8

  /** Document-frequency cap for shingles. One boilerplate n-gram ("all
    * rights reserved") shared by d documents contributes d² rows to the
    * inverted-index self-join — the single way these plans go quadratic
    * on a real corpus. Shingles above the cap carry no discriminative
    * signal for J ≥ 0.8 near-dup decisions, so they are dropped from the
    * shingle SET itself (sizes, intersections, signatures — and both
    * DuckDB oracles — all see the same capped sets), which bounds every
    * posting list and hence every join fan-out at cap². */
  private[operators] val MaxShingleDf = 128

  /** Kirsch–Mitzenmacher modulus (largest prime < 2^50). The mod is not
    * optional: without it, `h1 + i·h2` for growing i degrades into
    * ordering by h2 alone, so every signature picks the same min-h2
    * shingle and short documents lose all band diversity (observed:
    * J=0.92 pairs missed at sf0.1). Values stay < 2^53, so the
    * arithmetic is exact in both engines. */
  private val KmPrime = 1125899906842597L
  private val JaccardThreshold = 0.8

  /** Widened ([[graft.core.Par.widen]]) and hash-partitioned by
    * doc_id. Shingling and the signature and SimHash passes are
    * CPU-bound per row, so the bytes-sized scan partitioning serializes
    * them on a small-file corpus (r19 profile at sf0.1: the shingle
    * build's map side ran on one task). Keyed by doc_id, so the
    * per-document set union of [[rawSetsOf]] plans no exchange of its
    * own. At scale the scan is already wide — identity. */
  private def docs(spark: SparkSession, dir: String): DataFrame =
    Par.widen(Tables(spark, dir, "documents"), col("doc_id"))

  /** The capped shingle sets, read from the configured
    * [[graft.sources.SignatureStore]] when one is present AND fresh for
    * this exact corpus (digest match), computed directly otherwise.
    * Every shingle consumer (q17/q18/q40/q138/q141/q146/q42-chain) goes
    * through here, so a pipeline that maintains the store pays the
    * corpus-wide shingling and df-cap ONCE per ingest day instead of
    * once per query. Correctness is unconditional: the store was
    * written from [[shinglesOf]] itself, and a stale/missing/foreign
    * store falls back to direct computation. */
  private def shinglesShared(docRel: DataFrame): DataFrame =
    shinglesFrom(SignatureStore.openFresh(docRel), docRel)

  /** The store's shingle rows regrouped into sets, else [[shinglesOf]].
    * The store keeps one row per (doc_id, sh), the layout it has always
    * had, so stores written by any version open alike. The regroup is
    * the store path's one shuffle: the widen keys it by doc_id (the
    * store's parquet reads as one split), the aggregate reuses that
    * partitioning, and its result is the one persist. */
  private def shinglesFrom(store: Option[SignatureStore.Store], docRel: DataFrame): DataFrame =
    store.map(s => Caches.persistTracked(setsOfRows(Par.widen(s.shingles, col("doc_id")))))
      .getOrElse(shinglesOf(docRel))

  /** Distinct word-3-gram shingle set per document, uncapped: (doc_id,
    * shs, n) with n = |shs|, one row per doc_id. Shingling is a per-row
    * map. A doc_id on several rows gets the union of their sets, as
    * DuckDB's `SELECT DISTINCT doc_id, sh` does; that union is an
    * aggregate by doc_id, which plans no exchange over [[docs]]'
    * doc_id-keyed widen. A document under [[ShingleN]] tokens has no
    * row. */
  private def rawSetsOf(docRel: DataFrame): DataFrame =
    withSize(docRel
      .select(col("doc_id"), TextExprs.tokens(col("text")).as("w"))
      .where(size(col("w")) >= ShingleN)
      .groupBy("doc_id")
      .agg(array_distinct(flatten(collect_list(TextExprs.shingles(col("w"), ShingleN))))
        .as("shs")))

  private def withSize(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), col("shs"), size(col("shs")).cast("long").as("n"))

  /** Shingle rows (doc_id, sh) regrouped into sets (doc_id, shs, n). */
  private def setsOfRows(rows: DataFrame): DataFrame =
    withSize(rows.groupBy("doc_id").agg(collect_set(col("sh")).as("shs")))

  /** One row per (document, shingle) with the document's set size:
    * (doc_id, sh, n). A narrow explode of the sets. */
  private[graft] def rowsOf(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(col("shs")).as("sh"), col("n"))

  /** The document-frequency-capped shingle sets: (doc_id, shs, n), one
    * row per document whose capped set is non-empty. Every near-dup
    * consumer reads this one relation: the pair self-join explodes it
    * ([[rowsOf]]), the signatures read each set in place ([[sigsOf]]).
    *
    * Persisted, and the build's only persist: the uncapped sets feed
    * the df count and every consumer, and without materialization each
    * reference would re-shingle the corpus. The cap is a narrow map
    * over them. The viral list (df > cap) is collected and each set
    * drops its members per row (`array_except` against the list as a
    * literal), so the exclusion is map-side and no relation is ever
    * shuffled by `sh` before the self-join. That also dodges the skew
    * trap of a shuffle keyed on `sh` (a keep-join or a count window):
    * it sends every row of a viral shingle to ONE task, the exact
    * blow-up the cap exists to prevent. The viral list is the
    * boilerplate vocabulary, small by construction; the per-row
    * exclusion costs O(|set| + |viral|). (A corpus whose viral
    * vocabulary alone overflows the driver would need a two-level cap;
    * no real boilerplate set comes close.) */
  private[graft] def shinglesOf(docRel: DataFrame): DataFrame = {
    val raw = Caches.persistTracked(rawSetsOf(docRel))
    val viral = raw.select(explode(col("shs")).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .where(col("df") > MaxShingleDf)
      .select("sh").collect().map(_.getString(0))
    if (viral.isEmpty) raw
    else withSize(raw.select(col("doc_id"), array_except(col("shs"), typedLit(viral)).as("shs")))
      .where(col("n") > 0)
  }

  /** The capped-shingle relation as DuckDB SQL CTEs (`sh` = the capped
    * set) — shared prefix of the q17/q18 oracles so both engines always
    * agree on the exact shingle space. */
  private val shingleCtes: String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |           WHERE len(string_split(text, ' ')) >= 3),
       |sh0 AS (SELECT DISTINCT doc_id,
       |  unnest(list_transform(range(len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
       |  FROM t),
       |keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= $MaxShingleDf),
       |sh AS (SELECT sh0.doc_id, sh0.sh FROM sh0 JOIN keep USING (sh))""".stripMargin

  /** Exact Jaccard for pair intersections (d1, n1, d2, n2, inter):
    * (d1, d2, inter, un, jaccard) — integer set math, deterministic.
    * The one spelling of the formula that q17, q18, q138 and the probe
    * paths share. The set sizes arrive with the pairs, so no per-doc
    * size aggregate is joined back. */
  private def withJaccard(inter: DataFrame): DataFrame =
    inter.select(col("d1"), col("d2"), col("inter"),
      (col("n1") + col("n2") - col("inter")).as("un"),
      (col("inter") * lit(1.0) / (col("n1") + col("n2") - col("inter"))).as("jaccard"))

  /** Every pair (d1 < d2) sharing at least one shingle of `sets`:
    * (d1, n1, d2, n2, inter). One self-join of the shingle rows on
    * `sh` (both sides read one exchange); each row carries its
    * document's n, so the sizes ride the count's grouping keys. Pairs
    * sharing zero shingles never appear at all. */
  private def sharedOfSh(sets: DataFrame): DataFrame = {
    val r = rowsOf(sets)
    r.select(col("doc_id").as("d1"), col("sh"), col("n").as("n1"))
      .join(r.select(col("doc_id").as("d2"), col("sh"), col("n").as("n2")), "sh")
      .where(col("d1") < col("d2"))
      .groupBy("d1", "n1", "d2", "n2").agg(count(lit(1)).as("inter"))
  }

  /** Intersections for a candidate pair set (d1, d2) over `sets`:
    * (d1, n1, d2, n2, inter). One doc-keyed join per side and a per-pair
    * set intersection; no shingle rows. A candidate sharing no shingle
    * gets inter 0, which no threshold downstream passes; a candidate
    * without a set drops out. */
  private def interOfCands(cands: DataFrame, sets: DataFrame): DataFrame =
    cands
      .join(sets.select(col("doc_id").as("d1"), col("shs").as("s1"), col("n").as("n1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("shs").as("s2"), col("n").as("n2")), "d2")
      .select(col("d1"), col("n1"), col("d2"), col("n2"),
        size(array_intersect(col("s1"), col("s2"))).cast("long").as("inter"))

  // ------------------------------------------------------------- exact
  /** Exact dedup by content hash: every doc annotated with its group's
    * canonical keeper (lowest doc_id) and duplicate count. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    // Deliberately NOT [[docs]]' widened read: one md5 per document is
    // bytes-bound, not per-char-CPU-bound, so the widen exchange here
    // is pure tax (measured r19: 0.13 s → 0.45 s with it). The shingle
    // family keeps the widen; this exact-hash face keeps the raw scan.
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val groups = d.groupBy("h")
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("group_n"))
    d.join(groups, "h")
      .select(col("doc_id"), col("h"), col("keeper"), col("group_n"),
        (col("doc_id") =!= col("keeper")).as("is_dup"))
  }

  val dedupExactSql: String =
    """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
      |g AS (SELECT h, min(doc_id) AS keeper, count(*) AS group_n FROM d GROUP BY h)
      |SELECT d.doc_id, d.h, g.keeper, g.group_n, d.doc_id != g.keeper AS is_dup
      |FROM d JOIN g USING (h)""".stripMargin

  // ------------------------------------------------- n-gram Jaccard
  /** Near-dup pairs by exact word-3-gram Jaccard ≥ 0.8 over the capped
    * shingle sets, found via the shingle inverted index (pairs sharing
    * ≥1 surviving shingle). */
  private[operators] def ngramJaccardOn(docRel: DataFrame): DataFrame =
    jaccardPairsOfSh(shinglesShared(docRel))

  private def jaccardPairsOfSh(sh: DataFrame): DataFrame =
    sharedPairsOfSh(sh).where(col("jaccard") >= JaccardThreshold)

  /** Every pair (d1 < d2) sharing at least one capped shingle, with its
    * exact Jaccard ([[sharedOfSh]]). */
  private def sharedPairsOfSh(sh: DataFrame): DataFrame = withJaccard(sharedOfSh(sh))

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardOn(docs(spark, dir))

  val ngramJaccardSql: String =
    s"""WITH $shingleCtes,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT d1, d2, inter, s1.n + s2.n - inter AS un,
       |  inter * 1.0 / (s1.n + s2.n - inter) AS jaccard
       |FROM inter JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
       |WHERE inter * 1.0 / (s1.n + s2.n - inter) >= $JaccardThreshold""".stripMargin

  // ----------------------------------------------------- MinHash+LSH
  /** Per-doc MinHash signatures (doc_id, s0..s19) of a set relation
    * (doc_id, shs) — the raw estimator relation q141 audits and
    * [[bandsOf]] folds into band keys.
    *
    * One narrow per-document expression ([[graft.plans.MinHashSigs]])
    * computes all 20 minima of a set in one native pass, no
    * `groupBy(doc_id)`. Parity mode derives both base hashes from ONE
    * md5 (portable to the DuckDB oracle, bit-for-bit); fast mode uses
    * two xxhash64 calls, for production runs where no cross-engine
    * parity is required. `DedupSpec` pins both modes row-identical to
    * the 20-aggregate column formulation. A document without a set has
    * no signature row, so no band key is ever built from nothing. */
  private[graft] def sigsOf(sets: DataFrame, fastHash: Boolean): DataFrame =
    sets
      // On the set, not the signature: a filter on `sig` is pushed below
      // the projection and would compute every signature twice.
      .where(size(col("shs")) > 0)
      .select(col("doc_id"),
        graft.plans.MinHashSigs.sigs(col("shs"), MinhashSeeds, KmPrime, md5 = !fastHash).as("sig"))
      .select(col("doc_id") +:
        (0 until MinhashSeeds).map(i => col("sig").getItem(i).as(s"s$i")): _*)

  /** 10×2 band keys folded from an existing signature relation
    * (doc_id, s0..s19) — the seam that lets stored signatures skip the
    * whole shingle→hash→20-minima pipeline. */
  private[graft] def bandsOfSigs(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until MinhashSeeds / BandRows).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until BandRows).map(r => col(s"s${b * BandRows + r}")): _*).as("bk"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.bk").as("bk"))
  }

  /** LSH band keys for every document of a (capped) shingle set
    * relation: (doc_id, band, bk). This relation IS the near-dup index a
    * pipeline persists between runs — see [[incrementalNearDupOn]]. */
  private[graft] def bandsOf(sh: DataFrame, fastHash: Boolean): DataFrame =
    bandsOfSigs(sigsOf(sh, fastHash))

  /** The banded candidate pair list — the part of the LSH pipeline
    * whose selectivity q138 audits. */
  private def lshCandidatesOfBands(bands: DataFrame): DataFrame =
    bands.select(col("doc_id").as("d1"), col("band"), col("bk"))
      .join(bands.select(col("doc_id").as("d2"), col("band"), col("bk")), Seq("band", "bk"))
      .where(col("d1") < col("d2"))
      .select("d1", "d2").distinct()

  /** MinHash + LSH near-dup, banded 10×2; pairs colliding in any band
    * are candidates, then verified by exact Jaccard ≥ 0.8. The scale
    * path: candidate count is driven by band collisions, never N².
    * Signatures use Kirsch–Mitzenmacher double hashing: one base hash
    * pair per shingle; the i-th hash is `(h1 + i·h2) mod p`. */
  private[graft] def minhashLshOn(docRel: DataFrame,
      fastHash: Boolean = false): DataFrame = {
    // Resolve the store ONCE (one digest scan) for both relations. The
    // fast path reuses stored signatures outright; the md5 parity path
    // recomputes its signatures from the (shared) shingles — the stored
    // sigs are xxhash64, not the oracle-portable md5 formulation.
    val store = SignatureStore.openFresh(docRel)
    val sh = shinglesFrom(store, docRel)
    val bands =
      if (fastHash) store.map(s => bandsOfSigs(s.sigs)).getOrElse(bandsOf(sh, fastHash))
      else bandsOf(sh, fastHash)
    withJaccard(interOfCands(lshCandidatesOfBands(bands), sh))
      .where(col("jaccard") >= JaccardThreshold)
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshOn(docs(spark, dir), fastHash = false)

  /** Production-path LSH (xxhash64 signatures) — same banding and exact
    * verification, no DuckDB-portable hash, so it gets a rows-only
    * driver check; cross-validated against the md5 path and the exact
    * q17 pairs in DedupSpec. */
  def minhashLshFast(spark: SparkSession, dir: String): DataFrame =
    minhashLshOn(docs(spark, dir), fastHash = true)

  /** Q148: the shared-store read path under the ORACLE gate. Exactly
    * q18's semantics, but the shingle relation is materialized to a
    * [[graft.sources.SignatureStore]] (in the JVM temp dir) and read
    * back through the freshness check before banding — so the
    * build→digest→read→band→verify loop is hash-matched against the
    * SAME DuckDB oracle as q18, not just spec-pinned. The store
    * resolution happens eagerly at plan-construction time (openFresh
    * runs its digest actions then), so the conf key is safely unset
    * before the query executes. Uses the md5 parity hash: the stored
    * shingles feed a recomputed oracle-portable signature pipeline. */
  def q148StoreLsh(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // PID-suffixed like the bench scratch root: two concurrent harness
    // JVMs on one machine must not overwrite each other's store mid-read.
    val storeDir = s"${System.getProperty("java.io.tmpdir")}/graft_q148_store_" +
      s"${new java.io.File(dir).getName}_${ProcessHandle.current.pid}"
    // Reclaimed at JVM exit, not in a finally: the returned plan reads
    // the store's parquet lazily, so the files must outlive this method
    // (see TempCleanup's scaladoc for the full lifetime argument).
    graft.core.TempCleanup.registerForExit(storeDir)
    SignatureStore.build(d, storeDir)
    Caches.releaseAll() // free build's internal shingle pins before the read path runs
    spark.conf.set(SignatureStore.DirKey, storeDir)
    try minhashLshOn(d, fastHash = false)
    finally spark.conf.unset(SignatureStore.DirKey)
  }

  /** The q18 banding CTEs (`h`/`sig`/`bands`/`cand`) — shared by the
    * q18 and q138 oracles so both face the identical candidate list. */
  private val lshCandCtes: String = {
    val sigCols = (0 until MinhashSeeds)
      .map(i => s"min((h1 + $i * h2) % $KmPrime) AS s$i").mkString(", ")
    val bandSelects = (0 until MinhashSeeds / BandRows).map { b =>
      val bk = (0 until BandRows).map(r => s"s${b * BandRows + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $bk AS bk FROM sig"
    }.mkString(" UNION ALL ")
    s"""h AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
       |             ('0x' || substr(md5(sh), 17, 12))::BIGINT AS h2 FROM sh),
       |sig AS (SELECT doc_id, $sigCols FROM h GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)""".stripMargin
  }

  val minhashLshSql: String =
    s"""WITH $shingleCtes,
       |$lshCandCtes,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.d1, c.d2, count(*) AS inter
       |  FROM cand c JOIN sh a ON a.doc_id = c.d1 JOIN sh b ON b.doc_id = c.d2 AND b.sh = a.sh
       |  GROUP BY 1, 2)
       |SELECT d1, d2, inter, s1.n + s2.n - inter AS un,
       |  inter * 1.0 / (s1.n + s2.n - inter) AS jaccard
       |FROM inter JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
       |WHERE inter * 1.0 / (s1.n + s2.n - inter) >= $JaccardThreshold""".stripMargin

  // ------------------------------------------------ q138 LSH recall audit
  /** Q138: the recall/selectivity audit of the banded MinHash index —
    * q136's counterpart for the hash-family tier. Compares the banded
    * candidate pipeline (q18's shape) against the exhaustive exact
    * pairs (q17's shape) over the SAME capped shingle sets and reports
    * one row: how many true pairs exist, how many candidates banding
    * proposed, how many survived exact verification, the recall (found
    * true pairs / true pairs — the quality knob the band geometry
    * buys), and the candidate precision (survivors / candidates — the
    * wasted-verification ratio, the COST knob: every non-surviving
    * candidate is an exact-Jaccard computation thrown away).
    *
    * Run at a sampled scale, this is the tuning harness for
    * [[MinhashSeeds]]/[[BandRows]]: more bands raise recall and lower
    * candidate precision; the audit prices both sides. Scale: every
    * relation here is pair-list-sized except the shingle self-join —
    * which is exactly the q17 cost the audit exists to let production
    * AVOID (it is the ground-truth pass, run on samples, like q136's
    * exact arm).
    *
    * Recall is 1.0 at every tested SF with the 10×2 band geometry
    * (DedupSpec's ≥95% floor).
    *
    * One labelled pass: every shingle-sharing pair with its exact
    * Jaccard is full-outer-joined to the flagged banded candidates on
    * (d1, d2), and one aggregate of `count_if`s yields every count. A
    * found pair is a flagged pair at J ≥ 0.8, which is also an exact
    * pair, so `n_hit` (the recall numerator: true pairs the index
    * found) equals `n_found` by construction. A candidate sharing no
    * shingle has no pair row and is never found, as in q18's
    * verification. The independent checks are the DuckDB oracle
    * ([[q138Sql]] counts each relation separately) and `DedupSpec`'s
    * cross-check of `n_exact`/`n_found` against q17/q18. */
  def q138LshRecall(spark: SparkSession, dir: String): DataFrame = {
    val sh = shinglesShared(docs(spark, dir))
    val pairs = sharedPairsOfSh(sh)
      .select(col("d1"), col("d2"), (col("jaccard") >= JaccardThreshold).as("ok"))
    val cands = lshCandidatesOfBands(bandsOf(sh, fastHash = false)).withColumn("c", lit(true))
    val c = coalesce(col("c"), lit(false))
    val ok = coalesce(col("ok"), lit(false))
    cands.join(pairs, Seq("d1", "d2"), "full_outer")
      .agg(count_if(ok).as("n_exact"), count_if(c).as("n_cand"), count_if(c && ok).as("n_found"))
      .select(col("n_exact"), col("n_cand"), col("n_found"),
        round(when(col("n_exact") > 0,
          col("n_found").cast("double") / col("n_exact").cast("double")), 6).as("recall"),
        round(when(col("n_cand") > 0,
          col("n_found").cast("double") / col("n_cand").cast("double")), 6).as("cand_precision"))
  }

  val q138Sql: String =
    s"""WITH $shingleCtes,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |ix AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |ex AS (SELECT d1, d2 FROM ix JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
       |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= $JaccardThreshold),
       |$lshCandCtes,
       |ic AS (SELECT c.d1, c.d2, count(*) AS inter
       |  FROM cand c JOIN sh a ON a.doc_id = c.d1 JOIN sh b ON b.doc_id = c.d2 AND b.sh = a.sh
       |  GROUP BY 1, 2),
       |fnd AS (SELECT ic.d1, ic.d2 FROM ic JOIN sz s1 ON ic.d1 = s1.doc_id JOIN sz s2 ON ic.d2 = s2.doc_id
       |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= $JaccardThreshold),
       |m AS (SELECT
       |    (SELECT count(*) FROM ex) AS n_exact,
       |    (SELECT count(*) FROM cand) AS n_cand,
       |    (SELECT count(*) FROM fnd) AS n_found,
       |    (SELECT count(*) FROM fnd JOIN ex ON fnd.d1 = ex.d1 AND fnd.d2 = ex.d2) AS n_hit)
       |SELECT n_exact, n_cand, n_found,
       |  round(CASE WHEN n_exact > 0
       |    THEN CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) END, 6) AS recall,
       |  round(CASE WHEN n_cand > 0
       |    THEN CAST(n_found AS DOUBLE) / CAST(n_cand AS DOUBLE) END, 6) AS cand_precision
       |FROM m""".stripMargin

  // --------------------------------------------------------- SimHash
  /** 64-bit SimHash per document (hex string) over distinct tokens —
    * near-dup docs land within small Hamming distance; one narrow
    * aggregation, no joins. */
  private[operators] def simhashOn(docRel: DataFrame): DataFrame = {
    val toks = docRel
      .select(col("doc_id"), explode(array_distinct(TextExprs.tokens(col("text")))).as("tok"))
    // Digits materialize as real columns before the aggregation: left
    // inline, each of the 64 vote aggregates would carry (and re-run)
    // its own copy of the md5→substring→conv chain — measured 2.5×
    // slower than aggregating over 16 shared digit attributes.
    val mat = toks.select(
      col("doc_id") +: TextExprs.tokenHexDigits(col("tok")).zipWithIndex
        .map { case (d, j) => d.as(s"d$j") }: _*)
    val digits = (0 until 16).map(j => col(s"d$j"))
    val agged = mat.groupBy("doc_id").agg(
      TextExprs.simhashAggExprs(digits).head,
      TextExprs.simhashAggExprs(digits).tail: _*)
    val votes = (for (j <- 0 until 16; b <- 0 until 4) yield col(s"v_${j}_$b"))
    agged.select(col("doc_id"), TextExprs.simhashAssemble(votes).as("simhash"))
  }

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashOn(docs(spark, dir))

  /** The SimHash fingerprint relation as a DuckDB CTE body (doc_id,
    * simhash) — shared by the q19 and q39 oracles. */
  private val simhashBodySql: String =
    """WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |d AS (SELECT doc_id, tok, md5(tok) AS hex FROM toks),
      |bits AS (SELECT doc_id, j.j, b.b,
      |    CASE WHEN ((strpos('0123456789abcdef', substr(hex, j.j + 1, 1)) - 1) >> (3 - b.b)) & 1 = 1
      |         THEN 1 ELSE -1 END AS v
      |  FROM d, (SELECT unnest(range(16)) AS j) j, (SELECT unnest(range(4)) AS b) b),
      |votes AS (SELECT doc_id, j, b, sum(v) AS s FROM bits GROUP BY 1, 2, 3),
      |nib AS (SELECT doc_id, j,
      |    sum(CASE WHEN s > 0 THEN 1 << CAST(3 - b AS INTEGER) ELSE 0 END) AS nibble
      |  FROM votes GROUP BY 1, 2)
      |SELECT doc_id, string_agg(substr('0123456789abcdef', CAST(nibble AS INTEGER) + 1, 1), '' ORDER BY j) AS simhash
      |FROM nib GROUP BY doc_id""".stripMargin

  val simhashSql: String = simhashBodySql

  // ---------------------------------------- SimHash Hamming pairing
  /** Hamming-distance bound for SimHash near-dup pairs. */
  private val HammingMax = 3

  /** Q39: the query q19's fingerprints exist FOR — near-dup pairs within
    * Hamming distance ≤ [[HammingMax]]. The 64-bit fingerprint is banded
    * into 4×16-bit keys; by pigeonhole, any pair within Hamming ≤ 3
    * agrees exactly on ≥ 1 band, so banded candidate generation is EXACT
    * (never all-pairs), and candidates are verified with
    * popcount(band XOR band) summed across bands. */
  private[operators] def simhashNearDupOn(fp0: DataFrame): DataFrame = {
    // Persisted for the same reason as shinglesOf: the fingerprint
    // relation feeds BOTH sides of the band self-join, and without
    // materialization the whole tokenize+64-vote SimHash pipeline runs
    // twice — at 100 TB, two corpus scans instead of one.
    val fp = Caches.persistTracked(fp0)
    def bandKey(h: Column, b: Int): Column = substring(h, b * 4 + 1, 4)
    val bands = fp.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(b => bandKey(col("simhash"), b)): _*)))
      .select(col("doc_id"), col("simhash"), col("pos").as("band"), col("col").as("bk"))
    val cands = bands
      .select(col("doc_id").as("d1"), col("simhash").as("f1"), col("band"), col("bk"))
      .join(bands.select(col("doc_id").as("d2"), col("simhash").as("f2"),
        col("band"), col("bk")), Seq("band", "bk"))
      .where(col("d1") < col("d2"))
      .select("d1", "d2", "f1", "f2").distinct()
    val hamming = (0 until 4).map { b =>
      bit_count(conv(bandKey(col("f1"), b), 16, 10).cast("long")
        .bitwiseXOR(conv(bandKey(col("f2"), b), 16, 10).cast("long")))
    }.reduce(_ + _)
    cands.withColumn("hamming", hamming.cast("long"))
      .where(col("hamming") <= HammingMax)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  def simhashNearDup(spark: SparkSession, dir: String): DataFrame =
    simhashNearDupOn(simhash(spark, dir))

  // ------------------------------ SimHash fast path (production hash)
  /** 64-bit SimHash per document as a LONG, hashed with codegen'd
    * xxhash64 — ONE hash call per token where the parity path
    * ([[simhashOn]]) pays md5 → 16 × (substring + base-16 conv). The
    * vote aggregates read bits of the shared long directly; same
    * one-aggregation plan shape. */
  private[operators] def simhashFastOn(docRel: DataFrame): DataFrame = {
    val hs = contentful(docRel)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val voteAggs = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), 63 - i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
        .as(s"v$i")
    }
    val agged = hs.groupBy("doc_id").agg(voteAggs.head, voteAggs.tail: _*)
    // Bits are disjoint, so OR-assembly is a chain of selects on the
    // vote columns; bit 0 is 1L << 63 = Long.MinValue — fine, the
    // fingerprint is an opaque 64-bit pattern, not an ordinal.
    val fp = (0 until 64).map { i =>
      when(col(s"v$i") > 0, lit(1L << (63 - i))).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    agged.select(col("doc_id"), fp.as("simhash64"))
  }

  /** The same signature via the native [[graft.plans.SimHashFold]]
    * expression: ONE map-side fold over `transform(tokens, xxhash64)`
    * — scan → project, zero exchanges, where the aggregate formulation
    * above shuffles a (doc, hash) row per token. Kept both: the
    * aggregate path is the independent reference DedupSpec pins the
    * native fold against (bit-identical fingerprints — votes are
    * commutative integer sums, so fold order can't matter).
    *
    * Both fast paths share [[contentful]]'s pre-filter: a doc whose
    * distinct token set is empty or just `""` (null text, empty text,
    * whitespace-only text — `split` turns `""` into `[""]`) gets NO
    * fingerprint. Without it, every no-content doc lands the identical
    * fingerprint and the q76 band join goes quadratic in their count —
    * a million empty docs is a trillion candidate pairs. Exact dedup
    * (q16) is where byte-identical empties belong. */
  private[graft] def simhashFastNative(docRel: DataFrame): DataFrame =
    contentful(docRel)
      .select(col("doc_id"),
        graft.plans.SimHashExpression.simhashFold(
          transform(col("toks"), t => xxhash64(t))).as("simhash64"))

  /** (doc_id, toks): distinct token arrays of docs with ≥ 1 non-empty
    * token; token-less docs drop here, identically for both fast
    * simhash formulations. The `""` token itself is KEPT in surviving
    * docs' arrays (a double space produces one) so fingerprints of
    * real docs are unchanged by the filter. */
  private def contentful(docRel: DataFrame): DataFrame =
    docRel
      .select(col("doc_id"),
        array_distinct(TextExprs.tokens(col("text"))).as("toks"))
      .where(size(array_remove(col("toks"), "")) > 0)

  /** Q76: production-path SimHash near-dup — q39's exact plan (4×16-bit
    * pigeonhole bands → candidate join → Hamming verify) over
    * [[simhashFastNative]] long fingerprints. Verification is a single
    * `bit_count(f1 ^ f2)` on longs instead of q39's 4 × (substring +
    * conv + xor) hex-band chain. xxhash64 is not DuckDB-portable →
    * rows-only driver check; DedupSpec pins recall behavior against
    * the md5 parity path on crafted near-dup corpora. */
  private[graft] def simhashNearDupFastOn(docRel: DataFrame): DataFrame = {
    val fp = Caches.persistTracked(simhashFastNative(docRel))
    def bandKey(f: Column, b: Int): Column =
      shiftrightunsigned(f, 48 - 16 * b).bitwiseAND(lit(0xFFFFL))
    val bands = fp.select(col("doc_id"), col("simhash64"),
        posexplode(array((0 until 4).map(b => bandKey(col("simhash64"), b)): _*)))
      .select(col("doc_id"), col("simhash64"), col("pos").as("band"), col("col").as("bk"))
    val cands = bands
      .select(col("doc_id").as("d1"), col("simhash64").as("f1"), col("band"), col("bk"))
      .join(bands.select(col("doc_id").as("d2"), col("simhash64").as("f2"),
        col("band"), col("bk")), Seq("band", "bk"))
      .where(col("d1") < col("d2"))
      .select("d1", "d2", "f1", "f2").distinct()
    cands
      .withColumn("hamming", bit_count(col("f1").bitwiseXOR(col("f2"))).cast("long"))
      .where(col("hamming") <= HammingMax)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  def simhashNearDupFast(spark: SparkSession, dir: String): DataFrame =
    simhashNearDupFastOn(docs(spark, dir))

  val simhashNearDupSql: String = {
    def duckBand(h: String, b: Int) = s"('0x' || substr($h, ${b * 4 + 1}, 4))::BIGINT"
    val hamming = (0 until 4)
      .map(b => s"bit_count(xor(${duckBand("f1", b)}, ${duckBand("f2", b)}))")
      .mkString(" + ")
    s"""WITH fp AS ($simhashBodySql),
       |bands AS (SELECT doc_id, simhash, b.b AS band, substr(simhash, b.b * 4 + 1, 4) AS bk
       |  FROM fp, (SELECT unnest(range(4)) AS b) b),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |    a.simhash AS f1, b.simhash AS f2
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
       |h AS (SELECT d1, d2, CAST($hamming AS BIGINT) AS hamming FROM cand)
       |SELECT d1, d2, hamming FROM h WHERE hamming <= $HammingMax""".stripMargin
  }

  // ------------------------------------------- q141 MinHash estimator
  /** Q141: the MinHash Jaccard ESTIMATOR made visible — for every exact
    * near-dup pair (q17's ground truth), the classical estimate ĵ =
    * (matching signature positions)/[[MinhashSeeds]] next to the true
    * Jaccard and the absolute error. q18 uses the signatures only as a
    * band-collision trigger and then verifies exactly; this is the
    * other way signatures are used at scale — skip verification
    * entirely and RANK candidates by ĵ (dedup triage, similarity
    * scoring over pairs too numerous to verify). The audit prices that
    * choice: E[ĵ] = J, sd = √(J(1−J)/k) ≈ 0.09 at J=0.8, k=20 — per-
    * pair error is visible, and shrinking it is a k knob, not a code
    * change.
    *
    * Scale: the estimator is a 20-integer-comparison map over the pair
    * list joined to the per-document signatures, a narrow map over the
    * persisted shingle sets — pair-list-sized, no corpus work beyond
    * what q17/q18 already do. */
  def q141MinhashEst(spark: SparkSession, dir: String): DataFrame =
    q141MinhashEstOn(docs(spark, dir))

  private[graft] def q141MinhashEstOn(docRel: DataFrame): DataFrame = {
    val sh = shinglesShared(docRel)
    val pairs = jaccardPairsOfSh(sh).select("d1", "d2", "jaccard")
    val sigs = sigsOf(sh, fastHash = false)
    def side(as: String) = sigs.select(col("doc_id").as(as) +:
      (0 until MinhashSeeds).map(i => col(s"s$i").as(s"$as$i")): _*)
    val matches = (0 until MinhashSeeds)
      .map(i => when(col(s"d1$i") === col(s"d2$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(side("d1"), "d1").join(side("d2"), "d2")
      .select(col("d1"), col("d2"), col("jaccard"),
        (matches * lit(1.0) / lit(MinhashSeeds)).as("je"))
      // abs_err from the UNROUNDED values, then round for display —
      // the oracle's op order exactly
      .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"),
        round(col("je"), 6).as("jaccard_est"),
        round(abs(col("je") - col("jaccard")), 6).as("abs_err"))
  }

  val q141Sql: String = {
    val sigCols = (0 until MinhashSeeds)
      .map(i => s"min((h1 + $i * h2) % $KmPrime) AS s$i").mkString(", ")
    val matchSum = (0 until MinhashSeeds)
      .map(i => s"CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $shingleCtes,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |ix AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |px AS (SELECT d1, d2, inter * 1.0 / (s1.n + s2.n - inter) AS jaccard
       |  FROM ix JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
       |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= $JaccardThreshold),
       |h AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
       |             ('0x' || substr(md5(sh), 17, 12))::BIGINT AS h2 FROM sh),
       |sig AS (SELECT doc_id, $sigCols FROM h GROUP BY doc_id),
       |est AS (SELECT px.d1, px.d2, px.jaccard,
       |    ($matchSum) * 1.0 / $MinhashSeeds AS jaccard_est
       |  FROM px JOIN sig a ON a.doc_id = px.d1 JOIN sig b ON b.doc_id = px.d2)
       |SELECT d1, d2, round(jaccard, 6) AS jaccard,
       |  round(jaccard_est, 6) AS jaccard_est,
       |  round(abs(jaccard_est - jaccard), 6) AS abs_err
       |FROM est""".stripMargin
  }

  // ------------------------------------------------- dedup clusters
  /** Q42: transitive near-dup clusters — the step pairwise near-dup
    * queries exist FOR. Pairs only say "A~B, B~C"; keep-one-per-cluster
    * dedup needs the transitive closure {A,B,C} → one keeper. Edges are
    * the exact-Jaccard pairs (q17), components come from
    * [[GraphOps.connectedComponents]] (min-label propagation over edge
    * vertices only), and every document — including the singleton
    * majority, which never enters the iteration — gets
    * (cluster_id, is_keeper). */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClustersOn(docs(spark, dir))

  private[graft] def dedupClustersOn(d: DataFrame): DataFrame = {
    val edges = ngramJaccardOn(d).select(col("d1").as("src"), col("d2").as("dst"))
    val labels = GraphOps.connectedComponents(edges)
    d.select(col("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
  }

  /** The q42 CTE chain up to `cc(doc_id, cluster_id)` — shared verbatim
    * by the q42 and q132 oracles so both face the identical transitive
    * closure. */
  private val ccCtes: String =
    s"""$shingleCtes,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (SELECT d1, d2 FROM inter JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
       |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= $JaccardThreshold),
       |e AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION SELECT d2, d1 FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.src, r.lbl FROM reach r JOIN e ON e.dst = r.id),
       |cc AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $ccCtes
       |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper FROM cc""".stripMargin

  // ------------------------------------------- effective dataset size
  /** Q182: the effective-dataset-size report — the number a scaling-law
    * budget actually runs on: raw token mass per ingest source vs the
    * mass that SURVIVES near-dup dedup (q42's transitive clusters, one
    * keeper per component), and the duplication discount between them.
    * A source can look like 10% of the corpus and contribute 2% of the
    * unique tokens; mixture weights and acquisition decisions keyed on
    * raw counts are keyed on the wrong number.
    *
    * Same keeper rule as q42 (cluster keeper = min doc_id, transitive
    * closure included), so every cell cross-checks against the
    * oracle-green q42 row-for-row; a cluster spanning sources credits
    * its keeper's source — the q181 subtlety, here for near-dups.
    * Cost IS q42's (banded edges + components) plus one narrow token
    * count and a K-sized rollup. */
  def q182EffectiveSize(spark: SparkSession, dir: String): DataFrame =
    effectiveSizeOn(docs(spark, dir))

  private[graft] def effectiveSizeOn(d: DataFrame): DataFrame = {
    val toks = d.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val cc = dedupClustersOn(d).select("doc_id", "is_keeper")
    toks.join(cc, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("raw_tokens"),
        sum(when(col("is_keeper"), col("n_tokens")).otherwise(0L))
          .as("effective_tokens"))
      .withColumn("dup_discount",
        lit(1.0) - col("effective_tokens").cast("double") / col("raw_tokens"))
  }

  val effectiveSizeSql: String =
    s"""WITH RECURSIVE $ccCtes,
       |tk AS (SELECT doc_id, source,
       |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |      FROM documents)
       |SELECT tk.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
       |  CAST(sum(CASE WHEN cc.doc_id = cc.cluster_id THEN n_tokens
       |           ELSE 0 END) AS BIGINT) AS effective_tokens,
       |  1.0 - CAST(sum(CASE WHEN cc.doc_id = cc.cluster_id THEN n_tokens
       |                 ELSE 0 END) AS DOUBLE)
       |      / CAST(sum(n_tokens) AS DOUBLE) AS dup_discount
       |FROM tk JOIN cc USING (doc_id)
       |GROUP BY 1""".stripMargin

  // ------------------------------------------------- cluster-aware split
  /** Q132: leakage-safe train/val/test split — the step between dedup
    * and packing in every pretraining pipeline. A plain per-document
    * hash split (q36's shape) leaks: two near-duplicate documents can
    * land in train and test, and the model is then evaluated on
    * paraphrases of its own training data. Assigning the split by a
    * deterministic hash OF THE CLUSTER ID (q42's transitive near-dup
    * components) puts every member of a near-dup cluster — including
    * chains A~B~C where A and C were never directly compared — in the
    * same split by construction.
    *
    * Scale: the split column is one hash of an already-computed label —
    * a narrow map over q42's output, so the cost IS q42 (LSH-banded
    * edges + pointer-jumping components; nothing quadratic). 90/5/5 by
    * md5 bucket: deterministic across reruns, clusters, and engines —
    * rerunning on a grown corpus moves no existing singleton between
    * splits (its cluster id is its own doc_id). */
  def clusterSplit(spark: SparkSession, dir: String): DataFrame =
    clusterSplitOn(docs(spark, dir))

  private[graft] def clusterSplitOn(docRel: DataFrame): DataFrame = {
    val bucket = SamplingQueries.hashBucket(col("cluster_id"))
    dedupClustersOn(docRel)
      .select(col("doc_id"), col("cluster_id"),
        when(bucket < 90, lit("train"))
          .when(bucket < 95, lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  val clusterSplitSql: String =
    s"""WITH RECURSIVE $ccCtes,
       |b AS (SELECT doc_id, cluster_id,
       |    ${SamplingQueries.duckBucket("cluster_id")} AS h FROM cc)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split
       |FROM b""".stripMargin

  // --------------------------------------------- q146 containment pairs
  /** Containment threshold: |A∩B|/|A| ≥ 0.9 means A is essentially an
    * excerpt of B. */
  private val ContainmentThreshold = 0.9

  /** Q146: asymmetric containment detection — the duplication mode
    * Jaccard dedup is BLIND to: a short document wholly quoted inside a
    * long one has containment |A∩B|/|A| ≈ 1 but Jaccard ≈ |A|/|B|,
    * far below any near-dup threshold (Lee et al. 2022's substring-
    * duplication case at shingle granularity). Reports exactly the
    * pairs q17/q18 MISS: containment ≥ [[ContainmentThreshold]] on the
    * smaller side AND Jaccard < [[JaccardThreshold]], with the
    * contained side named. Output: (contained, container, inter,
    * n_contained, n_container, containment, jaccard).
    *
    * Scale: same capped-shingle self-join skeleton as q17 (fan-out
    * bounded by the df cap) — the exhaustive, oracle-checkable face.
    * The production path is [[containmentProbeIndexed]]: fresh batch
    * vs the persisted signature store, with r=1 banding over the same
    * stored signatures (the geometry that keeps recall at excerpt-level
    * Jaccards where the near-dup tier's 10×2 fold would miss). */
  def q146Containment(spark: SparkSession, dir: String): DataFrame =
    q146ContainmentOn(docs(spark, dir))

  /** Note: the driver testdata contains NO containment pairs (its
    * duplication modes are whole-document mutations — a corpus finding
    * in itself), so the sf oracle face verifies the empty result and
    * `DedupSpec` carries the positive cases on a constructed corpus. */
  private[graft] def q146ContainmentOn(docRel: DataFrame): DataFrame = {
    val withSizes = sharedOfSh(shinglesShared(docRel))
    val nSmall = least(col("n1"), col("n2"))
    val containment = col("inter") * lit(1.0) / nSmall
    val jaccard = col("inter") * lit(1.0) / (col("n1") + col("n2") - col("inter"))
    withSizes
      .where(containment >= ContainmentThreshold && jaccard < JaccardThreshold)
      .select(
        when(col("n1") <= col("n2"), col("d1")).otherwise(col("d2")).as("contained"),
        when(col("n1") <= col("n2"), col("d2")).otherwise(col("d1")).as("container"),
        col("inter"), nSmall.as("n_contained"),
        greatest(col("n1"), col("n2")).as("n_container"),
        round(containment, 6).as("containment"),
        round(jaccard, 6).as("jaccard"))
  }

  val q146Sql: String =
    s"""WITH $shingleCtes,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |ix AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |ws AS (SELECT d1, d2, inter, s1.n AS n1, s2.n AS n2
       |  FROM ix JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id)
       |SELECT CASE WHEN n1 <= n2 THEN d1 ELSE d2 END AS contained,
       |  CASE WHEN n1 <= n2 THEN d2 ELSE d1 END AS container,
       |  inter, least(n1, n2) AS n_contained, greatest(n1, n2) AS n_container,
       |  round(inter * 1.0 / least(n1, n2), 6) AS containment,
       |  round(inter * 1.0 / (n1 + n2 - inter), 6) AS jaccard
       |FROM ws
       |WHERE inter * 1.0 / least(n1, n2) >= $ContainmentThreshold
       |  AND inter * 1.0 / (n1 + n2 - inter) < $JaccardThreshold""".stripMargin

  /** Production containment probe: a fresh batch against the PERSISTED
    * signature store — the scale path [[q146ContainmentOn]]'s doc
    * promises, made literal. Candidates come from r=1 banding over the
    * SAME 20 stored signatures the near-dup tier keeps (each signature
    * its own band key): for an excerpt pair, the per-seed signature
    * match probability is its Jaccard J ≈ n_contained/n_container —
    * far below the 0.8 near-dup threshold — so a 10×2 band collides
    * with probability ~1-(1-J²)^10 (≈ 0.36 at J=0.21: most excerpts
    * missed), while 20×1 banding collides with ~1-(1-J)^20 (≈ 0.991 at
    * J=0.21). Same stored index, different fold, no extra state; the
    * looser geometry's extra false candidates are killed by exact
    * verification, whose cost is bounded by the candidate list.
    *
    * Verification computes TRUE containment from raw (uncapped)
    * shingles of candidate docs only — the corpus is never re-shingled
    * (probeVerify's asymmetric shape). `corpus` is whatever relation
    * holds the candidate docs' text (indexed + fresh); `idxSigs` is the
    * store's signature relation. Cross-validated against the exhaustive
    * [[q146ContainmentOn]] in DedupSpec (recall floor at the 0.9
    * threshold); benched as `xcp`. */
  private[graft] def containmentProbeIndexed(corpus: DataFrame,
      fresh: DataFrame, idxSigs: DataFrame): DataFrame = {
    val freshSigs = sigsOf(shinglesOf(fresh), fastHash = true)
    def unitBands(sigs: DataFrame, as: String) = {
      val bandStructs = (0 until MinhashSeeds).map(i =>
        struct(lit(i).as("band"), col(s"s$i").as("bk")))
      sigs.select(col("doc_id").as(as), explode(array(bandStructs: _*)).as("x"))
        .select(col(as), col("x.band").as("band"), col("x.bk").as("bk"))
    }
    val cands = unitBands(freshSigs, "d1")
      .join(unitBands(idxSigs, "d2"), Seq("band", "bk"))
      .where(col("d1") =!= col("d2"))
      .select("d1", "d2").distinct()
    containmentVerify(corpus, cands)
  }

  /** Exact raw-shingle containment for an asymmetric candidate pair
    * set — [[probeVerify]]'s skeleton with the q146 predicate and
    * output shape. Raw sets (not df-capped): like probeVerify, the
    * candidate sliver needs no bounding and the reported containment
    * is the true value. */
  private def containmentVerify(d: DataFrame, cands0: DataFrame): DataFrame = {
    val cands = Caches.persistTracked(cands0)
    val candIds = cands.select(col("d1").as("doc_id"))
      .union(cands.select(col("d2").as("doc_id"))).distinct()
    val raw = Caches.persistTracked(rawSetsOf(d.join(candIds, Seq("doc_id"), "left_semi")))
    val withSizes = interOfCands(cands, raw)
    val nSmall = least(col("n1"), col("n2"))
    val containment = col("inter") * lit(1.0) / nSmall
    val jaccard = col("inter") * lit(1.0) / (col("n1") + col("n2") - col("inter"))
    withSizes
      .where(containment >= ContainmentThreshold && jaccard < JaccardThreshold)
      .select(
        when(col("n1") <= col("n2"), col("d1")).otherwise(col("d2")).as("contained"),
        when(col("n1") <= col("n2"), col("d2")).otherwise(col("d1")).as("container"),
        col("inter"), nSmall.as("n_contained"),
        greatest(col("n1"), col("n2")).as("n_container"),
        round(containment, 6).as("containment"),
        round(jaccard, 6).as("jaccard"))
  }

  // --------------------------------------- q142/q143 governance audits
  /** Q142: per-source duplication audit — the corpus-health dashboard
    * row every curation pipeline publishes: per source, how many
    * documents, how many DISTINCT texts (exact md5), the duplication
    * rate, and the bytes a keep-one-per-text dedup would reclaim.
    * A source whose dup_rate jumps is a scraper re-crawling itself or a
    * template flood — caught here before it skews the mixture (q137)
    * or floods the near-dup tier with trivial work.
    *
    * Scale: one groupBy(source, hash) with map-side combine (uniform
    * md5 keys, no skew) then a |sources|-bounded rollup. */
  def q142DupBySource(spark: SparkSession, dir: String): DataFrame = {
    val perText = docs(spark, dir)
      .groupBy(col("source"), md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("copies"), sum(col("n_chars")).as("chars_all"),
        min(col("n_chars")).as("chars_one"))
    perText.groupBy("source")
      .agg(sum("copies").as("n_docs"), count(lit(1)).as("n_unique"),
        sum(col("chars_all") - col("chars_one")).as("dup_chars"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        round(lit(1.0) - col("n_unique").cast("double") / col("n_docs").cast("double"), 6)
          .as("dup_rate"),
        col("dup_chars"))
  }

  val q142Sql: String =
    """WITH t AS (SELECT source, md5(text) AS h, count(*) AS copies,
      |    CAST(sum(n_chars) AS BIGINT) AS chars_all,
      |    CAST(min(n_chars) AS BIGINT) AS chars_one
      |  FROM documents GROUP BY 1, 2)
      |SELECT source, CAST(sum(copies) AS BIGINT) AS n_docs,
      |  count(*) AS n_unique,
      |  round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(copies) AS DOUBLE), 6) AS dup_rate,
      |  CAST(sum(chars_all - chars_one) AS BIGINT) AS dup_chars
      |FROM t GROUP BY 1""".stripMargin

  /** Q143: split-balance audit — the check that closes q132's loop: per
    * split, document and token counts plus the token share. A 90/5/5
    * DOCUMENT split can still be token-lopsided when near-dup clusters
    * (which move as blocks) are long-document-heavy; training-budget
    * math needs the TOKEN shares. Composes the q132 assignment with
    * per-doc token counts — the oracle extends the same recursive CTE. */
  def q143SplitBalance(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), size(TextExprs.tokens(col("text"))).cast("long").as("n_tok"))
    // Persisted: the ≤3-row rollup feeds both the total and the
    // readout — without it the whole q42 clustering chain under the
    // split assignment runs twice.
    val perSplit = Caches.persistTracked(clusterSplit(spark, dir)
      .join(toks, "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens")))
    val tot = perSplit.agg(sum("n_tokens").as("t"))
    perSplit.crossJoin(broadcast(tot))
      .select(col("split"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("t").cast("double"), 6)
          .as("token_share"))
  }

  val q143Sql: String =
    s"""WITH RECURSIVE $ccCtes,
       |b AS (SELECT doc_id, ${SamplingQueries.duckBucket("cluster_id")} AS hb FROM cc),
       |sp AS (SELECT doc_id,
       |    CASE WHEN hb < 90 THEN 'train' WHEN hb < 95 THEN 'val' ELSE 'test' END AS split
       |  FROM b),
       |tk AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |ps AS (SELECT split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM sp JOIN tk USING (doc_id) GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM ps)
       |SELECT split, n_docs, n_tokens,
       |  round(CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE), 6) AS token_share
       |FROM ps CROSS JOIN tot""".stripMargin

  // ------------------------------------------------- fingerprinting
  /** Normalized content fingerprint (lowercase, whitespace-collapsed,
    * md5) with canonical-keeper annotation — catches
    * formatting-only duplicates that exact hashing misses. */
  def fingerprintDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), TextExprs.fingerprint(col("text")).as("fp"))
    val groups = d.groupBy("fp").agg(min("doc_id").as("keeper"), count(lit(1)).as("group_n"))
    d.join(groups, "fp")
      .select(col("doc_id"), col("fp"), (col("doc_id") === col("keeper")).as("is_canonical"))
  }

  val fingerprintSql: String =
    """WITH d AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents),
      |g AS (SELECT fp, min(doc_id) AS keeper FROM d GROUP BY fp)
      |SELECT d.doc_id, d.fp, d.doc_id = g.keeper AS is_canonical
      |FROM d JOIN g USING (fp)""".stripMargin

  // ------------------------------------------------------- winnowing
  private[operators] val WinnowWindow = 4

  /** Q54: winnowed rolling-hash fingerprints (the MOSS scheme): hash
    * every word-3-gram shingle, then keep the minimum hash of each
    * sliding [[WinnowWindow]]-shingle window. Guarantees any shared run
    * of ≥ `ShingleN + WinnowWindow − 1` tokens contributes at least one
    * common fingerprint, at ~1/[[WinnowWindow]] the density of the full
    * shingle set — the partial-overlap detector q25's whole-document
    * hash can't express.
    *
    * Per-document work is a narrow array pipeline (hash → windowed min →
    * distinct) inside codegen; the output relation is what a plagiarism
    * or near-dup join keys on, so its size — not the corpus — bounds any
    * downstream self-join, and the winnowing density factor is the knob
    * that keeps that join linear at 100 TB. */
  private[operators] def winnowOn(docRel: DataFrame): DataFrame = {
    val sh = TextExprs.shingles(TextExprs.tokens(col("text")), 3)
    val hs = transform(sh,
      s => conv(substring(md5(s.cast("binary")), 1, 8), 16, 10).cast("long"))
    // The hash array binds to a lambda variable (`transform` over a
    // 1-element wrapper) so project collapsing can't inline — and then
    // re-evaluate — the md5 chain once per sliding window: the winnow
    // must cost O(shingles) hashes, not O(shingles × windows).
    val fps = flatten(transform(array(hs), h =>
      array_distinct(transform(
        sequence(lit(0), size(h) - WinnowWindow),
        i => array_min(slice(h, i + 1, lit(WinnowWindow)))))))
    docRel
      .where(size(TextExprs.tokens(col("text"))) >= WinnowWindow + 2)
      .select(col("doc_id"), explode(fps).as("fp"))
  }

  def winnow(spark: SparkSession, dir: String): DataFrame =
    winnowOn(docs(spark, dir))

  val winnowSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |s AS (SELECT doc_id, list_transform(range(len(toks) - 2),
       |    i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) AS sh FROM t),
       |h AS (SELECT doc_id, list_transform(sh,
       |    x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs FROM s
       |  WHERE len(sh) >= $WinnowWindow),
       |f AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(len(hs) - ${WinnowWindow - 1}),
       |    i -> list_min(hs[i+1:i+$WinnowWindow])))) AS fp FROM h)
       |SELECT doc_id, fp FROM f""".stripMargin

  // --------------------------------------------- fuzzy entity matching
  /** Q56: fuzzy duplicate-account detection — customer pairs whose
    * names are within Levenshtein distance ≤ 1 (one typo apart), via
    * DELETION-NEIGHBORHOOD blocking (FastSS): each name emits itself
    * plus every delete-one-character variant; any pair within edit
    * distance 1 — substitution, insert, OR delete, any name length, no
    * assumed shape — shares at least one key (substitution: both delete
    * the differing position; insert/delete: the shorter name IS a
    * deletion of the longer). Collisions are a superset (distance ≤ 2
    * can collide), so candidates are verified with an explicit
    * `levenshtein ≤ 1`. Skew-free: the group behind each key is the
    * handful of names agreeing on every other character, so comparisons
    * stay bounded per key no matter how the id space grows. (A naive
    * shared-prefix block is quadratic-with-skew on sequential ids: 26 s
    * vs ~1 s at sf0.1.) */
  def fuzzyNameMatch(spark: SparkSession, dir: String): DataFrame =
    fuzzyNameMatchOn(Tables(spark, dir, "customer"))

  private[operators] def fuzzyNameMatchOn(customers: DataFrame): DataFrame = {
    val n = col("c_name")
    // greatest(len, 1): sequence(1, 0) would DESCEND for an empty name;
    // the lone i=1 it yields instead contributes one harmless "" key.
    val delKeys = concat(array(n), transform(
      sequence(lit(1), greatest(length(n), lit(1))), i =>
        concat(n.substr(lit(1), i - lit(1)), n.substr(i + lit(1), length(n) - i))))
    val k = customers
      .select(col("c_custkey"), col("c_name"), explode(delKeys).as("mk"))
      // a delete variant can coincide with the name itself (repeated
      // chars, e.g. "aab" minus either 'a') — one key per (id, key)
      .distinct()
    k.select(col("c_custkey").as("id1"), col("c_name").as("n1"), col("mk"))
      .join(k.select(col("c_custkey").as("id2"), col("c_name").as("n2"), col("mk")), Seq("mk"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("n1"), col("n2"),
        levenshtein(col("n1"), col("n2")).cast("long").as("dist"))
      // a pair can collide on several deletion keys (identical names
      // collide on all of them), so the pair set must be deduplicated;
      // the ≤ 1 verify discards the distance-2 collision tail.
      .distinct()
      .where(col("dist") <= 1)
  }

  val fuzzyNameSql: String =
    s"""WITH k AS (SELECT DISTINCT c_custkey, c_name, mk FROM (
       |    SELECT c_custkey, c_name,
       |      unnest(list_prepend(c_name, list_transform(range(1, len(c_name) + 1),
       |        i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1)))) AS mk
       |    FROM customer))
       |SELECT DISTINCT a.c_custkey AS id1, b.c_custkey AS id2,
       |  a.c_name AS n1, b.c_name AS n2,
       |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
       |FROM k a JOIN k b ON a.mk = b.mk AND a.c_custkey < b.c_custkey
       |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin

  // -------------------------------------- incremental near-dup probe
  /** Q73: incremental near-dup — the daily-ingest shape of q18. A fresh
    * batch (doc_id ≡ 0 mod 5) is probed against the corpus slice's LSH
    * band INDEX; collisions become (fresh, corpus) candidates, verified
    * by exact Jaccard ≥ 0.8 over the candidates' RAW shingle sets.
    *
    * Why it exists next to q18: self-dedup recomputes everything every
    * run, but a growing corpus wants its signatures computed ONCE. The
    * band relation ([[bandsOf]]) is persistable — (doc_id, band, bk)
    * parquet, bucketable on the band key for a zero-exchange probe
    * (IncrementalDedupSpec round-trips it through storage) — so the
    * per-day cost is shingling the BATCH, one index join, and exact
    * verification of the candidate sliver, whose shingle sets are
    * computed for candidate docs only — the 100 TB corpus is never
    * re-shingled, never re-signed, never self-joined.
    *
    * Verification deliberately uses RAW (uncapped) shingle sets: the
    * df-cap exists to bound the CANDIDATE-generation joins, and the
    * candidate sliver needs no bounding — so the reported Jaccard is
    * the true one, not the capped approximation. */
  def incrementalNearDup(spark: SparkSession, dir: String): DataFrame =
    incrementalNearDupOn(docs(spark, dir))

  private[graft] def incrementalNearDupOn(d: DataFrame): DataFrame = {
    val bands = bandsOf(shinglesShared(d), fastHash = false)
    probeIndex(d,
      bands.where(pmod(col("doc_id"), lit(5)) === 0),
      bands.where(pmod(col("doc_id"), lit(5)) =!= 0))
  }

  /** The persistable corpus band index for [[probeIndex]]: one row per
    * (doc_id, band, bk). Bench and pipeline callers build this ONCE
    * (write to parquet), then probe each day's batch against the stored
    * relation — [[Bench]]'s `x_incremental_probe` times exactly that
    * split, and IncrementalDedupSpec pins the storage round-trip. */
  private[graft] def bandIndexOf(docRel: DataFrame): DataFrame =
    bandsOf(shinglesOf(docRel), fastHash = false)

  /** Probe a fresh batch's band keys against a corpus band index (both
    * shaped (doc_id, band, bk) — the index side typically READ from
    * storage, not recomputed) and exact-verify the collisions. */
  private[graft] def probeIndex(d: DataFrame, freshBands: DataFrame,
      idxBands: DataFrame): DataFrame = {
    val cands = freshBands.select(col("doc_id").as("d1"), col("band"), col("bk"))
      .join(idxBands.select(col("doc_id").as("d2"), col("band"), col("bk")), Seq("band", "bk"))
      .select("d1", "d2").distinct()
    probeVerify(d, cands)
  }

  /** Exact raw-shingle Jaccard for an asymmetric candidate pair set,
    * shingling ONLY the docs that appear in a candidate. Both the pair
    * set (referenced three times: two id projections + the intersection
    * join) and the raw shingle sets (both sides of the intersection)
    * persist — otherwise every reference re-runs the band-index join
    * and the signature pipeline upstream of it. */
  private def probeVerify(d: DataFrame, cands0: DataFrame): DataFrame = {
    val cands = Caches.persistTracked(cands0)
    val candIds = cands.select(col("d1").as("doc_id"))
      .union(cands.select(col("d2").as("doc_id"))).distinct()
    val raw = Caches.persistTracked(rawSetsOf(d.join(candIds, Seq("doc_id"), "left_semi")))
    withJaccard(interOfCands(cands, raw)).where(col("jaccard") >= JaccardThreshold)
  }

  val incrementalNearDupSql: String = {
    val sigCols = (0 until MinhashSeeds)
      .map(i => s"min((h1 + $i * h2) % $KmPrime) AS s$i").mkString(", ")
    val bandSelects = (0 until MinhashSeeds / BandRows).map { b =>
      val bk = (0 until BandRows).map(r => s"s${b * BandRows + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $bk AS bk FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH $shingleCtes,
       |h AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
       |             ('0x' || substr(md5(sh), 17, 12))::BIGINT AS h2 FROM sh),
       |sig AS (SELECT doc_id, $sigCols FROM h GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk
       |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY doc_id),
       |inter AS (SELECT c.d1, c.d2, count(*) AS inter
       |  FROM cand c JOIN sh0 a ON a.doc_id = c.d1 JOIN sh0 b ON b.doc_id = c.d2 AND b.sh = a.sh
       |  GROUP BY 1, 2)
       |SELECT d1, d2, inter, s1.n + s2.n - inter AS un,
       |  inter * 1.0 / (s1.n + s2.n - inter) AS jaccard
       |FROM inter JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
       |WHERE inter * 1.0 / (s1.n + s2.n - inter) >= $JaccardThreshold""".stripMargin
  }

  // ------------------------------------------- bloom-pruned anti join
  /** Q72: new-content detection — fresh docs (doc_id ≡ 0 mod 5, the
    * "today's batch" slice) whose text never appeared in the corpus
    * slice (the other 80%) — via [[graft.plans.BloomIndex]] rather than
    * a corpus-wide anti join.
    *
    * Scale shape (the reason this operator exists): the corpus is
    * touched ONCE to build a fixed-size bloom index (distributed
    * mergeable aggregation; only the bitmap reaches the driver); the
    * fresh batch is probed map-side. No-false-negatives splits it
    * exactly: `!mightContain` rows are surely new and never join;
    * `mightContain` rows (true dups + ~3% fp tail) are verified by an
    * exact anti join whose CORPUS side is itself bloom-pruned by a
    * sketch of the candidates — so neither side of the exact join is
    * ever corpus-sized, and a 100 TB corpus is scanned but never
    * shuffled. Day over day the index is maintained by OR-ing in the
    * new batch's sketch ([[graft.plans.BloomIndex.union]]), not
    * rebuilt. */
  def bloomNewContent(spark: SparkSession, dir: String): DataFrame =
    bloomNewContentOn(docs(spark, dir))

  private[graft] def bloomNewContentOn(d: DataFrame): DataFrame = {
    import graft.plans.BloomIndex
    val corpus = d.where(pmod(col("doc_id"), lit(5)) =!= 0)
    val fresh = d.where(pmod(col("doc_id"), lit(5)) === 0)
    def h: Column = xxhash64(col("text"))
    val expected = math.max(1L, d.count()) // metadata-cheap upper bound
    val index = corpus.select(BloomIndex.bloomAgg(h, expected).as("bf"))
      .head.getAs[Array[Byte]](0)
    if (index == null) return fresh.select(col("doc_id")) // empty corpus
    val sure = fresh.where(!BloomIndex.mightContain(index, h))
    val maybe = Caches.persistTracked(
      fresh.where(BloomIndex.mightContain(index, h)))
    val nMaybe = maybe.count()
    val verifiedNew =
      if (nMaybe == 0) maybe.select(col("doc_id"))
      else {
        val probe = maybe.select(BloomIndex.bloomAgg(h, nMaybe).as("bf"))
          .head.getAs[Array[Byte]](0)
        val sliver = corpus.where(BloomIndex.mightContain(probe, h))
          .select(col("text")).distinct()
        maybe.join(sliver, Seq("text"), "left_anti").select(col("doc_id"))
      }
    sure.select(col("doc_id")).unionByName(verifiedNew)
  }

  /** Day-over-day bloom maintenance — the pipeline claim behind
    * [[bloomNewContentOn]] made literal: one ingest day probes the
    * CARRIED index, sketches ONLY its own batch, and ORs that day
    * sketch in. Prior days' corpora are never re-read — by
    * construction: they are not parameters; the whole history arrives
    * as the few-MB carried bitmap (BloomIndexSpec deletes day 0's
    * files after its sketch and days 1–2 still run).
    *
    * Returns (definitelyNew, maybeSeen, updatedIndex): `definitelyNew`
    * is safe to ingest with no further check (no false negatives);
    * `maybeSeen` is the sliver the caller exact-verifies against its
    * store, exactly as q72 does. `expectedPerDay` must stay constant
    * across days — union requires identically-sized bit arrays. */
  private[graft] def bloomAdvanceDay(batch: DataFrame, h: Column,
      carried: Option[Array[Byte]], expectedPerDay: Long)
      : (DataFrame, DataFrame, Array[Byte]) = {
    import graft.plans.BloomIndex
    val daySketch = batch.select(BloomIndex.bloomAgg(h, expectedPerDay).as("bf"))
      .head.getAs[Array[Byte]](0)
    val updated = carried.fold(daySketch)(c => BloomIndex.union(c, daySketch))
    carried match {
      case None => (batch, batch.limit(0), updated)
      case Some(idx) =>
        (batch.where(!BloomIndex.mightContain(idx, h)),
          batch.where(BloomIndex.mightContain(idx, h)),
          updated)
    }
  }

  val bloomNewContentSql: String =
    """SELECT doc_id FROM documents d
      |WHERE doc_id % 5 = 0 AND NOT EXISTS (
      |  SELECT 1 FROM documents c WHERE c.doc_id % 5 <> 0 AND c.text = d.text)""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q72_bloom_prune" -> bloomNewContent _,
    "q73_incremental_neardup" -> incrementalNearDup _,
    "q54_winnow" -> winnow _,
    "q56_fuzzy_match" -> fuzzyNameMatch _,
    "q16_dedup_exact" -> dedupExact _,
    "q17_ngram_jaccard" -> ngramJaccard _,
    "q18_minhash_lsh" -> minhashLsh _,
    "q19_simhash" -> simhash _,
    "q25_fingerprint" -> fingerprintDedup _,
    "q39_simhash_neardup" -> simhashNearDup _,
    "q40_minhash_lsh_fast" -> minhashLshFast _,
    "q76_simhash_fast" -> simhashNearDupFast _,
    "q42_dedup_clusters" -> dedupClusters _,
    "q132_cluster_split" -> clusterSplit _,
    "q138_lsh_recall" -> q138LshRecall _,
    "q141_minhash_est" -> q141MinhashEst _,
    "q142_dup_by_source" -> q142DupBySource _,
    "q143_split_balance" -> q143SplitBalance _,
    "q146_containment" -> q146Containment _,
    "q148_store_lsh" -> q148StoreLsh _,
    "q182_effective_size" -> q182EffectiveSize _)

  val oracles: Map[String, String] = Map(
    "q72_bloom_prune" -> bloomNewContentSql,
    "q73_incremental_neardup" -> incrementalNearDupSql,
    "q54_winnow" -> winnowSql,
    "q56_fuzzy_match" -> fuzzyNameSql,
    "q16_dedup_exact" -> dedupExactSql,
    "q17_ngram_jaccard" -> ngramJaccardSql,
    "q18_minhash_lsh" -> minhashLshSql,
    "q19_simhash" -> simhashSql,
    "q25_fingerprint" -> fingerprintSql,
    "q39_simhash_neardup" -> simhashNearDupSql,
    "q42_dedup_clusters" -> dedupClustersSql,
    "q132_cluster_split" -> clusterSplitSql,
    "q138_lsh_recall" -> q138Sql,
    "q141_minhash_est" -> q141Sql,
    "q142_dup_by_source" -> q142Sql,
    "q182_effective_size" -> effectiveSizeSql,
    "q143_split_balance" -> q143Sql,
    "q146_containment" -> q146Sql,
    // q148 IS q18 through the materialized store: same oracle, so a
    // hash mismatch isolates store-path loss, not query semantics.
    "q148_store_lsh" -> minhashLshSql)
    // q40 and q76 have no oracle by design: xxhash64 is not
    // DuckDB-portable; the driver records rows-only checks and DedupSpec
    // cross-validates them against the md5 parity paths + exact pairs.
}
