package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Day-partitioned store for the IVF vector index — the
  * [[SignatureStore]]/[[WinnowStore]] maintenance contract applied to
  * the similarity tier, the last heavy-artifact tier that still
  * rebuilt its index per run. q139's daily probe reads a bucket-
  * assigned corpus (n_id, n_vec, bkt); before this store that index
  * was re-derived from the embeddings every run — the corpus-
  * proportional rescan the incremental path exists to avoid, and
  * exactly what Faiss-style deployments persist.
  *
  * Four faces share one root, each a [[PartitionedStore]] day layout
  * beside its frozen codebooks:
  * {{{
  *   <dir>/codebook/             (c_id, cv)            base + PQ coarse codebook
  *   <dir>/assign/day=N/         (n_id, n_vec, bkt)    base face
  *   <dir>/pq_codebook/          (sub, cid, cv)        PQ face
  *   <dir>/codes/day=N/          (vec_id, bkt, sub, code)
  *   <dir>/meta/day=N/           base and PQ face digests
  *   <dir>/codebook_scaled/, codebook_meta_scaled/, assign_scaled/day=N/, meta_scaled/day=N/
  *   <dir>/codebook_pqs/, pq_codebook_pqs/, codebook_meta_pqs/, codes_pqs/day=N/, meta_pqs/day=N/
  * }}}
  *
  * **The codebook is a FROZEN model artifact.** [[advanceDay]] assigns
  * its batch against the STORED codebook (K driver rows, never
  * re-derived) — that is what makes the index incremental: day N+1's
  * assignments are valid next to day ≤ N's because both used the same
  * quantizer, the standard IVF operational contract (retraining the
  * quantizer = a new index = [[build]]).
  *
  * Freshness covers BOTH halves: per-day digests over the indexed
  * vectors `(count, XOR of xxhash64(vec_id, embedding))` XOR-compose
  * on read and must match the offered index relation; and the stored
  * codebook must equal the codebook the offered corpus implies (a K-row
  * driver comparison — both sides are the same deterministic
  * derivation, so equality is exact, not approximate). A stale store
  * costs an inline re-assignment, never a wrong neighbor.
  */
object VectorIndexStore {

  /** Session conf: root dir of the store. Unset (default) = no store. */
  val DirKey = "spark.graft.vectorstore.dir"

  /** Session conf: skip BOTH freshness checks and trust the store. */
  val TrustKey = "spark.graft.vectorstore.trust"

  /** Whether the last [[buildPqScaled]] reused the artifact pass's
    * codes (`corpus eq indexRel`) instead of re-encoding the index
    * relation — observability for the one-build-one-encode contract
    * (VERDICT r15 next-4); result rows are identical either way. */
  private[graft] val lastPqBuildReusedCodes =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  private val base =
    new PartitionedStore("vectorstore", "day", Seq("assign", "codes"), Seq("vecs"))
  private val scaled = new PartitionedStore("vectorstore.scaled", "day",
    Seq("assign_scaled"), Seq("vecs"), meta = "meta_scaled")
  private val pqs = new PartitionedStore("vectorstore.pqs", "day",
    Seq("codes_pqs"), Seq("vecs"), meta = "meta_pqs")

  /** Corpus digest over an embedding relation (vec_id, embedding) —
    * the [[SignatureStore.digestOf]] shape for the vector tier.
    * xxhash64 hashes the float array exactly, so the digest is
    * bit-stable across partitionings and parquet roundtrips. */
  def digestOf(e: DataFrame): (Long, Long) =
    FileDigests.digestOf(e, xxhash64(col("vec_id"), col("embedding")))

  /** Write-path variant: whole-relation aggregate over `e` as
    * evaluated (honors a pinned batch), never the per-file cache —
    * [[FileDigests.digestOfPinned]]'s tear argument (ADVICE r17). */
  def digestOfPinned(e: DataFrame): (Long, Long) =
    FileDigests.digestOfPinned(e, xxhash64(col("vec_id"), col("embedding")))

  /** Advance `face` by one day: retire it, write `encode(pinned batch)`
    * as `payload`, commit the batch digest. The batch is pinned across
    * the write and the digest (the WinnowStore argument): a
    * non-deterministic batch plan must not persist a digest that
    * doesn't cover the written rows. */
  private def advanceFace(face: PartitionedStore, payload: String, batch: DataFrame,
      dir: String, day: Int)(encode: DataFrame => DataFrame): Unit =
    face.advance(batch.sparkSession, dir, day.toString) {
      val pinned = batch.persist()
      try {
        face.write(encode(pinned), dir, payload, day.toString)
        Seq(digestOfPinned(pinned))
      } finally pinned.unpersist(blocking = false): Unit
    }

  /** Build a fresh index at `dir`: train (collect) the codebook from
    * `corpus`, assign `indexRel` as `day`. Replaces prior content. */
  def build(corpus: DataFrame, indexRel: DataFrame, dir: String,
      day: Int = 0): Unit = {
    val spark = corpus.sparkSession
    StoreLease.replaceContents(spark, dir)
    val cents = graft.operators.SimilarityQueries.centroidList(corpus)
    spark.createDataFrame(cents).toDF("c_id", "cv")
      .coalesce(1).write.parquet(s"$dir/codebook")
    advanceFace(base, "assign", indexRel, dir, day)(
      graft.operators.SimilarityQueries.ivfAssign(_, cents))
  }

  /** The stored codebook — K driver rows. */
  def storedCodebook(spark: SparkSession, dir: String): Seq[(Long, Seq[Double])] =
    spark.read.parquet(s"$dir/codebook")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq

  /** Append (or replace) one ingest day: assign ONLY the batch against
    * the STORED codebook (never re-derived — the frozen-quantizer
    * contract). */
  def advanceDay(batch: DataFrame, dir: String, day: Int): Unit = {
    val cents = storedCodebook(batch.sparkSession, dir)
    advanceFace(base, "assign", batch, dir, day)(
      graft.operators.SimilarityQueries.ivfAssign(_, cents))
  }

  /** Retire one day (takedown/expiry) of the base and PQ faces. The
    * codebook stays — it is a model artifact, not data derived from the
    * retired day. */
  def retireDay(spark: SparkSession, dir: String, day: Int): Unit =
    base.retire(spark, dir, day.toString)

  // ------------------------------------------------------ PQ face
  /** Build the COMPRESSED index (IVF-PQ): coarse codebook + per-
    * subspace PQ codebooks (both frozen model artifacts, driver rows)
    * + the coded corpus (vec_id, bkt, sub, code) as `day`. This is
    * the artifact whose derivation is expensive at production shapes
    * (a k-means training pass + a full encode per run); q82/q88 read
    * it instead when configured and fresh. */
  def buildPq(corpus: DataFrame, dir: String, day: Int = 0): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    StoreLease.replaceContents(spark, dir)
    base.advance(spark, dir, day.toString) {
      val pinned = corpus.persist()
      try {
        val (coarse, cents, codes) =
          graft.operators.SimilarityQueries.pqIndexArtifacts(pinned)
        spark.createDataFrame(coarse).toDF("c_id", "cv")
          .coalesce(1).write.parquet(s"$dir/codebook")
        cents.toSeq.flatMap { case (sub, cs) =>
          cs.map { case (cid, cv) => (sub, cid, cv) }
        }.toDF("sub", "cid", "cv")
          .coalesce(1).write.parquet(s"$dir/pq_codebook")
        base.write(codes, dir, "codes", day.toString)
        Seq(digestOfPinned(pinned))
      } finally pinned.unpersist(blocking = false): Unit
    }
  }

  /** The stored PQ codebooks — m × k' driver rows. */
  def storedPqCodebook(spark: SparkSession, dir: String)
      : Map[Int, Seq[(Long, Seq[Double])]] =
    storedPqCodebookAt(spark, s"$dir/pq_codebook")

  /** Append (or replace) one day of PQ codes, encoded against BOTH
    * frozen codebooks. */
  def advanceDayPq(batch: DataFrame, dir: String, day: Int): Unit = {
    val spark = batch.sparkSession
    val coarse = storedCodebook(spark, dir)
    val cents = storedPqCodebook(spark, dir)
    advanceFace(base, "codes", batch, dir, day)(
      graft.operators.SimilarityQueries.pqEncodeWith(_, coarse, cents))
  }

  /** The stored (coarse codebook, PQ codebooks, codes) IF configured
    * and the day digests compose to this exact corpus — None on key
    * unset, unreadable store, coarse-codebook drift, or digest
    * mismatch. Same freshness contract as [[openFresh]]: the digest
    * covers every input row of the deterministic derivation, so a
    * match means retraining would reproduce the stored artifacts. */
  def openFreshPq(corpus: DataFrame)
      : Option[(Seq[(Long, Seq[Double])], Map[Int, Seq[(Long, Seq[Double])]], DataFrame)] = {
    val spark = corpus.sparkSession
    base.open(spark, DirKey, TrustKey) { (dir, trusted) =>
      val coarse = storedCodebook(spark, dir)
      if (!trusted && graft.operators.SimilarityQueries.centroidList(corpus) != coarse)
        base.stale(dir)
      else base.fresh(spark, dir, trusted, Seq(digestOf(corpus))).map { days =>
        (coarse, storedPqCodebook(spark, dir),
          if (days.isEmpty) spark.range(0).select(col("id").as("vec_id"), col("id").as("bkt"),
            col("id").cast("int").as("sub"), col("id").as("code"))
          else base.live(spark, dir, "codes", days).select("vec_id", "bkt", "sub", "code"))
      }
    }
  }

  // ------------------------------------------- scaled-K face (r13)
  /** Build the DATA-SCALED index face: the q188 shape — a FROZEN
    * unit-normalized codebook at the Faiss K = ⌈√N⌉ sizing plus the
    * (vec_id, nv, bkt) assignments as `day`. This is the face where
    * the store's economics flip POSITIVE on this very fixture (unlike
    * the K=16 base face, whose honest negative SCALE.md documents):
    * at K = √N the assignment is K dots per vector — the dominant,
    * corpus-sided term of every probe — and the digest-verify scan it
    * pays instead is one hash per vector. Lives beside the base/PQ
    * faces under the same [[DirKey]] (own subpaths + meta).
    *
    * `trained` defaults TRUE (r16, VERDICT r15 next-2): a production
    * build runs the spherical k-means job — on a clustered corpus
    * whose low ids share a cluster, first-K leaves other clusters
    * centroid-less and the candidate join under-recalls
    * (TrainedCodebookSpec plants that corpus and pins the repair).
    * First-K remains the EXPLICIT fixture/oracle convention: parity
    * specs pass `trained = false` because the inline arm they pin
    * against derives first-K, and byte-parity across two separately
    * trained builds would additionally hang on float-sum order. */
  def buildScaled(corpus: DataFrame, indexRel: DataFrame, dir: String,
      day: Int = 0, trained: Boolean = true): Unit = {
    val spark = corpus.sparkSession
    clearFace(scaled, spark, dir, "codebook_scaled", "codebook_meta_scaled")
    // Pinned: the codebook meta's digest must cover exactly the rows
    // the codebook was derived from.
    val pinned = corpus.persist()
    try {
      val k = graft.operators.SimilarityQueries.scaledK(pinned)
      val cents =
        if (trained)
          graft.operators.SimilarityQueries.scaledCodebookTrained(pinned, k)
        else graft.operators.SimilarityQueries.scaledCodebook(pinned, k)
      spark.createDataFrame(cents.zipWithIndex.map { case (cv, i) => (i.toLong, cv) })
        .toDF("c_id", "cv")
        .coalesce(1).write.parquet(s"$dir/codebook_scaled")
      // Codebook freshness artifact: (corpus count, corpus digest,
      // trained?) — [[openFreshScaled]] verifies the OFFERED corpus
      // digests to this instead of re-deriving the codebook, which for
      // a trained codebook would mean re-running the training job on
      // every open (and for first-K was a collect of the same cost
      // class anyway). A grown/mutated corpus digests differently →
      // stale → the Faiss retrain event, same contract as before.
      StoreLease.checkWrite(spark, dir) // commit-point re-check (ADVICE r17)
      val (n, dg) = digestOfPinned(pinned)
      spark.createDataFrame(Seq((n, dg, trained)))
        .toDF("n_vecs", "digest", "trained")
        .coalesce(1).write.parquet(s"$dir/codebook_meta_scaled")
      advanceFace(scaled, "assign_scaled", indexRel, dir, day)(
        graft.operators.SimilarityQueries.scaledAssign(_, cents))
    } finally pinned.unpersist(blocking = false): Unit
  }

  /** The stored scaled codebook — ⌈√N⌉ driver rows, index-ordered. */
  def storedScaledCodebook(spark: SparkSession, dir: String): Seq[Seq[Double]] =
    spark.read.parquet(s"$dir/codebook_scaled")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).map(_._2).toSeq

  /** Append one day against the FROZEN scaled codebook (the same
    * frozen-quantizer contract as [[advanceDay]] — note K froze at
    * build-time corpus size; a corpus that outgrows its √N codebook
    * re-[[buildScaled]]s, the Faiss retrain event). */
  def advanceDayScaled(batch: DataFrame, dir: String, day: Int): Unit = {
    val cents = storedScaledCodebook(batch.sparkSession, dir)
    advanceFace(scaled, "assign_scaled", batch, dir, day)(
      graft.operators.SimilarityQueries.scaledAssign(_, cents))
  }

  /** Retire one scaled-face day. */
  def retireDayScaled(spark: SparkSession, dir: String, day: Int): Unit =
    scaled.retire(spark, dir, day.toString)

  /** The stored (scaled codebook, assignments) IF configured and fresh
    * for this exact (corpus, index) pair — the [[openFresh]] contract
    * for the scaled face: the stored codebook must equal the one the
    * offered corpus implies at ITS √N sizing (so a grown corpus reads
    * stale, forcing the retrain), and the index digest must compose. */
  def openFreshScaled(corpus: DataFrame, idxRel: DataFrame)
      : Option[(Seq[Seq[Double]], DataFrame)] = {
    val spark = corpus.sparkSession
    scaled.open(spark, DirKey, TrustKey) { (dir, trusted) =>
      val cents = storedScaledCodebook(spark, dir)
      // Codebook freshness: the build-time corpus digest (one hash pass
      // over the offered corpus) — re-deriving the codebook would mean
      // re-running the k-means job for a trained store. Pre-meta stores
      // (no codebook_meta_scaled) fall back to the first-K comparison.
      // Evaluated ONLY when untrusted (review r14 finding 2: an eager
      // digestOf here was exactly the per-open corpus pass the trust
      // lever exists to avoid).
      val cbFresh = trusted || {
        if (PartitionedStore.fs(spark, dir).exists(new Path(s"$dir/codebook_meta_scaled"))) {
          val m = spark.read.parquet(s"$dir/codebook_meta_scaled").head()
          (m.getLong(0), m.getLong(1)) == digestOf(corpus)
        } else graft.operators.SimilarityQueries.scaledCodebook(
          corpus, graft.operators.SimilarityQueries.scaledK(corpus)) == cents
      }
      if (!cbFresh) scaled.stale(dir)
      else scaled.fresh(spark, dir, trusted, Seq(digestOf(idxRel))).map { days =>
        (cents,
          if (days.isEmpty) spark.range(0).select(col("id").as("vec_id"),
            array().cast("array<double>").as("nv"), col("id").as("bkt"))
          else scaled.live(spark, dir, "assign_scaled", days).select("vec_id", "nv", "bkt"))
      }
    }
  }

  // --------------------------------------- scaled-K PQ face (r14)
  /** Build the DATA-SCALED compressed index — the q195 serving shape:
    * K=⌈√N⌉ coarse codebook (`trained = true` runs the spherical
    * k-means job instead of first-K), per-subspace PQ codebooks, and
    * the coded corpus, all under the same [[DirKey]] root (own
    * subpaths + metas). This face is where the store's economics are
    * strongest: it amortizes the N·√N coarse assignment AND the PQ
    * train + encode — everything q195 pays except the probe itself
    * (the xpk bench pair prices the split). Freshness is the scaled
    * face's: a build-time corpus digest for the codebooks (one hash
    * pass on open — no retraining to verify a trained codebook) plus
    * XOR-composed day digests for the codes.
    *
    * When `corpus eq indexRel` (the common self-indexing build: Bench
    * xpk, q195's specs) the artifacts' codes ARE the index codes and
    * the build runs ONE assignment + subvector explode; value-equal
    * but DISTINCT plans still re-encode because nothing ties their
    * row sets together until the digests (ADVICE r14). Every in-repo
    * caller now threads the same reference;
    * [[lastPqBuildReusedCodes]] makes the dispatch spec-pinnable
    * (VERDICT r15 next-4's one-build-one-encode).
    *
    * `trained` defaults TRUE (r16 — [[buildScaled]]'s argument; the
    * r15 xpk serve-invariance pair measured that the probe cost is
    * codebook-provenance-independent, so the default costs the serve
    * path nothing and buys the recall). First-K stays the explicit
    * fixture/oracle convention at parity call sites. */
  def buildPqScaled(corpus: DataFrame, indexRel: DataFrame, dir: String,
      day: Int = 0, trained: Boolean = true): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    clearFace(pqs, spark, dir, "codebook_pqs", "pq_codebook_pqs", "codebook_meta_pqs")
    // The common build indexes the codebook corpus itself (Bench xpk,
    // q195's specs) — in that case the artifacts' codes ARE the index
    // codes, and re-encoding pinnedI would run the N·√N coarse
    // assignment + subvector explode a second time over a distinct
    // persisted plan (ADVICE r14). Reference equality is the honest
    // test: value-equal but distinct plans still need their own encode
    // because nothing ties their row sets together until the digests.
    val same = corpus eq indexRel
    val pinnedC = corpus.persist()
    val pinnedI = if (same) pinnedC else indexRel.persist()
    try {
      val sq = graft.operators.SimilarityQueries
      val k = sq.scaledK(pinnedC)
      val cents =
        if (trained) sq.scaledCodebookTrained(pinnedC, k)
        else sq.scaledCodebook(pinnedC, k)
      spark.createDataFrame(cents.zipWithIndex.map { case (cv, i) => (i.toLong, cv) })
        .toDF("c_id", "cv")
        .coalesce(1).write.parquet(s"$dir/codebook_pqs")
      // Codebooks (coarse AND PQ) train on the CORPUS — the model
      // artifacts advance-days stay valid against (the buildScaled
      // two-relation contract: the codebook source is keyed separately
      // from the indexed data, so daily advances/retires of the code
      // set never read stale just because the code set changed —
      // review r14 finding 1).
      val (_, pqCents, corpusCodes) = sq.pqScaledIndexArtifactsWith(pinnedC, cents)
      pqCents.toSeq.flatMap { case (sub, cs) =>
        cs.map { case (cid, cv) => (sub, cid, cv) }
      }.toDF("sub", "cid", "cv")
        .coalesce(1).write.parquet(s"$dir/pq_codebook_pqs")
      val codes =
        if (same) corpusCodes
        else sq.pqEncodeScaledWith(pinnedI, cents, pqCents)
      lastPqBuildReusedCodes.set(same)
      pqs.advance(spark, dir, day.toString) {
        pqs.write(codes, dir, "codes_pqs", day.toString)
        StoreLease.checkWrite(spark, dir) // commit-point re-check (ADVICE r17)
        val (cn, cdg) = digestOfPinned(pinnedC)
        spark.createDataFrame(Seq((cn, cdg, trained)))
          .toDF("n_vecs", "digest", "trained")
          .coalesce(1).write.parquet(s"$dir/codebook_meta_pqs")
        Seq(digestOfPinned(pinnedI))
      }
    } finally {
      pinnedC.unpersist(blocking = false): Unit
      if (!same) pinnedI.unpersist(blocking = false): Unit
    }
  }

  /** The stored scaled coarse codebook — ⌈√N⌉ driver rows. */
  def storedPqScaledCodebook(spark: SparkSession, dir: String): Seq[Seq[Double]] =
    spark.read.parquet(s"$dir/codebook_pqs")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).map(_._2).toSeq

  /** Append (or replace) one day of scaled PQ codes, encoded against
    * BOTH frozen codebooks. */
  def advanceDayPqScaled(batch: DataFrame, dir: String, day: Int): Unit = {
    val spark = batch.sparkSession
    val cents = storedPqScaledCodebook(spark, dir)
    val pqCents = storedPqCodebookAt(spark, s"$dir/pq_codebook_pqs")
    advanceFace(pqs, "codes_pqs", batch, dir, day)(
      graft.operators.SimilarityQueries.pqEncodeScaledWith(_, cents, pqCents))
  }

  /** Retire one scaled-PQ day. */
  def retireDayPqScaled(spark: SparkSession, dir: String, day: Int): Unit =
    pqs.retire(spark, dir, day.toString)

  /** The stored (scaled codebook, PQ codebooks, codes) IF configured
    * and fresh for this exact (codebook corpus, indexed data) pair —
    * the [[openFreshScaled]] two-relation contract: the build-time
    * codebook digest must equal the OFFERED codebook corpus's (so a
    * grown/mutated training corpus forces the Faiss retrain event,
    * with no retraining needed to check), and the XOR-composed day
    * digests must equal the offered INDEX relation's (so daily
    * advances and takedowns stay servable — the codes changing is
    * maintenance, not staleness). Only live-meta day partitions are
    * read. */
  def openFreshPqScaled(corpus: DataFrame, idxRel: DataFrame)
      : Option[(Seq[Seq[Double]], Map[Int, Seq[(Long, Seq[Double])]], DataFrame)] = {
    val spark = corpus.sparkSession
    pqs.open(spark, DirKey, TrustKey) { (dir, trusted) =>
      val cents = storedPqScaledCodebook(spark, dir)
      val cbFresh = trusted || {
        val cb = spark.read.parquet(s"$dir/codebook_meta_pqs").head()
        (cb.getLong(0), cb.getLong(1)) == digestOf(corpus)
      }
      if (!cbFresh) pqs.stale(dir)
      else pqs.fresh(spark, dir, trusted, Seq(digestOf(idxRel))).map { days =>
        (cents, storedPqCodebookAt(spark, s"$dir/pq_codebook_pqs"),
          if (days.isEmpty) spark.range(0).select(col("id").as("vec_id"), col("id").as("bkt"),
            col("id").cast("int").as("sub"), col("id").as("code"))
          else pqs.live(spark, dir, "codes_pqs", days).select("vec_id", "bkt", "sub", "code"))
      }
    }
  }

  /** Drop one face's layout and its frozen artifacts, leaving the
    * other faces under the same root alone. */
  private def clearFace(face: PartitionedStore, spark: SparkSession, dir: String,
      artifacts: String*): Unit = {
    face.clear(spark, dir)
    artifacts.foreach(a => PartitionedStore.fs(spark, dir).delete(new Path(s"$dir/$a"), true): Unit)
  }

  private def storedPqCodebookAt(spark: SparkSession, path: String)
      : Map[Int, Seq[(Long, Seq[Double])]] =
    spark.read.parquet(path)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .groupBy(_._1).map { case (sub, rs) =>
        sub -> rs.sortBy(_._2).map(t => (t._2, t._3)).toSeq
      }

  /** The stored (codebook, assignments) IF configured and fresh for
    * this exact (corpus, index) pair — None (driver-log line, never an
    * error) on key unset, unreadable store, stored-vs-implied codebook
    * mismatch, or index digest mismatch. */
  def openFresh(corpus: DataFrame, idxRel: DataFrame)
      : Option[(Seq[(Long, Seq[Double])], DataFrame)] = {
    val spark = corpus.sparkSession
    base.open(spark, DirKey, TrustKey) { (dir, trusted) =>
      val cents = storedCodebook(spark, dir)
      if (!trusted && graft.operators.SimilarityQueries.centroidList(corpus) != cents)
        base.stale(dir)
      else base.fresh(spark, dir, trusted, Seq(digestOf(idxRel))).map { days =>
        (cents,
          // zero live days: the index is legitimately empty (an empty
          // assign/ has no schema to infer — serve the typed relation)
          if (days.isEmpty) spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            idxRel.select(col("vec_id").as("n_id"),
              col("embedding").as("n_vec"), lit(0L).as("bkt")).schema)
          else base.live(spark, dir, "assign", days).select("n_id", "n_vec", "bkt"))
      }
    }
  }
}
