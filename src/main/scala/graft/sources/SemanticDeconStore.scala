package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark-partitioned store for SEMANTIC eval-set decontamination
  * (q185's embedding probe) — [[DeconStore]]'s contract applied to the
  * vector face, with one extra artifact that exists for CORRECTNESS,
  * not cost: a **frozen coarse codebook**.
  *
  * The inline gate kernel derives its codebook from (batch ∪ eval)
  * per call, so which bucket an eval vector lands in — and therefore
  * which candidates a batch vector meets — can depend on WHAT ELSE
  * arrived in the same micro-batch. A store-served gate assigns every
  * batch against the codebook frozen at build time, so two different
  * batches give a shared vector the same verdict (spec-pinned), the
  * IVF operational contract [[VectorIndexStore]] already documents.
  *
  * One [[PartitionedStore]] partition per benchmark, beside the
  * codebook:
  * {{{
  *   <dir>/codebook/         (c_id, cv)          written ONCE at build
  *   <dir>/vecs/bench=<n>/   (vec_id, nv, bkt)   one row per (vec, probe)
  * }}}
  * [[advanceBenchmark]] assigns ONLY its benchmark's embeddings
  * against the stored codebook (never re-derived); retire keeps the
  * codebook — it is a model artifact. The digest is
  * [[VectorIndexStore.digestOf]] over each benchmark's embeddings.
  */
object SemanticDeconStore {

  /** Session conf: root dir of the store. Unset (default) = no store. */
  val DirKey = "spark.graft.semdeconstore.dir"

  /** Session conf: skip the digest freshness scan and trust the store. */
  val TrustKey = "spark.graft.semdeconstore.trust"

  private val layout = new PartitionedStore("semdeconstore", "bench", Seq("vecs"), Seq("vecs"))

  /** Build the store from the full eval-suite embeddings, replacing
    * prior content. The codebook freezes HERE — from `codebookFrom`
    * (a reference corpus) or the suite itself; an empty codebook is an
    * explicit build error, never a silently-candidate-free store.
    * `trained = true` runs the k-means training job
    * ([[graft.operators.SimilarityQueries.trainedCodebook]]) on the
    * codebook source instead of taking its first K vectors — the
    * production setting (VERDICT r13 next-1): on a clustered corpus
    * whose low ids share a cluster, first-K leaves other clusters
    * centroid-less and the candidate join under-recalls;
    * TrainedCodebookSpec plants that corpus and pins the repair. The
    * stored artifact's CONTRACT is unchanged either way — every later
    * advance assigns against exactly these frozen centroids.
    *
    * `trained` defaults TRUE (r16, VERDICT r15 next-2): the
    * production setting is the default; first-K is the EXPLICIT
    * fixture convention — parity specs pass `trained = false` because
    * the inline gate arm they pin against derives the union's first-K
    * codebook. */
  def build(evalEmb: DataFrame, dir: String,
      codebookFrom: Option[DataFrame] = None,
      trained: Boolean = true): Unit = {
    val spark = evalEmb.sparkSession
    StoreLease.replaceContents(spark, dir)
    val src = codebookFrom.getOrElse(evalEmb)
    val cents =
      if (trained) graft.operators.SimilarityQueries
        .trainedCodebook(src, graft.operators.SimilarityQueries.NumCentroids)
      else graft.operators.SimilarityQueries.centroidList(src)
    require(cents.nonEmpty,
      s"semantic decon store $dir: codebook source has no vec_id below the codebook size")
    spark.createDataFrame(cents).toDF("c_id", "cv")
      .coalesce(1).write.parquet(s"$dir/codebook")
    advanceBenchmark("all", evalEmb, dir)
  }

  /** The stored frozen codebook — K driver rows. */
  def storedCodebook(spark: SparkSession, dir: String): Seq[(Long, Seq[Double])] =
    spark.read.parquet(s"$dir/codebook")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq

  /** Add (or replace) ONE benchmark's partition from its embeddings
    * alone, assigned against the FROZEN codebook. The input is pinned
    * across assignment + digest so a non-deterministic plan cannot tear
    * them apart. */
  def advanceBenchmark(name: String, benchEmb: DataFrame, dir: String): Unit = {
    val spark = benchEmb.sparkSession
    val cents = storedCodebook(spark, dir)
    layout.advance(spark, dir, name) {
      val pinned = benchEmb.persist()
      try {
        layout.write(graft.operators.SimilarityQueries.multiAssignWithNv(pinned, cents),
          dir, "vecs", name)
        Seq(VectorIndexStore.digestOfPinned(pinned))
      } finally pinned.unpersist(blocking = false): Unit
    }
  }

  /** Drop ONE benchmark's partition. The codebook stays. */
  def retireBenchmark(name: String, spark: SparkSession, dir: String): Unit =
    layout.retire(spark, dir, name)

  /** The (frozen codebook, assigned eval index) IF configured and the
    * per-benchmark metas combine to exactly this eval corpus; None
    * otherwise. Only live benchmarks are read. */
  def openFresh(evalEmb: DataFrame): Option[(Seq[(Long, Seq[Double])], DataFrame)] = {
    val spark = evalEmb.sparkSession
    layout.openFresh(spark, DirKey, TrustKey, VectorIndexStore.digestOf(evalEmb)) { (dir, benches) =>
      (storedCodebook(spark, dir),
        if (benches.isEmpty) spark.range(0).select(col("id").as("vec_id"),
          array().cast("array<double>").as("nv"), col("id").as("bkt"))
        else layout.live(spark, dir, "vecs", benches).select("vec_id", "nv", "bkt"))
    }
  }
}
