package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized shingle/signature store for the near-dup tier, on the
  * [[PartitionedStore]] contract (day partitions).
  *
  * Every LSH-family query (q17/q18/q40/q73/q138/q141/q146) starts from
  * the SAME two relations: the df-capped word-3-gram shingles and the
  * 20 MinHash signatures. Recomputing them per query is the daily-
  * pipeline cost driver — the corpus-wide explode+distinct+df-cap is
  * 60-80% of each query's runtime (measured: the `xss` bench entry vs
  * q40). A pipeline builds this store once per ingest day and every
  * dedup query reuses it.
  *
  * {{{
  *   <dir>/shingles/day=N/   (doc_id, sh)           df-capped shingles
  *   <dir>/sigs/day=N/       (doc_id, s0..s19)      xxhash64 MinHash sigs
  * }}}
  * The digest is over the SOURCE documents, `xxhash64(doc_id, text)`,
  * so [[advanceDay]] shingles and signs only its own batch and never
  * re-reads a prior day (SignatureStoreSpec deletes day 0's source
  * files and day 1 still advances).
  */
object SignatureStore {

  /** Session conf: root dir of the store. Unset (default) = no store. */
  val DirKey = "spark.graft.sigstore.dir"

  /** Session conf: skip the digest freshness scan and trust the store
    * (for deployments with external freshness guarantees). */
  val TrustKey = "spark.graft.sigstore.trust"

  /** The two stored relations, day column already dropped. */
  final case class Store(shingles: DataFrame, sigs: DataFrame)

  private val SigCols = 20

  private val layout = new PartitionedStore("sigstore", "day", Seq("shingles", "sigs"), Seq("docs"))

  /** Order-independent corpus digest: (n_docs, XOR of per-doc hashes).
    * Served through the [[FileDigests]] per-file cache (r17): a
    * file-backed corpus whose files are unchanged digests from one
    * LISTING, zero data scanned. */
  def digestOf(docRel: DataFrame): (Long, Long) =
    FileDigests.digestOf(docRel, xxhash64(col("doc_id"), col("text")))

  /** Write-path variant: one whole-relation aggregate over `docRel` AS
    * EVALUATED (a caller's persist() is honored through the
    * CacheManager), never the per-file cache — a maintainer's meta
    * digest must describe the snapshot its evidence derived from, and
    * the per-file path re-reads disk behind the pin
    * ([[FileDigests.digestOfPinned]], ADVICE r17). */
  def digestOfPinned(docRel: DataFrame): (Long, Long) =
    FileDigests.digestOfPinned(docRel, xxhash64(col("doc_id"), col("text")))

  /** Build a fresh store at `dir` from the full corpus (replacing any
    * prior content), recorded as `day`. Caller owns cache hygiene
    * (bracket with `Caches.releaseAll()` as usual). */
  def build(docRel: DataFrame, dir: String, day: Int = 0): Unit = {
    StoreLease.replaceContents(docRel.sparkSession, dir)
    advanceDay(docRel, dir, day)
  }

  /** Append (or replace) one ingest day: shingle + sign ONLY the batch.
    * Prior days are not parameters and are never read. */
  def advanceDay(docBatch: DataFrame, dir: String, day: Int): Unit =
    layout.advance(docBatch.sparkSession, dir, day.toString) {
      import graft.operators.DedupQueries
      val sh = DedupQueries.shinglesOf(docBatch)
      layout.write(sh, dir, "shingles", day.toString)
      layout.write(DedupQueries.sigsOf(sh, fastHash = true), dir, "sigs", day.toString)
      Seq(digestOfPinned(docBatch))
    }

  /** Retire one day (takedown/expiry). After this the store is fresh
    * for the corpus WITHOUT that day's documents. */
  def retireDay(spark: SparkSession, dir: String, day: Int): Unit =
    layout.retire(spark, dir, day.toString)

  /** The store for this corpus, IF configured and fresh; None
    * otherwise — callers fall back to direct computation, so a stale
    * store can cost time but never correctness. */
  def openFresh(docRel: DataFrame): Option[Store] = {
    val spark = docRel.sparkSession
    layout.openFresh(spark, DirKey, TrustKey, digestOf(docRel)) { (dir, days) =>
      val sigCols = (0 until SigCols).map(i => s"s$i")
      if (days.isEmpty) {
        import spark.implicits._
        Store(Seq.empty[(Long, String)].toDF("doc_id", "sh"),
          Seq.empty[Long].toDF("doc_id")
            .select(col("doc_id") +: sigCols.map(lit(0L).as(_)): _*))
      } else Store(
        layout.live(spark, dir, "shingles", days).select("doc_id", "sh"),
        layout.live(spark, dir, "sigs", days).select("doc_id", sigCols: _*))
    }
  }
}
