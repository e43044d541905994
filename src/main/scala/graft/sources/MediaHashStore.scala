package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Day-partitioned store for the image dHash index, on the
  * [[PartitionedStore]] contract. q153's production face probes a
  * persisted (media_id, dhash) index (16 bytes/image) instead of
  * re-decoding the corpus; hashing
  * ([[graft.multimodal.MediaDedup.hashImages]]) happens once at ingest,
  * and a takedown never re-reads another day's binary payloads.
  *
  * {{{
  *   <dir>/hashes/day=N/       (media_id, dhash)
  *   <dir>/meta/day=N/         digest of the stored (media_id, dhash)
  *   <dir>/source_meta/day=N/  digest of the source (media_id, text)
  * }}}
  *
  * '''The SOURCED face (r15).''' The decon probe (q197) is offered the
  * train corpus's SOURCE relation, not its hashes — so a store-or-
  * inline dispatch needs freshness the caller can verify WITHOUT the
  * decode the store exists to amortize. [[buildSourced]]/
  * [[advanceDaySourced]] commit, per day, a digest over the source
  * rows the day's hashes were derived from; [[openFreshFor]] verifies
  * the offered source in one xxhash64 scan (no render, no decode) and
  * serves the stored index. The source meta is the LAST write, the
  * sourced face's commit point.
  */
object MediaHashStore {

  /** Session conf: root dir of the store for the SOURCED decon face
    * ([[openFreshFor]]). Unset (default) = no store, hash inline. */
  val DirKey = "spark.graft.mediastore.dir"

  /** Session conf: skip the INTEGRITY scan — [[open]]'s digest
    * verification of the stored index, and [[openFreshFor]]'s
    * stored-rows-vs-hash-meta check — and trust the store's bytes:
    * the [[VectorIndexStore.TrustKey]] semantics (a per-open
    * index-proportional scan is exactly what the trust lever exists
    * to avoid where external checksums / an immutable object store
    * already guarantee integrity).
    *
    * Deliberately NOT covered (split, ADVICE r15): [[openFreshFor]]'s
    * source-FRESHNESS comparison. Freshness is one xxhash64 scan over
    * the OFFERED captions — no decode, no stored-index scan — and
    * skipping it in a decontamination gate converts a lagging ingest
    * into silently missed contamination pairs. A deployment whose
    * pipeline ordering provably advances the store before any probe
    * runs may additionally set [[TrustFreshKey]]. Default false:
    * verify integrity. */
  val TrustKey = "spark.graft.mediastore.trust"

  /** Session conf: ALSO skip [[openFreshFor]]'s source-freshness
    * comparison (one caption xxhash64 scan — the stale-store-demotion
    * signal). Its own lever, separate from [[TrustKey]], because the
    * two checks fail differently: a torn store is an operational
    * fault the integrity scan catches loudly, while a stale store is
    * a SILENT decon miss the freshness scan demotes to inline. Set
    * only where ingest provably advances the store before any probe
    * runs. Default false: verify freshness even when trusted. */
  val TrustFreshKey = "spark.graft.mediastore.trustfresh"

  private val hashes = new PartitionedStore("mediastore", "day", Seq("hashes"), Seq("media"))

  /** The sourced face's meta: its commit point, written after the hash
    * meta, so a crashed advance's day is invisible to [[openFreshFor]]. */
  private val sources =
    new PartitionedStore("mediastore", "day", Seq.empty, Seq("src"), meta = "source_meta")

  /** Order-independent digest of a hashed batch:
    * (count, XOR of xxhash64(media_id, dhash)) — [[FileDigests]]-cached
    * per file, so an unchanged stored-hash corpus digests scan-free. */
  def digestOf(hashed: DataFrame): (Long, Long) =
    FileDigests.digestOf(hashed, xxhash64(col("media_id"), col("dhash")))

  /** Write-path variant: whole-relation aggregate over `hashed` as
    * evaluated (honors a pinned batch), never the per-file cache —
    * [[FileDigests.digestOfPinned]]'s tear argument (ADVICE r17). */
  def digestOfPinned(hashed: DataFrame): (Long, Long) =
    FileDigests.digestOfPinned(hashed, xxhash64(col("media_id"), col("dhash")))

  /** Build a fresh store from an already-hashed (media_id, dhash)
    * relation, replacing any prior content. */
  def build(hashed: DataFrame, dir: String, day: Int = 0): Unit = {
    StoreLease.replaceContents(hashed.sparkSession, dir)
    advanceDay(hashed, dir, day)
  }

  /** Append (or replace) one ingest day of hashes. */
  def advanceDay(hashedBatch: DataFrame, dir: String, day: Int): Unit = {
    val spark = hashedBatch.sparkSession
    sources.retire(spark, dir, day.toString)
    hashes.advance(spark, dir, day.toString) {
      hashes.write(hashedBatch.select("media_id", "dhash"), dir, "hashes", day.toString)
      // The digest is computed from the JUST-WRITTEN partition, not
      // from `hashedBatch` again: a non-deterministic batch plan
      // (sampled, raced, or re-decoded input) evaluated twice could
      // persist a meta digest that never matches the stored rows.
      Seq(hashes.digestWritten(spark, dir, "hashes", day.toString, digestOf))
    }
  }

  /** Retire one day (takedown/expiry) from BOTH metas, source meta
    * first. After this [[open]]/[[openFreshFor]] serve the index exactly
    * as if that day had never been ingested — no decode, no rebuild. */
  def retireDay(spark: SparkSession, dir: String, day: Int): Unit = {
    sources.retire(spark, dir, day.toString)
    hashes.retire(spark, dir, day.toString)
  }

  // -------------------------------------------- sourced decon face
  /** Order-independent digest of the SOURCE relation (media_id, text)
    * a day's hashes were rendered/decoded from — what makes the decon
    * dispatch's freshness check decode-free: one xxhash64 scan over
    * the offered captions instead of re-rendering + re-hashing the
    * images to compare. A real lake digests (media_id, content-etag)
    * the same way — any cheap per-row key that changes when the
    * payload does. */
  def sourceDigestOf(source: DataFrame): (Long, Long) =
    FileDigests.digestOf(source, xxhash64(col("media_id"), col("text")))

  /** Commit the sourced face: the day's source digest, as a
    * whole-relation aggregate (never the per-file cache) so it describes
    * the evaluation the day's hashes derived from —
    * FileDigests.digestOfPinned's tear argument. */
  private def commitSource(dir: String, day: Int, source: DataFrame): Unit =
    sources.commit(source.sparkSession, dir, day.toString,
      FileDigests.digestOfPinned(source, xxhash64(col("media_id"), col("text"))))

  /** Build a fresh SOURCED store: the hash index plus the day's source
    * digest, so [[openFreshFor]] can verify freshness against the
    * offered source relation without a single decode. `source` must be
    * the exact (media_id, text) relation `hashed` was derived from.
    *
    * `day` defaults to -1 — OUTSIDE a Structured Streaming batch-id
    * range — matching [[graft.streaming.MediaHashMaintainer]]'s
    * documented backfill convention (ADVICE r15): a default-day-0
    * backfill would collide with the stream's first batch, whose
    * unconditional retire-then-write silently DELETES the backfill's
    * hashes from the serving index. Builds that are not followed by a
    * maintainer may pass any day. */
  def buildSourced(source: DataFrame, hashed: DataFrame, dir: String,
      day: Int = -1): Unit = {
    StoreLease.replaceContents(hashed.sparkSession, dir)
    advanceDaySourced(source, hashed, dir, day)
  }

  /** Append (or replace) one ingest day with its source digest, the
    * source meta last. */
  def advanceDaySourced(source: DataFrame, hashedBatch: DataFrame,
      dir: String, day: Int): Unit = {
    advanceDay(hashedBatch, dir, day)
    commitSource(dir, day, source)
  }

  /** The stored hash index IF [[DirKey]] is configured and the store
    * is FRESH for the offered (media_id, text) source — the q82/q195
    * store-or-inline dispatch for the media decon eye (q197).
    * Freshness: the XOR-composed per-day source digests must equal the
    * offered source's (one caption hash pass, zero decodes). Only days
    * named in the source meta are read (it is the last write of every
    * build/advance, so a crashed advance's orphan day is invisible
    * here). Untrusted opens additionally verify the served hash rows
    * against the hash meta — an integrity scan of 16-byte rows, still
    * no decode; [[TrustKey]] skips only that integrity scan, and the
    * freshness comparison needs [[TrustFreshKey]] too. None (a driver-log
    * line, never an error) on key unset, unreadable store, or any
    * mismatch — the fallback costs an inline re-decode, never a wrong
    * or missing pair. */
  def openFreshFor(source: DataFrame): Option[DataFrame] = {
    val spark = source.sparkSession
    // Freshness runs under its OWN lever (ADVICE r15): TrustKey skips
    // only the integrity scan below. The caption-digest comparison is
    // decode-free and is the sole signal that demotes a lagging ingest
    // to inline instead of silently missing pairs.
    sources.open(spark, DirKey, TrustFreshKey) { (dir, trustFresh) =>
      sources.fresh(spark, dir, trustFresh, Seq(sourceDigestOf(source))).map { days =>
        if (days.isEmpty) {
          import spark.implicits._
          Seq.empty[(Long, Long)].toDF("media_id", "dhash")
        } else {
          val idx = hashes.live(spark, dir, "hashes", days).select("media_id", "dhash")
          if (!spark.conf.get(TrustKey, "false").toBoolean) {
            val stored = hashes.composed(hashes.metas(spark, dir).filter(m => days.contains(m._1)))
            require(Seq(digestOf(idx)) == stored,
              s"media hash store $dir is torn: partition digest != meta digest")
          }
          idx
        }
      }
    }
  }

  /** The stored index across all live days, verified self-consistent
    * unless [[TrustKey]] is set: the partitions' digest must equal the
    * meta's composed digest — a torn write or external tampering
    * surfaces here instead of as silently missing candidates. The
    * verify face is the audit path; trusted deployments (external
    * checksums, immutable object store) skip the full-index scan.
    *
    * Retiring the LAST live day is a legal state (a total takedown):
    * the meta then sums to zero media and the index is served as an
    * empty (media_id, dhash) relation — not as Spark's
    * unable-to-infer-schema error on the empty `hashes/` dir. */
  def open(spark: SparkSession, dir: String): DataFrame =
    hashes.verified(spark, dir, "hashes", spark.conf.get(TrustKey, "false").toBoolean,
      digestOf) {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("media_id", "dhash")
    }.select("media_id", "dhash")
}
