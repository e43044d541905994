package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Day-partitioned store for the video SEGMENT fingerprint index, on
  * the [[PartitionedStore]] contract. Segment fingerprints
  * ([[graft.multimodal.VideoSegDedup.segmentFingerprints]]) decode
  * once at ingest, so a takedown of one day of video never re-decodes
  * the rest: `VideoSegDedup.sharedSegmentPairs(open(...))` after a
  * retire equals the pairs of an index REBUILT without that day
  * (spec-pinned).
  *
  * {{{
  *   <dir>/segs/day=N/  (video_id, seg_fp)
  * }}}
  * The per-day digest is over the stored (video_id, seg_fp) rows,
  * verifiable without touching a single container byte.
  */
object VideoSegStore {

  /** Session conf: skip [[open]]'s digest verification and trust the
    * store — the audit-vs-daily-probe lever every sibling store
    * exposes. Default false: verify. */
  val TrustKey = "spark.graft.videostore.trust"

  private val layout = new PartitionedStore("videostore", "day", Seq("segs"), Seq("segs"))

  /** Order-independent digest of a fingerprint batch:
    * (count, XOR of xxhash64(video_id, seg_fp)) — [[FileDigests]]-cached
    * per file like the rest of the store family. */
  def digestOf(fps: DataFrame): (Long, Long) =
    FileDigests.digestOf(fps, xxhash64(col("video_id"), col("seg_fp")))

  /** Build a fresh store from an already-fingerprinted
    * (video_id, seg_fp) relation, replacing any prior content. */
  def build(fps: DataFrame, dir: String, day: Int = 0): Unit = {
    StoreLease.replaceContents(fps.sparkSession, dir)
    advanceDay(fps, dir, day)
  }

  /** Append (or replace) one ingest day of segment fingerprints (the
    * day's videos decode exactly once, here). */
  def advanceDay(fpBatch: DataFrame, dir: String, day: Int): Unit = {
    val spark = fpBatch.sparkSession
    layout.advance(spark, dir, day.toString) {
      layout.write(fpBatch.select("video_id", "seg_fp"), dir, "segs", day.toString)
      // The digest is computed from the JUST-WRITTEN partition, not the
      // batch plan again — the decode behind segmentFingerprints is
      // exactly the kind of re-evaluated input whose second run must
      // not be trusted to reproduce byte-identically.
      Seq(layout.digestWritten(spark, dir, "segs", day.toString, digestOf))
    }
  }

  /** Retire one day (takedown/expiry): the retired day's videos become
    * unfindable with zero decodes and zero touches of other days. */
  def retireDay(spark: SparkSession, dir: String, day: Int): Unit =
    layout.retire(spark, dir, day.toString)

  /** The stored index across all live days, verified (orphan-free,
    * digest-matching) unless [[TrustKey]] is set. Retiring the LAST
    * live day serves an empty relation. */
  def open(spark: SparkSession, dir: String): DataFrame =
    layout.verified(spark, dir, "segs", spark.conf.get(TrustKey, "false").toBoolean,
      digestOf) {
      import spark.implicits._
      Seq.empty[(Long, String)].toDF("video_id", "seg_fp")
    }.select("video_id", "seg_fp")
}
