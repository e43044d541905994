package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.multimodal.MediaDedup
import graft.sources.MediaHashStore
import graft.state.JdbcStateStore

/** Streaming maintenance of the media hash index's SOURCED face
  * ([[MediaHashStore]]): each micro-batch of arriving
  * (media_id, text, content) rows is DECODED ONCE, its dHashes
  * appended as the batch's own day with the day's source digest,
  * exactly once ([[BatchDay.applyOnce]]), so
  * [[graft.operators.MediaQueries]]' q197/q198 dispatch
  * ([[MediaHashStore.openFreshFor]]) reads an index current through
  * the last committed batch — the corpus decode happens at ingest,
  * exactly once per payload, and a suite edit later probes stored
  * 16-byte hashes instead of re-rendering terabytes of images. Per
  * micro-batch the cost is one batch-sized decode pass + two one-row
  * digests + one partition write + one PK insert.
  */
object MediaHashMaintainer {

  /** Advance the store by one micro-batch of (media_id, text, content)
    * rows exactly once; returns true when this call performed the
    * advance (false = committed replay skipped). The batch id doubles
    * as the store day — build with a day outside the stream's batch-id
    * range (e.g. -1 for the initial backfill). The SOURCE digest is
    * taken over (media_id, text) — the cheap per-row key the probe
    * callers hold; payload bytes never outlive the hashing pass. */
  def advanceBatch(batch: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String, batchId: Long): Boolean =
    BatchDay.applyOnce(batch, store, sinkId, batchId) { (b, day) =>
      // The source digest and the hash rows must derive from the SAME
      // evaluation of a possibly non-deterministic upstream (the
      // WinnowStore argument) — but pinning the RAW batch would cache
      // every payload byte for the length of the advance (review r15
      // finding 4). Instead the hashing pass carries the caption
      // through and the pinned relation is the NARROW
      // (media_id, text, dhash) output: payloads dropped in-pass,
      // consistency by construction.
      val pinned = MediaDedup.hashImagesWithSource(
        b.select(col("media_id"), col("text"), col("content"))).persist()
      try MediaHashStore.advanceDaySourced(
        pinned.select("media_id", "text"), pinned.select("media_id", "dhash"), dir, day)
      finally pinned.unpersist(blocking = false): Unit
    }

  /** Wire a streaming media DataFrame (media_id, text, content) into
    * the maintainer. Caller starts it. */
  def exactlyOnce(stream: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    BatchDay.writer(stream)(advanceBatch(_, store, sinkId, dir, _))
}
