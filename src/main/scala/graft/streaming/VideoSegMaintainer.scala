package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.multimodal.VideoSegDedup
import graft.sources.VideoSegStore
import graft.state.JdbcStateStore

/** Streaming maintenance of the video segment fingerprint index
  * ([[VideoSegStore]]): each micro-batch of arriving videos is DECODED
  * ONCE, its segment fingerprints appended as the batch's own day
  * partition exactly once ([[BatchDay.applyOnce]]), so the daily
  * shared-segment pass reads an index already current through the last
  * committed batch and never touches a container byte. A committed
  * replay skips the decode entirely. Per micro-batch the cost is one
  * batch-sized decode pass + one partition write + one PK insert —
  * nothing scales with the stored history.
  */
object VideoSegMaintainer {

  /** Advance the store by one micro-batch of (video_id, content)
    * payloads exactly once; returns true when this call performed the
    * advance (false = committed replay skipped). The batch id doubles
    * as the store day. */
  def advanceBatch(batch: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String, batchId: Long): Boolean =
    BatchDay.applyOnce(batch, store, sinkId, batchId)((b, day) =>
      VideoSegStore.advanceDay(VideoSegDedup.segmentFingerprints(b), dir, day))

  /** Wire a streaming video DataFrame (video_id, content) into the
    * maintainer. Caller starts it. */
  def exactlyOnce(stream: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    BatchDay.writer(stream)(advanceBatch(_, store, sinkId, dir, _))
}
