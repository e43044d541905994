package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.WinnowStore
import graft.state.JdbcStateStore

/** Streaming maintenance of the substring-dedup [[WinnowStore]]: each
  * micro-batch of fresh documents is winnowed and appended as its own
  * day partition exactly once ([[BatchDay.applyOnce]]), so q152's daily
  * probe reads an index already current through the last committed
  * batch. Per micro-batch the cost is one batch-sized winnow pass + one
  * partition write + one PK insert — nothing scales with the stored
  * history.
  */
object WinnowMaintainer {

  /** Advance the store by one micro-batch exactly once; returns true
    * when this call performed the advance (false = committed replay
    * skipped). The batch id doubles as the store day. */
  def advanceBatch(batch: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String, batchId: Long): Boolean =
    BatchDay.applyOnce(batch, store, sinkId, batchId)(WinnowStore.advanceDay(_, dir, _))

  /** Wire a streaming document DataFrame (doc_id, text, …) into the
    * maintainer. Caller starts it. */
  def exactlyOnce(stream: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    BatchDay.writer(stream)(advanceBatch(_, store, sinkId, dir, _))
}
