package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.SignatureStore
import graft.state.JdbcStateStore

/** Streaming maintenance of the shared [[SignatureStore]] — the glue
  * that closes the loop between streaming ingest and the batch dedup
  * tier: each micro-batch of fresh documents is shingled, signed, and
  * appended to the store as its own day partition, exactly once
  * ([[BatchDay.applyOnce]]), so the nightly dedup queries (q17/q18/q40/…
  * via `shinglesShared`) read signatures that are already current
  * through the last committed micro-batch — no corpus re-shingle at
  * query time.
  *
  * Scale: per micro-batch the work is one batch-sized shingle+sign
  * pass, two partition writes, and one PK insert — nothing scales with
  * the history, which exists only as stored partitions (never re-read;
  * SignatureStoreSpec proves day-0 source deletion survival).
  */
object SignatureMaintainer {

  /** Advance the store by one micro-batch exactly once; returns true
    * when this call performed the advance (false = committed replay
    * skipped). The batch id doubles as the store day. */
  def advanceBatch(batch: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String, batchId: Long): Boolean =
    BatchDay.applyOnce(batch, store, sinkId, batchId)(SignatureStore.advanceDay(_, dir, _))

  /** Wire a streaming document DataFrame (doc_id, text, …) into the
    * maintainer. Caller starts it. */
  def exactlyOnce(stream: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    BatchDay.writer(stream)(advanceBatch(_, store, sinkId, dir, _))
}
