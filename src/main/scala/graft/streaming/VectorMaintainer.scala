package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.VectorIndexStore
import graft.state.JdbcStateStore

/** Streaming maintenance of the IVF [[VectorIndexStore]]: each
  * micro-batch of freshly-embedded vectors is bucket-assigned against
  * the FROZEN stored codebook and appended as its own day partition
  * exactly once ([[BatchDay.applyOnce]]), so q139's daily probe reads
  * an index already current through the last committed batch —
  * embeddings flow from the embedding service into the ANN index with
  * no nightly re-assignment job in between. Per micro-batch the cost
  * is one batch-sized assignment pass (K·D flops/vector against the
  * stored quantizer; for the PQ face also the subvector encode against
  * the frozen PQ codebooks) + one partition write + one PK insert.
  *
  * Every face's store must already exist (its `build*`) — a codebook
  * is a trained artifact, not something a micro-batch may invent. The
  * batch id doubles as the store day, so build with a day OUTSIDE the
  * stream's batch-id range (e.g. day = -1 for the initial backfill) or
  * batch 0 would retire-and-replace it.
  */
object VectorMaintainer {

  /** Advance the base face (q139) by one micro-batch exactly once;
    * returns true when this call performed the advance. */
  def advanceBatch(batch: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String, batchId: Long): Boolean =
    BatchDay.applyOnce(batch, store, sinkId, batchId)(VectorIndexStore.advanceDay(_, dir, _))

  /** Wire a streaming embedding DataFrame (vec_id, embedding, …) into
    * the base face's maintainer. Caller starts it. */
  def exactlyOnce(stream: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    BatchDay.writer(stream)(advanceBatch(_, store, sinkId, dir, _))

  /** Advance the SCALED face (q188/xsk) by one micro-batch exactly
    * once. The frozen codebook's K froze at BUILD-time corpus size: a
    * corpus that outgrows its √N codebook re-[[VectorIndexStore.buildScaled]]s
    * (the Faiss retrain event); the maintainer only appends under the
    * standing model. */
  def advanceBatchScaled(batch: DataFrame, store: JdbcStateStore,
      sinkId: String, dir: String, batchId: Long): Boolean =
    BatchDay.applyOnce(batch, store, sinkId, batchId)(VectorIndexStore.advanceDayScaled(_, dir, _))

  /** Wire a streaming embedding DataFrame into the scaled face's
    * maintainer. */
  def exactlyOnceScaled(stream: DataFrame, store: JdbcStateStore,
      sinkId: String, dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    BatchDay.writer(stream)(advanceBatchScaled(_, store, sinkId, dir, _))

  /** Advance the SCALED-PQ face (q195/xpk — the compressed serving
    * shape) by one micro-batch exactly once: the batch is coarse-
    * assigned and PQ-encoded against BOTH frozen codebooks. */
  def advanceBatchPqScaled(batch: DataFrame, store: JdbcStateStore,
      sinkId: String, dir: String, batchId: Long): Boolean =
    BatchDay.applyOnce(batch, store, sinkId, batchId)(VectorIndexStore.advanceDayPqScaled(_, dir, _))

  /** Wire a streaming embedding DataFrame into the scaled-PQ face's
    * maintainer. */
  def exactlyOncePqScaled(stream: DataFrame, store: JdbcStateStore,
      sinkId: String, dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    BatchDay.writer(stream)(advanceBatchPqScaled(_, store, sinkId, dir, _))
}
