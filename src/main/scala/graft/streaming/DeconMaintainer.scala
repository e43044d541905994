package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.DeconStore
import graft.state.JdbcStateStore

/** Streaming maintenance of the GRAM decontamination store
  * ([[DeconStore]]) — [[SemanticDeconMaintainer]]'s contract for the
  * exact-match eye (r15): a benchmark release, revision, or takedown
  * arrives as a micro-batch of edit events and the store's
  * per-benchmark (fps, grams) partitions advance/retire exactly once,
  * so [[DeconGate.flag]]'s store-served path — and through it the
  * composed two- and three-eye gates — stays fresh through suite churn
  * without anyone hand-running `advanceBenchmark`. Before this, the
  * semantic eye's store streamed suite edits while the gram eye's was
  * maintained by hand: the composed gate reads BOTH stores, so suite
  * churn has to flow into both or the slower one drags every verdict
  * back to the inline arm.
  *
  * Event schema: `(bench, action, doc_id, text)` with `action` ∈
  * {"advance", "retire"}. Within one batch retires apply FIRST, so a
  * replacement (retire + advance rows in the same batch) lands as the
  * new content; a retire needs no docs (its doc_id/text are ignored).
  *
  * Exactly-once by the tier's two moves: [[DeconStore.advanceBenchmark]]
  * is convergent under replay (retire-then-write of one benchmark's
  * partitions, meta commit point LAST) and the control-table batch
  * marker skips committed replays. A crash mid-retire deletes the meta
  * FIRST (DeconStore's inverse commit order), so orphan fps/grams are
  * no longer covered by the combined digest → readers fall back inline
  * — cost, never a stale verdict. Per batch the cost is one bounded
  * distinct over the batch's (bench, action) pairs plus one
  * benchmark-sized winnow + gram derivation per advanced benchmark —
  * suite edits are benchmark-sized, never corpus-sized.
  */
object DeconMaintainer {

  /** Apply one micro-batch of suite edits exactly once (the shared
    * [[SuiteEditBatch]] protocol — pinned batch, retires first,
    * unknown actions fail loud BEFORE the marker commits); returns
    * true when this call applied them. */
  def applyBatch(batch: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    SuiteEditBatch.applyOnce(batch, store, sinkId, batchId)(
      DeconStore.retireBenchmark(_, spark, dir),
      (b, rows) => DeconStore.advanceBenchmark(b,
        rows.select("doc_id", "text"), dir))
  }

  /** Wire a streaming suite-edit DataFrame (bench, action, doc_id,
    * text) into the maintainer. Caller starts it (and owns
    * checkpointLocation, trigger, etc.). */
  def exactlyOnce(stream: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    BatchDay.writer(stream)(applyBatch(_, store, sinkId, dir, _))
}
