package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.SemanticDeconStore
import graft.state.JdbcStateStore

/** Streaming maintenance of the semantic decontamination store
  * ([[SemanticDeconStore]]) — the [[VideoSegMaintainer]] contract for
  * SUITE EDITS (VERDICT r13 next-5): a benchmark release, revision, or
  * takedown arrives as a micro-batch of edit events, and the store's
  * per-benchmark partitions advance/retire exactly once — so
  * [[DeconGate.flagSemantic]]'s store-served path stays fresh through
  * suite churn without anyone hand-running `advanceBenchmark`.
  *
  * Event schema: `(bench, action, vec_id, embedding)` with `action` ∈
  * {"advance", "retire"}. Within one batch retires apply FIRST, so an
  * edit that replaces a benchmark (retire + advance rows in the same
  * batch) lands as the new content; a retire needs no embeddings
  * (its vec_id/embedding are ignored).
  *
  * Exactly-once by the tier's two moves: [[SemanticDeconStore
  * .advanceBenchmark]] is convergent under replay (retire-then-write
  * against the FROZEN codebook, meta commit point last) and the
  * control-table batch marker skips committed replays. A crash
  * mid-retire leaves metas the combined digest no longer covers →
  * readers fall back inline — cost, never a stale verdict
  * (spec-pinned). Per batch the cost is one bounded distinct over the
  * batch's (bench, action) pairs plus one batch-sized assignment per
  * advanced benchmark — nothing scales with the stored suite.
  */
object SemanticDeconMaintainer {

  /** Apply one micro-batch of suite edits exactly once (the shared
    * [[SuiteEditBatch]] protocol — pinned batch, retires first,
    * unknown actions fail loud BEFORE the marker commits); returns
    * true when this call applied them. */
  def applyBatch(batch: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    SuiteEditBatch.applyOnce(batch, store, sinkId, batchId)(
      SemanticDeconStore.retireBenchmark(_, spark, dir),
      (b, rows) => SemanticDeconStore.advanceBenchmark(b,
        rows.select("vec_id", "embedding"), dir))
  }

  /** Wire a streaming suite-edit DataFrame
    * (bench, action, vec_id, embedding) into the maintainer. Caller
    * starts it (and owns checkpointLocation, trigger, etc.). */
  def exactlyOnce(stream: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    BatchDay.writer(stream)(applyBatch(_, store, sinkId, dir, _))
}
