package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.VerdictStore
import graft.state.JdbcStateStore

/** Streaming maintenance of the [[VerdictStore]] — the decon tier's
  * capstone maintainer (VERDICT r15 next-1): with it, BOTH churn
  * directions flow into the per-doc verdict evidence exactly once —
  *
  *  - '''ingest''' ([[advanceBatch]]): each micro-batch of arriving
  *    (doc_id, text, embedding, content) training docs is probed
  *    against the live suite and appended as its own day, so
  *    q196/q198's store-served reports are current through the last
  *    committed batch without ever re-sweeping history;
  *  - '''suite edits''' ([[applySuiteBatch]]): a benchmark release /
  *    revision / takedown arrives as edit events; retires clear the
  *    benchmark's evidence with ZERO probes, advances probe the
  *    stored history ONCE against the new benchmark alone.
  *
  * Exactly-once by the tier's two moves: every [[VerdictStore]]
  * advance is convergent under replay (unconditional retire-then-
  * write, meta commit point LAST, only live-meta partitions readable)
  * and the control-table batch marker makes a committed replay skip
  * the probes entirely. Batch payloads are decoded ONCE here, at
  * ingest ([[graft.multimodal.MediaDedup.hashImages]]) — the store
  * itself never sees a payload byte.
  */
object VerdictMaintainer {

  /** A (doc_id, text, embedding, content) relation as the store's
    * three-modality [[VerdictStore.Corpus]]: nullable embedding/
    * content columns express the absence rule (a doc missing a
    * modality simply has no row on that side — its verdict comes from
    * the eyes that saw it), and payload bytes stop HERE, at the
    * hashing pass. */
  def corpusOf(rel: DataFrame): VerdictStore.Corpus =
    VerdictStore.Corpus(
      rel.select("doc_id", "text"),
      rel.where(col("embedding").isNotNull)
        .select(col("doc_id").as("vec_id"), col("embedding")),
      graft.multimodal.MediaDedup.hashImages(
        rel.where(col("content").isNotNull)
          .select(col("doc_id").as("media_id"), col("content"))))

  /** Advance the store by one ingest micro-batch exactly once; returns
    * true when this call performed the advance (false = committed
    * replay skipped). The batch id doubles as the store day — build
    * with a day outside the stream's batch-id range (the -1 default).
    * `suite` is the live suite's relations, digest-verified against
    * the stored suite metas inside the advance (a drifted suite fails
    * LOUD — mixed-suite evidence would serve wrong verdicts). The
    * advance also requires `suite` to name EVERY stored benchmark
    * (r17): this face captures `suite` at [[exactlyOnce]] wiring time,
    * so a concurrent suite-edit advance would otherwise leave later
    * ingest days silently unprobed against the new benchmark —
    * re-wire the ingest stream after editing the suite. */
  def advanceBatch(batch: DataFrame, suite: Seq[(String, VerdictStore.Corpus)],
      store: JdbcStateStore, sinkId: String, dir: String,
      batchId: Long): Boolean =
    BatchDay.applyOnce(batch, store, sinkId, batchId)((b, day) =>
      VerdictStore.advanceDay(corpusOf(b), suite, dir, day))

  /** Wire a streaming (doc_id, text, embedding, content) DataFrame
    * into the ingest maintainer. Caller starts it (and owns
    * checkpointLocation, trigger, etc.). The store must already exist
    * ([[VerdictStore.build]]) — the codebook and probe parameters are
    * frozen artifacts, not something a micro-batch may invent. */
  def exactlyOnce(stream: DataFrame, suite: Seq[(String, VerdictStore.Corpus)],
      store: JdbcStateStore, sinkId: String, dir: String)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    BatchDay.writer(stream)(advanceBatch(_, suite, store, sinkId, dir, _))

  /** Apply one micro-batch of suite edits exactly once (the shared
    * [[SuiteEditBatch]] protocol — pinned batch, retires first,
    * unknown actions fail loud BEFORE the marker commits); returns
    * true when this call applied them. Event schema: (bench, action,
    * doc_id, text, embedding, content) with action ∈ {advance,
    * retire}; a retire needs no docs. `history` is the full stored
    * train corpus's relations (lazy plans — only an ADVANCE evaluates
    * them, for its one history probe; digest-verified against the
    * live day metas inside the advance). */
  def applySuiteBatch(batch: DataFrame, history: VerdictStore.Corpus,
      store: JdbcStateStore, sinkId: String, dir: String,
      batchId: Long): Boolean = {
    val spark = batch.sparkSession
    SuiteEditBatch.applyOnce(batch, store, sinkId, batchId)(
      VerdictStore.retireBenchmark(_, spark, dir),
      (b, rows) => VerdictStore.advanceBenchmark(b, corpusOf(rows), history, dir))
  }

  /** Wire a streaming suite-edit DataFrame into the suite face. Caller
    * starts it. */
  def exactlyOnceSuite(stream: DataFrame, history: VerdictStore.Corpus,
      store: JdbcStateStore, sinkId: String, dir: String)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    BatchDay.writer(stream)(applySuiteBatch(_, history, store, sinkId, dir, _))
}
