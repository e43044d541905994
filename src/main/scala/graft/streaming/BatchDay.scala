package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.state.JdbcStateStore

/** The exactly-once batch discipline every day-keyed store maintainer
  * rides (the suite-edit counterpart is [[SuiteEditBatch]]).
  *
  * `foreachBatch` is at-least-once, so exactly-once takes two moves:
  * the store advance is CONVERGENT under replay (the
  * [[graft.sources.PartitionedStore]] retire-then-write, meta commit
  * point last), and the control-table batch marker
  * ([[JdbcStateStore.markBatch]], an atomic PK insert) makes a replay
  * of a fully-committed batch skip the work. Crash matrix: die
  * mid-advance → no meta row covers the torn partition, the replay
  * retires + rewrites; die between advance and marker → the replay
  * rewrites byte-identically, then marks; die after the marker → the
  * replay no-ops. The batch id doubles as the store day.
  */
private[streaming] object BatchDay {

  /** Store days are `Int`; Structured Streaming batch ids are `Long`,
    * monotonically increasing from 0. A silent truncation would alias
    * two ids congruent mod 2³² onto one day — and because every
    * store's advance is an unconditional retire-then-write, the later
    * batch would DELETE the earlier batch's rows from the serving index
    * with nothing but a stale-store log line downstream (review r15
    * finding 4). Fail loud instead: 2³¹ batches is unreachable for any
    * real stream (68 years at one per second). */
  def of(batchId: Long): Int = {
    require(batchId >= 0 && batchId <= Int.MaxValue,
      s"batch id $batchId does not fit a store day (Int) — truncation would alias an existing day")
    batchId.toInt
  }

  /** Run `advance(batch, day)` for one micro-batch exactly once;
    * returns true when this call advanced (false = committed replay
    * skipped). Caches.scoped (ADVICE r15) frees the advance's kernel
    * pins on failure too, and only this batch's — never a sibling
    * stream's. The marker is first-caller-wins: if a racing zombie
    * committed first, its advance stands — both wrote the same
    * convergent content. */
  def applyOnce(batch: DataFrame, store: JdbcStateStore, sinkId: String,
      batchId: Long)(advance: (DataFrame, Int) => Unit): Boolean =
    if (store.batchCommitted(sinkId, batchId)) false
    else {
      graft.core.Caches.scoped { advance(batch, of(batchId)) }
      store.markBatch(sinkId, batchId)
    }

  /** Wire a stream into a maintainer's per-batch face. Caller starts it
    * (and owns checkpointLocation, trigger, etc.). */
  def writer(stream: DataFrame)(apply: (DataFrame, Long) => Boolean): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (df: DataFrame, batchId: Long) =>
      apply(df, batchId)
      ()
    }
}
