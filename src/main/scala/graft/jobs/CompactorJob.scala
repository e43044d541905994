package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.sources.{BronzeReader, SilverWriter}
import graft.state.JdbcStateStore

/** The hourly bronze→silver compaction pipeline (reference entry point
  * §3.1/§3.2: `s3_datalog_processor.py:247-327`,
  * `gzip-to-parquet-etl.py:320-347`):
  *
  *   claim pending keys → read NDJSON.gz batch → enrich (epoch
  *   normalization, WITA, partition keys) → partitioned parquet append →
  *   ack (or release on failure).
  *
  * File-level exactly-once comes from the claim pattern, which also
  * makes re-runs after a crash no-ops for acked keys and retries for
  * released ones. The claim table is the batch path's commit log, so
  * the sink is never probed to find out whether a batch is new: when
  * [[JdbcStateStore.firstClaim]] holds, the batch is one Spark job —
  * decode, quarantine count (an `Observation`) and partitioned append
  * together (the reference reads twice — count then COPY; see
  * SilverWriter) — after the drift watchdog, which reads one file's key
  * names on the driver. Every other claim (resumed, released,
  * reaped or drift-re-queued keys) caches the batch and goes through
  * [[SilverWriter.writeIdempotent]], which replaces rows an earlier
  * attempt wrote instead of duplicating them.
  */
object CompactorJob {

  /** `newFields`: field names first seen by THIS run's inference (empty
    * in steady state). Non-empty means earlier batches may have been
    * written while the field was already arriving; this run responds by
    * RE-QUEUING every key acked since the registry last learned
    * (`requeued` = how many) — bronze is immutable and retained, and the
    * silver write is idempotent per source file, so the re-ingest both
    * recovers the dropped column and cannot duplicate rows. */
  case class Result(runId: String, claimed: Int, rows: Long, quarantined: Long,
      newFields: Seq[String] = Nil, requeued: Int = 0)

  /** Registry key for the telemetry bronze schema. */
  val SchemaDataset = "datalog_bronze"

  def run(
      spark: SparkSession,
      store: JdbcStateStore,
      runId: String,
      district: String,
      target: String,
      keyLimit: Int = 2000,
      relearnSchema: Boolean = false): Result = {
    val keys = store.claim(runId, keyLimit, Some(district))
    if (keys.isEmpty) return Result(runId, 0, 0L, 0L) // zero-work gate

    try {
      val firstAttempt = store.firstClaim(runId)

      // Steady-state path: read with the registry's merged schema — no
      // full inference pass. Schema-reads silently IGNORE unknown JSON
      // fields, so drift arriving after registration would be dropped;
      // the reference avoids that by re-inferring every batch
      // (`sample_size=-1`), i.e. a second scan of every byte. Middle
      // ground here: a per-batch WATCHDOG lists the top-level key names
      // of exactly ONE claimed file (the newest — claims are
      // newest-first, and new firmware fields show up in new files) on
      // the driver ([[BronzeReader.fieldNames]]: no Spark job, no type
      // inference) and diffs them against the registry; only when a new
      // name appears does the batch fall back to full inference +
      // registry merge. Cost in steady state: one file's names, not the
      // batch. BLIND-WINDOW RECOVERY: a field drifting in only a
      // NON-sampled file of a batch is dropped from that batch's silver
      // rows. When a LATER inference discovers the field,
      // the fix is automatic: every key acked since the registry last
      // changed is re-queued (claimable again), and because the silver
      // write is idempotent per source file, the re-ingest replaces the
      // column-less rows instead of duplicating them. The window bound
      // is exact for a single blind stretch — every batch between two
      // inference passes was a schema-read, and the earlier inference
      // read its whole batch, so nothing before it can have missed this
      // field's FIRST appearance... unless the field lurked unsampled
      // across several inference cycles; `Result.newFields` stays the
      // surfaced signal for an operator-initiated wider backfill in that
      // pathological case. (The reference closes the window by
      // re-inferring every batch — a second scan of every byte, every
      // hour.)
      var newFields: Seq[String] = Nil
      var requeued = 0
      def inferAndRegister(): org.apache.spark.sql.DataFrame = {
        val inferred = BronzeReader.read(spark, keys)
        val before = store.loadSchema(SchemaDataset).map(_.fieldNames.toSet).getOrElse(Set.empty)
        val prevLearn = store.schemaUpdatedAt(SchemaDataset)
        val merged = store.mergeSchema(SchemaDataset,
          org.apache.spark.sql.types.StructType(
            inferred.schema.filterNot(f =>
              f.name == BronzeReader.CorruptCol || f.name == "source_file")))
        newFields = merged.fieldNames.filterNot(before.contains).toSeq
        if (newFields.nonEmpty)
          requeued = prevLearn.map(store.requeueSuccessSince).getOrElse(0)
        inferred
      }
      val bronze = store.loadSchema(SchemaDataset) match {
        case Some(schema) if !relearnSchema =>
          val known = schema.fieldNames.toSet + BronzeReader.CorruptCol + "source_file"
          if (BronzeReader.fieldNames(spark, keys.head).exists(!known.contains(_))) inferAndRegister()
          else BronzeReader.read(spark, keys, BronzeReader.withCorruptColumn(schema))
        case _ => inferAndRegister()
      }
      val (rows, nCorrupt) =
        if (firstAttempt) {
          // No earlier attempt can have written these files: one job
          // decodes, counts the quarantined lines and appends.
          val (clean, corrupt) = BronzeReader.quarantineObserved(bronze)
          (SilverWriter.write(SilverWriter.enrich(clean, district), target), corrupt())
        } else {
          // A retry: replace whatever an earlier attempt wrote. The
          // replay probe re-reads the batch, so it is cached.
          val cached = bronze.cache()
          try {
            val (clean, corrupt) = BronzeReader.quarantine(cached)
            val nCorrupt = corrupt.count()
            (SilverWriter.writeIdempotent(spark, SilverWriter.enrich(clean, district), target), nCorrupt)
          } finally cached.unpersist()
        }
      store.ack(runId)
      Result(runId, keys.size, rows, nCorrupt, newFields, requeued)
    } catch {
      case e: Throwable =>
        store.release(runId) // keys become claimable again
        throw e
    }
  }
}
