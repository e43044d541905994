package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sources.SilverWriter

/** Structured Streaming flavor of the ingest pipeline (SURVEY §2.10).
  *
  * The reference is micro-batch by polling (`while True: main();
  * sleep(3600)` — `gzip-to-parquet-etl.py:345-347`); the streaming
  * equivalents:
  *  - hourly poll        → `Trigger.ProcessingTime("1 hour")`
  *  - backfill-to-drain  → `Trigger.AvailableNow`
  *  - file-level exactly-once (the MSSQL claim pattern) → the file
  *    source's checkpoint; a processed file is never re-read. The sink
  *    side of that guarantee is the IDEMPOTENT silver write: a batch
  *    replayed after a crash between the parquet append and the
  *    checkpoint commit replaces its earlier rows (keyed on
  *    `source_file`) instead of appending them twice.
  *
  * The write stays `foreachBatch` + the batch SilverWriter: the
  * reference never drops late data (device clocks can be days off —
  * §2.10), so the partitioned append must not be a watermarked
  * streaming aggregation. Watermarks appear only in the live dashboard
  * aggregate, where dropping ancient updates is acceptable.
  */
object StreamingIngest {

  /** Start the bronze→silver streaming ingest. `availableNow = true`
    * processes the backlog and drains (the reference's BOOST mode);
    * false polls on `interval`. */
  def start(
      spark: SparkSession,
      bronzeDir: String,
      schema: StructType,
      target: String,
      checkpoint: String,
      district: String,
      availableNow: Boolean = true,
      interval: String = "1 hour"): StreamingQuery = {
    val stream = spark.readStream
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(bronzeDir)
      .withColumn("source_file", input_file_name())

    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(interval))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // cached: a micro-batch has no claim log to prove it is a first
        // attempt, so every batch goes through writeIdempotent, whose
        // probe re-reads the batch (partitions and files together, then
        // the count on a replay) — uncached, each pass re-reads the
        // batch's source files.
        val cached = batch.cache()
        try {
          val clean =
            if (cached.columns.contains("_corrupt_record"))
              cached.where(col("_corrupt_record").isNull).drop("_corrupt_record")
            else cached
          SilverWriter.writeIdempotent(batch.sparkSession,
            SilverWriter.enrich(clean, district), target)
          () // zero-row batches write nothing (SilverWriter gate)
        } finally { cached.unpersist(); () }
      }
      .start()
  }

  /** The dashboard's per-minute tumbling aggregation (reference A3,
    * `streamlit-app.py:155-169`) as a live streaming aggregate:
    * identical groupBy(window, keys) shape, plus a watermark — the one
    * place late-data dropping is acceptable (display only).
    *
    * Applies the SAME cleaning layer as the batch dashboard
    * (sentinel replacement, gpslat-derived gpsstatus, the shared
    * error-rate expression) — without it, one −9999 sentinel row makes
    * the live minute contradict `Dashboard.perMinuteDeviation` for the
    * same data. */
  def perMinuteLive(events: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.{AggExprs, CleanExprs}
    val cleaned = Seq("gpsspeed", "VehicleSpeed", "gpsnumsat")
      .foldLeft(events) { (d, c) => d.withColumn(c, CleanExprs.replaceSentinel(col(c))) }
      .withColumn("gpsstatus", CleanExprs.gpsStatus(col("gpslat")))
      .withColumn("error_rate", CleanExprs.errorRate(col("gpsspeed"), col("VehicleSpeed")))
    cleaned
      .withWatermark("datetime_wita", watermark)
      .groupBy(
        window(col("datetime_wita"), "1 minute"),
        col("unitno"), col("dstrct_code"))
      .agg(
        AggExprs.decAvg(col("gpsspeed")).as("avg_gpsspeed"),
        AggExprs.decAvg(col("VehicleSpeed")).as("avg_vehiclespeed"),
        AggExprs.decAvg(col("error_rate")).as("avg_error_rate"),
        AggExprs.decAvg(col("gpsnumsat")).as("avg_gpsnumsat"),
        min(col("gpsstatus")).as("gpsstatus"),
        min(col("camfrontstatus")).as("camfrontstatus"),
        min(col("camcabinstatus")).as("camcabinstatus"),
        min(col("speedsource")).as("speedsource"))
      .select(col("window.start").as("minute"), col("*")).drop("window")
  }
}
