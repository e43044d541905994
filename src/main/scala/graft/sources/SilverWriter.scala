package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TimeExprs

/** Silver-layer writer: enrichment + hive-partitioned snappy Parquet
  * append (reference K1, `gzip-to-parquet-etl.py:261-277`: `COPY ...
  * PARTITION_BY (hiveperiod, dstrct_code) ... APPEND`).
  *
  * Single-pass design: the reference counts then copies, reading S3
  * twice (`s3_datalog_processor.py:162` + `:184`, flagged in SURVEY §3.1);
  * here an [[Observation]] rides along with the write job, so the
  * zero-row gate and row-count metric cost nothing extra.
  *
  * Scale: `repartition(partitionCols)` before the write produces one
  * task's worth of output per (date, district) partition per batch —
  * the reference's 150–250 MB file-size target
  * (`README-compacterv1.md:104`) — instead of tasks × partitions small
  * files. Skewed partitions are re-split by AQE.
  */
object SilverWriter {

  val PartitionCols: Seq[String] = Seq("hiveperiod", "dstrct_code")

  /** The reference's enrichment block (`gzip-to-parquet-etl.py:225-245`):
    * normalized event time (mixed-precision epoch → UTC), WITA display
    * time, WITA-date partition key. `dstrct_code` is injected by the
    * caller (it's batch metadata, not row data). */
  def enrich(df: DataFrame, district: String): DataFrame = {
    val (wita, hiveperiod) = TimeExprs.enrichment(col("heartbeat"))
    df.withColumn("datetime_wita", wita.cast("timestamp_ntz"))
      .withColumn("hiveperiod", hiveperiod)
      .withColumn("dstrct_code", lit(district))
  }

  /** Append a batch as partitioned parquet; returns rows written.
    * Zero-row batches write nothing but the directory skeleton —
    * the reference's gate (`gzip-to-parquet-etl.py:252-257`). On a
    * zero-row batch adaptive execution replaces the empty shuffle stage
    * and the observed count with it, so a missing count is 0. */
  def write(df: DataFrame, target: String): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .repartition(PartitionCols.map(col): _*)
      .write
      .mode("append")
      .option("compression", "snappy")
      .partitionBy(PartitionCols: _*)
      .parquet(target)
    obs.get.get("rows").fold(0L)(_.asInstanceOf[Long])
  }

  /** Idempotent per-source-file write: any silver rows that came from
    * this batch's files on an EARLIER attempt are replaced, not
    * duplicated. This is what makes a compactor retry (crash after
    * write, before ack), a drift re-queue (same file deliberately
    * re-ingested with a fuller schema) and a streaming micro-batch
    * replay all safe — plain `append` is none of them. A batch whose
    * claim proves it a first attempt skips this and calls [[write]]
    * (CompactorJob).
    *
    * The replay probe costs one job over the batch (its partitions and
    * `source_file`s, collected together) and one pruned `source_file`
    * scan of the affected partitions (typically the current day × one
    * district) under an explicit one-column schema, so no parquet
    * footer is read for inference. When no earlier row of the batch's
    * files exists, the write degenerates to the plain append above.
    * Only an actual replay pays the mergeSchema read of the affected
    * leaves and the rewrite, which is scoped to those partitions and
    * published through [[PartitionPublish]] (durable stage, dynamic
    * overwrite, emptied-partition cleanup, stage kept on failure).
    *
    * `enriched` should be backed by a cached bronze batch (CompactorJob's
    * retry path and StreamingIngest cache it) — the probe re-reads the
    * batch. */
  def writeIdempotent(spark: SparkSession, enriched: DataFrame, target: String): Long = {
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(target))) return write(enriched, target)

    val batchKeys = enriched.select((PartitionCols :+ "source_file").map(col): _*).distinct()
      .collect()
    val batchParts: Seq[PartitionPublish.Leaf] = batchKeys.map(r => PartitionCols.indices
      .map(i => Option(r.get(i)).map(_.toString)): PartitionPublish.Leaf).distinct.toSeq
    if (batchParts.isEmpty) return write(enriched, target) // zero-row gate
    // The null-hiveperiod catch-all joins the affected set for each
    // district in the batch: a replayed file's rows can land in a
    // DIFFERENT partition than its earlier attempt when the earlier
    // read ran under a drift-degraded schema that failed to parse the
    // partition-deriving field — those earlier rows sit in
    // __HIVE_DEFAULT_PARTITION__, and a probe scoped only to the new
    // partitions would never see (or replace) them.
    val districts = batchParts.map(_.last).distinct
    val affected = (batchParts ++ districts.map(d => Seq(None, d): PartitionPublish.Leaf)).distinct
    val dirs = affected.map(PartitionPublish.leafDir(target, PartitionCols, _))
      .filter(fs.exists).map(_.toString)
    if (dirs.isEmpty) return write(enriched, target)
    val batchFiles = batchKeys.map(_.getString(PartitionCols.size)).distinct

    // The replay probe reads ONLY the affected leaf directories
    // (basePath keeps the partition columns), and only their
    // `source_file` column: bare skeleton dirs read as empty, not as a
    // failed inference.
    val replayed = spark.read.schema("source_file string").option("basePath", target)
      .parquet(dirs: _*).where(col("source_file").isin(batchFiles: _*))
      .limit(1).count() > 0
    if (!replayed) return write(enriched, target)

    // mergeSchema within the affected leaves matters: their files carry
    // drift-heterogeneous schemas by design, and a footer-sampled schema
    // would silently drop late-drifted columns from the rewrite. A
    // whole-table read would run footer inference over every silver file.
    val existing = spark.read.option("mergeSchema", "true").option("basePath", target)
      .parquet(dirs: _*)
    val keep = existing.where(!col("source_file").isin(batchFiles: _*))
    val combined = keep.unionByName(enriched, allowMissingColumns = true)
    val batchRows = enriched.count() // cheap: bronze batch is cached
    PartitionPublish.publish(spark, target, combined, PartitionCols, affected)
    batchRows
  }
}
