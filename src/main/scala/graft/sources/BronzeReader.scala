package graft.sources

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bronze-layer reader: gzipped newline-delimited JSON telemetry, one file
  * per device per hour (reference S1, `gzip-to-parquet-etl.py:245`:
  * `read_json_auto(..., filename=true, sample_size=-1, union_by_name=true)`).
  *
  * Spark equivalences:
  *  - gzip is transparent to the JSON source;
  *  - full-scan schema inference (`samplingRatio 1.0`) unions drifted
  *    schemas by name across files — the reference's `union_by_name`;
  *  - `PERMISSIVE` + `_corrupt_record` quarantines malformed lines
  *    instead of failing the batch;
  *  - `input_file_name()` materializes the reference's `filename=true`
  *    provenance column.
  *
  * At scale: inference is one extra pass over the batch's files — for
  * steady-state production the caller passes the previously-merged
  * schema (from the state store) and skips inference entirely.
  */
object BronzeReader {

  val CorruptCol = "_corrupt_record"

  /** Read a batch of NDJSON(.gz) keys with full-scan inference. */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    reader(spark, None).json(paths: _*)
      .withColumn("source_file", input_file_name())

  /** Read with a known schema (no inference pass — the production path).
    * The schema should already contain [[CorruptCol]] if quarantining is
    * desired; [[withCorruptColumn]] adds it. */
  def read(spark: SparkSession, paths: Seq[String], schema: StructType): DataFrame =
    reader(spark, Some(schema)).json(paths: _*)
      .withColumn("source_file", input_file_name())

  private def reader(spark: SparkSession, schema: Option[StructType]) = {
    val r = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .option("samplingRatio", "1.0")
    schema.fold(r)(r.schema)
  }

  def withCorruptColumn(schema: StructType): StructType =
    if (schema.fieldNames.contains(CorruptCol)) schema
    else schema.add(CorruptCol, "string", nullable = true)

  /** Split a bronze batch into (clean, quarantined) rows. The frame must
    * be cached by the caller if both halves are consumed — Spark refuses
    * to filter on the corrupt column alone over a fresh JSON scan. A
    * caller that only needs the quarantined COUNT uses
    * [[quarantineObserved]] instead and needs no cache. */
  def quarantine(df: DataFrame): (DataFrame, DataFrame) =
    if (!df.columns.contains(CorruptCol)) (df, df.limit(0))
    else (
      df.where(col(CorruptCol).isNull).drop(CorruptCol),
      df.where(col(CorruptCol).isNotNull))

  /** Single-pass [[quarantine]]: the clean rows, and the number of
    * quarantined rows as counted by an [[Observation]] that rides the
    * job consuming the clean frame. Call the count only after that
    * job's action has returned.
    *
    * When no clean row reaches a shuffle, adaptive execution replaces
    * the empty stage and its observed metrics are lost; only then does
    * the count take a pass of its own, over the cached batch. */
  def quarantineObserved(df: DataFrame): (DataFrame, () => Long) =
    if (!df.columns.contains(CorruptCol)) (df, () => 0L)
    else {
      val obs = Observation()
      val clean = df.observe(obs, count_if(col(CorruptCol).isNotNull).as("corrupt"))
        .where(col(CorruptCol).isNull).drop(CorruptCol)
      def recount(): Long = {
        val cached = df.cache()
        try quarantine(cached)._2.count() finally { cached.unpersist(); () }
      }
      (clean, () => obs.get.get("corrupt").fold(recount())(_.asInstanceOf[Long]))
    }

  /** Drift-tolerant union of pre-read batches (reference §2.9:
    * `union_by_name=true` across batches). */
  def unionDrifted(batches: Seq[DataFrame]): DataFrame =
    batches.reduce(_.unionByName(_, allowMissingColumns = true))
}
