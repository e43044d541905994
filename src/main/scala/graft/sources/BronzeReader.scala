package graft.sources

import java.io.InputStream

import scala.collection.mutable
import scala.util.Using
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.json.JSONOptions
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
  * schema (from the state store) and skips inference entirely, and
  * watches for drift with [[fieldNames]], a driver-side scan of one
  * file's key names that starts no Spark job.
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

  private val Options = Map(
    "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> CorruptCol,
    "samplingRatio" -> "1.0")

  private def reader(spark: SparkSession, schema: Option[StructType]) = {
    val r = spark.read.options(Options)
    schema.fold(r)(r.schema)
  }

  /** The top-level field names of one NDJSON(.gz) file: every name that
    * full-scan inference ([[read]] without a schema) would put in the
    * schema, apart from [[CorruptCol]] and `source_file`, read on the
    * driver without a Spark job. The file is split into lines the way
    * the JSON source splits it (Hadoop's codec for the suffix, then
    * `LineReader`, which ends a line at LF, CRLF or a lone CR), and each
    * line is tokenized by a parser from the JSON source's own factory
    * (single quotes and `NaN` allowed, leading zeros not). A line that
    * does not parse is quarantined by the read and contributes no name;
    * a top-level array contributes the keys of each of its objects, as
    * inference merges array elements into the root. Only the names are
    * kept: values are skipped, never converted.
    *
    * The one kind of name returned that inference drops is a key whose
    * values are all empty objects (`{}`): a caller diffing these names
    * against a registry then pays one full inference that finds nothing
    * new. */
  def fieldNames(spark: SparkSession, path: String): Set[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // the JSON source skips zero-byte files (a gzip stream would fail on one)
    if (fs.getFileStatus(p).getLen == 0) Set.empty
    else {
      val factory = new JSONOptions(Options, spark.conf.get("spark.sql.session.timeZone"), CorruptCol)
        .buildJsonFactory()
      val codec = Option(new CompressionCodecFactory(conf).getCodec(p))
      val names = mutable.Set.empty[String]
      Using.resource(fs.open(p)) { raw =>
        Using.resource(new LineReader(codec.fold[InputStream](raw)(_.createInputStream(raw)), conf)) {
          lines =>
            val line = new Text()
            while (lines.readLine(line) > 0) names ++= keysOf(factory, line)
        }
      }
      names.toSet
    }
  }

  /** The top-level keys of one line, or none if it does not parse. */
  private def keysOf(factory: JsonFactory, line: Text): Seq[String] = {
    val parser = factory.createParser(line.getBytes, 0, line.getLength)
    val keys = mutable.ArrayBuffer.empty[String]
    def objectKeys(): Unit = while (parser.nextToken() == JsonToken.FIELD_NAME) {
      keys += parser.currentName()
      parser.nextToken()
      parser.skipChildren()
    }
    try {
      parser.nextToken() match {
        case JsonToken.START_OBJECT => objectKeys()
        case JsonToken.START_ARRAY =>
          while (parser.nextToken() match {
            case JsonToken.START_OBJECT => objectKeys(); true
            case JsonToken.END_ARRAY | null => false
            case _ => parser.skipChildren(); true
          }) {}
        case _ =>
      }
      keys.toSeq
    } catch { case NonFatal(_) => Nil }
    finally parser.close()
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
    * job's action has returned; a job that reported no count throws. */
  def quarantineObserved(df: DataFrame): (DataFrame, () => Long) =
    if (!df.columns.contains(CorruptCol)) (df, () => 0L)
    else {
      val obs = Observation()
      val clean = df.observe(obs, count_if(col(CorruptCol).isNotNull).as("corrupt"))
        .where(col(CorruptCol).isNull).drop(CorruptCol)
      (clean, () => obs.get("corrupt").asInstanceOf[Long])
    }

  /** Drift-tolerant union of pre-read batches (reference §2.9:
    * `union_by_name=true` across batches). */
  def unionDrifted(batches: Seq[DataFrame]): DataFrame =
    batches.reduce(_.unionByName(_, allowMissingColumns = true))
}
