package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The storage contract every incremental store in `sources/` stands on:
  * keyed payload partitions, one digest row per key as the commit
  * point, and a read that serves only committed keys. A store keeps
  * only its derive function, its payload relations and its frozen
  * artifacts (codebooks, parameters); everything below is shared.
  *
  * Layout under one store root, for partition column `p` (`day` or
  * `bench`) and key `k`:
  * {{{
  *   <dir>/<payload>/p=k/   the store's derived rows for key k
  *   <dir>/<meta>/p=k/      one row (n_<eye>, dg_<eye>) per eye
  * }}}
  * An eye's digest is `(count, XOR of per-row xxhash64)` over the
  * rows key `k` was derived from. Both parts compose exactly under
  * union and difference of disjoint key sets, so the store's digest is
  * the (Σn, XOR) over its live meta rows, and an offered corpus is
  * served from the store only when it digests to exactly that value.
  *
  * Commit order. [[advance]] retires the key, writes the payload, then
  * writes the meta row LAST, with [[StoreLease.checkWrite]] just before
  * it. [[retire]] deletes the meta row FIRST, then the payload. A crash
  * in either direction leaves payload with no meta row, an orphan; the
  * live-partition read ([[live]]) never serves it, so the store reads as
  * the pre-crash state. Because the retire inside an advance is
  * unconditional, a replayed advance rewrites an orphan instead of
  * appending into it, and at-least-once replay converges. A retire
  * deletes one key's directories and never rewrites another key's meta.
  *
  * Reads. [[metas]] is one listing plus one collect, with an explicit
  * schema: a fully retired store reads as no rows, and [[composed]]
  * folds no rows to (0, 0). Partition values come back as raw strings,
  * so day `-1` and bench names survive unchanged.
  *
  * The open gate ([[open]]). An unset dir conf returns None after one
  * conf read and no filesystem call. The trust conf skips the digest
  * comparison. Any failure inside the open reads as `unreadable`.
  * Every fallback prints one `[tag] dir stale|unreadable|empty` line
  * and returns None, so a broken or stale store costs an inline
  * recompute, never an error or a wrong answer.
  */
final class PartitionedStore(tag: String, partCol: String,
    payloads: Seq[String], eyes: Seq[String], meta: String = "meta") {

  import PartitionedStore.fs

  private val metaSchema = PartitionedStore.metaSchema(eyes)

  /** Escaped as Spark's `partitionBy` escapes it, so payload, meta
    * and retire agree on one directory for any key. */
  private def part(key: String) = s"$partCol=${escapePathName(key)}"

  /** `payload`'s directory for `key`. */
  def path(dir: String, payload: String, key: String): String = s"$dir/$payload/${part(key)}"

  // ------------------------------------------------------------- writes

  /** Append `df` as `payload`'s partition for `key`. An empty `df`
    * writes no partition directory. */
  def write(df: DataFrame, dir: String, payload: String, key: String): Unit =
    df.withColumn(partCol, lit(key))
      .write.mode("append").partitionBy(partCol).parquet(s"$dir/$payload")

  /** The commit point: `key`'s meta row, one (n, digest) per eye. */
  def commit(spark: SparkSession, dir: String, key: String, dg: (Long, Long)*): Unit = {
    require(dg.size == eyes.size, s"$tag: ${dg.size} digests for eyes ${eyes.mkString(",")}")
    StoreLease.checkWrite(spark, dir)
    spark.createDataFrame(Seq(Row.fromSeq(dg.flatMap(d => Seq(d._1, d._2)))).asJava, metaSchema)
      .write.parquet(path(dir, meta, key))
  }

  /** The digest of `payload`'s partition for `key` as written, read
    * back from disk; (0, 0) when the write was empty. */
  def digestWritten(spark: SparkSession, dir: String, payload: String, key: String,
      digestOf: DataFrame => (Long, Long)): (Long, Long) = {
    val p = new Path(path(dir, payload, key))
    if (fs(spark, dir).exists(p)) digestOf(spark.read.parquet(p.toString)) else (0L, 0L)
  }

  /** Retire `key`, run `derive` (which writes the payload and returns
    * the digests of what it derived from), then commit them. */
  def advance(spark: SparkSession, dir: String, key: String)(derive: => Seq[(Long, Long)]): Unit = {
    retire(spark, dir, key)
    commit(spark, dir, key, derive: _*)
  }

  /** Drop `key`: its meta row first, then its payload partitions. */
  def retire(spark: SparkSession, dir: String, key: String): Unit = {
    StoreLease.checkWrite(spark, dir)
    val f = fs(spark, dir)
    (meta +: payloads).foreach(p => f.delete(new Path(path(dir, p, key)), true): Unit)
  }

  /** Drop this layout's meta and payload roots, leaving the rest of the
    * store root alone (a face rebuilt beside other faces). */
  def clear(spark: SparkSession, dir: String): Unit = {
    StoreLease.checkWrite(spark, dir)
    val f = fs(spark, dir)
    (meta +: payloads).foreach(p => f.delete(new Path(s"$dir/$p"), true): Unit)
  }

  // -------------------------------------------------------------- reads

  /** Every committed meta row as (key, per-eye (n, digest)). */
  def metas(spark: SparkSession, dir: String): Seq[(String, Seq[(Long, Long)])] =
    PartitionedStore.metasAt(spark, s"$dir/$meta", partCol, eyes)

  /** The store digest: per eye, (Σn, XOR of digests); no rows ⇒ (0, 0). */
  def composed(rows: Seq[(String, Seq[(Long, Long)])]): Seq[(Long, Long)] =
    eyes.indices.map(i => rows.map(_._2(i)).foldLeft((0L, 0L)) {
      case ((n, x), (dn, dx)) => (n + dn, x ^ dx)
    })

  /** Keys whose meta counts at least one row: only those wrote a
    * payload partition. */
  private def liveKeys(rows: Seq[(String, Seq[(Long, Long)])]): Seq[String] =
    rows.filter(_._2.exists(_._1 > 0L)).map(_._1)

  /** The live keys when the store digest equals `offered` (not
    * evaluated when `trusted`); otherwise the stale line and None. */
  def fresh(spark: SparkSession, dir: String, trusted: Boolean,
      offered: => Seq[(Long, Long)]): Option[Seq[String]] = {
    val rows = metas(spark, dir)
    if (!trusted && offered != composed(rows)) stale(dir)
    else Some(liveKeys(rows))
  }

  /** `payload`'s whole root with the partition column as a raw string. */
  private def read(spark: SparkSession, dir: String, payload: String): DataFrame = {
    val root = s"$dir/$payload"
    val data = StructType(spark.read.parquet(root).schema.filterNot(_.name == partCol))
    spark.read.schema(data.add(partCol, StringType)).option("basePath", root).parquet(root)
  }

  /** `payload`'s rows under `keys` only, partition column dropped. */
  def live(spark: SparkSession, dir: String, payload: String, keys: Seq[String]): DataFrame =
    read(spark, dir, payload).where(col(partCol).isin(keys: _*)).drop(partCol)

  // ------------------------------------------------------------- opens

  /** The open gate of a store-or-inline dispatch: `body(dir, trusted)`
    * when `dirKey` is set, any failure read as `unreadable`. */
  def open[T](spark: SparkSession, dirKey: String, trustKey: String)(
      body: (String, Boolean) => Option[T]): Option[T] = {
    val dir = spark.conf.get(dirKey, "")
    if (dir.isEmpty) None
    else try body(dir, spark.conf.get(trustKey, "false").toBoolean)
    catch { case NonFatal(e) => fallback(dir, s"unreadable (${e.getMessage})") }
  }

  /** The whole single-digest open: gate, freshness against `offered`,
    * then `serve(dir, live keys)`. */
  def openFresh[T](spark: SparkSession, dirKey: String, trustKey: String,
      offered: => (Long, Long))(serve: (String, Seq[String]) => T): Option[T] =
    open(spark, dirKey, trustKey) { (dir, trusted) =>
      fresh(spark, dir, trusted, Seq(offered)).map(serve(dir, _))
    }

  /** The audit read behind `open(spark, dir)` faces: `payload`'s live
    * rows, `empty` when no key is live. Unless `trusted` it fails loud
    * on a torn store: a partition no meta row covers, or rows that do
    * not digest to the meta. */
  def verified(spark: SparkSession, dir: String, payload: String, trusted: Boolean,
      digestOf: DataFrame => (Long, Long))(empty: => DataFrame): DataFrame = {
    val rows = metas(spark, dir)
    val keys = liveKeys(rows)
    if (!trusted) {
      val f = fs(spark, dir)
      val root = new Path(s"$dir/$payload")
      val orphans =
        if (!f.exists(root)) Seq.empty
        else f.listStatus(root).toSeq.map(_.getPath.getName)
          .filter(_.startsWith(s"$partCol="))
          .map(n => unescapePathName(n.drop(partCol.length + 1)))
          .filterNot(keys.toSet)
      require(orphans.isEmpty,
        s"$tag $dir is torn: $payload/ holds ${orphans.map(part).mkString(", ")} with no meta row")
    }
    if (keys.isEmpty) return empty
    // With no orphan the live rows are the whole root; digesting the
    // unfiltered read keeps the per-file digest cache keyed stably
    // across advances.
    if (!trusted)
      require(digestOf(read(spark, dir, payload)) == composed(rows).head,
        s"$tag $dir is torn: partition digest != meta digest ${composed(rows).head}")
    live(spark, dir, payload, keys)
  }

  /** The one fallback line; always None. */
  def fallback(dir: String, state: String): None.type = {
    System.err.println(s"[$tag] $dir $state — computing inline")
    None
  }

  def stale(dir: String): None.type = fallback(dir, "stale")
}

object PartitionedStore {

  /** The one Hadoop filesystem handle of the store family. */
  private[sources] def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def metaSchema(eyes: Seq[String]): StructType = StructType(eyes.flatMap(e =>
    Seq(StructField(s"n_$e", LongType), StructField(s"dg_$e", LongType))))

  /** Meta rows under `root` as (raw partition value, per-eye digests);
    * no root reads as no rows. */
  private[sources] def metasAt(spark: SparkSession, root: String, partCol: String,
      eyes: Seq[String]): Seq[(String, Seq[(Long, Long)])] = {
    if (!fs(spark, root).exists(new Path(root))) return Seq.empty
    spark.read.schema(metaSchema(eyes).add(partCol, StringType))
      .option("basePath", root).parquet(root)
      .collect().toSeq.map { r =>
        (r.getString(2 * eyes.size),
          eyes.indices.map(i => (r.getLong(2 * i), r.getLong(2 * i + 1))))
      }
  }
}
