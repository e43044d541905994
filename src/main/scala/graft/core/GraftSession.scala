package graft.core

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** SparkSession factory with the engine's canonical configuration.
  *
  * UTC session time zone (the reference keeps storage in UTC and derives
  * display offsets as columns — reference `README.md:68`), AQE enabled for
  * runtime re-planning (skew joins, partition coalescing at scale), and
  * shuffle partitions sized for the local test harness (a real cluster
  * deployment overrides `spark.sql.shuffle.partitions` per job).
  */
object GraftSession {

  /** How wide the input has to be before shuffles START wide. */
  private val WideInputBytes = 512L << 20

  /** AQE's starting shuffle width — the data-sized deployment knob.
    *
    * Shuffles begin at this many partitions and AQE COALESCES down to
    * the data's actual size, so the number only costs tiny extra map
    * tasks when it is too big — but when a shuffle is genuinely large,
    * starting wide is what keeps per-task sort buffers out of spill.
    * Two regimes, because both directions were measured to matter:
    *  - small inputs (the per-round sf0.001–sf0.1 harness): width =
    *    `shufflePartitions`. Starting 8× wide here taxed ITERATIVE
    *    loops — x_pagerank_tol's 50 rounds × 3 stages × 224 extra tiny
    *    map tasks took it 38 s → 83 s at sf0.1 — while winning nothing
    *    (nothing spills at 17 MB).
    *  - large inputs (`dataDir` ≥ 512 MB — the sf10 scale point, or a
    *    real multi-TB run): width = 8×. q151's 205M-row hashed-gram
    *    shuffle at sf10 ran 197 s at width 32 (6.4M rows per sorter →
    *    spill thrash, occasional task page-allocation failure) and
    *    139 s at width 256.
    * `SPARK_GRAFT_IPN` overrides both (a cluster deployment sizes this
    * per job, like `spark.sql.shuffle.partitions` itself). */
  def initialPartitionNum(shufflePartitions: Int, dataDir: String = ""): Int =
    sys.env.get("SPARK_GRAFT_IPN") match {
      case Some(v) =>
        v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
          s"SPARK_GRAFT_IPN must be a positive integer, got '$v'"))
      case None =>
        def bytes(f: java.io.File): Long =
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).iterator.map(bytes).sum
          else f.length()
        // The size probe is a local-FS walk (the harness always hands a
        // local path). A remote URI (hdfs://, s3a://) can't be sized
        // cheaply here — and only exists on the large deployments the
        // wide regime targets — so any non-file scheme goes wide.
        val remote = dataDir.contains("://") && !dataDir.startsWith("file:")
        val wide = remote || (dataDir.nonEmpty &&
          bytes(new java.io.File(dataDir)) >= WideInputBytes)
        if (wide) 8 * shufflePartitions else shufflePartitions
    }

  /** Entries of Spark's JVM-wide generated-code cache.
    *
    * The cache is an LRU sized once, by whichever session compiles
    * first, so every session of the engine is built here. One pass of
    * the `queries` benchmark mix (ten declared queries, sf0.001) uses
    * about 170 generated classes (172 from a cold cache in
    * `CodegenCacheSpec`). At Spark's default of 100 the LRU evicted
    * each class before its next use, and a warm pass recompiled 160–166
    * of them. At 1000 a warm pass compiles 4–8, all in q138. Metaspace
    * after two passes is 159.4 MiB against 158.9 MiB at 100. The size
    * leaves room for sessions that run more of the declared queries.
    *
    * The cache is keyed by the generated source, and Spark names each
    * whole-stage class after its codegen stage id. Adaptive execution
    * numbers stages in the order they are planned, which follows the
    * order earlier stages finish, so the same stage can come back as
    * `GeneratedIteratorForCodegenStage3` in one run and `…Stage4` in
    * the next: two sources, a miss and a recompile, for identical code.
    * Sessions turn the id out of the class name
    * (`spark.sql.codegen.useIdInClassName=false`); q138 compiled 2–4
    * classes on every warm run of the mix before, none after
    * (`CodegenCacheSpec`). */
  val CodegenCacheEntries = 1000

  def builder(master: String = "local[*]", shufflePartitions: Int = 32,
      dataDir: String = ""): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitionNum(shufflePartitions, dataDir).toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // parquet TIMESTAMP(NANOS) is otherwise rejected outright; with
      // this flag it reads as a raw long, which Tables.normalizeNanos
      // truncates to a µs timestamp (DuckDB's nanos-read semantics).
      // The testdata has shipped both ns- and µs-encoded `events.ts`
      // over the project's life; keeping the flag means either encoding
      // reads through the same seam (NanosEncodingSpec pins both).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def local(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Table loader for the deterministic testdata layout
  * (`/root/testdata/sf{0.001,0.01,0.1}/<name>.parquet`, see TESTDATA.md).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Confs that change the schema Spark infers from the same footers. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Every leaf file's (path, length, mtime), and the schema confs. */
  private type Fingerprint = (Seq[(String, Long, Long)], Seq[Option[String]])

  /** Table path → the schema inferred at one fingerprint. Footer
    * inference is a Spark job; uncached, every declared query would
    * start one per table in its build. A table rewritten in place gets
    * a new fingerprint and is inferred again, replacing its entry. */
  private[core] val schemas = new ConcurrentHashMap[String, (Fingerprint, StructType)]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    normalizeNanos(spark.read.schema(schema(spark, path)).parquet(path))
  }

  /** Inference runs outside any map lock: two racing misses both infer,
    * and the later `put` wins with a schema as correct as the other. */
  private def schema(spark: SparkSession, path: String): StructType = {
    val fp = fingerprint(spark, path)
    Option(schemas.get(path)).filter(_._1 == fp).map(_._2).getOrElse {
      val s = spark.read.parquet(path).schema
      schemas.put(path, (fp, s))
      s
    }
  }

  private def fingerprint(spark: SparkSession, path: String): Fingerprint = {
    val p = new Path(path)
    val files = Seq.newBuilder[(String, Long, Long)]
    try {
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: FileNotFoundException => } // inference reports the missing path
    (files.result().sorted, SchemaConfs.map(spark.conf.getOption))
  }

  /** Parquet TIMESTAMP(NANOS) columns arrive as raw long nanos (see the
    * `nanosAsLong` flag in [[GraftSession]]); truncate to µs wall-clock
    * timestamps — identical to DuckDB's nanos→TIMESTAMP read semantics.
    * µs-encoded data (the current testdata era) already reads as
    * `timestamp_ntz` and passes through untouched — both encodings land
    * identically (NanosEncodingSpec). */
  private[graft] def normalizeNanos(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    // The only nanos column in the testdata contract is `events.ts`
    // (FIXTURES.md §A); anything else long-typed stays untouched.
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == LongType && f.name == "ts")
        d.withColumn(f.name,
          timestamp_micros(call_function("div", col(f.name), lit(1000L)))
            .cast("timestamp_ntz"))
      else d
    }
  }
}
