package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Caches, GraftSession, Tables}
import graft.operators.{MediaQueries, SimilarityQueries, SubstringDedup}
import graft.sources.{DeconStore, FileDigests, MediaHashStore, StoreLease, VectorIndexStore, VerdictStore}

/** The one measurement runner. A [[Measure.Scenario]] is an untimed
  * setup, given a per-run scratch root, that returns named timed
  * [[Measure.Shot]]s; each shot is timed single-shot or as the median
  * of `SPARK_GRAFT_REPEATS` (default 3). Bench's extras
  * ([[Bench.Extras]]) are rows of the same type; the scenarios below
  * reproduce SCALE.md's measurements:
  * {{{
  *   SPARK_GRAFT_SF_DIR=<sfDir> sbt "runMain graft.Measure <scenario> [args]"
  * }}}
  * with `<scenario>` one of `arm`, `decon`, `codebook`, `churn`,
  * `sidecar [records] [loadFiles]`, `cold-serve build|serve <workDir>`,
  * `profile <query name or extra code>...`, or any Bench extra code.
  * Each run prints one JSON line: the scenario's fields, then the load
  * sentinel. `SPARK_GRAFT_ONLY` (comma-separated substrings) keeps the
  * shots whose field contains one of them; `SPARK_GRAFT_CPUS` defaults
  * to the machine's core count.
  */
object Measure {
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
  // Single-shot timings swing up to 5× between identical-code runs (GC,
  // JIT, page cache); the median of three is stable enough to act on.
  val repeats: Int = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt)
  private[graft] val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)

  /** Whether `SPARK_GRAFT_ONLY` keeps the entry or shot `name`. */
  def selected(name: String): Boolean = only.forall(_.exists(name.contains))

  def session(): SparkSession = {
    val spark = GraftSession.builder(s"local[$cpus]", cpus, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** What a setup sees: the session, the tables, the scenario's
    * arguments and the run's scratch root. */
  final class Run(val spark: SparkSession, val sfDir: String, val root: String,
      val args: Seq[String] = Nil) {
    private val built = scala.collection.mutable.Set[String]()
    private val closers = scala.collection.mutable.ListBuffer[() => Unit]()
    def table(name: String): DataFrame = Tables(spark, sfDir, name)
    def dir(name: String): String = s"$root/$name"
    /** `dir(name)`, built by `build` on its first use in this run. */
    def shared(name: String)(build: String => Unit): String = {
      if (!built(name)) { build(dir(name)); built += name }
      dir(name)
    }
    /** Undo session-wide state a setup left (a listener, a lease). */
    def onClose(f: => Unit): Unit = closers += (() => f)
    def close(): Unit = closers.reverse.foreach(f => try f() catch { case NonFatal(_) => () })
  }

  /** One timed shot. `confs` are set only while it runs; a DataFrame
    * result is forced with `queryExecution.toRdd.count()`; `after` reads
    * what the shot left behind (a dispatch, a counter) as more fields. */
  final case class Shot(body: () => Any, confs: Seq[(String, String)] = Nil,
      after: () => Seq[(String, Any)] = () => Nil)

  /** A named measurement: `setup` runs untimed and returns its shots in
    * report order; `single` shots run once instead of the median. */
  final case class Scenario(name: String, single: Boolean = false)(
      val setup: Run => Seq[(String, Shot)])

  private var shots = 0

  /** One timed run of `shot`, negative on failure.
    *
    * Forcing (r15 bench-integrity fix): under `count()` the optimizer
    * prunes every branch that cannot change the row count — for the
    * verdict/coverage shapes (a kernel rollup LEFT-JOINed back onto the
    * id relation) that is the whole kernel. `toRdd` runs the query's own
    * optimized plan, sorts included, the work a real consumer pays.
    *
    * Release (r07 post-mortem): a long run degraded late queries up to
    * 180× from session-state accumulation. Checkpoint blocks live outside
    * the CacheManager, so besides the tracked handles and the cache the
    * sweep unpersists every persisted RDD, and a periodic `System.gc()`
    * lets ContextCleaner reclaim broadcasts and shuffle files. */
  def time(spark: SparkSession, field: String, shot: Shot): Double = {
    val t0 = System.nanoTime()
    val ok = try {
      shot.confs.foreach { case (k, v) => spark.conf.set(k, v) }
      shot.body() match {
        case df: Dataset[_] => df.queryExecution.toRdd.count(): Unit
        case _ => ()
      }
      true
    } catch { case NonFatal(e) =>
      System.err.println(s"[measure] $field failed: ${e.getMessage}")
      false
    } finally shot.confs.foreach { case (k, _) => spark.conf.unset(k) }
    val dt = (System.nanoTime() - t0) / 1e9
    Caches.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    shots += 1
    if (shots % 25 == 0) System.gc()
    if (ok) dt else -dt
  }

  /** The median of `n` runs. A failed first run is not retried, and any
    * failed run fails the shot: a median over mixed signs would hide an
    * intermittent failure behind a plausible timing. */
  def timed(spark: SparkSession, field: String, shot: Shot, n: Int): Double = {
    val first = time(spark, field, shot)
    val ts = if (first < 0) Seq(first) else first +: (2 to n).map(_ => time(spark, field, shot))
    if (ts.exists(_ < 0)) ts.min else ts.sorted.apply((ts.size - 1) / 2)
  }

  /** The scenario's shots that `SPARK_GRAFT_ONLY` keeps, or None when
    * its setup failed. */
  def prepare(r: Run, s: Scenario): Option[Seq[(String, Shot)]] =
    try Some(s.setup(r).filter { case (f, _) => selected(f) })
    catch { case NonFatal(e) =>
      System.err.println(s"[measure] ${s.name} setup failed: ${e.getMessage}")
      None
    } finally {
      Caches.releaseAll(); r.spark.catalog.clearCache()
    }

  /** Runs `s` under a fresh scratch root and returns its fields in
    * order; a failed setup reports the scenario's name as -1. */
  def run(spark: SparkSession, sfDir: String, s: Scenario, args: Seq[String] = Nil,
      n: Int = repeats): Seq[(String, Any)] = withRoot { root =>
    val r = new Run(spark, sfDir, root, args)
    try prepare(r, s).fold(Seq[(String, Any)](s.name -> -1.0))(_.flatMap { case (f, shot) =>
      val v = timed(spark, f, shot, if (s.single) 1 else n)
      (f -> v) +: (if (v >= 0) shot.after() else Nil)
    }) finally r.close()
  }

  /** A per-run scratch root under `java.io.tmpdir`, deleted when `body`
    * returns or throws. */
  def withRoot[A](body: String => A): A = {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")), "graft_measure_").toFile
    try body(root.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(root): Unit
  }

  /** Load sentinel, started before the session (r9 post-mortem: a
    * contended machine inflated every query 2-19×). `la` is [pre, post]
    * in centi-units: pre is the foreign CPU (whole-machine CPU minus
    * this JVM's, median over ~1.2 s, in cores) — the 1-minute load
    * average decays too slowly and still carried the build's own
    * compile — and post is the 1-minute load average, context for how
    * hard the run pushed. `lak` declares which pre was measured ("fcpu",
    * or the "la1m" fallback when the bean is unavailable), `nc` the core
    * count and `w` this process's wall time in centiseconds. */
  final class Sentinel {
    private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    private val (pre, kind) = os match {
      case b: com.sun.management.OperatingSystemMXBean =>
        val s = (1 to 4).flatMap { _ =>
          Thread.sleep(300)
          val (sys, self) = (b.getCpuLoad, b.getProcessCpuLoad) // <0 until primed
          if (sys < 0 || self < 0) None else Some(math.max(0.0, sys - self))
        }
        if (s.isEmpty) (os.getSystemLoadAverage, "la1m")
        else (s.sorted.apply((s.size - 1) / 2) * Runtime.getRuntime.availableProcessors, "fcpu")
      case _ => (os.getSystemLoadAverage, "la1m")
    }
    private val t0 = System.nanoTime()
    def json: String = {
      def cl(v: Double): Long = if (v < 0) -1 else math.round(v * 100)
      s""""la":[${cl(pre)},${cl(os.getSystemLoadAverage)}],"lak":"$kind",""" +
        s""""nc":${Runtime.getRuntime.availableProcessors},"w":${math.round((System.nanoTime() - t0) / 1e7)}"""
    }
  }

  /** The scenario's JSON line. */
  def line(name: String, sfDir: String, fields: Seq[(String, Any)], sentinel: Sentinel): String =
    fields.map {
      case (k, v: Double) => s""""$k":${"%.3f".formatLocal(java.util.Locale.ROOT, v)}"""
      case (k, v: String) => s""""$k":"$v""""
      case (k, v) => s""""$k":$v"""
    }.mkString(s"""{"scenario":"$name","sf":"${new java.io.File(sfDir).getName}",""", ",",
      s",${sentinel.json}}")

  def main(args: Array[String]): Unit = {
    val s = args.headOption.flatMap(scenarios.get).getOrElse(sys.error(
      s"usage: graft.Measure <scenario> [args]; scenarios: ${scenarios.keys.mkString(" ")}"))
    val sentinel = new Sentinel
    val spark = session()
    try println(line(s.name, sfDir, run(spark, sfDir, s, args.toSeq.tail), sentinel))
    finally spark.stop()
  }

  /** Image dHashes of `(id, text)` rows rendered as images. */
  private[graft] def hashedImages(part: DataFrame): DataFrame = {
    import part.sparkSession.implicits._
    graft.multimodal.MediaDedup.hashImages(part.as[(Long, String)]
      .map { case (id, t) => (id, graft.multimodal.MediaDedup.renderImage(t)) }
      .toDF("media_id", "content"))
  }

  /** The stores behind q198's served report: a VerdictStore over the 9:1
    * split and the sourced MediaHashStore its dispatch digests the train
    * hashes through (only a fresh one makes that digest decode-free).
    * Built from the exposed split relations: a re-derived predicate copy
    * would digest-mismatch and demote every serve to inline. */
  private[graft] def buildVerdictStores(r: Run, dirVd: String, dirVdM: String): Unit = {
    val (d, e) = (r.table("documents"), r.table("embeddings"))
    val trainDocs = MediaQueries.deconTrainDocs(r.spark, r.sfDir)
    val train = VerdictStore.Corpus(d.filter(col("doc_id") % 10 =!= 0),
      e.filter(col("vec_id") % 10 =!= 0), hashedImages(trainDocs))
    val suite = VerdictStore.Corpus(d.filter(col("doc_id") % 10 === 0),
      e.filter(col("vec_id") % 10 === 0),
      hashedImages(MediaQueries.deconEvalDocs(r.spark, r.sfDir)))
    VerdictStore.build(train, Seq("all" -> suite), dirVd)
    MediaHashStore.buildSourced(trainDocs, train.img, dirVdM)
  }

  /** Cold-session serve of the verdict store across two JVMs over one
    * `workDir`: `build` builds the stores and runs one serve that
    * persists every freshness partial to the digest sidecar; `serve`, in
    * a fresh JVM, times q198 three times. `scanned` 0 (after the first
    * serve) means every digest composed from the sidecar: the new
    * process never read a corpus byte to prove freshness. */
  val coldServe: Scenario = Scenario("cold-serve", single = true) { r =>
    require(r.args.size == 2, "usage: cold-serve build|serve <workDir>")
    val Seq(phase, work) = r.args
    val confs = Seq(FileDigests.DirKey -> s"$work/digestcache",
      VerdictStore.DirKey -> s"$work/verdictstore", MediaHashStore.DirKey -> s"$work/verdictstore_media")
    val serve = Shot(() => MediaQueries.q198ThreeEyeDecon(r.spark, r.sfDir), confs)
    phase match {
      case "build" => Seq("build_s" -> Shot(() =>
        buildVerdictStores(r, s"$work/verdictstore", s"$work/verdictstore_media"), confs),
        "warm_serve_s" -> serve)
      case "serve" => Seq("serve1_s" -> serve.copy(after = () => {
          val c = FileDigests.counters
          Seq("scanned" -> c("scanned"), "fullscans" -> c("full"), "composed" -> c("composed"))
        }), "serve2_s" -> serve, "serve3_s" -> serve)
      case other => sys.error(s"unknown cold-serve phase '$other' (build|serve)")
    }
  }

  /** The digest sidecar at the design-point record count (default 500k,
    * synthetic records in the real format): `load_s` and `heap_mb` are
    * what a fresh JVM's first digest call pays below the compaction
    * trigger; `compact_s` is the same load over 100 files, which trips
    * the rewrite to one file — the worst first digest a deployment pays. */
  val sidecar: Scenario = Scenario("sidecar", single = true) { r =>
    val records = r.args.headOption.fold(500000)(_.toInt)
    val loadFiles = r.args.lift(1).fold(60)(_.toInt) // < CompactAt: no rewrite
    val fs = new org.apache.hadoop.fs.Path(r.root).getFileSystem(r.spark.sessionState.newHadoopConf())
    // Aged past the compaction grace window, which spares fresh files
    // as possible open appends.
    def write(dir: String, files: Int): String = {
      val per = records / files
      (0 until files).foldLeft(0L) { (id0, i) =>
        val f = new org.apache.hadoop.fs.Path(dir, f"digests-synth-$i%05d.bin")
        val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(fs.create(f, false), 1 << 16))
        val ids = id0 until id0 + (if (i == files - 1) records - per * (files - 1) else per)
        ids.foreach { id =>
          out.write(f"$id%032x".getBytes("US-ASCII"))
          out.writeLong(id); out.writeLong(id ^ 0x9e3779b97f4a7c15L)
        }
        out.close()
        fs.setTimes(f, System.currentTimeMillis() - 11L * 60 * 1000, -1)
        ids.end
      }
      dir
    }
    def usedHeap(): Long = {
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
      Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
    }
    val (load, compact) = (write(r.dir("sidecar_load"), loadFiles), write(r.dir("sidecar_compact"), 100))
    r.onClose(FileDigests.clearForTest())
    FileDigests.clearForTest()
    val heap0 = usedHeap()
    Seq("load_s" -> Shot(() => FileDigests.benchLoad(r.spark, load), after = () =>
        Seq("records" -> records, "heap_mb" -> (usedHeap() - heap0) / 1048576.0)),
      "compact_s" -> Shot(() => { FileDigests.clearForTest(); FileDigests.benchLoad(r.spark, compact) },
        after = () => Seq("files_after_compact" ->
          fs.listStatus(new org.apache.hadoop.fs.Path(compact)).count(_.getPath.getName.endsWith(".bin")))))
  }

  /** VerdictStore maintainer churn: `day_advance` (one batch probed
    * against the live suite — batch-sized, independent of history), the
    * same advance on a store whose owner lease is held (every meta commit
    * then re-checks the `_lease` listing), `bench_advance` (one new
    * benchmark against the full history: corpus × delta) and
    * `bench_retire` (partition drops only). Media enters as stored
    * (media_id, dhash) rows, the deployed decode-once-at-ingest contract;
    * the codec tier is priced by xmp/xmd. */
  val churn: Scenario = Scenario("churn", single = true) { r =>
    val (spark, d, e) = (r.spark, r.table("documents"), r.table("embeddings"))
    hashedImages(MediaQueries.deconTrainDocs(spark, r.sfDir)).write.parquet(r.dir("hashes/train"))
    hashedImages(MediaQueries.deconEvalDocs(spark, r.sfDir)).write.parquet(r.dir("hashes/eval"))
    def corpus(txt: org.apache.spark.sql.Column => org.apache.spark.sql.Column, side: String,
        img: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = VerdictStore.Corpus(
      d.filter(txt(col("doc_id"))).select("doc_id", "text"),
      e.filter(txt(col("vec_id"))).select("vec_id", "embedding"),
      spark.read.parquet(r.dir(s"hashes/$side")).filter(img(col("media_id"))).select("media_id", "dhash"))
    // history = the train split; day 1 ≈ 6/7 of it, day 2 the rest;
    // benchmarks a and b halve the eval split
    val train = corpus(_ % 10 =!= 0, "train", _ => lit(true))
    val day1 = corpus(id => id % 10 =!= 0 && id % 7 =!= 0, "train", _ % 7 =!= 0)
    val day2 = corpus(id => id % 10 =!= 0 && id % 7 === 0, "train", _ % 7 === 0)
    val benchA = corpus(_ % 20 === 0, "eval", _ % 20 === 0)
    val benchB = corpus(_ % 20 === 10, "eval", _ % 20 === 10)
    val (dir, leased) = (r.dir("verdictstore"), r.dir("verdictstore_leased"))
    StoreLease.acquire(spark, leased, "churn"): Unit
    r.onClose(StoreLease.release(spark, leased))
    Seq(dir, leased).foreach(VerdictStore.build(day1, Seq("a" -> benchA), _, day = 1))
    def advance(store: String) = Shot(() => VerdictStore.advanceDay(day2, Seq("a" -> benchA), store, day = 2))
    Seq("day_advance" -> advance(dir), "day_advance_leased" -> advance(leased),
      "bench_advance" -> Shot(() => VerdictStore.advanceBenchmark("b", benchB, train, dir)),
      "bench_retire" -> Shot(() => VerdictStore.retireBenchmark("b", spark, dir), after = () => {
        // the maintained store must serve the resulting state
        spark.conf.set(VerdictStore.DirKey, dir)
        try Seq("served_rows" -> VerdictStore.openFreshThreeEye(train, benchA)
          .fold(-1L)(_.queryExecution.toRdd.count()))
        finally spark.conf.unset(VerdictStore.DirKey)
      }))
  }

  /** SCALE.md's arm-picker table: q168's incremental probe, the full
    * recompute and q169's picker in both dispatch regimes — the standard
    * 50/50 split (duplicate-saturated within each half: recompute wins)
    * and a sparse 2% daily batch against the whole corpus (mostly
    * synthetic-unique text, one doc in 16 real: probe wins). */
  val arm: Scenario = Scenario("arm") { r =>
    val d = r.table("documents")
    val maxId = d.agg(max("doc_id")).head().getLong(0)
    val sparse = d.where(pmod(col("doc_id"), lit(50)) === 1)
      .select((col("doc_id") + maxId + 1).as("doc_id"),
        when(pmod(col("doc_id"), lit(16)) === 3, col("text")).otherwise(
          concat_ws(" ", (0 until 8).map(i => md5(concat(col("doc_id"), lit(i)))): _*)).as("text"))
    val std = d.filter(col("doc_id") % 2 === 1)
    def regime(name: String, fresh: DataFrame, hist: DataFrame, recompute: => DataFrame) = Seq(
      s"${name}_probe" -> Shot(() => SubstringDedup.substringProbeOn(fresh, hist,
        SubstringDedup.charWinnowOf(hist), hashedKeys = true)),
      s"${name}_recompute" -> Shot(() => recompute.join(fresh.select("doc_id"), Seq("doc_id"), "left_semi")),
      s"${name}_picker" -> Shot(() => SubstringDedup.probeOrRecompute(fresh, hist), after = () => {
        val (a, ratio) = SubstringDedup.lastArm.get()
        Seq(s"${name}_arm" -> a, s"${name}_ratio" -> ratio)
      }))
    val dh = d.select("doc_id", "text")
    regime("std", std, d.filter(col("doc_id") % 2 === 0), SubstringDedup.q151SubstringFast(r.spark, r.sfDir)) ++
      regime("sparse", sparse, dh, SubstringDedup.substringSpansFastOn(sparse.unionByName(dh)))
  }

  /** SCALE.md's trained-codebook economics: the k-means training job
    * (spherical Lloyd's at K = ⌈√N⌉) against the first-K convention, the
    * scaled-store builds that freeze each, and q188 served from each —
    * the serve is codebook-provenance-independent by construction. */
  val codebook: Scenario = Scenario("codebook", single = true) { r =>
    val e = r.table("embeddings")
    val (n, k) = (e.count(), SimilarityQueries.scaledK(e))
    val idx = e.where(pmod(col("vec_id"), lit(5)) =!= 0)
    def serve(store: String) = Shot(() => SimilarityQueries.q188IvfScaled(r.spark, r.sfDir),
      Seq(VectorIndexStore.DirKey -> r.dir(store)))
    Seq("firstK_scaled" -> Shot(() => SimilarityQueries.scaledCodebook(e, k),
        after = () => Seq("n" -> n, "k" -> k)),
      "trained_scaled_3rounds" -> Shot(() => SimilarityQueries.scaledCodebookTrained(e, k)),
      "buildScaled_firstK" -> Shot(() => VectorIndexStore.buildScaled(e, idx, r.dir("firstK"), trained = false)),
      "buildScaled_trained" -> Shot(() => VectorIndexStore.buildScaled(e, idx, r.dir("trained"))),
      "serve_firstK" -> serve("firstK"), "serve_trained" -> serve("trained"))
  }

  /** SCALE.md's decon scale points. The attribution matrix costs
    * contamination volume × benchmarks sharing each span, so it is timed
    * at the saturated fixture split (eval = 10%) and at a benchmark-sized
    * one (0.1%), plain and capped (q187). Then q189's two arms, each
    * forced, and the picker's own dispatch in three regimes: the daily
    * split, a half-corpus backfill, and a recrawl whose batch is verbatim
    * copies of the suite (matched mass = suite mass, the store's home). */
  val decon: Scenario = Scenario("decon", single = true) { r =>
    val d = r.table("documents")
    val splits = Seq("sat_10pct" -> 10, "bench_0.1pct" -> 1000)
      .map { case (l, m) => (l, d.filter(col("doc_id") % m =!= 0), d.filter(col("doc_id") % m === 0)) }
    val ev = d.filter(col("doc_id") % 10 === 0)
    val store = r.dir("deconstore")
    DeconStore.build(ev, store)
    def arms(regime: String, fresh: DataFrame) =
      Seq("store" -> -1.0, "recompute" -> 2.0, "auto" -> SubstringDedup.DeconEvalRatio).map { case (a, x) =>
        s"arm_${regime}_$a" -> Shot(() => SubstringDedup.deconProbeOrRecompute(fresh, ev, x),
          Seq(DeconStore.DirKey -> store), () => {
            val (picked, ratio) = SubstringDedup.lastDeconArm.get()
            Seq(s"arm_${regime}_${a}_arm" -> picked, s"arm_${regime}_${a}_ratio" -> ratio)
          })
      }
    splits.map { case (l, train, e) => s"matrix_$l" -> Shot(() => SubstringDedup.deconMatrixOn(train, e)) } ++
      splits.map { case (l, train, e) => s"capped_$l" -> Shot(
        () => SubstringDedup.deconMatrixCappedOn(train, e, SubstringDedup.MatrixEvalFanoutCap),
        after = () => Seq(s"capped_${l}_trunc" -> SubstringDedup.lastMatrixTruncated.get())) } ++
      arms("daily", d.filter(col("doc_id") % 10 === 1)) ++ arms("backfill", d.filter(col("doc_id") % 2 === 1)) ++
      arms("recrawl", ev.withColumn("doc_id", col("doc_id") + 100000000L))
  }

  /** Where a query's or an extra's wall time goes: after one untimed
    * warm run, each target is timed once while a listener records its
    * jobs (wall, tasks, shuffle bytes; gaps between jobs are driver-side
    * build and planning) and every stage of 300 ms or more. The
    * breakdown goes to stderr; the line carries `<target>_jobs` and
    * `<target>_covered` (seconds inside jobs). */
  val profile: Scenario = Scenario("profile", single = true) { r =>
    require(r.args.nonEmpty, "usage: profile <query name or extra code>...")
    val rec = new Recorder
    r.spark.sparkContext.addSparkListener(rec)
    r.onClose(r.spark.sparkContext.removeSparkListener(rec))
    r.args.map { name =>
      val shot = SparkEntry.queries.get(name).map(fn => Shot(() => fn(r.spark, r.sfDir))).getOrElse(
        Bench.Extras.find(_.name == name).getOrElse(sys.error(s"no query or extra named $name"))
          .setup(r).head._2)
      time(r.spark, name, shot)
      name -> shot.copy(body = () => { rec.clear(); shot.body() }, after = () => rec.report(name))
    }
  }

  private final case class Job(desc: String, start: Long, var end: Long = -1, var tasks: Int = 0,
      var read: Long = 0, var written: Long = 0)

  private final class Recorder extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private val stages = new ConcurrentLinkedQueue[String]()
    @volatile private var t0 = 0L
    def clear(): Unit = { jobs.clear(); stageJob.clear(); stages.clear(); t0 = System.currentTimeMillis() }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      jobs.put(e.jobId, Job(desc.getOrElse("").take(90), e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageJob.get(si.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.tasks += si.numTasks
        j.read += si.taskMetrics.shuffleReadMetrics.totalBytesRead
        j.written += si.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
      val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
      if (ms >= 300) stages.add(f"    stage ${si.stageId}%4d ${ms / 1000.0}%6.2fs " +
        f"exec=${si.taskMetrics.executorRunTime / 1000.0}%6.2fs tasks=${si.numTasks}%4d ${si.name.take(100)}")
    }
    def report(name: String): Seq[(String, Any)] = {
      val rows = jobs.asScala.toSeq.sortBy(_._1)
      System.err.println(s"== $name jobs=${rows.size} ==")
      var (covered, prevEnd) = (0L, t0)
      rows.foreach { case (id, j) =>
        if (j.start - prevEnd > 50) System.err.println(f"   (driver gap ${(j.start - prevEnd) / 1000.0}%.2fs)")
        val ms = if (j.end > 0) j.end - j.start else -1L
        covered += math.max(0L, ms)
        System.err.println(f"  job $id%4d ${ms / 1000.0}%6.2fs tasks=${j.tasks}%4d " +
          f"sRead=${j.read / 1024}%8dK sWrite=${j.written / 1024}%8dK ${j.desc}")
        prevEnd = math.max(prevEnd, if (j.end > 0) j.end else j.start)
      }
      stages.forEach(s => System.err.println(s))
      Seq(s"${name}_jobs" -> rows.size, s"${name}_covered" -> covered / 1000.0)
    }
  }

  /** Every scenario `main` accepts, by name. */
  lazy val scenarios: scala.collection.immutable.ListMap[String, Scenario] =
    scala.collection.immutable.ListMap((Bench.Extras ++
      Seq(coldServe, sidecar, churn, arm, codebook, decon, profile)).map(s => s.name -> s): _*)
}
