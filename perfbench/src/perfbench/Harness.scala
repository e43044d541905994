package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.{DriverManager, Timestamp}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.analytics.Dashboard
import graft.core.GraftSession
import graft.jobs.{CompactionJob, CompactorJob}
import graft.state.JdbcStateStore

/** One timed operation and the verdict of its output check. */
case class Op(kind: String, name: String, startMs: Double, endMs: Double,
    var ok: Boolean = true, var why: String = "") {
  def s: Double = (endMs - startMs) / 1e3
  def fail(reason: String): Unit = if (ok) { ok = false; why = reason }
}

/** The benchmark's load generator: one workload in this fresh JVM, through
  * the program's public entry points only.
  *
  *   perfbench.Harness <ingest|queries> <workDir> <threads> <trace 0|1>
  *
  * `workDir` holds the seeded inputs `gen.py` wrote and receives
  * `result.json` (and, traced, `spans.jsonl`). Each run has an untimed
  * set-up and warm-up phase of a fixed number of operations, then a
  * timed phase of a fixed list of operations. */
object Harness {

  val District = "DISTRICTB"
  /** Warm-up rounds of the query mix. The first round is the cold one;
    * the second is within about 10% of later rounds, and a third would
    * not fit the run's time budget. */
  val WarmRounds = 2

  def main(args: Array[String]): Unit = {
    val Array(workload, work, threadsArg, traceArg) = args
    val threads = threadsArg.toInt
    val traced = traceArg == "1"
    val spark = GraftSession.builder(s"local[$threads]", threads)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark.sparkContext)
    if (traced) {
      spark.sparkContext.addSparkListener(trace)
      spark.listenerManager.register(trace)
    }
    val run = new Run(spark, work, trace, traced)
    run.sessionMs = Jvm.nowMs
    try {
      workload match {
        case "ingest" => run.ingest()
        case "queries" => run.queries()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      run.writeResult(workload, threads)
    } finally spark.stop()
  }

  def tsv(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty).map(_.split("\t", -1))

  /** Order-insensitive digest of a result: rows rendered with doubles at
    * six decimals, sorted, hashed. */
  def digest(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "∅"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString
        else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).toPlainString
      case f: Float => render(f.toDouble)
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (a, b) => render(a) + "->" + render(b) }.sorted.mkString("{", ",", "}")
      case a: Array[Byte] => a.mkString("b", ".", "")
      case x => x.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

class Run(spark: SparkSession, work: String, trace: Trace, traced: Boolean) {
  import Harness._

  val ops = mutable.ArrayBuffer.empty[Op]
  val warmOps = mutable.ArrayBuffer.empty[Op]
  var sessionMs, warmStartMs = 0.0
  var firstOpMs = 0.0
  var workS = 0.0
  private var cpu0, gc0, jit0, jitCpu0, t0 = 0.0
  var cpuS, gcS, jitS, jitCpuS = 0.0
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, String]
  private var qeMark = 0

  /** Open the timed phase: counters start here. */
  def begin(): Unit = {
    if (traced) { trace.drain(); trace.recording = true }
    cpu0 = Jvm.cpuS; gc0 = Jvm.gcS; jit0 = Jvm.jitS; jitCpu0 = Jvm.jitCpuS
    t0 = Jvm.nowMs; firstOpMs = t0
    qeMark = trace.qes.size
  }

  def end(): Unit = {
    workS = (Jvm.nowMs - t0) / 1e3
    cpuS = Jvm.cpuS - cpu0; gcS = Jvm.gcS - gc0; jitS = Jvm.jitS - jit0; jitCpuS = Jvm.jitCpuS - jitCpu0
    if (traced) { trace.drain(); trace.recording = false }
  }

  private def span[T](name: String)(body: => T): T = if (traced) trace.span(name)(body) else body

  /** Time one operation; a throw is a failed operation, not a crash. */
  def timed[T](kind: String, name: String)(body: => T): (Op, Option[T]) = {
    val start = Jvm.nowMs
    val res = try Right(span(s"op.$kind")(body))
      catch { case e: Throwable => Left(e) }
    val op = Op(kind, name, start, Jvm.nowMs)
    res.left.foreach(e => op.fail(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    ops += op
    (op, res.toOption)
  }

  /** Query executions finished since the last call (traced runs only). */
  def newQes(): Seq[QeRecord] = {
    trace.drain()
    val out = trace.qes.synchronized(trace.qes.slice(qeMark, trace.qes.size).toSeq)
    qeMark += out.size
    out
  }

  def layer(name: String, v: Double): Unit = layers(name) = layers.getOrElse(name, 0.0) + v

  private def spanSum(prefix: String): Double =
    trace.spans.filter(s => s.name == prefix && s.startMs >= t0).map(s => (s.endMs - s.startMs) / 1e3).sum

  private def coreLayers(): Unit = {
    layer("core.executor_cpu_s", trace.execCpuNs / 1e9)
    layer("core.executor_run_s", trace.execRunMs / 1e3)
    layer("core.scheduler_delay_s", trace.schedDelayMs / 1e3)
    layer("core.gc_s", gcS)
    layer("core.jit_s", jitS)
    layer("core.task_failures", trace.taskFailures.toDouble)
    layer("core.jobs", trace.jobs.toDouble)
    layer("core.stages", trace.stages.toDouble)
    layer("core.tasks", trace.tasks.toDouble)
    layer("core.shuffle_bytes", trace.shuffleBytes.toDouble)
    layer("core.spill_bytes", trace.spillBytes.toDouble)
    val qs = trace.qes.toSeq
    layer("core.plan_s", qs.map(_.planS).sum)
    layer("core.exec_s", qs.map(q => (q.endMs - q.startMs) / 1e3).sum)
    layer("sources.files_read", qs.map(_.filesRead).sum.toDouble)
    layer("sources.bytes_read", qs.map(_.bytesRead).sum.toDouble)
    layer("sources.files_written", qs.map(_.filesWritten).sum.toDouble)
    layer("sources.bytes_written", qs.map(_.bytesWritten).sum.toDouble)
    layer("trace.work_s", workS)
  }

  // ================================================================ ingest
  /** A file of the bronze plan, and a dashboard request. */
  case class Bronze(phase: String, district: String, day: String, hour: Int, rel: String,
      valid: Long, malformed: Long)
  case class Slice(day: String, district: String, units: Seq[String], h0: Int, h1: Int,
      expectUnits: Set[String])

  /** The hourly cycle: claim and compact the hour's bronze files into
    * silver, then load one dashboard slice over the lake. Past days are
    * compacted; the current day holds one fragment per hour so far. */
  def ingest(): Unit = {
    val plan = tsv(s"$work/plan.tsv").map(a =>
      Bronze(a(0), a(1), a(2), a(3).toInt, a(4), a(5).toLong, a(6).toLong))
    val slices = tsv(s"$work/slices.tsv").map(a =>
      a(0) -> Slice(a(1), a(2), a(3).split(",").toSeq, a(4).toInt, a(5).toInt, a(6).split(",").toSet))
    val bronze = new File(s"$work/bronze").getAbsoluteFile.toURI.toString.stripSuffix("/")
    val silver = s"$work/silver"
    val url = "jdbc:derby:memory:perfbench;create=true"
    val store: JdbcStateStore = if (traced) new TimedStateStore(url, trace) else new JdbcStateStore(url)
    store.ensureTable()
    // hours in plan order, each with its slice
    val hours = plan.groupBy(f => (f.phase, f.district, f.day, f.hour)).values.toSeq
      .sortBy(fs => plan.indexOf(fs.head)).zip(slices)
      .map { case (fs, (ph, s)) => require(ph == fs.head.phase); (fs.sortBy(_.rel), s) }
    var uploaded = 0L
    var sliceSchema: StructType = null

    def cycle(files: Seq[Bronze], s: Slice): (Op, Option[Array[Row]]) = {
      val f0 = files.head
      files.foreach { f =>
        uploaded += 1
        store.register(s"$bronze/${f.rel}", f.district, new Timestamp(1700000000000L + uploaded))
      }
      var result: CompactorJob.Result = null
      var picker: Array[Row] = Array.empty
      val (op, rows) = timed("cycle", s"${f0.district}/${f0.day}/${f0.hour}") {
        result = span("jobs.compactor")(CompactorJob.run(spark, store,
          s"${f0.phase}-${f0.day}-${f0.hour}", f0.district, silver, keyLimit = files.size))
        val lake = spark.read.parquet(silver)
        picker = span("analytics.unit_list")(Dashboard.unitList(lake, s.day, s.district).collect())
        val df = Dashboard.perMinuteDeviation(
          Dashboard.telemetrySlice(lake, s.day, s.district, s.units, (s.h0, s.h1)))
        sliceSchema = df.schema
        span("analytics.slice")(df.collect())
      }
      if (result != null) {
        val valid = files.map(_.valid).sum; val bad = files.map(_.malformed).sum
        if (result.claimed != files.size) op.fail(s"claimed ${result.claimed} of ${files.size} keys")
        else if (result.rows != valid) op.fail(s"wrote ${result.rows} rows, planned $valid")
        else if (result.quarantined != bad) op.fail(s"quarantined ${result.quarantined}, planned $bad")
        else if (result.newFields.nonEmpty || result.requeued != 0) op.fail(s"unexpected drift ${result.newFields}")
        val got = picker.map(_.getAs[String]("unitno")).toSet
        if (rows.isDefined && got != s.expectUnits) op.fail(s"unit list ${got.toSeq.sorted}")
        if (rows.exists(_.isEmpty)) op.fail("empty slice")
      }
      (op, rows)
    }

    // -- warm-up: hours of a district of its own, then the measured
    //    district's past day, which is compacted before the timed phase
    warmStartMs = Jvm.nowMs
    hours.filter(h => Set("warm", "past")(h._1.head.phase)).foreach { case (fs, s) => cycle(fs, s) }
    CompactionJob.run(spark, silver, maxFiles = 1)
    warmOps ++= ops
    ops.clear()

    // -- timed: hourly cycles of the current day, then that day's compaction
    val timedHours = hours.filter(_._1.head.phase == "timed")
    val day = timedHours.head._1.head.day
    val dayDir = new File(s"$silver/hiveperiod=$day/dstrct_code=$District")
    def dataFiles = Option(dayDir.listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val out = mutable.ArrayBuffer.empty[Row]
    begin()
    val claimed0 = store match { case t: TimedStateStore => t.keysClaimed; case _ => 0L }
    val results = timedHours.zipWithIndex.map { case ((files, s), i) =>
      val (op, rows) = cycle(files, s)
      rows.foreach(_.foreach(r => out += Row.fromSeq(i +: r.toSeq)))
      if (traced) cycleLayers(op, newQes(), files, rows)
      (op, files)
    }
    val filesIn = if (traced) dataFiles else 0
    val (cop, cres) = timed("compaction", day)(CompactionJob.run(spark, silver, maxFiles = 1))
    cres.foreach(c => if (!c.verified) cop.fail(s"compaction rows ${c.rowsBefore} -> ${c.rowsAfter}"))
    if (traced) {
      newQes()
      layer("jobs.compaction_s", cop.s)
      layer("jobs.compaction_files_in", filesIn)
      layer("jobs.compaction_files_out", dataFiles)
    }
    end()

    // -- checks after the day: every key acked, every source file in silver
    //    exactly once; the slices go to the DuckDB check after the run
    val conn = DriverManager.getConnection("jdbc:derby:memory:perfbench")
    val rs = conn.createStatement().executeQuery(
      s"SELECT count(*) FROM ${store.Table} WHERE compression_status = 'SUCCESS'")
    rs.next(); val acked = rs.getLong(1); conn.close()
    if (acked != uploaded) ops.foreach(_.fail(s"$acked of $uploaded keys acked"))
    val counts = spark.read.parquet(silver)
      .where(col("hiveperiod") === day && col("dstrct_code") === District)
      .groupBy("source_file").count().collect()
      .map(r => r.getString(0).split("/bronze/").last -> r.getLong(1)).toMap
    results.foreach { case (op, files) =>
      files.foreach { f =>
        val got = counts.getOrElse(f.rel, 0L)
        if (got != f.valid) op.fail(s"${f.rel}: $got silver rows after compaction, planned ${f.valid}")
      }
    }
    val stray = counts.keySet -- results.flatMap(_._2.map(_.rel))
    if (stray.nonEmpty) cop.fail(s"silver holds rows of unplanned files ${stray.take(3)}")
    if (sliceSchema != null)
      spark.createDataFrame(out.asJava, StructType(StructField("op", IntegerType) +: sliceSchema.fields))
        .coalesce(1).write.parquet(s"$work/dash_out")
    val rows = results.flatMap(_._2).map(_.valid).sum
    extra("rows_per_s") = num(rows / workS)
    extra("silver_rows") = rows.toString
    if (traced) {
      layer("state.keys_claimed", (store.asInstanceOf[TimedStateStore].keysClaimed - claimed0).toDouble)
      layer("state.claim_s", spanSum("state.claim"))
      layer("state.ack_s", spanSum("state.ack"))
      layer("state.schema_s", spanSum("state.schema"))
      layer("jobs.compactor_s", spanSum("jobs.compactor"))
      coreLayers()
    }
    store.close()
  }

  private val probeByBatch = mutable.ArrayBuffer.empty[Double]

  /** Split one cycle along its layer boundaries: the compactor batch
    * (bronze sample, decode, silver probe, silver write) and the slice. */
  private def cycleLayers(op: Op, qs: Seq[QeRecord], files: Seq[Bronze], rows: Option[Array[Row]]): Unit = {
    val batch = trace.spans.findLast(_.name == "jobs.compactor").get
    val (bq, sq) = qs.partition(_.startMs < batch.endMs)
    val decode = bq.find(_.jsonScan)
    val write = bq.find(_.write)
    val bare = trace.bareJobs.synchronized(trace.bareJobs.filter(j => j._1 >= op.startMs && j._2 <= batch.endMs).toSeq)
    val sample = bare.filter(_._3.contains("json")).map(j => (j._2 - j._1) / 1e3).sum
    val probe = (for (d <- decode; w <- write) yield (w.startMs - d.endMs) / 1e3).getOrElse(0.0)
    probeByBatch += probe
    def dur(q: QeRecord) = (q.endMs - q.startMs) / 1e3
    layer("sources.bronze_sample_s", sample)
    layer("sources.bronze_decode_s", decode.map(dur).getOrElse(0.0))
    layer("sources.bronze_rows", decode.map(_.scanRows).getOrElse(0L).toDouble)
    layer("sources.quarantined_rows", files.map(_.malformed).sum.toDouble)
    layer("sources.silver_probe_s", probe)
    layer("sources.silver_write_s", write.map(dur).getOrElse(0.0))
    layer("analytics.plan_s", sq.map(_.planS).sum)
    layer("analytics.exec_s", sq.map(dur).sum)
    layer("analytics.files_read", sq.map(_.filesRead).sum.toDouble)
    layer("analytics.bytes_read", sq.map(_.bytesRead).sum.toDouble)
    layer("analytics.rows_out", rows.map(_.length).getOrElse(0).toDouble)
    decode.foreach(d => trace.addSpan("sources.bronze_decode", d.startMs, d.endMs, batch.id))
    for (d <- decode; w <- write) trace.addSpan("sources.silver_probe", d.endMs, w.startMs, batch.id)
    write.foreach(w => trace.addSpan("sources.silver_write", w.startMs, w.endMs, batch.id))
    bare.foreach(j => trace.addSpan(if (j._3.contains("json")) "sources.bronze_sample" else "core.bare_job", j._1, j._2, batch.id))
  }

  // =============================================================== queries
  def queries(): Unit = {
    val dir = s"$work/tables"
    val mix = tsv(s"$work/mix.tsv")
    val names = mix.filter(_(0) == "mix").map(_(1))
    val all = graft.SparkEntry.queries
    val refDigest = mutable.Map.empty[String, String]

    def query(name: String, keep: Boolean): (Op, Option[Array[Row]]) = {
      var df: DataFrame = null
      var buildEnd = 0.0
      val r = timed("query", name) {
        df = span("operators.build")(all(name)(spark, dir))
        buildEnd = Jvm.nowMs
        span("operators.collect")(df.collect())
      }
      r._2.foreach { rows =>
        if (keep) {
          refDigest(name) = digest(rows)
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.parquet(s"$work/ref/$name")
        } else if (digest(rows) != refDigest(name)) r._1.fail("result differs from the warm-up result")
      }
      graft.core.Caches.releaseAll()
      spark.catalog.clearCache()
      if (traced && trace.recording) {
        val qs = newQes()
        layer("operators.build_s", (buildEnd - r._1.startMs) / 1e3)
        layer("operators.plan_s", qs.map(_.planS).sum)
        layer("operators.exec_s", qs.filter(_.startMs >= buildEnd).map(q => (q.endMs - q.startMs) / 1e3).sum)
      }
      r
    }

    // warm-up: WarmRounds whole rounds of the mix; the first round's
    // results are the references every timed op must match
    warmStartMs = Jvm.nowMs
    (1 to WarmRounds).foreach(r => names.foreach(n => query(n, keep = r == 1)))
    warmOps ++= ops
    ops.clear()
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$work/oracle_sql.json"),
      names.filter(oracles.contains).map(n => s"${json(n)}: ${json(oracles(n))}").mkString("{", ",\n", "}"))
    val failedRef = names.filterNot(refDigest.contains)

    begin()
    mix.filter(_(0) == "timed").foreach { a =>
      if (failedRef.contains(a(1))) ops += Op("query", a(1), Jvm.nowMs, Jvm.nowMs, ok = false, why = "no warm-up result")
      else query(a(1), keep = false)
    }
    end()
    if (traced) {
      layer("operators.jobs", trace.jobs.toDouble)
      layer("operators.stages", trace.stages.toDouble)
      layer("operators.tasks", trace.tasks.toDouble)
      layer("operators.shuffle_bytes", trace.shuffleBytes.toDouble)
      layer("operators.spill_bytes", trace.spillBytes.toDouble)
      coreLayers()
    }
  }

  // ================================================================ result
  def writeResult(workload: String, threads: Int): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    def opsJson(xs: Seq[Op]) = xs.map(o =>
      s"""{"kind":${json(o.kind)},"name":${json(o.name)},"start_ms":${num(o.startMs)},"end_ms":${num(o.endMs)},"ok":${o.ok},"why":${json(o.why)}}""")
        .mkString("[", ",\n", "]")
    val layersJson = layers.map { case (k, v) => s"${json(k)}:${num(v)}" }
    val extraJson = extra.map { case (k, v) => s"${json(k)}:$v" } ++
      (if (probeByBatch.nonEmpty) Seq(s""""probe_s_by_batch":${probeByBatch.map(num).mkString("[", ",", "]")}""") else Nil)
    val body =
      s"""{"workload":${json(workload)},"threads":$threads,"traced":$traced,
         |"jvm_start_ms":${num(jvmStart)},"first_op_ms":${num(firstOpMs)},
         |"session_ms":${num(sessionMs)},"warm_start_ms":${num(warmStartMs)},
         |"work_s":${num(workS)},"cpu_s":${num(cpuS)},"jit_cpu_s":${num(jitCpuS)},"gc_s":${num(gcS)},"jit_s":${num(jitS)},
         |"rss_peak_mb":${num(Jvm.rssPeakMb)},
         |"extra":{${extraJson.mkString(",")}},
         |"layers":{${layersJson.mkString(",")}},
         |"warm_ops":${opsJson(warmOps.toSeq)},
         |"ops":${opsJson(ops.toSeq)}}""".stripMargin
    Files.writeString(Paths.get(s"$work/result.json"), body)
    if (traced)
      Files.writeString(Paths.get(s"$work/spans.jsonl"), trace.spans.map(s =>
        s"""{"id":${s.id},"name":${json(s.name)},"start_ms":${num(s.startMs)},"end_ms":${num(s.endMs)},"parent":${s.parent}}""")
        .mkString("", "\n", "\n"))
  }
}
