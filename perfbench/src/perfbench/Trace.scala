package perfbench

import java.lang.management.ManagementFactory
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.util.QueryExecutionListener

import graft.state.JdbcStateStore

/** One span: a layer call or a query execution, in epoch milliseconds. */
case class Span(id: Int, name: String, startMs: Double, endMs: Double, parent: Int)

/** One finished query execution, as the listener saw it. */
case class QeRecord(startMs: Double, endMs: Double, planS: Double,
    jsonScan: Boolean, write: Boolean,
    filesRead: Long, bytesRead: Long, scanRows: Long,
    filesWritten: Long, bytesWritten: Long)

/** Process-wide counters read at the edges of the timed phase; these
  * are cheap enough to take on every run, traced or not. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans

  def cpuS: Double = os.getProcessCpuTime / 1e9
  def jitS: Double = jit.getTotalCompilationTime / 1e3
  def gcS: Double = { var t = 0L; gcs.forEach(g => t += math.max(0L, g.getCollectionTime)); t / 1e3 }
  def nowMs: Double = System.currentTimeMillis().toDouble

  /** CPU seconds spent so far by the JIT's compiler threads, from
    * `/proc/self/task/<tid>/stat` (utime + stime, in clock ticks of
    * `perfbench.clk_tck` per second). */
  def jitCpuS: Double = {
    val tck = sys.props.getOrElse("perfbench.clk_tck", "100").toDouble
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.matches("C[12] CompilerThre.*")) 0.0
        else {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) / tck
        }
      } catch { case _: java.io.IOException => 0.0 } // the thread ended
    }.sum
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** The traced run's recorder. Everything is observed from outside the
  * program: a SparkListener for jobs, stages and tasks, a
  * QueryExecutionListener for plans, planning phases and scan/write
  * metrics, and [[TimedStateStore]] for the control plane. Events are
  * kept in memory while `recording` and written out when the run ends. */
class Trace(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  @volatile var recording = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var parents: List[Int] = Nil
  val qes = mutable.ArrayBuffer.empty[QeRecord]
  private val seenScans = mutable.Set.empty[Long]

  // task-level sums over the recorded window
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskFailures = 0L
  var execCpuNs = 0L; var execRunMs = 0L; var schedDelayMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  /** Jobs outside any SQL execution (schema inference, footer merges):
    * (start ms, end ms, call site). */
  val bareJobs = mutable.ArrayBuffer.empty[(Double, Double, String)]
  private val bareStarts = mutable.Map.empty[Int, (Double, String)]

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    spans += Span(id, name, Jvm.nowMs, Double.NaN, parents.headOption.getOrElse(-1))
    parents = id :: parents
    try body
    finally {
      parents = parents.tail
      spans(id) = spans(id).copy(endMs = Jvm.nowMs)
    }
  }
  def addSpan(name: String, startMs: Double, endMs: Double, parent: Int): Unit =
    spans += Span(spans.size, name, startMs, endMs, parent)

  // ----------------------------------------------------- SparkListener
  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    jobs += 1
    val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    if (sql.isEmpty)
      bareStarts.synchronized(bareStarts(e.jobId) =
        (e.time.toDouble, e.stageInfos.headOption.map(_.name).getOrElse("")))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    bareStarts.synchronized(bareStarts.remove(e.jobId)).foreach { case (s, site) =>
      bareJobs.synchronized(bareJobs += ((s, e.time.toDouble, site)))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (recording) stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
    tasks += 1
    if (e.reason != org.apache.spark.Success) taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      execCpuNs += m.executorCpuTime
      execRunMs += m.executorRunTime
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      schedDelayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  // ---------------------------------------------- QueryExecutionListener
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    if (recording) record(qe, durationNs)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => Nil
    }
    Iterator(p) ++ (p.children ++ inner ++ p.subqueries).iterator.flatMap(nodes)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    val planS = phases.map(_.durationMs).sum / 1e3
    // execution starts when planning ends; the listener reports its length
    val start = if (phases.isEmpty) Jvm.nowMs - durationNs / 1e6 else phases.map(_.endTimeMs).max.toDouble
    val all = nodes(qe.executedPlan).toSeq
    val scans = all.collect { case s: FileSourceScanExec => s }
    def metric(m: Map[String, org.apache.spark.sql.execution.metric.SQLMetric], k: String) =
      m.get(k).map(_.value).getOrElse(0L)
    // a cached scan shows up again in every later plan that reads the
    // cache; count each scan's files once, by its metric's id
    val fresh = scans.filter(s => s.metrics.get("numFiles").forall(m => seenScans.add(m.id)))
    val writes = all.collect { case w: DataWritingCommandExec => w.cmd.metrics }
    qes.synchronized(qes += QeRecord(start, start + durationNs / 1e6, planS,
      scans.exists(_.relation.fileFormat.isInstanceOf[JsonFileFormat]),
      writes.nonEmpty,
      fresh.map(s => metric(s.metrics, "numFiles")).sum,
      fresh.map(s => metric(s.metrics, "filesSize")).sum,
      fresh.map(s => metric(s.metrics, "numOutputRows")).sum,
      writes.map(metric(_, "numFiles")).sum,
      writes.map(metric(_, "numOutputBytes")).sum))
  }
}

/** The program's state store with every control-plane call timed as a
  * span of the running [[Trace]]. */
class TimedStateStore(url: String, trace: Trace) extends JdbcStateStore(url) {
  var keysClaimed = 0L
  override def claim(runId: String, limit: Int, district: Option[String]): Seq[String] =
    trace.span("state.claim") {
      val k = super.claim(runId, limit, district); keysClaimed += k.size; k
    }
  override def ack(runId: String): Int = trace.span("state.ack")(super.ack(runId))
  override def release(runId: String): Int = trace.span("state.release")(super.release(runId))
  override def loadSchema(dataset: String) = trace.span("state.schema")(super.loadSchema(dataset))
  override def schemaUpdatedAt(dataset: String): Option[Timestamp] =
    trace.span("state.schema")(super.schemaUpdatedAt(dataset))
  override def mergeSchema(dataset: String, observed: org.apache.spark.sql.types.StructType) =
    trace.span("state.schema")(super.mergeSchema(dataset, observed))
}
