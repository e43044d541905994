package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1): runs one or more
  * declared queries under the Bench session shape and prints a per-JOB
  * wall breakdown (description, duration, task count) plus per-stage
  * shuffle bytes, so a multi-second query can be attributed to its
  * constituent actions — planning gaps show up as wall time no job
  * covers. Timed exactly like Bench (`toRdd.count()` forcing), warmup
  * run first so JIT/codegen lands outside the measured shot.
  *
  * Run: `sbt "runMain graft.ProfileQuery q149_substring_spans [q150...]"`
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val names = args.toSeq
    require(names.nonEmpty, "usage: ProfileQuery <queryName>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class JobRow(id: Int, desc: String, start: Long, var end: Long = -1,
      var tasks: Int = 0, var shuffleRead: Long = 0, var shuffleWrite: Long = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(e.jobId, JobRow(e.jobId, desc.take(90), e.time))
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        Option(stageToJob.get(si.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
          r.tasks += si.numTasks
          r.shuffleRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
        if (sys.env.contains("GRAFT_PROFILE_STAGES")) {
          val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
          if (ms > 300)
            println(f"    stage ${si.stageId}%4d ${ms / 1000.0}%6.2fs tasks=${si.numTasks}%4d ${si.name.take(120)}%s")
        }
      }
    })

    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.core.Caches.releaseAll()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      dt
    }

    // Warmup: the suite's table families + one untimed run of each target.
    try {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/documents.parquet").groupBy("source").count().collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count().collect()
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(aggregate(col("embedding").cast("array<double>"), lit(0.0),
          (a, x) => a + x * x).as("n2")).agg(sum("n2")).collect()
    } catch { case e: Throwable => System.err.println(s"warmup: ${e.getMessage}") }
    names.foreach { n => runOnce(n, SparkEntry.queries(n)) }

    names.foreach { name =>
      jobs.clear(); stageToJob.clear()
      spark.sparkContext.setJobDescription(s"profile:$name")
      val wall0 = System.currentTimeMillis()
      val dt = runOnce(name, SparkEntry.queries(name))
      val rows = jobs.values.toArray(Array.empty[JobRow]).sortBy(_.id)
      println(f"\n== $name%s wall=${dt}%.2fs jobs=${rows.length}%d ==")
      var covered = 0L
      var prevEnd = wall0
      rows.foreach { r =>
        val gap = r.start - prevEnd
        if (gap > 50) println(f"   (driver gap ${gap / 1000.0}%.2fs)")
        val d = if (r.end > 0) r.end - r.start else -1
        covered += math.max(0, d)
        println(f"  job ${r.id}%4d ${d / 1000.0}%6.2fs tasks=${r.tasks}%4d " +
          f"sRead=${r.shuffleRead / 1024}%8dK sWrite=${r.shuffleWrite / 1024}%8dK ${r.desc}%s")
        prevEnd = math.max(prevEnd, if (r.end > 0) r.end else r.start)
      }
      println(f"  covered by jobs: ${covered / 1000.0}%.2fs of ${dt}%.2fs " +
        f"(uncovered = planning/driver work)")
    }
    spark.stop()
  }
}
