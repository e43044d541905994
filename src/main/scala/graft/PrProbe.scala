package graft

/** Per-round probe for the xprt tolerance loop (optimization rounds,
  * guide §1/§7): runs `GraphQueries.pageRankUntil` for a bounded number
  * of rounds under the Bench session shape and prints every stage's
  * wall time, summed executor time and task count — the measurement
  * behind the r20 loop restructure (8 AQE stage-materialization jobs
  * per round → 2; the per-edge decimal cast+sum attributed at 7.5 of a
  * 12 CPU-second round and hoisted to the node level). ProfileQuery
  * covers declared queries; this covers the one bench extra with an
  * internal loop.
  *
  * Run: `sbt "runMain graft.PrProbe [maxRounds]"`
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  *      SPARK_GRAFT_PR_VERBOSE=1 for the loop's own round lines.
  */
object PrProbe {
  def main(args: Array[String]): Unit = {
    val rounds = args.headOption.map(_.toInt).getOrElse(12)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions.col

    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        val ex = si.taskMetrics.executorRunTime
        println(f"    stage ${si.stageId}%4d wall=${ms / 1000.0}%5.2fs " +
          f"execSum=${ex / 1000.0}%5.2fs tasks=${si.numTasks}%3d ${si.name.take(60)}%s")
        ()
      }
    })

    val pairs = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val t0 = System.nanoTime()
    graft.operators.GraphQueries.pageRankUntil(pairs, tol = 1e-7, maxIter = rounds)
      .queryExecution.toRdd.count()
    println(f"pageRankUntil($rounds rounds) total=${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
