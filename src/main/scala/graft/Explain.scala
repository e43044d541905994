package graft

import java.nio.file.{Files, Paths}

/** Physical-plan audit: dumps `explain(formatted)` for every declared
  * query so scan pushdown (`PushedFilters`, `ReadSchema`), broadcast
  * choices, and whole-stage-codegen coverage can be reviewed per round.
  *
  * Run: `sbt "runMain graft.Explain /root/testdata/sf0.001 /tmp/plans"`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft_plans")
    val spark = graft.core.GraftSession.builder("local[4]", 4, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
      } catch {
        case e: Throwable => System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    println(s"[explain] plans written to $outDir")
    spark.stop()
  }
}
