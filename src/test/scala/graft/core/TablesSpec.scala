package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec
import graft.operators.CoreQueries

/** [[Tables]] infers each table's parquet schema once per file version:
  * footer inference is a Spark job, and it used to run in the build of
  * every declared query, once per table it reads. */
class TablesSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"

  private def tsText(dir: String, id: Long): String =
    Tables(spark, dir, "events").where(col("event_id") === id)
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .head().getString(0)

  test("a second Tables call on an unchanged table starts no Spark job") {
    Tables(spark, Dir, "lineitem")
    assert(countJobs { Tables(spark, Dir, "lineitem"); () } == 0)
  }

  test("a warm q10 build starts no Spark job (one footer read per table before)") {
    CoreQueries.q10JoinStar(spark, Dir)
    assert(countJobs { CoreQueries.q10JoinStar(spark, Dir); () } == 0)
  }

  test("a table rewritten in place with another ts encoding is inferred again") {
    val dir = tmpDir("tables_rewrite")
    val path = s"$dir/events.parquet"
    // µs era: the ns fixture, normalized, written back as timestamp_ntz
    val nsDir = tmpDir("tables_ns")
    NanosEncodingSpec.nanosEvents(spark).write.parquet(s"$nsDir/events.parquet")
    Tables(spark, nsDir, "events").write.parquet(path)
    assert(Tables(spark, dir, "events").schema("ts").dataType.typeName == "timestamp_ntz")
    assert(tsText(dir, 3) == "2024-01-01 12:00:03.000000")
    // ns era at the same path: the cached µs schema must not be reused
    NanosEncodingSpec.nanosEvents(spark).write.mode("overwrite").parquet(path)
    val events = Tables(spark, dir, "events")
    assert(Tables.schemas.get(path)._2("ts").dataType == LongType,
      "the rewritten footers must be inferred again")
    assert(events.schema("ts").dataType.typeName == "timestamp_ntz")
    assert(tsText(dir, 3) == "2024-01-01 12:00:03.000000")
    assert(events.count() == 100)
    assert(Tables.schemas.keySet.asScala.count(_.startsWith(dir)) == 1,
      "one cache entry per path")
  }
}
