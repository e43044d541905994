package graft.analytics

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

class DashboardSpec extends SparkSpec {
  import spark.implicits._

  private def silver = Seq(
    // (epoch, unit, dev, gpsspeed, VehicleSpeed, gpsnumsat, gpslat, cam, district, date)
    (1704067200L, "LD772", "D1", 40.0, 39.0, 11.0, -2.1, "OK", "DISTRICTB", "2024-01-01"),
    (1704067210L, "LD772", "D1", -9999.0, 40.0, 11.0, -8881.0, "BAD", "DISTRICTB", "2024-01-01"),
    (1704067265L, "LD772", "D1", 44.0, 44.0, 10.0, -2.1, "OK", "DISTRICTB", "2024-01-01"),
    (1704067200L, "PM1582", "D2", 30.0, 29.0, 9.0, -2.2, "OK", "DISTRICTB", "2024-01-01"),
    (1704067200L, "ZZ1", "D3", 1.0, 1.0, 1.0, -2.0, "OK", "DISTRICTG", "2024-01-01"))
    .toDF("epoch", "unitno", "deviceid", "gpsspeed", "VehicleSpeed",
      "gpsnumsat", "gpslat", "camcabinstatus", "dstrct_code", "hiveperiod")
    .withColumn("hiveperiod", col("hiveperiod").cast("date"))
    .withColumn("datetime_wita", timestamp_seconds(col("epoch")))
    .withColumn("camfrontstatus", lit("OK"))
    .withColumn("speedsource", lit("GPS"))

  test("unitList is the distinct picker scoped to one partition") {
    val got = Dashboard.unitList(silver, "2024-01-01", "DISTRICTB")
      .select("unitno").as[String].collect().toSet
    assert(got == Set("LD772", "PM1582"))
  }

  test("telemetrySlice cleans sentinels and derives status columns") {
    val slice = Dashboard.telemetrySlice(silver, "2024-01-01", "DISTRICTB",
      Seq("LD772"), (0, 23))
    val rows = slice.orderBy("datetime_wita")
      .select("gpsspeed", "gpsstatus", "error_rate").collect()
    assert(rows.length == 3)
    assert(rows(1).getDouble(0) == -1.0) // sentinel → -1
    assert(rows(1).getString(1) == "false") // no GPS fix
    assert(rows(0).getDouble(2) == 1.0) // |40-39|
  }

  test("perMinuteDeviation: reference A3 shape with string-min semantics") {
    val slice = Dashboard.telemetrySlice(silver, "2024-01-01", "DISTRICTB",
      Seq("LD772"), (0, 23))
    val agg = Dashboard.perMinuteDeviation(slice).collect()
    assert(agg.length == 2) // two 1-minute buckets
    val m0 = agg(0)
    assert(m0.getAs[Double]("avg_gpsspeed") == (40.0 + -1.0) / 2) // post-cleanup mean
    assert(m0.getAs[String]("camcabinstatus") == "BAD") // lexicographic min = any-bad-wins
    assert(m0.getAs[String]("gpsstatus") == "false")
    assert(agg(1).getAs[Double]("avg_gpsspeed") == 44.0)
  }

  test("perMinuteDeviation sorts in one partition: same rows and order, no range exchange, 2 jobs") {
    // three units whose minutes interleave, stored as partitioned parquet like silver
    val path = tmpDir("dash-silver")
    (0 until 3).map(u => silver.where(col("unitno") === "LD772")
        .withColumn("unitno", lit(s"U$u"))
        .withColumn("datetime_wita", timestamp_seconds(col("epoch") + 40 * u)))
      .reduce(_ union _)
      .write.partitionBy("hiveperiod", "dstrct_code").parquet(path)
    val lake = spark.read.parquet(path)
    def minuteSlice = Dashboard.perMinuteDeviation(Dashboard.telemetrySlice(
      lake, "2024-01-01", "DISTRICTB", Seq("U0", "U1", "U2"), (0, 23)))

    // the same aggregate sorted globally over several partitions
    val expected = minuteSlice.repartition(3).orderBy("minute", "unitno").collect().toSeq
    val df = minuteSlice
    var got: Seq[org.apache.spark.sql.Row] = Nil
    val jobs = countJobs { got = df.collect().toSeq }
    assert(got.size == 6 && got == expected)
    val keys = got.map(r => (r.getAs[java.sql.Timestamp]("minute").getTime, r.getAs[String]("unitno")))
    assert(keys == keys.sorted)

    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString()
      case other => other.toString()
    }
    assert(!plan.toLowerCase.contains("rangepartitioning"), s"a range exchange sorts the slice:\n$plan")
    // the aggregate's shuffle map stage and the sorted result: no sampling job
    assert(jobs == 2, s"$jobs Spark jobs for one slice")
  }
}
