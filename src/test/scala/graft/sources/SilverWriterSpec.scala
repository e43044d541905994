package graft.sources

import java.io.File

import org.apache.spark.sql.functions._

import graft.{Fixtures, SparkSpec}

/** The silver append's layout: with no exchange before the write, each
  * scan task writes its own rows, one file per partition it touches. */
class SilverWriterSpec extends SparkSpec {

  test("a batch lands every row once in its partition, at most one file per (scan task, partition)") {
    val dir = tmpDir("sw-bronze")
    val target = tmpDir("sw-silver")
    // 15:00–16:57 UTC is 23:00 on Jan 1 to 00:57 on Jan 2 in WITA (UTC+8)
    val hour15 = Fixtures.Base + 15 * 3600
    val files = (0 until 3).map { d =>
      Fixtures.writeGz(s"$dir/site/dev$d/2024010115/2024010115.txt.gz",
        (0 until 40).map(i => Fixtures.row(hour15 + 180 * i, s"U$d", s"D$d", 40.0 + i)) ++ Seq(
          // no usable heartbeat: the row lands in the null-hiveperiod partition
          s"""{"heartbeat": null, "unitno": "U$d", "deviceid": "D$d", "gpsspeed": 1.0}""",
          s"""{"unitno": "U$d", "deviceid": "D$d", "gpsspeed": 2.0}"""))
    }
    val bronze = BronzeReader.read(spark, files)
    val scanTasks = bronze.rdd.getNumPartitions
    assert(scanTasks > 1, "the layout rule needs more than one scan task")

    var rows = 0L
    val jobs = countJobs { rows = SilverWriter.write(SilverWriter.enrich(bronze, "DISTRICTB"), target) }
    assert(rows == 3 * 42)
    assert(jobs == 1, s"$jobs Spark jobs: the write has no exchange, so no map stage of its own")

    val silver = spark.read.parquet(target)
    val perLeaf = silver
      .withColumn("dev", regexp_extract(col("source_file"), "/(dev\\d)/", 1))
      .groupBy("dev", "hiveperiod").count().collect()
      .map(r => (r.getString(0), Option(r.getDate(1)).map(_.toString)) -> r.getLong(2)).toMap
    assert(perLeaf == (0 until 3).flatMap(d => Seq(
      (s"dev$d", Some("2024-01-01")) -> 20L,
      (s"dev$d", Some("2024-01-02")) -> 20L,
      (s"dev$d", None) -> 2L)).toMap)
    // every dated row sits in the partition of its own WITA date, once
    assert(silver.where(col("hiveperiod") =!= to_date(col("datetime_wita"))).count() == 0)
    assert(silver.groupBy("source_file", "heartbeat").count().where("count > 1 AND heartbeat IS NOT NULL")
      .count() == 0)

    val leaves = Seq("2024-01-01", "2024-01-02", "__HIVE_DEFAULT_PARTITION__")
      .map(h => new File(s"$target/hiveperiod=$h/dstrct_code=DISTRICTB"))
    leaves.foreach { leaf =>
      val tasks = leaf.list().toSeq.filter(_.startsWith("part-")).map(_.split("-")(1).toInt)
      assert(tasks.nonEmpty, s"$leaf is empty")
      assert(tasks.distinct.size == tasks.size, s"two files of one task in $leaf: $tasks")
      assert(tasks.forall(_ < scanTasks), s"$leaf was written by a task after an exchange: $tasks")
    }
  }
}
