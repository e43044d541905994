package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.CoreQueries

/** The testdata's `events.ts` has shipped in BOTH parquet encodings over
  * the project's life: TIMESTAMP(NANOS) (which `nanosAsLong=true`
  * surfaces to the reader as a raw `bigint` of nanoseconds) and native
  * TIMESTAMP(MICROS) (read as `timestamp_ntz`). [[Tables.normalizeNanos]]
  * is the seam that makes both land as identical µs-truncated
  * `timestamp_ntz` — this spec pins that contract with an in-repo
  * ns-encoded fixture so the next testdata regeneration can't silently
  * break one of the two paths (round 9 lost a plan pin exactly this way).
  */
class NanosEncodingSpec extends SparkSpec {

  private def writeNanosFixture(): String = {
    val dir = tmpDir("nanos_fixture")
    NanosEncodingSpec.nanosEvents(spark).write.parquet(s"$dir/events.parquet")
    dir
  }

  test("long-nanos ts normalizes to µs-truncated timestamp_ntz on read") {
    val dir = writeNanosFixture()
    val events = Tables(spark, dir, "events")
    assert(events.schema("ts").dataType.typeName == "timestamp_ntz",
      s"ns-encoded ts must surface as timestamp_ntz, got ${events.schema("ts").dataType}")
    val first = events.where(col("event_id") === 0)
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .head().getString(0)
    assert(first == "2024-01-01 12:00:00.000000",
      s"trailing nanos must truncate, not round: $first")
  }

  test("q01 runs unchanged over the ns-encoded fixture (both eras, one code path)") {
    val dir = writeNanosFixture()
    val out = CoreQueries.q01ScanFilter(spark, dir)
    assert(out.count() == 50, "all 50 'error' rows fall on 2024-01-01")
    assert(out.schema("ts").dataType.typeName == "timestamp_ntz")
  }

  test("native-µs ts (current testdata) passes through as timestamp_ntz untouched") {
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
    assert(events.schema("ts").dataType.typeName == "timestamp_ntz",
      s"µs-era ts must read as timestamp_ntz, got ${events.schema("ts").dataType}")
  }
}

object NanosEncodingSpec {

  /** An events-shaped table whose `ts` is a raw long of NANOS —
    * byte-for-byte what a TIMESTAMP(NANOS) parquet column looks like to
    * the engine under `spark.sql.legacy.parquet.nanosAsLong=true`.
    * Row `i` is at 2024-01-01 12:00:00 + `i` seconds, plus 123 ns. */
  def nanosEvents(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val baseUs = java.time.LocalDateTime
      .parse("2024-01-01T12:00:00")
      .toInstant(java.time.ZoneOffset.UTC)
      .toEpochMilli * 1000L
    val rows = (0L until 100L).map { i =>
      // 123 trailing nanos: truncation (not rounding) must drop them.
      (i, (baseUs + i * 1000000L) * 1000L + 123L,
        i % 7, if (i % 2 == 0) "error" else "view", i * 0.5, s"p$i")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(2)
  }
}
