package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{AggExprs, CleanExprs}

/** The dashboard query library — the read path the whole lake layout is
  * optimized for (reference §3.3, `streamlit-app.py:104-230`; its
  * partition-pruned scans are the 15min→2s claim in
  * `README-compacterv1.md:52`).
  *
  * All entry points take the silver telemetry DataFrame and return
  * DataFrames; the UI boundary (`collect`/`toPandas`) is the caller's.
  * Partition-key predicates (`hiveperiod`, `dstrct_code`) reach the
  * scan as partition pruning; the narrow projections drive parquet
  * column pruning over the ~179-column schema.
  */
object Dashboard {

  /** Unit-picker DISTINCT scan (reference `streamlit-app.py:55-69`). */
  def unitList(silver: DataFrame, hiveperiod: String, district: String): DataFrame =
    silver
      .where(col("hiveperiod") === hiveperiod && col("dstrct_code") === district)
      .select("dstrct_code", "unitno", "deviceid")
      .distinct()

  /** Partition-pruned telemetry slice with sentinel cleanup and derived
    * quality columns (reference `streamlit-app.py:72-153`). */
  def telemetrySlice(
      silver: DataFrame,
      hiveperiod: String,
      district: String,
      units: Seq[String],
      hourRange: (Int, Int)): DataFrame = {
    val cleaned = Seq("gpsspeed", "VehicleSpeed", "gpsnumsat")
      .foldLeft(silver
        .where(col("hiveperiod") === hiveperiod &&
          col("dstrct_code") === district &&
          col("unitno").isin(units: _*) &&
          hour(col("datetime_wita")).between(hourRange._1, hourRange._2))) {
        (d, c) => d.withColumn(c, CleanExprs.replaceSentinel(col(c)))
      }
    cleaned
      .withColumn("gpsstatus", CleanExprs.gpsStatus(col("gpslat")))
      .withColumn("error_rate", CleanExprs.errorRate(col("gpsspeed"), col("VehicleSpeed")))
      .withColumn("constant", lit(1))
  }

  /** The flagship per-minute deviation aggregation, exactly the
    * reference's `group_by_dynamic` shape incl. string-min
    * any-bad-status-wins semantics (A3/A5, `streamlit-app.py:155-169`).
    *
    * The result is at most minutes × selected units rows, so it is
    * sorted in one partition: a global `orderBy` would range-partition
    * it, which costs a sampling job and an exchange per call. */
  def perMinuteDeviation(slice: DataFrame): DataFrame =
    slice
      .groupBy(
        window(col("datetime_wita"), "1 minute"),
        col("unitno"), col("dstrct_code"), col("hiveperiod"))
      .agg(
        // decAvg, not avg: per-minute numbers must be bit-identical
        // across reruns/partitionings (see AggExprs).
        AggExprs.decAvg(col("gpsspeed")).as("avg_gpsspeed"),
        AggExprs.decAvg(col("VehicleSpeed")).as("avg_vehiclespeed"),
        AggExprs.decAvg(col("error_rate")).as("avg_error_rate"),
        AggExprs.decAvg(col("gpsnumsat")).as("avg_gpsnumsat"),
        AggExprs.decAvg(col("constant")).as("avg_constant"),
        min(col("gpsstatus")).as("gpsstatus"),
        min(col("camfrontstatus")).as("camfrontstatus"),
        min(col("camcabinstatus")).as("camcabinstatus"),
        min(col("speedsource")).as("speedsource"))
      .withColumn("minute", col("window.start"))
      .drop("window")
      .coalesce(1)
      .orderBy("minute", "unitno")
}
