package graft.operators
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Caches, GraftSession, Tables}

/** Reproduction harness for SCALE.md's arm-picker table: times q168's
  * incremental probe, q151-style full recompute, and q169's picker in
  * BOTH dispatch regimes — the standard 50/50 split (internally
  * duplicate-saturated, recompute wins) and a sparse 2%% daily batch
  * (mostly synthetic-unique text, ~1/16 real docs, full corpus as
  * history — probe wins). `SPARK_GRAFT_REPEATS` sets the median width,
  * `SPARK_GRAFT_ARM_ONLY` filters labels (substring match).
  *
  *   sbt "runMain graft.operators.ArmMeasure /root/testdata/sf0.1"
  */
object ArmMeasure {
  private val reps = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt
  private val only = sys.env.get("SPARK_GRAFT_ARM_ONLY").map(_.split(",").toSeq)
  def time(label: String)(f: => DataFrame): Unit = {
    if (!only.forall(_.exists(label.contains))) return
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      f.count()
      val dt = (System.nanoTime() - t0) / 1e9
      Caches.releaseAll()
      f.sparkSession.catalog.clearCache()
      dt
    }
    println(f"ARM $label median=${ts.sorted.apply((ts.size - 1) / 2)}%.2f all=${ts.map(t => f"$t%.2f").mkString(",")}")
  }
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = Tables(spark, sfDir, "documents")
    d.count() // warm scan

    // --- standard 50/50 split (the fixture's saturated-within-half regime)
    val fresh = d.filter(col("doc_id") % 2 === 1)
    val hist = d.filter(col("doc_id") % 2 === 0)
    time("std_probe")(SubstringDedup.substringProbeOn(fresh, hist,
      SubstringDedup.charWinnowOf(hist), hashedKeys = true))
    time("std_recompute")(SubstringDedup.q151SubstringFast(spark, sfDir)
      .join(fresh.select("doc_id"), Seq("doc_id"), "left_semi"))
    time("std_picker")(SubstringDedup.probeOrRecompute(fresh, hist))
    println(s"ARM std lastArm=${SubstringDedup.lastArm.get()}")

    // --- sparse daily batch: 2% of corpus size, mostly synthetic-unique
    // text (doc-id-salted md5 chains), ~1 in 16 keeps real text so a few
    // genuine cross-history duplicates exist. History = full corpus.
    val maxId = d.agg(max("doc_id")).head().getLong(0)
    val sparseFresh = d.where(pmod(col("doc_id"), lit(50)) === 1)
      .select((col("doc_id") + maxId + 1).as("doc_id"),
        when(pmod(col("doc_id"), lit(16)) === 3, col("text")).otherwise(
          concat_ws(" ", (0 until 8).map(i => md5(concat(col("doc_id"), lit(i)))): _*))
          .as("text"))
    val dh = d.select("doc_id", "text")
    time("sparse_probe")(SubstringDedup.substringProbeOn(sparseFresh, dh,
      SubstringDedup.charWinnowOf(dh), hashedKeys = true))
    time("sparse_recompute") {
      val corpus = sparseFresh.unionByName(dh)
      SubstringDedup.substringSpansFastOn(corpus)
        .join(sparseFresh.select("doc_id"), Seq("doc_id"), "left_semi")
    }
    time("sparse_picker")(SubstringDedup.probeOrRecompute(sparseFresh, dh))
    println(s"ARM sparse lastArm=${SubstringDedup.lastArm.get()}")
    spark.stop()
  }
}
