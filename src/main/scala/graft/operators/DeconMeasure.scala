package graft.operators

import org.apache.spark.sql.functions._

import graft.core.{Caches, GraftSession, Tables}

/** Reproduction harness for SCALE.md's decon-matrix scale points: the
  * attribution matrix's cost is contamination volume × benchmarks
  * sharing each span, so its scaling depends on the EVAL side's shape,
  * not just the corpus size. Times the matrix at the declared query's
  * saturated fixture split (eval = 10%% of the corpus — the worst
  * case, which the 100×-replicated sf10 fixture inflates further) and
  * at the realistic benchmark-sized split (eval = 0.1%%).
  *
  *   sbt "runMain graft.operators.DeconMeasure /root/testdata/sf0.1"
  */
object DeconMeasure {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_ARM_ONLY").map(_.split(",").toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = Tables(spark, sfDir, "documents")
    d.count() // warm scan

    def time(label: String, evalMod: Int): Unit = {
      if (!only.forall(_.exists(label.contains))) return
      val t0 = System.nanoTime()
      val n = SubstringDedup.deconMatrixOn(
        d.filter(col("doc_id") % evalMod =!= 0),
        d.filter(col("doc_id") % evalMod === 0)).count()
      println(f"DECON $label rows=$n t=${(System.nanoTime() - t0) / 1e9}%.2f")
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
    time("matrix_sat_10pct", 10)
    time("matrix_bench_0.1pct", 1000)

    // q187's capped face at the same splits — the bounded matrix must
    // track q179 where the cap never binds and stay bounded where the
    // saturated fixture's replication makes q179 blow up.
    def timeCapped(label: String, evalMod: Int): Unit = {
      if (!only.forall(_.exists(label.contains))) return
      val t0 = System.nanoTime()
      val n = SubstringDedup.deconMatrixCappedOn(
        d.filter(col("doc_id") % evalMod =!= 0),
        d.filter(col("doc_id") % evalMod === 0),
        SubstringDedup.MatrixEvalFanoutCap).count()
      println(f"DECON $label rows=$n trunc=${SubstringDedup.lastMatrixTruncated.get()} " +
        f"t=${(System.nanoTime() - t0) / 1e9}%.2f")
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
    timeCapped("capped_sat_10pct", 10)
    timeCapped("capped_bench_0.1pct", 1000)

    // q189's two arms, each FORCED in each regime, plus the picker's
    // own dispatch — reproduces the SCALE.md decon-arm table.
    //  - sat: the daily split (fresh 10%, suite 10%) on this
    //    duplicate-saturated fixture — the batch matches most of the
    //    suite's mass;
    //  - sliver: a tiny batch (0.1%) against a LARGE suite (50% of the
    //    corpus) — the matched sliver is a small fraction.
    def timeArmOn(label: String, fresh: org.apache.spark.sql.DataFrame,
        ev: org.apache.spark.sql.DataFrame, crossover: Double): Unit = {
      if (!only.forall(_.exists(label.contains))) return
      val dirD = s"${System.getProperty("java.io.tmpdir")}/graft_deconarm_${ProcessHandle.current.pid}"
      graft.sources.DeconStore.build(ev, dirD)
      Caches.releaseAll(); spark.catalog.clearCache()
      spark.conf.set(graft.sources.DeconStore.DirKey, dirD)
      try {
        val t0 = System.nanoTime()
        val n = SubstringDedup.deconProbeOrRecompute(fresh, ev, crossover).count()
        val (arm, ratio) = SubstringDedup.lastDeconArm.get()
        println(f"DECON $label rows=$n arm=$arm ratio=$ratio%.3f " +
          f"t=${(System.nanoTime() - t0) / 1e9}%.2f")
      } finally {
        spark.conf.unset(graft.sources.DeconStore.DirKey)
        Caches.releaseAll(); spark.catalog.clearCache()
      }
    }
    // The modulus-split face delegates to the explicit-relation face —
    // they differ only in how (fresh, ev) are derived (ADVICE r13).
    def timeArm(label: String, freshMod: (Int, Int), evalMod: (Int, Int),
        crossover: Double): Unit =
      timeArmOn(label, d.filter(col("doc_id") % freshMod._1 === freshMod._2),
        d.filter(col("doc_id") % evalMod._1 === evalMod._2), crossover)
    for ((regime, fm, em) <- Seq(
        ("daily", (10, 1), (10, 0)),    // the q175/q189 declared split
        ("backfill", (2, 1), (10, 0)))) { // half-corpus batch vs the suite
      timeArm(s"arm_${regime}_store", fm, em, crossover = -1.0) // force store
      timeArm(s"arm_${regime}_recompute", fm, em, crossover = 2.0) // force recompute
      timeArm(s"arm_${regime}_auto", fm, em, SubstringDedup.DeconEvalRatio)
    }
    // recrawl: the batch re-ingests verbatim copies of the suite itself
    // (benchmarks get crawled) — matched mass ≡ suite mass, the store
    // arm's home regime.
    val ev10 = d.filter(col("doc_id") % 10 === 0)
    val recrawl = ev10.withColumn("doc_id", col("doc_id") + 100000000L)
    timeArmOn("arm_recrawl_store", recrawl, ev10, crossover = -1.0)
    timeArmOn("arm_recrawl_recompute", recrawl, ev10, crossover = 2.0)
    timeArmOn("arm_recrawl_auto", recrawl, ev10, SubstringDedup.DeconEvalRatio)
    spark.stop()
  }
}
