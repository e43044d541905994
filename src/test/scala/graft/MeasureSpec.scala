package graft

import Measure.{Scenario, Shot}

/** Every measurement runs in-process at sf0.001 with one repeat: each
  * Bench extra and each scenario reports its named fields, timings are
  * non-negative (a failed shot reports a negative one), and the per-run
  * scratch root is gone afterwards, also when a shot or the body throws. */
class MeasureSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private lazy val sentinel = new Measure.Sentinel

  private def roots(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("graft_measure_")).toSet

  /** Runs `s` and checks its JSON line carries every field it reported
    * and that no scratch root outlives the run. */
  private def measured(s: Scenario, args: String*): Map[String, Any] = {
    val before = roots()
    val fields = Measure.run(spark, sf, s, args, n = 1)
    assert(roots() == before, "the run left its scratch root behind")
    val line = Measure.line(s.name, sf, fields, sentinel)
    assert(line.startsWith(s"""{"scenario":"${s.name}","sf":"sf0.001","""))
    assert(Seq("\"la\":[", "\"lak\":", "\"nc\":", "\"w\":").forall(line.contains))
    fields.foreach { case (k, _) => assert(line.contains(s""""$k":"""), k) }
    fields.toMap
  }

  private def assertNonNegative(f: Map[String, Any], names: String*): Unit = names.foreach { n =>
    f.get(n) match {
      case Some(v: Double) => assert(v >= 0, s"$n = $v in $f")
      case Some(v: Int) => assert(v >= 0, s"$n = $v in $f")
      case Some(v: Long) => assert(v >= 0, s"$n = $v in $f")
      case other => fail(s"$n: $other in $f")
    }
  }

  test("the extras table keeps the round artifacts' 19 codes in stdout order") {
    assert(Bench.Extras.map(_.name) == Seq("xt", "xip", "xss", "xcp", "xmp", "xmd", "xts",
      "xws", "xsp", "xdc", "xda", "xvg", "xvs", "xsk", "xpq", "xpk", "xsd", "xvd", "xprt"))
    assert(Bench.Extras.forall(x => Measure.scenarios(x.name) eq x))
  }

  Bench.Extras.foreach { x =>
    test(s"extra ${x.name} reports its timing") {
      val f = measured(x)
      assert(f.keySet == Set(x.name))
      assertNonNegative(f, x.name)
    }
  }

  test("arm: both regimes time all three faces and report the picker's dispatch") {
    val f = measured(Measure.arm)
    assertNonNegative(f, Seq("std", "sparse").flatMap(r =>
      Seq("probe", "recompute", "picker", "ratio").map(a => s"${r}_$a")): _*)
    assert(Set("probe", "recompute")(f("std_arm").toString))
    assert(Set("probe", "recompute")(f("sparse_arm").toString))
  }

  test("decon: matrices, capped matrices and each arm forced under the store conf") {
    val f = measured(Measure.decon)
    assertNonNegative(f, Seq("sat_10pct", "bench_0.1pct").flatMap(l =>
      Seq(s"matrix_$l", s"capped_$l", s"capped_${l}_trunc")): _*)
    for (r <- Seq("daily", "backfill", "recrawl")) {
      assertNonNegative(f, Seq("store", "recompute", "auto").flatMap(a =>
        Seq(s"arm_${r}_$a", s"arm_${r}_${a}_ratio")): _*)
      // the forced store arm is taken only when its conf reached the shot
      assert(f(s"arm_${r}_store_arm") == "store")
      assert(f(s"arm_${r}_recompute_arm") == "recompute")
    }
  }

  test("codebook: training, both scaled builds and q188 served from each") {
    val f = measured(Measure.codebook)
    assertNonNegative(f, "n", "k", "firstK_scaled", "trained_scaled_3rounds",
      "buildScaled_firstK", "buildScaled_trained", "serve_firstK", "serve_trained")
  }

  test("churn: the maintainer faces, with and without the owner lease, and the served state") {
    val f = measured(Measure.churn)
    assertNonNegative(f, "day_advance", "day_advance_leased", "bench_advance", "bench_retire",
      "served_rows")
  }

  test("sidecar: the load, its heap and the compaction down to one file") {
    val f = measured(Measure.sidecar, "100000", "60")
    assertNonNegative(f, "load_s", "records", "heap_mb", "compact_s")
    assert(f("files_after_compact") == 1)
  }

  test("cold-serve: build, then serve from the persisted digest sidecar") {
    val work = tmpDir("graft_coldserve")
    try {
      assertNonNegative(measured(Measure.coldServe, "build", work), "build_s", "warm_serve_s")
      assertNonNegative(measured(Measure.coldServe, "serve", work), "serve1_s", "serve2_s",
        "serve3_s", "scanned", "fullscans", "composed")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work).getParentFile): Unit
  }

  test("profile: a declared query and an extra, each with its job count and covered time") {
    val f = measured(Measure.profile, "q01_scan_filter", "xss")
    assertNonNegative(f, "q01_scan_filter", "q01_scan_filter_jobs", "q01_scan_filter_covered",
      "xss", "xss_jobs", "xss_covered")
    assert(f("xss_jobs").asInstanceOf[Int] > 0)
  }

  test("a shot that throws reports a negative timing, and the scratch root is still deleted") {
    var root = ""
    val planted = Scenario("planted") { r =>
      root = r.root
      java.nio.file.Files.writeString(java.nio.file.Paths.get(r.dir("store")), "x")
      Seq("boom" -> Shot(() => throw new IllegalStateException("planted")),
        "ok" -> Shot(() => spark.range(3).toDF()))
    }
    val f = measured(planted)
    assert(f("boom").asInstanceOf[Double] < 0)
    assertNonNegative(f, "ok")
    assert(root.nonEmpty && !new java.io.File(root).exists())
  }

  test("a failed setup reports the scenario as -1, and a body that throws still deletes its root") {
    assert(measured(Scenario("broken")(_ => sys.error("planted"))) == Map("broken" -> -1.0))
    var root = ""
    intercept[IllegalStateException](Measure.withRoot { r =>
      root = r
      java.nio.file.Files.writeString(java.nio.file.Paths.get(r, "f"), "x")
      throw new IllegalStateException("planted")
    })
    assert(root.nonEmpty && !new java.io.File(root).exists())
  }
}
