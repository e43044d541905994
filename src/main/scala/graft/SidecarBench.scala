package graft

/** Prices the digest sidecar at the design-point file count (VERDICT
  * r18 next-3): the r18 claims — 1M-entry cap ≈ ~200 MB of driver
  * strings, 48 B/record on disk, load-once per process — were argued
  * from record arithmetic, not measured. This bench synthesizes a
  * sidecar of N records (default 500k ≈ the 100 TB design point's
  * part-file count at one digested plan per file), then measures what
  * the design actually charges:
  *
  *  - `load_s` / `heap_mb`: wall time and driver-heap delta of the
  *    first-load path a fresh JVM's first digest call pays
  *    ([[graft.sources.FileDigests]] `ensureLoaded`), at a file count
  *    BELOW the compaction trigger — pure read + cache fill.
  *  - `compact_s`: the same load with enough append files to trip the
  *    `CompactAt`=64 rewrite — read everything, write one compact
  *    copy, delete the aged originals. This is the worst first-digest
  *    a deployment ever pays; steady state never re-pays it (the
  *    rewrite leaves one file).
  *
  * Records are synthetic (the format is the point — 32 hex chars +
  * two longs, content-addressed keys that never match a real plan), so
  * the bench isolates sidecar mechanics from corpus scans entirely.
  *
  * Usage: `runMain graft.SidecarBench <workDir> [records] [loadFiles]`
  * — prints one JSON line.
  */
object SidecarBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SidecarBench <workDir> [records] [loadFiles]")
    val workDir = args(0)
    val records = args.lift(1).map(_.toInt).getOrElse(500000)
    val loadFiles = args.lift(2).map(_.toInt).getOrElse(60) // < CompactAt: no rewrite
    val compactFiles = 100 // > CompactAt: the rewrite triggers

    val spark = graft.core.GraftSession.builder("local[2]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.sources.FileDigests

    val fs = new org.apache.hadoop.fs.Path(workDir)
      .getFileSystem(spark.sessionState.newHadoopConf())

    /** `n` synthetic records spread over `files` append files, aged
      * past the compaction grace window so a rewrite may collect them
      * (fresh files are deliberately spared as possible open appends). */
    def writeSidecar(dir: String, n: Int, files: Int): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      fs.mkdirs(p): Unit
      val per = n / files
      var id = 0L
      (0 until files).foreach { i =>
        val f = new org.apache.hadoop.fs.Path(p, f"digests-synth-$i%05d.bin")
        val out = new java.io.DataOutputStream(
          new java.io.BufferedOutputStream(fs.create(f, false), 1 << 16))
        val cnt = if (i == files - 1) n - per * (files - 1) else per
        (0 until cnt).foreach { _ =>
          out.write(f"$id%032x".getBytes("US-ASCII")) // 32-hex synthetic key
          out.writeLong(id); out.writeLong(id ^ 0x9e3779b97f4a7c15L)
          id += 1
        }
        out.close()
        fs.setTimes(f, System.currentTimeMillis() - 11L * 60 * 1000, -1)
      }
    }

    def usedHeap(): Long = {
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
      Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
    }

    // ---- phase 1: pure load at the design-point record count
    val dirLoad = s"$workDir/sidecar_load"
    writeSidecar(dirLoad, records, loadFiles)
    FileDigests.clearForTest()
    val heap0 = usedHeap()
    val t0 = System.nanoTime()
    FileDigests.benchLoad(spark, dirLoad)
    val loadS = (System.nanoTime() - t0) / 1e9
    val heapMb = (usedHeap() - heap0) / (1024.0 * 1024.0)

    // ---- phase 2: load + compaction rewrite at the same record count
    val dirCompact = s"$workDir/sidecar_compact"
    writeSidecar(dirCompact, records, compactFiles)
    FileDigests.clearForTest()
    val t1 = System.nanoTime()
    FileDigests.benchLoad(spark, dirCompact)
    val compactS = (System.nanoTime() - t1) / 1e9
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(dirCompact))
      .count(_.getPath.getName.endsWith(".bin"))

    def f(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    println(s"""{"bench":"sidecar","records":$records,"load_files":$loadFiles,""" +
      s""""load_s":${f(loadS)},"heap_mb":${f(heapMb)},""" +
      s""""compact_files":$compactFiles,"compact_s":${f(compactS)},""" +
      s""""files_after_compact":$after}""")
    spark.stop()
  }
}
