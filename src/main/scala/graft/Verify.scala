package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated query filter for local iteration
    // (driver never sets it → full dump).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(
          s"[verify] unknown query name(s) in SPARK_GRAFT_ONLY: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Release exactly what the query builders pinned (tracked handles
      // + checkpoint blocks), then clear anything else cached — per-query
      // isolation. The persistent-RDD sweep backstops any untracked
      // localCheckpoint (see Bench/Caches: r07's 120-query accumulation).
      graft.core.Caches.releaseAll()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Provenance sidecar (r9 ADVICE: CORRECTNESS_r09 was byte-identical to
    // r08 with no way to tell a genuine re-run from a copied file). Record
    // when this dump ran, against which code and which testdata bytes, so
    // "zero drift" claims are auditable: identical results + different
    // input fingerprints = real re-verification; identical fingerprints =
    // same inputs, as expected. Input fingerprint = per-table (bytes,
    // latest mtime) over every parquet part file — cheap metadata reads,
    // no data scan. Git HEAD comes from plain file reads (no exec).
    def tableFp(t: java.io.File): (Long, Long) = {
      // testdata tables are flat .parquet files; handle a part-file
      // directory layout too so the tool works on derived SF dirs.
      val parts = if (t.isFile) Array(t)
        else Option(t.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && !f.getName.startsWith("."))
      (parts.map(_.length).sum, if (parts.isEmpty) 0L else parts.map(_.lastModified / 1000).max)
    }
    val tables = Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map { t => val (b, m) = tableFp(t); s"${q(t.getName)}:[$b,$m]" }
    val gitHead = try {
      val head = Files.readString(Paths.get("/root/repo/.git/HEAD")).trim
      if (head.startsWith("ref: "))
        Files.readString(Paths.get("/root/repo/.git/" + head.drop(5))).trim.take(12)
      else head.take(12)
    } catch { case _: Throwable => "unknown" }
    val prov = s"""{"ran_at":${q(java.time.Instant.now.toString)},""" +
      s""""git_head":${q(gitHead)},"sf_dir":${q(sfDir)},""" +
      s""""n_queries":${selected.size},"spark":${q(spark.version)},""" +
      s""""testdata":${tables.mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get(s"$outDir/provenance.json"), prov)
    spark.stop()
  }
}
