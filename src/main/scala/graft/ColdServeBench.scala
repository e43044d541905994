package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cold-session serve economics of the verdict store (VERDICT r18
  * next-1's "done" measurement): does the O(changed-files) freshness
  * property survive a PROCESS RESTART once [[graft.sources.FileDigests]]
  * persists its per-file partials?
  *
  * Bench's xvd entry prices the serve in the JVM that just built the
  * store — its digest cache is warm by construction. The failure mode
  * the r18 sidecar closes is the morning-after shape: a NEW driver
  * process serves a report against an unchanged corpus and, with a
  * JVM-local cache, re-pays one full corpus scan per (plan, store)
  * before answering. This bench runs that shape for real, in two
  * separate JVM invocations over one fixed on-disk store:
  *
  *  - `build`: construct the VerdictStore + sourced MediaHashStore at
  *    a FIXED work dir (not Bench's per-pid scratch), point
  *    `FileDigests.DirKey` at a sidecar under the same dir, and run
  *    one untimed serve so every freshness partial is computed once
  *    and persisted.
  *  - `serve`: a FRESH JVM sets only the three session confs and times
  *    q198's store-served three-eye report. The printed `scanned`
  *    counter is the claim: 0 files scanned means every digest of the
  *    offered corpus composed from the sidecar — the serve never read
  *    a corpus byte to prove freshness, in a process that had never
  *    seen the corpus.
  *
  * Usage:
  * {{{
  *   SPARK_GRAFT_CPUS=32 runMain graft.ColdServeBench <sfDir> <workDir> build
  *   SPARK_GRAFT_CPUS=32 runMain graft.ColdServeBench <sfDir> <workDir> serve
  * }}}
  * Each prints one JSON line (load sentinel included).
  */
object ColdServeBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ColdServeBench <sfDir> <workDir> build|serve")
    val Array(sfDir, workDir, phase) = args.take(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val laPre = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.sources.{FileDigests, MediaHashStore, VerdictStore}

    val dirVd = s"$workDir/verdictstore"
    val dirVdM = s"$workDir/verdictstore_media"
    val dirDg = s"$workDir/digestcache"
    spark.conf.set(FileDigests.DirKey, dirDg)
    spark.conf.set(VerdictStore.DirKey, dirVd)
    spark.conf.set(MediaHashStore.DirKey, dirVdM)

    def timedServe(): Double = {
      val t0 = System.nanoTime()
      graft.operators.MediaQueries.q198ThreeEyeDecon(spark, sfDir)
        .queryExecution.toRdd.count(): Unit
      val dt = (System.nanoTime() - t0) / 1e9
      graft.core.Caches.releaseAll(); spark.catalog.clearCache()
      dt
    }

    val out: String = phase match {
      case "build" =>
        val d = graft.core.Tables(spark, sfDir, "documents")
        val e = graft.core.Tables(spark, sfDir, "embeddings")
        // The EXPOSED split relations, exactly Bench's xvd setup — a
        // re-derived predicate copy would digest-mismatch and demote
        // every serve to inline.
        def hashedOf(part: DataFrame): DataFrame = {
          import spark.implicits._
          graft.multimodal.MediaDedup.hashImages(
            part.as[(Long, String)]
              .map { case (id, t) => (id, graft.multimodal.MediaDedup.renderImage(t)) }
              .toDF("media_id", "content"))
        }
        val train = VerdictStore.Corpus(
          d.filter(col("doc_id") % 10 =!= 0),
          e.filter(col("vec_id") % 10 =!= 0),
          hashedOf(graft.operators.MediaQueries.deconTrainDocs(spark, sfDir)))
        val suite = VerdictStore.Corpus(
          d.filter(col("doc_id") % 10 === 0),
          e.filter(col("vec_id") % 10 === 0),
          hashedOf(graft.operators.MediaQueries.deconEvalDocs(spark, sfDir)))
        val t0 = System.nanoTime()
        VerdictStore.build(train, Seq("all" -> suite), dirVd)
        MediaHashStore.buildSourced(
          graft.operators.MediaQueries.deconTrainDocs(spark, sfDir),
          train.img, dirVdM)
        val buildS = (System.nanoTime() - t0) / 1e9
        graft.core.Caches.releaseAll(); spark.catalog.clearCache()
        // One untimed serve primes AND persists every freshness partial.
        val warmS = timedServe()
        s""""phase":"build","build_s":${f(buildS)},"warm_serve_s":${f(warmS)}"""
      case "serve" =>
        val serve1 = timedServe()
        val c1 = FileDigests.counters
        val serve2 = timedServe()
        val serve3 = timedServe()
        // all three counters snapshot after serve1 — one coherent window
        s""""phase":"serve","serve1_s":${f(serve1)},"serve2_s":${f(serve2)},""" +
          s""""serve3_s":${f(serve3)},"scanned":${c1("scanned")},""" +
          s""""fullscans":${c1("full")},"composed":${c1("composed")}"""
      case other => sys.error(s"unknown phase '$other' (build|serve)")
    }
    val laPost = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    println(s"""{"bench":"cold_serve",$out,"sf":"${new java.io.File(sfDir).getName}","la":[${f(laPre)},${f(laPost)}],"cpus":$cpus}""")
    spark.stop()
  }

  private def f(v: Double): String =
    "%.2f".formatLocal(java.util.Locale.ROOT, v)
}
