package graft.operators

import graft.core.{Caches, GraftSession, Tables}

/** Reproduction harness for SCALE.md's trained-codebook economics: the
  * k-means training job ([[SimilarityQueries.scaledCodebookTrained]],
  * spherical Lloyd's at K = ⌈√N⌉) versus the first-K convention it
  * replaces, and the store builds that freeze each. Training is a
  * per-RETRAIN cost (a new index generation), never per-probe — these
  * numbers size that event, not any query.
  *
  *   sbt "runMain graft.operators.CodebookMeasure /root/testdata/sf0.1"
  */
object CodebookMeasure {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = Tables(spark, sfDir, "embeddings")
    val n = e.count() // warm scan + the sizing input
    val k = SimilarityQueries.scaledK(e)

    def time[A](label: String)(body: => A): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"CODEBOOK $label n=$n k=$k t=${(System.nanoTime() - t0) / 1e9}%.2f")
      Caches.releaseAll(); spark.catalog.clearCache()
    }
    time("firstK_scaled") {
      SimilarityQueries.scaledCodebook(e, k)
    }
    time("trained_scaled_3rounds") {
      SimilarityQueries.scaledCodebookTrained(e, k)
    }
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_cbm_${ProcessHandle.current.pid}"
    time("buildScaled_firstK") {
      graft.sources.VectorIndexStore.buildScaled(e, e, s"$dir/f", trained = false)
    }
    time("buildScaled_trained") {
      graft.sources.VectorIndexStore.buildScaled(e, e, s"$dir/t", trained = true)
    }
    spark.stop()
  }
}
