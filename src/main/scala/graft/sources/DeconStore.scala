package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-once / probe-daily store for eval-set decontamination
  * (q172–q175), partitioned BY BENCHMARK — the operational shape: a
  * benchmark suite changes rarely while training batches arrive
  * daily, and when it does change it changes one benchmark at a time
  * (a new eval lands, a deprecated one is dropped). Each benchmark's
  * derived relations are computed once from that benchmark's docs
  * alone and every batch probes the union.
  *
  * One [[PartitionedStore]] partition per benchmark:
  * {{{
  *   <dir>/fps/bench=<name>/    (doc_id, fp)  winnow fingerprints
  *   <dir>/grams/bench=<name>/  (g)      distinct RAW K-char grams
  * }}}
  *
  * Raw grams (not hashes) are stored deliberately: the eval side is
  * benchmark-sized (MBs against TBs of train), so 40 bytes/gram is
  * affordable, and raw keys keep the probe inside the DuckDB oracle's
  * exactness contract (q175 is oracle-green through this store); a
  * deployment that wants 8-byte keys hashes the stored grams at read
  * time — an eval-sized map, not a re-gram of anything.
  *
  * Relations are distinct WITHIN a benchmark partition and may repeat
  * ACROSS partitions (two benchmarks can share a gram); the probe
  * distincts its eval side anyway ([[graft.operators.SubstringDedup]]
  * `deconProbeOn`), so the union is exactly the suite's gram/fp set.
  * This is also why retire is sound where a global distinct store
  * could not be: dropping one benchmark's partition cannot delete a
  * gram another live benchmark still contributes.
  *
  * The digest is [[SignatureStore.digestOf]] over each benchmark's
  * eval docs, so [[advanceBenchmark]] never re-reads a prior benchmark
  * and [[retireBenchmark]] never decodes anything.
  */
object DeconStore {

  /** Session conf: root dir of the store. Unset (default) = no store. */
  val DirKey = "spark.graft.deconstore.dir"

  /** Session conf: skip the digest freshness scan and trust the store. */
  val TrustKey = "spark.graft.deconstore.trust"

  private val layout = new PartitionedStore("deconstore", "bench", Seq("fps", "grams"), Seq("docs"))

  /** Build the whole store from the full eval corpus, replacing prior
    * content — the one-shot face (equivalently: advance of a single
    * benchmark named `all` into an empty store). */
  def build(evalRel: DataFrame, dir: String): Unit = {
    StoreLease.replaceContents(evalRel.sparkSession, dir)
    advanceBenchmark("all", evalRel, dir)
  }

  /** Add (or replace) ONE benchmark's partitions from that benchmark's
    * docs alone. The input is pinned across the three derivations so a
    * non-deterministic eval plan cannot tear fps/grams/digest apart. */
  def advanceBenchmark(name: String, benchRel: DataFrame, dir: String): Unit =
    layout.advance(benchRel.sparkSession, dir, name) {
      val pinned = benchRel.persist()
      try {
        // DOC-LEVEL fps (r13): the fp relation keeps its doc_id so the
        // decon arm picker can price the matched eval sliver's char mass
        // from the store alone (SubstringDedup.deconProbeOrRecompute);
        // probe consumers distinct the fp column themselves, so the
        // richer schema costs them nothing but the winnow-density rows.
        layout.write(graft.operators.SubstringDedup.charWinnowOf(pinned)
          .select("doc_id", "fp"), dir, "fps", name)
        layout.write(graft.operators.SubstringDedup.rawGramsOf(pinned)
          .select("g").distinct(), dir, "grams", name)
        Seq(SignatureStore.digestOfPinned(pinned))
      } finally pinned.unpersist(blocking = false): Unit
    }

  /** Drop ONE benchmark's partitions. */
  def retireBenchmark(name: String, spark: SparkSession, dir: String): Unit =
    layout.retire(spark, dir, name)

  /** The stored (fps, grams) union IF configured and the per-benchmark
    * metas combine to this exact eval corpus; None otherwise. A store
    * whose every benchmark was retired serves EMPTY relations against
    * an empty eval corpus. Only live benchmarks are read: orphan
    * fps/grams of a benchmark no longer in the suite would report
    * spans against it — a wrong answer, not a cost. */
  def openFresh(evalRel: DataFrame): Option[(DataFrame, DataFrame)] = {
    val spark = evalRel.sparkSession
    layout.openFresh(spark, DirKey, TrustKey, SignatureStore.digestOf(evalRel)) { (dir, benches) =>
      if (benches.isEmpty) (
        spark.range(0).select(col("id").as("doc_id"), col("id").as("fp")),
        spark.range(0).select(col("id").cast("string").as("g")))
      else (layout.live(spark, dir, "fps", benches).select("doc_id", "fp"),
        layout.live(spark, dir, "grams", benches).select("g"))
    }
  }
}
