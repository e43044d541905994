package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Day-partitioned store for the substring-dedup char-winnow
  * fingerprint index, on the [[PartitionedStore]] contract.
  *
  * q152's daily probe reads a history fingerprint index
  * (`SubstringDedup.charWinnowOf`: (doc_id, fp), ~1/FpW the density of
  * the corpus's character positions, 8-byte values). A history that
  * grows a batch per day and shrinks under takedown would otherwise be
  * re-winnowed whole for either.
  *
  * {{{
  *   <dir>/fps/day=N/   (doc_id, fp)         winnowed fingerprints
  * }}}
  * The digest is [[SignatureStore.digestOf]] over the source documents.
  */
object WinnowStore {

  /** Session conf: root dir of the store. Unset (default) = no store. */
  val DirKey = "spark.graft.winnowstore.dir"

  /** Session conf: skip the digest freshness scan and trust the store. */
  val TrustKey = "spark.graft.winnowstore.trust"

  private val layout = new PartitionedStore("winnowstore", "day", Seq("fps"), Seq("docs"))

  /** Build a fresh store at `dir` from the full history (replacing any
    * prior content), recorded as `day`. */
  def build(docRel: DataFrame, dir: String, day: Int = 0): Unit = {
    StoreLease.replaceContents(docRel.sparkSession, dir)
    advanceDay(docRel, dir, day)
  }

  /** Append (or replace) one ingest day: winnow ONLY the batch. */
  def advanceDay(docBatch: DataFrame, dir: String, day: Int): Unit =
    layout.advance(docBatch.sparkSession, dir, day.toString) {
      // The batch is evaluated twice (the fps write, then the digest).
      // Pin it across both so a non-deterministic batch plan (a sampled
      // or raced source) cannot persist a digest that doesn't cover the
      // rows the fps were winnowed from — that state is permanently
      // "stale" with no recovery besides a rebuild. Unlike
      // MediaHashStore the digest can't be recomputed from the written
      // partition (it covers the SOURCE text; the fps are a lossy
      // derivation).
      val pinned = docBatch.persist()
      try {
        layout.write(graft.operators.SubstringDedup.charWinnowOf(pinned),
          dir, "fps", day.toString)
        Seq(SignatureStore.digestOfPinned(pinned))
      } finally pinned.unpersist(blocking = false): Unit
    }

  /** Retire one day (takedown/expiry). */
  def retireDay(spark: SparkSession, dir: String, day: Int): Unit =
    layout.retire(spark, dir, day.toString)

  /** The stored fingerprint index (doc_id, fp) for this history, IF
    * configured and fresh; None otherwise — callers fall back to
    * `charWinnowOf(history)` directly. */
  def openFresh(histRel: DataFrame): Option[DataFrame] = {
    val spark = histRel.sparkSession
    layout.openFresh(spark, DirKey, TrustKey, SignatureStore.digestOf(histRel)) { (dir, days) =>
      if (days.isEmpty) {
        import spark.implicits._
        Seq.empty[(Long, Long)].toDF("doc_id", "fp")
      } else layout.live(spark, dir, "fps", days).select("doc_id", "fp")
    }
  }
}
