package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Caches

/** Distributed connected components by iterative min-label propagation —
  * the missing last step of every near-dup pipeline: pairwise matches
  * (q17/q18/q39) say "A~B, B~C", but training-data dedup must keep ONE
  * doc per transitive cluster {A,B,C}.
  *
  * Two execution paths, chosen by the edge count a bounded collect
  * sees:
  *
  *  - **Small graphs** (≤ `maxDriverEdges`, default 5M pairs ≈ 160 MB):
  *    driver-side union-find with path compression. The edge set of a
  *    dedup graph is the LSH-verified pair list — orders of magnitude
  *    smaller than the corpus (60k docs at sf0.1 yield 256 pairs), and
  *    the distributed loop's per-round scheduling overhead (≈6 stages ×
  *    ~150 ms × O(log d) rounds) dwarfs the actual work. This is the
  *    same adaptive size-the-plan-to-the-data move AQE makes for joins,
  *    applied to the iteration; 5M edges is conservative for any
  *    driver. The corpus itself NEVER lands on the driver — only the
  *    pair list.
  *
  *  - **Large graphs**: each vertex starts labeled with itself; every
  *    round each vertex takes the min of its own and its neighbors'
  *    labels, plus a pointer-jumping hop (adopt the label OF the current
  *    label) so convergence is O(log diameter) rounds, stopping at the
  *    first round nothing changes. The iteration runs ONLY over vertices
  *    that appear in an edge — the corpus-sized set of singleton docs
  *    never enters the loop. Each round is one equi-join + one groupBy
  *    on vertex id over a relation proportional to the number of
  *    near-dup pairs, not the corpus; lineage is cut per round
  *    (checkpointed plan) so the loop's query plan stays O(1) deep. For
  *    graphs with continent-sized components (web link graphs — not
  *    dedup clusters), swap the per-round rule for the
  *    large-star/small-star rounds of Kiveris et al., "Connected
  *    Components in MapReduce and Beyond" (SoCC'14); the driver loop
  *    and join shapes stay the same.
  *
  * Both paths produce identical labels (component minimum), so the
  * choice is invisible to correctness — the q42 oracle and the specs
  * pin both.
  */
object GraphOps {

  /** Labels every vertex incident to an edge with its component's min
    * vertex id. `edges` needs long-typed columns `src`/`dst` (undirected;
    * one direction suffices). Returns (id, lbl).
    *
    * The path is chosen by one bounded collect of at most
    * `maxDriverEdges + 1` edges: an edge list that fits comes back
    * whole and is labelled on the driver; one row more hands the edges
    * to the distributed loop, which re-reads them. A small graph, the
    * dedup case, costs that one collect: no persist and no count. */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 50,
      maxDriverEdges: Long = 5000000L): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val cap = math.min(maxDriverEdges, Int.MaxValue - 1L).toInt
    val head = e.limit(cap + 1).collect()
    if (head.length <= cap) unionFindLocal(e.sparkSession, head)
    else propagateDistributed(e, maxRounds)
  }

  /** Driver union-find with path compression over the collected pair
    * list, relabeled to component minima. O(E α(E)) time. */
  private def unionFindLocal(spark: SparkSession, edges: Array[Row]): DataFrame = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { row =>
      val (s, d) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(s, s)
      parent.getOrElseUpdate(d, d)
      val (rs, rd) = (find(s), find(d))
      if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
    }
    // roots are already component minima: unions always point the larger
    // root at the smaller, so every root is the least id it absorbed
    val labels = parent.keysIterator.map(v => (v, find(v))).toSeq
    spark.createDataFrame(labels).toDF("id", "lbl")
  }

  private def propagateDistributed(e: DataFrame, maxRounds: Int): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    try {
      var labels = Caches.localCheckpointTracked(
        sym.select(col("src").as("id")).distinct()
          .withColumn("lbl", col("id")))
      var round = 0
      var changed = 1L
      while (changed > 0 && round < maxRounds) {
        val nbrMin = sym
          .join(labels.select(col("id").as("dst"), col("lbl")), "dst")
          .groupBy(col("src").as("id")).agg(min("lbl").as("nlbl"))
        // Pointer-jumping hop: also adopt the label OF the current label
        // (always a vertex in `labels` — labels are min ids of incident
        // vertices). Neighbor propagation alone needs diameter rounds; the
        // hop doubles the effective reach each round, so convergence is
        // O(log diameter) and maxRounds=50 covers any real graph instead
        // of failing on a 50+-long near-dup chain.
        val hop = labels.select(col("id"), col("lbl").as("hid"))
          .join(labels.select(col("id").as("hid"), col("lbl").as("hlbl")), "hid")
          .select(col("id"), col("hlbl"))
        // The previous label rides along into the checkpointed output, so
        // the convergence check is a filter over materialized data — not
        // another join that re-shuffles the labels relation every round.
        val next = Caches.localCheckpointTracked(
          labels.join(nbrMin, Seq("id"), "left")
            .join(hop, Seq("id"), "left")
            .select(col("id"), col("lbl").as("prev"),
              least(col("lbl"),
                coalesce(col("nlbl"), col("lbl")),
                coalesce(col("hlbl"), col("lbl"))).as("lbl")))
        changed = next.where(col("lbl") =!= col("prev")).count()
        // round N-1's checkpoint block is dead once `next` materialized
        Caches.releaseCheckpoint(labels)
        labels = next.select("id", "lbl")
        round += 1
      }
      require(changed == 0, s"components did not converge in $maxRounds rounds")
      labels
    // finally, not happy-path only: a mid-loop failure (or the
    // non-convergence require) must still release the edge cache.
    } finally sym.unpersist()
  }
}
