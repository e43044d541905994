package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Connected components (q42's engine) and the binned interval join
  * (q41's engine) on hand-built fixtures where the answers are
  * checkable by eye. */
class GraphRangeSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents labels a chain, a pair, and leaves singletons out") {
    // chain 1-2-3 (transitive), pair 10-11, isolated vertex 99 not in edges
    // — both the union-find fast path and the distributed loop must agree
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L))
      .toDF("src", "dst")
    for (driverMax <- Seq(5000000L, 0L)) {
      val got = GraphOps.connectedComponents(edges, maxDriverEdges = driverMax)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L),
        s"maxDriverEdges=$driverMax")
    }
  }

  test("connectedComponents labels on the driver up to maxDriverEdges, distributed one edge above") {
    // The bounded collect decides: 3 edges fit a bound of 3 and come
    // back as a driver-built relation; a bound of 2 sends the same edges
    // to the distributed loop. Both label identically.
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    def driverBuilt(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst {
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => ()
      }.isDefined
    val atBound = GraphOps.connectedComponents(edges, maxDriverEdges = 3L)
    val above = GraphOps.connectedComponents(edges, maxDriverEdges = 2L)
    assert(driverBuilt(atBound) && !driverBuilt(above))
    assert(atBound.as[(Long, Long)].collect().toMap == above.as[(Long, Long)].collect().toMap)
    graft.core.Caches.releaseAll()
  }

  test("connectedComponents converges on a path far longer than maxRounds") {
    // 120-edge chain through the DISTRIBUTED loop (driver path gated
    // off): one-hop propagation alone would need 120 rounds
    // (> maxRounds = 50); the pointer-jumping hop converges in O(log n).
    val n = 120
    val edges = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val got = GraphOps.connectedComponents(edges, maxDriverEdges = 0L)
      .as[(Long, Long)].collect()
    assert(got.length == n + 1 && got.forall(_._2 == 0L))
  }

  test("connectedComponents union-find handles merging two grown components") {
    // two chains built apart, then bridged by a later edge — exercises
    // the union-by-min root bookkeeping (larger root absorbed)
    val edges = Seq((5L, 6L), (6L, 7L), (1L, 2L), (2L, 3L), (7L, 3L))
      .toDF("src", "dst")
    val got = GraphOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 1L))
  }

  test("intervalJoin rejects overlapping and reserved column names") {
    val l = Seq((1L, 0L)).toDF("id", "lp")
    val r1 = Seq((2L, 5L)).toDF("id", "rp") // shares "id"
    intercept[IllegalArgumentException] {
      RangeJoin.intervalJoin(l, "lp", r1, "rp", 10L)
    }
    val r2 = Seq((5L, 1L)).toDF("rp", "__bin") // reserved temp name
    intercept[IllegalArgumentException] {
      RangeJoin.intervalJoin(l, "lp", r2, "rp", 10L)
    }
  }

  test("intervalJoin finds exactly the pairs within the radius, once each") {
    // radius 10: (0,5) in, (0,10) boundary in, (0,11) out, (100,95) in;
    // lp=20 pairs with 10/11/15/25 — neighbors across bin boundaries.
    val left = Seq((1L, 0L), (2L, 100L), (3L, 20L)).toDF("lid", "lp")
    val right = Seq(5L, 10L, 11L, 95L, 15L, 25L).toDF("rp")
    val got = RangeJoin.intervalJoin(left, "lp", right, "rp", 10L)
      .select("lid", "rp").as[(Long, Long)].collect().sorted
    assert(got.toSeq == Seq((1L, 5L), (1L, 10L), (2L, 95L),
      (3L, 10L), (3L, 11L), (3L, 15L), (3L, 25L)))
  }

  test("q41 plans as a hash equi-join on the bin key — no nested-loop join") {
    val df = RangeJoin.q41RangeJoin(spark, "/root/testdata/sf0.001")
    df.count() // settle AQE
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must bin into an equi-join:\n$p")
  }

  test("q42 clusters agree with a transitive closure of the q17 pairs") {
    val dir = "/root/testdata/sf0.001"
    val pairs = DedupQueries.ngramJaccard(spark, dir)
      .select("d1", "d2").as[(Long, Long)].collect()
    val cc = DedupQueries.dedupClusters(spark, dir)
    val lbl = cc.select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    // every pair ends up in one cluster
    pairs.foreach { case (a, b) => assert(lbl(a) == lbl(b), s"pair ($a,$b) split") }
    // exactly one keeper per cluster, and it is the cluster min
    val docs = lbl.keySet
    assert(lbl.values.toSet.subsetOf(docs))
    lbl.groupBy(_._2).foreach { case (c, m) => assert(m.keys.min == c) }
    val keepers = cc.where(col("is_keeper")).select("doc_id").as[Long].collect().toSet
    assert(keepers == lbl.values.toSet)
  }
}
