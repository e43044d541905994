package graft.jobs

import java.sql.Timestamp

import graft.{Fixtures, SparkSpec}
import graft.sources.BronzeReader
import graft.state.JdbcStateStore

/** End-to-end bronze→silver pipeline (SURVEY §5 item 4): schema drift,
  * malformed lines, mixed epoch precisions, zero-row file, partition
  * layout, corrupt-row quarantine, and claim-pattern idempotency
  * (second run is a no-op; failed runs are re-claimable), including the
  * crash/replay matrix and the Spark-job budget of a first attempt. */
class CompactorJobSpec extends SparkSpec {

  private def newUrl(): String =
    s"jdbc:derby:memory:db${scala.util.Random.nextInt(1000000)};create=true"

  private def newStore(): JdbcStateStore = {
    val s = new JdbcStateStore(newUrl())
    s.ensureTable()
    s
  }

  /** A store that can crash a run between its silver write and its ack
    * (`crashAck`), and whose `release` can do nothing (`hardKill`), as
    * when the process dies instead of unwinding. Records every
    * [[JdbcStateStore.firstClaim]] answer, i.e. which write path each
    * run took. */
  private class CrashingStore extends JdbcStateStore(newUrl()) {
    var crashAck = false
    var hardKill = false
    var firstClaims = Vector.empty[Boolean]
    ensureTable()
    override def ack(runId: String): Int =
      if (crashAck) throw new IllegalStateException(s"crash before the ack of $runId")
      else super.ack(runId)
    override def release(runId: String): Int = if (hardKill) 0 else super.release(runId)
    override def firstClaim(runId: String): Boolean = {
      val f = super.firstClaim(runId); firstClaims :+= f; f
    }
  }

  /** Silver rows per bronze file, keyed by the path below `site/`. */
  private def silverRowsByFile(target: String): Map[String, Long] =
    spark.read.parquet(target).groupBy("source_file").count().collect()
      .map(r => r.getString(0).split("/site/").last -> r.getLong(1)).toMap

  /** The clean rows of each [[Fixtures.bronzeBatch]] file (dev4 is empty). */
  private val batchRowsByFile = Map(
    "dev1/2024010100/2024010100.txt.gz" -> 4L,
    "dev2/2024010100/2024010100.txt.gz" -> 2L,
    "dev3/2024010100/2024010100.txt.gz" -> 2L)

  private def registerAll(store: JdbcStateStore, keys: Seq[String], from: Long): Unit =
    keys.zipWithIndex.foreach { case (k, i) =>
      store.register(k, "DISTRICTB", new Timestamp(from + i))
    }

  test("bronze→silver end-to-end with drift, corruption, and claim/ack") {
    val dir = tmpDir("bronze")
    val target = tmpDir("silver")
    val (keys, expectClean, expectCorrupt) = Fixtures.bronzeBatch(dir)
    val store = newStore()
    registerAll(store, keys, 1704067200000L)

    val r1 = CompactorJob.run(spark, store, "run-1", "DISTRICTB", target)
    assert(r1.claimed == 4)
    assert(r1.rows == expectClean)
    assert(r1.quarantined == expectCorrupt)

    // partition layout: hiveperiod (WITA date) × dstrct_code
    val silver = spark.read.parquet(target)
    assert(silver.count() == expectClean)
    val parts = silver.select("hiveperiod", "dstrct_code").distinct()
      .collect().map(r => (r.get(0).toString, r.getString(1))).toSet
    assert(parts.contains(("2024-01-01", "DISTRICTB"))) // +8h of 00:xx UTC
    assert(parts.contains(("2023-12-31", "DISTRICTB"))) // the late row
    // drifted column survives with nulls where absent
    assert(silver.columns.contains("fuel_level"))
    assert(silver.where("fuel_level IS NOT NULL").count() == 2)
    // provenance column
    assert(silver.where("source_file LIKE '%dev2%'").count() == 2)

    // idempotency: everything acked, a second run claims nothing
    val r2 = CompactorJob.run(spark, store, "run-2", "DISTRICTB", target)
    assert(r2.claimed == 0 && r2.rows == 0)
    assert(spark.read.parquet(target).count() == expectClean)
    store.close()
  }

  test("failed runs release their claims for retry") {
    val dir = tmpDir("bronze2")
    val target = tmpDir("silver2")
    Fixtures.bronzeBatch(dir)
    val store = newStore()
    // register a key that does not exist on disk → read fails
    store.register(s"file:$dir/site/devX/missing.txt.gz", "DISTRICTB",
      new Timestamp(1704067200000L))

    intercept[Throwable] {
      CompactorJob.run(spark, store, "run-fail", "DISTRICTB", target)
    }
    assert(store.claimedKeys("run-fail").isEmpty) // released
    assert(store.pendingCount() == 1) // claimable again
    store.close()
  }

  // The single-job first attempt appends without probing silver, so it is
  // only sound if no retry is ever taken for a first claim. Each case
  // crashes a run after its silver write, then retries the batch the way
  // an operator or scheduler would; every file must end up in silver
  // exactly once.
  Seq[(String, Boolean, CrashingStore => String)](
    ("same-runId resume after a hard kill", true, _ => "run-1"),
    ("releaseAbandoned after a hard kill, then a new run id", true, s => {
      assert(s.releaseAbandoned(new Timestamp(System.currentTimeMillis() + 1)) == 4); "run-2"
    }),
    ("release (FAILED), then a new run id", false, _ => "run-2")
  ).foreach { case (name, hardKill, retry) =>
    test(s"crash between silver write and ack — $name: each file lands once") {
      val dir = tmpDir("bronze-crash")
      val target = tmpDir("silver-crash")
      val (keys, expectClean, expectCorrupt) = Fixtures.bronzeBatch(dir)
      val store = new CrashingStore
      registerAll(store, keys, 1704067200000L)

      store.crashAck = true; store.hardKill = hardKill
      intercept[IllegalStateException](CompactorJob.run(spark, store, "run-1", "DISTRICTB", target))
      assert(silverRowsByFile(target) == batchRowsByFile, "the crashed attempt wrote its batch")
      store.crashAck = false; store.hardKill = false

      val r = CompactorJob.run(spark, store, retry(store), "DISTRICTB", target)
      assert(silverRowsByFile(target) == batchRowsByFile)
      assert(r.claimed == 4 && r.rows == expectClean && r.quarantined == expectCorrupt)
      assert(store.firstClaims == Seq(true, false), "only the crashed attempt was a first claim")
      assert(store.pendingCount() == 0)
      store.close()
    }
  }

  test("a batch mixing fresh and retried keys takes the idempotent path") {
    val dir = tmpDir("bronze-mixed")
    val target = tmpDir("silver-mixed")
    val (keys, expectClean, expectCorrupt) = Fixtures.bronzeBatch(dir)
    val store = new CrashingStore
    // dev1 and dev3 are written, then the ack fails and they are released
    registerAll(store, Seq(keys(0), keys(2)), 1704067200000L)
    store.crashAck = true
    intercept[IllegalStateException](CompactorJob.run(spark, store, "run-1", "DISTRICTB", target))
    store.crashAck = false
    // dev4 and dev2 arrive fresh; run-2 claims them with the two retries
    registerAll(store, Seq(keys(3), keys(1)), 1704067300000L)
    val r = CompactorJob.run(spark, store, "run-2", "DISTRICTB", target)
    assert(silverRowsByFile(target) == batchRowsByFile)
    assert(r.claimed == 4 && r.rows == expectClean && r.quarantined == expectCorrupt)
    assert(store.firstClaims == Seq(true, false))
    store.close()
  }

  test("steady-state first claim is the watchdog inference plus one write") {
    val target = tmpDir("silver-budget")
    val store = newStore()
    // the first batch registers the schema; the second is steady state
    registerAll(store, Fixtures.bronzeBatch(tmpDir("bronze-b1"))._1, 1704067200000L)
    CompactorJob.run(spark, store, "run-1", "DISTRICTB", target)
    val (keys, expectClean, expectCorrupt) = Fixtures.bronzeBatch(tmpDir("bronze-b2"))
    registerAll(store, keys, 1704067300000L)
    assert(store.loadSchema(CompactorJob.SchemaDataset).isDefined)

    var r: CompactorJob.Result = null
    val jobs = countJobs { r = CompactorJob.run(spark, store, "run-2", "DISTRICTB", target) }
    assert(r.newFields.isEmpty, "steady state: the watchdog found no drift")
    assert(r.rows == expectClean && r.quarantined == expectCorrupt, "a mixed batch")
    assert(spark.read.parquet(target).count() == 2 * expectClean)
    // 1: the watchdog's schema inference over the newest claimed file;
    // 2: the write's shuffle map stage (decode, quarantine count and
    //    row count, both Observations), submitted on its own by AQE;
    // 3: the write job over the shuffled partitions.
    assert(jobs == 3, s"$jobs Spark jobs for one steady-state batch")
    store.close()
  }

  test("the single-job path counts quarantined lines exactly: no corrupt column, all corrupt") {
    val dir = tmpDir("bronze-q")
    val target = tmpDir("silver-q")
    val store = newStore()
    // clean-only files on an empty registry: the inferred read has no
    // corrupt-record column at all
    val clean = (0 until 2).map(d => Fixtures.writeGz(s"$dir/site/c$d/2024010100.txt.gz",
      (0 until 3).map(i => Fixtures.row(Fixtures.Base + 60 * i, s"U$d", s"D$d", 40.0 + i))))
    assert(!BronzeReader.read(spark, clean).columns.contains(BronzeReader.CorruptCol))
    registerAll(store, clean, 1704067200000L)
    val r1 = CompactorJob.run(spark, store, "run-1", "DISTRICTB", target)
    assert(r1.rows == 6 && r1.quarantined == 0)

    // an all-corrupt file on the registry's schema: nothing to write
    val broken = Fixtures.writeGz(s"$dir/site/bad/2024010100.txt.gz",
      Seq("""{"heartbeat": 1, "unitno": BROKEN""", "not json at all", """{"unitno": "X" """))
    registerAll(store, Seq(broken), 1704067300000L)
    val r2 = CompactorJob.run(spark, store, "run-2", "DISTRICTB", target)
    assert(r2.claimed == 1 && r2.rows == 0 && r2.quarantined == 3)
    assert(spark.read.parquet(target).count() == 6)
    store.close()
  }

  test("district filter scopes claims") {
    val store = newStore()
    store.register("file:/a", "DISTRICTB", new Timestamp(1L))
    store.register("file:/b", "DISTRICTG", new Timestamp(2L))
    val claimed = store.claim("run-d", 10, Some("DISTRICTG"))
    assert(claimed == Seq("file:/b"))
    store.close()
  }

  test("racing runs claim disjoint key sets") {
    val store = newStore()
    (1 to 6).foreach(i => store.register(s"file:/r$i", "D", new Timestamp(i * 1000L)))
    val a = store.claim("run-A", 3, None)
    val b = store.claim("run-B", 3, None)
    assert(a.size == 3 && b.size == 3)
    assert(a.toSet.intersect(b.toSet).isEmpty, "a key must never be claimed twice")
    assert(store.pendingCount() == 0)
    // releasing A puts only A's keys back
    store.release("run-A")
    assert(store.pendingCount() == 3)
    val c = store.claim("run-C", 10, None)
    assert(c.toSet == a.toSet)
    store.close()
  }

  test("releaseAbandoned reaps stale claims back into the pool") {
    val store = newStore()
    (1 to 3).foreach(i => store.register(s"file:/ab$i", "D", new Timestamp(i * 1000L)))
    val claimed = store.claim("run-dead", 2, None)
    assert(claimed.size == 2 && store.pendingCount() == 1)
    // the claiming run is hard-killed: no ack, no release, runId never reused
    val reaped = store.releaseAbandoned(new Timestamp(System.currentTimeMillis() + 1))
    assert(reaped == 2)
    assert(store.pendingCount() == 3, "abandoned keys must be claimable again")
    val c2 = store.claim("run-new", 10, None)
    assert(c2.size == 3)
    // a LIVE claim (claimed_at after the cutoff) must not be reaped
    assert(store.releaseAbandoned(new Timestamp(0L)) == 0)
    store.close()
  }

  test("claims are newest-first and bounded by the limit") {
    val store = newStore()
    (1 to 5).foreach(i => store.register(s"file:/k$i", "D", new Timestamp(i * 1000L)))
    val claimed = store.claim("run-l", 2, None)
    assert(claimed.toSet == Set("file:/k5", "file:/k4"))
    store.close()
  }

  test("drift-tolerant union across pre-read batches") {
    import org.apache.spark.sql.functions.col
    val a = spark.range(2).select(col("id"), col("id").cast("double").as("x"))
    val b = spark.range(2).select(col("id"), col("id").cast("string").as("y"))
    val u = BronzeReader.unionDrifted(Seq(a, b))
    assert(u.columns.toSet == Set("id", "x", "y"))
    assert(u.count() == 4)
    assert(u.where("x IS NULL").count() == 2)
  }
}
