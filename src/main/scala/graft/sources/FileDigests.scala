package graft.sources

import java.util.{LinkedHashMap => JLinkedHashMap, Map => JMap}

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, RepartitionOperation, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Content-addressed per-file cache for the store family's corpus
  * digests (VERDICT r16 next-2; persistence + cap policy r18 next-1).
  *
  * Every store's freshness contract is the same order-independent
  * digest: `(count, bit_xor(xxhash64(key, value)))` over one offered
  * relation. Until r16 each check re-scanned the WHOLE offered corpus
  * per call — at the verdict store's design point (reports against a
  * 100 TB day-partitioned train corpus) the freshness scan IS a corpus
  * pass per report, the serve path's dominant and linearly-growing
  * term (the xvd curve's 2.6 → 4.3 s growth from sf0.1 → sf1 was
  * entirely digest scans).
  *
  * Both digest components are exactly decomposable per input FILE
  * (count sums; XOR composes with identity 0), so the digest of a
  * file-backed relation factors through per-file partial digests keyed
  * by the file's content address `(path, length, mtime)` — the same
  * invalidation signal Spark's own `FileStatusCache` trusts. A serve's
  * freshness check then costs:
  *
  *  - '''steady state''' (no corpus change since some prior digest):
  *    one directory LISTING, zero data scanned — flat in corpus size;
  *  - '''after churn''': one scan of exactly the NEW/CHANGED files
  *    (an appended ingest day = that day's files), composed with the
  *    cached partials of every unchanged file — O(changed data);
  *  - '''after a retire''': zero scans — the dropped files simply
  *    leave the composition.
  *
  * The fast path applies only when it is provably exact: the relation
  * must analyze to a chain of DETERMINISTIC Project/Filter steps over
  * ONE parquet [[HadoopFsRelation]] (the shape every store/table read
  * in the engine produces). Anything else — in-memory fixtures,
  * typed-map pipelines like the inline image hasher, nondeterministic
  * expressions whose per-file re-evaluation could diverge from the
  * original plan — falls back to the single whole-relation aggregate.
  * Maintainer WRITE paths must not use this cache at all: a pinned
  * (persisted) batch's meta digest has to describe the snapshot its
  * evidence derived from, and the per-file path re-reads disk behind
  * the persist — they call [[digestOfPinned]] (ADVICE r17).
  *
  * Cached partials are keyed by (plan signature, hash expression,
  * file content address), where the plan signature renders the
  * Project/Filter chain and relation identity WITHOUT expression ids
  * (stable across re-constructions of the same logical read). A
  * changed file changes its content address, so its stale partial is
  * simply never looked up again — there is no invalidation protocol to
  * get wrong. The one aliasing caveat is inherited from every
  * mtime-based cache (Spark's included): an in-place byte edit that
  * preserves path, length AND mtime is invisible — unreachable through
  * Spark writers, which never rewrite a part-file in place.
  *
  * '''Persistence (r18).''' The r17 cache was JVM-local, so the
  * O(changed-files) property died with the process: every fresh
  * session re-paid one full corpus scan per (plan, store). When
  * [[DirKey]] is set, every newly scanned partial is ALSO appended to
  * a sidecar directory of fixed-width binary records and loaded back
  * on the next session's first digest — a cold JVM on an unchanged
  * corpus composes with zero data scanned. The sidecar needs no
  * invalidation protocol either (same content-addressed keys); losing
  * a record, a torn append tail, or a concurrent-compaction race can
  * only cost a rescan, never a wrong digest. Entries for deleted files
  * linger at 48 bytes each until a compaction rewrite drops nothing —
  * disk growth is bounded by total historical (plan, file) pairs, and
  * the sidecar can simply be deleted to reclaim it (the next digest
  * re-primes it). Persisted keys are SHA-256 of the full cache key
  * truncated to 128 bits (plan signatures are ~0.5 kB; the content
  * address inside the key makes every record immutable): at 10^6
  * entries the random-collision probability is ~10^-27, and — unlike
  * the r18 MD5 keys — an actor who can CHOOSE part-file paths cannot
  * craft two keys that collide (MD5 is collision-broken; the digest
  * gates decontamination verdicts, so the adversarial case counts —
  * ADVICE r18). Old MD5-keyed records read as foreign keys and are
  * simply never matched; one rescan re-primes under the new keys.
  *
  * A digest call that finds files MISSING from the in-memory cache
  * re-lists the sidecar dir before scanning (VERDICT r18 next-2):
  * a long-lived serve process thereby composes partials a SEPARATE
  * maintainer process persisted after the server's first load —
  * daily ingest costs the server a metadata listing, not a re-scan
  * of the day the maintainer already digested. The listing happens
  * only on the miss path, where a data scan was otherwise imminent.
  *
  * '''Cap policy (r18).''' The in-memory LRU cap is sized in FILES of
  * provenance via [[MaxEntriesKey]] (default 2^20 ≈ 1M entries ≈
  * ~200 MB of driver strings — covers the 100 TB design point's
  * 400k–700k part-files with headroom). A digest call that both writes
  * new partials AND evicts during the same call is thrashing — the cap
  * is too small for the corpus — and logs a one-line warning naming
  * the knob.
  */
object FileDigests {

  /** Session conf: sidecar directory persisting per-file partials
    * across JVMs. Unset (default) = in-memory only. */
  val DirKey = "spark.graft.filedigests.dir"

  /** Session conf: in-memory LRU capacity in entries (≈ files ×
    * distinct digested plans). Size it at or above the corpus's
    * part-file count; the thrash warning below fires when it's low.
    * The cache (and so this cap) is JVM-GLOBAL with last-writer-wins
    * semantics: each digest call re-applies its own session's value,
    * so two sessions configured differently share whichever cap ran
    * last, and a small-cap session can evict a large-cap session's
    * warm entries (ADVICE r18 — documented rather than partitioned:
    * the damage is bounded to rescans, never exactness, and each
    * call's thrash accounting uses its own session's value). */
  val MaxEntriesKey = "spark.graft.filedigests.maxentries"
  private val DefaultMaxEntries = 1 << 20

  @volatile private var maxEntries: Int = DefaultMaxEntries
  private val evictions = new java.util.concurrent.atomic.LongAdder
  private val cache = java.util.Collections.synchronizedMap(
    new JLinkedHashMap[String, (Long, Long)](1024, 0.75f, true) {
      override def removeEldestEntry(e: JMap.Entry[String, (Long, Long)]): Boolean = {
        val evict = size() > maxEntries
        if (evict) evictions.increment()
        evict
      }
    })

  // Observability hooks (spec-pinned): how each digest was served.
  private[sources] val composedServes = new java.util.concurrent.atomic.LongAdder
  private[sources] val filesScanned = new java.util.concurrent.atomic.LongAdder
  private[sources] val fullScans = new java.util.concurrent.atomic.LongAdder
  private[sources] val pinnedScans = new java.util.concurrent.atomic.LongAdder
  /** Observability snapshot for benches (`graft.Measure cold-serve`): how digests
    * were served since JVM start. */
  def counters: Map[String, Long] = Map(
    "scanned" -> filesScanned.sum(), "composed" -> composedServes.sum(),
    "full" -> fullScans.sum(), "pinned" -> pinnedScans.sum())

  private[graft] def clearForTest(): Unit = {
    cache.clear()
    dirs.clear()
    composedServes.reset(); filesScanned.reset(); fullScans.reset()
    pinnedScans.reset(); evictions.reset()
  }

  /** Test hook: simulate a long-lived serve process whose in-memory
    * state predates a FOREIGN process's sidecar appends — `dir` stays
    * latched as loaded, but nothing is cached and no sidecar file is
    * marked consumed, so the next digest's miss path must re-list and
    * compose the foreign partials (VERDICT r18 next-2). */
  private[sources] def simulateStaleProcessForTest(dir: String): Unit = {
    cache.clear()
    dirs.put(dir, new DirState): Unit
  }

  /** The digest `(count(*), bit_xor(hash))` of `df`, served from the
    * per-file cache when the plan decomposes (see object doc), by one
    * whole-relation aggregate otherwise. Byte-identical to the
    * aggregate either way — FileDigestsSpec pins the equality on
    * partitioned, filtered and projected reads. */
  def digestOf(df: DataFrame, hash: Column): (Long, Long) = {
    val spark = df.sparkSession
    // toIntOption + positivity guard: a malformed cap conf must cost
    // the default, not crash every freshness check in the session.
    // The resolved cap is a per-call local for this call's thrash
    // accounting; the shared LRU's cap is last-writer-wins across
    // sessions (documented at MaxEntriesKey).
    val cap = spark.conf.get(MaxEntriesKey, "")
      .toIntOption.filter(_ > 0).getOrElse(DefaultMaxEntries)
    maxEntries = cap
    val persistDir = spark.conf.get(DirKey, "")
    if (persistDir.nonEmpty) ensureLoaded(spark, persistDir)
    val (scanned0, evicted0) = (filesScanned.sum(), evictions.sum())
    val served =
      try perFile(df, hash, spark, persistDir)
      catch {
        case NonFatal(e) =>
          System.err.println(
            s"[filedigests] per-file path failed (${e.getMessage}) — whole-relation scan")
          None
      }
    val wrote = filesScanned.sum() - scanned0
    val evicted = evictions.sum() - evicted0
    if (wrote > 0 && evicted > 0)
      System.err.println(
        s"[filedigests] cache thrash: evicted $evicted entrie(s) while writing $wrote " +
          s"in one digest call — the corpus has more (plan, file) pairs than the " +
          s"$cap-entry cap; raise $MaxEntriesKey")
    served.getOrElse { fullScans.increment(); fullScan(df, hash) }
  }

  /** Maintainer-write-path digest: ALWAYS one whole-relation aggregate
    * over `df` AS EVALUATED — honoring a caller's `persist()` through
    * Spark's CacheManager — never the per-file cache. The cache
    * re-reads files from disk, so for a pinned batch it could commit a
    * meta digest describing content the just-derived evidence was NOT
    * computed from (a source file changed between probe and meta
    * write) — the exact tear the pinned-batch protocol forbids
    * (ADVICE r17). Serve-side freshness checks stay on [[digestOf]]. */
  def digestOfPinned(df: DataFrame, hash: Column): (Long, Long) = {
    pinnedScans.increment()
    fullScan(df, hash)
  }

  private def fullScan(df: DataFrame, hash: Column): (Long, Long) = {
    val r = df.agg(
      count(lit(1)).as("n"),
      coalesce(call_function("bit_xor", hash), lit(0L)).as("dg"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  // ------------------------------------------------- sidecar persistence

  /** One record: 32 ASCII hex chars (SHA-256 of the full cache key,
    * truncated to 128 bits) + n (8 B) + xor (8 B). Fixed width so a
    * torn append tail is detectable by length and simply ignored. */
  private val RecordBytes = 48
  private val CompactAt = 64 // sidecar files tolerated before a listing rewrites them
  // Compaction deletes only files older than this: a concurrent
  // session's IN-PROGRESS append file is listed at its current length
  // (its whole records load fine) but must not be deleted under the
  // writer — records it appends after our read would be silently lost
  // to a rescan (review r18).
  private val CompactGraceMs = 10L * 60 * 1000

  /** Per-dir sidecar bookkeeping (r19). `consumed` maps each sidecar
    * file name to the whole-record count already read, so a MISS-path
    * re-list loads only files (or growth) this JVM hasn't seen —
    * that's what lets a long-lived server compose a foreign
    * maintainer's appends (VERDICT r18 next-2). `persisted` is the set
    * of key hashes known to be on disk (loaded, or appended by this
    * JVM), so a rescan forced by LRU eviction under an undersized cap
    * re-appends NOTHING the sidecar already holds — without it a
    * thrashing deployment grows the sidecar by one corpus of duplicate
    * records per digest call (ADVICE r18). Memory for `persisted` is
    * bounded by total historical keys — the same bound as the sidecar
    * itself, ~32 B/key of provenance. */
  private final class DirState {
    val consumed = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val persisted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  }
  // Per-dir state (review r18): a single latch would re-read the
  // whole sidecar from disk on EVERY digest call when two stores in
  // one session alternate between two configured dirs.
  private val dirs =
    new java.util.concurrent.ConcurrentHashMap[String, DirState]()
  private val loadLock = new Object

  private def keyHash(key: String): String = {
    // SHA-256 truncated to 128 bits (ADVICE r18): same 32-hex-char
    // record width as the r18 MD5 keys, but collision-resistant
    // against an actor who can choose part-file paths. Old MD5-keyed
    // sidecar records simply never match again — one rescan re-primes.
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(16).map("%02x".format(_)).mkString
  }

  /** Per-call key maker: the plan signature (~0.5 kB of rendered
    * filter/projection SQL) is hashed ONCE and only its 32-char digest
    * is folded into each file's key — at the design point (~700k
    * part-files × 3 store faces per serve) hashing the full signature
    * per file would be ~1 GB of driver hashing per report; this keeps
    * the per-file hashed bytes at the content address's own size. */
  private def keyMaker(sig: String): FileStatus => String = {
    val sigH = keyHash(sig)
    f => keyHash(s"$sigH§${f.getPath}@${f.getLen}@${f.getModificationTime}")
  }

  /** First-touch load of a configured dir, once per (JVM, dir). After
    * this, the dir is only re-listed on the MISS path ([[syncFromDisk]]
    * via [[refreshOnMiss]]) — a steady-state serve never touches the
    * sidecar again. */
  private def ensureLoaded(spark: SparkSession, dir: String): Unit = {
    if (dirs.containsKey(dir)) return
    loadLock.synchronized {
      if (dirs.containsKey(dir)) return
      val st = new DirState
      try syncFromDisk(spark, dir, st)
      catch {
        case NonFatal(e) =>
          // Persistence is an optimization: a lost load costs rescans,
          // never a wrong digest. Don't retry per call.
          System.err.println(s"[filedigests] sidecar load from $dir failed: ${e.getMessage}")
      }
      dirs.put(dir, st): Unit
    }
  }

  /** Bench hook (`graft.Measure sidecar`, VERDICT r18 next-3): pay exactly the
    * first-load path for `dir` — what a fresh JVM's first digest call
    * pays before composing — so the load can be timed and its heap
    * priced without a corpus in the loop. */
  private[graft] def benchLoad(spark: SparkSession, dir: String): Unit =
    ensureLoaded(spark, dir)

  /** Re-list `dir` because a digest call is about to SCAN files missing
    * from the cache (VERDICT r18 next-2): a foreign process (the daily
    * maintainer) may have persisted exactly those partials after this
    * JVM's first load. One metadata listing on a path where a data scan
    * was otherwise imminent; a failure degrades to the scan. */
  private def refreshOnMiss(spark: SparkSession, dir: String): Unit = {
    val st = dirs.get(dir)
    if (st == null) return // dir never loaded (ensureLoaded failed hard)
    loadLock.synchronized {
      try syncFromDisk(spark, dir, st)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[filedigests] sidecar re-list of $dir failed: ${e.getMessage}")
      }
    }
  }

  /** Load every sidecar record this JVM hasn't consumed yet (new files,
    * or growth of a concurrent appender's file) into the in-memory
    * cache. Over [[CompactAt]] files, rewrite them as one (dropping
    * nothing — liveness of a content-addressed entry is unknowable and
    * irrelevant; see object doc) and delete exactly the files read that
    * are past the grace window, so a concurrent appender's file is
    * never touched and the worst concurrent-compaction outcome is a
    * duplicate record the map put dedupes. Runs both at first load and
    * on every miss-path re-list, so a long-lived JVM compacts too
    * (ADVICE r18) — the file-count trigger fires wherever a listing is
    * already in hand. */
  private def syncFromDisk(spark: SparkSession, dir: String, st: DirState): Unit = {
    val f = PartitionedStore.fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) return
    val files = f.listStatus(p).filter(_.getPath.getName.endsWith(".bin"))
    files.foreach { s =>
      val whole = s.getLen / RecordBytes
      val name = s.getPath.getName
      if (whole > st.consumed.getOrDefault(name, 0L)) {
        readRecords(f, s).foreach { case (k, d) =>
          cache.put(k, d): Unit
          st.persisted.add(k): Unit
        }
        st.consumed.put(name, whole): Unit
      }
    }
    if (files.length > CompactAt) {
      // Re-read the listed files for the rewrite: the cache may have
      // evicted some of their records, and a compact copy must carry
      // every record (including foreign keys) — compaction is rare
      // (> CompactAt files) and the files are metadata-sized.
      val all = files.iterator.flatMap(s => readRecords(f, s)).toMap.toSeq
      if (all.nonEmpty) {
        val (name, n) = appendRecords(f, p, all)
        st.consumed.put(name, n): Unit
        // Delete only files past the grace window: a younger file
        // may be a concurrent session's open append — its settled
        // records are in the compact copy (a duplicate the map put
        // dedupes), and it gets collected by a later compaction.
        val cutoff = System.currentTimeMillis() - CompactGraceMs
        files.filter(_.getModificationTime < cutoff).foreach { s =>
          f.delete(s.getPath, false): Unit
          st.consumed.remove(s.getPath.getName): Unit
        }
      }
    }
  }

  private def readRecords(f: FileSystem, s: FileStatus): Seq[(String, (Long, Long))] = {
    val whole = math.toIntExact(s.getLen / RecordBytes) // ignore a torn tail
    if (whole == 0) return Nil
    val in = new java.io.DataInputStream(f.open(s.getPath))
    try {
      val buf = new Array[Byte](32)
      (0 until whole).map { _ =>
        in.readFully(buf)
        (new String(buf, java.nio.charset.StandardCharsets.US_ASCII),
          (in.readLong(), in.readLong()))
      }
    } finally in.close()
  }

  /** Returns the written file's (name, record count) so the caller can
    * mark it consumed — this JVM wrote it, re-reading it on the next
    * miss-path listing would be pure duplicate work. */
  private def appendRecords(f: FileSystem, dir: Path,
      entries: Seq[(String, (Long, Long))]): (String, Long) = {
    val name = s"digests-${java.util.UUID.randomUUID}.bin"
    val out = new java.io.DataOutputStream(f.create(new Path(dir, name), false))
    try entries.foreach { case (k, (n, x)) =>
      out.write(k.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.writeLong(n); out.writeLong(x)
    } finally out.close()
    (name, entries.size.toLong)
  }

  /** Append `entries` to the sidecar; true iff the append completed (a
    * torn append may leave whole leading records behind — harmless
    * duplicates the load-time map put dedupes, and the caller does NOT
    * mark the keys persisted, so they retry next time). */
  private def persist(spark: SparkSession, dir: String,
      entries: Seq[(String, (Long, Long))]): Boolean =
    try {
      val f = PartitionedStore.fs(spark, dir)
      val p = new Path(dir)
      if (!f.exists(p)) f.mkdirs(p): Unit
      val (name, n) = appendRecords(f, p, entries)
      Option(dirs.get(dir)).foreach(_.consumed.put(name, n): Unit)
      true
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[filedigests] sidecar append to $dir failed: ${e.getMessage}")
        false
    }

  // ------------------------------------------------------ decomposition

  /** The deterministic Project/Filter chain over one parquet relation,
    * or None when the plan has any other shape. Ambiguous output names
    * anywhere in the chain are rejected: the cache key renders
    * expressions by NAME, and a shadowed name could let two different
    * plans share a key. */
  private def decompose(plan: LogicalPlan): Option[LogicalRelation] = {
    def distinctNames(p: LogicalPlan): Boolean = {
      val n = p.output.map(_.name.toLowerCase(java.util.Locale.ROOT))
      n.distinct.size == n.size
    }
    plan match {
      case p: Project if p.projectList.forall(_.deterministic) && distinctNames(p) =>
        decompose(p.child)
      case f: Filter if f.condition.deterministic => decompose(f.child)
      case s: SubqueryAlias => decompose(s.child)
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation
            if h.fileFormat.isInstanceOf[ParquetFileFormat] &&
              h.location.isInstanceOf[PartitioningAwareFileIndex] &&
              h.location.rootPaths.size == 1 && distinctNames(r) =>
          Some(r)
        case _ => None
      }
      case _ => None
    }
  }

  /** Stable signature of (plan steps, relation identity, hash expr) —
    * rendered without expression ids so it survives re-analysis of the
    * same logical read. `sql` on a resolved expression prints names,
    * not ids; the unresolved hash column prints its tree. */
  private def planSig(plan: LogicalPlan, rel: LogicalRelation,
      fsRel: HadoopFsRelation, hash: Column): String = {
    def steps(p: LogicalPlan): List[String] = p match {
      case pr: Project => s"P:${pr.projectList.map(_.sql).mkString(",")}" :: steps(pr.child)
      case f: Filter => s"F:${f.condition.sql}" :: steps(f.child)
      case s: SubqueryAlias => steps(s.child)
      case _ => Nil
    }
    (steps(plan) :+
      s"R:${fsRel.location.rootPaths.head}" :+
      s"D:${fsRel.dataSchema.catalogString}" :+
      s"PS:${fsRel.partitionSchema.catalogString}" :+
      s"O:${(fsRel.options -- Seq("path", "paths")).toSeq.sorted.mkString(",")}" :+
      // Column.toString is the stable rendering — the bridged catalyst
      // tree prints parse-site Origins (stack-trace object hashes),
      // which would make every call a cache miss
      s"H:$hash").mkString("|")
  }

  private def perFile(df: DataFrame, hash: Column, spark: SparkSession,
      persistDir: String): Option[(Long, Long)] = {
    if (!GraftColumnBridge.expression(hash).deterministic) return None
    // Repartition/RepartitionByExpression change the partition LAYOUT,
    // never row content, and the digest is order-independent by
    // construction (count sums, XOR commutes) — so they are stripped
    // before decomposition. Two reasons, both load-bearing: (a) the
    // scale-adaptive scan widening (graft.core.Par.widen, r19) puts a
    // Repartition over exactly the relations stores digest, and it
    // must not demote every serve to a whole-relation scan; (b) the
    // transplanted per-file scan groups by input_file_name(), which an
    // exchange would erase — stripping keeps the file provenance
    // intact. Widened and unwidened reads of the same content thus
    // share cache keys and digest values (FileDigestsSpec pins both).
    val analyzed = GraftPlanBridge.analyzed(df).transformUp {
      case r: RepartitionOperation => r.child
    }
    decompose(analyzed).flatMap { rel =>
      val fsRel = rel.relation.asInstanceOf[HadoopFsRelation]
      val sig = planSig(analyzed, rel, fsRel, hash)
      val files = fsRel.location.asInstanceOf[PartitioningAwareFileIndex].allFiles()
      val keyOf = keyMaker(sig)
      def lookup() = files.map(f => (f, keyOf(f))).map { case (f, k) =>
        (f, k, Option(cache.get(k)))
      }
      var known = lookup()
      var missing = known.collect { case (f, k, None) => (f, k) }
      // About to scan: first re-list the sidecar — a foreign process
      // (the daily maintainer) may have persisted exactly these
      // partials after this JVM's first load (VERDICT r18 next-2).
      if (missing.nonEmpty && persistDir.nonEmpty) {
        refreshOnMiss(spark, persistDir)
        known = lookup()
        missing = known.collect { case (f, k, None) => (f, k) }
      }
      val scanned: Map[String, (Long, Long)] =
        if (missing.isEmpty) Map.empty
        else scanFiles(spark, analyzed, rel, fsRel, missing.map(_._1), hash)
      // Exactness guard (ADVICE r17): the scan groups by
      // input_file_name() and this composition matches those strings
      // to FileStatus paths. A path-form mismatch (URL-encoded vs
      // decoded for spaces/non-ASCII) would silently default a
      // row-bearing file's partial to (0, 0) — a WRONG digest that the
      // serve side would then reproduce, freshness passing on a
      // changed corpus. Any scanned group that matches no listed file
      // is exactly that mismatch: refuse the per-file path (nothing
      // cached, nothing persisted) and let the caller's whole-relation
      // scan stay correct. A genuinely empty/filtered-away file
      // produces NO group, so (0, 0) for a group-less file is exact.
      val missingPaths = missing.iterator.map(_._1.getPath.toString).toSet
      val orphans = scanned.keysIterator.filterNot(missingPaths.contains).toList
      if (orphans.nonEmpty) {
        System.err.println(
          s"[filedigests] ${orphans.size} scanned file group(s) match no listed file " +
            s"(path-form mismatch?) — refusing the per-file path; first: ${orphans.head}")
        None
      } else {
        if (missing.nonEmpty) {
          if (sys.env.contains("GRAFT_DIGEST_DEBUG"))
            System.err.println(s"[filedigests-debug] scan ${missing.size} sig=$sig")
          filesScanned.add(missing.size.toLong)
          val fresh = missing.map { case (f, k) =>
            k -> scanned.getOrElse(f.getPath.toString, (0L, 0L))
          }
          fresh.foreach { case (k, d) => cache.put(k, d): Unit }
          if (persistDir.nonEmpty) {
            // Skip keys the sidecar already holds (ADVICE r18): a
            // rescan forced by LRU eviction under an undersized cap
            // must not re-append a corpus of duplicate records per
            // digest call. Keys are marked persisted only on a
            // completed append — a torn one retries next time.
            val st = dirs.get(persistDir)
            val novel =
              if (st == null) fresh
              else fresh.filterNot { case (k, _) => st.persisted.contains(k) }
            if (novel.nonEmpty && persist(spark, persistDir, novel) && st != null)
              novel.foreach { case (k, _) => st.persisted.add(k): Unit }
          }
        } else composedServes.increment()
        Some(known.foldLeft((0L, 0L)) { case ((n, x), (f, k, hit)) =>
          val d = hit.getOrElse(scanned.getOrElse(f.getPath.toString, (0L, 0L)))
          (n + d._1, x ^ d._2)
        })
      }
    }
  }

  /** Per-file partial digests of exactly `missing`, by transplanting
    * the original plan onto a read restricted to those files: the
    * restricted scan re-derives partition values from its paths
    * (explicit schema + basePath, the readEvidence pattern), the
    * original Filter/Project expressions execute verbatim with their
    * attributes remapped onto the new relation, and one
    * `groupBy(input_file_name())` aggregate lands every file's partial
    * in a single job. A file whose rows are all filtered away (or that
    * is empty) produces no group and digests as the (0, 0) identity —
    * exactly its contribution to the whole-relation aggregate. */
  private def scanFiles(spark: org.apache.spark.sql.SparkSession,
      analyzed: LogicalPlan, rel: LogicalRelation, fsRel: HadoopFsRelation,
      missing: Seq[FileStatus], hash: Column): Map[String, (Long, Long)] = {
    val dataNames = fsRel.dataSchema.fieldNames.toSet
    val schema = StructType(fsRel.dataSchema.fields ++
      fsRel.partitionSchema.fields.filterNot(f => dataNames.contains(f.name)))
    var reader = spark.read.schema(schema)
      .options(fsRel.options -- Seq("path", "paths"))
    if (fsRel.partitionSchema.nonEmpty)
      reader = reader.option("basePath", fsRel.location.rootPaths.head.toString)
    val restricted = reader.parquet(missing.map(_.getPath.toString): _*)
    val newLeaf = GraftPlanBridge.analyzed(restricted)
    val byName = newLeaf.output.map(a => a.name -> a).toMap
    val mapping = rel.output.map(a => a.exprId -> byName(a.name)).toMap
    val transplanted = analyzed
      .transformUp { case r: LogicalRelation if r eq rel => newLeaf }
      .transformAllExpressions {
        case a: AttributeReference => mapping.getOrElse(a.exprId, a)
      }
    GraftPlanBridge.ofRows(spark, transplanted)
      .groupBy(input_file_name().as("_file"))
      .agg(count(lit(1)).as("n"),
        coalesce(call_function("bit_xor", hash), lit(0L)).as("dg"))
      .collect()
      .map(r => new Path(r.getString(0)).toString -> (r.getLong(1), r.getLong(2)))
      .toMap
  }
}
