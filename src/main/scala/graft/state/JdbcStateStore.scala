package graft.state

import java.sql.{Connection, DriverManager, Timestamp}
import scala.collection.mutable.ArrayBuffer

/** Control-plane state store: per-file processing state for incremental,
  * idempotent, exactly-once-per-file batches — the reference's MSSQL
  * claim pattern (`s3_datalog_processor.py:54-97`,
  * `README-v2-orchestrated-pipeline.md:153-170`):
  *
  *  1. `claim(runId, n)` — atomically tag up to n unclaimed pending keys
  *     with this run's id (newest first);
  *  2. process exactly the claimed keys;
  *  3. `ack(runId)` on success / `release(runId)` on failure so the keys
  *     become claimable again.
  *
  * Implementation is plain JDBC (works against MSSQL/Postgres/Derby —
  * tests use embedded Derby). The reference's `IN (':key_list_string')`
  * bind bug (`s3_datalog_processor.py:215`, single string literal that
  * matches nothing) is deliberately NOT reproduced: acks are keyed by
  * run id, which is both correct and O(1) SQL.
  *
  * This is driver-side control-plane I/O — a few thousand rows per batch
  * (`KEY_LIMIT_PER_RUN`, reference `gzip-to-parquet-etl.py:35`) — so it
  * never needs to be distributed.
  */
class JdbcStateStore(url: String) extends AutoCloseable {

  val Table = "tbl_t_upload_datalog"

  private val conn: Connection = DriverManager.getConnection(url)
  conn.setAutoCommit(true)

  def ensureTable(): Unit = {
    val meta = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
    var exists = false
    while (meta.next()) if (meta.getString("TABLE_NAME").equalsIgnoreCase(Table)) exists = true
    if (!exists) {
      val st = conn.createStatement()
      // Columns mirror the reference control table (FIXTURES.md §B3).
      st.execute(
        s"""CREATE TABLE $Table (
           |  file_path_s3 VARCHAR(1024) PRIMARY KEY,
           |  is_upload_s3 VARCHAR(8),
           |  distrik VARCHAR(64),
           |  compression_status VARCHAR(32),
           |  compression_timestamp TIMESTAMP,
           |  compression_run_id VARCHAR(64),
           |  claimed_at TIMESTAMP,
           |  upload_s3_date TIMESTAMP)""".stripMargin)
      st.close()
    }
    ensureSchemaTable()
  }

  /** Register a newly-uploaded bronze file as pending. */
  def register(key: String, district: String, uploadedAt: Timestamp): Unit = {
    val ps = conn.prepareStatement(
      s"INSERT INTO $Table (file_path_s3, is_upload_s3, distrik, upload_s3_date) VALUES (?, 'true', ?, ?)")
    ps.setString(1, key); ps.setString(2, district); ps.setTimestamp(3, uploadedAt)
    ps.executeUpdate(); ps.close()
  }

  /** Atomically claim up to `limit` pending keys (newest upload first —
    * reference `ORDER BY upload_s3_date DESC`) for `runId`. Returns the
    * claimed keys. Re-claiming for the same runId returns its existing
    * claims (crash-retry safe) and marks them `RESUMED`, because the
    * earlier attempt may already have written them (see [[firstClaim]]). */
  def claim(runId: String, limit: Int, district: Option[String] = None): Seq[String] = {
    // Crash-retry: a runId that already holds claims resumes exactly that
    // batch — claiming MORE keys here would double a retried batch (the
    // retry would process old + new claims under one run id).
    val existing = claimedKeys(runId)
    if (existing.nonEmpty) {
      val ps = conn.prepareStatement(
        s"UPDATE $Table SET compression_status = 'RESUMED' WHERE compression_run_id = ? AND compression_status IS NULL")
      ps.setString(1, runId)
      ps.executeUpdate(); ps.close()
      return existing
    }
    val districtPred = district.map(_ => " AND distrik = ?").getOrElse("")
    // The OUTER predicate re-checks `compression_run_id IS NULL`: under
    // READ COMMITTED a concurrent claimer's subquery can select the same
    // keys before either UPDATE lands, and without the re-check the
    // second writer would silently overwrite the first's claim — both
    // runs would then process the same files.
    val ps = conn.prepareStatement(
      s"""UPDATE $Table SET compression_run_id = ?, claimed_at = ?
         |  WHERE compression_run_id IS NULL AND file_path_s3 IN (
         |  SELECT file_path_s3 FROM $Table
         |  WHERE is_upload_s3 = 'true' AND compression_run_id IS NULL
         |    AND (compression_status IS NULL OR compression_status <> 'SUCCESS')$districtPred
         |  ORDER BY upload_s3_date DESC
         |  FETCH FIRST ? ROWS ONLY)""".stripMargin)
    ps.setString(1, runId)
    ps.setTimestamp(2, new Timestamp(System.currentTimeMillis()))
    district.foreach(ps.setString(3, _))
    ps.setInt(if (district.isDefined) 4 else 3, limit)
    ps.executeUpdate(); ps.close()
    claimedKeys(runId)
  }

  /** Reap claims stranded by a hard-killed run (OOM between claim and
    * ack/release — the catch block never runs, and a fresh runId per
    * attempt means nothing ever resumes them): claims older than
    * `olderThan` that never reached SUCCESS go back to the claimable
    * pool. Run it at the top of any scheduled cycle with a bound
    * comfortably above the longest healthy batch. */
  def releaseAbandoned(olderThan: Timestamp): Int = {
    val ps = conn.prepareStatement(
      s"""UPDATE $Table SET compression_run_id = NULL,
         |  compression_status = 'ABANDONED'
         |  WHERE compression_run_id IS NOT NULL
         |    AND (compression_status IS NULL OR compression_status <> 'SUCCESS')
         |    AND claimed_at < ?""".stripMargin)
    ps.setTimestamp(1, olderThan)
    val n = ps.executeUpdate(); ps.close(); n
  }

  /** The keys currently claimed by a run (reference
    * `s3_datalog_processor.py:70-75`), newest upload first — callers
    * (the CompactorJob drift watchdog) rely on `head` being the newest
    * file, and without ORDER BY the JDBC result order is arbitrary. */
  def claimedKeys(runId: String): Seq[String] = {
    val ps = conn.prepareStatement(
      s"SELECT file_path_s3 FROM $Table WHERE compression_run_id = ? AND (compression_status IS NULL OR compression_status <> 'SUCCESS') ORDER BY upload_s3_date DESC")
    ps.setString(1, runId)
    val rs = ps.executeQuery()
    val out = ArrayBuffer.empty[String]
    while (rs.next()) out += rs.getString(1)
    rs.close(); ps.close()
    out.toSeq
  }

  /** Whether every key `runId` holds is on its first claim, i.e. no
    * earlier attempt can have written any of its rows to silver.
    * `compression_status` stays NULL from `register` until a key is
    * acked (`SUCCESS`), released (`FAILED`), reaped (`ABANDONED`),
    * re-queued (`REQUEUED_DRIFT`) or resumed under the same run id
    * (`RESUMED`); any of those marks a retry. This is the batch path's
    * commit log: a first claim may append without probing silver for
    * its files. */
  def firstClaim(runId: String): Boolean = {
    val ps = conn.prepareStatement(
      s"""SELECT count(*) FROM $Table WHERE compression_run_id = ?
         |  AND compression_status IS NOT NULL AND compression_status <> 'SUCCESS'""".stripMargin)
    ps.setString(1, runId)
    val rs = ps.executeQuery()
    rs.next(); val retried = rs.getLong(1)
    rs.close(); ps.close()
    retried == 0
  }

  /** Mark a run's claims processed (reference `SET 'SUCCESS'`,
    * `gzip-to-parquet-etl.py:286-317`). */
  def ack(runId: String): Int =
    updateStatus(runId, "SUCCESS")

  // ------------------------------------------- streaming batch markers
  /** Key under which a committed streaming micro-batch is recorded —
    * rides the existing control table (same PRIMARY KEY uniqueness the
    * file claims rely on), namespaced so sink markers can never collide
    * with bronze file keys. */
  private def batchKey(sinkId: String, batchId: Long): String =
    s"sink://$sinkId/batch=$batchId"

  /** Atomically record `batchId` as committed for `sinkId`. Returns
    * true exactly once — the PRIMARY KEY rejects the insert on a
    * replayed or racing commit, which is the whole idempotence
    * guarantee ([[graft.streaming.TransactionalSink]]).
    *
    * Duplicate-key detection is by SQLState class 23 (integrity
    * constraint violation), not exception class: Derby/H2/MySQL raise
    * SQLIntegrityConstraintViolationException, but Postgres
    * (PSQLException, state 23505) and MSSQL (SQLServerException, state
    * 2627 under class 23) signal it through plain SQLException
    * subclasses — catching only the class would crash a replayed
    * micro-batch into a retry loop on exactly the DBs this store
    * documents. Anything outside class 23 (connection loss, syntax)
    * is rethrown after a marker re-check, so a real failure still
    * surfaces instead of masquerading as "already committed". */
  def markBatch(sinkId: String, batchId: Long): Boolean =
    try {
      val ps = conn.prepareStatement(
        s"""INSERT INTO $Table (file_path_s3, is_upload_s3, compression_status,
           |  compression_timestamp) VALUES (?, 'false', 'SUCCESS', ?)""".stripMargin)
      ps.setString(1, batchKey(sinkId, batchId))
      ps.setTimestamp(2, new Timestamp(System.currentTimeMillis()))
      ps.executeUpdate(); ps.close(); true
    } catch {
      case e: java.sql.SQLException =>
        val state = Option(e.getSQLState).getOrElse("")
        if (state.startsWith("23") || batchCommitted(sinkId, batchId)) false
        else throw e
    }

  /** Whether `batchId` already committed for `sinkId`. */
  def batchCommitted(sinkId: String, batchId: Long): Boolean = {
    val ps = conn.prepareStatement(
      s"SELECT 1 FROM $Table WHERE file_path_s3 = ?")
    ps.setString(1, batchKey(sinkId, batchId))
    val rs = ps.executeQuery()
    val found = rs.next()
    rs.close(); ps.close(); found
  }

  /** Drift-recovery re-queue: put already-SUCCESSful keys acked at or
    * after `since` back into the claimable pool (status
    * `REQUEUED_DRIFT`, run id cleared). Called when schema inference
    * discovers a field the registry lacked: every schema-read batch
    * acked since the registry last learned may have silently dropped
    * that field from its silver rows, and bronze is retained, so the
    * cheap fix is to re-ingest the window. Safe because the silver
    * write is idempotent per source file (`SilverWriter.writeIdempotent`
    * replaces, never duplicates). Returns the number of keys re-queued. */
  def requeueSuccessSince(since: Timestamp): Int = {
    val ps = conn.prepareStatement(
      s"""UPDATE $Table SET compression_run_id = NULL,
         |  compression_status = 'REQUEUED_DRIFT'
         |  WHERE compression_status = 'SUCCESS'
         |    AND compression_timestamp >= ?""".stripMargin)
    ps.setTimestamp(1, since)
    val n = ps.executeUpdate(); ps.close(); n
  }

  /** Release a failed run's claims so a later run re-claims them —
    * the retry path of the claim pattern. */
  def release(runId: String): Int = {
    val ps = conn.prepareStatement(
      s"UPDATE $Table SET compression_run_id = NULL, compression_status = 'FAILED', compression_timestamp = ? WHERE compression_run_id = ?")
    ps.setTimestamp(1, new Timestamp(System.currentTimeMillis())); ps.setString(2, runId)
    val n = ps.executeUpdate(); ps.close(); n
  }

  private def updateStatus(runId: String, status: String): Int = {
    val ps = conn.prepareStatement(
      s"UPDATE $Table SET compression_status = ?, compression_timestamp = ? WHERE compression_run_id = ?")
    ps.setString(1, status)
    ps.setTimestamp(2, new Timestamp(System.currentTimeMillis()))
    ps.setString(3, runId)
    val n = ps.executeUpdate(); ps.close(); n
  }

  // ---- schema registry --------------------------------------------
  // The reference accepts a full-scan inference pass per batch
  // (`sample_size=-1`); at scale that is a second read of every byte.
  // Persisting the merged schema lets steady-state batches skip
  // inference entirely (SURVEY §4 "optimization opportunity: cache
  // inferred StructType in the state store").

  val SchemaTable = "tbl_t_schema"

  def ensureSchemaTable(): Unit = {
    val meta = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
    var exists = false
    while (meta.next()) if (meta.getString("TABLE_NAME").equalsIgnoreCase(SchemaTable)) exists = true
    if (!exists) {
      val st = conn.createStatement()
      st.execute(
        s"""CREATE TABLE $SchemaTable (
           |  dataset VARCHAR(128) PRIMARY KEY,
           |  schema_json CLOB,
           |  updated_at TIMESTAMP)""".stripMargin)
      st.close()
    }
  }

  def loadSchema(dataset: String): Option[org.apache.spark.sql.types.StructType] = {
    val ps = conn.prepareStatement(s"SELECT schema_json FROM $SchemaTable WHERE dataset = ?")
    ps.setString(1, dataset)
    val rs = ps.executeQuery()
    val out = if (rs.next())
      Some(org.apache.spark.sql.types.DataType.fromJson(rs.getString(1))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    else None
    rs.close(); ps.close()
    out
  }

  /** When the registry last changed (i.e. when the last full inference
    * pass ran) — the lower bound of a drift blind window. */
  def schemaUpdatedAt(dataset: String): Option[Timestamp] = {
    val ps = conn.prepareStatement(
      s"SELECT updated_at FROM $SchemaTable WHERE dataset = ?")
    ps.setString(1, dataset)
    val rs = ps.executeQuery()
    val out = if (rs.next()) Option(rs.getTimestamp(1)) else None
    rs.close(); ps.close()
    out
  }

  /** Merge-and-save: new fields append, existing fields keep their first
    * type (the drift-tolerant by-name union the reference relies on). */
  def mergeSchema(dataset: String,
      observed: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val current = loadSchema(dataset)
    val merged = current match {
      case None => observed
      case Some(cur) =>
        val known = cur.fieldNames.toSet
        org.apache.spark.sql.types.StructType(
          cur.fields ++ observed.fields.filterNot(f => known.contains(f.name)))
    }
    val del = conn.prepareStatement(s"DELETE FROM $SchemaTable WHERE dataset = ?")
    del.setString(1, dataset); del.executeUpdate(); del.close()
    val ins = conn.prepareStatement(
      s"INSERT INTO $SchemaTable (dataset, schema_json, updated_at) VALUES (?, ?, ?)")
    ins.setString(1, dataset)
    ins.setString(2, merged.json)
    ins.setTimestamp(3, new Timestamp(System.currentTimeMillis()))
    ins.executeUpdate(); ins.close()
    merged
  }

  def pendingCount(): Long = {
    val rs = conn.createStatement().executeQuery(
      s"SELECT count(*) FROM $Table WHERE compression_run_id IS NULL AND (compression_status IS NULL OR compression_status <> 'SUCCESS')")
    rs.next(); val n = rs.getLong(1); rs.close(); n
  }

  override def close(): Unit = conn.close()
}
