package graft.sync

import java.sql.{Connection, Timestamp}

/** The `__sync` coordination table (`install.sql:4-16`): per-table CDC
  * watermark + optimistic job lock + scheduler state. All operations
  * are single-row JDBC statements on a driver-held connection — this
  * state is tiny and transactional by design; it never flows through
  * Spark.
  *
  * States: 'ready' | 'running' | 'error' (`install.sql:4`).
  */
final case class SyncRow(
    tablename: String,
    syncuntil: Option[Timestamp],
    refreshMinutes: Int,
    lastRefresh: Option[Timestamp],
    status: String)

final class SyncStateStore(conn: Connection, table: String = "__sync") {

  // quoted identifier — `__sync` needs quoting in ANSI parsers (Derby
  // rejects a leading underscore unquoted; PG merely folds case)
  private val qt = "\"" + table + "\""

  /** DDL bootstrap (portable subset of `install.sql:4-16`); a no-op
    * when the connection's schema already holds the table, so every
    * `bulkload` can call it.
    */
  def install(): Unit = if (!installed) {
    val stmt = conn.createStatement()
    try stmt.execute(
      s"""CREATE TABLE $qt (
         |  tablename VARCHAR(255) NOT NULL PRIMARY KEY,
         |  syncuntil TIMESTAMP,
         |  refresh_minutes INT DEFAULT 10 NOT NULL,
         |  last_refresh TIMESTAMP,
         |  status VARCHAR(16) DEFAULT 'ready' NOT NULL
         |)""".stripMargin)
    finally stmt.close()
  }

  // metadata names are LIKE patterns ('_' matches any character), so
  // each returned row is compared exactly
  private def installed: Boolean = {
    val schema = conn.getSchema
    val rs = conn.getMetaData.getTables(null, schema, table, Array("TABLE"))
    try Iterator.continually(rs.next()).takeWhile(identity).exists(_ =>
      rs.getString("TABLE_SCHEM") == schema && rs.getString("TABLE_NAME") == table)
    finally rs.close()
  }

  /** C4 — bootstrap registration after a full load: watermark =
    * `syncUntil` (a bulkload passes the max modstamp it landed, A2),
    * status ready (`synctable.py:83-106`).
    */
  def register(tablename: String, syncUntil: Timestamp,
      refreshMinutes: Int = 10): Unit = {
    val del = conn.prepareStatement(s"DELETE FROM $qt WHERE tablename = ?")
    try { del.setString(1, tablename); del.executeUpdate() } finally del.close()
    val ins = conn.prepareStatement(
      s"INSERT INTO $qt (tablename, syncuntil, refresh_minutes, last_refresh, status)" +
        " VALUES (?, ?, ?, CURRENT_TIMESTAMP, 'ready')")
    try {
      ins.setString(1, tablename)
      ins.setTimestamp(2, syncUntil)
      ins.setInt(3, refreshMinutes)
      ins.executeUpdate()
    } finally ins.close()
  }

  /** C3 — optimistic compare-and-swap lock: ready → running; false when
    * the row is missing or already running/error (`synctable.py:63-77`).
    */
  def tryLock(tablename: String): Boolean = {
    val ps = conn.prepareStatement(
      s"UPDATE $qt SET status = 'running' WHERE tablename = ? AND status = 'ready'")
    try { ps.setString(1, tablename); ps.executeUpdate() == 1 } finally ps.close()
  }

  /** C1 tail — successful sync: advance watermark to the max timestamp
    * actually landed (A2 — NEVER wall clock), bump last_refresh, unlock.
    */
  def finish(tablename: String, newWatermark: Option[Timestamp]): Unit = {
    val ps = conn.prepareStatement(
      s"UPDATE $qt SET syncuntil = COALESCE(?, syncuntil)," +
        " last_refresh = CURRENT_TIMESTAMP, status = 'ready' WHERE tablename = ?")
    try {
      ps.setTimestamp(1, newWatermark.orNull)
      ps.setString(2, tablename)
      ps.executeUpdate()
    } finally ps.close()
  }

  /** C2 — zero-delta fast path: only last_refresh moves
    * (`query_poll_table.py:165-168`).
    */
  def touch(tablename: String): Unit = finish(tablename, None)

  /** Exception path: mark error and halt future auto-sync
    * (`query_poll_table.py:199-204`, `abort_refresh.py`).
    */
  def markError(tablename: String): Unit = setStatus(tablename, "error")

  private def setStatus(tablename: String, status: String): Unit = {
    val ps = conn.prepareStatement(
      s"UPDATE $qt SET status = ? WHERE tablename = ?")
    try {
      ps.setString(1, status); ps.setString(2, tablename); ps.executeUpdate()
    } finally ps.close()
  }

  /** C6 — crash recovery at engine startup: clear stale locks
    * (`onreboot:1-24`).
    */
  def recoverAll(): Int = {
    val stmt = conn.createStatement()
    try stmt.executeUpdate(
      s"UPDATE $qt SET status = 'ready' WHERE status = 'running'")
    finally stmt.close()
  }

  /** F5 — due-table scheduler filter (`sync:13`): ready tables whose
    * last refresh is older than their cadence (or never refreshed).
    */
  def dueTables(now: Timestamp): Seq[String] = {
    val ps = conn.prepareStatement(
      s"SELECT tablename FROM $qt WHERE status = 'ready' AND" +
        " (last_refresh IS NULL OR" +
        "  {fn TIMESTAMPADD(SQL_TSI_MINUTE, refresh_minutes, last_refresh)} < ?)" +
        " ORDER BY tablename")
    try {
      ps.setTimestamp(1, now)
      val rs = ps.executeQuery()
      val out = Seq.newBuilder[String]
      while (rs.next()) out += rs.getString(1)
      out.result()
    } finally ps.close()
  }

  def get(tablename: String): Option[SyncRow] = {
    val ps = conn.prepareStatement(
      s"SELECT tablename, syncuntil, refresh_minutes, last_refresh, status" +
        s" FROM $qt WHERE tablename = ?")
    try {
      ps.setString(1, tablename)
      val rs = ps.executeQuery()
      if (rs.next())
        Some(SyncRow(rs.getString(1), Option(rs.getTimestamp(2)), rs.getInt(3),
          Option(rs.getTimestamp(4)), rs.getString(5)))
      else None
    } finally ps.close()
  }
}
