package graft.sync

import java.sql.{Connection, Timestamp}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import graft.sink.{CopyStager, SqlDialect}

/** The steady-state CDC transaction (C1, `query_poll_table.py:155-204`;
  * SURVEY.md §3.2): CAS lock → watermark-filtered delta → within-batch
  * dedup (J4) → stage → merge J1 + delete J2 → watermark advance A2 →
  * single commit; exception path resets the lock and re-raises.
  *
  * Scale split, same as the reference: the delta is a driver-held poll,
  * not a Spark query. `Cli sync` reads it from REST `queryAll` pages
  * (`SalesforceSource.rows`, no Bulk job, no Spark job); J4 runs while
  * the rows drain, into a map keyed by pk, and that one read both
  * decides the C2 fast path (an empty map) and streams through the
  * driver-held connection into a session-local staging table
  * ([[CopyStager.load]]: COPY or batched INSERTs). The driver holds the
  * whole delta, as it would draining one Spark partition; `--max-delta`
  * bounds it. The MERGE is one serial transaction on the same
  * connection — merge + watermark + state update are atomic, which is
  * the no-lost-updates invariant (`query_poll_table.py:198`, SURVEY
  * §7.4). A crash between load and watermark update re-fetches from the
  * old watermark and the idempotent merge absorbs the overlap.
  */
final case class SyncConfig(
    tablename: String,
    pk: String,
    tsCol: String,
    isDeletedCol: Option[String] = None,
    schema: Option[String] = None)

sealed trait SyncResult
object SyncResult {
  case object LockBusy extends SyncResult
  case object NoChange extends SyncResult
  final case class Merged(rows: Long, newWatermark: Timestamp) extends SyncResult
  /** Preflight verdict: the delta is too big for the poll path — run
    * the bulk extract + truncate-and-load instead (`README.rst:68`
    * watchdog TODO; the count comes from A1's pushed
    * `SELECT COUNT() ... WHERE ts > watermark`, so nothing is fetched).
    */
  final case class NeedsFullReload(estimatedRows: Long) extends SyncResult
}

final class IncrementalSync(conn: Connection, dialect: SqlDialect,
    state: SyncStateStore) {
  import IncrementalSync.{exec, lastWins, maxLandedTs}

  /** One sync round for one table. `fetchDelta(watermark)` returns the
    * strictly-greater-than delta including soft-deleted rows (F2
    * semantics; the caller wires the actual source — connector, file,
    * or test fixture) as rows of `schema`.
    *
    * `countDelta` is the optional bulk-vs-poll preflight
    * (`README.rst:68`): a cheap wire-side `SELECT COUNT() ... WHERE
    * ts > watermark` (A1 over F2's predicate). When it reports more
    * than `maxDeltaRows`, the round stops BEFORE fetching anything and
    * returns [[SyncResult.NeedsFullReload]] — the orchestrator then
    * takes the bulk path (`BulkLoad.bulkLoad`), which is cheaper than
    * streaming an oversized delta through the poll machinery.
    */
  def syncTable(cfg: SyncConfig, schema: StructType,
      fetchDelta: Option[Timestamp] => Iterator[Row],
      countDelta: Option[Option[Timestamp] => Long] = None,
      maxDeltaRows: Long = Long.MaxValue): SyncResult = {
    // a refused CAS still ran its UPDATE: end that transaction, or the
    // connection cannot close and the row lock outlives the call
    if (!state.tryLock(cfg.tablename)) { conn.rollback(); return SyncResult.LockBusy }
    try {
      val watermark = state.get(cfg.tablename).flatMap(_.syncuntil)
      val tooBig = countDelta.map(_(watermark)).filter(_ > maxDeltaRows)
      if (tooBig.isDefined) {
        // release the lock; the bulk path will re-register state (C4)
        state.touch(cfg.tablename)
        conn.commit()
        SyncResult.NeedsFullReload(tooBig.get)
      } else {
        val delta = lastWins(fetchDelta(watermark),
          schema.fieldIndex(cfg.pk), schema.fieldIndex(cfg.tsCol))
        if (delta.isEmpty) {                     // C2 fast path
          state.touch(cfg.tablename)
          conn.commit()
          SyncResult.NoChange
        } else {
          val n = stageAndMerge(cfg, schema, delta.values.iterator.asScala)
          val wm = maxLandedTs(conn, dialect, destName(cfg), cfg.tsCol) // A2
          state.finish(cfg.tablename, wm)
          conn.commit()                          // one txn: merge + state
          SyncResult.Merged(n, wm.orNull)
        }
      }
    } catch {
      case e: Throwable =>
        // a failing cleanup must not hide the round's own error
        try { conn.rollback(); state.markError(cfg.tablename); conn.commit() }
        catch { case NonFatal(c) => e.addSuppressed(c) }
        throw e
    }
  }

  private def destName(cfg: SyncConfig): String =
    dialect.qualified(cfg.schema, cfg.tablename)

  /** Stage the (small) deduped delta through the driver connection and
    * run J1+J2 in order. Delta batches are bounded by the refresh
    * cadence — they are the small side by construction; a full reload
    * takes the bulk path instead (`README.rst:68` watchdog note). The
    * staging table lives and dies inside the round's transaction, so a
    * failed round's rollback removes it too.
    */
  private def stageAndMerge(cfg: SyncConfig, schema: StructType,
      rows: Iterator[Row]): Long = {
    val staging = dialect.quoteIdent(s"__stg_${cfg.tablename}")
    val dest = destName(cfg)
    exec(conn, dialect.createStagingSql(staging, dest))
    val n = CopyStager.load(conn, dialect, staging, schema, rows)
    // IsDeleted is an ordinary synced column in the dest table, as
    // in the reference; the insert path filters it, the delete path
    // consumes it (`query_poll_table.py:112,134`)
    exec(conn, dialect.upsertSql(dest, staging, schema.fieldNames.toSeq,
      cfg.pk, cfg.tsCol, cfg.isDeletedCol))
    cfg.isDeletedCol.foreach(fl =>
      exec(conn, dialect.deleteSql(dest, staging, cfg.pk, fl)))
    exec(conn, dialect.dropSql(staging))
    n
  }
}

object IncrementalSync {

  /** J4 on the driver: per pk, the row with the greatest ts, in first-
    * seen pk order. A non-null ts beats a null one, as in
    * `MergeOps.dedupLastWins`' `row_number()` over `ts desc` (nulls
    * last); a tie keeps the first row seen.
    */
  private[graft] def lastWins(rows: Iterator[Row], pkIdx: Int,
      tsIdx: Int): java.util.LinkedHashMap[Any, Row] = {
    val kept = new java.util.LinkedHashMap[Any, Row]
    rows.foreach { r =>
      val prev = kept.get(r.get(pkIdx))
      if (prev == null || newer(r.get(tsIdx), prev.get(tsIdx))) kept.put(r.get(pkIdx), r)
    }
    kept
  }

  private def newer(ts: Any, than: Any): Boolean =
    ts != null && (than == null || ts.asInstanceOf[Comparable[Any]].compareTo(than) > 0)

  /** Watermark A2: the max CDC timestamp actually landed in `dest`
    * (`synctable.py:45-54`); None when no landed row carries one.
    */
  private[sync] def maxLandedTs(conn: Connection, dialect: SqlDialect,
      dest: String, tsCol: String): Option[Timestamp] = {
    val stmt = conn.createStatement()
    try {
      val rs = stmt.executeQuery(dialect.maxTsSql(dest, tsCol))
      if (rs.next()) Option(rs.getTimestamp(1)) else None
    } finally stmt.close()
  }

  private[sync] def exec(conn: Connection, sql: String): Unit = {
    val stmt = conn.createStatement()
    try stmt.execute(sql) finally stmt.close()
  }
}
