package graft.sync

import java.sql.{Connection, Timestamp}
import scala.util.control.NonFatal
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import graft.sink.{CopyStager, SqlDialect}

/** K2 + C4 assembled: the one-call truncate-and-load of a bulk extract
  * (`csv_to_postgres.py:48-97`) ending in sync-state bootstrap
  * registration (`synctable.py:83-106`). All inside ONE transaction on
  * the driver connection:
  *
  *   1. truncate the destination;
  *   2. load the extract's rows, read once (the caller has already
  *      dropped any batch that is not `Completed`, F4);
  *   3. register `__sync` at the max CDC timestamp landed (A2 — the
  *      landed-data analogue of the job's systemModstamp, never the
  *      wall clock), status ready (C4), so incremental sync takes over
  *      from where the full load stopped. An empty source lands no
  *      timestamp and is refused here, inside the transaction (the
  *      empty-job guard of `csv_to_postgres.py:66,91-92`).
  *
  * A crash anywhere rolls the whole transaction back: the destination
  * keeps its previous contents and `__sync` its previous watermark.
  *
  * Scale split: the source is a driver-side row iterator streaming
  * through the driver connection ([[CopyStager.load]]: COPY or batched
  * INSERTs) — the reference's COPY-through-client design, bounded by
  * the extract size, with no Spark job in between.
  */
object BulkLoad {
  import IncrementalSync.{exec, maxLandedTs}

  /** @return rows loaded and the registered watermark */
  def refresh(cfg: SyncConfig, conn: Connection, dialect: SqlDialect,
      state: SyncStateStore, schema: StructType,
      rows: Iterator[Row]): (Long, Timestamp) = {
    val dest = dialect.qualified(cfg.schema, cfg.tablename)
    inTransaction(conn) {
      exec(conn, dialect.truncateSql(dest))
      val n = CopyStager.load(conn, dialect, dest, schema, rows)
      val wm = maxLandedTs(conn, dialect, dest, cfg.tsCol).getOrElse(
        throw new IllegalArgumentException(
          s"source is empty — refusing truncate-and-load of ${cfg.tablename}"))
      state.register(cfg.tablename, wm)
      (n, wm)
    }
  }

  /** Commits `body`; any failure rolls the whole transaction back. A
    * failing rollback rides along suppressed, not in the error's place.
    */
  private def inTransaction[A](conn: Connection)(body: => A): A =
    try { val a = body; conn.commit(); a }
    catch {
      case e: Throwable =>
        try conn.rollback() catch { case NonFatal(r) => e.addSuppressed(r) }
        throw e
    }
}
