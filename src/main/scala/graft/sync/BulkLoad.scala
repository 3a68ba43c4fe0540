package graft.sync

import java.sql.{Connection, Timestamp}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
import graft.sink.{CopyStager, SqlDialect}
import graft.sources.salesforce.{BatchInfo, BulkManifest, JobInfo}

/** K2 + C4 assembled: the one-call truncate-and-load of a completed
  * bulk extract job (`csv_to_postgres.py:48-97`) ending in sync-state
  * bootstrap registration (`synctable.py:83-106`). All inside ONE
  * transaction on the driver connection:
  *
  *   1. abort on any Failed batch; refuse a zero-record job (the
  *      empty-job guard protecting the destination from a broken
  *      extract, `csv_to_postgres.py:66,91-92`);
  *   2. truncate the destination;
  *   3. load every Completed batch (F4 filter — NotProcessed chunking
  *      artifacts skipped, `csv_to_postgres.py:73-81`);
  *   4. register `__sync` with the JOB's systemModstamp — the server
  *      timestamp of the extract, never the wall clock — status ready
  *      (C4), so incremental sync takes over from exactly where the
  *      full load stopped.
  *
  * A crash anywhere rolls the whole transaction back: the destination
  * keeps its previous contents and `__sync` its previous watermark.
  *
  * [[refresh]] is the same load for a plain source DataFrame (the CLI's
  * `bulkload`): one read, the watermark from the landed data (A2).
  *
  * Scale split: each source is read once and streams through the
  * driver connection ([[CopyStager.load]]: COPY or batched INSERTs) —
  * faithful to the reference's COPY-through-client design and bounded
  * by the extract size.
  */
object BulkLoad {
  import IncrementalSync.{exec, maxLandedTs}

  /** @param batchData resolves one Completed batch to its rows (the
    *                   connector partition, a staged CSV, or a fixture)
    * @return rows loaded
    */
  def bulkLoad(job: JobInfo, cfg: SyncConfig, conn: Connection,
      dialect: SqlDialect, state: SyncStateStore,
      batchData: BatchInfo => DataFrame): Long = {
    val failed = BulkManifest.failedBatches(job)
    require(failed.isEmpty,
      s"bulk job ${job.id} has failed batches: ${failed.map(_.id).mkString(", ")}")
    BulkManifest.requireNonEmpty(job)
    val modstamp = job.systemModstamp.getOrElse(throw new IllegalArgumentException(
      s"bulk job ${job.id} carries no systemModstamp — cannot register sync state"))
    val dest = dialect.qualified(cfg.schema, cfg.tablename)
    inTransaction(conn) {
      exec(conn, dialect.truncateSql(dest))
      val total = BulkManifest.loadableBatches(job)
        .map(b => load(conn, dialect, dest, batchData(b))).sum
      state.register(cfg.tablename, modstamp)
      total // truncate + load + C4 registration: atomic
    }
  }

  /** Truncate-and-load of `source`, read once, registering `__sync` at
    * the max CDC timestamp landed (A2 — the landed-data analogue of the
    * job's systemModstamp). An empty source is refused after the load,
    * inside the transaction: the rollback keeps the destination and
    * `__sync` as they were.
    * @return rows loaded and the registered watermark
    */
  def refresh(cfg: SyncConfig, conn: Connection, dialect: SqlDialect,
      state: SyncStateStore, source: DataFrame): (Long, Timestamp) = {
    val dest = dialect.qualified(cfg.schema, cfg.tablename)
    inTransaction(conn) {
      exec(conn, dialect.truncateSql(dest))
      val n = load(conn, dialect, dest, source)
      val wm = maxLandedTs(conn, dialect, dest, cfg.tsCol).getOrElse(throw
        new IllegalArgumentException(
          s"source is empty — refusing truncate-and-load of ${cfg.tablename}"))
      state.register(cfg.tablename, wm)
      (n, wm)
    }
  }

  private def load(conn: Connection, dialect: SqlDialect, dest: String,
      df: DataFrame): Long =
    CopyStager.load(conn, dialect, dest, df.schema, df.toLocalIterator().asScala)

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
