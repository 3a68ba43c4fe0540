package graft.sync

import java.sql.Timestamp
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** C5/C8 — the orchestration shell around IncrementalSync
  * (`sync:13-20`, `delete_old_jobs_data.sh`); C7's abort is `Cli abort`.
  *
  * Fan-out: the reference spawns one OS process per due table; here
  * each due table gets its own sync round on a bounded thread pool.
  * Each worker needs its OWN JDBC connection (the reference's
  * per-process psycopg2 singleton, `pg.py:63-75`) — hence the factory.
  */
final class Scheduler(mkWorker: String => SyncWorker) {

  /** C5 — run every due table's sync round in parallel. Each worker is
    * closed when its table's round ends, so a long-running scheduler
    * holds at most `parallelism` connections at a time instead of
    * leaking one per due table per round.
    */
  def runDue(now: Timestamp, stateProbe: SyncStateStore,
      cfgs: Map[String, (SyncConfig, StructType, Option[Timestamp] => Iterator[Row])],
      parallelism: Int = 8): Map[String, SyncResult] = {
    val due = stateProbe.dueTables(now).filter(cfgs.contains)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, math.max(1, due.size))))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = due.map { table =>
      Future {
        val (cfg, schema, fetchDelta) = cfgs(table)
        val worker = mkWorker(table)
        try table -> worker.syncer.syncTable(cfg, schema, fetchDelta)
        finally worker.close()
      }
    }
    try Await.result(Future.sequence(futures), Duration.Inf).toMap
    finally pool.shutdown()
  }
}

/** A per-table sync round's resources: syncer + state store over one
  * JDBC connection (the reference's per-process psycopg2 singleton,
  * `pg.py:63-75`), plus the underlying closeables — the scheduler
  * closes them when the round completes.
  */
final case class SyncWorker(syncer: IncrementalSync, state: SyncStateStore,
    resources: AutoCloseable*) extends AutoCloseable {
  override def close(): Unit = resources.foreach { r =>
    try r.close() catch { case _: Exception => () }
  }
}

/** C8 — staging-area retention sweep (`delete_old_jobs_data.sh`). */
object StagingGc {
  def sweep(dir: java.io.File, maxAgeDays: Int,
      now: Long = System.currentTimeMillis()): Int = {
    val cutoff = now - maxAgeDays.toLong * 24 * 3600 * 1000
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val old = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.lastModified() < cutoff)
    old.foreach(rm)
    old.length
  }
}
