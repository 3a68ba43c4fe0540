package graft.sources.salesforce

/** Bulk V1 job/batch manifest model (S3/F4, `bulk_states.py:1-10`,
  * `download.py:46-114`, `csv_to_postgres.py:48-97`): which batches of
  * an async extract job are loadable, when the job is complete, and the
  * empty-job guard. The only place a batch state string is interpreted:
  * the HTTP transport's plan-time wait and upload wait ask it too.
  */
final case class BatchInfo(id: String, state: String,
    numberRecordsProcessed: Long = 0, stateMessage: Option[String] = None)

final case class JobInfo(id: String, batches: Seq[BatchInfo],
    numberRecordsProcessed: Long, systemModstamp: Option[java.sql.Timestamp])

object BulkManifest {
  // bulk_states.py:1-10
  val Queued = "Queued"
  val InProgress = "InProgress"
  val Completed = "Completed"
  val Failed = "Failed"
  val NotProcessed = "NotProcessed"
  val Aborted = "Aborted"

  /** The server is still working on this batch. */
  def isPending(b: BatchInfo): Boolean = b.state == Queued || b.state == InProgress

  /** The batch ended without its data: its rows can never be loaded. */
  def isFailed(b: BatchInfo): Boolean = b.state == Failed || b.state == Aborted

  /** Download-side poll predicate: job is ready when no batch is queued
    * or in progress (`download.py:50-79`).
    */
  def isDone(job: JobInfo): Boolean = !job.batches.exists(isPending)

  /** F4 — only `Completed` batches are loadable; `NotProcessed` is the
    * PK-chunking artifact skipped at download (`download.py:96-99`,
    * `csv_to_postgres.py:73-81`).
    */
  def loadableBatches(job: JobInfo): Seq[BatchInfo] =
    job.batches.filter(_.state == Completed)

  /** Batches whose results should never be fetched. */
  def skippedBatches(job: JobInfo): Seq[BatchInfo] =
    job.batches.filter(_.state == NotProcessed)

  /** Empty-job guard: refuse a truncate-and-load for a job that
    * processed zero records (`csv_to_postgres.py:66,91-92`) — protects
    * the destination from being wiped by a broken extract.
    */
  def requireNonEmpty(job: JobInfo): JobInfo = {
    require(job.numberRecordsProcessed > 0,
      s"bulk job ${job.id} processed 0 records — refusing truncate-and-load")
    job
  }

  /** Failed (or aborted) batches abort the load (the reference raises on
    * any batch in `Failed` when collecting results).
    */
  def failedBatches(job: JobInfo): Seq[BatchInfo] = job.batches.filter(isFailed)
}
