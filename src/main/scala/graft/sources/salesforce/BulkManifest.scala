package graft.sources.salesforce

/** Bulk V1 batch manifest model (S3/F4, `bulk_states.py:1-10`,
  * `download.py:46-114`, `csv_to_postgres.py:48-97`): which batches of
  * an async extract job are loadable and when the job is complete. The
  * only place a batch state string is interpreted: the HTTP transport's
  * plan-time wait and upload wait ask it.
  */
final case class BatchInfo(id: String, state: String,
    stateMessage: Option[String] = None)

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
  def isDone(batches: Seq[BatchInfo]): Boolean = !batches.exists(isPending)

  /** F4 — only `Completed` batches are loadable; `NotProcessed` is the
    * PK-chunking artifact skipped at download (`download.py:96-99`,
    * `csv_to_postgres.py:73-81`).
    */
  def loadableBatches(batches: Seq[BatchInfo]): Seq[BatchInfo] =
    batches.filter(_.state == Completed)

  /** Failed (or aborted) batches fail the scan (the reference raises on
    * any batch in `Failed` when collecting results).
    */
  def failedBatches(batches: Seq[BatchInfo]): Seq[BatchInfo] = batches.filter(isFailed)
}
