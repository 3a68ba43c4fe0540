package graft.reverse

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row}

/** Reverse ETL (K5/T3, `upload_table.py`): rows → canonical CSV →
  * size/count-bounded chunks → bulk-update batches.
  *
  * The chunker enforces BOTH bounds of the reference (≤10 MB and
  * ≤10 000 records per batch, header repeated per chunk,
  * `upload_table.py:15-16,43-74`). Posting is one loop on the driver:
  * chunk and post every batch, then wait for and read each, then close
  * the job.
  */
object BulkUpload {

  val DefaultMaxBytes: Int = 10 * 1024 * 1024
  val DefaultMaxRecords: Int = 10000

  /** T1 — pgsf CSV value encoding: quote-doubling, booleans t/f, NULL
    * as empty, NUL bytes stripped (`query_poll_table.py:21-50`).
    * Datetimes pass through whole: ISO8601 UTC with their fractional
    * seconds, so COPY lands the same value the INSERT path binds.
    */
  def encodeValue(v: Any): String = v match {
    case null => ""
    case b: Boolean => if (b) "t" else "f"
    case s: String => "\"" + s.replace("\u0000", "").replace("\"", "\"\"") + "\""
    case ts: java.sql.Timestamp =>
      java.time.format.DateTimeFormatter.ISO_INSTANT.format(ts.toInstant)
    case other => other.toString
  }

  def encodeRow(row: Row): String =
    (0 until row.length).map(i => encodeValue(row.get(i))).mkString(",")

  def header(columns: Seq[String]): String =
    columns.map(n => "\"" + n.replace("\"", "\"\"") + "\"").mkString(",")

  /** T3 — greedy chunking under both bounds; header repeated per chunk.
    * A record larger than maxBytes still ships alone (the reference
    * would as well — the server rejects it, not the client).
    */
  def chunk(header: String, records: Iterator[String],
      maxBytes: Int = DefaultMaxBytes,
      maxRecords: Int = DefaultMaxRecords): Iterator[String] = new Iterator[String] {
    private val headerBytes = header.getBytes("UTF-8").length + 1
    private var pending: Option[String] = None

    override def hasNext: Boolean = pending.isDefined || records.hasNext

    override def next(): String = {
      val sb = new StringBuilder(header).append('\n')
      var bytes = headerBytes
      var n = 0
      var full = false
      while (!full && (pending.isDefined || records.hasNext)) {
        val rec = pending.getOrElse(records.next())
        pending = None
        val recBytes = rec.getBytes("UTF-8").length + 1
        if (n > 0 && (bytes + recBytes > maxBytes || n + 1 > maxRecords)) {
          pending = Some(rec)
          full = true
        } else {
          sb.append(rec).append('\n')
          bytes += recBytes
          n += 1
          if (n >= maxRecords) full = true
        }
      }
      sb.result()
    }
  }

  /** The reverse-path job types the reference's vendored client can
    * create (`salesforce_bulk.py:157-208`: create_insert_job /
    * create_upsert_job(external_id_name) / create_update_job /
    * create_delete_job + hardDelete). pgsf itself only ever uses
    * `update`; a real reverse-ETL user hits `upsert` almost
    * immediately, so the engine speaks all of them.
    */
  val Operations: Set[String] =
    Set("insert", "update", "upsert", "delete", "hardDelete")

  /** Upsert needs the external-id field; nothing else may carry one
    * (`salesforce_bulk.py:174-183` — external_id_name is the upsert
    * job's required extra; the job XML of other operations has no
    * externalIdFieldName element).
    */
  private[reverse] def validateOperation(operation: String,
      externalIdField: Option[String]): Unit = {
    require(Operations(operation),
      s"unsupported bulk operation '$operation' (one of ${Operations.toSeq.sorted.mkString("/")})")
    if (operation == "upsert")
      require(externalIdField.exists(_.nonEmpty),
        "upsert requires externalIdField (the Salesforce external-id field name)")
    else
      require(externalIdField.isEmpty,
        s"externalIdField is only valid for upsert, not '$operation'")
  }

  /** Upload-side wire seam (`salesforce_bulk` job/batch lifecycle). */
  trait UploadTransport extends Serializable {
    /** `contentType` mirrors `create_job_doc(contentType='CSV')`
      * (`salesforce_bulk.py:252-274`): the job's declared batch
      * payload/result format. CSV is the one format pgsf and graft
      * speak; the HTTP transport refuses any other value.
      */
    def createJob(objectName: String, operation: String,
        externalIdField: Option[String] = None,
        contentType: String = "CSV"): String
    def postBatch(jobId: String, chunkCsv: String): String
    /** Poll until the batch completes (`wait_for_batch`, 600 s/10 s,
      * retrying connection errors — `upload_table.py:89-96`).
      */
    def waitBatch(jobId: String, batchId: String): Unit
    /** Per-record outcome of a completed upload batch — the
      * `UploadResult(id, success, created, error)` rows of
      * `salesforce_bulk.py:498-546`.
      */
    def batchResults(jobId: String, batchId: String): Seq[UploadResult]
    def closeJob(jobId: String): Unit
  }

  /** K5 — chunk + post `rows` (values in `columns` order) as the
    * batches of one job, with per-record results, in one driver loop
    * (`upload_table.py:43-103`): create the job; post every chunk;
    * then wait for each batch and read its results; close the job,
    * also when a step fails. Every batch is posted before any is waited
    * on, because the server works through a job's queued batches in
    * parallel: one wait covers them all instead of one poll interval
    * per batch. Each chunk is posted once: the wire transport fails
    * fast on POST errors rather than auto-retrying (see
    * HttpSfTransport.send). Every batch's `UploadResult` rows come back,
    * so failed records are reportable instead of silently dropped:
    * `upload_table.py:89-103` prints them; a pipeline joins them back to
    * the source rows for retry/report. Result volume is one row per
    * uploaded record, the same driver-side scope as the reference's
    * result loop.
    * @return the job id, and per posted batch in post order its id and
    *         per-record results
    */
  def uploadWithResults(columns: Seq[String], rows: Iterator[Row],
      objectName: String, t: UploadTransport, operation: String = "update",
      maxBytes: Int = DefaultMaxBytes,
      maxRecords: Int = DefaultMaxRecords,
      externalIdField: Option[String] = None): (String, Seq[(String, Seq[UploadResult])]) = {
    validateOperation(operation, externalIdField)
    val jobId = t.createJob(objectName, operation, externalIdField)
    val batches = try {
      val posted = chunk(header(columns), rows.map(encodeRow), maxBytes, maxRecords)
        .map(t.postBatch(jobId, _)).toVector
      posted.map { id => t.waitBatch(jobId, id); id -> t.batchResults(jobId, id) }
    } catch {
      case e: Throwable =>
        // a failing close must not hide the upload's own error
        try t.closeJob(jobId) catch { case NonFatal(c) => e.addSuppressed(c) }
        throw e
    }
    t.closeJob(jobId)
    (jobId, batches)
  }

  /** Per-batch upload-result census — the verification readout a
    * reverse-ETL run reports (`upload_table.py:89-103` prints each
    * failed `UploadResult`; a pipeline aggregates them): records,
    * successes, creates, failures, and the greatest error label per
    * posted batch, from [[uploadWithResults]] over `df` ordered by
    * `orderCol`.
    *
    * Oracle-determinism harness: the rows reach the one posting loop in
    * `orderCol` order, so chunk boundaries (every `maxRecords` rows) and
    * the mock transport's per-batch failure positions are pure
    * row-arithmetic an oracle restates with `row_number()`. The batch
    * ordinal parses off the transport's `batch-<n>` id scheme
    * ([[MockUploadTransport]]'s counter); a transport minting opaque ids
    * (the HTTP wire's 15/18-char keys) FAILS LOUDLY rather than
    * collapsing every batch into one group — this census is a harness
    * readout, and an id outside the contract means it was pointed at the
    * wrong transport.
    */
  def uploadResultCensus(df: DataFrame, orderCol: String,
      objectName: String, t: UploadTransport,
      maxRecords: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (_, batches) = uploadWithResults(df.columns.toSeq,
      df.orderBy(orderCol).toLocalIterator().asScala, objectName, t,
      operation = "insert", maxRecords = maxRecords)
    batches.map { case (batchId, rs) =>
      (batchOrdinal(batchId), rs.size.toLong, rs.count(_.success).toLong,
        rs.count(_.created).toLong, rs.count(!_.success).toLong,
        rs.map(_.error).filter(_ != null).maxOption.orNull)
    }.sortBy(_._1)
      .toDF("batch_ord", "n_records", "n_success", "n_created", "n_failed", "err")
  }

  // exactly 'batch-<n>', at the id start or after a '/' (the mock mints
  // 'job-<...>/batch-<n>'), so 'rebatch-7' cannot parse as 7
  private val BatchOrdinal = "(?:.*/)?batch-(\\d+)".r

  private def batchOrdinal(batchId: String): Int = Option(batchId).collect {
    case BatchOrdinal(n) => n.toInt
  }.getOrElse(throw new IllegalArgumentException(s"uploadResultCensus: batch_id " +
    s"'$batchId' does not match the 'batch-<n>' id scheme this census requires"))
}

/** Per-record upload outcome (`salesforce_bulk.py:29` namedtuple). */
final case class UploadResult(id: String, success: Boolean, created: Boolean,
    error: String)

/** JVM-local upload-transport registry (same resolution pattern and
  * rationale as `SfTransports`).
  */
object UploadTransports {
  private val registry = TrieMap.empty[String, BulkUpload.UploadTransport]
  def register(name: String, t: BulkUpload.UploadTransport): Unit =
    registry.put(name, t)
  def get(name: String): BulkUpload.UploadTransport =
    registry.getOrElse(name, throw new IllegalArgumentException(
      s"no upload transport registered under '$name'"))
}

/** In-memory upload transport double.
  * @param failEvery every n-th record reports success=false (exercises
  *                  the per-record error path without a server)
  */
final class MockUploadTransport(failEvery: Int = 0)
    extends BulkUpload.UploadTransport {
  private val jobCounter = new java.util.concurrent.atomic.AtomicInteger
  private val batchCounter = new java.util.concurrent.atomic.AtomicInteger
  val batches = TrieMap.empty[String, String]   // batchId -> chunk csv
  @volatile var createdJobs: List[String] = Nil
  @volatile var closedJobs: List[String] = Nil

  @volatile var lastExternalIdField: Option[String] = None

  override def createJob(objectName: String, operation: String,
      externalIdField: Option[String] = None,
      contentType: String = "CSV"): String = {
    lastExternalIdField = externalIdField
    val id = s"job-$objectName-$operation-${jobCounter.incrementAndGet()}"
    createdJobs ::= id
    id
  }
  override def postBatch(jobId: String, chunkCsv: String): String = {
    val id = s"$jobId/batch-${batchCounter.incrementAndGet()}"
    batches.put(id, chunkCsv)
    id
  }
  override def waitBatch(jobId: String, batchId: String): Unit = ()
  override def batchResults(jobId: String, batchId: String): Seq[UploadResult] = {
    // one result row per posted record, in order (`salesforce_bulk.py:
    // 524-533` CSV rows); ids are synthetic like a real insert's. Records,
    // not lines: a quoted field may hold a newline
    val csv = batches.getOrElse(batchId, "")
    val n = graft.sources.salesforce.CsvWire.parseRows(
      new java.io.StringReader(csv)).size - 1 // minus header
    (0 until math.max(n, 0)).map { i =>
      val fail = failEvery > 0 && (i + 1) % failEvery == 0
      UploadResult(s"$batchId-rec-$i", success = !fail, created = !fail,
        error = if (fail) "MOCK_FAILURE:row rejected" else "")
    }
  }
  override def closeJob(jobId: String): Unit = closedJobs ::= jobId
}
