package graft.reverse

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Reverse ETL (K5/T3, `upload_table.py`): DataFrame → canonical CSV →
  * size/count-bounded chunks → bulk-update batches.
  *
  * The chunker enforces BOTH bounds of the reference (≤10 MB and
  * ≤10 000 records per batch, header repeated per chunk,
  * `upload_table.py:15-16,43-74`). Posting runs per partition on the
  * executors — each partition chunks and posts its own rows, which is
  * the Spark-shaped version of the reference's sequential loop; the
  * batch wait/retry loop stays per batch.
  */
object BulkUpload {

  val DefaultMaxBytes: Int = 10 * 1024 * 1024
  val DefaultMaxRecords: Int = 10000

  /** Shared ISO8601/UTC formatter: `DateTimeFormatter` is immutable and
    * thread-safe, so one instance serves every executor thread (a
    * per-value `SimpleDateFormat` allocation was the hot-path cost
    * here).
    */
  private val IsoUtc = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  /** T1 — pgsf CSV value encoding: quote-doubling, booleans t/f, NULL
    * as empty, NUL bytes stripped (`query_poll_table.py:21-50`).
    */
  def encodeValue(v: Any): String = v match {
    case null => ""
    case b: Boolean => if (b) "t" else "f"
    case s: String => "\"" + s.replace("\u0000", "").replace("\"", "\"\"") + "\""
    case ts: java.sql.Timestamp => IsoUtc.format(ts.toInstant)
    case other => other.toString
  }

  def encodeRow(row: Row): String =
    (0 until row.length).map(i => encodeValue(row.get(i))).mkString(",")

  def header(schema: StructType): String =
    schema.fieldNames.map(n => "\"" + n.replace("\"", "\"\"") + "\"").mkString(",")

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

  /** K5 — chunk + post every partition's rows as batches of one job,
    * with per-record results. Job create/close are driver-side; batch
    * posting is distributed (each task posts its own partition's
    * chunks). Every batch's `UploadResult` rows land in a driver-held
    * DataFrame, so failed records are queryable instead of silently
    * dropped: `upload_table.py:89-103` prints them; a pipeline joins
    * them back to the source rows for retry/report.
    *
    * The upload runs as an ACTION (foreachPartition + collection
    * accumulator), never as a cached transformation: a lazy/cached
    * side-effecting Dataset can recompute after `closeJob` (cache
    * eviction) and post batches to a closed job, and its results are
    * only as durable as the cache. The accumulator merges from
    * SUCCESSFUL task attempts only, so the returned results carry no
    * duplicates; the POSTs themselves are at-least-once under task
    * retry (a Spark-level retry re-posts the partition's earlier
    * chunks — the server-side dedup a client cannot provide; the wire
    * transport fails fast on POST errors rather than auto-retrying,
    * see HttpSfTransport.send). Result volume is bounded by the upload
    * itself (one row per uploaded record), the same driver-side scope
    * as the reference's result loop.
    */
  def uploadWithResults(df: DataFrame, objectName: String,
      transportName: String, operation: String = "update",
      maxBytes: Int = DefaultMaxBytes,
      maxRecords: Int = DefaultMaxRecords,
      externalIdField: Option[String] = None): (String, DataFrame) = {
    validateOperation(operation, externalIdField)
    val spark = df.sparkSession
    val transport = UploadTransports.get(transportName)
    val jobId = transport.createJob(objectName, operation, externalIdField)
    val hdr = header(df.schema)
    import spark.implicits._
    val acc = spark.sparkContext.collectionAccumulator[
      (String, String, Boolean, Boolean, String)]("upload_results")
    df.foreachPartition { rows: Iterator[Row] =>
      val t = UploadTransports.get(transportName)
      chunk(hdr, rows.map(encodeRow), maxBytes, maxRecords).foreach { c =>
        val batchId = t.postBatch(jobId, c)
        t.waitBatch(jobId, batchId)
        t.batchResults(jobId, batchId)
          .foreach(r => acc.add((batchId, r.id, r.success, r.created, r.error)))
      }
    }
    transport.closeJob(jobId)
    val results = acc.value.asScala.toSeq
      .toDF("batch_id", "id", "success", "created", "error")
    (jobId, results)
  }

  /** Per-batch upload-result census — the verification readout a
    * reverse-ETL run reports (`upload_table.py:89-103` prints each
    * failed `UploadResult`; a pipeline aggregates them): records,
    * successes, creates, failures, and the error label per posted
    * batch, from [[uploadWithResults]]'s result frame.
    *
    * Oracle-determinism harness: the source is ordered by `orderCol`
    * and laid out as ONE partition stream, so chunk boundaries (every
    * `maxRecords` rows) and the mock transport's per-batch failure
    * positions are pure row-arithmetic an oracle restates with
    * `row_number()` — a production upload keeps the parallel
    * per-partition posting of [[uploadWithResults]] instead (batch composition
    * is then layout-dependent, which a real server tolerates and an
    * oracle cannot). The batch ordinal parses off the transport's
    * `batch-<n>` id scheme ([[MockUploadTransport]]'s counter); a
    * transport minting opaque ids (the HTTP wire's 15/18-char keys)
    * FAILS LOUDLY below rather than silently collapsing every batch
    * into one NULL group — this census is a harness readout, and an
    * id outside the contract means it was pointed at the wrong
    * transport. Result volume is bounded by the upload slice.
    */
  def uploadResultCensus(df: DataFrame, orderCol: String,
      objectName: String, transportName: String,
      maxRecords: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val ordered = df.repartition(1).sortWithinPartitions(orderCol)
    val (_, res) = uploadWithResults(ordered, objectName, transportName,
      operation = "insert", maxRecords = maxRecords)
    // the ordinal segment must be exactly 'batch-<n>' — at the id
    // start or after a '/' (the mock mints 'job-<...>/batch-<n>'), so
    // 'rebatch-7' cannot parse as 7 — and the guard catches NULL ids
    // too (when(NULL, ...) would fall through to otherwise — the
    // silent collapse this guard exists to stop)
    val ord = regexp_extract(col("batch_id"), "(^|/)batch-(\\d+)$", 2)
    res
      .select(when(ord.isNull || ord === "",
          raise_error(concat(lit("uploadResultCensus: batch_id '"),
            coalesce(col("batch_id"), lit("NULL")),
            lit("' does not match the 'batch-<n>' id scheme this " +
              "census requires"))))
        .otherwise(ord.cast("int")).as("batch_ord"),
        col("success"), col("created"), col("error"))
      .groupBy("batch_ord")
      .agg(count(lit(1)).as("n_records"),
        sum(when(col("success"), 1L).otherwise(0L)).as("n_success"),
        sum(when(col("created"), 1L).otherwise(0L)).as("n_created"),
        sum(when(!col("success"), 1L).otherwise(0L)).as("n_failed"),
        max(col("error")).as("err"))
      .orderBy("batch_ord")
  }
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

/** In-memory upload transport double (same registry scope rationale as
  * MockSfTransport).
  */
object MockUploadTransport {
  def register(name: String, t: MockUploadTransport): Unit =
    UploadTransports.register(name, t)
  def get(name: String): MockUploadTransport =
    UploadTransports.get(name).asInstanceOf[MockUploadTransport]
}

/** @param failEvery every n-th record reports success=false (exercises
  *                   the per-record error path without a server)
  */
final class MockUploadTransport(failEvery: Int = 0)
    extends BulkUpload.UploadTransport {
  private val jobCounter = new java.util.concurrent.atomic.AtomicInteger
  private val batchCounter = new java.util.concurrent.atomic.AtomicInteger
  val batches = TrieMap.empty[String, String]   // batchId -> chunk csv
  @volatile var closedJobs: List[String] = Nil

  @volatile var lastExternalIdField: Option[String] = None

  override def createJob(objectName: String, operation: String,
      externalIdField: Option[String] = None,
      contentType: String = "CSV"): String = {
    lastExternalIdField = externalIdField
    s"job-$objectName-$operation-${jobCounter.incrementAndGet()}"
  }
  override def postBatch(jobId: String, chunkCsv: String): String = {
    val id = s"$jobId/batch-${batchCounter.incrementAndGet()}"
    batches.put(id, chunkCsv)
    id
  }
  override def waitBatch(jobId: String, batchId: String): Unit = ()
  override def batchResults(jobId: String, batchId: String): Seq[UploadResult] = {
    // one result row per posted record, in order (`salesforce_bulk.py:
    // 524-533` CSV rows); ids are synthetic like a real insert's
    val csv = batches.getOrElse(batchId, "")
    val n = csv.linesIterator.size - 1 // minus header
    (0 until math.max(n, 0)).map { i =>
      val fail = failEvery > 0 && (i + 1) % failEvery == 0
      UploadResult(s"$batchId-rec-$i", success = !fail, created = !fail,
        error = if (fail) "MOCK_FAILURE:row rejected" else "")
    }
  }
  override def closeJob(jobId: String): Unit = closedJobs ::= jobId
}
