package graft.sources.salesforce

import java.io.InputStream
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

import graft.reverse.{BulkUpload, UploadResult}

/** HTTP error surfaced by the Salesforce endpoints (4xx/5xx after
  * retries; analogue of `BulkApiError`, `salesforce_bulk.py:34-41`).
  */
final class SfApiError(val statusCode: Int, message: String)
    extends RuntimeException(s"[$statusCode] $message")

/** Parsed `Sforce-Limit-Info` api-usage (`api.py:472-485` Usage). */
final case class ApiUsage(used: Long, total: Long) {
  def fractionUsed: Double = if (total == 0) 0.0 else used.toDouble / total
}

/** Production [[SfTransport]] + [[BulkUpload.UploadTransport]]: the
  * wire protocols the reference speaks, over real HTTP.
  *
  *  - REST SOQL with `query/` vs `queryAll/` endpoint split and
  *    `nextRecordsUrl` pagination (`simple_salesforce/api.py:343-425`);
  *    auth is the `Authorization: Bearer` header (`api.py:180-183`).
  *  - COUNT pushdown as `SELECT COUNT() ... WHERE ...` answered from
  *    `totalSize` (`query.py:53-65`).
  *  - Bulk V1 job lifecycle: XML `jobInfo` create with the
  *    `Sforce-Enable-PKChunking: chunkSize=N;` header, batch post,
  *    close doc, `X-SFDC-Session` auth
  *    (`salesforce_bulk/salesforce_bulk.py:147-208,235-296`). Every job
  *    is a CSV job, the one format pgsf speaks (`query_bulk.py`,
  *    `upload_table.py`).
  *  - Batch state settled once, at plan time: [[pkChunks]] polls the
  *    job's batch list until no batch is queued or in progress
  *    (`download.py:50-80`, the 600 s/10 s wait), closes the job
  *    (`download.py:107-114`), fails the scan on a failed batch and
  *    returns only `Completed` ones, so a partition reader fetches
  *    results without asking for the batch state again.
  *    The upload side's [[waitBatch]] shares the same deadline loop
  *    (`upload_table.py:89-96`, `salesforce_bulk.py:505-511`); which
  *    state means what is [[BulkManifest]]'s call alone.
  *  - One request loop ([[send]]): idempotent requests retry connection
  *    errors, POSTs never do.
  *  - Query rows and per-record upload outcomes (`UploadResult(id,
  *    success, created, error)`, `salesforce_bulk.py:498-546`) stream
  *    through one decoder: NUL bytes stripped (`:461-496`), then
  *    [[CsvWire]]. A JSON or XML body where CSV is expected fails the
  *    read.
  *
  * Partition tokens returned by [[pkChunks]] are `(jobId, batchId)` —
  * the server does the chunk split, so one Spark partition maps to one
  * server-side batch, exactly the reference's unit of download
  * parallelism. Thread-safe: `HttpClient` is shared and immutable
  * state only. Resolved on executors via [[SfTransports]] by name —
  * the instance itself never crosses a task boundary.
  */
final class HttpSfTransport(
    instanceUrl: String,
    sessionId: String,
    apiVersion: String = "52.0",
    pollIntervalMs: Long = 10000, // reference sleep_interval = 10 s
    pollTimeoutMs: Long = 600000, // reference timeout = 600 s
    maxRetries: Int = 3) extends SfTransport with BulkUpload.UploadTransport {

  @transient private lazy val client: HttpClient = HttpClient.newHttpClient()
  // floats as BigDecimal: a currency(18,2) value has more digits than a
  // double holds
  @transient private lazy val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  private def restBase = s"$instanceUrl/services/data/v$apiVersion/"
  private def bulkBase = s"$instanceUrl/services/async/$apiVersion"

  // ---- low-level HTTP -------------------------------------------------

  /** The one request loop. `read` consumes the response body stream
    * inside the loop, so a connection that drops while a small body is
    * read retries like one that drops before the headers; a streaming
    * caller returns the open stream, and a drop MID-stream surfaces to
    * its reader (the task rereads the partition on retry — at-least-
    * once reads). Retries are for IDEMPOTENT requests only — the
    * reference retries polling READS (`download.py:76-80`,
    * `upload_table.py:89-96`), never job/batch POSTs: a connection that
    * drops AFTER the server accepted a POST would re-post on retry and
    * create duplicate bulk jobs/batches (duplicate records written on
    * the reverse-ETL path). Non-idempotent requests fail fast and leave
    * the job inspectable/abortable, exactly like the reference.
    */
  private def send[A](b: HttpRequest.Builder, idempotent: Boolean = true)(
      read: HttpResponse[InputStream] => A): A = {
    var attempt = 0
    while (true) {
      try {
        val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofInputStream())
        if (resp.statusCode() >= 400) {
          val msg = try new String(resp.body().readNBytes(500), UTF_8)
            finally resp.body().close()
          throw new SfApiError(resp.statusCode(), msg)
        }
        return read(resp)
      } catch {
        case _: java.io.IOException if idempotent && attempt < maxRetries =>
          attempt += 1
          Thread.sleep(math.min(pollIntervalMs, 1000L) * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def bodyBytes(resp: HttpResponse[InputStream]): Array[Byte] = {
    val in = resp.body()
    try in.readAllBytes() finally in.close()
  }

  /** Poll `probe` every `pollIntervalMs` until it yields a value; after
    * `pollTimeoutMs` fail with `what` — the reference's 600 s/10 s wait
    * (`download.py:50-80`, `salesforce_bulk.py:505-511`).
    */
  private def poll[A](what: String)(probe: => Option[A]): A = {
    val deadline = System.nanoTime() + pollTimeoutMs * 1000000L
    while (true) {
      probe match {
        case Some(a) => return a
        case None =>
          if (System.nanoTime() > deadline)
            throw new SfApiError(408, s"$what after ${pollTimeoutMs / 1000} s")
          Thread.sleep(pollIntervalMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Latest `Sforce-Limit-Info: api-usage=used/total` seen on a REST
    * response (`api.py:466-500`) — quota observability so an
    * orchestrator can throttle before the org's daily limit trips.
    */
  @volatile var apiUsage: Option[ApiUsage] = None

  private val UsagePattern = """[^-]?api-usage=(\d+)/(\d+).*""".r

  private def restRequest(method: String, url: String,
      body: Option[String] = None): HttpRequest.Builder =
    HttpRequest.newBuilder(java.net.URI.create(url))
      .header("Authorization", "Bearer " + sessionId)
      .header("Content-Type", "application/json")
      .method(method, body.map(HttpRequest.BodyPublishers.ofString(_, UTF_8))
        .getOrElse(HttpRequest.BodyPublishers.noBody()))

  private def restGetJson(url: String): JsonNode =
    send(restRequest("GET", url)) { resp =>
      resp.headers().firstValue("Sforce-Limit-Info").ifPresent {
        case UsagePattern(used, total) =>
          apiUsage = Some(ApiUsage(used.toLong, total.toLong))
        case _ => ()
      }
      mapper.readTree(bodyBytes(resp))
    }

  /** An idempotent REST write whose answer is its status code. */
  private def restStatus(method: String, url: String, body: Option[String]): Int =
    send(restRequest(method, url, body)) { resp => resp.body().close(); resp.statusCode() }

  private def bulkRequest(path: String): HttpRequest.Builder =
    HttpRequest.newBuilder(java.net.URI.create(bulkBase + path))
      .header("X-SFDC-Session", sessionId)

  private def bulkGet[A](path: String)(read: HttpResponse[InputStream] => A): A =
    send(bulkRequest(path).GET())(read)

  /** POST, answered with an XML `jobInfo`/`batchInfo` document. */
  private def bulkPost(path: String, body: String, contentType: String,
      extraHeaders: Map[String, String] = Map.empty): org.w3c.dom.Element = {
    val b = bulkRequest(path)
      .header("Content-Type", s"$contentType; charset=UTF-8")
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8))
    extraHeaders.foreach { case (k, v) => b.header(k, v) }
    // POSTs never auto-retry (no duplicate jobs/batches)
    send(b, idempotent = false)(parseXml).getDocumentElement
  }

  // ---- XML helpers (jobInfo / batchInfoList / result-list) ------------

  private def parseXml(resp: HttpResponse[InputStream]): org.w3c.dom.Document = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true)
    val in = resp.body()
    try f.newDocumentBuilder().parse(in) finally in.close()
  }

  private def childMap(el: org.w3c.dom.Element): Map[String, String] = {
    val ns = el.getChildNodes
    (0 until ns.getLength).flatMap { i =>
      ns.item(i) match {
        case e: org.w3c.dom.Element => Some(e.getLocalName -> e.getTextContent)
        case _ => None
      }
    }.toMap
  }

  private def elements(doc: org.w3c.dom.Document, tag: String): Seq[org.w3c.dom.Element] = {
    val ns = doc.getElementsByTagNameNS("*", tag)
    (0 until ns.getLength).map(ns.item(_).asInstanceOf[org.w3c.dom.Element])
  }

  private val JobNs = "http://www.force.com/2009/06/asyncapi/dataload"

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** `create_job_doc` field order: operation, object,
    * [externalIdFieldName], [concurrencyMode], contentType
    * (`salesforce_bulk.py:252-274`); the content type is always CSV.
    */
  private def jobDoc(objectName: String, operation: String,
      externalIdField: Option[String] = None): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>""" +
      s"""<jobInfo xmlns="$JobNs">""" +
      s"<operation>$operation</operation>" +
      s"<object>${xmlEscape(objectName)}</object>" +
      externalIdField.map(f =>
        s"<externalIdFieldName>${xmlEscape(f)}</externalIdFieldName>").getOrElse("") +
      "<contentType>CSV</contentType></jobInfo>"

  private def stateDoc(state: String): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>""" +
      s"""<jobInfo xmlns="$JobNs"><state>$state</state></jobInfo>"""

  // ---- SfTransport ----------------------------------------------------

  /** GET sobjects/{name}/describe → field metadata
    * (`api.py:555-567`, consumed by `tabledesc.py:24-33`) — the FULL
    * attribute record the mapping rules key off: `calculated` and
    * `compoundFieldName` (default-selection exclusions), `unique` and
    * `defaultValue` (column DDL). `isIndexed` is NOT in describe — it
    * merges from [[fieldIndexes]] via `describeWithIndexes`.
    */
  override def describe(objectName: String): Seq[SfFieldMeta] = {
    val json = restGetJson(restBase + s"sobjects/$objectName/describe")
    def optNode(f: JsonNode, key: String): Option[JsonNode] =
      Option(f.get(key)).filterNot(_.isNull)
    json.get("fields").elements().asScala.map { f =>
      SfFieldMeta(
        name = f.get("name").asText(),
        sfType = f.get("type").asText(),
        length = if (f.has("length")) f.get("length").asInt() else 0,
        precision = if (f.has("precision")) f.get("precision").asInt() else 0,
        scale = if (f.has("scale")) f.get("scale").asInt() else 0,
        nillable = !f.has("nillable") || f.get("nillable").asBoolean(),
        unique = f.path("unique").asBoolean(false),
        calculated = f.path("calculated").asBoolean(false),
        compoundFieldName = optNode(f, "compoundFieldName").map(_.asText()),
        defaultValue = optNode(f, "defaultValue").map(JsonWire.scalar))
    }.toSeq
  }

  /** FieldDefinition IsIndexed fetch (`tabledesc.py:35-51`): the table
    * requires a reified-column filter (an unfiltered scan is a
    * MALFORMED_QUERY per the reference's note), so the SOQL pins
    * EntityDefinitionId — one paginated REST query, QualifiedApiName →
    * IsIndexed.
    */
  override def fieldIndexes(objectName: String): Map[String, Boolean] =
    restQueryRows("FieldDefinition", Seq("QualifiedApiName", "IsIndexed"),
        Some(s"EntityDefinitionId='$objectName'"), limit = None,
        includeDeleted = false)
      .flatMap { r =>
        r.get("QualifiedApiName").map(_.toString -> (r.get("IsIndexed") match {
          case Some(b: Boolean) => b
          case Some(x) => x.toString.equalsIgnoreCase("true")
          case None => false
        }))
      }.toMap

  private def queryEndpoint(includeDeleted: Boolean): String =
    if (includeDeleted) "queryAll/" else "query/"

  override def count(objectName: String, where: Option[String],
      includeDeleted: Boolean): Long = {
    val soql = s"SELECT COUNT() FROM $objectName" +
      where.map(w => s" WHERE $w").getOrElse("")
    val url = restBase + queryEndpoint(includeDeleted) +
      "?q=" + URLEncoder.encode(soql, "UTF-8")
    restGetJson(url).get("totalSize").asLong()
  }

  /** Bulk scan plan: create a PK-chunked query job, post the SOQL
    * batch, poll the job's batch list until the server's chunk split
    * is done (no batch queued or in progress, `download.py:50-80`),
    * close the job (`download.py:107-114`; a closed job's results stay
    * readable), fail the scan on a failed batch, and return one
    * `(jobId, batchId)` token per `Completed` batch — the original
    * batch ends `NotProcessed` under chunking and is excluded
    * (`bulk_states.py` ERROR_STATES). Empty result = server rejected
    * chunking for this object (`query_bulk.py:26-36` fallback).
    */
  override def pkChunks(objectName: String, fields: Seq[String],
      where: Option[String], includeDeleted: Boolean,
      chunkSize: Int): Seq[(String, String)] = {
    val operation = if (includeDeleted) "queryAll" else "query"
    val jobId =
      try {
        childMap(bulkPost("/job", jobDoc(objectName, operation), "application/xml",
          Map("Sforce-Enable-PKChunking" -> s"chunkSize=$chunkSize;")))("id")
      } catch {
        case e: SfApiError if e.getMessage.contains("PKChunking") =>
          return Nil // S2 fallback: single-partition REST scan
      }
    val soql = s"SELECT ${fields.mkString(",")} FROM $objectName" +
      where.map(w => s" WHERE $w").getOrElse("")
    bulkPost(s"/job/$jobId/batch", soql, "text/csv")
    val batches = poll(s"job $jobId still has pending batches") {
      Some(jobBatches(jobId)).filter(BulkManifest.isDone)
    }
    val failed = BulkManifest.failedBatches(batches).headOption.map(batchFailed(jobId, _))
    // a failing close must not hide the failed batch
    try closeJob(jobId)
    catch { case NonFatal(e) if failed.isDefined => failed.get.addSuppressed(e) }
    failed.foreach(e => throw e)
    BulkManifest.loadableBatches(batches).map(b => jobId -> b.id)
  }

  private def batchInfo(el: org.w3c.dom.Element): BatchInfo = {
    val m = childMap(el)
    BatchInfo(m("id"), m.getOrElse("state", ""), m.get("stateMessage"))
  }

  /** The job's batch list (`GET job/{id}/batch`). */
  private def jobBatches(jobId: String): Seq[BatchInfo] =
    elements(bulkGet(s"/job/$jobId/batch")(parseXml), "batchInfo").map(batchInfo)

  private def batchFailed(jobId: String, b: BatchInfo): SfApiError =
    new SfApiError(400, s"batch ${b.id} of job $jobId failed: " +
      b.stateMessage.getOrElse("(no stateMessage)"))

  override def query(objectName: String, fields: Seq[String],
      where: Option[String], limit: Option[Int], includeDeleted: Boolean,
      pkRange: Option[(String, String)]): Iterator[Map[String, Any]] =
    pkRange match {
      case Some((jobId, batchId)) => bulkBatchRows(jobId, batchId)
      case None => restQueryRows(objectName, fields, where, limit, includeDeleted)
    }

  // ---- REST path: paginated SOQL --------------------------------------

  /** Lazily follows `nextRecordsUrl` until `done` — the `query_all`
    * loop (`api.py:396-425`) as an iterator, so a page is only fetched
    * when the reader drains the previous one.
    */
  private def restQueryRows(objectName: String, fields: Seq[String],
      where: Option[String], limit: Option[Int],
      includeDeleted: Boolean): Iterator[Map[String, Any]] = {
    val soql = s"SELECT ${fields.mkString(",")} FROM $objectName" +
      where.map(w => s" WHERE $w").getOrElse("") +
      limit.map(n => s" LIMIT $n").getOrElse("")
    val first = restBase + queryEndpoint(includeDeleted) +
      "?q=" + URLEncoder.encode(soql, "UTF-8")
    new Iterator[Map[String, Any]] {
      private var page = restGetJson(first)
      private var recs = pageRecords(page)
      override def hasNext: Boolean = {
        while (!recs.hasNext && !page.path("done").asBoolean(true)) {
          // nextRecordsUrl is instance-relative (`api.py:382-385`)
          page = restGetJson(instanceUrl + page.get("nextRecordsUrl").asText())
          recs = pageRecords(page)
        }
        recs.hasNext
      }
      override def next(): Map[String, Any] = {
        if (!hasNext) throw new NoSuchElementException
        recs.next()
      }
    }
  }

  private def pageRecords(page: JsonNode): Iterator[Map[String, Any]] =
    page.get("records").elements().asScala.map(JsonWire.record)

  /** SOSL: GET search/?q=<SOSL> → {"searchRecords":[…]}; each
    * record's `attributes.type` lands as `_sobject_type` (the search
    * result set spans objects, unlike SOQL)
    * (`simple_salesforce/api.py:296-315`).
    */
  override def search(sosl: String): Seq[Map[String, Any]] =
    restGetJson(restBase + "search/?q=" + URLEncoder.encode(sosl, "UTF-8"))
      .path("searchRecords").elements().asScala.map { rec =>
        JsonWire.record(rec) +
          ("_sobject_type" -> rec.path("attributes").path("type").asText())
      }.toSeq

  // ---- Per-record CRUD (simple_salesforce SFType, api.py:591-713) -----

  private def sobjectUrl(objectName: String, tail: String = ""): String =
    restBase + s"sobjects/$objectName/" +
      (if (tail.isEmpty) "" else URLEncoder.encode(tail, "UTF-8")
        .replace("%2F", "/"))

  private def jsonBody(data: Map[String, Any]): String = {
    val node = mapper.createObjectNode()
    data.foreach {
      case (k, null) => node.putNull(k)
      case (k, v: Boolean) => node.put(k, v)
      case (k, v: Int) => node.put(k, v)
      case (k, v: Long) => node.put(k, v)
      case (k, v: Double) => node.put(k, v)
      case (k, v) => node.put(k, v.toString)
    }
    mapper.writeValueAsString(node)
  }

  override def recordGet(objectName: String, recordId: String): Map[String, Any] =
    JsonWire.record(restGetJson(sobjectUrl(objectName, recordId)))

  override def recordGetByExternalId(objectName: String, externalIdField: String,
      value: String): Map[String, Any] =
    JsonWire.record(restGetJson(sobjectUrl(objectName, s"$externalIdField/$value")))

  /** POST returns `{"id": "...", "success": true}` (`api.py:629-645`);
    * non-idempotent — never auto-retried (a duplicate create is data
    * corruption, same rule as bulk job POSTs).
    */
  override def recordCreate(objectName: String, data: Map[String, Any]): String =
    send(restRequest("POST", sobjectUrl(objectName), Some(jsonBody(data))),
      idempotent = false)(r => mapper.readTree(bodyBytes(r))).path("id").asText()

  /** PATCH is idempotent by semantics (same final state on replay). */
  override def recordUpdate(objectName: String, recordId: String,
      data: Map[String, Any]): Int =
    restStatus("PATCH", sobjectUrl(objectName, recordId), Some(jsonBody(data)))

  override def recordUpsertByExternalId(objectName: String, externalIdField: String,
      value: String, data: Map[String, Any]): Int =
    restStatus("PATCH", sobjectUrl(objectName, s"$externalIdField/$value"),
      Some(jsonBody(data)))

  override def recordDelete(objectName: String, recordId: String): Int =
    restStatus("DELETE", sobjectUrl(objectName, recordId), None)

  // ---- S7: Get Updated / Get Deleted ----------------------------------

  private val IsoTz = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'+00:00'")
    .withZone(java.time.ZoneOffset.UTC)

  private def rangeUrl(objectName: String, resource: String,
      start: java.sql.Timestamp, end: java.sql.Timestamp): String =
    restBase + s"sobjects/$objectName/$resource/?start=" +
      URLEncoder.encode(IsoTz.format(start.toInstant), "UTF-8") +
      "&end=" + URLEncoder.encode(IsoTz.format(end.toInstant), "UTF-8")

  /** GET sobjects/{name}/updated/?start=…&end=… → {"ids":[…]}
    * (`api.py:737-754`; surfaced by `query.py:26-34`).
    */
  override def updatedIds(objectName: String, start: java.sql.Timestamp,
      end: java.sql.Timestamp): Seq[String] =
    restGetJson(rangeUrl(objectName, "updated", start, end))
      .path("ids").elements().asScala.map(_.asText()).toSeq

  /** GET sobjects/{name}/deleted/?start=…&end=… →
    * {"deletedRecords":[{"id":…,"deletedDate":…}]} (`api.py:715-735`).
    */
  override def deletedIds(objectName: String, start: java.sql.Timestamp,
      end: java.sql.Timestamp): Seq[(String, java.sql.Timestamp)] =
    restGetJson(rangeUrl(objectName, "deleted", start, end))
      .path("deletedRecords").elements().asScala.map { r =>
        r.get("id").asText() ->
          java.sql.Timestamp.from(SfRowReader.instant(r.get("deletedDate").asText()))
      }.toSeq

  // ---- Bulk path: batch download --------------------------------------

  /** One server-side batch → rows: list its result ids from the XML
    * `<result-list>`, stream each CSV result body
    * (`salesforce_bulk.py:440-496`). The batch is already `Completed`:
    * [[pkChunks]] hands out no other token. Result bodies are consumed
    * as a STREAM (incremental NUL-strip → [[CsvWire]] over a Reader),
    * never materialized whole: a result file can approach 1 GB, and
    * one byte[] + String copy of it would OOM the executor.
    */
  private def bulkBatchRows(jobId: String, batchId: String): Iterator[Map[String, Any]] = {
    val results = s"/job/$jobId/batch/$batchId/result"
    val resultIds = bulkGet(results)(r => elements(parseXml(r), "result").map(_.getTextContent))
    resultIds.iterator.flatMap { rid =>
      val in = bulkGet(s"$results/$rid")(csvBody)
      // the wire decoder closes the stream at EOF, but a partially-
      // consumed iterator (LIMIT pushdown, task abort, a failed load)
      // is simply abandoned — the PartitionReader's close() cannot
      // reach it. Close it when the read ends however it ends
      ReadScope.closeAtEnd(in)
      CsvWire.parse(nulStripReader(in))
    }
  }

  /** A result body that must be CSV, as its open stream. Every job
    * declares CSV, so a JSON or XML body is a mis-declared response:
    * it fails the read, naming its type, instead of decoding as rows.
    */
  private def csvBody(resp: HttpResponse[InputStream]): InputStream = {
    val ctype = resp.headers().firstValue("Content-Type").orElse("")
    if (Seq("json", "xml").exists(ctype.toLowerCase.contains)) {
      resp.body().close()
      throw new SfApiError(resp.statusCode(),
        s"expected a CSV result body, got Content-Type '$ctype'")
    }
    resp.body()
  }

  /** Incremental NUL strip (`salesforce_bulk.py:495`) over a streamed
    * body; an all-NUL refill loops instead of returning 0 chars.
    */
  private def nulStripReader(in: InputStream): java.io.Reader =
    new java.io.FilterReader(
        new java.io.InputStreamReader(new java.io.BufferedInputStream(in), UTF_8)) {
      override def read(): Int = {
        var c = super.read()
        while (c == 0) c = super.read()
        c
      }
      override def read(cbuf: Array[Char], off: Int, len: Int): Int = {
        var kept = 0
        while (kept == 0) {
          val n = super.read(cbuf, off, len)
          if (n == -1) return -1
          var w = off
          var i = off
          while (i < off + n) {
            if (cbuf(i) != 0.toChar) { cbuf(w) = cbuf(i); w += 1 }
            i += 1
          }
          kept = w - off
        }
        kept
      }
    }

  /** `wait_for_batch` (`salesforce_bulk.py:505-511`): poll the batch
    * until it is no longer queued or in progress; a failed one raises
    * (`is_batch_done`, `:498-503`).
    */
  override def waitBatch(jobId: String, batchId: String): Unit = {
    val b = poll(s"batch $batchId not done") {
      Some(batchInfo(bulkGet(s"/job/$jobId/batch/$batchId")(parseXml).getDocumentElement))
        .filterNot(BulkManifest.isPending)
    }
    if (BulkManifest.isFailed(b)) throw batchFailed(jobId, b)
  }

  // ---- UploadTransport (reverse ETL, K5) ------------------------------

  override def createJob(objectName: String, operation: String,
      externalIdField: Option[String] = None,
      contentType: String = "CSV"): String = {
    require(contentType == "CSV",
      s"unsupported bulk contentType '$contentType': graft's Bulk V1 jobs are CSV")
    childMap(bulkPost("/job", jobDoc(objectName, operation, externalIdField),
      "application/xml"))("id")
  }

  override def postBatch(jobId: String, chunkCsv: String): String =
    childMap(bulkPost(s"/job/$jobId/batch", chunkCsv, "text/csv"))("id")

  override def closeJob(jobId: String): Unit =
    bulkPost(s"/job/$jobId", stateDoc("Closed"), "application/xml")

  /** Per-record upload outcome of GET job/batch/result: the CSV
    * `"Id","Success","Created","Error"` rows of `get_batch_results`
    * (`salesforce_bulk.py:498-546`), decoded inside the request loop so
    * a connection dropped mid-body retries.
    */
  override def batchResults(jobId: String, batchId: String): Seq[UploadResult] =
    bulkGet(s"/job/$jobId/batch/$batchId/result") { resp =>
      CsvWire.parse(nulStripReader(csvBody(resp))).map { row =>
        UploadResult(
          id = row.getOrElse("Id", "").toString,
          success = row.getOrElse("Success", "false").toString.equalsIgnoreCase("true"),
          created = row.getOrElse("Created", "false").toString.equalsIgnoreCase("true"),
          error = row.getOrElse("Error", "").toString)
      }.toSeq
    }
}

/** Closes the result streams a read opens when the read ends, however
  * it ends. Under Spark the read is a task, and its streams close with
  * it; on the driver the read is the body of [[apply]] (`Cli bulkload`
  * wraps its extract and load in one). Outside both — unit specs — the
  * EOF close is the only path. `close()` is idempotent.
  */
private[graft] object ReadScope {
  private val open = new ThreadLocal[List[java.io.Closeable]]

  def apply[A](body: => A): A = {
    val outer = open.get
    open.set(Nil)
    try body
    finally {
      open.get.foreach(c => scala.util.Try(c.close()))
      open.set(outer)
    }
  }

  def closeAtEnd(c: java.io.Closeable): Unit = Option(org.apache.spark.TaskContext.get()) match {
    case Some(task) => task.addTaskCompletionListener[Unit](_ => c.close())
    case None => Option(open.get).foreach(l => open.set(c :: l))
  }
}

/** graft's one RFC-4180 CSV decoder: quoted fields, doubled-quote
  * escapes, embedded commas/newlines. It decodes bulk result bodies,
  * `Cli upload`'s input file and mapping files. Header row names the
  * fields; every value is a String (typed decode happens in SfRowReader
  * against the Spark schema). An empty field reads as "", quoted or not.
  */
private[graft] object CsvWire {

  /** Rows decode as the Reader drains — nothing requires the whole
    * body in memory (bulk result files can approach 1 GB). The reader
    * closes at EOF.
    */
  def parse(reader: java.io.Reader): Iterator[Map[String, Any]] = {
    val rows = parseRows(reader)
    if (!rows.hasNext) return Iterator.empty
    val header = rows.next()
    rows.map(r => header.zip(r).toMap[String, Any])
  }

  private[graft] def parseRows(reader: java.io.Reader): Iterator[Seq[String]] =
    new Iterator[Seq[String]] {
      private val in = new java.io.BufferedReader(reader)
      private var c: Int = in.read()
      private var closed = false
      private def advance(): Unit = {
        c = in.read()
        if (c == -1 && !closed) { closed = true; in.close() }
      }
      private def skipNewlines(): Unit =
        while (c == '\n' || c == '\r') advance()
      skipNewlines()
      override def hasNext: Boolean = c != -1
      override def next(): Seq[String] = {
        val fields = Seq.newBuilder[String]
        val sb = new StringBuilder
        var inQuotes = false
        var done = false
        while (!done) {
          if (c == -1) {
            fields += sb.result(); done = true
          } else if (inQuotes) {
            if (c == '"') {
              advance()
              if (c == '"') { sb.append('"'); advance() }
              else inQuotes = false
            } else { sb.append(c.toChar); advance() }
          } else c.toChar match {
            case '"' => inQuotes = true; advance()
            case ',' => fields += sb.result(); sb.clear(); advance()
            case '\n' | '\r' =>
              fields += sb.result(); done = true
              skipNewlines()
            case other => sb.append(other); advance()
          }
        }
        fields.result()
      }
    }
}

/** The JSON record decoder of REST pages, SOSL hits and per-record
  * GETs: `attributes` envelopes are dropped; scalars keep native types,
  * integral numbers as `Long` and the rest as exact `BigDecimal`
  * (SfRowReader converts against the Spark schema).
  */
private[graft] object JsonWire {

  def scalar(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isBoolean) n.booleanValue()
    else if (n.isIntegralNumber) n.longValue()
    else if (n.isNumber) n.decimalValue()
    else n.asText()

  /** A record object minus its `attributes` envelope, every value
    * through [[scalar]].
    */
  def record(n: JsonNode): Map[String, Any] =
    n.properties().asScala.filter(_.getKey != "attributes")
      .map(e => e.getKey -> scalar(e.getValue)).toMap
}
