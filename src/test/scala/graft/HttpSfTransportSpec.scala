package graft

import java.io.OutputStream
import java.net.InetSocketAddress
import java.sql.Timestamp
import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.concurrent.TrieMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterAll

import graft.reverse.BulkUpload
import graft.sources.salesforce.{CsvWire, HttpSfTransport, MockSfTransport, ReadScope,
  SalesforceSource, SfApiError, SfFieldMeta, SfTransports}

/** The real HTTP transport against recorded protocol fixtures served by
  * a local JDK HttpServer — the same request/response shapes the
  * vendored client tests replay (`test_api.py:594-626` pagination,
  * `salesforce_bulk.py` job XML / batch CSV). Covers: describe-driven
  * schema, REST pagination via nextRecordsUrl, queryAll split,
  * COUNT()-with-WHERE, PK-chunked bulk scan (header, job XML, batch
  * split, the plan-time batch-list wait and failed-batch refusal, the
  * job close, NUL-stripped quoted CSV, the refusal of a non-CSV result
  * body), the driver-side REST read (exact currency, `+0000`
  * datetimes, no Bulk job), connection-error retry, and the upload
  * path incl. per-record UploadResult parsing.
  */
class HttpSfTransportSpec extends SparkSpec with BeforeAndAfterAll {

  // ---- recorded fixtures ---------------------------------------------

  private val DescribeJson =
    """{"name":"Contact","fields":[
      |{"name":"Id","type":"id","length":18,"nillable":false},
      |{"name":"Name","type":"string","length":80,"nillable":true},
      |{"name":"NumEmployees","type":"int","nillable":true}
      |]}""".stripMargin

  // rich describe (Lead) for the mapping-rule attributes: compound
  // parent+member, a formula field, unique and defaultValue — plus the
  // FieldDefinition records that contribute IsIndexed (describe itself
  // never carries index state; `tabledesc.py:35-77` merges the two)
  private val LeadDescribeJson =
    """{"name":"Lead","fields":[
      |{"name":"Id","type":"id","length":18,"nillable":false},
      |{"name":"Name","type":"string","length":121,"nillable":true,
      | "compoundFieldName":null},
      |{"name":"FirstName","type":"string","length":40,"nillable":true,
      | "compoundFieldName":"Name"},
      |{"name":"Email","type":"email","length":80,"nillable":true,
      | "unique":true},
      |{"name":"IsActive","type":"boolean","nillable":false,
      | "defaultValue":true},
      |{"name":"Score__c","type":"double","precision":18,"scale":2,
      | "nillable":true,"calculated":true}
      |]}""".stripMargin
  private val LeadFieldDefJson =
    """{"totalSize":3,"done":true,"records":[
      |{"attributes":{"type":"FieldDefinition","url":"/x"},
      | "QualifiedApiName":"Id","IsIndexed":true},
      |{"attributes":{"type":"FieldDefinition","url":"/x"},
      | "QualifiedApiName":"Email","IsIndexed":true},
      |{"attributes":{"type":"FieldDefinition","url":"/x"},
      | "QualifiedApiName":"Ghost__c","IsIndexed":true}
      |]}""".stripMargin

  // a currency(18,2) value with more digits than a double holds, and a
  // datetime the way REST JSON writes it (`+0000`, not `Z`)
  private val DealDescribeJson =
    """{"name":"Deal","fields":[
      |{"name":"Id","type":"id","length":18,"nillable":false},
      |{"name":"Amount","type":"currency","precision":18,"scale":2,"nillable":true},
      |{"name":"SystemModstamp","type":"datetime","nillable":false}
      |]}""".stripMargin
  private val DealPage =
    """{"totalSize":1,"done":true,"records":[
      |{"attributes":{"type":"Deal","url":"/sobjects/Deal/006A"},
      | "Id":"006A","Amount":1234567890123456.78,
      | "SystemModstamp":"2019-11-18T15:28:14.000+0000"}]}""".stripMargin

  private def rec(id: String, name: String, n: Long): String =
    s"""{"attributes":{"type":"Contact","url":"/sobjects/Contact/$id"},
       |"Id":"$id","Name":"$name","NumEmployees":$n}""".stripMargin

  private val Page1 =
    s"""{"totalSize":3,"done":false,
       |"nextRecordsUrl":"/services/data/v52.0/query/01gRR-2000",
       |"records":[${rec("001A", "alpha", 1)},${rec("001B", "beta", 2)}]}""".stripMargin
  private val Page2 =
    s"""{"totalSize":3,"done":true,
       |"records":[${rec("001C", "gam\\u0000ma", 3)}]}""".stripMargin

  private val JobNs = "http://www.force.com/2009/06/asyncapi/dataload"
  private def jobXml(id: String, queued: Int = 0, inProgress: Int = 0): String =
    s"""<?xml version="1.0" encoding="UTF-8"?><jobInfo xmlns="$JobNs">
       |<id>$id</id><state>Open</state>
       |<numberBatchesQueued>$queued</numberBatchesQueued>
       |<numberBatchesInProgress>$inProgress</numberBatchesInProgress>
       |</jobInfo>""".stripMargin
  private def batchXml(id: String, state: String): String =
    s"""<?xml version="1.0" encoding="UTF-8"?><batchInfo xmlns="$JobNs">
       |<id>$id</id><state>$state</state></batchInfo>""".stripMargin
  private val BatchListXml =
    s"""<?xml version="1.0" encoding="UTF-8"?><batchInfoList xmlns="$JobNs">
       |<batchInfo><id>751ORIG</id><state>NotProcessed</state></batchInfo>
       |<batchInfo><id>751A</id><state>Completed</state></batchInfo>
       |<batchInfo><id>751B</id><state>Completed</state></batchInfo>
       |</batchInfoList>""".stripMargin
  private def batchListXml(batches: (String, String)*): String =
    s"""<?xml version="1.0" encoding="UTF-8"?><batchInfoList xmlns="$JobNs">""" +
      batches.map { case (id, st) => s"<batchInfo><id>$id</id><state>$st</state></batchInfo>" }
        .mkString + "</batchInfoList>"
  // a chunk the server failed: its stateMessage must reach the error
  private val FailedBatchListXml =
    s"""<?xml version="1.0" encoding="UTF-8"?><batchInfoList xmlns="$JobNs">
       |<batchInfo><id>751ORIG</id><state>NotProcessed</state></batchInfo>
       |<batchInfo><id>751OK</id><state>Completed</state></batchInfo>
       |<batchInfo><id>751BAD</id><state>Failed</state>
       |<stateMessage>InvalidBatch : Failed to process query</stateMessage></batchInfo>
       |</batchInfoList>""".stripMargin
  private val ResultListXml =
    s"""<?xml version="1.0" encoding="UTF-8"?><result-list xmlns="$JobNs">
       |<result>752R1</result></result-list>""".stripMargin
  // quoted comma, doubled-quote escape, embedded newline, NUL byte
  private val CsvA =
    "\"Id\",\"Name\",\"NumEmployees\"\n" +
      "\"003A\",\" acme, inc. \"\"west\"\"\",\"7\"\n" +
      "\"003B\",\"two\nlines\",\"8\"\n"
  private val CsvB = // embeds a real NUL byte inside the Name value
    "\"Id\",\"Name\",\"NumEmployees\"\n\"003C\",\"nu" + 0.toChar +
      "l stripped\",\"9\"\n"
  // Salesforce renders a null field as an empty one, quoted or not
  private val CsvNulls =
    "\"Id\",\"Name\",\"NumEmployees\"\n\"003N\",,\"\"\n\"003M\",\"\",\n"
  private val UploadResultCsv =
    "\"Id\",\"Success\",\"Created\",\"Error\"\n" +
      "\"003X\",\"true\",\"true\",\"\"\n" +
      "\"\",\"false\",\"false\",\"REQUIRED_FIELD_MISSING:Name missing:Name--\"\n"

  // ---- fixture server -------------------------------------------------

  private var server: HttpServer = _
  private var base: String = _
  val seen = TrieMap.empty[String, Any] // request capture for assertions
  private val uploadBatchPolls = new java.util.concurrent.atomic.AtomicInteger
  private val pendingListPolls = new java.util.concurrent.atomic.AtomicInteger
  private val bigBodyClosed = new java.util.concurrent.CountDownLatch(1)
  /** "METHOD path" of every request, oldest first. */
  private val requests = new java.util.concurrent.ConcurrentLinkedQueue[String]
  /** "jobId state" of every job state POST (a close), oldest first. */
  private val jobStates = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private def closes(jobId: String): Int = {
    import scala.jdk.CollectionConverters._
    jobStates.asScala.count(_ == s"$jobId Closed")
  }

  private def respond(ex: HttpExchange, body: String, status: Int = 200,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length)
    val os: OutputStream = ex.getResponseBody
    os.write(bytes); os.close()
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val q = Option(ex.getRequestURI.getRawQuery)
        .map(s => URLDecoder.decode(s.stripPrefix("q="), "UTF-8")).getOrElse("")
      requests.add(s"${ex.getRequestMethod} $path")
      try {
        (ex.getRequestMethod, path) match {
          // ---- REST
          case ("GET", "/services/data/v52.0/sobjects/Contact/describe") =>
            seen.put("describeAuth", ex.getRequestHeaders.getFirst("Authorization"))
            ex.getResponseHeaders.set("Sforce-Limit-Info",
              "api-usage=18/15000; per-app-api-usage=2/250(appName=graft)")
            respond(ex, DescribeJson)
          case ("GET", p) if p.startsWith("/services/data/v52.0/queryAll") =>
            seen.put("queryAllSoql", q)
            if (q.startsWith("SELECT COUNT()")) respond(ex,
              """{"totalSize":42,"done":true,"records":[]}""")
            else respond(ex, Page1)
          case ("GET", "/services/data/v52.0/query/01gRR-2000") =>
            respond(ex, Page2)
          case ("GET", "/services/data/v52.0/search/") =>
            seen.put("searchSosl", q)
            respond(ex,
              """{"searchRecords":[
                |{"attributes":{"type":"Contact","url":"/x/003A"},"Id":"003A","Name":"Waldo W"},
                |{"attributes":{"type":"Account","url":"/x/001B"},"Id":"001B","Name":"Waldo Inc"}]}""".stripMargin)
          // ---- per-record CRUD (SFType surface)
          case ("GET", "/services/data/v52.0/sobjects/Contact/003REC") =>
            respond(ex,
              """{"attributes":{"type":"Contact","url":"/x"},
                |"Id":"003REC","Name":"Rec","NumEmployees":7}""".stripMargin)
          case ("GET", "/services/data/v52.0/sobjects/Contact/Ext__c/abc") =>
            respond(ex,
              """{"attributes":{"type":"Contact"},"Id":"003EXT","Ext__c":"abc"}""")
          case ("POST", "/services/data/v52.0/sobjects/Contact/") =>
            seen.put("recordCreateBody", readBody(ex))
            respond(ex, """{"id":"003NEW","success":true,"errors":[]}""", 201)
          case ("PATCH", "/services/data/v52.0/sobjects/Contact/003REC") =>
            seen.put("recordUpdateBody", readBody(ex))
            ex.sendResponseHeaders(204, -1); ex.close()
          case ("PATCH", "/services/data/v52.0/sobjects/Contact/Ext__c/abc") =>
            seen.put("recordUpsertBody", readBody(ex))
            ex.sendResponseHeaders(204, -1); ex.close()
          case ("DELETE", "/services/data/v52.0/sobjects/Contact/003REC") =>
            seen.put("recordDeleted", true)
            ex.sendResponseHeaders(204, -1); ex.close()
          case ("GET", "/services/data/v52.0/sobjects/Contact/updated/") =>
            seen.put("updatedRange", ex.getRequestURI.getRawQuery)
            respond(ex,
              """{"ids":["001A","001B"],"latestDateCovered":"2024-02-01T00:00:00.000+0000"}""")
          case ("GET", "/services/data/v52.0/sobjects/Contact/deleted/") =>
            respond(ex,
              """{"deletedRecords":[{"id":"001Z","deletedDate":"2024-01-15T08:30:00.000Z"}],
                |"earliestDateAvailable":"2024-01-01T00:00:00.000+0000",
                |"latestDateCovered":"2024-02-01T00:00:00.000+0000"}""".stripMargin)
          case ("GET", "/services/data/v52.0/sobjects/Lead/describe") =>
            respond(ex, LeadDescribeJson)
          case ("GET", "/services/data/v52.0/sobjects/Deal/describe") =>
            respond(ex, DealDescribeJson)
          case ("GET", p) if p.startsWith("/services/data/v52.0/query")
              && q.contains("FROM Deal") =>
            seen.put("dealSoql", q)
            respond(ex, DealPage)
          case ("GET", p) if p.startsWith("/services/data/v52.0/query")
              && q.contains("FROM FieldDefinition") =>
            seen.put("fieldDefSoql", q)
            respond(ex, LeadFieldDefJson)
          case ("GET", p) if p.startsWith("/services/data/v52.0/query") =>
            seen.put("querySoql", q)
            if (q.startsWith("SELECT COUNT()")) respond(ex,
              """{"totalSize":17,"done":true,"records":[]}""")
            else respond(ex, Page1)
          // ---- Bulk: job create (query + upload) and close
          case ("POST", "/services/async/52.0/job") =>
            val body = readBody(ex)
            seen.put("jobDoc", body)
            seen.put("pkChunkHeader",
              ex.getRequestHeaders.getFirst("Sforce-Enable-PKChunking"))
            seen.put("sessionHeader", ex.getRequestHeaders.getFirst("X-SFDC-Session"))
            if (Seq("insert", "upsert", "delete", "hardDelete")
                .exists(op => body.contains(s"<operation>$op</operation>")))
              respond(ex, jobXml("750UP"), contentType = "application/xml")
            else if (seen.get("rejectChunking").contains(true) &&
              ex.getRequestHeaders.getFirst("Sforce-Enable-PKChunking") != null)
              respond(ex, "Contact is not supported to use PKChunking", 400,
                "text/plain")
            else if (body.contains("<object>Pending</object>"))
              respond(ex, jobXml("750WAIT"), contentType = "application/xml")
            else if (body.contains("<object>Broken</object>"))
              respond(ex, jobXml("750FAIL"), contentType = "application/xml")
            else respond(ex, jobXml("750JOB"), contentType = "application/xml")
          case ("POST", "/services/async/52.0/job/750UP") =>
            seen.put("uploadCloseDoc", readBody(ex))
            respond(ex, jobXml("750UP"), contentType = "application/xml")
          case ("POST", p) if p.matches("/services/async/52\\.0/job/[^/]+") =>
            val jid = p.split('/').last
            val state = "<state>([^<]*)</state>".r.findFirstMatchIn(readBody(ex))
              .fold("")(_.group(1))
            jobStates.add(s"$jid $state")
            // the failed-batch job's close fails too: the batch error must win
            if (jid == "750FAIL") respond(ex, "close refused", 500, "text/plain")
            else respond(ex, jobXml(jid), contentType = "application/xml")
          // ---- Bulk: batches
          case ("POST", "/services/async/52.0/job/750JOB/batch") =>
            seen.put("batchSoql", readBody(ex))
            respond(ex, batchXml("751ORIG", "Queued"), contentType = "application/xml")
          case ("POST", "/services/async/52.0/job/750WAIT/batch" |
              "/services/async/52.0/job/750FAIL/batch") =>
            respond(ex, batchXml("751ORIG", "Queued"), contentType = "application/xml")
          case ("GET", "/services/async/52.0/job/750WAIT/batch") =>
            // the chunk split in progress: Queued, then InProgress, then done
            val list = pendingListPolls.getAndIncrement() match {
              case 0 => batchListXml("751ORIG" -> "Queued")
              case 1 => batchListXml("751ORIG" -> "NotProcessed", "751W" -> "InProgress")
              case _ => batchListXml("751ORIG" -> "NotProcessed", "751W" -> "Completed")
            }
            respond(ex, list, contentType = "application/xml")
          case ("GET", "/services/async/52.0/job/750FAIL/batch") =>
            respond(ex, FailedBatchListXml, contentType = "application/xml")
          case ("POST", "/services/async/52.0/job/750UP/batch") =>
            seen.put("uploadBatchCsv", readBody(ex))
            seen.put("uploadBatchContentType",
              ex.getRequestHeaders.getFirst("Content-Type"))
            respond(ex, batchXml("753B", "Queued"), contentType = "application/xml")
          case ("GET", p) if p.matches("/services/async/52\\.0/job/[^/]+") =>
            // job status, as a server answers it for any job
            respond(ex, jobXml(p.split('/').last), contentType = "application/xml")
          case ("GET", "/services/async/52.0/job/750JOB/batch") =>
            respond(ex, BatchListXml, contentType = "application/xml")
          case ("GET", "/services/async/52.0/job/750JOB/batch/751N/result") =>
            respond(ex, ResultListXml, contentType = "application/xml")
          case ("GET", "/services/async/52.0/job/750JOB/batch/751N/result/752R1") =>
            respond(ex, CsvNulls, contentType = "text/csv")
          case ("GET", "/services/async/52.0/job/750UP/batch/753B") =>
            // first poll InProgress, then Completed — exercises the wait loop
            val st = if (uploadBatchPolls.getAndIncrement() == 0) "InProgress"
                     else "Completed"
            respond(ex, batchXml("753B", st), contentType = "application/xml")
          case ("GET", "/services/async/52.0/job/750JOB/batch/751A/result") =>
            respond(ex, ResultListXml, contentType = "application/xml")
          case ("GET", "/services/async/52.0/job/750JOB/batch/751B/result") =>
            respond(ex, ResultListXml, contentType = "application/xml")
          case ("GET", "/services/async/52.0/job/750JOB/batch/751BIG/result") =>
            respond(ex, ResultListXml, contentType = "application/xml")
          case ("GET", "/services/async/52.0/job/750JOB/batch/751BIG/result/752R1") =>
            // an endless body: a write fails once the client closes the stream
            ex.getResponseHeaders.set("Content-Type", "text/csv")
            ex.sendResponseHeaders(200, 0)
            val os = ex.getResponseBody
            val rows = ("\"003X\",\"row\",\"1\"\n" * 1000).getBytes(UTF_8)
            try { os.write("Id,Name,NumEmployees\n".getBytes(UTF_8)); while (true) os.write(rows) }
            catch { case _: java.io.IOException => bigBodyClosed.countDown() }
          case ("GET", "/services/async/52.0/job/750JOB/batch/751A/result/752R1") =>
            respond(ex, CsvA, contentType = "text/csv")
          case ("GET", "/services/async/52.0/job/750JOB/batch/751B/result/752R1") =>
            respond(ex, CsvB, contentType = "text/csv")
          case ("GET", "/services/async/52.0/job/750UP/batch/753B/result") =>
            respond(ex, UploadResultCsv, contentType = "text/csv")
          // ---- mis-declared result bodies: JSON or XML where CSV is due
          case ("GET", "/services/async/52.0/job/750JOB/batch/751J/result") =>
            respond(ex, ResultListXml, contentType = "application/xml")
          case ("GET", "/services/async/52.0/job/750JOB/batch/751J/result/752R1") =>
            respond(ex,
              """[{"attributes":{"type":"Contact"},"Id":"005J","Name":"json row","NumEmployees":9},
                |{"Id":"005K","Name":null,"NumEmployees":null}]""".stripMargin,
              contentType = "application/json")
          case ("GET", "/services/async/52.0/job/750UP/batch/753J/result") =>
            respond(ex,
              """[{"id":"003J","success":true,"created":true,"errors":[]},
                |{"id":null,"success":false,"created":false,
                |"errors":[{"statusCode":"DUPLICATE_VALUE","message":"dup found","fields":["Name"]}]}]"""
                .stripMargin,
              contentType = "application/json")
          case ("GET", "/services/async/52.0/job/750UP/batch/753X/result") =>
            respond(ex,
              s"""<?xml version="1.0" encoding="UTF-8"?><results xmlns="$JobNs">
                 |<result><id>003Y</id><success>true</success><created>false</created></result>
                 |<result><id/><success>false</success><created>false</created>
                 |<errors><fields>Email</fields><message>bad email</message>
                 |<statusCode>INVALID_EMAIL_ADDRESS</statusCode></errors></result>
                 |</results>""".stripMargin,
              contentType = "application/xml")
          case (m, p) =>
            respond(ex, s"""{"error":"no fixture for $m $p"}""", 404)
        }
      } catch {
        case t: Throwable => respond(ex, t.toString, 500, "text/plain")
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    base = s"http://localhost:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  private def transport(pollMs: Long = 5): HttpSfTransport =
    new HttpSfTransport(base, "SESSION-TOKEN", "52.0",
      pollIntervalMs = pollMs, pollTimeoutMs = 5000, maxRetries = 3)

  // ---- REST path ------------------------------------------------------

  test("describe parses field metadata and sends Bearer auth") {
    val t = transport()
    val metas = t.describe("Contact")
    assert(metas.map(_.name) == Seq("Id", "Name", "NumEmployees"))
    assert(metas.head.length == 18 && !metas.head.nillable)
    assert(seen("describeAuth") == "Bearer SESSION-TOKEN")
    // quota observability: Sforce-Limit-Info parsed off the response
    assert(t.apiUsage.contains(graft.sources.salesforce.ApiUsage(18L, 15000L)))
  }

  test("describeWithIndexes: full mapping attributes + FieldDefinition merge") {
    val t = transport()
    val metas = t.describeWithIndexes("Lead")
    // the FieldDefinition SOQL pins the reified-column filter the
    // table requires (tabledesc.py:40-44)
    assert(seen("fieldDefSoql") ==
      "SELECT QualifiedApiName,IsIndexed FROM FieldDefinition" +
        " WHERE EntityDefinitionId='Lead'")
    // field-for-field identical to what the mock path would seed — the
    // HTTP transport no longer degrades the mapping attributes
    val expected = Seq(
      SfFieldMeta("Id", "id", length = 18, nillable = false, isIndexed = true),
      SfFieldMeta("Name", "string", length = 121),
      SfFieldMeta("FirstName", "string", length = 40,
        compoundFieldName = Some("Name")),
      SfFieldMeta("Email", "email", length = 80, unique = true,
        isIndexed = true),
      SfFieldMeta("IsActive", "boolean", nillable = false,
        defaultValue = Some(true)),
      SfFieldMeta("Score__c", "double", precision = 18, scale = 2,
        calculated = true))
    assert(metas == expected)
    val mock = new MockSfTransport(Map("Lead" -> expected), Map.empty)
    assert(mock.describeWithIndexes("Lead") == metas)
    // a FieldDefinition row naming a field describe doesn't carry is
    // dropped (the reference's warning branch)
    assert(!metas.exists(_.name == "Ghost__c"))
    // and the merged record drives mapping + DDL over the wire: the
    // formula and the compound member fall out of default selection,
    // UNIQUE / DEFAULT / the secondary index render from the fetched
    // attributes
    val fields = metas.map(_.toSfField)
    val selected = graft.types.SfSchema.defaultSelection(fields)
    assert(selected.map(_.name) == Seq("Id", "Name", "Email", "IsActive"))
    val ddl = graft.types.SfSchema.createTableDdl("sf", "lead", fields)
    assert(ddl.contains("Email") && ddl.contains("UNIQUE"))
    assert(ddl.contains("DEFAULT true"))
    val idx = graft.types.SfSchema.createIndexDdl("sf", "lead", fields,
      mappingIndexed = Set("Email", "Name"))
    assert(idx == Seq("CREATE INDEX ON sf.lead (Email)"))
  }

  test("REST query follows nextRecordsUrl across pages and strips NUL") {
    val rows = transport().query("Contact", Seq("Id", "Name", "NumEmployees"),
      Some("NumEmployees > 0"), None, includeDeleted = false, None).toSeq
    assert(rows.map(_("Id")) == Seq("001A", "001B", "001C"))
    assert(seen("querySoql") ==
      "SELECT Id,Name,NumEmployees FROM Contact WHERE NumEmployees > 0")
    // typed JSON values survive (numbers as Long)
    assert(rows.head("NumEmployees") == 1L)
  }

  test("includeDeleted routes to the queryAll endpoint") {
    transport().query("Contact", Seq("Id"), None, Some(5),
      includeDeleted = true, None).toSeq
    assert(seen("queryAllSoql").toString.startsWith("SELECT Id FROM Contact"))
    assert(seen("queryAllSoql").toString.endsWith("LIMIT 5"))
  }

  test("COUNT() composes with the pushed WHERE and reads totalSize") {
    val n = transport().count("Contact", Some("NumEmployees > 5"),
      includeDeleted = false)
    assert(n == 17L)
    assert(seen("querySoql") ==
      "SELECT COUNT() FROM Contact WHERE NumEmployees > 5")
  }

  test("updated/deleted id-range resources parse ids and timestamps") {
    val t = transport()
    val s = Timestamp.valueOf("2024-01-01 00:00:00")
    val e = Timestamp.valueOf("2024-02-01 00:00:00")
    assert(t.updatedIds("Contact", s, e) == Seq("001A", "001B"))
    // start/end rendered as URL-encoded ISO8601 with explicit +00:00
    assert(seen("updatedRange").toString ==
      "start=2024-01-01T00%3A00%3A00%2B00%3A00&end=2024-02-01T00%3A00%3A00%2B00%3A00")
    val del = t.deletedIds("Contact", s, e)
    assert(del == Seq("001Z" ->
      Timestamp.from(java.time.Instant.parse("2024-01-15T08:30:00.000Z"))))
  }

  // ---- bulk path ------------------------------------------------------

  test("pkChunks creates a PK-chunked job and returns spawned batch tokens") {
    seen.put("rejectChunking", false)
    jobStates.clear()
    val chunks = transport().pkChunks("Contact", Seq("Id", "Name", "NumEmployees"),
      Some("NumEmployees > 0"), includeDeleted = false, chunkSize = 50000)
    assert(chunks == Seq("750JOB" -> "751A", "750JOB" -> "751B"))
    assert(seen("pkChunkHeader") == "chunkSize=50000;")
    assert(seen("sessionHeader") == "SESSION-TOKEN")
    val doc = seen("jobDoc").toString
    assert(doc.contains("<operation>query</operation>") &&
      doc.contains("<object>Contact</object>") &&
      doc.contains("<contentType>CSV</contentType>"))
    assert(seen("batchSoql") ==
      "SELECT Id,Name,NumEmployees FROM Contact WHERE NumEmployees > 0")
    // the batches have settled: the job is closed, once
    assert(closes("750JOB") == 1 && jobStates.size == 1, jobStates.toString)
  }

  test("pkChunks fails the scan on a Failed batch, naming it and its stateMessage") {
    jobStates.clear()
    val e = intercept[SfApiError] {
      transport().pkChunks("Broken", Seq("Id"), None, includeDeleted = false,
        chunkSize = 1000)
    }
    assert(e.getMessage.contains(
      "batch 751BAD of job 750FAIL failed: InvalidBatch : Failed to process query"),
      e.getMessage)
    // the job is closed all the same; the failed close rides along
    assert(closes("750FAIL") == 1, jobStates.toString)
    assert(e.getSuppressed.exists(_.getMessage.contains("close refused")))
  }

  test("the plan polls the batch list while chunks are Queued or InProgress, no job status") {
    pendingListPolls.set(0)
    requests.clear()
    jobStates.clear()
    val chunks = transport().pkChunks("Pending", Seq("Id"), None,
      includeDeleted = false, chunkSize = 1000)
    assert(chunks == Seq("750WAIT" -> "751W"))
    assert(pendingListPolls.get == 3) // Queued, InProgress, then done
    assert(closes("750WAIT") == 1 && jobStates.size == 1, jobStates.toString)
    assert(!requests.contains("GET /services/async/52.0/job/750WAIT"),
      requests.toString)
  }

  test("bulk batch download parses quoted CSV and strips NUL bytes") {
    val rows = transport().query("Contact", Seq("Id", "Name", "NumEmployees"),
      None, None, includeDeleted = false, Some("750JOB" -> "751A")).toSeq
    assert(rows.map(_("Id")) == Seq("003A", "003B"))
    assert(rows.head("Name") == " acme, inc. \"west\"") // comma + quote escape
    assert(rows(1)("Name") == "two\nlines") // embedded newline
    val rowsB = transport().query("Contact", Nil, None, None,
      includeDeleted = false, Some("750JOB" -> "751B")).toSeq
    assert(rowsB.head("Name") == "nul stripped") // NUL gone at the wire
  }

  test("a driver-side read that fails mid-chunk closes the chunk's result stream") {
    // a load that fails after the first row of a chunk, inside a ReadScope
    val e = intercept[IllegalStateException](ReadScope {
      val rows = transport().query("Contact", Seq("Id", "Name", "NumEmployees"),
        None, None, includeDeleted = false, Some("750JOB" -> "751BIG"))
      assert(rows.next()("Id") == "003X")
      throw new IllegalStateException("load failed")
    })
    assert(e.getMessage == "load failed")
    // the scope closed the open body: the server's next write fails
    assert(bigBodyClosed.await(10, java.util.concurrent.TimeUnit.SECONDS))
  }

  test("an empty Bulk CSV field lands as NULL for text and numbers alike") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("Id", StringType),
      StructField("Name", StringType), StructField("NumEmployees", IntegerType)))
    val reader = new graft.sources.salesforce.SfRowReader(transport().query("Contact",
      schema.fieldNames.toSeq, None, None, includeDeleted = false,
      Some("750JOB" -> "751N")), schema)
    val rows = Iterator.continually(reader).takeWhile(_.next()).map(_.get().copy()).toSeq
    assert(rows.map(_.getUTF8String(0).toString) == Seq("003N", "003M"))
    assert(rows.forall(r => r.isNullAt(1) && r.isNullAt(2)))
  }

  test("PKChunking rejection falls back to the un-chunked REST scan") {
    seen.put("rejectChunking", true)
    try {
      val chunks = transport().pkChunks("Contact", Seq("Id"), None,
        includeDeleted = false, chunkSize = 1000)
      assert(chunks.isEmpty) // S2 fallback: caller plans a single partition
    } finally seen.put("rejectChunking", false)
  }

  test("end-to-end DSv2 read over HTTP: describe schema + bulk partitions") {
    SfTransports.register("http-fixture", transport())
    val df = spark.read.format("salesforce")
      .option("object", "Contact")
      .option("transport", "http-fixture")
      .load()
    assert(df.schema.fieldNames.toSeq == Seq("Id", "Name", "NumEmployees"))
    requests.clear()
    jobStates.clear()
    val got = df.collect().map(r => r.getString(0)).sorted.toSeq
    assert(got == Seq("003A", "003B", "003C")) // both chunk batches landed
    // the plan read the batch list once; the readers went straight to
    // the results: no job-status GET, no per-batch state GET
    import scala.jdk.CollectionConverters._
    val sent = requests.asScala.toSeq
    assert(sent.count(_ == "GET /services/async/52.0/job/750JOB/batch") == 1,
      sent.mkString("\n"))
    assert(!sent.exists(r => r == "GET /services/async/52.0/job/750JOB" ||
      r.matches("GET /services/async/52\\.0/job/[^/]+/batch/[^/]+")),
      sent.mkString("\n"))
    assert(df.rdd.getNumPartitions == 2) // one per server-side batch
    // every query job the read created was closed exactly once
    val created = requests.asScala.count(_ == "POST /services/async/52.0/job")
    assert(created >= 1 && closes("750JOB") == created, jobStates.toString)
  }

  test("driver-side REST read lands exact currency and +0000 datetimes") {
    val t = transport()
    requests.clear()
    val schema = SalesforceSource.schemaOf(t, "Deal")
    assert(schema("Amount").dataType.typeName == "decimal(18,2)")
    val rows = SalesforceSource.rows(t, "Deal", schema, None, includeDeleted = false).toSeq
    assert(rows.length == 1)
    assert(rows.head.getDecimal(1) == new java.math.BigDecimal("1234567890123456.78"))
    assert(rows.head.getTimestamp(2) ==
      Timestamp.from(java.time.Instant.parse("2019-11-18T15:28:14Z")))
    assert(seen("dealSoql") == "SELECT Id,Amount,SystemModstamp FROM Deal")
    import scala.jdk.CollectionConverters._
    assert(!requests.asScala.exists(_.contains("/services/async/")),
      requests.asScala.mkString("\n")) // no Bulk job
  }

  // ---- resilience -----------------------------------------------------

  test("connection errors retry before surfacing (download.py semantics)") {
    val flaky = new java.net.ServerSocket(0)
    @volatile var calls = 0
    val t = new Thread(() => {
      while (!flaky.isClosed) {
        try {
          val s = flaky.accept()
          calls += 1
          if (calls == 1) s.close() // abrupt EOF — client sees IOException
          else {
            val body = """{"totalSize":7,"done":true,"records":[]}"""
            s.getOutputStream.write(
              ("HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n" +
                s"Content-Length: ${body.length}\r\n\r\n$body").getBytes(UTF_8))
            s.close()
          }
        } catch { case _: Throwable => () }
      }
    })
    t.setDaemon(true); t.start()
    try {
      val tr = new HttpSfTransport(s"http://localhost:${flaky.getLocalPort}",
        "S", "52.0", pollIntervalMs = 5, pollTimeoutMs = 2000, maxRetries = 3)
      assert(tr.count("Contact", None, includeDeleted = false) == 7L)
      assert(calls >= 2) // first connection dropped, retry succeeded
    } finally flaky.close()
  }

  test("a connection dropped on a result-body GET is retried") {
    val flaky = new java.net.ServerSocket(0)
    val bodyCalls = new java.util.concurrent.atomic.AtomicInteger
    val t = new Thread(() => {
      while (!flaky.isClosed) {
        try {
          val s = flaky.accept()
          val in = new java.io.BufferedReader(
            new java.io.InputStreamReader(s.getInputStream, UTF_8))
          val path = in.readLine().split(" ")(1)
          while (Option(in.readLine()).exists(_.nonEmpty)) () // headers
          def reply(status: String, ctype: String, body: String): Unit = {
            val b = body.getBytes(UTF_8)
            s.getOutputStream.write((s"HTTP/1.1 $status\r\nContent-Type: $ctype\r\n" +
              s"Content-Length: ${b.length}\r\nConnection: close\r\n\r\n").getBytes(UTF_8) ++ b)
          }
          if (path.endsWith("/job/750JOB/batch/751A/result"))
            reply("200 OK", "application/xml", ResultListXml)
          else if (path.endsWith("/job/750JOB/batch/751A/result/752R1")) {
            // the first body request drops without a response
            if (bodyCalls.incrementAndGet() > 1) reply("200 OK", "text/csv", CsvA)
          } else reply("404 Not Found", "text/plain", s"no fixture for $path")
          s.close()
        } catch { case _: Throwable => () }
      }
    })
    t.setDaemon(true); t.start()
    try {
      val tr = new HttpSfTransport(s"http://localhost:${flaky.getLocalPort}",
        "S", "52.0", pollIntervalMs = 5, pollTimeoutMs = 2000, maxRetries = 3)
      val rows = tr.query("Contact", Seq("Id", "Name", "NumEmployees"), None, None,
        includeDeleted = false, Some("750JOB" -> "751A")).toSeq
      assert(rows.map(_("Id")) == Seq("003A", "003B"))
      assert(bodyCalls.get >= 2) // first connection dropped, retry succeeded
    } finally flaky.close()
  }

  test("SOSL search: q encoding, cross-object records, _sobject_type") {
    val tr = transport()
    val hits = tr.search("FIND {Waldo} IN ALL FIELDS RETURNING Contact(Id, Name)")
    assert(seen("searchSosl").toString ==
      "FIND {Waldo} IN ALL FIELDS RETURNING Contact(Id, Name)")
    assert(hits.map(h => (h("_sobject_type"), h("Id"), h("Name"))) == Seq(
      ("Contact", "003A", "Waldo W"), ("Account", "001B", "Waldo Inc")))
    // quick_search wraps the bare term (api.py:317-328)
    tr.quickSearch("Waldo")
    assert(seen("searchSosl").toString == "FIND {Waldo}")
  }

  test("per-record CRUD: get/create/update/upsert/delete over the wire") {
    val tr = transport()
    val rec = tr.recordGet("Contact", "003REC")
    assert(rec("Id") == "003REC" && rec("NumEmployees") == 7L &&
      !rec.contains("attributes"))
    assert(tr.recordGetByExternalId("Contact", "Ext__c", "abc")("Id") == "003EXT")
    val id = tr.recordCreate("Contact", Map("Name" -> "n1", "NumEmployees" -> 3))
    assert(id == "003NEW")
    assert(seen("recordCreateBody").toString.contains("\"NumEmployees\":3"))
    assert(tr.recordUpdate("Contact", "003REC", Map("Name" -> "n2")) == 204)
    assert(seen("recordUpdateBody").toString.contains("\"Name\":\"n2\""))
    assert(tr.recordUpsertByExternalId("Contact", "Ext__c", "abc",
      Map("Name" -> "n3")) == 204)
    assert(seen("recordUpsertBody").toString.contains("\"Name\":\"n3\""))
    assert(tr.recordDelete("Contact", "003REC") == 204)
    assert(seen.get("recordDeleted").contains(true))
  }

  // ---- upload path ----------------------------------------------------

  test("upload job round trip: batch post, wait loop, per-record results, close") {
    uploadBatchPolls.set(0)
    val tr = transport()
    val jobId = tr.createJob("Contact", "insert")
    assert(jobId == "750UP")
    assert(seen("jobDoc").toString.contains("<operation>insert</operation>"))
    val batchId = tr.postBatch(jobId, "\"Id\",\"Name\"\n\"1\",\"x\"\n")
    assert(batchId == "753B")
    assert(seen("uploadBatchContentType").toString.startsWith("text/csv"))
    tr.waitBatch(jobId, batchId) // InProgress → Completed
    assert(uploadBatchPolls.get() >= 2)
    val results = tr.batchResults(jobId, batchId)
    assert(results.size == 2)
    assert(results.head == graft.reverse.UploadResult("003X", true, true, ""))
    assert(!results(1).success &&
      results(1).error.startsWith("REQUIRED_FIELD_MISSING"))
    tr.closeJob(jobId)
    assert(seen("uploadCloseDoc").toString.contains("<state>Closed</state>"))
  }

  test("every Bulk job declares CSV; createJob refuses any other contentType") {
    seen.put("rejectChunking", false)
    transport().pkChunks("Contact", Seq("Id"), None, includeDeleted = false,
      chunkSize = 1000)
    val query = seen("jobDoc").toString
    assert(query.contains("<operation>query</operation>") &&
      query.contains("<contentType>CSV</contentType>"), query)
    transport().createJob("Contact", "insert")
    val upload = seen("jobDoc").toString
    assert(upload.contains("<operation>insert</operation>") &&
      upload.contains("<contentType>CSV</contentType>"), upload)
    val e = intercept[IllegalArgumentException] {
      transport().createJob("Contact", "insert", None, contentType = "JSON")
    }
    assert(e.getMessage.contains("'JSON'"), e.getMessage)
  }

  test("a JSON or XML body where CSV is expected fails the read, naming its type") {
    val query = intercept[SfApiError] {
      transport().query("Contact", Seq("Id", "Name", "NumEmployees"), None, None,
        includeDeleted = false, Some("750JOB" -> "751J")).toSeq
    }
    assert(query.getMessage.contains("application/json"), query.getMessage)
    val json = intercept[SfApiError](transport().batchResults("750UP", "753J"))
    assert(json.getMessage.contains("application/json"), json.getMessage)
    val xml = intercept[SfApiError](transport().batchResults("750UP", "753X"))
    assert(xml.getMessage.contains("application/xml"), xml.getMessage)
  }

  test("reverse-path job types: upsert/delete/hardDelete job XML") {
    val tr = transport()
    // upsert: externalIdFieldName rides between object and contentType
    // (salesforce_bulk.py:252-274 field order)
    tr.createJob("Contact", "upsert", Some("Ext_Id__c"))
    val up = seen("jobDoc").toString
    assert(up.contains("<operation>upsert</operation>"))
    assert(up.contains("<externalIdFieldName>Ext_Id__c</externalIdFieldName>"))
    assert(up.indexOf("<object>") < up.indexOf("<externalIdFieldName>") &&
      up.indexOf("<externalIdFieldName>") < up.indexOf("<contentType>"),
      s"field order must be operation, object, externalIdFieldName, contentType: $up")
    // delete/hardDelete/update: plain operation, NO external-id element
    for (op <- Seq("delete", "hardDelete", "update")) {
      tr.createJob("Contact", op)
      val doc = seen("jobDoc").toString
      assert(doc.contains(s"<operation>$op</operation>"), doc)
      assert(!doc.contains("externalIdFieldName"), doc)
    }
  }

  test("uploadWithResults speaks upsert end-to-end; per-record results flow") {
    uploadBatchPolls.set(0)
    val (jobId, batches) = BulkUpload.uploadWithResults(Seq("Ext_Id__c", "Name"),
      Iterator(Row("e1", "a"), Row("e2", "b")), "Contact",
      transport(), operation = "upsert", externalIdField = Some("Ext_Id__c"))
    assert(jobId == "750UP")
    assert(seen("jobDoc").toString
      .contains("<externalIdFieldName>Ext_Id__c</externalIdFieldName>"))
    assert(batches.flatMap(_._2).size == 2)
  }

  test("uploadWithResults surfaces failed records in its per-batch results") {
    val (jobId, batches) = BulkUpload.uploadWithResults(Seq("Id", "Name"),
      Iterator(Row("1", "a"), Row("2", "b")), "Contact", transport(),
      operation = "insert")
    assert(jobId == "750UP")
    assert(batches.map(_._1) == Seq("753B"))
    val failed = batches.flatMap(_._2).filterNot(_.success)
    assert(failed.size == 1 && failed.head.error.startsWith("REQUIRED_FIELD_MISSING"))
  }

  // ---- CSV decoder ----------------------------------------------------

  test("CsvWire handles quotes, escapes, embedded separators, CRLF") {
    val rows = CsvWire.parseRows(
      new java.io.StringReader("a,b\r\n\"x,1\",\"he said \"\"hi\"\"\"\r\n,\n")).toSeq
    assert(rows == Seq(Seq("a", "b"), Seq("x,1", "he said \"hi\""), Seq("", "")))
  }
}
