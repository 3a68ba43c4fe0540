package graft

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.{DriverManager, Timestamp}
import java.time.Instant
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll

import graft.cli.Cli

/** The FULL CLI lifecycle (README §3.1: login → tabledesc → bulkload →
  * sync → upload → abort → gc) chained over the production
  * [[graft.sources.salesforce.HttpSfTransport]] against one local
  * fixture server — NO mock transport injection anywhere. `CliSpec`
  * covers each verb against mocks; this spec pins the verb HANDOFFS at
  * the wire layer (`login.py` → `tabledesc.py` → `query_bulk.py` →
  * `query_poll_table.py` → `upload_table.py` chained exactly as the
  * reference's cron drives them from one ~/.pgsf):
  *
  *  - the SOAP login's sessionId flows into every later REST call's
  *    `Authorization: Bearer` header via the config-bootstrapped
  *    transport (`salesforce.py:17-26`);
  *  - bulkload's wire shapes: the PK-chunking attempt (rejected →
  *    REST fallback) and the paginated full extract, read once (no
  *    COUNT()), landing in Derby with the `__sync` registration;
  *  - the sync round's F2 watermark WHERE in T6 UTC-second form,
  *    preflighted by the `--max-delta` wire COUNT, merged into the
  *    same Derby table, watermark advanced to the delta's max stamp;
  *  - upload's chunked CSV batch + per-record result parsing from the
  *    job the same transport registered;
  *  - with PK chunking accepted, bulkload and sync read through Bulk
  *    query jobs and close each one (`download.py:107-114`).
  */
class CliLifecycleWireSpec extends SparkSpec with BeforeAndAfterAll {

  // ---- fixture object ------------------------------------------------

  private case class C(id: String, name: String, n: Int, deleted: Boolean,
      stamp: String)

  private val v1 = Seq(
    C("003A", "alpha", 1, deleted = false, "2024-01-05T10:00:00Z"),
    C("003B", "beta", 2, deleted = false, "2024-01-05T09:00:00Z"),
    C("003C", "gamma", 3, deleted = false, "2024-01-05T10:00:00Z"))

  // delta past the bootstrap watermark: rename, soft delete, insert
  private val delta = Seq(
    C("003A", "alpha-renamed", 1, deleted = false, "2024-01-06T09:00:00Z"),
    C("003B", "beta", 2, deleted = true, "2024-01-06T09:00:00Z"),
    C("003D", "delta", 4, deleted = false, "2024-01-06T09:30:00Z"))

  private def recJson(c: C): String =
    s"""{"attributes":{"type":"Contact","url":"/sobjects/Contact/${c.id}"},
       |"Id":"${c.id}","Name":"${c.name}","NumEmployees":${c.n},
       |"IsDeleted":${c.deleted},"SystemModstamp":"${c.stamp}"}""".stripMargin

  private val DescribeJson =
    """{"name":"Contact","fields":[
      |{"name":"Id","type":"id","length":18,"nillable":false},
      |{"name":"Name","type":"string","length":80,"nillable":true},
      |{"name":"NumEmployees","type":"int","nillable":true},
      |{"name":"IsDeleted","type":"boolean","nillable":false},
      |{"name":"SystemModstamp","type":"datetime","nillable":false}
      |]}""".stripMargin

  private val FieldDefJson =
    """{"totalSize":1,"done":true,"records":[
      |{"attributes":{"type":"FieldDefinition","url":"/x"},
      | "QualifiedApiName":"Id","IsIndexed":true}
      |]}""".stripMargin

  private val SessionId = "SESSION-13"
  private val JobNs = "http://www.force.com/2009/06/asyncapi/dataload"
  private def jobXml(id: String): String =
    s"""<?xml version="1.0" encoding="UTF-8"?><jobInfo xmlns="$JobNs">
       |<id>$id</id><state>Open</state>
       |<numberBatchesQueued>0</numberBatchesQueued>
       |<numberBatchesInProgress>0</numberBatchesInProgress>
       |</jobInfo>""".stripMargin
  private def batchXml(id: String, state: String): String =
    s"""<?xml version="1.0" encoding="UTF-8"?><batchInfo xmlns="$JobNs">
       |<id>$id</id><state>$state</state></batchInfo>""".stripMargin
  private val UploadResultCsv =
    "\"Id\",\"Success\",\"Created\",\"Error\"\n" +
      "\"003A\",\"true\",\"false\",\"\"\n" +
      "\"\",\"false\",\"false\",\"REQUIRED_FIELD_MISSING:Name missing:Name--\"\n"

  // ---- fixture server ------------------------------------------------

  private var server: HttpServer = _
  private def base: String = s"http://localhost:${server.getAddress.getPort}"
  private val seen = TrieMap.empty[String, String]
  private val auths = TrieMap.empty[String, Int] // every Bearer/session seen
  private val loginCount = new java.util.concurrent.atomic.AtomicInteger
  private val fieldDefCount = new java.util.concurrent.atomic.AtomicInteger
  /** When set, query jobs are accepted and served as one CSV chunk. */
  @volatile private var bulkScans = false
  private val queryJobs = new java.util.concurrent.atomic.AtomicInteger
  private val scanSoql = TrieMap.empty[String, String]
  /** "jobId state" of every query-job state POST (a close). */
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

  private def page(recs: Seq[C], done: Boolean, total: Int,
      next: Option[String] = None): String =
    s"""{"totalSize":$total,"done":$done,""" +
      next.map(u => s""""nextRecordsUrl":"$u",""").getOrElse("") +
      s""""records":[${recs.map(recJson).mkString(",")}]}"""

  private def dispatchSoql(ex: HttpExchange, q: String): Unit =
    if (q.contains("FROM FieldDefinition")) {
      fieldDefCount.incrementAndGet()
      seen.put("fieldDefSoql", q); respond(ex, FieldDefJson)
    } else if (q.startsWith("SELECT COUNT()")) {
      val n = if (q.contains("WHERE")) { seen.put("deltaCountSoql", q); delta.size }
              else { seen.put("countSoql", q); v1.size }
      respond(ex, s"""{"totalSize":$n,"done":true,"records":[]}""")
    } else if (q.contains("WHERE") && q.contains("SystemModstamp >")) {
      seen.put("deltaSoql", q)
      respond(ex, page(delta, done = true, total = delta.size))
    } else {
      seen.put("fullSoql", q)
      // two pages: the chain exercises nextRecordsUrl pagination too
      respond(ex, page(v1.take(2), done = false, total = v1.size,
        next = Some("/services/data/v52.0/query/NEXTPAGE")))
    }

  private def csv(fields: Seq[String], recs: Seq[C]): String = {
    def value(c: C, f: String): Any = f match {
      case "Id" => c.id
      case "Name" => c.name
      case "NumEmployees" => c.n
      case "IsDeleted" => c.deleted
      case "SystemModstamp" => c.stamp
    }
    (fields +: recs.map(c => fields.map(f => value(c, f))))
      .map(_.map(v => "\"" + v + "\"").mkString(",") + "\n").mkString
  }

  /** A PK-chunked query job: its posted SOQL comes back as one
    * `Completed` chunk with one CSV result.
    */
  private def bulkScan(ex: HttpExchange, method: String, parts: List[String],
      body: () => String): Unit = (method, parts) match {
    case ("POST", List(jid)) =>
      val state = "<state>([^<]*)</state>".r.findFirstMatchIn(body()).fold("")(_.group(1))
      jobStates.add(s"$jid $state")
      respond(ex, jobXml(jid), contentType = "application/xml")
    case ("POST", List(jid, "batch")) =>
      scanSoql.put(jid, body())
      respond(ex, batchXml("751ORIG", "Queued"), contentType = "application/xml")
    case ("GET", List(_, "batch")) =>
      respond(ex,
        s"""<?xml version="1.0" encoding="UTF-8"?><batchInfoList xmlns="$JobNs">
           |<batchInfo><id>751ORIG</id><state>NotProcessed</state></batchInfo>
           |<batchInfo><id>751CHUNK</id><state>Completed</state></batchInfo>
           |</batchInfoList>""".stripMargin, contentType = "application/xml")
    case ("GET", List(_, "batch", "751CHUNK", "result")) =>
      respond(ex,
        s"""<?xml version="1.0" encoding="UTF-8"?><result-list xmlns="$JobNs">
           |<result>752R1</result></result-list>""".stripMargin,
        contentType = "application/xml")
    case ("GET", List(jid, "batch", "751CHUNK", "result", "752R1")) =>
      val soql = scanSoql(jid)
      val fields = soql.stripPrefix("SELECT ").takeWhile(_ != ' ').split(',').toSeq
      respond(ex, csv(fields, if (soql.contains("SystemModstamp >")) delta else v1),
        contentType = "text/csv")
    case other =>
      respond(ex, s"""{"unexpected":"$other"}""", 404)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val q = Option(ex.getRequestURI.getRawQuery)
        .map(s => URLDecoder.decode(s.stripPrefix("q="), "UTF-8"))
        .getOrElse("")
      Option(ex.getRequestHeaders.getFirst("Authorization"))
        .foreach(a => auths.put(a, auths.getOrElse(a, 0) + 1))
      Option(ex.getRequestHeaders.getFirst("X-SFDC-Session"))
        .foreach(a => auths.put(s"session:$a", 1))
      def body(): String = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      try {
        (ex.getRequestMethod, path) match {
          case ("POST", "/soap/login") =>
            loginCount.incrementAndGet()
            respond(ex,
              s"""<?xml version="1.0" encoding="UTF-8"?>
                 |<soapenv:Envelope xmlns:soapenv="http://schemas.xmlsoap.org/soap/envelope/" xmlns="urn:enterprise.soap.sforce.com">
                 |<soapenv:Body><loginResponse><result>
                 |<serverUrl>$base/services/Soap/u/52.0/00Dwire</serverUrl>
                 |<sessionId>$SessionId</sessionId>
                 |<userId>005wire</userId>
                 |</result></loginResponse></soapenv:Body></soapenv:Envelope>
                 |""".stripMargin, contentType = "text/xml")
          case ("GET", "/services/data/v52.0/sobjects/Contact/describe") =>
            respond(ex, DescribeJson)
          case ("GET", "/services/data/v52.0/query/NEXTPAGE") =>
            respond(ex, page(v1.drop(2), done = true, total = v1.size))
          case ("GET", p) if p.startsWith("/services/data/v52.0/queryAll") =>
            dispatchSoql(ex, q)
          case ("GET", p) if p.startsWith("/services/data/v52.0/query") =>
            dispatchSoql(ex, q)
          // bulk job create: reject PK chunking for the scan path (S2
          // fallback to REST), accept the upload job
          case ("POST", "/services/async/52.0/job") =>
            val doc = body()
            if (doc.contains("<operation>query")) {
              seen.put("pkChunkHeader",
                ex.getRequestHeaders.getFirst("Sforce-Enable-PKChunking"))
              if (bulkScans)
                respond(ex, jobXml(s"750Q${queryJobs.incrementAndGet()}"),
                  contentType = "application/xml")
              else respond(ex, "Contact is not supported to use PKChunking", 400,
                "text/plain")
            } else {
              seen.put("uploadJobDoc", doc)
              respond(ex, jobXml("750WIRE"), contentType = "application/xml")
            }
          case ("POST", "/services/async/52.0/job/750WIRE/batch") =>
            seen.put("uploadBatchCsv", body())
            respond(ex, batchXml("753WIRE", "Queued"),
              contentType = "application/xml")
          case ("POST", "/services/async/52.0/job/750WIRE") =>
            seen.put("uploadCloseDoc", body())
            respond(ex, jobXml("750WIRE"), contentType = "application/xml")
          case ("GET", "/services/async/52.0/job/750WIRE") =>
            respond(ex, jobXml("750WIRE"), contentType = "application/xml")
          case ("GET", "/services/async/52.0/job/750WIRE/batch/753WIRE") =>
            respond(ex, batchXml("753WIRE", "Completed"),
              contentType = "application/xml")
          case ("GET",
              "/services/async/52.0/job/750WIRE/batch/753WIRE/result") =>
            respond(ex, UploadResultCsv, contentType = "text/csv")
          case (m, p) if p.startsWith("/services/async/52.0/job/750Q") =>
            bulkScan(ex, m, p.stripPrefix("/services/async/52.0/job/").split('/').toList,
              () => body())
          case other =>
            respond(ex, s"""{"unexpected":"$other"}""", 404)
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          respond(ex, s"""{"fixtureError":"$e"}""", 500)
      }
    })
    server.start()
    val conn = DriverManager.getConnection(jdbc)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE "wiredest" (
        |"Id" VARCHAR(18) NOT NULL PRIMARY KEY, "Name" VARCHAR(80),
        |"NumEmployees" INT, "IsDeleted" BOOLEAN, "SystemModstamp" TIMESTAMP
        |)""".stripMargin)
      st.close()
    } finally conn.close()
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  // ---- the chain -----------------------------------------------------

  private val jdbc = "jdbc:derby:memory:cliwire;create=true"

  private lazy val cfgPath: String = {
    val f = java.io.File.createTempFile("graftwire", ".ini")
    f.deleteOnExit()
    val w = new java.io.PrintWriter(f)
    w.println("[salesforce]")
    w.println("username = user@example.com")
    w.println("password = pw")
    w.println("security_token = tok")
    w.println("api_version = 52.0")
    w.println(s"login_url = $base/soap/login")
    w.println(s"instance_url = $base")
    w.close()
    f.getPath
  }

  private def runCli(args: String*): (Int, Seq[String]) = {
    val lines = ArrayBuffer.empty[String]
    val code = Cli.run(args, lines += _)
    (code, lines.toSeq)
  }

  private def ts(iso: String) = Timestamp.from(Instant.parse(iso))

  test("login + tabledesc: SOAP session feeds the describe/DDL round") {
    val (code, out) = runCli("login", "--config", cfgPath)
    assert(code == 0, out.mkString("\n"))
    assert(out.head.contains(s"session_chars=${SessionId.length}"))
    val (c2, out2) = runCli("tabledesc", "--config", cfgPath,
      "--object", "Contact")
    assert(c2 == 0, out2.mkString("\n"))
    assert(fieldDefCount.get == 1) // the index DDL needs IsIndexed
    assert(out2.exists(_.startsWith("Id\tid")), out2.mkString("\n"))
    assert(out2.exists(_.contains("CREATE TABLE")), out2.mkString("\n"))
    // FieldDefinition merge happened over the wire with the pinned
    // entity filter, under the SOAP session's Bearer token
    assert(seen("fieldDefSoql").contains("EntityDefinitionId='Contact'"))
    assert(auths.keySet.filter(_.startsWith("Bearer")) ==
      Set(s"Bearer $SessionId"))
  }

  test("bulkload: chunk-reject fallback, paginated extract, __sync row") {
    val (code, out) = runCli("bulkload", "--config", cfgPath,
      "--object", "Contact", "--jdbc", jdbc, "--dest", "wiredest",
      "--pk", "Id", "--ts-col", "SystemModstamp")
    assert(code == 0, out.mkString("\n"))
    assert(out.exists(_.startsWith("loaded 3 rows")), out.mkString("\n"))
    // the scan TRIED server-side chunking first, then fell back to the
    // paginated REST extract (NEXTPAGE served page 2)
    assert(seen("pkChunkHeader").startsWith("chunkSize="))
    assert(seen("fullSoql").contains("FROM Contact"))
    // the extract is the only read: no COUNT() round trip, and schema
    // inference reads describe alone (still tabledesc's one FieldDefinition)
    assert(!seen.contains("countSoql") && fieldDefCount.get == 1)
    val conn = DriverManager.getConnection(jdbc)
    try {
      val rs = conn.createStatement()
        .executeQuery("""SELECT COUNT(*) FROM "wiredest"""")
      rs.next(); assert(rs.getInt(1) == 3)
      val ss = conn.createStatement().executeQuery(
        """SELECT syncuntil, status FROM "__sync" WHERE tablename = 'wiredest'""")
      ss.next()
      assert(ss.getTimestamp(1) == ts("2024-01-05T10:00:00Z"))
      assert(ss.getString(2) == "ready")
    } finally conn.close()
  }

  test("sync: wire COUNT preflight + T6 watermark WHERE, merged delta") {
    val (code, out) = runCli("sync", "--config", cfgPath,
      "--object", "Contact", "--jdbc", jdbc, "--dest", "wiredest",
      "--pk", "Id", "--ts-col", "SystemModstamp",
      "--deleted-col", "IsDeleted", "--max-delta", "100")
    assert(code == 0, out.mkString("\n"))
    assert(out.exists(_.contains("Merged")), out.mkString("\n"))
    // F2 pushed to the wire in T6 UTC-second form, against queryAll
    // (soft deletes must arrive), from the bulkload-landed watermark
    assert(seen("deltaSoql").contains(
      "SystemModstamp > 2024-01-05T10:00:00Z"), seen("deltaSoql"))
    assert(seen("deltaCountSoql").startsWith("SELECT COUNT() FROM Contact"))
    assert(fieldDefCount.get == 1) // no FieldDefinition query either
    val conn = DriverManager.getConnection(jdbc)
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "Id", "Name" FROM "wiredest" ORDER BY "Id"""")
      val got = Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getString(1) -> r.getString(2)).toMap
      assert(got == Map("003A" -> "alpha-renamed", "003C" -> "gamma",
        "003D" -> "delta"), got.toString) // update + survivor + insert - delete
      val ss = conn.createStatement().executeQuery(
        """SELECT syncuntil FROM "__sync" WHERE tablename = 'wiredest'""")
      ss.next()
      assert(ss.getTimestamp(1) == ts("2024-01-06T09:30:00Z"))
    } finally conn.close()
  }

  test("bulkload and sync each close the Bulk query job they create") {
    val conn = DriverManager.getConnection(jdbc)
    try conn.createStatement().execute("""CREATE TABLE "wirebulk" (
      |"Id" VARCHAR(18) NOT NULL PRIMARY KEY, "Name" VARCHAR(80),
      |"NumEmployees" INT, "IsDeleted" BOOLEAN, "SystemModstamp" TIMESTAMP
      |)""".stripMargin)
    finally conn.close()
    def run(verb: String, extra: String*): Unit = {
      val before = queryJobs.get
      val (code, out) = runCli(Seq(verb, "--config", cfgPath, "--object", "Contact",
        "--jdbc", jdbc, "--dest", "wirebulk", "--pk", "Id",
        "--ts-col", "SystemModstamp") ++ extra: _*)
      assert(code == 0, out.mkString("\n"))
      val created = (before + 1 to queryJobs.get).map(i => s"750Q$i")
      assert(created.nonEmpty, s"$verb created no query job")
      assert(created.forall(closes(_) == 1), s"$verb: $created vs $jobStates")
    }
    bulkScans = true
    try {
      run("bulkload")
      run("sync", "--deleted-col", "IsDeleted")
    } finally bulkScans = false
    // the closed jobs' results were still read: the same landed table
    // the REST path builds
    val check = DriverManager.getConnection(jdbc)
    try {
      val rs = check.createStatement().executeQuery(
        """SELECT "Id", "Name" FROM "wirebulk" ORDER BY "Id"""")
      val got = Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getString(1) -> r.getString(2)).toMap
      assert(got == Map("003A" -> "alpha-renamed", "003C" -> "gamma",
        "003D" -> "delta"), got.toString)
    } finally check.close()
  }

  test("upload: CSV chunk through the bulk wire, per-record results") {
    val csv = java.io.File.createTempFile("wireupload", ".csv")
    csv.deleteOnExit()
    val w = new java.io.PrintWriter(csv)
    w.println("Id,Name"); w.println("003A,alpha-renamed"); w.println("003Z,")
    w.close()
    val (code, out) = runCli("upload", "--config", cfgPath,
      "--object", "Contact", "--csv", csv.getPath)
    assert(code == 0, out.mkString("\n"))
    assert(out.head == "job 750WIRE: 2 records, 1 failed", out.mkString("\n"))
    assert(out.exists(_.startsWith("FAILED")), out.mkString("\n"))
    assert(seen("uploadJobDoc").contains("<operation>update</operation>"))
    assert(seen("uploadBatchCsv").contains("003A"))
    assert(seen("uploadCloseDoc").contains("Closed"))
    // bulk wire authenticated with the SOAP session header, not Bearer
    assert(auths.contains(s"session:$SessionId"))
  }

  test("abort + gc close the lifecycle on the same state") {
    val (code, out) = runCli("abort", "--config", cfgPath,
      "--jdbc", jdbc, "--dest", "wiredest")
    assert(code == 0, out.mkString("\n"))
    val conn = DriverManager.getConnection(jdbc)
    try {
      val ss = conn.createStatement().executeQuery(
        """SELECT status FROM "__sync" WHERE tablename = 'wiredest'""")
      ss.next(); assert(ss.getString(1) == "error")
    } finally conn.close()
    val dir = tempDir("wiregc").toFile
    val old = new java.io.File(dir, "job-old"); old.mkdir()
    old.setLastModified(System.currentTimeMillis() - 10L * 24 * 3600 * 1000)
    val (c2, out2) = runCli("gc", "--dir", dir.getPath, "--days", "7")
    assert(c2 == 0 && out2.head.startsWith("removed 1 "), out2.mkString("\n"))
    // the whole chain ran from ONE config file: every REST call carried
    // the fixture login's token and each transported verb re-ran the
    // reference's config-alone login (`salesforce.py:17-26` order)
    assert(auths.keySet.filter(_.startsWith("Bearer")) ==
      Set(s"Bearer $SessionId"))
    assert(loginCount.get() >= 4) // tabledesc, bulkload, sync, upload
  }
}
