package graftbench

import java.io.{BufferedWriter, OutputStreamWriter, Writer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** One describe field of a fixture object. `sfType` is the Salesforce
  * describe type; values are held typed: String, Integer, Double,
  * BigDecimal, Boolean, Instant (datetime) and LocalDate (date).
  */
final case class FField(name: String, sfType: String, length: Int = 0,
    precision: Int = 0, scale: Int = 0, nillable: Boolean = true)

/** A record is an immutable value array in describe order. */
final class Rec(val values: Array[AnyRef]) {
  def apply(i: Int): AnyRef = values(i)
}

/** One Salesforce object held by the fixture: schema plus an
  * Id-ordered record vector that is replaced, never mutated in place,
  * so a bulk job can snapshot it by reference.
  */
final class SObject(val name: String, val fields: IndexedSeq[FField]) {
  val index: Map[String, Int] = fields.map(_.name).zipWithIndex.toMap
  val idIdx: Int = index("Id")
  val tsIdx: Int = index("SystemModstamp")
  val delIdx: Int = index("IsDeleted")
  @volatile var rows: Vector[Rec] = Vector.empty
  private val byId = new java.util.HashMap[String, Integer]()

  def load(rs: Seq[Rec]): Unit = synchronized {
    rows = rs.toVector
    byId.clear()
    rows.indices.foreach(i => byId.put(rows(i)(idIdx).asInstanceOf[String], i))
  }
  def get(id: String): Option[Rec] = synchronized {
    Option(byId.get(id)).map(i => rows(i))
  }
  def put(r: Rec): Unit = synchronized {
    val id = r(idIdx).asInstanceOf[String]
    Option(byId.get(id)) match {
      case Some(i) => rows = rows.updated(i, r)
      case None =>
        // fixture ids grow monotonically, so appending keeps Id order
        byId.put(id, rows.size); rows = rows :+ r
    }
  }
  def isDeleted(r: Rec): Boolean = r(delIdx) == java.lang.Boolean.TRUE
  def live: Vector[Rec] = rows.filterNot(isDeleted)
}

/** Bench-side request counters (`fixture.*` per-layer metrics). */
final class FixtureCounters {
  val httpRequests = new AtomicLong
  val httpBytes = new AtomicLong
  val restPages = new AtomicLong
  val bulkJobs = new AtomicLong
  val batchPolls = new AtomicLong
  val busyNanos = new AtomicLong
  /** SOQL with an empty select list (see [[Fixture.soqlQuery]]). */
  val emptySelects = new AtomicLong
  def reset(): Unit = Seq(httpRequests, httpBytes, restPages, bulkJobs,
    batchPolls, busyNanos, emptySelects).foreach(_.set(0))
}

/** In-process Salesforce fixture: REST `query`/`queryAll` with
  * `nextRecordsUrl` pagination and `COUNT()`, describe, FieldDefinition,
  * and Bulk V1 jobs — PK-chunked query jobs (the original batch ends
  * `NotProcessed`, one `Completed` batch per Id chunk) and CSV update
  * jobs with per-record results. Every batch is `Completed` on the
  * first poll, so the client's poll sleep never fires.
  */
final class Fixture(objects: Seq[SObject], clock: Clock, threads: Int = 4) {
  val counters = new FixtureCounters
  val session = "00Dbench!fixture-session"
  private val byName = objects.map(o => o.name -> o).toMap
  def obj(name: String): SObject = byName.getOrElse(name,
    throw new IllegalArgumentException(s"NOT_FOUND: sobject $name"))

  /** Per-record fault hook for the self-test: ids listed here are
    * rejected by upload batches.
    */
  val rejectIds: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  val api = "52.0"
  private val restPrefix = s"/services/data/v$api/"
  private val bulkPrefix = s"/services/async/$api/job"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  // ---- HTTP plumbing ---------------------------------------------------

  private final class CountingOut(ex: HttpExchange) extends java.io.OutputStream {
    private val os = ex.getResponseBody
    override def write(b: Int): Unit = { os.write(b); counters.httpBytes.incrementAndGet() }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      os.write(b, off, len); counters.httpBytes.addAndGet(len)
    }
    override def close(): Unit = os.close()
  }

  private def respond(ex: HttpExchange, status: Int, ctype: String)(
      body: Writer => Unit): Unit = {
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(status, 0) // chunked: bodies stream
    val w = new BufferedWriter(new OutputStreamWriter(new CountingOut(ex), UTF_8), 1 << 16)
    try body(w) finally w.close()
  }

  private def text(ex: HttpExchange, status: Int, ctype: String, s: String): Unit =
    respond(ex, status, ctype)(_.write(s))

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    counters.httpRequests.incrementAndGet()
    try {
      val path = ex.getRequestURI.getRawPath
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .orElse(Option(ex.getRequestHeaders.getFirst("X-SFDC-Session")).map("Bearer " + _))
      if (!auth.contains("Bearer " + session))
        text(ex, 401, "application/json", """[{"errorCode":"INVALID_SESSION_ID"}]""")
      else if (path.startsWith(restPrefix)) rest(ex, path.stripPrefix(restPrefix))
      else if (path.startsWith(bulkPrefix)) bulk(ex, path.stripPrefix(bulkPrefix))
      else text(ex, 404, "application/json", s"""[{"errorCode":"NOT_FOUND"}]""")
    } catch {
      case e: Throwable =>
        try text(ex, 400, "application/json",
          s"""[{"errorCode":"MALFORMED_QUERY","message":${Json.str(String.valueOf(e.getMessage))}}]""")
        catch { case _: Throwable => () }
    } finally {
      ex.close()
      counters.busyNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  // ---- REST ------------------------------------------------------------

  private val PageSize = 2000
  private final case class Cursor(o: SObject, fields: Seq[String], recs: IndexedSeq[Rec])
  private val cursors = new ConcurrentHashMap[String, Cursor]()
  private val cursorSeq = new AtomicInteger

  private def rest(ex: HttpExchange, tail: String): Unit = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    def param(k: String): Option[String] = q.split('&').collectFirst {
      case kv if kv.startsWith(k + "=") => URLDecoder.decode(kv.drop(k.length + 1), "UTF-8")
    }
    tail match {
      case d if d.startsWith("sobjects/") && d.endsWith("/describe") =>
        describe(ex, obj(d.stripPrefix("sobjects/").stripSuffix("/describe")))
      case "query/" | "query" | "queryAll/" | "queryAll" =>
        soqlQuery(ex, param("q").getOrElse(sys.error("missing q")),
          includeDeleted = tail.startsWith("queryAll"))
      case c if c.startsWith("query/") =>
        val Array(id, off) = c.stripPrefix("query/").split('-')
        val cur = Option(cursors.get(id)).getOrElse(sys.error(s"INVALID_QUERY_LOCATOR $id"))
        page(ex, id, cur, off.toInt)
      case other => text(ex, 404, "application/json",
        s"""[{"errorCode":"NOT_FOUND","message":${Json.str(other)}}]""")
    }
  }

  private def describe(ex: HttpExchange, o: SObject): Unit =
    respond(ex, 200, "application/json") { w =>
      w.write(s"""{"name":${Json.str(o.name)},"fields":[""")
      o.fields.zipWithIndex.foreach { case (f, i) =>
        if (i > 0) w.write(',')
        w.write(s"""{"name":${Json.str(f.name)},"type":"${f.sfType}",""" +
          s""""length":${f.length},"precision":${f.precision},"scale":${f.scale},""" +
          s""""nillable":${f.nillable},"unique":${f.name == "Id"},"calculated":false,""" +
          s""""compoundFieldName":null,"defaultValue":null}""")
      }
      w.write("]}")
    }

  /** REST SOQL. graft's `sync` tests `delta.isEmpty` with an empty
    * projection, which reaches the wire as `SELECT  FROM o WHERE …
    * LIMIT 1`; Salesforce rejects an empty select list as
    * MALFORMED_QUERY. The fixture answers it as `SELECT Id` so the CDC
    * workload can run, and counts it in `emptySelects`.
    */
  private def soqlQuery(ex: HttpExchange, soql: String, includeDeleted: Boolean): Unit = {
    val s0 = Soql.parse(soql, allowEmptySelect = true)
    if (!s0.count && s0.fields.isEmpty) counters.emptySelects.incrementAndGet()
    val s = if (s0.count || s0.fields.nonEmpty) s0 else s0.copy(fields = Seq("Id"))
    if (s.objectName == "FieldDefinition") {
      // FieldDefinition must be filtered by its entity
      val ent = s.where.collectFirst { case Soql.Cmp("EntityDefinitionId", "=", v: String) => v }
        .getOrElse(sys.error("FieldDefinition requires an EntityDefinitionId filter"))
      val o = obj(ent)
      counters.restPages.incrementAndGet()
      respond(ex, 200, "application/json") { w =>
        w.write(s"""{"totalSize":${o.fields.size},"done":true,"records":[""")
        o.fields.zipWithIndex.foreach { case (f, i) =>
          if (i > 0) w.write(',')
          w.write(s"""{"attributes":{"type":"FieldDefinition"},"QualifiedApiName":""" +
            s"""${Json.str(f.name)},"IsIndexed":${f.name == "Id" || f.name == "SystemModstamp"}}""")
        }
        w.write("]}")
      }
      return
    }
    val o = obj(s.objectName)
    val matched = select(o, o.rows, s.where, includeDeleted)
    if (s.count) {
      counters.restPages.incrementAndGet()
      text(ex, 200, "application/json",
        s"""{"totalSize":${matched.size},"done":true,"records":[]}""")
    } else {
      val recs = s.limit.fold(matched)(n => matched.take(n))
      val id = "01g" + cursorSeq.incrementAndGet()
      val cur = Cursor(o, s.fields, recs)
      if (recs.size > PageSize) cursors.put(id, cur)
      page(ex, id, cur, 0)
    }
  }

  private def page(ex: HttpExchange, id: String, cur: Cursor, off: Int): Unit = {
    counters.restPages.incrementAndGet()
    val end = math.min(off + PageSize, cur.recs.size)
    val done = end >= cur.recs.size
    if (done) cursors.remove(id)
    val idx = cur.fields.map(cur.o.index)
    respond(ex, 200, "application/json") { w =>
      w.write(s"""{"totalSize":${cur.recs.size},"done":$done,""")
      if (!done) w.write(s""""nextRecordsUrl":"${restPrefix}query/$id-$end",""")
      w.write(""""records":[""")
      var i = off
      while (i < end) {
        if (i > off) w.write(',')
        val r = cur.recs(i)
        w.write(s"""{"attributes":{"type":"${cur.o.name}","url":"${restPrefix}sobjects/""" +
          s"""${cur.o.name}/${r(cur.o.idIdx)}"}""")
        cur.fields.indices.foreach { k =>
          w.write(','); w.write(Json.str(cur.fields(k))); w.write(':')
          w.write(Wire.json(r(idx(k))))
        }
        w.write('}')
        i += 1
      }
      w.write("]}")
    }
  }

  private def select(o: SObject, rs: IndexedSeq[Rec], where: Seq[Soql.Cmp],
      includeDeleted: Boolean): IndexedSeq[Rec] = {
    val preds = where.map(c => (o.index.getOrElse(c.field,
      sys.error(s"No such column '${c.field}' on entity '${o.name}'")), c))
    rs.filter(r => (includeDeleted || !o.isDeleted(r)) &&
      preds.forall { case (i, c) => c.test(r(i)) })
  }

  // ---- Bulk V1 ---------------------------------------------------------

  private final case class Batch(id: String, state: String, records: Int,
      chunk: Option[IndexedSeq[Rec]], results: Option[String])
  private final class Job(val id: String, val o: SObject, val operation: String,
      val chunkSize: Option[Int]) {
    @volatile var state = "Open"
    @volatile var soql: Option[Soql.Query] = None
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    def batch(id: String): Batch = {
      val it = batches.iterator()
      while (it.hasNext) { val b = it.next(); if (b.id == id) return b }
      sys.error(s"InvalidBatch $id")
    }
  }
  private val jobs = new ConcurrentHashMap[String, Job]()
  private val idSeq = new AtomicLong

  private def newId(prefix: String): String = Ids.make(prefix, idSeq.incrementAndGet())

  private val Ns = "http://www.force.com/2009/06/asyncapi/dataload"
  private def xmlEl(tag: String, kv: Seq[(String, Any)]): String =
    s"""<?xml version="1.0" encoding="UTF-8"?><$tag xmlns="$Ns">""" +
      kv.map { case (k, v) => s"<$k>$v</$k>" }.mkString + s"</$tag>"
  private def jobXml(j: Job): String = {
    val bs = j.batches.toArray(Array.empty[Batch]).toSeq
    xmlEl("jobInfo", Seq("id" -> j.id, "operation" -> j.operation, "object" -> j.o.name,
      "state" -> j.state, "contentType" -> "CSV",
      "numberBatchesQueued" -> 0, "numberBatchesInProgress" -> 0,
      "numberBatchesCompleted" -> bs.count(_.state == "Completed"),
      "numberBatchesFailed" -> 0, "numberBatchesTotal" -> bs.size,
      "numberRecordsProcessed" -> bs.map(_.records).sum))
  }
  private def batchFields(j: Job, b: Batch): Seq[(String, Any)] =
    Seq("id" -> b.id, "jobId" -> j.id, "state" -> b.state,
      "numberRecordsProcessed" -> b.records, "numberRecordsFailed" -> 0)
  private def xmlText(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
  private def tag(doc: String, t: String): Option[String] =
    s"<$t>([^<]*)</$t>".r.findFirstMatchIn(doc).map(_.group(1))

  private def bulk(ex: HttpExchange, tail: String): Unit = {
    val parts = tail.stripPrefix("/").split('/').filter(_.nonEmpty).toList
    (ex.getRequestMethod, parts) match {
      case ("POST", Nil) =>
        val doc = body(ex)
        val o = obj(tag(doc, "object").getOrElse(sys.error("job has no object")))
        val op = tag(doc, "operation").getOrElse(sys.error("job has no operation"))
        val chunk = Option(ex.getRequestHeaders.getFirst("Sforce-Enable-PKChunking"))
          .map(h => "chunkSize=(\\d+)".r.findFirstMatchIn(h).map(_.group(1).toInt).getOrElse(100000))
        val j = new Job(newId("750"), o, op, chunk)
        jobs.put(j.id, j)
        counters.bulkJobs.incrementAndGet()
        text(ex, 201, "application/xml", jobXml(j))
      case ("GET", List(jid)) => text(ex, 200, "application/xml", jobXml(job(jid)))
      case ("POST", List(jid)) =>
        val j = job(jid)
        tag(body(ex), "state").foreach(s => j.state = s)
        text(ex, 200, "application/xml", jobXml(j))
      case ("POST", List(jid, "batch")) =>
        val j = job(jid)
        val b = if (j.operation.startsWith("query")) queryBatch(j, body(ex))
                else uploadBatch(j, body(ex))
        text(ex, 201, "application/xml", xmlEl("batchInfo", batchFields(j, b)))
      case ("GET", List(jid, "batch")) =>
        val j = job(jid)
        val bs = j.batches.toArray(Array.empty[Batch]).toSeq
        text(ex, 200, "application/xml",
          s"""<?xml version="1.0" encoding="UTF-8"?><batchInfoList xmlns="$Ns">""" +
            bs.map(b => "<batchInfo>" + batchFields(j, b).map { case (k, v) =>
              s"<$k>$v</$k>" }.mkString + "</batchInfo>").mkString + "</batchInfoList>")
      case ("GET", List(jid, "batch", bid)) =>
        counters.batchPolls.incrementAndGet()
        val j = job(jid)
        text(ex, 200, "application/xml", xmlEl("batchInfo", batchFields(j, j.batch(bid))))
      case ("GET", List(jid, "batch", bid, "result")) =>
        val j = job(jid)
        val b = j.batch(bid)
        b.results match {
          case Some(csv) => text(ex, 200, "text/csv", csv)
          case None => text(ex, 200, "application/xml",
            s"""<?xml version="1.0" encoding="UTF-8"?><result-list xmlns="$Ns">""" +
              s"<result>752${b.id.drop(3)}</result></result-list>")
        }
      case ("GET", List(jid, "batch", bid, "result", _)) =>
        val j = job(jid)
        val b = j.batch(bid)
        val fields = j.soql.get.fields
        val idx = fields.map(j.o.index)
        respond(ex, 200, "text/csv") { w =>
          w.write(fields.map(f => "\"" + f + "\"").mkString(","))
          w.write('\n')
          b.chunk.getOrElse(IndexedSeq.empty).foreach { r =>
            var k = 0
            while (k < idx.size) {
              if (k > 0) w.write(',')
              w.write(Wire.csv(r(idx(k))))
              k += 1
            }
            w.write('\n')
          }
        }
      case other => text(ex, 404, "application/xml",
        s"<error>${xmlText(other.toString)}</error>")
    }
  }

  private def job(id: String): Job =
    Option(jobs.get(id)).getOrElse(sys.error(s"InvalidJob $id"))

  /** A query batch snapshots the object. Under PK chunking the posted
    * batch itself is `NotProcessed` and one batch per `chunkSize` Ids
    * carries the rows; without it the posted batch carries them all.
    */
  private def queryBatch(j: Job, soql: String): Batch = {
    val s = Soql.parse(soql)
    require(s.objectName == j.o.name, s"batch object ${s.objectName} != job object")
    j.soql = Some(s)
    val all = j.o.rows
    val deleted = j.operation == "queryAll"
    j.chunkSize match {
      case Some(cs) =>
        val parent = Batch(newId("751"), "NotProcessed", 0, None, None)
        j.batches.add(parent)
        all.grouped(cs).foreach { g =>
          val rs = select(j.o, g, s.where, deleted)
          j.batches.add(Batch(newId("751"), "Completed", rs.size, Some(rs), None))
        }
        parent
      case None =>
        val rs = select(j.o, all, s.where, deleted)
        val b = Batch(newId("751"), "Completed", rs.size, Some(rs), None)
        j.batches.add(b)
        b
    }
  }

  /** Update batch: CSV with an Id column; each row's non-empty fields
    * overwrite the record and bump LastModifiedDate/SystemModstamp.
    */
  private def uploadBatch(j: Job, csv: String): Batch = {
    require(j.operation == "update", s"fixture supports update jobs, not ${j.operation}")
    val rows = Csv.parse(csv)
    val header = rows.head
    val out = new StringBuilder("\"Id\",\"Success\",\"Created\",\"Error\"\n")
    rows.tail.foreach { vals =>
      val m = header.zip(vals).toMap
      val id = m.getOrElse("Id", "")
      val err: Option[String] =
        if (rejectIds.contains(id)) Some("FIELD_CUSTOM_VALIDATION_EXCEPTION:rejected by fixture:--")
        else j.o.get(id) match {
          case None => Some(s"INVALID_CROSS_REFERENCE_KEY:invalid record id:Id --")
          case Some(r) if j.o.isDeleted(r) => Some("ENTITY_IS_DELETED:entity is deleted:--")
          case Some(r) =>
            val v = r.values.clone()
            m.foreach { case (k, s) =>
              if (k != "Id" && s.nonEmpty) {
                val i = j.o.index.getOrElse(k, sys.error(s"No such column $k"))
                v(i) = Wire.parse(j.o.fields(i).sfType, s)
              }
            }
            val now = clock.next()
            v(j.o.tsIdx) = now
            j.o.index.get("LastModifiedDate").foreach(i => v(i) = now)
            j.o.put(new Rec(v))
            None
        }
      out.append('"').append(if (err.isEmpty) id else "").append("\",\"")
        .append(err.isEmpty).append("\",\"false\",\"")
        .append(err.getOrElse("").replace("\"", "\"\"")).append("\"\n")
    }
    val b = Batch(newId("751"), "Completed", rows.size - 1, None, Some(out.result()))
    j.batches.add(b)
    b
  }
}

/** Strictly increasing millisecond clock shared by the fixture's
  * writers (generator rounds and upload batches).
  */
final class Clock(start: Long) {
  private var last = start
  def peek: Long = synchronized(last)
  def next(stepMs: Long = 1): Instant = synchronized {
    last += math.max(1, stepMs); Instant.ofEpochMilli(last)
  }
  def advance(ms: Long): Unit = synchronized { last += ms }
}

/** Salesforce 18-character ids: 3-char key prefix, 12 base-62 digits,
  * 3-char case-safety suffix.
  */
object Ids {
  private val B62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
  private val Suffix = "ABCDEFGHIJKLMNOPQRSTUVWXYZ012345"
  def make(prefix: String, n: Long): String = {
    val sb = new StringBuilder
    var x = n
    for (_ <- 0 until 12) { sb.insert(0, B62((x % 62).toInt)); x /= 62 }
    val id15 = prefix + sb.result()
    id15 + (0 until 3).map { c =>
      val bits = (0 until 5).map(i => if (id15(c * 5 + i).isUpper) 1 << i else 0).sum
      Suffix(bits)
    }.mkString
  }
}

/** Value encodings on the wire, as Salesforce renders them. */
object Wire {
  private val Dt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  def plain(v: AnyRef): String = v match {
    case t: Instant => Dt.format(t)
    case d: LocalDate => d.toString
    case b: java.math.BigDecimal => b.toPlainString
    case x => x.toString
  }
  /** Bulk CSV: NULL is the empty field; text is always quoted. */
  def csv(v: AnyRef): String = v match {
    case null => ""
    case s: String => "\"" + s.replace("\"", "\"\"") + "\""
    case x => plain(x)
  }
  def json(v: AnyRef): String = v match {
    case null => "null"
    case s: String => Json.str(s)
    case b: java.lang.Boolean => b.toString
    case n: java.lang.Integer => n.toString
    case d: java.lang.Double => d.toString
    case b: java.math.BigDecimal => b.toPlainString
    case x => Json.str(plain(x))
  }
  def parse(sfType: String, s: String): AnyRef = sfType match {
    case "int" => Integer.valueOf(s.trim.toInt)
    case "double" | "percent" => java.lang.Double.valueOf(s.trim.toDouble)
    case "currency" => new java.math.BigDecimal(s.trim)
    case "boolean" => java.lang.Boolean.valueOf(s.trim.equalsIgnoreCase("true"))
    case "datetime" => Instant.parse(s.trim)
    case "date" => LocalDate.parse(s.trim)
    case _ => s
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').result()
  }
}

/** RFC-4180 CSV reader for upload batch bodies. */
object Csv {
  def parse(text: String): IndexedSeq[IndexedSeq[String]] = {
    val rows = IndexedSeq.newBuilder[IndexedSeq[String]]
    var row = IndexedSeq.newBuilder[String]
    val f = new StringBuilder
    var i = 0
    var inQ = false
    var any = false
    def endField(): Unit = { row += f.result(); f.clear(); any = true }
    def endRow(): Unit = { endField(); rows += row.result(); row = IndexedSeq.newBuilder; any = false }
    while (i < text.length) {
      val c = text(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < text.length && text(i + 1) == '"') { f.append('"'); i += 1 }
          else inQ = false
        } else f.append(c)
      } else c match {
        case '"' => inQ = true; any = true
        case ',' => endField()
        case '\r' => ()
        case '\n' => if (any || f.nonEmpty) endRow()
        case x => f.append(x); any = true
      }
      i += 1
    }
    if (any || f.nonEmpty) endRow()
    rows.result()
  }
}

/** The SOQL subset graft emits: `SELECT f,… | COUNT() FROM o [WHERE
  * a op lit AND …] [LIMIT n]`.
  */
object Soql {
  final case class Cmp(field: String, op: String, lit: Any) {
    def test(v: AnyRef): Boolean = {
      if (v == null) return op == "=" && lit == null
      val c: Int = (v, lit) match {
        case (t: Instant, l: Instant) => t.compareTo(l)
        case (d: LocalDate, l: LocalDate) => d.compareTo(l)
        case (d: LocalDate, l: Instant) => d.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.compareTo(l)
        case (b: java.lang.Boolean, l: java.lang.Boolean) => b.compareTo(l)
        case (n: java.lang.Number, l: java.math.BigDecimal) => new java.math.BigDecimal(n.toString).compareTo(l)
        case (n: java.math.BigDecimal, l: java.math.BigDecimal) => n.compareTo(l)
        case (s: String, l: String) => s.compareTo(l)
        case (x, l) => sys.error(s"cannot compare ${x.getClass.getSimpleName} with $l")
      }
      op match {
        case "=" => c == 0
        case "!=" => c != 0
        case ">" => c > 0
        case ">=" => c >= 0
        case "<" => c < 0
        case "<=" => c <= 0
      }
    }
  }
  final case class Query(objectName: String, fields: Seq[String], count: Boolean,
      where: Seq[Cmp], limit: Option[Int])

  private val Select = """(?is)SELECT\s+(.*?)\s*FROM\s+(\w+)(?:\s+WHERE\s+(.*?))?(?:\s+LIMIT\s+(\d+))?\s*""".r
  private val Clause = """(?s)\s*(\w+)\s*(>=|<=|!=|=|>|<)\s*(.*?)\s*""".r
  private val DateTimeLit = """\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d(\.\d+)?Z""".r
  private val DateLit = """\d{4}-\d\d-\d\d""".r

  def parse(soql: String, allowEmptySelect: Boolean = false): Query = soql match {
    case Select(sel, obj, where, lim) if allowEmptySelect || sel.trim.nonEmpty =>
      val count = sel.trim.equalsIgnoreCase("COUNT()")
      val fields = if (count) Nil else sel.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val cmps = Option(where).toSeq.flatMap(_.split("(?i)\\s+AND\\s+")).map {
        case Clause(f, op, l) => Cmp(f, op, literal(l))
        case c => sys.error(s"MALFORMED_QUERY: unsupported clause '$c'")
      }
      Query(obj, fields, count, cmps, Option(lim).map(_.toInt))
    case _ => sys.error(s"MALFORMED_QUERY: '$soql'")
  }

  private def literal(l: String): Any = l match {
    case s if s.startsWith("'") && s.endsWith("'") && s.length >= 2 =>
      s.substring(1, s.length - 1).replace("\\'", "'")
    case "null" => null
    case "true" | "false" => java.lang.Boolean.valueOf(l)
    case DateTimeLit(_*) => Instant.parse(l)
    case DateLit() => LocalDate.parse(l)
    case n => new java.math.BigDecimal(n)
  }
}
