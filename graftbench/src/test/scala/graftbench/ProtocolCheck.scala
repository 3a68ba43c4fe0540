package graftbench

import java.time.Instant
import java.util.SplittableRandom

import graft.sources.salesforce.HttpSfTransport

/** Pins the fixture's Salesforce protocol behaviour through graft's
  * production `HttpSfTransport`: `query` vs `queryAll` deleted-row
  * visibility, the `NotProcessed` parent batch under PK chunking,
  * `nextRecordsUrl` paging, and `COUNT()` with a `WHERE`; and that a
  * null text field read from Bulk CSV lands as NULL. Prints one line per
  * check and exits non-zero if any fails.
  *
  *   java -cp <classpath> graftbench.ProtocolCheck
  */
object ProtocolCheck {
  private var failures = 0
  private def expect(name: String, ok: Boolean, detail: => String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val clock = new Clock(Instant.parse("2024-03-01T00:00:00Z").toEpochMilli)
    val o = new SObject("Order", Gen.OrderFields)
    val src = new Gen.Source(o, "801", new SplittableRandom(7),
      () => IndexedSeq(Ids.make("001", 1)))
    Gen.populate(src, 5000, clock)
    val f = new Fixture(Seq(o), clock)
    try {
      val t = new HttpSfTransport(f.baseUrl, f.session, apiVersion = f.api)
      val all = o.rows.size
      val live = o.live.size
      expect("fixture holds soft-deleted rows", live < all, s"$live live of $all")
      expect("ids are 18 characters", o.rows.forall(_(o.idIdx).toString.length == 18), "")

      expect("query COUNT() hides deleted rows", t.count("Order", None, includeDeleted = false) == live,
        s"${t.count("Order", None, includeDeleted = false)} != $live")
      expect("queryAll COUNT() shows deleted rows", t.count("Order", None, includeDeleted = true) == all,
        s"${t.count("Order", None, includeDeleted = true)} != $all")

      val cut = Instant.ofEpochMilli(o.rows.map(_(o.tsIdx).asInstanceOf[Instant].toEpochMilli).sorted
        .apply(all / 2))
      val cutLit = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
        .withZone(java.time.ZoneOffset.UTC).format(cut)
      val cutSec = Instant.parse(cutLit)
      val want = o.rows.count(r => r(o.tsIdx).asInstanceOf[Instant].isAfter(cutSec))
      expect("COUNT() honours a WHERE", t.count("Order", Some(s"SystemModstamp > $cutLit"),
        includeDeleted = true) == want, s"want $want")

      f.counters.reset()
      val restLive = t.query("Order", Seq("Id", "IsDeleted"), None, None,
        includeDeleted = false, None).toSeq
      expect("REST query pages through nextRecordsUrl",
        restLive.size == live && f.counters.restPages.get == math.ceil(live / 2000.0).toLong,
        s"${restLive.size} rows over ${f.counters.restPages.get} pages")
      expect("REST query returns no deleted rows", !restLive.exists(_("IsDeleted") == true), "")
      val restAll = t.query("Order", Seq("Id", "IsDeleted"), None, None,
        includeDeleted = true, None).toSeq
      expect("REST queryAll returns deleted rows", restAll.size == all &&
        restAll.count(_("IsDeleted") == true) == all - live, s"${restAll.size} rows")

      val tokens = t.pkChunks("Order", Seq("Id", "Name", "Description"), None,
        includeDeleted = true, chunkSize = 1000)
      expect("PK chunking yields one batch per chunk", tokens.size == math.ceil(all / 1000.0).toInt,
        s"${tokens.size} batches")
      val jobId = tokens.head._1
      val list = scala.io.Source.fromInputStream(new java.net.URL(
        s"${f.baseUrl}/services/async/${f.api}/job/$jobId/batch").openConnection() match {
        case c: java.net.HttpURLConnection =>
          c.setRequestProperty("X-SFDC-Session", f.session); c.getInputStream
      }, "UTF-8").mkString
      val states = "<id>([^<]+)</id><jobId>[^<]*</jobId><state>([^<]+)</state>".r
        .findAllMatchIn(list).map(m => m.group(1) -> m.group(2)).toSeq
      val parents = states.filter(_._2 == "NotProcessed").map(_._1)
      expect("the posted batch ends NotProcessed and is not a chunk",
        parents.size == 1 && states.size == tokens.size + 1 &&
          !tokens.exists(tk => parents.contains(tk._2)), list.take(300))
      val bulkRows = tokens.flatMap { case tk => t.query("Order", Nil, None, None, true, Some(tk)) }
      expect("bulk chunks cover every row once",
        bulkRows.size == all && bulkRows.map(_("Id")).distinct.size == all,
        s"${bulkRows.size} rows")
      val text = bulkRows.map(r => r("Id").toString -> r("Description").toString).toMap
      expect("bulk CSV round-trips commas, quotes, newlines and non-ASCII",
        o.rows.forall(r => text(r(o.idIdx).toString) == r(o.index("Description"))),
        "text differs")

      val polls = f.counters.batchPolls.get
      expect("batches complete on the first poll", polls == tokens.size, s"$polls polls")
    } finally f.stop()
    nullText()
    if (failures > 0) { println(s"$failures protocol check(s) failed"); sys.exit(1) }
    println("protocol checks passed")
  }

  /** A null text field travels as an empty Bulk CSV field; Salesforce
    * means NULL by it (text is never ''). graft's row reader keeps '' for
    * string columns, so this check fails until graft lands NULL.
    */
  private def nullText(): Unit = {
    val clock = new Clock(Instant.parse("2024-03-01T00:00:00Z").toEpochMilli)
    val note = new SObject("Note", IndexedSeq(FField("Id", "id", 18, nillable = false),
      FField("Body", "textarea", 100), FField("SystemModstamp", "datetime", nillable = false),
      FField("IsDeleted", "boolean", nillable = false)))
    note.load(Seq(new Rec(Array(Ids.make("002", 1), null, clock.next(), java.lang.Boolean.FALSE))))
    val f = new Fixture(Seq(note), clock)
    try {
      val t = new HttpSfTransport(f.baseUrl, f.session, apiVersion = f.api)
      val schema = graft.types.SfSchema.structType(t.describeWithIndexes("Note").map(_.toSfField))
      val tk = t.pkChunks("Note", schema.fieldNames.toSeq, None, includeDeleted = false, 1000)
      val reader = new graft.sources.salesforce.SfRowReader(
        t.query("Note", schema.fieldNames.toSeq, None, None, includeDeleted = false, tk.headOption), schema)
      reader.next()
      val body = reader.get().getUTF8String(schema.fieldIndex("Body"))
      expect("null text from Bulk CSV lands as NULL", body == null,
        s"lands as '$body' (length ${body.numChars()}) [known graft defect]")
    } finally f.stop()
  }
}
