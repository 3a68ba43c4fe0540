package graft

import java.sql.{DriverManager, Timestamp}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.cli.Cli
import graft.reverse.{MockUploadTransport, UploadTransports}
import graft.sources.salesforce.{MockSfTransport, SfFieldMeta}

/** The CLI verbs (reference entry points `tabledesc.py`, `query.py`,
  * `query_bulk.py`+`csv_to_postgres.py`, `sync`, `upload_table.py`)
  * smoke-tested end to end against mock transports and embedded Derby.
  */
class CliSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val meta = Seq(
    SfFieldMeta("Id", "id", length = 18, nillable = false),
    SfFieldMeta("Name", "string", length = 80),
    SfFieldMeta("NumEmployees", "int"),
    SfFieldMeta("IsDeleted", "boolean"),
    SfFieldMeta("SystemModstamp", "datetime"))

  private def row(id: Int, name: String, n: Int, deleted: Boolean,
      stamp: String): Map[String, Any] =
    Map("Id" -> f"003$id%015d", "Name" -> name, "NumEmployees" -> n,
      "IsDeleted" -> deleted, "SystemModstamp" -> ts(stamp))

  private val v1 = (1 to 20).map(i =>
    row(i, s"acct-$i", i, deleted = false, "2024-01-05 10:00:00"))

  private def register(name: String, rows: Seq[Map[String, Any]]): MockSfTransport = {
    val t = new MockSfTransport(Map("Account" -> meta), Map("Account" -> rows))
    MockSfTransport.register(name, t)
    t
  }

  private def runCli(args: String*): (Int, Seq[String]) = {
    val lines = ArrayBuffer.empty[String]
    val code = Cli.run(args, lines += _)
    (code, lines.toSeq)
  }

  private def writeCsv(text: String): java.io.File = {
    val csv = java.io.File.createTempFile("cliupload", ".csv")
    csv.deleteOnExit()
    java.nio.file.Files.writeString(csv.toPath, text)
    csv
  }

  private val jdbc = "jdbc:derby:memory:clispec;create=true"

  override def beforeAll(): Unit = {
    super.beforeAll()
    val conn = DriverManager.getConnection(jdbc)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE "clidest" (
        |"Id" VARCHAR(18) NOT NULL PRIMARY KEY, "Name" VARCHAR(80),
        |"NumEmployees" INT, "IsDeleted" BOOLEAN, "SystemModstamp" TIMESTAMP
        |)""".stripMargin)
      st.close()
    } finally conn.close()
  }

  test("tabledesc prints the field inventory and generated DDL") {
    register("cli-t", v1)
    val (code, out) = runCli("tabledesc", "--transport", "cli-t",
      "--object", "Account")
    assert(code == 0)
    assert(out.exists(_.startsWith("Id\tid")))
    assert(out.exists(_.contains("CREATE TABLE")))
  }

  test("query prints header + rows; --count answers from the wire count") {
    val t = register("cli-q", v1)
    val (code, out) = runCli("query", "--transport", "cli-q",
      "--object", "Account", "--fields", "Id,Name", "--limit", "3")
    assert(code == 0)
    assert(out.head == "Id,Name")
    assert(out.length == 4) // header + 3 rows
    val before = t.countCalls
    val (c2, out2) = runCli("query", "--transport", "cli-q",
      "--object", "Account", "--count")
    assert(c2 == 0 && out2 == Seq("20"))
    assert(t.countCalls > before) // A1: pushed, not fetched-and-counted
  }

  private def syncState(conn: java.sql.Connection): (Timestamp, String) = {
    val ss = conn.createStatement().executeQuery(
      """SELECT syncuntil, status FROM "__sync" WHERE tablename = 'clidest'""")
    ss.next()
    (ss.getTimestamp(1), ss.getString(2))
  }

  test("bulkload truncate-loads the object into Derby and registers __sync") {
    val t = register("cli-b", v1)
    val ((code, out), jobs) = sparkJobs(runCli("bulkload", "--transport", "cli-b",
      "--object", "Account", "--jdbc", jdbc, "--dest", "clidest",
      "--pk", "Id", "--ts-col", "SystemModstamp"))
    assert(code == 0, out.mkString("\n"))
    assert(out.exists(_.startsWith("loaded 20 rows")))
    assert(jobs == 0) // the extract is read on the driver
    // one read of the source: one chunk plan, no COUNT() round trips
    assert(t.pkChunksCalls == 1 && t.countCalls == 0)
    val conn = DriverManager.getConnection(jdbc)
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT COUNT(*) FROM "clidest"""")
      rs.next(); assert(rs.getInt(1) == 20)
      // max landed ts
      assert(syncState(conn) == (ts("2024-01-05 10:00:00"), "ready"))
    } finally conn.close()
  }

  test("bulkload refuses an empty source; destination and __sync unchanged") {
    register("cli-empty", Nil)
    val (code, out) = runCli("bulkload", "--transport", "cli-empty",
      "--object", "Account", "--jdbc", jdbc, "--dest", "clidest",
      "--pk", "Id", "--ts-col", "SystemModstamp")
    assert(code == 2 && out == Seq(
      "error: source is empty — refusing truncate-and-load of clidest"), out.mkString("\n"))
    val conn = DriverManager.getConnection(jdbc)
    try {
      val rs = conn.createStatement().executeQuery("""SELECT COUNT(*) FROM "clidest"""")
      rs.next(); assert(rs.getInt(1) == 20)
      assert(syncState(conn) == (ts("2024-01-05 10:00:00"), "ready"))
    } finally conn.close()
  }

  test("sync applies an incremental delta: update, insert, soft delete") {
    // v2: record 1 renamed, record 21 new, record 2 soft-deleted — all
    // stamped past the bootstrap watermark
    val v2 = v1.map { r =>
      r("Id") match {
        case id: String if id.endsWith("1") && r("NumEmployees") == 1 =>
          r + ("Name" -> "acct-1-renamed") + ("SystemModstamp" -> ts("2024-01-06 09:00:00"))
        case id: String if id.endsWith("2") && r("NumEmployees") == 2 =>
          r + ("IsDeleted" -> true) + ("SystemModstamp" -> ts("2024-01-06 09:00:00"))
        case _ => r
      }
    } :+ row(21, "acct-21", 21, deleted = false, "2024-01-06 09:30:00")
    val t = register("cli-s", v2)
    val ((code, out), jobs) = sparkJobs(runCli("sync", "--transport", "cli-s",
      "--object", "Account", "--jdbc", jdbc, "--dest", "clidest",
      "--pk", "Id", "--ts-col", "SystemModstamp", "--deleted-col", "IsDeleted"))
    assert(code == 0, out.mkString("\n"))
    assert(out.exists(_.contains("Merged")), out.mkString("\n"))
    // the round is a driver-side poll: no Spark job
    assert(jobs == 0)
    // one read of the delta decides the fast path and stages the rows:
    // REST pages with no chunk plan, and no LIMIT-1 probe or empty
    // select list
    assert(t.pkChunksCalls == 0)
    assert(t.queries.asScala.forall { case (fields, limit) =>
      fields.nonEmpty && limit.isEmpty }, t.queries.asScala.mkString("; "))
    val conn = DriverManager.getConnection(jdbc)
    try {
      val st = conn.createStatement()
      val rs = st.executeQuery(
        """SELECT "Id", "Name" FROM "clidest" ORDER BY "Id"""")
      val got = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => r.getString(2)).toSeq
      assert(got.contains("acct-1-renamed")) // J1 update landed
      assert(got.contains("acct-21")) // insert landed
      assert(!got.contains("acct-2")) // J2 soft delete propagated
      assert(got.size == 20) // 20 - 1 deleted + 1 new
    } finally conn.close()
  }

  test("upload reports per-record failures from the batch results") {
    UploadTransports.register("cli-u", new MockUploadTransport(failEvery = 3))
    val csv = writeCsv("Id,Name\n" + (1 to 5).map(i => s"00$i,n$i\n").mkString)
    val ((code, out), jobs) = sparkJobs(runCli("upload", "--transport", "cli-u",
      "--object", "Account", "--csv", csv.getPath))
    assert(code == 0, out.mkString("\n"))
    assert(jobs == 0) // one posting loop on the driver
    assert(out.head.matches("job .*: 5 records, 1 failed"), out.mkString("\n"))
    assert(out.exists(_.startsWith("FAILED")))
  }

  test("upload posts each RFC-4180 record whole; both empty forms post as NULL") {
    val t = new MockUploadTransport
    UploadTransports.register("cli-rfc", t)
    // a doubled quote, an embedded comma, an embedded newline (CRLF
    // records), and an empty field both unquoted and quoted
    val csv = writeCsv("Id,Name,Note\r\n" +
      "001,\"say \"\"hi\"\"\",\"a,b\"\r\n" +
      "002,\"two\nline\",\r\n" +
      "003,\"\",plain\r\n")
    val (code, out) = runCli("upload", "--transport", "cli-rfc",
      "--object", "Account", "--csv", csv.getPath)
    assert(code == 0, out.mkString("\n"))
    assert(out == Seq(s"job ${t.closedJobs.head}: 3 records, 0 failed"), out.mkString("\n"))
    assert(t.batches.values.toSeq == Seq(
      "\"Id\",\"Name\",\"Note\"\n" +
        "\"001\",\"say \"\"hi\"\"\",\"a,b\"\n" +
        "\"002\",\"two\nline\",\n" +
        "\"003\",,\"plain\"\n"), t.batches.values.mkString("\n----\n"))
  }

  test("upload refuses a CSV record wider or narrower than its header") {
    val t = new MockUploadTransport
    UploadTransports.register("cli-ragged", t)
    val (code, out) = runCli("upload", "--transport", "cli-ragged",
      "--object", "Account", "--csv", writeCsv("Id,Name\n001,a\n002\n").getPath)
    assert(code == 2 && out == Seq(
      "error: requirement failed: CSV record 2 has 1 fields, the header 2"), out.mkString("\n"))
    // the file is checked before the job opens: no job, no batch
    assert(t.createdJobs.isEmpty && t.batches.isEmpty)
  }

  test("search verb: SOSL hits across objects, --term quick wrapping") {
    register("cli-s", v1)
    val (code, out) = runCli("search", "--transport", "cli-s",
      "--term", "acct-7")
    assert(code == 0, out.mkString("\n"))
    assert(out.head == "1 records", out.mkString("\n"))
    assert(out(1).startsWith("Account") && out(1).contains("Name=acct-7"))
    // RETURNING restriction: no object match -> zero hits
    val (_, out2) = runCli("search", "--transport", "cli-s",
      "--sosl", "FIND {acct-7} RETURNING Contact(Id)")
    assert(out2.head == "0 records", out2.mkString("\n"))
    // missing both --sosl and --term is a usage error, not a stack trace
    val (code3, out3) = runCli("search", "--transport", "cli-s")
    assert(code3 == 2 && out3.head.startsWith("error:"), out3.mkString("\n"))
  }

  test("abort cancels the table's sync and parks it in error state") {
    val (code, out) = runCli("abort", "--jdbc", jdbc, "--dest", "clidest")
    assert(code == 0, out.mkString("\n"))
    val conn = DriverManager.getConnection(jdbc)
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT status FROM "__sync" WHERE tablename = 'clidest'""")
      rs.next(); assert(rs.getString(1) == "error")
    } finally conn.close()
  }

  test("gc sweeps staging entries older than the retention window") {
    val dir = tempDir("cligc").toFile
    val old = new java.io.File(dir, "job-old"); old.mkdir()
    new java.io.PrintWriter(new java.io.File(old, "b.csv")) { write("x"); close() }
    old.setLastModified(System.currentTimeMillis() - 10L * 24 * 3600 * 1000)
    val fresh = new java.io.File(dir, "job-new"); fresh.mkdir()
    val (code, out) = runCli("gc", "--dir", dir.getPath, "--days", "7")
    assert(code == 0 && out.head.startsWith("removed 1 "))
    assert(!old.exists() && fresh.exists())
  }

  test("config file feeds option defaults; explicit flags win (config.py, etc/pgsf.example)") {
    register("cli-cfg", v1)
    val cfg = java.io.File.createTempFile("graftcfg", ".ini")
    cfg.deleteOnExit()
    val w = new java.io.PrintWriter(cfg)
    w.println("# comment line")
    w.println("[DEFAULT]")
    w.println("job_dir = /tmp/graft-jobs-cfg")
    w.println("[postgresql]")
    w.println("url = jdbc:derby:memory:clispec;create=true") // ';' survives (no inline comments)
    w.println("schema : cfgschema") // ':' separator, configparser-style
    w.println("quote_name = 1")
    w.close()
    // config schema lands in the generated DDL...
    val (code, out) = runCli("tabledesc", "--config", cfg.getPath,
      "--transport", "cli-cfg", "--object", "Account")
    assert(code == 0, out.mkString("\n"))
    assert(out.exists(_.contains("cfgschema")), out.mkString("\n"))
    // ...and an explicit flag overrides it
    val (c2, out2) = runCli("tabledesc", "--config", cfg.getPath,
      "--transport", "cli-cfg", "--object", "Account", "--schema", "flagwins")
    assert(c2 == 0 && out2.exists(_.contains("flagwins")))
    assert(!out2.exists(_.contains("cfgschema")))
  }

  test("ConfigFile parses DEFAULT inheritance, booleans, and assembles the PG URL") {
    import graft.cli.ConfigFile
    val c = ConfigFile.parse(
      """[DEFAULT]
        |job_dir = jobs
        |[postgresql]
        |host = db.example.com
        |db = localdb
        |user = sf
        |password = secret
        |quote_name = off
        |""".stripMargin)
    assert(c.get("postgresql", "job_dir").contains("jobs")) // DEFAULT inherited
    assert(c.getBoolean("postgresql", "quote_name").contains(false))
    assert(c.jdbcUrl.contains(
      "jdbc:postgresql://db.example.com:5432/localdb?user=sf&password=secret"))
    // explicit url key wins over assembly
    val c2 = ConfigFile.parse("[postgresql]\nurl = jdbc:x\ndb = ignored\n")
    assert(c2.jdbcUrl.contains("jdbc:x"))
    assert(ConfigFile.parse("").jdbcUrl.isEmpty)
  }

  test("ConfigFile URL-encodes credentials and rejects non-boolean values") {
    import graft.cli.ConfigFile
    // a password with &/=/% must survive the PG driver's query-string
    // split + URL-decode round trip
    val c = ConfigFile.parse(
      "[postgresql]\ndb = d\nuser = s f\npassword = p&ss=100%\n")
    assert(c.jdbcUrl.contains(
      "jdbc:postgresql://localhost:5432/d?user=s+f&password=p%26ss%3D100%25"))
    // configparser getboolean semantics: a typo errors, never silently false
    assert(ConfigFile.parseBoolean(" On ") === true)
    assert(ConfigFile.parseBoolean("0") === false)
    intercept[IllegalArgumentException] { ConfigFile.parseBoolean("ture") }
    intercept[IllegalArgumentException] {
      ConfigFile.parse("[postgresql]\nquote_name = ture\n")
        .getBoolean("postgresql", "quote_name")
    }
  }

  test("unknown verbs and missing options fail with usage, not stack traces") {
    val (code, out) = runCli("frobnicate")
    assert(code == 2 && out.exists(_.contains("usage:")))
    val (c2, out2) = runCli("query", "--object", "Account")
    assert(c2 == 2 && out2.exists(_.contains("--transport is required")))
  }

  test("explain verb prints a formatted physical plan for a registered query") {
    val (code, out) = runCli("explain", "--query", "q1_agg",
      "--sf-dir", "/root/testdata/sf0.001")
    assert(code == 0, s"explain failed: ${out.mkString("\n").take(500)}")
    val text = out.mkString("\n")
    assert(text.contains("Physical Plan") && text.contains("HashAggregate"),
      s"not a formatted plan:\n${text.take(800)}")
    val (c2, out2) = runCli("explain", "--query", "nope",
      "--sf-dir", "/root/testdata/sf0.001")
    assert(c2 == 2 && out2.exists(_.contains("unknown query")))
  }
}
