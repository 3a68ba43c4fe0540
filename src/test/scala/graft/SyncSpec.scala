package graft

import java.sql.{Connection, DriverManager, Timestamp}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import graft.sink.DerbyDialect
import graft.sources.salesforce.{MockSfTransport, SalesforceSource, SfFieldMeta, SfSoql}
import graft.sync.{IncrementalSync, SyncConfig, SyncResult, SyncStateStore}

/** End-to-end CDC loop against embedded Derby (the JDBC database that
  * ships with Spark): state machine C3-C6, incremental transaction C1,
  * zero-delta C2, idempotent re-application, watermark-from-landed-data
  * A2, soft-delete propagation J2. PostgreSQL SQL generation is covered
  * separately by golden-string tests in TypesSpec. Row triggers on the
  * destination count every row the sync writes there. A REST delta
  * read on the driver merges last-wins with no Spark job, and a failing
  * cleanup does not hide the round's own error.
  */
class SyncSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var conn: Connection = _
  private var state: SyncStateStore = _
  private var sync: IncrementalSync = _
  private val dialect = new DerbyDialect
  private val url = "jdbc:derby:memory:syncspec"

  private def ts(s: String) = Timestamp.valueOf(s)

  override def beforeAll(): Unit = {
    super.beforeAll()
    conn = DriverManager.getConnection(s"$url;create=true")
    conn.setAutoCommit(false)
    val st = conn.createStatement()
    st.execute(
      """CREATE TABLE "contacts" (
        |  "pk" BIGINT NOT NULL PRIMARY KEY,
        |  "name" VARCHAR(80),
        |  "amount" DOUBLE,
        |  "modstamp" TIMESTAMP,
        |  "is_deleted" BOOLEAN
        |)""".stripMargin)
    st.execute("""CREATE TABLE "dest_writes" ("n" INT)""")
    Seq("INSERT", "UPDATE", "DELETE").foreach(op => st.execute(
      s"""CREATE TRIGGER "contacts_$op" AFTER $op ON "contacts"
         |FOR EACH ROW INSERT INTO "dest_writes" VALUES (1)""".stripMargin))
    st.close()
    state = new SyncStateStore(conn)
    state.install()
    state.register("contacts", ts("2024-01-01 00:00:00"))
    conn.commit()
    sync = new IncrementalSync(conn, dialect, state)
  }

  override def afterAll(): Unit = {
    try conn.close() catch { case _: Throwable => () }
    super.afterAll()
  }

  private val cfg = SyncConfig("contacts", "pk", "modstamp", Some("is_deleted"))

  private val schema = StructType(Seq(StructField("pk", LongType, nullable = false),
    StructField("name", StringType), StructField("amount", DoubleType),
    StructField("modstamp", TimestampType), StructField("is_deleted", BooleanType)))

  private def delta(rows: (Long, String, Double, String, Boolean)*): Iterator[Row] =
    rows.iterator.map { case (pk, n, a, t, d) => Row(pk, n, a, ts(t), d) }

  private def destRows(): Seq[(Long, String, Double)] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery("""SELECT "pk", "name", "amount" FROM "contacts" ORDER BY "pk"""")
      val out = Seq.newBuilder[(Long, String, Double)]
      while (rs.next()) out += ((rs.getLong(1), rs.getString(2), rs.getDouble(3)))
      out.result()
    } finally st.close()
  }

  private def destWrites(): Int = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery("""SELECT COUNT(*) FROM "dest_writes"""")
      rs.next(); rs.getInt(1)
    } finally st.close()
  }

  test("initial delta lands, watermark advances to max(landed ts)") {
    val r = sync.syncTable(cfg, schema, wm => {
      assert(wm.contains(ts("2024-01-01 00:00:00")))
      delta(
        (1L, "ann", 10.0, "2024-01-02 08:00:00", false),
        (2L, "bob", 20.0, "2024-01-02 09:30:00", false))
    })
    assert(r.isInstanceOf[SyncResult.Merged])
    assert(destRows() == Seq((1L, "ann", 10.0), (2L, "bob", 20.0)))
    assert(state.get("contacts").flatMap(_.syncuntil).contains(ts("2024-01-02 09:30:00")))
    assert(state.get("contacts").exists(_.status == "ready"))
  }

  test("second round: upsert + soft delete in one transaction") {
    val r = sync.syncTable(cfg, schema, _ => delta(
      (2L, "bob2", 25.0, "2024-01-03 10:00:00", false),
      (1L, "ann", 10.0, "2024-01-03 11:00:00", true),   // delete
      (3L, "cid", 30.0, "2024-01-03 09:00:00", false)))
    assert(r.isInstanceOf[SyncResult.Merged])
    assert(destRows() == Seq((2L, "bob2", 25.0), (3L, "cid", 30.0)))
  }

  test("re-applying an already-landed delta is idempotent") {
    val before = destRows()
    val writes = destWrites()
    sync.syncTable(cfg, schema, _ => delta(
      (2L, "bob2", 25.0, "2024-01-03 10:00:00", false),
      (3L, "cid", 30.0, "2024-01-03 09:00:00", false)))
    assert(destRows() == before)
    // re-delivered rows are no newer than the landed ones: 0 rows written
    assert(destWrites() == writes)
  }

  test("zero delta takes the fast path: no writes, state touched") {
    val r = sync.syncTable(cfg, schema, _ => delta())
    assert(r == SyncResult.NoChange)
  }

  test("COPY stager: pgsf CSV payload streams correctly; no-PG falls back") {
    val df = Seq((1L, Option("a\"b"), Option(true)), (2L, None, None))
      .toDF("pk", "name", "flag")
    val reader = graft.sink.CopyStager.csvReader(df.schema, df.collect().iterator)
    val text = {
      val sb = new StringBuilder; val buf = new Array[Char](7)
      var n = reader.read(buf, 0, buf.length)
      while (n >= 0) { sb.appendAll(buf, 0, n); n = reader.read(buf, 0, buf.length) }
      sb.result()
    }
    // T1 encoding: header, quote doubling, t/f booleans, NULL as empty
    assert(text ==
      "\"pk\",\"name\",\"flag\"\n1,\"a\"\"b\",t\n2,,\n")
    // this build has no PostgreSQL driver: the reflective seam reports
    // None on a Derby connection and loads take the INSERT path
    assert(graft.sink.CopyStager.copyInto(conn,
      "COPY x FROM STDIN", df.schema, df.collect().iterator).isEmpty)
  }

  test("oversized delta preflight switches to full reload without fetching") {
    // wire-count says 1M rows pending: poll path must stop BEFORE
    // fetching and hand control to the bulk path (README.rst:68)
    var countedFrom: Option[Timestamp] = None
    val r = sync.syncTable(cfg, schema,
      _ => fail("preflight must prevent the fetch"),
      countDelta = Some { wm => countedFrom = wm; 1000000L },
      maxDeltaRows = 50000L)
    assert(r == SyncResult.NeedsFullReload(1000000L))
    assert(countedFrom.isDefined) // counted WITH the watermark predicate
    assert(state.get("contacts").exists(_.status == "ready")) // lock released
    // a small delta sails through the same preflight
    val r2 = sync.syncTable(cfg, schema, _ => delta(),
      countDelta = Some(_ => 10L), maxDeltaRows = 50000L)
    assert(r2 == SyncResult.NoChange)
  }

  test("lock is exclusive: running table refuses a second sync") {
    assert(state.tryLock("contacts"))
    conn.commit()
    val other = DriverManager.getConnection(url)
    other.setAutoCommit(false)
    try {
      val r = new IncrementalSync(other, dialect, new SyncStateStore(other))
        .syncTable(cfg, schema, _ => fail("should not fetch"))
      assert(r == SyncResult.LockBusy)
      // the refused CAS left no transaction open: a second connection
      // updates the row without waiting, and this one closes cleanly
      state.recoverAll() // C6
      conn.commit()
      other.close()
    } finally if (!other.isClosed) { other.rollback(); other.close() }
    assert(state.get("contacts").exists(_.status == "ready"))
  }

  test("failure marks error state and halts future syncs") {
    intercept[RuntimeException] {
      sync.syncTable(cfg, schema, _ => throw new RuntimeException("source down"))
    }
    assert(state.get("contacts").exists(_.status == "error"))
    assert(sync.syncTable(cfg, schema, _ => fail("must not run")) == SyncResult.LockBusy)
    state.recoverAll()
    conn.commit()
    // recoverAll only clears stale 'running' locks, not 'error'
    assert(state.get("contacts").exists(_.status == "error"))
    state.register("contacts", ts("2024-01-03 11:00:00"))
    conn.commit()
  }

  test("dueTables respects refresh cadence") {
    state.register("t_due", ts("2024-01-01 00:00:00"), refreshMinutes = 10)
    state.register("t_fresh", ts("2024-01-01 00:00:00"), refreshMinutes = 100000)
    conn.commit()
    // last_refresh was just set by register; t_due is due 10 min later
    val now = new Timestamp(System.currentTimeMillis() + 11 * 60 * 1000)
    val due = state.dueTables(now)
    assert(due.contains("t_due"))
    assert(!due.contains("t_fresh"))
  }

  test("install is a no-op once __sync exists: the registered row survives") {
    // every bulkload installs; a second one must not refuse to run
    val c = DriverManager.getConnection("jdbc:derby:memory:installspec;create=true")
    try {
      c.setAutoCommit(false)
      val s = new SyncStateStore(c)
      s.install()
      s.register("reinstalled", ts("2024-02-01 00:00:00"))
      c.commit()
      s.install()
      s.install()
      c.commit()
      val row = s.get("reinstalled").get
      assert(row.syncuntil.contains(ts("2024-02-01 00:00:00")))
      assert(row.status == "ready")
    } finally { c.rollback(); c.close() }
  }

  test("delta insert-then-delete of a new PK never survives") {
    val r = sync.syncTable(cfg, schema, _ => delta(
      (9L, "ghost", 90.0, "2024-01-04 00:00:00", false),
      (9L, "ghost", 91.0, "2024-01-04 00:00:01", true)))
    assert(r.isInstanceOf[SyncResult.Merged])
    assert(!destRows().exists(_._1 == 9L))
  }

  test("a REST delta read on the driver merges last-wins with no Spark job") {
    val metas = Seq(SfFieldMeta("pk", "int", nillable = false),
      SfFieldMeta("name", "string", length = 80), SfFieldMeta("amount", "double"),
      SfFieldMeta("modstamp", "datetime"), SfFieldMeta("is_deleted", "boolean"))
    def rec(pk: Int, name: String, t: String): Map[String, Any] = Map("pk" -> pk,
      "name" -> name, "amount" -> pk.toDouble, "modstamp" -> ts(t), "is_deleted" -> false)
    val t = new MockSfTransport(Map("Contact" -> metas), Map("Contact" -> Seq(
      rec(20, "old", "2024-02-01 00:00:00"), rec(20, "new", "2024-02-02 00:00:00"),
      rec(21, "x", "2024-02-01 00:00:00"), rec(22, "landed", "2024-01-01 00:00:00"))))
    val rest = SalesforceSource.schemaOf(t, "Contact")
    val (r, jobs) = sparkJobs(sync.syncTable(cfg, rest, wm => SalesforceSource.rows(t,
      "Contact", rest, wm.map(w => s"modstamp > ${SfSoql.literal(w)}"), includeDeleted = true)))
    assert(r == SyncResult.Merged(2, ts("2024-02-02 00:00:00")))
    assert(destRows().filter(_._1 >= 20) == Seq((20L, "new", 20.0), (21L, "x", 21.0)))
    // the watermark WHERE reached the wire: the landed row was not fetched
    assert(t.lastWhere.contains(s"modstamp > ${SfSoql.literal(ts("2024-01-03 10:00:00"))}"),
      t.lastWhere)
    assert(t.pkChunksCalls == 0 && jobs == 0)
  }

  test("a failing markError keeps the round's own error, the state error suppressed") {
    val real = DriverManager.getConnection(url)
    real.setAutoCommit(false)
    val broken = java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[Connection]), (_, m, args) =>
        if (m.getName == "prepareStatement" && args(0).toString.contains("SET status = ?"))
          throw new java.sql.SQLException("state store down")
        else try m.invoke(real, (if (args == null) Array.empty[AnyRef] else args): _*)
        catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
    ).asInstanceOf[Connection]
    try {
      val st = new SyncStateStore(broken)
      st.register("contacts_err", ts("2024-01-01 00:00:00"))
      broken.commit()
      val e = intercept[RuntimeException] {
        new IncrementalSync(broken, dialect, st)
          .syncTable(cfg.copy(tablename = "contacts_err"), schema,
            _ => throw new RuntimeException("source down"))
      }
      assert(e.getMessage == "source down")
      assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("state store down"))
    } finally real.close()
  }
}
