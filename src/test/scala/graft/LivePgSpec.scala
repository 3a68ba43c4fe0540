package graft

import java.sql.{Connection, DriverManager, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sink.{CopyStager, PgDialect}
import graft.sync.{IncrementalSync, SyncConfig, SyncResult, SyncStateStore}

/** LIVE PostgreSQL integration — env-gated by `PGSF_TEST_URL`.
  *
  * The PG dialect branch (`ON CONFLICT` merge, `COPY … FORCE_NULL`,
  * DDL, CopyManager reflection) is pinned byte-exact by the TypesSpec
  * golden strings and executed for real against a locally provisioned
  * server by [[LivePgLocalSpec]] (psql transport); what remains
  * untested in the sandbox is ONLY the JDBC layer itself — no
  * postgresql JDBC jar exists there (zero egress), so the residual
  * risk is driver-level type coercion quirks. Point `PGSF_TEST_URL` at a
  * scratch database (`jdbc:postgresql://host:5432/db?user=u&password=p`
  * — everything under schema `graft_livetest` is dropped and
  * recreated) and these run the golden statements plus one end-to-end
  * incremental round for real. Unset — as in the sandbox — every test
  * cancels cleanly (green skip).
  */
class LivePgSpec extends SparkSpec {
  import spark.implicits._

  private val urlOpt = sys.env.get("PGSF_TEST_URL")
  private val Schema = "graft_livetest"

  private def withPg(f: Connection => Unit): Unit = {
    assume(urlOpt.isDefined, "PGSF_TEST_URL not set — live-PG spec skipped")
    val conn = DriverManager.getConnection(urlOpt.get)
    try {
      val st = conn.createStatement()
      try {
        st.execute(s"DROP SCHEMA IF EXISTS $Schema CASCADE")
        st.execute(s"CREATE SCHEMA $Schema")
      } finally st.close()
      f(conn)
    } finally {
      try {
        val st = conn.createStatement()
        try st.execute(s"DROP SCHEMA IF EXISTS $Schema CASCADE")
        finally st.close()
      } finally conn.close()
    }
  }

  private def exec(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql) finally st.close()
  }

  private def queryPairs(conn: Connection, sql: String): Seq[(String, String)] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getString(1), r.getString(2))).toSeq
    } finally st.close()
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  test("TypesSpec golden upsert/delete statements execute on live PG") {
    withPg { conn =>
      val d = new PgDialect()
      val dest = d.qualified(Some(Schema), "Contact")
      val stg = d.qualified(Some(Schema), "tmp")
      exec(conn, s"""CREATE TABLE $dest ("Id" VARCHAR(18) PRIMARY KEY, "Name" TEXT, "IsDeleted" BOOLEAN, "ts" INT)""")
      exec(conn, s"""CREATE TABLE $stg ("Id" VARCHAR(18), "Name" TEXT, "IsDeleted" BOOLEAN, "ts" INT)""")
      exec(conn, s"""INSERT INTO $dest VALUES ('001', 'old-name', false, 1), ('002', 'doomed', false, 1)""")
      exec(conn, s"""INSERT INTO $stg VALUES ('001', 'new-name', false, 2), ('002', 'x', true, 2), ('003', 'fresh', false, 2)""")
      // the exact statement shapes TypesSpec pins as goldens
      exec(conn, d.upsertSql(dest, stg, Seq("Id", "Name", "IsDeleted", "ts"), "Id", "ts",
        Some("IsDeleted")))
      exec(conn, d.deleteSql(dest, stg, "Id", "IsDeleted"))
      val got = queryPairs(conn, s"""SELECT "Id", "Name" FROM $dest ORDER BY "Id"""")
      assert(got == Seq("001" -> "new-name", "003" -> "fresh"))
    }
  }

  test("COPY … FORCE_NULL streams pgsf CSV through CopyManager on live PG") {
    withPg { conn =>
      val d = new PgDialect()
      val dest = d.qualified(Some(Schema), "copy_target")
      exec(conn, s"""CREATE TABLE $dest ("Id" VARCHAR(18), "Name" TEXT, "Amount" DOUBLE PRECISION)""")
      val df = Seq(("001", Option("a\"b"), Option(1.5)), ("002", None, None))
        .toDF("Id", "Name", "Amount")
      val sql = d.copyInSql(dest, Seq("Id", "Name", "Amount"), Seq("Amount"))
        .getOrElse(fail("PgDialect must produce COPY sql"))
      val copied = CopyStager.copyInto(conn, sql, df.schema, df.collect().iterator)
      assume(copied.isDefined,
        "postgresql JDBC driver not on classpath — COPY path skipped")
      assert(copied.contains(2L))
      val got = queryPairs(conn,
        s"""SELECT "Id", COALESCE("Name", '<null>') FROM $dest ORDER BY "Id"""")
      assert(got == Seq("001" -> "a\"b", "002" -> "<null>"))
      // FORCE_NULL applied to the non-string column: empty CSV → NULL
      val nulls = queryPairs(conn,
        s"""SELECT "Id", CAST("Amount" IS NULL AS VARCHAR) FROM $dest ORDER BY "Id"""")
      assert(nulls == Seq("001" -> "false", "002" -> "true"))
    }
  }

  test("one end-to-end IncrementalSync round against live PG") {
    withPg { conn =>
      conn.setAutoCommit(false)
      val d = new PgDialect()
      val dest = d.qualified(Some(Schema), "contacts")
      exec(conn, s"""CREATE TABLE $dest (
        |"pk" BIGINT PRIMARY KEY, "name" TEXT, "amount" DOUBLE PRECISION,
        |"modstamp" TIMESTAMP, "is_deleted" BOOLEAN)""".stripMargin)
      val state = new SyncStateStore(conn)
      state.install()
      state.register("contacts", ts("2024-01-01 00:00:00"))
      conn.commit()
      val sync = new IncrementalSync(conn, d, state)
      val cfg = SyncConfig("contacts", "pk", "modstamp",
        Some("is_deleted"), schema = Some(Schema))
      val schema = StructType(Seq(StructField("pk", LongType, nullable = false),
        StructField("name", StringType), StructField("amount", DoubleType),
        StructField("modstamp", TimestampType), StructField("is_deleted", BooleanType)))
      val r = sync.syncTable(cfg, schema, _ => Iterator(
        Row(1L, "ann", 10.0, ts("2024-01-02 08:00:00"), false),
        Row(2L, "bob", 20.0, ts("2024-01-02 09:30:00"), true)))
      assert(r.isInstanceOf[SyncResult.Merged])
      val got = queryPairs(conn, s"""SELECT CAST("pk" AS VARCHAR), "name" FROM $dest ORDER BY "pk"""")
      assert(got == Seq("1" -> "ann")) // bob arrived soft-deleted → J2 removed
      assert(state.get("contacts").flatMap(_.syncuntil)
        .contains(ts("2024-01-02 09:30:00")))
    }
  }
}
