package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructType, TimestampType}
import graft.sink.{CopyStager, PgDialect}
import graft.types.{SfField, SfSchema}

/** LIVE PostgreSQL validation through `psql` — self-provisioning.
  *
  * The build environment ships PostgreSQL 15 SERVER binaries but no
  * JDBC driver jar (zero egress), so the JDBC/CopyManager path stays
  * behind `PGSF_TEST_URL` ([[LivePgSpec]]). Everything SQL-textual,
  * though, can face a real server today: this spec initdb's a
  * throwaway cluster under /tmp (unix-socket only, no TCP port), pipes
  * the SAME statements the engine generates — [[SfSchema]] DDL,
  * [[PgDialect]] `ON CONFLICT` merge, anti-delete,
  * `COPY … FORCE_NULL` (fed over stdin exactly as CopyManager would),
  * TEMPORARY staging, TRUNCATE, MAX(ts) — through `psql`, and
  * asserts their row-level effects, not just their text. Every test
  * skips cleanly (`assume`) when the binaries or the `postgres` user
  * are unavailable.
  */
class LivePgLocalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = s"/tmp/graft_pglocal_${ProcessHandle.current.pid}"
  private val port = 54399
  private var up = false

  private def isRoot: Boolean =
    try Process(Seq("/bin/sh", "-c", "id -u")).!!.trim == "0"
    catch { case _: Exception => false }

  /** Run a shell command as a user postgres will start for (the
    * server refuses to run as root, so under root we `su postgres`;
    * cwd is /tmp because postgres cannot read root's home/cwd).
    */
  private def sh(cmd: String): (Int, String) = {
    val argv =
      if (isRoot) Seq("su", "-s", "/bin/sh", "postgres", "-c", s"cd /tmp && $cmd")
      else Seq("/bin/sh", "-c", cmd)
    val out = new StringBuilder
    val logger = ProcessLogger(s => out.append(s).append('\n'),
      s => out.append(s).append('\n'))
    (Process(argv).!(logger), out.toString)
  }

  private def shellQuote(s: String): String = "'" + s.replace("'", "'\\''") + "'"

  private def psql(sql: String, db: String = "graft"): String = {
    val (c, out) = sh(
      s"psql -h $dir -p $port -d $db -v ON_ERROR_STOP=1 -At -c ${shellQuote(sql)}")
    assert(c == 0, s"psql failed:\n$out\nSQL: $sql")
    out.trim
  }

  override def beforeAll(): Unit = {
    val haveBins = Seq("initdb", "pg_ctl", "psql").forall(b =>
      Process(Seq("/bin/sh", "-c", s"command -v $b")).!(ProcessLogger(_ => ())) == 0)
    val haveUser = !isRoot ||
      Process(Seq("/bin/sh", "-c", "id postgres")).!(ProcessLogger(_ => ())) == 0
    if (haveBins && haveUser) {
      new java.io.File(dir).mkdirs()
      if (isRoot)
        Process(Seq("chown", "-R", "postgres:postgres", dir)).!(ProcessLogger(_ => ()))
      val steps = Seq(
        s"initdb -D $dir/data -E UTF8 --no-sync -A trust",
        // socket-only: no TCP listener, no port collisions across runs
        s"""pg_ctl -D $dir/data -o "-p $port -k $dir -c listen_addresses=''" """ +
          s"-l $dir/server.log -w start",
        s"psql -h $dir -p $port -d postgres -v ON_ERROR_STOP=1 " +
          s"-c 'CREATE DATABASE graft'")
      up = steps.forall(s => sh(s)._1 == 0)
    }
  }

  override def afterAll(): Unit = {
    if (up) sh(s"pg_ctl -D $dir/data -m immediate stop")
    if (isRoot) Process(Seq("rm", "-rf", dir)).!(ProcessLogger(_ => ()))
  }

  private def live(): Unit =
    assume(up, "local PostgreSQL could not be provisioned — psql spec skipped")

  private val d = new PgDialect()
  private def q(n: String) = d.quoteIdent(n)

  test("SfSchema DDL executes on a real PG 15 and round-trips a row") {
    live()
    val fields = Seq(
      SfField("Id", "string", length = 18, nillable = false),
      SfField("Name", "string", length = 80),
      SfField("Amount", "currency", precision = 18, scale = 2),
      SfField("IsDeleted", "boolean", nillable = false),
      SfField("SystemModstamp", "datetime", nillable = false))
    psql("CREATE SCHEMA IF NOT EXISTS salesforce")
    psql(SfSchema.createTableDdl("salesforce", "Contact", fields, q))
    psql("""INSERT INTO "salesforce"."Contact" VALUES
      ('003A', 'Ada', 12.50, false, '2024-01-01T00:00:00Z')""")
    assert(psql("""SELECT "Name" || '/' || "Amount" FROM "salesforce"."Contact"""")
      == "Ada/12.50")
  }

  test("bootstrap GRANT executes and actually confers SELECT") {
    live()
    val fields = Seq(
      SfField("Id", "string", length = 18, nillable = false),
      SfField("Name", "string", length = 80, isIndexed = true))
    psql("CREATE SCHEMA IF NOT EXISTS salesforce")
    psql("DROP ROLE IF EXISTS graft_readers")
    psql("CREATE ROLE graft_readers")
    SfSchema.createScript("salesforce", "Granted", fields,
        mappingIndexed = Set("Name"), grantTo = Some("graft_readers"), q)
      .foreach(psql(_))
    // the grant is real: PG reports SELECT privilege for the role
    assert(psql("""SELECT has_table_privilege('graft_readers',
      '"salesforce"."Granted"', 'SELECT')""") == "t")
    // and the index DDL took effect alongside it
    assert(psql("""SELECT count(*) FROM pg_indexes
      WHERE schemaname = 'salesforce' AND tablename = 'Granted'
        AND indexdef LIKE '%Name%'""") == "1")
  }

  test("golden ON CONFLICT merge + anti-delete mutate real rows") {
    live()
    psql("""CREATE TABLE dest ("Id" TEXT PRIMARY KEY, "Name" TEXT, "IsDeleted" BOOLEAN,
      "ts" INT)""")
    psql("""CREATE TABLE tmp (LIKE dest)""")
    psql("""INSERT INTO dest VALUES ('1', 'old-1', false, 1), ('2', 'old-2', false, 1)""")
    // delta: update 1, insert 3, soft-delete 2
    psql("""INSERT INTO tmp VALUES ('1', 'new-1', false, 2), ('3', 'new-3', false, 2),
      ('2', 'gone-2', true, 2)""")
    val cols = Seq("Id", "Name", "IsDeleted", "ts")
    psql(d.upsertSql("dest", "tmp", cols, "Id", "ts", Some("IsDeleted")))
    psql(d.deleteSql("dest", "tmp", "Id", "IsDeleted"))
    assert(psql("""SELECT "Id" || ':' || "Name" FROM dest ORDER BY "Id"""")
      == "1:new-1\n3:new-3")
  }

  test("guarded ON CONFLICT leaves rows alone unless the staged ts is newer") {
    live()
    psql("""CREATE TABLE gdest ("Id" TEXT PRIMARY KEY, "Name" TEXT, "ts" INT)""")
    psql("""CREATE TABLE gtmp (LIKE gdest)""")
    psql("""INSERT INTO gdest VALUES ('1', 'landed-1', 5), ('2', 'landed-2', 5),
      ('3', 'no-ts', NULL)""")
    // re-delivered (same ts), older, and newer images, plus a null-ts row
    psql("""INSERT INTO gtmp VALUES ('1', 'again-1', 5), ('2', 'older-2', 4),
      ('3', 'stamped-3', 6), ('4', 'new-4', 6)""")
    val cols = Seq("Id", "Name", "ts")
    // psql -c prints the command tag: 2 rows written, 3 and 4
    assert(psql(d.upsertSql("gdest", "gtmp", cols, "Id", "ts", None)) == "INSERT 0 2")
    assert(psql("""SELECT "Id" || ':' || "Name" FROM gdest ORDER BY "Id"""")
      == "1:landed-1\n2:landed-2\n3:stamped-3\n4:new-4")
  }

  test("COPY FORCE_NULL over stdin turns empty strings into real NULLs") {
    live()
    psql("""CREATE TABLE contacts ("Id" TEXT, "Name" TEXT, "Amount" NUMERIC)""")
    val copySql = d.copyInSql("contacts", Seq("Id", "Name", "Amount"),
      Seq("Name", "Amount")).get
    val csv = s"$dir/stage.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv),
      "Id,Name,Amount\n1,Ada,10.5\n2,,\n3,\"\",2.0\n")
    // stdin feed — the exact shape CopyManager.copyIn uses over JDBC
    val (c, out) = sh(s"psql -h $dir -p $port -d graft -v ON_ERROR_STOP=1 " +
      s"-c ${shellQuote(copySql)} < $csv")
    assert(c == 0, out)
    assert(psql("""SELECT count(*) FROM contacts WHERE "Name" IS NULL""") == "2")
    assert(psql("""SELECT count(*) FROM contacts WHERE "Amount" IS NULL""") == "1")
  }

  test("COPY lands a datetime's milliseconds; a newer image in the same second applies") {
    live()
    psql("""CREATE TABLE msdest ("Id" TEXT PRIMARY KEY, "Name" TEXT,
      "SystemModstamp" TIMESTAMP)""")
    psql("""CREATE TABLE msstage (LIKE msdest)""")
    val schema = new StructType().add("Id", StringType).add("Name", StringType)
      .add("SystemModstamp", TimestampType)
    val cols = schema.fieldNames.toSeq
    // the engine's COPY payload, fed over stdin as CopyManager would
    def copy(table: String, row: Row): Unit = {
      val csv = s"$dir/$table.csv"
      scala.util.Using.resources(CopyStager.csvReader(schema, Iterator(row)),
        java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(csv)))(_.transferTo(_))
      val (c, out) = sh(s"psql -h $dir -p $port -d graft -v ON_ERROR_STOP=1 " +
        s"-c ${shellQuote(d.copyInSql(table, cols, Seq("SystemModstamp")).get)} < $csv")
      assert(c == 0, out)
    }
    def at(iso: String) = java.sql.Timestamp.from(java.time.Instant.parse(iso))
    copy("msdest", Row("1", "landed", at("2024-03-01T09:30:00.123Z")))
    assert(psql("""SELECT "SystemModstamp" FROM msdest""") == "2024-03-01 09:30:00.123")
    // an update later in the same second must pass the ts guard
    copy("msstage", Row("1", "updated", at("2024-03-01T09:30:00.456Z")))
    psql(d.upsertSql("msdest", "msstage", cols, "Id", "SystemModstamp", None))
    assert(psql("""SELECT "Name" || '@' || "SystemModstamp" FROM msdest""")
      == "updated@2024-03-01 09:30:00.456")
  }

  test("TEMPORARY staging, TRUNCATE and MAX(ts) goldens execute") {
    live()
    psql("""CREATE TABLE base ("Id" TEXT, "SystemModstamp" TIMESTAMPTZ)""")
    // one psql session: the staging table only exists inside it
    assert(psql(d.createStagingSql("stage1", "base") +
      "; SELECT relpersistence FROM pg_class WHERE relname = 'stage1'")
      .linesIterator.toSeq.last == "t")
    psql("""INSERT INTO base VALUES ('1', '2024-03-01T08:00:00Z')""")
    assert(psql(d.maxTsSql("base", "SystemModstamp")).nonEmpty)
    psql(d.truncateSql("base"))
    assert(psql("SELECT count(*) FROM base") == "0")
  }
}
