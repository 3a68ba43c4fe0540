package graft

import java.sql.{Connection, DriverManager, Timestamp}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sink.DerbyDialect
import graft.sources.salesforce.{BatchInfo, JobInfo}
import graft.sync.{BulkLoad, SyncConfig, SyncStateStore}

/** Assembled K2 truncate-and-load + C4 bootstrap against embedded
  * Derby: Completed-only batch filter, empty-job and failed-batch
  * guards, destination truncation, `__sync` registration with the job's
  * systemModstamp, and all-or-nothing rollback.
  */
class BulkLoadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var conn: Connection = _
  private var state: SyncStateStore = _
  private val dialect = new DerbyDialect

  private def ts(s: String) = Timestamp.valueOf(s)
  private val Modstamp = ts("2024-03-01 09:30:00")
  private val cfg = SyncConfig("k2dest", "pk", "modstamp")

  override def beforeAll(): Unit = {
    super.beforeAll()
    conn = DriverManager.getConnection("jdbc:derby:memory:bulkloadspec;create=true")
    conn.setAutoCommit(false)
    val st = conn.createStatement()
    st.execute("""CREATE TABLE "k2dest" ("pk" BIGINT, "name" VARCHAR(80))""")
    st.execute("""INSERT INTO "k2dest" VALUES (999, 'stale-row')""")
    st.close()
    state = new SyncStateStore(conn)
    state.install()
    conn.commit()
  }

  override def afterAll(): Unit = {
    try conn.close() catch { case _: Throwable => () }
    super.afterAll()
  }

  private val schema = new StructType().add("pk", LongType, nullable = false)
    .add("name", StringType)

  private def batchRows(ids: Long*): Iterator[Row] =
    ids.iterator.map(i => Row(i, s"rec-$i"))

  private def destRows(): Seq[(Long, String)] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery("""SELECT "pk", "name" FROM "k2dest" ORDER BY "pk"""")
      val out = Seq.newBuilder[(Long, String)]
      while (rs.next()) out += ((rs.getLong(1), rs.getString(2)))
      out.result()
    } finally st.close()
  }

  test("loads Completed batches only, truncates, and registers __sync") {
    val job = JobInfo("750K2",
      batches = Seq(
        BatchInfo("b-orig", "NotProcessed"),
        BatchInfo("b1", "Completed", 2),
        BatchInfo("b2", "Completed", 1)),
      numberRecordsProcessed = 3, systemModstamp = Some(Modstamp))
    val n = BulkLoad.bulkLoad(job, cfg, conn, dialect, state, schema, {
      case BatchInfo("b1", _, _, _) => batchRows(1L, 2L)
      case BatchInfo("b2", _, _, _) => batchRows(3L)
      case b => fail(s"batch ${b.id} (${b.state}) must not be fetched")
    })
    assert(n == 3)
    assert(destRows() == Seq((1L, "rec-1"), (2L, "rec-2"), (3L, "rec-3")))
    val row = state.get("k2dest").get
    assert(row.syncuntil.contains(Modstamp)) // the job's stamp, not now()
    assert(row.status == "ready")
  }

  test("empty job is refused before touching the destination") {
    val empty = JobInfo("750E", Seq(BatchInfo("b", "Completed", 0)),
      numberRecordsProcessed = 0, systemModstamp = Some(Modstamp))
    val before = destRows()
    intercept[IllegalArgumentException] {
      BulkLoad.bulkLoad(empty, cfg, conn, dialect, state, schema,
        _ => fail("must not fetch"))
    }
    assert(destRows() == before)
  }

  test("a Failed batch aborts the whole load") {
    val bad = JobInfo("750F",
      Seq(BatchInfo("b1", "Completed", 5), BatchInfo("b2", "Failed")),
      numberRecordsProcessed = 5, systemModstamp = Some(Modstamp))
    val before = destRows()
    intercept[IllegalArgumentException] {
      BulkLoad.bulkLoad(bad, cfg, conn, dialect, state, schema, _ => fail("must not fetch"))
    }
    assert(destRows() == before)
  }

  test("COPY FORCE_NULL covers only non-string nullable columns") {
    // empty string vs NULL: FORCE_NULL on a string column would load
    // quoted '' as NULL under COPY while the INSERT fallback stores ''
    // — the two load paths must agree, so strings are excluded
    var recorded: Option[(Seq[String], Seq[String])] = None
    val inner = new DerbyDialect
    val recording = new graft.sink.SqlDialect {
      override def quoteIdent(n: String) = inner.quoteIdent(n)
      override def createStagingSql(s: String, d: String) = inner.createStagingSql(s, d)
      override def upsertSql(dest: String, staging: String, cols: Seq[String],
          pk: String, tsCol: String, isDeleted: Option[String]) =
        inner.upsertSql(dest, staging, cols, pk, tsCol, isDeleted)
      override def deleteSql(dest: String, staging: String, pk: String,
          isDeleted: String) = inner.deleteSql(dest, staging, pk, isDeleted)
      override def truncateSql(t: String) = inner.truncateSql(t)
      override def copyInSql(dest: String, cols: Seq[String],
          forceNullCols: Seq[String]) = {
        recorded = Some((cols, forceNullCols))
        None // no COPY protocol here: falls back to batched INSERTs
      }
    }
    val st = conn.createStatement()
    st.execute("""CREATE TABLE "k2fn" ("pk" BIGINT, "name" VARCHAR(80), "amount" DOUBLE)""")
    st.close()
    val fnSchema = schema.add("amount", DoubleType)
    val rows = Seq(Row(1L, "a", 2.5), Row(2L, null, null))
    val job = JobInfo("750N", Seq(BatchInfo("b1", "Completed", 2)),
      numberRecordsProcessed = 2, systemModstamp = Some(Modstamp))
    val n = BulkLoad.bulkLoad(job, SyncConfig("k2fn", "pk", "modstamp"),
      conn, recording, state, fnSchema, _ => rows.iterator)
    assert(n == 2)
    // nullable string 'name' must NOT be force-nulled; nullable double must
    assert(recorded == Some((Seq("pk", "name", "amount"), Seq("amount"))))
  }

  test("mid-load failure rolls back truncate, load, and registration") {
    val before = destRows()
    val wmBefore = state.get("k2dest").map(_.syncuntil)
    val job = JobInfo("750R",
      Seq(BatchInfo("b1", "Completed", 2), BatchInfo("b2", "Completed", 2)),
      numberRecordsProcessed = 4,
      systemModstamp = Some(ts("2024-04-01 00:00:00")))
    // the rollback runs, then fails: the load's own error still surfaces
    val rollbackFails = java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[Connection]), (_, m, args) => {
        val r = try m.invoke(conn, (if (args == null) Array.empty[AnyRef] else args): _*)
          catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
        if (m.getName == "rollback") throw new java.sql.SQLException("rollback failed")
        r
      }).asInstanceOf[Connection]
    val e = intercept[RuntimeException] {
      BulkLoad.bulkLoad(job, cfg, rollbackFails, dialect, state, schema, {
        case BatchInfo("b1", _, _, _) => batchRows(10L)
        case _ => throw new RuntimeException("simulated download failure")
      })
    }
    assert(e.getMessage == "simulated download failure")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("rollback failed"))
    assert(destRows() == before) // truncate + partial load undone
    assert(state.get("k2dest").map(_.syncuntil) == wmBefore) // stamp unchanged
  }
}
