package graft

import java.sql.{Connection, DriverManager, Timestamp}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sink.DerbyDialect
import graft.sources.salesforce.{BatchInfo, BulkManifest}
import graft.sync.{BulkLoad, SyncConfig, SyncStateStore}

/** Assembled K2 truncate-and-load + C4 bootstrap against embedded
  * Derby: destination truncation, `__sync` registration at the max
  * modstamp landed, and all-or-nothing rollback. The row stream is
  * what `bulkload` feeds [[BulkLoad.refresh]]: only `Completed`
  * batches (F4), read once.
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
    st.execute("""CREATE TABLE "k2dest" ("pk" BIGINT, "name" VARCHAR(80),
      "modstamp" TIMESTAMP)""")
    st.execute("""INSERT INTO "k2dest" VALUES (999, 'stale-row', NULL)""")
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
    .add("name", StringType).add("modstamp", TimestampType, nullable = false)

  private def batchRows(stamp: Timestamp, ids: Long*): Iterator[Row] =
    ids.iterator.map(i => Row(i, s"rec-$i", stamp))

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
    val batches = Seq(
      BatchInfo("b-orig", "NotProcessed"),
      BatchInfo("b1", "Completed"),
      BatchInfo("b2", "Completed"))
    val (n, _) = BulkLoad.refresh(cfg, conn, dialect, state, schema,
      BulkManifest.loadableBatches(batches).iterator.flatMap {
        case BatchInfo("b1", _, _) => batchRows(ts("2024-03-01 09:00:00"), 1L, 2L)
        case BatchInfo("b2", _, _) => batchRows(Modstamp, 3L)
        case b => fail(s"batch ${b.id} (${b.state}) must not be fetched")
      })
    assert(n == 3)
    assert(destRows() == Seq((1L, "rec-1"), (2L, "rec-2"), (3L, "rec-3")))
    val row = state.get("k2dest").get
    assert(row.syncuntil.contains(Modstamp)) // the max landed stamp, not now()
    assert(row.status == "ready")
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
    st.execute("""CREATE TABLE "k2fn" ("pk" BIGINT, "name" VARCHAR(80), "amount" DOUBLE,
      "modstamp" TIMESTAMP)""")
    st.close()
    val fnSchema = new StructType().add("pk", LongType, nullable = false)
      .add("name", StringType).add("amount", DoubleType)
      .add("modstamp", TimestampType, nullable = false)
    val rows = Seq(Row(1L, "a", 2.5, Modstamp), Row(2L, null, null, Modstamp))
    val (n, _) = BulkLoad.refresh(SyncConfig("k2fn", "pk", "modstamp"),
      conn, recording, state, fnSchema, rows.iterator)
    assert(n == 2)
    // nullable string 'name' must NOT be force-nulled; nullable double must
    assert(recorded == Some((Seq("pk", "name", "amount", "modstamp"), Seq("amount"))))
  }

  test("mid-load failure rolls back truncate, load, and registration") {
    val before = destRows()
    val wmBefore = state.get("k2dest").map(_.syncuntil)
    // the rollback runs, then fails: the load's own error still surfaces
    val rollbackFails = java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[Connection]), (_, m, args) => {
        val r = try m.invoke(conn, (if (args == null) Array.empty[AnyRef] else args): _*)
          catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
        if (m.getName == "rollback") throw new java.sql.SQLException("rollback failed")
        r
      }).asInstanceOf[Connection]
    val e = intercept[RuntimeException] {
      BulkLoad.refresh(cfg, rollbackFails, dialect, state, schema,
        batchRows(ts("2024-04-01 00:00:00"), 10L) ++
          Iterator.continually[Row](throw new RuntimeException("simulated download failure")))
    }
    assert(e.getMessage == "simulated download failure")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("rollback failed"))
    assert(destRows() == before) // truncate + partial load undone
    assert(state.get("k2dest").map(_.syncuntil) == wmBefore) // stamp unchanged
  }
}
