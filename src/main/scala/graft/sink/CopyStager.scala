package graft.sink

import java.sql.Connection
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructType}
import graft.reverse.BulkUpload

/** The one driver-side load path of the replication sink: a sync
  * round's staging load and a bulk load's destination load both stream
  * their rows through [[load]]. The PostgreSQL COPY fast path
  * (`csv_to_postgres.py:86-89` `copy_expert`) sends the rows through
  * the wire protocol as CSV — one stream instead of one batched INSERT
  * per 1000 rows. The JDBC driver is reached by reflection
  * (`org.postgresql.copy.CopyManager`), so this module carries no
  * compile-time PostgreSQL dependency; environments without the driver
  * (this build's Derby tests) take the batched-INSERT path.
  */
object CopyStager {

  /** Loads `rows` (shaped by `schema`) into `table`: the dialect's COPY
    * when the connection speaks it, else 1000-row batched INSERTs.
    *
    * FORCE_NULL only for NON-STRING nullable columns: encodeRow emits
    * NULL as an unquoted empty field and '' as a quoted one, but
    * FORCE_NULL erases that distinction (quoted empty → NULL too), so
    * string columns under COPY would diverge from the INSERT path
    * (which stores ''). Non-string types have no empty-string value,
    * so FORCE_NULL is exactly the null-restoration they need.
    * @return rows loaded
    */
  def load(conn: Connection, dialect: SqlDialect, table: String,
      schema: StructType, rows: Iterator[Row]): Long = {
    val cols = schema.fieldNames.toSeq
    val forceNull = schema.fields
      .filter(f => f.nullable && f.dataType != StringType).map(_.name).toSeq
    dialect.copyInSql(table, cols, forceNull)
      .flatMap(copyInto(conn, _, schema, rows))
      .getOrElse {
        val ps = conn.prepareStatement(
          s"INSERT INTO $table (${cols.map(dialect.quoteIdent).mkString(", ")})" +
            s" VALUES (${cols.map(_ => "?").mkString(", ")})")
        try {
          var count = 0L
          rows.foreach { row =>
            cols.indices.foreach(i => ps.setObject(i + 1, row.get(i)))
            ps.addBatch()
            count += 1
            if (count % 1000 == 0) ps.executeBatch()
          }
          ps.executeBatch()
          count
        } finally ps.close()
      }
  }

  /** Streams `rows` as pgsf-encoded CSV through COPY.
    * @return rows copied, or None when the connection has no COPY
    *         protocol (no row is consumed then)
    */
  def copyInto(conn: Connection, copySql: String, schema: StructType,
      rows: Iterator[Row]): Option[Long] =
    copyManager(conn).map { case (cm, copyInMethod) =>
      copyInMethod.invoke(cm, copySql, csvReader(schema, rows)).asInstanceOf[Long]
    }

  /** The COPY payload: header + pgsf-encoded rows (T1 encoding —
    * booleans t/f, NULL as empty, NUL stripped, ISO8601 timestamps;
    * `query_poll_table.py:21-50`), exposed as a streaming Reader so the
    * whole delta never materializes as one string.
    */
  def csvReader(schema: StructType, rows: Iterator[Row]): java.io.Reader = new java.io.Reader {
    private var buf: String = BulkUpload.header(schema.fieldNames.toSeq) + "\n"
    private var pos = 0
    override def read(cbuf: Array[Char], off: Int, len: Int): Int = {
      while (pos >= buf.length) {
        if (!rows.hasNext) return -1
        buf = BulkUpload.encodeRow(rows.next()) + "\n"
        pos = 0
      }
      val n = math.min(len, buf.length - pos)
      buf.getChars(pos, pos + n, cbuf, off)
      pos += n
      n
    }
    override def close(): Unit = ()
  }

  /** (CopyManager instance, copyIn(String, Reader) method) when the
    * PostgreSQL driver is on the classpath and `conn` unwraps to a PG
    * connection; None otherwise.
    */
  private def copyManager(conn: Connection)
      : Option[(AnyRef, java.lang.reflect.Method)] =
    try {
      val bc = Class.forName("org.postgresql.core.BaseConnection")
        .asInstanceOf[Class[AnyRef]]
      if (!conn.isWrapperFor(bc)) None
      else {
        val cmClass = Class.forName("org.postgresql.copy.CopyManager")
        val cm = cmClass.getConstructor(bc).newInstance(conn.unwrap(bc))
        val m = cmClass.getMethod("copyIn", classOf[String], classOf[java.io.Reader])
        Some(cm.asInstanceOf[AnyRef] -> m)
      }
    } catch {
      case _: ClassNotFoundException => None
      case _: java.sql.SQLException => None
    }
}
