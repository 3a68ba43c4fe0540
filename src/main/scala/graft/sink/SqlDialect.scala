package graft.sink

/** SQL-generation dialect for the JDBC merge sink. The PostgreSQL
  * dialect is the faithful reference target (`query_poll_table.py:
  * 107-152`, `pg.py:101-133`); the Derby dialect exists so the staged
  * merge executor can be integration-tested against the embedded Derby
  * that ships with Spark (no PostgreSQL in the build environment).
  *
  * Scale split: every statement runs on the one driver-held connection
  * of the round — staging is loaded through it ([[CopyStager.load]]),
  * so the staging table only has to be visible to that session.
  */
trait SqlDialect {
  def quoteIdent(name: String): String
  /** `'` → `''` string literal escaping (`pg.py:101-106`). */
  final def quoteLiteral(s: String): String = "'" + s.replace("'", "''") + "'"
  def qualified(schema: Option[String], table: String): String =
    schema.map(s => s"${quoteIdent(s)}.").getOrElse("") + quoteIdent(table)

  /** Staging temp-table DDL (`CREATE TEMPORARY TABLE tmp (LIKE dest)`
    * in PG, `query_poll_table.py:175-180`). May be session-local —
    * only the connection that created it needs to see it.
    */
  def createStagingSql(staging: String, dest: String): String

  /** Upsert-merge J1: last-write-wins merge of staging into dest on the
    * PK, optionally skipping soft-deleted rows on the insert path
    * (`query_poll_table.py:119-137`). A matched row is rewritten only
    * when its staged CDC timestamp `tsCol` is newer, so rows re-delivered
    * from the watermark's second write nothing.
    */
  def upsertSql(dest: String, staging: String, cols: Seq[String], pk: String,
      tsCol: String, isDeleted: Option[String]): String

  /** Anti-join delete J2: remove dest rows whose staging image is
    * soft-deleted (`query_poll_table.py:139-152`).
    */
  def deleteSql(dest: String, staging: String, pk: String, isDeleted: String): String

  /** Watermark A2: max CDC timestamp actually landed
    * (`synctable.py:45-54`).
    */
  def maxTsSql(dest: String, tsCol: String): String =
    s"SELECT MAX(${quoteIdent(tsCol)}) FROM $dest"

  def dropSql(table: String): String = s"DROP TABLE $table"

  def truncateSql(table: String): String = s"TRUNCATE TABLE $table"

  /** K1 fast path: `COPY ... FROM STDIN` SQL for streaming a CSV into
    * the destination through the wire protocol
    * (`csv_to_postgres.py:38-45`). `forceNullCols` lists nullable
    * columns whose empty CSV field must become NULL (the reference's
    * FORCE_NULL over nillable sync fields). None when the dialect has
    * no bulk-copy protocol — callers fall back to batched INSERTs.
    */
  def copyInSql(dest: String, cols: Seq[String],
      forceNullCols: Seq[String]): Option[String] = None
}

/** Faithful PostgreSQL dialect (`query_poll_table.py`, `pg.py`). */
final class PgDialect(quoteNames: Boolean = true) extends SqlDialect {
  override def quoteIdent(name: String): String =
    if (quoteNames) "\"" + name.replace("\"", "\"\"") + "\"" else name

  override def createStagingSql(staging: String, dest: String): String =
    s"CREATE TEMPORARY TABLE $staging (LIKE $dest INCLUDING DEFAULTS)"

  override def upsertSql(dest: String, staging: String, cols: Seq[String],
      pk: String, tsCol: String, isDeleted: Option[String]): String = {
    val colList = cols.map(quoteIdent).mkString(", ")
    val excluded = cols.map(c => s"EXCLUDED.${quoteIdent(c)}").mkString(", ")
    val notDeleted = isDeleted.map(c => s" WHERE NOT ${quoteIdent(c)}").getOrElse("")
    val ts = quoteIdent(tsCol)
    s"INSERT INTO $dest AS d ($colList) SELECT $colList FROM $staging$notDeleted" +
      s" ON CONFLICT (${quoteIdent(pk)}) DO UPDATE SET ($colList) = ($excluded)" +
      s" WHERE d.$ts IS NULL OR d.$ts < EXCLUDED.$ts"
  }

  override def deleteSql(dest: String, staging: String, pk: String,
      isDeleted: String): String =
    s"DELETE FROM $dest WHERE ${quoteIdent(pk)} IN " +
      s"(SELECT ${quoteIdent(pk)} FROM $staging WHERE ${quoteIdent(isDeleted)})"

  /** `COPY t (c1,…) FROM STDIN WITH (FORMAT csv, HEADER, FORCE_NULL
    * (…))` — byte-faithful to `csv_to_postgres.get_pgsql_import`
    * (`csv_to_postgres.py:29-45`): FORCE_NULL only when a nillable
    * column list exists.
    */
  override def copyInSql(dest: String, cols: Seq[String],
      forceNullCols: Seq[String]): Option[String] = {
    val forceNull =
      if (forceNullCols.isEmpty) ""
      else ", FORCE_NULL (" + forceNullCols.map(quoteIdent).mkString(",") + ")"
    Some(s"COPY $dest (${cols.map(quoteIdent).mkString(",")})" +
      s" FROM STDIN WITH (FORMAT csv, HEADER$forceNull)")
  }
}

/** Embedded-Derby dialect (test double; ANSI MERGE instead of
  * ON CONFLICT, plain DELETE — semantics identical for our usage).
  */
final class DerbyDialect extends SqlDialect {
  override def quoteIdent(name: String): String =
    "\"" + name.replace("\"", "\"\"") + "\""

  override def createStagingSql(staging: String, dest: String): String =
    s"CREATE TABLE $staging AS SELECT * FROM $dest WITH NO DATA"

  override def upsertSql(dest: String, staging: String, cols: Seq[String],
      pk: String, tsCol: String, isDeleted: Option[String]): String = {
    val setList = cols.filterNot(_ == pk)
      .map(c => s"${quoteIdent(c)} = s.${quoteIdent(c)}").mkString(", ")
    val colList = cols.map(quoteIdent).mkString(", ")
    val valList = cols.map(c => s"s.${quoteIdent(c)}").mkString(", ")
    // Derby's MERGE source must be a base table; the soft-delete filter
    // becomes a NOT MATCHED refinement (matched-and-deleted rows still
    // update, then J2 removes them — same net state as the reference)
    val refinement = isDeleted.map(c => s" AND NOT s.${quoteIdent(c)}").getOrElse("")
    val ts = quoteIdent(tsCol)
    s"MERGE INTO $dest d USING $staging s" +
      s" ON d.${quoteIdent(pk)} = s.${quoteIdent(pk)}" +
      s" WHEN MATCHED AND (d.$ts IS NULL OR d.$ts < s.$ts) THEN UPDATE SET $setList" +
      s" WHEN NOT MATCHED$refinement THEN INSERT ($colList) VALUES ($valList)"
  }

  override def deleteSql(dest: String, staging: String, pk: String,
      isDeleted: String): String =
    s"DELETE FROM $dest WHERE ${quoteIdent(pk)} IN " +
      s"(SELECT ${quoteIdent(pk)} FROM $staging WHERE ${quoteIdent(isDeleted)})"

  override def truncateSql(table: String): String = s"DELETE FROM $table"
}
