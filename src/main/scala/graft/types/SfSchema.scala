package graft.types

import org.apache.spark.sql.types._

/** Salesforce describe-metadata model → Spark StructType + PostgreSQL
  * DDL, mirroring the reference's type system exactly
  * (SURVEY.md §1.2; `createtable.py:13-35`, `tabledesc.py:206-225`).
  *
  * Schemas are dynamic-but-pinned: fetched once from describe, then
  * driving every projection/DDL decision. `DataFrame` (runtime schema)
  * is the row abstraction — never `Dataset[T]`.
  */
final case class SfField(
    name: String,
    sfType: String,
    length: Int = 0,
    precision: Int = 0,
    scale: Int = 0,
    nillable: Boolean = true,
    unique: Boolean = false,
    calculated: Boolean = false,
    compoundFieldName: Option[String] = None,
    defaultValue: Option[Any] = None,
    isIndexed: Boolean = false)

final case class UnsupportedTypeException(sfType: String)
  extends RuntimeException(s"SF type not implemented: $sfType")

object SfSchema {

  /** SF describe type → Spark DataType (`createtable.py:13-35` rows). */
  def sparkType(f: SfField): DataType = f.sfType match {
    case "combobox" | "email" | "encryptedstring" | "id" | "phone" |
         "reference" | "string" | "textarea" | "url" => StringType
    case "picklist" | "multipicklist" => StringType
    case "int" => IntegerType
    case "date" => DateType
    case "datetime" => TimestampType
    case "boolean" => BooleanType
    case "currency" => DecimalType(f.precision, f.scale)
    case "double" | "percent" => DoubleType
    case "anyType" => StringType
    case "address" => addressStruct(f.name)
    case other => throw UnsupportedTypeException(other)
  }

  /** Compound address fields explode to 7 scalars with name mangling
    * `XAddress` → `XStreet…` (`createtable.py:52-71`).
    */
  private[types] def addressBase(name: String): String =
    if (name.endsWith("Address")) name.dropRight("Address".length) else name

  def addressStruct(name: String): StructType = StructType(Seq(
    StructField(s"${addressBase(name)}Street", StringType),
    StructField(s"${addressBase(name)}City", StringType),
    StructField(s"${addressBase(name)}State", StringType),
    StructField(s"${addressBase(name)}PostalCode", StringType),
    StructField(s"${addressBase(name)}Country", StringType),
    StructField(s"${addressBase(name)}Latitude", DoubleType),
    StructField(s"${addressBase(name)}Longitude", DoubleType)))

  /** SF describe type → PG DDL type (`createtable.py:13-35`). */
  def pgType(f: SfField): String = f.sfType match {
    case "combobox" | "email" | "encryptedstring" | "id" | "phone" |
         "reference" | "string" | "textarea" | "url" => s"VARCHAR(${f.length})"
    case "picklist" | "multipicklist" => "TEXT" // size is not reliable
    case "int" => "INTEGER"
    case "date" => "DATE"
    case "datetime" => "TIMESTAMP"
    case "boolean" => "BOOLEAN"
    case "currency" => s"NUMERIC(${f.precision}, ${f.scale})"
    case "double" | "percent" => "DOUBLE PRECISION"
    case "anyType" => "TEXT"
    case other => throw UnsupportedTypeException(other)
  }

  /** SQL literal rendering for DEFAULT clauses (`createtable.py:38-45`). */
  def sqlConst(v: Any): String = v match {
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Boolean => if (b) "true" else "false"
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Double => n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case other => throw new IllegalArgumentException(s"const not renderable: $other")
  }

  /** Whole-table StructType: address compounds flattened (sink shape);
    * calculated and compound-member fields excluded
    * (`tabledesc.py:176-193`); describe order preserved.
    */
  def structType(fields: Seq[SfField]): StructType = {
    val selected = defaultSelection(fields)
    StructType(selected.flatMap { f =>
      sparkType(f) match {
        case st: StructType => st.fields.toSeq
        case dt => Seq(StructField(f.name, dt, nullable = f.nillable))
      }
    })
  }

  /** Default field selection: drop formulas (`calculated`) and compound
    * members; drop `Id` when `DurableId` exists (`createtable.py:102-103`,
    * `tabledesc.py:176-193`).
    */
  def defaultSelection(fields: Seq[SfField]): Seq[SfField] = {
    val hasDurable = fields.exists(_.name == "DurableId")
    fields.filter { f =>
      !f.calculated && f.compoundFieldName.isEmpty &&
        !(hasDurable && f.name == "Id")
    }
  }

  /** Minimal preset (`tabledesc.py:156-158`). */
  val MinimalFields: Seq[String] =
    Seq("Id", "DurableId", "CreatedDate", "IsDeleted", "SystemModstamp")

  /** PK rule: DurableId, else Id, else error (`tabledesc.py:206-213`). */
  def pkName(fields: Seq[SfField]): String =
    fields.collectFirst { case f if f.name == "DurableId" => f.name }
      .orElse(fields.collectFirst { case f if f.name == "Id" => f.name })
      .getOrElse(throw new IllegalArgumentException("no Id/DurableId field"))

  /** CDC timestamp rule: first of SystemModStamp/SystemModstamp/
    * LastModifiedDate/CreatedDate present (`tabledesc.py:215-225`).
    */
  def timestampColumn(fields: Seq[SfField]): String = {
    val names = fields.map(_.name).toSet
    Seq("SystemModStamp", "SystemModstamp", "LastModifiedDate", "CreatedDate")
      .find(names.contains)
      .getOrElse(throw new IllegalArgumentException("no CDC timestamp field"))
  }

  /** CREATE TABLE DDL (`createtable.py:87-127`): PK on Id/DurableId,
    * NOT NULL from nillable, DEFAULT from describe, UNIQUE flags;
    * address compounds exploded inline.
    */
  def createTableDdl(schema: String, table: String, fields: Seq[SfField],
      quote: String => String = identity): String = {
    val selected = defaultSelection(fields)
    val pk = pkName(selected)
    val colDefs = selected.flatMap { f =>
      sparkType(f) match {
        case st: StructType =>
          st.fields.map { sf =>
            val t = sf.dataType match {
              case DoubleType => "DOUBLE PRECISION"
              case _ => sf.name match {
                case n if n.endsWith("Street") => "VARCHAR(255)"
                case n if n.endsWith("City") => "VARCHAR(40)"
                case n if n.endsWith("State") => "VARCHAR(80)"
                case n if n.endsWith("PostalCode") => "VARCHAR(20)"
                case n if n.endsWith("Country") => "VARCHAR(80)"
                case _ => "TEXT"
              }
            }
            s"  ${quote(sf.name)} $t"
          }
        case _ =>
          val base = s"  ${quote(f.name)} ${pgType(f)}"
          val withPk = if (f.name == pk) s"$base PRIMARY KEY" else base
          val withNull = if (!f.nillable && f.name != pk) s"$withPk NOT NULL" else withPk
          val withDefault = f.defaultValue match {
            case Some(v) => s"$withNull DEFAULT ${sqlConst(v)}"
            case None => withNull
          }
          Seq(if (f.unique && f.name != pk) s"$withDefault UNIQUE" else withDefault)
      }
    }
    s"CREATE TABLE ${quote(schema)}.${quote(table)} (\n" +
      colDefs.mkString(",\n") + "\n)"
  }

  /** Secondary index DDL: only fields marked indexed in the mapping AND
    * reported IsIndexed by SF (`createtable.py:111-123`).
    */
  def createIndexDdl(schema: String, table: String, fields: Seq[SfField],
      mappingIndexed: Set[String], quote: String => String = identity): Seq[String] = {
    val pk = pkName(fields)
    defaultSelection(fields)
      .filter(f => f.name != pk && f.isIndexed && mappingIndexed.contains(f.name))
      .map(f =>
        s"CREATE INDEX ON ${quote(schema)}.${quote(table)} (${quote(f.name)})")
  }

  /** GRANT SELECT for the replicated table — the read-out role grant
    * the reference appends to its create script when `grant_to` is
    * configured (`createtable.py:124-126`, `config.py:35`; the install
    * script grants schema usage the same way, `install.sql`).
    */
  def grantDdl(schema: String, table: String, grantTo: String,
      quote: String => String = identity): String =
    s"GRANT SELECT ON ${quote(schema)}.${quote(table)} TO ${quote(grantTo)}"

  /** The full bootstrap statement list — the image of
    * `get_pgsql_create` (`createtable.py:87-127`): CREATE TABLE, one
    * CREATE INDEX per mapping-and-SF-indexed field, and (when a
    * grantee is configured) the GRANT.
    */
  def createScript(schema: String, table: String, fields: Seq[SfField],
      mappingIndexed: Set[String] = Set.empty,
      grantTo: Option[String] = None,
      quote: String => String = identity): Seq[String] =
    Seq(createTableDdl(schema, table, fields, quote)) ++
      createIndexDdl(schema, table, fields, mappingIndexed, quote) ++
      grantTo.map(g => grantDdl(schema, table, g, quote))
}
