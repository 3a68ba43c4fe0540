package graft.sources.salesforce

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.types.{SfField, SfSchema}

/** DataSource V2 `salesforce` source (SURVEY.md §4): describe-driven
  * schema, PK-chunked partition planning (S2), and the four pushdowns
  * the reference does client-side — column pruning (P1), predicate
  * pass-through rendered to SOQL (F1/F2), LIMIT (L1), and COUNT()
  * answered from `totalSize` without fetching rows (A1).
  *
  * Usage:
  * {{{
  * spark.read.format("salesforce")
  *   .option("object", "Contact")
  *   .option("transport", "<registered transport name>")
  *   .option("includeDeleted", "true")   // queryAll semantics
  *   .load()
  * }}}
  *
  * Scale posture: one `InputPartition` per PK chunk — the direct
  * analogue of the reference's server-side bulk batches — so a
  * 1000-executor cluster reads 1000 chunks concurrently; objects that
  * reject chunking degrade to a single partition, never fail
  * (`query_bulk.py:26-36`). The reference's poll read
  * (`query_poll_table.py:78-85`) is not a Spark scan: a small watermark
  * delta is read on the driver by [[SalesforceSource.rows]], REST
  * `query/` or `queryAll/` pages through `nextRecordsUrl`, with no Bulk
  * job and no Spark job.
  */
class SalesforceSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "salesforce"

  private def required(options: CaseInsensitiveStringMap, key: String): String = {
    val v = options.get(key)
    require(v != null && v.nonEmpty,
      s"salesforce source: option '$key' is required")
    v
  }

  private def transport(options: CaseInsensitiveStringMap): SfTransport =
    SfTransports.get(required(options, "transport"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SalesforceSource.schemaOf(transport(options), required(options, "object"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SfTable(schema, new CaseInsensitiveStringMap(properties))
}

/** The driver-side read: the scan's schema and decoder with no Spark
  * query, for a delta the driver holds anyway (`Cli sync`).
  */
object SalesforceSource {

  /** The object's Spark schema from describe alone: the struct flatten
    * keys off compoundFieldName and the drop rules off calculated, both
    * on describe's own record; IsIndexed (FieldDefinition) only feeds
    * index DDL, never the schema.
    */
  def schemaOf(transport: SfTransport, objectName: String): StructType =
    SfSchema.structType(transport.describe(objectName).map(_.toSfField))

  /** Every `schema` column of the records matching `where`, as external
    * `Row`s: one un-chunked [[SfTransport.query]] (REST pages through
    * `nextRecordsUrl` over HTTP), decoded by [[SfRowReader]] exactly as a
    * scan partition is.
    */
  def rows(transport: SfTransport, objectName: String, schema: StructType,
      where: Option[String], includeDeleted: Boolean): Iterator[Row] = {
    val reader = new SfRowReader(transport.query(objectName, schema.fieldNames.toSeq,
      where, None, includeDeleted, None), schema)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    Iterator.continually(reader).takeWhile(_.next())
      .map(r => toRow(r.get()).asInstanceOf[Row])
  }
}

/** SOQL literal rendering, shared by the scan's pushdown and the sync
  * watermark predicate so both send the same text.
  */
object SfSoql {
  // T6: ISO8601 UTC second precision (`query_poll_table.py:82`)
  private val isoUtc = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)

  def literal(v: Any): String = v match {
    case s: String => "'" + s.replace("'", "\\'") + "'"
    case ts: java.sql.Timestamp => isoUtc.format(ts.toInstant)
    case other => other.toString
  }
}

final class SfTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"salesforce.${options.get("object")}"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new SfScanBuilder(schema, options)
}

final class SfScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var requiredSchema: StructType = fullSchema
  private var pushedSoql: Seq[(Filter, String)] = Nil
  private var notPushed: Seq[Filter] = Nil
  private var limit: Option[Int] = None
  private var countStar: Boolean = false

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // P1: the mapping-file select list, derived from the plan instead
    this.requiredSchema = requiredSchema
  }

  /** SOQL rendering of Catalyst source filters; unsupported shapes stay
    * Spark-side (returned as residuals).
    */
  private def toSoql(f: Filter): Option[String] = {
    import SfSoql.{literal => lit}
    f match {
      case sources.EqualTo(a, v) => Some(s"$a = ${lit(v)}")
      case sources.GreaterThan(a, v) => Some(s"$a > ${lit(v)}")
      case sources.GreaterThanOrEqual(a, v) => Some(s"$a >= ${lit(v)}")
      case sources.LessThan(a, v) => Some(s"$a < ${lit(v)}")
      case sources.LessThanOrEqual(a, v) => Some(s"$a <= ${lit(v)}")
      case sources.And(l, r) =>
        for (ls <- toSoql(l); rs <- toSoql(r)) yield s"$ls AND $rs"
      case _ => None
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (pushed, residual) = filters.partition(toSoql(_).isDefined)
    pushedSoql = pushed.map(f => f -> toSoql(f).get).toSeq
    notPushed = residual.toSeq
    residual // Spark re-evaluates these
  }

  override def pushedFilters(): Array[Filter] = pushedSoql.map(_._1).toArray

  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed: Boolean = false

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // A1: only COUNT(*) with no grouping — answered by totalSize.
    // Pushed filters compose: the transport counts WITH the WHERE
    // (`SELECT COUNT() FROM obj WHERE ...`, `query.py:53-65`).
    val ok = aggregation.groupByExpressions().isEmpty &&
      aggregation.aggregateExpressions().length == 1 &&
      aggregation.aggregateExpressions()(0).isInstanceOf[CountStar]
    if (ok) countStar = true
    ok
  }

  private def pushedSoqlWhere: Option[String] =
    pushedSoql.map(_._2).reduceOption((a, b) => s"$a AND $b")

  override def build(): Scan = new SfScan(
    options.get("object"),
    options.get("transport"),
    options.getBoolean("includeDeleted", false),
    options.getInt("chunkSize", 100000),
    requiredSchema, pushedSoqlWhere, limit, countStar)
}

final case class SfInputPartition(pkRange: Option[(String, String)])
  extends InputPartition

final class SfScan(objectName: String, transportName: String,
    includeDeleted: Boolean, chunkSize: Int, schema: StructType,
    where: Option[String], limit: Option[Int], countStar: Boolean)
    extends Scan with Batch {

  override def readSchema(): StructType =
    if (countStar) StructType(Seq(StructField("count(*)", LongType))) else schema

  override def toBatch: Batch = this

  override def description(): String =
    s"salesforce.$objectName cols=[${schema.fieldNames.mkString(",")}]" +
      where.map(w => s" where=[$w]").getOrElse("") +
      limit.map(n => s" limit=$n").getOrElse("") +
      (if (countStar) " agg=count(*)" else "")

  /** The SOQL select list: the pruned columns, or `Id` when a plan
    * needs no column at all (`df.limit(5).count()`) — Salesforce rejects
    * an empty select list.
    */
  private val fields: Seq[String] =
    if (schema.isEmpty) Seq("Id") else schema.fieldNames.toSeq

  /** S2: one partition per PK chunk; a single partition on fallback,
    * or when a LIMIT is pushed (a global limit cannot be split) —
    * planned without a transport call. Planned once per
    * scan: Spark asks every physical node built over this scan (more
    * than one per action), and over HTTP each plan is a Bulk job.
    */
  private lazy val partitions: Array[InputPartition] =
    if (countStar || limit.isDefined) Array(SfInputPartition(None))
    else {
      val chunks = SfTransports.get(transportName).pkChunks(objectName,
        fields, where, includeDeleted, chunkSize)
      if (chunks.isEmpty) Array(SfInputPartition(None))
      else chunks.map(c => SfInputPartition(Some(c))).toArray
    }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new SfReaderFactory(objectName, transportName, includeDeleted, schema,
      fields, where, limit, countStar)
}

final class SfReaderFactory(objectName: String, transportName: String,
    includeDeleted: Boolean, schema: StructType, fields: Seq[String],
    where: Option[String], limit: Option[Int], countStar: Boolean)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val transport = SfTransports.get(transportName)
    val range = partition.asInstanceOf[SfInputPartition].pkRange
    if (countStar) {
      val n = transport.count(objectName, where, includeDeleted)
      new SingleRowReader(InternalRow(n))
    } else {
      val it = transport.query(objectName, fields, where,
        limit, includeDeleted, range)
      new SfRowReader(it, schema)
    }
  }
}

final class SingleRowReader(row: InternalRow) extends PartitionReader[InternalRow] {
  private var consumed = false
  override def next(): Boolean = if (consumed) false else { consumed = true; true }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** Record-map → InternalRow conversion (the wire decoder T1 inverse). */
final class SfRowReader(it: Iterator[Map[String, Any]], schema: StructType)
    extends PartitionReader[InternalRow] {
  private var current: Map[String, Any] = _

  override def next(): Boolean =
    if (it.hasNext) { current = it.next(); true } else false

  override def get(): InternalRow = {
    val values = schema.fields.map { f =>
      current.get(f.name).orNull match {
        // bulk CSV renders NULL as the empty field (`query_poll_table
        // .py:45-50` round-trip contract); Salesforce stores no '' text,
        // so an empty value is NULL for every type, as FORCE_NULL lands it
        case null | "" => null
        case v => convert(v, f.dataType)
      }
    }
    InternalRow.fromSeq(values.toSeq)
  }

  private def convert(v: Any, dt: DataType): Any = dt match {
    // NUL bytes stripped at the wire boundary (S3 semantics,
    // `salesforce_bulk.py:495` strips them from the CSV stream)
    case StringType => UTF8String.fromString(v.toString.replace("\u0000", ""))
    case IntegerType => v match {
      case n: Number => n.intValue()
      case s: String => s.trim.toDouble.toInt // CSV numerics may carry ".0"
    }
    case LongType => v match {
      case n: Number => n.longValue()
      // exact integer parse first: the double round-trip silently loses
      // precision past 2^53 (Salesforce numeric(18,0) can exceed it);
      // the double path only handles decimal-pointed CSV renderings
      case s: String =>
        val t = s.trim
        try t.toLong catch { case _: NumberFormatException => t.toDouble.toLong }
    }
    case DoubleType => v match {
      case n: Number => n.doubleValue()
      case s: String => s.trim.toDouble
    }
    case BooleanType => v match {
      case b: Boolean => b
      case s: String => s.trim.equalsIgnoreCase("true") || s.trim == "t"
    }
    case TimestampType => v match {
      case ts: java.sql.Timestamp => ts.getTime * 1000L + (ts.getNanos / 1000) % 1000
      case s: String => SfRowReader.instant(s).toEpochMilli * 1000L
    }
    case DateType => v match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
      case s: String => java.time.LocalDate.parse(s).toEpochDay.toInt
    }
    case d: DecimalType =>
      org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(v.toString),
        d.precision, d.scale)
    case other => throw new IllegalArgumentException(s"unsupported read type $other")
  }

  override def close(): Unit = ()
}

object SfRowReader {
  /** Salesforce datetimes: REST JSON writes `2019-11-18T15:28:14.000+0000`,
    * Bulk CSV `2019-11-18T15:28:14.000Z`; `+00:00` parses too. A value
    * with no offset fails.
    */
  private val DateTime = new java.time.format.DateTimeFormatterBuilder()
    .append(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
    .appendPattern("[XXX][XX]")
    .toFormatter(java.util.Locale.ROOT)

  def instant(s: String): java.time.Instant =
    java.time.Instant.from(DateTime.parse(s.trim))
}
