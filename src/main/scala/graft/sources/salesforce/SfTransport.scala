package graft.sources.salesforce

import scala.collection.concurrent.TrieMap

/** Wire-protocol seam for the Salesforce connector. The real deployment
  * implements this over HTTP (REST SOQL pagination `query.py:37-51` +
  * Bulk V1 PK-chunked CSV `query_bulk.py` / `download.py`); tests and
  * offline builds plug in [[MockSfTransport]]. Implementations must be
  * thread-safe: partition readers call concurrently.
  */
trait SfTransport extends Serializable {

  /** describe(): field metadata for an object (`tabledesc.py:24-33`). */
  def describe(objectName: String): Seq[SfFieldMeta]

  /** QualifiedApiName → IsIndexed from the FieldDefinition table
    * (`tabledesc.py:35-51`) — describe alone does not report index
    * state, and the secondary-index DDL generator keys off it. Default
    * empty: transports without the endpoint (the mock seeds
    * `isIndexed` directly in its schema) merge nothing.
    */
  def fieldIndexes(objectName: String): Map[String, Boolean] = Map.empty

  /** [[describe]] merged with [[fieldIndexes]] — the reference's
    * `get_sf_fields` (`tabledesc.py:53-77`): describe is the base
    * record, FieldDefinition contributes IsIndexed by QualifiedApiName
    * (FieldDefinition rows naming fields describe doesn't carry are
    * dropped, the reference's warning branch). Only the index DDL reads
    * IsIndexed, so `tabledesc`/`createtable` call this; schema inference
    * calls [[describe]] and saves the FieldDefinition round trip.
    */
  def describeWithIndexes(objectName: String): Seq[SfFieldMeta] = {
    val idx = fieldIndexes(objectName)
    describe(objectName).map(f =>
      idx.get(f.name).fold(f)(b => f.copy(isIndexed = b)))
  }

  /** Total record count for a SOQL (`query.py:53-65` COUNT pushdown);
    * the query/queryAll endpoint split governs deleted-row visibility.
    */
  def count(objectName: String, where: Option[String],
      includeDeleted: Boolean): Long

  /** Plan a PK-chunked bulk scan: opaque partition tokens, one per
    * chunk (`Sforce-Enable-PKChunking`, `query_bulk.py:22-36`). The
    * token shape is implementation-private — the mock returns (loId,
    * hiId) ranges; the HTTP transport creates the bulk job here (the
    * server does the chunk split, so the job needs the final SOQL —
    * hence fields/where), waits until no batch is queued or in
    * progress, throws if a batch failed, and returns a (jobId, batchId)
    * pair per `Completed` batch: every token is ready to read. Empty
    * when the object does not support chunking — caller falls back to
    * a single partition (S2 fallback semantics).
    */
  def pkChunks(objectName: String, fields: Seq[String], where: Option[String],
      includeDeleted: Boolean, chunkSize: Int): Seq[(String, String)]

  /** Execute a SOQL scan for one partition: records as field-name →
    * value maps, in stable order. `pkRange` bounds the scan to one
    * chunk — a token from [[pkChunks]], read without asking the server
    * for its state again; None = whole object (un-chunked fallback /
    * REST path).
    */
  def query(objectName: String, fields: Seq[String], where: Option[String],
      limit: Option[Int], includeDeleted: Boolean,
      pkRange: Option[(String, String)]): Iterator[Map[String, Any]]

  /** S7 — ids of records modified or added inside [start, end] (the
    * Get Updated resource, `query.py:26-34`,
    * `simple_salesforce/api.py:737-754`).
    */
  def updatedIds(objectName: String, start: java.sql.Timestamp,
      end: java.sql.Timestamp): Seq[String]

  /** S7 — (id, deletedDate) of records deleted inside [start, end]
    * (the Get Deleted resource, `api.py:715-735`).
    */
  def deletedIds(objectName: String, start: java.sql.Timestamp,
      end: java.sql.Timestamp): Seq[(String, java.sql.Timestamp)]

  /** SOSL full-text search: the fully-formatted SOSL string (e.g.
    * `FIND {Waldo} IN ALL FIELDS RETURNING Contact(Id, Name)`) →
    * matching records across objects, each carrying its source object
    * under `_sobject_type` (the `attributes.type` of the response).
    * GET search/?q=… (`simple_salesforce/api.py:296-315`).
    */
  def search(sosl: String): Seq[Map[String, Any]]

  /** [[search]] with the term wrapped as `FIND {term}`
    * (`api.py:317-328` quick_search).
    */
  def quickSearch(term: String): Seq[Map[String, Any]] =
    search(s"FIND {$term}")

  // ---- Per-record CRUD (simple_salesforce SFType, api.py:591-713):
  // GET/POST/PATCH/DELETE on sobjects/{name}[/{id}]. The row-at-a-time
  // complement of the bulk surface — admin fixes, trigger testing,
  // low-volume reverse writes.

  /** GET sobjects/{name}/{id} → the record's fields (`api.py:591-604`). */
  def recordGet(objectName: String, recordId: String): Map[String, Any]

  /** GET sobjects/{name}/{externalIdField}/{value} (`api.py:606-628`). */
  def recordGetByExternalId(objectName: String, externalIdField: String,
      value: String): Map[String, Any]

  /** POST sobjects/{name}/ → the new record id (`api.py:629-645`). */
  def recordCreate(objectName: String, data: Map[String, Any]): String

  /** PATCH sobjects/{name}/{id} → HTTP status (204 on success,
    * `api.py:672-694`).
    */
  def recordUpdate(objectName: String, recordId: String,
      data: Map[String, Any]): Int

  /** PATCH sobjects/{name}/{externalIdField}/{value} — create-or-update
    * keyed by the external id (`api.py:646-671` upsert).
    */
  def recordUpsertByExternalId(objectName: String, externalIdField: String,
      value: String, data: Map[String, Any]): Int

  /** DELETE sobjects/{name}/{id} → HTTP status (`api.py:695-713`). */
  def recordDelete(objectName: String, recordId: String): Int
}

/** The transport-level image of one describe field record — the full
  * attribute set `types.SfField` consumes downstream: `calculated` and
  * `compoundFieldName` drive the default-selection exclusions,
  * `unique`/`defaultValue` land in column DDL, `isIndexed` (merged
  * from FieldDefinition, not describe) gates secondary-index DDL
  * (`tabledesc.py:24-77`, `createtable.py:87-127`).
  */
final case class SfFieldMeta(name: String, sfType: String, length: Int = 0,
    precision: Int = 0, scale: Int = 0, nillable: Boolean = true,
    unique: Boolean = false, calculated: Boolean = false,
    compoundFieldName: Option[String] = None,
    defaultValue: Option[Any] = None, isIndexed: Boolean = false) {
  /** Field-for-field into the schema/DDL model. */
  def toSfField: graft.types.SfField =
    graft.types.SfField(name, sfType, length, precision, scale, nillable,
      unique, calculated, compoundFieldName, defaultValue, isIndexed)
}

/** JVM-local transport registry: the connector's options carry a
  * transport NAME, and partition readers resolve it lazily — nothing
  * non-serializable crosses a task boundary. In `local[*]` executors
  * share the JVM; on a real cluster each executor registers the
  * (connection-option-built) transport at startup, the same pattern
  * JDBC drivers use.
  */
object SfTransports {
  private val registry = TrieMap.empty[String, SfTransport]
  def register(name: String, t: SfTransport): Unit = registry.put(name, t)
  def get(name: String): SfTransport =
    registry.getOrElse(name, throw new IllegalArgumentException(
      s"no transport registered under '$name'"))
}

/** In-memory transport double (tests and offline builds). */
object MockSfTransport {
  def register(name: String, t: MockSfTransport): Unit =
    SfTransports.register(name, t)
  def get(name: String): MockSfTransport =
    SfTransports.get(name).asInstanceOf[MockSfTransport]
}

final class MockSfTransport(
    schema: Map[String, Seq[SfFieldMeta]],
    data: Map[String, Seq[Map[String, Any]]],
    val supportsPkChunking: Boolean = true) extends SfTransport {

  /** Call log for pushdown assertions in tests. */
  @volatile var lastFields: Seq[String] = Nil
  @volatile var lastWhere: Option[String] = None
  @volatile var lastLimit: Option[Int] = None
  @volatile var countCalls: Int = 0
  @volatile var pkChunksCalls: Int = 0
  /** (fields, limit) of every [[query]] call, oldest first. */
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], Option[Int])]

  override def describe(objectName: String): Seq[SfFieldMeta] =
    schema.getOrElse(objectName,
      throw new IllegalArgumentException(s"unknown object $objectName"))

  private def rows(objectName: String): Seq[Map[String, Any]] =
    data.getOrElse(objectName, Nil)

  override def count(objectName: String, where: Option[String],
      includeDeleted: Boolean): Long = {
    countCalls += 1
    val rs = filtered(objectName, where)
    val visible = if (includeDeleted) rs
                  else rs.filterNot(_.get("IsDeleted").contains(true))
    visible.size.toLong
  }

  override def pkChunks(objectName: String, fields: Seq[String],
      where: Option[String], includeDeleted: Boolean,
      chunkSize: Int): Seq[(String, String)] = {
    pkChunksCalls += 1
    if (!supportsPkChunking) return Nil
    val ids = rows(objectName).map(_("Id").toString).sorted
    if (ids.isEmpty) Nil
    else ids.grouped(chunkSize).map(g => (g.head, g.last)).toSeq
  }

  /** Tiny SOQL-WHERE evaluator for the mock: supports the conjunctive
    * comparison subset the connector generates.
    */
  private def filtered(objectName: String,
      where: Option[String]): Seq[Map[String, Any]] = where match {
    case None => rows(objectName)
    case Some(w) =>
      val clauses = w.split(" AND ").map(_.trim)
      rows(objectName).filter(r => clauses.forall(c => evalClause(r, c)))
  }

  private def evalClause(r: Map[String, Any], clause: String): Boolean = {
    val m = "^(\\w+)\\s*(>=|<=|!=|=|>|<)\\s*(.*)$".r
    clause match {
      case m(f, op, lit) =>
        val v = r.get(f).orNull
        if (v == null) return false
        val litVal = lit.stripPrefix("'").stripSuffix("'")
        val cmp = (v, litVal) match {
          case (n: Int, s) => n.toLong.compareTo(s.toLong)
          case (n: Long, s) => n.compareTo(s.toLong)
          case (n: Double, s) => n.compareTo(s.toDouble)
          case (b: Boolean, s) => b.compareTo(s.toBoolean)
          // the connector renders timestamp literals as ISO8601 UTC
          // (`query_poll_table.py:82` format); Timestamp.toString is
          // 'yyyy-MM-dd HH:mm:ss.f', so a lexicographic compare would
          // order ' ' before 'T' and mis-evaluate same-day predicates —
          // compare as instants instead
          case (t: java.sql.Timestamp, s) => t.toInstant.compareTo(parseIsoInstant(s))
          case (x, s) => x.toString.compareTo(s)
        }
        op match {
          case "=" => cmp == 0
          case "!=" => cmp != 0
          case ">" => cmp > 0
          case "<" => cmp < 0
          case ">=" => cmp >= 0
          case "<=" => cmp <= 0
        }
      case _ => true
    }
  }

  /** ISO8601 literal → Instant. The connector formats timestamp
    * literals as the value's true instant in UTC with a 'Z' suffix
    * (SalesforceSource.toSoql), so `Instant.parse` is exact; a
    * zone-less literal falls back to JVM-zone wall clock (matching
    * `Timestamp.valueOf` test fixtures). Both 'T' and space separators
    * are accepted — `Timestamp.toString` renders the latter.
    */
  private def parseIsoInstant(s: String): java.time.Instant =
    if (s.endsWith("Z")) java.time.Instant.parse(s)
    else java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))).toInstant

  override def query(objectName: String, fields: Seq[String],
      where: Option[String], limit: Option[Int], includeDeleted: Boolean,
      pkRange: Option[(String, String)]): Iterator[Map[String, Any]] = {
    lastFields = fields
    lastWhere = where
    lastLimit = limit
    queries.add(fields -> limit)
    var rs = filtered(objectName, where)
    if (!includeDeleted)
      rs = rs.filterNot(_.get("IsDeleted").contains(true))
    pkRange.foreach { case (lo, hi) =>
      rs = rs.filter { r =>
        val id = r("Id").toString
        id >= lo && id <= hi
      }
    }
    limit.foreach(n => rs = rs.take(n))
    rs.iterator.map(_.view.filterKeys(fields.contains).toMap)
  }

  private def inRange(r: Map[String, Any], start: java.sql.Timestamp,
      end: java.sql.Timestamp): Boolean = r.get("SystemModstamp") match {
    case Some(ts: java.sql.Timestamp) =>
      !ts.before(start) && !ts.after(end)
    case _ => false
  }

  override def updatedIds(objectName: String, start: java.sql.Timestamp,
      end: java.sql.Timestamp): Seq[String] =
    rows(objectName)
      .filterNot(_.get("IsDeleted").contains(true))
      .filter(inRange(_, start, end))
      .map(_("Id").toString)

  override def deletedIds(objectName: String, start: java.sql.Timestamp,
      end: java.sql.Timestamp): Seq[(String, java.sql.Timestamp)] =
    rows(objectName)
      .filter(_.get("IsDeleted").contains(true))
      .filter(inRange(_, start, end))
      .map(r => r("Id").toString ->
        r("SystemModstamp").asInstanceOf[java.sql.Timestamp])

  /** Mock SOSL: `FIND {term}` scans every object's string fields for a
    * case-insensitive substring match; a `RETURNING Object(…)` clause
    * (if present) restricts the object list — enough semantics to
    * exercise callers without a server.
    */
  override def search(sosl: String): Seq[Map[String, Any]] = {
    val Term = """FIND \{([^}]*)\}.*""".r
    val term = sosl.trim match {
      case Term(t) => t.toLowerCase
      case _ => throw new IllegalArgumentException(s"malformed SOSL: $sosl")
    }
    val returning =
      """RETURNING\s+(\w+)""".r.findAllMatchIn(sosl).map(_.group(1)).toSet
    data.toSeq.sortBy(_._1).flatMap { case (obj, rs) =>
      if (returning.nonEmpty && !returning(obj)) Nil
      else rs.filter(_.values.exists {
        case s: String => s.toLowerCase.contains(term)
        case _ => false
      }).map(_ + ("_sobject_type" -> obj))
    }
  }

  // ---- mock per-record CRUD: an overlay store on top of the seeded
  // rows (seed data stays immutable; CRUD effects are observable and
  // resettable per test via the overlay)
  private val overlay = TrieMap.empty[(String, String), Map[String, Any]]
  private val tombstones = TrieMap.empty[(String, String), Unit]
  private val createCounter = new java.util.concurrent.atomic.AtomicInteger

  private def lookup(objectName: String, recordId: String): Option[Map[String, Any]] =
    if (tombstones.contains((objectName, recordId))) None
    else overlay.get((objectName, recordId))
      .orElse(rows(objectName).find(_.get("Id").contains(recordId)))

  override def recordGet(objectName: String, recordId: String): Map[String, Any] =
    lookup(objectName, recordId).getOrElse(throw new IllegalArgumentException(
      s"NOT_FOUND: $objectName/$recordId"))

  override def recordGetByExternalId(objectName: String, externalIdField: String,
      value: String): Map[String, Any] =
    (overlay.collect { case ((o, _), r) if o == objectName => r } ++
      rows(objectName))
      .find(_.get(externalIdField).contains(value))
      .getOrElse(throw new IllegalArgumentException(
        s"NOT_FOUND: $objectName/$externalIdField/$value"))

  override def recordCreate(objectName: String, data: Map[String, Any]): String = {
    val id = f"003MOCK${createCounter.incrementAndGet()}%06d"
    overlay.put((objectName, id), data + ("Id" -> id))
    id
  }

  override def recordUpdate(objectName: String, recordId: String,
      data: Map[String, Any]): Int = lookup(objectName, recordId) match {
    case Some(r) => overlay.put((objectName, recordId), r ++ data); 204
    case None => 404
  }

  override def recordUpsertByExternalId(objectName: String, externalIdField: String,
      value: String, data: Map[String, Any]): Int =
    (overlay.collect { case ((o, id), r) if o == objectName => (id, r) } ++
      rows(objectName).flatMap(r => r.get("Id").map(i => (i.toString, r))))
      .find(_._2.get(externalIdField).contains(value)) match {
      case Some((id, r)) =>
        overlay.put((objectName, id), r ++ data + (externalIdField -> value)); 204
      case None =>
        recordCreate(objectName, data + (externalIdField -> value)); 201
    }

  override def recordDelete(objectName: String, recordId: String): Int =
    if (lookup(objectName, recordId).isEmpty) 404
    else { tombstones.put((objectName, recordId), ()); 204 }
}
