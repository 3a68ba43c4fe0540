package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.salesforce.{MockSfTransport, SfFieldMeta, SfInputPartition, SfTable}

/** DSv2 `salesforce` connector: describe-driven schema, PK-chunk
  * partition planning with un-chunkable fallback and the `bulk=false`
  * single REST partition, and the four pushdowns (columns P1,
  * predicates F1/F2 rendered to SOQL, LIMIT L1, COUNT A1) asserted both
  * on results and on what actually reached the (mock) wire.
  */
class SalesforceSourceSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val contactMeta = Seq(
    SfFieldMeta("Id", "id", length = 18, nillable = false),
    SfFieldMeta("Name", "string", length = 80),
    SfFieldMeta("Amount", "currency", precision = 18, scale = 2),
    SfFieldMeta("NumEmployees", "int"),
    SfFieldMeta("IsDeleted", "boolean"),
    SfFieldMeta("SystemModstamp", "datetime"))

  private val rows: Seq[Map[String, Any]] = (1 to 97).map { i =>
    Map(
      "Id" -> f"003$i%015d",
      "Name" -> (if (i == 7) "NUL\u0000ED" else s"contact-$i"),
      "Amount" -> s"$i.50",
      "NumEmployees" -> i,
      "IsDeleted" -> (i % 10 == 0),
      "SystemModstamp" -> ts(f"2024-01-${i % 28 + 1}%02d 12:00:00"))
  }

  private def freshTransport(name: String, chunking: Boolean = true): MockSfTransport = {
    val t = new MockSfTransport(Map("Contact" -> contactMeta),
      Map("Contact" -> rows), supportsPkChunking = chunking)
    MockSfTransport.register(name, t)
    t
  }

  private def read(name: String, includeDeleted: Boolean = false,
      bulk: Boolean = true): DataFrame =
    spark.read.format("salesforce")
      .option("object", "Contact")
      .option("transport", name)
      .option("includeDeleted", includeDeleted.toString)
      .option("chunkSize", "25")
      .option("bulk", bulk)
      .load()

  test("schema comes from describe() through the SfSchema type table") {
    freshTransport("t_schema")
    val df = read("t_schema")
    assert(df.schema.fieldNames.toSeq ==
      Seq("Id", "Name", "Amount", "NumEmployees", "IsDeleted", "SystemModstamp"))
    assert(df.schema("Amount").dataType.typeName == "decimal(18,2)")
    assert(df.schema("SystemModstamp").dataType.typeName == "timestamp")
  }

  test("full scan excludes deleted by default; queryAll includes them (S1)") {
    freshTransport("t_scan")
    assert(read("t_scan").count() == 88)                         // 97 - 9 deleted
    assert(read("t_scan", includeDeleted = true).count() == 97)  // queryAll
  }

  test("NUL bytes are stripped at the wire boundary (S3)") {
    freshTransport("t_nul")
    val name = read("t_nul").filter($"NumEmployees" === 7)
      .select("Name").as[String].head()
    assert(name == "NULED")
  }

  test("PK chunking plans one partition per chunk; fallback to 1 (S2)") {
    freshTransport("t_chunks")
    assert(read("t_chunks").rdd.getNumPartitions == 4)           // 97/25 -> 4
    freshTransport("t_nochunk", chunking = false)
    assert(read("t_nochunk").rdd.getNumPartitions == 1)
    assert(read("t_nochunk").count() == 88)
  }

  test("column pruning reaches the wire (P1)") {
    val t = freshTransport("t_prune")
    val out = read("t_prune").select("Name").collect()
    assert(out.length == 88)
    assert(t.lastFields == Seq("Name"))
  }

  test("predicates render to SOQL and reach the wire (F1/F2)") {
    val t = freshTransport("t_filter")
    val out = read("t_filter").filter($"NumEmployees" > 90).select("Id", "NumEmployees")
    assert(out.count() == 7) // 91..97, none soft-deleted in that range
    assert(t.lastWhere.exists(_.contains("NumEmployees > 90")))
  }

  test("watermark timestamp predicate renders ISO8601 UTC (F2/T6)") {
    val t = freshTransport("t_wm")
    val n = read("t_wm")
      .filter($"SystemModstamp" > lit(ts("2024-01-15 00:00:00"))).count()
    // pushed filters are trusted (no residual), so the COUNT is only
    // right if the transport evaluates the ISO literal as an instant:
    // days 15..28 qualify (42 rows) minus soft-deleted i∈{20,50,70,80}
    assert(n == 38)
    assert(t.lastWhere.exists(_.matches(
      raw"SystemModstamp > 2024-01-\d\dT00:00:00Z")))
  }

  test("LIMIT is pushed (L1)") {
    val t = freshTransport("t_limit")
    assert(read("t_limit").limit(5).count() == 5)
    assert(t.lastLimit.contains(5))
    // the plan prunes every column; the wire still gets a select list
    assert(t.lastFields == Seq("Id"))
  }

  test("each action plans its PK chunks once (one Bulk job over HTTP)") {
    val t = freshTransport("t_plan_once")
    val actions = Seq[DataFrame => Any](
      _.collect(),
      _.toLocalIterator().forEachRemaining(_ => ()),
      _.agg(max($"SystemModstamp")).collect())
    actions.foreach { action =>
      val before = t.pkChunksCalls
      action(read("t_plan_once"))
      assert(t.pkChunksCalls - before == 1)
    }
  }

  test("bulk=false plans one partition without a transport call") {
    val t = freshTransport("t_rest")
    def plan(bulk: Option[String]): Seq[InputPartition] = {
      val opts = new CaseInsensitiveStringMap((Map("object" -> "Contact",
        "transport" -> "t_rest", "chunkSize" -> "25") ++
        bulk.map("bulk" -> _)).asJava)
      new SfTable(read("t_rest").schema, opts).newScanBuilder(opts).build()
        .toBatch.planInputPartitions().toSeq
    }
    assert(plan(Some("false")) == Seq(SfInputPartition(None)))
    assert(t.pkChunksCalls == 0 && t.countCalls == 0 && t.queries.isEmpty)
    assert(plan(None).size == 4 && t.pkChunksCalls == 1) // the default chunks
    val df = read("t_rest", includeDeleted = true, bulk = false)
    assert(df.rdd.getNumPartitions == 1 && df.collect().length == 97)
    assert(t.pkChunksCalls == 1) // still only the default's plan
  }

  test("COUNT(*) is answered without fetching rows (A1)") {
    val t = freshTransport("t_count")
    val n = read("t_count", includeDeleted = true).count()
    assert(n == 97)
    assert(t.countCalls >= 1)
    assert(t.lastFields.isEmpty) // no row fetch happened
  }

  test("explain shows the pushed SOQL in the scan description") {
    freshTransport("t_explain")
    val df = read("t_explain").filter($"NumEmployees" > 50).select("Id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("NumEmployees > 50"))
  }

  test("mock per-record CRUD: overlay semantics, tombstones, upsert-by-ext-id") {
    val t = freshTransport("t_crud")
    val id1 = rows.head("Id").toString
    assert(t.recordGet("Contact", id1)("Name") == "contact-1")
    // update overlays the seed row without mutating it for scans
    assert(t.recordUpdate("Contact", id1, Map("Name" -> "renamed")) == 204)
    assert(t.recordGet("Contact", id1)("Name") == "renamed")
    // create + get + delete + 404 afterwards
    val nid = t.recordCreate("Contact", Map("Name" -> "brand-new"))
    assert(t.recordGet("Contact", nid)("Name") == "brand-new")
    assert(t.recordDelete("Contact", nid) == 204)
    intercept[IllegalArgumentException] { t.recordGet("Contact", nid) }
    assert(t.recordUpdate("Contact", nid, Map("Name" -> "x")) == 404)
    // upsert by external id: miss -> 201 create, hit -> 204 update
    assert(t.recordUpsertByExternalId("Contact", "Ext__c", "k1",
      Map("Name" -> "u1")) == 201)
    assert(t.recordGetByExternalId("Contact", "Ext__c", "k1")("Name") == "u1")
    assert(t.recordUpsertByExternalId("Contact", "Ext__c", "k1",
      Map("Name" -> "u2")) == 204)
    assert(t.recordGetByExternalId("Contact", "Ext__c", "k1")("Name") == "u2")
  }
}
