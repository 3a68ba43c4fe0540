package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._
import graft.reverse.{BulkUpload, MockUploadTransport}

/** Chunker invariants (property-based, SURVEY.md §5 #2) and the
  * end-to-end upload path over the mock bulk transport.
  */
class ReverseSpec extends AnyFunSuite {

  test("chunker invariants: bounds respected, header repeated, content preserved") {
    val recGen = Gen.listOf(Gen.alphaNumStr.map(s => "\"" + s.take(40) + "\""))
    val prop = Prop.forAll(recGen, Gen.chooseNum(50, 400), Gen.chooseNum(1, 7)) {
      (recs: List[String], maxBytes: Int, maxRecords: Int) =>
        val header = "\"Id\",\"Name\""
        val chunks = BulkUpload.chunk(header, recs.iterator, maxBytes, maxRecords).toList
        val headerOk = chunks.forall(_.startsWith(header + "\n"))
        val countOk = chunks.forall(_.linesIterator.size <= maxRecords + 1)
        // byte bound may be exceeded only by a single oversized record
        val bytesOk = chunks.forall { c =>
          c.linesIterator.size <= 2 || c.getBytes("UTF-8").length <= maxBytes
        }
        val contentOk = chunks.flatMap(_.linesIterator.drop(1)) == recs
        headerOk && countOk && bytesOk && contentOk
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(result.passed, result.status.toString)
  }

  test("value encoding: t/f booleans, quote doubling, NUL strip, NULL as empty (T1)") {
    assert(BulkUpload.encodeValue(null) == "")
    assert(BulkUpload.encodeValue(true) == "t")
    assert(BulkUpload.encodeValue(false) == "f")
    assert(BulkUpload.encodeValue("say \"hi\"") == "\"say \"\"hi\"\"\"")
    assert(BulkUpload.encodeValue("nul\u0000led") == "\"nulled\"")
    assert(BulkUpload.encodeValue(42) == "42")
    assert(BulkUpload.encodeValue(
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05")).endsWith("Z"))
  }
}

/** Spark-side end-to-end upload (separate suite: needs the session). */
class ReverseUploadSpec extends SparkSpec {
  import spark.implicits._

  test("upload chunks every partition and closes the job (K5)") {
    val t = new MockUploadTransport
    // three partitions in row order; the driver drains them into one
    // ordered stream, so <=40 records per chunk -> exactly 7 batches
    val rows = (1 to 250).map(i => (s"003$i", s"name-$i", i % 2 == 0))
    val df = spark.sparkContext.parallelize(rows, 3).toDF("Id", "Name", "Active")
    val (jobId, batches) = BulkUpload.uploadWithResults(df.columns.toSeq,
      df.toLocalIterator().asScala, "Contact", t, maxRecords = 40)
    assert(t.createdJobs == List(jobId) && t.closedJobs == List(jobId))
    val chunks = batches.map { case (id, _) => t.batches(id) }
    assert(chunks.map(_.linesIterator.size - 1) == Seq(40, 40, 40, 40, 40, 40, 10))
    assert(batches.map(_._2.size) == Seq(40, 40, 40, 40, 40, 40, 10))
    assert(chunks.forall(_.startsWith("\"Id\",\"Name\",\"Active\"\n")))
    // every row, in row order, booleans as t/f
    assert(chunks.flatMap(_.linesIterator.drop(1)) == rows.map(r => BulkUpload.encodeRow(Row.fromTuple(r))))
    assert(chunks.head.linesIterator.drop(1).next() == "\"0031\",\"name-1\",f")
  }

  test("a row stream that fails mid-upload still closes the job") {
    val t = new MockUploadTransport
    val rows = Iterator.tabulate(50)(i => Row(s"003$i")) ++
      Iterator.continually[Row](throw new IllegalStateException("source failed"))
    val e = intercept[IllegalStateException](BulkUpload.uploadWithResults(Seq("Id"), rows,
      "Contact", t, maxRecords = 40))
    assert(e.getMessage == "source failed")
    assert(t.batches.size == 1 && t.closedJobs == t.createdJobs && t.closedJobs.size == 1)
  }

  test("operation validation: upsert needs the external id, others reject it") {
    val t = new MockUploadTransport
    def upload(operation: String, ext: Option[String] = None,
        columns: Seq[String] = Seq("Ext_Id__c", "Name")) =
      BulkUpload.uploadWithResults(columns,
        Iterator(Row.fromSeq(Seq("e1", "a").take(columns.size))), "Contact", t,
        operation = operation, externalIdField = ext)
    // upsert without an external-id field is the reference client's
    // error (create_upsert_job requires external_id_name)
    intercept[IllegalArgumentException](upload("upsert"))
    intercept[IllegalArgumentException](upload("update", Some("Ext_Id__c")))
    intercept[IllegalArgumentException](upload("merge"))
    // the happy paths thread the field (or its absence) to the job doc
    val (job, _) = upload("upsert", Some("Ext_Id__c"))
    assert(job.contains("-upsert-") && t.lastExternalIdField == Some("Ext_Id__c"))
    val (del, _) = upload("delete", columns = Seq("Ext_Id__c"))
    assert(del.contains("-delete-") && t.lastExternalIdField.isEmpty)
  }
  test("uploadResultCensus: per-batch failure census matches hand-computed chunks") {
    val t = new MockUploadTransport(failEvery = 7)
    // 103 ordered rows, 40 per batch -> batches of 40/40/23; every 7th
    // position in each batch fails -> 5/5/3 failures
    val df = (1 to 103).map(i => (i.toLong, s"name-$i")).toDF("Id", "Name")
      .repartition(4) // the census orders the rows into one stream itself
    val out = BulkUpload.uploadResultCensus(df, "Id", "Contact", t,
      maxRecords = 40)
      .as[(Int, Long, Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1, 40L, 35L, 35L, 5L, "MOCK_FAILURE:row rejected"),
      (2, 40L, 35L, 35L, 5L, "MOCK_FAILURE:row rejected"),
      (3, 23L, 20L, 20L, 3L, "MOCK_FAILURE:row rejected")), out.toString)
  }
}
