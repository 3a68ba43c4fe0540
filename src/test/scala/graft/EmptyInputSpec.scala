package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{top_k_agg, unicode_normalize}
import graft.operators.{MergeOps, Relational}

/** Empty-input behavior of the round-5 operators: a library must
  * degrade to empty results, never throw, when a filter upstream
  * leaves nothing — the shape every scheduled pipeline hits eventually.
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private val noRows = Seq.empty[(Long, Long, Double)].toDF("g", "id", "score")

  test("TopKAgg over zero rows yields zero groups; over an empty group set none") {
    assert(noRows.groupBy("g")
      .agg(top_k_agg(col("score"), col("id"), 3).as("tk")).isEmpty)
    // global aggregation over zero rows: one row, empty ranked array
    val row = noRows.agg(top_k_agg(col("score"), col("id"), 3).as("tk"))
      .select(size(col("tk"))).head()
    assert(row.getInt(0) == 0)
  }

  test("driftCheck of two empty tables is an empty report") {
    val e = Seq.empty[(Long, String)].toDF("pk", "payload")
    assert(MergeOps.driftCheck(e, e, "pk", Seq(col("payload")), 10L).isEmpty)
  }

  test("driftCheck against an empty target flags every source chunk missing") {
    val src = Seq((1L, "a"), (11L, "b")).toDF("pk", "payload")
    val e = Seq.empty[(Long, String)].toDF("pk", "payload")
    val statuses = MergeOps.driftCheck(src, e, "pk", Seq(col("payload")), 10L)
      .select("status").as[String].collect().toSet
    assert(statuses == Set("missing_in_target"))
  }

  test("winsorize of an empty table is empty (null thresholds never clip)") {
    val e = Seq.empty[(Long, Int, String, Double)]
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    assert(Relational.a11Winsorize(e).isEmpty)
  }

  test("unicode_normalize of empty and whitespace strings is identity") {
    val out = Seq("", " ", "\t\n").toDF("s")
      .select(unicode_normalize(col("s"), "NFKC").as("n"))
      .as[String].collect().toSeq
    assert(out == Seq("", " ", "\t\n"))
  }

  test("round-6 operators on empty inputs: no rows, no nulls, no throws") {
    val noDocs = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    // no pairs -> everyone survives under the rank policy too
    val docs = Seq((1L, "aa", "en", "s", 2L), (2L, "bbb", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(graft.operators.GraphOps.dedupSurvivorsBy(docs, noPairs, "n_chars")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(graft.operators.GraphOps.dedupSurvivorsBy(noDocs, noPairs, "n_chars").isEmpty)
    assert(graft.operators.TextOps.scriptMix(noDocs).isEmpty)
    assert(graft.operators.PipelineOps.mixtureWeights(noDocs, 1000L,
      Map("en" -> 0.5)).isEmpty)
  }

  test("round-6 batch operators degrade to empty on empty inputs") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val noEvents = Seq
      .empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(graft.operators.TextOps.bigramLogProb(noDocs).isEmpty)
    assert(graft.operators.TextOps.hashedFeatures(noDocs).isEmpty)
    assert(graft.operators.TextOps.heavyHitterTokens(noDocs).isEmpty)
    assert(graft.operators.MergeOps.scd2History(noEvents).isEmpty)
    assert(graft.operators.Relational.w16Ewma(noEvents).isEmpty)
    assert(graft.operators.Relational.w17PatternMatch(noEvents).isEmpty)
    assert(graft.operators.Relational.a14Histogram(noEvents).isEmpty)
    assert(graft.operators.Relational.a16Pmi(noEvents).isEmpty)
    assert(graft.operators.Relational.a17LinearFit(noEvents).isEmpty)
    // single-token docs carry no bigram evidence: row drops, no NaN
    val one = Seq((1L, "hello"), (2L, "a b")).toDF("doc_id", "text")
    assert(graft.operators.TextOps.bigramLogProb(one)
      .select("doc_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("spanDedup and unigramLogProb degrade cleanly on empty/blank docs") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.TextOps.spanDedup(noDocs).isEmpty)
    assert(graft.operators.TextOps.unigramLogProb(noDocs).isEmpty)
    // a blank doc tokenizes to zero spans/tokens: it contributes no
    // span rows (and so no output row) rather than throwing on the
    // empty sequence() edge
    val blank = Seq((1L, "a b c d e f g h i j k l"), (2L, "   ")).toDF("doc_id", "text")
    val sd = graft.operators.TextOps.spanDedup(blank)
      .select("doc_id", "n_spans", "n_kept").as[(Long, Long, Long)].collect()
      .map { case (id, a, b) => id -> (a, b) }.toMap
    assert(sd == Map(1L -> (2L, 2L)))
    assert(graft.operators.TextOps.unigramLogProb(blank)
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("breadth-wave operators degrade to empty on empty inputs") {
    import spark.implicits._
    val R = graft.operators.Relational
    val noEvents = Seq
      .empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val noDocs = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(R.w19PercentRank(noEvents).isEmpty)
    assert(R.w20Islands(noEvents).isEmpty)
    assert(R.a19Mode(noEvents).isEmpty)
    assert(R.a20Chisq(noDocs).isEmpty)
    assert(graft.operators.TextOps.typeTokenRatio(noDocs).isEmpty)
    assert(graft.operators.TextOps.readability(noDocs).isEmpty)
    assert(graft.operators.PipelineOps.lengthBuckets(noDocs).isEmpty)
    assert(graft.operators.SimilarityOps.covarianceMatrix(noVecs).isEmpty)
    assert(graft.operators.SimilarityOps.mipsTopK(noVecs, noVecs, 3).isEmpty)
    assert(graft.operators.GraphOps.labelPropagation(noPairs).isEmpty)
  }

  test("round-7 operators degrade to empty on empty inputs") {
    import spark.implicits._
    val R = graft.operators.Relational
    val noEvents = Seq
      .empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val noDocs = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    assert(R.a27MannWhitney(noEvents).isEmpty) // guard drops the 0/0 row
    assert(R.a28Psi(noEvents).isEmpty)
    assert(graft.operators.DedupOps
      .ngramJaccardSampled(noDocs, 0.5, 10).isEmpty)
    assert(graft.operators.DedupOps.jaroWinklerPairs(noDocs).isEmpty)
    assert(graft.operators.TextOps.invertedIndex(noDocs).isEmpty)
    assert(graft.operators.TextOps.sentenceStats(noDocs).isEmpty)
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.operators.SimilarityOps.pcaTopComponent(noVecs).isEmpty)
    val noTsEvents = Seq
      .empty[(Long, java.sql.Timestamp, String, Double)]
      .toDF("event_id", "ts", "event_type", "value")
    assert(R.a29Spearman(noTsEvents).isEmpty)
    // scalar census: an empty graph is a defined (0, 0.0) row, the
    // driftCheck-of-empties convention for whole-input reports
    val noPairs2 = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val asr = graft.operators.GraphOps.assortativity(noPairs2).collect()
    assert(asr.map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((0L, 0.0)))
  }
  test("globalRowNumber and ntileAt degrade to empty on zero rows") {
    val e = Seq.empty[(Long, Long)].toDF("id", "v")
    val ranked = Relational.globalRowNumber(
      e, Seq(col("v"), col("id")), "rnk")
    assert(ranked.isEmpty)
    assert(ranked.columns.toSeq == Seq("id", "v", "rnk"))
    // a single row still buckets sanely: rank 1 of 1 -> tile 1
    val one = Seq((7L, 3L)).toDF("id", "v")
    val t = Relational.globalRowNumber(one, Seq(col("v"), col("id")), "rnk")
      .select(Relational.ntileAt(col("rnk"), lit(1L), 4).as("t"))
      .as[Int].head()
    assert(t == 1)
  }

  test("a35/a39/a60 dimension-rank queries are empty-safe") {
    val noOrders = Seq.empty[(Long, Long, Double, java.sql.Date)]
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    assert(Relational.a35RfmSegments(noOrders).isEmpty)
    assert(Relational.a60Lorenz(noOrders).isEmpty)
    val noEvents = Seq.empty[(Long, Long, Double)]
      .toDF("event_id", "user_id", "value")
    assert(Relational.a39ParetoShare(noEvents).isEmpty)
  }

  test("uploadResultCensus over an empty frame posts nothing and is empty") {
    val t = new graft.reverse.MockUploadTransport(failEvery = 7)
    val e = Seq.empty[(Long, String)].toDF("Id", "Name")
    val out = graft.reverse.BulkUpload.uploadResultCensus(
      e, "Id", "Contact", t, maxRecords = 50)
    assert(out.isEmpty)
    assert(t.batches.isEmpty)
  }
}
