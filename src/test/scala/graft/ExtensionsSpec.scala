package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.plans.AsofJoinStrategy

/** GraftExtensions wiring: the SparkSessionExtensions hook registers
  * the planner strategy + SQL function, and the runtime-registration
  * path makes `vec_dot` usable from plain SQL in an existing session.
  */
class ExtensionsSpec extends SparkSpec {

  test("extensions hook injects the as-of strategy and vec_dot function") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val strategies =
      org.apache.spark.sql.graft.ExtensionsShim.plannerStrategies(ext, cs)
    assert(strategies.contains(AsofJoinStrategy))
  }

  test("vec_dot is callable from SQL after runtime registration") {
    GraftExtensions.registerSql(spark)
    val r = spark.sql(
      "SELECT vec_dot(array(1.0F, 2.0F, 3.0F), array(4.0F, 5.0F, 6.0F)) AS d")
      .head().getDouble(0)
    assert(r == 32.0)
  }

  test("word_shingles / cms_sketch / cms_query work from plain SQL") {
    GraftExtensions.registerSql(spark)
    val sh = spark.sql(
      "SELECT word_shingles('a b c d', 2) AS sh").head().getSeq[String](0)
    assert(sh == Seq("a b", "b c", "c d"))
    // one pure-SQL sketch round trip: build the aggregate, probe it —
    // the estimate can only over-count
    spark.range(100).selectExpr("CAST(id % 7 AS STRING) AS k")
      .createOrReplaceTempView("ext_keys")
    val est = spark.sql(
      """SELECT cms_query(sk, '0') AS est FROM (
        |  SELECT cms_sketch(k) AS sk FROM ext_keys)""".stripMargin)
      .head().getLong(0)
    assert(est >= 15L, s"cms must not undercount key '0' (exact 15), got $est")
  }

  test("unicode_normalize / top_k_agg work from plain SQL") {
    GraftExtensions.registerSql(spark)
    // NB Spark's chr() is ASCII-mod-256 (unlike DuckDB's codepoint
    // chr), so embed the combining mark directly in the literal
    val n = spark.sql(
      "SELECT unicode_normalize('é') AS n," +
        " unicode_normalize('ﬁn', 'NFKC') AS nk").head()
    assert(n.getString(0) == "é" && n.getString(1) == "fin")
    spark.range(10)
      .selectExpr("id % 2 AS g", "CAST(id AS DOUBLE) AS s", "id AS i")
      .createOrReplaceTempView("ext_topk")
    val tk = spark.sql(
      """SELECT g, transform(top_k_agg(s, i, 2), x -> x.id) AS ids
        |FROM ext_topk GROUP BY g ORDER BY g""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(tk(0L) == Seq(8L, 6L) && tk(1L) == Seq(9L, 7L), s"got $tk")
  }

  test("unicode_normalize SQL builder rejects NULL/bad form literals cleanly") {
    GraftExtensions.registerSql(spark)
    // a NULL form literal must surface as the builder's usage error,
    // not an NPE from toString during analysis
    for (bad <- Seq("CAST(NULL AS STRING)", "'NFZ'")) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT unicode_normalize('x', $bad)").collect()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] ||
          c.getMessage != null && c.getMessage.contains("unicode_normalize")),
        s"expected clean builder error for $bad, got $e")
      assert(!causes(e).exists(_.isInstanceOf[NullPointerException]),
        s"NPE leaked for $bad")
    }
  }

  test("SQL vec_dot participates in whole-stage codegen over a real scan") {
    GraftExtensions.registerSql(spark)
    // (an all-literal call constant-folds to a LocalTableScan — also
    // correct, but proves nothing about codegen; scan real data)
    val df = Tables(spark, sf0001, "embeddings")
      .selectExpr("vec_id", "vec_dot(embedding, embedding) AS d")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getDouble(1) > 0))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      s"vec_dot fell out of codegen:\n$plan")
  }
}
