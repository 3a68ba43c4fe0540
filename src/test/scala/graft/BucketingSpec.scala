package graft

/** Bucketing = the co-located-join strategy for repeated big joins at
  * 100 TB: both fact tables bucketed+sorted on the join key join with
  * ZERO exchanges (no shuffle at query time — the shuffle was paid once
  * at write time). This is the "pre-partitioned join" posture the
  * builder prompt calls for.
  */
class BucketingSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("bucketed tables join without a shuffle (no Exchange in plan)") {
    val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      Tables(spark, sf0001, "orders")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
      Tables(spark, sf0001, "lineitem")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")

      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      joined.collect()
      // inspect only the adaptive FINAL plan (toString repeats the
      // initial plan below it, double-counting exchanges)
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      // the only allowed exchange is the final tiny groupBy; the JOIN
      // itself must consume bucketed distribution directly
      assert(exchanges <= 1, s"join shuffled despite bucketing:\n${plan.take(3000)}")
      assert(plan.contains("SortMergeJoin"), "expected sort-merge over buckets")
      assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n${plan.take(2000)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("compactSmallFiles rewrites a fragmented dir into N files, content-preserving") {
    val base = tempDir("graft_compact_spec")
    val frag = base.resolve("frag").toString
    val out = base.resolve("out").toString
    val src = Tables(spark, sf0001, "events")
    src.repartition(20).write.mode("overwrite").parquet(frag)
    def partFiles(dir: String): Int =
      new java.io.File(dir).listFiles().count { f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")
      }
    assert(partFiles(frag) == 20, "fragmentation staging failed")
    val compacted = graft.operators.FileOps.compactSmallFiles(spark, frag, out, 2)
    assert(partFiles(out) == 2, s"expected 2 compacted files, got ${partFiles(out)}")
    assert(compacted.count() == src.count())
    // content identity, not just cardinality
    assert(compacted.select("event_id").except(src.select("event_id")).isEmpty)
    assert(src.select("event_id").except(compacted.select("event_id")).isEmpty)
  }

  test("schemaEvolutionRoundTrip: gen-1 rows surface the added column as NULL") {
    val dir = tempDir("graft_evolve_spec").toString
    val orders = Tables(spark, sf0001, "orders")
    val got = graft.operators.FileOps.schemaEvolutionRoundTrip(spark, orders, dir)
    assert(got.count() == orders.count())
    // every odd (gen-1) row has NULL status, every even row kept its value
    assert(got.filter(col("gen") === 1 && col("o_orderstatus").isNotNull).isEmpty)
    assert(got.filter(col("gen") === 2 && col("o_orderstatus").isNull).isEmpty)
    // the merged values match the source for the evolved column
    val evenSrc = orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_orderstatus")
    assert(got.filter(col("gen") === 2).select("o_orderkey", "o_orderstatus")
      .except(evenSrc).isEmpty)
  }

  test("schemaDiff reports removed and type_changed, not just added") {
    import spark.implicits._
    val dir = tempDir("graft_sdiff").toString
    Seq((1L, "a", 1.5)).toDF("id", "dropped", "widened")
      .write.mode("overwrite").parquet(s"$dir/old")
    Seq((1L, "x", "now-a-string")).toDF("id", "added_col", "widened")
      .selectExpr("id", "added_col", "widened")
      .write.mode("overwrite").parquet(s"$dir/new")
    val got = graft.operators.FileOps.schemaDiff(spark, s"$dir/old", s"$dir/new")
      .as[(String, String, String, String)].collect()
      .map(r => r._1 -> ((Option(r._2), Option(r._3), r._4))).toMap
    assert(got("id") == ((Some("bigint"), Some("bigint"), "unchanged")))
    assert(got("dropped") == ((Some("string"), None, "removed")))
    assert(got("added_col") == ((None, Some("string"), "added")))
    assert(got("widened") == ((Some("double"), Some("string"), "type_changed")))
  }
}
