package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{top_k_agg, top_k_merge_agg}
import graft.operators.Relational

/** Bounded top-k-per-group aggregate: result identity with the
  * windowed row_number twin, deterministic tie-breaks across
  * partitionings, bounded output size, and the scale-defining plan
  * property — a map-side-combining aggregate with NO window/sort of
  * the input.
  */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  private def scored(n: Int, groups: Int) =
    (0 until n).map { i =>
      (i.toLong % groups, i.toLong, (i * 37 % 101).toDouble)
    }.toDF("g", "id", "score")

  test("matches the row_number window result exactly, ties included") {
    // score has heavy ties (mod 101) — the (score desc, id asc) total
    // order must produce the identical ranked set either way
    val df = scored(5000, 23).repartition(11)
    val viaAgg = df.groupBy("g")
      .agg(top_k_agg(col("score"), col("id"), 5).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), col("col.id").as("id"),
        col("col.score").as("score"), (col("pos") + 1).as("rnk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("score").desc, col("id"))
    val viaWindow = df.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5).select("g", "id", "score", "rnk")
    assert(viaAgg.except(viaWindow).isEmpty && viaWindow.except(viaAgg).isEmpty,
      "aggregate and window top-k must be identical")
  }

  test("result is independent of input partitioning (merge path)") {
    val base = scored(3000, 7)
    val a = base.repartition(1).groupBy("g")
      .agg(top_k_agg(col("score"), col("id"), 4).as("tk"))
    val b = base.repartition(17).groupBy("g")
      .agg(top_k_agg(col("score"), col("id"), 4).as("tk"))
    assert(a.collect().sortBy(_.getLong(0)).toSeq ==
      b.collect().sortBy(_.getLong(0)).toSeq,
      "merge order must not change the ranked result")
  }

  test("NaN scores rank first (Spark desc-sort semantics) and deterministically") {
    val base = Seq(
      (1L, 10L, 1.0), (1L, 11L, Double.NaN), (1L, 12L, 9.0),
      (1L, 13L, Double.NaN), (1L, 14L, 5.0)).toDF("g", "id", "score")
    val expect = Seq(11L, 13L, 12L) // NaN first (id asc among NaNs), then 9.0
    Seq(1, 2, 5).foreach { parts =>
      val got = base.repartition(parts).groupBy("g")
        .agg(top_k_agg(col("score"), col("id"), 3).as("tk"))
        .select(col("tk.id")).as[Seq[Long]].head()
      assert(got == expect, s"parts=$parts: $got")
    }
  }

  test("groups smaller than k emit all their rows, in rank order") {
    val df = Seq((1L, 10L, 3.0), (1L, 11L, 9.0), (2L, 20L, 1.0))
      .toDF("g", "id", "score")
    val out = df.groupBy("g")
      .agg(top_k_agg(col("score"), col("id"), 5).as("tk"))
      .select(col("g"), col("tk.id").as("ids")).as[(Long, Seq[Long])]
      .collect().toMap
    assert(out(1L) == Seq(11L, 10L) && out(2L) == Seq(20L))
  }

  test("streaming windowedTopK: append emits each closed window once, ranked") {
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "event_type", "value")
    val out = graft.streaming.StreamingSync
      .windowedTopK(events, "1 hour", "10 minutes", 2)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("topk_stream").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 00:05:00"), "click", 5.0),
        (2L, ts("2024-01-01 00:10:00"), "click", 9.0),
        (3L, ts("2024-01-01 00:15:00"), "click", 9.0), // tie → id asc
        (4L, ts("2024-01-01 00:20:00"), "view", 1.0))
      q.processAllAvailable()
      // watermark passes 01:00 → the 00:00 window closes and emits
      input.addData((9L, ts("2024-01-01 02:30:00"), "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("topk_stream")
        .filter(col("window_start") === ts("2024-01-01 00:00:00"))
        .select("event_type", "event_id", "rnk")
        .as[(String, Long, Int)].collect().toSet
      assert(rows == Set(("click", 2L, 1), ("click", 3L, 2), ("view", 4L, 1)),
        s"closed-window ranked set wrong: $rows")
    } finally q.stop()
  }

  test("exact (score, id) duplicates collapse: state is a set (KMV semantics)") {
    import spark.implicits._
    // 3 distinct pairs, each seen 4 times across partitions; k = 4
    // must hold the 3 DISTINCT pairs + the next-best, never a dup
    val df = (1 to 4).flatMap(_ => Seq((0L, 10L, 5.0), (0L, 11L, 4.0),
        (0L, 12L, 3.0))).toDF("g", "id", "score")
      .unionAll(Seq((0L, 13L, 2.0)).toDF("g", "id", "score"))
      .repartition(5)
    val got = df.groupBy("g")
      .agg(top_k_agg(col("score"), col("id"), 4).as("tk"))
      .selectExpr("transform(tk, x -> x.id) AS ids")
      .as[Seq[Long]].head()
    assert(got == Seq(10L, 11L, 12L, 13L), s"got $got")
  }

  test("top_k_merge_agg skips null sketch elements and null fields") {
    val got = spark.sql("""SELECT array(named_struct('score', 2.0D, 'id', 1L),
      CAST(NULL AS STRUCT<score: DOUBLE, id: BIGINT>), named_struct('score',
      CAST(NULL AS DOUBLE), 'id', 3L), named_struct('score', 1.0D, 'id', 2L)) AS sk""")
      .agg(top_k_merge_agg(col("sk"), 4).as("tk"))
      .selectExpr("transform(tk, x -> x.id)").as[Seq[Long]].head()
    assert(got == Seq(1L, 2L), s"got $got")
  }

  test("plan: partial aggregation, no window, no sort of the input") {
    val plan = Relational.w3TopNAgg(
      scored(100, 5).withColumnRenamed("g", "o_custkey")
        .withColumnRenamed("id", "o_orderkey")
        .withColumnRenamed("score", "o_totalprice"), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_top_k_agg"),
      s"map-side combine must be present:\n$plan")
    assert(!plan.contains("Window"), s"no window exchange allowed:\n$plan")
  }
  test("payload variant: matches the row_number window, payload rides") {
    import graft.functions.GraftFunctions.top_k_str_pay_agg
    // heavy score ties -> the (score desc, term asc) tie order must be
    // byte-identical to Spark's own window sort; the payload must stay
    // attached to ITS entry across partitionings (merge path)
    val df = (0 until 4000).map { i =>
      (i.toLong % 13, f"t${i % 97}%03d", (i % 7).toDouble,
        (i % 97).toLong << 40 | (i % 13).toLong)
    }.toDF("g", "term", "score", "pay")
      // one row per (g, term): ids are keys in every caller
      .groupBy("g", "term").agg(max("score").as("score"), max("pay").as("pay"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("score").desc, col("term"))
    Seq(1, 9).foreach { parts =>
      val base = df.repartition(parts)
      val viaWindow = base.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select("g", "rnk", "score", "term")
        .collect().map(_.toSeq).sortBy(_.toString)
      val pay = base.groupBy("g")
        .agg(top_k_str_pay_agg(col("score"), col("term"), col("pay"), 5)
          .as("tk"))
        .select(col("g"), posexplode(col("tk")))
      val payRank = pay
        .select(col("g"), (col("pos") + 1).cast("long"), col("col.score"),
          col("col.id"))
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(viaWindow.toSeq == payRank.toSeq, s"parts=$parts: rank order differs")
      // every surviving payload decodes back to its own term/group
      pay.select(col("g"), col("col.id"), col("col.pay")).collect()
        .foreach { r =>
          val term = r.getString(1)
          val p = r.getLong(2)
          assert((p >> 40) == term.drop(1).toLong, s"payload term part: $r")
          assert((p & ((1L << 40) - 1)) == r.getLong(0), s"payload g part: $r")
        }
    }
  }
}
