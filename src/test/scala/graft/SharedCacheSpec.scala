package graft

import org.apache.spark.sql.functions._

/** Lifecycle contracts of the shared per-(session, dir, generation)
  * materializations: the memoized basket profile and explicit
  * checkpoint-block release.
  */
class SharedCacheSpec extends SparkSpec {

  test("j11ScoreRules over the shared basket profile matches the from-items build") {
    SparkEntry.resetSharedCaches()
    val items = Tables(spark, sf0001, "lineitem")
      .select(col("l_orderkey").as("ord"), col("l_partkey").as("item"))
      .distinct()
    val (cachedItems, pairCounts) =
      SparkEntry.BasketGraph.itemsAndPairs(spark, sf0001)
    val (itemCnt, totalOrders) = SparkEntry.BasketGraph.itemStats(spark, sf0001)
    val viaProfile = operators.Relational
      .j11ScoreRules(pairCounts, itemCnt, totalOrders).collect()
    val viaItems = operators.Relational
      .j11AssocRulesFrom(items, pairCounts).collect()
    assert(cachedItems != null)
    assert(viaProfile.toSeq == viaItems.toSeq,
      "the memoized basket profile must not change a single rule row")
    SparkEntry.resetSharedCaches()
  }

  test("CheckpointCleanupShim releases a localCheckpoint's storage blocks") {
    import org.apache.spark.sql.graft.CheckpointCleanupShim
    val df = spark.range(0, 1000).toDF("id").localCheckpoint(true)
    assert(df.count() == 1000)
    // pin the exact RDD behind the checkpoint scan (suites share the
    // session, so global storage emptiness is not assertable)
    val rddIds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
    assert(rddIds.nonEmpty, "an eager localCheckpoint must scan a LogicalRDD")
    val sc = spark.sparkContext
    assert(sc.getRDDStorageInfo.exists(i => rddIds.contains(i.id)),
      "the checkpoint RDD must hold cached blocks before release")
    CheckpointCleanupShim.unpersistBlocks(df)
    assert(!sc.getRDDStorageInfo.exists(i => rddIds.contains(i.id)),
      "unpersistBlocks must drop the checkpoint RDD's storage")
  }
}
