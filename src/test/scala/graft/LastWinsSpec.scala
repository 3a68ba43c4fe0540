package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.operators.MergeOps
import graft.sync.IncrementalSync

/** J4 equivalence: the sync round's driver-side last-wins keeps exactly
  * the rows `MergeOps.dedupLastWins` (the `row_number()` window, the
  * reference) keeps, over generated deltas with duplicate pks, null
  * timestamps and soft deletes. Timestamps never tie within a pk — there
  * the window's pick is arbitrary — so at most one row per pk has a null.
  */
class LastWinsSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("pk", LongType, nullable = false),
    StructField("ts", TimestampType), StructField("name", StringType),
    StructField("is_deleted", BooleanType)))

  private val deltaGen: Gen[Seq[Row]] = for {
    n <- Gen.chooseNum(0, 30)
    pks <- Gen.listOfN(n, Gen.chooseNum(1L, 8L))
    stamps <- Gen.listOfN(n, Gen.chooseNum(0L, 100000L))
    nulls <- Gen.listOfN(n, Gen.prob(0.2))
    deleted <- Gen.listOfN(n, Gen.prob(0.15))
  } yield {
    // at most one null per pk, at any position in its arrival order
    val nullAt = pks.indices.filter(i => nulls(i)).groupBy(i => pks(i)).values.map(_.head).toSet
    pks.indices.map { i =>
      // stamp * 1000 + i: distinct across rows, so no tie within a pk
      val ts = if (nullAt(i)) null
               else new Timestamp(1704067200000L + stamps(i) * 1000 + i)
      Row(pks(i), ts, s"r$i", deleted(i))
    }
  }

  test("driver-side last-wins keeps exactly the rows dedupLastWins keeps") {
    val prop = Prop.forAll(deltaGen) { rows: Seq[Row] =>
      val driver = IncrementalSync.lastWins(rows.iterator, 0, 1).values.asScala.toSet
      val window = MergeOps.dedupLastWins(
        spark.createDataFrame(rows.asJava, schema), "pk", "ts").collect().toSet
      driver == window
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(result.passed, result.status.toString)
  }
}
