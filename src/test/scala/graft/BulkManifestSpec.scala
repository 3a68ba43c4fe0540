package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.salesforce.{BatchInfo, BulkManifest}

/** F4 batch-state filtering + job completion. */
class BulkManifestSpec extends AnyFunSuite {
  import BulkManifest._

  private val batches = Seq(
    BatchInfo("b1", Completed),
    BatchInfo("b2", NotProcessed),     // PK-chunking artifact
    BatchInfo("b3", Completed),
    BatchInfo("b4", Failed))

  test("only Completed batches load; NotProcessed is skipped (F4)") {
    assert(loadableBatches(batches).map(_.id) == Seq("b1", "b3"))
    assert(failedBatches(batches).map(_.id) == Seq("b4"))
  }

  test("job not done while any batch queued or in progress") {
    assert(isDone(batches))
    assert(!isDone(batches :+ BatchInfo("b5", InProgress)))
    assert(!isDone(Seq(BatchInfo("b6", Queued))))
  }
}
