package graft

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** The profiler's per-query loop on a batch and a streaming query. */
class PlanProfileSpec extends SparkSpec {

  test("profile writes plan files and prints stage and stream batch lines") {
    val outDir = tempDir("graft-plan-profile")
    val names = Set("q1_agg", "stream_session_native")
    val lines = ArrayBuffer.empty[String]
    PlanProfile.profile(spark, SparkEntry.queries.filter { case (k, _) => names(k) },
      sf0001, outDir.toString, lines += _)
    val out = lines.mkString("\n")
    assert(Files.size(outDir.resolve("q1_agg.txt")) > 0, out)
    assert(lines.exists(_.trim.startsWith("stage ")), out)
    assert(lines.exists(_.trim.startsWith("batch ")), out)
  }
}
