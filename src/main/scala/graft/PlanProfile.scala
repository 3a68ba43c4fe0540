package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.scheduler._
import org.apache.spark.sql.graft.ListenerBusShim
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Optimization-round measurement harness (guide §1): for each query in
  * the (SPARK_GRAFT_ONLY-narrowed) registry, dump `.explain("formatted")`
  * to `<outDir>/<name>.txt` and run the query with a stage-metrics
  * listener, printing per-stage wall/shuffle breakdowns so the expensive
  * stage of an expensive query is identifiable without the (disabled)
  * Spark UI. Streaming queries also print every micro-batch's
  * `durationMs` phases (triggerExecution / queryPlanning / getBatch /
  * walCommit / addBatch / commitOffsets) and state-operator totals, so
  * the fixed micro-batch cost is attributable phase by phase. Diagnostic
  * tooling only — never run by the driver.
  *
  * {{{
  * SPARK_GRAFT_ONLY=q1_agg,stream_join sbt "runMain graft.PlanProfile <sfDir> <outDir>"
  * }}}
  */
object PlanProfile {
  private case class StageRec(id: Int, name: String, ms: Long,
      tasks: Int, shufRead: Long, shufWrite: Long, input: Long,
      spill: Long, gcMs: Long, cpuMs: Long, runMs: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/tmp/plan_profile"
    val spark = Sessions.local()
    try profile(spark, SparkEntry.selectedQueries(), sfDir, outDir, println(_))
    finally spark.stop()
  }

  /** Warm every query on [[Sessions.warmUpDir]], then per query: write
    * its plan file, run it twice on `sfDir` and `emit` the two wall
    * times, the second run's 12 slowest stages and its stream batches.
    * The listeners are removed again before this returns.
    */
  def profile(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      sfDir: String, outDir: String, emit: String => Unit): Unit = {
    Files.createDirectories(Paths.get(outDir))

    // every SQL action's executed plan, delivered async on the shared
    // bus — flushed (ListenerBusShim) before attribution, so internal
    // eager materializations (localCheckpoint ladders) are captured
    // alongside the top-level plan rather than hiding behind a
    // checkpoint-scan tail
    val execPlans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        execPlans.add(s"== action: $funcName (${durationNs / 1000000} ms) ==\n" +
          qe.explainString(ExplainMode.fromString("formatted")))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }

    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
    val stageListener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val ms = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(-1L)
        stages.put(si.stageId, StageRec(si.stageId, si.name.take(80), ms,
          si.numTasks, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.memoryBytesSpilled, m.jvmGCTime, m.executorCpuTime / 1000000,
          m.executorRunTime))
      }
    }

    val batches = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dm = p.durationMs
        def g(k: String): Long = Option(dm.get(k)).map(_.toLong).getOrElse(-1L)
        batches.add(f"    batch ${p.name}%-28s id=${p.batchId}%2d rows=${p.numInputRows}%7d " +
          f"trigger=${g("triggerExecution")}%5d plan=${g("queryPlanning")}%5d " +
          f"getBatch=${g("getBatch")}%5d latestOffset=${g("latestOffset")}%5d " +
          f"wal=${g("walCommit")}%5d add=${g("addBatch")}%5d commit=${g("commitOffsets")}%5d")
        p.stateOperators.foreach { so =>
          batches.add(f"      state ${so.operatorName}%-24s rowsTotal=${so.numRowsTotal}%7d " +
            f"updated=${so.numRowsUpdated}%7d commitMs=${so.allUpdatesTimeMs + so.commitTimeMs}%5d " +
            f"memUsed=${so.memoryUsedBytes}%9d")
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    spark.listenerManager.register(planListener)
    spark.sparkContext.addSparkListener(stageListener)
    spark.streams.addListener(streamListener)
    try {
      val names = queries.keys.toSeq.sorted
      val warmDir = Sessions.warmUpDir(sfDir)
      names.foreach { n =>
        try queries(n)(spark, warmDir).count()
        catch { case e: Throwable => System.err.println(s"[profile] warm $n: $e") }
      }
      names.foreach { n =>
        try {
          val df = queries(n)(spark, sfDir)
          val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          Files.write(Paths.get(outDir, s"$n.txt"),
            plan.getBytes(StandardCharsets.UTF_8))
          // timed run 1 captures the internal executions; run 2, after
          // the first-pass caches settle (the bench's min-of-3), the
          // stages and stream batches
          ListenerBusShim.waitUntilEmpty(spark)
          execPlans.clear()
          spark.sparkContext.setJobDescription(n)
          var t0 = System.nanoTime()
          queries(n)(spark, sfDir).count()
          val dt1 = (System.nanoTime() - t0) / 1e9
          ListenerBusShim.waitUntilEmpty(spark)
          if (!execPlans.isEmpty)
            Files.write(Paths.get(outDir, s"$n.txt"),
              (plan + "\n\n== internal executions (run 1) ==\n\n" +
                execPlans.asScala.mkString("\n\n"))
                .getBytes(StandardCharsets.UTF_8))
          stages.clear()
          batches.clear()
          t0 = System.nanoTime()
          queries(n)(spark, sfDir).count()
          val dt2 = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.setJobDescription(null)
          ListenerBusShim.waitUntilEmpty(spark)
          emit(f"[profile] $n%-32s run1=$dt1%7.3f s run2=$dt2%7.3f s")
          stages.values().asScala.toSeq.sortBy(-_.ms).take(12).foreach { r =>
            emit(f"    stage ${r.id}%4d ${r.ms}%6d ms tasks=${r.tasks}%3d " +
              f"in=${r.input / 1024}%8d KB sr=${r.shufRead / 1024}%8d KB " +
              f"sw=${r.shufWrite / 1024}%8d KB spill=${r.spill / 1024}%6d KB " +
              f"gc=${r.gcMs}%6d ms cpu=${r.cpuMs}%7d ms run=${r.runMs}%7d ms  ${r.name}")
          }
          batches.asScala.foreach(emit)
        } catch {
          case e: Throwable => System.err.println(s"[profile] FAILED $n: $e")
        }
      }
    } finally {
      spark.listenerManager.unregister(planListener)
      spark.sparkContext.removeSparkListener(stageListener)
      spark.streams.removeListener(streamListener)
    }
  }
}
