package graftbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, PreparedStatement, Statement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.reverse.{BulkUpload, UploadResult}
import graft.sources.salesforce.{SfFieldMeta, SfTransport}

/** One traced interval. `parent` is the enclosing span's id (0 = root). */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span store plus the per-layer accumulators of a traced
  * run. Tracing is observation from outside graft: decorating
  * transports, a delegating JDBC driver and Spark listeners feed it.
  */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]()
  /** The running op and verb spans; transport and JDBC spans hang off
    * the innermost (calls from task threads included: ops run one at a
    * time).
    */
  @volatile var opSpan = 0L
  @volatile var verbSpan = 0L
  /** The running op's kind (`sync`, `sync_zero`, `upload`, …), which
    * attributes destination writes to sync rounds.
    */
  @volatile var opKind = ""

  private val sums = TrieMap.empty[String, DoubleAdder]
  def add(metric: String, v: Double): Unit =
    if (enabled) sums.getOrElseUpdate(metric, new DoubleAdder).add(v)
  def get(metric: String): Double = sums.get(metric).map(_.sum).getOrElse(0.0)
  def reset(): Unit = { sums.clear(); spans.clear() }

  def parent: Long = if (verbSpan != 0) verbSpan else opSpan

  def nextId(): Long = ids.incrementAndGet()

  def record(name: String, parentId: Long, t0: Long, t1: Long, id: Long = nextId()): Unit =
    if (enabled) spans.add(Span(id, parentId, name, t0, t1))

  /** Times `body` as a span and adds its milliseconds to `metric`. */
  def timed[T](name: String, metric: String)(body: => T): T = {
    if (!enabled) return body
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      record(name, parent, t0, t1)
      add(metric, (t1 - t0) / 1e6)
    }
  }

  /** Self time per span name: duration minus the children's. */
  def selfTimesMs(): Seq[(String, Double)] = {
    val all = spans.toArray(Array.empty[Span]).toSeq
    val child = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => math.max(0L, s.endNs - s.startNs - child.getOrElse(s.id, 0L))).sum / 1e6
    }.toSeq.sortBy(-_._2)
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.forEach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n")
    } finally w.close()
  }
}

/** `sources` layer: a decorating [[SfTransport]] around the HTTP one. */
final class TracedSfTransport(inner: SfTransport) extends SfTransport {
  private def call[T](name: String, metric: String)(body: => T): T = {
    Trace.add(s"sources.${metric}_calls", 1)
    Trace.timed(s"sources.$name", s"sources.${metric}_ms")(body)
  }
  override def describe(o: String): Seq[SfFieldMeta] = call("describe", "describe")(inner.describe(o))
  override def fieldIndexes(o: String): Map[String, Boolean] =
    call("fieldIndexes", "describe")(inner.fieldIndexes(o))
  override def count(o: String, where: Option[String], includeDeleted: Boolean): Long =
    call("count", "count")(inner.count(o, where, includeDeleted))
  override def pkChunks(o: String, fields: Seq[String], where: Option[String],
      includeDeleted: Boolean, chunkSize: Int): Seq[(String, String)] =
    call("pkChunks", "pkchunks")(inner.pkChunks(o, fields, where, includeDeleted, chunkSize))

  /** Draining time is what the reader pays, so the iterator is timed. */
  override def query(o: String, fields: Seq[String], where: Option[String],
      limit: Option[Int], includeDeleted: Boolean,
      pkRange: Option[(String, String)]): Iterator[Map[String, Any]] = {
    Trace.add("sources.query_calls", 1)
    val parent = Trace.parent
    val t0 = System.nanoTime()
    val it = inner.query(o, fields, where, limit, includeDeleted, pkRange)
    var busy = System.nanoTime() - t0
    var last = t0
    def tick[T](body: => T): T = {
      val a = System.nanoTime()
      try body finally { val b = System.nanoTime(); busy += b - a; last = b }
    }
    new Iterator[Map[String, Any]] {
      private var closed = false
      override def hasNext: Boolean = {
        val h = tick(it.hasNext)
        if (!h && !closed) {
          closed = true
          Trace.add("sources.query_ms", busy / 1e6)
          Trace.record("sources.query", parent, t0, last)
        }
        h
      }
      override def next(): Map[String, Any] = {
        Trace.add("sources.rows_decoded", 1)
        tick(it.next())
      }
    }
  }
  override def updatedIds(o: String, s: java.sql.Timestamp, e: java.sql.Timestamp): Seq[String] =
    inner.updatedIds(o, s, e)
  override def deletedIds(o: String, s: java.sql.Timestamp,
      e: java.sql.Timestamp): Seq[(String, java.sql.Timestamp)] = inner.deletedIds(o, s, e)
  override def search(sosl: String): Seq[Map[String, Any]] = inner.search(sosl)
  override def recordGet(o: String, id: String): Map[String, Any] = inner.recordGet(o, id)
  override def recordGetByExternalId(o: String, f: String, v: String): Map[String, Any] =
    inner.recordGetByExternalId(o, f, v)
  override def recordCreate(o: String, data: Map[String, Any]): String = inner.recordCreate(o, data)
  override def recordUpdate(o: String, id: String, data: Map[String, Any]): Int =
    inner.recordUpdate(o, id, data)
  override def recordUpsertByExternalId(o: String, f: String, v: String,
      data: Map[String, Any]): Int = inner.recordUpsertByExternalId(o, f, v, data)
  override def recordDelete(o: String, id: String): Int = inner.recordDelete(o, id)
}

/** `reverse` layer: a decorating upload transport. */
final class TracedUploadTransport(inner: BulkUpload.UploadTransport)
    extends BulkUpload.UploadTransport {
  override def createJob(o: String, op: String, ext: Option[String], ct: String): String =
    Trace.timed("reverse.createJob", "reverse.job_ms")(inner.createJob(o, op, ext, ct))
  override def postBatch(jobId: String, csv: String): String = {
    Trace.add("reverse.batches", 1)
    Trace.timed("reverse.postBatch", "reverse.post_batch_ms")(inner.postBatch(jobId, csv))
  }
  override def waitBatch(jobId: String, batchId: String): Unit =
    Trace.timed("reverse.waitBatch", "reverse.wait_ms")(inner.waitBatch(jobId, batchId))
  override def batchResults(jobId: String, batchId: String): Seq[UploadResult] = {
    val rs = Trace.timed("reverse.batchResults", "reverse.results_ms")(
      inner.batchResults(jobId, batchId))
    Trace.add("reverse.failed_records", rs.count(!_.success))
    rs
  }
  override def closeJob(jobId: String): Unit =
    Trace.timed("reverse.closeJob", "reverse.job_ms")(inner.closeJob(jobId))
}

/** `sink` and `state` layers: a JDBC driver that takes over
  * `jdbc:derby:` URLs (graft picks its dialect from the URL, so the URL
  * stays Derby's), hands out proxies around Derby's connections and
  * times every statement by kind.
  */
object TracingDriver extends Driver {
  private lazy val derby: Driver = {
    val d = DriverManager.getDriver("jdbc:derby:memory:graftbench")
    DriverManager.deregisterDriver(d)
    DriverManager.registerDriver(this)
    d
  }
  def install(): Unit = derby

  override def acceptsURL(url: String): Boolean = url != null && url.startsWith("jdbc:derby:")
  override def connect(url: String, info: java.util.Properties): Connection =
    if (!acceptsURL(url)) null else wrap(derby.connect(url, info))
  override def getPropertyInfo(url: String, info: java.util.Properties) =
    derby.getPropertyInfo(url, info)
  override def getMajorVersion = derby.getMajorVersion
  override def getMinorVersion = derby.getMinorVersion
  override def jdbcCompliant = derby.jdbcCompliant
  override def getParentLogger = derby.getParentLogger
  /** Statement kind → per-layer metric. */
  def kind(sql: String): String = {
    val s = sql.trim.toUpperCase
    if (s.contains("\"__SYNC\"")) "state"
    else if (s.startsWith("INSERT INTO \"__STG_")) "stage"
    else if (s.startsWith("INSERT")) "insert"
    else if (s.startsWith("MERGE")) "merge"
    else if (s.startsWith("DELETE") && s.contains(" WHERE ")) "delete"
    else if (s.startsWith("DELETE") || s.startsWith("CREATE") || s.startsWith("DROP") ||
      s.startsWith("TRUNCATE") || s.startsWith("ALTER")) "ddl"
    else "read"
  }

  private def unwrapped[T](body: => T): T =
    try body catch { case e: InvocationTargetException => throw e.getCause }

  /** Runs one statement and books it by kind. Rows written are the
    * batch size of a prepared batch, else the update count.
    * @param batchRows rows of a prepared batch, or -1
    */
  private def run(sql: String, st: Statement, batchRows: Long)(body: => AnyRef): AnyRef = {
    // the harness's own reads and checks run between ops
    if (Trace.opSpan == 0) return unwrapped(body)
    val k = kind(sql)
    val t0 = System.nanoTime()
    val r = unwrapped(body)
    val ms = (System.nanoTime() - t0) / 1e6
    Trace.record(s"jdbc.$k", Trace.parent, t0, System.nanoTime())
    if (k == "state") { Trace.add("state.statements", 1); Trace.add("state.cas_ms", ms) }
    else {
      Trace.add("sink.statements", 1)
      if (k == "stage") Trace.add("sink.insert_ms", ms)
      else if (k != "read") Trace.add(s"sink.${k}_ms", ms)
      if (k == "stage" || k == "insert" || k == "merge" || k == "delete") {
        val written = if (batchRows >= 0) batchRows else r match {
          case n: Integer => n.longValue()
          case n: java.lang.Long => n.longValue()
          case java.lang.Boolean.FALSE => math.max(0L, st.getUpdateCount.toLong)
          case _ => 0L
        }
        if (k == "stage" || k == "insert") Trace.add("sink.insert_rows", written)
        if (k == "stage") Trace.add("sink.stage_rows", written)
        else Trace.opKind match {
          case "sync" => Trace.add("sink.sync_dest_rows", written)
          case "sync_zero" => Trace.add("sink.zero_delta_dest_writes", written)
          case _ =>
        }
      }
    }
    r
  }

  private def proxy[T](cls: Class[T], h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](cls), h).asInstanceOf[T]

  private def wrap(c: Connection): Connection = proxy(classOf[Connection],
    (_: AnyRef, m: Method, args: Array[AnyRef]) => m.getName match {
      case "createStatement" => wrapStatement(unwrapped(m.invoke(c, args: _*)).asInstanceOf[Statement])
      case "prepareStatement" =>
        val sql = args(0).asInstanceOf[String]
        wrapPrepared(unwrapped(m.invoke(c, args: _*)).asInstanceOf[PreparedStatement], sql)
      case "commit" if Trace.opSpan != 0 =>
        Trace.timed("jdbc.commit", "sink.commit_ms")(unwrapped(m.invoke(c, args: _*)))
      case _ => unwrapped(m.invoke(c, args: _*))
    })

  private def wrapStatement(s: Statement): Statement = proxy(classOf[Statement],
    (_: AnyRef, m: Method, args: Array[AnyRef]) => m.getName match {
      case "execute" | "executeUpdate" | "executeQuery" | "executeLargeUpdate"
          if args != null && args.nonEmpty =>
        run(args(0).asInstanceOf[String], s, -1)(m.invoke(s, args: _*))
      case _ => unwrapped(m.invoke(s, args: _*))
    })

  private def wrapPrepared(ps: PreparedStatement, sql: String): PreparedStatement = {
    var pending = 0L
    proxy(classOf[PreparedStatement],
      (_: AnyRef, m: Method, args: Array[AnyRef]) => m.getName match {
        case "addBatch" => pending += 1; unwrapped(m.invoke(ps, args: _*))
        case "executeBatch" | "executeLargeBatch" =>
          val n = pending; pending = 0
          run(sql, ps, n)(m.invoke(ps, args: _*))
        case "execute" | "executeUpdate" | "executeQuery" | "executeLargeUpdate"
            if args == null || args.isEmpty =>
          run(sql, ps, -1)(m.invoke(ps, args: _*))
        case _ => unwrapped(m.invoke(ps, args: _*))
      })
  }
}

/** `spark` and `streaming` layers: jobs, tasks and plan phases
  * attributed to the op through the `graftbench.op` local property.
  */
final class SparkLayer extends SparkListener with QueryExecutionListener {
  val OpProperty = "graftbench.op"
  private val jobStart = TrieMap.empty[Int, (Long, Long)] // job → (op span, start ns)
  /** Job intervals per op span, for driver idle time. */
  val jobIntervals = TrieMap.empty[Long, ConcurrentLinkedQueue[(Long, Long)]]
  // listener events carry wall-clock ms; map them onto nanoTime
  private val nsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
      .map(_.toLong).getOrElse(0L)
    jobStart.put(e.jobId, (op, e.time * 1000000L + nsOffset))
    Trace.add("spark.jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      val t1 = e.time * 1000000L + nsOffset
      Trace.record(s"spark.job", op, t0, t1)
      Trace.add("spark.job_ms", (t1 - t0) / 1e6)
      jobIntervals.getOrElseUpdate(op, new ConcurrentLinkedQueue).add((t0, t1))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Trace.add("spark.tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      Trace.add("spark.executor_cpu_ms", m.executorCpuTime / 1e6)
      Trace.add("spark.gc_ms", m.jvmGCTime.toDouble)
      Trace.add("spark.shuffle_bytes",
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      Trace.add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.add("spark.plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    Trace.add("spark.plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)

  /** Milliseconds of [t0, t1] covered by none of the op's jobs. */
  def idleMs(op: Long, t0: Long, t1: Long): Double = {
    val iv = Option(jobIntervals.get(op).orNull).map(_.toArray(Array.empty[(Long, Long)]).toSeq)
      .getOrElse(Nil).map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = t0
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (t1 - t0 - covered) / 1e6
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    private val lastState = TrieMap.empty[java.util.UUID, Long]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Trace.add("streaming.batches", 1)
      Option(p.durationMs.get("addBatch")).foreach(v => Trace.add("streaming.add_batch_ms", v.toDouble))
      Option(p.durationMs.get("commitOffsets")).foreach(v => Trace.add("streaming.commit_ms", v.toDouble))
      lastState.put(p.id, p.stateOperators.map(_.numRowsTotal).sum)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      lastState.remove(e.id).foreach(n => Trace.add("streaming.state_rows", n.toDouble))
  }
}
