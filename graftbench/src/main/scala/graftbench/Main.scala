package graftbench

import java.nio.file.{Files, Path, Paths}
import java.sql.{Connection, DriverManager}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}

import graft.cli.Cli
import graft.reverse.UploadTransports
import graft.sources.salesforce.{HttpSfTransport, SfTransports}

/** One closed-loop benchmark run: set up (several times, timed, the
  * last set up is kept), then drive one op at a time until `seconds` of
  * op time have passed, checking every op's output. Writes a JSON result
  * for `run.py`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: Path, work: Path, inject: Set[String], data: Path)

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  val TransportName = "graftbench"

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val kv = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", Paths.get(kv("out")), Paths.get(kv("work")),
      kv.get("inject").toSeq.flatMap(_.split(',')).filter(_.nonEmpty).toSet,
      Paths.get(kv.getOrElse("data", ".")))
    Files.createDirectories(a.work)
    // the mix's set-up is what a query pays first: a Spark session and
    // its tables; replication sets up with graft's bulkload (Run)
    val (spark, sessionS) = if (a.workload != "analytics_mix") (startSpark(a), 0.0) else {
      val times = (1 to Setups).map { i =>
        val s0 = System.nanoTime()
        val s = startSpark(a)
        graft.Tables.names.foreach(n => graft.Tables(s, a.data.toString, n).schema)
        val secs = (System.nanoTime() - s0) / 1e9
        if (i < Setups) s.stop()
        (s, secs)
      }
      System.err.println(f"[graftbench] set up ${times.map(t => f"${t._2}%.2f").mkString(" ")} s")
      (times.last._1, Run.median(times.map(_._2)))
    }
    val layer = new SparkLayer
    if (a.trace) {
      Trace.enabled = true
      spark.sparkContext.addSparkListener(layer)
      spark.listenerManager.register(layer)
      spark.streams.addListener(layer.streaming)
    }
    System.err.println(f"[graftbench] ${(System.nanoTime() - t0) / 1e9}%.1fs spark session up")
    val run = new Run(spark, layer, a)
    val result =
      try a.workload match {
        case "replicate_cdc" => run.replicateCdc()
        case "analytics_mix" => run.analyticsMix(sessionS)
        case w => sys.error(s"unknown workload '$w'")
      } finally run.close()
    Files.writeString(a.out, result)
    System.err.println(f"[graftbench] ${(System.nanoTime() - t0) / 1e9}%.1fs result written")
    if (a.trace) {
      Trace.writeSpans(a.work.resolve("spans.jsonl"))
      System.err.println("[graftbench] self time by span (ms): " +
        Trace.selfTimesMs().take(15).map { case (n, ms) => f"$n=$ms%.0f" }.mkString(" "))
    }
    spark.stop()
    System.err.println(f"[graftbench] ${(System.nanoTime() - t0) / 1e9}%.1fs stopped")
  }

  private def startSpark(a: Args): SparkSession = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Run {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = s(pos.toInt); val hi = s(math.min(pos.toInt + 1, s.size - 1))
    lo + (hi - lo) * (pos - pos.toInt)
  }
}

/** Workload drivers. Metrics are collected here; tracing only adds the
  * per-layer readout.
  */
final class Run(spark: SparkSession, layer: SparkLayer, a: Main.Args) {
  import Main._
  import Run._

  private var attempted = 0
  private var failed = 0
  private val errors = ArrayBuffer.empty[String]
  private var fixture: Option[Fixture] = None
  private var dbSeq = 0
  private var url = ""
  private val layerMs = scala.collection.mutable.Map.empty[String, Double]

  def close(): Unit = { fixture.foreach(_.stop()); fixture = None; dropDb() }

  // ---- plumbing --------------------------------------------------------

  private val born = System.nanoTime()
  private def progress(what: String): Unit =
    System.err.println(f"[graftbench] ${(System.nanoTime() - born) / 1e9}%.1fs $what")

  private def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg
    System.err.println(s"[graftbench] FAILED op: $msg")
  }

  /** Times one op as a span with its Spark jobs attributed to it. */
  private def op[T](name: String)(body: => T): (T, Double) = {
    attempted += 1
    val span = Trace.nextId()
    Trace.opSpan = span
    Trace.opKind = name
    spark.sparkContext.setLocalProperty(layer.OpProperty, span.toString)
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      Trace.record(s"op.$name", 0, t0, t1, span)
      if (Trace.enabled) Trace.add("spark.driver_idle_ms", layer.idleMs(span, t0, t1))
      System.err.println(f"[graftbench] op $name ${(t1 - t0) / 1e6}%.0f ms")
      (r, (t1 - t0) / 1e9)
    } finally {
      Trace.opSpan = 0
      Trace.opKind = ""
      spark.sparkContext.setLocalProperty(layer.OpProperty, null)
    }
  }

  /** One CLI verb; a non-zero exit is returned as Left(output). */
  private def cli(args: String*): Either[String, Seq[String]] = {
    val lines = ArrayBuffer.empty[String]
    Trace.verbSpan = Trace.nextId()
    val t0 = System.nanoTime()
    val code = try Cli.run(args, lines += _) finally {
      Trace.record(s"verb.${args.head}", Trace.opSpan, t0, System.nanoTime(), Trace.verbSpan)
      Trace.verbSpan = 0
    }
    if (code == 0) Right(lines.toSeq) else Left(s"${args.head} exit $code: ${lines.mkString(" | ").take(400)}")
  }

  private def connect(): Connection = DriverManager.getConnection(url)

  private def newDb(): Unit = {
    dropDb()
    dbSeq += 1
    url = s"jdbc:derby:memory:graftbench$dbSeq;create=true"
    if (a.trace) TracingDriver.install()
  }

  private def dropDb(): Unit = if (url.nonEmpty) {
    try DriverManager.getConnection(s"jdbc:derby:memory:graftbench$dbSeq;drop=true")
    catch { case _: java.sql.SQLException => () } // 08006 = dropped
    url = ""
  }

  /** Destination DDL for Derby from the fixture's describe. */
  private def createTable(c: Connection, table: String, o: SObject): Unit = {
    val cols = o.fields.map { f =>
      val t = f.sfType match {
        case "id" | "reference" => "VARCHAR(18)"
        case "int" => "INTEGER"
        case "double" | "percent" => "DOUBLE"
        case "currency" => s"DECIMAL(${f.precision}, ${f.scale})"
        case "boolean" => "BOOLEAN"
        case "date" => "DATE"
        case "datetime" => "TIMESTAMP"
        case _ => s"VARCHAR(${f.length})"
      }
      "\"" + f.name + "\" " + t + (if (f.name == "Id") " PRIMARY KEY" else if (!f.nillable) " NOT NULL" else "")
    }
    val st = c.createStatement()
    try st.execute(s"""CREATE TABLE "$table" (${cols.mkString(", ")})""") finally st.close()
  }

  private def startFixture(objects: Seq[SObject], clock: Clock): Fixture = {
    fixture.foreach(_.stop())
    val f = new Fixture(objects, clock)
    fixture = Some(f)
    val http = new HttpSfTransport(f.baseUrl, f.session, apiVersion = f.api)
    if (a.trace) {
      SfTransports.register(TransportName, new TracedSfTransport(http))
      UploadTransports.register(TransportName, new TracedUploadTransport(http))
    } else {
      SfTransports.register(TransportName, http)
      UploadTransports.register(TransportName, http)
    }
    f
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  private def clockStart: Long =
    java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli + (a.seed % 1000) * 60000L


  private def bulkloadArgs(obj: String, dest: String): Seq[String] =
    Seq("bulkload", "--transport", TransportName, "--object", obj, "--jdbc", url,
      "--dest", dest, "--pk", "Id", "--ts-col", "SystemModstamp")

  /** Injected faults for the self-test; each must surface as a failed op. */
  private def inject(c: Connection, table: String, o: SObject): Unit = {
    val st = c.createStatement()
    try {
      if (a.inject("sink_cell"))
        st.executeUpdate(s"""UPDATE "$table" SET "Name" = 'tampered' WHERE "Id" = """ +
          s"(SELECT MIN(\"Id\") FROM \"$table\")")
      if (a.inject("missed_delete")) {
        // resurrect one soft-deleted record in the sink
        o.rows.find(o.isDeleted).foreach { r =>
          val cols = o.fields.map(f => "\"" + f.name + "\"").mkString(", ")
          val ps = c.prepareStatement(s"""INSERT INTO "$table" ($cols) VALUES (${o.fields.map(_ => "?").mkString(", ")})""")
          o.fields.indices.foreach { i =>
            ps.setObject(i + 1, r(i) match {
              case t: java.time.Instant => java.sql.Timestamp.from(t)
              case d: java.time.LocalDate => java.sql.Date.valueOf(d)
              case b: java.lang.Boolean if i == o.delIdx => java.lang.Boolean.FALSE
              case v => v
            })
          }
          try ps.executeUpdate() catch { case _: java.sql.SQLException => () } finally ps.close()
        }
      }
      if (a.inject("stale_watermark"))
        st.executeUpdate(s"""UPDATE "__sync" SET syncuntil = {fn TIMESTAMPADD(SQL_TSI_SECOND, -5, syncuntil)} WHERE tablename = '$table'""")
      if (a.inject("stuck_running"))
        st.executeUpdate(s"""UPDATE "__sync" SET status = 'running' WHERE tablename = '$table'""")
      c.commit()
    } finally st.close()
  }

  /** A sink that cannot be read (e.g. a lock held by a leaked
    * transaction) fails the op rather than the run.
    */
  private def checkSink(table: String, o: SObject): Option[String] = {
    val c = connect()
    try {
      c.setAutoCommit(false)
      if (a.inject.nonEmpty) inject(c, table, o)
      Check.table(c, table, o).orElse(Check.syncState(c, table, o))
    } catch {
      case e: java.sql.SQLException => Some(s"sink check on $table: ${e.getMessage}")
    } finally { c.rollback(); c.close() }
  }

  private def layerReadout(ops: Int, extra: Map[String, Double]): Map[String, (Double, String)] = {
    def per(m: String) = Trace.get(m) / math.max(1, ops)
    val f = fixture.map(_.counters)
    val layers = Seq(
      "sources.describe_ms", "sources.describe_calls", "sources.pkchunks_ms", "sources.pkchunks_calls",
      "sources.query_ms", "sources.query_calls", "sources.count_ms", "sources.count_calls",
      "sources.rows_decoded", "sink.insert_ms", "sink.insert_rows", "sink.merge_ms",
      "sink.delete_ms", "sink.ddl_ms", "sink.commit_ms", "sink.statements", "sink.stage_rows",
      "state.cas_ms", "state.statements", "spark.jobs", "spark.tasks", "spark.plan_ms",
      "spark.job_ms", "spark.executor_cpu_ms", "spark.gc_ms", "spark.shuffle_bytes",
      "spark.spill_bytes", "spark.driver_idle_ms", "streaming.batches",
      "streaming.add_batch_ms", "streaming.commit_ms", "streaming.state_rows",
      "reverse.post_batch_ms", "reverse.wait_ms", "reverse.results_ms", "reverse.batches",
      "reverse.failed_records").map(m => m -> (per(m), unitOf(m)))
    val fx = Seq(
      "fixture.http_requests" -> f.map(_.httpRequests.get.toDouble),
      "fixture.http_bytes" -> f.map(_.httpBytes.get.toDouble),
      "fixture.rest_pages" -> f.map(_.restPages.get.toDouble),
      "fixture.bulk_jobs" -> f.map(_.bulkJobs.get.toDouble),
      "fixture.batch_polls" -> f.map(_.batchPolls.get.toDouble),
      "fixture.busy_ms" -> f.map(_.busyNanos.get / 1e6),
      "fixture.empty_select_soql" -> f.map(_.emptySelects.get.toDouble)).map { case (m, v) =>
      m -> (v.getOrElse(0.0) / math.max(1, ops), unitOf(m))
    }
    val changed = extra.getOrElse("rows_changed", 0.0)
    val ratios = Seq(
      "sources.rows_per_landed_row" ->
        (if (Trace.get("sink.insert_rows") > 0) Trace.get("sources.rows_decoded") / Trace.get("sink.insert_rows") else 0.0),
      // destination rows a non-zero sync round writes per source record
      // it changed; re-delivered rows push it above 1
      "sink.rows_written_per_row_changed" ->
        (if (changed > 0) Trace.get("sink.sync_dest_rows") / changed else 0.0),
      "sink.zero_delta_dest_writes" -> Trace.get("sink.zero_delta_dest_writes"))
      .map { case (m, v) => m -> (v, if (m.endsWith("writes")) "count" else "ratio") }
    val mix = Seq("dedup", "sim", "graph", "stream", "text", "pipe", "mm", "relational")
      .map(fam => s"mix.${fam}_ms" -> (layerMs.getOrElse(fam, 0.0), "ms/pass"))
    val wl = Seq("bulkload_rows_per_s", "upload_rows_per_s", "sync_round_p50_ms",
      "sync_round_p90_ms", "zero_delta_round_p50_ms", "cdc_rows_per_s", "mix_pass_s",
      "light_query_p50_ms", "heavy_query_p50_ms")
      .map(m => s"workload.$m" -> (extra.getOrElse(m, 0.0), unitOf(s"workload.$m")))
    (layers ++ fx ++ ratios ++ mix ++ wl :+ ("jvm.peak_rss_mb" -> (peakRssMb, "MB"))).toMap
  }

  private def unitOf(m: String): String =
    if (m.endsWith("_per_s")) "1/s"
    else if (m.endsWith("_s")) "s"
    else if (m.endsWith("_ms")) (if (m.startsWith("workload.") || m.endsWith("p50_ms")) "ms" else "ms/op")
    else if (m.endsWith("_bytes")) "B/op"
    else "1/op"

  /** @param timedOps the ops the per-layer sums cover (warm-up excluded) */
  private def result(e2e: Map[String, (Double, String)], timedOps: Int,
      extra: Map[String, Double], info: String = ""): String = {
    val metrics =
      if (a.trace) {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        layerReadout(timedOps, extra) ++ e2e.map { case (k, v) => s"traced.$k" -> v }
      } else e2e
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
      s"${Json.str(k)}:{" + s""""value":$num,"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    val ex = extra.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":$ms,"detail":$ex,"errors":[${errors.map(Json.str).mkString(",")}]$info}"""
  }

  /** End-to-end metrics every workload reports: throughput over the
    * timed ops and the median latency of the workload's primary unit of
    * work (a non-zero sync round; a pass over the query sample).
    */
  private def endToEnd(setupS: Double, ops: Seq[Double],
      primary: Seq[Double]): Map[String, (Double, String)] =
    Map("setup_s" -> (setupS, "s"), "ops_per_s" -> (ops.size / ops.sum, "1/s"),
      "op_p50_ms" -> (median(primary) * 1000, "ms"))

  // ---- replicate_cdc ---------------------------------------------------

  /** The op cycle: mostly `sync` rounds, plus an `upload` of Order
    * updates (picked up by the next Order round) and a full `bulkload`
    * refresh of Account. One Order round in seven and one Account round
    * in three is zero-delta: the fixture does not change before it, and
    * graft re-delivers only the rows of the watermark's last second.
    */
  private val Cycle = IndexedSeq("sync Order", "upload Order", "bulkload Account",
    "sync Order", "sync Account", "sync Order", "sync Account", "sync Account zero",
    "sync Order", "sync Order", "sync Order", "sync Order zero")
  /** The first cycle warms the JVM; its ops are checked but not timed. */
  private val Warm = Cycle.size

  /** The `__sync` watermark of `table`, as graft will read it. */
  private def watermark(table: String): Option[java.time.Instant] = {
    val c = connect()
    try {
      val rs = c.createStatement().executeQuery(
        s"""SELECT syncuntil FROM "__sync" WHERE tablename = '$table'""")
      if (rs.next()) Option(rs.getTimestamp(1)).map(_.toInstant) else None
    } finally c.close()
  }

  /** Records a round fetches: graft pushes `ts > watermark` to SOQL at
    * whole seconds, so it gets every record, deleted or not, stamped
    * after the watermark's second.
    */
  private def delivered(o: SObject, wm: Option[java.time.Instant]): Int = {
    val after = wm.map(_.toEpochMilli / 1000 * 1000).getOrElse(Long.MinValue)
    o.rows.count(_(o.tsIdx).asInstanceOf[java.time.Instant].toEpochMilli > after)
  }

  def replicateCdc(): String = {
    final case class Obj(o: SObject, src: Gen.Source, dest: String)
    val clock = new Clock(clockStart)
    val r = new SplittableRandom(a.seed)
    val account = new SObject("Account", Gen.AccountFields)
    val order = new SObject("Order", Gen.OrderFields)
    val aSrc = new Gen.Source(account, "001", r.split(), () => IndexedSeq.empty)
    Gen.populate(aSrc, 1500, clock)
    val accounts = account.rows.map(_(account.idIdx).asInstanceOf[String])
    val oSrc = new Gen.Source(order, "801", r.split(), () => accounts)
    Gen.populate(oSrc, 15000, clock)
    val objs = Map("Account" -> Obj(account, aSrc, "accounts"), "Order" -> Obj(order, oSrc, "orders"))
    startFixture(Seq(account, order), clock)
    newDb()
    val c = connect()
    try {
      c.setAutoCommit(false)
      objs.values.foreach(ob => createTable(c, ob.dest, ob.o))
      c.commit()
    } finally c.close()
    /** @return seconds, and whether the load checked out */
    def bulkload(ob: Obj): (Double, Boolean) = {
      val (out, s) = op("bulkload")(cli(bulkloadArgs(ob.o.name, ob.dest): _*))
      val verdict = out.left.toOption.orElse(checkSink(ob.dest, ob.o))
      verdict.foreach(fail)
      (s, verdict.isEmpty)
    }
    // set-up: graft's initial load of both objects, repeated
    val setups = (1 to Setups).map(_ => bulkload(objs("Account"))._1 + bulkload(objs("Order"))._1)
    progress(f"set up ${setups.map(t => f"$t%.2f").mkString(" ")} s")
    val setupS = median(setups)

    val rounds = ArrayBuffer.empty[Double]
    val zeroRounds = ArrayBuffer.empty[Double]
    val syncs = ArrayBuffer.empty[Double]
    val all = ArrayBuffer.empty[Double]
    val loads = ArrayBuffer.empty[Double]
    val uploads = ArrayBuffer.empty[Double]
    val pending = scala.collection.mutable.Map.empty[String, Set[String]].withDefaultValue(Set.empty)
    var changedOk = 0L
    var loadedRows = 0L
    var uploadedRows = 0L
    var k = 0
    while (k < Warm || all.sum < a.seconds || k % Cycle.size != 0) {
      if (k == Warm) { fixture.get.counters.reset(); Trace.reset(); progress("warmed up") }
      val Array(verb, name, mode @ _*) = Cycle(k % Cycle.size).split(' ')
      val ob = objs(name)
      val measured = k >= Warm
      verb match {
        case "sync" =>
          val zero = mode.contains("zero")
          if (!zero) pending(name) ++= ob.src.mutate(clock, 0.005)
          // a lock graft leaked fails the op, not the run
          val want = try Right(delivered(ob.o, watermark(ob.dest))) catch {
            case e: java.sql.SQLException => Left(s"reading __sync of ${ob.dest}: ${e.getMessage}")
          }
          val (out, s) = op(if (zero) "sync_zero" else "sync")(cli("sync", "--transport", TransportName,
            "--object", name, "--jdbc", url, "--dest", ob.dest, "--pk", "Id",
            "--ts-col", "SystemModstamp", "--deleted-col", "IsDeleted"))
          val verdict = (out, want) match {
            case (Left(e), _) => Some(e)
            case (_, Left(e)) => Some(e)
            case (Right(lines), Right(want)) =>
              val l = lines.mkString(" ")
              val merged = "Merged\\((\\d+),".r.findFirstMatchIn(l).map(_.group(1).toInt)
              if (want == 0 && !l.contains("NoChange")) Some(s"round on ${ob.dest}: $l, want NoChange")
              else if (want > 0 && !merged.contains(want))
                Some(s"round on ${ob.dest}: $l, want Merged($want,…)")
              else checkSink(ob.dest, ob.o)
          }
          verdict.foreach(fail)
          if (measured) {
            all += s; syncs += s
            if (zero) zeroRounds += s else rounds += s
            if (verdict.isEmpty) changedOk += pending(name).size
          }
          pending(name) = Set.empty
        case "upload" =>
          val (csv, expect) = Gen.uploadCsv(ob.src, 300)
          if (a.inject("reject_upload")) fixture.get.rejectIds.add(expect.keys.head)
          val path = a.work.resolve(s"upload-$k.csv")
          Files.writeString(path, csv)
          val (out, s) = op("upload")(cli("upload", "--transport", TransportName,
            "--object", name, "--csv", path.toString, "--operation", "update"))
          Files.deleteIfExists(path)
          val verdict = out match {
            case Left(e) => Some(e)
            case Right(lines) if !lines.headOption.exists(_.endsWith(s": ${expect.size} records, 0 failed")) =>
              Some(s"upload reported ${lines.take(3).mkString(" | ")}; want ${expect.size} records, 0 failed")
            case Right(_) => Check.uploaded(ob.o, expect)
          }
          verdict.foreach(fail)
          pending(name) ++= expect.keySet
          if (measured) { all += s; uploads += s; if (verdict.isEmpty) uploadedRows += expect.size }
        case "bulkload" =>
          val (s, ok) = bulkload(ob)
          pending(name) = Set.empty
          if (measured) { all += s; loads += s; if (ok) loadedRows += ob.o.live.size }
      }
      k += 1
    }
    val extra = Map("sync_round_p50_ms" -> median(rounds.toSeq) * 1000,
      "sync_round_p90_ms" -> quantile(rounds.toSeq, 0.9) * 1000,
      "zero_delta_round_p50_ms" -> median(zeroRounds.toSeq) * 1000,
      "cdc_rows_per_s" -> changedOk / syncs.sum, "rows_changed" -> changedOk.toDouble,
      "bulkload_rows_per_s" -> (if (loads.isEmpty) 0.0 else loadedRows / loads.sum),
      "upload_rows_per_s" -> (if (uploads.isEmpty) 0.0 else uploadedRows / uploads.sum),
      "rounds" -> rounds.size.toDouble, "zero_rounds" -> zeroRounds.size.toDouble)
    result(endToEnd(setupS, all.toSeq, rounds.toSeq), all.size, extra)
  }

  // ---- analytics_mix ---------------------------------------------------

  /** One op = one query of the pinned sample, forced with `.collect()`
    * so its whole output is checked: the first result of each query is
    * written for the oracle check (outside the timed region), and every
    * later result must equal it. Whole passes in the pinned order run
    * from a cold JVM, as a cron-started process sees them, until
    * `--seconds` have passed. Per-query cold latencies swap JIT work
    * between queries from run to run, so the primary latency is the pass.
    */
  def analyticsMix(setupS: Double): String = {
    // the tables are generated by run.py
    val dir = a.data.toString
    val queries = graft.SparkEntry.queries
    val sample = MixSample.light ++ MixSample.heavy
    val res = a.work.resolve("results")
    val firstResult = scala.collection.mutable.Map.empty[String, Seq[String]]
    val failedQueries = scala.collection.mutable.Set.empty[String]
    val opsPerQuery = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val passTimes = ArrayBuffer.empty[Double]
    val light = ArrayBuffer.empty[Double]
    val heavy = ArrayBuffer.empty[Double]
    val famMs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def runQuery(q: String): Double = {
      opsPerQuery(q) += 1
      val (out, s) = op(q)(try { val df = queries(q)(spark, dir); Right((df.collect(), df.schema)) }
        catch { case e: Exception => Left(s"$q: ${e.toString.take(300)}") })
      val verdict = out.flatMap { case (rows, schema) =>
        val canon = rows.map(_.toString).toSeq.sorted
        firstResult.get(q) match {
          case None =>
            firstResult(q) = canon
            spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
              .write.mode("overwrite").parquet(res.resolve(q).toString)
            Right(())
          case Some(first) if first == canon => Right(())
          case Some(first) => Left(s"$q: result differs from this run's checked result " +
            s"(${canon.size} vs ${first.size} rows)")
        }
      }
      verdict.left.foreach { e => fail(e); failedQueries += q }
      s
    }
    while (passTimes.sum < a.seconds) {
      var passS = 0.0
      sample.foreach { q =>
        val s = runQuery(q)
        passS += s
        famMs(MixSample.family(q)) += s * 1000
        if (MixSample.heavy.contains(q)) heavy += s else light += s
      }
      passTimes += passS
    }
    progress("measured")
    famMs.foreach { case (f, ms) => layerMs(f) = ms / passTimes.size }
    if (a.inject("mix_row")) corruptOneRow(res.resolve(sample.head).toString)
    val oracle = graft.SparkEntry.oracleSql
    val checks = opsPerQuery.toSeq.sortBy(_._1).map { case (q, n) =>
      s"""{"query":${Json.str(q)},"ops":$n,"spark_failed":${failedQueries(q)},""" +
        s""""sql":${Json.str(oracle.getOrElse(q, ""))}}"""
    }.mkString("[", ",", "]")
    val extra = Map("mix_pass_s" -> median(passTimes.toSeq),
      "light_query_p50_ms" -> median(light.toSeq) * 1000,
      "heavy_query_p50_ms" -> median(heavy.toSeq) * 1000, "passes" -> passTimes.size.toDouble)
    result(endToEnd(setupS, (light ++ heavy).toSeq, passTimes.toSeq), attempted, extra,
      s""","data_dir":${Json.str(dir)},"results_dir":${Json.str(res.toString)},"oracle":$checks""")
  }

  /** Self-test fault: rewrites a checked result with its first row's
    * first column altered.
    */
  private def corruptOneRow(path: String): Unit = {
    val df = spark.read.parquet(path)
    val rows = df.collect()
    var altered = false
    def alter(v: Any): Any = if (altered) v else {
      altered = true
      v match {
        case n: Long => n + 1
        case n: Int => n + 1
        case d: Double => d + 1
        case t: String => t + "x"
        case other => altered = false; other
      }
    }
    val bad = rows.headOption.map(r => Row.fromSeq(r.toSeq.map(alter))).toSeq ++ rows.drop(1)
    spark.createDataFrame(spark.sparkContext.parallelize(bad, 1), df.schema)
      .write.mode("overwrite").parquet(path + ".bad")
    val p = Paths.get(path)
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    Files.move(Paths.get(path + ".bad"), p)
  }
}
