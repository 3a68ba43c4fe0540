package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    val queries = SparkEntry.selectedQueries()
    // One fatal driver/JVM event (stopped SparkContext, OOM) poisons
    // every later attempt; continuing would time zombie failures for
    // minutes and bury the real cause. Abort at once with the FIRST
    // error as the cause. Diagnosis line printed LAST (after the stack)
    // so a tail-truncated stderr capture still carries the query name
    // and root error; halt() instead of exit() because a dead
    // SparkContext's shutdown hooks can hang the JVM into an outer
    // timeout (the r13 driver run died exactly that way: rc=124 with
    // the fatal's stack as the tail).
    def abortIfDead(name: String, pass: String, e: Throwable): Unit = {
      val dead = spark.sparkContext.isStopped ||
        e.isInstanceOf[OutOfMemoryError] ||
        (e.getMessage != null && e.getMessage.contains("stopped SparkContext"))
      if (dead) {
        e.printStackTrace(System.err)
        val rt = Runtime.getRuntime
        val usedMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
        val root = {
          var c: Throwable = e
          while (c.getCause != null && c.getCause != c) c = c.getCause
          c.toString.linesIterator.next()
        }
        System.err.println(
          s"[bench] heap used=${usedMb}m total=${rt.totalMemory() / (1024 * 1024)}m " +
            s"max=${rt.maxMemory() / (1024 * 1024)}m")
        System.err.println(
          s"[bench] FATAL during $pass '$name': $root — aborting suite")
        System.err.flush()
        Runtime.getRuntime.halt(3)
      }
    }
    val warmDir = Sessions.warmUpDir(sfDir)
    queries.foreach { case (n, fn) =>
      try { fn(spark, warmDir).count() } catch {
        case e: Throwable => abortIfDead(n, "warm-up", e)
      }
    }
    System.err.println(s"[bench] warm-up done (${queries.size} queries)")
    // min over timed passes per query, passes INTERLEAVED across the
    // whole suite (pass 1 of every query, then pass 2, ...): the
    // environment shows bursty external CPU steal lasting seconds — a
    // burst during consecutive per-query repeats poisons all of that
    // query's samples, while interleaving gives each query samples from
    // well-separated wall-clock windows, so the min is the faithful
    // engine cost. A query that throws is reported loudly (stderr +
    // "failures" in the JSON line) instead of benching as a ~0 s
    // phantom success.
    var failures = Map.empty[String, String]
    val names = queries.keys.toSeq.sorted
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    // Path = first CLI arg, else $SPARK_GRAFT_BENCH_OUT, else
    // BENCH_last_c<cpus>.json in the working directory: one record per
    // core count, so an 8-core run cannot overwrite the 32-core one.
    val outPath = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_OUT"))
      .getOrElse(s"BENCH_last_c${Sessions.cpus}.json")
    def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
    // Serialize the suite state as the one-line JSON record. partial=true
    // marks an in-flight snapshot (suite not yet complete) so a fatal
    // mid-suite still leaves every finished measurement on disk.
    def total: Double = names.filter(samples.contains).map(samples(_).min).sum
    def jsonLine(partial: Boolean): String = {
      val done = names.filter(samples.contains)
      val qs = done.map(n => "\"" + n + "\":" + samples(n).min)
        .mkString("{", ",", "}")
      // Locale.ROOT: a comma-decimal locale would emit "0,123" and
      // corrupt the JSON line
      val ps = done.map { n =>
        "\"" + n + "\":" + samples(n).reverse
          .map(d => String.format(java.util.Locale.ROOT, "%.3f", Double.box(d)))
          .mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val fj = failures.toSeq.sorted.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
        .mkString("{", ",", "}")
      val part = if (partial) "\"partial\":true," else ""
      s"""{"metric":"total","value":$total,"unit":"sec",$part"queries":$qs,"passes":$ps,"failures":$fj,"sf":"$sfDir"}"""
    }
    def writeLine(line: String): Boolean =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
          (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        true
      } catch {
        case e: java.io.IOException =>
          System.err.println(s"[bench] WARN could not write $outPath: $e")
          false
      }
    for (pass <- 1 to 3; name <- names) {
      val t0 = System.nanoTime()
      try { queries(name)(spark, sfDir).count() } catch {
        case e: Throwable =>
          abortIfDead(name, s"pass $pass", e)
          failures += name -> e.toString.linesIterator.next()
          System.err.println(s"[bench] FAILED $name: $e")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // per-query progress stamp: a crash mid-suite is localizable from
      // the stderr tail (last stamped query = the one that died)
      System.err.println(String.format(java.util.Locale.ROOT,
        "[bench] pass %s %-28s %8.3f s", pass.toString, name, Double.box(dt)))
      samples.updateWith(name)(s => Some(dt :: s.getOrElse(Nil)))
      // incremental snapshot: a fatal anywhere later in the suite
      // cannot lose the measurements already taken (r13 Wrong #1)
      writeLine(jsonLine(partial = true))
    }
    // per-pass times (chronological) alongside the min: external CPU
    // steal on this host inflates wall-clock 3-10× for seconds at a
    // time, and a burst spanning all of one query's passes makes its
    // min a mirage. A wide min→max spread in "passes" flags exactly
    // that — the artifact is self-diagnosing (see README).
    // The full record goes to the file; stdout ends with a compact
    // summary naming it, which no tail-capture truncates. The full line
    // reaches stdout only when the file could not be written.
    val line = jsonLine(partial = false)
    val written = writeLine(line)
    if (!written) println(line)
    val record = if (written) "\"" + esc(outPath) + "\"" else "null"
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${names.size},""" +
      s""""failures":${failures.size},"record":$record}""")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
