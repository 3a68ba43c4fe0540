package graft.cli

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.{DriverManager, Timestamp}
import scala.util.Using
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.reverse.{BulkUpload, UploadTransports}
import graft.sink.{DerbyDialect, PgDialect, SqlDialect}
import graft.sources.salesforce.{CsvWire, HttpSfTransport, ReadScope, SalesforceSource,
  SfLogin, SfSoql, SfTransports}
import graft.sync.{BulkLoad, IncrementalSync, SyncConfig, SyncStateStore}
import graft.types.{SfField, SfSchema}

/** The reference's scriptable workflow as CLI verbs (SURVEY §7.1.7 —
  * `tabledesc.py`, `query.py`, `query_bulk.py`+`csv_to_postgres.py`,
  * `sync`/`query_poll_table.py`, `upload_table.py`), each a thin shell
  * over the library operators so the tool and the API cannot drift:
  *
  * {{{
  * graft.cli.Cli tabledesc --transport t --object Contact [--schema sf]
  * graft.cli.Cli query     --transport t --object Contact
  *                         [--fields a,b] [--where W] [--limit N]
  *                         [--count] [--include-deleted]
  * graft.cli.Cli bulkload  --transport t --object Contact --jdbc URL
  *                         --dest tbl --pk Id --ts-col SystemModstamp
  *                         [--include-deleted]
  * graft.cli.Cli sync      --transport t --object Contact --jdbc URL
  *                         --dest tbl --pk Id --ts-col SystemModstamp
  *                         [--deleted-col IsDeleted]
  * graft.cli.Cli upload    --transport t --object Contact --csv FILE
  *                         [--operation insert|update|upsert|delete|hardDelete]
  *                         [--external-id Field]   (upsert only)
  * graft.cli.Cli search    --transport t (--sosl "FIND {x}" | --term x)
  * }}}
  *
  * Transports are resolved by registry name (SfTransports /
  * UploadTransports) — production registers an HttpSfTransport built
  * from connection options; tests register mocks. Output goes to the
  * supplied sink (stdout in `main`), so specs capture it.
  *
  * The replication verbs — `bulkload`, `sync`, `upload` — run on the
  * driver, as the reference's one process on one connection does: their
  * rows pass between the transport and the one JDBC connection or the
  * one posting loop, so they plan no Spark query and start no Spark
  * session. Only `query` and `explain` use [[spark]].
  */
object Cli {

  def main(args: Array[String]): Unit =
    sys.exit(run(args.toSeq, println(_)))

  /** @return process exit code; output lines go to `out` */
  def run(args: Seq[String], out: String => Unit): Int = {
    if (args.isEmpty) { out(usage); return 2 }
    val verb = args.head
    try {
      // flag parsing and config loading INSIDE the handler: a bad
      // flag or unreadable/malformed --config file must exit with the
      // clean "error:" line, not an uncaught stack trace
      val explicit = parseOpts(args.tail)
      // `--config FILE` (or GRAFT_CONFIG): the reference's ~/.pgsf
      // supplies option DEFAULTS (jdbc url, schema, quote_name, job
      // dir); explicit flags always win
      val cfg = explicit.get("config").orElse(sys.env.get("GRAFT_CONFIG"))
        .map(ConfigFile.load)
      val merged = cfg.map(_.cliDefaults ++ explicit).getOrElse(explicit)
      // config-alone transport bootstrap (`salesforce.py:17-26`: the
      // reference builds every client from [salesforce] credentials):
      // no --transport flag + a [salesforce] section -> SOAP-login and
      // register the HTTP transport under a reserved name, so `query`/
      // `sync`/`upload` run from ~/.pgsf alone, like the reference
      // only for verbs that resolve a transport: abort/gc/explain (and
      // the usage path) are local-only and must keep working offline
      // with a credentialed config file present
      val needsTransport = Set("tabledesc", "query", "bulkload", "sync",
        "upload", "search")
      val opts =
        if (merged.contains("transport") || !needsTransport(verb)) merged
        else cfg.flatMap(_.salesforce) match {
          case Some(c) => merged + ("transport" -> bootstrapTransport(c))
          case None => merged
        }
      verb match {
        case "login" =>
          val c = cfg.flatMap(_.salesforce).getOrElse(throw
            new IllegalArgumentException("login requires --config with a " +
              "[salesforce] section"))
          val r = doLogin(c)
          out(s"instance=${c.instanceUrl.map(SfLogin.instanceOf)
            .getOrElse(r.instance)} session_chars=${r.sessionId.length}")
        case "tabledesc" => tabledesc(opts, out)
        case "query" => query(opts, out)
        case "bulkload" => bulkload(opts, out)
        case "sync" => sync(opts, out)
        case "upload" => upload(opts, out)
        case "search" => search(opts, out)
        case "abort" => abort(opts, out)
        case "gc" => gc(opts, out)
        case "explain" => explain(opts, out)
        case other => out(s"unknown verb '$other'\n$usage"); return 2
      }
      0
    } catch {
      case e: IllegalArgumentException => out(s"error: ${e.getMessage}"); 2
      case scala.util.control.NonFatal(e) => out(s"error: $e"); 1
    }
  }

  private val usage =
    "usage: graft.cli.Cli <login|tabledesc|query|bulkload|sync|upload|search|abort|gc|explain> " +
      "[--config FILE] [--opt value ...]"

  /** Login from `[salesforce]` credentials (`salesforce.py:17-26` via
    * `SalesforceLogin`), dispatching on the parsed credential arm:
    * password+token → SOAP, consumer_key+privatekey_file → JWT bearer
    * (`api.py:146-168`). The engine-extension `login_url` key is the
    * endpoint seam for whichever arm is active; `instance_url`
    * overrides the host the login returns (proxies / local fixtures).
    */
  private def doLogin(c: ConfigFile.SfCredentials): SfLogin.LoginResult =
    c.auth match {
      case ConfigFile.SfPassword(pw, tok) =>
        SfLogin.login(c.username, pw,
          securityToken = Some(tok),
          apiVersion = c.apiVersion,
          domain = c.domain.getOrElse("login"),
          soapUrlOverride = c.loginUrl)
      case ConfigFile.SfJwt(consumerKey, keyFile) =>
        SfLogin.jwtLogin(c.username, consumerKey, keyFile,
          domain = c.domain.getOrElse("login"),
          tokenUrlOverride = c.loginUrl)
    }

  /** Registered-transport name for the config-bootstrap path. */
  val ConfigTransportName = "config-salesforce"

  /** Login + register the production HTTP transport (REST/bulk scan
    * AND upload wire) under [[ConfigTransportName]]; idempotent per
    * JVM run — verbs resolve it by name exactly like an explicitly
    * registered transport.
    */
  private def bootstrapTransport(c: ConfigFile.SfCredentials): String = {
    val r = doLogin(c)
    val base = c.instanceUrl.getOrElse(r.instanceUrl)
    val t = new HttpSfTransport(base, r.sessionId, apiVersion = c.apiVersion)
    SfTransports.register(ConfigTransportName, t)
    UploadTransports.register(ConfigTransportName,
      t: graft.reverse.BulkUpload.UploadTransport)
    ConfigTransportName
  }

  /** `search --transport t (--sosl "FIND {…}" | --term word)` — SOSL
    * full-text search across objects (`simple_salesforce/api.py:
    * 296-328`); one line per hit, led by the source object type.
    */
  private def search(opts: Map[String, String], out: String => Unit): Unit = {
    val t = graft.sources.salesforce.SfTransports.get(required(opts, "transport"))
    val hits = (opts.get("sosl"), opts.get("term")) match {
      case (Some(sosl), _) => t.search(sosl)
      case (None, Some(term)) => t.quickSearch(term)
      case _ => throw new IllegalArgumentException("need --sosl or --term")
    }
    out(s"${hits.size} records")
    hits.foreach { r =>
      val tp = r.getOrElse("_sobject_type", "?")
      val rest = (r - "_sobject_type").toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(" ")
      out(s"$tp $rest")
    }
  }

  /** `explain --query NAME --sf-dir DIR [--mode formatted]` — print the
    * physical plan of a registered driver query: the plan-audit loop
    * ("explain and iterate") as a first-class verb, so a perf review
    * needs no Scala. `--mode` accepts Spark's explain modes
    * (simple|extended|codegen|cost|formatted).
    */
  private def explain(opts: Map[String, String], out: String => Unit): Unit = {
    val name = required(opts, "query")
    val sfDir = required(opts, "sf-dir")
    val mode = opts.getOrElse("mode", "formatted")
    val fn = graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown query '$name' (${graft.SparkEntry.queries.size} registered)"))
    val df = fn(spark, sfDir)
    out(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString(mode)))
  }

  private def parseOpts(args: Seq[String]): Map[String, String] = {
    val it = args.iterator
    val m = Map.newBuilder[String, String]
    while (it.hasNext) {
      val k = it.next()
      require(k.startsWith("--"), s"expected --option, got '$k'")
      val key = k.stripPrefix("--")
      // boolean flags: no value follows (next token is an option or end)
      if (key == "count" || key == "include-deleted") m += key -> "true"
      else {
        require(it.hasNext, s"missing value for --$key")
        m += key -> it.next()
      }
    }
    m.result()
  }

  private def required(opts: Map[String, String], key: String): String =
    opts.getOrElse(key, throw new IllegalArgumentException(s"--$key is required"))

  private def spark: SparkSession = graft.Sessions.local()

  private def describeFields(opts: Map[String, String]): Seq[SfField] =
    SfTransports.get(required(opts, "transport"))
      .describeWithIndexes(required(opts, "object"))
      .map(_.toSfField)

  /** `tabledesc.py` + `createtable.py`: field inventory and the DDL the
    * destination would get.
    */
  private def tabledesc(opts: Map[String, String], out: String => Unit): Unit = {
    val obj = required(opts, "object")
    val fields = describeFields(opts)
    fields.foreach(f => out(
      s"${f.name}\t${f.sfType}\tlen=${f.length}\tnillable=${f.nillable}"))
    // full bootstrap script: CREATE TABLE + indexes + optional GRANT
    // (`createtable.py:87-127`; --grant-to ↔ config `grant_to`)
    SfSchema.createScript(opts.getOrElse("schema", "salesforce"), obj,
      SfSchema.defaultSelection(fields),
      mappingIndexed = opts.get("indexed-fields")
        .map(_.split(",").toSet).getOrElse(Set.empty),
      grantTo = opts.get("grant-to")).foreach(out)
  }

  /** `query.py`: SOQL through the `salesforce` source, the one verb that
    * reads a DataFrame; `--count` mirrors `query_count` (A1 — answered
    * without fetching rows).
    */
  private def query(opts: Map[String, String], out: String => Unit): Unit = {
    var df = spark.read.format("salesforce")
      .option("object", required(opts, "object"))
      .option("transport", required(opts, "transport"))
      .option("includeDeleted", opts.contains("include-deleted"))
      .load()
    opts.get("fields").foreach(f => df = df.select(f.split(",").map(col): _*))
    opts.get("where").foreach(w => df = df.filter(expr(w)))
    opts.get("limit").foreach(n => df = df.limit(n.toInt))
    if (opts.contains("count")) out(df.count().toString)
    else {
      out(df.columns.mkString(","))
      df.collect().foreach(r => out(r.mkString(",")))
    }
  }

  /** quote_name (pg.py:108-115) reaches the dialect from config/flag;
    * absent → the engine default (quoted, case-preserving).
    */
  private def dialectFor(url: String, opts: Map[String, String]): SqlDialect =
    if (url.startsWith("jdbc:derby")) new DerbyDialect
    else new PgDialect(quoteNames =
      opts.get("quote-name").forall(ConfigFile.parseBoolean))

  /** `query_bulk.py` + `download.py` + `csv_to_postgres.py`: full
    * extract → truncate-and-load → C4 bootstrap, as one verb. The
    * extract reads every described column of the whole object, the
    * source's PK chunks one after another on the driver
    * ([[SalesforceSource.extract]]), once; the load stamps `__sync` with
    * the max CDC timestamp landed (the landed-data analogue of the job's
    * systemModstamp, A2 semantics).
    */
  private def bulkload(opts: Map[String, String], out: String => Unit): Unit = {
    val url = required(opts, "jdbc")
    val dest = required(opts, "dest")
    val cfg = SyncConfig(dest, required(opts, "pk"), required(opts, "ts-col"))
    val obj = required(opts, "object")
    val transport = SfTransports.get(required(opts, "transport"))
    val schema = SalesforceSource.schemaOf(transport, obj)
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val state = new SyncStateStore(conn)
      state.install()
      // a failed load closes the chunk result stream it was reading
      val (n, modstamp) = ReadScope(BulkLoad.refresh(cfg, conn, dialectFor(url, opts), state,
        schema, SalesforceSource.extract(transport, obj, schema, opts.contains("include-deleted"))))
      out(s"loaded $n rows into $dest; __sync registered at $modstamp")
    } finally conn.close()
  }

  /** `sync` / `query_poll_table.py`: one incremental round for one
    * table — CAS lock, watermark delta, staged merge, watermark
    * advance, single commit. The delta is read as the reference polls it
    * (`query_poll_table.py:78-85`): on the driver, REST `queryAll` pages
    * with the T6 `ts > watermark` WHERE, no Bulk job and no Spark query,
    * so the verb starts no Spark session; `bulkload` reads the
    * PK-chunked Bulk extract. `--max-delta N` adds the bulk-vs-poll
    * preflight (`README.rst:68`): the same WHERE as
    * `SELECT COUNT() ... WHERE ts > watermark` decides whether to stop
    * and report NeedsFullReload instead of fetching.
    */
  private def sync(opts: Map[String, String], out: String => Unit): Unit = {
    val url = required(opts, "jdbc")
    val dest = required(opts, "dest")
    val tsCol = required(opts, "ts-col")
    val obj = required(opts, "object")
    val transport = SfTransports.get(required(opts, "transport"))
    val schema = SalesforceSource.schemaOf(transport, obj)
    def where(wm: Option[Timestamp]): Option[String] =
      wm.map(w => s"$tsCol > ${SfSoql.literal(w)}")
    val maxDelta = opts.get("max-delta").map(_.toLong)
    val countFn = maxDelta.map(_ => (wm: Option[Timestamp]) =>
      transport.count(obj, where(wm), includeDeleted = true))
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val state = new SyncStateStore(conn)
      val syncer = new IncrementalSync(conn, dialectFor(url, opts), state)
      val cfg = SyncConfig(dest, required(opts, "pk"), tsCol,
        opts.get("deleted-col"))
      val result = syncer.syncTable(cfg, schema,
        wm => SalesforceSource.rows(transport, obj, schema, where(wm), includeDeleted = true),
        countFn, maxDelta.getOrElse(Long.MaxValue))
      out(s"sync $dest: $result")
    } finally conn.close()
  }

  /** `abort_refresh.py`: mark a table's state row 'error' so auto-sync
    * halts until an operator re-registers (C7). A state change only: no
    * Spark session, no Salesforce login.
    */
  private def abort(opts: Map[String, String], out: String => Unit): Unit = {
    val dest = required(opts, "dest")
    val conn = DriverManager.getConnection(required(opts, "jdbc"))
    try {
      conn.setAutoCommit(false)
      new SyncStateStore(conn).markError(dest)
      conn.commit()
      out(s"aborted $dest: status=error")
    } finally conn.close()
  }

  /** `delete_old_jobs_data.sh`: staging-area retention sweep (C8). */
  private def gc(opts: Map[String, String], out: String => Unit): Unit = {
    val dir = new java.io.File(required(opts, "dir"))
    val days = opts.getOrElse("days", "7").toInt
    val n = graft.sync.StagingGc.sweep(dir, days)
    out(s"removed $n entries older than $days days from ${dir.getPath}")
  }

  /** `upload_table.py`: CSV file → chunked bulk-update batches with
    * per-record results; failures print like the reference's error
    * report (`upload_table.py:97-103`). The file is RFC-4180 CSV with a
    * header, decoded by [[CsvWire]]: doubled quotes, embedded commas and
    * newlines keep their values. An empty field, quoted or not, is NULL
    * and posts as an empty field. The file is read twice, streaming: a
    * first pass refuses a record wider or narrower than the header
    * before the job opens, so a refused file posts nothing.
    */
  private def upload(opts: Map[String, String], out: String => Unit): Unit = {
    val path = Path.of(required(opts, "csv"))
    val transport = UploadTransports.get(required(opts, "transport"))
    def records[A](f: Iterator[Seq[String]] => A): A =
      Using.resource(Files.newBufferedReader(path, UTF_8))(in => f(CsvWire.parseRows(in)))
    val columns = records { rs =>
      val header = if (rs.hasNext) rs.next() else Nil
      rs.zipWithIndex.foreach { case (r, i) => require(r.size == header.size,
        s"CSV record ${i + 1} has ${r.size} fields, the header ${header.size}") }
      header
    }
    val (jobId, batches) = records { rs =>
      BulkUpload.uploadWithResults(columns,
        rs.drop(1).map(r => Row.fromSeq(r.map(v => if (v.isEmpty) null else v))),
        required(opts, "object"), transport, opts.getOrElse("operation", "update"),
        externalIdField = opts.get("external-id"))
    }
    val results = batches.flatMap(_._2)
    val failed = results.filterNot(_.success)
    out(s"job $jobId: ${results.size} records, ${failed.size} failed")
    failed.foreach(r => out(s"FAILED ${r.id}: ${r.error}"))
  }
}
