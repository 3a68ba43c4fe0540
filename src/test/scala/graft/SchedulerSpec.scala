package graft

import java.sql.{Connection, DriverManager, Timestamp}
import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sink.DerbyDialect
import graft.sync._

/** C5 parallel fan-out, C8 staging GC. */
class SchedulerSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)
  private val url = "jdbc:derby:memory:schedspec;create=true"

  private def newConn(): Connection = {
    val c = DriverManager.getConnection(url)
    c.setAutoCommit(false)
    c
  }

  test("runDue fans out one sync round per due table in parallel (C5)") {
    val boot = newConn()
    val state = new SyncStateStore(boot)
    state.install()
    val st = boot.createStatement()
    Seq("ta", "tb").foreach { t =>
      st.execute(
        s"""CREATE TABLE "$t" ("pk" BIGINT NOT NULL PRIMARY KEY,
           | "v" DOUBLE, "modstamp" TIMESTAMP)""".stripMargin)
      state.register(t, ts("2024-01-01 00:00:00"), refreshMinutes = 1)
    }
    boot.commit()

    val schema = StructType(Seq(StructField("pk", LongType, nullable = false),
      StructField("v", DoubleType), StructField("modstamp", TimestampType)))
    def delta(base: Long): Iterator[Row] =
      Iterator(Row(base, base * 1.5, ts("2024-02-01 00:00:00")))

    val sched = new Scheduler(_ => {
      val c = newConn()
      SyncWorker(new IncrementalSync(c, new DerbyDialect, new SyncStateStore(c)),
        new SyncStateStore(c), c)
    })
    val results = sched.runDue(
      new Timestamp(System.currentTimeMillis() + 2 * 60 * 1000), state,
      Map(
        "ta" -> (SyncConfig("ta", "pk", "modstamp"), schema, (_: Option[Timestamp]) => delta(1)),
        "tb" -> (SyncConfig("tb", "pk", "modstamp"), schema, (_: Option[Timestamp]) => delta(2))))
    assert(results.keySet == Set("ta", "tb"))
    assert(results.values.forall(_.isInstanceOf[SyncResult.Merged]))
    // both tables unlocked and watermarked
    Seq("ta", "tb").foreach { t =>
      val row = new SyncStateStore(newConn()).get(t).get
      assert(row.status == "ready")
      assert(row.syncuntil.contains(ts("2024-02-01 00:00:00")))
    }
  }

  test("staging GC removes only dirs older than retention (C8)") {
    val root = tempDir("graft_gc").toFile
    val oldDir = new java.io.File(root, "job-old")
    val newDir = new java.io.File(root, "job-new")
    oldDir.mkdirs(); newDir.mkdirs()
    Files.writeString(new java.io.File(oldDir, "b.csv").toPath, "x")
    oldDir.setLastModified(System.currentTimeMillis() - 8L * 24 * 3600 * 1000)
    val removed = StagingGc.sweep(root, maxAgeDays = 7)
    assert(removed == 1)
    assert(!oldDir.exists() && newDir.exists())
  }
}
