package graft

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBusShim
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — small core count + tiny shuffle
  * fan-out so the suite stays fast.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001 = "/root/testdata/sf0.01"

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh temp dir for a fixture, deleted with its contents after
    * the spec's last test.
    */
  def tempDir(prefix: String): Path = tempDirs.synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d
  }

  /** Runs `body` with `java.io.tmpdir` at `dir`: the query stagings
    * it makes land there.
    */
  def withTmpDir[T](dir: Path)(body: => T): T = {
    val prev = System.getProperty("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", dir.toString)
    try body finally System.setProperty("java.io.tmpdir", prev)
  }

  /** `body`'s result and the Spark jobs started while it ran, read
    * after the listener bus drains.
    */
  def sparkJobs[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try { val r = body; ListenerBusShim.waitUntilEmpty(spark); (r, jobs.get) }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach(SparkSpec.deleteTree))
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
}
