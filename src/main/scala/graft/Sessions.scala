package graft

import org.apache.spark.sql.SparkSession

/** What the local mains (Bench, Verify, PlanProfile) share: one session
  * shape and one warm-up directory rule.
  */
object Sessions {

  /** The local core count: `$SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `local[cpus]` with as many shuffle partitions, no UI, UTC session
    * time and WARN logging.
    */
  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The smallest scale factor sharing `sfDir`'s layout (its `sf0.001`
    * sibling, else `sfDir` itself): a warm-up pass there compiles
    * codegen and JITs every plan, so the timed pass measures execution,
    * not JVM warm-up.
    */
  def warmUpDir(sfDir: String): String = {
    val w = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (w.exists()) w.getPath else sfDir
  }
}
