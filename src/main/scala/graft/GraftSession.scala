package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration every graft main and the
  * test suite run with, so none of them can drift from the others:
  * `cpus` task threads and as many shuffle partitions, UTC session
  * time, nanosecond parquet timestamps read as longs, the graft
  * SQL extensions, no UI. A main that needs something different sets
  * it on the returned session, next to its reason. */
object GraftSession {

  /** The core count the mains default to: `SPARK_GRAFT_CPUS`, else 32
    * (the 32-core bench host). */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
