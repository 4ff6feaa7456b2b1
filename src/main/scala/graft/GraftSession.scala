package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every entry point and the test suite
  * run under, so the config that is tested, the one the oracle gate
  * checks and the one that is measured are the same (`perfbench`
  * documents the same settings in its README §Session).
  */
object GraftSession {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else the host's cores capped
    * at 32. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(Runtime.getRuntime.availableProcessors(), 32))

  /** A `local[cpus]` session with one shuffle partition per thread,
    * AQE on and [[graft.plans.GraftExtensions]] installed. Extensions
    * bind when the session is built, so this must build the process's
    * first session; later calls return that session unchanged. */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .withExtensions(new graft.plans.GraftExtensions)
      // report per-bucket file sort order to the planner — valid
      // because Bucketing.writeBucketed guarantees one file per
      // bucket; without it q19's join re-sorts pre-sorted buckets
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
