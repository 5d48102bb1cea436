package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built. Bench, Verify, Explain,
  * Smoke, the tools and the test base all take this shape, so the plans
  * they time, dump or assert on are the plans the bench runs:
  *
  *  - `spark.sql.extensions=graft.functions.GraftExtensions` — the SQL
  *    surface and the injected optimizer rules, enabled the way a cluster
  *    deployment would;
  *  - `local[cpus]` with shuffle partitions = `cpus`;
  *  - UTC session time zone, UI off, adaptive query execution on;
  *  - log level WARN.
  *
  * `cpus` defaults to `SPARK_GRAFT_CPUS`, else the machine's core count.
  * `getOrCreate` semantics: a second call in the same JVM returns the
  * running session.
  */
object GraftSession {
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
