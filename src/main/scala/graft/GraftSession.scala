package graft

import org.apache.spark.sql.SparkSession

/** The one engine session shape: `local[cpus]` with one shuffle partition
  * per core, UTC session time, nanosecond parquet timestamps read as
  * longs (the shim in [[Tables.events]] needs it), no UI, WARN logging.
  * Every main, generator, app and the test session build through here;
  * `extras` carries what a caller sets beyond that (app name, warehouse
  * dir, extensions, a master override), applied last so they win.
  */
object GraftSession {
  def local(cpus: Int, extras: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    extras.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
