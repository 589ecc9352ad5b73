package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every graft main runs under, so
  * `Verify` (the correctness gate) and `Bench` (the timing) are
  * guaranteed the same conf: `local[SPARK_GRAFT_CPUS]` (default 4) with
  * as many shuffle partitions, the graft extensions, UTC, AQE on,
  * nanosecond parquet timestamps read as longs (see
  * [[Tables.normalizeEventTs]]) and no UI. Per-main extras (log level,
  * explain mode) stay at the call site. */
object GraftSession {

  def builder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .withExtensions(new GraftExtensions())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
  }

  def create(): SparkSession = builder().getOrCreate()
}
