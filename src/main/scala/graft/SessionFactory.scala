package graft

import org.apache.spark.sql.SparkSession

/** The one place a local session's conf is decided: every main, the shared
  * test session and the oracle-text builders get their session here.
  */
object SessionFactory {

  /** `SPARK_GRAFT_CPUS` when set, else every core the JVM sees. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with as many shuffle partitions, UTC session time, no UI,
    * legacy NANOS parquet columns read as epoch longs (only consulted for such
    * files; `queries.Relational.normalizeEventTs` handles either shape), log
    * level ERROR. Like any builder it returns the running session if there is
    * one, after writing the runtime SQL conf above into it.
    */
  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The caller's session, untouched; a fresh [[local]] one only when none runs. */
  def activeOrLocal(): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse(local())
}
