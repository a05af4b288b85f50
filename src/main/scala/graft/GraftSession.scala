package graft
import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession gets its shared settings: the
  * native SQL functions and optimizer rule, UTC session time, no UI, and
  * ns parquet timestamps read as long nanos. Callers pick the master and
  * add their own extras (app name, warehouse dir, log level). */
object GraftSession {
  /** Local core count for the driver tools (Bench, Verify, PlanDump, ...). */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(master: String, partitions: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark is µs-native (SURVEY §1): parquet inputs with ns timestamps
      // read as long nanos instead of failing the read
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
