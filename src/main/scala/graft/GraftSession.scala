package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: every main and the test suites build through
  * it, so the plans `Explain` prints and `StageDiag` profiles are the ones
  * Bench times and Verify checks. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UTC session time
    * and the UI off. Parquet timestamps are written as MICROS, not the
    * INT96 default, so footers carry valid timestamp statistics the
    * txlog's data skipping can use (the Delta/Iceberg interop choice;
    * INT96 stats are invalid per spec). AQE and its partition coalescing
    * are Spark's defaults and stay on. */
  def build(app: String, cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
