package graft

import org.apache.spark.sql.SparkSession

/** The one local session recipe: every main and the test session build
  * through here, so a setting cannot drift between them.
  *
  *   - UTC session time zone, so timestamps render and bucket the same
  *     on every machine;
  *   - nanosecond parquet timestamps read as `LONG`
  *     (`spark.sql.legacy.parquet.nanosAsLong`), which some test data
  *     carries;
  *   - `TIMESTAMP_MICROS` parquet output: Spark's INT96 default carries
  *     no usable parquet stats, which silently disables timestamp-column
  *     file skipping;
  *   - `cpus` local cores and as many shuffle partitions; no UI. */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
}
