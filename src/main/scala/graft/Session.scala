package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.Files

/** The one local SparkSession every main (and the test suite) runs on. */
object Session {

  /** Executor threads: `SPARK_GRAFT_CPUS`, else every available core. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cpus]` with shuffle partitions = cores, not the 200 default. */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet timestamp precision varies by testdata generation
      // (nanos through r6, micros-NTZ since r7); Tables.events normalizes
      // either form, and this legacy conf keeps a nanos regeneration
      // readable (as long, converted back) instead of failing the scan.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed-table queries saveAsTable into the warehouse — keep it in
      // a temp dir, not ./spark-warehouse under the working directory
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
