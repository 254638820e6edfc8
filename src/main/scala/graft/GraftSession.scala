package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main builds: `local[N]` with N from
  * SPARK_GRAFT_CPUS (else every processor the JVM sees), N shuffle
  * partitions, UTC session time, no UI, WARN logging. AQE is Spark's
  * default and is left on. */
object GraftSession {
  /** The N of `local[N]`. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
