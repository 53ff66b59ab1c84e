package graft

import org.apache.spark.sql.SparkSession

/** The one engine session builder. Every entry point (Bench, Verify,
  * ScaleGen, the tools) and the test session are built here, so they run
  * with the same width, time zone and SQL surface.
  *
  * `cores` sets `local[cores]` and the shuffle width. It defaults to
  * `SPARK_GRAFT_CPUS`, else to the machine's processor count. The
  * conjunct-reorder rule is installed by [[GraftFunctions.register]]
  * into `extraOptimizations`.
  */
object GraftSession {
  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def build(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Spark's default, pinned so a site spark-defaults.conf cannot plan
      // the engine's queries without AQE
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet has shipped with a TIMESTAMP(NANOS) `ts`, which
      // reads only as a long (Tables.events normalizes it)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }
}
