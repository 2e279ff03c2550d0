package graft.tools

import org.apache.spark.sql.SparkSession

/** The local SparkSession every CLI and diagnostic main starts from:
  * `local[cores]` with cores from SPARK_GRAFT_CPUS (else every available
  * processor), max(4 x cores, 16) shuffle partitions, AQE on, no UI, UTC
  * session time zone, log level ERROR. */
object Sessions {
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", math.max(4 * cores, 16).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
