package graft.tools

/** Replicates the driver's t1 smoke: SparkEntry.entry rows > 0. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val n = graft.SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    spark.stop()
    sys.exit(if (n > 0) 0 else 1)
  }
}
