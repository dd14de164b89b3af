package graft

/** Local smoke runner: exercises SparkEntry.entry (the driver's t1 check)
  * and prints row count + a sample. Optional arg = sf dir
  * (default /root/testdata/sf0.001, or SPARK_GRAFT_SF_DIR). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val df =
      if (args.nonEmpty) SparkEntry.entry(spark, args(0))
      else SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(10, truncate = false)
    spark.stop()
  }
}
