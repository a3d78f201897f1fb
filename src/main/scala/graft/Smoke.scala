package graft

/** t1-smoke analog: runs SparkEntry.entry exactly as the driver does and
  * prints the row count (driver checks rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession("4")
    val df = SparkEntry.entry(spark)
    println(s"[smoke] entry rows=${df.count()}")
    df.show(5, truncate = 60)
    spark.stop()
  }
}
