package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.test()
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY rows=$n")
    spark.stop()
  }
}
