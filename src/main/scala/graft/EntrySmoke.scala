package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.start("local[8]", 8)
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5)
    spark.stop()
  }
}
