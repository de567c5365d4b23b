package graft
/** Local replica of the driver's smoke check: SparkEntry.entry rows > 0. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = SessionRecipe.local("4", "ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5)
    spark.stop()
  }
}
