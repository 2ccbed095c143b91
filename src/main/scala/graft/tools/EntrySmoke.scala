package graft.tools
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session("local[4]", 4, "ERROR")
    val n = graft.SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
