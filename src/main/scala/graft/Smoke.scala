package graft

/** Driver-contract smoke: runs SparkEntry.entry exactly as the driver
  * does (rows > 0 on sf0.001) and prints the result.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = 60)
    println(s"[smoke] entry rows=$n schema=${df.schema.map(_.name).mkString(",")}")
    assert(n > 0, "entry must return rows")
    spark.stop()
  }
}
