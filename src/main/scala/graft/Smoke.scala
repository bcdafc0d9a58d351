package graft

/** Local stand-in for the driver's t1 smoke gate: runs SparkEntry.entry
  * (flagship query on sf0.001) and asserts it returns rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session("graft-smoke")
    val df    = SparkEntry.entry(spark)
    val n     = df.count()
    df.show(10, false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
