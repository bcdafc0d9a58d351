package graft.tools

/** r17 optimization-round evidence tool: write `.explain("formatted")`
  * output for every bench query (production twins included — they are
  * what Bench times) to <outDir>/<query>_<suffix>.txt. The judge checks
  * plan-shape claims (Exchange count, join strategy, PushedFilters,
  * ReadSchema) against these files without running Spark.
  *
  * Usage: jrun graft.tools.DumpPlans <sfDir> <outDir> <suffix> [query...]
  * (defaults: sf0.1, plans/r17, "before", all bench queries). The dump is
  * the PRE-EXECUTION plan (AdaptiveSparkPlan isFinalPlan=false) — the
  * shape Catalyst committed to, before AQE runtime coalescing; nothing
  * is executed, so queries with artifact-write lifecycles only show the
  * final read-back plan their returned DataFrame holds. */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "plans/r17"
    val suffix = if (args.length > 2) args(2) else "before"
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else graft.SparkEntry.benchQueries.keys.toSeq.sorted
    val spark = graft.Graft.session("graft-dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (q <- names) {
      spark.sparkContext.setJobDescription(s"explain: $q")
      val txt =
        try {
          val df = graft.SparkEntry.benchQueries(q)(spark, dir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable =>
          s"EXPLAIN FAILED: ${e.getClass.getName}: ${e.getMessage}"
        }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"), txt)
      println(s"wrote $outDir/${q}_$suffix.txt")
    }
    spark.stop()
  }
}
