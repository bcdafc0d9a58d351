package graft.tools

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev tool: print the FINALIZED (post-AQE) physical plan of one or more
  * SparkEntry queries — the plan-audit loop the scale notes are checked
  * against. Usage: jrun graft.tools.ExplainQuery <sfDir> <query...>
  * (defaults: sf0.001, all queries). */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Graft.session("graft-explain-query")
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- names) {
      val df = graft.SparkEntry.benchQueries(q)(spark, dir)
      df.collect() // force AQE to finalize
      println(s"===== $q =====")
      println(df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      })
    }
    spark.stop()
  }
}
