package graft.tools

import org.apache.spark.sql.functions.lit

/** One pipeline-at-scale measurement point: run the reference-parity
  * [[graft.pipeline.DailyPipeline]] end-to-end over a [[GenLakeData]] lake
  * into a FRESH warehouse, and emit one JSON line with per-stage
  * wall-times (the reference's log_execution_summary numbers, at scale).
  *
  * One size per JVM invocation — the SCALING_r06_tail lesson: stages
  * sharing a JVM inflate each other's timings 4-6x, so the sweep script
  * (tools/pipeline_scale.sh) launches each point in its own process and
  * tools/pipeline_report.py fits the slopes across points.
  *
  * Usage: jrun graft.tools.PipelineScale <lakeRoot> <warehouseRoot> <label> [<outJson>]
  */
object PipelineScale {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PipelineScale <lakeRoot> <warehouseRoot> <label> [<outJson>]")
    val Array(lake, wh, label) = args.take(3)
    val spark = graft.Graft.session("graft-pipeline-scale")

    val t0 = System.nanoTime()
    val results = graft.pipeline.DailyPipeline.run(spark, lake, wh, lit("2024-05-01"))
    val totalSec = (System.nanoTime() - t0) / 1e9
    require(results.nonEmpty && results.forall(_.ok),
      s"pipeline not green: ${results.filterNot(_.ok).mkString("; ")}")

    val stages = results.map(r =>
      s""""${r.stage}":{"sec":${r.durationMs / 1000.0},"rows":${r.rows}}""")
      .mkString("{", ",", "}")
    val line = s"""{"label":"$label","total_sec":${"%.3f".formatLocal(java.util.Locale.ROOT, totalSec)},"stages":$stages}"""
    args.lift(3).foreach { out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    }
    println(line)
    spark.stop()
  }
}
