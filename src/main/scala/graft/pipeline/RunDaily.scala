package graft.pipeline

import graft.Graft
import org.apache.spark.sql.functions.lit

/** CLI entrypoint for the daily pipeline — the engine's equivalent of the
  * reference's main_pipeline.py. Usage:
  *
  *   runMain graft.pipeline.RunDaily <lakeRoot> <warehouseRoot> [asOfDate]
  *
  * Prints one line per stage (name, landed row count, start offset and
  * duration), then the run's wall, and exits non-zero if any stage failed
  * — the reference's fail-fast contract. The stages overlap, so their
  * durations do not sum to the wall.
  */
object RunDaily {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: RunDaily <lakeRoot> <warehouseRoot> [asOfDate]")
      sys.exit(2)
    }
    val asOf = if (args.length > 2) args(2)
      else java.time.LocalDate.now().toString
    val spark = Graft.session("graft-daily")
    try {
      val t0 = System.nanoTime()
      val results = DailyPipeline.run(spark, args(0), args(1), lit(asOf))
      val wallMs = (System.nanoTime() - t0) / 1000000L
      if (results.isEmpty) {
        System.err.println(s"no stage inputs found under ${args(0)}")
        sys.exit(2)
      }
      results.foreach(r => println(f"${r.stage}%-40s rows=${r.rows}%-8d ok=${r.ok}%-5s " +
        f"start_ms=${r.startMs}%-7d ms=${r.durationMs}"))
      println(s"run wall_ms=$wallMs")
      if (!results.forall(_.ok)) sys.exit(1)
    } finally spark.stop()
  }
}
