package graft.pipeline

import graft.operators.MergeSink
import graft.stages._
import graft.sources.CsvLake
import graft.util.ArtifactIO
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Daily pipeline orchestrator (SURVEY.md §3.1: main_pipeline.py +
  * per-module orchestrators, re-expressed as one driver program).
  *
  * The reference runs each stage as a subprocess over a CSV file lake,
  * fail-fast (main_pipeline.py:60-83). Here stages share one SparkSession
  * and one lineage; "fail-fast" is an exception propagating out of `run`,
  * and the run summary (A6, src/utils/logger.py:81-117) is returned as
  * data instead of logged text.
  *
  * Lake layout expected under `lakeRoot` (mirrors the reference's
  * validation_output/ + data/ trees, FIXTURES.md §1):
  *   master/<source>/        per-source master list CSVs
  *   nav/<source>/           daily NAV scrape CSVs
  *   history/<source>/       recursive, <T>_history.csv per ticker
  *   dividends/<source>/     recursive, <T>_dividend.csv per ticker
  *   details/<source>/       wide static-detail screener CSVs
  *   holdings/<source>/      recursive, <T>_holdings.csv per ticker
  *   allocations/<source>/   recursive, <T>_allocations.csv per ticker
  * Warehouse written under `warehouseRoot/stg_*` as parquet.
  */
object DailyPipeline {

  /** One stage's outcome. `durationMs` mirrors the reference's
    * log_execution_summary per-stage duration (src/utils/logger.py:81-117)
    * — wall-clock of the stage body, populated for failures too (a stage
    * that dies 40 minutes in should say so). */
  final case class StageResult(stage: String, rows: Long, ok: Boolean,
                               error: Option[String] = None,
                               durationMs: Long = 0L)

  /** Fail-fast abort that still carries the A6 run summary: the reference's
    * global pipeline aborts on the first failing stage (main_pipeline.py:
    * 60-83) but its log_execution_summary (src/utils/logger.py:81-117)
    * records WHICH stage failed — so the summary, including the failed
    * stage's error, must survive the abort. */
  final class PipelineFailedException(val summary: Seq[StageResult],
                                      cause: Throwable)
    extends RuntimeException(
      s"pipeline aborted at stage '${summary.lastOption.map(_.stage).getOrElse("?")}'", cause)

  private def sources(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory)
      .map(s => s.getPath.getName -> s.getPath.toString).toSeq.sortBy(_._1)
  }

  /** Runs every stage whose input directory exists. Each stage's outcome
    * (rows or error) is captured as a [[StageResult]]; with
    * `failFast = true` (the reference's global-pipeline behavior) the
    * first failure aborts via [[PipelineFailedException]] carrying the
    * partial summary, with `failFast = false` (the reference's standalone
    * orchestrators) remaining stages still run and the failed stage is
    * reported in the returned summary. */
  def run(spark: SparkSession, lakeRoot: String, warehouseRoot: String,
          asOf: Column, failFast: Boolean = true): Seq[StageResult] = {
    val results = Seq.newBuilder[StageResult]

    def stage(name: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      def elapsedMs = (System.nanoTime() - t0) / 1000000L
      try {
        val rows = body
        results += StageResult(name, rows, ok = true, durationMs = elapsedMs)
      } catch { case e: Exception =>
        results += StageResult(name, 0, ok = false, error = Some(e.toString),
          durationMs = elapsedMs)
        if (failFast) throw new PipelineFailedException(results.result(), e)
      }
    }

    // a stage's row count is its warehouse table's size, read from the
    // parquet footers: zero Spark jobs, where a count() is a listing job
    // plus two scan jobs
    def tableRows(table: String): Long =
      ArtifactIO.footerRowCount(spark, s"$warehouseRoot/$table")

    // the remediator's ready-dir memoization is RUN-scoped: the dir must
    // be dated, or day 2's run would find day 1's generation and silently
    // load stale data forever (resume-within-a-day still works — a retry
    // of the same asOf reuses its own generation)
    val asOfTag = spark.range(1).select(asOf.cast("string").as("d"))
      .head().getString(0)

    val masterSrcs = sources(spark, s"$lakeRoot/master")
    if (masterSrcs.nonEmpty) stage("master_sync") {
      val readyRoot = s"$warehouseRoot/staging/master_ready"
      MasterSync.run(spark,
        masterSrcs.map { case (_, dir) => CsvLake.readCsv(spark, dir) },
        s"$warehouseRoot/stg_security_master", asOf,
        rejectSink = Some(s"$warehouseRoot/rejects/master"),
        readyDir = Some(s"$readyRoot/dt=$asOfTag"))
      val n = tableRows("stg_security_master")
      // retention: prior days' materialized generations have served their
      // resume purpose once this run's load succeeded — without cleanup
      // the staging area accumulates one full master batch per day forever
      sources(spark, readyRoot)
        .filter { case (name, _) => name != s"dt=$asOfTag" }
        .foreach { case (_, dirPath) =>
          val p = new org.apache.hadoop.fs.Path(dirPath)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        }
      n
    }

    val navSrcs = sources(spark, s"$lakeRoot/nav")
    if (navSrcs.nonEmpty) stage("nav_sync") {
      PerformanceSync.runNav(spark, navSrcs.toMap,
        s"$warehouseRoot/stg_daily_nav", asOf,
        rejectSink = Some(s"$warehouseRoot/rejects/nav"))
      tableRows("stg_daily_nav")
    }

    // One merge per TARGET TABLE per run: all sources' cleaned frames are
    // unioned first, then merged once. The per-source alternative (N
    // sources = N read-merge-rewrite cycles of the same table per day) is
    // the scale killer VERDICT r1 flagged — at 100 TB each extra cycle is
    // a full shuffle + rewrite of the table's touched partitions.
    val histSrcs = sources(spark, s"$lakeRoot/history")
    if (histSrcs.nonEmpty) stage("history_sync") {
      val cleaned = histSrcs.map { case (source, dir) =>
        PerformanceSync.cleanHistory(
          CsvLake.readRecursive(spark, dir, nameMustContain = "history",
            nameMustNotContain = "holdings"), source)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      PerformanceSync.loadHistory(spark, s"$warehouseRoot/stg_price_history",
        PerformanceSync.hashHistory(cleaned, asOf))
      tableRows("stg_price_history")
    }

    val divSrcs = sources(spark, s"$lakeRoot/dividends")
    if (divSrcs.nonEmpty) stage("dividend_sync") {
      val cleaned = divSrcs.map { case (source, dir) =>
        PerformanceSync.cleanDividends(
          CsvLake.readRecursive(spark, dir, nameMustContain = "dividend"), source)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      MergeSink.upsertParquet(spark, s"$warehouseRoot/stg_dividend_history",
        PerformanceSync.hashDividends(cleaned, asOf),
        graft.schema.Schemas.naturalKeys("stg_dividend_history"))
      tableRows("stg_dividend_history")
    }

    // details follow the same batched pattern as history/dividends: the
    // per-source halves (normalize + display parse) run per directory, but
    // each of the four stg_fund_* tables is merged exactly ONCE per run
    val detailSrcs = sources(spark, s"$lakeRoot/details")
    if (detailSrcs.nonEmpty) stage("detail_sync") {
      val wides = detailSrcs.map { case (source, dir) =>
        DetailSync.prepareWide(CsvLake.readCsv(spark, dir), source)
      }
      val tables = DetailSync.runAll(spark, wides, warehouseRoot, asOf)
      tables.keys.toSeq.map(tableRows).sum
    }

    val holdSrcs = sources(spark, s"$lakeRoot/holdings")
    if (holdSrcs.nonEmpty) stage("holdings_sync") {
      val cleaned = holdSrcs.map { case (source, dir) =>
        HoldingsSync.cleanHoldings(
          CsvLake.readRecursive(spark, dir, nameMustContain = "holdings"), source)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      HoldingsSync.loadHoldings(spark,
        s"$warehouseRoot/stg_fund_holdings", cleaned, asOf)
      tableRows("stg_fund_holdings")
    }

    val allocSrcs = sources(spark, s"$lakeRoot/allocations")
    if (allocSrcs.nonEmpty) stage("allocations_sync") {
      val cleaned = allocSrcs.map { case (source, dir) =>
        HoldingsSync.cleanAllocations(
          CsvLake.readRecursive(spark, dir, nameMustContain = "allocations"),
          source, "sector")
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      HoldingsSync.loadAllocations(spark,
        s"$warehouseRoot/stg_allocations", cleaned, asOf)
      tableRows("stg_allocations")
    }

    results.result()
  }
}
