package graft.pipeline

import graft.operators.MergeSink
import graft.stages._
import graft.sources.CsvLake
import graft.util.ArtifactIO
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.{ExecutionException, Executors, TimeUnit}

/** Daily pipeline orchestrator (SURVEY.md §3.1: main_pipeline.py +
  * per-module orchestrators, re-expressed as one driver program).
  *
  * The reference runs each stage as a subprocess over a CSV file lake,
  * fail-fast, one after another (main_pipeline.py:60-83). That order is a
  * process boundary, not a data dependency: after `master_sync`, each of
  * the other six stages reads only its own lake dirs and writes only its
  * own `stg_*` tables, each under its own [[MergeSink]] table lock. So
  * here `master_sync` runs first and alone, then the other stages run
  * concurrently on the one SparkSession, one stage-named thread and one
  * Spark job group each (the default FIFO scheduler interleaves their
  * small jobs). The run summary (A6, src/utils/logger.py:81-117) is
  * returned as data in stage order instead of logged text; "fail-fast" is
  * an exception propagating out of `run`.
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
    * that dies 40 minutes in should say so). `startMs` is the stage's
    * start offset from the run's start: stages that overlap have
    * durations that no longer sum to the run's wall, and the offsets lay
    * them out. */
  final case class StageResult(stage: String, rows: Long, ok: Boolean,
                               error: Option[String] = None,
                               durationMs: Long = 0L,
                               startMs: Long = 0L)

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

  /** Runs every stage whose input directory exists: `master_sync` first,
    * then the others concurrently. Each stage's outcome (rows or error) is
    * captured as a [[StageResult]], returned in stage order.
    *
    * With `failFast = false` (the reference's standalone orchestrators)
    * every stage runs to completion and failures are reported in the
    * returned summary.
    *
    * With `failFast = true` (the reference's global pipeline) the first
    * stage to fail, in time, is the cause: the job groups of its siblings
    * still running are cancelled, and once every stage thread has ended
    * (so no table lock, staged `__tmp` dir or lock heartbeat outlives the
    * call) `run` throws a [[PipelineFailedException]]. Its summary lists,
    * in stage order, the stages ordered before the cause — a cancelled one
    * as `ok = false` with an error naming the cause — then the cause last.
    * A sibling ordered after the cause may already have committed its
    * tables; it stays committed. Every load is an idempotent upsert into
    * its own tables, so a retry of the day converges. */
  def run(spark: SparkSession, lakeRoot: String, warehouseRoot: String,
          asOf: Column, failFast: Boolean = true): Seq[StageResult] = {
    val runT0 = System.nanoTime()

    // the stages after master_sync, in stage order, registered here and
    // scheduled together below
    val concurrent = Seq.newBuilder[(String, () => Long)]
    def stage(name: String)(body: => Long): Unit = concurrent += name -> (() => body)

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

    // master_sync runs first and alone
    val masterSrcs = sources(spark, s"$lakeRoot/master")
    val master = if (masterSrcs.isEmpty) None else Some(timed(runT0, "master_sync", () => {
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
    }))
    master.foreach { case (r, err) =>
      if (failFast) err.foreach(e => throw new PipelineFailedException(Seq(r), e))
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

    master.map(_._1).toSeq ++
      schedule(spark.sparkContext, runT0, concurrent.result(), failFast)
  }

  /** A stage body's outcome, its start offset taken from `runT0`. */
  private def timed(runT0: Long, name: String, body: () => Long)
      : (StageResult, Option[Exception]) = {
    val t0 = System.nanoTime()
    def r(rows: Long, error: Option[String]) = StageResult(name, rows,
      ok = error.isEmpty, error = error, durationMs = (System.nanoTime() - t0) / 1000000L,
      startMs = (t0 - runT0) / 1000000L)
    try (r(body(), None), None)
    catch { case e: Exception => (r(0, Some(e.toString)), Some(e)) }
  }

  /** Runs `stages` concurrently, one stage-named thread and one job group
    * each, from a pool created here (outside any SQL execution, so its
    * threads inherit no `spark.sql.execution.id`) and shut down before
    * returning. Results come back in stage order. With `failFast` the
    * first failure cancels the siblings still running and, once every
    * thread has ended, throws the summary described on [[run]]. */
  private def schedule(sc: SparkContext, runT0: Long,
                       stages: Seq[(String, () => Long)],
                       failFast: Boolean): Seq[StageResult] = {
    if (stages.isEmpty) return Nil
    val runId = java.util.UUID.randomUUID().toString
    def group(name: String) = s"$name-$runId"
    val results = new Array[StageResult](stages.size)
    val ended = new Array[Boolean](stages.size)
    var cause: Option[(Int, Exception)] = None // guarded by `ended`

    def runOne(i: Int): Unit = {
      val (name, body) = stages(i)
      Thread.currentThread().setName(s"graft-daily-$name")
      sc.setJobGroup(group(name), s"daily $name", interruptOnCancel = false)
      try {
        val (r, err) = timed(runT0, name, body)
        ended.synchronized {
          ended(i) = true
          results(i) = (err, cause) match {
            case (Some(e), None) if failFast =>
              cause = Some(i -> e)
              // future jobs too: a sibling between two jobs must not start
              // its next one
              stages.indices.filterNot(ended).foreach { j =>
                sc.cancelJobGroupAndFutureJobs(group(stages(j)._1),
                  s"stage '$name' failed")
              }
              r
            case (Some(_), Some((c, _))) =>
              r.copy(error = Some(s"cancelled: stage '${stages(c)._1}' failed " +
                s"first (${r.error.getOrElse("")})"))
            case _ => r
          }
        }
      } finally sc.clearJobGroup()
    }

    val pool = Executors.newFixedThreadPool(stages.size)
    try {
      val futures = stages.indices.map(i => pool.submit(new Runnable {
        def run(): Unit = runOne(i)
      }))
      // wait for EVERY stage thread, then rethrow the first non-Exception
      // (an Error) a thread died of
      val died = futures.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      died.headOption.foreach(throw _)
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }

    cause match {
      case Some((c, e)) =>
        throw new PipelineFailedException(results.take(c + 1).toSeq, e)
      case None => results.toSeq
    }
  }
}
