package graft.pipeline

import graft.functions.BoundValue
import graft.stages._
import graft.util.ArtifactIO
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, SparkSession}
import java.util.concurrent.{ExecutionException, Executors, TimeUnit}

/** Daily pipeline orchestrator (SURVEY.md §3.1: main_pipeline.py +
  * per-module orchestrators, re-expressed as one driver program).
  *
  * The reference runs each stage as a subprocess over a CSV file lake,
  * fail-fast, one after another (main_pipeline.py:60-83). That order is a
  * process boundary, not a data dependency: each stage reads only its own
  * lake dirs and writes only its own warehouse tables, each under its own
  * table lock, and no stage reads `stg_security_master`. So here all
  * seven stages start together on the one SparkSession, one stage-named
  * thread and one Spark job group each (the default FIFO scheduler
  * interleaves their small jobs), and a day lasts as long as its slowest
  * stage. The run summary (A6, src/utils/logger.py:81-117) is
  * returned as data in stage order instead of logged text; "fail-fast" is
  * an exception propagating out of `run`.
  *
  * Each stage is one `sync` of its stage object (read -> clean -> hash
  * -> upsert); [[Stages]] says which lake dir feeds it.
  *
  * A day's cost follows the files that changed. `history_sync`,
  * `dividend_sync`, `detail_sync`, `holdings_sync` and `allocations_sync`
  * keep a lake manifest under `<warehouseRoot>/_manifest/<stage>`: each
  * lake file's path under its source dir and an MD5 of its content. A day
  * fingerprints the stage's lake on the driver (one byte-read of its
  * files, no parse, no Spark job) and reads only the files whose
  * fingerprint the manifest lacks; the manifest takes the new
  * fingerprints only after the stage's upserts committed. A stage with
  * no changed file runs no Spark job and writes nothing, and still
  * reports its tables' rows. `master_sync` and `nav_sync` read their
  * whole lake every day: the master's `last_seen` and status lifecycle,
  * and NAV's `future_date` reject, depend on `asOf`, not only on the
  * files. Delete `_manifest/<stage>` to force a stage's full read; a
  * missing table does the same (`graft.stages.Sync.changedOnly`).
  *
  * The day is bound once per run: `run` evaluates `asOf` on the driver
  * (no Spark job) and hands every stage its value as data
  * ([[graft.functions.BoundValue]]), of `asOf`'s own type. Generated
  * code reads that value instead of inlining it as a literal, so a new
  * day produces the same generated source as the day before and Spark's
  * codegen cache serves a steady day's classes without compiling any.
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

  /** A stage's load: its (source name, dir) pairs in, tables written out. */
  private type StageSync = (SparkSession, Seq[(String, String)], String, Column) => Seq[String]

  /** The daily stages in stage order: name, lake dir under `lakeRoot`,
    * and the sync that loads the dir's per-source subdirs into parquet
    * tables under `warehouseRoot`. The lake mirrors the reference's
    * validation_output/ + data/ trees (FIXTURES.md §1). The order is the
    * reference's and the run summary's; every stage starts at once. */
  private val Stages: Seq[(String, String, StageSync)] = Seq(
    // master/<source>/       per-source master list CSVs
    ("master_sync", "master", MasterSync.sync _),
    // nav/<source>/          daily NAV scrape CSVs
    ("nav_sync", "nav", PerformanceSync.syncNav _),
    // history/<source>/      recursive, <T>_history.csv per ticker
    ("history_sync", "history", PerformanceSync.syncHistory _),
    // dividends/<source>/    recursive, <T>_dividend.csv per ticker
    ("dividend_sync", "dividends", PerformanceSync.syncDividends _),
    // details/<source>/      wide static-detail screener CSVs
    ("detail_sync", "details", DetailSync.sync _),
    // holdings/<source>/     recursive, <T>_holdings.csv per ticker
    ("holdings_sync", "holdings", HoldingsSync.syncHoldings _),
    // allocations/<source>/  recursive, <T>_allocations.csv per ticker
    ("allocations_sync", "allocations", HoldingsSync.syncAllocations _))

  /** The subdirs of `dir` as (name, path), sorted by name; none when
    * `dir` does not exist. A hidden subdir (`.`/`_`-named, the
    * [[graft.util.ArtifactIO.hidden]] rule every lake listing follows) is
    * no source: an editor's `.ipynb_checkpoints/` copy is not a feed. */
  private def sources(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p)
      .filter(s => s.isDirectory && !ArtifactIO.hidden(s.getPath.getName))
      .map(s => s.getPath.getName -> s.getPath.toString).toSeq.sortBy(_._1)
  }

  /** Runs every stage whose input directory exists, all of them
    * concurrently. Each stage's outcome (rows or error) is captured as a
    * [[StageResult]], returned in stage order. A stage's
    * rows are the rows of the tables it wrote, read from their parquet
    * footers: zero Spark jobs, where a count() is a listing job plus two
    * scan jobs.
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
    val day = BoundValue.bind(spark, asOf)
    schedule(spark.sparkContext, runT0, Stages.flatMap { case (name, dir, sync) =>
      val srcs = sources(spark, s"$lakeRoot/$dir")
      if (srcs.isEmpty) None
      else Some(name -> (() => sync(spark, srcs, warehouseRoot, day)
        .map(t => ArtifactIO.footerRowCount(spark, s"$warehouseRoot/$t")).sum))
    }, failFast)
  }

  /** A stage body's outcome, its start offset taken from `runT0`. */
  private[pipeline] def timed(runT0: Long, name: String, body: () => Long)
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
