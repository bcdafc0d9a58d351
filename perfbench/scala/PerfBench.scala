package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import graft.pipeline.{CorpusPipeline, DailyPipeline}
import graft.pipeline.DailyPipeline.StageResult
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The measured process of the pipeline benchmark (perfbench/run.py starts
  * it). One JVM runs one workload as a closed loop
  * with one client: set-up and untimed warm-up units, then timed units of
  * one kind until `--seconds` have passed. It drives the engine only
  * through its public entry points (`Graft.session`, `DailyPipeline.run`,
  * `CorpusPipeline.run`), checks every unit's output, and writes the raw
  * per-unit record as JSON; run.py turns that into metrics.
  *
  * With `--trace 1` the timed units run three times from the same
  * post-warm-up state: traced, untraced (the tracing-overhead reference)
  * and traced again; the two traced passes' deterministic counts are
  * compared.
  */
object PerfBench {

  // ------------------------------------------------------------ records

  /** One unit: wall, what it consumed and wrote, its check, and (traced)
    * its per-layer numbers. */
  final case class UnitRec(ms: Double, rows: Long, inBytes: Long, ok: Boolean,
                           error: String, startMs: Long, endMs: Long,
                           counts: Map[String, Double],
                           layer: Map[String, Double])

  /** Counts that must repeat exactly between two traced passes over the
    * same inputs, besides every stage's output rows (`rows.<stage>`). */
  val Deterministic: Seq[String] = Seq("spark.jobs", "spark.stages",
    "spark.tasks", "io.files_written", "io.bytes_written",
    "sources.files_read", "merge.buckets_rewritten", "dedup.jobs")

  def isDeterministic(name: String): Boolean =
    Deterministic.contains(name) || name.startsWith("rows.")

  private val t0 = System.nanoTime()

  /** Progress line in the JVM log: seconds since start and the phase. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $msg")

  // ------------------------------------------------------------ tracing

  /** The program file of a job's call site ("count at Dedup.scala:412"
    * gives "Dedup"): the innermost engine frame that called into Spark. */
  def siteFile(callSite: String): String =
    " at (\\w+)\\.scala:".r.findFirstMatchIn(callSite).map(_.group(1)).getOrElse("")

  final case class JobRec(id: Int, start: Long, file: String,
                          @volatile var end: Long = -1L)
  final case class TaskRec(launch: Long, cpuNs: Long, gcMs: Long,
                           shuffleBytes: Long, spillBytes: Long)

  /** Spark scheduler events, kept in memory and attributed to units by
    * their timestamps (units run one at a time, checks run between them,
    * so a job that starts outside every unit window is the benchmark's). */
  final class SchedTrace extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stages = new ConcurrentLinkedQueue[java.lang.Long]()
    val tasks = new ConcurrentLinkedQueue[TaskRec]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs.put(e.jobId, JobRec(e.jobId, e.time, siteFile(site)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      e.stageInfo.submissionTime.foreach(t => stages.add(t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.taskInfo.launchTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** CSV relations each executed query scanned, cached ones included:
    * (arrival time, relation root paths, files in the relation). */
  final class ScanTrace extends QueryExecutionListener {
    val csvScans = new ConcurrentLinkedQueue[(Long, String, Long)]()
    private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case i: InMemoryTableScanExec => scans(i.relation.cachedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = {
      val now = System.currentTimeMillis()
      scans(qe.executedPlan)
        .filter(_.relation.fileFormat.isInstanceOf[CSVFileFormat])
        .foreach { f =>
          val loc = f.relation.location
          csvScans.add((now, loc.rootPaths.map(_.toString).sorted.mkString(","),
            loc.inputFiles.length.toLong))
        }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Waits until every scheduler event posted so far reached `t`: a
    * sentinel job's end event is delivered after all earlier events. */
  def drain(spark: SparkSession, t: SchedTrace): Unit = {
    val before = t.jobs.keySet.asScala.toSet
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val deadline = System.currentTimeMillis() + 10000
    while (!t.jobs.values.asScala.exists(j => !before(j.id) && j.end >= 0) &&
      System.currentTimeMillis() < deadline) Thread.sleep(10)
    Thread.sleep(50) // the execution-listener bus is a separate queue
  }

  /** Per-unit scheduler numbers inside [start, end]. */
  def schedLayer(t: SchedTrace, s: ScanTrace, start: Long, end: Long,
                 nextStart: Long): Map[String, Double] = {
    def in(x: Long) = x >= start && x <= end
    val js = t.jobs.values.asScala.filter(j => in(j.start)).toSeq
    val ts = t.tasks.asScala.filter(x => in(x.launch)).toSeq
    // wall with no job running: unit wall minus the union of job spans
    val spans = js.map(j => (j.start, if (j.end < 0) end else math.min(j.end, end)))
      .sortBy(_._1)
    var covered = 0L; var cur = start
    spans.foreach { case (a, b) =>
      val lo = math.max(a, cur)
      if (b > lo) { covered += b - lo; cur = b }
    }
    def fileMs(f: String) = js.filter(_.file == f)
      .map(j => math.max(0L, (if (j.end < 0) end else j.end) - j.start)).sum.toDouble
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> t.stages.asScala.count(x => in(x)).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "driver.nojob_ms" -> ((end - start) - covered).toDouble,
      "sources.scan_ms" -> fileMs("CsvLake"),
      // each CSV relation once per unit, however often it was scanned
      "sources.files_read" -> s.csvScans.asScala
        .filter { case (at, _, _) => at >= start && at < nextStart }
        .map { case (_, root, n) => root -> n }.toMap.values.sum.toDouble,
      "dedup.jobs" -> js.count(_.file == "Dedup").toDouble,
      "dedup.job_ms" -> fileMs("Dedup"),
      "exec.cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "shuffle.bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
      "spill.bytes" -> ts.map(_.spillBytes).sum.toDouble)
  }

  // ------------------------------------------------------------ files

  final case class FileRec(size: Long, mtime: Long)

  def listFiles(root: String): Map[String, FileRec] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        f.toString -> FileRec(Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }.toMap
      finally s.close()
    }
  }

  /** Files present after a unit that were not there, identical, before. */
  def created(before: Map[String, FileRec], after: Map[String, FileRec]): Map[String, FileRec] =
    after.filter { case (k, v) => !before.get(k).contains(v) }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.COPY_ATTRIBUTES)
      }
    } finally s.close()
  }

  // ------------------------------------------------------------ workloads

  /** A workload: set-up (untimed, counted in setup_s), then units. A
    * unit's wall covers only the engine call; preparation and the output
    * check sit outside it. */
  trait Workload {
    /** Runs set-up and warm-up; the checks they failed. */
    def setup(): Seq[String]
    def available: Int                   // units the inputs hold
    def warmups: Int
    def unit(k: Int, traced: Boolean): UnitRec
    def snapshot(): Unit                 // save the post-warm-up state
    def restore(): Unit                  // back to it, for a replay pass
    def tracedExtras(): Map[String, Double] = Map.empty
  }

  /** An engine call's outcome, its wall-clock window and its duration. */
  final case class Timed[T](result: Try[T], startMs: Long, endMs: Long, ms: Double)

  def timed[T](body: => T): Timed[T] = {
    val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    val r = Try(body)
    val ms = (System.nanoTime() - t0) / 1e6
    Timed(r, w0, System.currentTimeMillis(), ms)
  }

  def stageRows(rs: Seq[StageResult]): Map[String, Double] =
    rs.map(r => s"rows.${r.stage}" -> r.rows.toDouble).toMap

  def stageMap(rs: Seq[StageResult], prefix: String): Map[String, Double] =
    rs.map(r => s"$prefix.${r.stage}_ms" -> r.durationMs.toDouble).toMap

  def errorOf(t: Throwable): String =
    (t.toString +: Option(t.getCause).map(_.toString).toSeq).mkString(" / ")

  /** The stage results, or why the call produced none. */
  def stagesOf(t: Timed[Seq[StageResult]]): (Seq[StageResult], Seq[String]) =
    t.result match {
      case Success(rs) => (rs, rs.filterNot(_.ok).map(r =>
        s"stage ${r.stage}: ${r.error.getOrElse("")}"))
      case Failure(e) => (Nil, Seq(s"pipeline threw ${errorOf(e)}"))
    }

  // ---- daily_load

  final class Daily(spark: SparkSession, input: String, work: String,
                    val warmups: Int) extends Workload {
    private val expected = Json.parse(Files.readString(Paths.get(input, "expected.json")))
      .asInstanceOf[Map[String, Any]]
    private val days = expected("days").asInstanceOf[Seq[Map[String, Any]]]
    private val lake = Paths.get(work, "lake")
    private val wh = Paths.get(work, "wh")
    private val Tables = days.head("tables").asInstanceOf[Map[String, Any]].keys.toSeq.sorted
    private val hashed = Seq("stg_price_history", "stg_dividend_history",
      "stg_fund_holdings", "stg_allocations", "stg_fund_info", "stg_fund_fees",
      "stg_fund_risk", "stg_fund_policy")
    def available: Int = days.size - 1 - warmups

    private def runDay(d: Int): Timed[Seq[StageResult]] = {
      val asOf = lit(days(d)("as_of").toString).cast("date")
      timed(DailyPipeline.run(spark, lake.toString, wh.toString, asOf,
        failFast = false))
    }

    /** Every stage returned ok, and each stg_* table holds the rows the
      * generator expects for day `d`. */
    private def check(d: Int, t: Timed[Seq[StageResult]]): Seq[String] = {
      val want = days(d)("tables").asInstanceOf[Map[String, Any]]
      val (rs, bad) = stagesOf(t)
      val missing = if (rs.size == 7) Nil else Seq(s"${rs.size} stages ran, not 7")
      val counts = Tables.flatMap { t =>
        val n = tableRows(wh.resolve(t).toString)
        val w = want(t).asInstanceOf[Number].longValue
        if (n == w) None else Some(s"$t has $n rows, expected $w")
      }
      bad ++ missing ++ counts
    }

    private def lakeSize(): (Long, Long) = {
      var rows = 0L; var bytes = 0L
      listFiles(lake.toString).foreach { case (f, r) =>
        bytes += r.size
        val b = Files.readAllBytes(Paths.get(f))
        rows += b.count(_ == '\n') - 1
      }
      (rows, bytes)
    }

    /** Every (table, row_hash) of the hashed tables, read from the files
      * directly so the probe adds no Spark work to the trace. */
    private def hashes(): Set[String] = hashed.flatMap { t =>
      visibleParquet(wh.resolve(t).toString).par
        .flatMap(f => cachedHashes(f).map(t + "|" + _)).seq
    }.toSet

    private val hashCache = scala.collection.concurrent.TrieMap[(String, FileRec), Seq[String]]()
    private def cachedHashes(f: String): Seq[String] = {
      val p = Paths.get(f)
      hashCache.getOrElseUpdate(f -> FileRec(Files.size(p),
        Files.getLastModifiedTime(p).toMillis), stringColumn(f, "row_hash"))
    }

    def setup(): Seq[String] = {
      deleteTree(Paths.get(work)); copyTree(Paths.get(input, "lake"), lake)
      (0 to warmups).flatMap { d =>
        if (d > 0) copyTree(Paths.get(input, "days", f"$d%02d"), lake)
        val t = runDay(d)
        log(f"set-up day $d: ${t.ms}%.0f ms")
        check(d, t).map(e => s"set-up day $d: $e")
      }
    }

    def unit(k: Int, traced: Boolean): UnitRec = {
      val d = warmups + 1 + k
      copyTree(Paths.get(input, "days", f"$d%02d"), lake)
      val (rows, inBytes) = lakeSize()
      val before = listFiles(wh.toString)
      val oldHashes = if (traced) hashes() else Set.empty[String]
      log(s"unit $k prepared")
      val t = runDay(d)
      val res = t.result.getOrElse(Nil)
      val made = created(before, listFiles(wh.toString))
      val errs = check(d, t)
      val layer = if (!traced) Map.empty[String, Double] else {
        val parquet = made.keys.toSeq.filter(f => f.endsWith(".parquet") &&
          hashed.exists(t => f.contains(s"/$t/")))
        val rewritten = parquet.par.map(footerRows).sum
        val changed = (hashes() -- oldHashes).size
        stageMap(res, "stages") ++ Map(
          "merge.buckets_rewritten" -> made.keys.flatMap(f =>
            "/(stg_\\w+)/(__bucket=\\d+)/".r.findFirstMatchIn(f)
              .map(m => m.group(1) + m.group(2))).toSet.size.toDouble,
          "merge.changed_row_ratio" ->
            (if (rewritten == 0) 0.0 else changed.toDouble / rewritten))
      }
      log(s"unit $k checked")
      UnitRec(t.ms, rows, inBytes, errs.isEmpty, errs.mkString("; "), t.startMs, t.endMs,
        Map("io.files_written" -> made.size.toDouble,
          "io.bytes_written" -> made.values.map(_.size).sum.toDouble,
        ) ++ stageRows(res), layer)
    }

    def snapshot(): Unit = {
      copyTree(lake, Paths.get(work, "lake.snap")); copyTree(wh, Paths.get(work, "wh.snap"))
    }
    def restore(): Unit = {
      deleteTree(lake); deleteTree(wh)
      copyTree(Paths.get(work, "lake.snap"), lake); copyTree(Paths.get(work, "wh.snap"), wh)
      spark.catalog.clearCache()
    }
  }

  /** Parquet files of a table directory, skipping the paths Spark treats
    * as hidden: a component starting with `.`, or with `_` unless it is a
    * `k=v` partition directory. */
  def visibleParquet(dir: String): Seq[String] =
    listFiles(dir).keys.toSeq.filter { f =>
      f.endsWith(".parquet") && !Paths.get(dir).relativize(Paths.get(f)).iterator()
        .asScala.map(_.toString).exists(c =>
          c.startsWith(".") || (c.startsWith("_") && !c.contains("=")))
    }

  /** Rows of a parquet table directory, from its files' footers. */
  def tableRows(dir: String): Long = visibleParquet(dir).par.map(footerRows).sum

  /** One string column of a parquet file, nulls skipped. */
  def stringColumn(file: String, column: String): Seq[String] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val conf = new org.apache.hadoop.conf.Configuration(hadoopConf)
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      s"message m { optional binary $column (STRING); }")
    val r = ParquetReader.builder(new GroupReadSupport, new org.apache.hadoop.fs.Path(file))
      .withConf(conf).build()
    try Iterator.continually(r.read()).takeWhile(_ != null)
      .filter((g: Group) => g.getFieldRepetitionCount(0) > 0)
      .map(_.getString(0, 0)).toVector
    finally r.close()
  }

  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  def footerRows(file: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), hadoopConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  // ---- corpus_batch

  /** Stage row counts as (stage, rows), in pipeline order. */
  type Counts = Seq[(String, Long)]

  def readCounts(file: String): Counts =
    Json.parse(Files.readString(Paths.get(file))).asInstanceOf[Seq[Seq[Any]]]
      .map(p => p(0).toString -> p(1).asInstanceOf[Number].longValue)

  /** Every stage returned ok, stage row counts never increase along the
    * chain, and (when given) they equal the counts recorded for the
    * inputs. */
  def corpusCheck(nDocs: Long, recorded: Option[Counts],
                  t: Timed[Seq[StageResult]]): Seq[String] = {
    val (rs, bad) = stagesOf(t)
    val counts = rs.map(r => r.stage -> r.rows)
    val grew = (("input" -> nDocs) +: counts).sliding(2).collect {
      case Seq((a, x), (b, y)) if y > x => s"$b has $y rows, more than $a's $x"
    }.toSeq
    val drift = recorded match {
      case Some(r) if r != counts =>
        Seq(s"stage counts ${counts.mkString(",")} differ from the recorded ${r.mkString(",")}")
      case _ => Nil
    }
    bad ++ grew ++ drift
  }

  /** One `CorpusPipeline.run` over an input directory (docs/, bench/)
    * into `out`. */
  def corpusRun(spark: SparkSession, input: String, out: Path): Timed[Seq[StageResult]] = {
    val docs = spark.read.parquet(Paths.get(input, "docs").toString)
    val bench = spark.read.parquet(Paths.get(input, "bench").toString)
    timed(CorpusPipeline.run(spark, docs, bench, out.toString))
  }

  final class Corpus(spark: SparkSession, input: String, work: String,
                     val warmups: Int, recordFile: String) extends Workload {
    private val docsPath = Paths.get(input, "docs").toString
    private val inBytes = listFiles(docsPath).values.map(_.size).sum
    private val recorded = readCounts(recordFile)
    private var nDocs = 0L
    private var runs = 0
    def available: Int = Int.MaxValue

    /** One pipeline run into a fresh output root (the previous run's is
      * removed first), and the files it created. */
    private def runOnce(): (Timed[Seq[StageResult]], Map[String, FileRec]) = {
      runs += 1
      val out = Paths.get(work, f"run$runs%04d")
      deleteTree(Paths.get(work, f"run${runs - 1}%04d"))
      val t = corpusRun(spark, input, out)
      (t, listFiles(out.toString))
    }

    private def check(t: Timed[Seq[StageResult]]): Seq[String] =
      corpusCheck(nDocs, Some(recorded), t)

    def setup(): Seq[String] = {
      deleteTree(Paths.get(work))
      nDocs = spark.read.parquet(docsPath).count()
      (0 until warmups).flatMap { _ =>
        val (t, _) = runOnce()
        log(f"warm-up run: ${t.ms}%.0f ms")
        check(t).map(e => s"warm-up run: $e")
      }
    }

    def unit(k: Int, traced: Boolean): UnitRec = {
      val (t, made) = runOnce()
      val rs = t.result.getOrElse(Nil)
      val errs = check(t)
      UnitRec(t.ms, nDocs, inBytes, errs.isEmpty, errs.mkString("; "), t.startMs, t.endMs,
        Map("io.files_written" -> made.size.toDouble,
          "io.bytes_written" -> made.values.map(_.size).sum.toDouble,
        ) ++ stageRows(rs),
        if (traced) stageMap(rs, "corpus") else Map.empty)
    }

    def snapshot(): Unit = ()
    def restore(): Unit = spark.catalog.clearCache()

    /** Kernel cost per row, through a no-op sink on the unit's docs. */
    override def tracedExtras(): Map[String, Double] = {
      import graft.functions.TextFns
      val docs = spark.read.parquet(docsPath).cache()
      docs.count()
      def nsPerRow(f: DataFrame => DataFrame): Double = {
        val ts = (0 until 4).map { _ =>
          val t0 = System.nanoTime()
          f(docs).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0).toDouble
        }.drop(1).sorted
        ts(ts.size / 2) / nDocs
      }
      val r = Map(
        "functions.clean_ns_per_row" -> nsPerRow(d => d.select(
          TextFns.qualityScore(TextFns.cleanText(col("text"))))),
        "functions.minhash_ns_per_row" -> nsPerRow(d =>
          graft.operators.Dedup.nearDupIndex(d, "doc_id", "text")))
      docs.unpersist()
      r
    }
  }

  // ------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val cores = opt("cores").toInt
    val work = opt("work")

    val spark = graft.Graft.session("perfbench", s"local[$cores]", cores)
    if (workload == "corpus_record") {
      recordCorpus(spark, opt("inputs").split(",").toSeq, work, opt("out"))
      spark.stop()
      return
    }
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val warm = opt("warmup").toInt
    val w: Workload = workload match {
      case "daily_load" => new Daily(spark, opt("input"), work, warm)
      case "corpus_batch" => new Corpus(spark, opt("input"), work, warm, opt("record"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    log(s"session up, $workload set-up")
    val setupErrors = w.setup()

    /** Timed units until `seconds` have passed, at least one (or `limit`
      * units, when given), while the inputs last. */
    def pass(tracing: Boolean, limit: Int): Seq[UnitRec] = {
      val t0 = System.nanoTime()
      val out = Seq.newBuilder[UnitRec]
      var k = 0
      def more = if (limit > 0) k < limit
        else k < w.available &&
          (k == 0 || (System.nanoTime() - t0) / 1e9 < seconds)
      while (more) {
        val u = w.unit(k, tracing)
        log(f"unit $k${if (tracing) " (traced)" else ""}: ${u.ms}%.0f ms ok=${u.ok}")
        out += u; k += 1
      }
      out.result()
    }

    /** Traced mode: traced, untraced and traced passes over the same
      * units from the same post-warm-up state. The untraced pass sits
      * between the two traced ones, so JIT warming over the three passes
      * cancels out of the overhead. */
    def tracedRun(): Map[String, Any] = {
      w.snapshot()
      val sched = new SchedTrace; val scan = new ScanTrace
      def tracedPass(limit: Int): Seq[UnitRec] = {
        w.restore()
        spark.sparkContext.addSparkListener(sched)
        spark.listenerManager.register(scan)
        val us = pass(tracing = true, limit)
        drain(spark, sched)
        spark.sparkContext.removeSparkListener(sched)
        spark.listenerManager.unregister(scan)
        us.zipWithIndex.map { case (u, i) =>
          val next = if (i + 1 < us.size) us(i + 1).startMs else Long.MaxValue
          u.copy(layer = u.layer ++ schedLayer(sched, scan, u.startMs, u.endMs, next))
        }
      }
      val a = tracedPass(0)
      w.restore()
      val plain = pass(tracing = false, a.size)
      val b = tracedPass(a.size)
      def det(u: UnitRec): Map[String, Double] =
        (u.counts ++ u.layer).filter { case (k, _) => isDeterministic(k) }
      val differing = a.zip(b).flatMap { case (x, y) =>
        val dx = det(x); val dy = det(y)
        (dx.keySet ++ dy.keySet).filter(k => dx.get(k) != dy.get(k))
      }.distinct.sorted
      Map("units" -> (a ++ b).map(unitJson), "untraced_units" -> plain.map(unitJson),
        "deterministic" -> (a ++ b).flatMap(det(_).keys).distinct.sorted,
        "nondeterministic" -> differing, "extras" -> w.tracedExtras())
    }

    val firstUnitMs = System.currentTimeMillis()
    val (plain, heapMb, traceOut) =
      if (traced) (Nil, 0.0, tracedRun())
      else {
        val us = pass(tracing = false, 0)
        System.gc(); Thread.sleep(200); System.gc()
        (us, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0,
          Map.empty[String, Any])
      }

    val result = Map(
      "workload" -> workload,
      "warmup_units" -> w.warmups,
      "setup_errors" -> setupErrors,
      "first_unit_epoch_ms" -> firstUnitMs,
      "heap_live_mb" -> heapMb,
      "units" -> plain.map(unitJson),
      "trace" -> traceOut)
    Files.writeString(Paths.get(opt("out")), Json.write(result))
    log("done")
    spark.stop()
  }

  /** Runs the pipeline once over each input directory and writes the
    * stage counts each gave, keyed by directory, for
    * perfbench/record.py. A run that fails its other checks is an error. */
  def recordCorpus(spark: SparkSession, inputs: Seq[String], work: String,
                   out: String): Unit = {
    val counts = inputs.zipWithIndex.map { case (input, i) =>
      val dir = Paths.get(work, f"rec$i%04d")
      val t = corpusRun(spark, input, dir)
      val nDocs = spark.read.parquet(Paths.get(input, "docs").toString).count()
      val errs = corpusCheck(nDocs, None, t)
      require(errs.isEmpty, s"$input failed its check: ${errs.mkString("; ")}")
      deleteTree(dir)
      log(f"recorded $input: ${t.ms}%.0f ms")
      input -> t.result.get.map(r => Seq(r.stage, r.rows))
    }.toMap
    Files.writeString(Paths.get(out), Json.write(counts))
  }

  def unitJson(u: UnitRec): Map[String, Any] = Map("ms" -> u.ms, "rows" -> u.rows,
    "in_bytes" -> u.inBytes, "ok" -> u.ok, "error" -> u.error,
    "counts" -> u.counts, "layer" -> u.layer)
}

/** JSON of the benchmark's own records, through one Jackson mapper. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  /** Objects become Maps, arrays Seqs, whole numbers Longs. */
  def parse(s: String): Any = {
    def conv(n: com.fasterxml.jackson.databind.JsonNode): Any =
      if (n.isObject) n.fields().asScala.map(e => e.getKey -> conv(e.getValue)).toMap
      else if (n.isArray) n.elements().asScala.map(conv).toSeq
      else if (n.isIntegralNumber) n.longValue()
      else if (n.isNumber) n.doubleValue()
      else if (n.isBoolean) n.booleanValue()
      else if (n.isNull) null
      else n.asText()
    conv(mapper.readTree(s))
  }
}
