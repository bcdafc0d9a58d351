package graft.pipeline

import graft.SparkSpec
import graft.maintenance.Retention
import graft.schema.Schemas
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.jdk.CollectionConverters._

/** End-to-end daily run over a synthetic file lake shaped like the
  * reference's validation_output/data trees (FIXTURES.md §1). */
class DailyPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def write(dir: Path, name: String, content: String): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(name), content)
  }

  /** One day of every feed the pipeline reads, under root/lake. */
  private def writeLake(root: Path): Unit = {
    write(root.resolve("lake/master/Financial Times"), "ft_master.csv",
      "ticker,asset_type,name,status,source,date_added\n" +
        "VUSA,ETF,Vanguard SP500,new,Financial Times,2024-05-01\n" +
        "ABC,FUND,Alpha Fund,new,Financial Times,2024-05-01\n")
    write(root.resolve("lake/nav/Financial Times"), "nav.csv",
      "ticker,asset_type,source,nav_price,currency,as_of_date,scrape_date\n" +
        "VUSA,ETF,Financial Times,101.5,USD,2024-05-01,2024-05-01\n")
    write(root.resolve("lake/history/Financial Times/etf/2024-05-01"),
      "VUSA_history.csv",
      "Date,Open,High,Low,Close,Volume\n2024-04-30,99,100,98,99.5,1000\n")
    write(root.resolve("lake/dividends/Yahoo Finance/fund/2024-05-01"),
      "ABC_dividend.csv", "Date,Dividend\n2024-03-01,0.52\n")
    write(root.resolve("lake/details/Stock Analysis"), "screener.csv",
      "ticker,asset_type,name,expense_ratio,assets_aum\n" +
        "VUSA,ETF,Vanguard SP500,0.07%,842.33m USD\n")
    // second detail source with heterogeneous headers (symbol/expense/aum
    // aliases, no asset_type) — exercises the batched union-by-name path
    write(root.resolve("lake/details/Financial Times"), "ft_screener.csv",
      "symbol,name,expense,aum\nABC,Alpha Fund,0.45%,12.5m USD\n")
    write(root.resolve("lake/holdings/Financial Times/etf/2024-05-01"),
      "VUSA_etf_holdings.csv",
      "ticker,asset_type,name,symbol,weight\nVUSA,ETF,Apple,AAPL,5.9%\n")
    write(root.resolve("lake/allocations/Stock Analysis/2024-05-01"),
      "VUSA_allocations.csv",
      "ticker,sector,percentage,scrape_date\nVUSA,Technology,28.4%,2024-05-01\n")
  }

  test("full pipeline: all stages land, replay is stable") {
    val root = Files.createTempDirectory("lake")
    val wh = s"$root/warehouse"

    writeLake(root)

    val results = DailyPipeline.run(spark, s"$root/lake", wh, lit("2024-05-01"))
    val byStage = results.map(r => r.stage -> r.rows).toMap
    assert(results.forall(_.ok), results.mkString("; "))
    // per-stage durations (reference logger.py:81-117): every stage that
    // ran real Spark work reports a positive wall-clock duration
    assert(results.forall(_.durationMs > 0),
      s"stage duration missing: ${results.map(r => r.stage -> r.durationMs)}")
    assert(byStage("master_sync") == 2)
    assert(byStage("nav_sync") == 1)
    // batched per-table merges: ONE upsert per target table per run
    assert(byStage("history_sync") == 1)
    assert(byStage("dividend_sync") == 1)
    // BOTH detail sources land through ONE batched merge per table:
    // 2 rows x 4 tables, and the stage reports once (not per source)
    assert(byStage("detail_sync") == 8)
    assert(!byStage.keys.exists(_.startsWith("detail_sync/")))
    assert(byStage("holdings_sync") == 1)
    assert(byStage("allocations_sync") == 1)

    // replay the whole day -> identical warehouse row counts (idempotence)
    val replay = DailyPipeline.run(spark, s"$root/lake", wh, lit("2024-05-01"))
    assert(replay.map(r => r.stage -> r.rows).toMap == byStage)
    // the tables, the rejects and the lake manifests: no staging area
    val top = new java.io.File(wh).list().toSeq
    assert(top.filterNot(d => d.startsWith("stg_") || d == "rejects" || d == "_manifest")
      .isEmpty, top.sorted)
  }

  test("an unchanged lake rerun at the next as-of date leaves every " +
       "stg_daily_nav file untouched") {
    val root = Files.createTempDirectory("lakererun")
    val wh = s"$root/warehouse"
    writeLake(root)
    def navFiles(): Map[String, (Seq[Byte], Long)] = {
      val dir = java.nio.file.Paths.get(s"$wh/stg_daily_nav")
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString ->
          (Files.readAllBytes(p).toSeq, Files.getLastModifiedTime(p).toMillis))
        .toMap
      finally s.close()
    }
    def navRows(rs: Seq[DailyPipeline.StageResult]) = rs.find(_.stage == "nav_sync").get.rows

    val day1 = DailyPipeline.run(spark, s"$root/lake", wh, lit("2024-05-01"))
    assert(day1.forall(_.ok), day1.mkString("; "))
    val before = navFiles()
    assert(before.keys.exists(_.endsWith(".parquet")))
    Thread.sleep(20) // a rewritten file must not share its predecessor's mtime
    // the same NAV row arrives again with the next day's updated_at only
    val day2 = DailyPipeline.run(spark, s"$root/lake", wh, lit("2024-05-02"))
    assert(day2.forall(_.ok), day2.mkString("; "))
    assert(navFiles() == before)
    assert(navRows(day2) == navRows(day1))
  }

  test("a hidden source dir (an editor's checkpoint copy) loads nothing") {
    def stgRows(withHidden: Boolean): Map[String, Set[String]] = {
      val root = Files.createTempDirectory("lakehidden")
      writeLake(root)
      if (withHidden)
        write(root.resolve("lake/nav/.ipynb_checkpoints"), "nav-checkpoint.csv",
          "ticker,asset_type,source,nav_price,currency,as_of_date,scrape_date\n" +
            "VUSA,ETF,Financial Times,101.5,USD,2024-05-01,2024-05-01\n")
      val wh = s"$root/warehouse"
      val results = DailyPipeline.run(spark, s"$root/lake", wh, lit("2024-05-01"))
      assert(results.forall(_.ok), results.mkString("; "))
      new java.io.File(wh).list().filter(_.startsWith("stg_")).map { t =>
        val df = spark.read.parquet(s"$wh/$t")
        // load-time stamps differ between the two runs; every other
        // column must match
        val cols = df.schema.fields
          .filterNot(_.dataType == org.apache.spark.sql.types.TimestampType)
          .map(f => col(f.name))
        t -> df.select(to_json(struct(cols.toSeq: _*))).as[String].collect().toSet
      }.toMap
    }
    val plain = stgRows(withHidden = false)
    assert(plain.contains("stg_daily_nav"))
    assert(stgRows(withHidden = true) == plain)
  }

  test("a failing stage is captured in the run summary (A6 contract)") {
    val root = Files.createTempDirectory("lakefail")
    val wh = s"$root/warehouse"
    // details CSV with NO ticker/symbol column -> DetailSync's key
    // normalization throws; holdings after it is healthy
    write(root.resolve("lake/details/Broken Source"), "screener.csv",
      "name,expense_ratio\nNameless Fund,0.10%\n")
    write(root.resolve("lake/holdings/Financial Times/etf/2024-05-01"),
      "VUSA_etf_holdings.csv",
      "ticker,asset_type,name,symbol,weight\nVUSA,ETF,Apple,AAPL,5.9%\n")

    // failFast=false (standalone-orchestrator mode): the failed stage is
    // recorded and later stages still run
    val results = DailyPipeline.run(spark, s"$root/lake", wh,
      lit("2024-05-01"), failFast = false)
    val detail = results.find(_.stage == "detail_sync").get
    assert(!detail.ok && detail.rows == 0 && detail.error.exists(_.nonEmpty))
    // a FAILED stage still reports how long it ran before dying
    assert(detail.durationMs > 0, "failed stage must carry its duration")
    val holdings = results.find(_.stage == "holdings_sync").get
    assert(holdings.ok && holdings.rows == 1)

    // failFast=true (reference global-pipeline mode): aborts at the failed
    // stage but the thrown summary still records it
    val e = intercept[DailyPipeline.PipelineFailedException] {
      DailyPipeline.run(spark, s"$root/lake", s"$root/warehouse2",
        lit("2024-05-01"))
    }
    val failed = e.summary.last
    assert(failed.stage == "detail_sync" && !failed.ok && failed.error.nonEmpty)
    assert(!e.summary.exists(_.stage == "holdings_sync"), "abort must stop later stages")
  }

  private val stageOrder = Seq("master_sync", "nav_sync", "history_sync",
    "dividend_sync", "detail_sync", "holdings_sync", "allocations_sync")

  private val goodDetails = "ticker,asset_type,name,expense_ratio,assets_aum\n" +
    "VUSA,ETF,Vanguard SP500,0.07%,842.33m USD\n"

  /** A lake with every stage's input. */
  private def fullLake(root: Path): String = {
    write(root.resolve("lake/master/Financial Times"), "ft_master.csv",
      "ticker,asset_type,name,status,source,date_added\n" +
        "VUSA,ETF,Vanguard SP500,new,Financial Times,2024-05-01\n")
    write(root.resolve("lake/nav/Financial Times"), "nav.csv",
      "ticker,asset_type,source,nav_price,currency,as_of_date,scrape_date\n" +
        "VUSA,ETF,Financial Times,101.5,USD,2024-05-01,2024-05-01\n")
    write(root.resolve("lake/history/Financial Times/etf/2024-05-01"),
      "VUSA_history.csv",
      "Date,Open,High,Low,Close,Volume\n2024-04-29,98,99,97,98.5,900\n" +
        "2024-04-30,99,100,98,99.5,1000\n")
    write(root.resolve("lake/dividends/Yahoo Finance/fund/2024-05-01"),
      "ABC_dividend.csv", "Date,Dividend\n2024-03-01,0.52\n")
    write(root.resolve("lake/details/Stock Analysis"), "screener.csv", goodDetails)
    write(root.resolve("lake/holdings/Financial Times/etf/2024-05-01"),
      "VUSA_etf_holdings.csv",
      "ticker,asset_type,name,symbol,weight\nVUSA,ETF,Apple,AAPL,5.9%\n" +
        "VUSA,ETF,Microsoft,MSFT,5.1%\n")
    write(root.resolve("lake/allocations/Stock Analysis/2024-05-01"),
      "VUSA_allocations.csv",
      "ticker,sector,percentage,scrape_date\nVUSA,Technology,28.4%,2024-05-01\n")
    s"$root/lake"
  }
  /** Paths under `dir` a sink leaves only while a write is in flight. */
  private def leftovers(dir: String): Seq[String] = {
    val all = Files.walk(Path.of(dir))
    try all.iterator().asScala.map(_.toString)
      .filter(p => Seq("__lock", "__tmp", "__old", "__swap").exists(p.endsWith)).toSeq
    finally all.close()
  }

  /** Row count of every stg_* table under `wh`. */
  private def tableCounts(wh: String): Map[String, Long] =
    Files.list(Path.of(wh)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("stg_"))
      .map(t => t.getFileName.toString -> spark.read.parquet(t.toString).count())
      .toMap

  test("concurrent schedule: results in stage order, no sink leftovers") {
    val root = Files.createTempDirectory("lakeorder")
    val wh = s"$root/warehouse"
    val results = DailyPipeline.run(spark, fullLake(root), wh,
      lit("2024-05-01"))
    assert(results.forall(_.ok), results.mkString("; "))
    assert(results.map(_.stage) == stageOrder)
    // one schedule: every stage starts before the first stage ends
    val firstEnd = results.map(r => r.startMs + r.durationMs).min
    assert(results.forall(_.startMs < firstEnd),
      results.map(r => (r.stage, r.startMs, r.durationMs)).mkString("; "))
    assert(leftovers(wh).isEmpty, leftovers(wh).mkString("; "))
    // the stage threads ended with the call
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.isAlive && t.getName.startsWith("graft-daily-")))
  }

  test("failFast: the first failure cancels its siblings, a fixed rerun converges") {
    val root = Files.createTempDirectory("lakecancel")
    val lake = root.resolve("lake")
    val wh = s"$root/warehouse"
    write(lake.resolve("history/Financial Times/etf/2024-05-01"),
      "VUSA_history.csv", "Date,Open,High,Low,Close,Volume\n2024-04-30,99,100,98,99.5,1000\n")
    // no ticker/symbol column: DetailSync's key normalization throws
    write(lake.resolve("details/Broken Source"), "screener.csv",
      "name,expense_ratio\nNameless Fund,0.10%\n")
    write(lake.resolve("holdings/Financial Times/etf/2024-05-01"),
      "VUSA_etf_holdings.csv",
      "ticker,asset_type,name,symbol,weight\nVUSA,ETF,Apple,AAPL,5.9%\n")
    write(lake.resolve("allocations/Stock Analysis/2024-05-01"),
      "VUSA_allocations.csv",
      "ticker,sector,percentage,scrape_date\nVUSA,Technology,28.4%,2024-05-01\n")

    val e = intercept[DailyPipeline.PipelineFailedException] {
      DailyPipeline.run(spark, lake.toString, wh, lit("2024-05-01"))
    }
    // no sibling job outlives the call
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(e.summary.last.stage == "detail_sync" && !e.summary.last.ok)
    // the stages ordered before the cause, in order; a cancelled one names it
    assert(e.summary.map(_.stage) == Seq("history_sync", "detail_sync"))
    assert(e.summary.init.forall(r => r.ok || r.error.exists(_.contains("detail_sync"))),
      e.summary.mkString("; "))
    assert(leftovers(wh).isEmpty, leftovers(wh).mkString("; "))

    // fix the details CSV: a rerun of the day lands every table as a
    // clean run of the fixed lake does
    write(lake.resolve("details/Broken Source"), "screener.csv", goodDetails)
    val rerun = DailyPipeline.run(spark, lake.toString, wh, lit("2024-05-01"))
    val clean = DailyPipeline.run(spark, lake.toString, s"$root/clean",
      lit("2024-05-01"))
    assert(rerun.forall(_.ok), rerun.mkString("; "))
    assert(rerun.map(r => r.stage -> r.rows) == clean.map(r => r.stage -> r.rows))
    assert(tableCounts(wh) == tableCounts(s"$root/clean"))
    // history, holdings, allocations and the four detail tables
    assert(tableCounts(wh).keySet.size == 7, tableCounts(wh))
  }

  test("failFast: a failing master cancels its siblings like any stage, " +
       "a fixed rerun converges") {
    val root = Files.createTempDirectory("lakemaster")
    val wh = s"$root/warehouse"
    val lake = Path.of(fullLake(root))
    val goodMaster = "ticker,asset_type,name,status,source,date_added\n" +
      "VUSA,ETF,Vanguard SP500,new,Financial Times,2024-05-01\n"
    // a master list with no ticker column
    write(lake.resolve("master/Financial Times"), "ft_master.csv",
      "asset_type,name,status,source,date_added\n" +
        "ETF,Vanguard SP500,new,Financial Times,2024-05-01\n")

    val e = intercept[DailyPipeline.PipelineFailedException] {
      DailyPipeline.run(spark, lake.toString, wh, lit("2024-05-01"))
    }
    assert(e.summary.map(_.stage) == Seq("master_sync") && !e.summary.head.ok,
      e.summary.mkString("; "))
    assert(e.summary.head.error.exists(_.contains("no ticker column")), e.summary)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(leftovers(wh).isEmpty, leftovers(wh).mkString("; "))

    write(lake.resolve("master/Financial Times"), "ft_master.csv", goodMaster)
    val rerun = DailyPipeline.run(spark, lake.toString, wh, lit("2024-05-01"))
    val clean = DailyPipeline.run(spark, lake.toString, s"$root/clean",
      lit("2024-05-01"))
    assert(rerun.forall(_.ok), rerun.mkString("; "))
    assert(rerun.map(r => r.stage -> r.rows) == clean.map(r => r.stage -> r.rows))
    assert(rerun.map(_.stage) == stageOrder)
    assert(tableCounts(wh) == tableCounts(s"$root/clean"))
    // the seven stages' ten stg_* tables, the four detail ones included
    assert(tableCounts(wh).keySet.size == 10, tableCounts(wh))
  }

  test("failFast: a failing sibling cancels master, a fixed rerun converges") {
    val root = Files.createTempDirectory("lakesibling")
    val wh = s"$root/warehouse"
    val lake = Path.of(fullLake(root))
    // no ticker/symbol column: DetailSync's key normalization throws
    write(lake.resolve("details/Stock Analysis"), "screener.csv",
      "name,expense_ratio\nNameless Fund,0.10%\n")

    val e = intercept[DailyPipeline.PipelineFailedException] {
      DailyPipeline.run(spark, lake.toString, wh, lit("2024-05-01"))
    }
    assert(e.summary.last.stage == "detail_sync" && !e.summary.last.ok,
      e.summary.mkString("; "))
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(leftovers(wh).isEmpty, leftovers(wh).mkString("; "))

    write(lake.resolve("details/Stock Analysis"), "screener.csv", goodDetails)
    val rerun = DailyPipeline.run(spark, lake.toString, wh, lit("2024-05-01"))
    val clean = DailyPipeline.run(spark, lake.toString, s"$root/clean",
      lit("2024-05-01"))
    assert(rerun.forall(_.ok), rerun.mkString("; "))
    assert(rerun.map(r => r.stage -> r.rows) == clean.map(r => r.stage -> r.rows))
    assert(tableCounts(wh) == tableCounts(s"$root/clean"))
    assert(tableCounts(wh).get("stg_security_master").contains(1L), tableCounts(wh))
  }

  test("a steady day compiles no class: the day and the touched buckets " +
       "are bound as data, not inlined into generated code") {
    val root = Files.createTempDirectory("lakecompile")
    val wh = s"$root/warehouse"
    val lake = Path.of(fullLake(root))
    def nav(vusa: String, abc: String): Unit =
      write(lake.resolve("nav/Financial Times"), "nav.csv",
        "ticker,asset_type,source,nav_price,currency,as_of_date,scrape_date\n" +
          s"VUSA,ETF,Financial Times,$vusa,USD,2024-05-01,2024-05-01\n" +
          s"ABC,FUND,Financial Times,$abc,USD,2024-05-01,2024-05-01\n")
    def history(close: String): Unit =
      write(lake.resolve("history/Financial Times/etf/2024-05-01"), "VUSA_history.csv",
        s"Date,Open,High,Low,Close,Volume\n2024-04-29,98,99,97,$close,900\n")
    def day(asOf: String): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val results = DailyPipeline.run(spark, lake.toString, wh, lit(asOf))
      assert(results.forall(_.ok), results.mkString("; "))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    def navBucket(ticker: String): Int = spark.read.parquet(s"$wh/stg_daily_nav")
      .filter(col("ticker") === ticker).select("__bucket").as[Int].head()

    SparkSpec.clearCodegenCache()
    nav("101.5", "12.0"); history("98.5")
    day("2024-05-01") // creates the warehouse
    assert(navBucket("VUSA") != navBucket("ABC"))
    nav("101.7", "12.0"); history("98.6")
    val first = day("2024-05-02") // the first upsert into each table
    nav("101.7", "12.2"); history("98.7")
    val second = day("2024-05-03") // a new day, another NAV bucket
    info(s"compiled classes: day 1 $first, day 2 $second")
    assert(second == 0, s"day 1 compiled $first classes, day 2 $second")
    assert(spark.read.parquet(s"$wh/stg_daily_nav").filter(col("ticker") === "ABC")
      .select(col("nav_price").cast("double")).as[Double].head() == 12.2)
    assert(spark.read.parquet(s"$wh/stg_daily_nav")
      .select(max(Schemas.updatedAt).cast("date").cast("string")).as[String].head() ==
      "2024-05-03")
  }

  test("Retention.purgeDatedDirs drops only dirs older than the cutoff") {
    val root = Files.createTempDirectory("retention")
    Files.createDirectories(root.resolve("2024-01-01"))
    Files.createDirectories(root.resolve("2024-03-01"))
    Files.createDirectories(root.resolve("not-a-date"))
    val deleted = Retention.purgeDatedDirs(spark, root.toString,
      LocalDate.parse("2024-03-15"), keepDays = 60)
    assert(deleted == Seq("2024-01-01"))
    assert(Files.exists(root.resolve("2024-03-01")))
    assert(Files.exists(root.resolve("not-a-date")))
  }
}
