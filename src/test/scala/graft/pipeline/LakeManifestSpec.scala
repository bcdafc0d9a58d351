package graft.pipeline

import graft.SparkSpec
import graft.operators.MergeSink
import graft.schema.Schemas
import graft.stages.{HoldingsSync, LakeManifest, PerformanceSync}
import graft.util.ArtifactIO
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._

/** The lake manifest of the five incremental daily stages
  * (`graft.stages.Sync.changedOnly`): a day reads only the files whose
  * content changed, and lands what a full read lands. */
class LakeManifestSpec extends SparkSpec {
  import spark.implicits._

  private def write(dir: JPath, name: String, content: String): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(name), content)
  }

  private val Sources = Seq("Financial Times", "Yahoo Finance", "Stock Analysis")
  private val Tickers = 6
  private def day(d: Int) = java.time.LocalDate.parse("2024-05-01").plusDays(d).toString
  /** Tickers whose NAV, last history row and one holding weight change on day `d`. */
  private def changed(d: Int): Set[Int] = if (d == 0) Set.empty else Set(d % Tickers, (d + 3) % Tickers)
  private def lastChange(t: Int, d: Int) = (0 to d).filter(changed(_).contains(t)).lastOption.getOrElse(0)

  /** The lake of day `d` in the layout of the benchmark's generator: one
    * master, NAV and screener CSV per source, per-ticker history,
    * dividend, holdings and allocation files under dated, typed dirs. */
  private def writeLake(lake: JPath, d: Int): Unit = {
    val date0 = day(0)
    Sources.zipWithIndex.foreach { case (source, si) =>
      val mine = (0 until Tickers).filter(_ % Sources.size == si)
      def meta(t: Int) = if (t % 2 == 0) ("ETF", "etf") else ("FUND", "fund")
      write(lake.resolve(s"master/$source"), "master.csv",
        "ticker,asset_type,name,status,source,date_added\n" + mine.map { t =>
          s"TK$t,${meta(t)._1},Fund TK$t,new,$source,$date0\n" }.mkString)
      write(lake.resolve(s"nav/$source"), "nav.csv",
        "ticker,asset_type,source,nav_price,currency,as_of_date,scrape_date\n" + mine.map { t =>
          val l = lastChange(t, d)
          s"TK$t,${meta(t)._1},$source,${100 + t * 10 + l}.5,USD,${day(l)},${day(l)}\n" }.mkString)
      write(lake.resolve(s"details/$source"), "screener.csv",
        "ticker,asset_type,name,expense_ratio,assets_aum\n" + mine.map { t =>
          s"TK$t,${meta(t)._1},Fund TK$t,0.${10 + t}%,${100 + t}.5m USD\n" }.mkString)
      mine.foreach { t =>
        val (asset, cat) = meta(t)
        val history = (1 to 5).map(i => s"2024-04-0$i,${90 + i},${91 + i},${89 + i},${90 + i}.5,${1000 * i}") ++
          (1 to d).filter(changed(_).contains(t)).map(k => s"${day(k)},${100 + k},${101 + k},${99 + k},${100 + k}.5,${500 + k}")
        write(lake.resolve(s"history/$source/$cat/$date0"), s"TK${t}_history.csv",
          ("Date,Open,High,Low,Close,Volume" +: history).mkString("", "\n", "\n"))
        write(lake.resolve(s"dividends/$source/$cat/$date0"), s"TK${t}_dividend.csv",
          s"Date,Dividend\n2024-03-15,0.${20 + t}\n2024-04-15,0.${30 + t}\n")
        // the changed weight keeps the file's length: 1.0% -> 2.0% -> ...
        write(lake.resolve(s"holdings/$source/$cat/$date0"), s"TK${t}_${cat}_holdings.csv",
          "ticker,asset_type,name,symbol,weight\n" + (0 until 3).map { i =>
            val w = if (i == 0) 1 + (0 to d).count(changed(_).contains(t)) else 5 + i
            s"TK$t,$asset,Holding $i,H$i,$w.0%\n" }.mkString)
        write(lake.resolve(s"allocations/$source/$date0"), s"TK${t}_allocations.csv",
          "ticker,sector,percentage,scrape_date\n" +
            s"TK$t,Technology,${20 + t}.5%,$date0\nTK$t,Energy,${10 + t}.5%,$date0\n")
      }
    }
  }

  private val Hashed = Seq("stg_security_master", "stg_price_history", "stg_dividend_history",
    "stg_fund_info", "stg_fund_fees", "stg_fund_risk", "stg_fund_policy",
    "stg_fund_holdings", "stg_allocations")

  /** Every (table, natural key, row_hash) of the hashed tables. */
  private def hashes(wh: String): Set[String] = Hashed.flatMap { t =>
    MergeSink.readTable(spark, s"$wh/$t")
      .select(concat_ws("|", (lit(t) +: Schemas.naturalKeys(t).map(col)) :+ col("row_hash"): _*))
      .as[String].collect()
  }.toSet

  private def counts(wh: String): Map[String, Long] =
    (Hashed :+ "stg_daily_nav").map(t => t -> ArtifactIO.footerRowCount(spark, s"$wh/$t")).toMap

  private def deleteTree(p: JPath): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  private def manifest(wh: String, stage: String): LakeManifest = {
    val dir = new Path(s"$wh/_manifest/$stage")
    new LakeManifest(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  private def commits(wh: String, stage: String): Seq[String] = {
    val dir = JPath.of(s"$wh/_manifest/$stage")
    if (!Files.exists(dir)) Nil
    else Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("\\d+\\.(delta|snapshot)")).toSeq.sorted
  }

  test("a multi-day lake lands the same rows read incrementally and read in full every day") {
    val root = Files.createTempDirectory("manifest_days")
    val lake = root.resolve("lake")
    val (inc, full) = (s"$root/inc", s"$root/full")
    (0 to 3).foreach { d =>
      writeLake(lake, d)
      val a = DailyPipeline.run(spark, lake.toString, inc, lit(day(d)))
      deleteTree(JPath.of(s"$full/_manifest"))
      val b = DailyPipeline.run(spark, lake.toString, full, lit(day(d)))
      assert(a.forall(_.ok) && b.forall(_.ok), (a ++ b).mkString("; "))
      assert(a.map(r => r.stage -> r.rows) == b.map(r => r.stage -> r.rows), s"day $d")
      assert(counts(inc) == counts(full), s"day $d")
      assert(hashes(inc) == hashes(full), s"day $d")
      // one NAV row per changed ticker and day: the changes landed
      assert(counts(inc)("stg_daily_nav") == Tickers + (1 to d).map(changed(_).size).sum)
    }
    // dividends, allocations and details never changed: one commit, day 0's
    Seq("dividend_sync", "allocations_sync", "detail_sync").foreach { s =>
      assert(commits(inc, s) == Seq("0.snapshot"), s)
    }
    // history and holdings committed only the changed files each day
    assert(commits(inc, "history_sync") == Seq("0.snapshot", "1.delta", "2.delta", "3.delta"))
    val delta = Files.readAllLines(JPath.of(s"$inc/_manifest/holdings_sync/3.delta")).asScala
    assert(delta.map(_.split("\t")(1)).toSet == changed(3).map { t =>
      val (cat, source) = (if (t % 2 == 0) "etf" else "fund", Sources(t % Sources.size))
      s"$source/$cat/${day(0)}/TK${t}_${cat}_holdings.csv"
    })
  }

  private val holdingsCsv = "ticker,asset_type,name,symbol,weight\n" +
    "VUSA,ETF,Apple,AAPL,5.9%\nVUSA,ETF,Microsoft,MSFT,5.1%\n"

  private def syncHoldings(lake: JPath, wh: String, asOf: String): Unit =
    assert(HoldingsSync.syncHoldings(spark, Seq("Financial Times" -> lake.toString), wh,
      lit(asOf)) == Seq("stg_fund_holdings"))

  private def weight(wh: String, name: String): String =
    MergeSink.readTable(spark, s"$wh/stg_fund_holdings").filter(col("holding_name") === name)
      .select(col("holding_percentage").cast("string")).as[String].collect().mkString(",")

  test("a file rewritten with the same length and mtime but new content is read again") {
    val root = Files.createTempDirectory("manifest_mtime")
    val dir = root.resolve("lake/etf/2024-05-01")
    write(dir, "VUSA_etf_holdings.csv", holdingsCsv)
    val file = dir.resolve("VUSA_etf_holdings.csv")
    val wh = s"$root/wh"
    syncHoldings(root.resolve("lake"), wh, "2024-05-01")
    assert(weight(wh, "Apple") == "5.9000")
    val (size, mtime) = (Files.size(file), Files.getLastModifiedTime(file))
    Files.writeString(file, holdingsCsv.replace("5.9%", "6.1%"))
    Files.setLastModifiedTime(file, mtime)
    assert(Files.size(file) == size && Files.getLastModifiedTime(file) == mtime)
    syncHoldings(root.resolve("lake"), wh, "2024-05-02")
    assert(weight(wh, "Apple") == "6.1000")
  }

  test("a stage that fails after reading keeps its manifest; the rerun converges") {
    val root = Files.createTempDirectory("manifest_fail")
    val lake = root.resolve("lake")
    val dir = lake.resolve("etf/2024-05-01")
    write(dir, "VUSA_etf_holdings.csv", holdingsCsv)
    val wh = s"$root/wh"
    syncHoldings(lake, wh, "2024-05-01")
    val before = manifest(wh, "holdings_sync").entries()
    assert(before.size == 1)

    write(dir, "VUSA_etf_holdings.csv", holdingsCsv.replace("5.1%", "4.4%"))
    write(lake.resolve("fund/2024-05-01"), "ABC_fund_holdings.csv",
      "ticker,asset_type,name,symbol,weight\nABC,FUND,Nvidia,NVDA,3.0%\n")
    // another writer holds the table: the upsert fails after the files
    // were listed, fingerprinted and opened
    val lock = JPath.of(s"$wh/stg_fund_holdings__lock")
    Files.writeString(lock, "another-writer")
    intercept[MergeSink.ConcurrentWriteException](syncHoldings(lake, wh, "2024-05-02"))
    assert(manifest(wh, "holdings_sync").entries() == before)
    assert(weight(wh, "Microsoft") == "5.1000")

    Files.delete(lock)
    syncHoldings(lake, wh, "2024-05-02")
    syncHoldings(lake, s"$root/clean", "2024-05-02")
    assert(weight(wh, "Microsoft") == "4.4000")
    assert(MergeSink.readTable(spark, s"$wh/stg_fund_holdings").drop("updated_at").collect().toSet ==
      MergeSink.readTable(spark, s"$root/clean/stg_fund_holdings").drop("updated_at").collect().toSet)
    assert(manifest(wh, "holdings_sync").entries().size == 2)
  }

  test("a changed file's row wins over an unchanged file's row with the same key") {
    val root = Files.createTempDirectory("manifest_keeplast")
    val lake = root.resolve("lake")
    val dir = lake.resolve("etf/2024-05-01")
    val wh = s"$root/wh"
    def holding(w: String) = s"ticker,asset_type,name,symbol,weight\nVUSA,ETF,Apple,AAPL,$w\n"
    write(dir, "VUSA_etf_holdings.csv", holding("5.0%"))
    write(dir, "VUSA_etf_extra_holdings.csv", holding("6.0%"))
    syncHoldings(lake, wh, "2024-05-01")
    assert(Set("5.0000", "6.0000").contains(weight(wh, "Apple")))
    write(dir, "VUSA_etf_holdings.csv", holding("7.0%"))
    syncHoldings(lake, wh, "2024-05-02")
    assert(weight(wh, "Apple") == "7.0000")
    write(dir, "VUSA_etf_extra_holdings.csv", holding("8.0%"))
    syncHoldings(lake, wh, "2024-05-03")
    assert(weight(wh, "Apple") == "8.0000")
  }

  test("a future-dated NAV row rejected on one day loads on a later day") {
    val root = Files.createTempDirectory("manifest_future")
    write(root.resolve("ft"), "nav.csv",
      "ticker,asset_type,source,nav_price,currency,as_of_date,scrape_date\n" +
        "VUSA,ETF,Financial Times,101.5,USD,2024-05-01,2024-05-01\n" +
        "ABC,FUND,Financial Times,50.0,USD,2024-05-05,2024-05-01\n")
    def sync(asOf: String) = {
      PerformanceSync.syncNav(spark, Seq("Financial Times" -> s"$root/ft"), root.toString,
        lit(asOf).cast("date"))
      MergeSink.readTable(spark, s"$root/stg_daily_nav").select("ticker").as[String]
        .collect().toSet
    }
    assert(sync("2024-05-01") == Set("VUSA"))
    assert(spark.read.option("header", "true").csv(s"$root/rejects/nav")
      .select("ticker").as[String].collect().toSeq == Seq("ABC"))
    assert(sync("2024-05-04") == Set("VUSA", "ABC"))
  }

  test("a replayed day starts no Spark job in the five manifest stages") {
    val root = Files.createTempDirectory("manifest_replay")
    val lake = root.resolve("lake")
    val wh = s"$root/wh"
    writeLake(lake, 0)
    assert(DailyPipeline.run(spark, lake.toString, wh, lit(day(0))).forall(_.ok))

    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(s.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val replay = try {
      val rs = DailyPipeline.run(spark, lake.toString, wh, lit(day(0)))
      // one marker job, then wait until the listener saw it: the jobs
      // before it were delivered first
      val marker = s"marker-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains(marker))
      rs
    } finally sc.removeSparkListener(listener)
    assert(replay.forall(_.ok), replay.mkString("; "))
    assert(replay.forall(_.rows > 0), replay.mkString("; "))
    val seen = groups.asScala.toSeq
    val incremental = Seq("history_sync", "dividend_sync", "detail_sync", "holdings_sync",
      "allocations_sync")
    incremental.foreach(s => assert(!seen.exists(_.startsWith(s + "-")), s"$s: $seen"))
    // the listener did see the stages that read in full
    assert(seen.exists(_.startsWith("nav_sync-")), seen)
  }
}
