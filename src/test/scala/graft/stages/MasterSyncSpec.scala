package graft.stages

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class MasterSyncSpec extends SparkSpec {
  import spark.implicits._

  test("clean absorbs drift: rename, enum fixes, case, within-source dedup") {
    val raw = Seq(
      ("vusa:lse:gbp", "etf", "Vanguard S&P", "NEW", "FinancialTimes", "2024-05-01"),
      ("vusa:lse:gbp", "etf", "Vanguard S&P dup", "NEW", "FinancialTimes", "2024-05-02"),
      ("abc", "Mutual Fund", "Alpha Fund", "new", "Financial Times", "2024-05-01"))
      .toDF("Full_Ticker", "Asset_Type", "Name", "Status", "Source", "Date_Added")
    val out = MasterSync.clean(raw).orderBy("ticker")
    val rows = out.select("ticker", "asset_type", "status", "source", "name")
      .as[(String, String, String, String, String)].collect().toSeq
    assert(rows == Seq(
      ("ABC", "FUND", "new", "Financial Times", "Alpha Fund"),
      ("VUSA:LSE:GBP", "ETF", "new", "Financial Times", "Vanguard S&P")))
  }

  test("consolidate keeps cross-source duplicates, dedups within source") {
    val ft = Seq(("VUSA", "ETF", "V", "new", "Financial Times", "2024-01-01"))
      .toDF("ticker", "asset_type", "name", "status", "source", "date_added")
    val yf = Seq(("VUSA", "ETF", "V", "new", "Yahoo Finance", "2024-01-01"))
      .toDF("ticker", "asset_type", "name", "status", "source", "date_added")
    assert(MasterSync.consolidate(Seq(ft, yf)).count() == 2)
  }

  test("sync binds each master file by its own header") {
    val root = Files.createTempDirectory("master_swapped")
    val dir = root.resolve("lake/ft")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("a.csv"),
      "ticker,name,asset_type,status,source\nVUSA,Vanguard,ETF,new,Financial Times\n")
    Files.writeString(dir.resolve("b.csv"),
      "name,ticker,asset_type,status,source\nAlpha,ABC,FUND,new,Financial Times\n")
    MasterSync.sync(spark, Seq("Financial Times" -> dir.toString), root.toString,
      lit("2024-05-01"))
    val rows = spark.read.parquet(s"$root/stg_security_master")
      .select("ticker", "name").as[(String, String)].collect().toSet
    assert(rows == Set(("VUSA", "Vanguard"), ("ABC", "Alpha")))
  }

  test("validate: reference rules with ordered reasons") {
    val df = Seq(
      ("VUSA", "ETF", "ok", "new", "FT", "2024-01-01"),
      ("", "CRYPTO", "bad", "gone", "FT", "2024-01-01"))
      .toDF("ticker", "asset_type", "name", "status", "source", "date_added")
    val (valid, rejects) = MasterSync.validate(df)
    assert(valid.count() == 1)
    assert(rejects.select("validation_issues").as[String].head() ==
      "blank_ticker;bad_asset_type;bad_status")
  }

  test("end-to-end: load twice is idempotent; lifecycle ages stale rows; first_seen preserved") {
    val dir = Files.createTempDirectory("master_sync").toString
    val path = s"$dir/stg_security_master"
    val day1 = Seq(
      ("VUSA", "ETF", "Vanguard", "new", "Financial Times", "2024-05-01"),
      ("ABC", "FUND", "Alpha", "active", "Financial Times", "2024-05-01"))
      .toDF("ticker", "asset_type", "name", "status", "source", "date_added")

    val s1 = MasterSync.run(spark, Seq(day1), path, lit("2024-05-01"))
    // materialize before the replay overwrites the files underneath
    val s1rows = s1.orderBy("ticker").drop("updated_at").collect().toSeq
    assert(s1rows.length == 2)
    // 'new' with non-blank name promotes to active (T5)
    assert(s1rows.exists(r => r.getString(0) == "VUSA" && r.getString(4) == "active"))

    // replay same batch -> same state (idempotence)
    val s2 = MasterSync.run(spark, Seq(day1), path, lit("2024-05-01"))
    assert(s2.orderBy("ticker").drop("updated_at").collect().toSeq == s1rows)

    // 9 days later only VUSA re-appears: ABC ages to inactive, first_seen kept
    val day9 = Seq(("VUSA", "ETF", "Vanguard", "active", "Financial Times", "2024-05-09"))
      .toDF("ticker", "asset_type", "name", "status", "source", "date_added")
    val s3 = MasterSync.run(spark, Seq(day9), path, lit("2024-05-10"))
    val abc = s3.filter(col("ticker") === "ABC")
      .select(col("status"), col("first_seen").cast("string"),
        col("last_seen").cast("string"))
      .as[(String, String, String)].head()
    assert(abc == ("inactive", "2024-05-01", "2024-05-01"))
    val vusa = s3.filter(col("ticker") === "VUSA")
      .select(col("status"), col("first_seen").cast("string"),
        col("last_seen").cast("string"))
      .as[(String, String, String)].head()
    assert(vusa == ("active", "2024-05-01", "2024-05-10"))
  }

  test("remediator hop: ready-to-load generation reaches the warehouse and memoizes") {
    val root = java.nio.file.Files.createTempDirectory("master_remediate")
    val path = s"$root/stg_security_master"
    val ready = s"$root/ready"
    val day1 = Seq(
      ("VUSA", "ETF", "Vanguard", "new", "Financial Times", "2024-05-01"))
      .toDF("ticker", "asset_type", "name", "status", "source", "date_added")

    val s1 = MasterSync.run(spark, Seq(day1), path, lit("2024-05-01"),
      readyDir = Some(ready))
    assert(s1.count() == 1) // remediated row reached the warehouse
    assert(new java.io.File(ready).isDirectory) // generation materialized

    // T7 memoization: a changed upstream batch does NOT recompute the
    // existing ready generation — the materialized file wins (reference
    // remediator: "file already exists ... skipping copy")
    val changed = Seq(
      ("ABCD", "ETF", "Other", "new", "Financial Times", "2024-05-01"))
      .toDF("ticker", "asset_type", "name", "status", "source", "date_added")
    val s2 = MasterSync.run(spark, Seq(changed), path, lit("2024-05-01"),
      readyDir = Some(ready))
    assert(s2.select("ticker").as[String].collect().toSeq == Seq("VUSA"))
  }

  test("remediator hop: a generation dir with no _SUCCESS is rewritten, not reused") {
    val root = java.nio.file.Files.createTempDirectory("master_cancelled")
    val path = s"$root/stg_security_master"
    val ready = root.resolve("ready")
    // what a write cancelled after its job setup leaves: the dir, nothing in it
    java.nio.file.Files.createDirectories(ready)
    val day1 = Seq(
      ("VUSA", "ETF", "Vanguard", "new", "Financial Times", "2024-05-01"))
      .toDF("ticker", "asset_type", "name", "status", "source", "date_added")
    val s1 = MasterSync.run(spark, Seq(day1), path, lit("2024-05-01"),
      readyDir = Some(ready.toString))
    assert(s1.select("ticker").as[String].collect().toSeq == Seq("VUSA"))
    assert(java.nio.file.Files.exists(ready.resolve("_SUCCESS")))
  }

  test("the ready-to-load generation's name is rendered without a Spark job") {
    val sc = spark.sparkContext
    val group = s"generation-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "generation name")
    try {
      assert(MasterSync.generation(spark, lit("2024-05-01")) == "dt=2024-05-01")
      assert(MasterSync.generation(spark, lit("2024-05-01").cast("date")) == "dt=2024-05-01")
      // one marker job in the same group: once the status tracker holds
      // it, it holds every job the group started before it
      sc.parallelize(Seq(1), 1).count()
    } finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getJobIdsForGroup(group).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(group).length == 1)
  }
}
