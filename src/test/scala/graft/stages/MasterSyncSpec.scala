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
    val root = Files.createTempDirectory("master_sync")
    val dir = root.resolve("lake/ft")
    Files.createDirectories(dir)
    val header = "ticker,asset_type,name,status,source,date_added\n"
    def deliver(rows: String*): Unit =
      Files.writeString(dir.resolve("ft_master.csv"), header + rows.map(_ + "\n").mkString)
    def sync(asOf: String): Seq[org.apache.spark.sql.Row] = {
      MasterSync.sync(spark, Seq("Financial Times" -> dir.toString), root.toString, lit(asOf))
      // materialized before a later sync overwrites the files underneath
      spark.read.parquet(s"$root/stg_security_master").orderBy("ticker")
        .drop("updated_at").collect().toSeq
    }
    def state(rows: Seq[org.apache.spark.sql.Row], ticker: String) =
      rows.find(_.getAs[String]("ticker") == ticker).map(r => (r.getAs[String]("name"),
        r.getAs[String]("status"), r.getAs[java.sql.Date]("first_seen").toString,
        r.getAs[java.sql.Date]("last_seen").toString))

    deliver("VUSA,ETF,Vanguard,new,Financial Times,2024-05-01",
      "ABC,FUND,Alpha,active,Financial Times,2024-05-01")
    val s1 = sync("2024-05-01")
    assert(s1.length == 2)
    // 'new' with non-blank name promotes to active (T5)
    assert(state(s1, "VUSA") == Some(("Vanguard", "active", "2024-05-01", "2024-05-01")))

    // replay same batch -> same state (idempotence)
    assert(sync("2024-05-01") == s1)

    // the list is fixed and the day rerun: the rerun loads the fixed list
    deliver("VUSA,ETF,Vanguard S&P 500,new,Financial Times,2024-05-01",
      "ABC,FUND,Alpha,active,Financial Times,2024-05-01",
      "XYZ,ETF,Xylo,new,Financial Times,2024-05-01")
    val fixed = sync("2024-05-01")
    assert(fixed.map(_.getAs[String]("ticker")) == Seq("ABC", "VUSA", "XYZ"))
    assert(state(fixed, "VUSA") ==
      Some(("Vanguard S&P 500", "active", "2024-05-01", "2024-05-01")))

    // 9 days later only VUSA re-appears: ABC ages to inactive, first_seen kept
    deliver("VUSA,ETF,Vanguard S&P 500,active,Financial Times,2024-05-09")
    val s3 = sync("2024-05-10")
    assert(state(s3, "ABC") == Some(("Alpha", "inactive", "2024-05-01", "2024-05-01")))
    assert(state(s3, "VUSA") ==
      Some(("Vanguard S&P 500", "active", "2024-05-01", "2024-05-10")))
  }
}
