package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CleanFnsSpec extends SparkSpec {
  import spark.implicits._

  test("parseMagnitude handles k/m/b/t suffixes, commas, currencies") {
    val df = Seq("842.33m USD", "1.2b", "515k", "2t", "1,234", "12.5", "n/a")
      .toDF("s")
      .select(CleanFns.parseMagnitude(col("s")).as("v"))
    assert(df.as[Option[Double]].collect().toSeq == Seq(
      Some(842.33e6), Some(1.2e9), Some(515e3), Some(2e12),
      Some(1234.0), Some(12.5), None))
  }

  test("parsePercent strips %, commas, plus, whitespace") {
    val df = Seq("0.45%", "+1,200.5 %", "bad").toDF("s")
      .select(CleanFns.parsePercent(col("s")).as("v"))
    assert(df.as[Option[Double]].collect().toSeq ==
      Seq(Some(0.45), Some(1200.5), None))
  }

  test("nullifyMarkers maps textual null markers to null") {
    val df = Seq("--", "-", "nan", "None", "N/A", "real", " ").toDF("s")
      .select(CleanFns.nullifyMarkers(col("s")).as("v"))
    assert(df.as[Option[String]].collect().toSeq ==
      Seq(None, None, None, None, None, Some("real"), None))
  }

  test("mapEnum replaces mapped values and passes others through") {
    val m = Map("MUTUAL FUND" -> "FUND", "MUTUALFUND" -> "FUND")
    val df = Seq("MUTUAL FUND", "ETF", "MUTUALFUND").toDF("s")
      .select(CleanFns.mapEnum(col("s"), m).as("v"))
    assert(df.as[String].collect().toSeq == Seq("FUND", "ETF", "FUND"))
  }

  test("parseDate accepts multiple formats, coerces garbage to null") {
    val df = Seq("2024-03-01", "Mar 1 2024", "Mar 1, 2024", "03/01/2024", "junk")
      .toDF("s").select(CleanFns.parseDate(col("s")).cast("string").as("v"))
    val got = df.as[Option[String]].collect().toSeq
    assert(got == Seq(Some("2024-03-01"), Some("2024-03-01"),
      Some("2024-03-01"), Some("2024-03-01"), None))
  }

  test("rescalePercentUnit and rescaleOverflow") {
    val df = Seq(0.5, 1.5, 1500.0).toDF("x").select(
      CleanFns.rescalePercentUnit(col("x")).as("pct"),
      CleanFns.rescaleOverflow(col("x")).as("ovf"))
    val rows = df.collect()
    assert(rows.map(_.getDouble(0)).toSeq == Seq(0.5, 0.015, 15.0))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(0.5, 1.5, 15.0))
  }

  test("the cleaners coerce dirty input to null under ANSI off AND on") {
    val dirty = Seq("Jan 5 2024", "n/a", "12,3x%")
    def clean(): Seq[Seq[Option[String]]] = {
      val df = dirty.toDF("s").select(
        CleanFns.parsePercent(col("s")).cast("string"),
        CleanFns.parseNumber(col("s")).cast("string"),
        CleanFns.parseMagnitude(col("s")).cast("string"),
        CleanFns.parseDate(col("s")).cast("string"),
        CleanFns.dateFromPath(col("s")).cast("string"))
      df.collect().toSeq.map(r => (0 until r.length).map(i => Option(r.getString(i))))
    }
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.get(key)
    val byAnsi = try Seq("false", "true").map { v =>
      spark.conf.set(key, v)
      v -> clean()
    } finally spark.conf.set(key, saved)
    // rows: the three inputs; columns: percent, number, magnitude, date,
    // date-from-path
    val want = Seq(
      Seq(None, None, Some("5.0"), Some("2024-01-05"), None),
      Seq(None, None, None, None, None),
      Seq(None, None, Some("123.0"), None, None))
    byAnsi.foreach { case (v, got) => assert(got == want, s"ansi=$v") }
  }

  test("path lineage extractors (ticker / asset type / date from path)") {
    val df = Seq(
      "file:/lake/etf/2024-05-02/VUSA_history.csv",
      "file:/lake/fund/2024-05-02/ABC_dividend.csv")
      .toDF("origin_file")
      .select(
        CleanFns.tickerFromPath(col("origin_file")).as("t"),
        CleanFns.assetTypeFromPath(col("origin_file")).as("a"),
        CleanFns.dateFromPath(col("origin_file")).cast("string").as("d"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(
      ("VUSA", "ETF", "2024-05-02"), ("ABC", "FUND", "2024-05-02")))
  }
}
