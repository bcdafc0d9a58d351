package graft.sources

import graft.SparkSpec
import graft.operators.Conform
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

class CsvLakeSpec extends SparkSpec {
  import spark.implicits._

  private def write(dir: Path, name: String, content: String): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(name), content)
  }

  private lazy val lake: Path = {
    val root = Files.createTempDirectory("csv_lake")
    write(root.resolve("ft"), "nav1.csv",
      "Ticker,NAV Price,As-Of Date\nVUSA,101.5,2024-05-02\nAAA,50.0,2024-05-02\n")
    write(root.resolve("yf"), "nav2.csv",
      "ticker,nav_price,currency\nBBB,20.0,USD\n")
    write(root.resolve("yf"), "error_log.csv", "ticker,msg\nZZZ,boom\n")
    write(root.resolve("hist").resolve("etf").resolve("2024-05-02"),
      "VUSA_history.csv", "Date,Close\n2024-05-01,100.0\n")
    write(root.resolve("hist").resolve("fund").resolve("2024-05-02"),
      "ABC_history.csv", "Date,Close\n2024-05-01,10.0\n")
    write(root.resolve("hist").resolve("etf").resolve("2024-05-02"),
      "VUSA_holdings.csv", "Name,Weight\nApple,5.0\n")
    root
  }

  test("readCsv: normalized headers + origin_file lineage") {
    val df = CsvLake.readCsv(spark, lake.resolve("ft").toString)
    assert(df.columns.toSeq == Seq("ticker", "nav_price", "as_of_date", "origin_file"))
    assert(df.count() == 2)
    assert(df.select("origin_file").as[String].head().contains("nav1.csv"))
  }

  test("readSourceDirs: per-source tag, union-by-name, error files skipped") {
    val df = CsvLake.readSourceDirs(spark, Map(
      "Financial Times" -> lake.resolve("ft").toString,
      "Yahoo Finance"   -> lake.resolve("yf").toString))
    assert(df.count() == 3) // error_log.csv skipped
    val bySource = df.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(bySource == Map("Financial Times" -> 2L, "Yahoo Finance" -> 1L))
    // drifted columns survive as nulls after unionByName
    assert(df.columns.contains("as_of_date") && df.columns.contains("currency"))
  }

  test("listRecursive + readFiles + withPathIdentity: filename predicate and " +
      "path identity") {
    val df = CsvLake.withPathIdentity(CsvLake.readFiles(spark,
      CsvLake.listRecursive(spark, lake.resolve("hist").toString,
        nameMustContain = "history", nameMustNotContain = "holdings")))
    val rows = df.select("ticker", "asset_type", "as_of_date")
      .withColumn("as_of_date", col("as_of_date").cast("string"))
      .as[(String, String, String)].collect().toSet
    assert(rows == Set(
      ("VUSA", "ETF", "2024-05-02"),
      ("ABC", "FUND", "2024-05-02")))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.select("ticker", "name").as[(String, String)].collect().toSet

  private val swapped = Set(("VUSA", "Vanguard"), ("ABC", "Alpha"))

  test("readSourceDirs: files with swapped headers come back by name") {
    val dir = Files.createTempDirectory("swapped").resolve("ft")
    write(dir, "a.csv", "ticker,name\nVUSA,Vanguard\n")
    write(dir, "b.csv", "name,ticker\nAlpha,ABC\n")
    assert(rows(CsvLake.readSourceDirs(spark, Seq("ft" -> dir.toString))) == swapped)
  }

  test("readSourceDirs: a dir with only error or 0-byte files adds no rows") {
    val root = Files.createTempDirectory("failed_scrape")
    write(root.resolve("ft"), "a.csv", "ticker,name\nVUSA,Vanguard\n")
    write(root.resolve("yf"), "error_log.csv", "ticker,msg\nZZZ,boom\n")
    write(root.resolve("sa"), "empty.csv", "")
    val df = CsvLake.readSourceDirs(spark, Seq("ft", "yf", "sa")
      .map(s => s -> root.resolve(s).toString))
    assert(rows(df) == Set(("VUSA", "Vanguard")))
    assert(df.select("source", "origin_file").as[(String, String)].collect().toSeq ==
      Seq(("ft", "a.csv")))
    // no dir with a header at all: the read fails naming its dirs
    val e = intercept[IllegalArgumentException] {
      CsvLake.readSourceDirs(spark, Seq("yf", "sa").map(s => s -> root.resolve(s).toString))
    }
    assert(e.getMessage.contains(root.resolve("yf").toString) &&
      e.getMessage.contains(root.resolve("sa").toString), e.getMessage)
  }

  test("readFiles: files with swapped headers in a recursive root come back by name") {
    val root = Files.createTempDirectory("swapped_rec")
    write(root.resolve("x"), "a_history.csv", "ticker,name\nVUSA,Vanguard\n")
    write(root.resolve("y").resolve("z"), "b_history.csv", "name,ticker\nAlpha,ABC\n")
    assert(rows(CsvLake.readFiles(spark,
      CsvLake.listRecursive(spark, root.toString, "history"))) == swapped)
  }

  test("header edge cases: BOM, quoted comma, Spark's safe names, " +
       "header-only and 0-byte files, no file") {
    val root = Files.createTempDirectory("headers")
    write(root.resolve("plain"), "a.csv", "Ticker,Name\nVUSA,Vanguard\n")
    write(root.resolve("bom"), "a.csv", "\uFEFFTicker,Name\nVUSA,Vanguard\n")
    def read(d: String) = CsvLake.readCsv(spark, root.resolve(d).toString)
      .drop("origin_file").as[(String, String)].collect().toSeq
    assert(read("bom") == read("plain"))
    assert(CsvLake.readCsv(spark, root.resolve("bom").toString).columns.toSeq ==
      Seq("ticker", "name", "origin_file"))

    write(root.resolve("quoted"), "a.csv", "ticker,\"name, full\"\nVUSA,\"Vanguard, Inc\"\n")
    val quoted = CsvLake.readCsv(spark, root.resolve("quoted").toString)
    assert(quoted.columns.toSeq == Seq("ticker", "name,_full", "origin_file"))
    assert(quoted.select("`name,_full`").as[String].head() == "Vanguard, Inc")

    // blank and duplicate names: the names Spark's own header inference gives
    val odd = root.resolve("odd")
    write(odd, "a.csv", "a,,B,b,a\n1,2,3,4,5\n")
    val inferred = Conform.normHeaders(spark.read.option("header", "true")
      .csv(odd.toString)).columns.toSeq
    assert(inferred == Seq("a0", "_c1", "b2", "b3", "a4"))
    val df = CsvLake.readCsv(spark, odd.toString)
    assert(df.columns.toSeq == inferred :+ "origin_file")
    assert(df.drop("origin_file").as[(String, String, String, String, String)]
      .collect().toSeq == Seq(("1", "2", "3", "4", "5")))

    write(root.resolve("empty"), "header_only.csv", "ticker,name\n")
    write(root.resolve("empty"), "zero.csv", "")
    assert(CsvLake.readCsv(spark, root.resolve("empty").toString).count() == 0)
    write(root.resolve("zero"), "zero.csv", "")
    write(root.resolve("zero"), "z.csv", "ticker,name\nVUSA,Vanguard\n")
    assert(rows(CsvLake.readCsv(spark, root.resolve("zero").toString)) ==
      Set(("VUSA", "Vanguard")))

    val none = root.resolve("none")
    write(none, "notes.txt", "not a csv\n")
    val e = intercept[IllegalArgumentException] {
      CsvLake.readSourceDirs(spark, Seq("src" -> none.toString))
    }
    assert(e.getMessage.contains(none.toString), e.getMessage)
  }
}
