package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar cleaning/normalization functions (SURVEY.md §2.9 C1–C17).
  *
  * Re-expresses the reference's pandas row-wise cleaners as codegen-friendly
  * Spark `Column` expressions. Semantics follow the reference's
  * coerce-to-null behavior (`pd.to_numeric(errors='coerce')`), written out
  * with `try_cast` / `try_to_date`, so an unparseable value is null under
  * either `spark.sql.ansi.enabled` setting, never an exception.
  *
  * Reference citations (in /root/reference):
  *  - C1/C2 upper/lower+trim: 01_master_sync/00_master_list_cleaner.py:53-65
  *  - C4 percent strings:     03_detail_sync/00_static_data_cleaner.py:61-63
  *  - C5 thousands sep:       00_static_data_cleaner.py:66-68
  *  - C6 magnitude suffix:    scripts/bulk_import_from_hashed.py:155-175
  *  - C7/C8 unit rescale:     00_static_data_cleaner.py:104-115
  *  - C9 date coerce:         02_performance_sync/00_performance_data_cleaner.py:118-119
  *  - C10 date-from-path:     04_holdings_sync/00_holdings_data_cleaner.py:75-81
  *  - C17 null markers:       03_master_detail_static/financial_times/03_ft_risk_scraper.py:62-68
  */
object CleanFns {

  /** C1: `str.upper().str.strip()` on key columns (ticker / asset_type). */
  def normKey(c: Column): Column = upper(trim(c))

  /** C2: `str.lower().str.strip()` (status). */
  def normStatus(c: Column): Column = lower(trim(c))

  /** C3: enum replacement via a when-chain (e.g. 'MUTUAL FUND' -> 'FUND',
    * 'FinancialTimes' -> 'Financial Times'). */
  def mapEnum(c: Column, mapping: Map[String, String]): Column =
    mapping.foldLeft(c) { case (acc, (from, to)) =>
      when(c === lit(from), lit(to)).otherwise(acc)
    }

  /** C17: common textual null markers -> real null. */
  def nullifyMarkers(c: Column, markers: Seq[String] = Seq("--", "-", "", "nan", "none", "null", "n/a")): Column =
    when(lower(trim(c)).isin(markers: _*), lit(null)).otherwise(c)

  /** C4: percent display string ('0.45%', '+1,2%') -> numeric fraction of the
    * printed number (no /100 — the reference rescales separately, see C7). */
  def parsePercent(c: Column): Column =
    regexp_replace(trim(c), "[%,+\\s]", "").try_cast("double")

  /** C5: thousands-separated numeric string ('1,234') -> numeric. */
  def parseNumber(c: Column): Column =
    regexp_replace(trim(c), ",", "").try_cast("double")

  /** C6: magnitude-suffixed display value ('842.33m USD', '1.2b', '515k')
    * -> absolute double. Mirrors bulk_import_from_hashed.py:155-175 as a
    * when-chain (no UDF; stays in whole-stage codegen). */
  def parseMagnitude(c: Column): Column = {
    val s    = lower(trim(c))
    val num  = regexp_extract(s, "([0-9][0-9,]*\\.?[0-9]*)", 1)
    val base = regexp_replace(num, ",", "").try_cast("double")
    val mult = when(s.rlike("[0-9]\\s*t"), lit(1e12))
      .when(s.rlike("[0-9]\\s*b"), lit(1e9))
      .when(s.rlike("[0-9]\\s*m"), lit(1e6))
      .when(s.rlike("[0-9]\\s*k"), lit(1e3))
      .otherwise(lit(1.0))
    base * mult
  }

  /** C7: conditional percent rescale — values scraped as '1.5' meaning 1.5%
    * become 0.015; already-fractional values pass through. */
  def rescalePercentUnit(c: Column): Column =
    when(c > 1.0, c / 100.0).otherwise(c)

  /** C8: overflow guard for DECIMAL(5,2) targets — |x| > 999.99 means the
    * source printed basis points; rescale. */
  def rescaleOverflow(c: Column): Column =
    when(abs(c) > 999.99, c / 100.0).otherwise(c)

  /** F10: range-bound nullify (DECIMAL(5,2) overflow -> null). */
  def nullifyOutOfRange(c: Column, bound: Double = 1000.0): Column =
    when(abs(c) >= bound, lit(null)).otherwise(c)

  /** C9: multi-format tolerant date parse (coerce to null on failure).
    * Tries ISO, then 'MMM d yyyy' ('Jan 5 2024'), then 'MM/dd/yyyy'. */
  def parseDate(c: Column): Column =
    coalesce(
      try_to_date(c, "yyyy-MM-dd"),
      try_to_date(c, "MMM d yyyy"),
      try_to_date(c, "MMM d, yyyy"),
      try_to_date(c, "MM/dd/yyyy"))

  /** C10: as_of_date inferred from a date-named directory component of the
    * input file path. */
  def dateFromPath(pathCol: Column): Column =
    try_to_date(regexp_extract(pathCol, "(\\d{4}-\\d{2}-\\d{2})", 1), "yyyy-MM-dd")

  /** Lineage: ticker from filename stem (00_price_history_cleaner.py:43). */
  def tickerFromPath(pathCol: Column): Column =
    upper(regexp_extract(pathCol,
      "([^/]+?)(?:_[a-z]+)?_(?:history|dividend|holdings|allocations)\\.csv$", 1))

  /** Lineage: asset type from an 'etf'/'fund' path segment
    * (00_price_history_cleaner.py:45). */
  def assetTypeFromPath(pathCol: Column): Column =
    when(lower(pathCol).contains("etf"), lit("ETF")).otherwise(lit("FUND"))
}
