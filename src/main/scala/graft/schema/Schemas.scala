package graft.schema

import org.apache.spark.sql.types._

/** Declared schemas for the 10-table warehouse and the staging layers
  * (SURVEY.md §1.3; reference DDL at src/utils/db_connector.py:73-347).
  *
  * Differences from the reference, by design:
  *  - no SERIAL `id` (natural keys identify rows; Spark has no serial);
  *  - one canonical `row_hash` per table over natural key + payload
  *    (reference hash scopes are inconsistent, SURVEY.md §2.12);
  *  - NUMERIC(p,s) -> DecimalType(p,s) one-to-one.
  */
object Schemas {

  private def f(n: String, t: DataType, nullable: Boolean = true) =
    StructField(n, t, nullable)

  val money: DecimalType   = DecimalType(18, 4)
  val money6: DecimalType  = DecimalType(18, 6)
  val metric: DecimalType  = DecimalType(5, 2)
  val pct: DecimalType     = DecimalType(5, 4)
  val alloc: DecimalType   = DecimalType(10, 4)
  val bigAmt: DecimalType  = DecimalType(20, 2)

  /** The load-time stamp every table carries. It records when a row was
    * written, not what the row says, so it is never content: the upsert's
    * SET list leaves it out (db_connector.py:400-405) and `MergeSink`'s
    * change guard ignores it. */
  val updatedAt = "updated_at"

  /** stg_security_master (db_connector.py:73-95). Key: ticker, asset_type, source. */
  val securityMaster: StructType = StructType(Seq(
    f("ticker", StringType, nullable = false),
    f("asset_type", StringType, nullable = false),
    f("source", StringType, nullable = false),
    f("name", StringType),
    f("status", StringType),
    f("row_hash", StringType),
    f("first_seen", DateType),
    f("last_seen", DateType),
    f(updatedAt, TimestampType)))

  /** stg_price_history (db_connector.py:97-124). Key: ticker, asset_type, source, date. */
  val priceHistory: StructType = StructType(Seq(
    f("ticker", StringType, nullable = false),
    f("asset_type", StringType, nullable = false),
    f("source", StringType, nullable = false),
    f("date", DateType, nullable = false),
    f("open", money), f("high", money), f("low", money), f("close", money),
    f("adj_close", money),
    f("volume", LongType),
    f("row_hash", StringType),
    f(updatedAt, TimestampType)))

  /** stg_daily_nav (db_connector.py:126-147) — the one table WITHOUT row_hash. */
  val dailyNav: StructType = StructType(Seq(
    f("ticker", StringType, nullable = false),
    f("asset_type", StringType, nullable = false),
    f("source", StringType, nullable = false),
    f("as_of_date", DateType, nullable = false),
    f("nav_price", money),
    f("currency", StringType),
    f("scrape_date", DateType),
    f(updatedAt, TimestampType)))

  /** stg_dividend_history (db_connector.py:149-173). */
  val dividendHistory: StructType = StructType(Seq(
    f("ticker", StringType, nullable = false),
    f("asset_type", StringType, nullable = false),
    f("source", StringType, nullable = false),
    f("ex_date", DateType, nullable = false),
    f("payment_date", DateType),
    f("amount", money6),
    f("currency", StringType),
    f("type", StringType),
    f("row_hash", StringType),
    f(updatedAt, TimestampType)))

  /** stg_allocations — the EAV-shaped long table (db_connector.py:175-200). */
  val allocations: StructType = StructType(Seq(
    f("ticker", StringType, nullable = false),
    f("asset_type", StringType, nullable = false),
    f("source", StringType, nullable = false),
    f("allocation_type", StringType, nullable = false),
    f("item_name", StringType, nullable = false),
    f("as_of_date", DateType),
    f("value_net", alloc),
    f("value_category_avg", alloc),
    f("value_long", alloc),
    f("value_short", alloc),
    f("row_hash", StringType),
    f(updatedAt, TimestampType)))

  /** stg_fund_info (db_connector.py:202-234). */
  val fundInfo: StructType = StructType(Seq(
    f("ticker", StringType, nullable = false),
    f("asset_type", StringType, nullable = false),
    f("source", StringType, nullable = false),
    f("name", StringType), f("isin_number", StringType),
    f("cusip_number", StringType), f("issuer", StringType),
    f("category", StringType), f("index_benchmark", StringType),
    f("inception_date", DateType), f("exchange", StringType),
    f("region", StringType), f("country", StringType),
    f("leverage", StringType), f("options", StringType),
    f("shares_out", bigAmt), f("market_cap_size", StringType),
    f("investment_style", StringType),
    f("row_hash", StringType),
    f(updatedAt, TimestampType)))

  /** stg_fund_fees (db_connector.py:236-260). */
  val fundFees: StructType = StructType(Seq(
    f("ticker", StringType, nullable = false),
    f("asset_type", StringType, nullable = false),
    f("source", StringType, nullable = false),
    f("expense_ratio", pct), f("initial_charge", pct), f("exit_charge", pct),
    f("assets_aum", bigAmt), f("top_10_hold_pct", metric),
    f("holdings_count", IntegerType), f("holdings_turnover", metric),
    f("row_hash", StringType),
    f(updatedAt, TimestampType)))

  /** stg_fund_risk (db_connector.py:262-289), metrics per horizon. */
  val fundRisk: StructType = {
    val horizons = Seq("1y", "3y", "5y", "10y")
    val metrics  = Seq("sharpe", "beta", "alpha", "stddev", "r_squared")
    StructType(Seq(
      f("ticker", StringType, nullable = false),
      f("asset_type", StringType, nullable = false),
      f("source", StringType, nullable = false)) ++
      (for (m <- metrics; h <- horizons) yield f(s"${m}_$h", metric)) ++ Seq(
      f("rsi_daily", metric),
      f("moving_avg_200", DecimalType(10, 2)),
      f("morningstar_rating", IntegerType),
      f("row_hash", StringType),
      f(updatedAt, TimestampType)))
  }

  /** stg_fund_policy (db_connector.py:291-318). */
  val fundPolicy: StructType = StructType(Seq(
    f("ticker", StringType, nullable = false),
    f("asset_type", StringType, nullable = false),
    f("source", StringType, nullable = false),
    f("dividend_yield", metric),
    f("dividend_growth_1y", metric), f("dividend_growth_3y", metric),
    f("dividend_growth_5y", metric), f("dividend_growth_10y", metric),
    f("dividend_consecutive_years", IntegerType),
    f("payout_ratio", metric),
    f("total_return_ytd", metric), f("total_return_1y", metric),
    f("pe_ratio", metric),
    f("row_hash", StringType),
    f(updatedAt, TimestampType)))

  /** stg_fund_holdings (db_connector.py:320-347). */
  val fundHoldings: StructType = StructType(Seq(
    f("ticker", StringType, nullable = false),
    f("asset_type", StringType, nullable = false),
    f("source", StringType, nullable = false),
    f("holding_name", StringType, nullable = false),
    f("as_of_date", DateType),
    f("holding_ticker", StringType),
    f("holding_percentage", alloc),
    f("shares_held", bigAmt),
    f("market_value", bigAmt),
    f("sector", StringType),
    f("country", StringType),
    f("row_hash", StringType),
    f(updatedAt, TimestampType)))

  /** Natural keys per table (UNIQUE constraints, db_connector.py). */
  val naturalKeys: Map[String, Seq[String]] = Map(
    "stg_security_master" -> Seq("ticker", "asset_type", "source"),
    "stg_price_history"   -> Seq("ticker", "asset_type", "source", "date"),
    "stg_daily_nav"       -> Seq("ticker", "asset_type", "source", "as_of_date"),
    "stg_dividend_history" -> Seq("ticker", "asset_type", "source", "ex_date",
      "payment_date", "amount", "type"),
    "stg_allocations"     -> Seq("ticker", "asset_type", "source",
      "allocation_type", "item_name", "as_of_date"),
    "stg_fund_info"       -> Seq("ticker", "asset_type", "source"),
    "stg_fund_fees"       -> Seq("ticker", "asset_type", "source"),
    "stg_fund_risk"       -> Seq("ticker", "asset_type", "source"),
    "stg_fund_policy"     -> Seq("ticker", "asset_type", "source"),
    "stg_fund_holdings"   -> Seq("ticker", "asset_type", "source",
      "holding_name", "as_of_date"))
}
