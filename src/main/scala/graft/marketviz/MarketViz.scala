package graft.marketviz

import graft.functions.ProductAgg.product_agg
import graft.operators.CoreOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference pipeline (SunnyChaturvedi/MarketViz) re-expressed as lazy
  * Spark transforms. The reference computes everything row-at-a-time in
  * Python/SQLite over one month of 120 tickers; here every stage is a
  * declarative DataFrame transform that holds at arbitrary scale: per-ticker
  * framing becomes `Window.partitionBy("ticker")`, per-date loops become a
  * single `groupBy("date")`, and N+1 point lookups become joins.
  */
object Schemas {
  /** `stocks` table (`/root/reference/src/data/database_manager.py:13-22`). */
  val stocks: StructType = StructType(Seq(
    StructField("ticker", StringType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("share_price", DoubleType),
    StructField("market_cap", DoubleType),
    StructField("effective_shares_outstanding", DoubleType)))

  /** `index_data` (`database_manager.py:24-31`); composition is a real
    * ordered array, not the reference's CSV-in-TEXT smuggling
    * (`equal_weight_index.py:48`). */
  val indexData: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("index_value", DoubleType),
    StructField("composition", ArrayType(StringType))))
}

object Ingest {
  /** S2: `'/' -> '-'` ticker normalization (`stock_data_fetcher.py:116`). */
  def normalizeSymbol(c: Column): Column = translate(c, "/", "-")

  /** P1-P6 + A2/W5 + J1: split adjustment. Input `raw` has one row per
    * (ticker, date) with `close` and `stock_splits` (0.0 = no split); `dim`
    * is the tiny `(ticker, shares_outstanding)` table — broadcast, the
    * reference applies it as a per-ticker Python scalar
    * (`stock_data_fetcher.py:59-68`).
    *
    * The reference walks each ticker newest-first and cumprods the split
    * factor (`:52,:64-66`): a row's cumulative factor includes every split
    * on dates AFTER OR ON its own date, so
    * `effective_shares = shares_outstanding / cumFactor` and
    * `market_cap = close * effective_shares`. The newest-first pandas
    * cumprod maps to a window ordered `date DESC` with an
    * unbounded-preceding frame — per-ticker partitions, no global sort (P1's
    * `[::-1]` reversal dissolves into the frame direction).
    *
    * The inner join reproduces S4's raise-on-missing by dropping tickers
    * absent from the dim (`stock_data_fetcher.py:59-62`); use
    * `requireShares` to assert instead.
    */
  def splitAdjust(raw: DataFrame, dim: DataFrame, requireShares: Boolean = false): DataFrame = {
    val w = Window.partitionBy("ticker").orderBy(col("date").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val factor = when(col("stock_splits") === 0d, 1d).otherwise(col("stock_splits"))
    val joined =
      raw.join(broadcast(dim.filter(col("shares_outstanding").isNotNull)),
        Seq("ticker"), if (requireShares) "left" else "inner")
    val checked =
      if (requireShares)
        // assert_true returns null when the condition holds and raises
        // otherwise — reproduces the reference's ValueError (S4).
        joined.withColumn("shares_outstanding",
          when(assert_true(col("shares_outstanding").isNotNull,
            concat(lit("Shares outstanding data not available for "), col("ticker"))).isNull,
            col("shares_outstanding")))
      else joined
    checked
      .withColumn("cum_split_factor", product_agg(factor).over(w))
      .withColumn("effective_shares_outstanding",
        col("shares_outstanding") / col("cum_split_factor"))
      .withColumn("share_price", col("close"))
      .withColumn("market_cap", col("share_price") * col("effective_shares_outstanding"))
      .select("ticker", "date", "share_price", "market_cap", "effective_shares_outstanding")
  }
}

object IndexCalculator {
  /** §3.1's per-day loop (`app.py:22-23` + `equal_weight_index.py:9-54`) as
    * ONE lazy DAG over all dates: per-date top-K by market cap
    * (tiebreak ticker — the reference relies on stable sort), index value
    * Σ(share_price)/K (constant-K divisor even for short days,
    * `equal_weight_index.py:47`), composition as the cap-ordered ticker
    * array. One shuffle on `date`; rank-limit pushdown keeps K rows per
    * partition before the agg.
    *
    * The Σ is [[CoreOps.exactSum]] at its default scale 4: exact, and
    * the same under any partitioning, for prices on the 1e-4 tick. A
    * plain double sum depends on the order rows reach it.
    */
  def computeIndex(stocks: DataFrame, k: Int): DataFrame =
    CoreOps.topKPerGroup(stocks,
        part = Seq(col("date")),
        order = Seq(col("market_cap").desc, col("ticker")), k = k)
      .groupBy(col("date"))
      .agg(
        (CoreOps.exactSum(col("share_price")) / k).as("index_value"),
        CoreOps.orderedCollect(col("rn"), col("ticker")).as("composition"))

  /** §3.3 point query (`equal_weight_index.py:56-71`). */
  def indexAtDate(indexData: DataFrame, date: java.sql.Date): DataFrame =
    indexData.filter(col("date") === lit(date))
}

object Analytics {
  // Each derived dashboard column is defined once, here, over the one date
  // order of the index series (one row per date: the sanctioned global
  // window). Columns resolve lazily, so a bare `(date, index_value)`
  // series serves the value faces.
  private val byDate = Window.orderBy(col("date"))
  private val value = col("index_value")
  private val prevValue = lag(value, 1).over(byDate)
  private def percentFrom(base: Column): Column = (value - base) / base * 100

  /** W3+W4 (`dashboard.py:193-201`): daily and cumulative percent
    * returns, the daily one null on the first date. Each window value is
    * a column of its own that its return reads twice: written inline, the
    * analyzer would give each occurrence its own window expression and
    * compute the lag and the first value twice a row. */
  def summaryMetrics(indexData: DataFrame): DataFrame =
    indexData.select(col("*"), prevValue.as("__prev"), first(value).over(
        byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("__first"))
      .withColumn("daily_return", percentFrom(col("__prev")))
      .withColumn("cumulative_return", percentFrom(col("__first")))
      .drop("__prev", "__first")

  /** W6/W7: adds the previous date's composition (`prev`) and the
    * order-preserving diff against it (`added`, `removed`). */
  private[graft] def compositionDiff(indexData: DataFrame): DataFrame =
    CoreOps.lagArrayDiff(indexData, Nil, Seq(col("date")), col("composition"))

  /** The export sheet's change string over [[compositionDiff]]: W7's with
    * the added/removed roles swapped ([[Exports]] says why). */
  private[graft] val exportChange: Column = CoreOps.changeString(col("removed"), col("added"))

  /** The headline stat tiles (`dashboard.py:146-156`): latest index value,
    * absolute daily change, percent daily return — last two rows of the
    * ordered series, as one row. */
  def statistics(indexData: DataFrame): DataFrame =
    indexData.withColumn("prev", prevValue)
      .orderBy(col("date").desc).limit(1)
      .select(value.as("current_value"), (value - col("prev")).as("daily_change"),
        percentFrom(col("prev")).as("daily_return"))

  /** W6 (`dashboard.py:158-172`): dates whose constituent SET differs from
    * the previous date's (order changes alone don't count — the reference
    * compares `set(...)`). */
  def compositionChangeDates(indexData: DataFrame): DataFrame = {
    val (cur, prev) = (col("composition"), col("prev"))
    compositionDiff(indexData).filter(prev.isNotNull &&
        (size(array_except(cur, prev)) > 0 || size(array_except(prev, cur)) > 0))
      .select("date")
  }

  /** W7 (`dashboard.py:174-190`): per-date `+(added) , -(removed)` strings,
    * order-preserving, `-` for unchanged and for the first date. */
  def compositionChanges(indexData: DataFrame): DataFrame =
    compositionDiff(indexData).select(col("date"),
      CoreOps.changeString(col("added"), col("removed")).as("composition_changes"))

  /** J2+A4+P10 (`dashboard.py:88-144`): market-cap distribution of the
    * latest composition — top-`k` constituents individually (cap in
    * billions, 1dp) plus one OTHERS bucket. The reference's N+1 per-ticker
    * lookups collapse into: latest caps per ticker (W1) joined to the
    * exploded composition (broadcast — K rows), bucketed, one agg. */
  def pieDistribution(stocks: DataFrame, composition: DataFrame, k: Int): DataFrame = {
    val latestCaps = CoreOps.latestPerGroup(stocks.select("ticker", "date", "market_cap"),
      Seq(col("ticker")), Seq(col("date").desc))
    val exploded = composition
      .select(posexplode(col("composition")).as(Seq("pos", "ticker")))
    exploded.join(latestCaps.drop("date"), Seq("ticker"))
      .withColumn("bucket", when(col("pos") < k, col("ticker")).otherwise(lit("OTHERS")))
      .groupBy("bucket")
      .agg(round(sum(col("market_cap")) / 1e9, 1).as("market_cap_billions"),
           min("pos").as("pos"))
      .orderBy("pos")
      .drop("pos")
  }

  /** J4 (`dashboard.py:317-349`): composition at `selected` with holiday
    * fallback — walk back at most 4 days (the reference errors once 5
    * look-backs fail); empty result = the reference's error path. */
  def asOfComposition(indexData: DataFrame, selected: java.sql.Date): DataFrame =
    CoreOps.asOfBackward(indexData, part = Nil, ts = col("date"), probe = lit(selected),
      maxBack = expr("INTERVAL 5 DAYS"), order = Seq(col("date").desc))

  /** O3+O2 (`dashboard.py:364-373`): last `n` dates of the metrics table,
    * newest first. */
  def tailReport(metrics: DataFrame, n: Int): DataFrame =
    metrics.orderBy(col("date").desc).limit(n)
}

/** §5's golden report shapes — the three xlsx sheets the reference commits
  * (`dashboard.py:203-226`), as projections of one newest-first frame
  * ([[workbook]]) whose columns are the dashboard's; actual file emission
  * is an export boundary (see [[SheetWriter]]).
  *
  * Row order: the reference reverses its metrics frame to NEWEST-FIRST
  * before exporting (`dashboard.py:372` then `:387`), so all three sheets
  * are `Date` descending.
  *
  * The changes sheet's alignment is NOT the dashboard's: the reference
  * RE-runs `_get_composition_changes_tickers` inside `_export_to_excel`
  * (`dashboard.py:217`) on the frame that was already reversed to
  * newest-first (`dashboard.py:372`), so on the export sheet each row's
  * "prev" neighbor is the OLDER date and the diff comes out inverted —
  * row at date d is labeled `+(comp(older) \ comp(d)) , -(comp(d) \
  * comp(older))` (chronologically-removed tickers appear under '+'),
  * and the length-pad '-' (`dashboard.py:188-190`) lands on the OLDEST
  * row. Verified cell-for-cell against the committed golden
  * `index_data.xlsx` sheet 3 (e.g. the 11-29→12-02 transition shows
  * `+(TTE) , -(PANW)` on 2024-12-02 though PANW was the one added).
  * That is exactly the date-ASC diff with the added/removed roles
  * SWAPPED in the label ([[Analytics.exportChange]]); in-paren order
  * follows the source arrays (older comp for '+', current comp for '-'),
  * which the order-preserving diff keeps. The chronological/display
  * alignment (W7) lives in [[Analytics.compositionChanges]]. */
object Exports {
  /** The golden workbook's three sheets, by their committed names, each
    * with its header row: column names of [[workbook]]. */
  private[marketviz] val sheets: Seq[(String, Seq[String])] = Seq(
    "Performance" -> Seq("Date", "Price", "Daily Return (%)", "Cumulative Return (%)"),
    "Composition" -> Seq("Date", "Composition"),
    "Composition Changes" -> Seq("Date", "Composition Changes"))

  /** Every sheet's columns in one newest-first frame. */
  private[marketviz] def workbook(indexData: DataFrame): DataFrame =
    Analytics.summaryMetrics(Analytics.compositionDiff(indexData))
      .select(col("date").as("Date"), col("index_value").as("Price"),
        col("daily_return").as("Daily Return (%)"),
        col("cumulative_return").as("Cumulative Return (%)"),
        array_join(col("composition"), ",").as("Composition"),
        Analytics.exportChange.as("Composition Changes"))
      .orderBy(col("Date").desc)

  private def sheet(indexData: DataFrame, name: String): DataFrame =
    workbook(indexData).select(sheets.toMap.apply(name).map(col): _*)

  def performanceSheet(indexData: DataFrame): DataFrame = sheet(indexData, "Performance")

  def compositionSheet(indexData: DataFrame): DataFrame = sheet(indexData, "Composition")

  def changesSheet(indexData: DataFrame): DataFrame = sheet(indexData, "Composition Changes")
}

/** S9 file emission. The reference writes one xlsx with three sheets via
  * xlsxwriter (`dashboard.py:203-226`); `writeXlsx` reproduces that as a
  * real `index_data.xlsx` — same workbook shape (sheet names, header row,
  * newest-first rows) — via the dependency-free [[XlsxWriter]]. One Spark
  * plan feeds all three sheets: [[Exports.workbook]] holds every sheet's
  * columns, and the writer collects it to the driver once and cuts each
  * sheet from the same rows. The driver collect is deliberate: a report
  * is dashboard-sized output (the reference exports 30 rows), not
  * data-plane output — the upstream plan still computes distributed. */
object SheetWriter {
  /** One `.xlsx` workbook, three sheets — the reference's export file. */
  def writeXlsx(indexData: DataFrame, file: String): Unit =
    XlsxWriter.write(Exports.workbook(indexData), Exports.sheets, file)
}
