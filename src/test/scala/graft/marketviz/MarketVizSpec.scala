package graft.marketviz

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** FIXTURES.md §B: hand-built stocks-shaped fixtures exercising the
  * reference semantics edge cases. */
class MarketVizSpec extends SparkSpec {
  import spark.implicits._

  // --- ingest fixture: AAA has a 2:1 split on Jan 3; BBB has none; C/D
  // has a '/'-symbol; MISS is absent from the shares dim.
  private lazy val raw = Seq(
    ("AAA", d("2024-01-01"), 10.0, 0.0),
    ("AAA", d("2024-01-02"), 10.0, 0.0),
    ("AAA", d("2024-01-03"), 5.0, 2.0), // 2:1 split
    ("AAA", d("2024-01-04"), 5.2, 0.0),
    ("BBB", d("2024-01-01"), 3.0, 0.0),
    ("BBB", d("2024-01-02"), 3.3, 0.0),
    ("MISS", d("2024-01-01"), 1.0, 0.0)
  ).toDF("ticker", "date", "close", "stock_splits")

  private lazy val dim = Seq(("AAA", 1000L), ("BBB", 500L), ("C/D", 100L))
    .toDF("ticker", "shares_outstanding")

  test("symbol normalization replaces '/' with '-' (S2)") {
    val got = Seq("BRK/B", "AAPL").toDF("s")
      .select(Ingest.normalizeSymbol($"s")).as[String].collect()
    assert(got.toSeq === Seq("BRK-B", "AAPL"))
  }

  test("splitAdjust: newest-first cumprod divides shares before the split (A2/W5)") {
    val got = Ingest.splitAdjust(raw, dim)
      .filter($"ticker" === "AAA").orderBy($"date")
      .select($"effective_shares_outstanding", $"market_cap")
      .as[(Double, Double)].collect()
    // Newest-first walk: Jan4 factor 1 -> shares 1000; Jan3 split 2.0 ->
    // cum 2 -> shares 500; Jan2/Jan1 stay at cum 2 -> 500.
    assert(got.map(_._1).toSeq === Seq(500.0, 500.0, 500.0, 1000.0))
    assert(got.map(_._2).toSeq === Seq(5000.0, 5000.0, 2500.0, 5200.0))
  }

  test("splitAdjust drops tickers missing from the dim (S4 inner-join mode)") {
    val tickers = Ingest.splitAdjust(raw, dim)
      .select($"ticker").distinct().as[String].collect().toSet
    assert(tickers === Set("AAA", "BBB"))
  }

  test("splitAdjust raises for missing dim rows when required (S4 raise mode)") {
    val ex = intercept[Exception] {
      Ingest.splitAdjust(raw, dim, requireShares = true).collect()
    }
    assert(ex.getMessage.contains("MISS") || ex.getMessage.contains("Shares outstanding"))
  }

  // --- index fixture (K=3): day2 has a short group (2 rows -> Σ/K
  // deflation); day3 swaps ranks; day4 adds/drops members; caps tie on day5.
  private lazy val stocks = Seq(
    ("A", d("2024-01-01"), 10.0, 100.0), ("B", d("2024-01-01"), 20.0, 90.0),
    ("C", d("2024-01-01"), 30.0, 80.0), ("D", d("2024-01-01"), 40.0, 70.0),
    ("A", d("2024-01-02"), 11.0, 100.0), ("B", d("2024-01-02"), 21.0, 90.0),
    ("A", d("2024-01-03"), 12.0, 90.0), ("B", d("2024-01-03"), 22.0, 100.0),
    ("C", d("2024-01-03"), 32.0, 80.0),
    ("B", d("2024-01-04"), 23.0, 100.0), ("C", d("2024-01-04"), 33.0, 80.0),
    ("E", d("2024-01-04"), 5.0, 95.0),
    ("A", d("2024-01-05"), 1.0, 50.0), ("B", d("2024-01-05"), 2.0, 50.0),
    ("C", d("2024-01-05"), 3.0, 50.0)
  ).toDF("ticker", "date", "share_price", "market_cap")

  private lazy val index = IndexCalculator.computeIndex(stocks, k = 3)

  test("computeIndex: top-K by cap, Σ/K with constant divisor on short days (A1/W2/A3)") {
    val rows = index.orderBy($"date")
      .select($"index_value", array_join($"composition", ",")).as[(Double, String)].collect()
    assert(rows(0) === ((10.0 + 20.0 + 30.0) / 3.0, "A,B,C")) // cap order desc
    assert(rows(1) === ((11.0 + 21.0) / 3.0, "A,B"))          // short day deflates
    assert(rows(2) === ((22.0 + 12.0 + 32.0) / 3.0, "B,A,C")) // rank swap
    assert(rows(3) === ((23.0 + 5.0 + 33.0) / 3.0, "B,E,C"))  // add E drop A
    assert(rows(4) === ((1.0 + 2.0 + 3.0) / 3.0, "A,B,C"))    // tie -> ticker asc
  }

  test("computeIndex sums share prices exactly under any partitioning (A1)") {
    // ten 0.1 prices: a plain double Σ in row order is 0.9999999999999999
    assert(Seq.fill(10)(0.1).sum != 1.0)
    val tenths = (0 until 10).map(i => (s"T$i", d("2024-01-01"), 0.1, 100.0 - i))
      .toDF("ticker", "date", "share_price", "market_cap")
    for (n <- Seq(1, 4)) {
      val got = IndexCalculator.computeIndex(tenths.repartition(n), k = 10)
        .select($"index_value").as[Double].collect().toSeq
      assert(got === Seq(1.0 / 10), s"under $n partitions")
    }
  }

  test("indexAtDate point lookup returns one row or none (P9)") {
    assert(IndexCalculator.indexAtDate(index, d("2024-01-02")).count() === 1)
    assert(IndexCalculator.indexAtDate(index, d("2024-02-01")).count() === 0)
  }

  test("summaryMetrics: first-row nulls, then lag/first returns (W3/W4)") {
    val m = Analytics.summaryMetrics(index).orderBy($"date")
      .select($"daily_return", $"cumulative_return").as[(Option[Double], Double)].collect()
    assert(m(0)._1.isEmpty && m(0)._2 === 0.0)
    val v0 = (10.0 + 20.0 + 30.0) / 3
    val v1 = (11.0 + 21.0) / 3
    assert(math.abs(m(1)._1.get - (v1 - v0) / v0 * 100) < 1e-9)
    assert(math.abs(m(1)._2 - (v1 - v0) / v0 * 100) < 1e-9)
  }

  test("statistics returns latest value, daily change, daily return") {
    val got = Analytics.statistics(index).head()
    val v4 = (23.0 + 5.0 + 33.0) / 3
    val v5 = (1.0 + 2.0 + 3.0) / 3
    assert(math.abs(got.getAs[Double]("current_value") - v5) < 1e-12)
    assert(math.abs(got.getAs[Double]("daily_change") - (v5 - v4)) < 1e-12)
    assert(math.abs(got.getAs[Double]("daily_return") - (v5 - v4) / v4 * 100) < 1e-9)
  }

  test("compositionChangeDates flags set changes only (W6)") {
    val got = Analytics.compositionChangeDates(index).orderBy($"date")
      .as[java.sql.Date].collect().toSeq
    // day2: {A,B} != {A,B,C}; day3: {A,B,C} != {A,B}; day4: {B,E,C} != {A,B,C};
    // day5: {A,B,C} != {B,C,E}. Day3's rank swap alone would NOT count, but
    // its set also differs from day2's.
    assert(got === Seq(d("2024-01-02"), d("2024-01-03"), d("2024-01-04"), d("2024-01-05")))
  }

  test("compositionChanges formats order-preserving diffs (W7)") {
    val got = Analytics.compositionChanges(index).orderBy($"date")
      .select($"composition_changes").as[String].collect().toSeq
    assert(got === Seq("-", "+() , -(C)", "+(C) , -()", "+(E) , -(A)", "+(A) , -(E)"))
  }

  test("pieDistribution: top-k tickers plus OTHERS bucket in billions (J2/A4/P10)") {
    val bigStocks = Seq(
      ("A", d("2024-01-01"), 1.0, 5.0e9), ("B", d("2024-01-01"), 1.0, 3.0e9),
      ("C", d("2024-01-01"), 1.0, 2.0e9), ("D", d("2024-01-01"), 1.0, 1.0e9)
    ).toDF("ticker", "date", "share_price", "market_cap")
    val comp = Seq(Tuple1(Seq("A", "B", "C", "D"))).toDF("composition")
    val got = Analytics.pieDistribution(bigStocks, comp, k = 2)
      .select($"bucket", $"market_cap_billions").as[(String, Double)].collect().toSeq
    assert(got === Seq(("A", 5.0), ("B", 3.0), ("OTHERS", 3.0)))
  }

  test("asOfComposition falls back at most 4 days (J4)") {
    assert(Analytics.asOfComposition(index, d("2024-01-08")).count() === 1) // Jan 5 within 4
    assert(Analytics.asOfComposition(index, d("2024-01-10")).count() === 0) // beyond bound
  }

  test("export sheets match the reference's golden shapes (S9)") {
    assert(Exports.performanceSheet(index).columns.toSeq ===
      Seq("Date", "Price", "Daily Return (%)", "Cumulative Return (%)"))
    assert(Exports.compositionSheet(index).columns.toSeq === Seq("Date", "Composition"))
    val changes = Exports.changesSheet(index)
    assert(changes.columns.toSeq === Seq("Date", "Composition Changes"))
    // Newest first. The reference recomputes the diff on the already
    // REVERSED frame inside _export_to_excel (dashboard.py:372 → :217),
    // so each row's diff is against the OLDER date with +/- inverted
    // (the '+' set is the tickers present only in the older composition)
    // and the length-pad '-' lands on the OLDEST row — matches the
    // committed golden index_data.xlsx sheet 3 cell-for-cell.
    val vals = changes.select($"Composition Changes").as[String].collect()
    assert(vals.toSeq === Seq(
      "+(E) , -(A)", // Jan5 vs Jan4 {B,E,C}: E only in older, A only in newer
      "+(A) , -(E)", // Jan4 vs Jan3 {B,A,C}
      "+() , -(C)",  // Jan3 vs Jan2 {A,B}: C newly present -> under '-'
      "+(C) , -()",  // Jan2 vs Jan1 {A,B,C}: C dropped -> under '+'
      "-"))          // oldest row: the pad
  }

  test("writeXlsx emits a real 3-sheet OOXML workbook (zip + XML parse round-trip, S9)") {
    val file = java.nio.file.Files.createTempDirectory("xlsx").toString + "/index_data.xlsx"
    SheetWriter.writeXlsx(index, file)
    val zf = new java.util.zip.ZipFile(file)
    try {
      def parse(entry: String): org.w3c.dom.Document =
        javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
          .parse(zf.getInputStream(zf.getEntry(entry)))
      def cellTexts(row: org.w3c.dom.Node): Seq[String] = {
        val cs = row.asInstanceOf[org.w3c.dom.Element].getElementsByTagName("c")
        (0 until cs.getLength).map { i =>
          val e = cs.item(i).asInstanceOf[org.w3c.dom.Element]
          val t = e.getElementsByTagName("t")
          if (t.getLength > 0) t.item(0).getTextContent
          else e.getElementsByTagName("v").item(0).getTextContent
        }
      }
      // workbook structure: the golden file's three sheet names, in order
      val sheetNodes = parse("xl/workbook.xml").getElementsByTagName("sheet")
      assert((0 until sheetNodes.getLength).map(i =>
        sheetNodes.item(i).getAttributes.getNamedItem("name").getNodeValue)
        === Seq("Performance", "Composition", "Composition Changes"))
      // Performance: golden header row
      assert(cellTexts(parse("xl/worksheets/sheet1.xml")
        .getElementsByTagName("row").item(0))
        === Seq("Date", "Price", "Daily Return (%)", "Cumulative Return (%)"))
      // Composition Changes: newest-first inverted diffs, '-' pad on the
      // OLDEST (= last) row — the golden sheet-3 shape
      val rows = parse("xl/worksheets/sheet3.xml").getElementsByTagName("row")
      assert(cellTexts(rows.item(0)) === Seq("Date", "Composition Changes"))
      assert(cellTexts(rows.item(1)) === Seq("2024-01-05", "+(E) , -(A)"))
      assert(cellTexts(rows.item(rows.getLength - 1)).last === "-")
    } finally zf.close()
  }

  test("writeXlsx runs one Spark plan, and each sheet holds its Exports sheet's rows (S9)") {
    val sheets = Seq(Exports.performanceSheet(index), Exports.compositionSheet(index),
      Exports.changesSheet(index)).map(_.collect().toSeq)
    val file = java.nio.file.Files.createTempDirectory("xlsx_one").toString + "/index_data.xlsx"
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          executions.incrementAndGet()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    // the listener bus is async: drain it so only writeXlsx's events count
    org.apache.spark.GraftSparkInternals.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      SheetWriter.writeXlsx(index, file)
      org.apache.spark.GraftSparkInternals.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(executions.get === 1, "SQL executions started by one writeXlsx")
    val zf = new java.util.zip.ZipFile(file)
    try sheets.zipWithIndex.foreach { case (want, i) =>
      val rows = javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
        .parse(zf.getInputStream(zf.getEntry(s"xl/worksheets/sheet${i + 1}.xml")))
        .getElementsByTagName("row")
      // every data row's cells by A1 ref; a null cell is omitted
      val got = (1 until rows.getLength).map { r =>
        val cs = rows.item(r).asInstanceOf[org.w3c.dom.Element].getElementsByTagName("c")
        (0 until cs.getLength).map { c =>
          val e = cs.item(c).asInstanceOf[org.w3c.dom.Element]
          e.getAttribute("r") -> e.getTextContent
        }.toMap
      }
      val expected = want.zipWithIndex.map { case (row, r) =>
        (0 until row.length).filterNot(row.isNullAt)
          .map(j => s"${XlsxWriter.colRef(j)}${r + 2}" -> row.get(j).toString).toMap
      }
      assert(got === expected, s"sheet ${i + 1}")
    } finally zf.close()
  }

  test("XlsxWriter refuses a data-plane-sized frame as a report sink") {
    val file = java.nio.file.Files.createTempDirectory("xlsx_big").toString + "/big.xlsx"
    val ex = intercept[IllegalArgumentException] {
      XlsxWriter.write(spark.range(XlsxWriter.MaxRows + 1).toDF(), Seq("S" -> Seq("id")), file)
    }
    assert(ex.getMessage.contains("xlsx is a report sink"))
  }

  test("XlsxWriter column refs and XML escaping cover the A1 grammar") {
    assert(XlsxWriter.colRef(0) === "A")
    assert(XlsxWriter.colRef(25) === "Z")
    assert(XlsxWriter.colRef(26) === "AA")
    assert(XlsxWriter.colRef(27) === "AB")
    assert(XlsxWriter.colRef(51) === "AZ")
    assert(XlsxWriter.colRef(52) === "BA")
    assert(XlsxWriter.colRef(701) === "ZZ")
    assert(XlsxWriter.colRef(702) === "AAA")
    // special characters in cell text survive the zip + DOM round-trip
    val file = java.nio.file.Files.createTempDirectory("xlsx_esc").toString + "/esc.xlsx"
    XlsxWriter.write(Seq(("a<b&c>d", "\"quoted\"")).toDF("x", "y"),
      Seq("S" -> Seq("x", "y")), file)
    val zf = new java.util.zip.ZipFile(file)
    try {
      val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
        .parse(zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml")))
      val ts = doc.getElementsByTagName("t")
      val texts = (0 until ts.getLength).map(ts.item(_).getTextContent)
      assert(texts.contains("a<b&c>d") && texts.contains("\"quoted\""))
    } finally zf.close()
  }

  test("XlsxWriter emits non-finite doubles as inline strings, not corrupt numerics") {
    // <v>NaN</v> is not a valid SpreadsheetML numeric and makes Excel
    // report a corrupt workbook — non-finite values must land as text
    val file = java.nio.file.Files.createTempDirectory("xlsx_nan").toString + "/nan.xlsx"
    XlsxWriter.write(Seq((Double.NaN, Double.PositiveInfinity, 1.5)).toDF("a", "b", "c"),
      Seq("S" -> Seq("a", "b", "c")), file)
    val zf = new java.util.zip.ZipFile(file)
    try {
      val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
        .parse(zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml")))
      val ts = doc.getElementsByTagName("t")
      val texts = (0 until ts.getLength).map(ts.item(_).getTextContent)
      assert(texts.contains("NaN") && texts.contains("Infinity"))
      val vs = doc.getElementsByTagName("v")
      val nums = (0 until vs.getLength).map(vs.item(_).getTextContent)
      assert(!nums.exists(v => v == "NaN" || v.contains("Infinity")))
      assert(nums.contains("1.5")) // finite doubles stay numeric cells
    } finally zf.close()
  }

  test("tailReport keeps the last n dates newest-first (O3/O2)") {
    val got = Analytics.tailReport(index, 2).select($"date").as[java.sql.Date].collect().toSeq
    assert(got === Seq(d("2024-01-05"), d("2024-01-04")))
  }
}
