package graft.marketviz

import graft.SparkSpec
import graft.sources.KeyedParquetStore
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The reference's full lifecycle (`app.py:9-29` + dashboard §3.2) as one
  * library flow: raw history → split-adjust ingest → keyed store upsert →
  * index computation → analytics → export shapes. */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  test("ingest -> store -> index -> analytics -> exports") {
    val raw = Seq(
      ("AAA", d("2024-01-01"), 10.0, 0.0), ("AAA", d("2024-01-02"), 5.0, 2.0),
      ("BBB", d("2024-01-01"), 3.0, 0.0), ("BBB", d("2024-01-02"), 3.3, 0.0),
      ("CCC", d("2024-01-01"), 8.0, 0.0), ("CCC", d("2024-01-02"), 8.8, 0.0)
    ).toDF("ticker", "date", "close", "stock_splits")
    val dim = Seq(("AAA", 1000L), ("BBB", 500L), ("CCC", 50L))
      .toDF("ticker", "shares_outstanding")

    // ingest (S2-S5, P1-P6, A2, J1)
    val stocks = Ingest.splitAdjust(raw, dim)

    // store with INSERT OR REPLACE semantics (S6)
    val store = Files.createTempDirectory("e2e").toString + "/stocks"
    KeyedParquetStore.upsert(spark, store, stocks.withColumn("ver", lit(1)),
      Seq("ticker", "date"), Seq($"ver"))
    val stored = KeyedParquetStore.read(spark, store).get.drop("ver")
    assert(stored.count() === 6)

    // index over ALL dates in one DAG (W2, A1, A3; app.py's per-day loop)
    val index = IndexCalculator.computeIndex(stored, k = 2)
    val day1 = index.filter($"date" === d("2024-01-01")).head()
    // caps day1: AAA 10*500=5000 (post-split-adjusted: split on Jan 2 halves
    // earlier shares), BBB 3*500=1500, CCC 8*50=400 -> top2 AAA,BBB
    assert(day1.getAs[Seq[String]]("composition") === Seq("AAA", "BBB"))
    assert(math.abs(day1.getAs[Double]("index_value") - (10.0 + 3.0) / 2) < 1e-12)

    // analytics (W3/W4/W6/W7) + export shapes (S9)
    val metrics = Analytics.summaryMetrics(index).orderBy($"date").collect()
    assert(metrics.head.getAs[Any]("daily_return") == null)
    val perf = Exports.performanceSheet(index)
    assert(perf.columns.toSeq ===
      Seq("Date", "Price", "Daily Return (%)", "Cumulative Return (%)"))
    // export alignment: the reference diffs the reversed frame, so each
    // date carries the (inverted) change FROM the previous date and the
    // OLDEST date (ascending .head) is the reference's padded '-' row
    val changes = Exports.changesSheet(index).orderBy($"Date")
      .select($"Composition Changes").as[String].collect()
    assert(changes.head === "-")

    // S9 file emission: the three-sheet workbook written and re-read
    val file = Files.createTempDirectory("sheets").toString + "/index_data.xlsx"
    SheetWriter.writeXlsx(index, file)
    val zf = new java.util.zip.ZipFile(file)
    try {
      // each sheet's rows, as the text of their cells
      def sheet(i: Int): Seq[Seq[String]] = {
        val rows = javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
          .parse(zf.getInputStream(zf.getEntry(s"xl/worksheets/sheet$i.xml")))
          .getElementsByTagName("row")
        (0 until rows.getLength).map { r =>
          val cs = rows.item(r).asInstanceOf[org.w3c.dom.Element].getElementsByTagName("c")
          (0 until cs.getLength).map(cs.item(_).getTextContent)
        }
      }
      val perfBack = sheet(1)
      assert(perfBack.head === Seq("Date", "Price", "Daily Return (%)", "Cumulative Return (%)"))
      assert(perfBack.length === 1 + 2)
      // newest-first row order survives the round trip
      assert(perfBack(1).head === "2024-01-02")
      assert(sheet(2).head === Seq("Date", "Composition"))
      assert(sheet(3).head === Seq("Date", "Composition Changes"))
    } finally zf.close()
  }
}
