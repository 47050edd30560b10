package graft.marketviz

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Minimal OOXML (SpreadsheetML) workbook writer — real `.xlsx` emission
  * for the report boundary with ZERO dependencies beyond the JDK: an xlsx
  * is a zip of XML parts, and `java.util.zip` + hand-built XML cover the
  * subset a data sheet needs (one `sheetData` grid, inline strings,
  * numeric cells; no styles/formulas). This closes the gap with the
  * reference's committed `index_data.xlsx` (`dashboard.py:203-226` writes
  * three sheets via xlsxwriter) without a spreadsheet jar on the
  * classpath — swap for spark-excel's `.format("excel")` when one exists.
  *
  * Report-boundary contract: one frame is COLLECTED to the driver, once;
  * each `(name, columns)` sheet is those columns of its rows, in order,
  * under a header row of the column names — one Spark plan per workbook.
  * The collect stops at `MaxRows + 1` rows, so a frame misused as a
  * data-plane sink fails before it fills the driver (the reference
  * exports 30 rows). The file goes through the Hadoop FileSystem API, so
  * HDFS/S3 paths work.
  */
object XlsxWriter {
  private[marketviz] val MaxRows = 100000

  def write(frame: DataFrame, sheets: Seq[(String, Seq[String])], path: String): Unit = {
    val rows = frame.limit(MaxRows + 1).collect()
    require(rows.length <= MaxRows,
      s"xlsx is a report sink: ${rows.length} rows exceeds maxRows=$MaxRows " +
        "(write data-plane output as parquet)")
    val p = new HPath(path)
    val fs = p.getFileSystem(frame.sparkSession.sparkContext.hadoopConfiguration)
    val out = new ZipOutputStream(fs.create(p, true))
    try {
      def part(name: String, body: String): Unit = {
        out.putNextEntry(new ZipEntry(name))
        out.write(body.getBytes("UTF-8"))
        out.closeEntry()
      }
      val n = sheets.size
      part("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          (1 to n).map(i =>
            s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
          "</Types>")
      part("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          "</Relationships>")
      part("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
          sheets.zipWithIndex.map { case ((name, _), i) =>
            s"""<sheet name="${escAttr(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
          }.mkString +
          "</sheets></workbook>")
      part("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          (1 to n).map(i =>
            s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString +
          "</Relationships>")
      sheets.zipWithIndex.foreach { case ((_, columns), i) =>
        val idx = columns.map(frame.schema.fieldIndex)
        part(s"xl/worksheets/sheet${i + 1}.xml", sheetXml(columns,
          rows.toSeq.map(r => idx.map(j => if (r.isNullAt(j)) null else r.get(j)))))
      }
    } finally out.close()
  }

  private def sheetXml(header: Seq[String], rows: Seq[Seq[Any]]): String = {
    val sb = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    def emitRow(rowIdx: Int, cells: Seq[Any]): Unit = {
      sb.append(s"""<row r="$rowIdx">""")
      cells.zipWithIndex.foreach { case (v, c) =>
        val ref = colRef(c) + rowIdx
        v match {
          case null => // omitted cell
          // NaN/Infinity are not valid SpreadsheetML numerics (Excel
          // reports a corrupt workbook); emit them as inline strings, the
          // same rendering xlsxwriter's nan_inf_to_errors=False default
          // avoids by erroring — a report cell reading "NaN" is honest.
          case n: Double if n.isNaN || n.isInfinite =>
            sb.append(s"""<c r="$ref" t="inlineStr"><is><t>$n</t></is></c>""")
          case n: Float if n.isNaN || n.isInfinite =>
            sb.append(s"""<c r="$ref" t="inlineStr"><is><t>$n</t></is></c>""")
          case n: Double => sb.append(s"""<c r="$ref"><v>$n</v></c>""")
          case n: Float => sb.append(s"""<c r="$ref"><v>$n</v></c>""")
          case n: Long => sb.append(s"""<c r="$ref"><v>$n</v></c>""")
          case n: Int => sb.append(s"""<c r="$ref"><v>$n</v></c>""")
          case n: Short => sb.append(s"""<c r="$ref"><v>$n</v></c>""")
          case n: Byte => sb.append(s"""<c r="$ref"><v>$n</v></c>""")
          case n: java.math.BigDecimal => sb.append(s"""<c r="$ref"><v>${n.toPlainString}</v></c>""")
          case b: Boolean => sb.append(s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>""")
          // java.sql.Date/Timestamp deliberately land here as ISO inline
          // strings (their toString), not Excel date serials — a styles-
          // free workbook has no number format to make a serial readable,
          // and the golden-file comparison reads text anyway.
          case other => sb.append(
            s"""<c r="$ref" t="inlineStr"><is><t>${escText(other.toString)}</t></is></c>""")
        }
      }
      sb.append("</row>")
    }
    emitRow(1, header)
    rows.zipWithIndex.foreach { case (cells, i) => emitRow(i + 2, cells) }
    sb.append("</sheetData></worksheet>")
    sb.toString
  }

  /** 0-based column index → A1-style letters (0→A, 25→Z, 26→AA). */
  private[marketviz] def colRef(idx: Int): String = {
    var i = idx
    val sb = new StringBuilder
    while (i >= 0) {
      sb.insert(0, ('A' + i % 26).toChar)
      i = i / 26 - 1
    }
    sb.toString
  }

  private def escText(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def escAttr(s: String): String =
    escText(s).replace("\"", "&quot;")
}
