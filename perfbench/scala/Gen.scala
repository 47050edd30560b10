package perfbench

import java.sql.Date
import java.time.{DayOfWeek, LocalDate}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded price history: `tickers` × `days` trading days (weekdays from
  * 2015-01-05), a log-normal random walk per ticker, split events at
  * `splitRate` per (ticker, day) with factors whose products stay exact in
  * binary floating point, and a shares-outstanding dimension. */
final class Market(seed: Long, val tickers: Int, val days: Int, splitRate: Double) {
  private val rnd = new java.util.Random(seed)
  val names: Array[String] = Array.tabulate(tickers)(i => f"T$i%04d")
  val dates: Array[Date] = Iterator.iterate(LocalDate.of(2015, 1, 5))(_.plusDays(1))
    .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
    .take(days).map(Date.valueOf).toArray
  val shares: Array[Long] = Array.fill(tickers)((math.exp(18 + 2.5 * rnd.nextDouble()) / 1000).toLong * 1000)
  private val factors = Array(2.0, 3.0, 4.0, 0.5)
  val close: Array[Array[Double]] = Array.fill(tickers) {
    var p = 10 + 490 * rnd.nextDouble()
    Array.fill(days) { p *= math.exp(0.02 * rnd.nextGaussian()); math.rint(p * 1e4) / 1e4 }
  }
  val split: Array[Array[Double]] = Array.fill(tickers, days) {
    if (rnd.nextDouble() < splitRate) factors(rnd.nextInt(factors.length)) else 0.0
  }
  def splitCount(from: Int, until: Int): Int =
    split.map(_.slice(from, until).count(_ != 0.0)).sum

  /** Raw rows for days `[from, until)`, ticker-major then date order, in
    * `files` slices (one parquet file each when written). */
  def raw(spark: SparkSession, from: Int, until: Int, files: Int): DataFrame = {
    val rows = for (t <- 0 until tickers; d <- from until until)
      yield Row(names(t), dates(d), close(t)(d), split(t)(d))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), Market.rawSchema)
  }

  def dim(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      names.indices.map(t => Row(names(t), shares(t))), 1), Market.dimSchema)
}

object Market {
  val rawSchema: StructType = StructType(Seq(
    StructField("ticker", StringType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("close", DoubleType),
    StructField("stock_splits", DoubleType)))
  val dimSchema: StructType = StructType(Seq(
    StructField("ticker", StringType, nullable = false),
    StructField("shares_outstanding", LongType)))
}

/** Seeded document corpus shaped like the registry's `documents` table:
  * Zipf-distributed vocabulary per language, a language mix, a share of
  * short or stopword-heavy docs the quality gate rejects, planted
  * near-duplicate clusters (exact copies and ~3% token edits, sizes drawn
  * from `clusterSizes`), and an eval slice (ids below `evalDocs`) that
  * some pool docs quote at length. */
final class Corpus(seed: Long, val nDocs: Int) {
  private val rnd = new java.util.Random(seed)
  val evalDocs = 20
  val contaminated = 12
  val vocab = 4000
  val zipfS = 1.1
  val dupShare = 0.2
  val clusterSizes: Seq[(Int, Double)] = Seq(2 -> 0.5, 3 -> 0.25, 5 -> 0.15, 10 -> 0.1)
  val langs: Seq[(String, Double)] = Seq("en" -> 0.4, "de" -> 0.15, "fr" -> 0.15, "es" -> 0.15, "zh" -> 0.15)
  private val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "gu",
    "ha", "je", "bi", "fo", "wu", "qi", "xe", "yo")
  private def word(lang: Int, i: Int): String = {
    val h = new java.util.Random(i * 31L + lang)
    val n = 2 + h.nextInt(3)
    (0 until n).map(_ => syll(h.nextInt(syll.length))).mkString + lang.toString
  }
  private val words: Array[Array[String]] = Array.tabulate(langs.size, vocab)(word)
  private val cdf: Array[Double] = {
    val w = (1 to vocab).map(r => 1.0 / math.pow(r, zipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val stop = Array("the", "a", "of", "and", "to", "in")
  private def zipf(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i < 0) -i - 1 else i, vocab - 1)
  }
  private def pick[T](xs: Seq[(T, Double)]): T = {
    var u = rnd.nextDouble()
    xs.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse(xs.last._1)
  }
  private def body(lang: Int, n: Int, stopRate: Double): Array[String] =
    Array.fill(n)(if (rnd.nextDouble() < stopRate) stop(rnd.nextInt(stop.length)) else words(lang)(zipf()))

  val lang: Array[Int] = Array.fill(nDocs)(pick(langs.indices.map(i => i -> langs(i)._2)))
  val tokens: Array[Array[String]] = Array.tabulate(nDocs) { i =>
    val bad = i >= evalDocs && rnd.nextDouble() < 0.1
    if (bad && rnd.nextBoolean()) body(lang(i), 10 + rnd.nextInt(25), 0.05)
    else body(lang(i), 45 + rnd.nextInt(110), if (bad) 0.4 else 0.06)
  }
  /** Planted clusters, as member ids spread over the pool so that sliding
    * windows and batches split them; the first member is the original. */
  val clusters: Seq[Seq[Int]] = {
    val pool = rnd.ints(evalDocs, nDocs).distinct().limit((nDocs - evalDocs).toLong).toArray
    val out = Seq.newBuilder[Seq[Int]]
    var used = 0
    val target = (dupShare * (nDocs - evalDocs)).toInt
    while (used < target) {
      val k = math.min(pick(clusterSizes), target - used + 1)
      if (k >= 2 && used + k <= pool.length) out += pool.slice(used, used + k).toSeq
      used += math.max(k, 1)
    }
    out.result()
  }
  clusters.foreach { members =>
    val base = tokens(members.head)
    val exact = rnd.nextDouble() < 0.3
    members.tail.foreach { m =>
      lang(m) = lang(members.head)
      tokens(m) =
        if (exact) base.clone()
        else base.map(t => if (rnd.nextDouble() < 0.03) words(lang(m))(zipf()) else t)
    }
  }
  // Contamination: pool docs that quote a 30-token span of an eval doc.
  (0 until contaminated).foreach { _ =>
    val victim = evalDocs + rnd.nextInt(nDocs - evalDocs)
    val src = tokens(rnd.nextInt(evalDocs))
    val span = src.slice(0, math.min(30, src.length))
    tokens(victim) = tokens(victim).take(20) ++ span ++ tokens(victim).drop(20)
  }

  /** `documents` rows for ids `[from, until)`. */
  def documents(spark: SparkSession, from: Int, until: Int, files: Int): DataFrame = {
    val rows = (from until until).map { i =>
      val t = tokens(i).mkString(" ")
      Row(i.toLong, t, langs(lang(i))._1, s"src${i % 20}", t.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), Corpus.schema)
  }
}

object Corpus {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))
}
