package perfbench

import java.sql.Date

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.marketviz.{Analytics, Ingest, IndexCalculator, SheetWriter}
import graft.pipeline.{Dedup, Sampling, TextAnalysis}
import graft.sources.KeyedParquetStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark workload. `setup` generates the inputs from the seed;
  * `warmup` runs untimed units; `step` runs one timed unit of the
  * closed loop through `rec.op`; `finish` runs after the timed window and
  * returns the run's facts: input properties, byte counts and checks. */
abstract class Workload(val spark: SparkSession, val rec: Recorder, val root: String,
                        val seed: Long) {
  /** Input bytes handed to the timed cycles, for `write_amp`. */
  var delivered = 0L
  /** Correctness checks run in-process; each failed one fails the run. */
  val checks: mutable.LinkedHashMap[String, Boolean] = mutable.LinkedHashMap.empty
  def setup(): Unit
  def warmup(): Unit
  def step(i: Int): Unit
  def finish(): Seq[(String, Any)]
  def stores: Seq[String]

  protected def check(name: String)(ok: => Boolean): Unit = checks(name) = ok

  /** Reads count as failed ops when their result is malformed. */
  protected def expect(ok: Boolean, what: String): Unit =
    if (!ok) throw new IllegalStateException(s"read returned a malformed result: $what")
}

object Workload {
  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(f => java.nio.file.Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
        .mapToLong(f => java.nio.file.Files.size(f)).sum()
      finally s.close()
    }
  }

  def dataFiles(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(f => f.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }

  def rmrf(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }
}

/** The paper's pipeline stages, called by `MarketvizBackfill`. */
object MarketFlow {
  val stocksSchema: StructType = StructType(Seq(
    StructField("ticker", StringType), StructField("date", DateType),
    StructField("share_price", DoubleType), StructField("market_cap", DoubleType),
    StructField("effective_shares_outstanding", DoubleType),
    StructField("ver", IntegerType), StructField("month", StringType)))
  val indexSchema: StructType = StructType(Seq(
    StructField("date", DateType), StructField("index_value", DoubleType),
    StructField("composition", ArrayType(StringType)),
    StructField("ver", IntegerType), StructField("month", StringType)))
  val K = 100

  def months(dates: Seq[Date]): Seq[String] = dates.map(_.toString.take(7)).distinct

  /** raw → split-adjust → upsert into the month-partitioned `stocks`. */
  def ingest(rec: Recorder, spark: SparkSession, raw: DataFrame, dim: DataFrame,
             stocksP: String, ver: Int, ms: Seq[String]): Unit = {
    val adj = rec.face("marketviz.Ingest.splitAdjust")(Ingest.splitAdjust(raw, dim))
    rec.span("sources.KeyedParquetStore.upsert") {
      KeyedParquetStore.upsert(spark, stocksP,
        adj.withColumn("ver", lit(ver)).withColumn("month", date_format(col("date"), "yyyy-MM")),
        Seq("ticker", "date"), Seq(col("ver")), partitionCols = Seq("month"),
        partitionValues = ms.map(Seq(_)), incomingUnique = true, schema = Some(stocksSchema))
    }
  }

  def readStocks(rec: Recorder, spark: SparkSession, stocksP: String): DataFrame =
    rec.span("sources.KeyedParquetStore.read") {
      KeyedParquetStore.read(spark, stocksP, schema = Some(stocksSchema)).get
    }

  def readIndex(rec: Recorder, spark: SparkSession, indexP: String): DataFrame =
    rec.span("sources.KeyedParquetStore.read") {
      KeyedParquetStore.read(spark, indexP, schema = Some(indexSchema)).get
    }

  /** Per-day top-K index over `[from, to]` of the store → upsert. */
  def index(rec: Recorder, spark: SparkSession, stocksP: String, indexP: String, ver: Int,
            from: Date, to: Date, ms: Seq[String]): Unit = {
    val stocks = readStocks(rec, spark, stocksP)
      .filter(col("month").isin(ms: _*) && col("date").between(from, to))
      .select("ticker", "date", "share_price", "market_cap")
    val idx = rec.face("marketviz.IndexCalculator.computeIndex")(
      IndexCalculator.computeIndex(stocks, K))
    rec.span("sources.KeyedParquetStore.upsert") {
      KeyedParquetStore.upsert(spark, indexP,
        idx.withColumn("ver", lit(ver)).withColumn("month", date_format(col("date"), "yyyy-MM")),
        Seq("date"), Seq(col("ver")), partitionCols = Seq("month"),
        partitionValues = ms.map(Seq(_)), incomingUnique = true, schema = Some(indexSchema))
    }
  }

  /** The dashboard: one read op renders every face against the stores.
    * Timed as one page rather than face by face: a single face is a few
    * small jobs, and its latency spread twice as much between runs. */
  def dashboard(rec: Recorder, spark: SparkSession, stocksP: String, indexP: String,
                from: Date, selected: Date, xlsx: String): Unit = rec.op("read") {
    def idx = readIndex(rec, spark, indexP).filter(col("date") >= from)
      .select("date", "index_value", "composition")
    val stats = rec.span("marketviz.Analytics.statistics")(Analytics.statistics(idx).collect())
    if (stats.length != 1) throw new IllegalStateException("statistics: expected one row")
    val metrics = rec.span("marketviz.Analytics.summaryMetrics")(Analytics.summaryMetrics(idx).collect())
    if (metrics.isEmpty) throw new IllegalStateException("summaryMetrics: no rows")
    rec.span("marketviz.Analytics.compositionChanges")(Analytics.compositionChanges(idx).collect())
    val pie = rec.span("marketviz.Analytics.asOfComposition+pieDistribution") {
      val stocks = readStocks(rec, spark, stocksP).filter(col("date") >= from)
        .select("ticker", "date", "market_cap")
      Analytics.pieDistribution(stocks, Analytics.asOfComposition(idx, selected), 10).collect()
    }
    if (pie.length != 11) throw new IllegalStateException(s"pie: ${pie.length} buckets, expected 11")
    rec.span("marketviz.SheetWriter.writeXlsx")(SheetWriter.writeXlsx(idx, xlsx))
  }

  /** `index_data` must equal a from-scratch `computeIndex` over `stocks`:
    * same dates, same compositions, index values within 1e-9 relative. */
  def indexMatchesScratch(spark: SparkSession, stocksP: String, indexP: String): (Boolean, Long) = {
    val stocks = KeyedParquetStore.read(spark, stocksP, schema = Some(stocksSchema)).get
      .select("ticker", "date", "share_price", "market_cap")
    val want = IndexCalculator.computeIndex(stocks, K).collect()
      .map(r => r.getDate(0).toString -> (r.getDouble(1), r.getSeq[String](2))).toMap
    val got = KeyedParquetStore.read(spark, indexP, schema = Some(indexSchema)).get
      .select("date", "index_value", "composition").collect()
      .map(r => r.getDate(0).toString -> (r.getDouble(1), r.getSeq[String](2)))
    val ok = got.length == want.size && got.forall { case (d, (v, c)) =>
      want.get(d).exists { case (wv, wc) => wc == c && math.abs(v - wv) <= 1e-9 * math.abs(wv) }
    }
    (ok, got.length.toLong)
  }
}

/** Bulk batch flow: one whole pass of the paper's pipeline per timed
  * cycle, into fresh stores. */
final class MarketvizBackfill(spark: SparkSession, rec: Recorder, root: String, seed: Long)
    extends Workload(spark, rec, root, seed) {
  val tickers = 300
  val days = 300
  val splitRate = 1.0 / 2000
  val rawFiles = 4
  private var dir = ""
  private var market: Market = _
  private var lastPass = ""

  def stores: Seq[String] = Seq(s"$lastPass/stocks", s"$lastPass/index_data")

  def setup(): Unit = {
    dir = s"$root/input"
    market = new Market(seed, tickers, days, splitRate)
    market.raw(spark, 0, days, rawFiles).write.parquet(s"$dir/raw")
    market.dim(spark).write.parquet(s"$dir/dim")
  }

  private def pass(tag: String): Unit = {
    if (lastPass.nonEmpty) Workload.rmrf(lastPass)
    lastPass = s"$root/pass_$tag"
    val (stocksP, indexP) = (s"$lastPass/stocks", s"$lastPass/index_data")
    val ms = MarketFlow.months(market.dates.toSeq)
    MarketFlow.ingest(rec, spark, spark.read.parquet(s"$dir/raw"), spark.read.parquet(s"$dir/dim"),
      stocksP, 1, ms)
    MarketFlow.index(rec, spark, stocksP, indexP, 1, market.dates.head, market.dates.last, ms)
    MarketFlow.dashboard(rec, spark, stocksP, indexP, market.dates.head, market.dates.last,
      s"$lastPass/index_data.xlsx")
  }

  /** Two full-size passes: after one, or on smaller inputs, the first
    * timed passes still ran up to 1.5x slower than the later ones. */
  def warmup(): Unit = (0 until 2).foreach(k => pass(s"warm$k"))

  def step(i: Int): Unit = {
    rec.op("cycle")(pass(s"p$i"))
    delivered += Workload.dirBytes(s"$dir/raw")
  }

  def finish(): Seq[(String, Any)] = {
    val (ok, n) = MarketFlow.indexMatchesScratch(spark, stores(0), stores(1))
    check("index_data equals computeIndex over stocks")(ok && n == days)
    Seq("raw" -> s"$dir/raw", "dim" -> s"$dir/dim", "index_store" -> stores(1),
      "input" -> ListMap("rows" -> tickers * days, "tickers" -> tickers, "days" -> days,
        "split_rate" -> splitRate, "splits" -> market.splitCount(0, days), "k" -> MarketFlow.K,
        "raw_files" -> rawFiles, "row_groups_per_file" -> 1,
        "raw_bytes" -> Workload.dirBytes(s"$dir/raw")))
  }
}

/** Bulk batch flow: the registry's oracle-gated full curation chain (q81)
  * over a generated corpus, its training chunks written out, then loader
  * reads of the written chunks. A traced run recomposes q81 from its
  * public stage calls so each stage gets its own span. */
final class CurationBatch(spark: SparkSession, rec: Recorder, root: String, seed: Long)
    extends Workload(spark, rec, root, seed) {
  val nDocs = 1000
  private var dir = ""
  private var corpus: Corpus = _
  private var out = ""

  def stores: Seq[String] = Seq(s"$out/q81")

  def setup(): Unit = {
    dir = s"$root/input"
    corpus = new Corpus(seed, nDocs)
    corpus.documents(spark, 0, nDocs, 2).write.parquet(s"$dir/documents.parquet")
  }

  /** q81's chain, stage for stage as the registry composes it. */
  private def q81Stages(): DataFrame = {
    val raw = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val evalDocs = raw.filter(col("doc_id") < 20)
    val pool = raw.filter(col("doc_id") >= 20)
      .select(col("doc_id"), concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com at 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 ref 99887766"), col("doc_id").cast("string")).as("text"))
    val feats = rec.span("pipeline.TextAnalysis.qualityFilter") {
      graft.Pin.ser(TextAnalysis.qualityFilter(pool,
        minTokens = 40, maxStopwordRatio = 0.2, maxShortTokenRatio = 0.3)
        .select(col("doc_id"), col("n_tokens"), col("stopword_ratio")))
    }
    val qualityText = pool.join(feats.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val uniqueText = rec.face("pipeline.Dedup.exact")(qualityText.join(
      Dedup.exact(qualityText).select(col("kept_id").as("doc_id")), Seq("doc_id"), "left_semi"))
    val sh = rec.span("pipeline.TextAnalysis.hashedShingles") {
      graft.Pin.ser(TextAnalysis.hashedShingles(uniqueText, 3))
    }
    val clusterPairs = rec.span("pipeline.Dedup.bandSigs+confirmedPairs") {
      val sigs = graft.Pin.ser(Dedup.bandSigs(sh, numHashes = 16, rowsPerBand = 4))
      graft.Pin.ser(Dedup.confirmedPairsForClustering(sigs, sh, threshold = 0.5))
    }
    val nearIds = rec.face("pipeline.Dedup.dedupClusters+dropNonCanonical")(
      Dedup.dropNonCanonical(uniqueText.select(col("doc_id")), Dedup.dedupClusters(clusterPairs)))
    val hits = rec.face("pipeline.Dedup.contaminatedExact")(Dedup.contaminatedExact(
      sh.join(nearIds, Seq("doc_id"), "left_semi"),
      TextAnalysis.hashedShingles(evalDocs, 3), minOverlap = 10))
    val cleanIds = nearIds.join(hits, Seq("doc_id"), "left_anti")
    val selected = rec.face("pipeline.Sampling.takeTokenBudget")(Sampling.takeTokenBudget(
      feats.join(cleanIds, Seq("doc_id"), "left_semi"),
      "doc_id", col("stopword_ratio"), col("n_tokens"), budget = 20000L))
    val selText = pool.join(selected.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val redactedCol = TextAnalysis.redactPii(col("text")).collectFirst { case ("redacted", c) => c }.get
    rec.face("pipeline.TextAnalysis.redact+chunk")(TextAnalysis.chunkDocuments(
      selText.select(col("doc_id"), redactedCol.as("text")), maxTokens = 32, overlap = 8))
  }

  private def pass(tag: String): Unit = {
    if (out.nonEmpty) Workload.rmrf(out)
    out = s"$root/out_$tag"
    val q81 = rec.span("queries.PipelineQueries.q81") {
      if (rec.traced) q81Stages() else graft.SparkEntry.queries("q81_curation_full")(spark, dir)
    }
    rec.span("perfbench.write_q81")(q81.write.parquet(stores(0)))
  }

  /** A training loader's epoch start: the first batch of chunks of each
    * doc-id shard, as one read op (one shard alone is two small jobs, too
    * short to time steadily). */
  private def loaderRead(): Unit = rec.op("read") {
    (0 until 8).foreach { b =>
      val r = rec.span("perfbench.loader_read") {
        spark.read.parquet(stores(0)).filter(pmod(col("doc_id"), lit(8L)) === b)
          .orderBy(col("doc_id"), col("chunk_id")).limit(64).collect()
      }
      expect(r.nonEmpty, s"shard $b has no chunks")
    }
  }

  private var registryQ81: Option[DataFrame] = None

  /** Two full-size passes: after one, or on a smaller corpus, the timed
    * passes still ran up to 1.3x slower than the later ones. */
  def warmup(): Unit = {
    (0 until 2).foreach(k => pass(s"warm$k"))
    if (rec.traced) {
      // The recomposed chain must reproduce the registry's q81 exactly.
      val saved = s"$root/q81_registry"
      graft.SparkEntry.queries("q81_curation_full")(spark, dir).write.parquet(saved)
      registryQ81 = Some(spark.read.parquet(saved))
    }
    loaderRead()
  }

  def step(i: Int): Unit = {
    rec.op("cycle")(pass(s"p$i"))
    delivered += Workload.dirBytes(s"$dir/documents.parquet")
    loaderRead()
  }

  def finish(): Seq[(String, Any)] = {
    registryQ81.foreach { want =>
      val got = spark.read.parquet(stores(0))
      check("traced q81 recomposition equals the registry's q81")(
        got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
    val sizes = corpus.clusters.groupBy(_.size).map { case (k, v) => k.toString -> v.size }
    val oracle = graft.SparkEntry.oracleSql
    Seq("corpus" -> s"$dir/documents.parquet",
      "oracle" -> Map("q81_curation_full" -> oracle("q81_curation_full")),
      "outputs" -> Map("q81_curation_full" -> stores(0)),
      "input" -> ListMap("docs" -> nDocs, "vocab" -> corpus.vocab, "zipf_s" -> corpus.zipfS,
        "langs" -> corpus.langs.map { case (l, w) => Seq(l, w) },
        "eval_docs" -> corpus.evalDocs, "planted_clusters_by_size" -> sizes,
        "files" -> 2, "row_groups_per_file" -> 1,
        "corpus_bytes" -> Workload.dirBytes(s"$dir/documents.parquet")))
  }
}
