package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev utility (r12 verdict item 5): age every persisted-index family
  * through MANY batches — far past the 2-3-batch correctness witnesses
  * (q49/q71/q72/q79) — with maintenance cadence on, and record whether
  * per-batch cost stays batch-sized and file counts stay bounded as the
  * store accumulates dozens of partitions. The two regressions this
  * exists to catch:
  *
  *  - per-batch seconds growing with STORE size (an ingest face
  *    silently re-reading the accumulated corpus);
  *  - file counts growing without bound between maintenance passes
  *    (compaction not actually bounding the small-file population).
  *
  * Families: `dedup` ([[graft.pipeline.IncrementalDedup]]), `bm25`
  * ([[graft.pipeline.IncrementalBm25]], roll-up cadence), `ivf`
  * ([[graft.pipeline.IncrementalIvf]], retrain cadence), `embed`
  * ([[graft.pipeline.IncrementalEmbedDedup]]). Batches split by
  * `xxhash64(id) % n` (the r12 lesson: a modulo split leaves every
  * ScaleUp replica class in one batch and the vs-store faces idle).
  * Every `compactEvery`-th batch runs the family's maintenance —
  * [[graft.sources.KeyedParquetStore.compact]] on each store, plus the
  * BM25 partial roll-up / IVF retrain where the module defines one —
  * timed separately from ingest (`maint_sec`).
  *
  * Output: one JSONL line per (family, batch) on stdout —
  * `{"family","batch","sec","maint_sec","rows","store_keys","files","dirs"}`
  * where `files` is the store-tree data-file count and `dirs` the
  * `batch=` partition-directory population AFTER any maintenance. Flat
  * `sec` + sawtooth-bounded `files`/`dirs` is the pass. Since the r14
  * geometric fold gate, `dirs` is the axis that shows the gate working:
  * it grows between folds (deferred O(store) rewrites) and collapses at
  * them, bounded by the byte-fraction/count triggers rather than by the
  * cadence.
  *
  * Usage: `runMain graft.StoreAgingProbe <sfDir> <storeRoot> <nBatches>
  * <compactEvery> [families]` (families comma-separated, default all).
  *
  * The `refresh` family (r16, q95's done-criterion) ages the CRAWL
  * REFRESH loop rather than a plain ingest: snapshot i is a sliding
  * id window over `documents` (75 ids scroll out per cycle = removed,
  * 75 scroll in = new) with two rotating 1/15 id classes flipping a
  * version marker (= changed, ~13% of the window per cycle); each
  * cycle diffs snapshot i against snapshot i-1 via
  * [[graft.pipeline.TextAnalysis.docStatus]], retires removed+changed
  * through [[graft.pipeline.IncrementalDedup.retireDocs]] AND
  * [[graft.pipeline.IncrementalBm25.retireDocs]], and ingests ONLY
  * new+changed into both. The pass is per-cycle `sec` tracking the DELTA
  * (flat), not the accumulated store — the regression this catches is
  * a retire or routing step that silently rescans the whole index.
  * Window constants are sized for sf0.1 (5000 doc ids): 2000-id
  * window, 75-id step, valid through 40 cycles.
  */
object StoreAgingProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 4 || args.length == 5,
      "usage: graft.StoreAgingProbe <sfDir> <storeRoot> <nBatches> <compactEvery> [families]")
    val Array(sfDir, storeRoot, nStr, ceStr) = args.take(4)
    val n = nStr.toInt
    val compactEvery = ceStr.toInt
    require(n >= 2 && compactEvery >= 1, s"need nBatches >= 2, compactEvery >= 1")
    val families = if (args.length == 5) args(4).split(",").map(_.trim).toSet
      else Set("dedup", "bm25", "ivf", "embed", "refresh", "refreshvec",
        "growvec")
    val spark = Session.local()
    import graft.sources.KeyedParquetStore

    def dataFiles(paths: Seq[String]): Long = paths.map { p =>
      val root = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.exists(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter(f => {
          val nm = f.getFileName.toString
          java.nio.file.Files.isRegularFile(f) && nm.endsWith(".parquet") &&
            !nm.startsWith(".") && !nm.startsWith("_")
        }).count()
        finally s.close()
      }
    }.sum

    def batchDirs(paths: Seq[String]): Long = paths.map { p =>
      val root = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.exists(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter(f => java.nio.file.Files.isDirectory(f) &&
          f.getFileName.toString.startsWith("batch=")).count()
        finally s.close()
      }
    }.sum

    def run(family: String, stores: Seq[String],
            ingest: (DataFrame, Int) => DataFrame,
            maint: Int => Unit,
            batchOf: Int => DataFrame,
            keyStore: String,
            extra: Int => String = _ => ""): Unit = {
      for (i <- 0 until n) {
        val b = batchOf(i)
        val t0 = System.nanoTime()
        val rows = ingest(b, i).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val tm = System.nanoTime()
        val maintained = (i + 1) % compactEvery == 0
        if (maintained) {
          maint(i)
          stores.foreach { p =>
            if (java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
              KeyedParquetStore.compact(spark, p)
          }
        }
        val maintSec = if (maintained) (System.nanoTime() - tm) / 1e9 else 0.0
        val keys = KeyedParquetStore.read(spark, keyStore).map(_.count()).getOrElse(0L)
        println(f"""{"family":"$family","batch":$i,"sec":$sec%.2f,""" +
          f""""maint_sec":$maintSec%.2f,"rows":$rows,"store_keys":$keys,""" +
          s""""files":${dataFiles(stores)},"dirs":${batchDirs(stores)}""" +
          extra(i) + "}")
      }
    }

    // Search-side term-partial fan-in for the BM25-bearing families: the
    // MAX partial rows any single term's Σ-fold absorbs (the quantity the
    // roll-up cadence must bound — stream-lifetime growth here is the
    // regression), plus the surviving NEGATIVE rows (retire partials must
    // fold away at roll-up, not accumulate).
    def termFanIn(tP: String): String =
      KeyedParquetStore.read(spark, tP,
          schema = Some(graft.pipeline.IncrementalBm25.termsSchema))
        .map { t =>
          val mx = t.groupBy(col("term")).agg(count(lit(1)).as("n"))
            .agg(max(col("n"))).collect().head.getLong(0)
          val neg = t.filter(col("df") < 0).count()
          s""","max_term_partials":$mx,"neg_term_rows":$neg"""
        }.getOrElse("")

    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    def docBatch(i: Int) = docs.filter(pmod(xxhash64(col("doc_id")), lit(n.toLong)) === i)
    def embBatch(i: Int) = emb.filter(pmod(xxhash64(col("vec_id")), lit(n.toLong)) === i)

    if (families("dedup")) {
      val (bP, sP) = (s"$storeRoot/dedup/bands", s"$storeRoot/dedup/shingles")
      run("dedup", Seq(bP, sP),
        (b, i) => graft.pipeline.IncrementalDedup.ingestBatch(spark, b, s"b$i", bP, sP),
        i => Seq(bP, sP).foreach(p => KeyedParquetStore.rollupBatchPartitions(
          spark, p, keepBatches = Set(s"b$i"))),
        docBatch, bP)
    }
    if (families("bm25")) {
      val (pP, tP, stP) = (s"$storeRoot/bm25/postings", s"$storeRoot/bm25/terms",
        s"$storeRoot/bm25/stats")
      run("bm25", Seq(pP, tP, stP),
        (b, i) => {
          graft.pipeline.IncrementalBm25.ingestBatch(spark, b, s"b$i", pP, tP, stP)
          b.select(col("doc_id"))
        },
        // roll-up cadence: fold all partials except the just-ingested
        // batch (the replay horizon), the StreamsSpec compaction shape
        i => {
          KeyedParquetStore.rollupBatchPartitions(spark, pP,
            keepBatches = Set(s"b$i"), partitionCols = Seq("batch", "tbucket"))
          graft.pipeline.IncrementalBm25.rollupPartials(spark, tP, stP,
            keepBatches = Set(s"b$i"))
        },
        docBatch, pP, extra = _ => termFanIn(tP))
    }
    if (families("ivf")) {
      val (cP, aP) = (s"$storeRoot/ivf/centroids", s"$storeRoot/ivf/assigned")
      graft.pipeline.IncrementalIvf.buildCentroids(spark, embBatch(0), cP,
        numCells = 8, trainIters = 2)
      run("ivf", Seq(cP, aP),
        (b, i) => {
          graft.pipeline.IncrementalIvf.ingestBatch(spark, b, s"b$i", cP, aP)
          b.select(col("vec_id"))
        },
        i => {
          KeyedParquetStore.rollupBatchPartitions(spark, aP,
            keepBatches = Set(s"b$i"), partitionCols = Seq("iv", "cell", "batch"))
          graft.pipeline.IncrementalIvf.retrain(spark, cP, aP,
            numCells = 8, trainIters = 2, keepBatches = Set(s"b$i"))
        },
        embBatch, aP)
    }
    if (families("refresh")) {
      // q95+q97's diff-driven refresh loop, aged over BOTH store
      // families: cycle 0 ingests the full first snapshot; every later
      // cycle touches the stores only with the delta (retire
      // removed+changed from the dedup index AND the BM25 index,
      // ingest new+changed into both).
      val (bP, sP) = (s"$storeRoot/refresh/bands", s"$storeRoot/refresh/shingles")
      val (pP, tP, stP) = (s"$storeRoot/refresh/postings",
        s"$storeRoot/refresh/terms", s"$storeRoot/refresh/stats")
      val window = 2000L
      val step = 75L
      // The sliding window must stay inside the corpus for EVERY cycle:
      // past the max doc_id the later snapshots silently shrink and the
      // probe measures an emptying delta instead of the refresh loop
      // (sized for sf0.1's 5000 ids: valid through 40 cycles).
      val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
      require((n - 1).toLong * step + window <= maxId + 1,
        s"refresh family invalid at this scale: cycle ${n - 1}'s window " +
          s"[${(n - 1) * step}, ${(n - 1) * step + window}) slides past the " +
          s"corpus max doc_id $maxId — lower nBatches or use a larger sfDir")
      def snap(i: Int): DataFrame = {
        val lo = i * step
        docs.filter(col("text").isNotNull)
          .filter(col("doc_id") >= lo && col("doc_id") < lo + window)
          .select(col("doc_id"),
            when(pmod(xxhash64(col("doc_id")), lit(15L)) === (i % 15).toLong,
              concat(col("text"), lit(s" v$i"))).otherwise(col("text"))
              .as("text"))
      }
      run("refresh", Seq(bP, sP, pP, tP, stP),
        (b, i) => {
          if (i == 0) {
            graft.pipeline.IncrementalBm25.ingestBatch(spark, b, s"b$i", pP, tP, stP)
            graft.pipeline.IncrementalDedup.ingestBatch(spark, b, s"b$i", bP, sP)
          } else {
            val st = graft.Pin.ser(graft.pipeline.TextAnalysis.docStatus(
              b, snap(i - 1), "doc_id", "text", None))
            val retired = st.filter(col("status").isin("removed", "changed"))
              .select(col("doc_id"))
            graft.pipeline.IncrementalDedup.retireDocs(spark, retired, bP, sP)
            graft.pipeline.IncrementalBm25.retireDocs(spark, retired,
              s"r$i", pP, tP, stP)
            val ingest = b.join(
              st.filter(col("status").isin("new", "changed")),
              Seq("doc_id"), "left_semi")
            graft.pipeline.IncrementalBm25.ingestBatch(spark, ingest,
              s"b$i", pP, tP, stP)
            graft.pipeline.IncrementalDedup.ingestBatch(spark, ingest, s"b$i", bP, sP)
          }
        },
        i => {
          Seq(bP, sP).foreach(p => KeyedParquetStore.rollupBatchPartitions(
            spark, p, keepBatches = Set(s"b$i")))
          KeyedParquetStore.rollupBatchPartitions(spark, pP,
            keepBatches = Set(s"b$i"), partitionCols = Seq("batch", "tbucket"))
          graft.pipeline.IncrementalBm25.rollupPartials(spark, tP, stP,
            keepBatches = Set(s"b$i"))
        },
        snap, bP, extra = _ => termFanIn(tP))
    }
    if (families("refreshvec")) {
      // The VECTOR half of the crawl-refresh loop (r17, closing the r16
      // verdict's evidence gap): ages IncrementalEmbedDedup AND
      // IncrementalIvf through retire → re-ingest cycles with retrain on
      // the maintenance cadence. The delta is derived ARITHMETICALLY from
      // the same sliding-window construction the text family diffs via
      // docStatus (the diff face is text-grain; aging it again here would
      // measure nothing new): per cycle, `step` ids scroll out (removed),
      // `step` scroll in (new), and two rotating 1/15 id classes carry a
      // cycle-dependent perturbation (changed — the class marked last
      // cycle reverts, the newly-marked class drifts). Window constants
      // sized for sf0.1's 2000 vectors: 800-id window, 30-id step, valid
      // through 40 cycles (guarded below like the text family).
      val (sgP, vcP) = (s"$storeRoot/refreshvec/sigs", s"$storeRoot/refreshvec/vecs")
      val (cP, aP) = (s"$storeRoot/refreshvec/centroids", s"$storeRoot/refreshvec/assigned")
      val vwindow = 800L
      val vstep = 30L
      val maxVid = emb.agg(max(col("vec_id"))).collect().head.getLong(0)
      require((n - 1).toLong * vstep + vwindow <= maxVid + 1,
        s"refreshvec family invalid at this scale: cycle ${n - 1}'s window " +
          s"[${(n - 1) * vstep}, ${(n - 1) * vstep + vwindow}) slides past " +
          s"the corpus max vec_id $maxVid — lower nBatches or use a larger sfDir")
      val cls = pmod(xxhash64(col("vec_id")), lit(15L))
      def vsnap(i: Int): DataFrame = {
        val lo = i * vstep
        emb.filter(col("vec_id") >= lo && col("vec_id") < lo + vwindow)
          .select(col("vec_id"),
            when(cls === (i % 15).toLong,
              transform(col("embedding"),
                x => x + lit(0.01f * ((i % 7) + 1))))
              .otherwise(col("embedding")).as("embedding"))
      }
      graft.pipeline.IncrementalIvf.buildCentroids(spark, vsnap(0), cP,
        numCells = 8, trainIters = 2)
      var retrainSec = 0.0
      run("refreshvec", Seq(sgP, vcP, aP),
        (b, i) => {
          retrainSec = 0.0
          if (i > 0) {
            val lo = i * vstep
            val prevHi = (i - 1) * vstep + vwindow
            val removed = emb
              .filter(col("vec_id") >= (i - 1) * vstep && col("vec_id") < lo)
              .select(col("vec_id"))
            val changedIds = b.filter(col("vec_id") < prevHi)
              .filter(cls === (i % 15).toLong || cls === ((i - 1) % 15).toLong)
              .select(col("vec_id"))
            val retired = graft.Pin.ser(removed.unionByName(changedIds))
            graft.pipeline.IncrementalEmbedDedup.retireVecs(spark, retired,
              sgP, vcP)
            graft.pipeline.IncrementalIvf.retireVecs(spark, retired, aP)
            val ingest = graft.Pin.ser(b.filter(col("vec_id") >= prevHi ||
              cls === (i % 15).toLong || cls === ((i - 1) % 15).toLong))
            graft.pipeline.IncrementalEmbedDedup.ingestBatch(spark, ingest,
              s"b$i", sgP, vcP, threshold = 0.99)
            graft.pipeline.IncrementalIvf.ingestBatch(spark, ingest,
              s"b$i", cP, aP)
            ingest.select(col("vec_id"))
          } else {
            graft.pipeline.IncrementalEmbedDedup.ingestBatch(spark, b,
              s"b$i", sgP, vcP, threshold = 0.99)
            graft.pipeline.IncrementalIvf.ingestBatch(spark, b, s"b$i", cP, aP)
            b.select(col("vec_id"))
          }
        },
        i => {
          Seq(sgP, vcP).foreach(p => KeyedParquetStore.rollupBatchPartitions(
            spark, p, keepBatches = Set(s"b$i")))
          KeyedParquetStore.rollupBatchPartitions(spark, aP,
            keepBatches = Set(s"b$i"), partitionCols = Seq("iv", "cell", "batch"))
          // Retrain is THE one whole-store pass (Faiss's periodic
          // maintenance shape) — timed separately so the evidence shows
          // its wall-time as a function of store size, not folded into
          // the cadence total invisibly.
          val t0 = System.nanoTime()
          graft.pipeline.IncrementalIvf.retrain(spark, cP, aP,
            numCells = 8, trainIters = 2, keepBatches = Set(s"b$i"))
          retrainSec = (System.nanoTime() - t0) / 1e9
        },
        vsnap, vcP,
        extra = _ => f""","retrain_sec":$retrainSec%.2f""")
    }
    if (families("growvec")) {
      // GROWING-window retrain curve (r18, verdict task 3): refreshvec
      // holds store size constant (~800 keys), so its flat per-cycle
      // retrain is the correct null result for a constant window but
      // leaves the design claim "retrain grows linearly with the
      // assigned store" asserted, not measured. Here nothing retires:
      // cycle i ingests the i-th xxhash 1/n slice of the corpus and the
      // cadence retrain re-fits the ACCUMULATED store, landing
      // retrain_sec at n/compactEvery distinct store sizes — store_keys
      // on the same row is the x-axis of the curve.
      val (cP, aP) = (s"$storeRoot/growvec/centroids",
        s"$storeRoot/growvec/assigned")
      graft.pipeline.IncrementalIvf.buildCentroids(spark, embBatch(0), cP,
        numCells = 8, trainIters = 2)
      var retrainSec = 0.0
      run("growvec", Seq(cP, aP),
        (b, i) => {
          retrainSec = 0.0
          graft.pipeline.IncrementalIvf.ingestBatch(spark, b, s"b$i", cP, aP)
          b.select(col("vec_id"))
        },
        i => {
          KeyedParquetStore.rollupBatchPartitions(spark, aP,
            keepBatches = Set(s"b$i"), partitionCols = Seq("iv", "cell", "batch"))
          val t0 = System.nanoTime()
          graft.pipeline.IncrementalIvf.retrain(spark, cP, aP,
            numCells = 8, trainIters = 2, keepBatches = Set(s"b$i"))
          retrainSec = (System.nanoTime() - t0) / 1e9
        },
        embBatch, aP,
        extra = _ => f""","retrain_sec":$retrainSec%.2f""")
    }
    if (families("embed")) {
      val (sgP, vP) = (s"$storeRoot/embed/sigs", s"$storeRoot/embed/vecs")
      run("embed", Seq(sgP, vP),
        (b, i) => graft.pipeline.IncrementalEmbedDedup.ingestBatch(
          spark, b, s"b$i", sgP, vP, threshold = 0.99),
        i => Seq(sgP, vP).foreach(p => KeyedParquetStore.rollupBatchPartitions(
          spark, p, keepBatches = Set(s"b$i"))),
        embBatch, vP)
    }
    spark.stop()
  }
}
