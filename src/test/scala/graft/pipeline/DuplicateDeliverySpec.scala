package graft.pipeline

import graft.SparkSpec
import graft.sources.KeyedParquetStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The duplicate-delivery CONTRACT MATRIX (r8 verdict item 6): every
  * incremental-ingest module × every duplicate shape, pinned in one
  * table. Each cell either REFUSES under `spark.graft.store.debugChecks`
  * (with its own diagnostic) or provably MERGES IDEMPOTENTLY — there is
  * no third, silently-corrupting outcome. The shapes:
  *
  *  - `within-batch`: the same id delivered twice inside one batch
  *    (an at-least-once source redelivering inside a micro-batch);
  *  - `same-batch replay`: the whole batch redelivered under its
  *    ORIGINAL id (the streaming checkpoint-replay path — always the
  *    sanctioned idempotent shape);
  *  - `cross-batch`: an id re-delivered under a DIFFERENT batch id
  *    (the shape the partition-scoped merges can never see).
  *
  * | module                | within-batch            | same-batch replay | cross-batch |
  * |-----------------------|-------------------------|-------------------|-------------|
  * | IncrementalBm25       | refuse (dup doc_id)     | idempotent        | refuse      |
  * | IncrementalDedup      | refuse (dup doc_id)     | idempotent        | refuse      |
  * | IncrementalEmbedDedup | refuse (dup vec_id)     | idempotent        | refuse      |
  * | IncrementalIvf        | refuse (store's         | idempotent        | refuse      |
  * |                       | incomingUnique vouch)   |                   |             |
  *
  * Why every within-batch cell refuses: BM25's tf/n_docs/sum_dl
  * arithmetic double-counts duplicates even with identical text; dedup
  * would fuse DIFFERING texts under one id into a chimera signature
  * (unique store keys — invisible to the store's vouch) and would store
  * duplicate shingle keys even for identical texts; embedding dedup
  * would store two signature sets under one id for differing vectors
  * and duplicate vector keys for identical ones; IVF duplicates
  * reach the store as duplicate neighbor_id keys, so the store's own
  * incomingUnique check is the asserted refusal point — the matrix pins
  * WHICH guard fires for every cell, so a refactor that silently
  * removes one layer fails here.
  */
class DuplicateDeliverySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def withChecks[A](body: => A): A = {
    spark.conf.set("spark.graft.store.debugChecks", "true")
    try body finally spark.conf.unset("spark.graft.store.debugChecks")
  }

  private def refuses(msgPart: String)(body: => Unit): Unit = {
    val e = intercept[IllegalArgumentException] { withChecks(body) }
    assert(e.getMessage.contains(msgPart),
      s"expected refusal mentioning '$msgPart', got: ${e.getMessage}")
  }

  // --- module harnesses: seed a store, expose ingest + observable state

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("duplicate-delivery matrix: IncrementalBm25") {
    val s = tmp("ddm_bm25")
    val (pP, tP, sP) = (s"$s/p", s"$s/t", s"$s/s")
    val b0 = docs(1L -> "spark joins shuffle data", 2L -> "window ranks rows")
    IncrementalBm25.ingestBatch(spark, b0, "b0", pP, tP, sP)
    def search() = IncrementalBm25
      .searchStored(spark, pP, tP, sP, Seq("spark", "window"), k = 5)
      .as[(Long, Double)].collect().toSeq

    // within-batch: refused even with identical text (tf/stats double)
    refuses("more than once within batch") {
      IncrementalBm25.ingestBatch(spark,
        docs(7L -> "dup text", 7L -> "dup text"), "b7", pP, tP, sP)
    }
    // same-batch replay: idempotent, scores included
    val before = search()
    withChecks { IncrementalBm25.ingestBatch(spark, b0, "b0", pP, tP, sP) }
    assert(search() === before)
    // cross-batch: refused
    refuses("different batch") {
      IncrementalBm25.ingestBatch(spark,
        docs(1L -> "spark joins shuffle data"), "b9", pP, tP, sP)
    }
  }

  test("duplicate-delivery matrix: IncrementalDedup") {
    val s = tmp("ddm_dedup")
    val (bP, shP) = (s"$s/bands", s"$s/shingles")
    val b0 = docs(
      1L -> "the quick brown fox jumps over the lazy dog near the river",
      2L -> "completely different words about spark catalyst optimizer here")
    IncrementalDedup.ingestBatch(spark, b0, "b0", bP, shP)
    def storeState() = KeyedParquetStore.read(spark, bP).get
      .select($"doc_id", $"band", $"sig").as[(Long, Int, String)]
      .collect().sorted.toSeq

    // within-batch: refused in BOTH variants by the module-level check —
    // differing texts (the chimera shape) and identical texts (duplicate
    // shingle-store keys) alike
    refuses("more than once within batch") {
      IncrementalDedup.ingestBatch(spark,
        docs(20L -> "one text entirely about parquet columnar formats today",
          20L -> "another text entirely about shuffle partitions instead"),
        "b2", bP, shP)
    }
    refuses("more than once within batch") {
      IncrementalDedup.ingestBatch(spark,
        docs(10L -> "fresh text about keyed stores advisory locks and swaps",
          10L -> "fresh text about keyed stores advisory locks and swaps"),
        "b1", bP, shP)
    }
    // same-batch replay: idempotent (store byte-state equal)
    val before = storeState()
    withChecks { IncrementalDedup.ingestBatch(spark, b0, "b0", bP, shP) }
    assert(storeState() === before)
    // cross-batch: refused (self-pair exemption would re-admit the doc)
    refuses("different batch") {
      IncrementalDedup.ingestBatch(spark,
        docs(1L -> "the quick brown fox jumps over the lazy dog near the river"),
        "b9", bP, shP)
    }
  }

  test("duplicate-delivery matrix: IncrementalEmbedDedup") {
    val s = tmp("ddm_embed")
    val (sgP, vP) = (s"$s/sigs", s"$s/vecs")
    def vecs(rows: (Long, Seq[Double])*): DataFrame =
      rows.map { case (i, e) => (i, e.toArray) }.toDF("vec_id", "embedding")
    def ingest(b: DataFrame, batchId: String): Unit =
      IncrementalEmbedDedup.ingestBatch(spark, b, batchId, sgP, vP,
        threshold = 0.999, bits = 6, dim = 4)
    val b0 = vecs(1L -> Seq(1.0, 0.0, 0.0, 0.0), 2L -> Seq(0.0, 1.0, 0.0, 0.0))
    ingest(b0, "b0")
    def storeState() = (
      KeyedParquetStore.read(spark, sgP).get
        .select($"vec_id", $"t", $"sig").as[(Long, Int, Long)]
        .collect().sorted.toSeq,
      KeyedParquetStore.read(spark, vP).get
        .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
        .collect().sortBy(_._1).toSeq)

    // within-batch: refused for differing vectors (two signature sets
    // under one id) and identical ones (duplicate vector-store keys)
    refuses("more than once within batch") {
      ingest(vecs(20L -> Seq(0.0, 0.0, 1.0, 0.0), 20L -> Seq(0.0, 0.0, 0.0, 1.0)), "b2")
    }
    refuses("more than once within batch") {
      ingest(vecs(10L -> Seq(0.0, 0.0, 1.0, 0.0), 10L -> Seq(0.0, 0.0, 1.0, 0.0)), "b1")
    }
    // same-batch replay: idempotent (both stores' rows equal)
    val before = storeState()
    withChecks { ingest(b0, "b0") }
    assert(storeState() === before)
    // cross-batch: refused (self-pair exemption would re-admit the vector)
    refuses("different batch") {
      ingest(vecs(1L -> Seq(1.0, 0.0, 0.0, 0.0)), "b9")
    }
  }

  test("duplicate-delivery matrix: IncrementalIvf") {
    val s = tmp("ddm_ivf")
    val (cP, aP) = (s"$s/centroids", s"$s/assigned")
    val vecs = (0L until 12L).map(i =>
      (i, Array(math.sin(i * 1.7) + 2, math.cos(i * 0.9) + 2)))
      .toDF("vec_id", "embedding")
    IncrementalIvf.buildCentroids(spark, vecs, cP, numCells = 2, trainIters = 1)
    val b0 = vecs.filter($"vec_id" < 6)
    IncrementalIvf.ingestBatch(spark, b0, "b0", cP, aP)
    def search() = IncrementalIvf
      .searchStored(spark, cP, aP, vecs.filter($"vec_id" === 0), k = 4)
      .select($"neighbor_id", $"cos_sim").as[(Long, Double)].collect().toSeq

    // within-batch: duplicate vec_id rows reach the store as duplicate
    // neighbor_id keys — the store's own incomingUnique vouch check
    // refuses them (no module-level check needed; asserting WHICH guard
    // fires pins the contract)
    refuses("incomingUnique") {
      IncrementalIvf.ingestBatch(spark,
        vecs.filter($"vec_id" === 7).unionAll(vecs.filter($"vec_id" === 7)),
        "b7", cP, aP)
    }
    // same-batch replay: idempotent, similarities included
    val before = search()
    withChecks { IncrementalIvf.ingestBatch(spark, b0, "b0", cP, aP) }
    assert(search() === before)
    // cross-batch: refused (r9 guard — the partition-scoped merge never
    // sees the other batch's copy, so the vector would be stored and
    // returned twice)
    refuses("different batch") {
      IncrementalIvf.ingestBatch(spark, vecs.filter($"vec_id" === 3), "b9", cP, aP)
    }
  }
}
