package graft

import org.apache.spark.sql.functions._

/** Dev utility: wall-time evidence that
  * [[graft.pipeline.IncrementalEmbedDedup]]'s ingest cost is
  * batch-sized, not store-sized — the claim that matters at 100 TB,
  * where "re-dedup the corpus per batch" is the failure mode the module
  * exists to avoid. Splits `<sfDir>`'s embeddings into `<nBatches>`
  * batches by `xxhash64(vec_id) % nBatches` (deterministic; each id in
  * exactly one batch, satisfying the no-re-delivery precondition; the
  * HASH matters — `vec_id % n` put every ScaleUp replica class wholly
  * inside one batch because the id stride is a multiple of small n, so
  * the vs-store face never fired; hashing spreads each duplicate class
  * across batches, so both faces do real work) and ingests them
  * in sequence into a fresh store under `<storeDir>`, printing one
  * JSONL line per batch: seconds, batch rows, kept/dup counts, and
  * accumulated store keys. Flat-ish per-batch seconds while the store
  * grows N× is the evidence; store-sized growth is the regression.
  *
  * Usage: `runMain graft.EmbedIngestProbe <sfDir> <storeDir> <nBatches>`
  * (config mirrors Bench: local[SPARK_GRAFT_CPUS], matching shuffle
  * partitions).
  */
object EmbedIngestProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: graft.EmbedIngestProbe <sfDir> <storeDir> <nBatches>")
    val Array(sfDir, storeDir, nStr) = args
    val n = nStr.toInt
    require(n >= 2, s"nBatches must be >= 2 to exercise the vs-store face: $n")
    val spark = Session.local()
    val (sigsP, vecsP) = (s"$storeDir/sigs", s"$storeDir/vecs")
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    for (i <- 0 until n) {
      val batch = emb.filter(pmod(xxhash64(col("vec_id")), lit(n.toLong)) === i)
      val t0 = System.nanoTime()
      val labeled = graft.pipeline.IncrementalEmbedDedup.ingestBatch(
        spark, batch, s"e$i", sigsP, vecsP, threshold = 0.99)
      val counts = labeled.groupBy(col("status")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val sec = (System.nanoTime() - t0) / 1e9
      val storeKeys = graft.sources.KeyedParquetStore.read(spark, vecsP)
        .map(_.count()).getOrElse(0L)
      println(f"""{"batch":$i,"sec":$sec%.2f,"rows":${counts.values.sum},""" +
        s""""kept":${counts.getOrElse("kept", 0L)},""" +
        s""""dup_of_stored":${counts.getOrElse("dup_of_stored", 0L)},""" +
        s""""dup_in_batch":${counts.getOrElse("dup_in_batch", 0L)},""" +
        s""""store_keys":$storeKeys}""")
    }
    spark.stop()
  }
}
