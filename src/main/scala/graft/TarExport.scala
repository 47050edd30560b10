package graft

import org.apache.spark.sql.functions._

/** Dev main: ship the q82 training-export manifest as WebDataset-style
  * tar shards via [[sources.TarShards]] — the end-to-end face of the
  * export story (q57 chunk → q46 split → q73 shuffle → q50 pack →
  * shards a dataloader opens). One tar per (split, pack_bucket); member
  * keys are `(pack_id, doc_id, chunk_id)`, so a loader can stream packs
  * in order and join anything back against the manifest.
  *
  * Usage: `runMain graft.TarExport <sfDir> <outDir>`. Prints the shard
  * manifest roll-up as one JSON line.
  */
object TarExport {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.TarExport <sfDir> <outDir>")
    val spark = Session.local()
    val t0 = System.nanoTime()
    val manifest = SparkEntry.queries("q82_training_export")(spark, args(0))
    val chunks = pipeline.TextAnalysis.chunkDocuments(
      Tables.documents(spark, args(0)).select(col("doc_id"), col("text")),
      maxTokens = 32, overlap = 8)
    val samples = manifest.join(chunks, Seq("doc_id", "chunk_id"))
      .select(
        concat(col("split"), lit("-"), col("pack_bucket")).as("shard"),
        format_string("%010d-%010d-%05d.txt",
          col("pack_id"), col("doc_id"), col("chunk_id")).as("key"),
        encode(col("chunk_text"), "UTF-8").as("payload"))
    val m = sources.TarShards.write(samples, args(1), "shard", "key", "payload")
    val r = m.agg(count(lit(1)), sum(col("n_samples")), sum(col("tar_bytes"))).head()
    val sec = (System.nanoTime() - t0) / 1e9
    spark.stop()
    println(f"""{"tar_export":"${args(1)}","shards":${r.getLong(0)},"samples":${r.getLong(1)},"tar_bytes":${r.getLong(2)},"sec":$sec%.1f}""")
  }
}
