package graft.pipeline

import graft.operators.CoreOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Incremental MinHash-LSH dedup against a PERSISTED index — the real
  * 100 TB ingest shape: each arriving batch dedups against everything
  * already accepted WITHOUT re-scanning (or re-shingling) the stored
  * corpus bodies. Batch-mode [[Dedup.minhashLsh]] re-pays the whole
  * corpus per run; here the corpus-side cost is two keyed stores of
  * 8-byte-value rows, read pruned to the batch's candidates:
  *
  *  - the BAND index `(doc_id, band, sig)` — joined against the batch's
  *    band signatures to find candidates (id-width exchange, same shape
  *    as minhashLsh's band self-join);
  *  - the SHINGLE index `(doc_id, h)` — the exact-Jaccard confirm
  *    substrate, SEMI-joined down to candidate ids before the confirm so
  *    only colliding docs' shingles are ever read.
  *
  * The ingest/label/retire contract — statuses, crash order, partition
  * layout and the debugChecks preconditions — is [[NearDupIndex]]'s;
  * this module supplies the text family: identical-text classes, the
  * band signing and the Jaccard confirms. Documents too short to
  * shingle (< shingleN tokens) produce no bands, index nothing, and are
  * always kept — exactly [[Dedup.minhashLsh]]'s behavior for them (they
  * never pair).
  */
object IncrementalDedup {

  /** The text family's stores. Their FIXED schemas are passed to every
    * read so the hot path skips mergeSchema's per-file footer inference (a job whose
    * cost grows with accumulated store size — the one remaining
    * store-sized cost per ingest after the append fast path). The
    * explicit schema stays evolution-safe: files written before a column
    * existed null-fill under it. */
  private val family = NearDupIndex.Family("dedup", "doc_id",
    NearDupIndex.Store(StructType(Seq(
      StructField("doc_id", LongType), StructField("band", IntegerType),
      StructField("sig", StringType), StructField("cfg", StringType),
      StructField("batch", StringType))), Seq("doc_id", "band"), "band index"),
    NearDupIndex.Store(StructType(Seq(
      StructField("doc_id", LongType), StructField("h", LongType),
      StructField("batch", StringType))), Seq("doc_id", "h"), "shingle index"),
    // numHashes/rowsPerBand/shingleN determine the signature encoding;
    // `threshold` is deliberately absent: it tunes the confirm, not the
    // encoding
    params = "numHashes/rowsPerBand/shingleN",
    // differing texts under one id fuse into a chimera signature (with
    // unique band-store keys — invisible to the store's vouch check);
    // identical texts reach the shingle store as duplicate (doc_id, h)
    // keys, since the shingle relation dedups only within one row
    withinWhy = "differing texts would fuse into a chimera signature " +
      "matching neither document; identical texts would store duplicate " +
      "shingle keys (dedup the batch upstream, e.g. dropDuplicates(\"doc_id\"))",
    resentWhy = "the self-pair exemption means a re-sent doc never matches " +
      "its own stored copy and would duplicate its keys (replays must reuse " +
      "the original batch id)")

  /** Dedup `batch` (`doc_id`, `text`) against the stored index and
    * upsert the survivors' shingles + bands under the batch's own
    * partition (`batch=<batchId>`). Returns the batch with a `status`
    * column — `kept` / `dup_of_stored` (Jaccard ≥ `threshold` against a
    * stored document) / `dup_in_batch`; see [[NearDupIndex]] for the
    * contract and its preconditions. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, batchId: String,
                  bandsPath: String, shinglesPath: String,
                  numHashes: Int = 16, rowsPerBand: Int = 4,
                  shingleN: Int = 3, threshold: Double = 0.5): DataFrame =
    NearDupIndex.ingest(spark, batch, batchId, bandsPath, shinglesPath, family)(
      sign(_, numHashes, rowsPerBand, shingleN, threshold))

  /** RETIRE documents from the stored index — the other half of a crawl
    * refresh ([[graft.queries.PipelineQueries]] q95): docs the new
    * snapshot REMOVED leave the index for good; docs it CHANGED retire
    * their stale signatures here and re-enter through [[ingestBatch]]
    * under a NEW batch id. Retirement restores re-deliverability: once no
    * stored row remains, the debugChecks re-delivery probe passes and the
    * re-ingest is sound, not merely unflagged.
    *
    * Retirement is FORWARD-LOOKING by contract: retiring a cluster's
    * stored canonical does NOT resurrect duplicates it previously
    * rejected — they were never indexed, and nothing here re-examines
    * them. A refresh that must re-adjudicate history is a batch
    * re-curation, not an index edit. Bands delete first (the
    * [[NearDupIndex]] crash order): the reverse order would leave band
    * rows whose Jaccard confirm finds no shingles, and every future
    * near-dup of a half-retired doc would silently read as `kept`.
    *
    * Returns (band partitions touched, shingle partitions touched). */
  def retireDocs(spark: SparkSession, ids: DataFrame,
                 bandsPath: String, shinglesPath: String): (Int, Int) =
    NearDupIndex.retire(spark, ids, bandsPath, shinglesPath, family)

  /** Label `batch` against the stored index WITHOUT mutating it — the
    * dry-run / query-the-index face of [[ingestBatch]]: identical
    * statuses, no upsert, and the same parameter-drift precondition. */
  def dedupBatch(spark: SparkSession, batch: DataFrame,
                 bandsPath: String, shinglesPath: String,
                 numHashes: Int = 16, rowsPerBand: Int = 4,
                 shingleN: Int = 3, threshold: Double = 0.5): DataFrame =
    NearDupIndex.label(spark, batch,
      sign(batch, numHashes, rowsPerBand, shingleN, threshold),
      bandsPath, shinglesPath, family)

  /** The text family: shingle and band ONE rep (min id) per identical-
    * text class ([[Dedup.identicalClasses]] — K identical batch copies
    * would otherwise band-join each other C(K,2) times and the stored
    * index K times each), confirm by exact Jaccard at the rep grain. */
  private def sign(batch: DataFrame, numHashes: Int, rowsPerBand: Int,
                   shingleN: Int, threshold: Double): NearDupIndex.Signed =
    new NearDupIndex.Signed(s"$numHashes/$rowsPerBand/$shingleN") {
      val members = Dedup.identicalClasses(batch)
      private val repBatch = batch.join(
        members.filter(col("doc_id") === col("rep")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      // Materialized once per call: consumed by the band build, the
      // vs-store confirm and the in-batch confirm (see graft.Pin).
      private val sh = graft.Pin.ser(TextAnalysis.hashedShingles(repBatch, shingleN))
      private val bands = graft.Pin.ser(Dedup.bandSigs(sh, numHashes, rowsPerBand))
      def indexRows: DataFrame = bands
      def substrateRows: DataFrame = sh

      def confirmStored(sb: DataFrame, substrate: => DataFrame): (DataFrame, DataFrame) = {
        // Checkpointed: consumed by the self-stored split, the semi-prune,
        // and the exactJaccard pair explode — without the pin each
        // consumer re-reads the store and re-runs the band join (the q37
        // recompute lesson).
        val hits = graft.Pin.ser(bands
          .join(sb.select(col("band"), col("sig"), col("doc_id").as("doc_b")),
            Seq("band", "sig"))
          .select(col("doc_id").as("doc_a"), col("doc_b")).distinct())
        // The self-pair splits off BEFORE the confirm: a batch copy and a
        // stored copy of one id share a doc_id in the shingle union, so
        // exactJaccard cannot score it. On an ingest RETRY the rep's own
        // id sits in the store and shares every band with it by
        // identity; the rep stays exempt, while its identical classmates
        // match that stored copy at jaccard exactly 1.0 — so the self-hit
        // condemns them whenever 1.0 clears the threshold.
        val selfStored = hits.filter(col("doc_a") === col("doc_b"))
          .select(col("doc_a").as("rep"))
        val cands = hits.filter(col("doc_a") =!= col("doc_b"))
        // stored text is never read (the stores don't even carry it)
        val storedSh = substrate.select(col("doc_id"), col("h"))
          .join(cands.select(col("doc_b").as("doc_id")).distinct(),
            Seq("doc_id"), "left_semi")
        val confirmedReps = Dedup.exactJaccard(cands, sh.unionByName(storedSh))
          .filter(col("jaccard") >= threshold)
          .select(col("doc_a").as("rep")).distinct()
        (confirmedReps, if (threshold <= 1.0) selfStored else selfStored.limit(0))
      }

      // In-batch candidates + confirm at the REP grain: minhashLsh's
      // shape, expanded to member labels (isolated identical cliques
      // included).
      def batchLabels: DataFrame = {
        val selfCands = CoreOps.bucketPairs(bands, Seq("band", "sig"), "doc_id")
        val selfPairs = Dedup.exactJaccard(selfCands, sh)
          .filter(col("jaccard") >= threshold).select("doc_a", "doc_b")
        Dedup.expandMemberLabels(members, sh, selfPairs, threshold)
      }
    }
}
