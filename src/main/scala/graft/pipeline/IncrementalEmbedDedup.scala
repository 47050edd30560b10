package graft.pipeline

import graft.operators.CoreOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StringType, StructField, StructType}

/** Incremental embedding near-dup against a PERSISTED signature index —
  * the [[IncrementalDedup]] shape for the cosine family (reference
  * behavior: MarketViz has no incremental surface; this is the 100 TB
  * ingest path for [[Similarity.cosinePairsLsh]]/[[Similarity.cosineClusters]]).
  * The corpus side is two keyed stores, read pruned to the batch's
  * candidates:
  *
  *  - the SIGNATURE index `(vec_id, t, sig)` — joined against the
  *    batch's random-hyperplane signatures to find candidates (id-width
  *    exchange, the [[Similarity.cosinePairsLsh]] bucket shape);
  *  - the VECTOR store `(vec_id, embedding)` — the exact-cosine confirm
  *    substrate, SEMI-joined down to candidate ids before the confirm
  *    so only colliding vectors are ever read (float storage — half the
  *    bytes of double; the confirm widens in index order as everywhere
  *    else in [[Similarity]]).
  *
  * The ingest/label/retire contract — statuses, crash order (vectors
  * upsert first, signatures delete first), partition layout and the
  * debugChecks preconditions — is [[NearDupIndex]]'s; this module
  * supplies the cosine family: identical-vector classes, the signing
  * and its explosion guard, and the cosine confirms. Null embeddings
  * keep their pre-collapse verdict (their confirms evaluate null →
  * never dup).
  */
object IncrementalEmbedDedup {

  /** The cosine family's stores (fixed schemas: skip per-file footer
    * inference on the hot path; evolution-safe null-fill). */
  private val family = NearDupIndex.Family("embed-dedup", "vec_id",
    NearDupIndex.Store(StructType(Seq(
      StructField("vec_id", LongType), StructField("t", IntegerType),
      StructField("sig", LongType), StructField("cfg", StringType),
      StructField("batch", StringType))), Seq("vec_id", "t"), "signature index"),
    NearDupIndex.Store(StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("batch", StringType))), Seq("vec_id"), "vector store"),
    // bits/tables/dim determine the signature encoding; `threshold` is
    // absent: it tunes the confirm, not the encoding
    params = "bits/tables/dim",
    withinWhy = "dedup the batch upstream (dropDuplicates(\"vec_id\"))",
    resentWhy = "the self-pair exemption means a re-sent vector never " +
      "matches its own stored copy (replays must reuse the original batch id)")

  /** Dedup `batch` (`vec_id`, `embedding`) against the stored index and
    * upsert the survivors' vectors + signatures under the batch's own
    * partition. Returns the batch with a `status` column — `kept` /
    * `dup_of_stored` (round-6 cosine ≥ `threshold` against a stored
    * vector) / `dup_in_batch`: [[IncrementalDedup.ingestBatch]]'s
    * contract ([[NearDupIndex]]) with cosine in place of Jaccard. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, batchId: String,
                  sigsPath: String, vecsPath: String,
                  threshold: Double, bits: Int = 16, tables: Int = 4,
                  dim: Int = 64,
                  maxCandidatePairs: Long = 50000000L): DataFrame =
    NearDupIndex.ingest(spark, batch, batchId, sigsPath, vecsPath, family)(
      sign(_, threshold, bits, tables, dim, maxCandidatePairs))

  /** Retire `ids` (column `vec_id`) from the stored index — the
    * crawl-refresh counterpart of [[ingestBatch]] (q95/q97's loop at
    * the embedding store, q98): a removed or re-embedded vector's
    * stale signatures must leave the store, or a future arrival that
    * matches the RETIRED content would land `dup_of_stored` against a
    * vector that no longer exists. Unlike BM25 there are no global
    * aggregates to shed — both stores are per-row facts. Signatures
    * delete first: once its rows are gone a surviving stale vector row
    * is inert, since the confirm only reads vectors for candidate ids.
    * Re-running with the same `ids` is idempotent; re-ingesting a
    * retired vec_id under a NEW batch id passes the armed re-delivery
    * guard (the re-embedded-doc path). Returns (signature partitions
    * touched, vector partitions touched) like
    * [[IncrementalDedup.retireDocs]]. */
  def retireVecs(spark: SparkSession, ids: DataFrame,
                 sigsPath: String, vecsPath: String): (Int, Int) =
    NearDupIndex.retire(spark, ids, sigsPath, vecsPath, family)

  /** Label `batch` against the stored index WITHOUT mutating it — the
    * dry-run / query face, with the ingest face's drift guard. */
  def dedupBatch(spark: SparkSession, batch: DataFrame,
                 sigsPath: String, vecsPath: String,
                 threshold: Double, bits: Int = 16, tables: Int = 4,
                 dim: Int = 64,
                 maxCandidatePairs: Long = 50000000L): DataFrame =
    NearDupIndex.label(spark, batch,
      sign(batch, threshold, bits, tables, dim, maxCandidatePairs),
      sigsPath, vecsPath, family)

  /** The cosine family: group on the double-cast vector (exact array
    * equality), sign and bucket ONE rep (min id) per class — K identical
    * batch vectors would otherwise bucket-join each other C(K,2) times
    * and the stored index K times each — and confirm by round-6 cosine
    * at the rep grain. The signatures are signed once per call and
    * reused by the ingest's upsert. */
  private def sign(batch: DataFrame, threshold: Double, bits: Int,
                   tables: Int, dim: Int,
                   maxCandidatePairs: Long): NearDupIndex.Signed =
    new NearDupIndex.Signed(s"$bits/$tables/$dim") {
      private val all = batch.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      // One aggregation yields class reps, sizes, and the rep-vector
      // relation; pinned — consumed by sigs, both confirms' re-attach,
      // and the within-class eligibility scorer.
      private val grouped = graft.Pin.ser(
        Dedup.classReps(all, "vec_id", "e", count(lit(1)).as("__k")))
      val members = Dedup.classMembers(all, "vec_id", "e", grouped)
      private val v = graft.Pin.ser(grouped.select(col("rep").as("vec_id"), col("e")))
      private val sigs = graft.Pin.ser(
        v.select(col("vec_id"),
            explode(Similarity.lshSignatures(col("e"), bits, tables, dim)).as("ts"))
          .select(col("vec_id"), col("ts.t").as("t"), col("ts.sig").as("sig")))
      def indexRows: DataFrame = sigs
      def substrateRows: DataFrame = batch.select(col("vec_id"),
        col("embedding").cast(ArrayType(FloatType)).as("embedding"))

      // In-batch explosion guard (ADVICE r12), over rep-level bucket
      // work: an identical-heavy batch passes by construction (collapse
      // IS the fix), while a genuinely hub-shaped batch still refuses
      // loudly. The labeling output is linear either way — member pairs
      // never materialize here.
      private val selfEst = CoreOps.bucketPairWork(sigs, Seq("t", "sig"))
      require(selfEst <= maxCandidatePairs,
        s"embed-dedup ingest: ~$selfEst within-bucket candidate pairs inside this " +
          s"batch exceed maxCandidatePairs=$maxCandidatePairs — $bits bits is too " +
          "coarse for the batch (occupancy is n/2^bits per table and pair work is " +
          "occupancy-quadratic); raise bits toward log2(n/targetOccupancy), split " +
          "the batch, or raise maxCandidatePairs deliberately")

      def confirmStored(ss: DataFrame, substrate: => DataFrame): (DataFrame, DataFrame) = {
        // The self-pair (vec_id = stored_id, an ingest retry) stays IN
        // the candidate set: its confirm — cosine(batch e, stored
        // float-cast e) — is exactly what each identical classmate would
        // have scored against the stored copy pre-collapse, so it decides
        // the classmates' verdict; only the rep itself is exempt.
        val cands = sigs
          .join(ss.select(col("t"), col("sig"), col("vec_id").as("stored_id")),
            Seq("t", "sig"))
          .select(col("vec_id"), col("stored_id")).distinct()
        val storedV = substrate
          .select(col("vec_id").as("stored_id"),
            col("embedding").cast("array<double>").as("se"))
          .join(cands.select(col("stored_id")).distinct(), Seq("stored_id"), "left_semi")
        val confirmed = cands
          .join(v, Seq("vec_id"))
          .join(storedV, Seq("stored_id"))
          .filter(round(Similarity.cosine(col("e"), col("se")), 6) >= threshold)
          .select(col("vec_id").as("rep"),
            (col("vec_id") === col("stored_id")).as("__self"))
        (confirmed.filter(!col("__self")).select(col("rep")).distinct(),
          confirmed.filter(col("__self")).select(col("rep")).distinct())
      }

      // In-batch candidates + confirm at the REP grain (cosinePairsLsh's
      // shape), expanded to member labels; isolated identical cliques
      // qualify when their self-cosine clears the threshold (the same
      // expression a member pair would have evaluated — ~1.0 for real
      // vectors, null/NaN semantics preserved for degenerate ones).
      def batchLabels: DataFrame = {
        val selfPairs = CoreOps.bucketPairs(sigs, Seq("t", "sig"), "vec_id")
          .join(v.select(col("vec_id").as("doc_a"), col("e").as("va")), Seq("doc_a"))
          .join(v.select(col("vec_id").as("doc_b"), col("e").as("vb")), Seq("doc_b"))
          .filter(round(Similarity.cosine(col("va"), col("vb")), 6) >= threshold)
        val cliqueReps = grouped.filter(col("__k") >= 2)
          .filter(round(Similarity.cosine(col("e"), col("e")), 6) >= threshold)
          .select(col("rep"))
        Dedup.expandRepLabels(members, "vec_id", selfPairs, Some(cliqueReps))
      }
    }
}
