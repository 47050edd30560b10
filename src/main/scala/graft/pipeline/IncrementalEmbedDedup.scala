package graft.pipeline

import graft.operators.CoreOps
import graft.sources.KeyedParquetStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StringType, StructField, StructType}

/** Incremental embedding near-dup against a PERSISTED signature index —
  * the [[IncrementalDedup]] shape for the cosine family (reference
  * behavior: MarketViz has no incremental surface; this is the 100 TB
  * ingest path for [[Similarity.cosinePairsLsh]]/[[Similarity.cosineClusters]]).
  * Each arriving batch dedups against everything already accepted
  * WITHOUT re-reading (or re-hashing) the stored corpus: the corpus
  * side is two keyed stores, read pruned to the batch's candidates:
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
  * Both stores go through [[KeyedParquetStore]]: crash-safe swaps,
  * writer lock, last-wins upsert — an ingest retry re-upserts the same
  * keys idempotently. Crash ORDER mirrors IncrementalDedup's r8 lesson:
  * vectors upsert FIRST, signatures second, and labeling treats a
  * missing signature store as an empty index — so a crash between the
  * two upserts leaves vectors-only, which relabels from scratch on
  * replay and re-merges both stores idempotently; a signature store
  * WITHOUT its vector store indicates external damage and errors loud.
  */
object IncrementalEmbedDedup {

  /** Fixed store schemas (skip per-file footer inference on the hot
    * path; evolution-safe null-fill, the IncrementalDedup convention). */
  private val sigStoreSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("t", IntegerType),
    StructField("sig", LongType), StructField("cfg", StringType),
    StructField("batch", StringType)))
  private val vecStoreSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("batch", StringType)))

  /** Structural fingerprint: bits/tables/dim determine the signature
    * encoding — drifted values bucket-join stored rows and match
    * NOTHING, silently re-admitting every stored near-dup. `threshold`
    * is absent: it tunes the confirm, not the encoding. */
  private def cfgOf(bits: Int, tables: Int, dim: Int): String =
    s"$bits/$tables/$dim"

  /** Dedup `batch` (`vec_id`, `embedding`) against the stored index and
    * upsert the survivors' vectors + signatures under the batch's own
    * partition. Returns the batch with a `status` column — `kept` /
    * `dup_of_stored` (round-6 cosine ≥ `threshold` against a stored
    * vector) / `dup_in_batch` ([[Dedup.dedupClusters]] non-canonical
    * within the batch), `dup_of_stored` winning when both apply —
    * exactly [[IncrementalDedup.ingestBatch]]'s contract with cosine in
    * place of Jaccard.
    *
    * PRECONDITIONS (caller-vouched; enforced under
    * `spark.graft.store.debugChecks=true`, same rationale as
    * IncrementalDedup's scaladoc): structural parameters never change
    * across ingests into one index; a vec_id is never re-delivered
    * under a DIFFERENT batch id (the self-pair exemption would re-index
    * it as kept); a vec_id appears at most once within its batch.
    * Replays under the ORIGINAL batch id are the sanctioned idempotent
    * path for all three. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, batchId: String,
                  sigsPath: String, vecsPath: String,
                  threshold: Double, bits: Int = 16, tables: Int = 4,
                  dim: Int = 64,
                  maxCandidatePairs: Long = 50000000L): DataFrame = {
    if (KeyedParquetStore.debugChecksOn(spark)) {
      val dupInBatch = batch.groupBy(col("vec_id"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).select(col("vec_id")).limit(3)
        .collect().map(_.getLong(0))
      require(dupInBatch.isEmpty,
        s"embed-dedup ingest precondition violated: vec_id(s) " +
          s"${dupInBatch.mkString(", ")} appear more than once within batch " +
          s"'$batchId' — dedup the batch upstream (dropDuplicates(\"vec_id\"))")
      KeyedParquetStore.read(spark, sigsPath, schema = Some(sigStoreSchema))
        .foreach { ss =>
          val resent = ss.filter(col("batch") =!= lit(batchId))
            .join(batch.select(col("vec_id")).distinct(), Seq("vec_id"), "left_semi")
            .select(col("vec_id")).distinct().limit(3)
            .collect().map(_.getLong(0))
          require(resent.isEmpty,
            s"embed-dedup ingest precondition violated: vec_id(s) " +
              s"${resent.mkString(", ")} already indexed under a different " +
              s"batch than '$batchId' — the self-pair exemption means a " +
              "re-sent vector never matches its own stored copy (replays " +
              "must reuse the original batch id)")
        }
    }
    KeyedParquetStore.withWritePlanning(spark) {
      val (labeled, sigs) = labelBatch(spark, batch, sigsPath, vecsPath,
        threshold, bits, tables, dim, maxCandidatePairs)
      val keptIds = labeled.filter(col("status") === "kept").select("vec_id")
      // Vectors FIRST (see crash-order scaladoc above). Both relations
      // are unique per key by construction (one row per vec_id; one
      // signature row per (vec_id, t)), so incomingUnique skips the
      // last-wins window and a first-time ingest is one write job per
      // store; a retried batchId takes the idempotent merge path.
      KeyedParquetStore.upsert(spark, vecsPath,
        batch.select(col("vec_id"), col("embedding").cast(ArrayType(FloatType)).as("embedding"))
          .join(keptIds, Seq("vec_id"), "left_semi")
          .withColumn("batch", lit(batchId)),
        keys = Seq("vec_id"), version = Seq(lit(1)),
        partitionCols = Seq("batch"), partitionValues = Seq(Seq(batchId)),
        incomingUnique = true, schema = Some(vecStoreSchema))
      KeyedParquetStore.upsert(spark, sigsPath,
        sigs.join(keptIds, Seq("vec_id"), "left_semi")
          .withColumn("cfg", lit(cfgOf(bits, tables, dim)))
          .withColumn("batch", lit(batchId)),
        keys = Seq("vec_id", "t"), version = Seq(lit(1)),
        partitionCols = Seq("batch"), partitionValues = Seq(Seq(batchId)),
        incomingUnique = true, schema = Some(sigStoreSchema))
      labeled
    }
  }

  /** Retire `ids` (column `vec_id`) from the stored index — the
    * crawl-refresh counterpart of [[ingestBatch]] (q95/q97's loop at
    * the embedding store, q98): a removed or re-embedded vector's
    * stale signatures must leave the store, or a future arrival that
    * matches the RETIRED content would land `dup_of_stored` against a
    * vector that no longer exists. Unlike BM25 there are no global
    * aggregates to shed — both stores are per-row facts — so
    * retirement is two partition-scoped
    * [[graft.sources.KeyedParquetStore.deleteMatching]] deletes:
    * signatures FIRST (the candidate-generating store — once its rows
    * are gone a surviving stale vector row is inert, since the confirm
    * only reads vectors for candidate ids), vectors second. Re-running
    * with the same `ids` is idempotent; re-ingesting a retired vec_id
    * under a NEW batch id passes the armed re-delivery guard (its rows
    * are gone — the re-embedded-doc path). Returns (signature rows'
    * partitions touched, vector rows' partitions touched) like
    * [[IncrementalDedup.retireDocs]]. */
  def retireVecs(spark: SparkSession, ids: DataFrame,
                 sigsPath: String, vecsPath: String): (Int, Int) = {
    val victims = graft.Pin.ser(ids.select(col("vec_id")).distinct())
    val ns = KeyedParquetStore.deleteMatching(spark, sigsPath, victims,
      on = Seq("vec_id"), partitionCols = Seq("batch"),
      schema = Some(sigStoreSchema))
    val nv = KeyedParquetStore.deleteMatching(spark, vecsPath, victims,
      on = Seq("vec_id"), partitionCols = Seq("batch"),
      schema = Some(vecStoreSchema))
    (ns, nv)
  }

  /** Label `batch` against the stored index WITHOUT mutating it — the
    * dry-run / query face. Shares the drift guard with the ingest face
    * (a dry run mislabels under drift exactly the same way). */
  def dedupBatch(spark: SparkSession, batch: DataFrame,
                 sigsPath: String, vecsPath: String,
                 threshold: Double, bits: Int = 16, tables: Int = 4,
                 dim: Int = 64,
                 maxCandidatePairs: Long = 50000000L): DataFrame =
    labelBatch(spark, batch, sigsPath, vecsPath, threshold, bits, tables,
      dim, maxCandidatePairs)._1

  /** Returns (labeled batch, pinned batch signatures) — the signatures
    * are reused by [[ingestBatch]]'s upsert so the tables×bits×dim
    * signature pass runs once per ingest. */
  private def labelBatch(spark: SparkSession, batch: DataFrame,
                         sigsPath: String, vecsPath: String,
                         threshold: Double, bits: Int, tables: Int,
                         dim: Int, maxCandidatePairs: Long): (DataFrame, DataFrame) = {
    // Identical-vector collapse (r19 — cosinePairsLsh's fix at the
    // ingest face): K identical batch vectors previously bucket-joined
    // each other C(K,2) times and the stored index K times each. Group
    // on the double-cast vector (exact array equality), sign/bucket ONE
    // rep (min id) per class; every kept vector is a rep by construction
    // (a non-rep member always loses to its own rep or to something
    // smaller), so the rep-only `sigs` relation remains exactly what
    // ingestBatch's upsert needs. Null-id rows never pair on any path
    // (null comparisons) and label `kept` via the no-match left joins,
    // pre- and post-collapse; null embeddings keep their pre-collapse
    // verdict too (their confirms evaluate null → never dup).
    val all = batch.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    // One aggregation yields class reps, sizes, and the rep-vector
    // relation; pinned — consumed by sigs, both confirms' re-attach,
    // and the within-class eligibility scorer.
    val grouped = graft.Pin.ser(all.filter(col("vec_id").isNotNull)
      .groupBy(col("e")).agg(min(col("vec_id")).as("rep"),
        count(lit(1)).as("__k")))
    val members = graft.Pin.ser(all.filter(col("vec_id").isNotNull)
      .join(grouped.select(col("e").as("__e"), col("rep")), col("e") <=> col("__e"))
      .select(col("vec_id"), col("rep")))
    val v = graft.Pin.ser(grouped.select(col("rep").as("vec_id"), col("e")))
    val sigs = graft.Pin.ser(
      v.select(col("vec_id"),
          explode(Similarity.lshSignatures(col("e"), bits, tables, dim)).as("ts"))
        .select(col("vec_id"), col("ts.t").as("t"), col("ts.sig").as("sig")))

    // In-batch candidates + confirm at the REP grain: cosinePairsLsh's
    // shape — INCLUDING its Σ c·(c-1)/2 explosion guard (ADVICE r12),
    // which now counts rep-level bucket work: an identical-heavy batch
    // passes by construction (collapse IS the fix), while a genuinely
    // hub-shaped batch still refuses loudly. The labeling output is
    // linear either way — member pairs never materialize here.
    val selfEst = CoreOps.bucketPairWork(sigs, Seq("t", "sig"))
    require(selfEst <= maxCandidatePairs,
      s"embed-dedup ingest: ~$selfEst within-bucket candidate pairs inside this " +
        s"batch exceed maxCandidatePairs=$maxCandidatePairs — $bits bits is too " +
        "coarse for the batch (occupancy is n/2^bits per table and pair work is " +
        "occupancy-quadratic); raise bits toward log2(n/targetOccupancy), split " +
        "the batch, or raise maxCandidatePairs deliberately")
    val selfCands = CoreOps.bucketPairs(sigs, Seq("t", "sig"), "vec_id")
    val selfPairs = selfCands
      .join(v.select(col("vec_id").as("doc_a"), col("e").as("va")), Seq("doc_a"))
      .join(v.select(col("vec_id").as("doc_b"), col("e").as("vb")), Seq("doc_b"))
      .filter(round(Similarity.cosine(col("va"), col("vb")), 6) >= threshold)
      .select("doc_a", "doc_b")

    // Vs-store candidates + confirm: rep signatures against the
    // persisted index; stored vectors semi-pruned to candidate ids. The
    // self-pair (vec_id = stored_id, an ingest retry) stays IN the
    // candidate set here: its confirm — cosine(batch e, stored
    // float-cast e) — is exactly what each identical classmate would
    // have scored against the stored copy pre-collapse, so it decides
    // the classmates' dup_of_stored verdict; only the rep itself is
    // exempt from its own stored copy.
    val dupOfStored = KeyedParquetStore.read(spark, sigsPath,
      schema = Some(sigStoreSchema)).map { ss =>
      if (KeyedParquetStore.debugChecksOn(spark)) {
        val cfg = cfgOf(bits, tables, dim)
        val drift = ss.filter(col("cfg").isNotNull && col("cfg") =!= cfg)
          .select(col("cfg")).limit(1).collect()
        require(drift.isEmpty,
          s"embed-dedup index parameter drift: store at $sigsPath was built " +
            s"with bits/tables/dim = ${drift.headOption.map(_.getString(0)).orNull} " +
            s"but this call uses $cfg — drifted signatures match nothing " +
            "and every stored near-dup would silently re-enter as kept")
      }
      val cands = sigs
        .join(ss.select(col("t"), col("sig"), col("vec_id").as("stored_id")),
          Seq("t", "sig"))
        .select(col("vec_id"), col("stored_id")).distinct()
      val storedV = KeyedParquetStore.read(spark, vecsPath,
          schema = Some(vecStoreSchema))
        .getOrElse(sys.error(s"signature index $sigsPath exists without its " +
          s"vector store $vecsPath — the two stores upsert together " +
          "(vectors first); this state indicates external deletion"))
        .select(col("vec_id").as("stored_id"),
          col("embedding").cast("array<double>").as("se"))
        .join(cands.select(col("stored_id")).distinct(), Seq("stored_id"), "left_semi")
      val confirmed = cands
        .join(v, Seq("vec_id"))
        .join(storedV, Seq("stored_id"))
        .filter(round(Similarity.cosine(col("e"), col("se")), 6) >= threshold)
        .select(col("vec_id").as("rep"),
          (col("vec_id") === col("stored_id")).as("__self"))
      val viaCross = members
        .join(confirmed.filter(!col("__self")).select(col("rep")).distinct(),
          Seq("rep"))
        .select(col("vec_id"))
      val viaSelf = members.filter(col("vec_id") =!= col("rep"))
        .join(confirmed.filter(col("__self")).select(col("rep")).distinct(),
          Seq("rep"))
        .select(col("vec_id"))
      viaCross.unionByName(viaSelf).distinct()
        .withColumn("__stored_dup", lit(true))
    }

    // Within-batch clusters over the rep pair graph, expanded to member
    // labels; isolated identical cliques qualify when their self-cosine
    // clears the threshold (the same expression a member pair would
    // have evaluated — ~1.0 for real vectors, null/NaN semantics
    // preserved for degenerate ones).
    val cliqueReps = grouped.filter(col("__k") >= 2)
      .filter(round(Similarity.cosine(col("e"), col("e")), 6) >= threshold)
      .select(col("rep"))
    val repLabels = Dedup.dedupClusters(selfPairs)
      .select(col("doc_id").as("rep"), col("label"))
    val memberLabels = repLabels.select(col("rep"))
      .unionByName(cliqueReps).distinct()
      .join(repLabels, Seq("rep"), "left")
      .select(col("rep"), coalesce(col("label"), col("rep")).as("label"))
      .join(members, Seq("rep"))
      .select(col("vec_id"), col("label"))
    val nonCanonical = memberLabels
      .filter(col("vec_id") =!= col("label"))
      .select(col("vec_id")).distinct()
      .withColumn("__batch_dup", lit(true))

    val marked0 = batch.join(nonCanonical, Seq("vec_id"), "left")
    val marked = dupOfStored.fold(
      marked0.withColumn("__stored_dup", lit(null).cast("boolean")))(
      d => marked0.join(d, Seq("vec_id"), "left"))
    val labeled = graft.Pin.ser(marked
      .withColumn("status",
        when(col("__stored_dup"), lit("dup_of_stored"))
          .when(col("__batch_dup"), lit("dup_in_batch"))
          .otherwise(lit("kept")))
      .drop("__stored_dup", "__batch_dup"))
    (labeled, sigs)
  }
}
