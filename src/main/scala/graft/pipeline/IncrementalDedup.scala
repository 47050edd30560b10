package graft.pipeline

import graft.operators.CoreOps
import graft.sources.KeyedParquetStore
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
  * Both stores go through [[KeyedParquetStore]]: crash-safe swaps, writer
  * lock, last-wins upsert — an ingest retry re-upserts the same keys
  * idempotently. Documents too short to shingle (< shingleN tokens)
  * produce no bands, index nothing, and are always kept — exactly
  * [[Dedup.minhashLsh]]'s behavior for them (they never pair).
  */
object IncrementalDedup {

  /** The two index stores' FIXED schemas, passed to every read so the
    * hot path skips mergeSchema's per-file footer inference (a job whose
    * cost grows with accumulated store size — the one remaining
    * store-sized cost per ingest after the append fast path). The
    * explicit schema stays evolution-safe: files written before a column
    * existed null-fill under it. */
  private val bandStoreSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("sig", StringType), StructField("cfg", StringType),
    StructField("batch", StringType)))
  private val shingleStoreSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("h", LongType),
    StructField("batch", StringType)))

  /** The index's STRUCTURAL parameters, fingerprinted onto every stored
    * band row (RLE-compresses to nothing): numHashes/rowsPerBand/shingleN
    * determine the signature encoding, so an ingest with different values
    * would band-join stored rows and match NOTHING — every stored
    * near-dup silently re-enters as "kept". The fingerprint lets
    * debugChecks fail loud on drift. `threshold` is deliberately absent:
    * it tunes the confirm, not the encoding. */
  private def cfgOf(numHashes: Int, rowsPerBand: Int, shingleN: Int): String =
    s"$numHashes/$rowsPerBand/$shingleN"

  /** Dedup `batch` against the stored index and upsert the survivors'
    * bands + shingles under the batch's own partition (`batch=<batchId>`)
    * — the index is APPEND-ONLY per ingest, so the partition-scoped
    * upsert merges exactly one partition per call no matter how large
    * the accumulated index grows, and a retried ingest re-merges its own
    * partition idempotently (last-wins on the same keys). Returns the
    * batch with a `status` column:
    *
    *  - `kept` — new content; its signatures are now in the index.
    *  - `dup_of_stored` — confirmed near-dup (Jaccard ≥ `threshold`) of
    *    an already-stored document.
    *  - `dup_in_batch` — non-canonical member of a within-batch
    *    duplicate cluster ([[Dedup.dedupClusters]] semantics: a cluster
    *    collapses to its min-id canonical; if the canonical itself is
    *    `dup_of_stored`, the whole cluster is rejected — the same
    *    fixpoint batch-mode dedupClusters + dropNonCanonical reaches).
    *
    * `dup_of_stored` wins when both labels apply.
    *
    * PRECONDITIONS (caller-vouched, enforced under
    * `spark.graft.store.debugChecks=true`): (1) the structural
    * parameters (numHashes/rowsPerBand/shingleN) never change across
    * ingests into one index — drifted parameters band-join stored rows
    * and match NOTHING, silently re-admitting every stored near-dup;
    * (2) a doc_id is never re-delivered under a DIFFERENT batch id —
    * the self-pair exemption (a retried doc must not read as its own
    * duplicate) means a re-sent doc is never compared against its
    * stored copy, so it re-indexes as "kept" and the store holds two
    * rows per key; (3) a doc_id appears at most ONCE within its batch —
    * differing texts under one id would fuse into a chimera signature
    * matching neither document, and even identical duplicate rows
    * produce duplicate shingle-store keys (the shingle relation dedups
    * only within one row). Replays under the ORIGINAL batch id are the
    * sanctioned idempotent path for all three. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, batchId: String,
                  bandsPath: String, shinglesPath: String,
                  numHashes: Int = 16, rowsPerBand: Int = 4,
                  shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    if (KeyedParquetStore.debugChecksOn(spark)) {
      // WITHIN-batch duplicate doc_ids, refused in both variants: with
      // DIFFERENT texts, the per-doc band aggregation fuses them into a
      // chimera signature matching neither document (with perfectly
      // unique band-store keys — invisible to the store's vouch check);
      // with IDENTICAL text the signatures are unharmed, but the shingle
      // relation dedups only within one row ([[TextAnalysis.shingles]]'
      // array_distinct), so the duplicate rows reach the shingle store
      // as duplicate (doc_id, h) keys and would break the
      // `incomingUnique` vouch anyway. One module-level check, one
      // actionable message, mirroring the BM25 ingest's contract.
      val dupInBatch = batch.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).select(col("doc_id")).limit(3)
        .collect().map(_.getLong(0))
      require(dupInBatch.isEmpty,
        s"dedup ingest precondition violated: doc_id(s) ${dupInBatch.mkString(", ")} " +
          s"appear more than once within batch '$batchId' — differing texts " +
          "would fuse into a chimera signature matching neither document; " +
          "identical texts would store duplicate shingle keys (dedup the " +
          "batch upstream, e.g. dropDuplicates(\"doc_id\"))")
      KeyedParquetStore.read(spark, bandsPath, schema = Some(bandStoreSchema))
        .foreach { sb =>
          val resent = sb.filter(col("batch") =!= lit(batchId))
            .join(batch.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
            .select(col("doc_id")).distinct().limit(3)
            .collect().map(_.getLong(0))
          require(resent.isEmpty,
            s"dedup ingest precondition violated: doc_id(s) ${resent.mkString(", ")} " +
              s"already indexed under a different batch than '$batchId' — the " +
              "self-pair exemption means a re-sent doc never matches its own " +
              "stored copy and would duplicate its keys (replays must reuse " +
              "the original batch id)")
        }
    }
    // Batch-sized plans end to end: the label checkpoints + two upserts
    // plan without AQE (see KeyedParquetStore.withWritePlanning — the
    // per-stage materialization jobs are the ingest-path job floor).
    KeyedParquetStore.withWritePlanning(spark) {
    val (labeled, bands, sh) = labelBatch(spark, batch, bandsPath, shinglesPath,
      numHashes, rowsPerBand, shingleN, threshold)
    val keptIds = labeled.filter(col("status") === "kept").select("doc_id")
    // The batch IS the partition: pass the tuple statically so neither
    // upsert runs a discovery job over the semi-joined relation. Both
    // relations are unique per key BY CONSTRUCTION (bandSigs emits one
    // row per (doc_id, band); hashedShingles is per-doc distinct), so
    // `incomingUnique` skips the last-wins window — with the store's
    // append fast path, a first-time batch ingest is one write job per
    // store. A RETRY of the same batchId finds its partition on disk and
    // takes the merge path, which stays idempotent (last-wins on the
    // same keys).
    //
    // ORDER MATTERS for crash recovery: the band store is the index's
    // presence marker (labelBatch treats a missing band store as an
    // empty index, but a band store WITHOUT its shingle store is a loud
    // error). Writing shingles FIRST means a crash between the two
    // upserts leaves shingles-only — which reads as an absent index, so
    // the replayed epoch relabels from scratch and both upserts re-merge
    // idempotently. The old order (bands first) left a state whose every
    // replay hit the missing-shingle-store error: a permanently wedged
    // stream.
    KeyedParquetStore.upsert(spark, shinglesPath,
      sh.join(keptIds, Seq("doc_id"), "left_semi")
        .withColumn("batch", lit(batchId)),
      keys = Seq("doc_id", "h"), version = Seq(lit(1)),
      partitionCols = Seq("batch"), partitionValues = Seq(Seq(batchId)),
      incomingUnique = true, schema = Some(shingleStoreSchema))
    KeyedParquetStore.upsert(spark, bandsPath,
      bands.join(keptIds, Seq("doc_id"), "left_semi")
        .withColumn("cfg", lit(cfgOf(numHashes, rowsPerBand, shingleN)))
        .withColumn("batch", lit(batchId)),
      keys = Seq("doc_id", "band"), version = Seq(lit(1)),
      partitionCols = Seq("batch"), partitionValues = Seq(Seq(batchId)),
      incomingUnique = true, schema = Some(bandStoreSchema))
    labeled
    }
  }

  /** RETIRE documents from the stored index — the other half of a crawl
    * refresh ([[graft.queries.PipelineQueries]] q95): docs the new
    * snapshot REMOVED leave the index for good; docs it CHANGED retire
    * their stale signatures here and re-enter through [[ingestBatch]]
    * under a NEW batch id. Retirement restores re-deliverability: the
    * ingest precondition forbids re-sending a doc_id under a different
    * batch only because a stored copy would shadow it via the self-pair
    * exemption — once no stored row remains, the debugChecks resent
    * probe passes and the re-ingest is sound, not merely unflagged.
    *
    * Retirement is FORWARD-LOOKING by contract: labels already emitted
    * are not rewritten, and retiring a cluster's stored canonical does
    * NOT resurrect duplicates it previously rejected — they were never
    * indexed, and nothing here re-examines them. A refresh that must
    * re-adjudicate history is a batch re-curation, not an index edit.
    *
    * Cost shape: two partition-scoped [[KeyedParquetStore.deleteMatching]]
    * calls, each reading back only the `batch=` partitions that hold the
    * retired ids — never the accumulated store. Bands delete FIRST: a
    * crash between the two deletes then leaves orphan shingle rows,
    * which are unreachable (candidates arise only from band collisions)
    * and a re-run completes the job; the reverse order would leave band
    * rows whose Jaccard confirm finds no shingles, and every future
    * near-dup of a half-retired doc would silently read as `kept`.
    *
    * Returns (band partitions touched, shingle partitions touched). */
  def retireDocs(spark: SparkSession, ids: DataFrame,
                 bandsPath: String, shinglesPath: String): (Int, Int) = {
    // Pinned: each delete consumes the victims twice (discovery semi-join
    // + the anti-join) across two stores — a derived `ids` relation (the
    // docStatus filter) would otherwise re-run four times.
    val victims = graft.Pin.ser(ids.select(col("doc_id")).distinct())
    val nb = KeyedParquetStore.deleteMatching(spark, bandsPath, victims,
      on = Seq("doc_id"), partitionCols = Seq("batch"),
      schema = Some(bandStoreSchema))
    val ns = KeyedParquetStore.deleteMatching(spark, shinglesPath, victims,
      on = Seq("doc_id"), partitionCols = Seq("batch"),
      schema = Some(shingleStoreSchema))
    (nb, ns)
  }

  /** Label `batch` against the stored index WITHOUT mutating it — the
    * dry-run / query-the-index face of [[ingestBatch]]: identical
    * statuses, no upsert. Shares the ingest face's parameter-drift
    * precondition (and its debugChecks enforcement): drifted structural
    * parameters mislabel a dry run exactly like an ingest. */
  def dedupBatch(spark: SparkSession, batch: DataFrame,
                 bandsPath: String, shinglesPath: String,
                 numHashes: Int = 16, rowsPerBand: Int = 4,
                 shingleN: Int = 3, threshold: Double = 0.5): DataFrame =
    labelBatch(spark, batch, bandsPath, shinglesPath,
      numHashes, rowsPerBand, shingleN, threshold)._1

  private def labelBatch(spark: SparkSession, batch: DataFrame,
                         bandsPath: String, shinglesPath: String,
                         numHashes: Int, rowsPerBand: Int,
                         shingleN: Int, threshold: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    // Identical-class collapse (r19 — Dedup.minhashLsh's fix at the
    // ingest face): K identical batch copies previously band-joined each
    // other C(K,2) times AND the stored index K times each. Shingle/band
    // ONE rep (min id) per class; every kept doc is a rep by
    // construction (a non-rep member always loses to its own rep — the
    // clique path below — or to something smaller), so the rep-only
    // `sh`/`bands` relations remain exactly what ingestBatch's upserts
    // need. Null-id rows never pair on any path (null comparisons) and
    // label `kept` via the no-match left joins, pre- and post-collapse.
    val members = Dedup.identicalClasses(batch)
    val repBatch = batch.join(
      members.filter(col("doc_id") === col("rep")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    // Materialized once per call: consumed by the band build, the
    // vs-store confirm and the in-batch confirm (see graft.Pin).
    val sh = graft.Pin.ser(TextAnalysis.hashedShingles(repBatch, shingleN))
    val bands = graft.Pin.ser(Dedup.bandSigs(sh, numHashes, rowsPerBand))

    // In-batch candidates + confirm at the REP grain: minhashLsh's shape.
    val selfCands = CoreOps.bucketPairs(bands, Seq("band", "sig"), "doc_id")
    val selfPairs = Dedup.exactJaccard(selfCands, sh)
      .filter(col("jaccard") >= threshold).select("doc_a", "doc_b")

    // Vs-store candidates + confirm: rep bands against the persisted
    // band index (doc_a = batch rep, doc_b = stored); the stored
    // shingles join SEMI-pruned to the candidate ids — stored text is
    // never read (the stores don't even carry it).
    val storedDup = KeyedParquetStore.read(spark, bandsPath,
      schema = Some(bandStoreSchema)).map { sb =>
      // Parameter-drift guard lives HERE so BOTH faces get it — the
      // dry-run dedupBatch mislabels under drift exactly like an ingest
      // (stored signatures match nothing → every stored near-dup reads
      // as kept). Same debugChecks gate, same store read, no extra job
      // on the production path.
      if (KeyedParquetStore.debugChecksOn(spark)) {
        val cfg = cfgOf(numHashes, rowsPerBand, shingleN)
        val drift = sb.filter(col("cfg").isNotNull && col("cfg") =!= cfg)
          .select(col("cfg")).limit(1).collect()
        require(drift.isEmpty,
          s"dedup-index parameter drift: store at $bandsPath was built with " +
            s"numHashes/rowsPerBand/shingleN = ${drift.headOption.map(_.getString(0)).orNull} " +
            s"but this call uses $cfg — drifted signatures match nothing " +
            "and every stored near-dup would silently re-enter as kept")
      }
      // Checkpointed: consumed by the self-stored split, the semi-prune,
      // and the exactJaccard pair explode — without the pin each
      // consumer re-reads the store and re-runs the band join (the q37
      // recompute lesson).
      val hits = graft.Pin.ser(bands
        .join(sb.select(col("band"), col("sig"), col("doc_id").as("doc_b")),
          Seq("band", "sig"))
        .select(col("doc_id").as("doc_a"), col("doc_b")).distinct())
      // doc_a <> doc_b: on an ingest RETRY the batch's own kept docs are
      // already indexed, and a doc must not read as a duplicate of
      // ITSELF — but its identical classmates DO match the stored copy
      // (jaccard exactly 1.0; pre-collapse each classmate confirmed that
      // pair individually). The self-hit is the detector: a rep whose
      // own id sits in the store shares every band with it by identity.
      val selfStored = hits.filter(col("doc_a") === col("doc_b"))
        .select(col("doc_a").as("rep"))
      val cands = hits.filter(col("doc_a") =!= col("doc_b"))
      val storedSh = KeyedParquetStore.read(spark, shinglesPath,
          schema = Some(shingleStoreSchema))
        // unreachable via this module's own writes since the r8
        // shingles-before-bands ordering (a crash between the upserts
        // leaves shingles-only, which reads as an absent index); only
        // external damage produces it, and that deserves the error
        .getOrElse(sys.error(s"band index $bandsPath exists without its " +
          s"shingle index $shinglesPath — the two stores upsert together " +
          "(shingles first); this state indicates external deletion"))
        .select(col("doc_id"), col("h"))
        .join(cands.select(col("doc_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_semi")
      val shAll = sh.unionByName(storedSh)
      val confirmedReps = Dedup.exactJaccard(cands, shAll)
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a").as("rep")).distinct()
      // Expand to members: a confirmed rep's WHOLE class is
      // dup_of_stored (identical shingle sets ⇒ identical Jaccard); a
      // self-stored rep's classmates (id ≠ rep) are dup_of_stored too —
      // each matches the stored copy at jaccard 1.0 — while the rep
      // itself stays exempt as its own self-pair.
      val viaCross = members.join(confirmedReps, Seq("rep"))
        .select(col("doc_id"))
      val viaSelf =
        if (threshold <= 1.0)
          members.filter(col("doc_id") =!= col("rep"))
            .join(selfStored, Seq("rep")).select(col("doc_id"))
        else viaCross.limit(0)
      viaCross.unionByName(viaSelf).distinct()
    }

    val dupOfStored = storedDup.map(_.withColumn("__stored_dup", lit(true)))
    // Within-batch clusters over the rep pair graph, expanded to member
    // labels (isolated identical cliques included); members whose id is
    // not the cluster canonical are dropped.
    val nonCanonical = Dedup.expandMemberLabels(members, sh, selfPairs, threshold)
      .filter(col("doc_id") =!= col("label"))
      .select(col("doc_id")).distinct()
      .withColumn("__batch_dup", lit(true))

    val marked0 = batch.join(nonCanonical, Seq("doc_id"), "left")
    val marked = dupOfStored.fold(marked0.withColumn("__stored_dup", lit(null).cast("boolean")))(
      d => marked0.join(d, Seq("doc_id"), "left"))
    // ingestBatch's upserts re-derive from the checkpointed relations;
    // the caller's view is pinned so all consumers agree
    val labeled = graft.Pin.ser(marked
      .withColumn("status",
        when(col("__stored_dup"), lit("dup_of_stored"))
          .when(col("__batch_dup"), lit("dup_in_batch"))
          .otherwise(lit("kept")))
      .drop("__stored_dup", "__batch_dup"))
    (labeled, bands, sh)
  }
}
