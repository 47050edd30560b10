package graft.pipeline

import graft.sources.KeyedParquetStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType, StructField, StructType}

/** Incremental IVF index maintenance — the live-corpus counterpart of the
  * one-shot build (q61's layout: a KB-sized `(cell, centroid)` store +
  * a cell-partitioned assigned-corpus store). New embedding batches are
  * assigned to the FROZEN stored centroids (the standard ANN insertion
  * path — Faiss's `add` after `train`: cells drift only on an explicit
  * re-train, searches meanwhile stay consistent with the index that
  * assigned every stored vector) and appended under `(iv, cell, batch)`
  * partitions, so:
  *
  *  - per-batch ingest work is batch-sized — one narrow argmax pass over
  *    the batch plus partition-scoped upserts (the accumulated corpus is
  *    never read);
  *  - search still prunes to the probed cells at the file-listing level
  *    (`cell=` stays a partition column; the `batch=` sub-directories
  *    under it are just layout);
  *  - a replayed batch id re-merges its own partitions idempotently
  *    (last-wins keys) — at-least-once delivery, effectively-once index.
  *
  * THE `iv` (index version) PAIRING: centroids and assigned corpus are
  * TWO stores whose contents must agree (every stored vector's `cell`
  * must come from the centroids the searcher will probe with). Each
  * store carries the index version that produced it — a constant `iv`
  * column in the KB-sized centroid store, and a leading `iv=` partition
  * level in the assigned store (RLE-free: it exists only as a directory
  * name). [[searchStored]] refuses to search a mismatched pair, which
  * turns the one non-atomic window in [[retrain]] (between its two
  * store replaces) from a silent mis-pruning into a loud error.
  *
  * Results are IDENTICAL to assigning the whole corpus at once against
  * the same centroids (assignment is per-row and the centroids are
  * frozen — spec-asserted, similarities included).
  */
object IncrementalIvf {

  /** Fixed store schemas (known-schema reads skip mergeSchema's footer
    * pass; pre-evolution files null-fill). */
  val centroidsSchema: StructType = StructType(Seq(
    StructField("cell", LongType),
    StructField("centroid", ArrayType(DoubleType)),
    StructField("iv", LongType)))
  val assignedSchema: StructType = StructType(Seq(
    StructField("neighbor_id", LongType),
    StructField("cv", ArrayType(DoubleType)),
    StructField("iv", LongType),
    StructField("cell", LongType),
    StructField("batch", StringType)))

  private def centroidsOf(spark: SparkSession, path: String): DataFrame =
    KeyedParquetStore.read(spark, path, schema = Some(centroidsSchema))
      .getOrElse(sys.error(s"no IVF centroid store at $path — " +
        "run buildCentroids first (insertion needs a trained index)"))

  /** The store pair's current index version: a one-row agg over the
    * KB-sized centroid relation (all rows carry the same `iv` by
    * construction; `max` also tolerates a half-merged historical store). */
  private def versionOf(centroids: DataFrame): Long =
    centroids.agg(coalesce(max(col("iv")), lit(1L))).head().getLong(0)

  /** One-time: train centroids on a seed corpus and persist them at
    * index version 1. */
  def buildCentroids(spark: SparkSession, corpus: DataFrame,
                     centroidsPath: String, numCells: Int = 8,
                     trainIters: Int = 2): Unit =
    // train iterations are driver-folded KB aggregations — AQE's
    // per-stage materialization jobs are pure overhead here (see
    // KeyedParquetStore.withWritePlanning)
    KeyedParquetStore.withWritePlanning(spark) {
      KeyedParquetStore.upsert(spark, centroidsPath,
        Similarity.buildIvfIndex(corpus, numCells, trainIters)
          .withColumn("iv", lit(1L)),
        keys = Seq("cell"), version = Seq(lit(1L)), incomingUnique = true)
    }

  /** Assign `batch` (columns `vec_id`, `embedding`) to the stored
    * centroids and append it under `(iv=<current>, cell, batch=<batchId>)`
    * partitions of the assigned-corpus store. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, batchId: String,
                  centroidsPath: String, assignedPath: String): Unit = {
    // PRECONDITION (caller-vouched, enforced under debugChecks like the
    // BM25/dedup ingest faces): a vec_id is never re-delivered under a
    // DIFFERENT batch id. The keyed merge is (iv, cell, batch)-partition-
    // scoped, so a re-sent vector's old rows live in another partition
    // the merge never sees — the same vector then sits under TWO batch
    // partitions and searches return it twice (until a retrain's
    // one-row-per-vector collapse heals the store). Replays under the
    // ORIGINAL batch id are the sanctioned idempotent path. Within-batch
    // duplicate rows need no check here: they reach the store as
    // duplicate neighbor_id keys and fail its own incomingUnique vouch
    // check under the same flag.
    DeliveryGuard.check(spark, batch, batchId, "vec_id", assignedPath,
      assignedSchema, "neighbor_id", "IVF", withinWhy = None,
      resentWhy = "the partition-scoped merge never sees the old rows, so " +
        "the vector would be stored (and returned by searches) twice " +
        "(replays must reuse the original batch id)")
    val index = centroidsOf(spark, centroidsPath)
    // ONE driver action over the KB-sized centroid store serves both the
    // version stamp and the static partition hint (a second agg job per
    // streamed micro-batch is exactly the per-batch driver cost this
    // module's hints exist to avoid). Null iv = a pre-versioning store:
    // version 1, same as versionOf.
    val centRows = index.select(col("cell"), col("iv")).collect()
    if (centRows.isEmpty) {
      // A zero-cell index is legitimate exactly when it was trained on a
      // zero-vector corpus (r13 edge gate); an empty batch then has
      // nothing to assign and the ingest is a clean no-op. A NON-empty
      // batch against a cell-less index stays a loud error — frozen-
      // centroid insertion has nowhere to put the vectors.
      require(batch.isEmpty,
        s"empty IVF centroid store at $centroidsPath — a non-empty batch " +
          "cannot be assigned (train centroids on a non-empty seed first)")
      return
    }
    val iv = centRows.map(r => if (r.isNullAt(1)) 1L else r.getLong(1)).max
    val cells = centRows.map(_.getLong(0)).sorted
    val assigned = Similarity.assignIvfCells(batch, index)
      .withColumn("iv", lit(iv)).withColumn("batch", lit(batchId))
    KeyedParquetStore.upsert(spark, assignedPath, assigned,
      keys = Seq("neighbor_id"), version = Seq(lit(1L)),
      partitionCols = Seq("iv", "cell", "batch"),
      partitionValues = cells.toSeq.map(c => Seq(iv, c, batchId)),
      incomingUnique = true, schema = Some(assignedSchema))
  }

  /** RE-TRAIN the index from the stored vectors and re-assign the whole
    * corpus — the periodic answer to distribution drift under frozen-
    * centroid insertion (the Faiss re-train contract; see README's
    * re-train-cadence knob). The assigned store carries the vectors, so
    * no original corpus access is needed: read it back, train fresh
    * centroids, re-assign every vector, and REPLACE both stores at index
    * version `old + 1` (the assignment legitimately shrinks/reshapes
    * partitions — not a merge). Deterministic: training is
    * hash-bucket-seeded and decimal-exact, so re-running on the same
    * store reproduces the same index.
    *
    * `keepBatches` is the REPLAY HORIZON — it must name every batch id
    * that an at-least-once delivery could still redeliver (in the
    * streaming sink: the epoch being processed; older epochs are
    * checkpoint-committed). Named batches are re-assigned like everything
    * else — their rows MUST move to the new centroids' cells, or searches
    * would mis-prune them — but they keep their own `batch=` label
    * instead of folding into `batch=<batchLabel>`. A later replay of
    * such a batch then assigns the same vectors against the same (now
    * frozen) new centroids — same cells, same keys — and re-merges its
    * own partitions idempotently. A replayed batch whose label WAS
    * folded away would re-ingest as fresh rows next to its folded
    * copies, duplicating neighbors (which is why the default-empty set
    * is only safe for a cleanly stopped stream — last epoch
    * checkpoint-committed).
    *
    * NOT crash-atomic ACROSS the two stores (each replace is
    * individually atomic): a crash between them leaves version-v
    * assignments with version-(v-1) centroids. [[searchStored]] REFUSES
    * that pairing (loud, not mis-pruned) — re-run `retrain` to
    * converge. Convergence holds even when an epoch REPLAYED inside the
    * crash window: such an ingest stamps the stale centroid version, so
    * the same vector can sit under two `iv` partitions; the read-back
    * below collapses the store to one row per vector (newest `iv` wins,
    * deterministic tie-break) BEFORE re-training, so re-running retrain
    * repairs the duplication instead of writing it back verbatim. Run
    * from the stream owner's thread, never concurrently with ingest
    * (the writer locks serialize the conflict to a fail-fast either
    * way).
    *
    * Memory and resilience: the collapsed read-back (`corpus`) is one
    * [[graft.Pin.ser]] of the WHOLE assigned store — every vector, held
    * serialized in executor block storage with disk spill until the
    * replace finishes. It is a local checkpoint: its blocks live only on
    * the executor that computed them and are not recomputed when that
    * executor is lost, so an executor loss mid-retrain fails the retrain
    * with a missing-checkpoint-block error; re-running it converges, as
    * for any crash above. A multi-executor deployment that needs the
    * retrain to survive executor loss swaps this pin for
    * `persist(MEMORY_AND_DISK_SER_2)` with an explicit unpersist after
    * the second replace (see [[graft.Pin]]). */
  def retrain(spark: SparkSession, centroidsPath: String,
              assignedPath: String, numCells: Int = 8,
              trainIters: Int = 2, batchLabel: String = "retrain",
              keepBatches: Set[String] = Set.empty): Unit = {
    // Missing store = the empty relation (only-empty-batches ingests
    // never materialize it): re-training an empty index is well-defined
    // — an empty corpus trains an empty index, and the partitioned
    // empty replace below renders "the new truth is nothing" as the
    // absent store, which searchStored reads back as empty.
    val assigned = KeyedParquetStore.readOrEmpty(spark, assignedPath,
      assignedSchema)
    KeyedParquetStore.withWritePlanning(spark) {
    val v = versionOf(centroidsOf(spark, centroidsPath)) + 1
    // One row per vector even from a crash-skewed store (see scaladoc):
    // newest-assignment-wins collapse per id — the keyed merge is
    // iv-partition-scoped, so cross-iv duplicates can exist here and
    // ONLY here is the whole store in one relation to fix them.
    //
    // PINNED (r19): the collapse feeds THREE store-sized consumers —
    // the seed pick inside trainCentroids, its Lloyd cache fill, and
    // the re-assignment pass — so unpinned the store was scanned and
    // collapse-shuffled once per consumer (measured at r19: 3 full
    // store scans per retrain, q99's Lloyd/seed jobs at 25–27 tasks
    // each vs 1–3 post-pin). One materialization, everything downstream
    // reads the checkpoint. Width stays the write-planning window's
    // (one shuffle partition); pinning changes only the number of
    // passes, not the width.
    val corpus = graft.Pin.ser(assigned
      .groupBy(col("neighbor_id"))
      .agg(max(struct(col("iv"), col("batch"), col("cv"))).as("w"))
      .select(col("neighbor_id").as("vec_id"),
        col("w")("cv").as("embedding"), col("w")("batch").as("batch")))
    // KB-sized; pinned so the centroid relation is not re-derived from
    // the store mid-replace
    val index = graft.Pin.ser(Similarity.buildIvfIndex(corpus, numCells, trainIters)
      .withColumn("iv", lit(v)))
    val keep = keepBatches.toSeq
    val reassigned = Similarity
      .assignIvfCells(corpus, index, passthrough = Seq("batch"))
      .withColumn("iv", lit(v))
      .withColumn("batch",
        when(col("batch").isin(keep: _*), col("batch"))
          .otherwise(lit(batchLabel)))
    // assignment first (reads the old store into staging, then swaps),
    // centroids second: a crash between them leaves assigned@v with
    // centroids@v-1, which searchStored refuses — see the scaladoc
    // contract
    KeyedParquetStore.replace(spark, assignedPath, reassigned,
      partitionCols = Seq("iv", "cell", "batch"))
    KeyedParquetStore.replace(spark, centroidsPath, index)
    }
  }

  /** Retire `ids` (column `vec_id`) from the assigned store — the
    * crawl-refresh counterpart of [[ingestBatch]] (q95/q97/q98's loop
    * at the ANN index, q99): a removed or re-embedded vector must leave
    * the search surface or every later search can return it. The
    * assigned store is per-row facts (one assignment per vector), so
    * retirement is ONE partition-scoped
    * [[graft.sources.KeyedParquetStore.deleteMatching]] on
    * `neighbor_id`; the centroid store is untouched — centroids are a
    * TRAINED MODEL, not per-vector state, and [[retrain]] is the
    * maintenance face that re-fits them to the surviving corpus (a
    * post-retirement retrain trains on exactly the survivors, so
    * refresh + retrain ≡ a one-shot build over the current corpus —
    * q99's oracle). Re-running with the same `ids` is idempotent;
    * re-ingesting a retired vec_id under a new batch id passes the
    * armed re-delivery guard. Returns partitions touched. */
  def retireVecs(spark: SparkSession, ids: DataFrame,
                 assignedPath: String): Int =
    KeyedParquetStore.deleteMatching(spark, assignedPath,
      graft.Pin.ser(ids.select(col("vec_id").as("neighbor_id")).distinct()),
      on = Seq("neighbor_id"), partitionCols = Seq("iv", "cell", "batch"),
      schema = Some(assignedSchema))

  /** Search the incrementally-built index: the stored centroids pick the
    * probed cells, the assigned store prunes to them, and the shared
    * scoring path ranks — identical to q61's search over a one-shot
    * build of the same corpus.
    *
    * PAIR CHECK: refuses to search when the assigned store's `iv`
    * partition set is not exactly the centroid store's version — the
    * observable form of [[retrain]]'s two-store crash window. The check
    * reads NO vector data: `iv` is a partition column, so its distinct
    * values come from the file listing (one metadata-only job), and the
    * surviving scan is additionally pruned to `iv = <current>` at the
    * listing level. */
  def searchStored(spark: SparkSession, centroidsPath: String,
                   assignedPath: String, probes: DataFrame, k: Int,
                   nProbe: Int = 2): DataFrame = {
    val index = centroidsOf(spark, centroidsPath)
    val iv = versionOf(index)
    // Missing store = the empty relation: every ingest so far was an
    // empty batch (partitioned zero-row upserts are documented write
    // no-ops), so there is nothing to search — not a misconfiguration.
    val assigned = KeyedParquetStore.readOrEmpty(spark, assignedPath,
      assignedSchema)
    // null iv = rows from a pre-versioning store: version 1, mirroring
    // versionOf (a store this module wrote always has the partition)
    val assignedIvs = assigned.select(col("iv")).distinct()
      .collect().map(r => if (r.isNullAt(0)) 1L else r.getLong(0)).toSet
    // Zero assignments are version-consistent with ANY centroids (there
    // is nothing to mis-prune); the pair check only bites when stored
    // vectors could be searched under the wrong index version.
    require(assignedIvs.isEmpty || assignedIvs == Set(iv),
      s"IVF store pair at $centroidsPath / $assignedPath is version-skewed: " +
        s"centroids are iv=$iv but assignments hold iv=" +
        s"${assignedIvs.toSeq.sorted.mkString("{", ",", "}")} — a retrain " +
        "crashed between its two store replaces; re-run retrain to converge")
    Similarity.searchIvfAssigned(assigned.filter(col("iv") === iv), index,
      probes, k, nProbe)
  }
}
