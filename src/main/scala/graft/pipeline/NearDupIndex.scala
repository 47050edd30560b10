package graft.pipeline

import graft.sources.KeyedParquetStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The incremental near-dup index protocol, shared by [[IncrementalDedup]]
  * (MinHash/Jaccard over shingles) and [[IncrementalEmbedDedup]]
  * (random-hyperplane/cosine over vectors). Each arriving batch dedups
  * against everything already accepted WITHOUT re-reading the stored
  * corpus: the corpus side is two [[KeyedParquetStore]]s, read pruned to
  * the batch's candidates —
  *
  *  - the INDEX store (id, signature columns, `cfg`, `batch`): the
  *    batch's rep signatures join it to find stored candidates
  *    (id-width exchange);
  *  - the SUBSTRATE store (id, confirm columns, `batch`): the exact
  *    confirm's input, SEMI-joined down to candidate ids so only
  *    colliding items are ever read.
  *
  * Labels: `kept` (new content; its rows are now in both stores),
  * `dup_of_stored` (confirmed near-dup of a stored item), `dup_in_batch`
  * (non-canonical member of a within-batch cluster, [[Dedup.dedupClusters]]
  * semantics: a cluster collapses to its min-id canonical; if the
  * canonical itself is `dup_of_stored`, the whole cluster is rejected —
  * the fixpoint batch-mode dedupClusters + dropNonCanonical reaches).
  * `dup_of_stored` wins when both apply. Both faces collapse identical
  * batch inputs first ([[Dedup.classMembers]]) and confirm at the rep
  * grain; every kept item is a rep (a non-rep member always loses to its
  * own rep or to something smaller), so the rep-grain relations are
  * exactly what the upserts need. Null-id rows never pair on any path
  * and label `kept` via the no-match left joins.
  *
  * Storage: the index is APPEND-ONLY per ingest — both stores upsert
  * under the batch's own partition (`batch=<batchId>`), so each upsert
  * merges exactly one partition no matter how large the index grows,
  * and both relations are unique per key by construction, so
  * `incomingUnique` skips the last-wins window (a first-time ingest is
  * one write job per store; a retried batch id takes the idempotent
  * merge path). ORDER MATTERS for crash recovery: the index store is the
  * presence marker (labeling treats a missing index as empty, but an
  * index WITHOUT its substrate is a loud error), so the substrate
  * upserts FIRST — a crash between the upserts leaves substrate-only,
  * which reads as an absent index, and the replay relabels from scratch.
  * Retirement deletes from the index FIRST: a crash between the deletes
  * leaves orphan substrate rows, unreachable because candidates arise
  * only from index collisions.
  *
  * PRECONDITIONS (caller-vouched, enforced under
  * `spark.graft.store.debugChecks=true`): (1) the structural parameters
  * fingerprinted as `cfg` never change across ingests into one index —
  * drifted signatures match NOTHING, silently re-admitting every stored
  * near-dup (checked by both the ingest and the dry-run face); (2) an id
  * is never re-delivered under a DIFFERENT batch id — the self-pair
  * exemption (a retried item must not read as its own duplicate) means a
  * re-sent item is never compared against its stored copy; (3) an id
  * appears at most ONCE within its batch. Replays under the ORIGINAL
  * batch id are the sanctioned idempotent path for all three. */
private[pipeline] object NearDupIndex {

  case class Store(schema: StructType, keys: Seq[String], name: String)

  /** One family's fixed description: diagnostics prefix, id column,
    * the two stores, the names of its fingerprinted parameters and the
    * reasons its ingest refuses duplicate deliveries. */
  case class Family(module: String, id: String, index: Store,
                    substrate: Store, params: String,
                    withinWhy: String, resentWhy: String)

  /** One call's batch, collapsed to identical classes and signed at the
    * rep grain by its family; `cfg` fingerprints the call's structural
    * parameters. */
  abstract class Signed(val cfg: String) {
    /** (id, rep) for every non-null-id batch row. */
    def members: DataFrame
    /** Index-store rows of the batch reps, before `cfg`/`batch`. */
    def indexRows: DataFrame
    /** Substrate-store rows of the batch, before `batch`. */
    def substrateRows: DataFrame
    /** Confirm the reps against the stored index and its (lazily read)
      * substrate: (reps confirmed against another stored item, reps
      * whose own id is stored and confirmed). */
    def confirmStored(stored: DataFrame, substrate: => DataFrame): (DataFrame, DataFrame)
    /** In-batch cluster labels (id, label), expanded to members. */
    def batchLabels: DataFrame
  }

  /** Label `batch` and upsert its kept rows into both stores under
    * partition `batch=<batchId>`. */
  def ingest(spark: SparkSession, batch: DataFrame, batchId: String,
             indexPath: String, substratePath: String, f: Family)
            (sign: DataFrame => Signed): DataFrame = {
    DeliveryGuard.check(spark, batch, batchId, f.id, indexPath,
      f.index.schema, f.id, f.module, Some(f.withinWhy), f.resentWhy)
    // Batch-sized plans end to end: the label checkpoints + two upserts
    // plan without AQE (see KeyedParquetStore.withWritePlanning — the
    // per-stage materialization jobs are the ingest-path job floor).
    KeyedParquetStore.withWritePlanning(spark) {
      val s = sign(batch)
      val labeled = label(spark, batch, s, indexPath, substratePath, f)
      val keptIds = labeled.filter(col("status") === "kept").select(f.id)
      def kept(rows: DataFrame): DataFrame = rows.join(keptIds, Seq(f.id), "left_semi")
      def upsert(path: String, store: Store, rows: DataFrame): Unit =
        KeyedParquetStore.upsert(spark, path, rows.withColumn("batch", lit(batchId)),
          keys = store.keys, version = Seq(lit(1)),
          partitionCols = Seq("batch"), partitionValues = Seq(Seq(batchId)),
          incomingUnique = true, schema = Some(store.schema))
      upsert(substratePath, f.substrate, kept(s.substrateRows))
      upsert(indexPath, f.index, kept(s.indexRows).withColumn("cfg", lit(s.cfg)))
      labeled
    }
  }

  /** Retire the ids in `ids` (column `f.id`) from both stores; returns
    * (index partitions touched, substrate partitions touched). Labels
    * already emitted are not rewritten. */
  def retire(spark: SparkSession, ids: DataFrame, indexPath: String,
             substratePath: String, f: Family): (Int, Int) = {
    // Pinned: each delete consumes the victims twice (discovery semi-join
    // + the anti-join) across two stores — a derived `ids` relation would
    // otherwise re-run four times.
    val victims = graft.Pin.ser(ids.select(col(f.id)).distinct())
    def delete(path: String, store: Store): Int =
      KeyedParquetStore.deleteMatching(spark, path, victims, on = Seq(f.id),
        partitionCols = Seq("batch"), schema = Some(store.schema))
    val ni = delete(indexPath, f.index)
    (ni, delete(substratePath, f.substrate))
  }

  /** Label a signed batch against the stored index WITHOUT mutating it:
    * the batch with a `status` column, pinned so every consumer agrees. */
  def label(spark: SparkSession, batch: DataFrame, s: Signed,
            indexPath: String, substratePath: String, f: Family): DataFrame = {
    val dupOfStored = KeyedParquetStore.read(spark, indexPath,
        schema = Some(f.index.schema)).map { stored =>
      if (KeyedParquetStore.debugChecksOn(spark)) {
        val drift = stored.filter(col("cfg").isNotNull && col("cfg") =!= s.cfg)
          .select(col("cfg")).limit(1).collect()
        require(drift.isEmpty,
          s"${f.module} index parameter drift: store at $indexPath was built " +
            s"with ${f.params} = ${drift.headOption.map(_.getString(0)).orNull} " +
            s"but this call uses ${s.cfg} — drifted signatures match nothing " +
            "and every stored near-dup would silently re-enter as kept")
      }
      val (crossReps, selfReps) = s.confirmStored(stored,
        KeyedParquetStore.read(spark, substratePath, schema = Some(f.substrate.schema))
          .getOrElse(sys.error(s"${f.index.name} $indexPath exists without its " +
            s"${f.substrate.name} $substratePath — the two stores upsert " +
            s"together (${f.substrate.name} first); this state indicates " +
            "external deletion")))
      storedHitMembers(s.members, f.id, crossReps, selfReps)
        .withColumn("__stored_dup", lit(true))
    }
    val nonCanonical = s.batchLabels
      .filter(col(f.id) =!= col("label"))
      .select(col(f.id)).distinct()
      .withColumn("__batch_dup", lit(true))
    val marked0 = batch.join(nonCanonical, Seq(f.id), "left")
    val marked = dupOfStored.fold(
      marked0.withColumn("__stored_dup", lit(null).cast("boolean")))(
      d => marked0.join(d, Seq(f.id), "left"))
    graft.Pin.ser(marked
      .withColumn("status",
        when(col("__stored_dup"), lit("dup_of_stored"))
          .when(col("__batch_dup"), lit("dup_in_batch"))
          .otherwise(lit("kept")))
      .drop("__stored_dup", "__batch_dup"))
  }

  /** Stored hits → member verdicts: a rep confirmed against another
    * stored item condemns its WHOLE class (identical inputs score
    * identically); a rep whose own id is stored and confirmed condemns
    * its classmates (each matches the stored copy as the rep does) while
    * the rep itself stays exempt as its own self-pair. */
  private def storedHitMembers(members: DataFrame, id: String,
                               crossReps: DataFrame, selfReps: DataFrame): DataFrame = {
    val viaCross = members.join(crossReps, Seq("rep")).select(col(id))
    val viaSelf = members.filter(col(id) =!= col("rep"))
      .join(selfReps, Seq("rep")).select(col(id))
    viaCross.unionByName(viaSelf).distinct()
  }
}
