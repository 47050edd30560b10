package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table shape. The
  * reference is batch-only (SURVEY.md §2.9) — this is the beyond-parity
  * streaming path: the same transforms compile against a batch DataFrame
  * (unit-testable, and provably equivalent to the batch plan) or a
  * `readStream` source.
  *
  * Scale notes: watermarking bounds state; the windowed aggregation is the
  * standard shuffle-on-(window,key) pattern; `flatMapGroupsWithState`
  * keeps per-key state in the state store (RocksDB at cluster scale).
  */
object Streams {

  /** events schema as stored (ts surfaces as TimestampType). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based streaming source over a directory of event parquet files
    * (each arriving file is a micro-batch). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Tumbling-window counts + sums per event type with a watermark for
    * bounded state and late-data tolerance. Works identically on batch
    * input (the unit-test / backfill path — one code path for both; the
    * batch face is oracle-checked as q59). The value sum routes through
    * DECIMAL (`CoreOps.exactSum`) so the result is independent of
    * aggregation order — a raw double Σ differs run-to-run and
    * engine-to-engine. */
  def windowedTypeCounts(events: DataFrame,
                         windowLen: String = "1 hour",
                         watermark: String = "2 hours"): DataFrame =
    events
      // same null-event-time policy as the stateful operators: a null ts
      // cannot be watermarked — without this filter the BATCH face emits
      // a phantom null-window group the streaming face would never emit,
      // breaking the one-code-path-for-both equivalence on exactly the
      // dirty input class
      .filter(col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.operators.CoreOps.exactSum(col("value"), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Gap-based event-time sessionization — same `session_window` plan
    * shape as the oracle-checked batch query (q43); under `readStream`
    * the watermark bounds session state and late data. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      // null event-time: same batch≡stream guard as windowedTypeCounts
      .filter(col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double,
                               last_event_id: Long)

  /** Custom streaming state: running per-user totals via
    * `flatMapGroupsWithState` — the "custom operator" escape hatch for
    * semantics windows can't express (cross-batch running aggregates,
    * session logic). Emits the updated running row per user per batch.
    *
    * State is BOUNDED: `EventTimeTimeout` evicts a user's running row
    * once the watermark passes their last event by `stateTtlMs` — without
    * it, one state entry per ever-seen user grows without limit. An
    * evicted user who reappears restarts from zero (the documented
    * bounded-state contract). On a batch Dataset the watermark/timeout
    * machinery is inert and the fold is the plain batch equivalent. */
  def runningUserTotals(events: Dataset[Event], watermark: String = "2 hours",
                        stateTtlMs: Long = 2L * 60 * 60 * 1000): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    events
      // a null event-time row cannot be watermarked and its ts.getTime
      // would NPE inside the state function — on a stream that is a
      // POISON PILL (the checkpoint replays the same batch forever);
      // drop such rows up front, the same verdict late data gets
      .filter(col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0, -1L))
            // fold deterministically in (ts, event_id) order
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            if (sorted.isEmpty) Iterator.empty
            else {
              val next = sorted.foldLeft(prev) { (acc, e) =>
                UserRunning(userId, acc.n_events + 1, acc.total_value + e.value, e.event_id)
              }
              state.update(next)
              if (streaming) state.setTimeoutTimestamp(math.max(
                sorted.map(_.ts.getTime).max + stateTtlMs,
                state.getCurrentWatermarkMs() + 1))
              Iterator.single(next)
            }
          }
      }
  }

  /** Incremental ingest: stream → keyed store. Each micro-batch merges
    * into the store at `path` with `INSERT OR REPLACE` semantics via the
    * partition-scoped upsert — the streaming face of S6/S7. Only the
    * partitions a batch touches are rewritten, so a steady stream into a
    * year-long store does per-batch work proportional to the batch, not
    * the store. `foreachBatch` is the sanctioned escape hatch for sinks
    * with merge semantics Structured Streaming lacks natively; the batch
    * id + checkpoint give at-least-once delivery, and the keyed last-wins
    * merge makes replays idempotent — together, effectively-once store
    * contents. Caller owns the returned query's lifecycle. */
  def upsertStream(events: DataFrame, path: String, keys: Seq[String],
                   version: Seq[Column], partitionCols: Seq[String],
                   checkpoint: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        graft.sources.KeyedParquetStore.upsert(
          batch.sparkSession, path, batch.toDF(), keys, version, partitionCols)
      }
      .start()

  /** Shared scaffold of the three index-maintenance sinks: per-epoch
    * ingest via foreachBatch plus store maintenance every `compactEvery`
    * epochs. ONE copy of the cadence rule — keyed off the epoch id, so a
    * replayed epoch re-runs its maintenance harmlessly (compaction is a
    * no-op on a compact layout; the roll-ups keep the replayable epoch
    * on their horizon). `compactEvery` ≤ 0 disables maintenance.
    *
    * Both callbacks receive the SAME store batch id (`e<epoch>`), derived
    * here and only here: the BM25 roll-up's replay safety rests on its
    * `keepBatches` naming exactly the partition the ingest wrote this
    * epoch — two independently-formatted copies of the id would make
    * that a coincidence instead of a guarantee. */
  private def epochSink(rows: DataFrame, checkpoint: String,
                        ingest: (SparkSession, DataFrame, String) => Unit,
                        maintain: (SparkSession, String) => Unit,
                        compactEvery: Int): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val batchId = s"e$epoch"
        ingest(batch.sparkSession, batch.toDF(), batchId)
        if (compactEvery > 0 && epoch > 0 && epoch % compactEvery == 0)
          maintain(batch.sparkSession, batchId)
      }
      .start()

  /** The ingest sinks' store maintenance: fold each store's aged batch
    * partitions first (the partition POPULATION grows one directory per
    * epoch; compact alone never bounds it —
    * [[graft.sources.KeyedParquetStore.rollupBatchPartitions]] scaladoc),
    * keeping the current epoch `batchId` on the replay horizon, then
    * compact what remains. The fold SELF-GATES geometrically (aged bytes
    * vs store bytes), so the sink's fixed cadence only decides how often
    * the cheap listing check runs — the O(store) rewrite amortizes to
    * linear total I/O over the stream's lifetime, not O(store) per
    * cadence. */
  private def rollupThenCompact(s: SparkSession, batchId: String,
                                paths: Seq[String],
                                partitionCols: Seq[String] = Seq("batch")): Unit = {
    paths.foreach(p => graft.sources.KeyedParquetStore.rollupBatchPartitions(
      s, p, keepBatches = Set(batchId), partitionCols = partitionCols))
    paths.foreach(p => graft.sources.KeyedParquetStore.compact(s, p))
  }

  /** Streaming INCREMENTAL near-dup ingest: each micro-batch of
    * documents dedups against the persisted band/shingle index and
    * appends only its survivors
    * ([[graft.pipeline.IncrementalDedup.ingestBatch]]) — the streaming
    * face of the corpus-ingest shape, composing the two stateful pieces
    * (Structured Streaming delivery + the keyed store's crash-safe
    * partition merge). The epoch id names the batch's store partition,
    * so a replayed micro-batch re-merges its OWN partition with
    * last-wins keys: at-least-once delivery + idempotent merge =
    * effectively-once index contents. Caller owns the returned query's
    * lifecycle.
    *
    * SELF-HEALING LAYOUT: the index is append-only — every epoch adds a
    * `batch=eN` partition with one file per write task — so left alone
    * its small-file population grows with stream lifetime, degrading
    * listing and scan planning long before data volume does. Every
    * `compactEvery` epochs the sink runs
    * [[graft.sources.KeyedParquetStore.compact]] over both stores: only
    * fragmented partition directories rewrite (already-compact ones cost
    * a listing), content is bit-identical, and the same writer lock +
    * staged swap keep it crash-safe against the ingest itself. File
    * counts stay bounded by cadence, not by how long the stream has run.
    * `compactEvery` ≤ 0 disables. The cadence keys off the epoch id, so
    * a replayed epoch re-compacts harmlessly (a no-op on an
    * already-compact layout). */
  def dedupIngestStream(docs: DataFrame, bandsPath: String,
                        shinglesPath: String, checkpoint: String,
                        compactEvery: Int = 8,
                        numHashes: Int = 16, rowsPerBand: Int = 4,
                        shingleN: Int = 3,
                        threshold: Double = 0.5): StreamingQuery =
    // The structural parameters MUST match the index being fed (they are
    // IncrementalDedup's fingerprinted precondition — drifted values
    // band-join stored rows and match nothing); exposed here like
    // bm25IngestStream's nBuckets, because a sink that can only feed a
    // default-parameter index wedges permanently against any other: under
    // debugChecks every epoch replay re-throws the drift error, and
    // without it the index silently re-admits every stored near-dup.
    epochSink(docs, checkpoint,
      ingest = (s, batch, batchId) => {
        graft.pipeline.IncrementalDedup.ingestBatch(
          s, batch, batchId, bandsPath, shinglesPath,
          numHashes, rowsPerBand, shingleN, threshold)
        ()
      },
      maintain = (s, batchId) =>
        rollupThenCompact(s, batchId, Seq(bandsPath, shinglesPath)),
      compactEvery)

  /** Streaming BM25 index maintenance: each micro-batch of documents
    * appends its partial postings / term-df / corpus-stat relations
    * under its own `batch=eN` partitions
    * ([[graft.pipeline.IncrementalBm25.ingestBatch]]) — the live-corpus
    * face of the persisted retrieval index (q65's layout, without the
    * per-update full rebuild). Per-batch work is batch-sized; search
    * merges the partials into exact global quantities, so results are
    * identical to a from-scratch build at every point in the stream.
    * Replayed epochs re-merge their own partitions idempotently
    * (at-least-once delivery + last-wins keys = effectively-once index
    * contents), and the same epoch-cadence compaction as
    * [[dedupIngestStream]] keeps the three stores' file populations
    * bounded by cadence, not stream lifetime. Caller owns the returned
    * query's lifecycle. */
  def bm25IngestStream(docs: DataFrame, postingsPath: String,
                       termsPath: String, statsPath: String,
                       checkpoint: String, nBuckets: Int = 16,
                       compactEvery: Int = 8): StreamingQuery =
    epochSink(docs, checkpoint,
      ingest = (s, batch, batchId) =>
        graft.pipeline.IncrementalBm25.ingestBatch(
          s, batch, batchId, postingsPath, termsPath, statsPath, nBuckets),
      maintain = (s, batchId) => {
        // Postings rows are per-doc facts — fold their aged batch
        // partitions verbatim and compact. Term/stat PARTIALS also grow
        // in ROW count per batch: SUM-roll them up, keeping the current epoch's
        // partitions intact so a crash-replay of this epoch still
        // re-merges idempotently (older epochs are checkpoint-committed
        // and never redelivered). `batchId` is epochSink's single copy
        // of the partition name the ingest wrote — the horizon can't
        // drift from it.
        rollupThenCompact(s, batchId, Seq(postingsPath),
          partitionCols = Seq("batch", "tbucket"))
        graft.pipeline.IncrementalBm25.rollupPartials(
          s, termsPath, statsPath, keepBatches = Set(batchId))
      },
      compactEvery)

  /** Streaming IVF insertion: each micro-batch of embeddings is assigned
    * to the FROZEN stored centroids and appended under its own
    * `(cell, batch=eN)` partitions
    * ([[graft.pipeline.IncrementalIvf.ingestBatch]]) — the vector-corpus
    * analog of [[bm25IngestStream]]. Requires
    * [[graft.pipeline.IncrementalIvf.buildCentroids]] to have run once;
    * searches at any point see exactly the vectors ingested so far,
    * assigned identically to a one-shot build. Same idempotent-replay and
    * compaction-cadence story as the other ingest sinks. */
  def ivfIngestStream(vectors: DataFrame, centroidsPath: String,
                      assignedPath: String, checkpoint: String,
                      compactEvery: Int = 8): StreamingQuery =
    epochSink(vectors, checkpoint,
      ingest = (s, batch, batchId) =>
        graft.pipeline.IncrementalIvf.ingestBatch(
          s, batch, batchId, centroidsPath, assignedPath),
      maintain = (s, batchId) =>
        rollupThenCompact(s, batchId, Seq(assignedPath),
          partitionCols = Seq("iv", "cell", "batch")),
      compactEvery)

  /** Streaming embedding near-dup ingest: each micro-batch of vectors
    * dedups against the persisted signature index and appends its
    * survivors' signatures + vectors under `batch=eN` partitions
    * ([[graft.pipeline.IncrementalEmbedDedup.ingestBatch]]) — the
    * cosine analog of [[dedupIngestStream]]. The structural parameters
    * (bits/tables/dim) MUST match the index being fed — they are the
    * fingerprinted precondition, exposed here for exactly the reason
    * dedupIngestStream exposes numHashes/rowsPerBand/shingleN: a sink
    * locked to defaults cannot feed a non-default index. Same
    * idempotent-replay and compaction-cadence story as the other
    * ingest sinks. */
  def embedDedupIngestStream(vectors: DataFrame, sigsPath: String,
                             vecsPath: String, checkpoint: String,
                             threshold: Double,
                             bits: Int = 16, tables: Int = 4,
                             dim: Int = 64,
                             compactEvery: Int = 8): StreamingQuery =
    epochSink(vectors, checkpoint,
      ingest = (s, batch, batchId) => {
        graft.pipeline.IncrementalEmbedDedup.ingestBatch(
          s, batch, batchId, sigsPath, vecsPath, threshold, bits, tables, dim)
        ()
      },
      maintain = (s, batchId) =>
        rollupThenCompact(s, batchId, Seq(sigsPath, vecsPath)),
      compactEvery)

  /** Streaming exact dedup: drop events whose `event_id` was already seen
    * for the key — the streaming face of `Dedup.exact`.
    *
    * State is BOUNDED: each user's seen-id set is evicted by
    * `EventTimeTimeout` once the watermark passes their last event by
    * `stateTtlMs`, so dedup is exact WITHIN the ttl horizon and the state
    * store holds only active users — the unbounded-set variant eventually
    * OOMs any state store. A duplicate arriving after its key expired is
    * re-emitted (the contract of every windowed dedup). On a batch
    * Dataset the timeout machinery is inert: plain exact dedup. */
  def dedupEvents(events: Dataset[Event], watermark: String = "2 hours",
                  stateTtlMs: Long = 2L * 60 * 60 * 1000): Dataset[Event] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    events
      // null event-time: same poison-pill guard as runningUserTotals
      .filter(col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, batch: Iterator[Event], state: GroupState[Set[Long]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val seen = state.getOption.getOrElse(Set.empty[Long])
            val fresh = sorted
              .filterNot(e => seen.contains(e.event_id))
              .distinctBy(_.event_id)
            state.update(seen ++ fresh.map(_.event_id))
            if (streaming && sorted.nonEmpty) state.setTimeoutTimestamp(math.max(
              sorted.map(_.ts.getTime).max + stateTtlMs,
              state.getCurrentWatermarkMs() + 1))
            fresh.iterator
          }
      }
  }
}
