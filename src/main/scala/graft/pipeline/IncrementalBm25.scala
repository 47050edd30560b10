package graft.pipeline

import graft.sources.KeyedParquetStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Incremental BM25 index maintenance — the streaming/ingest counterpart
  * of the one-shot [[TextAnalysis.bm25IndexRelations]] build (q65's
  * layout). A live corpus grows batch by batch; rebuilding postings + df
  * + corpus stats from scratch per batch re-pays the whole corpus every
  * time. Instead each batch appends PARTIAL relations under its own
  * `batch=<id>` partition, and the global quantities fall out of sums at
  * search time:
  *
  *  - postings `(term, doc_id, tf, dl, tbucket, batch)` — exact, never
  *    revised (tf and dl are per-doc facts, and a doc lives in exactly
  *    one batch);
  *  - term partials `(term, df, tbucket, batch)` — this batch's doc
  *    frequency; the true df is the SUM of a term's partials, read only
  *    for the query's terms;
  *  - stat partials `(n_docs, sum_dl, batch)` — longs, so the merged
  *    `avgdl = Σ sum_dl / Σ n_docs` is the bit-identical IEEE division
  *    the batch build computes.
  *
  * Per-batch work is batch-sized (the three upserts merge only the
  * batch's own partitions — the store's append fast path makes a
  * first-time ingest one write job per store), and a replayed batch id
  * re-merges its own partitions idempotently (last-wins keys), so
  * at-least-once delivery still yields exactly-once index contents.
  * Search-side cost per query: the query terms' postings lists (both
  * partition-pruned by `tbucket`) plus one scan of the KB-sized stat
  * partials. Term-partial fan-in grows with stream lifetime at one row
  * per (term, batch); [[graft.sources.KeyedParquetStore.compact]] bounds
  * the file population (see [[graft.streaming.Streams.bm25IngestStream]])
  * and the search-side sum absorbs the rows — at 10⁶ batches a periodic
  * roll-up re-aggregation would be the next notch.
  *
  * Results are IDENTICAL to [[TextAnalysis.bm25Search]] over the
  * concatenated corpus: every stored quantity is exact, not approximate
  * (spec-asserted, scores included).
  */
object IncrementalBm25 {

  /** Fixed store schemas: every read skips mergeSchema's per-file footer
    * inference, and pre-evolution files null-fill (the incremental-dedup
    * pattern). */
  val postingsSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("doc_id", LongType),
    StructField("tf", LongType), StructField("dl", LongType),
    StructField("tbucket", IntegerType), StructField("batch", StringType)))
  val termsSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("df", LongType),
    StructField("tbucket", IntegerType), StructField("batch", StringType)))
  val statsSchema: StructType = StructType(Seq(
    StructField("n_docs", LongType), StructField("sum_dl", LongType),
    StructField("nb", IntegerType), StructField("batch", StringType)))

  /** Tokenize `batch` (columns `doc_id`, `text`) and append its partial
    * relations under partition `batch=<batchId>` in the three stores.
    *
    * PRECONDITION (caller-vouched, like the store's own `incomingUnique`):
    * each doc_id lives in exactly ONE batch id, ever, and appears at most
    * ONCE within its batch (a within-batch duplicate row collapses inside
    * the tokenize aggregations into unique-keyed rows with silently
    * doubled tf / n_docs / sum_dl — the one duplication the store's own
    * incomingUnique check can never see). The partial
    * arithmetic depends on it — a doc re-delivered under a DIFFERENT
    * batch id lands in a different `(batch, tbucket)` partition, so the
    * partition-scoped last-wins merge never sees the old rows: postings,
    * df and n_docs/sum_dl all silently double-count and every score
    * inflates. (Re-delivery under the SAME batch id — the streaming
    * replay case — is the safe, idempotent path.) With
    * `spark.graft.store.debugChecks=true` (the store's existing opt-in
    * flag) the precondition is ENFORCED: incoming doc_ids are
    * anti-joined against the stored postings' other-batch rows before
    * any write, failing fast at the offending call site. The check scans
    * the postings store, so it is for specs and staging runs, not the
    * production ingest loop — exactly the store's own vouch contract. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, batchId: String,
                  postingsPath: String, termsPath: String, statsPath: String,
                  nBuckets: Int = 16): Unit = {
    val docs = batch.select(col("doc_id"), col("text"))
    if (KeyedParquetStore.debugChecksOn(spark)) {
      // Checked FIRST: a null doc_id is not a key at all, and the
      // downstream diagnostics read the column as Long — two null-id rows
      // would trip the duplicate check and then NPE inside its own error
      // path instead of raising the explanatory message.
      val nullId = docs.filter(col("doc_id").isNull).limit(1).count()
      require(nullId == 0L,
        s"BM25 ingest precondition violated: batch '$batchId' contains rows " +
          "with NULL doc_id — postings are keyed by doc_id, so null-id rows " +
          "can neither merge nor be duplicate-checked; drop or key them upstream")
      // The clash check keys on postings, and a NULL-text doc writes
      // NONE (explode drops the null token array) while still counting
      // in n_docs — it would evade the check yet still double-count the
      // stats partials on a re-ingest. Empty text is fine (the split
      // yields [""], one posting row); null text is refused outright.
      val nullText = docs.filter(col("text").isNull)
        .select(col("doc_id")).limit(3).collect().map(_.getLong(0))
      require(nullText.isEmpty,
        s"BM25 ingest precondition violated: doc_id(s) ${nullText.mkString(", ")} " +
          "have NULL text — such docs count in n_docs/sum_dl but write no " +
          "postings, so the one-batch-per-doc check cannot see them; drop " +
          "or scrub null texts upstream")
    }
    // WITHIN-batch duplicate rows are the one shape the store's own
    // incomingUnique vouch check cannot see here: the tf/df/stats
    // aggregations COLLAPSE the duplicates into single rows whose values
    // are silently doubled (tf×2, df counts the doc once but
    // n_docs/sum_dl count it twice), so every downstream relation has
    // perfectly unique keys and inflated numbers. An at-least-once
    // source can redeliver a record inside one micro-batch; refuse it
    // here, at the only point the duplication is still visible.
    DeliveryGuard.check(spark, docs, batchId, "doc_id", postingsPath,
      postingsSchema, "doc_id", "BM25",
      withinWhy = Some("the tokenize aggregations would silently double " +
        "tf/n_docs/sum_dl (dedup the batch upstream, e.g. " +
        "dropDuplicates(\"doc_id\"))"),
      resentWhy = "re-ingesting a doc under a new batch id double-counts " +
        "its postings/df/stats partials (replays must reuse the original " +
        "batch id)")
    // The whole per-batch chain (checkpoint materializations + the three
    // upserts) plans without AQE — see withWritePlanning: these are
    // batch-sized plans whose AQE stage-materialization jobs were ~24 of
    // q71's 29 per-ingest jobs (JobProbe, r10).
    KeyedParquetStore.withWritePlanning(spark) {
    // Consumed twice (postings + stats / postings + term partials):
    // pinned so the tokenize/aggregate runs once per batch. Measured
    // alternative (r8): deriving dl as Σtf per doc from the pinned tf —
    // one tokenize pass instead of two, algebraically exact since the
    // whitespace split yields [""] for empty text — benched q71
    // wall-NEUTRAL (~5.6 s isolated, both shapes) while ADDING three
    // AQE-materialized exchange stages per ingest (37 → 40 listener
    // jobs): the saved codegen'd split+size scan is as cheap as the
    // shuffle it buys back. Kept this shape for the lower action count
    // and because it doesn't lean on empty-string split semantics.
    val lens = graft.Pin.ser(docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("dl")))
    val tf = graft.Pin.ser(docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val tb = pmod(Sampling.bucket(col("term"), "bm25"), lit(nBuckets)).cast("int")
    val postings = tf.join(lens, Seq("doc_id"))
      .withColumn("tbucket", tb).withColumn("batch", lit(batchId))
    val terms = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("tbucket", tb).withColumn("batch", lit(batchId))
    // nb rides every stat partial as the index's STRUCTURAL fingerprint:
    // tbucket = hash(term) mod nBuckets is baked into every stored row,
    // so an ingest (or search) with a different nBuckets silently drops
    // the other modulus's rows from the pruned scan — wrong df sums,
    // wrong scores, no error. searchStored refuses a mixed/mismatched
    // store; under debugChecks the mismatch fails fast here instead.
    val stats = lens
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .withColumn("nb", lit(nBuckets))
      .withColumn("batch", lit(batchId))
    if (KeyedParquetStore.debugChecksOn(spark))
      KeyedParquetStore.read(spark, statsPath, schema = Some(statsSchema))
        .foreach { stored =>
          val drift = stored.filter(col("nb").isNotNull && col("nb") =!= nBuckets)
            .select(col("nb")).limit(1).collect()
          require(drift.isEmpty,
            s"BM25 index bucket-count drift: store at $statsPath was built " +
              s"with nBuckets=${drift.headOption.map(_.getInt(0)).orNull} but " +
              s"this ingest uses nBuckets=$nBuckets — mixed moduli make the " +
              "term-bucket pruning silently drop postings")
        }
    // The hint lists every (batch, tbucket) pair: over-broad when a small
    // batch misses a bucket (a wasted probe, documented safe), but static
    // — no distinct().collect() discovery job on the ingest hot path.
    val allBuckets: Seq[Seq[Any]] = (0 until nBuckets).map(b => Seq(batchId, b))
    KeyedParquetStore.upsert(spark, postingsPath, postings,
      keys = Seq("term", "doc_id"), version = Seq(lit(1)),
      partitionCols = Seq("batch", "tbucket"), partitionValues = allBuckets,
      incomingUnique = true, schema = Some(postingsSchema))
    KeyedParquetStore.upsert(spark, termsPath, terms,
      keys = Seq("term"), version = Seq(lit(1)),
      partitionCols = Seq("batch", "tbucket"), partitionValues = allBuckets,
      incomingUnique = true, schema = Some(termsSchema))
    KeyedParquetStore.upsert(spark, statsPath, stats,
      keys = Seq("batch"), version = Seq(lit(1)),
      partitionCols = Seq("batch"), partitionValues = Seq(Seq(batchId)),
      incomingUnique = true, schema = Some(statsSchema))
    }
  }

  /** Retire `ids` from the stored index — the crawl-refresh counterpart
    * of [[ingestBatch]] (q95's loop extended to the retrieval store): a
    * removed or changed doc's postings must leave the index AND the
    * df / n_docs / sum_dl partials must shed its contribution, or every
    * later search scores against a phantom corpus (idf and avgdl keep
    * counting docs that no longer exist).
    *
    * Mechanics: the victims' contribution is computed FROM the stored
    * postings (an id never indexed contributes nothing — exactness for
    * free), recorded as NEGATIVE df / n_docs / sum_dl partials under
    * `batch=<retireBatchId>` — append-shaped, so search's Σ-folds and
    * [[rollupPartials]] subtract them exactly without rewriting any
    * ingest batch's partials — and then the victim rows are deleted
    * from the postings store
    * ([[graft.sources.KeyedParquetStore.deleteMatching]], partition-
    * scoped). Retirement is algebraically exact: a retired-then-
    * re-ingested index and a from-scratch build over the surviving
    * corpus return IDENTICAL search results (spec-asserted;
    * q97_bm25_refresh's oracle replays the whole refresh logically).
    * A re-ingest of a retired doc under a NEW batch id is legal: its
    * postings rows are gone, so ingest's one-batch-per-doc clash check
    * passes — exactly the changed-doc refresh path.
    *
    * Crash discipline (the store's idempotence-not-atomicity rule):
    * negative partials are written BEFORE the postings delete — stats
    * first, terms second, delete last — and a replay with the SAME
    * (ids, retireBatchId) heals every window. The terms store's
    * `batch=<retireBatchId>` partition is the commit marker (last-
    * written partial): a replay that finds it skips straight to the
    * idempotent delete; one that doesn't recomputes IDENTICAL deltas
    * from the still-undeleted postings and re-upserts them last-wins.
    * Like ingest's replay contract, a retireBatchId names ONE victim
    * set (caller-vouched — a guard cannot tell a healing replay, whose
    * victims are legitimately still in the postings store, from a
    * reuse): reusing it for a DIFFERENT set would skip that set's
    * partial subtraction while still deleting its postings. And the
    * replay window closes once a victim id is RE-INGESTED (the
    * refresh's retire → re-ingest order): a retire replayed after that
    * would delete the doc's NEW postings with no subtraction — replay
    * the failed STEP, never the whole refresh from the top, the same
    * step-level discipline every store face here assumes.
    *
    * Exactness leans on ingest's own null-text precondition: a doc's
    * footprint is recovered FROM its postings rows (every non-null
    * text writes ≥ 1 — empty text splits to [""]), so a null-text doc
    * ingested past the contract would retire as a permanent ghost in
    * n_docs/sum_dl — the one shape retirement cannot see, and exactly
    * why ingest demands null texts be scrubbed upstream.
    *
    * NAMESPACE: retire ids share the `batch=` partition namespace with
    * ingest batch ids and the reserved `rollup` label, and the commit-
    * marker check is "does a terms partition named `retireBatchId`
    * exist" — a collision makes it a FALSE POSITIVE (the negative
    * partials are silently skipped while the victims' postings still
    * delete, permanently corrupting idf/avgdl). `rollup` is refused
    * unconditionally (it exists after any [[rollupPartials]]); ingest
    * ids are caller-vouched disjoint, and under
    * `spark.graft.store.debugChecks=true` the vouch is ENFORCED: a
    * marker partition holding POSITIVE df rows is an ingest partition
    * (retirement only ever writes df ≤ −1), and a reused retire id is
    * caught EXACTLY by the victim-set fingerprint — every completed
    * retirement records `_victims.<count>x<setsum>` (an
    * order-insensitive hash of the REQUESTED id set) beside its marker
    * partition, and a replay whose requested set fingerprints
    * differently refuses no matter how the sets overlap (ADVICE r17:
    * the previous containment-only probe had a false negative for
    * subset-SHAPED reuse — a different victim set whose per-term
    * footprint the original negatives happened to dominate). Stores
    * whose marker predates the fingerprint (legacy) or lost it in the
    * upsert→fingerprint crash window fall back to footprint
    * CONTAINMENT (a healing replay's remaining rows are always a
    * subset of the original footprint; that fallback — and only it —
    * keeps the documented subset-shaped blind spot). Like the ingest
    * checks, these scan the stores — spec/staging cost, not the
    * production loop; the fingerprint WRITE is one KB-sized agg over
    * the pinned victim ids plus one empty-file create.
    *
    * Returns the number of victim docs actually present in (and removed
    * from) the postings store. */
  /** Order-insensitive exact fingerprint of a victim id SET:
    * `<count>x<hex(Σ md5Hash60(id) mod 2^61)>`. Set semantics (the input
    * is already distinct), commutative sum so partitioning never moves
    * it, decimal accumulator so the sum is exact at any cardinality
    * (ANSI-safe — a long Σ of 2^60-scale hashes overflows past 8 rows).
    * A collision needs two different id sets agreeing on count AND the
    * 61-bit hash sum — ignorable for a misuse guard. */
  private def victimSetFp(victims: DataFrame): String = {
    val r = victims.agg(
      count(lit(1)),
      sum(TextAnalysis.md5Hash60(col("doc_id").cast("string"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).collect().head
    // A null sum with a non-zero count means the Decimal(38,0) Σ
    // overflowed under non-ANSI mode (~10^20 victim rows — practically
    // unreachable, but silently mapping it to "0" would fingerprint the
    // set as <count>x0 and quietly weaken the exact guard to count-only;
    // ADVICE r18). Fail loudly instead.
    require(r.getDecimal(1) != null || r.getLong(0) == 0,
      s"victimSetFp: the 38-digit decimal hash sum overflowed to null at " +
        s"${r.getLong(0)} victim rows — the fingerprint would degenerate " +
        "to count-only; shard the retirement")
    val s = Option(r.getDecimal(1))
      .map(_.toBigInteger.mod(java.math.BigInteger.ONE.shiftLeft(61))
        .toString(16))
      .getOrElse("0")
    s"${r.getLong(0)}x$s"
  }

  /** The fingerprint sidecar's directory: the retire marker partition.
    * Underscore-prefixed files are invisible to Spark's file listing, so
    * the sidecar never enters a read of the terms store. */
  private def victimFpDir(termsPath: String, retireBatchId: String) =
    new org.apache.hadoop.fs.Path(s"$termsPath/batch=$retireBatchId")

  def retireDocs(spark: SparkSession, ids: DataFrame, retireBatchId: String,
                 postingsPath: String, termsPath: String,
                 statsPath: String): Long = {
    require(retireBatchId != "rollup",
      "BM25 retire precondition violated: retireBatchId 'rollup' is the " +
        "reserved roll-up partition label — its presence would read as this " +
        "retirement's commit marker and silently skip the negative partials " +
        "(pick any other id, disjoint from ingest batch ids)")
    val victims = graft.Pin.ser(ids.select(col("doc_id")).distinct())
    KeyedParquetStore.read(spark, postingsPath, schema = Some(postingsSchema)) match {
      case None => 0L // absent index: nothing to retire
      case Some(stored) => KeyedParquetStore.withWritePlanning(spark) {
        val termsStore = KeyedParquetStore
          .read(spark, termsPath, schema = Some(termsSchema))
        val committed = termsStore
          .exists(_.filter(col("batch") === lit(retireBatchId))
            .limit(1).count() > 0)
        // The victims' stored footprint, pinned: consumed by the two
        // negative partials and the doc count.
        val vp = graft.Pin.ser(stored
          .join(victims, Seq("doc_id"), "left_semi")
          .select(col("term"), col("doc_id"), col("tf"), col("dl"),
            col("tbucket")))
        val nVictims = vp.select(col("doc_id")).distinct().count()
        if (committed && KeyedParquetStore.debugChecksOn(spark)) {
          val marker = termsStore.get.filter(col("batch") === lit(retireBatchId))
          // Sign is the exact discriminator: ingest writes df ≥ 1,
          // retirement writes df ≤ −1 — a positive row in the marker
          // partition means retireBatchId collided with an ingest batch.
          val ingestRows = marker.filter(col("df") > 0)
            .select(col("term")).limit(3).collect().map(_.getString(0))
          require(ingestRows.isEmpty,
            s"BM25 retire precondition violated: retireBatchId '$retireBatchId' " +
              s"names an existing INGEST partition in $termsPath (positive df " +
              s"rows, e.g. term(s) ${ingestRows.mkString(", ")}) — the commit-" +
              "marker check would read it as an already-written retirement and " +
              "silently skip the negative partials; retire ids must be " +
              "disjoint from ingest batch ids")
          if (nVictims > 0) {
            // Reuse probe, EXACT half (ADVICE r17): a completed
            // retirement records its requested victim set's fingerprint
            // beside the marker; a replay must fingerprint identically.
            // Absent sidecar (legacy store / upsert→fingerprint crash
            // window) falls through to the containment probe below —
            // the one path that keeps the subset-shaped blind spot.
            val fpDir = victimFpDir(termsPath, retireBatchId)
            val hfs = fpDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
            val storedFps =
              try hfs.globStatus(new org.apache.hadoop.fs.Path(fpDir, "_victims.*"))
                .map(_.getPath.getName.stripPrefix("_victims."))
              catch { case _: java.io.FileNotFoundException => Array.empty[String] }
            if (storedFps.nonEmpty) {
              val fp = victimSetFp(victims)
              require(storedFps.contains(fp),
                s"BM25 retire precondition violated: retireBatchId " +
                  s"'$retireBatchId' already carries a commit marker " +
                  s"fingerprinted for victim set ${storedFps.mkString(", ")}, " +
                  s"but this call's victim set fingerprints as $fp — a " +
                  "retire id names ONE victim set, ever; reusing it for a " +
                  "different set deletes postings while skipping their " +
                  "partial subtraction")
            }
            // Reuse probe, containment half: victims still indexed with
            // a marker present is either a healing replay (remaining
            // footprint ⊆ the original, so the stored negative partial
            // COVERS it) or a reuse for a different victim set (it
            // doesn't). Require per-term and stats containment.
            val uncovered = vp.groupBy(col("term"), col("tbucket"))
              .agg(count(lit(1)).as("__cnt"))
              .join(marker.select(col("term"), col("tbucket"), col("df")),
                Seq("term", "tbucket"), "left_outer")
              .filter(col("df").isNull || -col("df") < col("__cnt"))
              .select(col("term")).limit(3).collect().map(_.getString(0))
            val storedNeg = KeyedParquetStore
              .read(spark, statsPath, schema = Some(statsSchema))
              .map(_.filter(col("batch") === lit(retireBatchId))
                .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n"),
                  coalesce(sum(col("sum_dl")), lit(0L)).as("s"))
                .collect().head)
              .map(r => (-r.getLong(0), -r.getLong(1))).getOrElse((0L, 0L))
            val reDl = vp.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
              .agg(coalesce(sum(col("dl")), lit(0L)).as("s"))
              .collect().head.getLong(0)
            require(uncovered.isEmpty && nVictims <= storedNeg._1 &&
              reDl <= storedNeg._2,
              s"BM25 retire precondition violated: retireBatchId " +
                s"'$retireBatchId' already carries a commit marker whose " +
                "negative partials cannot cover the still-indexed victims' " +
                s"footprint (uncovered term(s): ${uncovered.mkString(", ")}; " +
                s"victims $nVictims docs / $reDl tokens vs stored " +
                s"${storedNeg._1} / ${storedNeg._2}) — a retire id names ONE " +
                "victim set, ever; reusing it for a different set deletes " +
                "postings while skipping their partial subtraction")
          }
        }
        if (!committed && nVictims > 0) {
          // nb fingerprint rides the negative partials too (max over the
          // store: all partials share one nb, legacy nulls skipped)
          val nb = KeyedParquetStore
            .read(spark, statsPath, schema = Some(statsSchema))
            .flatMap(st => Option(st.agg(max(col("nb"))).collect().head.get(0)))
            .map(_.asInstanceOf[Int])
          // dl is denormalized onto every posting row; first() per doc
          // recovers the one value exactly
          val negStats = vp.groupBy(col("doc_id"))
            .agg(first(col("dl")).as("dl"))
            .agg((-count(lit(1))).as("n_docs"),
              (-coalesce(sum(col("dl")), lit(0L))).as("sum_dl"))
            .withColumn("nb",
              nb.map(v => lit(v)).getOrElse(lit(null)).cast("int"))
            .withColumn("batch", lit(retireBatchId))
          KeyedParquetStore.upsert(spark, statsPath, negStats,
            keys = Seq("batch"), version = Seq(lit(1)),
            partitionCols = Seq("batch"),
            partitionValues = Seq(Seq(retireBatchId)),
            incomingUnique = true, schema = Some(statsSchema))
          // one posting row per (victim doc, term) ⇒ count = the df the
          // victims contributed to that term
          val negTerms = vp.groupBy(col("term"), col("tbucket"))
            .agg((-count(lit(1))).as("df"))
            .withColumn("batch", lit(retireBatchId))
          // Static partition hint, ingestBatch's pattern: all nBuckets
          // under the retire partition (over-broad when the victims miss
          // a bucket — a wasted probe — but no discovery job). Legacy
          // all-null-nb stores fall back to discovery.
          val negHint: Seq[Seq[Any]] = nb
            .map(v => (0 until v).map(b => Seq[Any](retireBatchId, b)))
            .getOrElse(Nil)
          KeyedParquetStore.upsert(spark, termsPath, negTerms,
            keys = Seq("term"), version = Seq(lit(1)),
            partitionCols = Seq("batch", "tbucket"),
            partitionValues = negHint,
            incomingUnique = true, schema = Some(termsSchema))
          // Victim-set fingerprint sidecar, written AFTER the negative
          // partials (= the commit marker) so its presence implies they
          // landed; a crash between the two leaves a marker without a
          // sidecar, which the reuse probe treats as legacy (containment
          // fallback). Empty file — the fingerprint IS the name.
          val fpDir = victimFpDir(termsPath, retireBatchId)
          val hfs = fpDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          hfs.create(new org.apache.hadoop.fs.Path(fpDir,
            s"_victims.${victimSetFp(victims)}"), true).close()
        }
        if (nVictims > 0)
          KeyedParquetStore.deleteMatching(spark, postingsPath, victims,
            on = Seq("doc_id"), partitionCols = Seq("batch", "tbucket"),
            schema = Some(postingsSchema))
        nVictims
      }
    }
  }

  /** Consolidate the term/stat PARTIALS: fold every batch partition not
    * named in `keepBatches` into a single `batch=rollup` partition (the
    * sums are exact, so search results are unchanged — spec-asserted),
    * bounding the per-term partial fan-in by roll-up cadence instead of
    * stream lifetime. The postings store never needs this: its rows are
    * per-doc facts, only its FILE population grows, which `compact`
    * handles.
    *
    * `keepBatches` must name every batch that could still be REPLAYED
    * (in the streaming sink: the epoch being processed — older epochs
    * are checkpoint-committed and never redelivered). A replayed batch
    * whose partition was folded away would re-ingest as new rows and
    * double-count df/n_docs; keeping its partition intact preserves the
    * idempotent re-merge. Re-running the roll-up itself is idempotent —
    * the `rollup` partition folds into the next roll-up like any other. */
  def rollupPartials(spark: SparkSession, termsPath: String, statsPath: String,
                     keepBatches: Set[String] = Set.empty): Unit = {
    val keep = keepBatches.toSeq
    KeyedParquetStore.read(spark, termsPath, schema = Some(termsSchema))
      .foreach { terms =>
        val kept = terms.filter(col("batch").isin(keep: _*))
        val rolled = terms.filter(!col("batch").isin(keep: _*))
          .groupBy(col("term"), col("tbucket")).agg(sum(col("df")).as("df"))
          .withColumn("batch", lit("rollup"))
        // Victim-fingerprint sidecars (retireDocs' `_victims.*` files)
        // live INSIDE kept retire-marker partitions but are invisible to
        // Spark's listing, so replace()'s stage-and-swap would silently
        // drop them — degrading the exact reuse guard to the containment
        // fallback for every post-rollup store (ADVICE r18). Snapshot
        // the kept batches' sidecar names before the swap and re-create
        // them (they are empty — the fingerprint IS the name) after.
        val hfs = new org.apache.hadoop.fs.Path(termsPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val keptSidecars = keep.flatMap { b =>
          try hfs.globStatus(new org.apache.hadoop.fs.Path(
              victimFpDir(termsPath, b), "_victims.*"))
            .toSeq.map(st => (b, st.getPath.getName))
          catch { case _: java.io.FileNotFoundException => Nil }
        }
        KeyedParquetStore.replace(spark, termsPath,
          rolled.unionByName(kept).select(
            col("term"), col("df"), col("tbucket"), col("batch")),
          partitionCols = Seq("batch", "tbucket"))
        keptSidecars.foreach { case (b, name) =>
          hfs.create(new org.apache.hadoop.fs.Path(
            victimFpDir(termsPath, b), name), true).close()
        }
      }
    KeyedParquetStore.read(spark, statsPath, schema = Some(statsSchema))
      .foreach { stats =>
        val kept = stats.filter(col("batch").isin(keep: _*))
        // max(nb) carries the fingerprint through the fold: all partials
        // share one nb (searchStored refuses mixed stores), and max
        // skips legacy nulls.
        val rolled = stats.filter(!col("batch").isin(keep: _*))
          .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
            coalesce(sum(col("sum_dl")), lit(0L)).as("sum_dl"),
            max(col("nb")).as("nb"))
          .withColumn("batch", lit("rollup"))
        KeyedParquetStore.replace(spark, statsPath,
          rolled.unionByName(kept).select(
            col("n_docs"), col("sum_dl"), col("nb"), col("batch")),
          partitionCols = Seq("batch"))
      }
  }

  /** Search the incrementally-built index: resolve the query terms to
    * bucket ids on the driver (partition pruning over BOTH term-keyed
    * stores), sum the term/stat partials into the global df / n_docs /
    * avgdl, and hand the canonical relations to
    * [[TextAnalysis.bm25SearchStored]] — the scoring expression is the
    * single shared one, so this face can't drift from the others. */
  def searchStored(spark: SparkSession, postingsPath: String,
                   termsPath: String, statsPath: String,
                   query: Seq[String], k: Int, nBuckets: Int = 16,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val buckets = query.map(TextAnalysis.bm25TermBucket(_, nBuckets)).distinct
    // Missing stores read as their empty relations: an index that has
    // only ever ingested empty batches never materializes on disk (the
    // store's documented partitioned-zero-row write no-op), and a
    // search against it is an empty result, not a crash (r13 edge gate).
    def pruned(path: String, sc: StructType) =
      KeyedParquetStore.readOrEmpty(spark, path, sc)
        .filter(col("tbucket").isin(buckets: _*))
    val terms = pruned(termsPath, termsSchema)
      .filter(col("term").isin(query: _*))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val statsRel = KeyedParquetStore.readOrEmpty(spark, statsPath, statsSchema)
    // ONE driver-side fold over the KB-sized stat partials serves both
    // the global constants (Σn_docs, avgdl) and the bucket-count
    // fingerprint check — collected here instead of handed to the
    // scorer as a broadcast relation, so the check costs zero extra
    // jobs (a separate distinct+collect measured +2 on q71).
    val g = statsRel.agg(
      coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
      // try_divide: an only-empty-batches index legitimately sums to
      // zero docs (0/0 under ANSI would throw); the null avgdl is never
      // consumed — nDocs == 0 routes to the empty stats relation below
      try_divide(sum(col("sum_dl")).cast("double"), sum(col("n_docs"))).as("avgdl"),
      min(col("nb")).as("nb_min"), max(col("nb")).as("nb_max")).collect().head
    // Bucket-count pairing: tbucket is hash(term) mod the INDEX's
    // nBuckets; pruning with any other modulus silently drops postings.
    // The stat partials carry the index's fingerprint (min/max bound the
    // stored values; legacy all-null stores are unknowable and skipped).
    val storedNb = Seq("nb_min", "nb_max")
      .flatMap(c => Option(g.getAs[Integer](c)).map(_.intValue)).toSet
    require(storedNb.subsetOf(Set(nBuckets)),
      s"BM25 index bucket-count mismatch: store at $statsPath was built " +
        s"with nBuckets=${storedNb.toSeq.sorted.mkString("{", ",", "}")} but " +
        s"this search uses nBuckets=$nBuckets — the term-bucket pruning " +
        "would silently drop the other modulus's postings")
    val nDocs = g.getAs[Long]("n_docs")
    import spark.implicits._
    // Zero documents (an index that has never seen a non-empty batch):
    // score against the EMPTY stats relation — the scorer's stats
    // cross-join then yields zero rows with the search's exact output
    // schema, so a legitimately empty index searches as empty.
    val stats =
      if (nDocs > 0L) Seq((nDocs, g.getAs[Double]("avgdl"))).toDF("n_docs", "avgdl")
      else Seq.empty[(Long, Double)].toDF("n_docs", "avgdl")
    TextAnalysis.bm25SearchStored(pruned(postingsPath, postingsSchema),
      terms, stats, query, k, k1, b)
  }
}
