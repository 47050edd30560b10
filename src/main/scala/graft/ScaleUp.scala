package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-evidence data generator: replicate the `documents` and
  * `embeddings` tables `factor`× with remapped ids, so the heavy query
  * families can be measured at 10× data against the SAME per-document
  * statistics (r8 verdict item 1 — convert the "100 TB shape" claims
  * from plan-reading to measurement).
  *
  * Replication is NOT naive copying — identical replicas would be a
  * pathological duplicate corpus, not a scaled one (every document
  * would gain `factor−1` exact near-dups, so the banded-dedup pair
  * graph would grow ~quadratically in `factor` and the measurement
  * would say nothing about honest linear scale-up). Instead:
  *
  *  - `documents` replica k > 0 suffixes every whitespace token with
  *    `⊕k`, which rewrites every shingle — cross-replica Jaccard is 0,
  *    so the near-dup pair graph is exactly `factor` disjoint copies of
  *    the original's (linear), while per-doc token counts, shingle
  *    counts and length distributions keep their shape. `n_chars` is
  *    recomputed to stay consistent; doc_ids offset by k·10⁸ (clear of
  *    every registry query's literal id bounds, so fixed-size faces
  *    like q49's id-range batches stay fixed BY DESIGN — their flat
  *    line at 10× is the batch-sized-ingest claim, measured).
  *  - `embeddings` replica k > 0 offsets vec_ids the same way and
  *    shifts every component by k·10⁻⁴ — enough to break exact-equality
  *    degeneracy (all-identical vectors make every distance tie),
  *    nothing that changes the computational shape of train/assign/
  *    search.
  *  - `events` replica k > 0 (r10 — the events family was the one
  *    unmeasured-at-10× surface) offsets event_ids by k·10⁸ and
  *    user_ids by k·10⁶ over the SAME time range: scale arrives as new
  *    users with the original per-user behavior, which is the realistic
  *    growth direction for the windowed/sessionization/funnel/cohort
  *    plans (their exchanges key on user_id — 10× the partitions, the
  *    same per-partition work; calendar windows get 10× rows each).
  *    ts/event_type/value/props stay verbatim, so per-user session and
  *    cohort structure replicates exactly.
  *
  *  - `orders`/`lineitem` replicas (r10) offset o_orderkey/l_orderkey
  *    by the same k·10⁸ (join stays closed) with every other column
  *    verbatim: fact growth against UNCHANGED dim tables — per-day and
  *    per-nation groups get `factor`× rows while group counts and dim
  *    cardinalities stay fixed, which is exactly how a fact table
  *    grows to 100 TB.
  *
  * The DIM tables (region/nation/customer/supplier/part) are symlinked
  * from the source dir — fixed dims are the point, and Bench's
  * page-cache warm-up still touches the full table set.
  *
  * SKEW MODE (r11 — verdict item 2: the 10× evidence was uniform, so
  * the salted/windowed plans' skew story was untested): an optional
  * 4th arg `skew` applies deterministic hot-key / heavy-tail mutations
  * AFTER replication, chosen to stress exactly the exchange keys the
  * registry's skew-sensitive plans shuffle on:
  *
  *  - events: every 5th event_id is reassigned to ONE hot user (~20%
  *    of all rows in a single user_id partition) — the hot-session
  *    shape for the q43/q68/q70 user-keyed windows;
  *  - lineitem: every 5th orderkey's rows are reassigned to supplier 1
  *    (~20% of the fact table under one l_suppkey) — the hot-key shape
  *    q31's salted aggregation exists for;
  *  - documents: Zipf-ish length tail (1% of docs ×64 tokens, next 4%
  *    ×8 — repeating the doc's own tokens, so per-doc shingle/score
  *    structure survives) plus a TIE CLASS for q74's score buckets:
  *    one third of docs get their stopwords stripped, making their
  *    stopword-ratio score EXACTLY 0.0 — a giant equal-score class
  *    that all lands in one approx-quantile bucket (the documented
  *    q74 residual, now measurable).
  *
  * The mutations are plain column expressions over the same tables, so
  * the DuckDB oracles recompute identically — the full hash gate can
  * (and does, see BENCH_NOTES_r11) run green ON the skewed corpus.
  *
  * Usage: `runMain graft.ScaleUp <srcSfDir> <dstDir> <factor> [skew]`.
  * The output is measurement input, NOT testdata — dstDir lives under
  * the (gitignored) tmp/ tree; only the evidence JSONL is committed.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: graft.ScaleUp <srcSfDir> <dstDir> <factor> [skew]")
    val Array(src, dst, factorS) = args.take(3)
    val skew = args.length == 4 && {
      require(args(3) == "skew", s"unknown mode '${args(3)}' (only: skew)")
      true
    }
    val factor = factorS.toInt
    require(factor >= 2, s"factor must be >= 2, got $factor")
    val spark = Session.local()
    run(spark, src, dst, factor, skew)
    spark.stop()
  }

  /** Session-agnostic generator (the [[Reseed.run]] / [[EdgeCorpus.run]]
    * contract) so ScaleUpSpec can pin schema fidelity at unit-test
    * speed — the skew branch shipped an INTEGER-narrowed n_chars for two
    * rounds because nothing asserted the output schemas byte-equal the
    * source's. */
  def run(spark: SparkSession, src: String, dst: String,
          factor: Int, skew: Boolean): Unit = {
    new java.io.File(dst).mkdirs()

    val offset = 100000000L // clear of every literal id bound in the registry

    // The replica offsets only give disjoint id spaces if every SOURCE id
    // sits below its offset stride — true for all driver-shipped SFs so
    // far, but a larger SF would silently merge replicas (events would
    // merge USERS across replicas and fake the per-user scale evidence).
    // Guard each replicated id against its stride before writing anything.
    def assertBelow(df: DataFrame, c: String, bound: Long, table: String): Unit = {
      val mx = df.agg(max(col(c).cast("long"))).head().getLong(0)
      require(mx < bound,
        s"ScaleUp: $table.$c max $mx >= replica stride $bound — replicas would collide; " +
          "raise the stride before scaling this corpus")
    }

    def replicas(base: DataFrame, mk: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map {
        case 0 => base
        case k => mk(base, k)
      }.reduce(_.unionByName(_))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    assertBelow(docs, "doc_id", offset, "documents")
    val docsScaled = replicas(docs, (d, k) => d.select(
      (col("doc_id") + lit(k * offset)).as("doc_id"),
      array_join(transform(split(col("text"), "\\s+"),
        t => concat(t, lit(s"⊕$k"))), " ").as("text"),
      col("lang"), col("source")
      // cast: length() is INT where the source column is BIGINT — the
      // non-skew union happens to coerce back via the verbatim replica 0,
      // but schema fidelity must hold by construction, not coincidence
      // (the skew branch re-derives AFTER the union and shipped an
      // INTEGER n_chars for two rounds — caught by q83's dtype gate)
    ).withColumn("n_chars", length(col("text")).cast("long")))
    // Skew mutations (see scaladoc): a Zipf-ish length tail + the
    // score-tie class, both deterministic in doc_id so oracles agree.
    val docsOut = if (!skew) docsScaled else {
      val b = pmod(col("doc_id"), lit(100))
      val tie = pmod(col("doc_id"), lit(3)) === 1
      val stripped = when(tie,
        array_join(filter(split(col("text"), "\\s+"),
          t => !t.isin(graft.pipeline.TextAnalysis.Stopwords: _*)), " "))
        .otherwise(col("text"))
      val rep = when(b === 0, lit(64)).when(b < 5, lit(8)).otherwise(lit(1))
      docsScaled
        .withColumn("text", array_join(array_repeat(stripped, rep), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    // file count ~ driver layout: enough splits for scan parallelism,
    // few enough that listing stays trivial
    docsOut.repartition(8 * factor / 2 max 8)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    assertBelow(emb, "vec_id", offset, "embeddings")
    val embScaled = replicas(emb, (e, k) => e.select(
      (col("vec_id") + lit(k * offset)).as("vec_id"),
      transform(col("embedding"),
        x => x + lit((k * 1e-4).toFloat)).cast("array<float>").as("embedding"),
      col("label")))
    embScaled.repartition(4 * factor / 2 max 4)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    // write ts as NTZ micros — the driver testdata's own physical
    // encoding (session is UTC, so wall values are unchanged); a plain
    // TimestampType write would come back tz-adjusted, a third encoding
    // the oracle engine would then re-interpret through its session tz
    // r10: replicate the TPC-H FACT side too (orders+lineitem, offsets
    // aligned so the l_orderkey↔o_orderkey join stays closed) against
    // UNCHANGED dim tables — fact growth over fixed customers/parts/
    // suppliers/dates, i.e. the 100 TB shape for the join/agg family
    // (q08/q31/q69 shuffle on fact keys, dims broadcast; per-day and
    // per-nation groups get 10× rows, group COUNTS stay fixed).
    val ord = spark.read.parquet(s"$src/orders.parquet")
    assertBelow(ord, "o_orderkey", offset, "orders")
    val ordScaled = replicas(ord, (o, k) => o.withColumn(
      "o_orderkey", col("o_orderkey") + lit(k * offset)))
    ordScaled.repartition(4 * factor / 2 max 4)
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    assertBelow(li, "l_orderkey", offset, "lineitem")
    val liScaled = replicas(li, (l, k) => l.withColumn(
      "l_orderkey", col("l_orderkey") + lit(k * offset)))
    // Hot supplier: ~20% of the fact table under one l_suppkey — the
    // aggregation-key skew q31's salted path exists for. Supplier 1
    // exists in the (unchanged) dim, so every join stays closed.
    val liOut = if (!skew) liScaled else liScaled.withColumn("l_suppkey",
      when(pmod(col("l_orderkey"), lit(5)) === 0, lit(1L))
        .otherwise(col("l_suppkey")))
    liOut.repartition(8 * factor / 2 max 8)
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")

    val ev = Tables.events(spark, src)
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    assertBelow(ev, "event_id", offset, "events")
    assertBelow(ev, "user_id", 1000000L, "events")
    val evScaled = replicas(ev, (e, k) => e.select(
      (col("event_id") + lit(k * offset)).as("event_id"),
      col("ts"),
      (col("user_id") + lit(k * 1000000L)).as("user_id"),
      col("event_type"), col("value"), col("props")))
    // Hot user: every 5th event_id lands on ONE user — ~20% of all
    // events in a single user_id window partition across replicas.
    val evOut = if (!skew) evScaled else evScaled.withColumn("user_id",
      when(pmod(col("event_id"), lit(5)) === 0, lit(7L))
        .otherwise(col("user_id")))
    evOut.repartition(4 * factor / 2 max 4)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      val link = java.nio.file.Paths.get(s"$dst/$t.parquet")
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$src/$t.parquet"))
    }
    println(s"""{"scaled":"$dst","factor":$factor,"skew":$skew,"docs":${docsOut.count()},"vecs":${embScaled.count()},"events":${evOut.count()},"orders":${ordScaled.count()},"lineitem":${liOut.count()}}""")
  }
}
