package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Edge-shaped corpus generator (r13): derives degenerate corpora from a
  * real sf-dir so the FULL registry + oracle gate can run against the
  * shapes a 100 TB deployment actually produces at the margins —
  * empty partitions, near-empty batches, single-member groups. Two
  * modes:
  *
  *  - `empty`: every table schema-exact with ZERO rows. The gate here is
  *    engine robustness — `approx_quantile` sketches, k-means centroid
  *    draws, drift fingerprints, store bootstraps and `first()`-style
  *    driver model state all see the input a first-ever ingest or a
  *    fully-filtered scan hands them. check.py still diffs: every
  *    oracle runs on the same zero-row views, so both sides must agree
  *    on EMPTY (and on the handful of aggregates that are non-empty on
  *    empty input — COUNT(*) = 0 rows, sketch tiles, etc.).
  *  - `tiny`: a referentially-CLOSED slice (dims verbatim; first 24
  *    orders with exactly their lineitems; 5 whole users' events; 16
  *    documents; 24 embeddings). Small enough that every per-group
  *    window holds 0–2 rows, every LSH band bucket is a singleton or
  *    empty, every incremental batch beyond the first is near-empty —
  *    the tie/degenerate paths the balanced draws never exercise.
  *  - `nulls`: the source corpus with deterministic NULLs injected into
  *    the CONTENT columns real 100 TB dumps actually null out (document
  *    text/lang/source, event value/props, embedding vector/label) —
  *    ids, keys, and the NOT-NULL-by-spec TPC-H columns stay verbatim,
  *    so every oracle still joins and groups identically and the diff
  *    is purely about how each engine treats NULL inside the operator.
  *  - `dupheavy`: boilerplate-heavy documents — one string shared by 30%
  *    of all docs plus a 10% second tier (the crawl pathology dedup
  *    exists for; the balanced draws' duplicate clusters are tiny, which
  *    is how q100's r17 hot-key window stayed invisible at every SF).
  *  - `unicode`: adversarial UTF-8 injected into every document's text
  *    (multi-byte, surrogate pairs, RTL + combining marks, fullwidth
  *    forms, non-ASCII digits, NBSP-glued tokens; see the mode body) —
  *    the gate is whether the tokenize/shingle/hash/regex surface
  *    treats non-ASCII identically across Spark and DuckDB.
  *
  * Like [[Reseed]], output is measurement input, NOT testdata: dstDir
  * lives under the gitignored tmp/ tree, and the oracle gate runs
  * UNMODIFIED against it (schemas byte-identical to the source's — the
  * whole point is that literal bounds like q49's `doc_id < 300` keep
  * meaning what they mean).
  *
  * Usage: `runMain graft.EdgeCorpus <srcSfDir> <dstDir> <empty|tiny|nulls|unicode>`.
  */
object EdgeCorpus {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: graft.EdgeCorpus <srcSfDir> <dstDir> " +
        "<empty|tiny|nulls|unicode|dupheavy>")
    val spark = Session.local()
    run(spark, args(0), args(1), args(2))
    spark.stop()
  }

  /** Session-agnostic generator (same contract as [[Reseed.run]]). */
  def run(spark: SparkSession, src: String, dst: String, mode: String): Unit = {
    new java.io.File(dst).mkdirs()
    // Raw reads, not Tables readers: the output must preserve each
    // table's PHYSICAL schema (Tables.events rewrites ts to session-TZ
    // timestamp, which would change the parquet encoding the oracle and
    // the schema preflight see).
    def raw(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")

    mode match {
      case "empty" =>
        Tables.names.foreach(t => write(t, raw(t).limit(0)))
      case "tiny" =>
        Seq("region", "nation", "customer", "supplier", "part")
          .foreach(t => write(t, raw(t)))
        val orders = raw("orders").orderBy(col("o_orderkey")).limit(24)
        write("orders", orders)
        write("lineitem", raw("lineitem").join(
          orders.select(col("o_orderkey")).hint("broadcast"),
          col("l_orderkey") === col("o_orderkey"), "left_semi"))
        // Whole users, not a row prefix: sessionize/funnel/cohort
        // faces need intact per-user event sequences to be a REAL
        // tiny draw rather than truncated mid-session.
        val users = raw("events").select(col("user_id")).distinct()
          .orderBy(col("user_id")).limit(5)
        write("events", raw("events").join(users.hint("broadcast"),
          Seq("user_id"), "left_semi"))
        write("documents", raw("documents").orderBy(col("doc_id")).limit(16))
        write("embeddings", raw("embeddings").orderBy(col("vec_id")).limit(24))
      case "nulls" =>
        // Deterministic NULL injection into the CONTENT columns real
        // dumps actually null out (text bodies, labels, payloads,
        // measure values) — ids, keys, and timestamps stay intact (the
        // TPC-H fact/dim columns are NOT NULL by spec and stay
        // verbatim). Coprime moduli so the null sets overlap rarely
        // but not never. n_chars tracks the nulled text: a consistent
        // dump nulls the derived column with its source.
        Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem").foreach(t => write(t, raw(t)))
        def nullWhen(cond: Column, c: Column, t: org.apache.spark.sql.types.DataType) =
          when(cond, lit(null).cast(t)).otherwise(c)
        val d = raw("documents")
        write("documents", d.select(
          col("doc_id"),
          nullWhen(pmod(col("doc_id"), lit(37)) === 3, col("text"),
            d.schema("text").dataType).as("text"),
          nullWhen(pmod(col("doc_id"), lit(41)) === 5, col("lang"),
            d.schema("lang").dataType).as("lang"),
          nullWhen(pmod(col("doc_id"), lit(43)) === 7, col("source"),
            d.schema("source").dataType).as("source"),
          nullWhen(pmod(col("doc_id"), lit(37)) === 3, col("n_chars"),
            d.schema("n_chars").dataType).as("n_chars")))
        val ev = raw("events")
        write("events", ev.select(
          col("event_id"), col("ts"), col("user_id"), col("event_type"),
          nullWhen(pmod(col("event_id"), lit(29)) === 6, col("value"),
            ev.schema("value").dataType).as("value"),
          nullWhen(pmod(col("event_id"), lit(31)) === 3, col("props"),
            ev.schema("props").dataType).as("props")))
        val em = raw("embeddings")
        write("embeddings", em.select(
          col("vec_id"),
          nullWhen(pmod(col("vec_id"), lit(53)) === 9, col("embedding"),
            em.schema("embedding").dataType).as("embedding"),
          nullWhen(pmod(col("vec_id"), lit(23)) === 4, col("label"),
            em.schema("label").dataType).as("label")))
      case "unicode" =>
        // Adversarial-UTF-8 injection into document text: every doc gains
        // a prefix and suffix token drawn from a pool covering the
        // classes that historically diverge across engines — multi-byte
        // Latin, CJK, surrogate-pair emoji + supplementary-plane Gothic,
        // RTL Hebrew with combining points, combining marks, fullwidth
        // forms, Devanagari digits (regexTokenCount's [0-9] must NOT
        // match them in either engine), the Turkish dotted İ / dotless ı
        // (the classic case-mapping trap — no face may case-map doc
        // text), and an NBSP-glued token (\s is ASCII in Java AND RE2,
        // so it must stay ONE token in both). n_chars recomputes as
        // code-point length of the new text — Spark length() and DuckDB
        // length() must agree on every class, surrogate pairs included.
        // Everything else verbatim: the diff this corpus isolates is
        // purely "does the text surface treat non-ASCII identically".
        val pool = Seq("café", "naïve", "中文分词", "😀🚀", "עִבְרִית",
          "Ωμέγα", "ßẞ", "é́", "𐍈𐍉",
          "İstanbul", "ı", "ﬃ", "Ａｂｃ１２３", "१२३४५६७", "नमस्ते",
          "a b")
        Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "embeddings")
          .foreach(t => write(t, raw(t)))
        val du = raw("documents")
        val poolCol = array(pool.map(lit): _*)
        val newText = concat_ws(" ",
          element_at(poolCol, (pmod(col("doc_id"), lit(pool.size)) + 1).cast("int")),
          col("text"),
          element_at(poolCol,
            (pmod(col("doc_id") * 7 + 3, lit(pool.size)) + 1).cast("int")))
        write("documents", du.select(
          col("doc_id"),
          newText.as("text"),
          col("lang"),
          col("source"),
          length(newText).cast("long").as("n_chars")))
      case "dupheavy" =>
        // Boilerplate-heavy corpus (r18, verdict task 2): the regime the
        // dedup faces EXIST for — one crawl-pathology boilerplate string
        // shared by 30% of all docs (doc_id % 10 ∈ {0,1,2}) plus a
        // second-tier 10% cluster (% 10 = 3) — which the balanced
        // testdata draws never produce (their duplicate clusters are
        // tiny, so q100's r17 hot-key window looked cheap at every SF).
        // Both strings pass the curation quality gate (≥ 40 tokens, low
        // stopword/short-token ratios) so the near-dup chains see the
        // giant clusters too, not just the exact-hash faces. Everything
        // else verbatim; n_chars tracks the replaced text.
        val boilerA = ("subscribe today for unlimited digital access " +
          "enjoy exclusive member benefits including breaking news " +
          "alerts premium newsletters live sports coverage puzzles " +
          "games cooking recipes expert reviews cancel anytime manage " +
          "your subscription preferences from your account settings " +
          "page contact customer support seven days every week for " +
          "assistance with billing delivery questions feedback").trim
        val boilerB = ("cookies help this website deliver personalized " +
          "content measure advertising performance analyze traffic " +
          "patterns remember visitor preferences across sessions " +
          "clicking accept means consent for processing browsing data " +
          "according privacy policy terms conditions visitors adjust " +
          "tracking choices anytime under settings consent banner " +
          "without losing access basic site functionality features").trim
        Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "embeddings")
          .foreach(t => write(t, raw(t)))
        val dd = raw("documents")
        val newText = when(pmod(col("doc_id"), lit(10)) < 3, lit(boilerA))
          .when(pmod(col("doc_id"), lit(10)) === 3, lit(boilerB))
          .otherwise(col("text"))
        write("documents", dd.select(
          col("doc_id"),
          newText.as("text"),
          col("lang"),
          col("source"),
          length(newText).cast("long").as("n_chars")))
      case other =>
        throw new IllegalArgumentException(
          s"unknown mode: $other (want empty|tiny|nulls|unicode|dupheavy)")
    }
    val counts = Tables.names.map { t =>
      s""""$t":${spark.read.parquet(s"$dst/$t.parquet").count()}"""
    }.mkString(",")
    println(s"""{"edge":"$dst","mode":"$mode",$counts}""")
  }
}
