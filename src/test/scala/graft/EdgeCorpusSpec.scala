package graft

/** The r13 edge-corpus robustness gate, pinned at unit-test speed: the
  * FULL registry must be well-defined on the degenerate corpus shapes a
  * 100 TB deployment produces at the margins — an EMPTY corpus (a
  * first-ever ingest, a filter that dropped everything) and a TINY
  * referentially-closed one (single-member groups, empty LSH buckets,
  * near-empty incremental batches). The gate's first run found six
  * crash sites (IVF centroid training, BM25/IVF store searches over
  * never-materialized stores, an ANSI 0/0 in the BM25 stat fold) and
  * one genuine cross-engine semantic divergence (Spark's native ROLLUP
  * emits no grand-total row on empty input where ANSI/DuckDB emit one
  * — q63 is now a two-phase rollup for that reason); this spec keeps
  * all of it fixed. Empty-in → empty-out, never a crash.
  *
  * The third mode, NULLS, injects deterministic NULLs into the content
  * columns real dumps actually null out (ids and join keys intact). Its
  * first run found the MediaRow non-null-field encoder crash, the
  * null-probe artifact hole in the ANN faces, and the q63 COALESCE
  * marker collision (a real NULL lang base row is NOT a subtotal). */
class EdgeCorpusSpec extends SparkSpec {

  // One generated directory per mode for the whole suite: the cases
  // that reuse a mode (empty, nulls) only read it after the registry
  // run, so a second generation would rebuild identical bytes.
  private val corpora = scala.collection.mutable.Map.empty[String, String]

  private def corpus(mode: String): String = corpora.getOrElseUpdate(mode, {
    val dir = java.nio.file.Files.createTempDirectory(s"edge_$mode").toString
    EdgeCorpus.run(spark, "/root/testdata/sf0.001", dir, mode)
    dir
  })

  private def runRegistry(dir: String): Seq[(String, Throwable)] =
    SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      try { fn(spark, dir).count(); None }
      catch { case e: Throwable => Some(name -> e) }
    }

  test("every registry query is well-defined on an EMPTY corpus") {
    val failures = runRegistry(corpus("empty"))
    assert(failures.isEmpty, failures.map { case (n, e) =>
      s"$n: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
    }.mkString("\n"))
  }

  test("every registry query is well-defined on a TINY corpus") {
    val failures = runRegistry(corpus("tiny"))
    assert(failures.isEmpty, failures.map { case (n, e) =>
      s"$n: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
    }.mkString("\n"))
  }

  test("every registry query is well-defined on a NULL-injected corpus") {
    // Content columns carry deterministic NULLs (document text/lang/
    // source, event value/props, embedding vector/label — ids and keys
    // intact). First run found two encoder crash sites (MediaRow's
    // non-null meta_chars) and the null-probe hole in the ANN faces
    // (a null PROBE vector emitted k junk rank rows; the recall
    // contract emitted a row with null kth_sim) — all fixed by the
    // explicit Similarity.vecRows exclusion contract.
    val failures = runRegistry(corpus("nulls"))
    assert(failures.isEmpty, failures.map { case (n, e) =>
      s"$n: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
    }.mkString("\n"))
  }

  test("every registry query is well-defined on an adversarial-UTF-8 corpus") {
    // Multi-byte Latin, CJK, surrogate-pair emoji, supplementary-plane
    // Gothic, RTL + combining marks, fullwidth forms, Devanagari digits,
    // Turkish İ/ı, NBSP-glued tokens — injected into every document's
    // text. The full DuckDB gate passed 84/84 on this mode's FIRST run
    // (BENCH_NOTES_r13 Addendum 9): the tokenize/shingle/hash/regex
    // surface is byte-identical cross-engine; this keeps it that way.
    val dir = corpus("unicode")
    val failures = runRegistry(dir)
    assert(failures.isEmpty, failures.map { case (n, e) =>
      s"$n: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
    }.mkString("\n"))
    // Spark length() (code points) must equal the recomputed n_chars on
    // every injected class — surrogate pairs count 1 per code point.
    import org.apache.spark.sql.functions._
    val bad = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(col("text")) =!= col("n_chars")).count()
    assert(bad === 0L)
  }

  test("null embeddings are excluded from ANN by contract, not artifact") {
    import org.apache.spark.sql.functions._
    val dir = corpus("nulls")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val nullIds = emb.filter(col("embedding").isNull)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(nullIds.nonEmpty, "the nulls draw must null some embeddings")
    // A NULL-vector probe emits NO rows (previously: k junk rows ranked
    // on all-null cosine), and null corpus vectors never appear as
    // neighbors.
    val someNull = nullIds.head
    val probes = emb.filter(col("vec_id") === someNull || col("vec_id") < 3)
    val got = pipeline.Similarity.bruteForceTopK(emb, probes, 5).collect()
    assert(!got.exists(_.getLong(0) == someNull), "null probe must emit no rows")
    assert(got.map(_.getLong(0)).distinct.length === 3)
    assert(!got.exists(r => nullIds.contains(r.getLong(1))),
      "null corpus vectors must never rank as neighbors")
    // The recall contract drops the null probe instead of emitting a
    // junk row with a null kth_sim.
    val rc = pipeline.Similarity.recallContract(emb, probes,
      pipeline.Similarity.bruteForceTopK(emb, probes, 10).toDF(),
      k = 10, minProbeRecall = 0.5, minMeanRecall = 0.5).collect()
    assert(rc.length === 3 && !rc.exists(r => r.isNullAt(1)))
  }

  test("every registry query is well-defined on a DUP-HEAVY corpus, and " +
      "soft dedup actually thins the boilerplate mass (r18)") {
    import org.apache.spark.sql.functions._
    val dir = corpus("dupheavy")
    val failures = runRegistry(dir)
    assert(failures.isEmpty, failures.map { case (n, e) =>
      s"$n: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
    }.mkString("\n"))
    // The construction holds: ONE text covers ≥ 30% of all docs — the
    // crawl-pathology regime the dedup faces exist for, which the
    // balanced draws never produce (their clusters are tiny; that is
    // how q100's r17 hot-key window stayed invisible at every SF).
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val total = docsDf.count()
    val top = docsDf.groupBy(col("text")).count()
      .agg(max(col("count"))).collect().head.getLong(0)
    assert(top * 10L >= total * 3L - 10L,
      s"dupheavy draw broken: top cluster $top of $total docs")
    // q100 (soft dedup over the TRIPLED corpus) must collapse the
    // boilerplate clusters to ~targetCopies survivors each: with ≥ 40%
    // of input duplicated the output is far below the 3·total input.
    val q100Rows = SparkEntry.queries("q100_soft_dedup")(spark, dir).count()
    assert(q100Rows * 4L <= 3L * total * 3L,
      s"soft dedup failed to thin: $q100Rows of ${3 * total} rows kept")
  }

  test("q63 emits the ANSI grand-total row on an empty corpus") {
    import org.apache.spark.sql.Row
    val rows = SparkEntry.queries("q63_mixture_rollup")(spark, corpus("empty"))
      .collect()
    assert(rows.toSeq === Seq(Row("<all>", "<all>", 0L, null, null)))
  }
}
