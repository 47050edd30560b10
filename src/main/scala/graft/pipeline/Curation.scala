package graft.pipeline

import graft.operators.CoreOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The corpus-curation chains behind the registry's curation rows — q80,
  * q81 (the chain `curation_batch` times), and the curation-v2/v3 family
  * (q90/q91/q92, q96). Their shared front is written once here:
  *
  *  1. [[evalSplit]]: docs 0–19 stand in for the eval benchmark, the
  *     pool is the rest;
  *  2. [[qualityGate]]: q34's thresholds; the id+16-byte features pin
  *     once and serve every later stage, and text rejoins from the scan;
  *  3. [[exactUnique]]: min-id election per 60-bit content hash, applied
  *     as an id semi-join — the shuffle carries (hash, id), never bodies;
  *  4. [[shingleBands]]: ONE pinned hashed-shingle pass over the unique
  *     texts, feeding banding, the Jaccard confirm and decontamination —
  *     calling minhashLsh/decontaminate as black boxes would shingle the
  *     corpus again per consumer (a full pass each at 100 TB).
  *
  * The chains differ after the front. q81 confirms with
  * [[Dedup.confirmedPairsForClustering]] and keeps the min id per
  * cluster; the v2/v3 family confirms every band candidate and keeps the
  * longest member ([[kept]]). Every value below has one setting in use,
  * so each is a constant. */
object Curation {

  private val EvalIds = 20
  private val ShingleN = 3
  private val NumHashes = 16
  private val RowsPerBand = 4
  private val Threshold = 0.5

  /** (eval docs, pool): docs with id < 20 stand in for the benchmark. */
  def evalSplit(docs: DataFrame): (DataFrame, DataFrame) =
    (docs.filter(col("doc_id") < EvalIds), docs.filter(col("doc_id") >= EvalIds))

  /** Quality gate over a `(doc_id, text)` pool at q34's thresholds.
    * Returns (pinned features `(doc_id, n_tokens, stopword_ratio)`, gated
    * `(doc_id, text)`). Tokenizing once and re-scanning parquet for text
    * is the cheap side: q80's first cut re-tokenized per consumer and ran
    * 5.8 s at sf0.1 against ~2.5 s pinned. */
  def qualityGate(pool: DataFrame): (DataFrame, DataFrame) = {
    val feats = graft.Pin.ser(TextAnalysis.qualityFilter(pool,
      minTokens = 40, maxStopwordRatio = 0.2, maxShortTokenRatio = 0.3)
      .select(col("doc_id"), col("n_tokens"), col("stopword_ratio")))
    (feats, pool.join(feats.select(col("doc_id")), Seq("doc_id"), "left_semi"))
  }

  /** Exact dedup election and application: the min-id copy of each
    * identical text (the q20/q40 shape). */
  def exactUnique(text: DataFrame): DataFrame =
    text.join(Dedup.exact(text).select(col("kept_id").as("doc_id")),
      Seq("doc_id"), "left_semi")

  /** The one pinned shingle pass and its band signatures:
    * (`(doc_id, h)`, `(doc_id, band, sig)`). */
  def shingleBands(text: DataFrame): (DataFrame, DataFrame) = {
    val sh = graft.Pin.ser(TextAnalysis.hashedShingles(text, ShingleN))
    (sh, Dedup.bandSigs(sh, NumHashes, RowsPerBand))
  }

  /** q81 — the full chain: the front, fuzzy near-dup at min-id election,
    * eval decontamination (q51 params) on the same shingles, token-budget
    * selection (q74 shape) over the pinned features, then PII redaction
    * (q64) and chunking (q57 params) of the selected docs only. Output is
    * the training-ready chunk relation, deterministic by
    * (doc_id, chunk_id).
    *
    * The near-dup confirm is component-aware
    * ([[Dedup.confirmedPairsForClustering]]): the pairs feed only
    * [[Dedup.dedupClusters]], so a K-doc near-identical cluster of
    * distinct texts (per-doc PII suffixes on shared boilerplate, which
    * exact dedup cannot merge) confirms ≈ K pairs, not C(K,2). */
  def full(evalDocs: DataFrame, pool: DataFrame): DataFrame = {
    val (feats, qualityText) = qualityGate(pool)
    val uniqueText = exactUnique(qualityText)
    val (sh, sigs) = shingleBands(uniqueText)
    val nearIds = Dedup.dropNonCanonical(
      uniqueText.select(col("doc_id")),
      Dedup.dedupClusters(Dedup.confirmedPairsForClustering(sigs, sh, Threshold)))
    val hits = Dedup.contaminatedExact(
      sh.join(nearIds, Seq("doc_id"), "left_semi"),
      TextAnalysis.hashedShingles(evalDocs, ShingleN), minOverlap = 10)
    val cleanIds = nearIds.join(hits, Seq("doc_id"), "left_anti")
    val selected = Sampling.takeTokenBudget(
      feats.join(cleanIds, Seq("doc_id"), "left_semi"),
      "doc_id", col("stopword_ratio"), col("n_tokens"), budget = 20000L)
    val selText = pool.join(
      selected.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val redactedCol = TextAnalysis.redactPii(col("text"))
      .collectFirst { case ("redacted", c) => c }.get
    TextAnalysis.chunkDocuments(
      selText.select(col("doc_id"), redactedCol.as("text")),
      maxTokens = 32, overlap = 8)
  }

  /** The curation-v2/v3 front's result: the pool `(doc_id, text, lang)`,
    * the eval docs, the pinned quality features, the pinned shingles of
    * the unique texts and the pinned kept ids. */
  final case class Kept(pool: DataFrame, evalDocs: DataFrame, feats: DataFrame,
                        sh: DataFrame, ids: DataFrame)

  /** Stages 1–3 of curation v2/v3: the front, every band candidate
    * Jaccard-confirmed, then the LONGEST member of each cluster kept
    * (ties → smallest id).
    *
    * The election runs over the exact-elected ids only. Every gated doc
    * has ≥ 40 tokens, so an identical-text class has shingles and its
    * copies pair at Jaccard 1.0; a non-min-id copy ties its class's min id
    * on `n_tokens` and loses the tie-break, so it never wins a cluster.
    * Dropping those copies first therefore keeps the same ids as electing
    * over every gated doc — and electing over every gated doc here would
    * keep them, since they have no shingles in `sh` and so no label.
    *
    * `ids` is pinned (r19): every downstream stage of both chains consumes
    * it, and each consumer replayed the election when it was not (q90
    * jobs 42 → 73, q92 task_ms 10.9 s → 26.2 s in that bench). */
  def kept(docs: DataFrame): Kept = {
    val (evalAll, pool) = evalSplit(
      docs.select(col("doc_id"), col("text"), col("lang")))
    val (feats, qualityText) = qualityGate(pool.select(col("doc_id"), col("text")))
    val uniqueText = exactUnique(qualityText)
    val (sh, sigs) = shingleBands(uniqueText)
    val pairs = Dedup.exactJaccard(
        CoreOps.bucketPairs(sigs, Seq("band", "sig"), "doc_id"), sh)
      .filter(col("jaccard") >= Threshold)
    val ids = graft.Pin.ser(Dedup.keepBestPerCluster(
        feats.join(uniqueText.select(col("doc_id")), Seq("doc_id"), "left_semi"),
        Dedup.dedupClusters(pairs.select(col("doc_a"), col("doc_b"))),
        col("n_tokens"))
      .select(col("doc_id")))
    Kept(pool, evalAll.select(col("doc_id"), col("text")), feats, sh, ids)
  }

  /** Curation v2 (q90): [[kept]], then containment decontamination on the
    * same shingles, then a temperature mixture over the surviving
    * languages. Returns (mixture survivors `(doc_id, lang)`, quality
    * features) — q91/q92 join the features back for epoch weights. */
  def mixture(docs: DataFrame): (DataFrame, DataFrame) = {
    val k = kept(docs)
    val cleanIds = k.ids.join(
      Dedup.contaminatedByContainment(
        k.sh.join(k.ids, Seq("doc_id"), "left_semi"),
        TextAnalysis.hashedShingles(k.evalDocs, ShingleN), minContainment = 0.5),
      Seq("doc_id"), "left_anti")
    val mixed = Sampling.temperatureMixture(
      k.pool.select(col("doc_id"), col("lang"))
        .join(cleanIds, Seq("doc_id"), "left_semi"),
      "doc_id", col("lang"), targetRows = 120, alpha = 0.5, salt = "q90")
    (mixed, k.feats)
  }

  /** Curation v3 (q96), the SURGICAL chain: [[kept]], then chunk-grain
    * decontamination (q93's ∩/|chunk| ratio over 64-token chunks) in place
    * of v2's doc-burning containment stage, and the surviving chunks
    * packed into 2048-token training rows. A doc with one embedded
    * benchmark string loses THAT chunk and keeps the rest; a chunk that IS
    * mostly benchmark text drops even when the doc-grain ratio never
    * fires. Chunks too short to shingle (< 3 tokens) survive by contract.
    *
    * Bridge windows (r17): an implant straddling a chunk boundary can
    * leave both halves under the 0.5 ratio, so the decision also scores
    * the odd stride-32 windows ([[Dedup.bridgeBurn]]), each centered on a
    * boundary; a fired bridge burns both base chunks it straddles. Any
    * implant ≥ ~33 tokens fires one; shorter implants are below half of
    * any 64-token window, the fixed-grain floor left to the doc-grain
    * sweeps (q51/q84/q85). Bridges only decide, never emit rows, so no
    * text duplicates.
    *
    * Shuffle profile: chunking and chunk shingles are scan-stage per-row
    * work over the kept docs only; the decontamination join broadcasts
    * the eval shingles; the pack is one bucket exchange. */
  def surgical(docs: DataFrame): DataFrame = {
    val k = kept(docs)
    // Pinned (r18): keptText feeds both the base-chunk pass and the bridge
    // pass; unpinned, the second consumer re-ran stages 1–3.
    val keptText = graft.Pin.ser(k.pool.select(col("doc_id"), col("text"))
      .join(k.ids, Seq("doc_id"), "left_semi"))
    val chunks = graft.Pin.ser(
      TextAnalysis.chunkDocuments(keptText, maxTokens = 64, overlap = 0))
    val esh = TextAnalysis.hashedShingles(k.evalDocs, ShingleN)
    val bad = Dedup.contaminatedChunks(chunks, esh, ShingleN, 0.5)
    val badBridge = Dedup.bridgeBurn(keptText, 64, "doc_id", "chunk_id")(
      Dedup.contaminatedChunks(_, esh, ShingleN, 0.5))
    val surviving = chunks
      .join(bad.unionByName(badBridge).distinct(), Seq("doc_id", "chunk_id"),
        "left_anti")
      .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"))
    Sampling.packBudget(surviving, Seq("doc_id", "chunk_id"),
        col("n_chunk_tokens"), budget = 2048, packBuckets = 16,
        salt = "q96pack")
      .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
        col("pack_bucket"), col("pack_id"))
  }
}
