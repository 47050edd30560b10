package graft.pipeline

import graft.operators.CoreOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Two paths:
  *
  *  - brute force: probe × corpus expansion with a codegen'd arithmetic
  *    dot product — exact, O(|probes|·|corpus|); correct baseline and the
  *    oracle for the approximate path. The corpus side stays partitioned;
  *    probes are broadcast, so no corpus shuffle at all.
  *  - LSH (random hyperplane / signed projection): k sign bits per vector
  *    from deterministic pseudo-random hyperplanes → bucket join on the
  *    signature prefix. At 100 TB the bucket join touches only colliding
  *    buckets; recall tunes with bits/tables. An IVF variant would swap
  *    the signature for a k-means cell id.
  *
  * All float math is widened to double in index order so results are
  * bit-reproducible against DuckDB's list functions.
  */
object Similarity {

  /** Σ a_i·b_i over two array<double> columns, folded left-to-right in
    * index order (deterministic). Backed by the codegen'd
    * [[graft.functions.DotProduct]] Catalyst expression — a compiled
    * inner loop rather than interpreted `zip_with`/`aggregate` lambdas. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** NULL-embedding rows carry no position in the vector space, so every
    * similarity / ANN / index entry point EXCLUDES them up front — an
    * explicit contract, not an artifact. Real dumps null vectors out
    * independently of ids (the r13 nulls-corpus gate), and without this
    * filter the exclusion only HAPPENS to hold: null cosines sort past
    * rank k for null corpus rows, but a null PROBE emits k junk rows
    * ranked on all-null similarity, and a null input to the recall
    * contract emits a contract row with a null `kth_sim`. The filter is
    * a codegen'd IsNotNull pushed into the scan — free at any scale. */
  private def vecRows(df: DataFrame): DataFrame =
    df.filter(col("embedding").isNotNull)

  /** Exact top-k cosine neighbors for each probe row. `corpus` and
    * `probes` both need (`vec_id`, `embedding`); probes should be small —
    * they are broadcast against the partitioned corpus. Ties broken by
    * neighbor id on the ROUNDED similarity so ranking is reproducible. */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val p = vecRows(probes).select(col("vec_id").as("probe_id"), asDouble(col("embedding")).as("pv"))
    val c = vecRows(corpus).select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
    val scored = c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(cosine(col("pv"), col("cv")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane component for (seed, dimIdx):
    * md5-derived uniform in [-0.5, 0.5), computed ON THE DRIVER with the
    * exact arithmetic of `TextAnalysis.md5Hash60` (first 15 md5 hex chars
    * as a 60-bit integer) so a DuckDB oracle rebuilds the identical
    * planes from `md5(b || '_' || i)`. */
  private[pipeline] def planeComponent(seed: Int, dimIdx: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${seed}_${dimIdx}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    (java.lang.Long.parseLong(hex, 16) % 1000000L) / 1000000.0 - 0.5
  }

  /** Random-hyperplane signature: `bits` sign bits packed into a long.
    * The hyperplanes are CONSTANTS, so they are materialized once as
    * array literals (bits × dim doubles — ~4 KiB for 8×64, negligible in
    * the plan) and each bit is one codegen'd `DotProduct` against the
    * vector: no per-row md5, no interpreted `aggregate`/`zip_with`
    * lambdas on the signature path. */
  def rhpSignature(vec: Column, bits: Int, dim: Int): Column =
    (0 until bits).map { b =>
      val plane = typedLit((0 until dim).map(i => planeComponent(b, i)))
      when(dot(vec, plane) > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)

  /** Per-table signature array `[(t, sig)]`: `tables` independent
    * signature tables of `bits` sign bits each — table t uses hyperplanes
    * seeded `t*bits .. t*bits+bits-1`, so every plane is distinct and
    * DuckDB rebuilds the same family from one seed range. */
  private[pipeline] def lshSignatures(vec: Column, bits: Int, tables: Int, dim: Int): Column =
    array((0 until tables).map { t =>
      struct(lit(t).as("t"),
        (0 until bits).map { b =>
          val plane = typedLit((0 until dim).map(i => planeComponent(t * bits + b, i)))
          when(dot(vec, plane) > 0, lit(1L << b)).otherwise(0L)
        }.reduce(_ + _).as("sig"))
    }: _*)

  /** MULTI-TABLE LSH ANN: a (probe, corpus) pair is scored iff it shares
    * a signature in ANY of the `tables` tables — the OR-of-ANDs
    * construction (the banding trick, same as MinHash LSH): single-table
    * sign-LSH has near-zero top-k recall at useful bit widths (measured
    * in SimilaritySpec), while L tables of fewer bits trade bounded extra
    * candidates for recall ≈ 1-(1-p^bits)^tables. Scale knobs: grow
    * `bits` with corpus size (bucket occupancy), `tables` with target
    * recall. The signature computation is `tables × bits` codegen'd dot
    * products against constant plane literals; the join touches only
    * colliding buckets; duplicate cross-table candidates collapse before
    * scoring. */
  def lshTopK(corpusIn: DataFrame, probesIn: DataFrame, k: Int, bits: Int = 4,
              tables: Int = 8, dim: Int = 64): DataFrame = {
    val corpus = vecRows(corpusIn)
    val probes = vecRows(probesIn)
    // Candidate generation is ID-ONLY: the corpus side of the bucket join
    // carries (t, sig, id) — never embedding arrays — so the exchange is
    // id-width regardless of dim, and a hot bucket skews a narrow
    // relation (same shape as Dedup.minhashLsh's band join).
    val pSig = probes.select(col("vec_id").as("probe_id"), asDouble(col("embedding")).as("pv"))
      .withColumn("ts", explode(lshSignatures(col("pv"), bits, tables, dim)))
      .select(col("probe_id"), col("ts.t").as("t"), col("ts.sig").as("sig"))
    val cSig = corpus.select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
      .withColumn("ts", explode(lshSignatures(col("cv"), bits, tables, dim)))
      .select(col("neighbor_id"), col("ts.t").as("t"), col("ts.sig").as("sig"))
    val candIds = cSig.join(broadcast(pSig), Seq("t", "sig"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select("probe_id", "neighbor_id").distinct()
    // Scoring re-attaches vectors via broadcasts of the tiny candidate
    // and probe relations — the corpus is scanned, never shuffled.
    val p = probes.select(col("vec_id").as("probe_id"), asDouble(col("embedding")).as("pv"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    c.join(broadcast(candIds), Seq("neighbor_id"))
      .join(broadcast(p), Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(cosine(col("pv"), col("cv")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Salt for the deterministic IVF seed buckets (see [[trainCentroids]]). */
  val IvfSeedSalt = "ivfseed"

  /** K-means centroid training on the driver loop: `iters` Lloyd
    * iterations seeded by the `numCells` corpus vectors with the SMALLEST
    * `(hash-bucket, vec_id)` pair — `Sampling.bucket`'s md5 arithmetic, so
    * the seed is a deterministic pseudo-random sample that any engine
    * (and the DuckDB oracle) rebuilds identically from ANY id
    * distribution; ids need not start at 0 or be contiguous. The pick is
    * a `TakeOrderedAndProject` (orderBy + limit numCells), not a full
    * sort. Returns `(cell, centroid)` sorted by cell, where a cell is
    * labeled by its seed's `vec_id`.
    *
    * Assignment is a NARROW argmax against centroid array literals (the
    * centroid set lives on the driver between iterations, like an MLlib
    * model): no corpus×cells row explosion, no per-vector window — the
    * only shuffle per iteration is the (cell, pos, x) component-mean
    * aggregation. Cross-engine exactness: component means route the sum
    * through DECIMAL and divide by the exact count, then round to 8 dp —
    * bit-identical in DuckDB, so trained centroids (and everything
    * downstream) oracle-check. A cell that captures no vectors drops
    * out, same as the SQL formulation. */
  def trainCentroids(corpusIn: DataFrame, numCells: Int,
                     iters: Int): Seq[(Long, Seq[Double])] = {
    val corpus = vecRows(corpusIn)
    // Cached for the WHOLE training call: every Lloyd iteration re-reads
    // the (id, vector) relation, and the seed pick below is derived from
    // the same cached projection (r19 — it previously re-derived from
    // `corpus` raw, so the source was scanned once more than necessary:
    // seed pass + cache-fill pass + iters cache reads; now the seed pick
    // IS the cache-fill action and the source is scanned exactly once
    // per training call). Values are unchanged: c's (id, cv) are the
    // same (vec_id, asDouble(embedding)) the seed projection read.
    val c = corpus.select(col("vec_id").as("id"), asDouble(col("embedding")).as("cv"))
    if (iters > 0) c.cache()
    var cents: Seq[(Long, Seq[Double])] = c
      .select(col("id"), col("cv"), Sampling.bucket(col("id"), IvfSeedSalt).as("b"))
      .orderBy(col("b"), col("id"))
      .limit(numCells)
      .select(col("id"), col("cv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    for (_ <- 0 until iters) {
      cents = c
        .withColumn("cell", argmaxCell(col("cv"), cents))
        .select(col("cell"), posexplode(col("cv")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(
          sum(col("x").cast(org.apache.spark.sql.types.DecimalType(30, 15))).cast("double")
            / count(lit(1)), 8).as("m"))
        .groupBy(col("cell"))
        .agg(graft.operators.CoreOps.orderedCollect(col("pos"), col("m")).as("centroid"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    }
    if (iters > 0) c.unpersist()
    cents
  }

  /** DataFrame face of [[trainCentroids]] (schema `(cell, centroid)`). */
  def kmeansCentroids(corpus: DataFrame, numCells: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    trainCentroids(corpus, numCells, iters).toDF("cell", "centroid")
  }

  /** Narrow argmax over centroid literals, as ONE `array_max` over
    * `(sim, -cell)` structs — every similarity is computed exactly once
    * (a when-chain fold would copy the running-best subtree per cell:
    * exponential expression blowup). Struct ordering is lexicographic,
    * so max = highest round-6 similarity, ties → highest `-cell` =
    * LOWEST cell — identical to the window formulation (`cent_sim` DESC,
    * cell ASC). Centroid norms fold to constants on the driver. A
    * thousands-of-cells deployment swaps this for a matrix-multiply
    * expression; the per-row-narrow shape is the point.
    *
    * EMPTY centroid set (a model trained on a zero-vector corpus — the
    * r13 edge gate's shape): assignment is null for every row, which
    * every consumer drops (cell joins/filters never match null), so
    * "no cells" flows through as "no candidates" instead of a crash. */
  private def argmaxCell(v: Column, cents: Seq[(Long, Seq[Double])]): Column =
    if (cents.isEmpty) lit(null).cast("long")
    else {
      val entries = cents.map { case (cell, w) =>
        val normW = math.sqrt(w.map(x => x * x).sum)
        struct(round(dot(v, typedLit(w)) / (norm(v) * lit(normW)), 6).as("s"),
          lit(-cell).as("negc"))
      }
      -array_max(array(entries: _*)).getField("negc")
    }

  /** IVF ANN: partition the corpus into `numCells` Voronoi cells around
    * k-means-trained centroids (`trainIters` Lloyd rounds over the
    * first-N seed; 0 = raw seed vectors), then scan only each probe's
    * `nProbe` closest cells. The index build assigns each corpus vector
    * its cell with one narrow argmax pass (no explosion, no window —
    * survives any corpus size); each query then touches `nProbe/numCells`
    * of the data instead of all of it. Recall vs the brute-force baseline
    * is the tuning knob, measured in SimilaritySpec. */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              numCells: Int = 8, nProbe: Int = 2, trainIters: Int = 2): DataFrame =
    searchIvfCents(corpus, trainCentroids(corpus, numCells, trainIters),
      probes, k, nProbe)

  /** Train-once face of IVF: build the `(cell, centroid)` index as a
    * DataFrame a deployment persists, then [[searchIvf]] against it —
    * [[ivfTopK]] re-trains per call (the correctness-query shape); a
    * production index pays the Lloyd loop once and amortizes it across
    * every query. Identity `buildIvfIndex → searchIvf ≡ ivfTopK` is
    * asserted in SimilaritySpec. */
  def buildIvfIndex(corpus: DataFrame, numCells: Int = 8,
                    trainIters: Int = 2): DataFrame =
    kmeansCentroids(corpus, numCells, trainIters)

  /** Search a prebuilt IVF index (`(cell, centroid)` from
    * [[buildIvfIndex]]). The index is cells-count-sized — KBs — so it
    * collects to driver literals exactly like the training loop's model
    * state (the MLlib pattern); the corpus is scanned narrow, never
    * shuffled. */
  def searchIvf(corpus: DataFrame, index: DataFrame, probes: DataFrame,
                k: Int, nProbe: Int = 2): DataFrame =
    searchIvfCents(corpus, collectCents(index), probes, k, nProbe)

  private def collectCents(index: DataFrame): Seq[(Long, Seq[Double])] =
    index.select(col("cell").cast("long"), col("centroid"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq

  /** The IVF build's corpus half: assign every corpus vector its Voronoi
    * cell — one narrow argmax pass, `(neighbor_id, cv, cell)` plus any
    * `passthrough` columns carried verbatim (lets a caller keep a batch
    * label through reassignment without a corpus-sized join-back). A
    * deployment PERSISTS this partitioned by `cell` (one directory per
    * cell), which is what makes [[searchIvfAssigned]]'s scan prune to the
    * probed cells at the file-listing level. */
  def assignIvfCells(corpus: DataFrame, index: DataFrame,
                     passthrough: Seq[String] = Nil): DataFrame = {
    val cents = collectCents(index)
    vecRows(corpus)
      .select(col("vec_id").as("neighbor_id") +:
        asDouble(col("embedding")).as("cv") +: passthrough.map(col): _*)
      .withColumn("cell", argmaxCell(col("cv"), cents))
  }

  /** nProbe CLOSEST cells per probe `(probe_id, pv, cell)` — probes are
    * few, so the tiny probes×cells expansion + window is the right tool. */
  private def probeCellsOf(probes: DataFrame, cents: Seq[(Long, Seq[Double])],
                           nProbe: Int): DataFrame = {
    val p = vecRows(probes).select(col("vec_id").as("probe_id"), asDouble(col("embedding")).as("pv"))
    // No cells → no probe targets: a typed zero-row relation (an
    // `explode(array())` of zero struct entries would not even
    // typecheck), matching argmaxCell's null-assignment contract.
    if (cents.isEmpty)
      return p.select(col("probe_id"), col("pv"),
        lit(null).cast("long").as("cell")).limit(0)
    val centRows = cents.map { case (cell, w) =>
      struct(lit(cell).as("cell"), typedLit(w).as("centroid"))
    }
    val wProbe = Window.partitionBy(col("probe_id"))
      .orderBy(col("cent_sim").desc, col("cell"))
    p.select(col("probe_id"), col("pv"), explode(array(centRows: _*)).as("c"))
      .select(col("probe_id"), col("pv"), col("c.cell").as("cell"),
        round(cosine(col("pv"), col("c.centroid")), 6).as("cent_sim"))
      .withColumn("r", row_number().over(wProbe)).filter(col("r") <= nProbe)
      .select(col("probe_id"), col("pv"), col("cell"))
  }

  private def scoreCells(assigned: DataFrame, probeCells: DataFrame,
                         k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    assigned.join(broadcast(probeCells), Seq("cell"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(cosine(col("pv"), col("cv")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  private def searchIvfCents(corpus: DataFrame, cents: Seq[(Long, Seq[Double])],
                             probes: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val assigned = vecRows(corpus)
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
      .withColumn("cell", argmaxCell(col("cv"), cents))
    scoreCells(assigned, probeCellsOf(probes, cents, nProbe), k)
  }

  /** Search a PERSISTED IVF layout: `assigned` is the stored output of
    * [[assignIvfCells]] (partitioned by `cell` at rest). The probed cell
    * set — at most probes × nProbe ids — is collected and applied as a
    * LITERAL `cell IN (…)` filter BEFORE scoring, so a cell-partitioned
    * store prunes the scan to `nProbe/numCells` of the corpus at the
    * file-listing level: the per-query cost of IVF at 100 TB is the
    * probed cells' bytes, not the corpus's. No per-call argmax, no
    * training — those were paid once at build time. */
  def searchIvfAssigned(assigned: DataFrame, index: DataFrame,
                        probes: DataFrame, k: Int, nProbe: Int = 2): DataFrame = {
    val cents = collectCents(index)
    val pc = probeCellsOf(probes, cents, nProbe)
    val cells = pc.select(col("cell")).distinct().collect().map(_.getLong(0)).toSeq
    val pruned = assigned
      .filter(if (cells.isEmpty) lit(false) else col("cell").isin(cells: _*))
      .select(col("neighbor_id"), col("cv"), col("cell").cast("long").as("cell"))
    scoreCells(pruned, pc, k)
  }

  /** Symmetric per-vector int8 QUANTIZATION: `scale = max |x_i|`,
    * `q_i = floor(x_i/scale · 127 + 0.5) ∈ [-127, 127]` — 4× smaller
    * at-rest embeddings (the storage lever for a 100 TB vector corpus)
    * at ≈1e-3 cosine error (measured in SimilaritySpec). Returns a
    * struct `(scale double, q array<int>)`. `floor(v + 0.5)` instead of
    * `round()`: its half-tie semantics are identical in every engine
    * (HALF_UP vs banker's rounding would flake the cross-engine oracle).
    * A zero vector quantizes to zeros with scale 0. Pure codegen'd
    * array arithmetic — no UDF, no shuffle. */
  /** Let-binding for the expression language: evaluate `bound` ONCE per
    * row and hand it to `body` as a lambda variable. Column expressions
    * have no `let`, so a sub-expression referenced inside a `transform`
    * lambda is otherwise re-evaluated PER ELEMENT — quantization's scale
    * (itself an O(d) array_max) inlined into the per-element lambda made
    * the whole row O(d²); the one-element-transform binding restores
    * O(d). */
  private def bindOnce(bound: Column, body: Column => Column): Column =
    element_at(transform(array(bound), body), 1)

  def quantizeInt8(vec: Column): Column =
    bindOnce(struct(vec.as("v"),
      array_max(transform(vec, x => abs(x))).as("s")), p =>
      struct(p.getField("s").as("scale"),
        transform(p.getField("v"), x =>
          when(p.getField("s") === 0.0, lit(0))
            .otherwise(floor(x / p.getField("s") * 127 + lit(0.5)).cast("int")))
          .as("q")))

  /** Inverse of [[quantizeInt8]]: `x_i ≈ q_i · scale / 127`. The input
    * struct is bound once per row, so composing `dequantize(quantize(v))`
    * evaluates the quantization once, not per element. */
  def dequantizeInt8(qs: Column): Column =
    bindOnce(qs, p =>
      transform(p.getField("q"),
        q => q.cast("double") * p.getField("scale") / 127))

  /** Exact top-k search over the int8-QUANTIZED corpus: the memory-bound
    * scale path — at 100 TB of fp32 embeddings the resident corpus drops
    * ~4× to int8 + one scale per vector, and search dequantizes ON THE FLY
    * inside the scan (a second fp copy of the corpus never materializes;
    * in a real deployment the corpus would be STORED quantized and this
    * is the only search shape available). Plan shape is exactly
    * [[bruteForceTopK]]'s: probes broadcast at full precision, corpus
    * never shuffles, one partitioned window for the top-k. Ranking runs
    * on the quantized similarity; recall vs the exact ranking is measured
    * in SimilaritySpec (≈1e-3 cosine error moves almost no top-5 ranks). */
  def quantizedTopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val qc = corpus.select(col("vec_id"),
      dequantizeInt8(quantizeInt8(asDouble(col("embedding")))).as("embedding"))
    bruteForceTopK(qc, probes, k)
  }

  /** Recall@k ACCURACY CONTRACT for an approximate ANN result against
    * the exact brute-force ranking, in ONE plan (the q41 pattern —
    * verdict r10 item 1): per probe, emit the exact k-th cosine (which
    * the DuckDB oracle recomputes bit-exactly) plus a 1/0 `recall_ok`
    * column, so a silent retrieval-quality collapse (bad hyperplanes,
    * too few probes, broken quantization) flips the column and
    * hash-FAILS the round — today's per-algorithm oracles (q32/q35/q56)
    * check determinism of the approximation, not its quality.
    *
    * A "hit" is an approximate neighbor whose EXACT cosine ≥ the exact
    * k-th similarity minus `simSlack`. Two deliberate choices:
    *  - ≥ kth-similarity instead of top-k set membership: the exact
    *    listing tie-breaks by neighbor id, so an approx neighbor TIED at
    *    the boundary is a true neighbor even when the id-tiebreak left
    *    it out of the exact top-k rows — membership recall would be
    *    tie-fragile across data regenerations.
    *  - the hit test uses the neighbor's exact cosine (re-attached by
    *    id from the same scored relation), not the approximate score —
    *    `quantizedTopK` ranks on the quantized similarity, and judging
    *    its hits on that value would entangle the recall contract with
    *    quantization error. `simSlack` (default 0) exists for exactly
    *    that face: a neighbor within quantization error of the boundary
    *    is not a recall failure.
    *
    * Two contract columns, both needed: `probe_ok` (per-probe hits ≥
    * ⌈minProbeRecall·k⌉ — catches a probe-local blind spot) and
    * `mean_ok` (Σhits ≥ minMeanRecall·k·n_probes, the same value on
    * every row — catches a broad degradation that leaves each probe
    * just above its floor). Floors are set from measured healthy/
    * degraded distributions with ≥2× margin on both sides (see
    * SimilaritySpec's degraded-config tests and the q75-q77 scaladoc).
    *
    * `approx` needs (`probe_id`, `neighbor_id`, `rank`) — any of
    * [[lshTopK]]/[[ivfTopK]]/[[quantizedTopK]]'s output works. Probes
    * with fewer than k corpus candidates drop out (no k-th similarity
    * exists); at every registered scale the corpus is ≫ k. */
  def recallContract(corpus: DataFrame, probes: DataFrame, approx: DataFrame,
                     k: Int, minProbeRecall: Double, minMeanRecall: Double,
                     simSlack: Double = 0.0): DataFrame = {
    val p = vecRows(probes).select(col("vec_id").as("probe_id"), asDouble(col("embedding")).as("pv"))
    val c = vecRows(corpus).select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
    // One exact scored relation serves both halves of the contract: the
    // k-th similarity (window) and the approx neighbors' exact cosines
    // (id join). Probes broadcast; the corpus never shuffles.
    val scored = c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(cosine(col("pv"), col("cv")), 6).as("exact_sim"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("exact_sim").desc, col("neighbor_id"))
    val kth = scored.withColumn("r", row_number().over(w))
      .filter(col("r") === k)
      .select(col("probe_id"), col("exact_sim").as("kth_sim"))
    val minHits = math.ceil(minProbeRecall * k).toLong
    val hits = approx.filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"))
      .join(scored, Seq("probe_id", "neighbor_id"))
      .join(kth, Seq("probe_id"))
      .filter(col("exact_sim") >= col("kth_sim") - lit(simSlack))
      .groupBy(col("probe_id")).agg(count(lit(1)).as("hits"))
    // Pinned (r19): perProbe is probe-count-sized, but it is consumed
    // TWICE (the contract output and the aggregate floor below), and its
    // derivation is the expensive half of the query — the full exact
    // corpus×probes scoring pass plus the caller's entire approx plan.
    // Unpinned, the second consumer re-ran everything AQE's stage reuse
    // didn't already dedup; pinned, the floor aggregates over a KB
    // checkpoint.
    val perProbe = graft.Pin.ser(kth.join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("kth_sim"),
        coalesce(col("hits"), lit(0L)).as("hits")))
    // The aggregate floor re-attaches as a broadcast single-row relation
    // (the TextAnalysis stats-attachment shape) — no global window.
    val tot = perProbe.agg(sum(col("hits")).as("tot_hits"),
      count(lit(1)).as("n_probes"))
    perProbe.crossJoin(broadcast(tot))
      .select(col("probe_id"), col("kth_sim"),
        (col("hits") >= minHits).cast("long").as("probe_ok"),
        (col("tot_hits") >= col("n_probes") * lit(k) * lit(minMeanRecall))
          .cast("long").as("mean_ok"))
  }

  /** Embedding near-dup at scale: bucket vectors on random-hyperplane
    * signatures in `tables` INDEPENDENT tables of `bits` sign bits each
    * (planes seeded `t*bits .. t*bits+bits-1`, the [[lshSignatures]]
    * family) and score cosine only within buckets — a pair is a
    * candidate iff it collides in ANY table (OR-of-ANDs, the
    * [[Dedup.minhashLsh]] / [[lshTopK]] shape). Exact duplicates always
    * collide in every table (recall 1.0 for them); for near-dups each
    * extra bit sharpens buckets and each extra table recovers recall
    * (p = 1-(1-m^bits)^tables for per-bit match rate m — measured in
    * PipelineSpec).
    *
    * SIZING RULE (the 100 TB knob, same spirit as the q73 bucket rule):
    * expected bucket occupancy is n/2^bits PER TABLE, and within-bucket
    * work is occupancy-quadratic, so `bits` must grow with the corpus —
    * bits ≈ log2(n / targetOccupancy) (e.g. n=10⁹, occupancy≈16 →
    * bits≈26), then spend tables to buy recall back. A FIXED `bits` at
    * growing n is quadratic in disguise: the original single 8-bit-table
    * face put 400k vectors into 256 buckets at sf10 — ~300M candidate
    * pairs, each carrying two dim-wide vectors into the confirm join,
    * which spilled until the disk filled and wedged the run. The
    * `maxCandidatePairs` guard turns exactly that mistake into a loud
    * refusal: one id-width aggregation estimates Σ c·(c-1)/2 over
    * buckets BEFORE any pair materializes (cost: one extra tiny job,
    * nothing vector-wide).
    *
    * The bucket self-join still exchanges ONLY (t, sig, id) — id-width
    * rows, never the dim-wide vectors; candidate pairs are dedup'd
    * across tables, then vectors re-attach by id for the exact-cosine
    * confirm. The scale path for [[cosinePairs]]. */
  def cosinePairsLsh(vectors: DataFrame, threshold: Double, bits: Int = 16,
                     tables: Int = 4, dim: Int = 64,
                     maxCandidatePairs: Long = 50000000L): DataFrame = {
    // Identical-VECTOR collapse (r19, Dedup.minhashLsh's collapse at the
    // embedding grain): exact duplicates collide in EVERY table, so a
    // K-copy replica class previously emitted C(K,2) candidates through
    // a tables× explosion and carried two dim-wide vectors per pair into
    // the confirm. Group on the double-cast vector itself (exact array
    // equality, no hash-collision risk), bucket ONE rep (min id) per
    // class, expand at the end: cross pairs inherit their reps' rounded
    // cosine verbatim (identical arrays ⇒ identical doubles), within
    // pairs score round(cos(e,e), 6) computed ONCE per class — the same
    // expression the member pair would have evaluated. Null embeddings
    // are excluded by vecRows (the module-wide contract); null ids could
    // never pass `id_a < id_b` pre-collapse, so they are dropped too.
    val v0 = vecRows(vectors)
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
    // grouped doubles as the rep-vector relation: one aggregation yields
    // class reps, sizes, AND the bucketing substrate — no second corpus
    // pass. Pinned: consumed by sigs, the confirm re-attach (×2), the
    // within scorer, and both estimate jobs.
    val grouped = graft.Pin.ser(
      Dedup.classReps(v0, "vec_id", "e", count(lit(1)).as("__k")))
    val members = Dedup.classMembers(v0, "vec_id", "e", grouped)
    val v = grouped.select(col("rep").as("vec_id"), col("e"))
    val sigs = graft.Pin.ser(v
      .withColumn("ts", explode(lshSignatures(col("e"), bits, tables, dim)))
      .select(col("ts.t").as("t"), col("ts.sig").as("sig"), col("vec_id")))
    // The guard still bounds MATERIALIZED pairs, in two parts: rep-level
    // bucket work (before the bucket self-join) and the expanded output
    // (within-class cliques + candidate cross products, before any
    // member pair exists). An identical-heavy corpus now passes the
    // first check by construction — collapse IS the fix — but a corpus
    // whose expansion is inherently quadratic (the pair CONTRACT, not
    // the plan) still refuses loudly; cluster-grain consumers belong on
    // cosineClusters.
    val est = CoreOps.bucketPairWork(sigs, Seq("t", "sig"))
    require(est <= maxCandidatePairs,
      s"cosinePairsLsh: ~$est within-bucket candidate pairs exceed " +
        s"maxCandidatePairs=$maxCandidatePairs — $bits bits is too coarse for this " +
        "corpus (occupancy is n/2^bits per table and pair work is occupancy-" +
        "quadratic); raise bits toward log2(n/targetOccupancy) and add tables " +
        "to recover recall, or raise maxCandidatePairs deliberately")
    val cands = graft.Pin.ser(
      CoreOps.bucketPairs(sigs, Seq("t", "sig"), "vec_id", "id_a", "id_b"))
    val k = grouped.select(col("rep"), col("__k"))
    val expEst = cands
      .join(k.select(col("rep").as("id_a"), col("__k").as("__ka")), Seq("id_a"))
      .join(k.select(col("rep").as("id_b"), col("__k").as("__kb")), Seq("id_b"))
      .agg(coalesce(sum((col("__ka") * col("__kb")).cast("long")), lit(0L)))
      .head().getLong(0)
    val withinEst = grouped
      .agg(coalesce(sum((col("__k") * (col("__k") - 1) / 2).cast("long")), lit(0L)))
      .head().getLong(0)
    require(expEst + withinEst <= maxCandidatePairs,
      s"cosinePairsLsh: the expanded pair OUTPUT (~$expEst cross + ~$withinEst " +
        s"within identical classes) exceeds maxCandidatePairs=$maxCandidatePairs — " +
        "the pair contract itself is quadratic in duplicate-cluster size; use " +
        "Similarity.cosineClusters for a cluster-grain (linear) answer, or raise " +
        "maxCandidatePairs deliberately")
    val repPairs = cands
      .join(v.select(col("vec_id").as("id_a"), col("e").as("va")), Seq("id_a"))
      .join(v.select(col("vec_id").as("id_b"), col("e").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    // multi-member classes whose self-cosine clears the threshold (any
    // real vector: ~1.0; a zero vector follows the same NaN semantics
    // the member pair would have) form within-class cliques
    val withinOk = grouped.filter(col("__k") >= 2)
      .select(col("rep"), round(cosine(col("e"), col("e")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    Dedup.expandRepPairs(repPairs, members, "vec_id", "id_a", "id_b", "cos_sim",
      Some((members.join(withinOk, Seq("rep")), members, col("cos_sim"))))
  }

  /** Embedding near-dup CLUSTERS at scale: the consumer face of the
    * [[cosinePairsLsh]] family for corpora where the pair LIST is
    * inherently quadratic — a k-member duplicate class contributes
    * k·(k-1)/2 pairs but only k cluster rows, so at the sf10 replica
    * corpus (~200-member classes) the pair face's explosion guard
    * rightly refuses while THIS face stays linear.
    *
    * Within each (table, signature) bucket, members sort by id and each
    * links to its next `linkWindow` successors (sorted-neighborhood
    * blocking, the record-linkage SNM idea): ≤ linkWindow·occupancy
    * candidate edges per table — linear in the corpus by construction,
    * so no explosion guard is needed. Edges confirm by exact cosine ≥
    * `threshold` (vectors re-attach by id; only id-width rows shuffle),
    * then [[Dedup.dedupClusters]] elects the minimum id per connected
    * component. Returns (vec_id, label); singletons are absent — their
    * own canonical by definition (the dedupClusters contract).
    *
    * Why a window and not bare consecutive links: a vector that is
    * SIMILAR to a replica class but below `threshold` collides with the
    * class in (nearly) EVERY table — similarity is exactly what the
    * signatures hash — so it interleaves into the class's id run
    * everywhere at once, and with window 1 both of its links fail the
    * confirm and split the chain in all tables simultaneously (caught
    * by the r12 spec). `linkWindow` = W bridges runs of up to W−1
    * interleaved sub-threshold neighbors; recall loss needs ≥W of them
    * CONSECUTIVE by id inside the class's bucket in every table. The
    * `bits` sizing rule on [[cosinePairsLsh]] still applies — here it
    * bounds the per-bucket sort partition, not pair count.
    */
  def cosineClusters(vectors: DataFrame, threshold: Double, bits: Int = 16,
                     tables: Int = 4, dim: Int = 64,
                     linkWindow: Int = 3): DataFrame = {
    require(linkWindow >= 1, s"linkWindow must be ≥1, got $linkWindow")
    // v is consumed 3× (signature derivation + both confirm re-attach
    // joins) — pin it once, exactly as cosinePairsLsh does. sigs has a
    // single consumer (the window), so it needs no pin here.
    val v = graft.Pin.ser(vecRows(vectors).select(col("vec_id"), asDouble(col("embedding")).as("e")))
    val sigs = v
      .withColumn("ts", explode(lshSignatures(col("e"), bits, tables, dim)))
      .select(col("ts.t").as("t"), col("ts.sig").as("sig"), col("vec_id"))
    val w = Window.partitionBy(col("t"), col("sig")).orderBy(col("vec_id"))
    // leads land as plain columns first — Spark refuses window functions
    // inside a generator's projection, and one window spec computes all
    // offsets in a single sort pass anyway.
    val withLeads = sigs.select(col("vec_id") +:
      (1 to linkWindow).map(j => lead(col("vec_id"), j).over(w).as(s"l$j")): _*)
    val edges = withLeads
      .withColumn("id_b",
        explode(array((1 to linkWindow).map(j => col(s"l$j")): _*)))
      .filter(col("id_b").isNotNull)
      // distinct across tables AND window offsets: replica classes
      // collide in EVERY table, and confirming the same edge
      // tables×linkWindow times would pay the cosine ~12× for nothing.
      .select(col("vec_id").as("id_a"), col("id_b")).distinct()
    val confirmed = edges
      .join(v.select(col("vec_id").as("id_a"), col("e").as("va")), Seq("id_a"))
      .join(v.select(col("vec_id").as("id_b"), col("e").as("vb")), Seq("id_b"))
      // round-then-compare mirrors cosinePairsLsh so the two faces agree
      // at the threshold boundary (and the DuckDB oracle with both).
      .filter(round(cosine(col("va"), col("vb")), 6) >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    Dedup.dedupClusters(confirmed)
      .select(col("doc_id").as("vec_id"), col("label"))
  }

  /** Embedding near-dup pairs: cosine ≥ threshold among all pairs
    * (doc_a < doc_b). Quadratic baseline; the LSH signature equi-join is
    * the scale path. Refuses corpora above `maxRows` (verdict r10 item
    * 5): called directly on a production corpus this would build the
    * full pair expansion — fail loudly at the gate instead; the scale
    * path is [[cosinePairsLsh]]. */
  def cosinePairs(vectorsIn: DataFrame, threshold: Double,
                  maxRows: Long = 100000L): DataFrame = {
    val vectors = vecRows(vectorsIn)
    val n = vectors.count()
    require(n <= maxRows,
      s"cosinePairs is a quadratic small-scale baseline: $n vectors > maxRows=$maxRows; " +
        "use Similarity.cosinePairsLsh at scale or raise maxRows deliberately")
    val a = vectors.select(col("vec_id").as("id_a"), asDouble(col("embedding")).as("va"))
    val b = vectors.select(col("vec_id").as("id_b"), asDouble(col("embedding")).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }
}
