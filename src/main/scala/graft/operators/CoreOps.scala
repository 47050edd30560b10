package graft.operators

import graft.functions.ArrayMinus.array_minus
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational building blocks for the SURVEY.md §2 operator
  * inventory. Each is a thin, lazily-composed `DataFrame => DataFrame`
  * transform; no caching, no actions — callers own the plan. The one
  * exception is [[bucketPairWork]], a guard estimate that returns a
  * number.
  *
  * Scale notes (100 TB design point):
  *  - Per-group windows shuffle once on the partition keys; every helper
  *    takes explicit partition columns so the shuffle is on the caller's
  *    natural key (e.g. `date`), never a global single-partition window
  *    unless the group count is known-small.
  *  - `topKPerGroup` relies on Spark's rank-limit pushdown
  *    (`InferWindowGroupLimit`) so each partition keeps only K rows before
  *    the final filter — no full materialization of the sorted groups.
  */
object CoreOps {

  /** W2: per-group top-K by `order` (callers must make `order` a total
    * order — tiebreak on a unique key; the reference leans on Python's
    * stable sort at `equal_weight_index.py:43`, which a distributed engine
    * must replace with explicit determinism).
    * Adds column `rn` (1-based rank) and keeps rows with `rn <= k`.
    */
  def topKPerGroup(df: DataFrame, part: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(part: _*).orderBy(order: _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** W1: latest row per group — top-1 by `order` descending-most-recent.
    * `order` must again be total. */
  def latestPerGroup(df: DataFrame, part: Seq[Column], order: Seq[Column]): DataFrame =
    topKPerGroup(df, part, order, 1).drop("rn")

  /** S6/S7: last-write-wins upsert semantics of `INSERT OR REPLACE`
    * (`database_manager.py:39`): union old+new, keep the newest row per key
    * by `version` (descending total order). On a version TIE the incoming
    * row wins — `INSERT OR REPLACE` always replaces, so re-ingesting the
    * same version must surface the fresh row, deterministically.
    *
    * The union tolerates ADDITIVE schema evolution (`allowMissingColumns`):
    * an incoming batch with a new column back-fills null on surviving old
    * rows, and an old-writer batch missing a column surfaces null on its
    * replaced rows — exactly `INSERT OR REPLACE`'s whole-row-replace
    * semantics after an `ALTER TABLE ADD COLUMN`. */
  def upsertLastWins(existing: DataFrame, incoming: DataFrame,
                     keys: Seq[String], version: Seq[Column]): DataFrame = {
    // the merge machinery adds these two names; a caller relation that
    // already carries one would be silently overwritten and then dropped
    Seq("__incoming", "rn").foreach { reserved =>
      require(!existing.columns.contains(reserved) &&
        !incoming.columns.contains(reserved),
        s"upsertLastWins reserves column name '$reserved' for the merge " +
          "window; rename it in the input relation")
    }
    val unioned = existing.withColumn("__incoming", lit(0))
      .unionByName(incoming.withColumn("__incoming", lit(1)),
        allowMissingColumns = true)
    // trailing content-hash tiebreak: two incoming rows with the same key
    // AND version tie on (version, __incoming); without a total order
    // row_number picks a survivor per-execution and two runs of the same
    // upsert can persist different rows. Identical duplicates hash equal
    // and either survivor is the same row — still deterministic.
    val contentTiebreak = xxhash64(unioned.columns.toIndexedSeq.map(col): _*)
    latestPerGroup(unioned,
      keys.map(col), version.map(_.desc) :+ col("__incoming").desc
        :+ contentTiebreak.desc)
      .drop("__incoming")
  }

  /** W8: ratio of `value` to the sum of `value` over `part` (whole-frame
    * window; the pie-share at `dashboard.py:122-127`). */
  def ratioToTotal(df: DataFrame, part: Seq[Column], value: Column, as: String): DataFrame = {
    val w = Window.partitionBy(part: _*)
    df.withColumn(as, value / sum(value).over(w))
  }

  /** A3: order-preserving array agg — collect `payload` ordered by `rank`
    * (strict total order). Built-ins only (`sort_array` of structs keeps
    * codegen); returns an `array` column named `as`. */
  def orderedCollect(rank: Column, payload: Column): Column =
    transform(array_sort(collect_list(struct(rank.as("r"), payload.as("p")))),
      x => x.getField("p"))

  /** W6/W7 helper: day-over-day ordered diff columns. Input must have
    * one row per `order` unit with an array column `arr`; adds `prev`,
    * `added`, `removed`. The reference's list-comprehension diff
    * (`dashboard.py:180-181`) is order-preserving AND keeps duplicate
    * members; so is [[graft.functions.ArrayMinus]] (`array_minus`), one
    * hash set per row, O(|arr|+|prev|). A null member never matches: it
    * reads as added/removed while present rather than blanking the diff.
    * The first row per partition (prev null) has added = [] and
    * removed = null — the contract changeString renders as '-'. */
  def lagArrayDiff(df: DataFrame, part: Seq[Column], order: Seq[Column],
                   arr: Column): DataFrame = {
    // part = Nil is an explicit opt-in to a single-partition global window
    // — valid only when the row count is known-small (one row per date in
    // the reference's index series); at scale callers partition per
    // instrument/shard so the sort never concentrates on one task.
    val w = Window.partitionBy(part: _*).orderBy(order: _*)
    df.withColumn("prev", lag(arr, 1).over(w))
      // array_minus with a null right side returns its left side whole,
      // so the first row's empty `added` is spelled out: slice(arr, 1, 0)
      // is the empty array of arr's type (null when arr is null)
      .withColumn("added",
        when(col("prev").isNull, slice(arr, 1, 0))
          .otherwise(array_minus(arr, col("prev"))))
      .withColumn("removed", array_minus(col("prev"), arr))
  }

  /** W6: like [[lagArrayDiff]] but with SET semantics, for member sets
    * where only membership counts. `array_except` keeps one copy of each
    * surviving member and treats null as an ordinary member (a null in
    * both arrays is neither added nor removed), where [[lagArrayDiff]]
    * keeps every duplicate and always reports null members. On distinct,
    * null-free arrays the two coincide (asserted in CoreOpsSpec). */
  def lagSetDiff(df: DataFrame, part: Seq[Column], order: Seq[Column],
                 arr: Column): DataFrame = {
    val w = Window.partitionBy(part: _*).orderBy(order: _*)
    df.withColumn("prev", lag(arr, 1).over(w))
      // coalesce keeps first-row semantics identical to lagArrayDiff's:
      // added = [] (not null) when prev is null, removed stays null
      .withColumn("added", array_except(arr, coalesce(col("prev"), arr)))
      .withColumn("removed", array_except(col("prev"), arr))
  }

  /** W7 formatting: `+(A, B) , -(C)` or `-` when unchanged / first row
    * (`dashboard.py:182-188`). */
  def changeString(added: Column, removed: Column): Column =
    when(added.isNull || removed.isNull, lit("-"))
      .when(size(added) === 0 && size(removed) === 0, lit("-"))
      .otherwise(concat(lit("+("), array_join(added, ", "), lit(") , -("),
        array_join(removed, ", "), lit(")")))

  /** J4: bounded backward as-of lookup — latest row per `part` with
    * `ts <= probe` and `ts > probe - maxBack` (the 5-day holiday fallback
    * at `dashboard.py:328-343`). `order` must be a total order aligned
    * with recency. Pushed down as a plain range filter + top-1 window so
    * parquet min/max pruning applies before any shuffle.
    */
  def asOfBackward(df: DataFrame, part: Seq[Column], ts: Column,
                   probe: Column, maxBack: Column, order: Seq[Column]): DataFrame =
    latestPerGroup(df.filter(ts <= probe && ts > probe - maxBack), part, order)

  /** Skew-resilient exact sum: two-phase aggregation with a salt on the
    * hot key. Phase 1 spreads each group over `buckets` reducers (map-side
    * partials still apply); phase 2 merges the per-salt partials — the
    * standard fix when one key holds a disproportionate share of rows and
    * a single reducer would stall the stage. Result is identical to the
    * unsalted aggregation because the decimal partial sums are exact.
    *
    * The salt hashes the row's own (key, value) columns, never a stateful
    * expression like `monotonically_increasing_id()`: task retries /
    * speculative re-execution must map every row to the same bucket or
    * phase 1 can drop/duplicate rows (SPARK-23207-class hazard). Hashing
    * only the aggregation's inputs keeps the salt one cheap codegen'd
    * hash (wide rows' unrelated columns — comments, payloads — never
    * enter it); (key, value) duplicates collide into one bucket, which is
    * harmless because a high-cardinality measure spreads a hot key's rows
    * near-uniformly. */
  def saltedExactSum(df: DataFrame, keys: Seq[String], value: Column,
                     scale: Int, as: String, buckets: Int = 16): DataFrame = {
    // Integer-unit quantization for the same tie-stability reason as
    // [[exactSum]] (see its scaladoc); the partials stay exact decimals
    // so the two-level sum is order-insensitive.
    val f = math.pow(10, scale).toLong
    val salted = df.withColumn("__salt",
      pmod(hash(keys.map(col) :+ value: _*), lit(buckets)))
    salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(sum(round(value * f, 0)
        .cast(org.apache.spark.sql.types.DecimalType(30, 0))).as("__partial"))
      .groupBy(keys.map(col): _*)
      .agg((sum(col("__partial")).cast("double") / f).as(as))
  }

  /** Exact monetary sum: quantize a double expression to the 10^-scale
    * grid as INTEGER units (`round(e·10^scale)` → DECIMAL(30,0)), sum in
    * decimal (order-insensitive, bit-identical across partitionings),
    * then surface units/10^scale as a double.
    *
    * Why integer units instead of the previous `cast(e as DECIMAL(30,
    * scale))`: the per-row double→fractional-decimal cast ROUNDS when the
    * value carries more decimals than `scale`, and that rounding is
    * engine-dependent at ties — Spark rounds the double's shortest
    * decimal rendering ("1.215" → 1.22) where DuckDB rounds the binary
    * value (1.21499999999999986 → 1.21). The fixed testdata draw never
    * landed a row on such a boundary; the r13 reseeded draw
    * (value·(1+k/1000) — exact 5-decimal rationals) hit it on the first
    * try and failed q43/q59 by a cent. Round-to-INTEGER is the one
    * rounding both engines agree on for every double: a shortest
    * rendering ending in ".5" denotes a binary value that IS exactly
    * half (.5 is representable, rendering round-trips), and both engines
    * round half away from zero — so the same IEEE product e·10^scale
    * rounds identically everywhere. Exactness bound: |e|·10^scale must
    * stay below 2^53 (money at 4 dp: ~9·10^11 — far above any row
    * value; the SUM side is DECIMAL(30,0), good to 10^30 units). */
  def exactSum(e: Column, scale: Int = 4): Column = {
    val f = math.pow(10, scale).toLong
    sum(round(e * f, 0).cast(org.apache.spark.sql.types.DecimalType(30, 0)))
      .cast("double") / f
  }

  /** LSH candidate generation: the distinct id pairs `(a, b)`, `a < b`,
    * that share a bucket — the equi-join of `(keys, id)` with itself on
    * `keys`. Buckets are minhash `(band, sig)`, random-hyperplane
    * `(t, sig)` or a shared shingle `h`. Null ids never pair (`<` on a
    * null is null), and an id alone in its bucket pairs with nothing.
    * The exchange carries only key-and-id-width rows; the pair count is
    * Σ C(c,2) over bucket sizes c ([[bucketPairWork]]) before the
    * distinct, so callers with hub-shaped buckets guard on that first. */
  def bucketPairs(df: DataFrame, keys: Seq[String], id: String,
                  a: String = "doc_a", b: String = "doc_b"): DataFrame = {
    def side(as: String) = df.select(keys.map(col) :+ col(id).as(as): _*)
    side(a).join(side(b), keys).filter(col(a) < col(b))
      .select(a, b).distinct()
  }

  /** Σ C(c,2) over the sizes c of the `keys` buckets: the `a < b` pairs
    * [[bucketPairs]]' self-join yields before its distinct. Runs one
    * job; 0 on an empty input. */
  def bucketPairWork(df: DataFrame, keys: Seq[String]): Long =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum((col("c") * (col("c") - 1) / 2).cast("long")), lit(0L)))
      .head().getLong(0)
}
