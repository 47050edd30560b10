package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the harness-generated testdata tables (TESTDATA.md).
  * One parquet file per table under `sfDir`. Kept as plain lazy scans so
  * Catalyst can push filters/projections into the parquet source — callers
  * must NOT cache DATA here; each query declares its own plan.
  *
  * The RELATION (schema + file index) is memoized per (session, dir,
  * table): `spark.read.parquet` performs a driver-side listing + footer
  * read per call, which across a 40-query bench re-lists the same
  * immutable snapshot dozens of times. Valid precisely because the
  * testdata is an immutable snapshot — mutable stores
  * (KeyedParquetStore) never read through this object. */
object Tables {
  // Weak-keyed on the session OBJECT for identity semantics: no
  // cross-session hash collisions handing out DataFrames bound to a
  // stopped session. NOTE the weak key does NOT make entries collectable:
  // each cached DataFrame strongly references its SparkSession, and
  // WeakHashMap's documented value→key caveat means a value that reaches
  // its own key pins the entry forever. The map is bounded by the number
  // of sessions a process ever builds (a handful in tests, one in
  // production), so the retention is small and stable; `invalidate`
  // exists for teardown code that wants the entry gone deterministically.
  private val relations = new java.util.WeakHashMap[
    SparkSession, scala.collection.concurrent.TrieMap[(String, String), DataFrame]]()

  /** Drop a session's memoized relations (e.g. from test teardown). */
  def invalidate(spark: SparkSession): Unit =
    relations.synchronized { relations.remove(spark); () }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = relations.synchronized {
      var m = relations.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
        relations.put(spark, m)
      }
      m
    }
    perSession.getOrElseUpdate((dir, name), spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Every testdata table, in TESTDATA.md order. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  /** `events.parquet` — schema-ADAPTIVE on the physical encoding of `ts`,
    * because the driver owns the testdata and has shipped it both as
    * TIMESTAMP(NANOS) (r≤8) and TIMESTAMP_MICROS (r9+); TESTDATA.md says
    * read-only, not frozen-encoding, so a reader pinned to one encoding
    * breaks every events consumer on regeneration (r9: 7 queries, 8
    * tests, one analysis error each). Branches:
    *   - LongType: the nanos-as-long read of a NANOS column (requires
    *     `spark.sql.legacy.parquet.nanosAsLong=true` at session build to
    *     even surface) → truncate to a micros TimestampType. Orderings
    *     keep `event_id` tiebreaks, so sub-microsecond truncation never
    *     changes results.
    *   - TimestampNTZType: a no-tz micros column (Spark infers NTZ by
    *     default) → cast to session-TZ TimestampType. Every session in
    *     this engine runs UTC, so wall-clock == instant and the values
    *     match both the old nanos path and the oracle's naive read.
    *   - TimestampType: use as-is.
    * Always surfaces TimestampType `ts` — downstream interval/window
    * arithmetic (q07/q43/q59/q68/q70) is encoding-agnostic. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // The illegal-parquet-type failure surfaces as SparkException or
    // AnalysisException depending on which inference path trips first, so
    // match on the NANOS message across any non-fatal throwable — the
    // remediation hint must survive regardless of exception class.
    val raw =
      try t(s, d, "events")
      catch { case scala.util.control.NonFatal(e)
          if String.valueOf(e.getMessage).contains("NANOS") =>
        throw new IllegalStateException(
          s"$d/events.parquet stores TIMESTAMP(NANOS); set " +
            "spark.sql.legacy.parquet.nanosAsLong=true at session build " +
            "so Tables.events can read it as nanos-since-epoch longs", e)
      }
    raw.schema("ts").dataType match {
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case other => throw new IllegalStateException(
        s"$d/events.parquet: unsupported physical type for ts: $other " +
          "(expected TIMESTAMP, TIMESTAMP_NTZ, or nanos-as-long BIGINT)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Input-drift preflight (verdict r9 item 5): check every testdata
    * table's column NAMES and type FAMILIES in one pass and fail with a
    * single message naming each offending table/column — not 7 scattered
    * analysis exceptions deep inside whichever queries happen to touch
    * the drifted column. Families (not exact physical types) because the
    * driver legitimately re-encodes on regeneration (events.ts:
    * NANOS→MICROS in r9; dates as DATE vs TIMESTAMP_MICROS) and readers
    * here adapt — the preflight flags what the readers CANNOT absorb:
    * missing/renamed columns or a cross-family swap (e.g. string where a
    * number was). Extra columns are tolerated (projection prunes them). */
  def verifySchemas(s: SparkSession, d: String): Unit = {
    import org.apache.spark.sql.types._
    // family predicates: what the engine's readers/queries can absorb
    val num: DataType => Boolean = {
      case _: NumericType => true; case _ => false }
    val str: DataType => Boolean = _.isInstanceOf[StringType]
    val time: DataType => Boolean = {  // events.ts encodings (see events())
      case TimestampType | TimestampNTZType | LongType => true; case _ => false }
    val date: DataType => Boolean = {  // calendar column: date or timestamp
      case DateType | TimestampType | TimestampNTZType => true; case _ => false }
    val vec: DataType => Boolean = {
      case ArrayType(et, _) => num(et); case _ => false }
    val expected: Seq[(String, Seq[(String, DataType => Boolean)])] = Seq(
      "region" -> Seq("r_regionkey" -> num, "r_name" -> str),
      "nation" -> Seq("n_nationkey" -> num, "n_name" -> str, "n_regionkey" -> num),
      "customer" -> Seq("c_custkey" -> num, "c_name" -> str,
        "c_nationkey" -> num, "c_acctbal" -> num, "c_mktsegment" -> str),
      "supplier" -> Seq("s_suppkey" -> num, "s_name" -> str,
        "s_nationkey" -> num, "s_acctbal" -> num),
      "part" -> Seq("p_partkey" -> num, "p_name" -> str, "p_brand" -> str,
        "p_type" -> str, "p_size" -> num, "p_retailprice" -> num),
      "orders" -> Seq("o_orderkey" -> num, "o_custkey" -> num,
        "o_orderstatus" -> str, "o_totalprice" -> num,
        "o_orderdate" -> date, "o_orderpriority" -> str),
      "lineitem" -> Seq("l_orderkey" -> num, "l_partkey" -> num,
        "l_suppkey" -> num, "l_linenumber" -> num, "l_quantity" -> num,
        "l_extendedprice" -> num, "l_discount" -> num, "l_tax" -> num,
        "l_returnflag" -> str, "l_linestatus" -> str, "l_shipdate" -> date),
      "events" -> Seq("event_id" -> num, "ts" -> time, "user_id" -> num,
        "event_type" -> str, "value" -> num, "props" -> str),
      "documents" -> Seq("doc_id" -> num, "text" -> str, "lang" -> str,
        "source" -> str, "n_chars" -> num),
      "embeddings" -> Seq("vec_id" -> num, "embedding" -> vec, "label" -> num))
    val problems = expected.flatMap { case (table, cols) =>
      val schema =
        try Right(t(s, d, table).schema)
        catch { case scala.util.control.NonFatal(e) =>
          Left(s"$table: unreadable (${e.getClass.getSimpleName}: ${e.getMessage})") }
      schema match {
        case Left(p) => Seq(p)
        case Right(sch) =>
          val byName = sch.fields.map(f => f.name -> f.dataType).toMap
          cols.flatMap { case (c, ok) =>
            byName.get(c) match {
              case None => Some(s"$table.$c: MISSING (have: ${sch.fieldNames.mkString(", ")})")
              case Some(dt) if !ok(dt) => Some(s"$table.$c: unsupported type $dt")
              case _ => None
            }
          }
      }
    }
    if (problems.nonEmpty) throw new IllegalStateException(
      s"testdata schema drift under $d —\n  ${problems.mkString("\n  ")}")
  }
}
