package graft

import org.apache.spark.sql.catalyst.expressions.{ArrayContains, ArrayFilter}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/** Whole-registry physical-plan regression gate: every registered query
  * must plan (catches registration/typo breakage before the driver
  * does), and the two scale-killer shapes are only allowed where
  * explicitly sanctioned:
  *
  *  - `CartesianProductExec` — an unbounded all-pairs materialization;
  *    the labeled quadratic baselines are bounded by construction and
  *    broadcast-NLJ at test scale, so NO query may plan a cartesian.
  *  - `WindowExec` with an empty partition spec — a single-partition
  *    global window. Sanctioned only for date-grain relations whose
  *    cardinality is calendar-bounded, not data-bounded (documented at
  *    `CoreOps.lagArrayDiff`), and for the day-grain daily series the
  *    stat/return queries aggregate first.
  *  - `ArrayFilter` whose lambda holds an `ArrayContains` — the
  *    interpreted O(|a|·|b|) per-row array diff; `array_minus` (or
  *    `array_except` for sets) is the linear replacement, so NO query may
  *    plan it.
  *
  * AQE is disabled for the audit so the physical tree is concrete
  * (AdaptiveSparkPlanExec hides its input plan from collect).
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Day-grain global windows over calendar-bounded aggregates — the
    * exact set the r3 driver bench's WindowExec warnings came from
    * (ROUNDLOG round 3/4): lag/first-value over a per-day series whose
    * row count is bounded by the calendar, not the data. This list is
    * MINIMAL: the audit fails if any other query ever plans one. */
  private val sanctionedGlobalWindow: Set[String] = Set(
    "q03_daily_returns",    // lag + first-value over the daily total series
    "q05_set_change_dates", // lag over per-day composition arrays
    "q06_composition_diff", // same relation, diff formatting
    "q38_stat_tiles",       // latest/prev over the daily series
    "q45_changes_export")   // reversed-frame diff over per-day arrays

  test("every query plans; cartesians and global windows only where sanctioned") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.executedPlan
        if (plan.collect { case c: CartesianProductExec => c }.nonEmpty)
          offenders += s"$name: CartesianProduct"
        if (plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }.nonEmpty && !sanctionedGlobalWindow(name))
          offenders += s"$name: unsanctioned global Window"
        if (plan.collectWithSubqueries { case p => p.expressions }.flatten.exists(_.exists {
          case f: ArrayFilter => f.function.exists(_.isInstanceOf[ArrayContains])
          case _ => false
        }))
          offenders += s"$name: filter(array_contains) lambda diff"
      }
      assert(offenders.isEmpty, "\n" + offenders.mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q100_soft_dedup plans NO Window at all — counts must come from " +
      "the aggregate-then-join shape (r18)") {
    // The r17 formulation's count().over(partitionBy(content_hash))
    // passed the global-window audit (non-empty partition spec) while
    // serializing every copy of a hot boilerplate text onto ONE task —
    // the exact corpus soft dedup exists for. The fix is shape-level,
    // so the gate is shape-level: no WindowExec of any kind in q100.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("q100_soft_dedup")(spark, dir)
        .queryExecution.executedPlan
      assert(plan.collect { case w: WindowExec => w }.isEmpty,
        "q100 planned a WindowExec — a data-cardinality-keyed window " +
          "is a hot-key straggler on boilerplate-heavy corpora")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private val mainRoot = new java.io.File("src/main/scala")

  /** Every `.scala` file under `root`. */
  private def sources(root: java.io.File): Seq[java.io.File] = {
    assert(root.isDirectory, s"source tree not found at ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).filter(_.getName.endsWith(".scala"))
  }

  /** `path:line` of every line in `files` that contains one of `calls`. */
  private def callSites(files: Seq[java.io.File], calls: Seq[String]): Seq[String] =
    files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if calls.exists(line.contains) => s"${f.getPath}:${i + 1}"
      }.toList
      finally src.close()
    }

  test("localCheckpoint is called only in Pin.scala: Pin.ser owns the pin decision") {
    // Storage level and checkpoint-over-cache are decided once, in
    // graft.Pin; a hand-written localCheckpoint elsewhere is a copy of
    // that decision that can drift from it.
    val pin = new java.io.File(mainRoot, "graft/Pin.scala").getCanonicalFile
    val all = sources(mainRoot)
    assert(all.exists(_.getCanonicalFile == pin), s"$pin not found")
    val offenders = callSites(all.filter(_.getCanonicalFile != pin), Seq("localCheckpoint("))
    assert(offenders.isEmpty,
      "call graft.Pin.ser instead of localCheckpoint:\n" + offenders.mkString("\n"))
  }

  test("no query builds its own per-date top-K: the paper's index lives in IndexCalculator") {
    // The registry's index faces are role adapters over graft.marketviz;
    // a topKPerGroup + orderedCollect in a query is a second copy of
    // IndexCalculator.computeIndex that the benchmark never times.
    val queries = sources(new java.io.File(mainRoot, "graft/queries"))
    val offenders = callSites(queries, Seq("topKPerGroup(", "orderedCollect("))
    assert(offenders.isEmpty,
      "call graft.marketviz.IndexCalculator.computeIndex instead:\n" + offenders.mkString("\n"))
  }

  test("no query writes its own composition diff: the dashboard diffs live in Analytics") {
    // The dashboard's change strings are columns of graft.marketviz.Analytics;
    // a lagArrayDiff or changeString in a query is a second copy of one of
    // them that the benchmark never times.
    val queries = sources(new java.io.File(mainRoot, "graft/queries"))
    val offenders = callSites(queries, Seq("lagArrayDiff(", "changeString("))
    assert(offenders.isEmpty,
      "project graft.marketviz.Analytics' change columns instead:\n" + offenders.mkString("\n"))
  }

  test("KeyedParquetStore locks and opens write planning in one place; " +
      "src/main reads no spark.graft.store key but debugChecks") {
    // KeyedParquetStore's commit protocol (writer lock → write planning →
    // heal → stage → ownership re-check → swap) lives in one helper; a
    // second lock or planning site in Sources.scala is a re-forked copy
    // of it that can drift. The store's settings are constants, apart
    // from the debugChecks verification gate.
    val store = new java.io.File(mainRoot, "graft/sources/Sources.scala")
    val forks = Seq("acquireLock(", "withWritePlanning(").flatMap { call =>
      val defs = callSites(Seq(store), Seq(s"def $call"))
      val uses = callSites(Seq(store), Seq(call)).filterNot(defs.contains)
      if (uses.length > 1) Seq(s"$call called from ${uses.length} places:\n" + uses.mkString("\n"))
      else Nil
    }
    val key = """spark\.graft\.store\.[A-Za-z0-9_]+""".r
    val options = sources(mainRoot).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.flatMap { case (line, i) =>
        key.findAllIn(line).filter(_ != "spark.graft.store.debugChecks")
          .map(k => s"${f.getPath}:${i + 1}: $k")
      }.toList
      finally src.close()
    }
    assert(forks.isEmpty && options.isEmpty, "\n" + (forks ++ options).mkString("\n"))
  }

  test("the incremental ingests share one delivery guard, and the two near-dup " +
      "index modules write through the shared NearDupIndex protocol only") {
    // The within-batch duplicate refusal is written once (DeliveryGuard);
    // a second copy of its message is a re-forked guard that can drift.
    // IncrementalDedup/IncrementalEmbedDedup supply their family's
    // signing and confirms; a store write, delete or write-planning
    // window in either is a re-forked copy of the shared protocol.
    val phrase = "more than once within batch"
    val guards = callSites(sources(mainRoot), Seq(phrase))
      .map(_.split(':').head).distinct
    val modules = Seq("IncrementalDedup.scala", "IncrementalEmbedDedup.scala")
      .map(f => new java.io.File(mainRoot, s"graft/pipeline/$f"))
    modules.foreach(f => assert(f.isFile, s"$f not found"))
    val writes = callSites(modules,
      Seq("KeyedParquetStore.upsert(", "deleteMatching(", "withWritePlanning("))
    assert(guards.length <= 1 && writes.isEmpty,
      s"\n'$phrase' in ${guards.length} files:\n" + guards.mkString("\n") +
        "\nstore calls in the near-dup index modules:\n" + writes.mkString("\n"))
  }

  test("the '#' composite key is built only by Sampling.compositeKey, and the " +
      "span family's containment decision and segmentation have one call site each") {
    // The fixed-grain span family (segment/span dedup, chunk-grain
    // decontamination with bridge windows) writes each step once in
    // Dedup. A hand-written '#' key outside compositeKey's file, or a
    // second contaminatedSpans/segments call, is a re-forked copy of
    // one of those steps that can drift from it.
    val all = sources(mainRoot)
    val keyHome = all.filter(f => callSites(Seq(f), Seq("def compositeKey(")).nonEmpty)
    assert(keyHome.length == 1, s"compositeKey defined in ${keyHome.length} files")
    val keys = callSites(all.filterNot(keyHome.contains), Seq("lit(\"#\")"))
    val forks = Seq("contaminatedSpans(", "TextAnalysis.segments(").flatMap { call =>
      val defs = callSites(all, Seq(s"def $call"))
      val uses = callSites(all, Seq(call)).filterNot(defs.contains)
      if (uses.length > 1) Seq(s"$call called from ${uses.length} places:\n" + uses.mkString("\n"))
      else Nil
    }
    assert(keys.isEmpty && forks.isEmpty,
      "\nlit(\"#\") outside Sampling.compositeKey:\n" + keys.mkString("\n") +
        "\n" + forks.mkString("\n"))
  }
}
