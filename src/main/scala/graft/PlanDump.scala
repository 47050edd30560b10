package graft

/** Dev utility: print a registry query's physical plan —
  * `explain("formatted")` by default, or any Spark explain mode given
  * as the third arg (`simple`, `extended`, `codegen`, `cost`,
  * `formatted`). The plan-audit companion to [[JobProbe]] (which
  * counts scheduler jobs): this is where scan pruning
  * (ReadSchema/PushedFilters), exchange placement, WholeStageCodegen
  * spans, and repeated-subplan passes are read off, e.g. counting how
  * many corpus-wide projections carry a tokenizer (`split(text`)
  * to verify a pipeline face's one-tokenization-pass claim.
  *
  * Usage: `runMain graft.PlanDump <sfDir> <queryName> [mode]` —
  * session config mirrors Bench.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: graft.PlanDump <sfDir> <queryName> [mode]")
    val (sfDir, qName) = (args(0), args(1))
    val mode = if (args.length == 3) args(2) else "formatted"
    val spark = Session.local()
    val fn = SparkEntry.queries.getOrElse(qName, sys.error(s"unknown query: $qName"))
    // NOTE: queries whose builder runs eager stages (Pin.ser, stateful
    // ingests) execute those while BUILDING the frame; the printed plan
    // is the final consumer plan, with pinned relations appearing as
    // in-memory scans rather than their producing subplans.
    fn(spark, sfDir).explain(mode)
    spark.stop()
  }
}
