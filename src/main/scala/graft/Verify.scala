package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Exactly two args, checked loudly: extra args used to die as an
    // opaque MatchError BEFORE any dump, which left a previous run's
    // parquet in outDir for check.py to silently re-verify as if fresh
    // (bitten in r9 — a "targeted" re-verification of changed code
    // actually compared the unchanged binaries' stale output). Query
    // filtering belongs to check.py, which takes names as extra args.
    require(args.length == 2,
      s"usage: graft.Verify <sfDir> <outDir> (got ${args.length} args: " +
        s"${args.mkString(" ")}) — to check a subset, pass query names " +
        "to tools/check.py instead; Verify always dumps the full registry")
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    // One loud schema-drift message up front beats N analysis errors
    // scattered through the registry dump (r9: regenerated events.parquet
    // silently failed 7 queries one at a time). DIAGNOSE, don't abort:
    // aborting here would zero the WHOLE dump over one drifted column,
    // when every query not touching it would still verify green.
    try Tables.verifySchemas(spark, sfDir)
    catch { case e: IllegalStateException =>
      System.err.println(s"[verify] SCHEMA PREFLIGHT FAILED — expect " +
        s"failures in queries touching these columns:\n${e.getMessage}")
    }
    new java.io.File(outDir).mkdirs()
    // repartition(1), NOT coalesce(1): coalesce is a narrow dependency,
    // so it propagates the 1-partition constraint INTO the final
    // computation stage — a query ending in a sort-merge join or global
    // window then executes single-threaded over the whole input
    // (measured: one sf10 dump task spilling a single-threaded SMJ for
    // 20+ minutes). repartition inserts an exchange after the result is
    // computed at full parallelism; only the KB-to-MB result rows cross
    // it to form the single output file check.py expects.
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleSql(outDir, SparkEntry.oracleSql.keySet)
    spark.stop()
  }

  /** Dump `oracleSql` (restricted to `names`) as `outDir/oracle_sql.json`
    * for tools/check.py. Shared with [[DumpSome]] so a diagnostic subset
    * dump is also check.py-runnable. JSON string escape covers backslash,
    * quote, and ALL control chars (<0x20) — a tab or CR in
    * builder-authored SQL would otherwise make the driver's json.load
    * fail and silently zero the round's correctness. */
  private[graft] def writeOracleSql(outDir: String, names: Set[String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.view.filterKeys(names)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
