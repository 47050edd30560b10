package graft

/** DIAGNOSTIC subset dump — NOT the correctness gate. [[Verify]] refuses
  * query filters by design (a partial dump next to stale parquet verifies
  * the wrong binaries — bitten in r9); this main exists for the opposite
  * situation: isolating ONE misbehaving query at a big scale factor with
  * full logs, where re-running the whole registry to reach it costs half
  * an hour per attempt. It writes to the SAME layout check.py expects,
  * so point it at a THROWAWAY outDir, never at a dir the gate will read.
  *
  * Usage: `runMain graft.DumpSome <sfDir> <outDir> <query> [query ...]`
  */
object DumpSome {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: graft.DumpSome <sfDir> <outDir> <query> [query ...]")
    val Array(sfDir, outDir) = args.take(2)
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val t0 = System.nanoTime()
      System.err.println(s"[dumpsome] $name starting")
      try {
        SparkEntry.queries(name)(spark, sfDir).repartition(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(f"[dumpsome] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        System.err.println(s"[dumpsome] $name FAILED: ${e.getMessage}")
      }
    }
    // check.py unconditionally json.loads outDir/oracle_sql.json — emit
    // it filtered to the dumped queries so a subset dump is checkable.
    Verify.writeOracleSql(outDir, names.toSet)
    spark.stop()
  }
}
