package graft

import org.apache.spark.sql.SparkSession

/** The local session every main builds: `SPARK_GRAFT_CPUS` cores (4 when
  * unset) and as many shuffle partitions, UTC, no UI, log level WARN. */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // reads events.parquet's TIMESTAMP(NANOS) encoding as longs, which
      // Tables.events adapts by schema
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Static conf, default 100: the full registry generates far more
      // distinct codegen classes than that, so the class cache thrashes —
      // the r8 evidence run shows q49 Janino-recompiling 66 classes on
      // EVERY run (~1-2 s of its fixed cost, and the component that
      // amplifies under ambient CPU load, which is where r7's 10.8 s
      // remote vs 4.5 s local bench divergence lives). One registry run
      // compiles ~2k distinct classes; cache them all.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
