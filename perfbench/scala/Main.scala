package perfbench

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up (session start, input generation
  * and a warm-up pass through the library), the timed closed loop for
  * `--seconds`, then the post-run checks. The
  * raw record (ops, spans, jobs, tasks, checks) goes to `--out` as JSON;
  * `run.py` turns it into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --root DIR --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val root = opts("root")
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val rec = new Recorder(spark, traced)
    val w: Workload = workload match {
      case "marketviz_backfill" => new MarketvizBackfill(spark, rec, root, seed)
      case "curation_batch" => new CurationBatch(spark, rec, root, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timed(body: => Unit): Double = {
      val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e9
    }
    var error: Option[String] = None
    var (genS, warmupS, setupS) = (0.0, 0.0, 0.0)
    var loop = (0.0, 0.0)
    var facts = Seq.empty[(String, Any)]
    var start = 0L
    try {
      genS = timed(w.setup())
      warmupS = timed(w.warmup())
      rec.window(open = true)
      start = System.nanoTime()
      setupS = (start - t0) / 1e9
      val deadline = start + (seconds * 1e9).toLong
      var i = 0
      while (System.nanoTime() < deadline) { w.step(i); i += 1 }
      loop = (rec.ms(start), rec.ms(System.nanoTime()))
      rec.window(open = false)
      facts = w.finish()
    } catch {
      case NonFatal(e) =>
        error = Some(s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        // An op failed inside the timed window: keep the window's ops.
        if (start != 0L && loop == ((0.0, 0.0))) loop = (rec.ms(start), rec.ms(System.nanoTime()))
    }
    val storeBytes = w.stores.map(Workload.dirBytes).sum
    val record = Seq(
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "cpus" -> cpus,
      "session_s" -> sessionS, "gen_s" -> genS, "warmup_s" -> warmupS, "setup_s" -> setupS,
      "loop_t0" -> loop._1, "loop_t1" -> loop._2,
      "delivered_bytes" -> w.delivered, "store_bytes" -> storeBytes,
      "store_files" -> w.stores.map(Workload.dataFiles).sum,
      "checks" -> w.checks, "error" -> error) ++ facts ++ rec.toJson
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    val pw = new java.io.PrintWriter(opts("out"), "UTF-8")
    try pw.write(json.writeValueAsString(ListMap(record: _*))) finally pw.close()
    spark.stop()
    if (error.isDefined) sys.exit(1)
  }
}
