package graft

import org.apache.spark.scheduler._

/** Per-job scheduler diagnostic for one registry query: run it once
  * and print one ORDERED line per Spark job — index, task count, and
  * the job's callsite (its final stage's name) — plus a grouped
  * callsite summary. Separates "the plan is heavy" from "the query is
  * many small actions", and when the bench sidecar's job COUNT shifts
  * between two data scales (e.g. q49's 47 jobs at sf0.1 vs 49 at the
  * 10× scaling-evidence corpus) an output diff names WHICH jobs
  * appeared and where in the sequence — evidence, not inference.
  *
  * Usage: `runMain graft.JobProbe <sfDir> <queryName>`; config mirrors
  * Bench exactly (same master/partitions/codegen cache), and Bench's
  * table warm-up runs first so session-scoped one-offs (catalog
  * listing, first codegen) don't appear as probe jobs. Absolute totals
  * can still sit one above the bench sidecar's (the probe counts job
  * STARTS for the whole action; the sidecar counts job ENDS inside the
  * timed window, which an async cleanup job can outlive) — DIFFS
  * between two probe runs are the comparable quantity.
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.JobProbe <sfDir> <queryName>")
    val Array(sfDir, qName) = args
    val spark = Session.local()
    val fn = SparkEntry.queries.getOrElse(qName,
      sys.error(s"unknown query: $qName"))

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
        val nTasks = e.stageInfos.map(_.numTasks).sum
        jobs.put(e.jobId, (site, nTasks))
        ()
      }
    })
    // Warm-up mirrors Bench exactly (noop write over every input table):
    // the catalog's first file-listing jobs belong to the session, not
    // the probed query, and without this the probe counts one job more
    // than the bench sidecar's runs do.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.format("noop").mode("overwrite").save()
    }
    Thread.sleep(1000); jobs.clear()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    Thread.sleep(2000) // listener bus is async; let the last events drain
    import scala.jdk.CollectionConverters._
    val ordered = jobs.asScala.toSeq.sortBy(_._1)
    ordered.zipWithIndex.foreach {
      case ((_, (site, n)), i) => println(f"job $i%3d tasks $n%4d  $site")
    }
    ordered.groupBy(_._2._1).toSeq.sortBy(-_._2.size).foreach {
      case (site, js) => println(s"site ${js.size}x  $site")
    }
    println(s"total jobs: ${jobs.size}")
    spark.stop()
  }
}
