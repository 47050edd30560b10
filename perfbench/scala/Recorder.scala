package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Process-wide counters sampled at every span and op boundary. */
final case class Counters(ns: Long, cpuNs: Long, compiles: Long, gcMs: Long,
                          fsWritten: Long, fsWriteOps: Long, fsRead: Long)

object Counters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def now(): Counters = {
    @annotation.nowarn("cat=deprecation")
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Counters(System.nanoTime(), os.getProcessCpuTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      fs.map(_.getBytesWritten).sum, fs.map(_.getWriteOps.toLong).sum,
      fs.map(_.getBytesRead).sum)
  }
}

final class Span(val id: Int, val parent: Int, val name: String, val start: Counters) {
  var end: Counters = start
}

/** One timed operation of the closed loop: a whole pass ("cycle") or one
  * read. */
final case class Op(kind: String, start: Counters, end: Counters, ok: Boolean)

/** Attributes Spark jobs, and through them tasks, to the span that was
  * open on the submitting thread: the span id travels as a job-local
  * property, so the attribution happens outside the library. */
final case class TaskRec(job: Int, launch: Long, finish: Long, shuffleWrite: Long,
                         spill: Long, input: Long, output: Long)

final class JobListener extends SparkListener {
  val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val seenBlocks = ConcurrentHashMap.newKeySet[String]()
  @volatile var rddBlocks = 0L
  @volatile var rddBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.Key)))
      .map(_.toInt).getOrElse(-1)
    jobSpan.put(e.jobId, sp)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    val m = e.taskMetrics
    if (ti != null) tasks.add(TaskRec(stageJob.getOrDefault(e.stageId, -1),
      ti.launchTime, ti.finishTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.outputMetrics.bytesWritten))
  }

  /** Blocks are counted only while the timed window is open. */
  @volatile var counting = false

  // RDD blocks are what Pin.ser (localCheckpoint) materializes.
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (counting && b.blockId.isRDD && b.storageLevel.isValid && seenBlocks.add(b.blockId.name)) {
      rddBlocks += 1
      rddBytes += b.memSize + b.diskSize
    }
  }
}

object Recorder { val Key = "perfbench.span" }

/** The heap in use right after each collection while `watch` is on, from
  * the JVM's GC notifications: no collection is forced, so the samples see
  * what a pass holds while it runs (pinned blocks, broadcasts, buffers). */
final class HeapWatch {
  @volatile private var on = false
  /** (System.nanoTime at the notification, heap MB after the collection). */
  val samples = new ConcurrentLinkedQueue[(Long, Double)]()
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        samples.add((System.nanoTime(), used / 1048576.0))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def watch(enabled: Boolean): Unit = on = enabled
}

/** Spans and ops kept in memory and written once when the run ends. With
  * `traced` off, `span` is a plain call and no listener is attached; ops
  * are timed either way. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val nano0: Long = System.nanoTime()
  val epochMs0: Long = System.currentTimeMillis()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  private var stack = List.empty[Span]
  val heap = new HeapWatch
  val listener: Option[JobListener] =
    if (traced) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, Counters.now())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Recorder.Key, s.id.toString)
      try body
      finally {
        s.end = Counters.now()
        stack = stack.tail
        sc.setLocalProperty(Recorder.Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Opens or closes the timed window: the heap watch and the Pin block
    * counts cover only what happens inside it. The listener bus is
    * drained first, so blocks made before the switch land on its side. */
  def window(open: Boolean): Unit = {
    listener.foreach { l =>
      org.apache.spark.GraftSparkInternals.drainListenerBus(sc, 30000L)
      l.counting = open
    }
    heap.watch(open)
  }

  /** A lazy library face: in a traced run its output is materialized
    * inside its own span, so the work it plans is charged to it rather
    * than to whichever action consumes it downstream. */
  def face(name: String)(df: => DataFrame): DataFrame =
    if (!traced) df else span(name)(graft.Pin.ser(df))

  /** Time one op. */
  def op[T](kind: String)(body: => T): T = {
    val c0 = Counters.now()
    val r =
      try span(s"op.$kind")(body)
      catch { case NonFatal(e) => ops += Op(kind, c0, Counters.now(), ok = false); throw e }
    ops += Op(kind, c0, Counters.now(), ok = true)
    r
  }

  def ms(ns: Long): Double = (ns - nano0) / 1e6

  private def counters(c0: Counters, c1: Counters): Seq[(String, Any)] = Seq(
    "t0" -> ms(c0.ns), "t1" -> ms(c1.ns), "cpu_ms" -> (c1.cpuNs - c0.cpuNs) / 1e6,
    "compiles" -> (c1.compiles - c0.compiles), "gc_ms" -> (c1.gcMs - c0.gcMs),
    "fs_written" -> (c1.fsWritten - c0.fsWritten),
    "fs_write_ops" -> (c1.fsWriteOps - c0.fsWriteOps),
    "fs_read" -> (c1.fsRead - c0.fsRead))

  def toJson: Seq[(String, Any)] = {
    listener.foreach(_ => org.apache.spark.GraftSparkInternals.drainListenerBus(sc, 30000L))
    Seq(
      "ops" -> ops.map(o => ListMap("kind" -> o.kind, "ok" -> o.ok) ++ counters(o.start, o.end)),
      "spans" -> spans.map(s => ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name) ++
        counters(s.start, s.end)),
      "jobs" -> listener.map(_.jobSpan.asScala.toSeq.sortBy(_._1)
        .map { case (j, sp) => ListMap("job" -> j, "span" -> sp) }).getOrElse(Nil),
      "tasks" -> listener.map(_.tasks.asScala.toSeq.map(t => ListMap(
        "job" -> t.job, "t0" -> (t.launch - epochMs0).toDouble, "t1" -> (t.finish - epochMs0).toDouble,
        "shuffle_write" -> t.shuffleWrite, "spill" -> t.spill, "input" -> t.input,
        "output" -> t.output))).getOrElse(Nil),
      "heap_after_gc" -> heap.samples.asScala.toSeq.map { case (ns, mb) => Seq(ms(ns), mb) },
      "pin_blocks" -> listener.map(_.rddBlocks).getOrElse(0L),
      "pin_bytes" -> listener.map(_.rddBytes).getOrElse(0L))
  }
}
