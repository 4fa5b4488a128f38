package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine counters from Spark's public listener API. Counts are cumulative;
  * callers difference two [[snapshot]]s taken around a measured window. */
final class SparkCounters extends SparkListener {
  private val jobs, stages, tasks, taskFailures = new AtomicLong
  private val runMs, gcMs, schedWaitMs, shuffleWrite, shuffleRead, spill = new AtomicLong
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    stageSubmitted.remove(e.stageInfo.stageId)
  }

  // scheduler wait: how long a task sat between its stage's submission and
  // its own launch on an executor thread
  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageSubmitted.get(e.stageId)).foreach { s =>
      schedWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) taskFailures.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(spark: SparkSession): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    Map(
      "spark.jobs" -> jobs.get.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.task_failures" -> taskFailures.get.toDouble,
      "spark.task_run_s" -> runMs.get / 1e3,
      "spark.gc_s" -> gcMs.get / 1e3,
      "spark.sched_wait_s" -> schedWaitMs.get / 1e3,
      "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.get.toDouble,
      "spark.spill_bytes" -> spill.get.toDouble
    )
  }
}

/** Hadoop `FileSystem` storage statistics, summed over every filesystem
  * the JVM has used (cumulative, like [[SparkCounters]]). */
object FsCounters {
  private val keys = Seq(
    "fs.read_ops" -> Seq("readOps", "largeReadOps"),
    "fs.bytes_read" -> Seq("bytesRead"),
    "fs.write_ops" -> Seq("writeOps"),
    "fs.bytes_written" -> Seq("bytesWritten")
  )

  def snapshot(): Map[String, Double] = {
    val totals = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    val it = FileSystem.getGlobalStorageStatistics.iterator()
    while (it.hasNext) {
      val st = it.next()
      for ((name, stats) <- keys; k <- stats) Option(st.getLong(k)).foreach(v => totals(name) += v.doubleValue)
    }
    keys.map { case (name, _) => name -> totals(name) }.toMap
  }
}

/** CPU time of this process, and the share of it the host stole. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** JIT compiler, GC and VM threads: their work depends on how long the
    * JVM has run more than on the operations. They are not Java threads, so
    * only the kernel's per-task files show them. */
  private val jvmInternal = "^(C1 CompilerThre|C2 CompilerThre|GC Thread|G1 |VM Thread)".r

  /** Every thread's CPU since the JVM started, ended threads included. */
  def processNs(): Long = os.getProcessCpuTime

  /** Busy and stolen ticks of all CPUs since boot, from `/proc/stat`. */
  def hostTicks(): (Long, Long) = {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
    // user nice system idle iowait irq softirq steal
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }

  /** The share of the time the CPUs wanted to run that the host stole
    * between two [[hostTicks]] readings. A guest kernel without steal-time
    * accounting in its scheduler charges stolen time to the thread that was
    * running, so a CPU time times one minus this share is the time the work
    * itself took. */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double = {
    val (busy, steal) = (to._1 - from._1, to._2 - from._2)
    if (busy + steal <= 0) 0.0 else steal.toDouble / (busy + steal)
  }

  /** The `schedstat` files of the JIT compiler, GC and VM threads alive
    * now. None of them ends (the benchmark turns off dynamic compiler
    * threads); a GC thread started later counts as work. */
  def jvmInternalTasks(): Seq[java.nio.file.Path] =
    java.nio.file.Files.list(java.nio.file.Paths.get("/proc/self/task")).iterator().asScala.toSeq
      .filter { t =>
        try jvmInternal.findPrefixOf(java.nio.file.Files.readString(t.resolve("comm")).trim).isDefined
        catch { case _: java.io.IOException => false } // a Spark thread that ended while listed
      }
      .map(_.resolve("schedstat"))

  /** CPU time of the given threads: the first field of `schedstat`. */
  def tasksNs(tasks: Seq[java.nio.file.Path]): Long =
    tasks.map(f => java.nio.file.Files.readString(f).trim.split(" ")(0).toLong).sum
}

/** Bytes allocated on the Java heap by every Java thread while operations
  * ran, summed over the operations bracketed by [[begin]] and [[end]]. A
  * thread that starts inside an operation counts from zero; one that ends
  * inside it is lost. */
final class AllocMeter {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private var before = Map.empty[Long, Long]
  var bytes = 0L

  private def read(): Map[Long, Long] = {
    val ids = mx.getAllThreadIds
    val b = mx.getThreadAllocatedBytes(ids)
    ids.indices.filter(b(_) >= 0).map(i => ids(i) -> b(i)).toMap
  }

  def begin(): Unit = before = read()

  def end(): Unit = bytes += read().map { case (id, b) => b - before.getOrElse(id, 0L) }.sum
}

object Counters {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

/** Spans recorded around the benchmark's own calls into each layer. Off
  * unless [[on]]; kept in memory and written out once at the end. One
  * client thread drives every call, so the parent stack is a plain list. */
object Trace {
  final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String, startNs: Long, endNs: Long)

  @volatile var on = false
  var opId = 0
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, opId, layer, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time per layer: each span's duration minus the time its direct
    * children cover (children never overlap: one thread). */
  def selfNsByLayer(ss: Seq[Span]): Map[String, Long] = {
    val childNs = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
    ss.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    ss.groupBy(_.layer).map { case (l, xs) => l -> xs.map(s => s.endNs - s.startNs - childNs(s.id)).sum }
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
      sb ++= (if (i + 1 < spans.length) ",\n" else "\n")
    }
    sb ++= "]\n"
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length

  /** The highest of p90/p95/p99 with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90).find(p => xs.length * (100 - p) / 100.0 >= 10.0).map(p => p -> quantile(xs, p / 100.0))

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
