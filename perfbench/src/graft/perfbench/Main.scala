package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one client thread, closed loop.
  *
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--frame-data <dir>]`
  *
  * Prints one `@@result <json>` line on stdout with the end-to-end metrics
  * (trace 0) or the per-layer metrics (trace 1); everything else goes to
  * stderr. `perfbench/run.py` builds the classes, runs this and adds the
  * frame-query oracle check. */
object Main {
  /** One operation: its wall time, the CPU time of the process's work
    * threads while it ran, and `own`, one minus the share of CPU time the
    * host stole meanwhile (see [[Cpu.stealShare]]). */
  final case class OpStat(ns: Long, cpuNs: Long, own: Double, opens: Seq[Open], ok: Boolean, kind: String)

  def main(args: Array[String]): Unit = {
    val host0 = Cpu.hostTicks()
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(work)

    val spark = session(cores, work)
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val ctx = Ctx(spark, counters, work, seed, cores, opt.get("frame-data"))
    val wl: Workload = workloadName match {
      case "scan-full" => new ScanFull(ctx)
      case "select-interactive" => new SelectInteractive(ctx)
      case "write-sink" => new WriteSink(ctx)
      case "frame-queries" => new FrameQueries(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val genS = timeS(wl.generate())
    val warmS = timeS(wl.warmUp())
    val setupSteal = Cpu.stealShare(host0, Cpu.hostTicks())
    val setupS = Cpu.processNs() / 1e9 * (1 - setupSteal)
    log(f"setup: ${setupS}%.2f CPU s less ${100 * setupSteal}%.1f%% stolen; wall ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s: " +
      f"JVM and session $sessionS%.2f s, generate $genS%.2f s, warm-up $warmS%.2f s")

    def loop(budgetS: Double): (Seq[OpStat], Double, Map[String, Double]) = {
      wl.resetLayer()
      val before = counters.snapshot(spark) ++ FsCounters.snapshot()
      val host0 = Cpu.hostTicks()
      val internal = Cpu.jvmInternalTasks()
      val alloc = new AllocMeter
      val stats = ArrayBuffer[OpStat]()
      val t0 = System.nanoTime()
      val deadline = t0 + (budgetS * 1e9).toLong
      while (stats.isEmpty || System.nanoTime() < deadline) {
        Trace.opId = stats.length
        // readings in mirror order around the op, so that their own cost
        // stays out of it
        val op0 = Cpu.hostTicks()
        alloc.begin()
        val i0 = Cpu.tasksNs(internal)
        val p0 = Cpu.processNs()
        val s = System.nanoTime()
        val r =
          try Trace("client", "op")(wl.op(stats.length))
          catch {
            case e: Exception =>
              log(s"op ${stats.length} failed: $e")
              OpResult(ok = false, System.nanoTime() - s, Nil, "failed")
          }
        val p1 = Cpu.processNs()
        val i1 = Cpu.tasksNs(internal)
        alloc.end()
        val own = 1 - Cpu.stealShare(op0, Cpu.hostTicks())
        if (!r.ok) log(s"op ${stats.length} (${r.detail}) returned a wrong answer")
        stats += OpStat(r.busyNs, (p1 - p0) - (i1 - i0), own, r.opens, r.ok, r.detail)
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val steal = Cpu.stealShare(host0, Cpu.hostTicks())
      val after = counters.snapshot(spark) ++ FsCounters.snapshot()
      (stats.toSeq, wallS, Counters.delta(after, before) ++
        Map("steal_share" -> steal, "alloc_bytes" -> alloc.bytes.toDouble))
    }

    val (stats, metrics) =
      if (!traced) {
        val (stats, wallS, cnt) = loop(seconds)
        report(workloadName, stats, wallS, cnt, cores)
        val opens = stats.flatMap(_.opens)
        log(f"wall: op p50 ${Stats.median(stats.map(_.ns / 1e6))}%.1f ms, open p50 ${Stats.median(opens.map(_.wallNs / 1e6))}%.2f ms; " +
          f"${100 * cnt("steal_share")}%.1f%% stolen")
        // every time less the share of its operation the host stole
        stats -> Map(
          "setup_s" -> (setupS, "s"),
          "op_cpu_ms" -> (stats.map(o => o.own * o.cpuNs).sum / 1e6 / stats.length, "ms"),
          "op_wall_p25_ms" -> (wallP25(stats) / 1e6, "ms"),
          "open_cpu_p50_ms" -> (Stats.median(stats.flatMap(o => o.opens.map(o.own * _.cpuNs / 1e6))), "ms")
        )
      } else {
        // untraced half first: the tracing overhead is the difference
        val (base, _, baseCnt) = loop(seconds / 2)
        Trace.on = true
        val (stats, wallS, cnt) = loop(seconds / 2)
        Trace.on = false
        report(workloadName, stats, wallS, cnt, cores)
        val ops = stats.length
        val loopSpans = Trace.all
        val self = Trace.selfNsByLayer(loopSpans)
        val layer = wl.layerMetrics(ops)
        wl.layerReport(ops).foreach(log)
        Trace.on = true
        val (rates, table) = Probe.run(work, seed, cores)
        Trace.on = false
        table.foreach(log)
        log(f"self time per layer over $ops traced ops ($wallS%.2f s): " +
          self.toSeq.sortBy(-_._2).map { case (l, ns) => f"$l ${ns / 1e6}%.1f ms" }.mkString(", "))
        log("self time per layer in the layer-rate probe: " +
          Trace.selfNsByLayer(Trace.all.drop(loopSpans.length)).toSeq.sortBy(-_._2)
            .map { case (l, ns) => f"$l ${ns / 1e6}%.1f ms" }.mkString(", "))
        val traceFile = work.getParent.resolve(s"trace-$workloadName-$seed.json")
        Trace.writeJson(traceFile)
        log(s"spans written to $traceFile")
        val p50 = (xs: Seq[OpStat]) => Stats.median(xs.map(_.ns.toDouble))
        val perOp = (k: String) => cnt(k) / math.max(1, ops)
        val m = Map(
          "op_wall_p50_ms" -> (p50(stats) / 1e6, "ms"),
          "open_wall_p50_ms" -> (Stats.median(stats.flatMap(_.opens).map(_.wallNs / 1e6)), "ms"),
          "peak_rss_mb" -> (Stats.peakRssMb(), "MB"),
          // from the untraced half, so that the spans' own allocations stay out
          "alloc_mb_per_op" -> (baseCnt("alloc_bytes") / 1e6 / base.length, "MB"),
          "trace.overhead_frac" -> (p50(stats) / p50(base) - 1, "ratio"),
          "trace.spans_per_op" -> (loopSpans.length.toDouble / math.max(1, ops), "count"),
          "spark.jobs_per_op" -> (perOp("spark.jobs"), "count"),
          "spark.stages_per_op" -> (perOp("spark.stages"), "count"),
          "spark.tasks_per_op" -> (perOp("spark.tasks"), "count"),
          "spark.task_failures" -> (cnt("spark.task_failures"), "count"),
          "spark.task_run_s_per_op" -> (perOp("spark.task_run_s"), "s"),
          "spark.gc_frac" -> (cnt("spark.gc_s") / math.max(1e-9, cnt("spark.task_run_s")), "ratio"),
          "spark.sched_wait_ms_per_op" -> (1e3 * perOp("spark.sched_wait_s"), "ms"),
          "spark.busy_frac" -> (cnt("spark.task_run_s") / (wallS * cores), "ratio"),
          "spark.shuffle_write_bytes_per_op" -> (perOp("spark.shuffle_write_bytes"), "B"),
          "spark.shuffle_read_bytes_per_op" -> (perOp("spark.shuffle_read_bytes"), "B"),
          "spark.spill_bytes_per_op" -> (perOp("spark.spill_bytes"), "B"),
          "fs.bytes_read_per_op" -> (perOp("fs.bytes_read"), "B")
        ) ++ LayerNames.map { l =>
          s"self_frac.$l" -> (self.getOrElse(l, 0L) / 1e9 / wallS, "ratio")
        } ++ ZarrLayer.map(k => k -> (layer.getOrElse(k, 0.0), ZarrLayerUnits(k))) ++
          rates.map { case (k, v) => k -> (v, RateUnits(k)) }
        (base ++ stats) -> m
      }

    val failed = stats.count(!_.ok)
    val json = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""@@result {"correct": ${failed == 0}, "attempted": ${stats.length}, "failed": $failed, "metrics": $json}""")
    spark.stop()
  }

  /** Layers whose calls the workloads wrap in spans. */
  val LayerNames: Seq[String] = Seq("client", "api", "zarr.store", "zarr.plan", "zarr.reader", "zarr.sink", "operators")

  val ZarrLayerUnits: Map[String, String] = Map(
    "zarr.plan.partitions_per_op" -> "count",
    "zarr.plan.metadata_only_frac" -> "ratio",
    "zarr.plan.prune_efficiency" -> "ratio",
    "zarr.store.meta_bytes_read_per_op" -> "B",
    "zarr.sink.objects_written_per_op" -> "count",
    "zarr.sink.bytes_per_cell" -> "B/cell"
  )
  val ZarrLayer: Seq[String] = ZarrLayerUnits.keys.toSeq.sorted

  val RateUnits: Map[String, String] = Map(
    "zarr.store.open_ms" -> "ms",
    "zarr.fileio.fetch_mb_per_s" -> "MB/s"
  ).withDefaultValue("Mcells/s")

  private def report(name: String, stats: Seq[OpStat], wallS: Double, cnt: Map[String, Double], cores: Int): Unit = {
    val lat = stats.map(_.ns / 1e6)
    val tail = Stats.tail(lat).map { case (p, v) => f"p$p $v%.1f ms" }.getOrElse("too few ops for a p90")
    log(f"$name: ${stats.length} ops in $wallS%.2f s, p50 ${Stats.median(lat)}%.1f ms, $tail, " +
      f"${stats.count(!_.ok)} failed")
    log(cnt.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.6g" }.mkString(" "))
    log(f"spark.busy_frac=${cnt("spark.task_run_s") / (wallS * cores)}%.3f")
  }

  private def session(cores: Int, work: java.nio.file.Path): SparkSession = {
    // the context-level settings that keep every file inside the work dir;
    // the program's own SQL settings and functions come from Sessions.local
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    graft.Sessions.local(cores.toString)
  }

  /** A wall figure that steal bursts barely move: per kind of operation the
    * 25th percentile of its wall time less its stolen share, averaged over
    * the kinds so that each kind weighs the same. */
  def wallP25(stats: Seq[OpStat]): Double =
    Stats.mean(stats.groupBy(_.kind).values.map(xs => Stats.quantile(xs.map(o => o.own * o.ns), 0.25)).toSeq)

  private def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")
}
