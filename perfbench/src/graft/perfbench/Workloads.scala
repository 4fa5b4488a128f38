package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.{ZarrDataReader, ZarrScan}
import graft.model.DimSel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** What one closed-loop operation did: whether every answer in it was
  * exact, the time spent in calls to the program (the benchmark's own
  * answer checking excluded), and the open times (call to planned frame)
  * of its frames. */
final case class OpResult(ok: Boolean, busyNs: Long, opens: Seq[Open], detail: String = "")

/** Wall time and client-thread CPU time of one open: from the call that
  * creates a frame to its executed plan. Planning runs on the calling
  * thread, so its CPU time is the open's work. */
final case class Open(wallNs: Long, cpuNs: Long)

object Open {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  def time[T](body: => T): (T, Open) = {
    val w0 = System.nanoTime()
    val c0 = threads.getCurrentThreadCpuTime
    val r = body
    (r, Open(System.nanoTime() - w0, threads.getCurrentThreadCpuTime - c0))
  }
}

final case class Ctx(
    spark: SparkSession,
    counters: SparkCounters,
    work: Path,
    seed: Long,
    cores: Int,
    frameData: Option[String]
)

trait Workload {
  /** Builds the inputs from the seed. Called more than once; each call
    * rewrites identical inputs. */
  def generate(): Unit
  /** Runs every kind of operation once, untimed and cold. */
  def warmUp(): Unit
  def op(i: Int): OpResult
  /** Workload-specific layer figures gathered since the last [[resetLayer]]. */
  def layerMetrics(ops: Int): Map[String, Double]
  def resetLayer(): Unit
  /** Human-readable detail for the traced run's report. */
  def layerReport(ops: Int): Seq[String] = Nil
}

/** Timing and plan inspection shared by the Zarr workloads. */
abstract class ZarrWorkload(ctx: Ctx) extends Workload with AdaptiveSparkPlanHelper {
  protected val spark: SparkSession = ctx.spark
  protected val plan = new ZarrWorkload.PlanTally
  /** Time spent in [[query]] since the current operation began. */
  protected var busyNs = 0L

  def resetLayer(): Unit = plan.reset()

  def layerMetrics(ops: Int): Map[String, Double] = plan.metrics(ops)

  override def layerReport(ops: Int): Seq[String] = plan.report(ops)

  protected def reader(root: String): ZarrDataReader =
    Trace("zarr.store", "new ZarrDataReader")(new ZarrDataReader(spark, root))

  /** Opens and plans `build`, then collects it. `needed` is the cells the
    * answer depends on (for the prune-efficiency ratio). */
  protected def query(needed: Long)(build: => DataFrame): (Array[Row], Open) = {
    val fs0 = FsCounters.snapshot()("fs.bytes_read")
    val t0 = System.nanoTime()
    val ((df, planned), open) = Open.time {
      val df = build
      (df, Trace("zarr.plan", "executedPlan")(df.queryExecution.executedPlan))
    }
    plan.metaBytes += FsCounters.snapshot()("fs.bytes_read") - fs0
    plan.planNs += open.wallNs
    val rows = Trace("zarr.reader", "collect")(df.collect())
    busyNs += System.nanoTime() - t0
    plan.record(scansOf(planned), needed)
    (rows, open)
  }

  private def scansOf(p: SparkPlan): Seq[BatchScanExec] = collect(p) { case b: BatchScanExec => b }

  protected def longs(r: Row): Seq[Long] = (0 until r.length).map(i => r.getAs[Number](i).longValue)
}

object ZarrWorkload {
  /** Planning and pruning figures over a window of queries. */
  final class PlanTally {
    var queries, metadataOnly, scans, partitions = 0L
    var needed, emitted = 0L
    var metaBytes = 0.0
    var planNs = 0L

    def reset(): Unit = {
      queries = 0; metadataOnly = 0; scans = 0; partitions = 0; needed = 0; emitted = 0; metaBytes = 0; planNs = 0
    }

    def record(bs: Seq[BatchScanExec], cellsNeeded: Long): Unit = {
      queries += 1
      if (bs.isEmpty) metadataOnly += 1
      else {
        scans += 1
        needed += cellsNeeded
        bs.foreach { b =>
          partitions += b.inputRDD.getNumPartitions
          emitted += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }
      }
    }

    def metrics(ops: Int): Map[String, Double] = Map(
      "zarr.plan.partitions_per_op" -> partitions.toDouble / math.max(1, ops),
      "zarr.plan.metadata_only_frac" -> metadataOnly.toDouble / math.max(1L, queries),
      "zarr.plan.prune_efficiency" -> (if (emitted == 0) 0.0 else needed.toDouble / emitted),
      "zarr.store.meta_bytes_read_per_op" -> metaBytes / math.max(1, ops)
    )

    def report(ops: Int): Seq[String] = Seq(
      f"zarr.plan: ${planNs / 1e6 / math.max(1L, queries)}%.2f ms open+plan per query, " +
        f"$queries queries, $scans scanning, $partitions partitions, $emitted rows emitted for $needed needed"
    )
  }
}

/** Whole-array analytics: every iteration aggregates `tas` and `pr`
  * value-only, groups `tas` by time reading every dim column, and
  * aggregates the aligned `(tas, pr)` frame. */
final class ScanFull(ctx: Ctx) extends ZarrWorkload(ctx) {
  val grid = new Grid(ctx.work.resolve("grid"), ctx.seed, ScanFull.NT, ScanFull.NY, ScanFull.NX)
  private val root = grid.dir.toString
  private val kindNs = mutable.Map[String, Long]().withDefaultValue(0L)
  private val kindCells = mutable.Map[String, Long]().withDefaultValue(0L)

  def generate(): Unit = grid.write(ctx.cores)

  def warmUp(): Unit = { op(0); resetLayer() }

  override def resetLayer(): Unit = { super.resetLayer(); kindNs.clear(); kindCells.clear() }

  private def timed[T](kind: String, cells: Long)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally { kindNs(kind) += System.nanoTime() - t0; kindCells(kind) += cells }
  }

  def op(i: Int): OpResult = {
    val opens = mutable.ArrayBuffer[Open]()
    var ok = true
    busyNs = 0
    val cells = grid.cells
    for (a <- Grid.Names.indices) {
      val (rows, open) = timed("value_only", cells) {
        query(cells) {
          Trace("api", "readArray")(reader(root).readArray(Grid.Names(a)))
            .agg(count(lit(1)), sum(col("value").cast("long")))
        }
      }
      opens += open
      ok &= longs(rows.head) == Seq(cells, grid.total(a))
    }
    val (byTime, open2) = timed("all_dims", cells) {
      query(cells) {
        Trace("api", "readArray")(reader(root).readArray("tas"))
          .groupBy("time")
          .agg(count(lit(1)), sum(col("value").cast("long")), max("lat"), max("lon"))
      }
    }
    opens += open2
    ok &= byTime.length == grid.nt && byTime.forall { r =>
      val t = r.getInt(0)
      r.getLong(1) == grid.ny.toLong * grid.nx && r.getLong(2) == grid.timeSum(0)(t) &&
      r.getDouble(3) == grid.lat(grid.ny - 1) && r.getDouble(4) == grid.lon(grid.nx - 1)
    }
    val (aligned, open3) = timed("aligned", 2 * cells) {
      query(cells) {
        Trace("api", "readAligned")(reader(root).readAligned(Grid.Names))
          .agg(count(lit(1)), sum(col("tas").cast("long")), sum(col("pr").cast("long")))
      }
    }
    opens += open3
    ok &= longs(aligned.head) == Seq(cells, grid.total(0), grid.total(1))
    OpResult(ok, busyNs, opens.toSeq)
  }

  override def layerReport(ops: Int): Seq[String] =
    super.layerReport(ops) ++ Seq("value_only", "all_dims", "aligned").map { k =>
      f"zarr.reader.${k}_mcells_per_s: ${kindCells(k) / 1e6 / math.max(1e-9, kindNs(k) / 1e9)}%.1f"
    }
}

object ScanFull {
  val NT = 32
  val NY = 512
  val NX = 512
}

/** A seeded stream of small analyst queries over the scan-full group, each
  * opening its frame fresh: read-time dim selections, pushed coordinate
  * boxes, stats-pruned value bands, metadata-only aggregates and store
  * listings. */
final class SelectInteractive(ctx: Ctx) extends ZarrWorkload(ctx) {
  val grid = new Grid(ctx.work.resolve("grid"), ctx.seed, ScanFull.NT, ScanFull.NY, ScanFull.NX)
  private val root = grid.dir.toString
  /** The query kinds, each once: nothing says how often an analyst asks
    * each kind, so they weigh the same. */
  private val kinds = Vector("range", "point", "list", "box", "band", "meta", "info")
  private val latencyByKind = mutable.Map[String, mutable.ArrayBuffer[Double]]()

  def generate(): Unit = grid.write(ctx.cores)

  def warmUp(): Unit = { kinds.indices.foreach(i => op(-1 - i)); resetLayer() }

  override def resetLayer(): Unit = { super.resetLayer(); latencyByKind.clear() }

  def op(i: Int): OpResult = {
    val rng = new SplittableRandom(ctx.seed * 1000003L + i)
    // a fixed cycle of kinds keeps every run's mix the same; the seed picks
    // the arrays, boxes and bands
    val r = run(kinds(Math.floorMod(i, kinds.length)), rng)
    latencyByKind.getOrElseUpdate(r.detail, mutable.ArrayBuffer()) += r.busyNs / 1e6
    r
  }

  /** A random index range that crosses exactly one chunk boundary, so
    * every box reads the same number of chunks whatever the seed: the work
    * per query, and so its cost, then varies with the program only. */
  private def straddle(rng: SplittableRandom, chunk: Int, nChunks: Int): Range = {
    val boundary = chunk * (1 + rng.nextInt(nChunks - 1))
    (boundary - 8 - rng.nextInt(chunk / 2)) until (boundary + 8 + rng.nextInt(chunk / 2))
  }

  private def countSum(rows: Array[Row]): Seq[Long] = longs(rows.head)

  private def run(kind: String, rng: SplittableRandom): OpResult = {
    busyNs = 0
    val a = rng.nextInt(Grid.Names.length)
    val name = Grid.Names(a)
    // within one time chunk, across one lat and one lon chunk boundary:
    // four chunks, like a value band
    val t0 = Grid.CT * rng.nextInt(grid.gt)
    val t = t0 until t0 + 1 + rng.nextInt(Grid.CT)
    val y = straddle(rng, Grid.CY, grid.gy)
    val x = straddle(rng, Grid.CX, grid.gx)
    val agg = Seq(count(lit(1)), sum(col("value").cast("long")))
    def dims(ts: DimSel) = Map("time" -> ts, "lat" -> DimSel.Range(y.start, y.end), "lon" -> DimSel.Range(x.start, x.end))
    kind match {
      case "range" | "point" | "list" =>
        val times = kind match {
          case "range" => t
          case "point" => t.start to t.start
          case _ => t0 +: (t0 + 1 until t0 + Grid.CT).filter(_ => rng.nextBoolean())
        }
        val sel = kind match {
          case "range" => DimSel.Range(t.start, t.end)
          case "point" => DimSel.Point(t.start)
          case _ => DimSel.Indices(times.toVector)
        }
        val want = times.map(ti => grid.boxSum(a, ti to ti, y, x)).foldLeft((0L, 0L))((p, q) => (p._1 + q._1, p._2 + q._2))
        val (rows, open) = query(want._1) {
          Trace("api", "readArray")(reader(root).readArray(name, dims(sel))).agg(agg.head, agg.tail: _*)
        }
        OpResult(countSum(rows) == Seq(want._1, want._2), busyNs, Seq(open), kind)
      case "box" =>
        val want = grid.boxSum(a, t, y, x)
        val (rows, open) = query(want._1) {
          Trace("api", "readArray")(reader(root).readArray(name))
            .filter(
              col("time") >= t.start && col("time") < t.end &&
                col("lat") >= grid.lat(y.start) && col("lat") < grid.lat(y.end) &&
                col("lon") >= grid.lon(x.start) && col("lon") < grid.lon(x.end)
            )
            .agg(agg.head, agg.tail: _*)
        }
        OpResult(countSum(rows) == Seq(want._1, want._2), busyNs, Seq(open), kind)
      case "band" =>
        val b = rng.nextInt(grid.gt)
        val u = rng.nextInt(900)
        val v = u + 1 + rng.nextInt(1000 - u)
        val (lo, hi) = (b * 1000 + u, b * 1000 + v)
        val want = grid.boxSum(a, b * Grid.CT until (b + 1) * Grid.CT, 0 until grid.ny, 0 until grid.nx, lo, hi)
        val (rows, open) = query(want._1) {
          Trace("api", "readArray")(reader(root).readArray(name))
            .filter(col("value") >= lit(lo.toFloat) && col("value") < lit(hi.toFloat))
            .agg(agg.head, agg.tail: _*)
        }
        OpResult(countSum(rows) == Seq(want._1, want._2), busyNs, Seq(open), kind)
      case "meta" =>
        val (rows, open) = query(0L) {
          Trace("api", "readArray")(reader(root).readArray(name)).agg(min("value"), max("value"), count("value"))
        }
        val r = rows.head
        val ok = r.getFloat(0) == grid.minV(a).toFloat && r.getFloat(1) == grid.maxV(a).toFloat && r.getLong(2) == grid.cells
        OpResult(ok, busyNs, Seq(open), kind)
      case "info" =>
        val ((info, listed), open) = Open.time {
          (Trace("api", "getZarrDataInfo")(ZarrScan.getZarrDataInfo(root)),
            Trace("zarr.store", "listArrays")(reader(root).listArrays()))
        }
        val shape = Seq(grid.nt, grid.ny, grid.nx)
        val ok = Grid.Names.forall(n => info.get(n).exists(_.shape.toSeq == shape)) && Grid.Names.forall(listed.contains)
        OpResult(ok, open.wallNs, Seq(open), kind)
    }
  }

  override def layerReport(ops: Int): Seq[String] =
    super.layerReport(ops) ++ latencyByKind.toSeq.sortBy(_._1).map { case (k, xs) =>
      f"select.$k: n=${xs.length} p50=${Stats.median(xs.toSeq)}%.1f ms"
    }
}

/** Sink round trip: write a generated `[time, lat, lon, value]` frame as a
  * sharded v3 store (zstd, crc32c, default chunk stats), append one time
  * slab along `time`, and read back an exact count and sum. */
final class WriteSink(ctx: Ctx) extends Workload {
  import WriteSink._
  private val spark = ctx.spark
  private val salt = Math.floorMod(ctx.seed, 1L << 20)
  private var writeNs, appendNs, readNs = 0L
  private var objects, bytes, cellsWritten = 0L

  def generate(): Unit = ()

  def warmUp(): Unit = { op(-1); resetLayer() }

  def resetLayer(): Unit = { writeNs = 0; appendNs = 0; readNs = 0; objects = 0; bytes = 0; cellsWritten = 0 }

  /** `value = 1000 × (t / 4) + pmod(xxhash64(cell + salt), 1000)`, computed
    * by Spark for the frame and by [[expected]] for the check. */
  private def frame(t0: Int, t1: Int): DataFrame = {
    val perT = NY.toLong * NX
    spark
      .range(t0 * perT, t1 * perT)
      .select(
        (col("id") / perT).cast("int").as("time"),
        ((col("id") / NX).cast("long") % NY * 0.25 - 90.0).as("lat"),
        (col("id") % NX * 0.25 - 180.0).as("lon"),
        ((col("id") / perT / 4).cast("long") * 1000 + pmod(xxhash64(col("id") + salt), lit(1000L))).cast("float").as("value")
      )
  }

  private def expected(t0: Int, t1: Int): Long = {
    val perT = NY.toLong * NX
    var s = 0L
    var id = t0 * perT
    while (id < t1 * perT) {
      s += (id / perT / 4) * 1000 + Math.floorMod(XXH64.hashLong(id + salt, 42L), 1000L)
      id += 1
    }
    s
  }

  private lazy val wantSum = expected(0, NT + AppendT)

  def op(i: Int): OpResult = {
    val dir = ctx.work.resolve(s"sink-$i")
    val path = dir.toString
    val t0 = System.nanoTime()
    Trace("zarr.sink", "write") {
      frame(0, NT).write.format("zarr")
        .option("path", path).option("array", "tas")
        .option("zarr_format", "3").option("chunks", "4,64,64").option("shards", "8,128,128")
        .option("compressor", "zstd").option("checksum", "true")
        .mode("overwrite").save()
    }
    val t1 = System.nanoTime()
    Trace("zarr.sink", "append") {
      frame(NT, NT + AppendT).write.format("zarr")
        .option("path", path).option("array", "tas").option("append.dim", "time")
        .mode("append").save()
    }
    val t2 = System.nanoTime()
    val (df, open) = Open.time {
      val df = Trace("api", "readArray")(Trace("zarr.store", "new ZarrDataReader")(new ZarrDataReader(spark, path)).readArray("tas"))
        .agg(count(lit(1)), sum(col("value").cast("long")))
      Trace("zarr.plan", "executedPlan")(df.queryExecution.executedPlan)
      df
    }
    val r = Trace("zarr.reader", "collect")(df.collect()).head
    val t4 = System.nanoTime()
    writeNs += t1 - t0; appendNs += t2 - t1; readNs += t4 - t2
    val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    objects += files.length
    bytes += files.map(Files.size).sum
    val cells = (NT + AppendT).toLong * NY * NX
    cellsWritten += cells
    val ok = r.getLong(0) == cells && r.getLong(1) == wantSum
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    OpResult(ok, t4 - t0, Seq(open))
  }

  def layerMetrics(ops: Int): Map[String, Double] = Map(
    "zarr.sink.objects_written_per_op" -> objects.toDouble / math.max(1, ops),
    "zarr.sink.bytes_per_cell" -> (if (cellsWritten == 0) 0.0 else bytes.toDouble / cellsWritten)
  )

  override def layerReport(ops: Int): Seq[String] = {
    val n = math.max(1, ops)
    Seq(
      f"zarr.sink.write_s: ${writeNs / 1e9 / n}%.3f  zarr.sink.append_s: ${appendNs / 1e9 / n}%.3f  " +
        f"zarr.sink.readback_s: ${readNs / 1e9 / n}%.3f  (per op)",
      f"zarr.sink.objects_written: ${objects / n}  bytes_per_cell: ${bytes.toDouble / math.max(1L, cellsWritten)}%.4f"
    )
  }
}

object WriteSink {
  val NT = 16
  val NY = 256
  val NX = 256
  val AppendT = 8
  def cellsPerOp: Long = (NT + AppendT).toLong * NY * NX
}

/** One pass over the declared frame query that runs the most Spark jobs,
  * on tables generated from the seed. Each query's result is written
  * once, in the warm-up pass, for the DuckDB oracle comparison made after
  * the run. */
final class FrameQueries(ctx: Ctx) extends Workload {
  import FrameQueries._
  private val spark = ctx.spark
  private val data = ctx.frameData.getOrElse(sys.error("frame-queries needs --frame-data"))
  private val perQueryNs = mutable.Map[String, Long]().withDefaultValue(0L)
  private val perQueryJobs = mutable.Map[String, Double]().withDefaultValue(0.0)

  def generate(): Unit = ()

  def warmUp(): Unit = {
    val out = ctx.work.resolve("frame_out")
    Files.createDirectories(out)
    val oracle = graft.SparkEntry.oracleSql
    Queries.foreach { q =>
      graft.SparkEntry.queries(q)(spark, data).write.mode("overwrite").parquet(out.resolve(q).toString)
    }
    val json = Queries.map(q => s"  ${jsonStr(q)}: ${jsonStr(oracle(q))}").mkString("{\n", ",\n", "\n}\n")
    Files.writeString(out.resolve("oracle_sql.json"), json)
    resetLayer()
  }

  def resetLayer(): Unit = { perQueryNs.clear(); perQueryJobs.clear() }

  def op(i: Int): OpResult = {
    val t0 = System.nanoTime()
    val opens = Queries.map { q =>
      val jobs0 = ctx.counters.snapshot(spark)("spark.jobs")
      val t0 = System.nanoTime()
      val (df, open) = Open.time {
        val df = Trace("operators", "build")(graft.SparkEntry.queries(q)(spark, data))
        Trace("operators", "executedPlan")(df.queryExecution.executedPlan)
        df
      }
      Trace("operators", "collect")(df.collect())
      perQueryNs(q) += System.nanoTime() - t0
      perQueryJobs(q) += ctx.counters.snapshot(spark)("spark.jobs") - jobs0
      open
    }
    OpResult(ok = true, System.nanoTime() - t0, opens)
  }

  def layerMetrics(ops: Int): Map[String, Double] = Map.empty

  override def layerReport(ops: Int): Seq[String] = Queries.map { q =>
    f"frame.$q.s: ${perQueryNs(q) / 1e9 / math.max(1, ops)}%.3f  frame.$q.jobs: ${perQueryJobs(q) / math.max(1, ops)}%.1f"
  }
}

object FrameQueries {
  val Queries: Seq[String] = Seq("x146_distill_audit")

  def jsonStr(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
}
