package graft.sources.zarr

import graft.{SparkEntry, SparkTester}
import graft.api.ZarrDataReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** A small group shaped like the benchmark's scan-full store: f4 arrays
  * `tas` and `pr` over (time, lat, lon) with int and double coordinates,
  * by default 2 x 2 x 2 chunks of 4 x 8 x 8 cells, written by the sink (so
  * each array carries chunk stats). Values grow with the cell's C-order
  * index, so a value band prunes whole chunks. */
object ScanFullStore {
  val Cells: Long = 8L * 16 * 16

  def write(spark: SparkSession, nt: Int = 8, ny: Int = 16, nx: Int = 16, chunks: String = "4,8,8"): String = {
    val root = Files.createTempDirectory("scanfull").toString
    for ((name, salt) <- Seq("tas" -> 1L, "pr" -> 2L))
      spark.range(0, nt.toLong * ny * nx)
        .select(
          (col("id") / (ny * nx)).cast("int").as("time"),
          ((col("id") / nx).cast("long") % ny * 0.25 - 90.0).as("lat"),
          (col("id") % nx * 0.25 - 180.0).as("lon"),
          ((col("id") / 1024).cast("long") * 1000 + pmod(xxhash64(col("id"), lit(salt)), lit(1000L)))
            .cast("float").as("value")
        )
        .write.format("zarr")
        .option("path", root).option("array", name).option("chunks", chunks)
        .mode("append").save()
    root
  }

  /** The benchmark's three whole-array aggregates. */
  val shapes: Seq[(String, ZarrDataReader => DataFrame)] = Seq(
    "value-only" -> (r => r.readArray("tas").agg(count(lit(1)), sum(col("value").cast("long")))),
    "by-time" -> (r =>
      r.readArray("tas").groupBy("time")
        .agg(count(lit(1)), sum(col("value").cast("long")), max("lat"), max("lon"))),
    "aligned" -> (r =>
      r.readAligned(Seq("tas", "pr"))
        .agg(count(lit(1)), sum(col("tas").cast("long")), sum(col("pr").cast("long"))))
  )
}

/** Pushed partial aggregates return the same rows whatever the parallelism:
  * at `spark.sql.shuffle.partitions` 1 and 7, with AQE on and off, and with
  * the scan in one partition or in one per chunk. q38 and q39 (the declared
  * Zarr queries) are held to the same rows across shuffle settings. */
class ZarrAggParallelismSpec extends AnyFunSuite with SparkTester {

  private lazy val root = ScanFullStore.write(spark)

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val settings = for (parts <- Seq("1", "7"); aqe <- Seq("true", "false")) yield (parts, aqe)

  private def rows(d: DataFrame): Seq[String] = d.collect().map(_.toString).toSeq.sorted

  test("scan-full shapes: identical rows at any shuffle, AQE and scan partitioning") {
    // one partition holds every chunk; one per chunk gives eight
    for ((name, shape) <- ScanFullStore.shapes) {
      val answers = for ((parts, aqe) <- settings; target <- Seq(1L << 20, 256L)) yield {
        withConf("spark.sql.shuffle.partitions" -> parts, "spark.sql.adaptive.enabled" -> aqe) {
          val q = shape(new ZarrDataReader(spark, root, chunkTargetCells = Some(target)))
          val plan = q.queryExecution.executedPlan.toString
          assert(plan.contains("partialAgg="), s"$name: $plan")
          (parts, aqe, target) -> rows(q)
        }
      }
      val distinct = answers.map(_._2).distinct
      assert(distinct.size == 1, s"$name: ${answers.mkString("\n")}")
      assert(distinct.head.nonEmpty)
    }
    // the value-only answer is the frame's own count and sum
    val frame = spark.read.format("zarr").option("path", root).option("array", "tas").load()
      .filter(coalesce(length(col("value").cast("string")) > 0, lit(true)))
    val want = frame.agg(count(lit(1)), sum(col("value").cast("long"))).collect().head
    val got = ScanFullStore.shapes.head._2(new ZarrDataReader(spark, root)).collect().head
    assert(got == want && got.getLong(0) == ScanFullStore.Cells)
  }

  test("q38 and q39: identical rows at any shuffle and AQE setting") {
    for (name <- Seq("q38_zarr_aligned", "q39_zarr_agg_pushdown")) {
      val answers = settings.map { case (parts, aqe) =>
        withConf("spark.sql.shuffle.partitions" -> parts, "spark.sql.adaptive.enabled" -> aqe) {
          SparkEntry.queries(name)(spark, sfTiny).collect().map(_.toString).toSeq
        }
      }
      assert(answers.distinct.size == 1 && answers.head.nonEmpty, s"$name: $answers")
    }
  }
}
