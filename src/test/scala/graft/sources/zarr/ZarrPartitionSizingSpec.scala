package graft.sources.zarr

import graft.SparkTester
import graft.api.ZarrDataReader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Partition sizing. With no `partition.target.cells` a scan merges its
  * 2^18-cell chunk ranges toward one partition per core
  * (`spark.sql.leafNodeDefaultParallelism`, else the context's default
  * parallelism), holding at most `spark.sql.files.maxPartitionBytes` of
  * decoded row bytes each; an explicit target keeps one range per that many
  * cells. Planning is checked on a metadata-only store; rows, pushed
  * aggregates and chunk reads are held identical across the sizings. */
class ZarrPartitionSizingSpec extends AnyFunSuite with SparkTester with AdaptiveSparkPlanHelper {

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def parallelism(p: Int)(body: => Unit): Unit =
    withConf("spark.sql.leafNodeDefaultParallelism" -> p.toString)(body)

  private def scanOf(df: DataFrame): BatchScanExec =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }.head

  private def ranges(df: DataFrame): Seq[ZarrInputPartition] =
    scanOf(df).inputPartitions.map(_.asInstanceOf[ZarrInputPartition])

  /** A 1-D f4 array of 2^23 cells in 32 chunks of 2^18, metadata only (no
    * chunk object exists; planning never reads one). Chunk c's zone map is
    * [1000c, 1000c + 999]. */
  private lazy val metaOnly: String = {
    val root = Files.createTempDirectory("zarrsizing").toString
    val dir = ZarrStoreWriter.writeGroup(root).resolve("v")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(".zarray"), ZarrStoreWriter.zarrayJson(Vector(1 << 23), Vector(1 << 18), "<f4", None, Some(0.0)))
    val stats = ZarrChunkStats.Doc(
      "float", 32, boundsF = (0L until 32L).map(c => c -> Some((c * 1000.0, c * 1000.0 + 999.0))).toMap
    )
    Files.writeString(
      dir.resolve(".zattrs"),
      ZarrStoreWriter.zattrsJson(Some(Vector("i")), Map(ZarrChunkStats.AttrKey -> ZarrChunkStats.toJson(stats)))
    )
    root
  }

  private def readMeta(target: Option[String] = None): DataFrame = {
    val r = spark.read.format("zarr").option("path", metaOnly).option("array", "v")
    target.fold(r)(t => r.option("partition.target.cells", t)).load()
  }

  test("planning: one partition per core, the byte cap, an explicit target, pruned chunks") {
    for ((p, want) <- Seq(1 -> 1, 4 -> 4, 32 -> 32)) parallelism(p) {
      val rs = ranges(readMeta())
      assert(rs.length == want, s"P=$p: $rs")
      // the partitions tile the grid's 32 chunk ordinals
      assert(rs.head.start == 0L && rs.last.end == 32L && rs.zip(rs.tail).forall { case (a, b) => a.end == b.start }, rs)
    }
    // 12 decoded bytes per cell (long index + f4): a 32 MiB cap holds ten
    // 2^18-cell ranges, so one core still gets four partitions
    parallelism(1) {
      withConf("spark.sql.files.maxPartitionBytes" -> "32m") {
        assert(ranges(readMeta()).map(r => r.end - r.start) == Seq(10L, 10L, 10L, 2L))
      }
    }
    // an explicit target wins: one partition per live chunk at any P
    for (p <- Seq(1, 32)) parallelism(p) {
      assert(ranges(readMeta(Some("1"))).length == 32)
    }
    // the zone map keeps chunks 20..31: 3 * 2^20 live cells, four partitions
    // at P=4, and every partition holds at least one live chunk
    for ((p, target, want) <- Seq((4, None, 4), (1, None, 1), (4, Some("1"), 12))) parallelism(p) {
      val rs = ranges(readMeta(target).filter(col("value") >= 20000f))
      assert(rs.length == want, s"P=$p target=$target: $rs")
      assert(rs.forall(_.end > 20L), rs)
    }
  }

  test("the scan description names the partitions and where their target came from") {
    parallelism(4) {
      val fitted = scanOf(readMeta()).scan.description()
      assert(fitted.contains("partitions=4, partitionCells=2097152 (parallelism 4)"), fitted)
      val explicit = scanOf(readMeta(Some("262144"))).scan.description()
      assert(explicit.contains("partitions=32, partitionCells=262144 (partition.target.cells)"), explicit)
    }
  }

  test("rows, pushed aggregates and chunk reads are identical at any sizing") {
    // 5 x 256 x 256 f4 cells in 10 chunks of 1 x 128 x 256: two 2^18-cell
    // ranges; values grow with the cell index, so a band prunes chunks
    val root = ScanFullStore.write(spark, nt = 5, ny = 256, nx = 256, chunks = "1,128,256")
    def tas(r: ZarrDataReader) = r.readArray("tas")
    val pushed: Seq[(String, ZarrDataReader => DataFrame)] = ScanFullStore.shapes ++ Seq(
      "min-max" -> (r => tas(r).agg(count(lit(1)), min("value"), max("value"), sum(col("value").cast("long")))),
      "aligned-by-time" -> (r =>
        r.readAligned(Seq("tas", "pr")).groupBy("time")
          .agg(count(lit(1)), min("tas"), max("pr"), sum(col("pr").cast("long"))))
    )
    // (P, explicit target) -> partitions of the full read
    val sizings = Seq((1, None, 1), (4, None, 2), (64, None, 2), (4, Some(1L), 10))
    var first: Option[(Array[org.apache.spark.sql.Row], Seq[Seq[String]])] = None
    for ((p, target, parts) <- sizings) parallelism(p) {
      val r = new ZarrDataReader(spark, root, chunkTargetCells = target)
      val all = tas(r)
      assert(ranges(all).length == parts, s"P=$p target=$target")
      val rows = all.orderBy("time", "lat", "lon").collect()
      assert(rows.length == 5L * 256 * 256)
      val aggs = pushed.map { case (name, shape) =>
        val q = shape(r)
        assert(scanOf(q).scan.description().contains("partialAgg="), name)
        q.collect().map(_.toString).toSeq.sorted
      }
      // chunks 7..9 hold every value >= 224000, chunk 6 tops out at 223999
      val band = tas(r).filter(col("value") >= 224000f).select("value")
      assert(band.collect().length == 3 * 128 * 256)
      assert(scanOf(band).metrics("chunksRead").value == 3L, s"P=$p target=$target")
      first match {
        case None => first = Some((rows, aggs))
        case Some((rows0, aggs0)) =>
          assert(rows.sameElements(rows0), s"P=$p target=$target")
          assert(aggs == aggs0, s"P=$p target=$target")
      }
    }
  }
}
