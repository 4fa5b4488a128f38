package graft.sources.zarr

import graft.SparkTester
import graft.sources.Coord
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Runtime filtering (the DPP analog): a broadcast equi-join on a dim
  * column hands the scan the join keys at execution time; kept sets narrow
  * before partition planning, so chunks with no surviving key are never
  * opened. Also unit-pins ZarrScan.filter() refinement semantics. */
class ZarrRuntimeFilterSpec extends AnyFunSuite with SparkTester {

  private lazy val root: String = {
    val r = Files.createTempDirectory("zarrrf").toString
    val dir = ZarrStoreWriter.writeGroup(r)
    ZarrStoreWriter.writeArray(
      dir, "temperature", Vector(100, 8), Vector(10, 8), "<f8",
      flat => (flat % 1000).toDouble,
      dims = Some(Vector("time", "site"))
    )
    ZarrStoreWriter.writeCoord(dir, "time", Coord.Ints(Array.tabulate(100)(identity)))
    // no site coordinate: positional (index) fallback
    ZarrStoreWriter.consolidate(dir)
    r
  }

  test("scan declares dim columns as runtime-filterable") {
    val df = spark.read.format("zarr").option("path", root).option("array", "temperature").load()
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.get
    val attrs = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
      .filterAttributes().map(_.fieldNames().mkString)
    assert(attrs.toSet == Set("time", "site"))
  }

  test("filter() narrows kept sets: fewer partitions, same rows") {
    def scanOf(targetCells: String) = {
      val df = spark.read.format("zarr")
        .option("path", root).option("array", "temperature")
        .option("partition.target.cells", targetCells)
        .load()
      val scan = df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }.get.asInstanceOf[ZarrScan]
      scan
    }
    val scan = scanOf("1")
    assert(scan.planInputPartitions().length == 10) // 10 time-chunks
    scan.filter(Array[org.apache.spark.sql.sources.Filter](org.apache.spark.sql.sources.In("time", Array(7, 8, 55))))
    // chunks 0 (indices 7, 8) and 5 (55) survive
    assert(scan.planInputPartitions().length == 2)
    // index (positional) dim refinement: long keys map straight to indices
    scan.filter(Array[org.apache.spark.sql.sources.Filter](org.apache.spark.sql.sources.In("site", Array(3L, 5L))))
    val parts = scan.planInputPartitions()
    val rows = parts.flatMap { p =>
      val rd = scan.createReaderFactory().createColumnarReader(p)
      val b = Array.newBuilder[(Int, Long, Double)]
      while (rd.next()) {
        val it = rd.get().rowIterator()
        while (it.hasNext) {
          val r = it.next()
          b += ((r.getInt(0), r.getLong(1), r.getDouble(2)))
        }
      }
      b.result()
    }
    val expect = for (t <- Seq(7, 8, 55); s <- Seq(3L, 5L))
      yield (t, s, ((t * 8 + s) % 1000).toDouble)
    assert(rows.sorted.toSeq == expect.sorted)
  }

  test("unconvertible or deferred keys decline refinement (results unchanged)") {
    val df = spark.read.format("zarr")
      .option("path", root).option("array", "temperature")
      .option("partition.target.cells", "1").load()
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.get.asInstanceOf[ZarrScan]
    val before = scan.planInputPartitions().length
    scan.filter(Array[org.apache.spark.sql.sources.Filter](org.apache.spark.sql.sources.In("time", Array("not-an-int": Any))))
    assert(scan.planInputPartitions().length == before)
  }

  test("broadcast join triggers dynamic pruning end-to-end") {
    val fact = spark.read.format("zarr")
      .option("path", root).option("array", "temperature")
      .option("partition.target.cells", "1")
      .load()
    val dim = spark.range(0, 100).select(col("id").cast("int").as("t"))
      .filter(col("t") % 37 === 1) // 1, 38, 75 — selective
    val joined = fact.join(broadcast(dim), fact("time") === dim("t"))
    val rows = joined.collect()
    assert(rows.length == 3 * 8)
    assert(rows.forall { r => Seq(1, 38, 75).contains(r.getInt(0)) })
    // the plan carries a runtime filter on the scan (best-effort assertion:
    // DPP insertion depends on benefit heuristics; correctness never does)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters") || plan.contains("dynamicpruning"))
  }
}
