package graft.sources.zarr

import graft.SparkTester
import graft.model.{DimSel, Selection}
import graft.sources.Coord
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Executor-side DEFERRED coordinates: dims longer than
  * `coord.deferred.threshold` never materialize coordinate values on the
  * driver — executors decode the coordinate array's own chunks per ordinal
  * range, and driver-side pushdown streams those chunks one at a time.
  * A deferred dim must be indistinguishable from an eager one in query
  * results (reference extraction semantics: coordinate_processor.py:101-145;
  * selection: :147-218). */
class ZarrDeferredSpec extends AnyFunSuite with SparkTester {

  /** Store with two orientations of the same grid so the deferred dim is
    * exercised both as an OUTER dim (constant-per-run bulk fill) and as the
    * INNER dim (per-element bulk fill): `temp[time=48, y=4]` and
    * `tempT[y=4, time=48]`. The `time` coordinate (i8, 1000+3i) is chunked
    * by 7 — deliberately misaligned with the data chunking of 8 so cursors
    * cross coordinate-chunk boundaries mid-run. */
  private def mkStore(): String = {
    val root = Files.createTempDirectory("zarrdef").toString
    val dir = ZarrStoreWriter.writeGroup(root)
    ZarrStoreWriter.writeArray(
      dir, "temp", Vector(48, 4), Vector(8, 2), "<f8",
      flat => flat * 0.5,
      dims = Some(Vector("time", "y"))
    )
    ZarrStoreWriter.writeArray(
      dir, "tempT", Vector(4, 48), Vector(2, 8), "<f8",
      flat => flat * 0.25,
      dims = Some(Vector("y", "time"))
    )
    ZarrStoreWriter.writeArray(
      dir, "time", Vector(48), Vector(7), "<i8",
      i => 1000.0 + 3 * i, dims = Some(Vector("time")), compressor = Some("zlib")
    )
    ZarrStoreWriter.writeCoord(dir, "y", Coord.Ints(Array(10, 20, 30, 40)))
    ZarrStoreWriter.consolidate(dir)
    root
  }

  private def read(root: String, array: String, threshold: Option[Int]) = {
    var r = spark.read.format("zarr").option("path", root).option("array", array)
    threshold.foreach(t => r = r.option("coord.deferred.threshold", t.toString))
    r.load()
  }

  test("deferred scan equals eager scan — schema and cells, both orientations") {
    val root = mkStore()
    for (array <- Seq("temp", "tempT")) {
      val eager = read(root, array, None)
      val deferred = read(root, array, Some(16)) // time(48) deferred, y(4) eager
      assert(deferred.schema == eager.schema, array)
      assert(deferred.schema("time").dataType == LongType)
      val key = Seq(col("time"), col("y"))
      assert(
        deferred.orderBy(key: _*).collect().toSeq == eager.orderBy(key: _*).collect().toSeq,
        array
      )
    }
  }

  test("row and columnar readers agree on deferred dims (bulk runs AND gather)") {
    val root = mkStore()
    val store = new ZarrStore(root)
    for (array <- Seq("temp", "tempT")) {
      val meta = store.arrayMeta(array)
      val coords = meta.dims.zip(meta.shape).map { case (d, n) => store.coordFor(d, n, 16) }.toVector
      val timeDim = meta.dims.indexOf("time")
      assert(coords(timeDim).isInstanceOf[Coord.Deferred])
      val deferredSpecs = Map(timeDim -> DeferredCoordSpec(store.arrayDir("time"), store.arrayMeta("time")))
      // a contiguous selection (bulk fill) and an out-of-order gather on the
      // DEFERRED dim (per-cell fill, cursor jumps back across coord chunks)
      val selections = Seq(
        Map.empty[String, DimSel],
        Map("time" -> DimSel.Indices(Vector(40, 3, 17)), "y" -> DimSel.Range(1, 3))
      )
      selections.foreach { selMap =>
        val sel = Selection.resolve(meta.shape, meta.dims, selMap)
        val schema = StructType(
          sel.outDims.map(d => StructField(meta.dims(d), coords(d).dataType, nullable = false)) :+
            StructField("value", meta.valueType, nullable = true)
        )
        val scan = new ZarrScan(
          store.arrayDir(array), meta, sel, coords, schema, 2L, Map.empty, None, deferredSpecs
        )
        val factory = scan.createReaderFactory().asInstanceOf[ZarrReaderFactory]
        val parts = scan.planInputPartitions()
        assert(parts.length > 1, s"$array sel=$selMap parts=${parts.length}")
        // the oracle reads the time coordinate EAGERLY; the scan defers it
        val rows = CellOracle.expectedRows(store, meta, sel)
        val viaBatches = CellOracle.columnarRows(factory, parts.toSeq, schema)
        assert(CellOracle.sameCells(rows, viaBatches), s"$array sel=$selMap")
        assert(rows.nonEmpty)
        // time column carries COORDINATE values (1000+3i), not indices
        val ti = schema.fieldIndex("time")
        assert(rows.forall(r => r(ti).asInstanceOf[Long] >= 1000L))
      }
    }
  }

  test("pushed range/point/In filters on a deferred dim prune identically to eager") {
    val root = mkStore()
    val eager = read(root, "temp", None)
    val deferred = read(root, "temp", Some(16))
    val predicates: Seq[org.apache.spark.sql.Column] = Seq(
      col("time") >= 1030L && col("time") < 1100L,
      col("time") === 1021L,
      col("time").isin(1000L, 1063L, 1141L, 9999L)
    )
    predicates.foreach { p =>
      val d = deferred.filter(p)
      // fully absorbed by index pruning: no residual Filter in the plan —
      // the Zarr analog of partition pruning, driven by STREAMED coordinate
      // chunks (never a whole-axis driver array)
      val optimized = d.queryExecution.optimizedPlan.toString()
      assert(!optimized.contains("Filter"), optimized)
      val key = Seq(col("time"), col("y"))
      assert(
        d.orderBy(key: _*).collect().toSeq == eager.filter(p).orderBy(key: _*).collect().toSeq,
        p.toString
      )
    }
  }

  test("chunk-stats pruning is sound on an UNSORTED deferred axis, and on chained filters") {
    // permuted coordinate values (37 coprime to 48): chunk [min,max]
    // windows overlap heavily, so stats can rarely prove all-in/all-out —
    // correctness must come from boundary decodes, never a wrong prune
    val root = Files.createTempDirectory("zarrdefunsorted").toString
    val dir = ZarrStoreWriter.writeGroup(root)
    ZarrStoreWriter.writeArray(
      dir, "temp", Vector(48, 4), Vector(8, 2), "<f8",
      flat => flat * 0.5, dims = Some(Vector("time", "y"))
    )
    ZarrStoreWriter.writeArray(
      dir, "time", Vector(48), Vector(7), "<i8",
      i => 1000.0 + 3 * ((i * 37) % 48), dims = Some(Vector("time")), compressor = Some("zlib")
    )
    ZarrStoreWriter.writeCoord(dir, "y", Coord.Ints(Array(10, 20, 30, 40)))
    ZarrStoreWriter.consolidate(dir)
    val eager = read(root, "temp", None)
    val deferred = read(root, "temp", Some(16))
    val key = Seq(col("time"), col("y"))
    val preds: Seq[org.apache.spark.sql.Column] = Seq(
      col("time") >= 1030L && col("time") < 1100L,
      col("time") === 1021L,
      col("time").isin(1000L, 1063L, 1141L, 9999L)
    )
    preds.foreach { p =>
      val d = deferred.filter(p)
      assert(!d.queryExecution.optimizedPlan.toString().contains("Filter"), p.toString)
      assert(
        d.orderBy(key: _*).collect().toSeq == eager.filter(p).orderBy(key: _*).collect().toSeq,
        p.toString
      )
    }
    // chained same-dim predicates: the second refines an EXPLICIT kept set
    // (the per-index stats walk, not the chunk-run walk)
    val chained = deferred
      .filter(col("time").isin((0 until 48 by 2).map(i => 1000L + 3 * i): _*))
      .filter(col("time") >= 1030L)
    assert(!chained.queryExecution.optimizedPlan.toString().contains("Filter"))
    val expect = eager
      .filter(col("time").isin((0 until 48 by 2).map(i => 1000L + 3 * i): _*))
      .filter(col("time") >= 1030L)
    assert(chained.orderBy(key: _*).collect().toSeq == expect.orderBy(key: _*).collect().toSeq)
  }

  test("deferred datetime64 axis reads as TimestampType and matches eager") {
    val root = Files.createTempDirectory("zarrdeft").toString
    val dir = ZarrStoreWriter.writeGroup(root)
    ZarrStoreWriter.writeArray(
      dir, "obs", Vector(24, 3), Vector(5, 3), "<f4",
      flat => (flat % 11).toDouble, dims = Some(Vector("t", "s"))
    )
    // epoch-micros M8 axis, multi-chunk; values stay < 2^53 (exact doubles)
    ZarrStoreWriter.writeArray(
      dir, "t", Vector(24), Vector(5), "<M8[us]",
      i => 1700000000000000L.toDouble + i * 60000000L, dims = Some(Vector("t"))
    )
    ZarrStoreWriter.consolidate(dir)
    val eager = read(root, "obs", None)
    val deferred = read(root, "obs", Some(8))
    assert(deferred.schema("t").dataType == TimestampType)
    assert(deferred.schema == eager.schema)
    val key = Seq(col("t"), col("s"))
    assert(deferred.orderBy(key: _*).collect().toSeq == eager.orderBy(key: _*).collect().toSeq)
    // timestamp predicates prune on the deferred axis too
    val cut = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + 600))
    val d = deferred.filter(col("t") >= cut)
    assert(d.count() == eager.filter(col("t") >= cut).count())
  }

  test("NaT in a deferred coordinate fails loud; eager falls back to positional") {
    val root = Files.createTempDirectory("zarrdefnat").toString
    val dir = ZarrStoreWriter.writeGroup(root)
    ZarrStoreWriter.writeArray(
      dir, "obs", Vector(12), Vector(4), "<f4",
      flat => flat.toDouble, dims = Some(Vector("t"))
    )
    ZarrStoreWriter.writeArray(
      dir, "t", Vector(12), Vector(4), "<M8[us]",
      i => if (i == 5) Long.MinValue.toDouble else 1.0e15 + i * 1.0e6,
      dims = Some(Vector("t"))
    )
    ZarrStoreWriter.consolidate(dir)
    // eager: a NaT cell makes the coordinate non-total -> silent positional
    // fallback (reference catch-all, coordinate_processor.py:140-144)
    val eager = read(root, "obs", None)
    assert(eager.schema("t").dataType == LongType)
    assert(eager.select("t").orderBy("t").collect().map(_.getLong(0)).toSeq == (0L until 12L))
    // deferred: trusts metadata, so the NaT surfaces as a loud read error —
    // the documented divergence (re-checking totality would read the data
    // this path exists to avoid)
    val deferred = read(root, "obs", Some(8))
    assert(deferred.schema("t").dataType == TimestampType)
    val e = intercept[Exception](deferred.collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("must be total")), messages(e).mkString(" | "))
  }
}
