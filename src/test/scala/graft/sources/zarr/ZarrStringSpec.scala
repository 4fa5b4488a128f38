package graft.sources.zarr

import java.nio.file.Files

import graft.SparkTester
import graft.api.ZarrDataReader
import graft.sources.Coord

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** String (`|S`, `<U`/`>U`, vlen-utf8) and uint64 dtype support in the scan
  * (reference claims blanket dtype preservation, README.md:17; station-name
  * and label axes in real stores are `|S`/object). Strings surface as
  * StringType, u8 as Decimal(20,0) — the same widening Spark's parquet
  * reader gives unsigned 64-bit logical types. */
class ZarrStringSpec extends AnyFunSuite with SparkTester {

  private def gen(i: Long): String = (i % 4) match {
    case 0 => "" // empty cells must round-trip, not become null
    case 1 => s"w$i"
    case 2 => s"é$i" // 2-byte UTF-8
    case 3 => s"α${i}β" // multiple multi-byte code points
  }

  test("string dtype matrix: |S, <U, >U, vlen-utf8 round-trip through the scan") {
    val root = Files.createTempDirectory("zarrstr").toString
    val dir = ZarrStoreWriter.writeGroup(root)
    val vgen: Long => String = i => if (i % 3 == 0) s"🚀$i" else gen(i) // 🚀 = 1 UCS4 cp
    ZarrStoreWriter.writeStringArray(
      dir, "s_fix", Vector(10), Vector(4), "|S8", gen,
      dims = Some(Vector("i")), compressor = Some("gzip")
    )
    ZarrStoreWriter.writeStringArray(
      dir, "u_le", Vector(10), Vector(4), "<U6", gen,
      dims = Some(Vector("i")), compressor = Some("zlib")
    )
    ZarrStoreWriter.writeStringArray(dir, "u_be", Vector(10), Vector(4), ">U6", gen, dims = Some(Vector("i")))
    ZarrStoreWriter.writeStringArray(
      dir, "vl", Vector(10), Vector(4), "|O", vgen,
      dims = Some(Vector("i")), compressor = Some("blosc:lz4")
    )
    ZarrStoreWriter.writeCoord(dir, "i", Coord.Ints(Array.tabulate(10)(identity)))
    ZarrStoreWriter.consolidate(dir)
    val rd = new ZarrDataReader(spark, root)
    for (name <- Seq("s_fix", "u_le", "u_be")) {
      val df = rd.readArray(name)
      assert(df.schema("value").dataType == StringType, name)
      val got = df.orderBy("i").collect().map(_.getString(1)).toSeq
      assert(got == (0 until 10).map(i => gen(i.toLong)), name)
    }
    val gotV = rd.readArray("vl").orderBy("i").collect().map(_.getString(1)).toSeq
    assert(gotV == (0 until 10).map(i => vgen(i.toLong)))
  }

  test("string COORDINATE axis: eager decode + equality/membership pushdown prunes") {
    val root = Files.createTempDirectory("zarrstrcoord").toString
    val dir = ZarrStoreWriter.writeGroup(root)
    ZarrStoreWriter.writeArray(
      dir, "temp", Vector(6, 5), Vector(2, 5), "<f8",
      flat => flat * 0.5, dims = Some(Vector("station", "t"))
    )
    ZarrStoreWriter.writeStringArray(
      dir, "station", Vector(6), Vector(3), "|S4", i => f"ST0$i%01d",
      dims = Some(Vector("station")), compressor = Some("gzip")
    )
    ZarrStoreWriter.writeCoord(dir, "t", Coord.Ints(Array.tabulate(5)(identity)))
    ZarrStoreWriter.consolidate(dir)
    val df = new ZarrDataReader(spark, root).readArray("temp")
    assert(df.schema("station").dataType == StringType)
    // equality pushdown: fully absorbed (no residual Filter), correct rows
    val eq = df.filter(col("station") === "ST03")
    assert(!eq.queryExecution.optimizedPlan.toString().contains("Filter"))
    val eqRows = eq.orderBy("t").collect()
    assert(eqRows.map(_.getString(0)).toSeq == Seq.fill(5)("ST03"))
    assert(eqRows.map(_.getDouble(2)).toSeq == (15 until 20).map(_ * 0.5))
    // membership pushdown incl. a value not on the axis
    val in = df.filter(col("station").isin("ST01", "ST04", "ZZZZ"))
    assert(!in.queryExecution.optimizedPlan.toString().contains("Filter"))
    assert(in.count() == 10)
    // non-equality string predicates stay residual but correct
    assert(df.filter(col("station") > "ST03").count() == 10)
  }

  test("uint64 surfaces as Decimal(20,0), exact past 2^63") {
    val root = Files.createTempDirectory("zarru8").toString
    val dir = ZarrStoreWriter.writeGroup(root)
    val ad = dir.resolve("big")
    Files.createDirectories(ad)
    Files.writeString(
      ad.resolve(".zarray"),
      ZarrStoreWriter.zarrayJson(Vector(4), Vector(4), "<u8", None, Some(0.0))
    )
    Files.writeString(ad.resolve(".zattrs"), ZarrStoreWriter.zattrsJson(Some(Vector("i"))))
    val bb = java.nio.ByteBuffer.allocate(32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // raw bits: 1, 2^63-1, 2^64-1, 2^63
    Seq(1L, Long.MaxValue, -1L, Long.MinValue).zipWithIndex.foreach { case (v, i) => bb.putLong(i * 8, v) }
    Files.write(ad.resolve("0"), bb.array())
    ZarrStoreWriter.writeCoord(dir, "i", Coord.Ints(Array.tabulate(4)(identity)))
    ZarrStoreWriter.consolidate(dir)
    val df = new ZarrDataReader(spark, root).readArray("big")
    assert(df.schema("value").dataType == DecimalType(20, 0))
    val got = df.orderBy("i").collect().map(_.getDecimal(1).toBigInteger.toString).toSeq
    assert(
      got == Seq("1", "9223372036854775807", "18446744073709551615", "9223372036854775808")
    )
    // and they aggregate exactly
    val s = df.agg(sum("value")).head().getDecimal(0).toBigInteger.toString
    assert(s == "36893488147419103231") // 1 + (2^63-1) + (2^64-1) + 2^63
  }

  test("absent chunks on string arrays fill with null (no declared fill)") {
    val root = Files.createTempDirectory("zarrstrfill").toString
    val dir = ZarrStoreWriter.writeGroup(root)
    ZarrStoreWriter.writeStringArray(dir, "vl", Vector(8), Vector(4), "|O", i => s"x$i", dims = Some(Vector("i")))
    ZarrStoreWriter.writeStringArray(dir, "sf", Vector(8), Vector(4), "|S4", i => s"x$i", dims = Some(Vector("i")))
    ZarrStoreWriter.writeCoord(dir, "i", Coord.Ints(Array.tabulate(8)(identity)))
    ZarrStoreWriter.consolidate(dir)
    Files.delete(dir.resolve("vl").resolve("1"))
    Files.delete(dir.resolve("sf").resolve("1"))
    val rd = new ZarrDataReader(spark, root)
    for (name <- Seq("vl", "sf")) {
      val df = rd.readArray(name)
      assert(df.filter(col("value").isNull).count() == 4, name)
      assert(
        df.filter(col("value").isNotNull).orderBy("i").collect().map(_.getString(1)).toSeq ==
          (0 until 4).map(i => s"x$i"),
        name
      )
    }
  }

  test("v3 'string' data_type (vlen-utf8 codec) and v3 uint64 round-trip") {
    val root = Files.createTempDirectory("zarrstrv3").toString
    val dir = ZarrStoreWriterV3.writeGroup(root)
    val vgen: Long => String = i => if (i % 3 == 0) s"β$i" else s"v$i"
    ZarrStoreWriterV3.writeStringArray(
      dir, "lbl", Vector(10), Vector(4), vgen, dims = Some(Vector("i")), codecs = Seq("zstd")
    )
    ZarrStoreWriterV3.writeStringArray(
      dir, "plain", Vector(10), Vector(4), vgen, dims = Some(Vector("i"))
    )
    ZarrStoreWriterV3.writeArray(
      dir, "big", Vector(6), Vector(4), "uint64", i => 4503599627370496.0 + i,
      dims = Some(Vector("i")), codecs = Seq("gzip")
    )
    ZarrStoreWriterV3.writeCoord(dir, "i", Coord.Ints(Array.tabulate(10)(identity)))
    ZarrStoreWriterV3.consolidate(dir)
    val rd = new ZarrDataReader(spark, root)
    for (name <- Seq("lbl", "plain")) {
      val df = rd.readArray(name)
      assert(df.schema("value").dataType == StringType, name)
      assert(
        df.orderBy("i").collect().map(_.getString(1)).toSeq == (0 until 10).map(i => vgen(i.toLong)),
        name
      )
    }
    val big = rd.readArray("big")
    assert(big.schema("value").dataType == DecimalType(20, 0))
    assert(
      big.orderBy("i").collect().map(_.getDecimal(1).longValueExact()).toSeq ==
        (0 until 6).map(i => 4503599627370496L + i)
    )
    // absent chunk on a v3 string array reads as null (fill_value null)
    Files.delete(dir.resolve("lbl").resolve("c").resolve("1"))
    assert(rd.readArray("lbl").filter(col("value").isNull).count() == 4)
  }

  test("long string axis DEFERS (never positional): deferred == eager, labels intact") {
    val root = Files.createTempDirectory("zarrstrdef").toString
    val dir = ZarrStoreWriter.writeGroup(root)
    ZarrStoreWriter.writeArray(
      dir, "temp", Vector(48, 3), Vector(8, 3), "<f8",
      flat => flat * 0.5, dims = Some(Vector("station", "y"))
    )
    // station coord chunked by 7, misaligned with the data chunking of 8
    ZarrStoreWriter.writeStringArray(
      dir, "station", Vector(48), Vector(7), "|O", i => s"ST${i}_α",
      dims = Some(Vector("station")), compressor = Some("gzip")
    )
    ZarrStoreWriter.writeCoord(dir, "y", Coord.Ints(Array(1, 2, 3)))
    ZarrStoreWriter.consolidate(dir)
    def read(threshold: Option[Int]) = {
      var r = spark.read.format("zarr").option("path", root).option("array", "temp")
      threshold.foreach(t => r = r.option("coord.deferred.threshold", t.toString))
      r.load()
    }
    val eager = read(None)
    val deferred = read(Some(16)) // 48 > 16 -> station defers
    assert(deferred.schema("station").dataType == StringType)
    val key = Seq(col("station"), col("y"))
    assert(
      deferred.orderBy(key: _*).collect().toSeq == eager.orderBy(key: _*).collect().toSeq
    )
    // labels are REAL values, not ordinals
    assert(deferred.filter(col("station") === "ST47_α").count() == 3)
    // equality/membership predicates PUSH into the deferred axis too:
    // lexicographic chunk-stats prune, no residual Filter, parity with eager
    val preds: Seq[org.apache.spark.sql.Column] = Seq(
      col("station") === "ST31_α",
      col("station").isin("ST2_α", "ST40_α", "NOPE")
    )
    preds.foreach { p =>
      val dd = deferred.filter(p)
      assert(!dd.queryExecution.optimizedPlan.toString().contains("Filter"), p.toString)
      assert(
        dd.orderBy(key: _*).collect().toSeq == eager.filter(p).orderBy(key: _*).collect().toSeq,
        p.toString
      )
    }
  }

  test("row and columnar readers agree on string arrays (incl. edge chunks)") {
    import graft.model.Selection
    val root = Files.createTempDirectory("zarrstrparity").toString
    val dir = ZarrStoreWriter.writeGroup(root)
    // 7 not divisible by 3: ragged edge chunk on both axes
    ZarrStoreWriter.writeStringArray(
      dir, "lbl", Vector(7, 5), Vector(3, 2), "|O",
      i => s"v${i}_α", dims = Some(Vector("a", "b")), compressor = Some("zstd")
    )
    ZarrStoreWriter.writeCoord(dir, "a", Coord.Ints(Array.tabulate(7)(identity)))
    ZarrStoreWriter.writeCoord(dir, "b", Coord.Ints(Array.tabulate(5)(identity)))
    ZarrStoreWriter.consolidate(dir)
    val store = new ZarrStore(root)
    val meta = store.arrayMeta("lbl")
    val coords = meta.dims.zip(meta.shape).map { case (d, n) => store.coordFor(d, n) }.toVector
    val sel = Selection.resolve(meta.shape, meta.dims, Map.empty)
    val schema = StructType(
      sel.outDims.map(d => StructField(meta.dims(d), coords(d).dataType, nullable = false)) :+
        StructField("value", meta.valueType, nullable = true)
    )
    val scan = new ZarrScan(store.arrayDir("lbl"), meta, sel, coords, schema, 8L)
    val factory = scan.createReaderFactory().asInstanceOf[ZarrReaderFactory]
    val parts = scan.planInputPartitions()
    assert(parts.length > 1)
    // the columnar reader against a cell-by-cell decode of the same store
    def triples(rows: Seq[Seq[Any]]) =
      rows.map(r => (r(0).asInstanceOf[Int], r(1).asInstanceOf[Int], r(2).toString)).sorted
    val viaRows = triples(CellOracle.expectedRows(store, meta, sel))
    val viaCols = triples(CellOracle.columnarRows(factory, parts.toSeq, schema))
    assert(viaRows.nonEmpty && viaRows == viaCols)
    assert(viaRows.map(_._3).toSet == (0 until 35).map(i => s"v${i}_α").toSet)
  }
}
