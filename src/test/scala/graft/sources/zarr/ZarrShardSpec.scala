package graft.sources.zarr

import graft.SparkTester
import graft.api.{ZarrDataReader, ZarrScan}
import graft.model.DimSel
import graft.sources.Coord
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Zarr v3 `sharding_indexed` read support (zarr-specs v3
  * §sharding-indexed): many inner chunks per on-store object, located via a
  * crc32c-checked u64 (offset, nbytes) index and fetched with ranged reads.
  * Planning and decode treat INNER chunks as the unit, so everything
  * downstream (pushdown, partitioning, both readers) is shard-agnostic. */
class ZarrShardSpec extends AnyFunSuite with SparkTester {

  private val shape = Vector(12, 10, 15)
  private def gen(flat: Long): Double = 280.0f + (flat % 997) * 0.25f

  /** Sharded store + identical UNSHARDED reference store. */
  private def mkStores(
      innerCodecs: Seq[String],
      indexAtEnd: Boolean = true,
      omitInner: Seq[Int] => Boolean = _ => false
  ): (String, String) = {
    val sharded = Files.createTempDirectory("zarrshard").toString
    val dirS = ZarrStoreWriterV3.writeGroup(sharded)
    // shard (6,10,8) divides into inner (3,5,4) = 8 inner chunks/shard;
    // lon: 15 does not divide by 8 -> ragged edge shards AND inner chunks
    ZarrStoreWriterV3.writeShardedArray(
      dirS, "temperature", shape, Vector(6, 10, 8), Vector(3, 5, 4), "float32", gen,
      dims = Some(Vector("time", "lat", "lon")),
      innerCodecs = innerCodecs, indexAtEnd = indexAtEnd, omitInner = omitInner
    )
    ZarrStoreWriterV3.writeCoord(dirS, "time", Coord.Ints(Array.tabulate(12)(identity)))
    ZarrStoreWriterV3.writeCoord(dirS, "lat", Coord.Floats(Array.tabulate(10)(i => 30f + i)))
    ZarrStoreWriterV3.consolidate(dirS)
    val plain = Files.createTempDirectory("zarrplain").toString
    val dirP = ZarrStoreWriterV3.writeGroup(plain)
    ZarrStoreWriterV3.writeArray(
      dirP, "temperature", shape, Vector(3, 5, 4), "float32", gen,
      dims = Some(Vector("time", "lat", "lon")), codecs = innerCodecs
    )
    ZarrStoreWriterV3.writeCoord(dirP, "time", Coord.Ints(Array.tabulate(12)(identity)))
    ZarrStoreWriterV3.writeCoord(dirP, "lat", Coord.Floats(Array.tabulate(10)(i => 30f + i)))
    ZarrStoreWriterV3.consolidate(dirP)
    (sharded, plain)
  }

  private val key = Seq("time", "lat", "lon").map(col)

  test("sharded scan equals the unsharded array cell-for-cell (incl. ragged edge shards)") {
    for (chain <- Seq(Nil, Seq("gzip"), Seq("blosc:lz4"), Seq("zstd", "crc32c"))) {
      val (sharded, plain) = mkStores(chain)
      val s = new ZarrDataReader(spark, sharded).readArray("temperature")
      val p = new ZarrDataReader(spark, plain).readArray("temperature")
      assert(s.schema == p.schema, s"chain=$chain")
      assert(s.orderBy(key: _*).collect().toSeq == p.orderBy(key: _*).collect().toSeq, s"chain=$chain")
    }
    // metadata surfaces the INNER chunk shape (the planning unit)
    val (sharded, _) = mkStores(Nil)
    val info = ZarrScan.getZarrDataInfo(sharded)
    assert(info("temperature").chunks == Vector(3, 5, 4))
    // exactly the in-bounds shards exist on store: 2 x 1 x 2 c/-keys
    val shardFiles = {
      val d = java.nio.file.Paths.get(sharded, "temperature", "c")
      java.nio.file.Files.walk(d).filter(java.nio.file.Files.isRegularFile(_)).count()
    }
    assert(shardFiles == 4, s"expected 4 shard objects, found $shardFiles")
  }

  test("sharded pushdown: dim selection and coordinate filters prune without residual Filter") {
    val (sharded, plain) = mkStores(Seq("gzip"))
    val rdS = new ZarrDataReader(spark, sharded)
    val rdP = new ZarrDataReader(spark, plain)
    val selMap = Map(
      "time" -> DimSel.Range(2, 9),
      "lat" -> DimSel.Indices(Vector(9, 0, 4)),
      "lon" -> DimSel.Point(13)
    )
    assert(
      rdS.readArray("temperature", selMap).collect().toSeq ==
        rdP.readArray("temperature", selMap).collect().toSeq
    )
    val pushed = rdS.readArray("temperature").filter(col("time") >= 6 && col("lat") === 33f)
    assert(!pushed.queryExecution.optimizedPlan.toString().contains("Filter"))
    assert(pushed.count() == 6L * 15)
  }

  test("missing inner chunks and missing whole shards read as fill_value") {
    // omit one inner chunk (1,1,2) and every inner chunk with time-chunk
    // idx >= 2 — the latter empties BOTH time-row-1 shards entirely, so
    // those shard objects are never written (absent-shard path)
    val omit: Seq[Int] => Boolean = g => (g == Seq(1, 1, 2)) || g(0) >= 2
    val (sharded, plain) = mkStores(Seq("gzip"), omitInner = omit)
    val s = new ZarrDataReader(spark, sharded).readArray("temperature")
    val p = new ZarrDataReader(spark, plain).readArray("temperature")
    assert(s.count() == 1800)
    // absent shards: only time-row 0 shard objects exist on store
    val shardDir = java.nio.file.Paths.get(sharded, "temperature", "c")
    assert(!Files.exists(shardDir.resolve("1")), "time-row-1 shards must not be written")
    // holes: the single inner chunk (time 3..5, lat 5..9, lon 8..11) plus
    // the whole time >= 6 half covered by the absent shards
    val inHole = (col("time").between(3, 5) && col("lat").between(35f, 39f) &&
      col("lon").between(8, 11)) || col("time") >= 6
    assert(s.filter(inHole && col("value") =!= 0.0f).count() == 0)
    assert(
      s.filter(!inHole).orderBy(key: _*).collect().toSeq ==
        p.filter(!inHole).orderBy(key: _*).collect().toSeq
    )
  }

  test("index_location=start round-trips identically") {
    val (sharded, plain) = mkStores(Seq("zstd"), indexAtEnd = false)
    val s = new ZarrDataReader(spark, sharded).readArray("temperature")
    val p = new ZarrDataReader(spark, plain).readArray("temperature")
    assert(s.orderBy(key: _*).collect().toSeq == p.orderBy(key: _*).collect().toSeq)
  }

  test("corrupt shard index crc32c fails loud, never misreads") {
    val (sharded, _) = mkStores(Nil)
    val shard = java.nio.file.Paths.get(sharded, "temperature", "c", "0", "0", "0")
    val bytes = Files.readAllBytes(shard)
    bytes(bytes.length - 10) = (bytes(bytes.length - 10) ^ 0x40).toByte // inside the index u64s
    Files.write(shard, bytes)
    val e = intercept[Exception] {
      new ZarrDataReader(spark, sharded).readArray("temperature").agg(sum("value")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("crc32c mismatch")), messages(e).mkString(" | "))
  }

  test("row and columnar readers agree on a sharded store") {
    import graft.model.Selection
    import org.apache.spark.sql.types.{StructField, StructType}
    val (sharded, _) = mkStores(Seq("blosc:lz4"))
    val store = new ZarrStore(sharded)
    val meta = store.arrayMeta("temperature")
    val coords = meta.dims.zip(meta.shape).map { case (d, n) => store.coordFor(d, n) }.toVector
    val sel = Selection.resolve(meta.shape, meta.dims, Map.empty)
    val schema = StructType(
      sel.outDims.map(d => StructField(meta.dims(d), coords(d).dataType, nullable = false)) :+
        StructField("value", meta.valueType, nullable = true)
    )
    val scan = new ZarrScan(store.arrayDir("temperature"), meta, sel, coords, schema, 128L)
    val factory = scan.createReaderFactory().asInstanceOf[ZarrReaderFactory]
    val parts = scan.planInputPartitions()
    assert(parts.length > 1)
    // the columnar reader against a cell-by-cell decode of the same store
    val viaRows = CellOracle.expectedRows(store, meta, sel)
    val viaBatches = CellOracle.columnarRows(factory, parts.toSeq, schema)
    assert(CellOracle.sameCells(viaRows, viaBatches))
    assert(viaRows.nonEmpty)
  }

  test("misaligned or exotic sharding metadata is rejected loudly") {
    val root = Files.createTempDirectory("zarrshardbad").toString
    val dir = ZarrStoreWriterV3.writeGroup(root)
    def write(name: String, body: String): Unit = {
      val ad = dir.resolve(name)
      Files.createDirectories(ad)
      Files.writeString(ad.resolve("zarr.json"), body)
    }
    // inner chunk_shape does not divide the shard shape
    write(
      "badalign",
      """{"zarr_format": 3, "node_type": "array", "shape": [8], "data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [8]}},
        |"chunk_key_encoding": {"name": "default"}, "fill_value": 0,
        |"codecs": [{"name": "sharding_indexed", "configuration": {
        |  "chunk_shape": [3],
        |  "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
        |  "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "crc32c"}],
        |  "index_location": "end"}}]}""".stripMargin
    )
    val e1 = intercept[Exception](new ZarrStore(root).arrayMeta("badalign"))
    assert(e1.getMessage.contains("divide"), e1.getMessage)
    // unsupported index codec chain
    write(
      "badidx",
      """{"zarr_format": 3, "node_type": "array", "shape": [8], "data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [8]}},
        |"chunk_key_encoding": {"name": "default"}, "fill_value": 0,
        |"codecs": [{"name": "sharding_indexed", "configuration": {
        |  "chunk_shape": [4],
        |  "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
        |  "index_codecs": [{"name": "gzip"}],
        |  "index_location": "end"}}]}""".stripMargin
    )
    val e2 = intercept[Exception](new ZarrStore(root).arrayMeta("badidx"))
    assert(e2.getMessage.contains("index_codecs"), e2.getMessage)
    // nested sharding inside the inner chain
    write(
      "badnest",
      """{"zarr_format": 3, "node_type": "array", "shape": [8], "data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [8]}},
        |"chunk_key_encoding": {"name": "default"}, "fill_value": 0,
        |"codecs": [{"name": "sharding_indexed", "configuration": {
        |  "chunk_shape": [4],
        |  "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "sharding_indexed", "configuration": {}}],
        |  "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "crc32c"}],
        |  "index_location": "end"}}]}""".stripMargin
    )
    val e3 = intercept[Exception](new ZarrStore(root).arrayMeta("badnest"))
    assert(e3.getMessage.contains("sharding"), e3.getMessage)
  }

  test("shard-index cache never serves stale offsets after an in-place overwrite") {
    val root = Files.createTempDirectory("zarrshardstale").toString
    val dir = ZarrStoreWriterV3.writeGroup(root)
    def writeStore(gen: Long => Double, omit: Seq[Int] => Boolean): Unit =
      ZarrStoreWriterV3.writeShardedArray(
        dir, "v", Vector(4, 4), Vector(4, 4), Vector(2, 2), "float64", gen,
        omitInner = omit
      )
    writeStore(f => f.toDouble, _ => false)
    val meta = new ZarrStore(root).arrayMeta("v") // ZarrChunkIO cache is per-JVM
    def cell00(): Double =
      ZarrChunkIO.readChunk(dir.resolve("v").toString, meta, Seq(0, 0)).get.getDouble(0)
    assert(cell00() == 0.0)
    Thread.sleep(20) // ensure a distinct mtime even on coarse-granularity filesystems
    // overwrite in place with different values AND a different inner-chunk layout
    writeStore(f => 100.0 + f.toDouble, idx => idx == Seq(1, 1))
    assert(cell00() == 100.0, "read served stale shard-index offsets after overwrite")
    Thread.sleep(20)
    // shard absent -> present transition must not be masked by an absent marker
    val root2 = Files.createTempDirectory("zarrshardabsent").toString
    val dir2 = ZarrStoreWriterV3.writeGroup(root2)
    // metadata only: write the array then delete its one shard object
    ZarrStoreWriterV3.writeShardedArray(
      dir2, "v", Vector(4, 4), Vector(4, 4), Vector(2, 2), "float64", _.toDouble
    )
    val shardObj = dir2.resolve("v").resolve("c").resolve("0").resolve("0")
    Files.delete(shardObj)
    val meta2 = new ZarrStore(root2).arrayMeta("v")
    assert(ZarrChunkIO.readChunk(dir2.resolve("v").toString, meta2, Seq(0, 0)).isEmpty)
    ZarrStoreWriterV3.writeShardedArray(
      dir2, "v", Vector(4, 4), Vector(4, 4), Vector(2, 2), "float64", f => 7.0 + f
    )
    val buf = ZarrChunkIO.readChunk(dir2.resolve("v").toString, meta2, Seq(0, 0))
    assert(buf.isDefined && buf.get.getDouble(0) == 7.0, "absent-shard result was cached past the write")
  }
}
