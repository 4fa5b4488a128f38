package graft.sources.zarr

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}

import graft.SparkTester

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s.JsonAST.{JNothing, JValue}
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** [[ZarrChunkWriter]]'s contracts beyond byte identity (which
  * [[ZarrGoldenSpec]] pins): the meta the sink hands the writer is the
  * metadata it commits, and the copy of an existing shard's inner chunks
  * refuses a corrupt object with its key instead of copying wrong bytes. */
class ZarrChunkWriterSpec extends AnyFunSuite with SparkTester {

  private def grid(nt: Int): DataFrame =
    spark.range(0, nt * 36L).filter(pmod(col("id"), lit(7L)) =!= 0).select(
      (col("id") / 36).cast("int").as("t"),
      (col("id") % 36).cast("int").as("x"),
      (col("id") * 0.5 - 3).cast("float").as("value")
    )

  private def labels: DataFrame =
    spark.range(0, 30).filter(col("id") =!= 4).select(
      (col("id") / 6).cast("int").as("t"),
      concat(lit("S"), (col("id") % 6).cast("string")).as("x"),
      concat(lit("v"), col("id").cast("string"), lit("-β")).as("value")
    )

  private def records: DataFrame =
    spark.range(0, 20).select(
      col("id").cast("int").as("i"),
      struct((col("id") * 2 - 5).cast("int").as("sensor"), (col("id") * 0.5).as("temp"), lit("Tg").as("tag")).as("value")
    )

  /** dtype without its spelling: byte order, kind and size (a v3 store
    * spells `|b1` as `<b1`, a structured dtype's JSON loses its spaces). */
  private def dtypeOf(m: ZarrArrayMeta): ZDtype = m.zdtype.copy(tag = "")

  private def json(s: String): JValue = JsonMethods.parse(s)

  test("the meta the sink hands the writer is the metadata it commits, in every sink layout") {
    val base = Files.createTempDirectory("zarrwritermeta").toString
    val layouts: Seq[(String, DataFrame, Map[String, String])] = Seq(
      ("v2-numeric", grid(5), Map("chunks" -> "2,8", "fill_value" -> "-1.5")),
      ("v2-numeric-u2", grid(5).withColumn("value", abs(col("value")).cast("int")), Map(
        "chunks" -> "2,8", "dtype" -> "<u2", "fill_value" -> "7", "compressor" -> "blosc:zstd:bitshuffle"
      )),
      ("v2-string", labels, Map("chunks" -> "2,4", "fill_value" -> "none", "compressor" -> "zlib")),
      ("v2-struct", records, Map("chunks" -> "6", "dtype" -> """[["sensor", "<i4"], ["temp", ">f8"], ["tag", "|S4"]]""")),
      ("v3-chunked", grid(5), Map("zarr_format" -> "3", "chunks" -> "2,8", "compressor" -> "zstd", "checksum" -> "true")),
      ("v3-sharded", grid(5), Map(
        "zarr_format" -> "3", "chunks" -> "2,8", "shards" -> "4,16", "compressor" -> "blosc", "fill_value" -> "2"
      )),
      ("v3-string", labels, Map("zarr_format" -> "3", "chunks" -> "2,4", "checksum" -> "true")),
      ("v3-sharded-string", labels, Map("zarr_format" -> "3", "chunks" -> "2,3", "shards" -> "4,6", "compressor" -> "zstd"))
    )
    for ((name, df, opts) <- layouts) {
      val root = s"$base/$name"
      val handed = ZarrSink.write(df, opts ++ Map("path" -> root, "array" -> "a"), overwrite = true)
      val committed = new ZarrStore(root, Map.empty, None, Some(false)).arrayMeta("a")
      def same[T](field: String, a: T, b: T): Unit = assert(a == b, s"$name $field: handed $a, committed $b")
      same("shape", handed.shape, committed.shape)
      same("dims", handed.dims, committed.dims)
      same("chunks", handed.chunks, committed.chunks)
      same("shards", handed.shardShape, committed.shardShape)
      same("dtype", dtypeOf(handed), dtypeOf(committed))
      same("fill", handed.fillValue, committed.fillValue)
      same("string fill", handed.fillValueStr, committed.fillValueStr)
      same("v3", handed.v3, committed.v3)
      same("key encoding", handed.keyEncoding, committed.keyEncoding)
      same("key separator", handed.keySeparator, committed.keySeparator)
      same("filters", handed.filters, committed.filters)
      same("codecs", handed.v3Codecs.map(json), committed.v3Codecs.map(json))
      same("index crc", handed.shardIndexCrc, committed.shardIndexCrc)
      same("index byte order", handed.shardIndexBigEndian, committed.shardIndexBigEndian)
      same("index at end", handed.shardIndexAtEnd, committed.shardIndexAtEnd)
      // the writer compresses with the sink's spelling ("blosc:zstd:
      // bitshuffle"); the store records it as a numcodecs config
      val zarray = Paths.get(root, "a", ".zarray")
      val declared: JValue = if (Files.exists(zarray)) json(Files.readString(zarray)) \ "compressor" else JNothing
      if (handed.v3) same("compressor", handed.compressor, None)
      else {
        same("compressor", json(ZarrStoreWriter.compressorJson(handed.compressor)), declared)
        same("compressor id", handed.compressor.map(_.split(":").head), committed.compressor)
      }
      // and every chunk object it wrote sits under a key the store declares
      val keys = {
        val dir = Paths.get(root, "a")
        import scala.jdk.CollectionConverters._
        Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map(dir.relativize(_).toString)
          .filterNot(k => k.startsWith(".") || k == "zarr.json").toSet
      }
      val objectGrid = committed.shardShape.getOrElse(committed.chunks).zip(committed.shape).map { case (c, s) => (s + c - 1) / c }
      val declaredKeys = objectGrid.foldLeft(Seq(Seq.empty[Int]))((acc, n) => for (p <- acc; i <- 0 until n) yield p :+ i)
        .map(committed.chunkKey).toSet
      assert(keys.nonEmpty && keys.subsetOf(declaredKeys), s"$name: ${keys -- declaredKeys}")
    }
  }

  /** Rewrites a crc32c-indexed sharded array (index at the end) into the
    * same array without the index checksum. */
  private def dropIndexCrc(groupDir: Path, array: String): Unit = {
    val crc = """, {"name": "crc32c"}]"""
    for (doc <- Seq(groupDir.resolve(array).resolve("zarr.json"), groupDir.resolve("zarr.json")) if Files.exists(doc)) {
      val s = Files.readString(doc)
      Files.writeString(doc, s.replace(""""endian": "little"}}""" + crc, """"endian": "little"}}]"""))
    }
    import scala.jdk.CollectionConverters._
    Files.walk(groupDir.resolve(array).resolve("c")).iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
      val b = Files.readAllBytes(p)
      Files.write(p, java.util.Arrays.copyOf(b, b.length - 4))
    }
    assert(!new ZarrStore(groupDir.toString, Map.empty, None, Some(false)).arrayMeta(array).shardIndexCrc)
  }

  /** The three ways a tail shard object (index at the end, `nInner`
    * entries) is corrupted here, each with whether its store keeps the
    * index crc: truncated, one index byte flipped, inner chunk 0's offset
    * moved past 2^32 (it would truncate to a valid-looking int). */
  private val corruptions: Seq[(String, Boolean, (Path, Int) => Unit)] = Seq(
    ("truncated", true, (obj, _) => Files.write(obj, java.util.Arrays.copyOf(Files.readAllBytes(obj), 10))),
    ("index byte flipped", true, (obj, nInner) => {
      val b = Files.readAllBytes(obj)
      val at = b.length - 4 - 16 * nInner + 1
      b(at) = (b(at) ^ 0x01).toByte
      Files.write(obj, b)
    }),
    ("offset out of range", false, (obj, nInner) => {
      val b = Files.readAllBytes(obj)
      val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      val at = b.length - 16 * nInner
      bb.putLong(at, bb.getLong(at) + (1L << 32) + 1)
      Files.write(obj, b)
    })
  )

  private def corruptKey(t: Throwable): Option[ZarrCorruptChunkException] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst { case c: ZarrCorruptChunkException => c }

  test("a corrupt tail shard fails the realign append with its key; the shape does not grow") {
    val base = Files.createTempDirectory("zarrwritertail")
    def frame(lo: Int, hi: Int) = spark.range(lo, hi).selectExpr("cast(id as int) as t", "id * 7 % 103 as value")
    for ((what, crc, corrupt) <- corruptions) {
      val root = base.resolve(what.replace(' ', '-'))
      // extent 12 is mid-shard: shard c/1 holds inner chunk 2, not 3
      ZarrSink.write(frame(0, 12), Map(
        "path" -> root.toString, "array" -> "v", "zarr_format" -> "3", "chunks" -> "4", "shards" -> "8", "compressor" -> "zstd"
      ), overwrite = true)
      if (!crc) dropIndexCrc(root, "v")
      corrupt(root.resolve("v").resolve("c").resolve("1"), 2)
      val e = intercept[Exception] {
        frame(12, 20).write.format("zarr").option("path", root.toString).option("array", "v")
          .option("append.dim", "t").option("append.realign", "true").mode("append").save()
      }
      val typed = corruptKey(e)
      assert(typed.exists(c => c.chunkKey == "c/1" && c.arrayDir.endsWith("/v")), s"$what: ${e.getMessage}")
      assert(new ZarrStore(root.toString, Map.empty, None, Some(false)).arrayMeta("v").shape == Vector(12), what)
    }
  }

  test("a corrupt tail shard fails the coordinate tail append with its key; no shape grows") {
    val base = Files.createTempDirectory("zarrwritercoordtail")
    for ((what, crc, corrupt) <- corruptions) {
      val root = base.resolve(what.replace(' ', '-'))
      val dir = ZarrStoreWriterV3.writeGroup(root.toString)
      ZarrStoreWriterV3.writeArray(dir, "v", Vector(80), Vector(8), "int64", i => i * 3 + 7.0, dims = Some(Vector("t")))
      // coordinate shard c/1 holds inner chunks 3 and 4 (cells 48..79), its
      // third slot is empty: the append copies both and adds chunk 5
      ZarrStoreWriterV3.writeShardedArray(
        dir, "t", Vector(80), Vector(48), Vector(16), "int64", _.toDouble, dims = Some(Vector("t")), innerCodecs = Seq("zstd")
      )
      ZarrStoreWriterV3.consolidate(dir)
      if (!crc) dropIndexCrc(dir, "t")
      corrupt(dir.resolve("t").resolve("c").resolve("1"), 3)
      val e = intercept[Exception] {
        spark.range(80, 96).selectExpr("id as t", "id * 3 + 7 as value").write.format("zarr")
          .option("path", root.toString).option("array", "v").option("append.dim", "t")
          .option("coord.deferred.threshold", "10").mode("append").save()
      }
      // the boundary decode of the axis end reads inner chunk 4 through the
      // same object first: a truncated object or a bad crc fails there, the
      // out-of-range entry of chunk 3 only in the copy
      val typed = corruptKey(e)
      val key = if (what == "offset out of range") "c/1" else "c/4"
      assert(typed.exists(c => c.chunkKey == key && c.arrayDir.endsWith("/t")), s"$what: ${e.getMessage}")
      val store = new ZarrStore(root.toString, Map.empty, None, Some(false))
      assert(store.arrayMeta("v").shape == Vector(80) && store.arrayMeta("t").shape == Vector(80), what)
    }
  }
}
