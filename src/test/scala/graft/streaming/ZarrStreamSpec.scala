package graft.streaming

import graft.SparkTester
import graft.model.KeptSet
import graft.sources.Coord
import graft.sources.zarr.{ZarrStore, ZarrStoreWriter}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.ByteBuffer
import java.nio.ByteOrder.LITTLE_ENDIAN
import java.nio.file.Files

/** Streaming zarr source: offsets are the stream-dim extent, re-read from
  * unconsolidated metadata each poll; a growing time axis yields each new
  * index slab exactly once, with coordinate values decoded executor-side
  * from the (also growing) coordinate array. */
class ZarrStreamSpec extends AnyFunSuite with SparkTester {

  test("micro-batches follow a growing time axis; each cell exactly once") {
    val root = Files.createTempDirectory("zarrstream").toString
    val dir = ZarrStoreWriter.writeGroup(root)
    ZarrStoreWriter.writeArray(
      dir, "v", Vector(8, 4), Vector(4, 4), "<f8",
      flat => flat.toDouble,
      dims = Some(Vector("time", "lat"))
    )
    ZarrStoreWriter.writeCoord(dir, "lat", Coord.Ints(Array.tabulate(4)(identity)))
    // growable time coordinate: chunks of 4 so appends add whole chunks
    val td = dir.resolve("time")
    Files.createDirectories(td)
    def timeMeta(n: Int): Unit =
      Files.writeString(
        td.resolve(".zarray"),
        ZarrStoreWriter.zarrayJson(Vector(n), Vector(4), "<i4", None, Some(0.0))
      )
    def timeChunk(c: Int): Unit = {
      val b = ByteBuffer.allocate(16).order(LITTLE_ENDIAN)
      (0 until 4).foreach(i => b.putInt(i * 4, c * 4 + i))
      Files.write(td.resolve(c.toString), b.array())
    }
    timeMeta(8)
    Files.writeString(td.resolve(".zattrs"), ZarrStoreWriter.zattrsJson(Some(Vector("time"))))
    timeChunk(0); timeChunk(1)
    ZarrStoreWriter.consolidate(dir)

    val stream = spark.readStream.format("zarr")
      .option("path", root).option("array", "v").option("stream.dim", "time")
      .load()
    val q = stream.writeStream.format("memory").queryName("zstream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("zstream").count() == 32)

      // GROW the store: time 8 -> 12 (one new chunk on both arrays); the
      // consolidated .zmetadata is now stale on purpose — streaming must
      // poll live metadata
      Files.writeString(
        dir.resolve("v").resolve(".zarray"),
        ZarrStoreWriter.zarrayJson(Vector(12, 4), Vector(4, 4), "<f8", None, Some(0.0))
      )
      val vb = ByteBuffer.allocate(16 * 8).order(LITTLE_ENDIAN)
      var i = 0
      for (t <- 8 until 12; la <- 0 until 4) { vb.putDouble(i * 8, (t * 4 + la).toDouble); i += 1 }
      Files.write(dir.resolve("v").resolve("2.0"), vb.array())
      timeMeta(12)
      timeChunk(2)

      q.processAllAvailable()
      val rows = spark.table("zstream").collect()
      assert(rows.length == 48)
      val m = rows.map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      assert(m.size == 48, "duplicate (time, lat) cells emitted")
      for (t <- 0 until 12; la <- 0 until 4)
        assert(m((t, la)) == (t * 4 + la).toDouble, s"cell ($t, $la)")
    } finally q.stop()
  }

  test("stream.dim is validated: unknown dim and filtered dim reject") {
    val root = Files.createTempDirectory("zarrstreambad").toString
    val dir = ZarrStoreWriter.writeGroup(root)
    ZarrStoreWriter.writeArray(
      dir, "v", Vector(4, 2), Vector(2, 2), "<f8", f => f.toDouble,
      dims = Some(Vector("time", "lat"))
    )
    ZarrStoreWriter.consolidate(dir)
    val bad = spark.readStream.format("zarr")
      .option("path", root).option("array", "v").option("stream.dim", "nope")
      .load()
    val ex = intercept[Exception] {
      val q = bad.writeStream.format("memory").queryName("zbad").start()
      try q.processAllAvailable()
      finally q.stop()
    }
    assert(ex.getMessage != null)
  }

  test("offsets: a well-formed offset round-trips; one without an extent throws") {
    val root = Files.createTempDirectory("zarrstreamoffset").toString
    val dir = ZarrStoreWriter.writeGroup(root)
    ZarrStoreWriter.writeArray(
      dir, "v", Vector(4, 2), Vector(2, 2), "<f8", f => f.toDouble,
      dims = Some(Vector("time", "lat"))
    )
    ZarrStoreWriter.consolidate(dir)
    val stream = new ZarrMicroBatchStream(
      new ZarrStore(root), "v", "time", new StructType(),
      Vector(KeptSet.Range(0, 4), KeptSet.Range(0, 2)), Vector(Coord.Index(4), Coord.Index(2)),
      Map.empty, 1024L
    )
    val off = ZarrStreamOffset(12L)
    assert(stream.deserializeOffset(off.json()) == off)
    val e = intercept[IllegalArgumentException](stream.deserializeOffset("{}"))
    assert(e.getMessage.contains("{}"), e.getMessage)
  }

  test("structured values stream through the columnar reader, fill records and batch resets included") {
    // 24 x 400 = 9,600 cells in ONE micro-batch partition: the struct
    // vector crosses two 4,096-row batch resets
    val root = Files.createTempDirectory("zarrstreamrec").toString
    val dir = ZarrStoreWriter.writeGroup(root)
    ZarrStoreWriter.writeStructArray(
      dir, "rec", Vector(24, 400), Vector(8, 100),
      """[["id", "<i4"], ["pos", ">f4", [2]], ["tag", "|S3"]]""",
      f => Seq(f.toInt, Seq(f * 0.5f, -f.toFloat), s"t${f % 7}"),
      dims = Some(Vector("time", "x")), compressor = Some("zlib"),
      fillBase64 = Some(java.util.Base64.getEncoder.encodeToString(
        Array[Byte](7, 0, 0, 0) ++ new Array[Byte](8) ++ "fil".getBytes("UTF-8")
      ))
    )
    ZarrStoreWriter.consolidate(dir)
    Files.delete(java.nio.file.Paths.get(root, "rec", "1.2")) // time 8..15, x 200..299
    val stream = spark.readStream.format("zarr")
      .option("path", root).option("array", "rec").option("stream.dim", "time")
      .load()
    val q = stream.writeStream.format("memory").queryName("zrec").start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val scan = plan.collectFirst {
        case m: org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec => m
      }.get
      assert(scan.supportsColumnar)
      val streamed = spark.table("zrec").orderBy("time", "x").collect().toSeq
      val batch = new graft.api.ZarrDataReader(spark, root)
        .readArray("rec").orderBy("time", "x").collect().toSeq
      assert(streamed.length == 9600)
      assert(streamed == batch)
      val fill = streamed(10 * 400 + 250).getStruct(2)
      assert(fill.getInt(0) == 7 && fill.getSeq[Float](1) == Seq(0f, 0f) && fill.getString(2) == "fil")
      val cell = streamed(3 * 400 + 5).getStruct(2)
      assert(cell.getInt(0) == 1205 && cell.getSeq[Float](1) == Seq(602.5f, -1205f) && cell.getString(2) == "t1")
    } finally q.stop()
  }

  test("end-to-end: windowed aggregate with watermark over a live ZarrAppend loop") {
    import org.apache.spark.sql.functions._
    // SINK-create a timestamped store (ts minutes 0..7, chunks 4), then
    // APPEND minutes 8..15 while a watermarked tumbling-window aggregate
    // streams it. Append mode only finalizes windows whose end <= the
    // watermark (max event time - 1 minute); results are pinned exactly
    // at both checkpoints — the full loop: ZarrSink -> ZarrAppend ->
    // ZarrStreamSource -> event-time state, every window exact.
    val root = Files.createTempDirectory("zarrstreamwin").toString
    def batch(lo: Int, hi: Int) =
      spark.range(lo, hi).selectExpr(
        "timestamp_seconds(1700000040 + id * 60) as ts",
        "cast(id * id as double) as value"
      )
    batch(0, 8).write.format("zarr")
      .option("path", root).option("array", "v").option("chunks", "4")
      .mode("append").save()

    val agg = spark.readStream.format("zarr")
      .option("path", root).option("array", "v").option("stream.dim", "ts")
      .load()
      .withWatermark("ts", "1 minutes")
      .groupBy(window(col("ts"), "2 minutes").as("w"))
      .agg(sum("value").as("s"))
      .select(col("w.start").cast("long").as("start"), col("s"))
    val q = agg.writeStream.outputMode("append").format("memory").queryName("zwin").start()
    try {
      q.processAllAvailable()
      def expected(upTo: Int): Set[(Long, Double)] =
        (0 until upTo by 2).map { k =>
          (1700000040L + k * 60L, (k.toLong * k + (k + 1L) * (k + 1L)).toDouble)
        }.toSet
      // watermark = minute 7 - 1 = 6: windows [0,2) [2,4) [4,6) finalized
      val first = spark.table("zwin").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(first == expected(6), s"got $first")

      batch(8, 16).write.format("zarr")
        .option("path", root).option("array", "v")
        .option("append.dim", "ts").option("append.batch_id", "2")
        .mode("append").save()
      q.processAllAvailable()
      // watermark = minute 15 - 1 = 14: windows through [12,14) finalized
      val second = spark.table("zwin").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(second == expected(14), s"got $second")
    } finally q.stop()
  }
}
