package graft.sources.zarr

import graft.SparkTester
import graft.sources.Coord
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Append writes (`append.dim`): extend an existing array along its
  * leading dimension — chunk-aligned outer slabs, idempotent by batch id,
  * zone maps merged, coordinate axis extended. Pairs with the streaming
  * source for an end-to-end growing-store loop. */
class ZarrAppendSpec extends AnyFunSuite with SparkTester {

  private def writeBatch(root: String, lo: Int, hi: Int, batchId: Option[Long] = None): Unit = {
    // full (t x s) cross product so the s axis always matches the store's
    var w = spark.range(lo, hi).selectExpr("cast(id as int) as t")
      .crossJoin(spark.range(0, 4).selectExpr("cast(id as int) as s"))
      .withColumn("value", (col("t") * 4 + col("s")).cast("long"))
      .write.format("zarr")
      .option("path", root).option("array", "v").option("chunks", "4,4")
      .option("append.dim", "t")
    batchId.foreach(id => w = w.option("append.batch_id", id.toString))
    w.mode("append").save()
  }

  private def read(root: String): DataFrame =
    spark.read.format("zarr").option("path", root).option("array", "v").load()

  test("chunk-aligned appends extend shape, coords, values, and zone maps") {
    val root = Files.createTempDirectory("zarrappend").toString
    writeBatch(root, 0, 8, Some(1L)) // creates the store (first batch)
    assert(read(root).count() == 32)
    writeBatch(root, 8, 12, Some(2L)) // appends one t-chunk
    val df = read(root)
    assert(df.count() == 48)
    val rows = df.collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    for (t <- 0 until 12; s <- 0 until 4) assert(rows((t, s)) == t * 4L + s, s"cell ($t, $s)")
    // zone maps merged: a predicate on the appended band prunes old chunks
    val store = new ZarrStore(root, Map.empty, None, None)
    val doc = ZarrChunkStats.parse(store.arrayMeta("v").attrs(ZarrChunkStats.AttrKey)).get
    assert(doc.nChunks == 3 && doc.written == 3)
    val pruned = spark.read.format("zarr")
      .option("path", root).option("array", "v")
      .option("partition.target.cells", "1")
      .load()
      .filter(col("value") >= 40L)
    assert(pruned.rdd.getNumPartitions == 1)
    assert(pruned.count() == 8)
  }

  test("deferred append over fixed |S and <U coordinate axes: exact padded cells") {
    for (dtype <- Seq("|S6", "<U6")) {
      val root = Files.createTempDirectory("zarrappfix").toString
      val dir = java.nio.file.Paths.get(root)
      ZarrStoreWriter.writeArray(
        dir, "v", Vector(6), Vector(2), "<i8", i => (i * 10).toDouble,
        dims = Some(Vector("t"))
      )
      ZarrStoreWriter.writeStringArray(
        dir, "t", Vector(6), Vector(4), dtype, i => f"st$i%03d",
        dims = Some(Vector("t"))
      )
      // deferral forced below the extent: the |S tail chunk (cells 4-5 of
      // chunk 1) is read-modified-rewritten with exact padded cells
      spark.range(6, 10)
        .selectExpr("concat('st', lpad(cast(id as string), 3, '0')) as t", "id * 10 as value")
        .write.format("zarr")
        .option("path", root).option("array", "v")
        .option("append.dim", "t").option("coord.deferred.threshold", "2")
        .mode("append").save()
      val store = new ZarrStore(root, Map.empty, None, None)
      assert(store.arrayMeta("t").shape.head == 10, dtype)
      val rows = read(root).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows.size == 10, dtype)
      (0 until 10).foreach(i => assert(rows(f"st$i%03d") == i * 10L, s"$dtype st$i%03d"))
      // oversize cell refuses loudly (truncation would corrupt the axis)
      val e = intercept[Exception] {
        spark.range(0, 1)
          .selectExpr("'stzzz-way-too-long' as t", "id as value") // sorts after st009, overflows |S6
          .write.format("zarr")
          .option("path", root).option("array", "v")
          .option("append.dim", "t").option("coord.deferred.threshold", "2")
          .mode("append").save()
      }
      assert(e.getMessage.contains("overflow"), s"$dtype: ${e.getMessage}")
    }
  }

  test("deferred append over a uint64 coordinate axis: exact past 2^63") {
    val root = Files.createTempDirectory("zarrappu8").toString
    val dir = java.nio.file.Paths.get(root)
    ZarrStoreWriter.writeArray(
      dir, "v", Vector(6), Vector(3), "<i8", i => (i * 10).toDouble,
      dims = Some(Vector("t"))
    )
    // coord values near 1e15 (exact in the double generator)
    ZarrStoreWriter.writeArray(
      dir, "t", Vector(6), Vector(4), "<u8", i => (1.0e15 + i),
      dims = Some(Vector("t"))
    )
    // append values PAST Long.MaxValue — only exact via the decimal path
    val big = java.math.BigInteger.valueOf(Long.MaxValue)
    val t0 = big.add(java.math.BigInteger.valueOf(2)) // 2^63 + 1
    val t1 = big.add(java.math.BigInteger.valueOf(3))
    spark.range(0, 2)
      .selectExpr(s"CAST('$t0' AS DECIMAL(20,0)) + CAST(id AS DECIMAL(20,0)) as t", "id + 100 as value")
      .write.format("zarr")
      .option("path", root).option("array", "v")
      .option("append.dim", "t").option("coord.deferred.threshold", "2")
      .mode("append").save()
    // values past 2^63 need the DEFERRED decimal read (the eager coord
    // path deliberately falls back to positional there — documented)
    val rows = spark.read.format("zarr")
      .option("path", root).option("array", "v")
      .option("coord.deferred.threshold", "2")
      .load()
      .collect()
      .map(r => r.getDecimal(0).toBigInteger.toString -> r.getLong(1)).toMap
    assert(rows.size == 8)
    (0 until 6).foreach(i => assert(rows((1000000000000000L + i).toString) == i * 10L))
    assert(rows(t0.toString) == 100L && rows(t1.toString) == 101L)
    // raw-bits cell encode: reject out-of-range / fractional directly
    val buf = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val u8 = ZDtype.parse("<u8")
    intercept[IllegalArgumentException] {
      ZDtype.putUnsigned64(u8, buf, 0, new java.math.BigDecimal("18446744073709551616")) // 2^64
    }
    intercept[IllegalArgumentException] {
      ZDtype.putUnsigned64(u8, buf, 0, new java.math.BigDecimal("-1"))
    }
  }

  test("deferred append over a delta-filtered coordinate axis; categorize still refuses") {
    val root = Files.createTempDirectory("zarrappfilt").toString
    val dir = java.nio.file.Paths.get(root)
    ZarrStoreWriter.writeArray(
      dir, "v", Vector(6), Vector(3), "<i8", i => (i * 10).toDouble,
      dims = Some(Vector("t"))
    )
    ZarrStoreWriter.writeArray(
      dir, "t", Vector(6), Vector(4), "<i8", i => (100.0 + i * 5),
      dims = Some(Vector("t")), filters = Seq("delta")
    )
    spark.range(6, 10)
      .selectExpr("100 + id * 5 as t", "id * 10 as value")
      .write.format("zarr")
      .option("path", root).option("array", "v")
      .option("append.dim", "t").option("coord.deferred.threshold", "2")
      .mode("append").save()
    // the rebuilt tail chunk and the new chunk re-encoded THROUGH delta:
    // every cell round-trips exactly
    val store = new ZarrStore(root, Map.empty, None, None)
    assert(store.arrayMeta("t").shape.head == 10)
    val rows = read(root).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 10)
    (0 until 10).foreach(i => assert(rows(100L + i * 5) == i * 10L, s"t=${100 + i * 5}"))
    // a filter with no write path (categorize) refuses loudly
    val root2 = Files.createTempDirectory("zarrappcat").toString
    val dir2 = java.nio.file.Paths.get(root2)
    ZarrStoreWriter.writeArray(
      dir2, "v", Vector(4), Vector(2), "<i8", i => i.toDouble,
      dims = Some(Vector("t"))
    )
    ZarrStoreWriter.writeStringArray(
      dir2, "t", Vector(4), Vector(2), "|S4", i => s"l$i",
      dims = Some(Vector("t")),
      filters = Seq("""{"id": "categorize", "labels": ["l0", "l1", "l2", "l3", "l4", "l5"], "astype": "|u1"}""")
    )
    val e = intercept[Exception] {
      spark.range(4, 6)
        .selectExpr("concat('l', cast(id as string)) as t", "id as value")
        .write.format("zarr")
        .option("path", root2).option("array", "v")
        .option("append.dim", "t").option("coord.deferred.threshold", "2")
        .mode("append").save()
    }
    assert(e.getMessage.contains("no write path"), e.getMessage)
  }

  test("append to a delta-filtered VALUE array re-encodes slabs through the chain") {
    val root = Files.createTempDirectory("zarrappvfilt").toString
    val dir = java.nio.file.Paths.get(root)
    ZarrStoreWriter.writeArray(
      dir, "v", Vector(8), Vector(4), "<i8", i => (1000.0 + i * 7),
      dims = Some(Vector("t")), filters = Seq("delta")
    )
    ZarrStoreWriter.writeArray(
      dir, "t", Vector(8), Vector(4), "<i8", i => i.toDouble,
      dims = Some(Vector("t"))
    )
    spark.range(8, 16)
      .selectExpr("id as t", "1000 + id * 7 as value")
      .write.format("zarr")
      .option("path", root).option("array", "v")
      .option("append.dim", "t")
      .mode("append").save()
    val rows = read(root).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 16)
    (0 until 16).foreach(i => assert(rows(i.toLong) == 1000L + i * 7, s"t=$i"))
    // categorize-filtered STRING value arrays: in-vocabulary appends write
    // per-chunk label codes; out-of-vocabulary values refuse BEFORE any
    // byte lands (they would encode 0 and decode '' — silent loss)
    val root2 = Files.createTempDirectory("zarrappvstr").toString
    val dir2 = java.nio.file.Paths.get(root2)
    ZarrStoreWriter.writeStringArray(
      dir2, "v", Vector(4), Vector(2), "|O", i => s"w$i",
      dims = Some(Vector("t")),
      filters = Seq("""{"id": "categorize", "labels": ["w0", "w1", "w2", "w3"], "astype": "|u1"}""")
    )
    ZarrStoreWriter.writeArray(
      dir2, "t", Vector(4), Vector(2), "<i8", i => i.toDouble,
      dims = Some(Vector("t"))
    )
    val e = intercept[Exception] {
      spark.range(4, 6)
        .selectExpr("id as t", "concat('w', cast(id as string)) as value") // w4, w5: unknown labels
        .write.format("zarr")
        .option("path", root2).option("array", "v")
        .option("append.dim", "t")
        .mode("append").save()
    }
    assert(e.getMessage.contains("not in the categorize labels"), e.getMessage)
    // nothing landed: the store still reads the original 4 cells
    assert(read(root2).count() == 4)
    // in-vocabulary append succeeds and round-trips through the codes
    spark.range(4, 8)
      .selectExpr("id as t", "concat('w', cast(3 - (id - 4) as string)) as value") // w3,w2,w1,w0
      .write.format("zarr")
      .option("path", root2).option("array", "v")
      .option("append.dim", "t")
      .mode("append").save()
    val strRows = read(root2).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(strRows.size == 8)
    (0 until 4).foreach(i => assert(strRows(i.toLong) == s"w$i", s"old t=$i"))
    (4 until 8).foreach(i => assert(strRows(i.toLong) == s"w${7 - i}", s"new t=$i"))
    // the appended chunks really are CODE bytes (u1 per cell), not vlen
    val chunk2 = Files.readAllBytes(dir2.resolve("v").resolve("2"))
    val decomp = ZarrCodec.decompress(
      new ZarrStore(root2, Map.empty, None, None).arrayMeta("v").compressor, chunk2, 2
    )
    assert(decomp.length == 2, s"expected 2 one-byte codes, got ${decomp.length} bytes")
    assert(decomp.toSeq == Seq[Byte](4, 3)) // w3 -> code 4, w2 -> code 3
  }

  test("quantize append applies the REAL transform; unwritable filter configs reject early") {
    val root = Files.createTempDirectory("zarrappquant").toString
    val dir = java.nio.file.Paths.get(root)
    // digits=1 -> binary scale 2^ceil(log2(10)) = 16; the generator grid
    // i*0.5 is exactly representable, so existing cells are unchanged
    ZarrStoreWriter.writeArray(
      dir, "v", Vector(4), Vector(2), "<f8", i => i * 0.5,
      dims = Some(Vector("t")),
      filters = Seq("""{"id": "quantize", "digits": 1, "dtype": "<f8"}""")
    )
    ZarrStoreWriter.writeArray(
      dir, "t", Vector(4), Vector(2), "<i8", i => i.toDouble,
      dims = Some(Vector("t"))
    )
    spark.range(4, 6)
      .selectExpr("id as t", "CAST(CASE WHEN id = 4 THEN 0.3 ELSE 0.7 END AS DOUBLE) as value")
      .write.format("zarr")
      .option("path", root).option("array", "v")
      .option("append.dim", "t")
      .mode("append").save()
    val rows = read(root).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // appended values are QUANTIZED on store: round(16x)/16, not raw
    assert(rows(4L) == 0.3125 && rows(5L) == 0.6875, rows)
    (0 until 4).foreach(i => assert(rows(i.toLong) == i * 0.5))
    // bitround unit: keepbits=8 zeroes the dropped mantissa bits (round-to-nearest)
    val bb = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putDouble(0, 0.3)
    val enc = ZarrFilters.encode(
      """{"id": "bitround", "keepbits": 8}""", ZDtype.parse("<f8"), bb.array()
    )
    val got = java.nio.ByteBuffer.wrap(enc).order(java.nio.ByteOrder.LITTLE_ENDIAN).getDouble(0)
    val raw = java.lang.Double.doubleToRawLongBits(got)
    assert((raw & ((1L << 44) - 1)) == 0L, f"dropped mantissa bits not zero: $raw%x")
    assert(math.abs(got - 0.3) < 0.3 / 256, s"bitround moved too far: $got")
    // unwritable configs reject at validateWritable, with the config named
    val f8 = ZDtype.parse("<f8"); val i8 = ZDtype.parse("<i8")
    for (
      (cfg, dt) <- Seq(
        ("""{"id": "delta", "dtype": "<i8", "astype": "<i4"}""", i8),
        ("""{"id": "quantize", "dtype": "<f8"}""", f8), // digits missing
        ("""{"id": "quantize", "digits": 2, "dtype": "<i8"}""", i8), // non-float
        ("""{"id": "quantize", "digits": 2, "dtype": "<f8", "astype": "<f4"}""", f8), // retyping
        ("""{"id": "bitround", "dtype": "<f8"}""", f8) // keepbits missing
      )
    ) {
      val e = intercept[IllegalArgumentException](ZarrFilters.validateWritable(cfg, dt))
      assert(e.getMessage.contains("not writable"), s"$cfg: ${e.getMessage}")
    }
    // and the APPEND precheck runs it BEFORE any write: patch an
    // astype-retyping delta into the store's .zarray, then append
    val za = dir.resolve("v").resolve(".zarray")
    Files.writeString(
      za,
      Files.readString(za).replace(
        """"filters": [{"id": "quantize", "digits": 1, "dtype": "<f8"}]""",
        """"filters": [{"id": "delta", "dtype": "<f8", "astype": "<f4"}]"""
      )
    )
    val e = intercept[IllegalArgumentException] {
      spark.range(6, 8)
        .selectExpr("id as t", "cast(id as double) as value")
        .write.format("zarr")
        .option("path", root).option("array", "v")
        .option("append.dim", "t")
        .mode("append").save()
    }
    assert(e.getMessage.contains("not writable"), e.getMessage)
  }

  test("replayed batch ids are a no-op; stale ids too") {
    val root = Files.createTempDirectory("zarrappend2").toString
    writeBatch(root, 0, 4, Some(1L))
    writeBatch(root, 4, 8, Some(2L))
    assert(read(root).count() == 32)
    writeBatch(root, 4, 8, Some(2L)) // exact replay
    assert(read(root).count() == 32)
    writeBatch(root, 0, 4, Some(1L)) // stale replay
    assert(read(root).count() == 32)
  }

  test("misaligned extent, non-leading dim, backdated values all reject") {
    val root = Files.createTempDirectory("zarrappend3").toString
    spark.range(0, 6)
      .selectExpr("cast(id as int) as t", "cast(0 as int) as s", "id as value")
      .write.format("zarr")
      .option("path", root).option("array", "v").option("chunks", "4,1")
      .mode("append").save()
    val more = spark.range(6, 10)
      .selectExpr("cast(id as int) as t", "cast(0 as int) as s", "id as value")
    val e1 = intercept[IllegalArgumentException] {
      more.write.format("zarr").option("path", root).option("array", "v")
        .option("append.dim", "t").mode("append").save()
    }
    assert(e1.getMessage.contains("chunk boundary"))
    val e2 = intercept[IllegalArgumentException] {
      more.write.format("zarr").option("path", root).option("array", "v")
        .option("append.dim", "s").mode("append").save()
    }
    assert(e2.getMessage.contains("FIRST dimension"))
    // aligned store, but values sort before the axis end
    val root2 = Files.createTempDirectory("zarrappend4").toString
    spark.range(0, 8)
      .selectExpr("cast(id as int) as t", "cast(0 as int) as s", "id as value")
      .write.format("zarr")
      .option("path", root2).option("array", "v").option("chunks", "4,1")
      .mode("append").save()
    val e3 = intercept[IllegalArgumentException] {
      spark.range(5, 9)
        .selectExpr("cast(id as int) as t", "cast(0 as int) as s", "id as value")
        .write.format("zarr").option("path", root2).option("array", "v")
        .option("append.dim", "t").mode("append").save()
    }
    assert(e3.getMessage.contains("strictly after"))
  }

  test("ragged slab bounds exclude padding; crash-window replay fails loudly") {
    val root = Files.createTempDirectory("zarrappend5").toString
    writeBatch(root, 0, 8, Some(1L))
    // ragged slab: 2 new t values onto a chunk-4 grid -> edge chunk with
    // 2 of 4 t-cells in shape; its bounds must not include the fill 0
    spark.range(8, 10).selectExpr("cast(id as int) as t")
      .crossJoin(spark.range(0, 4).selectExpr("cast(id as int) as s"))
      .withColumn("value", (col("t") * 4 + col("s")).cast("long"))
      .write.format("zarr")
      .option("path", root).option("array", "v").option("chunks", "4,4")
      .option("append.dim", "t").option("append.batch_id", "2")
      .mode("append").save()
    val store = new ZarrStore(root, Map.empty, None, None)
    val doc = ZarrChunkStats.parse(store.arrayMeta("v").attrs(ZarrChunkStats.AttrKey)).get
    assert(doc.boundsI(2L).contains((32L, 39L)))
    assert(read(root).count() == 40)
    // crash window pinned by the commit ORDER (stats, shape, batch id
    // LAST): if the writer dies after the shape write but before the batch
    // id lands, the slab is visible and unrecorded — the replay must fail
    // LOUDLY (strictly-after violation), never no-op away the batch.
    // Simulate by rolling the recorded id back to the prior batch.
    val zattrsPath = new org.apache.hadoop.fs.Path(store.arrayDir("v"), ".zattrs")
    val raw = ZarrFileIO.readStringIfExists(zattrsPath, Map.empty).get
    val rolled = raw.replace("\"" + ZarrAppend.BatchAttrKey + "\": 2", "\"" + ZarrAppend.BatchAttrKey + "\": 1")
    assert(rolled != raw, s"could not roll back batch id in: $raw")
    ZarrFileIO.writeString(zattrsPath, Map.empty, rolled)
    val e = intercept[IllegalArgumentException] {
      spark.range(8, 10).selectExpr("cast(id as int) as t")
        .crossJoin(spark.range(0, 4).selectExpr("cast(id as int) as s"))
        .withColumn("value", (col("t") * 4 + col("s")).cast("long"))
        .write.format("zarr")
        .option("path", root).option("array", "v").option("chunks", "4,4")
        .option("append.dim", "t").option("append.batch_id", "2")
        .mode("append").save()
    }
    assert(e.getMessage.contains("chunk boundary") || e.getMessage.contains("strictly after"), e.getMessage)
  }

  test("deferred numeric append dim: tail boundary decode + in-place coord extension") {
    val root = Files.createTempDirectory("zarrappenddef").toString
    // 40-value long axis written through the DISTRIBUTED coord path
    // (max_coord_values 10), coord chunks of 16 -> chunk files 0,1,2 with
    // the tail chunk holding 8 of 16 cells. Value chunks 8: extent 40 on a
    // boundary.
    spark.range(0, 40).selectExpr("id as t", "id * 3 + 7 as value")
      .write.format("zarr")
      .option("path", root).option("array", "v").option("chunks", "8")
      .option("max_coord_values", "10").option("coord_chunk_values", "16")
      .mode("append").save()
    // append 16 values with the deferral threshold forced below the
    // extent: the axis never materializes; the partial coord chunk 2 is
    // read-modified-rewritten and chunk 3 appended
    spark.range(40, 56).selectExpr("id as t", "id * 3 + 7 as value")
      .write.format("zarr")
      .option("path", root).option("array", "v")
      .option("append.dim", "t").option("coord.deferred.threshold", "10")
      .mode("append").save()
    // coord array: shape grew to 56, chunk 3 exists
    val store = new ZarrStore(root, Map.empty, None, None)
    val cm = store.arrayMeta("t")
    assert(cm.shape.head == 56 && cm.chunks.head == 16)
    assert(ZarrFileIO.exists(new org.apache.hadoop.fs.Path(store.arrayDir("t"), "3"), Map.empty))
    // eager read: every cell exact
    val rows = read(root).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 56)
    (0L until 56L).foreach(t => assert(rows(t) == t * 3 + 7, s"t=$t"))
    // deferred read over the grown axis: same rows, range pruning works
    val dfd = spark.read.format("zarr")
      .option("path", root).option("array", "v")
      .option("coord.deferred.threshold", "10")
      .load()
    assert(dfd.count() == 56)
    assert(dfd.filter(col("t") >= 44L).count() == 12)
    // backdated deferred append fails loudly off the boundary-decoded tail
    val e = intercept[IllegalArgumentException] {
      spark.range(30, 38).selectExpr("id as t", "id * 3 + 7 as value")
        .write.format("zarr")
        .option("path", root).option("array", "v")
        .option("append.dim", "t").option("coord.deferred.threshold", "10")
        .mode("append").save()
    }
    assert(e.getMessage.contains("strictly after"), e.getMessage)
  }

  test("deferred string append dim: vlen tail chunks extend in place") {
    val root = Files.createTempDirectory("zarrappenddefs").toString
    spark.range(0, 40)
      .selectExpr("concat('lab', lpad(cast(id as string), 3, '0')) as t", "id as value")
      .write.format("zarr")
      .option("path", root).option("array", "v").option("chunks", "8")
      .option("max_coord_values", "10").option("coord_chunk_values", "16")
      .mode("append").save()
    spark.range(40, 56)
      .selectExpr("concat('lab', lpad(cast(id as string), 3, '0')) as t", "id as value")
      .write.format("zarr")
      .option("path", root).option("array", "v")
      .option("append.dim", "t").option("coord.deferred.threshold", "10")
      .mode("append").save()
    val rows = read(root).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.size == 56)
    (0 until 56).foreach(i => assert(rows(f"lab$i%03d") == i.toLong, s"label lab$i%03d"))
    // deferred read with lexicographic pruning over the grown label axis
    val dfd = spark.read.format("zarr")
      .option("path", root).option("array", "v")
      .option("coord.deferred.threshold", "10")
      .load()
    assert(dfd.filter(col("t") >= "lab048").count() == 8)
  }

  test("deferred NON-append dims shuffle-join a distributed ordinal map") {
    val root = Files.createTempDirectory("zarrappenddefn").toString
    writeBatch(root, 0, 8)
    // threshold 2 defers BOTH axes: t takes the boundary-decode append
    // path, s becomes an executor-decoded (value, ordinal) join map
    spark.range(8, 12).selectExpr("cast(id as int) as t")
      .crossJoin(spark.range(0, 4).selectExpr("cast(id as int) as s"))
      .withColumn("value", (col("t") * 4 + col("s")).cast("long"))
      .write.format("zarr")
      .option("path", root).option("array", "v")
      .option("append.dim", "t").option("coord.deferred.threshold", "2")
      .mode("append").save()
    val df = read(root)
    assert(df.count() == 48)
    val rows = df.collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    for (t <- 0 until 12; s <- 0 until 4) assert(rows((t, s)) == t * 4L + s, s"cell ($t, $s)")
    // a row with an s value the axis does not have still rejects loudly
    // through the coverage count (the inner join drops it)
    val e = intercept[IllegalArgumentException] {
      spark.range(12, 16).selectExpr("cast(id as int) as t")
        .crossJoin(spark.range(0, 5).selectExpr("cast(id as int) as s")) // s=4 unknown
        .withColumn("value", (col("t") * 4 + col("s")).cast("long"))
        .write.format("zarr")
        .option("path", root).option("array", "v")
        .option("append.dim", "t").option("coord.deferred.threshold", "2")
        .mode("append").save()
    }
    assert(e.getMessage.contains("axes do not have"), e.getMessage)
  }

  test("deferred STRING non-append dim joins by label; appended cells exact") {
    val root = Files.createTempDirectory("zarrappenddefs").toString
    def batch(lo: Int, hi: Int) =
      spark.range(lo, hi).selectExpr("cast(id as int) as t")
        .crossJoin(spark.range(0, 6).selectExpr("concat('st-', id) as s", "id as sv"))
        .withColumn("value", (col("t") * 6 + col("sv")).cast("long"))
        .drop("sv")
    batch(0, 4).write.format("zarr")
      .option("path", root).option("array", "v").option("chunks", "4,4")
      .mode("append").save()
    batch(4, 8).write.format("zarr")
      .option("path", root).option("array", "v")
      .option("append.dim", "t").option("coord.deferred.threshold", "3")
      .mode("append").save()
    val df = read(root)
    assert(df.count() == 48)
    val rows = df.collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2))).toMap
    for (t <- 0 until 8; s <- 0 until 6) assert(rows((t, s"st-$s")) == t * 6L + s, s"cell ($t, st-$s)")
  }

  test("streaming source picks up appended slabs end-to-end") {
    val root = Files.createTempDirectory("zarrappendstream").toString
    writeBatch(root, 0, 8, Some(1L))
    val stream = spark.readStream.format("zarr")
      .option("path", root).option("array", "v").option("stream.dim", "t")
      .load()
    val q = stream.writeStream.format("memory").queryName("zappend").start()
    try {
      q.processAllAvailable()
      assert(spark.table("zappend").count() == 32)
      writeBatch(root, 8, 12, Some(2L))
      q.processAllAvailable()
      val rows = spark.table("zappend").collect()
      assert(rows.length == 48)
      assert(rows.map(r => (r.getInt(0), r.getInt(1))).distinct.length == 48)
    } finally q.stop()
  }

  private def writeBatchV3(root: String, lo: Int, hi: Int, batchId: Long, extra: Map[String, String] = Map.empty): Unit = {
    var w = spark.range(lo, hi).selectExpr("cast(id as int) as t")
      .crossJoin(spark.range(0, 4).selectExpr("cast(id as int) as s"))
      .withColumn("value", (col("t") * 4 + col("s")).cast("long"))
      .write.format("zarr")
      .option("path", root).option("array", "v").option("chunks", "4,4")
      .option("zarr_format", "3").option("compressor", "zstd")
      .option("append.dim", "t").option("append.batch_id", batchId.toString)
    extra.foreach { case (k, v) => w = w.option(k, v) }
    w.mode("append").save()
  }

  test("v3 appends: single-write metadata commit, zone maps merged, replay no-op") {
    val root = Files.createTempDirectory("zarrappendv3").toString
    writeBatchV3(root, 0, 8, 1L)
    assert(read(root).count() == 32)
    writeBatchV3(root, 8, 12, 2L)
    val df = read(root)
    assert(df.count() == 48)
    val rows = df.collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    for (t <- 0 until 12; s <- 0 until 4) assert(rows((t, s)) == t * 4L + s, s"cell ($t, $s)")
    // one metadata file: shape, stats, and batch id all live in zarr.json
    val store = new ZarrStore(root, Map.empty, None, None)
    val m = store.arrayMeta("v")
    assert(m.v3 && m.shape == Vector(12, 4))
    assert(m.attrs(ZarrAppend.BatchAttrKey).trim == "2")
    val doc = ZarrChunkStats.parse(m.attrs(ZarrChunkStats.AttrKey)).get
    assert(doc.nChunks == 3 && doc.written == 3)
    // merged zone maps prune the old band
    val pruned = spark.read.format("zarr")
      .option("path", root).option("array", "v")
      .option("partition.target.cells", "1")
      .load()
      .filter(col("value") >= 40L)
    assert(pruned.rdd.getNumPartitions == 1 && pruned.count() == 8)
    // replay + stale replay are no-ops
    writeBatchV3(root, 8, 12, 2L)
    writeBatchV3(root, 0, 8, 1L)
    assert(read(root).count() == 48)
    // consolidated view refreshed: a consolidated-only open sees the new shape
    val consolidated = new ZarrStore(root, Map.empty, None, Some(true))
    assert(consolidated.arrayMeta("v").shape == Vector(12, 4))
  }

  test("v3 string values append through the vlen-utf8 chain") {
    val root = Files.createTempDirectory("zarrappendv3s").toString
    def batch(lo: Int, hi: Int, id: Long): Unit =
      spark.range(lo, hi).selectExpr(
          "cast(id as int) as t",
          "concat('w', lpad(cast(id as string), 3, '0')) as value"
        )
        .write.format("zarr")
        .option("path", root).option("array", "v").option("chunks", "5")
        .option("zarr_format", "3")
        .option("append.dim", "t").option("append.batch_id", id.toString)
        .mode("append").save()
    batch(0, 10, 1L)
    batch(10, 15, 2L)
    val got = read(root).orderBy("t").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq == (0 until 15).map(i => (i, f"w$i%03d")))
  }

  test("v3 deferred append dim: coord tail chunks extend through the codec chain") {
    val root = Files.createTempDirectory("zarrappendv3def").toString
    // long axis through the v3 DISTRIBUTED coord path: chunk files c/0..c/2
    spark.range(0, 40).selectExpr("id as t", "id * 3 + 7 as value")
      .write.format("zarr")
      .option("path", root).option("array", "v").option("chunks", "8")
      .option("zarr_format", "3").option("compressor", "zstd")
      .option("max_coord_values", "10").option("coord_chunk_values", "16")
      .mode("append").save()
    spark.range(40, 56).selectExpr("id as t", "id * 3 + 7 as value")
      .write.format("zarr")
      .option("path", root).option("array", "v")
      .option("append.dim", "t").option("coord.deferred.threshold", "10")
      .mode("append").save()
    val store = new ZarrStore(root, Map.empty, None, None)
    val cm = store.arrayMeta("t")
    assert(cm.v3 && cm.shape.head == 56 && cm.chunks.head == 16)
    assert(ZarrFileIO.exists(new org.apache.hadoop.fs.Path(store.arrayDir("t"), "c/3"), Map.empty))
    val rows = read(root).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 56)
    (0L until 56L).foreach(t => assert(rows(t) == t * 3 + 7, s"t=$t"))
    // deferred read over the grown v3 axis, range pruning intact
    val dfd = spark.read.format("zarr")
      .option("path", root).option("array", "v")
      .option("coord.deferred.threshold", "10")
      .load()
    assert(dfd.count() == 56 && dfd.filter(col("t") >= 44L).count() == 12)
  }

  test("streaming source follows sharded v3 appends end-to-end") {
    val root = Files.createTempDirectory("zarrappendv3stream").toString
    def batch(lo: Int, hi: Int, id: Long): Unit =
      spark.range(lo, hi).selectExpr("cast(id as int) as t", "id * 2 as value")
        .write.format("zarr")
        .option("path", root).option("array", "v").option("chunks", "4")
        .option("zarr_format", "3").option("shards", "8")
        .option("append.dim", "t").option("append.batch_id", id.toString)
        .mode("append").save()
    batch(0, 16, 1L)
    val stream = spark.readStream.format("zarr")
      .option("path", root).option("array", "v").option("stream.dim", "t")
      .load()
    val q = stream.writeStream.format("memory").queryName("zv3stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("zv3stream").count() == 16)
      batch(16, 24, 2L) // one new shard object
      q.processAllAvailable()
      val rows = spark.table("zv3stream").collect().map(r => r.getInt(0) -> r.getLong(1))
      assert(rows.length == 24 && rows.toMap.forall { case (t, v) => v == t * 2L })
    } finally q.stop()
  }

  test("v3 sharded append: whole new shard objects, inner-chunk zone maps, alignment contract") {
    val root = Files.createTempDirectory("zarrappendv3sh").toString
    def batch(lo: Int, hi: Int, id: Long): Unit =
      spark.range(lo, hi).selectExpr("cast(id as int) as t", "(id * 7 % 103) as value")
        .write.format("zarr")
        .option("path", root).option("array", "v").option("chunks", "4")
        .option("zarr_format", "3").option("shards", "8")
        .option("append.dim", "t").option("append.batch_id", id.toString)
        .mode("append").save()
    batch(0, 16, 1L) // creates: shards c/0, c/1 (2 shards x 2 inner chunks)
    batch(16, 28, 2L) // appends shard c/2 (full) + c/3 (partial: 1 of 2 inner)
    val store = new ZarrStore(root, Map.empty, None, None)
    val m = store.arrayMeta("v")
    assert(m.v3 && m.shardShape.contains(Vector(8)) && m.shape == Vector(28))
    assert(ZarrFileIO.exists(new org.apache.hadoop.fs.Path(store.arrayDir("v"), "c/2"), Map.empty))
    assert(ZarrFileIO.exists(new org.apache.hadoop.fs.Path(store.arrayDir("v"), "c/3"), Map.empty))
    val rows = read(root).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.size == 28)
    (0 until 28).foreach(t => assert(rows(t) == t * 7L % 103, s"t=$t"))
    // zone maps merged at INNER-chunk granularity across the append
    val doc = ZarrChunkStats.parse(m.attrs(ZarrChunkStats.AttrKey)).get
    assert(doc.nChunks == 7 && doc.written == 7)
    // replay is a no-op
    batch(16, 28, 2L)
    assert(read(root).count() == 28)
    // extent 28 is mid-shard: the next append must refuse until realigned
    val e = intercept[IllegalArgumentException] {
      spark.range(28, 32).selectExpr("cast(id as int) as t", "(id * 7 % 103) as value")
        .write.format("zarr")
        .option("path", root).option("array", "v")
        .option("append.dim", "t").option("append.batch_id", "3")
        .mode("append").save()
    }
    assert(e.getMessage.contains("SHARD boundary"), e.getMessage)
    // ... and the refusal names the recovery lever
    assert(e.getMessage.contains("append.realign=true"), e.getMessage)
  }

  test("append.realign=true absorbs a mid-shard tail: one RMW of the tail object, then aligned") {
    val root = Files.createTempDirectory("zarrrealign").toString
    def batch(lo: Int, hi: Int, id: Long, realign: Boolean = false): Unit = {
      var w = spark.range(lo, hi).selectExpr("cast(id as int) as t", "(id * 7 % 103) as value")
        .write.format("zarr")
        .option("path", root).option("array", "v").option("chunks", "4")
        .option("zarr_format", "3").option("shards", "8")
        .option("append.dim", "t").option("append.batch_id", id.toString)
      if (realign) w = w.option("append.realign", "true")
      w.mode("append").save()
    }
    batch(0, 12, 1L) // extent 12: chunk-aligned, MID-shard (shard c/1 partial: 1 of 2 inner)
    intercept[IllegalArgumentException](batch(12, 20, 2L)) // strands without realign
    batch(12, 20, 2L, realign = true) // absorbs c/1's live chunk + writes c/2
    val store = new ZarrStore(root, Map.empty, None, None)
    assert(store.arrayMeta("v").shape == Vector(20))
    val rows = read(root).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.size == 20)
    (0 until 20).foreach(t => assert(rows(t) == t * 7L % 103, s"t=$t"))
    // zone maps: pre-realign chunks kept their records, new chunks added
    val doc = ZarrChunkStats.parse(store.arrayMeta("v").attrs(ZarrChunkStats.AttrKey)).get
    assert(doc.nChunks == 5 && doc.written == 5)
    // extent 20 is aligned again at the next boundary? 20 % 8 = 4 — still
    // mid-shard; a realigned follow-up lands too (realign is per-append)
    batch(20, 24, 3L, realign = true)
    val rows2 = read(root).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows2.size == 24)
    (0 until 24).foreach(t => assert(rows2(t) == t * 7L % 103, s"t=$t"))
  }

  test("2-D realign: every partial shard on the tail ROW is absorbed, other columns too") {
    val root = Files.createTempDirectory("zarrrealign2d").toString
    // (t x s) grid, chunks (4,4), shards (8,8): s=16 -> TWO shard columns,
    // so a mid-shard extent leaves two partial tail objects to rewrite
    def batch(lo: Int, hi: Int, id: Long, realign: Boolean = false): Unit = {
      var w = spark.range(lo, hi).selectExpr("cast(id as int) as t")
        .crossJoin(spark.range(0, 16).selectExpr("cast(id as int) as s"))
        .selectExpr("t", "s", "cast(t * 16 + s as long) as value")
        .write.format("zarr")
        .option("path", root).option("array", "v")
        .option("chunks", "4,4").option("shards", "8,8")
        .option("zarr_format", "3")
        .option("append.dim", "t").option("append.batch_id", id.toString)
      if (realign) w = w.option("append.realign", "true")
      w.mode("append").save()
    }
    batch(0, 12, 1L) // extent 12: chunk-aligned, mid-shard on BOTH columns of shard row 1
    intercept[IllegalArgumentException](batch(12, 20, 2L))
    batch(12, 20, 2L, realign = true)
    val rows = read(root).collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(rows.size == 20 * 16)
    for (t <- 0 until 20; s <- 0 until 16) assert(rows((t, s)) == t * 16L + s, s"cell ($t, $s)")
    // zone maps continuous across the absorb: 5x4 chunk grid, all written
    val store = new ZarrStore(root, Map.empty, None, None)
    val doc = ZarrChunkStats.parse(store.arrayMeta("v").attrs(ZarrChunkStats.AttrKey)).get
    assert(doc.nChunks == 20 && doc.written == 20)
    // pruning still exact through the rewritten tail objects
    val q = read(root).filter(col("value") >= 300L)
    assert(q.count() == 20)
  }

  test("realign copies vlen STRING chunks byte-for-byte (no decode on the absorb)") {
    val root = Files.createTempDirectory("zarrrealignstr").toString
    def batch(lo: Int, hi: Int, id: Long, realign: Boolean = false): Unit = {
      var w = spark.range(lo, hi)
        .selectExpr("cast(id as int) as t", "concat('v', cast(id as string), 'β') as value")
        .write.format("zarr")
        .option("path", root).option("array", "v")
        .option("chunks", "4").option("shards", "8")
        .option("zarr_format", "3")
        .option("append.dim", "t").option("append.batch_id", id.toString)
      if (realign) w = w.option("append.realign", "true")
      w.mode("append").save()
    }
    batch(0, 12, 1L)
    batch(12, 20, 2L, realign = true)
    val rows = read(root).collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows.size == 20)
    (0 until 20).foreach(t => assert(rows(t) == s"v${t}β", s"t=$t"))
  }

  test("realign parses a LEADING shard index when absorbing an index_location=start tail") {
    val root = Files.createTempDirectory("zarrrealignstart").toString
    val dir = ZarrStoreWriterV3.writeGroup(root)
    // extent 12 (chunk-aligned, mid-shard): c/0 full, c/1 partial w/ one
    // live inner chunk — and the index sits at the START of each object
    ZarrStoreWriterV3.writeShardedArray(
      dir, "v", Vector(12), Vector(8), Vector(4), "int64", i => (i * 5 % 37).toDouble,
      dims = Some(Vector("t")), indexAtEnd = false
    )
    ZarrStoreWriterV3.writeCoord(dir, "t", Coord.Ints(Array.tabulate(12)(identity)))
    ZarrStoreWriterV3.consolidate(dir)
    spark.range(12, 20).selectExpr("cast(id as int) as t", "(id * 5 % 37) as value")
      .write.format("zarr")
      .option("path", root).option("array", "v")
      .option("append.dim", "t").option("append.batch_id", "1")
      .option("append.realign", "true")
      .mode("append").save()
    val rows = read(root).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.size == 20)
    (0 until 20).foreach(t => assert(rows(t) == t * 5L % 37, s"t=$t"))
  }

  test("sharded append honors index_location=start stores (no corrupt shard objects)") {
    val root = Files.createTempDirectory("zarridxstart").toString
    val dir = ZarrStoreWriterV3.writeGroup(root)
    // 12 cells, shard 8 = 2 inner chunks of 4; index at START of the object
    ZarrStoreWriterV3.writeShardedArray(
      dir, "v", Vector(16), Vector(8), Vector(4), "int64", i => (i * 3 % 61).toDouble,
      dims = Some(Vector("t")), indexAtEnd = false
    )
    ZarrStoreWriterV3.writeCoord(dir, "t", Coord.Ints(Array.tabulate(16)(identity)))
    ZarrStoreWriterV3.consolidate(dir)
    assert(read(root).count() == 16)
    spark.range(16, 32).selectExpr("cast(id as int) as t", "(id * 3 % 61) as value")
      .write.format("zarr")
      .option("path", root).option("array", "v")
      .option("append.dim", "t").option("append.batch_id", "1")
      .mode("append").save()
    val rows = read(root).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.size == 32)
    (0 until 32).foreach(t => assert(rows(t) == t * 3L % 61, s"t=$t"))
    // the appended objects carry a LEADING index like the rest of the store
    val store = new ZarrStore(root, Map.empty, None, None)
    assert(!store.arrayMeta("v").shardIndexAtEnd)
  }

  test("deferred append extends a SHARDED coordinate axis in place (tail-shard RMW + new shards)") {
    val root = Files.createTempDirectory("zarrappshcoord").toString
    val dir = ZarrStoreWriterV3.writeGroup(root)
    ZarrStoreWriterV3.writeArray(dir, "v", Vector(40), Vector(8), "int64",
      i => (i * 3 + 7).toDouble, dims = Some(Vector("t")))
    // the COORD array itself is sharded: shape 40, shard 32, inner chunks
    // 16 -> shard c/0 = chunks 0,1 (full), c/1 = chunk 2 (8 of 16 cells)
    ZarrStoreWriterV3.writeShardedArray(dir, "t", Vector(40), Vector(32), Vector(16), "int64",
      i => i.toDouble, dims = Some(Vector("t")))
    ZarrStoreWriterV3.consolidate(dir)
    def append(lo: Int, hi: Int, id: Long): Unit =
      spark.range(lo, hi).selectExpr("id as t", "id * 3 + 7 as value")
        .write.format("zarr")
        .option("path", root).option("array", "v")
        .option("append.dim", "t").option("append.batch_id", id.toString)
        .option("coord.deferred.threshold", "10")
        .mode("append").save()
    // mid-chunk tail: coord chunk 2 merges its 8 existing cells + 8 new
    append(40, 56, 1L)
    val store = new ZarrStore(root, Map.empty, None, None)
    val cm = store.arrayMeta("t")
    assert(cm.shape.head == 56 && cm.shardShape.contains(Vector(32)) && cm.chunks == Vector(16))
    // full-chunk COPY path + a brand-new shard: extent 56 -> chunk 3 is
    // partial, shard c/1 also holds FULL chunk 2 (byte-for-byte copy);
    // newTotal 72 -> chunk 4 lands in new shard object c/2
    append(56, 72, 2L)
    val store2 = new ZarrStore(root, Map.empty, None, None)
    assert(store2.arrayMeta("t").shape.head == 72)
    assert(ZarrFileIO.exists(new org.apache.hadoop.fs.Path(store2.arrayDir("t"), "c/2"), Map.empty))
    val rows = read(root).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 72)
    (0L until 72L).foreach(t => assert(rows(t) == t * 3 + 7, s"t=$t"))
    // deferred read over the grown sharded axis: range pruning still exact
    val dfd = spark.read.format("zarr")
      .option("path", root).option("array", "v")
      .option("coord.deferred.threshold", "10").load()
    assert(dfd.count() == 72 && dfd.filter(col("t") >= 60L).count() == 12)
    // backdated append still refuses off the boundary-decoded tail
    val e = intercept[IllegalArgumentException] { append(60, 80, 3L) }
    assert(e.getMessage.contains("strictly after"), e.getMessage)
  }

  test("sharded coord append: randomized geometries and batch sizes round-trip exactly (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // value chunks fixed at 4 (appends must start chunk-aligned on the
    // value side); the COORD geometry varies freely against it, so batch
    // boundaries land mid-chunk, mid-shard, on-chunk, and on-shard
    val genCase = for {
      chunkLen <- Gen.oneOf(4, 8, 12)
      innerPer <- Gen.oneOf(2, 3)
      n0 <- Gen.choose(1, 10).map(_ * 4)
      batches <- Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, Gen.choose(1, 8).map(_ * 4)))
    } yield (chunkLen, innerPer, n0, batches)
    val prop = Prop.forAll(genCase) { case (chunkLen, innerPer, n0, batches) =>
      val root = Files.createTempDirectory("zarrshcoordprop").toString
      val dir = ZarrStoreWriterV3.writeGroup(root)
      ZarrStoreWriterV3.writeArray(dir, "v", Vector(n0), Vector(4), "int64",
        i => (i * 3 + 7).toDouble, dims = Some(Vector("t")))
      ZarrStoreWriterV3.writeShardedArray(
        dir, "t", Vector(n0), Vector(chunkLen * innerPer), Vector(chunkLen), "int64",
        i => i.toDouble, dims = Some(Vector("t")))
      ZarrStoreWriterV3.consolidate(dir)
      var lo = n0
      batches.zipWithIndex.foreach { case (sz, bi) =>
        spark.range(lo, lo + sz).selectExpr("id as t", "id * 3 + 7 as value")
          .write.format("zarr")
          .option("path", root).option("array", "v")
          .option("append.dim", "t").option("append.batch_id", (bi + 1).toString)
          .option("coord.deferred.threshold", "1")
          .mode("append").save()
        lo += sz
      }
      val rows = read(root).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ok = rows.size == lo && (0L until lo.toLong).forall(t => rows(t) == t * 3 + 7)
      val cm = new ZarrStore(root, Map.empty, None, None).arrayMeta("t")
      ok && cm.shape.head == lo && cm.shardShape.contains(Vector(chunkLen * innerPer))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("sharded coordinate append honors an index_location=start coord store") {
    val root = Files.createTempDirectory("zarrappshcoordstart").toString
    val dir = ZarrStoreWriterV3.writeGroup(root)
    ZarrStoreWriterV3.writeArray(dir, "v", Vector(40), Vector(8), "int64",
      i => (i * 5 % 37).toDouble, dims = Some(Vector("t")))
    ZarrStoreWriterV3.writeShardedArray(dir, "t", Vector(40), Vector(32), Vector(16), "int64",
      i => i.toDouble, dims = Some(Vector("t")), indexAtEnd = false)
    ZarrStoreWriterV3.consolidate(dir)
    spark.range(40, 56).selectExpr("id as t", "(id * 5 % 37) as value")
      .write.format("zarr")
      .option("path", root).option("array", "v")
      .option("append.dim", "t").option("append.batch_id", "1")
      .option("coord.deferred.threshold", "10")
      .mode("append").save()
    val rows = read(root).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 56)
    (0L until 56L).foreach(t => assert(rows(t) == t * 5 % 37, s"t=$t"))
    assert(!new ZarrStore(root, Map.empty, None, None).arrayMeta("t").shardIndexAtEnd)
  }

  test("lossy-filtered store with stats attrs: append drops stats, records lossy_filter") {
    // ADVICE r11: bounds recorded from raw pre-filter values can sit up to
    // half a quantum NARROWER than what quantize stores — an
    // externally-authored store carrying both graft stats attrs and a
    // lossy v2 filter must lose its stats on append (loudly, via the
    // dropped attr), not keep bounds a pruned scan would trust
    val root = Files.createTempDirectory("zarrapplossy").toString
    spark.range(0, 8).selectExpr("id as t", "cast(id as double) * 0.1 as value")
      .write.format("zarr")
      .option("path", root).option("array", "v").option("chunks", "4")
      .option("append.dim", "t")
      .mode("append").save()
    assert(
      new ZarrStore(root, Map.empty, None, None)
        .arrayMeta("v").attrs.contains(ZarrChunkStats.AttrKey)
    )
    val za = java.nio.file.Paths.get(root).resolve("v").resolve(".zarray")
    Files.writeString(
      za,
      Files.readString(za).replace(
        "\"filters\": null",
        """"filters": [{"id": "quantize", "digits": 1, "dtype": "<f8"}]"""
      )
    )
    spark.range(8, 12).selectExpr("id as t", "cast(id as double) * 0.1 as value")
      .write.format("zarr")
      .option("path", root).option("array", "v")
      .option("append.dim", "t")
      .mode("append").save()
    val m = new ZarrStore(root, Map.empty, None, None).arrayMeta("v")
    assert(!m.attrs.contains(ZarrChunkStats.AttrKey), "stale zone maps survived a lossy append")
    assert(
      m.attrs.get(ZarrChunkStats.DroppedAttrKey).exists(_.contains("lossy_filter")),
      m.attrs.get(ZarrChunkStats.DroppedAttrKey)
    )
    // values read back QUANTIZED (round(16x)/16), full scan still correct
    val rows = read(root).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.size == 12)
    (8L until 12L).foreach(t => assert(rows(t) == math.rint(16.0 * t * 0.1) / 16.0, s"t=$t"))
  }

  /** Chunk objects of array `v` (metadata and coordinate arrays excluded). */
  private def chunkObjects(root: String): Set[String] = {
    val dir = java.nio.file.Paths.get(root, "v")
    import scala.jdk.CollectionConverters._
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString).filterNot(_.startsWith(".")).toSet
  }

  private def msgOf(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  /** (t, lat) store: 4 time steps on a descending latitude axis 90 -> -90
    * through 0.0; `v(t, y) = t * 100 + y`. */
  private def descendingStore(lats: Seq[Double]): String = {
    val root = Files.createTempDirectory("zarrappdesc").toString
    val dir = java.nio.file.Paths.get(root)
    val ny = lats.length
    ZarrStoreWriter.writeArray(dir, "v", Vector(4, ny), Vector(2, 3), "<f8", i => (i / ny) * 100.0 + i % ny,
      dims = Some(Vector("t", "lat")))
    ZarrStoreWriter.writeArray(dir, "t", Vector(4), Vector(4), "<i8", _.toDouble, dims = Some(Vector("t")))
    ZarrStoreWriter.writeArray(dir, "lat", Vector(ny), Vector(ny), "<f8", i => lats(i.toInt), dims = Some(Vector("lat")))
    root
  }

  private def latBatch(t0: Int, t1: Int, lats: Seq[Double]): DataFrame = {
    import spark.implicits._
    (for (t <- t0 until t1; (lat, y) <- lats.zipWithIndex) yield (t.toLong, lat, t * 100.0 + y)).toDF("t", "lat", "value")
  }

  test("append over a DESCENDING non-append axis lands every cell exactly; -0.0 finds 0.0") {
    val lats = Seq(90.0, 45.0, 0.0, -45.0, -90.0)
    val root = descendingStore(lats)
    // the batch spells the equator -0.0: an equi-join matches it to 0.0
    latBatch(4, 6, lats.map(l => if (l == 0.0) -0.0 else l)).write.format("zarr")
      .option("path", root).option("array", "v").option("append.dim", "t")
      .mode("append").save()
    val rows = read(root).collect().map(r => (r.getLong(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(rows.size == 30)
    for (t <- 0 until 6; (lat, y) <- lats.zipWithIndex)
      assert(rows((t.toLong, lat)) == t * 100.0 + y, s"cell (t=$t, lat=$lat)")
  }

  test("non-deferred axes: duplicate axis values, NULL and off-axis dims reject before any chunk lands") {
    // an axis naming one value at two ordinals: the join multiplied rows
    val dup = descendingStore(Seq(90.0, 45.0, 45.0, -90.0))
    val before = chunkObjects(dup)
    val e0 = intercept[IllegalArgumentException] {
      latBatch(4, 6, Seq(90.0, 45.0, -90.0)).write.format("zarr")
        .option("path", dup).option("array", "v").option("append.dim", "t").mode("append").save()
    }
    assert(e0.getMessage.contains("axis 'lat' has the value 45.0 at ordinals 1 and 2"), e0.getMessage)
    assert(chunkObjects(dup) == before)
    val lats = Seq(90.0, 45.0, 0.0, -45.0, -90.0)
    val root = descendingStore(lats)
    val chunks0 = chunkObjects(root)
    val nullLat = latBatch(4, 6, lats).withColumn(
      "lat", when(col("t") === 5 && col("lat") === 45.0, lit(null).cast("double")).otherwise(col("lat"))
    )
    val offLat = latBatch(4, 6, lats).withColumn("lat", when(col("lat") === 0.0, lit(1.0)).otherwise(col("lat")))
    for ((bad, n) <- Seq(nullLat -> 1, offLat -> 2)) {
      val e = intercept[IllegalArgumentException] {
        bad.write.format("zarr").option("path", root).option("array", "v").option("append.dim", "t")
          .mode("append").save()
      }
      assert(e.getMessage.contains(s"$n rows carry dimension values the store's axes do not have"), e.getMessage)
      assert(chunkObjects(root) == chunks0, "a rejected append landed chunk objects")
    }
    assert(read(root).count() == 20)
  }

  test("a failed append job commits nothing; a later append overwrites the objects it left") {
    val root = Files.createTempDirectory("zarrappfail").toString
    writeBatch(root, 0, 8)
    ZarrAppendSpec.calls.set(0L)
    // 16 rows: deterministic through the pre-write aggregate, off the s
    // axis in the write job — the input changed under the append
    val flaky = udf { (s: Int) => if (ZarrAppendSpec.calls.incrementAndGet() > 16L) s + 10 else s }
      .asNondeterministic()
    val e = intercept[Exception] {
      spark.range(8, 12).selectExpr("cast(id as int) as t")
        .crossJoin(spark.range(0, 4).selectExpr("cast(id as int) as s0"))
        .select(col("t"), flaky(col("s0")).as("s"), (col("t") * 4 + col("s0")).cast("long").as("value"))
        .write.format("zarr").option("path", root).option("array", "v").option("append.dim", "t")
        .mode("append").save()
    }
    assert(msgOf(e).contains("not on the axis the write was planned with"), msgOf(e))
    val store = new ZarrStore(root, Map.empty, None, Some(false))
    assert(store.arrayMeta("v").shape == Vector(8, 4) && store.arrayMeta("t").shape == Vector(8))
    assert(read(root).count() == 32)
    // whatever the failed tasks wrote lies past the committed extent: plant
    // garbage there to stand for it; the next append must replace it
    Files.write(java.nio.file.Paths.get(root, "v", "2.0"), Array.fill[Byte](40)(7))
    writeBatch(root, 8, 12)
    val rows = read(root).collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(rows.size == 48)
    for (t <- 0 until 12; s <- 0 until 4) assert(rows((t, s)) == t * 4L + s, s"cell ($t, $s)")
  }

  test("categorize append tasks reject a label outside the set instead of encoding 0") {
    val root = Files.createTempDirectory("zarrappcatflaky").toString
    val dir = java.nio.file.Paths.get(root)
    ZarrStoreWriter.writeStringArray(
      dir, "v", Vector(4), Vector(2), "|O", i => s"w$i",
      dims = Some(Vector("t")),
      filters = Seq("""{"id": "categorize", "labels": ["w0", "w1", "w2", "w3"], "astype": "|u1"}""")
    )
    ZarrStoreWriter.writeArray(dir, "t", Vector(4), Vector(2), "<i8", _.toDouble, dims = Some(Vector("t")))
    ZarrAppendSpec.calls.set(0L)
    // in the label set for the pre-write check (2 rows), outside it after
    val flaky = udf { (s: String) => if (ZarrAppendSpec.calls.incrementAndGet() > 2L) s + "x" else s }
      .asNondeterministic()
    val e = intercept[Exception] {
      spark.range(4, 6).select(col("id").as("t"), flaky(concat(lit("w"), (col("id") - 4).cast("string"))).as("value"))
        .write.format("zarr").option("path", root).option("array", "v").option("append.dim", "t")
        .mode("append").save()
    }
    assert(msgOf(e).contains("is not in the declared labels"), msgOf(e))
    assert(read(root).count() == 4)
  }

  test("an append deletes objects a failed batch left in its slab, chunked and sharded (realign too)") {
    // a batch over s 0-3 only of an 8-wide s axis: the cells t >= 8, s >= 4
    // have no rows and must read the fill 0, whatever an earlier failed
    // batch left there. The left objects are copied from a store of the
    // same layout holding 999 everywhere past the committed extent.
    def frame(t0: Int, t1: Int, s1: Int, value: Column) =
      spark.range(t0, t1).selectExpr("cast(id as int) as t")
        .crossJoin(spark.range(0, s1).selectExpr("cast(id as int) as s"))
        .withColumn("value", value)
    val truth = (col("t") * 8 + col("s")).cast("long")
    def store(root: String, opts: Map[String, String], extent: Int, ghostFrom: Int): Unit = {
      frame(0, extent, 8, truth).write.format("zarr").option("path", root).option("array", "v").options(opts)
        .mode("overwrite").save()
      frame(0, 12, 8, when(col("t") >= ghostFrom, lit(999L)).otherwise(truth)).write.format("zarr")
        .option("path", s"$root-ghost").option("array", "v").options(opts).mode("overwrite").save()
    }
    def plant(root: String, key: String): Unit =
      Files.copy(
        java.nio.file.Paths.get(s"$root-ghost", "v", key),
        Files.createDirectories(java.nio.file.Paths.get(root, "v", key).getParent).resolve(key.split('/').last)
      )
    def check(root: String, extent: Int, opts: Map[String, String]): Unit = {
      var w = frame(extent, 12, 4, truth).write.format("zarr").option("path", root).option("array", "v")
        .option("append.dim", "t")
      opts.foreach { case (k, v) => w = w.option(k, v) }
      w.mode("append").save()
      val rows = read(root).collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
      assert(rows.size == 96, root)
      for (t <- 0 until 12; s <- 0 until 8) {
        val want = if (t >= extent && s >= 4) 0L else t * 8L + s
        assert(rows((t, s)) == want, s"$root cell ($t, $s)")
      }
    }
    val base = Files.createTempDirectory("zarrappslab").toString
    // chunked v2: chunk 2.1 covers t 8-11, s 4-7
    store(s"$base/v2", Map("chunks" -> "4,4"), 8, 8)
    plant(s"$base/v2", "2.1")
    check(s"$base/v2", 8, Map.empty)
    // sharded v3: shard c/2/1 holds the same cells in 2x2 inner chunks
    val sharded = Map("zarr_format" -> "3", "chunks" -> "2,2", "shards" -> "4,4")
    store(s"$base/v3", sharded, 8, 8)
    plant(s"$base/v3", "c/2/1")
    check(s"$base/v3", 8, Map.empty)
    // realign: the extent (6) is mid-shard, so the tail shard c/1/1 holds
    // committed cells (t 4-5) beside the failed batch's (t 6-7); it is
    // rewritten with the committed ones only
    store(s"$base/realign", sharded, 6, 6)
    Files.delete(java.nio.file.Paths.get(s"$base/realign", "v", "c", "1", "1"))
    plant(s"$base/realign", "c/1/1")
    plant(s"$base/realign", "c/2/1")
    check(s"$base/realign", 6, Map("append.realign" -> "true"))
    // the same with dot-separated v3 keys (c.2.1): the slab's slots are
    // deleted, and the tail row's objects probed, by key
    def dotted(root: String): Unit = {
      val top = java.nio.file.Paths.get(root)
      Files.list(top).toArray.map(_.asInstanceOf[java.nio.file.Path]).filter(a => Files.isDirectory(a.resolve("c"))).foreach { arr =>
        val objs = Files.walk(arr.resolve("c")).toArray.map(_.asInstanceOf[java.nio.file.Path]).filter(Files.isRegularFile(_))
        objs.foreach(o => Files.move(o, arr.resolve(arr.relativize(o).toString.replace('/', '.'))))
      }
      Files.walk(top).toArray.map(_.asInstanceOf[java.nio.file.Path]).filter(_.getFileName.toString == "zarr.json")
        .foreach(j => Files.writeString(j, Files.readString(j).replaceAll("\"separator\"\\s*:\\s*\"/\"", "\"separator\": \".\"")))
    }
    Seq("dot" -> 8, "dotrealign" -> 6).foreach { case (name, extent) =>
      val root = s"$base/$name"
      store(root, sharded, extent, extent)
      dotted(root)
      dotted(s"$root-ghost")
      if (extent == 6) {
        Files.delete(java.nio.file.Paths.get(root, "v", "c.1.1"))
        plant(root, "c.1.1")
      }
      plant(root, "c.2.1")
      assert(new ZarrStore(root, Map.empty, None, None).arrayMeta("v").keySeparator == ".")
      check(root, extent, if (extent == 6) Map("append.realign" -> "true") else Map.empty)
      assert(Files.exists(java.nio.file.Paths.get(root, "v", "c.2.0")), name)
    }
  }

  test("an append to a fixed-width string value array is refused before any object lands") {
    val root = Files.createTempDirectory("zarrappfixedstr").toString
    val dir = java.nio.file.Paths.get(root)
    ZarrStoreWriter.writeStringArray(dir, "v", Vector(4), Vector(2), "|S4", i => s"w$i", dims = Some(Vector("t")))
    ZarrStoreWriter.writeArray(dir, "t", Vector(4), Vector(2), "<i8", _.toDouble, dims = Some(Vector("t")))
    val e = intercept[IllegalArgumentException] {
      spark.range(4, 6).selectExpr("id as t", "concat('w', cast(id as string)) as value")
        .write.format("zarr").option("path", root).option("array", "v").option("append.dim", "t")
        .mode("append").save()
    }
    assert(e.getMessage.contains("vlen-utf8 string values"), e.getMessage)
    assert(!Files.exists(dir.resolve("v").resolve("2")))
    assert(read(root).collect().map(r => r.getLong(0) -> r.getString(1)).toMap == (0 until 4).map(i => i.toLong -> s"w$i").toMap)
  }
}

object ZarrAppendSpec {
  val calls = new java.util.concurrent.atomic.AtomicLong(0L)
}
