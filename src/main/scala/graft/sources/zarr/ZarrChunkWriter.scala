package graft.sources.zarr

import graft.model.IndexMath

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.{Path => HPath}

/** Writes the chunk (or shard) objects of one Zarr array: every object the
  * sink and the append put on a store, executor- or driver-side, goes
  * through here. It is built from the target array's [[ZarrArrayMeta]] —
  * the metadata the sink is about to commit, the grown shape of an
  * appended array — so the bytes follow the layout the store declares:
  *  - stats: with `stats` on, one [min, max] record per (inner) chunk over
  *    its in-shape cells ([[ZarrChunkWriter.boundsRecord]]);
  *  - encode: string cells as categorize codes or a vlen-utf8 stream, then
  *    the v3 codec chain, or the v2 filters and compressor;
  *  - key: `meta.chunkKey` of the chunk's (or shard's) grid position;
  *  - shards: inner chunks concatenated as they arrive, then the index in
  *    the meta's location, byte order and crc. A shard whose leading-dim
  *    rows straddle `keptRows` (the chunk rows already on store before an
  *    append) first copies the existing object's inner chunks above that
  *    line byte for byte, after checking the object's index crc and every
  *    copied entry's bounds ([[ZarrCorruptChunkException]] otherwise).
  * Unsharded chunks are written one object each as they arrive. */
private[zarr] final class ZarrChunkWriter(
    val meta: ZarrArrayMeta,
    arrayDir: String,
    storageOptions: Map[String, String],
    stats: Boolean = false,
    keptRows: Long = 0L
) extends Serializable {

  /** The fragment layout of a write into this array. */
  val layout: ZarrFragments.Layout = new ZarrFragments.Layout(meta)

  private val dt = meta.zdtype
  private val typesize = math.max(dt.itemSize, 1)
  private val statsInt = ZarrChunkStats.domainOf(dt).contains("int")
  private val geom =
    ZarrChunkWriter.ChunkGeom(meta.shape.map(_.toLong).toArray, meta.chunks.toArray, meta.nChunks.toArray)
  private val categorize = meta.filters.find(ZarrFilters.idOf(_) == "categorize")
  private val byteFilters = meta.filters.filterNot(categorize.contains)

  private val grid = meta.nChunks
  private val innerPer: Vector[Int] = meta.shardShape.fold(Vector.empty[Int])(_.zip(meta.chunks).map(p => p._1 / p._2))
  private val shardGrid: Vector[Int] = meta.shardShape.fold(grid)(_.zip(meta.shape).map(p => (p._2 + p._1 - 1) / p._1))
  private val innerStrides = IndexMath.strides(innerPer)
  private val shardRowStride = IndexMath.strides(shardGrid).headOption.getOrElse(1L)
  private val nInner = innerPer.map(_.toLong).product.toInt
  private val indexLen = ZarrChunkIO.shardIndexStoredLen(nInner, meta.shardIndexCrc)
  // index offsets are absolute within the object: a leading index shifts
  // the data region by its own stored length
  private val dataBase = if (meta.shardIndexAtEnd) 0L else indexLen.toLong

  /** Encoded bytes of one fixed-width chunk buffer (or vlen stream). */
  private def encode(raw: Array[Byte]): Array[Byte] =
    if (meta.v3) meta.v3Codecs.foldLeft(raw)((b, cfg) => ZarrCodecV3.encode(cfg, b, typesize))
    else ZarrCodec.compress(meta.compressor, byteFilters.foldLeft(raw)((b, cfg) => ZarrFilters.encode(cfg, dt, b)), typesize)

  /** Object key of ordinal `ord` on `g` (C order). */
  private def key(ord: Long, g: Vector[Int]): String = {
    val idx = new Array[Int](g.length)
    IndexMath.unflatten(ord, g, idx)
    meta.chunkKey(idx.toSeq)
  }

  private def put(k: String, bytes: Array[Byte]): Unit = ZarrFileIO.writeBytes(new HPath(arrayDir, k), storageOptions, bytes)

  /** Reduce side of the [[ZarrFragments]] shuffle: writes every chunk (and
    * shard) of one task and returns its stats records. */
  def writeFragments(frags: Iterator[ZarrFragments.Fragment]): Iterator[ZarrSink.ChunkBounds] = {
    val out = output()
    ZarrFragments.foreachChunk(frags, layout) { (s, c, cells) =>
      if (c < 0L) out.touch(s) else if (layout.strings) out.chunk(c, cells.strs) else out.chunk(c, cells.buf)
    }
    out.close().iterator
  }

  def output(): Output = new Output

  /** One pass of chunks in ordinal order (a shard's inner chunks arrive
    * together); `close` writes the last shard and returns the records. */
  final class Output {
    private val records = Array.newBuilder[ZarrSink.ChunkBounds]
    private var shard = -1L
    private val data = new java.io.ByteArrayOutputStream()
    private val index = new Array[Long](2 * nInner)

    /** One fixed-width chunk, `buf` in the dtype's byte order. */
    def chunk(ord: Long, buf: ByteBuffer): Unit = {
      if (stats) records += ZarrChunkWriter.boundsRecord(ord, dt, buf, geom, statsInt)
      add(ord, encode(buf.array()))
    }

    /** One vlen-string chunk. */
    def chunk(ord: Long, strs: Array[String]): Unit = {
      if (stats) records += ZarrChunkWriter.stringBoundsRecord(ord, strs, geom)
      add(ord, encode(categorize match {
        // categorize IS the string chain: its codes replace the vlen stream
        case Some(cfg) => ZarrFilters.categorizeEncodeCells(cfg, strs, strict = true)
        case None => ZarrStoreWriter.vlenEncode(strs)
      }))
    }

    /** A shard rewritten although no chunk of its own arrives: it keeps
      * only its chunks below `keptRows`. */
    def touch(shardOrd: Long): Unit = open(shardOrd)

    def close(): Array[ZarrSink.ChunkBounds] = {
      flush()
      records.result()
    }

    private def add(ord: Long, enc: Array[Byte]): Unit =
      if (meta.shardShape.isEmpty) put(key(ord, grid), enc)
      else {
        open(layout.shardOf(ord))
        val idx = new Array[Int](grid.length)
        IndexMath.unflatten(ord, grid, idx)
        var w = 0L
        var d = 0
        while (d < idx.length) { w += (idx(d) % innerPer(d)).toLong * innerStrides(d); d += 1 }
        append(w.toInt, enc, 0, enc.length)
      }

    private def append(w: Int, bytes: Array[Byte], off: Int, len: Int): Unit = {
      index(2 * w) = dataBase + data.size()
      index(2 * w + 1) = len.toLong
      data.write(bytes, off, len)
    }

    private def open(s: Long): Unit = if (s != shard) {
      flush()
      shard = s
      java.util.Arrays.fill(index, -1L) // 2^64-1: missing inner chunk
      val row0 = s / shardRowStride * innerPer.head
      if (row0 < keptRows && keptRows < row0 + innerPer.head) copyKept(s, row0)
    }

    /** Copies the inner chunks of the existing object `s` that lie in leading-
      * dim chunk rows below `keptRows` (its first row is `row0`). Chunks at or
      * past that line (left by a failed earlier attempt) are dropped: the
      * batch rewrites them, so the object comes out the same run over run. */
    private def copyKept(s: Long, row0: Long): Unit = {
      val k = key(s, shardGrid)
      ZarrFileIO.readBytesIfExists(new HPath(arrayDir, k), storageOptions).foreach { raw =>
        try {
          require(raw.length >= indexLen, s"the ${raw.length} B object is smaller than its $indexLen B shard index")
          val (lo, hi) = if (meta.shardIndexAtEnd) (0, raw.length - indexLen) else (indexLen, raw.length)
          val at = if (meta.shardIndexAtEnd) hi else 0
          val entries = ZarrChunkIO.parseShardIndexBytes(
            java.util.Arrays.copyOfRange(raw, at, at + indexLen), nInner, meta.shardIndexCrc, meta.shardIndexBigEndian
          )
          var w = 0
          while (w < nInner) {
            val off = entries(2 * w)
            val len = entries(2 * w + 1)
            if (!(off == -1L && len == -1L) && row0 + w / innerStrides.head < keptRows) {
              require(
                off >= lo && len >= 0L && len <= hi - off,
                s"inner chunk $w (offset $off, nbytes $len) lies outside the data region [$lo, $hi)"
              )
              append(w, raw, off.toInt, len.toInt)
            }
            w += 1
          }
        } catch { case scala.util.control.NonFatal(e) => throw new ZarrCorruptChunkException(arrayDir, k, e) }
      }
    }

    private def flush(): Unit = if (shard >= 0L) {
      val ib = ByteBuffer
        .allocate(nInner * 16)
        .order(if (meta.shardIndexBigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < nInner * 2) { ib.putLong(i * 8, index(i)); i += 1 }
      val idxBytes =
        if (meta.shardIndexCrc) ZarrCodecV3.encode("""{"name": "crc32c"}""", ib.array(), typesize) else ib.array()
      put(key(shard, shardGrid), if (meta.shardIndexAtEnd) data.toByteArray ++ idxBytes else idxBytes ++ data.toByteArray)
      data.reset()
      shard = -1L
    }
  }
}

private[zarr] object ZarrChunkWriter {

  /** Chunk-grid geometry for stats recording: decomposes a chunk ordinal
    * into its grid position and visits the chunk-local linear index of
    * every IN-SHAPE cell, skipping ragged-edge padding (cells past the
    * array shape in a boundary chunk). Padding cells hold the fill value
    * but are never readable, so including them would widen bounds with a
    * value no query can observe — sound for pruning but WRONG for the
    * scan's stats-only min/max aggregate (it would answer the fill from a
    * store that never contains it). In-shape-only bounds are exact over
    * readable cells, serving both. */
  final case class ChunkGeom(
      shape: Array[Long],
      chunks: Array[Int],
      nChunks: Array[Int]
  ) extends Serializable {
    private val strides: Array[Int] = IndexMath.strides(chunks.toSeq).map(_.toInt)
    val elems: Int = chunks.product

    def foreachInShape(ordinal: Long)(f: Int => Unit): Unit = {
      val r = chunks.length
      val valid = new Array[Int](r)
      var full = true
      var rem = ordinal
      var d = r - 1
      while (d >= 0) {
        val g = (rem % nChunks(d)).toInt
        rem /= nChunks(d)
        val v = math.min(chunks(d).toLong, shape(d) - g.toLong * chunks(d)).toInt
        valid(d) = v
        if (v != chunks(d)) full = false
        d -= 1
      }
      if (full) {
        var i = 0
        while (i < elems) { f(i); i += 1 }
      } else {
        // odometer over the valid hyper-rectangle, linear index incremental
        val idx = new Array[Int](r)
        var lin = 0
        var done = false
        while (!done) {
          f(lin)
          var d2 = r - 1
          var carry = true
          while (carry && d2 >= 0) {
            idx(d2) += 1
            if (idx(d2) < valid(d2)) { lin += strides(d2); carry = false }
            else { lin -= (valid(d2) - 1) * strides(d2); idx(d2) = 0; d2 -= 1 }
          }
          if (carry) done = true
        }
      }
    }
  }

  /** Byte-lexicographic [min, max] over a string chunk's IN-SHAPE cells
    * (fill-prefilled, so never null) — the same binary UTF-8 order Spark
    * strings compare in. */
  def stringBoundsRecord(ordinal: Long, cells: Array[String], geom: ChunkGeom): ZarrSink.ChunkBounds = {
    var lo: String = null
    var hi: String = null
    var loB: Array[Byte] = null
    var hiB: Array[Byte] = null
    geom.foreachInShape(ordinal) { i =>
      val s = cells(i)
      if (s != null) {
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (lo == null || java.util.Arrays.compareUnsigned(b, loB) < 0) { lo = s; loB = b }
        if (hi == null || java.util.Arrays.compareUnsigned(b, hiB) > 0) { hi = s; hiB = b }
      }
    }
    ZarrSink.ChunkBounds(ordinal, has = lo != null, loS = lo, hiS = hi)
  }

  /** [min, max] over every IN-SHAPE cell of a chunk buffer (fill-
    * prefilled sparse cells included — they are readable; ragged-edge
    * padding excluded — it is not, see [[ChunkGeom]]). Long domain
    * converts M8/TD raw units to micros exactly like the read path (NaT
    * cells are null and excluded); double domain orders NaN greatest and
    * normalizes -0.0, matching Spark comparisons. */
  def boundsRecord(
      ordinal: Long,
      dt: ZDtype,
      buf: ByteBuffer,
      geom: ChunkGeom,
      intDomain: Boolean
  ): ZarrSink.ChunkBounds =
    if (intDomain) {
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var any = false
      geom.foreachInShape(ordinal) { i =>
        var skip = false
        val v: Long = dt.code match {
          case ZDtype.BOOL | ZDtype.I1 => buf.get(i).toLong
          case ZDtype.U1 => (buf.get(i) & 0xff).toLong
          case ZDtype.I2 => buf.getShort(i * 2).toLong
          case ZDtype.U2 => (buf.getShort(i * 2) & 0xffff).toLong
          case ZDtype.I4 => buf.getInt(i * 4).toLong
          case ZDtype.U4 => buf.getInt(i * 4) & 0xffffffffL
          case ZDtype.I8 => buf.getLong(i * 8)
          case ZDtype.M8 | ZDtype.TD =>
            val raw = buf.getLong(i * 8)
            if (raw == ZDtype.NaT) { skip = true; 0L }
            else raw * dt.m8Num / dt.m8Den
          case other => throw new IllegalStateException(s"stats domain int for dtype code $other")
        }
        if (!skip) { any = true; if (v < mn) mn = v; if (v > mx) mx = v }
      }
      ZarrSink.ChunkBounds(ordinal, any, loL = mn, hiL = mx)
    } else {
      var mn = Double.NaN
      var mx = Double.NaN
      var any = false
      geom.foreachInShape(ordinal) { i =>
        val v: Double = ZarrChunkStats.norm(dt.code match {
          case ZDtype.F2 => ZDtype.halfToFloat(buf.getShort(i * 2)).toDouble
          case ZDtype.F4 => buf.getFloat(i * 4).toDouble
          case ZDtype.F8 => buf.getDouble(i * 8)
          case other => throw new IllegalStateException(s"stats domain float for dtype code $other")
        })
        if (!any) { mn = v; mx = v; any = true }
        else {
          if (java.lang.Double.compare(v, mn) < 0) mn = v
          if (java.lang.Double.compare(v, mx) > 0) mx = v
        }
      }
      ZarrSink.ChunkBounds(ordinal, any, loD = mn, hiD = mx)
    }
}
