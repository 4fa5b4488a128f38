package graft.sources.zarr

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.Platform

/** The shuffle every Zarr cell write ([[ZarrSink]]'s and [[ZarrAppend]]'s,
  * chunked or sharded, fixed-width, vlen-string or structured) moves its
  * cells through on the way to [[ZarrChunkWriter]]: packed per-chunk
  * FRAGMENTS, not one row per cell.
  *
  * Map side ([[shuffle]]): each task reads the prepared `[chunk ordinal,
  * in-chunk offset, value]` rows as `InternalRow`s (any sort on top of the
  * frame dropped: row order does not matter here) and packs their cells
  * into one open fragment per chunk, emitting `((shard, chunk), fragment)`
  * records into one `repartitionAndSortWithinPartitions` keyed by shard
  * (an unsharded layout's shard is its chunk), so every shard's fragments
  * reach one reduce task in chunk order. The per-row checks run here: a
  * null ordinal fails the task ([[ZarrSink.writeOrdinal]]), the value put
  * range-checks unsigned targets ([[ZarrSink.CellPut]]), and a null value
  * leaves its cell at the fill (a chunk whose rows are all null is still
  * written, all fill). Open fragments hold at most [[MaxOpenBytes]]; past
  * it the least recently touched one is emitted early.
  *
  * Reduce side ([[foreachChunk]]): a task prefills one chunk buffer with
  * the fill, overlays every fragment of that chunk, and hands the buffer to
  * [[ZarrChunkWriter]] (stats, encode, key, shard index).
  * Cells land at the same offsets with the same bytes, so the objects
  * written do not depend on how the cells were grouped into fragments.
  *
  * Wire forms, little-endian:
  *  - `0 n:i32 off:i32×n value×n` — offset/value pairs (a chunk touched by
  *    few cells); a repeated offset applies in order, the last one wins;
  *  - `1 bitmap:i64×⌈elems/64⌉ value×popcount` — a presence bitmap plus the
  *    present values in offset order;
  *  - `2 n:i32 off:i32×n end:i32×n utf8` — vlen-string pairs.
  * Fixed-width values are stored in the chunk's byte order, ready to copy.
  */
private[zarr] object ZarrFragments {

  /** Bytes of open fragments one map task may hold. A task whose rows touch
    * more chunks than this holds emits the least recently touched fragment
    * early; the reduce side merges any number of fragments per chunk.
    * The bound binds when a task's rows cycle through more chunks than fit
    * (a dense chunk takes its values plus one bit per cell): rows in time
    * order over 1 MiB chunks, 16 to a time step, or rows scattered over
    * every chunk. An early fragment still ships as its present values plus
    * a bitmap, packed through one scratch chunk per task, or as pairs when
    * sparser: binding adds bitmap and header bytes, not a row per cell. */
  final val MaxOpenBytes: Long = 4L << 20

  type Fragment = ((Long, Long), Array[Byte])

  private final val Pairs: Byte = 0
  private final val Dense: Byte = 1
  private final val Strings: Byte = 2

  /** What both sides need to know about one write's chunks, read off the
    * target array's meta: the store dtype, cells per chunk, the fill a chunk
    * starts from (numeric, string, or the base64 structured record), and
    * the chunk and shard grids. */
  final class Layout(meta: ZarrArrayMeta) extends Serializable {
    val dt: ZDtype = meta.zdtype
    val elems: Int = meta.chunks.map(_.toLong).product.toInt
    val strings: Boolean = dt.code == ZDtype.VSTR
    val itemSize: Int = dt.itemSize
    private val fill = meta.fillValue.getOrElse(0.0)
    private val fillStr = meta.fillValueStr.getOrElse("")
    private val structFill: Array[Byte] =
      if (dt.code != ZDtype.V) null
      else meta.fillValueStr.fold(new Array[Byte](itemSize))(java.util.Base64.getDecoder.decode(_))
    def order: ByteOrder = if (dt.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    private[ZarrFragments] val bitmapWords: Int = (elems + 63) / 64
    private val nChunks: Array[Int] = meta.nChunks.toArray
    // inner chunks per shard per dim; null for an unsharded layout
    private val innerPer: Array[Int] = meta.shardShape.map(_.zip(meta.chunks).map(p => p._1 / p._2).toArray).orNull
    private val nShards: Array[Int] =
      if (innerPer == null) null else nChunks.indices.map(d => (nChunks(d) + innerPer(d) - 1) / innerPer(d)).toArray

    /** Shard ordinal of a chunk ordinal (C-order over both grids). */
    def shardOf(chunk: Long): Long =
      if (innerPer == null) chunk
      else {
        var rem = chunk
        var shard = 0L
        var stride = 1L
        var d = nChunks.length - 1
        while (d >= 0) {
          shard += (rem % nChunks(d)) / innerPer(d) * stride
          rem /= nChunks(d)
          stride *= nShards(d)
          d -= 1
        }
        shard
      }

    /** Sets a fixed-width chunk buffer to the fill. Zero bytes already
      * decode as 0/false in every supported dtype, so only a nonzero fill
      * needs an explicit pass. */
    private[ZarrFragments] def prefill(buf: ByteBuffer): Unit =
      if (structFill != null) {
        var i = 0
        while (i < elems) { System.arraycopy(structFill, 0, buf.array(), i * itemSize, itemSize); i += 1 }
      } else if (fill == 0.0) java.util.Arrays.fill(buf.array(), 0.toByte)
      else { var i = 0; while (i < elems) { ZDtype.put(dt, buf, i, fill); i += 1 } }

    private[ZarrFragments] def prefill(cells: Array[String]): Unit =
      java.util.Arrays.fill(cells.asInstanceOf[Array[AnyRef]], fillStr)
  }

  /** Reduce side: the one chunk a task is building — a fixed-width buffer
    * in the chunk's byte order (`buf`) or vlen-string cells (`strs`). */
  final class ChunkCells(layout: Layout) {
    lazy val buf: ByteBuffer = ByteBuffer.allocate(layout.elems * layout.itemSize).order(layout.order)
    lazy val strs: Array[String] = new Array[String](layout.elems)

    /** Starts a new chunk: every cell back to the fill. */
    private[ZarrFragments] def reset(): Unit = if (layout.strings) layout.prefill(strs) else layout.prefill(buf)

    /** Copies one fragment's cells into the chunk. */
    private[ZarrFragments] def overlay(frag: Array[Byte]): Unit = {
      val in = ByteBuffer.wrap(frag).order(ByteOrder.LITTLE_ENDIAN)
      val item = layout.itemSize
      frag(0) match {
        case Pairs =>
          val n = in.getInt(1)
          val vals = 5 + 4 * n
          val dst = buf.array()
          var k = 0
          while (k < n) {
            System.arraycopy(frag, vals + k * item, dst, in.getInt(5 + 4 * k) * item, item)
            k += 1
          }
        case Dense =>
          val dst = buf.array()
          var pos = 1 + 8 * layout.bitmapWords
          var w = 0
          while (w < layout.bitmapWords) {
            var bits = in.getLong(1 + 8 * w)
            var shift = 0
            // one copy per run of present cells
            while (bits != 0L) {
              val skip = java.lang.Long.numberOfTrailingZeros(bits)
              bits >>>= skip
              shift += skip
              val run = java.lang.Long.numberOfTrailingZeros(~bits)
              System.arraycopy(frag, pos, dst, (w * 64 + shift) * item, run * item)
              pos += run * item
              bits = if (run == 64) 0L else bits >>> run
              shift += run
            }
            w += 1
          }
        case Strings =>
          val n = in.getInt(1)
          val data = 5 + 8 * n
          var start = 0
          var k = 0
          while (k < n) {
            val end = in.getInt(5 + 4 * n + 4 * k)
            strs(in.getInt(5 + 4 * k)) =
              new String(frag, data + start, end - start, java.nio.charset.StandardCharsets.UTF_8)
            start = end
            k += 1
          }
        case other => throw new IllegalStateException(s"zarr write: unknown chunk fragment tag $other")
      }
    }
  }

  /** Reduce side of one partition: builds each chunk in turn — prefilled,
    * then every fragment of it overlaid — and hands it to `f(shard, chunk,
    * cells)` in (shard, chunk) order. A shard touched with no cells of its
    * own (see [[shuffle]]) comes as `f(shard, -1, cells)`. */
  def foreachChunk(frags: Iterator[Fragment], layout: Layout)(f: (Long, Long, ChunkCells) => Unit): Unit = {
    val cells = new ChunkCells(layout)
    var shard = -1L
    var chunk = -1L
    frags.foreach { case ((s, c), frag) =>
      if (c != chunk || c < 0L) {
        if (chunk >= 0L) f(shard, chunk, cells)
        chunk = c
        if (c >= 0L) cells.reset() else f(s, c, cells)
      }
      shard = s
      if (c >= 0L) cells.overlay(frag)
    }
    if (chunk >= 0L) f(shard, chunk, cells)
  }

  /** Map side plus the shuffle: `prepared`'s rows are `[chunk ordinal,
    * in-chunk offset, value]`; the result holds each shard's fragments in
    * one partition of `parts`, sorted by (shard, chunk). Each shard in
    * `touch` also gets one empty record keyed `(shard, -1)`, so its task
    * visits it even when no cell lands in it. */
  def shuffle(
      prepared: DataFrame,
      layout: Layout,
      put: ZarrSink.CellPut,
      parts: Int,
      what: String,
      touch: Seq[Long] = Nil
  ): RDD[Fragment] = {
    val packed = prepared.queryExecution.toRdd.mapPartitions(rows => new Packer(rows, layout, put, what))
    val all =
      if (touch.isEmpty) packed
      else packed.union(packed.sparkContext.parallelize(touch.map(s => ((s, -1L), Array.emptyByteArray)), 1))
    all.repartitionAndSortWithinPartitions(new ShardPartitioner(parts))
  }

  /** Sends each shard (the key's first half) to one reduce task. */
  private final class ShardPartitioner(parts: Int) extends Partitioner {
    def numPartitions: Int = parts
    def getPartition(key: Any): Int = (key.asInstanceOf[(Long, Long)]._1 % parts).toInt
  }

  /** One chunk's cells inside one map task. */
  private abstract class Open {
    /** Bytes this fragment holds. */
    def bytes: Long
    def put(row: InternalRow, local: Int): Unit
    /** The wire form; `scratch` is a chunk-sized buffer the task reuses. */
    def emit(scratch: => Array[Byte]): Array[Byte]
  }

  /** Fixed-width cells: offset/value pairs while those are smaller than a
    * whole chunk of values plus its presence bitmap, then that dense form. */
  private final class FixedOpen(layout: Layout, cell: ZarrSink.CellPut) extends Open {
    private val item = layout.itemSize
    private val denseBytes = layout.elems.toLong * item + 8L * layout.bitmapWords
    private var n = 0
    private var offs = new Array[Int](math.min(16, layout.elems))
    private var vals = new Array[Byte](offs.length * item)
    private var out = ByteBuffer.wrap(vals).order(layout.order)
    private var bits: Array[Long] = null

    def bytes: Long = if (bits == null) offs.length * 4L + vals.length else denseBytes

    def put(row: InternalRow, local: Int): Unit =
      if (bits != null) {
        cell(row, 2, out, local)
        bits(local >>> 6) |= 1L << local
      } else {
        if (n == offs.length) {
          if (2L * n * (4 + item) >= denseBytes) { toDense(); return put(row, local) }
          offs = java.util.Arrays.copyOf(offs, 2 * n)
          vals = java.util.Arrays.copyOf(vals, 2 * n * item)
          out = ByteBuffer.wrap(vals).order(layout.order)
        }
        offs(n) = local
        cell(row, 2, out, n)
        n += 1
      }

    private def toDense(): Unit = {
      val dense = new Array[Byte](layout.elems * item)
      bits = new Array[Long](layout.bitmapWords)
      var k = 0
      while (k < n) {
        val local = offs(k)
        System.arraycopy(vals, k * item, dense, local * item, item)
        bits(local >>> 6) |= 1L << local
        k += 1
      }
      vals = dense
      out = ByteBuffer.wrap(vals).order(layout.order)
      offs = null
    }

    def emit(scratch: => Array[Byte]): Array[Byte] =
      if (bits == null && 4L * n + 4 <= 8L * layout.bitmapWords) {
        val frag = ByteBuffer.allocate(5 + n * (4 + item)).order(ByteOrder.LITTLE_ENDIAN)
        frag.put(Pairs).putInt(n)
        var k = 0
        while (k < n) { frag.putInt(offs(k)); k += 1 }
        frag.put(vals, 0, n * item)
        frag.array()
      } else {
        // pairs too many for their form go out dense through the task's
        // scratch chunk (a later pair at one offset overwrites, as overlaid)
        val (set, dense) =
          if (bits != null) (bits, vals)
          else {
            val b = new Array[Long](layout.bitmapWords)
            val d = scratch
            var k = 0
            while (k < n) {
              val local = offs(k)
              System.arraycopy(vals, k * item, d, local * item, item)
              b(local >>> 6) |= 1L << local
              k += 1
            }
            (b, d)
          }
        var present = 0L
        set.foreach(w => present += java.lang.Long.bitCount(w))
        val frag = ByteBuffer.allocate((1 + 8L * set.length + present * item).toInt).order(ByteOrder.LITTLE_ENDIAN)
        frag.put(Dense)
        set.foreach(w => frag.putLong(w))
        if (present == layout.elems) frag.put(dense)
        else {
          var w = 0
          while (w < set.length) {
            var word = set(w)
            while (word != 0L) {
              val local = w * 64 + java.lang.Long.numberOfTrailingZeros(word)
              frag.put(dense, local * item, item)
              word &= word - 1
            }
            w += 1
          }
        }
        frag.array()
      }
  }

  /** vlen-string cells: offset/UTF-8 pairs, copied out of the reused row. */
  private final class StringOpen extends Open {
    private var n = 0
    private var offs = new Array[Int](16)
    private var ends = new Array[Int](16)
    private var data = new Array[Byte](256)

    def bytes: Long = offs.length * 8L + data.length

    def put(row: InternalRow, local: Int): Unit = {
      val s = row.getUTF8String(2)
      val start = if (n == 0) 0 else ends(n - 1)
      if (n == offs.length) {
        offs = java.util.Arrays.copyOf(offs, 2 * n)
        ends = java.util.Arrays.copyOf(ends, 2 * n)
      }
      if (start + s.numBytes > data.length)
        data = java.util.Arrays.copyOf(data, math.max(2 * data.length, start + s.numBytes))
      s.writeToMemory(data, Platform.BYTE_ARRAY_OFFSET + start.toLong)
      offs(n) = local
      ends(n) = start + s.numBytes
      n += 1
    }

    def emit(scratch: => Array[Byte]): Array[Byte] = {
      val len = if (n == 0) 0 else ends(n - 1)
      val frag = ByteBuffer.allocate(5 + 8 * n + len).order(ByteOrder.LITTLE_ENDIAN)
      frag.put(Strings).putInt(n)
      var k = 0
      while (k < n) { frag.putInt(offs(k)); k += 1 }
      k = 0
      while (k < n) { frag.putInt(ends(k)); k += 1 }
      frag.put(data, 0, len)
      frag.array()
    }
  }

  /** One map task's rows → fragments. Rows of one chunk usually arrive in
    * runs, so the last chunk's fragment is kept at hand; the others sit in
    * an access-ordered map, eldest = least recently touched. */
  private final class Packer(rows: Iterator[InternalRow], layout: Layout, put: ZarrSink.CellPut, what: String)
      extends Iterator[Fragment] {
    private val open = new java.util.LinkedHashMap[java.lang.Long, Open](64, 0.75f, true)
    private val ready = new java.util.ArrayDeque[Fragment]()
    private var openBytes = 0L
    private var curChunk = -1L
    private var cur: Open = null
    private lazy val scratch = new Array[Byte](layout.elems * layout.itemSize)

    def hasNext: Boolean = {
      while (ready.isEmpty && rows.hasNext) add(rows.next())
      if (ready.isEmpty && !open.isEmpty) {
        open.forEach((c, o) => ready.add(fragment(c, o)))
        open.clear()
        cur = null
        curChunk = -1L
      }
      !ready.isEmpty
    }

    def next(): Fragment = {
      if (!hasNext) throw new NoSuchElementException("no more chunk fragments")
      ready.poll()
    }

    private def fragment(chunk: Long, o: Open): Fragment = {
      openBytes -= o.bytes
      ((layout.shardOf(chunk), chunk), o.emit(scratch))
    }

    private def add(row: InternalRow): Unit = {
      val chunk = ZarrSink.writeOrdinal(row, what)
      if (chunk != curChunk) {
        cur = open.get(chunk)
        if (cur == null) {
          cur = if (layout.strings) new StringOpen else new FixedOpen(layout, put)
          open.put(chunk, cur)
          openBytes += cur.bytes
        }
        curChunk = chunk
      }
      if (!row.isNullAt(2)) {
        val before = cur.bytes
        cur.put(row, row.getLong(1).toInt)
        openBytes += cur.bytes - before
        // the current fragment is the most recently touched, so never the eldest
        while (openBytes > MaxOpenBytes && open.size > 1) {
          val eldest = open.entrySet().iterator().next()
          open.remove(eldest.getKey)
          ready.add(fragment(eldest.getKey, eldest.getValue))
        }
      }
    }
  }
}
