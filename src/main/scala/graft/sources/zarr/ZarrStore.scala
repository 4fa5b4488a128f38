package graft.sources.zarr

import graft.sources.Coord

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.hadoop.fs.{Path => HPath}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Driver-side Zarr v2 store access (reference: src/data_access/zarr_storage.py).
  *
  * Mirrors the reference's behaviors: consolidated-metadata fast path with
  * fallback to per-array metadata probing (zarr_storage.py:242-274), duck-typed
  * array listing that skips broken entries (zarr_storage.py:285-325), and
  * metadata surfacing incl. fill_value/compressor/attrs (:362-416).
  *
  * All I/O goes through [[ZarrFileIO]] (Hadoop FileSystem), so local paths,
  * `file://`, `s3a://` (or the reference's `s3://` spelling), HDFS etc. are
  * uniform; `storageOptions` carries s3fs-style credentials/endpoint config
  * translated to `fs.s3a.*` (zarr_storage.py:190-211 parity).
  * Chunk DATA is never read on the driver — executors read chunks directly
  * (see [[ZarrChunkIO]]), fixing the reference's eager driver-side
  * materialization (zarr_reader.py:318-322) which cannot scale.
  */
final class ZarrStore(
    val storePath: String,
    val storageOptions: Map[String, String] = Map.empty,
    val group: Option[String] = None,
    val consolidated: Option[Boolean] = None
) extends Serializable {

  @transient lazy val groupDir: HPath = {
    val root = ZarrFileIO.toPath(storePath)
    group.map(g => new HPath(root, g)).getOrElse(root)
  }

  /** Consolidated `.zmetadata` map (key → raw JSON string), if present. */
  @transient lazy val consolidatedMeta: Option[Map[String, String]] = {
    val f = new HPath(groupDir, ".zmetadata")
    val content =
      if (consolidated.contains(false)) None
      else ZarrFileIO.readStringIfExists(f, storageOptions)
    if (content.isEmpty && consolidated.contains(true) && v3ConsolidatedMeta.isEmpty)
      throw new IllegalArgumentException(
        s"consolidated=true but no .zmetadata (v2) or consolidated_metadata (v3) under $groupDir"
      )
    content.flatMap { text =>
      implicit val fmts: Formats = DefaultFormats
      (JsonMethods.parse(text) \ "metadata") match {
        case JObject(fields) =>
          Some(fields.map { case (k, v) => k -> JsonMethods.compact(JsonMethods.render(v)) }.toMap)
        case _ => None
      }
    }
  }

  /** v3 root document (`zarr.json` at the group dir). Probed only when no
    * v2 `.zmetadata` answers first — v2 remains the single-probe fast
    * path; a v3 store costs exactly one extra metadata read. */
  @transient lazy val v3Root: Option[JValue] =
    ZarrFileIO
      .readStringIfExists(new HPath(groupDir, "zarr.json"), storageOptions)
      .map(JsonMethods.parse(_))

  /** v3 consolidated metadata (zarr-python 3 writes it into the root
    * `zarr.json`): node path → that node's zarr.json document. */
  @transient lazy val v3ConsolidatedMeta: Option[Map[String, String]] = {
    if (consolidated.contains(false)) None
    else
      v3Root.flatMap { root =>
        (root \ "consolidated_metadata" \ "metadata") match {
          case JObject(fields) =>
            Some(fields.map { case (k, v) => k -> JsonMethods.compact(JsonMethods.render(v)) }.toMap)
          case _ => None
        }
      }
  }

  private def readMetaFile(rel: String): Option[String] =
    consolidatedMeta match {
      case Some(m) => m.get(rel)
      case None => ZarrFileIO.readStringIfExists(new HPath(groupDir, rel), storageOptions)
    }

  implicit private def fmts: Formats = DefaultFormats

  /** Duck-typed array listing: member dirs with a `.zarray` (v2) or an
    * array-node `zarr.json` (v3); skips subgroups and broken entries
    * (reference: zarr_storage.py:285-325). A nonexistent store raises,
    * matching the reference's open failure (zarr_storage.py:242-283). */
  def listArrays(): Seq[String] =
    consolidatedMeta match {
      case Some(m) =>
        m.keys.collect { case k if k.endsWith("/.zarray") => k.stripSuffix("/.zarray") }.toSeq.sorted
      case None if v3Root.isDefined =>
        v3ConsolidatedMeta match {
          case Some(m) =>
            m.collect {
              case (path, doc)
                  if !path.contains("/") &&
                    (JsonMethods.parse(doc) \ "node_type").extractOpt[String].contains("array") =>
                path
            }.toSeq.sorted
          case None =>
            ZarrFileIO
              .listDirNames(groupDir, storageOptions)
              .filter { n =>
                ZarrFileIO
                  .readStringIfExists(new HPath(new HPath(groupDir, n), "zarr.json"), storageOptions)
                  .exists(d =>
                    scala.util.Try(
                      (JsonMethods.parse(d) \ "node_type").extractOpt[String].contains("array")
                    ).getOrElse(false)
                  )
              }
              .sorted
        }
      case None =>
        if (!ZarrFileIO.isDirectory(groupDir, storageOptions))
          throw new IllegalArgumentException(s"zarr store/group not found: $groupDir")
        else
          ZarrFileIO
            .listDirNames(groupDir, storageOptions)
            .filter(n => ZarrFileIO.exists(new HPath(new HPath(groupDir, n), ".zarray"), storageOptions))
            .sorted
    }

  def arrayMeta(name: String): ZarrArrayMeta =
    readMetaFile(s"$name/.zarray") match {
      case Some(zarray) => ZarrMeta.parseArray(name, zarray, readMetaFile(s"$name/.zattrs"))
      case None if v3Root.isDefined =>
        val doc = v3ConsolidatedMeta
          .flatMap(_.get(name))
          .orElse(
            ZarrFileIO.readStringIfExists(new HPath(new HPath(groupDir, name), "zarr.json"), storageOptions)
          )
          .getOrElse(throw new NoSuchElementException(s"array '$name' not found in $groupDir"))
        ZarrMeta.parseArrayV3(name, doc)
      case None =>
        throw new NoSuchElementException(s"array '$name' not found in $groupDir")
    }

  def arrayDir(name: String): String = new HPath(groupDir, name).toString

  /** Read a full (small, 1-D) coordinate array on the driver; missing
    * coordinate OR any failure to decode it (unsupported dtype such as
    * string, unsupported codec, corrupt chunk) → positional-index fallback,
    * matching the reference's catch-all (coordinate_processor.py:140-144,
    * 260-262). datetime64 coordinates — the standard time axis of real
    * climate stores — decode to timestamp coords (micros); a NaT entry
    * falls back to positional (a coordinate must be total).
    *
    * Dims longer than `deferredThreshold` never materialize on the driver:
    * only the METADATA is read here and a [[Coord.Deferred]] marker carries
    * the Spark type — executors decode the coordinate chunks they touch
    * (a 10^8-element f8 axis is 0.8 GB; driver-held arrays are the one
    * structure that cannot survive a 100x scale-up). The deferred path
    * trusts the metadata: a corrupt coordinate chunk or a NaT cell fails
    * the read with a clear error instead of the eager path's silent
    * positional fallback (re-checking would require reading the data this
    * path exists to avoid). */
  def coordFor(dim: String, extent: Int, deferredThreshold: Int = Int.MaxValue): Coord =
    try {
      val m = arrayMeta(dim)
      if (m.rank != 1 || m.shape.head != extent) Coord.Index(extent)
      else if (extent > deferredThreshold) {
        m.zdtype.code match {
          case ZDtype.I4 | ZDtype.I8 | ZDtype.F4 | ZDtype.F8 | ZDtype.M8 =>
            Coord.Deferred(m.valueType, extent)
          // long string/u8 axes defer too: executors decode the coordinate
          // chunks their ranges touch — a 10^8-label axis must neither sit
          // on the driver NOR silently degrade to positional ordinals
          case ZDtype.S | ZDtype.US | ZDtype.VSTR | ZDtype.U8 | ZDtype.TD =>
            Coord.Deferred(m.valueType, extent)
          case _ => Coord.Index(extent)
        }
      } else {
        val acc = ZarrChunkIO.readWholeArray(arrayDir(dim), m, storageOptions)
        m.zdtype.code match {
          case ZDtype.I4 => Coord.Ints(Array.tabulate(extent)(i => acc.getInt(i)))
          case ZDtype.I8 => Coord.Longs(Array.tabulate(extent)(i => acc.getLong(i)))
          case ZDtype.F4 => Coord.Floats(Array.tabulate(extent)(i => acc.getFloat(i)))
          case ZDtype.F8 => Coord.Doubles(Array.tabulate(extent)(i => acc.getDouble(i)))
          case ZDtype.M8 =>
            val vals = Array.tabulate(extent)(i => acc.getM8(i))
            if (vals.contains(null)) Coord.Index(extent)
            else Coord.Timestamps(vals.map(_.asInstanceOf[Long]))
          case ZDtype.TD =>
            // lead-time / "step" axes: micros-backed intervals
            val vals = Array.tabulate(extent)(i => acc.getM8(i))
            if (vals.contains(null)) Coord.Index(extent)
            else Coord.Intervals(vals.map(_.asInstanceOf[Long]))
          case ZDtype.S | ZDtype.US | ZDtype.VSTR =>
            // station-name / label axes: a null cell (null fill) breaks
            // coordinate totality -> positional fallback like NaT above
            val vals = Array.tabulate(extent)(i => acc.getUTF8(i))
            if (vals.contains(null)) Coord.Index(extent) else Coord.Strings(vals)
          case ZDtype.U8 =>
            // uint64 axis: representable as longs unless a value needs the
            // 64th bit (vanishingly rare for an axis) -> else positional
            val raw = Array.tabulate(extent)(i => acc.getU8Dec(i))
            if (raw.forall(_.toBigDecimal <= BigDecimal(Long.MaxValue)))
              Coord.Longs(raw.map(_.toLong))
            else Coord.Index(extent)
          case _ => Coord.Index(extent)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => Coord.Index(extent) }

  /** name/shape/dtype/chunks/dims/fill/compressor/attrs for every array. */
  def storeInfo(): Map[String, ZarrArrayMeta] =
    listArrays().map(n => n -> arrayMeta(n)).toMap
}

/** Typed view over a decoded chunk buffer. The ByteBuffer order follows the
  * dtype's byte order, so `>f8` / `>i4` big-endian stores decode through the
  * same accessors as the little-endian common case. */
final class ZarrBuffer(
    bytes: Array[Byte],
    val dt: ZDtype,
    strings: Array[org.apache.spark.unsafe.types.UTF8String] = null // VSTR chunks only
) extends Serializable {
  /** Raw bytes in the store's own order — the columnar reader block-copies
    * contiguous little-endian runs straight from here into column vectors
    * (big-endian dtypes take the per-element accessor path instead). */
  def raw: Array[Byte] = bytes
  @transient private lazy val buf: ByteBuffer =
    ByteBuffer.wrap(bytes).order(if (dt.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
  def getInt(i: Int): Int = buf.getInt(i * 4)
  def getLong(i: Int): Long = buf.getLong(i * 8)
  def getFloat(i: Int): Float = buf.getFloat(i * 4)
  def getDouble(i: Int): Double = buf.getDouble(i * 8)
  def getBool(i: Int): Boolean = bytes(i) != 0
  def getByte(i: Int): Byte = bytes(i)
  def getU1(i: Int): Short = (bytes(i) & 0xff).toShort
  def getShort(i: Int): Short = buf.getShort(i * 2)
  def getU2(i: Int): Int = buf.getShort(i * 2) & 0xffff
  def getU4(i: Int): Long = buf.getInt(i * 4) & 0xffffffffL
  def getHalf(i: Int): Float = ZDtype.halfToFloat(buf.getShort(i * 2))
  /** datetime64 cell → Spark-internal micros, or null for NaT. */
  def getM8(i: Int): Any = ZDtype.m8Micros(dt, buf.getLong(i * 8))
  /** String cell → Spark-internal UTF8String (S: NUL-trimmed fixed bytes;
    * U: NUL-trimmed UCS4 code points; vlen-utf8 and whole-array string
    * gathers use the pre-decoded array). May be null (null fill). */
  def getUTF8(i: Int): org.apache.spark.unsafe.types.UTF8String =
    if (strings != null) strings(i)
    else ZarrBuffer.decodeFixedUtf8(bytes, i * dt.itemSize, dt)
  /** Complex cell → struct<re, im> as a Spark-internal row. */
  def getComplex(i: Int): Any = dt.code match {
    case ZDtype.C8 =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](buf.getFloat(i * 8), buf.getFloat(i * 8 + 4))
      )
    case ZDtype.C16 =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](buf.getDouble(i * 16), buf.getDouble(i * 16 + 8))
      )
    case other => throw new IllegalStateException(s"not a complex dtype: $other")
  }
  def getC8Re(i: Int): Float = buf.getFloat(i * 8)
  def getC8Im(i: Int): Float = buf.getFloat(i * 8 + 4)
  def getC16Re(i: Int): Double = buf.getDouble(i * 16)
  def getC16Im(i: Int): Double = buf.getDouble(i * 16 + 8)

  /** Structured cell → struct row: each field decoded at its packed offset
    * in its own width/endianness (numpy compound-cell layout). */
  def getStruct(i: Int): Any = {
    val fs = dt.fields
    val offs = dt.fieldOffsets
    val base = i * dt.itemSize
    val vals = new Array[Any](fs.length)
    var f = 0
    while (f < fs.length) {
      vals(f) = ZarrBuffer.fieldValue(bytes, base + offs(f), fs(f)._2)
      f += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }

  /** uint64 cell → Decimal(20,0) (negative raw bits = values past 2^63). */
  def getU8Dec(i: Int): org.apache.spark.sql.types.Decimal = {
    val raw = buf.getLong(i * 8)
    if (raw >= 0L) org.apache.spark.sql.types.Decimal(raw)
    else
      org.apache.spark.sql.types.Decimal(
        scala.math.BigDecimal(java.math.BigInteger.valueOf(raw).add(ZDtype.TwoPow64))
      )
  }
  /** Read as Any matching the Spark type for dtype. */
  def getValue(i: Int): Any = dt.code match {
    case ZDtype.BOOL => getBool(i)
    case ZDtype.I1 => getByte(i)
    case ZDtype.U1 => getU1(i)
    case ZDtype.I2 => getShort(i)
    case ZDtype.U2 => getU2(i)
    case ZDtype.I4 => getInt(i)
    case ZDtype.U4 => getU4(i)
    case ZDtype.I8 => getLong(i)
    case ZDtype.U8 => getU8Dec(i)
    case ZDtype.F2 => getHalf(i)
    case ZDtype.F4 => getFloat(i)
    case ZDtype.F8 => getDouble(i)
    case ZDtype.M8 | ZDtype.TD => getM8(i) // both micros-backed; NaT -> null
    case ZDtype.S | ZDtype.US | ZDtype.VSTR => getUTF8(i)
    case ZDtype.C8 | ZDtype.C16 => getComplex(i)
    case ZDtype.V => getStruct(i)
    case other => throw new IllegalStateException(s"bad dtype code $other")
  }
}

object ZarrBuffer {
  import org.apache.spark.unsafe.types.UTF8String

  /** One fixed-width string cell at byte offset `off`: |S = raw bytes with
    * trailing NULs trimmed (numpy semantics); U = UCS4 code points (dtype
    * byte order), trailing NUL code points trimmed. */
  def decodeFixedUtf8(bytes: Array[Byte], off: Int, dt: ZDtype): UTF8String = dt.code match {
    case ZDtype.S =>
      var len = dt.itemSize
      while (len > 0 && bytes(off + len - 1) == 0) len -= 1
      UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, off, off + len))
    case ZDtype.US =>
      val bb = ByteBuffer
        .wrap(bytes, off, dt.itemSize)
        .order(if (dt.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      val nCp = dt.itemSize / 4
      var last = nCp
      while (last > 0 && bb.getInt(off + (last - 1) * 4) == 0) last -= 1
      val sb = new java.lang.StringBuilder(last)
      var i = 0
      while (i < last) { sb.appendCodePoint(bb.getInt(off + i * 4)); i += 1 }
      UTF8String.fromString(sb.toString)
    case other => throw new IllegalStateException(s"not a fixed-width string dtype: $other")
  }

  /** Same cell decoded to a plain Java String (metadata-side fills). */
  def decodeFixedString(bytes: Array[Byte], off: Int, dt: ZDtype): String =
    decodeFixedUtf8(bytes, off, dt).toString

  /** Encode a string into one fixed-width cell (writer + fill seam):
    * |S = UTF-8 bytes NUL-padded; U = UCS4 code points NUL-padded. */
  def encodeFixed(s: String, dt: ZDtype): Array[Byte] = dt.code match {
    case ZDtype.S =>
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      require(b.length <= dt.itemSize, s"'$s' (${b.length} B) overflows ${dt.tag}")
      java.util.Arrays.copyOf(b, dt.itemSize)
    case ZDtype.US =>
      val cps = s.codePoints().toArray
      require(cps.length <= dt.itemSize / 4, s"'$s' (${cps.length} code points) overflows ${dt.tag}")
      val bb = ByteBuffer
        .allocate(dt.itemSize)
        .order(if (dt.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      cps.foreach(bb.putInt)
      bb.array()
    case other => throw new IllegalStateException(s"not a fixed-width string dtype: $other")
  }

  /** One FIELD of a structured cell at absolute byte offset `off`
    * (field-local endianness; M8/TD fields scale to micros, NaT → null).
    * Shaped fields ([name, dtype, shape]) decode their row-major elements
    * through the same scalar path and rebuild the numpy subarray as
    * nested Spark arrays. */
  private[zarr] def fieldValue(bytes: Array[Byte], off: Int, fdt: ZDtype): Any =
    if (fdt.shape.isEmpty) scalarFieldValue(bytes, off, fdt)
    else {
      val e = fdt.elem
      def build(dim: Int, base: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
        val n = fdt.shape(dim)
        // elements of one sub-slab at this depth span stride bytes each
        val stride = fdt.shape.drop(dim + 1).foldLeft(e.itemSize)(_ * _)
        val out = new Array[Any](n)
        var i = 0
        while (i < n) {
          out(i) =
            if (dim == fdt.shape.length - 1) scalarFieldValue(bytes, base + i * stride, e)
            else build(dim + 1, base + i * stride)
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      }
      build(0, off)
    }

  private def scalarFieldValue(bytes: Array[Byte], off: Int, fdt: ZDtype): Any = {
    def bb = ByteBuffer
      .wrap(bytes, off, fdt.itemSize)
      .order(if (fdt.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    fdt.code match {
      case ZDtype.BOOL => bytes(off) != 0
      case ZDtype.I1 => bytes(off)
      case ZDtype.U1 => (bytes(off) & 0xff).toShort
      case ZDtype.I2 => bb.getShort(off)
      case ZDtype.U2 => bb.getShort(off) & 0xffff
      case ZDtype.I4 => bb.getInt(off)
      case ZDtype.U4 => bb.getInt(off) & 0xffffffffL
      case ZDtype.I8 => bb.getLong(off)
      case ZDtype.U8 =>
        val raw = bb.getLong(off)
        if (raw >= 0L) org.apache.spark.sql.types.Decimal(raw)
        else
          org.apache.spark.sql.types.Decimal(
            scala.math.BigDecimal(java.math.BigInteger.valueOf(raw).add(ZDtype.TwoPow64))
          )
      case ZDtype.F2 => ZDtype.halfToFloat(bb.getShort(off))
      case ZDtype.F4 => bb.getFloat(off)
      case ZDtype.F8 => bb.getDouble(off)
      case ZDtype.M8 | ZDtype.TD => ZDtype.m8Micros(fdt, bb.getLong(off))
      case ZDtype.S | ZDtype.US => decodeFixedUtf8(bytes, off, fdt)
      case other => throw new IllegalStateException(s"unsupported structured field dtype code $other")
    }
  }

  /** Parse a numcodecs vlen-utf8 chunk body (u32-LE item count, then per
    * item u32-LE byte length + UTF-8 bytes) into a VSTR ZarrBuffer. */
  def vlenUtf8(bytes: Array[Byte], expectedItems: Int, dt: ZDtype): ZarrBuffer = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt()
    require(
      n == expectedItems,
      s"vlen-utf8 chunk declares $n items, chunk shape implies $expectedItems"
    )
    val out = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      val len = bb.getInt()
      require(len >= 0 && len <= bb.remaining(), s"vlen-utf8 item $i: bad length $len")
      val item = new Array[Byte](len)
      bb.get(item)
      out(i) = UTF8String.fromBytes(item)
      i += 1
    }
    new ZarrBuffer(null, dt, out)
  }
}

/** A stored chunk (or the shard index locating it) that its codec, filter
  * or index chain could not decode. The message names the array directory
  * and the chunk key, then the original failure, which is kept as the cause. */
final class ZarrCorruptChunkException(val arrayDir: String, val chunkKey: String, cause: Throwable)
    extends RuntimeException(s"corrupt zarr chunk '$chunkKey' in $arrayDir: ${cause.getMessage}", cause)

/** Executor-safe chunk IO: pure functions of (arrayDir, meta, chunkIdx,
  * storageOptions). `arrayDir` is a Hadoop-parseable path/URI string, so the
  * same code reads local dirs in tests and object stores in production. */
object ZarrChunkIO {
  def chunkFileName(chunkIdx: Seq[Int]): String =
    if (chunkIdx.isEmpty) "0" else chunkIdx.mkString(".")

  /** Decode one chunk; None if the chunk file is absent (fill-value chunk).
    * v2 and v3 differ only in the chunk key and the codec chain — the
    * decoded buffer is identical, so everything downstream is
    * version-agnostic. For sharded v3 arrays `chunkIdx` is the INNER chunk
    * index; the shard object and byte range are resolved here. */
  def readChunk(
      arrayDir: String,
      meta: ZarrArrayMeta,
      chunkIdx: Seq[Int],
      storageOptions: Map[String, String] = Map.empty
  ): Option[ZarrBuffer] = {
    val nCells = meta.chunks.map(_.toLong).product.toInt // rank 0: empty product = 1
    val isVlen = meta.zdtype.code == ZDtype.VSTR
    val rawLen = if (isVlen) -1 else nCells * ZarrMeta.itemSize(meta.dtype)
    def decodeV3(raw: Array[Byte]): Array[Byte] =
      // v3 bytes->bytes codecs applied in encode order -> undone in REVERSE
      meta.v3Codecs.foldRight(raw)((cfg, b) => ZarrCodecV3.decode(cfg, b, rawLen))
    def decodeV2(raw: Array[Byte]): Array[Byte] =
      if (isVlen) {
        // the vlen-utf8 layout is parsed below. A categorize filter
        // stores fixed-width codes (known length) whose decode emits
        // the same vlen stream; plain vlen-utf8 was stripped as
        // structural, so the fold is a no-op for it.
        val catLen = meta.filters.collectFirst {
          case cfg if ZarrFilters.idOf(cfg) == "categorize" =>
            ZarrFilters.categorizeStoredLen(cfg, nCells)
        }
        val dec = ZarrCodec.decompress(meta.compressor, raw, catLen.getOrElse(-1))
        meta.filters.foldRight(dec)((cfg, b) => ZarrFilters.decode(cfg, meta.zdtype, b))
      } else {
        // width-changing filters (fixedscaleoffset, packbits) store fewer
        // bytes than the decoded chunk — size the decompressor for the
        // STORED length (fold the filter chain in encode order)
        val storedLen =
          meta.filters.foldLeft(rawLen)((l, cfg) => ZarrFilters.storedLen(cfg, meta.zdtype, l))
        val decompressed = ZarrCodec.decompress(meta.compressor, raw, storedLen)
        // numcodecs filters applied in encode order -> undone in REVERSE
        meta.filters.foldRight(decompressed)((cfg, b) => ZarrFilters.decode(cfg, meta.zdtype, b))
      }
    def toBuffer(bytes: Array[Byte]): ZarrBuffer =
      if (isVlen) ZarrBuffer.vlenUtf8(bytes, nCells, meta.zdtype)
      else {
        require(bytes.length == rawLen, s"decoded to ${bytes.length} bytes, expected $rawLen")
        new ZarrBuffer(bytes, meta.zdtype)
      }
    meta.shardShape match {
      case Some(_) =>
        // the shard index is part of the encoding: its failures are keyed too
        try readInnerChunk(arrayDir, meta, chunkIdx, storageOptions).map(r => toBuffer(decodeV3(r)))
        catch { case scala.util.control.NonFatal(e) => throw keyed(arrayDir, meta, chunkIdx, e) }
      case None =>
        val f = new HPath(arrayDir, meta.chunkKey(chunkIdx))
        ZarrFileIO.readBytesIfExists(f, storageOptions, sizeHint = math.max(rawLen, 4096)).map { raw =>
          try toBuffer(if (meta.v3) decodeV3(raw) else decodeV2(raw))
          catch { case scala.util.control.NonFatal(e) => throw keyed(arrayDir, meta, chunkIdx, e) }
        }
    }
  }

  /** A chunk that fails to decode names its array and key; an unsupported
    * codec is a metadata problem, not a bad chunk, and stays as it is. */
  private def keyed(arrayDir: String, meta: ZarrArrayMeta, chunkIdx: Seq[Int], e: Throwable): Throwable =
    e match {
      case _: UnsupportedOperationException => e
      case _ => new ZarrCorruptChunkException(arrayDir, meta.chunkKey(chunkIdx), e)
    }

  /** Per-JVM bounded cache of decoded shard indexes: every inner chunk of a
    * shard shares one index, so tasks reading a shard's inner chunks pay the
    * index ranged-GET + crc decode once. Keyed on (path, length, mtime) —
    * the file VERSION, from the one HEAD each read does anyway — so an
    * in-place overwrite (or a shard appearing after an absent read) can
    * never serve stale offsets; old versions age out of the LRU. Entries
    * are small (16 B per inner chunk + key). */
  private val shardIndexCache =
    new java.util.LinkedHashMap[String, Array[Long]](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Array[Long]]): Boolean =
        size() > 256
    }

  /** ENCODED bytes of one inner chunk of a sharded v3 array, or None if the
    * inner chunk (or whole shard) is absent (zarr-specs v3
    * §sharding-indexed: the shard object is concatenated encoded inner
    * chunks plus a fixed-size (offset, nbytes) u64-pair index, missing
    * chunks marked with 2^64-1). */
  private def readInnerChunk(
      arrayDir: String,
      meta: ZarrArrayMeta,
      chunkIdx: Seq[Int],
      storageOptions: Map[String, String]
  ): Option[Array[Byte]] = {
    val ss = meta.shardShape.get
    val innerPer = ss.indices.map(d => ss(d) / meta.chunks(d))
    val shardIdx = chunkIdx.indices.map(d => chunkIdx(d) / innerPer(d))
    val within = chunkIdx.indices.map(d => chunkIdx(d) % innerPer(d))
    // C-order ordinal of the inner chunk within the shard
    var ordinal = 0L
    var d = 0
    while (d < within.length) { ordinal = ordinal * innerPer(d) + within(d); d += 1 }
    val nInner = innerPer.map(_.toLong).product.toInt
    val shardPath = new HPath(arrayDir, meta.chunkKey(shardIdx))
    // One HEAD identifies the shard's version; absent shard = every inner
    // chunk fills (nothing to cache — the HEAD already answered).
    val index: Option[Array[Long]] =
      ZarrFileIO.fileVersionIfExists(shardPath, storageOptions).map { case (fileLen, mtime) =>
        val key = s"$shardPath@$fileLen:$mtime"
        val cached = shardIndexCache.synchronized(Option(shardIndexCache.get(key)))
        cached.getOrElse {
          val loaded = readShardIndex(shardPath, meta, nInner, fileLen, storageOptions)
          shardIndexCache.synchronized(shardIndexCache.put(key, loaded))
          loaded
        }
      }
    index.flatMap { idx =>
      val off = idx(2 * ordinal.toInt)
      val len = idx(2 * ordinal.toInt + 1)
      if (off == -1L && len == -1L) None // 2^64-1 marker: fill-value inner chunk
      else {
        require(
          off >= 0L && len >= 0L && len <= Int.MaxValue,
          s"shard ${shardPath.getName}: bad index entry (offset=$off nbytes=$len) for inner chunk $chunkIdx"
        )
        Some(ZarrFileIO.readRange(shardPath, storageOptions, off, len.toInt))
      }
    }
  }

  /** Fetch + verify + parse a shard's index: `nInner` (offset, nbytes) u64
    * pairs in within-shard C-order, encoded by the index_codecs (bytes
    * [+ crc32c]), at the start or end of the shard object. `fileLen` comes
    * from the caller's HEAD (also the cache-version key) — no second HEAD. */
  private def readShardIndex(
      shardPath: HPath,
      meta: ZarrArrayMeta,
      nInner: Int,
      fileLen: Long,
      storageOptions: Map[String, String]
  ): Array[Long] = {
    val storedLen = shardIndexStoredLen(nInner, meta.shardIndexCrc)
    require(
      fileLen >= storedLen,
      s"shard ${shardPath.getName}: ${fileLen} B is smaller than its $storedLen B index"
    )
    val raw = ZarrFileIO.readRange(
      shardPath,
      storageOptions,
      if (meta.shardIndexAtEnd) fileLen - storedLen else 0L,
      storedLen
    )
    parseShardIndexBytes(raw, nInner, meta.shardIndexCrc, meta.shardIndexBigEndian)
  }

  /** Stored byte length of a shard's index: nInner u64 (offset, nbytes)
    * pairs plus the crc32c trailer when the index_codecs declare one. */
  def shardIndexStoredLen(nInner: Int, crc: Boolean): Int =
    nInner * 16 + (if (crc) 4 else 0)

  /** Decode a shard index's STORED bytes into `nInner` (offset, nbytes)
    * u64 pairs — the ONE place the index byte layout (crc verification
    * included; a mismatch throws loudly) is interpreted. Shared by the
    * chunk reader above and [[ZarrChunkWriter]]'s copy of an existing
    * tail shard, so a layout change can't drift between read and append. */
  def parseShardIndexBytes(
      stored: Array[Byte],
      nInner: Int,
      crc: Boolean,
      bigEndian: Boolean
  ): Array[Long] = {
    val bytes =
      if (crc) ZarrCodecV3.decode("""{"name": "crc32c"}""", stored, nInner * 16)
      else stored
    val bb = java.nio.ByteBuffer.wrap(bytes).order(
      if (bigEndian) java.nio.ByteOrder.BIG_ENDIAN
      else java.nio.ByteOrder.LITTLE_ENDIAN
    )
    Array.tabulate(nInner * 2)(i => bb.getLong(i * 8))
  }

  /** Materialize an entire (small) array C-order — coordinate vectors only. */
  def readWholeArray(
      arrayDir: String,
      meta: ZarrArrayMeta,
      storageOptions: Map[String, String] = Map.empty
  ): ZarrBuffer = {
    if (ZDtype.isString(meta.zdtype.code)) return readWholeStrings(arrayDir, meta, storageOptions)
    val total = meta.totalElements.toInt
    val item = ZarrMeta.itemSize(meta.dtype)
    val out = new Array[Byte](total * item)
    val nC = meta.nChunks
    val chunkCount = nC.map(_.toLong).product.toInt
    val cIdx = new Array[Int](meta.rank)
    var ci = 0
    while (ci < chunkCount) {
      // decompose chunk ordinal (C-order over chunk grid)
      var rem = ci; var d = meta.rank - 1
      while (d >= 0) { cIdx(d) = rem % nC(d); rem /= nC(d); d -= 1 }
      readChunk(arrayDir, meta, cIdx.toSeq, storageOptions) match {
        case Some(buf) =>
          copyChunk(buf, cIdx, meta, out, item)
        case None =>
          val fill = meta.fillValue.getOrElse(0.0)
          fillChunk(fill, cIdx, meta, out, item)
      }
      ci += 1
    }
    new ZarrBuffer(out, meta.zdtype)
  }

  /** String-dtype whole-array gather (coordinate axes): every cell decoded
    * to UTF8String; absent chunks fill with fillValueStr (null when the
    * store declares no fill). */
  private def readWholeStrings(
      arrayDir: String,
      meta: ZarrArrayMeta,
      storageOptions: Map[String, String]
  ): ZarrBuffer = {
    val total = meta.totalElements.toInt
    val out = new Array[org.apache.spark.unsafe.types.UTF8String](total)
    val fill = meta.fillValueStr
      .map(org.apache.spark.unsafe.types.UTF8String.fromString)
      .orNull
    val nC = meta.nChunks
    val chunkCount = nC.map(_.toLong).product.toInt
    val cIdx = new Array[Int](meta.rank)
    var ci = 0
    while (ci < chunkCount) {
      var rem = ci; var d = meta.rank - 1
      while (d >= 0) { cIdx(d) = rem % nC(d); rem /= nC(d); d -= 1 }
      readChunk(arrayDir, meta, cIdx.toSeq, storageOptions) match {
        case Some(buf) =>
          foreachCell(cIdx, meta) { (localFlat, globalFlat) =>
            out(globalFlat.toInt) = buf.getUTF8(localFlat)
          }
        case None =>
          foreachCell(cIdx, meta) { (_, globalFlat) => out(globalFlat.toInt) = fill }
      }
      ci += 1
    }
    new ZarrBuffer(null, meta.zdtype, out)
  }

  // dtype-generic: cells move as raw item-sized byte groups (the output
  // buffer keeps the store's own byte order, which ZarrBuffer then decodes)
  private def copyChunk(
      buf: ZarrBuffer,
      cIdx: Array[Int],
      meta: ZarrArrayMeta,
      out: Array[Byte],
      item: Int
  ): Unit =
    foreachCell(cIdx, meta) { (localFlat, globalFlat) =>
      System.arraycopy(buf.raw, localFlat * item, out, globalFlat.toInt * item, item)
    }

  private def fillChunk(
      fill: Double,
      cIdx: Array[Int],
      meta: ZarrArrayMeta,
      out: Array[Byte],
      item: Int
  ): Unit = {
    val one = ByteBuffer
      .allocate(item)
      .order(if (meta.zdtype.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    ZDtype.put(meta.zdtype, one, 0, fill)
    val enc = one.array()
    foreachCell(cIdx, meta) { (_, globalFlat) =>
      System.arraycopy(enc, 0, out, globalFlat.toInt * item, item)
    }
  }

  /** Iterate valid (in-bounds) cells of a chunk: (localFlat, globalFlat). */
  private def foreachCell(cIdx: Array[Int], meta: ZarrArrayMeta)(f: (Int, Long) => Unit): Unit = {
    val rank = meta.rank
    if (rank == 0) { f(0, 0L); return }
    val lo = Array.tabulate(rank)(d => cIdx(d) * meta.chunks(d))
    val hi = Array.tabulate(rank)(d => math.min(meta.shape(d), lo(d) + meta.chunks(d)))
    val globalStrides = graft.model.IndexMath.strides(meta.shape)
    val chunkStrides = graft.model.IndexMath.strides(meta.chunks)
    val pos = lo.clone()
    var done = hi.indices.exists(d => lo(d) >= hi(d))
    while (!done) {
      var localFlat = 0L; var globalFlat = 0L
      var d = 0
      while (d < rank) {
        localFlat += (pos(d) - lo(d)) * chunkStrides(d)
        globalFlat += pos(d).toLong * globalStrides(d)
        d += 1
      }
      f(localFlat.toInt, globalFlat)
      // odometer
      var k = rank - 1
      var carry = true
      while (carry && k >= 0) {
        pos(k) += 1
        if (pos(k) < hi(k)) carry = false
        else { pos(k) = lo(k); k -= 1 }
      }
      done = carry
    }
  }
}
