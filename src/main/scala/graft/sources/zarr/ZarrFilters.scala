package graft.sources.zarr

import java.nio.{ByteBuffer, ByteOrder}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** numcodecs FILTER chain support (the `.zarray` `filters` list — applied
  * before the compressor at write time, reversed after decompression at
  * read time). A reader that ignores this list returns wrong values
  * silently, so unknown filters are REJECTED with a clear error rather
  * than skipped.
  *
  * Supported:
  *  - `delta` (numcodecs.Delta with astype == dtype): decode is a prefix
  *    sum in the stored type's own width/arithmetic (ints wrap, floats add
  *    in their own precision — bit-faithful to numpy's cumsum)
  *  - `quantize` / `bitround`: LOSSY AT ENCODE only — stored values are
  *    already final, decode is the identity
  *  - `fixedscaleoffset` (numcodecs.FixedScaleOffset): stored as the
  *    integer `astype`; decode is `enc / scale + offset` cast back to the
  *    array dtype (numpy semantics: plain IEEE double ops, float→int casts
  *    truncate toward zero)
  *  - `packbits` (numcodecs.PackBits, bool arrays): one header byte with
  *    the leftover-bit count, then MSB-first packed bits
  *
  * delta with `astype != dtype` re-types the stored bytes; rejected with an
  * explicit message until a store needing it shows up. */
object ZarrFilters {
  implicit private val formats: Formats = DefaultFormats

  def idOf(cfg: String): String = (JsonMethods.parse(cfg) \ "id").extract[String]

  /** Decode one filter (called in reverse encode order by the chunk
    * reader). Same-width filters work in place and return the input array;
    * width-changing filters (fixedscaleoffset, packbits) return a new
    * array of the array dtype's width. */
  def decode(cfg: String, dt: ZDtype, bytes: Array[Byte]): Array[Byte] = idOf(cfg) match {
    case "delta" =>
      requireSameType(cfg, dt)
      deltaDecode(dt, bytes)
      bytes
    case "quantize" | "bitround" => bytes
    case "fixedscaleoffset" => fsoDecode(cfg, dt, bytes)
    case "packbits" => packbitsDecode(dt, bytes)
    case "categorize" => categorizeDecode(cfg, dt, bytes)
    case other =>
      throw new UnsupportedOperationException(
        s"zarr filter '$other' not supported (supported: delta, quantize, bitround, " +
          "fixedscaleoffset, packbits, categorize; astype-retyping delta is not) — refusing " +
          "to skip it because that would silently return wrong values"
      )
  }

  /** Encode (writer + append path): same ids, forward direction.
    * quantize/bitround apply the REAL numcodecs transform — they are
    * defined BY their encode-side rounding, so writing raw values into a
    * filtered array would make appended slabs violate the array's
    * declared precision contract. */
  def encode(cfg: String, dt: ZDtype, bytes: Array[Byte]): Array[Byte] = idOf(cfg) match {
    case "delta" =>
      requireSameType(cfg, dt)
      deltaEncode(dt, bytes)
      bytes
    case "quantize" =>
      quantizeEncode(cfg, dt, bytes)
      bytes
    case "bitround" =>
      bitroundEncode(cfg, dt, bytes)
      bytes
    case "fixedscaleoffset" => fsoEncode(cfg, dt, bytes)
    case "packbits" => packbitsEncode(dt, bytes)
    case other => throw new UnsupportedOperationException(s"zarr filter '$other' not supported for write")
  }

  /** Filters whose ENCODE changes stored values — round-to-nearest in the
    * value domain (quantize/bitround) or a rounded scaled-int
    * re-representation (fixedscaleoffset). Zone-map bounds computed from
    * raw pre-filter values can be up to half a quantum NARROWER than what
    * a reader decodes, so chunk-stats recording must be disabled when one
    * of these is in the chain (ADVICE r11). */
  def isLossy(cfg: String): Boolean = idOf(cfg) match {
    case "quantize" | "bitround" | "fixedscaleoffset" => true
    case _ => false
  }

  /** Writable-filter precheck for the APPEND path: a filter id being in
    * the allowlist is NOT enough — encode preconditions (delta's
    * same-type rule, fso/quantize/bitround dtype + parameter
    * requirements) must also hold, and they must reject BEFORE a
    * distributed write starts, not mid-job in an executor. Dry-runs the
    * encode on one zero cell; any failure rethrows as a loud
    * IllegalArgumentException naming the config. */
  def validateWritable(cfg: String, dt: ZDtype): Unit =
    try encode(cfg, dt, new Array[Byte](math.max(dt.itemSize, 1)))
    catch {
      case e: Exception =>
        throw new IllegalArgumentException(
          s"numcodecs filter not writable for dtype ${dt.tag}: $cfg (${e.getMessage})"
        )
    }

  /** numcodecs Quantize encode: keep `digits` decimal digits via the
    * BINARY scale 2^ceil(digits·log2(10)) — `round(scale·x)/scale`,
    * computed in the array's float width (float32 math for f4). Float
    * dtypes only; `digits` is required, exactly as in numcodecs. */
  private def quantizeEncode(cfg: String, dt: ZDtype, bytes: Array[Byte]): Unit = {
    // numcodecs Quantize supports astype != dtype (stores at a different
    // float width); this encode writes full-width bytes, so such a config
    // would produce chunks other readers mis-decode — reject up front,
    // same rule as delta (ADVICE r11)
    requireSameType(cfg, dt, "quantize")
    val digits = (JsonMethods.parse(cfg) \ "digits").extractOpt[Int].getOrElse(
      throw new UnsupportedOperationException(s"quantize filter requires 'digits': $cfg")
    )
    require(digits >= 0, s"quantize digits must be >= 0, got $digits")
    val bits = math.ceil(digits * math.log(10.0) / math.log(2.0)).toInt
    val bb = buf(dt, bytes)
    val n = bytes.length / dt.itemSize
    dt.code match {
      case ZDtype.F8 =>
        val scale = math.pow(2.0, bits)
        var i = 0
        while (i < n) {
          bb.putDouble(i * 8, math.rint(scale * bb.getDouble(i * 8)) / scale)
          i += 1
        }
      case ZDtype.F4 =>
        val scale = math.pow(2.0, bits).toFloat
        var i = 0
        while (i < n) {
          bb.putFloat(i * 4, (math.rint((scale * bb.getFloat(i * 4)).toDouble).toFloat / scale))
          i += 1
        }
      case other =>
        throw new UnsupportedOperationException(s"quantize filter requires a float dtype (got ${dt.tag})")
    }
  }

  /** numcodecs BitRound encode: round the mantissa to `keepbits` bits
    * (round-half-away tie handling on the dropped bits, matching
    * numcodecs: add `((b >> maskbits) & 1) + (1 << (maskbits-1)) - 1`,
    * then mask). keepbits == mantissa width is a no-op. */
  private def bitroundEncode(cfg: String, dt: ZDtype, bytes: Array[Byte]): Unit = {
    requireSameType(cfg, dt, "bitround")
    val keep = (JsonMethods.parse(cfg) \ "keepbits").extractOpt[Int].getOrElse(
      throw new UnsupportedOperationException(s"bitround filter requires 'keepbits': $cfg")
    )
    val bb = buf(dt, bytes)
    val n = bytes.length / dt.itemSize
    dt.code match {
      case ZDtype.F4 =>
        require(keep >= 0 && keep <= 23, s"bitround keepbits must be in [0, 23] for f4, got $keep")
        if (keep < 23) {
          val maskbits = 23 - keep
          val mask = -1 << maskbits
          val half = (1 << (maskbits - 1)) - 1
          var i = 0
          while (i < n) {
            var b = java.lang.Float.floatToRawIntBits(bb.getFloat(i * 4))
            b += ((b >> maskbits) & 1) + half
            b &= mask
            bb.putFloat(i * 4, java.lang.Float.intBitsToFloat(b))
            i += 1
          }
        }
      case ZDtype.F8 =>
        require(keep >= 0 && keep <= 52, s"bitround keepbits must be in [0, 52] for f8, got $keep")
        if (keep < 52) {
          val maskbits = 52 - keep
          val mask = -1L << maskbits
          val half = (1L << (maskbits - 1)) - 1L
          var i = 0
          while (i < n) {
            var b = java.lang.Double.doubleToRawLongBits(bb.getDouble(i * 8))
            b += ((b >> maskbits) & 1L) + half
            b &= mask
            bb.putDouble(i * 8, java.lang.Double.longBitsToDouble(b))
            i += 1
          }
        }
      case other =>
        throw new UnsupportedOperationException(s"bitround filter requires a float dtype (got ${dt.tag})")
    }
  }

  /** STORED byte length of `len` decoded bytes after this filter's encode —
    * lets the chunk reader size the decompressor for width-changing
    * filters (fold in encode order). */
  def storedLen(cfg: String, dt: ZDtype, len: Int): Int = idOf(cfg) match {
    case "fixedscaleoffset" =>
      val astype = ZDtype.parse((JsonMethods.parse(cfg) \ "astype").extract[String])
      len / dt.itemSize * astype.itemSize
    case "packbits" =>
      val n = len // b1 cells are 1 byte each
      1 + (n + 7) / 8
    case "categorize" =>
      // codes only stand for string cells: refuse before sizing a decode
      require(ZDtype.isString(dt.code), s"categorize filter requires a string dtype (got ${dt.tag})")
      categorizeStoredLen(cfg, len / math.max(dt.itemSize, 1))
    case _ => len
  }

  /** Parse a categorize config → (labels, astype). numcodecs.Categorize
    * stores string cells as small integer CODES: label i encodes as i+1,
    * anything not in `labels` encodes as 0 and decodes to '' (numcodecs
    * categorize.py: `dec = np.full_like(enc, fill_value='', ...)`). */
  private def categorizeCfg(cfg: String): (Array[String], ZDtype) = {
    val j = JsonMethods.parse(cfg)
    val labels = (j \ "labels").extract[List[String]].toArray
    val astype = ZDtype.parse((j \ "astype").extractOpt[String].getOrElse("|u1"))
    require(
      Set(ZDtype.I1, ZDtype.U1, ZDtype.I2, ZDtype.U2, ZDtype.I4, ZDtype.U4, ZDtype.I8)(astype.code),
      s"categorize astype must be an int dtype (got ${astype.tag})"
    )
    (labels, astype)
  }

  private def intAt(in: ZarrBuffer, astype: ZDtype, i: Int): Long = astype.code match {
    case ZDtype.I1 => in.getByte(i).toLong
    case ZDtype.U1 => in.getU1(i).toLong
    case ZDtype.I2 => in.getShort(i).toLong
    case ZDtype.U2 => in.getU2(i).toLong
    case ZDtype.I4 => in.getInt(i).toLong
    case ZDtype.U4 => in.getU4(i)
    case _ => in.getLong(i)
  }

  /** numcodecs Categorize decode: stored codes → label strings. Output
    * matches what the chunk reader expects for the array dtype: a
    * vlen-utf8 stream for object arrays, fixed-width cells for S/U. */
  private def categorizeDecode(cfg: String, dt: ZDtype, bytes: Array[Byte]): Array[Byte] = {
    val (labels, astype) = categorizeCfg(cfg)
    val n = bytes.length / astype.itemSize
    val in = new ZarrBuffer(bytes, astype)
    val strs = Array.tabulate(n) { i =>
      val c = intAt(in, astype, i)
      if (c >= 1L && c <= labels.length) labels((c - 1L).toInt) else ""
    }
    if (dt.code == ZDtype.VSTR) ZarrStoreWriter.vlenEncode(strs)
    else {
      require(ZDtype.isString(dt.code), s"categorize filter requires a string dtype (got ${dt.tag})")
      val out = new Array[Byte](n * dt.itemSize)
      var i = 0
      while (i < n) {
        System.arraycopy(ZarrBuffer.encodeFixed(strs(i), dt), 0, out, i * dt.itemSize, dt.itemSize)
        i += 1
      }
      out
    }
  }

  /** Categorize encode over materialized cells (fixture-writer seam; the
    * string analog of [[encode]]'s byte contract). Later duplicate labels
    * win, mirroring numcodecs' sequential `enc[arr == l] = i + 1` loop.
    * Unknown values encode 0 (numcodecs) unless `strict`, where a non-empty
    * one throws: appends must never turn a label into ''. */
  def categorizeEncodeCells(cfg: String, cells: Array[String], strict: Boolean = false): Array[Byte] = {
    val (labels, astype) = categorizeCfg(cfg)
    val codeOf = labels.zipWithIndex.map { case (l, i) => l -> (i + 1L) }.toMap
    val out = ByteBuffer
      .allocate(cells.length * astype.itemSize)
      .order(if (astype.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < cells.length) {
      val code = codeOf.getOrElse(cells(i), 0L)
      if (strict && code == 0L && cells(i) != null && cells(i).nonEmpty)
        throw new IllegalArgumentException(
          s"categorize: value '${cells(i)}' is not in the declared labels — it would encode 0 and decode ''"
        )
      ZDtype.putLong(astype, out, i, code)
      i += 1
    }
    out.array()
  }

  /** Stored bytes of an `nCells` categorize chunk (for sizing the
    * decompressor on vlen arrays, where the decoded length is unknowable). */
  def categorizeStoredLen(cfg: String, nCells: Int): Int =
    nCells * categorizeCfg(cfg)._2.itemSize

  /** Declared label set of a categorize config (append's in-vocabulary
    * precheck: unknown labels encode 0 and decode '' — silent loss). */
  def categorizeLabels(cfg: String): Array[String] = categorizeCfg(cfg)._1

  /** numcodecs FixedScaleOffset decode: `enc / scale + offset` in double,
    * then numpy `.astype(dtype)` (truncation for int dtypes). */
  private def fsoDecode(cfg: String, dt: ZDtype, bytes: Array[Byte]): Array[Byte] = {
    val j = JsonMethods.parse(cfg)
    val offset = (j \ "offset").extract[Double]
    val scale = (j \ "scale").extract[Double]
    val astype = ZDtype.parse((j \ "astype").extract[String])
    require(
      Set(ZDtype.I1, ZDtype.U1, ZDtype.I2, ZDtype.U2, ZDtype.I4, ZDtype.U4, ZDtype.I8)(astype.code),
      s"fixedscaleoffset astype must be an int dtype (got ${astype.tag})"
    )
    val n = bytes.length / astype.itemSize
    val in = new ZarrBuffer(bytes, astype)
    val out = ByteBuffer
      .allocate(n * dt.itemSize)
      .order(if (dt.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) {
      val enc: Double = astype.code match {
        case ZDtype.I1 => in.getByte(i).toDouble
        case ZDtype.U1 => in.getU1(i).toDouble
        case ZDtype.I2 => in.getShort(i).toDouble
        case ZDtype.U2 => in.getU2(i).toDouble
        case ZDtype.I4 => in.getInt(i).toDouble
        case ZDtype.U4 => in.getU4(i).toDouble
        case _ => in.getLong(i).toDouble
      }
      ZDtype.put(dt, out, i, enc / scale + offset)
      i += 1
    }
    out.array()
  }

  /** numcodecs FixedScaleOffset encode: `around((x - offset) * scale)`
    * (round half to even, numpy `around`) cast to the integer astype. */
  private def fsoEncode(cfg: String, dt: ZDtype, bytes: Array[Byte]): Array[Byte] = {
    val j = JsonMethods.parse(cfg)
    val offset = (j \ "offset").extract[Double]
    val scale = (j \ "scale").extract[Double]
    val astype = ZDtype.parse((j \ "astype").extract[String])
    val n = bytes.length / dt.itemSize
    val in = new ZarrBuffer(bytes, dt)
    val out = ByteBuffer
      .allocate(n * astype.itemSize)
      .order(if (astype.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) {
      val x: Double = dt.code match {
        case ZDtype.F4 => in.getFloat(i).toDouble
        case ZDtype.F8 => in.getDouble(i)
        case ZDtype.I4 => in.getInt(i).toDouble
        case ZDtype.I8 => in.getLong(i).toDouble
        case other => throw new UnsupportedOperationException(s"fixedscaleoffset dtype ${dt.tag}")
      }
      ZDtype.putLong(astype, out, i, math.rint((x - offset) * scale).toLong)
      i += 1
    }
    out.array()
  }

  /** numcodecs PackBits decode: header byte = leftover-bit count of the
    * last packed byte, then MSB-first bits (numpy packbits order). */
  private def packbitsDecode(dt: ZDtype, bytes: Array[Byte]): Array[Byte] = {
    require(dt.code == ZDtype.BOOL, s"packbits filter requires a bool dtype (got ${dt.tag})")
    require(bytes.length >= 1, "packbits chunk shorter than its header byte")
    val leftover = bytes(0) & 0xff
    val nPacked = bytes.length - 1
    val n = nPacked * 8 - (if (leftover > 0) 8 - leftover else 0)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      out(i) = ((bytes(1 + (i >> 3)) >> (7 - (i & 7))) & 1).toByte
      i += 1
    }
    out
  }

  private def packbitsEncode(dt: ZDtype, bytes: Array[Byte]): Array[Byte] = {
    require(dt.code == ZDtype.BOOL, s"packbits filter requires a bool dtype (got ${dt.tag})")
    val n = bytes.length
    val leftover = n % 8
    val nPacked = (n + 7) / 8
    val out = new Array[Byte](1 + nPacked)
    out(0) = leftover.toByte
    var i = 0
    while (i < n) {
      if (bytes(i) != 0) out(1 + (i >> 3)) = (out(1 + (i >> 3)) | (1 << (7 - (i & 7)))).toByte
      i += 1
    }
    out
  }

  private def requireSameType(cfg: String, dt: ZDtype, filterName: String = "delta"): Unit = {
    val j = JsonMethods.parse(cfg)
    val astype = (j \ "astype").extractOpt[String]
    val dtype = (j \ "dtype").extractOpt[String]
    val retyped = astype.exists(a => dtype.exists(d => ZDtype.parse(a) != ZDtype.parse(d))) ||
      astype.exists(a => ZDtype.parse(a).code != dt.code || ZDtype.parse(a).itemSize != dt.itemSize)
    if (retyped)
      throw new UnsupportedOperationException(
        s"zarr $filterName filter with astype != dtype ($cfg) not supported — stored chunk bytes " +
          "would be a different width than the array dtype"
      )
  }

  private def buf(dt: ZDtype, bytes: Array[Byte]): ByteBuffer =
    ByteBuffer.wrap(bytes).order(if (dt.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)

  /** Prefix sum in the stored type (numpy cumsum semantics: integer
    * wrap-around in the stored width, float addition in float precision). */
  private def deltaDecode(dt: ZDtype, bytes: Array[Byte]): Unit = {
    val bb = buf(dt, bytes)
    val n = bytes.length / dt.itemSize
    dt.code match {
      case ZDtype.I1 | ZDtype.U1 =>
        var acc: Byte = 0
        var i = 0
        while (i < n) { acc = (acc + bytes(i)).toByte; bytes(i) = acc; i += 1 }
      case ZDtype.I2 | ZDtype.U2 =>
        var acc: Short = 0
        var i = 0
        while (i < n) { acc = (acc + bb.getShort(i * 2)).toShort; bb.putShort(i * 2, acc); i += 1 }
      case ZDtype.I4 | ZDtype.U4 =>
        var acc = 0
        var i = 0
        while (i < n) { acc += bb.getInt(i * 4); bb.putInt(i * 4, acc); i += 1 }
      case ZDtype.I8 | ZDtype.M8 =>
        var acc = 0L
        var i = 0
        while (i < n) { acc += bb.getLong(i * 8); bb.putLong(i * 8, acc); i += 1 }
      case ZDtype.F2 =>
        var acc = 0.0f
        var i = 0
        while (i < n) {
          acc += ZDtype.halfToFloat(bb.getShort(i * 2))
          bb.putShort(i * 2, ZDtype.floatToHalf(acc))
          i += 1
        }
      case ZDtype.F4 =>
        var acc = 0.0f
        var i = 0
        while (i < n) { acc += bb.getFloat(i * 4); bb.putFloat(i * 4, acc); i += 1 }
      case ZDtype.F8 =>
        var acc = 0.0
        var i = 0
        while (i < n) { acc += bb.getDouble(i * 8); bb.putDouble(i * 8, acc); i += 1 }
      case other =>
        throw new UnsupportedOperationException(s"zarr delta filter unsupported for dtype ${dt.tag}")
    }
  }

  private def deltaEncode(dt: ZDtype, bytes: Array[Byte]): Unit = {
    val bb = buf(dt, bytes)
    val n = bytes.length / dt.itemSize
    dt.code match {
      case ZDtype.I1 | ZDtype.U1 =>
        var prev: Byte = 0
        var i = 0
        while (i < n) { val v = bytes(i); bytes(i) = (v - prev).toByte; prev = v; i += 1 }
      case ZDtype.I2 | ZDtype.U2 =>
        var prev: Short = 0
        var i = 0
        while (i < n) { val v = bb.getShort(i * 2); bb.putShort(i * 2, (v - prev).toShort); prev = v; i += 1 }
      case ZDtype.I4 | ZDtype.U4 =>
        var prev = 0
        var i = 0
        while (i < n) { val v = bb.getInt(i * 4); bb.putInt(i * 4, v - prev); prev = v; i += 1 }
      case ZDtype.I8 | ZDtype.M8 =>
        var prev = 0L
        var i = 0
        while (i < n) { val v = bb.getLong(i * 8); bb.putLong(i * 8, v - prev); prev = v; i += 1 }
      case ZDtype.F2 =>
        var prev = 0.0f
        var i = 0
        while (i < n) {
          val v = ZDtype.halfToFloat(bb.getShort(i * 2))
          bb.putShort(i * 2, ZDtype.floatToHalf(v - prev))
          prev = v
          i += 1
        }
      case ZDtype.F4 =>
        var prev = 0.0f
        var i = 0
        while (i < n) { val v = bb.getFloat(i * 4); bb.putFloat(i * 4, v - prev); prev = v; i += 1 }
      case ZDtype.F8 =>
        var prev = 0.0
        var i = 0
        while (i < n) { val v = bb.getDouble(i * 8); bb.putDouble(i * 8, v - prev); prev = v; i += 1 }
      case other =>
        throw new UnsupportedOperationException(s"zarr delta filter unsupported for dtype ${dt.tag}")
    }
  }
}
