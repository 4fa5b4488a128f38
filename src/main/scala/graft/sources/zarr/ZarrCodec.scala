package graft.sources.zarr

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{Deflater, DeflaterOutputStream, GZIPInputStream, GZIPOutputStream, InflaterInputStream}

/** Chunk compression seam. `zlib`/`gzip` round-trip through `java.util.zip`,
  * `zstd` through zstd-jni, and `blosc` — numcodecs' DEFAULT compressor, used
  * by virtually every real-world Zarr v2 store (the reference's fixtures are
  * zarr defaults, reference: tests/conftest.py:17-49) — through [[Blosc]],
  * which parses the 16-byte blosc1 frame and dispatches the inner codec to
  * the lz4-java / zstd-jni / snappy-java / java.util.zip libraries Spark
  * already ships. Adding another codec only touches this object. */
object ZarrCodec {
  def decompress(codec: Option[String], bytes: Array[Byte], rawLen: Int): Array[Byte] =
    codec match {
      case None => bytes
      case Some("zlib") => readAll(new InflaterInputStream(new java.io.ByteArrayInputStream(bytes)), rawLen)
      case Some("gzip") => readAll(new GZIPInputStream(new java.io.ByteArrayInputStream(bytes)), rawLen)
      case Some("zstd") =>
        // rawLen is known from the chunk's element count x item size; a
        // one-shot decompress avoids streaming allocation churn. rawLen <= 0
        // (variable-length chunks, e.g. vlen-utf8) reads the frame's own
        // declared content size instead.
        if (rawLen > 0) com.github.luben.zstd.Zstd.decompress(bytes, rawLen)
        else {
          val sz = com.github.luben.zstd.Zstd.getFrameContentSize(bytes)
          require(sz >= 0 && sz <= Int.MaxValue, s"zstd frame with unknown/huge content size $sz")
          com.github.luben.zstd.Zstd.decompress(bytes, sz.toInt)
        }
      case Some("blosc") => Blosc.decompress(bytes, rawLen)
      case Some(other) =>
        throw new UnsupportedOperationException(
          s"zarr codec '$other' not supported on JVM (supported: blosc, zlib, gzip, zstd, uncompressed)"
        )
    }

  /** `codec` for write: "zlib" | "gzip" | "zstd" |
    * "blosc[:cname[:noshuffle|:bitshuffle]]" (blosc cname ∈ blosclz, lz4,
    * zstd, zlib, snappy; byte-shuffle on by default to match numcodecs' zarr
    * default `Blosc(cname='lz4', shuffle=SHUFFLE)`). `typesize` drives the
    * blosc shuffle filters; other codecs ignore it. */
  def compress(codec: Option[String], bytes: Array[Byte], typesize: Int = 1): Array[Byte] = codec match {
    case None => bytes
    case Some("zlib") =>
      val bos = new ByteArrayOutputStream()
      val d = new DeflaterOutputStream(bos, new Deflater(Deflater.DEFAULT_COMPRESSION))
      d.write(bytes); d.close(); bos.toByteArray
    case Some("gzip") =>
      val bos = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(bos)
      g.write(bytes); g.close(); bos.toByteArray
    case Some("zstd") => com.github.luben.zstd.Zstd.compress(bytes, 3)
    case Some(b) if b == "blosc" || b.startsWith("blosc:") =>
      val parts = b.split(":")
      val cname = if (parts.length > 1) parts(1) else "lz4"
      Blosc.compressMode(cname, bytes, typesize, shuffleModeOf(parts))
    case Some(other) =>
      throw new UnsupportedOperationException(s"zarr codec '$other' not supported for write")
  }

  /** numcodecs shuffle encoding for a "blosc[:cname[:mode]]" spec string:
    * 0 none, 1 byte-shuffle (default), 2 bit-shuffle. */
  private[zarr] def shuffleModeOf(parts: Array[String]): Int =
    if (parts.length > 2 && parts(2) == "noshuffle") 0
    else if (parts.length > 2 && parts(2) == "bitshuffle") 2
    else 1

  private def readAll(in: java.io.InputStream, expect: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(math.max(64, expect))
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }

  private[zarr] def readAllOf(in: java.io.InputStream, expect: Int): Array[Byte] =
    readAll(in, expect)
}

/** Zarr v3 bytes→bytes codec pipeline (zarr-specs v3 §codecs). Each config
  * is the codec's own JSON document (`{"name": ..., "configuration": ...}`);
  * encode applies the chain left-to-right, decode right-to-left (the caller
  * folds). Supported: `gzip`, `zstd`, `blosc` (same inner frame as v2 —
  * numcodecs and c-blosc share the blosc1 container), and `crc32c`
  * (checksum verified then stripped; JDK `java.util.zip.CRC32C`). */
object ZarrCodecV3 {
  import org.json4s._
  import org.json4s.jackson.JsonMethods
  implicit private val formats: Formats = DefaultFormats

  private def name(cfg: String): String =
    (JsonMethods.parse(cfg) \ "name").extract[String]

  def decode(cfg: String, bytes: Array[Byte], rawLenHint: Int): Array[Byte] = name(cfg) match {
    case "gzip" =>
      ZarrCodec.readAllOf(new GZIPInputStream(new java.io.ByteArrayInputStream(bytes)), rawLenHint)
    case "zstd" =>
      // rawLenHint <= 0 (variable-length chunks, e.g. v3 vlen-utf8): read
      // the frame's own declared content size
      if (rawLenHint > 0) com.github.luben.zstd.Zstd.decompress(bytes, rawLenHint)
      else {
        val sz = com.github.luben.zstd.Zstd.getFrameContentSize(bytes)
        require(sz >= 0 && sz <= Int.MaxValue, s"zstd frame with unknown/huge content size $sz")
        com.github.luben.zstd.Zstd.decompress(bytes, sz.toInt)
      }
    case "blosc" => Blosc.decompress(bytes, rawLenHint)
    case "crc32c" =>
      require(bytes.length >= 4, "crc32c codec: payload shorter than its checksum")
      val c = new java.util.zip.CRC32C
      c.update(bytes, 0, bytes.length - 4)
      val stored = ByteBuffer.wrap(bytes, bytes.length - 4, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      require(
        stored == c.getValue.toInt,
        f"crc32c mismatch: stored 0x$stored%08x computed 0x${c.getValue.toInt}%08x"
      )
      java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 4)
    case other =>
      throw new UnsupportedOperationException(
        s"zarr v3 codec '$other' not supported on JVM (supported: gzip, zstd, blosc, crc32c)"
      )
  }

  def encode(cfg: String, bytes: Array[Byte], typesize: Int): Array[Byte] = name(cfg) match {
    case "gzip" =>
      val j = JsonMethods.parse(cfg)
      val level = (j \ "configuration" \ "level").extractOpt[Int].getOrElse(5)
      val bos = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(bos) { `def`.setLevel(level) }
      g.write(bytes); g.close(); bos.toByteArray
    case "zstd" =>
      val j = JsonMethods.parse(cfg)
      val level = (j \ "configuration" \ "level").extractOpt[Int].getOrElse(3)
      com.github.luben.zstd.Zstd.compress(bytes, level)
    case "blosc" =>
      val j = JsonMethods.parse(cfg)
      val cname = (j \ "configuration" \ "cname").extractOpt[String].getOrElse("lz4")
      val shuffle = (j \ "configuration" \ "shuffle").extractOpt[String].getOrElse("shuffle") match {
        case "noshuffle" => 0
        case "bitshuffle" => 2
        case _ => 1
      }
      Blosc.compressMode(cname, bytes, typesize, shuffle)
    case "crc32c" =>
      val c = new java.util.zip.CRC32C
      c.update(bytes, 0, bytes.length)
      val out = java.util.Arrays.copyOf(bytes, bytes.length + 4)
      ByteBuffer.wrap(out, bytes.length, 4).order(ByteOrder.LITTLE_ENDIAN).putInt(c.getValue.toInt)
      out
    case other =>
      throw new UnsupportedOperationException(s"zarr v3 codec '$other' not supported for write")
  }
}

/** Blosc1 frame codec (the container numcodecs' `Blosc` writes).
  *
  * Frame layout (c-blosc 1.x `blosc.c`, public BSD source):
  * {{{
  *  byte 0    version (2)
  *  byte 1    inner-codec format version
  *  byte 2    flags: 0x1 byte-shuffle | 0x2 memcpy | 0x4 bit-shuffle,
  *            bits 5-7 inner codec (0 blosclz, 1 lz4, 2 snappy, 3 zlib, 4 zstd)
  *  byte 3    typesize
  *  int32 LE  nbytes (uncompressed), blocksize, cbytes (frame incl. header)
  *  then      int32 LE block start offsets (absolute), one per block
  *            — absent in memcpy mode, where raw bytes follow the header
  *  blocks    each block: per split, int32 LE compressed size + payload;
  *            a split whose size equals its uncompressed size is stored raw
  * }}}
  *
  * Splits: full blocks of a splittable frame (inner codec blosclz/lz4,
  * 2 <= typesize <= 16, blocksize % typesize == 0 — c-blosc's
  * forward-compat split policy) hold one compressed stream per byte lane;
  * other blocks hold a single stream. Because older c-blosc versions
  * applied a different policy (split for every codec), decode verifies the
  * split streams land exactly on the block boundary and falls back to the
  * other split count if not — both layouts decode.
  *
  * Byte-shuffle is applied per block (shuffle -> compress; decompress ->
  * unshuffle). Bit-shuffle (numcodecs shuffle=2) is a per-block bit-matrix
  * transpose over whole 8-element groups with c-blosc's raw-leftover rule
  * (see [[bitShuffle]]). blosclz (inner codec 0, c-blosc's own default
  * cname) decodes through [[BloscLz]], a from-spec implementation of the
  * FastLZ-derived format.
  */
object Blosc {
  private val FlagShuffle = 0x1
  private val FlagMemcpy = 0x2
  private val FlagBitShuffle = 0x4
  private val MaxStreams = 16

  private val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance()

  /** `rawLen` is the decoded length the caller expects (`-1` = unknown,
    * e.g. variable-length chunks); a header declaring more is rejected
    * before anything is allocated. */
  def decompress(frame: Array[Byte], rawLen: Int = -1): Array[Byte] = {
    require(frame.length >= 16, s"truncated blosc frame (${frame.length} bytes)")
    val bb = ByteBuffer.wrap(frame).order(ByteOrder.LITTLE_ENDIAN)
    val flags = bb.get(2) & 0xff
    val typesize = bb.get(3) & 0xff
    val nbytes = bb.getInt(4)
    val blocksize = bb.getInt(8)
    require(nbytes >= 0 && blocksize > 0 || nbytes == 0, s"bad blosc frame: nbytes=$nbytes blocksize=$blocksize")
    require(rawLen < 0 || nbytes <= rawLen, s"blosc frame declares $nbytes bytes, chunk holds $rawLen")
    val memcpy = (flags & FlagMemcpy) != 0
    val nblocks = if (nbytes == 0) 0 else ((nbytes.toLong + blocksize - 1) / blocksize).toInt
    val need = if (memcpy) 16L + nbytes else 16L + 4L * nblocks
    require(need <= frame.length, s"truncated blosc frame: ${frame.length} bytes, header needs $need")
    val out = new Array[Byte](nbytes)
    if (nbytes == 0) return out
    if (memcpy) {
      System.arraycopy(frame, 16, out, 0, nbytes)
      return out
    }
    require(
      (flags & FlagShuffle) == 0 || (flags & FlagBitShuffle) == 0,
      "corrupt blosc frame: both byte-shuffle and bit-shuffle flags set"
    )
    val codec = (flags >> 5) & 0x7
    val shuffled = (flags & FlagShuffle) != 0 && typesize > 1
    val bitShuffled = (flags & FlagBitShuffle) != 0
    val bstarts = Array.tabulate(nblocks)(i => bb.getInt(16 + 4 * i))
    val tmp = if (shuffled || bitShuffled) new Array[Byte](math.min(blocksize, nbytes)) else null
    var b = 0
    while (b < nblocks) {
      val bsize = math.min(blocksize.toLong, nbytes.toLong - b.toLong * blocksize).toInt
      val leftover = bsize != blocksize
      val blockEnd = if (b + 1 < nblocks) bstarts(b + 1) else frame.length
      val target = if (shuffled || bitShuffled) tmp else out
      val targetOff = if (shuffled || bitShuffled) 0 else b * blocksize
      val primary = if (!leftover && splitPolicy(codec, typesize, blocksize)) typesize else 1
      val ok = tryDecodeBlock(frame, bstarts(b), blockEnd, codec, primary, bsize, target, targetOff) || {
        // other split layout (older c-blosc always split when splittable)
        val alt = if (primary == 1 && !leftover && typesize >= 2 && typesize <= MaxStreams &&
          blocksize % typesize == 0) typesize else 1
        alt != primary && tryDecodeBlock(frame, bstarts(b), blockEnd, codec, alt, bsize, target, targetOff)
      }
      require(ok, s"blosc block $b failed to decode (codec=$codec typesize=$typesize)")
      if (shuffled) unshuffle(typesize, tmp, bsize, out, b * blocksize)
      else if (bitShuffled) bitUnshuffle(typesize, tmp, bsize, out, b * blocksize)
      b += 1
    }
    out
  }

  /** c-blosc forward-compat split policy — pure over header fields, so
    * decode recomputes what compress decided. */
  private def splitPolicy(codec: Int, typesize: Int, blocksize: Int): Boolean =
    (codec == 0 || codec == 1) && typesize >= 2 && typesize <= MaxStreams &&
      blocksize % typesize == 0

  /** Decode one block as `nsplits` concatenated streams; false if the
    * streams don't land exactly on the block end (wrong split guess). */
  private def tryDecodeBlock(
      frame: Array[Byte],
      start: Int,
      end: Int,
      codec: Int,
      nsplits: Int,
      bsize: Int,
      out: Array[Byte],
      outOff: Int
  ): Boolean =
    try {
      val neblock = bsize / nsplits
      if (neblock * nsplits != bsize) return false
      val bb = ByteBuffer.wrap(frame).order(ByteOrder.LITTLE_ENDIAN)
      var pos = start
      var s = 0
      while (s < nsplits) {
        if (pos + 4 > frame.length) return false
        val csize = bb.getInt(pos)
        pos += 4
        if (csize < 0 || pos + csize > frame.length) return false
        val dstOff = outOff + s * neblock
        if (csize == neblock) System.arraycopy(frame, pos, out, dstOff, neblock)
        else {
          val n = codec match {
            case 0 => BloscLz.decompress(frame, pos, csize, out, dstOff, neblock)
            case 1 => lz4.safeDecompressor().decompress(frame, pos, csize, out, dstOff, neblock)
            case 2 =>
              val dec = org.xerial.snappy.Snappy.uncompress(java.util.Arrays.copyOfRange(frame, pos, pos + csize))
              System.arraycopy(dec, 0, out, dstOff, dec.length); dec.length
            case 3 =>
              val inf = new java.util.zip.Inflater()
              inf.setInput(frame, pos, csize)
              val n0 = inf.inflate(out, dstOff, neblock)
              inf.end(); n0
            case 4 =>
              com.github.luben.zstd.Zstd
                .decompressByteArray(out, dstOff, neblock, frame, pos, csize)
                .toInt
            case other => throw new UnsupportedOperationException(s"unknown blosc inner codec id $other")
          }
          if (n != neblock) return false
        }
        pos += csize
        s += 1
      }
      pos == end
    } catch {
      case e: UnsupportedOperationException => throw e // unsupported codec, not a wrong split guess
      case scala.util.control.NonFatal(_) => false
    }

  /** Boolean byte-shuffle compatibility wrapper over [[compressMode]]. */
  def compress(
      cname: String,
      data: Array[Byte],
      typesize: Int,
      shuffle: Boolean,
      blockSize: Int = 0
  ): Array[Byte] = compressMode(cname, data, typesize, if (shuffle) 1 else 0, blockSize)

  /** Compress into a blosc1 frame readable by c-blosc/numcodecs.
    * `shuffleMode` uses numcodecs' encoding: 0 none, 1 byte-shuffle,
    * 2 bit-shuffle. `blockSize` 0 (default) = one block; any positive value
    * exercises the full multi-block + leftover-block layout (shuffle,
    * splits, and the raw-split escape all applied per block, exactly as
    * decode walks it). Property-tested round-trip across codecs/typesizes/
    * block shapes/shuffle modes. */
  def compressMode(
      cname: String,
      data: Array[Byte],
      typesize: Int,
      shuffleMode: Int,
      blockSize: Int = 0,
      // test hook: lz4-java resolves fastestInstance() per-JVM (JNI ->
      // unsafe -> safe), and the implementations emit different compressed
      // bytes for the same input — specs pin that every variant's frame
      // decodes identically, whatever the host JVM picks
      lz4Factory: net.jpountz.lz4.LZ4Factory = lz4
  ): Array[Byte] = {
    val codec = cname match {
      case "blosclz" => 0
      case "lz4" => 1
      case "snappy" => 2
      case "zlib" => 3
      case "zstd" => 4
      case other => throw new UnsupportedOperationException(s"blosc compress: unsupported cname '$other'")
    }
    val nbytes = data.length
    val ts = math.max(1, typesize)
    val blocksize =
      if (blockSize > 0) math.max(blockSize, ts) else math.max(nbytes, ts)
    // c-blosc shuffles only complete elements; per-BLOCK byte-shuffle
    // requires each full block to hold whole elements. Bit-shuffle needs no
    // such gate: its per-block leftover rule (whole 8-element groups only,
    // tail raw) is applied symmetrically by decode.
    val doShuffle = shuffleMode == 1 && ts > 1 && blocksize % ts == 0 && nbytes % ts == 0
    val doBitShuffle = shuffleMode == 2
    val nblocks = if (nbytes == 0) 0 else ((nbytes.toLong + blocksize - 1) / blocksize).toInt
    val sizeBuf = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)

    def compressOne(src: Array[Byte], off: Int, len: Int): Array[Byte] = codec match {
      case 0 => BloscLz.compress(src, off, len)
      case 1 =>
        val c = lz4Factory.fastCompressor()
        val outBuf = new Array[Byte](c.maxCompressedLength(len))
        val n = c.compress(src, off, len, outBuf, 0, outBuf.length)
        java.util.Arrays.copyOf(outBuf, n)
      case 2 => org.xerial.snappy.Snappy.compress(java.util.Arrays.copyOfRange(src, off, off + len))
      case 3 =>
        val bos = new ByteArrayOutputStream()
        val d = new DeflaterOutputStream(bos, new Deflater(5))
        d.write(src, off, len); d.close(); bos.toByteArray
      case 4 =>
        com.github.luben.zstd.Zstd.compress(java.util.Arrays.copyOfRange(src, off, off + len), 3)
    }

    val payload = new ByteArrayOutputStream()
    val bstarts = new Array[Int](nblocks)
    var b = 0
    while (b < nblocks) {
      bstarts(b) = 16 + 4 * nblocks + payload.size()
      val bsize = math.min(blocksize.toLong, nbytes.toLong - b.toLong * blocksize).toInt
      val leftover = bsize != blocksize
      val blockOff = b * blocksize
      val block =
        if (doShuffle) {
          val t = new Array[Byte](bsize)
          shuffleBytes(ts, java.util.Arrays.copyOfRange(data, blockOff, blockOff + bsize), t)
          t
        } else if (doBitShuffle) {
          val t = new Array[Byte](bsize)
          bitShuffle(ts, java.util.Arrays.copyOfRange(data, blockOff, blockOff + bsize), t)
          t
        } else java.util.Arrays.copyOfRange(data, blockOff, blockOff + bsize)
      val nsplits = if (!leftover && splitPolicy(codec, ts, blocksize)) ts else 1
      val neblock = bsize / nsplits
      var s = 0
      while (s < nsplits) {
        val comp = compressOne(block, s * neblock, neblock)
        val stored =
          if (comp.length >= neblock)
            java.util.Arrays.copyOfRange(block, s * neblock, s * neblock + neblock)
          else comp
        sizeBuf.clear(); sizeBuf.putInt(stored.length)
        payload.write(sizeBuf.array(), 0, 4)
        payload.write(stored)
        s += 1
      }
      b += 1
    }
    val body = payload.toByteArray
    val compressedFits = 16 + 4 * nblocks + body.length < 16 + nbytes
    val header = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    header.put(0, 2.toByte) // blosc1 format version
    header.put(1, 1.toByte) // inner codec format version
    if (!compressedFits) {
      // memcpy mode: raw bytes follow the header
      header.put(2, FlagMemcpy.toByte)
      header.put(3, ts.toByte)
      header.putInt(4, nbytes); header.putInt(8, blocksize); header.putInt(12, 16 + nbytes)
      val out = new Array[Byte](16 + nbytes)
      System.arraycopy(header.array(), 0, out, 0, 16)
      System.arraycopy(data, 0, out, 16, nbytes) // memcpy frames are UNSHUFFLED
      out
    } else {
      val flags =
        (if (doShuffle) FlagShuffle else 0) | (if (doBitShuffle) FlagBitShuffle else 0) | (codec << 5)
      header.put(2, flags.toByte)
      header.put(3, ts.toByte)
      header.putInt(4, nbytes); header.putInt(8, blocksize)
      header.putInt(12, 16 + 4 * nblocks + body.length)
      val out = new Array[Byte](16 + 4 * nblocks + body.length)
      System.arraycopy(header.array(), 0, out, 0, 16)
      val bs = ByteBuffer.allocate(4 * math.max(1, nblocks)).order(ByteOrder.LITTLE_ENDIAN)
      bstarts.foreach(bs.putInt)
      System.arraycopy(bs.array(), 0, out, 16, 4 * nblocks)
      System.arraycopy(body, 0, out, 16 + 4 * nblocks, body.length)
      out
    }
  }

  /** Byte-shuffle: gather byte lane j of every element contiguously.
    * Trailing bytes (len % typesize) are copied through unchanged. */
  private[zarr] def shuffleBytes(typesize: Int, src: Array[Byte], dst: Array[Byte]): Unit = {
    val len = src.length
    val nel = len / typesize
    var j = 0
    while (j < typesize) {
      var i = 0
      while (i < nel) { dst(j * nel + i) = src(i * typesize + j); i += 1 }
      j += 1
    }
    var t = nel * typesize
    while (t < len) { dst(t) = src(t); t += 1 }
  }

  /** Inverse of [[shuffleBytes]] over one block. */
  private[zarr] def unshuffle(typesize: Int, src: Array[Byte], bsize: Int, dst: Array[Byte], dstOff: Int): Unit = {
    val nel = bsize / typesize
    var j = 0
    while (j < typesize) {
      var i = 0
      while (i < nel) { dst(dstOff + i * typesize + j) = src(j * nel + i); i += 1 }
      j += 1
    }
    var t = nel * typesize
    while (t < bsize) { dst(dstOff + t) = src(t); t += 1 }
  }

  /** Bit-shuffle (numcodecs shuffle=2): transpose the bit matrix of
    * (elements) x (bits per element) so that bit plane p of byte lane j is
    * stored contiguously as plane (j*8 + p), packed LSB-first — the layout
    * that makes slowly-varying numeric data byte-compressible at the bit
    * level. Only whole 8-element groups participate; the trailing
    * `nel % 8` elements and any sub-element tail are copied raw — c-blosc's
    * per-block leftover rule, recomputable by decode from (bsize, typesize)
    * alone so no extra header state is needed. */
  private[zarr] def bitShuffle(typesize: Int, src: Array[Byte], dst: Array[Byte]): Unit = {
    val len = src.length
    val nel = len / typesize
    val ep = nel - (nel % 8)
    val planeBytes = ep / 8
    var j = 0
    while (j < typesize) {
      var p = 0
      while (p < 8) {
        val base = (j * 8 + p) * planeBytes
        var q = 0
        while (q < planeBytes) {
          var b = 0
          var r = 0
          while (r < 8) {
            b |= ((src((8 * q + r) * typesize + j) >> p) & 1) << r
            r += 1
          }
          dst(base + q) = b.toByte
          q += 1
        }
        p += 1
      }
      j += 1
    }
    var t = ep * typesize
    while (t < len) { dst(t) = src(t); t += 1 }
  }

  /** Inverse of [[bitShuffle]] over one block of `bsize` bytes. */
  private[zarr] def bitUnshuffle(typesize: Int, src: Array[Byte], bsize: Int, dst: Array[Byte], dstOff: Int): Unit = {
    val nel = bsize / typesize
    val ep = nel - (nel % 8)
    val planeBytes = ep / 8
    java.util.Arrays.fill(dst, dstOff, dstOff + ep * typesize, 0.toByte)
    var j = 0
    while (j < typesize) {
      var p = 0
      while (p < 8) {
        val base = (j * 8 + p) * planeBytes
        var q = 0
        while (q < planeBytes) {
          val v = src(base + q) & 0xff
          var r = 0
          while (r < 8) {
            if (((v >> r) & 1) != 0) {
              val di = dstOff + (8 * q + r) * typesize + j
              dst(di) = (dst(di) | (1 << p)).toByte
            }
            r += 1
          }
          q += 1
        }
        p += 1
      }
      j += 1
    }
    var t = ep * typesize
    while (t < bsize) { dst(dstOff + t) = src(t); t += 1 }
  }
}

/** blosclz — c-blosc's own default inner codec (cname 0), a FastLZ-derived
  * LZ77 format, re-implemented from the public format (c-blosc 1.x
  * blosclz.c, BSD): a token stream where token < 32 is a literal run of
  * token+1 bytes; otherwise the top 3 bits carry match length - 2 (7 =
  * extended by 255-continuation bytes), the low 5 bits are the distance
  * high byte, the next byte the distance low byte, with a 16-bit
  * far-distance escape (low byte 255 at max 13-bit offset). The first token
  * is always a literal run (the decoder masks it with `& 31`).
  *
  * The encoder is a greedy hash-table LZ that caps match distance below the
  * far-distance escape, so every emitted stream stays in the unambiguous
  * core of the format; the decoder handles the full format including far
  * matches. Byte-for-byte identity with c-blosc output is NOT required by
  * the frame (any valid token stream decodes); round-trip and frame-level
  * decode are property-tested. */
object BloscLz {
  private val MaxDistance = 8191

  /** Decompress `inLen` bytes at `in(start)` into `out(outOff, outOff+outLen)`;
    * returns bytes produced (callers require == outLen). */
  def decompress(in: Array[Byte], start: Int, inLen: Int, out: Array[Byte], outOff: Int, outLen: Int): Int = {
    var ip = start
    val ipEnd = start + inLen
    var op = outOff
    val opEnd = outOff + outLen
    if (ip >= ipEnd) return 0
    var ctrl = in(ip) & 31 // first token is forced literal
    ip += 1
    var done = false
    while (!done) {
      if (ctrl >= 32) {
        var len = (ctrl >> 5) - 1
        var ofs = (ctrl & 31) << 8
        if (len == 6) { // 7-1: extended length
          var code = 0
          do {
            if (ip >= ipEnd) throw new IllegalArgumentException("truncated blosclz stream (length)")
            code = in(ip) & 0xff; ip += 1
            len += code
          } while (code == 255)
        }
        if (ip >= ipEnd) throw new IllegalArgumentException("truncated blosclz stream (distance)")
        val code = in(ip) & 0xff; ip += 1
        len += 3
        var ref = op - ofs - 1 - code
        if (code == 255 && ofs == (31 << 8)) {
          if (ip + 1 >= ipEnd) throw new IllegalArgumentException("truncated blosclz stream (far distance)")
          ofs = ((in(ip) & 0xff) << 8) | (in(ip + 1) & 0xff); ip += 2
          ref = op - ofs - MaxDistance
        }
        if (op + len > opEnd || ref < outOff)
          throw new IllegalArgumentException("corrupt blosclz stream (match out of bounds)")
        var i = 0
        while (i < len) { out(op + i) = out(ref + i); i += 1 } // forward copy: overlap = RLE
        op += len
      } else {
        val run = ctrl + 1
        if (op + run > opEnd || ip + run > ipEnd)
          throw new IllegalArgumentException("corrupt blosclz stream (literal run out of bounds)")
        System.arraycopy(in, ip, out, op, run)
        ip += run; op += run
      }
      if (ip < ipEnd) { ctrl = in(ip) & 0xff; ip += 1 } else done = true
    }
    op - outOff
  }

  /** Greedy LZ77 encoder emitting the format above. Output may exceed the
    * input for incompressible data — the blosc frame layer's raw-split and
    * memcpy escapes handle that, exactly as they do for the other codecs. */
  def compress(src: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(math.max(16, len / 2))
    val end = off + len
    var anchor = off
    var ip = off
    val hashBits = 14
    val table = new Array[Int](1 << hashBits) // position + 1; 0 = empty

    def hash(p: Int): Int = {
      val v = ((src(p) & 0xff) | ((src(p + 1) & 0xff) << 8) | ((src(p + 2) & 0xff) << 16)) * 0x9e3779b1
      v >>> (32 - hashBits)
    }
    def emitLiterals(upTo: Int): Unit = {
      var a = anchor
      while (a < upTo) {
        val run = math.min(32, upTo - a)
        out.write(run - 1)
        out.write(src, a, run)
        a += run
      }
      anchor = upTo
    }
    def emitMatch(dist1: Int, mlen: Int): Unit = { // dist1 = distance - 1, <= 8190
      val hi = dist1 >> 8
      val lo = dist1 & 0xff
      if (mlen <= 8) out.write(((mlen - 2) << 5) | hi)
      else {
        out.write((7 << 5) | hi)
        var v = mlen - 9
        while (v >= 255) { out.write(255); v -= 255 }
        out.write(v)
      }
      out.write(lo)
    }

    while (ip + 3 <= end) {
      val h = hash(ip)
      val cand = table(h) - 1
      table(h) = ip + 1
      // cap distance-1 at 8190: distance-1 == 8191 is the far-distance
      // escape spelling, which this encoder never needs to emit
      if (cand >= off && ip - cand - 1 <= 8190 &&
        src(cand) == src(ip) && src(cand + 1) == src(ip + 1) && src(cand + 2) == src(ip + 2)) {
        var mlen = 3
        while (ip + mlen < end && src(cand + mlen) == src(ip + mlen)) mlen += 1
        emitLiterals(ip)
        emitMatch(ip - cand - 1, mlen)
        ip += mlen
        anchor = ip
      } else ip += 1
    }
    emitLiterals(end)
    out.toByteArray
  }
}
