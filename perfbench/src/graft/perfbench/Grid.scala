package graft.perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.Executors

import graft.sources.zarr.{ZarrChunkStats, ZarrCodec}

/** A generated Zarr v2 group: f4 arrays `tas` (blosc-lz4, byte shuffle) and
  * `pr` (zstd) over `time × lat × lon`, chunked 4×256×256, with 1-D
  * coordinate arrays and the per-chunk value stats the scan prunes with.
  *
  * Every value is an integer-valued float `1000 × (time chunk) + noise`,
  * noise a seeded hash in [0, 1000): sums are exact in a long, and a value
  * band `[1000 b, 1000 b + 1000)` holds exactly the cells of time chunk b.
  * The expected answer to any query is computed here, from the same
  * formula, never from the program's output. */
final class Grid(val dir: Path, val seed: Long, val nt: Int, val ny: Int, val nx: Int) {
  import Grid._
  require(nt % CT == 0 && ny % CY == 0 && nx % CX == 0, "shape must be a whole number of chunks")

  val gt: Int = nt / CT
  val gy: Int = ny / CY
  val gx: Int = nx / CX
  val nChunks: Int = gt * gy * gx
  val cells: Long = nt.toLong * ny * nx

  /** Per array: sum of each time slice, and global min / max. */
  val timeSum: Array[Array[Long]] = Array.fill(Names.length)(new Array[Long](nt))
  val minV: Array[Int] = Array.fill(Names.length)(Int.MaxValue)
  val maxV: Array[Int] = Array.fill(Names.length)(Int.MinValue)
  def total(a: Int): Long = timeSum(a).sum

  def value(a: Int, t: Int, y: Int, x: Int): Int =
    (t / CT) * 1000 + noise(seed, a, (t.toLong * ny + y) * nx + x)

  def lat(y: Int): Double = y * 0.25 - 90.0
  def lon(x: Int): Double = x * 0.25 - 180.0

  /** Count and sum of `a` over the index box, optionally keeping only
    * values in `[lo, hi)`. */
  def boxSum(a: Int, t: Range, y: Range, x: Range, lo: Int = Int.MinValue, hi: Int = Int.MaxValue): (Long, Long) = {
    var n = 0L; var s = 0L
    val xEnd = x.start + x.length
    for (ti <- t; yi <- y) {
      var xi = x.start
      while (xi < xEnd) {
        val v = value(a, ti, yi, xi)
        if (v >= lo && v < hi) { n += 1; s += v }
        xi += 1
      }
    }
    (n, s)
  }

  /** Writes the group with `threads` writers. */
  def write(threads: Int): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(".zgroup"), """{"zarr_format": 2}""")
    writeCoord("time", "<i4", nt, i => bb => bb.putInt(i))
    writeCoord("lat", "<f8", ny, i => bb => bb.putDouble(lat(i)))
    writeCoord("lon", "<f8", nx, i => bb => bb.putDouble(lon(i)))
    val chunkBounds = Array.fill(Names.length)(new Array[(Int, Int)](nChunks))
    val chunkTimeSum = Array.fill(Names.length)(Array.ofDim[Long](nChunks, CT))
    for (a <- Names.indices) Files.createDirectories(dir.resolve(Names(a)))
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val buf = ByteBuffer.allocate(CT * CY * CX * 4).order(ByteOrder.LITTLE_ENDIAN)
            var c = w
            while (c < Names.length * nChunks) {
              val a = c / nChunks; val k = c % nChunks
              val (c0, c1, c2) = (k / (gy * gx), (k / gx) % gy, k % gx)
              var lo = Int.MaxValue; var hi = Int.MinValue; var i = 0
              for (dt <- 0 until CT; dy <- 0 until CY) {
                val t = c0 * CT + dt; val y = c1 * CY + dy
                var dx = 0; var s = 0L
                while (dx < CX) {
                  val v = value(a, t, y, c2 * CX + dx)
                  buf.putFloat(i * 4, v.toFloat)
                  if (v < lo) lo = v
                  if (v > hi) hi = v
                  s += v; i += 1; dx += 1
                }
                chunkTimeSum(a)(k)(dt) += s
              }
              val bytes = ZarrCodec.compress(Codecs(a), buf.array(), typesize = 4)
              Files.write(dir.resolve(s"${Names(a)}/$c0.$c1.$c2"), bytes)
              chunkBounds(a)(k) = (lo, hi)
              c += threads
            }
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    for (a <- Names.indices) {
      java.util.Arrays.fill(timeSum(a), 0L)
      for (k <- 0 until nChunks; dt <- 0 until CT) timeSum(a)((k / (gy * gx)) * CT + dt) += chunkTimeSum(a)(k)(dt)
      minV(a) = chunkBounds(a).map(_._1).min
      maxV(a) = chunkBounds(a).map(_._2).max
      val stats = ZarrChunkStats.Doc(
        "float",
        nChunks.toLong,
        boundsF = chunkBounds(a).zipWithIndex.map { case ((lo, hi), k) => k.toLong -> Some((lo.toDouble, hi.toDouble)) }.toMap
      )
      Files.writeString(
        dir.resolve(s"${Names(a)}/.zarray"),
        s"""{"zarr_format": 2, "shape": [$nt, $ny, $nx], "chunks": [$CT, $CY, $CX], "dtype": "<f4", """ +
          s""""order": "C", "compressor": ${Compressors(a)}, "fill_value": 0.0, "filters": null}"""
      )
      Files.writeString(
        dir.resolve(s"${Names(a)}/.zattrs"),
        s"""{"_ARRAY_DIMENSIONS": ["time", "lat", "lon"], "${ZarrChunkStats.AttrKey}": ${ZarrChunkStats.toJson(stats)}}"""
      )
    }
  }

  private def writeCoord(name: String, dtype: String, n: Int, put: Int => ByteBuffer => Unit): Unit = {
    val d = Files.createDirectories(dir.resolve(name))
    val bb = ByteBuffer.allocate(n * 8).order(ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i => put(i)(bb))
    Files.write(d.resolve("0"), java.util.Arrays.copyOf(bb.array(), bb.position()))
    Files.writeString(
      d.resolve(".zarray"),
      s"""{"zarr_format": 2, "shape": [$n], "chunks": [$n], "dtype": "$dtype", "order": "C", """ +
        s""""compressor": null, "fill_value": null, "filters": null}"""
    )
    Files.write(d.resolve(".zattrs"), s"""{"_ARRAY_DIMENSIONS": ["$name"]}""".getBytes(UTF_8))
  }
}

object Grid {
  val CT = 4
  val CY = 256
  val CX = 256
  val Names: Vector[String] = Vector("tas", "pr")
  val Codecs: Vector[Option[String]] = Vector(Some("blosc:lz4"), Some("zstd"))
  val Compressors: Vector[String] = Vector(
    """{"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "blocksize": 0}""",
    """{"id": "zstd", "level": 3}"""
  )

  /** splitmix64 finalizer over (seed, array, cell), reduced to [0, 1000). */
  def noise(seed: Long, a: Int, cell: Long): Int = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0x632BE59BD9B4E019L + cell * 0xD1B54A32D192ED03L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    ((z >>> 1) % 1000).toInt
  }
}
