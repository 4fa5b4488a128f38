package graft.perfbench

import java.nio.file.Path

import graft.sources.zarr.{ZarrChunkIO, ZarrCodec, ZarrFileIO, ZarrStore}
import org.apache.hadoop.fs.{Path => HPath}

/** The layer-rate table: single-thread fetch, decode per codec, encode,
  * `readChunk` and a memcpy ceiling, each in cells per second, over the
  * chunks of a small group with the scan-full layout. Every rate is the
  * median of repeated passes over all chunks. */
object Probe {
  val NT = 16
  private val MinSeconds = 0.2
  private val MinPasses = 3

  def run(work: Path, seed: Long, cores: Int): (Map[String, Double], Seq[String]) = {
    val grid = new Grid(work.resolve("probe"), seed, NT, ScanFull.NY, ScanFull.NX)
    grid.write(cores)
    val root = grid.dir.toString
    val chunkCells = Grid.CT * Grid.CY * Grid.CX
    val rawLen = chunkCells * 4
    val idx = (0 until grid.nChunks).map(k => Seq(k / (grid.gy * grid.gx), (k / grid.gx) % grid.gy, k % grid.gx))

    val openMs = passes { () =>
      Trace("zarr.store", "open") {
        val st = new ZarrStore(root, Map.empty, None, None)
        Grid.Names.foreach(st.arrayMeta)
        Seq("time" -> grid.nt, "lat" -> grid.ny, "lon" -> grid.nx).foreach { case (d, n) => st.coordFor(d, n) }
      }
      1L
    }.map(r => 1e3 / r)

    val store = new ZarrStore(root, Map.empty, None, None)
    val metas = Grid.Names.map(store.arrayMeta)
    val paths = Grid.Names.map(n => idx.map(i => new HPath(store.arrayDir(n), i.mkString("."))))
    val fetched = paths.map(_.map(p => ZarrFileIO.readBytesIfExists(p, Map.empty).get))
    val decoded = fetched(1).map(b => ZarrCodec.decompress(Some("zstd"), b, rawLen))
    val fetchBytes = fetched.flatten.map(_.length.toLong).sum

    val fetchMb = passes { () =>
      paths.flatten.foreach(p => Trace("zarr.fileio", "readBytesIfExists")(ZarrFileIO.readBytesIfExists(p, Map.empty)))
      fetchBytes
    }.map(_ / 1e6)
    val cellsOf = (n: Int) => n.toLong * chunkCells
    val decodeLz4 = passes { () =>
      fetched(0).foreach(b => Trace("zarr.codec", "decompress blosc")(ZarrCodec.decompress(Some("blosc"), b, rawLen)))
      cellsOf(fetched(0).length)
    }
    val decodeZstd = passes { () =>
      fetched(1).foreach(b => Trace("zarr.codec", "decompress zstd")(ZarrCodec.decompress(Some("zstd"), b, rawLen)))
      cellsOf(fetched(1).length)
    }
    val encodeZstd = passes { () =>
      decoded.foreach(b => Trace("zarr.codec", "compress zstd")(ZarrCodec.compress(Some("zstd"), b, 4)))
      cellsOf(decoded.length)
    }
    val dst = new Array[Byte](rawLen)
    val memcpy = passes { () =>
      decoded.foreach(b => System.arraycopy(b, 0, dst, 0, rawLen))
      cellsOf(decoded.length)
    }
    val readChunk = passes { () =>
      idx.foreach(i => Trace("zarr.chunkio", "readChunk")(ZarrChunkIO.readChunk(store.arrayDir("tas"), metas(0), i)))
      cellsOf(idx.length)
    }

    val mc = (xs: Seq[Double]) => Stats.median(xs) / 1e6
    val m = Map(
      "zarr.store.open_ms" -> Stats.median(openMs),
      "zarr.fileio.fetch_mb_per_s" -> Stats.median(fetchMb),
      "zarr.codec.decode_mcells_per_s.blosc-lz4" -> mc(decodeLz4),
      "zarr.codec.decode_mcells_per_s.zstd" -> mc(decodeZstd),
      "zarr.codec.encode_mcells_per_s.zstd" -> mc(encodeZstd),
      "zarr.codec.memcpy_mcells_per_s" -> mc(memcpy),
      "zarr.chunkio.read_mcells_per_s" -> mc(readChunk)
    )
    val ceiling = m("zarr.codec.memcpy_mcells_per_s")
    val fetchCells = m("zarr.fileio.fetch_mb_per_s") * 1e6 / (fetchBytes.toDouble / (2L * idx.length * chunkCells))
    val rows = Seq(
      "fetch (readBytesIfExists)" -> fetchCells / 1e6,
      "decode blosc-lz4" -> m("zarr.codec.decode_mcells_per_s.blosc-lz4"),
      "decode zstd" -> m("zarr.codec.decode_mcells_per_s.zstd"),
      "readChunk tas (fetch+decode)" -> m("zarr.chunkio.read_mcells_per_s"),
      "encode zstd" -> m("zarr.codec.encode_mcells_per_s.zstd"),
      "memcpy ceiling" -> ceiling
    )
    val compression = (2L * idx.length * rawLen).toDouble / fetchBytes
    val table =
      f"layer rates, single thread, ${idx.length} chunks of $chunkCells cells per array, ${compression}%.2f:1 compressed" +:
        rows.map { case (k, v) => f"  $k%-30s $v%10.1f Mcells/s  ${100 * v / ceiling}%6.2f%% of memcpy" }
    org.apache.commons.io.FileUtils.deleteDirectory(grid.dir.toFile)
    (m, table)
  }

  /** Runs `pass` (which returns the work it did) until both limits are met;
    * returns the work per second of each pass. */
  private def passes(pass: () => Long): Seq[Double] = {
    val out = scala.collection.mutable.ArrayBuffer[Double]()
    val start = System.nanoTime()
    while (out.length < MinPasses || System.nanoTime() - start < MinSeconds * 1e9) {
      val t0 = System.nanoTime()
      val work = pass()
      out += work / ((System.nanoTime() - t0) / 1e9)
    }
    out.toSeq
  }
}
