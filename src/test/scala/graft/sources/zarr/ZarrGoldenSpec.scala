package graft.sources.zarr

import java.nio.file.{Files, Path, Paths}

import graft.SparkTester
import graft.sources.Coord

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Byte identity of everything the Zarr sink and append write: a fixed set
  * of small stores (every layout, dtype family and append shape the write
  * path has) is written afresh and the SHA-256 of every object is compared
  * against `src/test/resources/zarr_golden_manifest.txt`. A change that
  * alters any written byte — chunk, shard index, coordinate array or
  * metadata document — fails here with the keys that moved.
  *
  * Regenerate the manifest (only when a byte change is intended) with
  * `ZARR_GOLDEN_MANIFEST=src/test/resources/zarr_golden_manifest.txt sbt "testOnly *ZarrGoldenSpec"`. */
class ZarrGoldenSpec extends AnyFunSuite with SparkTester {

  /** `[time, lat, lon, value]` on an 8 x 8 grid, `nt` steps from `t0`,
    * every 5th cell absent so written chunks hold fill cells too. */
  private def grid(t0: Int, nt: Int): DataFrame = {
    val per = 64L
    spark
      .range(t0 * per, (t0 + nt) * per)
      .filter(pmod(col("id"), lit(5L)) =!= 0)
      .select(
        (col("id") / per).cast("int").as("time"),
        ((col("id") / 8).cast("long") % 8 * 0.5 - 10.0).as("lat"),
        (col("id") % 8 * 0.5 + 20.0).as("lon"),
        (pmod(xxhash64(col("id")), lit(1000L)) - 500).cast("float").as("value")
      )
  }

  /** `[time, station, value]` vlen strings, one cell withheld per batch. */
  private def labels(t0: Int, nt: Int): DataFrame =
    spark
      .range(t0 * 4L, (t0 + nt) * 4L)
      .filter(col("id") =!= t0 * 4L + 1)
      .select(
        (col("id") / 4).cast("int").as("time"),
        concat(lit("ST"), (col("id") % 4).cast("string")).as("station"),
        concat(lit("v"), col("id").cast("string"), lit("-α")).as("value")
      )

  private def sink(df: DataFrame, dir: String, array: String, opts: (String, String)*): Unit =
    df.write.format("zarr").option("path", dir).option("array", array).options(opts.toMap).mode("overwrite").save()

  private def append(df: DataFrame, dir: String, array: String, dim: String, opts: (String, String)*): Unit =
    df.write.format("zarr").option("path", dir).option("array", array).option("append.dim", dim)
      .options(opts.toMap).mode("append").save()

  /** One store per entry, written under the entry's name. */
  private val stores: Seq[(String, String => Unit)] = Seq(
    "v2-blosc" -> { d =>
      sink(grid(0, 4), d, "tas", "chunks" -> "2,4,4")
      append(grid(4, 2), d, "tas", "time")
    },
    "v2-zlib" -> { d =>
      sink(grid(0, 4), d, "tas", "chunks" -> "2,4,4", "compressor" -> "zlib")
      append(grid(4, 2), d, "tas", "time")
    },
    "v3-zstd-crc" -> { d =>
      sink(grid(0, 4), d, "tas", "zarr_format" -> "3", "chunks" -> "2,4,4", "compressor" -> "zstd", "checksum" -> "true")
      append(grid(4, 2), d, "tas", "time")
    },
    "v3-zstd-crc-sharded" -> { d =>
      sink(
        grid(0, 4), d, "tas", "zarr_format" -> "3", "chunks" -> "2,4,4", "shards" -> "4,8,4",
        "compressor" -> "zstd", "checksum" -> "true"
      )
      append(grid(4, 4), d, "tas", "time")
    },
    "u2-fill7" -> { d =>
      val df = spark.range(0, 11).filter(col("id") =!= 4).select(col("id").cast("int").as("i"), (col("id") * 5000).cast("int").as("value"))
      sink(df, s"$d/v2", "v", "dtype" -> "<u2", "fill_value" -> "7", "chunks" -> "4")
      sink(df, s"$d/v3", "v", "zarr_format" -> "3", "dtype" -> "<u2", "fill_value" -> "7", "chunks" -> "4")
    },
    "vlen-v2" -> { d =>
      sink(labels(0, 4), d, "lbl", "chunks" -> "2,3", "fill_value" -> "none", "compressor" -> "zstd")
      append(labels(4, 2), d, "lbl", "time")
    },
    "vlen-v3" -> { d =>
      sink(labels(0, 4), d, "lbl", "zarr_format" -> "3", "chunks" -> "2,3", "fill_value" -> "none", "checksum" -> "true")
      append(labels(4, 2), d, "lbl", "time")
    },
    "vlen-v3-sharded" -> { d =>
      sink(labels(0, 4), d, "lbl", "zarr_format" -> "3", "chunks" -> "2,3", "shards" -> "4,3", "compressor" -> "zstd")
      append(labels(4, 4), d, "lbl", "time")
    },
    "struct" -> { d =>
      val recs = spark.range(0, 30).select(
        col("id").cast("int").as("i"),
        when(col("id") === 13, lit(null))
          .otherwise(struct((col("id") * 3 - 7).cast("int").as("sensor"), (col("id") * 0.25 - 2.0).as("temp")))
          .as("value")
      )
      sink(recs, s"$d/inferred", "rec", "chunks" -> "8", "compressor" -> "zlib")
      val tagged = spark.range(0, 20).select(
        col("id").cast("int").as("i"),
        struct(
          (col("id") * 2 - 5).cast("int").as("sensor"),
          (col("id") * 0.5).as("temp"),
          concat(lit("T"), (col("id") % 4).cast("string")).as("tag")
        ).as("value")
      )
      sink(
        tagged, s"$d/explicit", "rec", "chunks" -> "6",
        "dtype" -> """[["sensor", "<i4"], ["temp", ">f8"], ["tag", "|S4"]]"""
      )
    },
    "categorize-append" -> { d =>
      val dir = Paths.get(d)
      ZarrStoreWriter.writeStringArray(
        dir, "v", Vector(4), Vector(2), "|O", i => s"w$i", dims = Some(Vector("t")),
        compressor = Some("zlib"),
        filters = Seq("""{"id": "categorize", "labels": ["w0", "w1", "w2", "w3"], "astype": "|u1"}""")
      )
      ZarrStoreWriter.writeArray(dir, "t", Vector(4), Vector(2), "<i8", _.toDouble, dims = Some(Vector("t")))
      append(
        spark.range(4, 8).selectExpr("id as t", "concat('w', cast(7 - id as string)) as value"), d, "v", "t"
      )
    },
    "delta-append" -> { d =>
      val dir = Paths.get(d)
      ZarrStoreWriter.writeArray(
        dir, "v", Vector(8), Vector(4), "<i8", i => 1000.0 + i * 7, dims = Some(Vector("t")),
        compressor = Some("zlib"), filters = Seq("delta")
      )
      ZarrStoreWriter.writeArray(dir, "t", Vector(8), Vector(4), "<i8", _.toDouble, dims = Some(Vector("t")))
      append(spark.range(8, 16).selectExpr("id as t", "1000 + id * 7 as value"), d, "v", "t")
    },
    "realign-1d" -> { d =>
      def batch(lo: Int, hi: Int, id: Long, realign: Boolean): Unit = {
        val df = spark.range(lo, hi).selectExpr("cast(id as int) as t", "(id * 7 % 103) as value")
        if (id == 1L) sink(df, d, "v", "zarr_format" -> "3", "chunks" -> "4", "shards" -> "8", "compressor" -> "zstd", "checksum" -> "true")
        else append(df, d, "v", "t", "append.realign" -> realign.toString)
      }
      batch(0, 12, 1L, realign = false)
      batch(12, 20, 2L, realign = true)
      batch(20, 24, 3L, realign = true)
    },
    "realign-2d" -> { d =>
      def frame(lo: Int, hi: Int) = spark.range(lo, hi).selectExpr("cast(id as int) as t")
        .crossJoin(spark.range(0, 16).selectExpr("cast(id as int) as s"))
        .selectExpr("t", "s", "cast(t * 16 + s as long) as value")
      sink(frame(0, 12), d, "v", "zarr_format" -> "3", "chunks" -> "4,4", "shards" -> "8,8")
      append(frame(12, 20), d, "v", "t", "append.realign" -> "true")
    },
    "realign-index-start" -> { d =>
      val dir = ZarrStoreWriterV3.writeGroup(d)
      ZarrStoreWriterV3.writeShardedArray(
        dir, "v", Vector(12), Vector(8), Vector(4), "int64", i => (i * 5 % 37).toDouble,
        dims = Some(Vector("t")), innerCodecs = Seq("zstd"), indexAtEnd = false
      )
      ZarrStoreWriterV3.writeCoord(dir, "t", Coord.Ints(Array.tabulate(12)(identity)))
      ZarrStoreWriterV3.consolidate(dir)
      append(
        spark.range(12, 28).selectExpr("cast(id as int) as t", "(id * 5 % 37) as value"), d, "v", "t",
        "append.realign" -> "true"
      )
    },
    "long-axis-numeric" -> { d =>
      val df = spark.range(0, 300).select(col("id").cast("int").as("t"), (col("id") % 3).cast("int").as("j"), (col("id") * 7 % 100).cast("double").as("value"))
      sink(df, s"$d/v2", "v", "max_coord_values" -> "16", "coord_chunk_values" -> "64", "chunks" -> "50,3", "fill_value" -> "-1")
      sink(
        df, s"$d/v3", "v", "zarr_format" -> "3", "max_coord_values" -> "16", "coord_chunk_values" -> "64",
        "chunks" -> "50,3", "compressor" -> "zstd"
      )
    },
    "long-axis-string" -> { d =>
      val df = spark.range(0, 200).select(format_string("doc%04d", col("id")).as("doc"), (col("id") % 7).cast("double").as("value"))
      sink(df, s"$d/v2", "v", "max_coord_values" -> "16", "coord_chunk_values" -> "64", "chunks" -> "40", "compressor" -> "zstd")
      sink(
        df, s"$d/v3", "v", "zarr_format" -> "3", "max_coord_values" -> "16", "coord_chunk_values" -> "64",
        "chunks" -> "40", "compressor" -> "zstd"
      )
    },
    "deferred-coord-tail" -> { d =>
      val dir = Paths.get(d)
      ZarrStoreWriter.writeArray(dir, "v", Vector(40), Vector(8), "<i8", i => i * 3 + 7.0, dims = Some(Vector("t")))
      ZarrStoreWriter.writeArray(dir, "t", Vector(40), Vector(16), "<i8", _.toDouble, dims = Some(Vector("t")), compressor = Some("zlib"))
      append(spark.range(40, 56).selectExpr("id as t", "id * 3 + 7 as value"), d, "v", "t", "coord.deferred.threshold" -> "10")
    },
    "deferred-coord-tail-sharded" -> { d =>
      val dir = ZarrStoreWriterV3.writeGroup(d)
      ZarrStoreWriterV3.writeArray(dir, "v", Vector(40), Vector(8), "int64", i => i * 3 + 7.0, dims = Some(Vector("t")))
      ZarrStoreWriterV3.writeShardedArray(
        dir, "t", Vector(40), Vector(32), Vector(16), "int64", _.toDouble, dims = Some(Vector("t")),
        innerCodecs = Seq("zstd")
      )
      ZarrStoreWriterV3.consolidate(dir)
      def batch(lo: Int, hi: Int): Unit =
        append(spark.range(lo, hi).selectExpr("id as t", "id * 3 + 7 as value"), d, "v", "t", "coord.deferred.threshold" -> "10")
      batch(40, 56)
      batch(56, 72)
    },
    "hier-stats" -> { d =>
      sink(grid(0, 4), d, "tas", "chunks" -> "1,4,4", "compressor" -> "zstd", "stats.flat_cap" -> "4", "stats.block_len" -> "4")
      append(grid(4, 2), d, "tas", "time")
    }
  )

  /** `sha256 key` for every file under `root`, sorted by key. */
  private def manifest(root: Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      val hex = md.digest(Files.readAllBytes(p)).map(b => f"${b & 0xff}%02x").mkString
      root.relativize(p).toString.replace('\\', '/') -> hex
    }.toSeq.sortBy(_._1).map { case (k, h) => s"$h  $k" }
  }

  test("every object the sink and the append write matches the golden manifest") {
    val base = Files.createTempDirectory("zarrgolden")
    stores.foreach { case (name, write) => write(base.resolve(name).toString) }
    val got = manifest(base)
    sys.env.get("ZARR_GOLDEN_MANIFEST").foreach { out =>
      Files.write(Paths.get(out), (got.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    val stream = getClass.getResourceAsStream("/zarr_golden_manifest.txt")
    assert(stream != null, "zarr_golden_manifest.txt is not on the test classpath")
    val want =
      try scala.io.Source.fromInputStream(stream, "UTF-8").getLines().filter(_.nonEmpty).toSeq
      finally stream.close()
    def byKey(lines: Seq[String]): Map[String, String] =
      lines.map { l => val Array(h, k) = l.split("  ", 2); k -> h }.toMap
    val (g, w) = (byKey(got), byKey(want))
    val missing = (w.keySet -- g.keySet).toSeq.sorted
    val extra = (g.keySet -- w.keySet).toSeq.sorted
    val changed = (g.keySet intersect w.keySet).filter(k => g(k) != w(k)).toSeq.sorted
    assert(
      missing.isEmpty && extra.isEmpty && changed.isEmpty,
      s"objects missing: ${missing.mkString(", ")}; unexpected: ${extra.mkString(", ")}; " +
        s"changed bytes: ${changed.mkString(", ")}"
    )
    assert(w.size > 300, s"manifest holds only ${w.size} objects")
  }
}
