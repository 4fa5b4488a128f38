package graft.tools

import graft.Sessions
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}

/** The scale gates of `scripts/scale_gate.sh`, behind one registry, [[legs]]:
  *  - `runMain graft.tools.Spike` — the driver's smoke: SparkEntry.entry;
  *  - `runMain graft.tools.Spike --list` — one `name driverMem args…` line
  *    per leg, in gate order (`-` = the build's default heap); starts no
  *    Spark session;
  *  - `runMain graft.tools.Spike <leg> [args…]` — one leg; arguments left
  *    out take the leg's gate sizes;
  *  - `runMain graft.tools.Spike explain <query…>` — formatted physical
  *    plans of declared queries (plan-shape audits).
  * Every leg fails loudly (`require`) and reports on `[spike]` lines. */
object Spike {
  /** Dimension of the planted-vector corpora. */
  private final val Dim = 64

  /** A deterministic `Dim`-element float vector for `key`: element i is
    * xxhash64(key, i) folded onto a `grid`-step lattice in [-0.5, 0.5). No
    * RNG, so it is identical at any partitioning. A full-avalanche mix is
    * REQUIRED — a linear congruential element hash shares structure with
    * LshBucketBits' linear sign matrix and collapses 100k vectors into ~85
    * buckets (measured), turning the bucket join quadratic. `grid` is 1000
    * for x60/bitext and 2^20 for the quantized legs: real embeddings don't
    * dictionary-compress, and a coarse lattice would flatter the float side
    * of their storage comparisons. */
  private def plantedVec(key: Column, grid: Long): Column = {
    import org.apache.spark.sql.functions._
    transform(
      sequence(lit(0L), lit(Dim - 1L)),
      i => ((pmod(xxhash64(key, i), lit(grid)).cast("double") / lit(grid.toDouble)) - lit(0.5)).cast("float")
    )
  }

  /** The planted corpus of the vector legs: `base` holds `nVecs` planted
    * vectors (`vec_id` = id); the second frame adds a x2-scaled companion
    * `vec_id + nVecs` of every 100th base vector (exact in float ⇒ same
    * direction, cosine 1.0), repartitioned and persisted. */
  private def plantedCorpus(spark: SparkSession, nVecs: Long, grid: Long): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val base = spark
      .range(nVecs)
      .select(col("id").as("vec_id"), plantedVec(col("id"), grid).as("embedding"))
    val planted = base
      .filter(col("vec_id") % 100 === 0)
      .select(
        (col("vec_id") + nVecs).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding")
      )
    val df = base.unionByName(planted)
      .repartition(spark.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (base, df)
  }

  /** Runs `body` and returns its result with the shuffle bytes its stages
    * wrote — at cluster scale exchange bytes, not in-memory flops, are what
    * the quantized ANN paths exist to shrink. */
  private def shuffleWriteBytes[T](spark: SparkSession)(body: => T): (T, Long) = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      GraftBridge.drainListeners(spark.sparkContext)
      (result, bytes.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `runMain graft.tools.Spike zarr-sf10` — the Zarr-path scale gate: a
    * ~1.07e9-cell f4 store (256 x 2048 x 2048, 4096 blosc-lz4 chunks)
    * written distributed, then ORACLED aggregates: the cell values encode
    * an exact integer sequence (((flat*37) % 9973) * 0.25 — exact in f4),
    * so whole-store and pushed-slab sums have closed-form expectations
    * computed driver-side with BigInt cycle arithmetic. Exact equality =
    * the same bar as the DuckDB hash gate, at a scale DuckDB can't join. */
  private def zarrSf10(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import graft.sources.zarr.{ZarrCodec, ZarrStoreWriter}
    val root = "/tmp/graft_zarr_sf10"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val (nt, ny, nx) = (256, 2048, 2048)
    val (ct, cy, cx) = (4, 256, 256)
    val total = nt.toLong * ny * nx
    val dir = java.nio.file.Paths.get(root)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve(".zgroup"), """{"zarr_format": 2}""")
    val ad = dir.resolve("v")
    java.nio.file.Files.createDirectories(ad)
    java.nio.file.Files.writeString(
      ad.resolve(".zarray"),
      ZarrStoreWriter.zarrayJson(
        Vector(nt, ny, nx), Vector(ct, cy, cx), "<f4", Some("blosc:lz4"), Some(0.0)
      )
    )
    java.nio.file.Files.writeString(
      ad.resolve(".zattrs"), ZarrStoreWriter.zattrsJson(Some(Vector("t", "y", "x")))
    )
    val (gt, gy, gx) = (nt / ct, ny / cy, nx / cx) // 64 x 8 x 8 chunk grid
    val nChunks = gt * gy * gx
    val t0 = System.nanoTime()
    spark.range(0, nChunks, 1, 32).foreachPartition { (ords: Iterator[java.lang.Long]) =>
      val elems = ct * cy * cx
      val buf = java.nio.ByteBuffer.allocate(elems * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      ords.foreach { ord =>
        val c = ord.intValue()
        val c0 = c / (gy * gx); val c1 = (c / gx) % gy; val c2 = c % gx
        var i = 0
        var z = 0
        while (z < ct) {
          val gtv = (c0 * ct + z).toLong
          var y = 0
          while (y < cy) {
            val gyv = (c1 * cy + y).toLong
            val rowBase = (gtv * ny + gyv) * nx + c2.toLong * cx
            var x = 0
            while (x < cx) {
              buf.putFloat(i * 4, (((rowBase + x) * 37) % 9973).toFloat * 0.25f)
              i += 1; x += 1
            }
            y += 1
          }
          z += 1
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$root/v", s"$c0.$c1.$c2"),
          ZarrCodec.compress(Some("blosc:lz4"), buf.array(), typesize = 4)
        )
        i = 0
      }
    }
    ZarrStoreWriter.consolidate(dir)
    val tw = (System.nanoTime() - t0) / 1e9
    val sizeGb = org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(root)) / 1e9
    println(f"[spike] zarr-sf10 write: $tw%.1fs, $total cells, on-disk $sizeGb%.2f GB (raw 4.29 GB)")
    // closed-form: (flat*37) % 9973 over a contiguous flat range — 37 is
    // coprime to 9973, so every 9973 consecutive flats cover all residues
    def residueSum(from: Long, until: Long): BigInt = {
      val cycle = BigInt(9972) * 9973 / 2
      val n = until - from
      var s = BigInt(n / 9973) * cycle
      var f = from + (n / 9973) * 9973
      while (f < until) { s += (f * 37) % 9973; f += 1 }
      s
    }
    val df = new graft.api.ZarrDataReader(spark, root).readArray("v")
    // gate 1: whole-store exact aggregate (1.07e9 cells through decode)
    val t1 = System.nanoTime()
    val r1 = df.agg(count(lit(1)), sum((col("value") * 4).cast("long"))).collect().head
    val ts1 = (System.nanoTime() - t1) / 1e9
    require(r1.getLong(0) == total, s"count ${r1.getLong(0)} != $total")
    require(BigInt(r1.getLong(1)) == residueSum(0L, total), "whole-store sum mismatch")
    println(f"[spike] zarr-sf10 full agg: $ts1%.1fs (${total / ts1 / 1e6}%.0f Mcells/s) — exact match")
    // gate 2: pushed slab t in [100, 103] — planner must prune to 1/64 of chunks
    val t2 = System.nanoTime()
    val slab = df.filter(col("t").between(100L, 103L))
    require(!slab.queryExecution.optimizedPlan.toString().contains("Filter"), "slab filter not pushed")
    val r2 = slab.agg(count(lit(1)), sum((col("value") * 4).cast("long"))).collect().head
    val ts2 = (System.nanoTime() - t2) / 1e9
    val slabCells = 4L * ny * nx
    require(r2.getLong(0) == slabCells, s"slab count ${r2.getLong(0)} != $slabCells")
    require(
      BigInt(r2.getLong(1)) == residueSum(100L * ny * nx, 104L * ny * nx),
      "slab sum mismatch"
    )
    println(
      f"[spike] zarr-sf10 pushed slab: $ts2%.1fs for $slabCells cells " +
        f"(planner pruned to 1/64 of chunks; whole-store agg was $ts1%.1fs) — exact match"
    )
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  /** `runMain graft.tools.Spike zarr-zonemap` — chunk-statistics scale
    * gate: a ~1.07e9-cell f4 store (256 x 2048 x 2048, 4096 chunks) whose
    * values are chunk-BANDED (t-chunk c0 contributes c0*2500; the in-chunk
    * part is (i%100)*0.25, so per-chunk bounds are exactly [c0*2500,
    * c0*2500 + 24.75]). Per-chunk [min, max] stats are computed during the
    * distributed write and stored in the attrs exactly as the product sink
    * writes them. Gates, all exact against closed-form oracles:
    *  1. baseline full aggregate (sum is not pushable — every chunk decodes)
    *  2. metadata-only min/max/count(value): LocalTableScan, ZERO chunk
    *     reads, ~milliseconds on a 10^9-cell store
    *  3. a value-band predicate no dim planner can touch prunes via zone
    *     maps to 1/64 of chunks — partitions drop 4096 -> 64. */
  private def zarrZoneMap(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import graft.sources.zarr.{ZarrChunkStats, ZarrCodec, ZarrStoreWriter}
    val root = "/tmp/graft_zarr_zonemap"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val (nt, ny, nx) = (256, 2048, 2048)
    val (ct, cy, cx) = (4, 256, 256)
    val total = nt.toLong * ny * nx
    val dir = java.nio.file.Paths.get(root)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve(".zgroup"), """{"zarr_format": 2}""")
    val ad = dir.resolve("v")
    java.nio.file.Files.createDirectories(ad)
    java.nio.file.Files.writeString(
      ad.resolve(".zarray"),
      ZarrStoreWriter.zarrayJson(
        Vector(nt, ny, nx), Vector(ct, cy, cx), "<f4", Some("blosc:lz4"), Some(0.0)
      )
    )
    val (gt, gy, gx) = (nt / ct, ny / cy, nx / cx) // 64 x 8 x 8 chunk grid
    val nChunks = gt * gy * gx
    val elems = ct * cy * cx
    val t0 = System.nanoTime()
    // distributed chunk write; each task ALSO returns its chunks' bounds —
    // the same shape the product sink uses (bounded collect: 4096 tuples)
    val stats: Array[(Long, Double, Double)] =
      spark.range(0, nChunks, 1, 32).rdd.mapPartitions { ords =>
        val buf = java.nio.ByteBuffer.allocate(elems * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        ords.map { ord =>
          val c = ord.intValue()
          val c0 = c / (gy * gx); val c1 = (c / gx) % gy; val c2 = c % gx
          val base = c0 * 2500f
          var i = 0
          while (i < elems) { buf.putFloat(i * 4, base + (i % 100) * 0.25f); i += 1 }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$root/v", s"$c0.$c1.$c2"),
            ZarrCodec.compress(Some("blosc:lz4"), buf.array(), typesize = 4)
          )
          (c.toLong, base.toDouble, (base + 24.75f).toDouble)
        }
      }.collect()
    val doc = ZarrChunkStats.Doc(
      "float",
      nChunks.toLong,
      boundsF = stats.map { case (c, lo, hi) => c -> Some((lo, hi)) }.toMap
    )
    java.nio.file.Files.writeString(
      ad.resolve(".zattrs"),
      ZarrStoreWriter.zattrsJson(
        Some(Vector("t", "y", "x")),
        Map(ZarrChunkStats.AttrKey -> ZarrChunkStats.toJson(doc))
      )
    )
    val tw = (System.nanoTime() - t0) / 1e9
    println(f"[spike] zarr-zonemap write+stats: $tw%.1fs, $total cells, ${nChunks} chunks")
    // one partition per 2^18-cell chunk, so gate 3's partition count is the
    // number of chunks the zone maps keep
    val df = new graft.api.ZarrDataReader(spark, root, chunkTargetCells = Some(1L << 18)).readArray("v")
    // value*4 = c0*10000 + i%100 — integral, so long sums are exact
    val perChunkMod = 2621L * 4950 + (0 until 44).sum // sum of (i%100) over 262144 cells
    // gate 1: baseline full aggregate (sum is not pushable)
    val t1 = System.nanoTime()
    val r1 = df.agg(count(lit(1)), sum((col("value") * 4).cast("long"))).collect().head
    val ts1 = (System.nanoTime() - t1) / 1e9
    require(r1.getLong(0) == total, s"count ${r1.getLong(0)} != $total")
    val expectedFull =
      BigInt(10000L) * elems * (gy * gx) * (0 until gt).map(_.toLong).sum + BigInt(perChunkMod) * nChunks
    require(BigInt(r1.getLong(1)) == expectedFull, "full sum mismatch")
    println(f"[spike] zarr-zonemap full agg (baseline): $ts1%.1fs (${total / ts1 / 1e6}%.0f Mcells/s) — exact")
    // gate 2: metadata-only aggregates — LocalTableScan, zero chunk reads
    val t2 = System.nanoTime()
    val magg = df.agg(count(lit(1)), min("value"), max("value"), count("value"))
    val r2 = magg.collect().head
    val ts2 = (System.nanoTime() - t2) / 1e9
    val plan2 = magg.queryExecution.executedPlan.toString
    require(plan2.contains("LocalTableScan") && !plan2.contains("BatchScan"), s"not metadata-only:\n$plan2")
    require(r2.getLong(0) == total && r2.getLong(3) == total, "metadata counts mismatch")
    require(r2.getFloat(1) == 0f, s"min ${r2.getFloat(1)}")
    require(r2.getFloat(2) == 63 * 2500f + 24.75f, s"max ${r2.getFloat(2)}")
    println(f"[spike] zarr-zonemap metadata agg: $ts2%.3fs for min/max/count over $total cells — ZERO chunk reads, exact")
    // gate 3: value-band predicate — only dim-blind zone maps can prune it
    val t3 = System.nanoTime()
    val slab = df.filter(col("value") >= 63 * 2500f)
    val parts = slab.rdd.getNumPartitions
    require(parts == gy * gx, s"expected ${gy * gx} surviving partitions, got $parts")
    val r3 = slab.agg(count(lit(1)), sum((col("value") * 4).cast("long"))).collect().head
    val ts3 = (System.nanoTime() - t3) / 1e9
    val slabCells = total / gt
    require(r3.getLong(0) == slabCells, s"slab count ${r3.getLong(0)} != $slabCells")
    require(
      BigInt(r3.getLong(1)) == BigInt(630000L) * slabCells + BigInt(perChunkMod) * (gy * gx),
      "slab sum mismatch"
    )
    println(
      f"[spike] zarr-zonemap value-band: $ts3%.1fs for $slabCells cells — zone maps pruned " +
        f"4096 -> ${gy * gx} chunks (baseline full agg $ts1%.1fs) — exact"
    )
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  /** `runMain graft.tools.Spike cc-telemetry` — x41 connected-components
    * observability: per-round shuffle volume (iteration count vs per-round
    * skew are different scale failure modes; this tells them apart). Jobs
    * are attributed via the `cc round N` descriptions Graph sets. */
  private def ccTelemetry(spark: org.apache.spark.sql.SparkSession): Unit = {
    import scala.collection.concurrent.TrieMap
    val stageToJob = TrieMap[Int, Int]()
    val jobDesc = TrieMap[Int, String]()
    val jobShuffle = TrieMap[Int, (Long, Long)]() // read, write bytes
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val d = Option(js.properties).map(_.getProperty("spark.job.description")).orNull
        jobDesc(js.jobId) = Option(d).getOrElse("")
        js.stageIds.foreach(s => stageToJob(s) = js.jobId)
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted
      ): Unit = stageToJob.get(sc.stageInfo.stageId).foreach { j =>
        val m = sc.stageInfo.taskMetrics
        val (r, w) = jobShuffle.getOrElse(j, (0L, 0L))
        jobShuffle(j) =
          (r + m.shuffleReadMetrics.totalBytesRead, w + m.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val t0 = System.nanoTime()
    graft.SparkEntry.queries("x41_dup_clusters")(spark, sfDir).write.format("noop").mode("overwrite").save()
    val ts = (System.nanoTime() - t0) / 1e9
    GraftBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    // a round spans several jobs (checkpoint materialization + the
    // convergence count) — aggregate per round description
    val perRound = jobDesc.toSeq
      .filter(_._2.startsWith("cc round"))
      .groupBy(_._2)
      .map { case (d, js) =>
        val (r, w) = js.map(j => jobShuffle.getOrElse(j._1, (0L, 0L)))
          .foldLeft((0L, 0L)) { case ((ar, aw), (r, w)) => (ar + r, aw + w) }
        (d, js.length, r, w)
      }
      .toSeq
      .sortBy(t => t._1.split(" ")(2).toInt)
    println(f"[spike] cc-telemetry: x41 total $ts%.1fs, ${perRound.length} cc rounds")
    perRound.foreach { case (d, nj, r, w) =>
      println(
        f"[spike]   $d%-22s $nj%2d jobs  shuffle read ${r / 1e6}%8.2f MB  write ${w / 1e6}%8.2f MB"
      )
    }
  }

  /** `runMain graft.tools.Spike zarr-hier` — the HIERARCHICAL zone-map
    * scale gate: the product sink writes a 2^20-inner-chunk sharded v3
    * store (8,388,608 cells, chunks 8, shards 8192 -> 1024 shard objects),
    * which crosses the 65,536-chunk flat cap at DEFAULT settings and
    * produces the two-level layout — 256 block rollups in the attrs, 256
    * executor-written side docs of 4096 chunk bounds each. Gates, all
    * exact against closed form (value = cell index):
    *  1. layout: attrs parse as Hier (256 blocks, all written), side docs
    *     present on disk
    *  2. metadata-only min/max/count over 2^20 chunks: LocalTableScan,
    *     zero chunk reads
    *  3. a 100-cell value band inside one block: level 1 keeps 1 of 256
    *     blocks, level 2 keeps 13 of its 4096 chunks — partitions == 13
    *  4. a 16-cell band straddling a block boundary: 2 partitions, both
    *     side docs consulted */
  private def zarrHier(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import graft.sources.zarr.{ZarrChunkStats, ZarrFileIO, ZarrStore}
    val root = "/tmp/graft_zarr_hier"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val total = 8388608L // 2^20 chunks x 8 cells
    val nChunks = 1048576L
    val nBlocks = nChunks / ZarrChunkStats.DefaultBlockLen // 256
    val t0 = System.nanoTime()
    spark.range(0, total)
      .select(col("id").cast("int").as("i"), col("id").as("value"))
      .write.format("zarr")
      .option("path", root).option("array", "v")
      .option("zarr_format", "3").option("chunks", "8").option("shards", "8192")
      .mode("append").save()
    val tw = (System.nanoTime() - t0) / 1e9
    // gate 1: two-level layout on disk
    val store = new ZarrStore(root, Map.empty, None, None)
    val raw = store.arrayMeta("v").attrs(ZarrChunkStats.AttrKey)
    require(ZarrChunkStats.parse(raw).isEmpty, "expected hierarchical, found flat stats")
    val h = ZarrChunkStats.parseHier(raw).getOrElse(sys.error("hier attrs unparseable"))
    require(h.nChunks == nChunks && h.blockLen == ZarrChunkStats.DefaultBlockLen, s"$h")
    require(h.nBlocks == nBlocks && h.writtenTotal == nChunks, s"blocks ${h.nBlocks} written ${h.writtenTotal}")
    val sideCount = (0L until nBlocks).count { b =>
      ZarrFileIO.readStringIfExists(
        new org.apache.hadoop.fs.Path(store.arrayDir("v"), s"${ZarrChunkStats.SideDir}/$b"),
        Map.empty
      ).isDefined
    }
    require(sideCount == nBlocks, s"side docs: $sideCount of $nBlocks")
    println(f"[spike] zarr-hier write: $tw%.1fs, $total cells, $nChunks chunks -> $nBlocks rollups + $nBlocks side docs")
    def read(targetCells: String) = spark.read.format("zarr")
      .option("path", root).option("array", "v")
      .option("partition.target.cells", targetCells).load()
    // gate 2: metadata-only aggregates over 2^20 chunks
    val t2 = System.nanoTime()
    val magg = read("1048576").agg(count(lit(1)), min("value"), max("value"), count("value"))
    val r2 = magg.collect().head
    val ts2 = (System.nanoTime() - t2) / 1e9
    val plan2 = magg.queryExecution.executedPlan.toString
    require(plan2.contains("LocalTableScan") && !plan2.contains("BatchScan"), s"not metadata-only:\n$plan2")
    require(r2.getLong(0) == total && r2.getLong(3) == total, "metadata counts mismatch")
    require(r2.getLong(1) == 0L && r2.getLong(2) == total - 1, s"min/max ${r2.getLong(1)}/${r2.getLong(2)}")
    println(f"[spike] zarr-hier metadata agg: $ts2%.3fs for min/max/count over $nChunks-chunk rollups — ZERO chunk reads, exact")
    // gate 3: 100-cell band inside block 100 (cells 3276800..3276899 ->
    // chunks 409600..409612, all in block 100)
    val t3 = System.nanoTime()
    val band = read("1").filter(col("value") >= 3276800L && col("value") <= 3276899L)
    val parts3 = band.rdd.getNumPartitions
    require(parts3 == 13, s"expected 13 surviving chunks, got $parts3")
    val r3 = band.agg(count(lit(1)), sum("value")).collect().head
    val ts3 = (System.nanoTime() - t3) / 1e9
    require(r3.getLong(0) == 100L, s"band count ${r3.getLong(0)}")
    require(r3.getLong(1) == 100L * 3276800 + 4950, s"band sum ${r3.getLong(1)}")
    println(f"[spike] zarr-hier value band: $ts3%.1fs — pruned $nChunks -> 13 chunks through 2 stats levels, exact")
    // gate 4: a band straddling the block 149/150 boundary (chunk 614400
    // = block 150's first): 2 chunks from 2 different side docs
    val t4 = System.nanoTime()
    val edge = read("1").filter(col("value") >= 4915192L && col("value") <= 4915207L)
    val parts4 = edge.rdd.getNumPartitions
    require(parts4 == 2, s"expected 2 surviving chunks, got $parts4")
    val r4 = edge.agg(count(lit(1)), sum("value")).collect().head
    val ts4 = (System.nanoTime() - t4) / 1e9
    require(r4.getLong(0) == 16L && r4.getLong(1) == (4915192L to 4915207L).sum, "edge band mismatch")
    println(f"[spike] zarr-hier block-boundary band: $ts4%.1fs — 2 chunks, 2 side docs, exact — gate PASS")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))

    // gate 5: metadata-only count(value) on a SPARSE hier store with null
    // fill. 4096x2048 cells, chunks (16,16) -> 256x128 = 32768 chunk
    // ordinals (ord = ic*128 + jc), flat_cap 8192 -> hier with 8 blocks of
    // 4096. Dropping (even ic, jc >= 64) leaves every axis value present
    // but 8192 chunks unwritten, spread over ALL blocks -> every block is
    // partial, so the count must read all 8 side docs and walk the full
    // 32768-ordinal grid on the driver — the exact work this path costs at
    // scale — instead of opening 24576 chunks.
    val root5 = "/tmp/graft_zarr_hier_sparse"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root5))
    val t5w = System.nanoTime()
    spark.range(0, 8388608L)
      .select((col("id") / 2048).cast("int").as("i"), (col("id") % 2048).cast("int").as("j"), col("id").as("value"))
      .filter(!expr("((i div 16) % 2 = 0) and (j div 16) >= 64"))
      .write.format("zarr")
      .option("path", root5).option("array", "v").option("chunks", "16,16")
      .option("stats.flat_cap", "8192")
      .mode("append").save()
    val ts5w = (System.nanoTime() - t5w) / 1e9
    val store5 = new ZarrStore(root5, Map.empty, None, None)
    val h5 = ZarrChunkStats.parseHier(store5.arrayMeta("v").attrs(ZarrChunkStats.AttrKey))
      .getOrElse(sys.error("sparse store: hier attrs unparseable"))
    require(h5.nChunks == 32768L && h5.nBlocks == 8L, s"$h5")
    require(h5.written.values.forall(_ == 3072L), s"every block partial: ${h5.written}")
    // null out the fill so unwritten cells read as NULL (count must subtract)
    val zarray5 = java.nio.file.Paths.get(store5.arrayDir("v").stripPrefix("file:"), ".zarray")
    java.nio.file.Files.writeString(
      zarray5,
      java.nio.file.Files.readString(zarray5)
        .replaceAll("\"fill_value\"\\s*:\\s*[^,}]+", "\"fill_value\": null")
    )
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(root5, ".zmetadata"))
    def read5(extra: (String, String)*) = {
      var r = spark.read.format("zarr").option("path", root5).option("array", "v")
      extra.foreach { case (k, v) => r = r.option(k, v) }
      r.load()
    }
    val expect = 8388608L - 8192L * 256L // 6,291,456 written cells
    val t5 = System.nanoTime()
    val cq = read5().agg(count("value"), count(lit(1)))
    val r5 = cq.collect().head
    val ts5 = (System.nanoTime() - t5) / 1e9
    val plan5 = cq.queryExecution.executedPlan.toString
    require(plan5.contains("LocalTableScan") && !plan5.contains("BatchScan"), s"not metadata-only:\n$plan5")
    require(r5.getLong(0) == expect && r5.getLong(1) == 8388608L, s"counts ${r5.getLong(0)}/${r5.getLong(1)}")
    val t5s = System.nanoTime()
    val scan = read5("stats.pruning" -> "false").agg(count("value")).collect().head
    val ts5s = (System.nanoTime() - t5s) / 1e9
    require(scan.getLong(0) == expect, s"chunk-scan parity ${scan.getLong(0)}")
    println(f"[spike] zarr-hier sparse count: write $ts5w%.1fs; metadata-only count(value)=$expect $ts5%.3fs (8 side docs + 32768-ordinal walk, ZERO chunk reads) vs chunk scan $ts5s%.1fs — gate PASS")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root5))
  }

  /** `runMain graft.tools.Spike zarr-deferred-str [nLabels]` — the STRING
    * deferred-axis scale gate: the sink writes a 10^7-label axis through
    * the distributed-ordinal path (multi-chunk vlen-utf8 coordinates,
    * executor-written), then a deferred read (threshold 10^5) answers
    * range and prefix queries via lexicographic chunk-stats pruning —
    * counts checked closed-form, cold (stats job) vs warm (cached stats)
    * timings printed. The label-axis sibling of the numeric 10^8-axis
    * spike in ZarrDeferredSpec. */
  private def zarrDeferredStr(spark: org.apache.spark.sql.SparkSession, n: Long): Unit = {
    import org.apache.spark.sql.functions._
    val root = "/tmp/graft_spike_defstr/store"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/tmp/graft_spike_defstr"))
    def lab(i: Long): String = f"L$i%09d"
    val t0 = System.nanoTime()
    spark
      .range(n)
      .select(
        concat(lit("L"), lpad(col("id").cast("string"), 9, "0")).as("doc"),
        (col("id") % 97).cast("double").as("value")
      )
      .write.format("zarr")
      .option("path", root).option("array", "v")
      .option("max_coord_values", "1000").option("coord_chunk_values", "1000000")
      .option("chunks", "1000000").option("compressor", "zstd")
      .mode("append").save()
    val tw = (System.nanoTime() - t0) / 1e9
    println(f"[spike] zarr-deferred-str write: $tw%.1fs, $n labels through distributed ordinals")
    val df = spark.read.format("zarr")
      .option("path", root).option("array", "v")
      .option("coord.deferred.threshold", "100000")
      .load()
    // 1% range slice — cold: pays the distributed stats job
    val t1 = System.nanoTime()
    val c1 = df.filter(col("doc") >= lab(n / 10) && col("doc") < lab(n / 10 + n / 100)).count()
    val ts1 = (System.nanoTime() - t1) / 1e9
    require(c1 == n / 100, s"range slice: $c1 != ${n / 100}")
    // warm: stats cached per axis version
    val t2 = System.nanoTime()
    val c2 = df.filter(col("doc") >= lab(n / 2) && col("doc") < lab(n / 2 + n / 100)).count()
    val ts2 = (System.nanoTime() - t2) / 1e9
    require(c2 == n / 100, s"warm range slice: $c2 != ${n / 100}")
    // prefix (stats-prunable via monotone truncation): L0030 -> 10^5 labels
    // at n = 10^7 (L003000000..L003099999)
    val pfx = "L" + f"${n / 1000 * 3}%09d".take(4)
    val t3 = System.nanoTime()
    val c3 = df.filter(col("doc").startsWith(pfx)).count()
    val ts3 = (System.nanoTime() - t3) / 1e9
    println(
      f"[spike] zarr-deferred-str: 1%% range cold $ts1%.1fs, warm $ts2%.1fs; prefix '$pfx' -> $c3 rows in $ts3%.1fs"
    )
    require(c3 > 0, "prefix matched nothing")
    println("[spike] zarr-deferred-str: exact counts at scale — gate PASS")
  }

  /** `runMain graft.tools.Spike x41-planted [nDocs]` — the x41 near-dup
    * clustering gate at 100x scale with an ENGINE-INDEPENDENT oracle
    * (DuckDB's recursive-CTE closure for x41 spills past local disk at
    * sf10, docs/ROUND7.md). Docs are generated with PLANTED exact-duplicate
    * clusters of closed-form structure: group g spans ids [8g, 8g+8); its
    * first (g % 5 + 2) members share one g-unique text (sizes cycle 2..6),
    * the rest carry id-unique vocabulary. Exact duplicates have jaccard 1,
    * so LSH banding finds them DETERMINISTICALLY (banding is probabilistic
    * only for similarity strictly between the threshold and 1 — a
    * closed-form gate must not depend on that recall). Expected components:
    * every planted member labels to its group's min id 8g; singletons never
    * appear. Verified by distributed anti-joins — no collect, no DuckDB. */
  /** Scale gate for Dedup.incrementalNearDup — the continuous-ingestion
    * mechanics at a size where the design choices matter: the history
    * signature INDEX (nHistory docs, ~80 B/row) is far above any
    * broadcast budget, so the batch band rows must meet it in a shuffle
    * join; the batch is 10x smaller, the daily-drop shape. Planted truth
    * is EXACT-duplicate only (jaccard 1 ⇒ every band matches and est = 1
    * — deterministic at any banding; the NEAR path's recall is
    * probabilistic by design and is correctness-gated by x110's full
    * replay instead).
    *
    * The gate runs at minEstJaccard = 0.9 (with k = 8 that means ALL 8
    * components agree), and the reasons are themselves scale findings
    * this gate produced. First, a real BUG: the original hash family
    * reduced shingle hashes mod 100003 > p = 99991 with multipliers
    * 7..919 — h = 0 was a fixed point of every permutation and small h
    * never wrapped any of them, so two docs sharing one small shingle
    * hash got FULLY IDENTICAL signatures regardless of content (~17k
    * false pairs at 2M x 200k; fixed in Dedup.MinhashAs/MinhashHashMod,
    * see the scaladoc there). Second, the irreducible floor: two
    * UNRELATED docs share a hash with p ≈ |A||B|/1e5 (1e-3 for
    * 10-shingle docs), the shared value leaks a true Jaccard of ~1/19
    * into the signatures, and Binomial(8, 1/19) reaches 4/8 often
    * enough (~5e-7/pair) that a 0.5 threshold false-drops thousands of
    * docs across the 4e11 batch x index pairs. At 8/8 a shared hash
    * must win the min for both docs under all 8 permutations —
    * negligible at any scale. Batch group g = 4 ids: r=0 copies history doc
    * (7g % nHistory) → index drop; r=1 unique → survives; r=2 unique →
    * survives; r=3 copies r=2's text (larger id) → self-dedup drop.
    * Expected survivors = exactly the r∈{1,2} half, verified by
    * distributed anti-joins in both directions — no collect, no DuckDB. */
  private def incrPlanted(
      spark: org.apache.spark.sql.SparkSession,
      nHistory: Long,
      nBatch: Long
  ): Unit = {
    import org.apache.spark.sql.functions._
    val nB = nBatch - nBatch % 4 // whole groups only
    def words(tag: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      concat_ws(" ", (0 until 12).map(j => concat(tag, lit(s"w$j"))): _*)
    val hist = spark
      .range(nHistory)
      .select(col("id").as("doc_id"), words(concat(lit("h"), col("id"))).as("text"))
    val t0 = System.nanoTime()
    val index = graft.operators.Dedup
      .minhashSignatures(hist, "doc_id", "text", 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idxRows = index.count()
    val tIdx = (System.nanoTime() - t0) / 1e9
    val off = col("id") - nHistory
    val g = (off / 4).cast("long")
    val r = off % 4
    val batch = spark
      .range(nHistory, nHistory + nB)
      .select(
        col("id").as("doc_id"),
        when(r === 0, words(concat(lit("h"), (g * 7) % nHistory)))
          .when(r === 1, words(concat(lit("b"), g)))
          .otherwise(words(concat(lit("u"), g)))
          .as("text"),
        r.as("r")
      )
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    batch.count()
    val t1 = System.nanoTime()
    val survivors = graft.operators.Dedup
      .incrementalNearDup(
        batch.select("doc_id", "text"),
        index,
        "doc_id",
        "text",
        minEstJaccard = 0.9 // see scaladoc: the est-noise floor of the 1e5 hash space
      )
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nSurv = survivors.count()
    val tRun = (System.nanoTime() - t1) / 1e9
    val expected = batch.filter(col("r").isin(1, 2)).select("doc_id")
    val missing = expected.join(survivors, Seq("doc_id"), "left_anti").count()
    val extra = survivors.join(expected, Seq("doc_id"), "left_anti").count()
    println(
      f"[spike] incr-planted: index=$idxRows sigs (built $tIdx%.1fs), batch=$nB, " +
        f"survivors=$nSurv (expected ${nB / 2}) in $tRun%.1fs — missing=$missing extra=$extra"
    )
    require(
      missing == 0 && extra == 0 && nSurv == nB / 2,
      s"incr-planted FAILED: missing=$missing extra=$extra survivors=$nSurv expected=${nB / 2}"
    )
  }

  private def x41Planted(spark: org.apache.spark.sql.SparkSession, nDocs: Long): Unit = {
    import org.apache.spark.sql.functions._
    val n = nDocs - nDocs % 8 // whole groups only: keeps the closed form exact
    val base = spark
      .range(n)
      .select(
        col("id").as("doc_id"),
        (col("id") / 8).cast("long").as("g"),
        (col("id") % 8).as("r")
      )
      .withColumn("sz", col("g") % 5 + 2)
    val docs = base.select(
      col("doc_id"),
      when(
        col("r") < col("sz"),
        // planted member: 12 words drawn from group-g vocabulary
        concat_ws(" ", (0 until 12).map(j => concat(lit("g"), col("g"), lit(s"w$j"))): _*)
      ).otherwise(
        concat_ws(" ", (0 until 12).map(j => concat(lit("s"), col("doc_id"), lit(s"w$j"))): _*)
      ).as("text")
    )
    val t0 = System.nanoTime()
    val pairs = graft.operators.Dedup.nearDuplicates(docs, "doc_id", "text", 0.8)
    val out = graft.operators.Graph
      .connectedComponents(pairs, "d1", "d2")
      .select(col("node").as("doc_id"), col("label").as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outRows = out.count()
    val ts = (System.nanoTime() - t0) / 1e9
    val expected = base
      .filter(col("r") < col("sz"))
      .select(col("doc_id"), (col("g") * 8).as("expect"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val expRows = expected.count()
    val wrongLabel = out
      .join(expected, "doc_id")
      .filter(col("cluster") =!= col("expect"))
      .count()
    val missing = expected.join(out, Seq("doc_id"), "left_anti").count()
    val extra = out.join(expected, Seq("doc_id"), "left_anti").count()
    println(
      f"[spike] x41-planted: $n docs, $outRows clustered rows in $ts%.1fs " +
        f"(expected $expRows) — wrongLabel=$wrongLabel missing=$missing extra=$extra"
    )
    require(
      wrongLabel == 0 && missing == 0 && extra == 0 && outRows == expRows,
      s"x41-planted MISMATCH: wrongLabel=$wrongLabel missing=$missing extra=$extra rows=$outRows/$expRows"
    )
    println("[spike] x41-planted: EXACT component match at scale — gate PASS")
    out.unpersist(blocking = false)
    expected.unpersist(blocking = false)
  }

  /** `runMain graft.tools.Spike curriculum-planted [nDocs]` — the
    * curriculumInterleave closed form at scale. Synthetic corpus from
    * pure integer arithmetic (no RNG): 7 sources with DELIBERATELY
    * uneven sizes (one ~60% whale, one 1% sliver that exhausts after a
    * few rounds — the min/filter terms of the position formula both
    * bite), difficulty = xxhash64(id) % 1000 (heavy tie groups — the
    * two-level offset+rank path). Two checks:
    *
    *   1. EQUALITY at nDocs/4: the shipped closed form (broadcast
    *      counts + HOF arithmetic) against the NAIVE two-window
    *      definition (row_number over a single partition) — a fully
    *      independent code path, and exactly the formulation the
    *      DuckDB oracle runs. Zero mismatching rows required. The
    *      naive side is what CAPS this leg's size: it sorts the whole
    *      frame on one core, which is precisely why the closed form
    *      exists.
    *   2. PERMUTATION at nDocs: where the naive form cannot go, the
    *      invariants still pin the output — count(distinct pos) == N,
    *      min == 1, max == N, sum == N(N+1)/2 (exact in int64 far past
    *      this scale) — plus per-source rn contiguity (max(rn) ==
    *      source size). */
  private def curriculumPlanted(spark: org.apache.spark.sql.SparkSession, nDocs: Long): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // uneven source split over id % 100: sizes 1, 4, 5, 10, 10, 10, 60
    val srcExpr = when(pmod(col("id"), lit(100L)) < 1, "src0")
      .when(pmod(col("id"), lit(100L)) < 5, "src1")
      .when(pmod(col("id"), lit(100L)) < 10, "src2")
      .when(pmod(col("id"), lit(100L)) < 20, "src3")
      .when(pmod(col("id"), lit(100L)) < 30, "src4")
      .when(pmod(col("id"), lit(100L)) < 40, "src5")
      .otherwise("src6")
    def corpus(n: Long) = spark
      .range(n)
      .select(
        col("id").as("doc_id"),
        srcExpr.as("source"),
        pmod(xxhash64(col("id")), lit(1000L)).as("diff")
      )
    // --- 1. closed form == naive definition (independent code path) ---
    val nEq = math.max(nDocs / 4, 100000L)
    val small = corpus(nEq).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    small.count()
    val t0 = System.nanoTime()
    val closed = graft.operators.Scale
      .curriculumInterleave(small, "doc_id", "diff", "source")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nClosed = closed.count()
    val tClosed = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val naive = small
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("diff", "doc_id")).cast("long"))
      .withColumn("pos", row_number().over(Window.orderBy("rn", "source")).cast("long"))
      .select("doc_id", "source", "diff", "rn", "pos")
    val mism = closed.exceptAll(naive).count() + naive.exceptAll(closed).count()
    val tNaive = (System.nanoTime() - t1) / 1e9
    require(nClosed == nEq, s"closed form dropped rows: $nClosed of $nEq")
    require(mism == 0, s"closed form != two-window definition: $mism mismatching rows")
    small.unpersist(); closed.unpersist()
    // --- 2. permutation invariants at full size ---
    val big = corpus(nDocs)
    val t2 = System.nanoTime()
    val out = graft.operators.Scale
      .curriculumInterleave(big, "doc_id", "diff", "source")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inv = out
      .agg(
        countDistinct(col("pos")).as("d"),
        min("pos").as("mn"),
        max("pos").as("mx"),
        sum("pos").as("s"),
        count(lit(1)).as("n"))
      .head()
    val tBig = (System.nanoTime() - t2) / 1e9
    require(
      inv.getLong(4) == nDocs && inv.getLong(0) == nDocs && inv.getLong(1) == 1L &&
        inv.getLong(2) == nDocs && inv.getLong(3) == nDocs * (nDocs + 1) / 2,
      s"positions are not a permutation of 1..$nDocs: $inv")
    val rnTop = out
      .groupBy("source")
      .agg(max("rn").as("mr"), count(lit(1)).as("c"))
      .filter(col("mr") =!= col("c"))
      .count()
    require(rnTop == 0, "per-source ranks are not contiguous 1..|source|")
    out.unpersist()
    println(
      f"[spike] curriculum-planted: closed==naive at $nEq%d rows (0 mismatches, " +
        f"closed $tClosed%.1fs vs naive single-partition $tNaive%.1fs); permutation " +
        f"invariants at $nDocs%d rows in $tBig%.1fs (7 sources, 60%% whale, 1%% sliver)")
  }

  /** `runMain graft.tools.Spike epoch-planted [nDocs]` — the multi-epoch
    * curriculum budget ([[graft.operators.Scale.curriculumEpochs]], x165)
    * at scale. Same uneven 7-source corpus as curriculum-planted (60%
    * whale, 1% sliver, difficulty = xxhash64 % 1000 — heavy tie groups)
    * plus deterministic token counts `5 + id % 7`; budget = 2.5 corpus
    * epochs, so 2 full epochs + a genuinely cutting partial. Two checks:
    *
    *   1. EQUALITY at nDocs/4: the shipped pipeline (closed-form
    *      positions, two-level hash-bucket boundary walk) against the
    *      NAIVE per-epoch definition — single-partition windows for the
    *      curriculum rank, the per-epoch (tier, shuffle_key, id) greedy
    *      cumsum prefix, and the per-epoch row_number — the exact
    *      formulation the DuckDB oracle runs, an independent code path.
    *      Zero mismatching (doc, epoch, ...) rows required. The naive
    *      side caps this leg's size: it funnels every epoch through one
    *      task, which is precisely why the closed form exists.
    *   2. INVARIANTS at nDocs, where the naive form cannot go: both full
    *      epochs carry ALL N docs with positions an exact permutation of
    *      1..N (count distinct, min, max, closed-form sum — int64-exact
    *      far past this scale); the partial epoch's positions are a
    *      permutation of 1..|kept|; and the budget cut is proven MAXIMAL
    *      without any window — kept-token sum ≤ rem AND adding the FIRST
    *      excluded doc in (tier, shuffle_key, id) walk order (one
    *      min(struct) aggregate over the anti-joined exclusions) would
    *      exceed rem. */
  private def epochPlanted(spark: org.apache.spark.sql.SparkSession, nDocs: Long): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val srcExpr = when(pmod(col("id"), lit(100L)) < 1, "src0")
      .when(pmod(col("id"), lit(100L)) < 5, "src1")
      .when(pmod(col("id"), lit(100L)) < 10, "src2")
      .when(pmod(col("id"), lit(100L)) < 20, "src3")
      .when(pmod(col("id"), lit(100L)) < 30, "src4")
      .when(pmod(col("id"), lit(100L)) < 40, "src5")
      .otherwise("src6")
    def corpus(n: Long) = spark
      .range(n)
      .select(
        col("id").as("doc_id"),
        srcExpr.as("source"),
        pmod(xxhash64(col("id")), lit(1000L)).as("diff"),
        (lit(5L) + pmod(col("id"), lit(7L))).as("n_tokens")
      )
    def budgetOf(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val t = df.agg(sum("n_tokens")).head().getLong(0)
      (t, t * 5L / 2L) // 2.5 epochs, exact integers
    }
    // --- 1. closed form == naive per-epoch definition ---
    val nEq = math.max(nDocs / 4, 100000L)
    val small = corpus(nEq).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    small.count()
    val (tSmall, bSmall) = budgetOf(small)
    val kSmall = bSmall / tSmall
    val remSmall = bSmall - kSmall * tSmall
    val t0 = System.nanoTime()
    val closed = graft.operators.Scale
      .curriculumEpochs(small, "doc_id", "n_tokens", "diff", "source", bSmall)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nClosed = closed.count()
    val tClosed = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val ordW = Window.partitionBy("epoch").orderBy("tier", "shuffle_key", "doc_id")
    val naive = small
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("diff", "doc_id")).cast("long"))
      .withColumn("pos0", row_number().over(Window.orderBy("rn", "source")).cast("long"))
      .withColumn("tier", expr(s"(pos0 * 256) div ${nEq + 1L}"))
      .crossJoin(spark.range(kSmall + 1L).select(col("id").as("epoch")))
      .withColumn(
        "shuffle_key",
        expr("cast(conv(substring(md5(concat(cast(doc_id as string), '#', " +
          "cast(epoch as string))), 18, 15), 16, 10) as long)"))
      .withColumn("cum",
        sum("n_tokens").over(ordW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("epoch") < kSmall || col("cum") <= remSmall)
      .withColumn("pos", row_number().over(ordW).cast("long"))
      .select("doc_id", "source", "n_tokens", "epoch", "tier", "shuffle_key", "pos")
    val mism = closed.exceptAll(naive).count() + naive.exceptAll(closed).count()
    val tNaive = (System.nanoTime() - t1) / 1e9
    require(mism == 0, s"curriculumEpochs != naive per-epoch definition: $mism mismatching rows")
    require(nClosed > nEq * kSmall, s"partial epoch empty: $nClosed rows")
    small.unpersist(); closed.unpersist()
    // --- 2. invariants at full size ---
    val big = corpus(nDocs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    big.count()
    val (tBig, bBig) = budgetOf(big)
    val kBig = bBig / tBig
    val remBig = bBig - kBig * tBig
    val t2 = System.nanoTime()
    val out = graft.operators.Scale
      .curriculumEpochs(big, "doc_id", "n_tokens", "diff", "source", bBig)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perEpoch = out
      .groupBy("epoch")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("pos")).as("d"),
        min("pos").as("mn"),
        max("pos").as("mx"),
        sum("pos").as("s"),
        sum("n_tokens").as("tok"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
      .sortBy(_._1)
    val tRun = (System.nanoTime() - t2) / 1e9
    require(perEpoch.map(_._1).toSeq == (0L to kBig), s"epoch labels wrong: ${perEpoch.toSeq}")
    perEpoch.foreach { case (e, n, d, mn, mx, s, tok) =>
      val full = e < kBig
      require(!full || (n == nDocs && tok == tBig), s"full epoch $e incomplete: n=$n tok=$tok")
      require(
        d == n && mn == 1L && mx == n && s == n * (n + 1) / 2,
        s"epoch $e positions not a permutation of 1..$n: d=$d mn=$mn mx=$mx s=$s")
    }
    val keptTok = perEpoch.last._7
    require(keptTok <= remBig, s"partial epoch overshoots: $keptTok > $remBig")
    // maximality WITHOUT a window: the first excluded doc in walk order
    // (tier from the already-gate-proven interleave, this epoch's hash)
    // must not fit in the remaining budget
    val pos0 = graft.operators.Scale
      .curriculumInterleave(big, "doc_id", "diff", "source")
    val allTiered = big
      .join(pos0.select("doc_id", "pos"), Seq("doc_id"))
      .withColumn("tier", expr(s"(pos * 256) div ${nDocs + 1L}"))
      .withColumn(
        "shuffle_key",
        expr(s"cast(conv(substring(md5(concat(cast(doc_id as string), '#', " +
          s"cast($kBig as string))), 18, 15), 16, 10) as long)"))
    val firstExcl = allTiered
      .join(out.filter(col("epoch") === kBig).select("doc_id"), Seq("doc_id"), "left_anti")
      .agg(min(struct(col("tier"), col("shuffle_key"), col("doc_id"), col("n_tokens"))).as("m"))
      .head().getStruct(0)
    require(
      keptTok + firstExcl.getLong(3) > remBig,
      s"cut not maximal: kept $keptTok + next ${firstExcl.getLong(3)} <= rem $remBig")
    big.unpersist(); out.unpersist()
    println(
      f"[spike] epoch-planted: closed==naive at $nEq%d docs x ${kSmall + 1}%d epochs " +
        f"(0 mismatches, closed $tClosed%.1fs vs naive single-partition $tNaive%.1fs); " +
        f"at $nDocs%d docs: ${kBig}%d full epochs complete, per-epoch permutations exact, " +
        f"partial epoch $keptTok%d/$remBig%d tokens with maximality proven, in $tRun%.1fs")
    println("[spike] epoch-planted: multi-epoch budget exact at scale — gate PASS")
  }

  /** `runMain graft.tools.Spike unimax-planted [nDocs]` — UniMax
    * allocation ([[graft.operators.Scale.unimaxMix]], x170) and its
    * materialization ([[graft.operators.Scale.unimaxSelect]], x171) at
    * millions of docs against CLOSED-FORM truth. Corpus: 7 sources from
    * id%100 residue classes (1/4/5/10/10/10/60% of docs) with a CONSTANT
    * per-source token count `8 + srcIdx`, so every per-source doc count,
    * token total, cap, the whole waterfill, and even the partial-epoch
    * SELECTION COUNT (`rem div tok` — any m-doc prefix of an equal-token
    * source holds exactly m·tok tokens) are driver-side closed forms of
    * (nDocs) alone — derived here from the planted shares, never from the
    * data. Budget 1.5·T at maxEpochs=4 makes the per-source r_i·(8+i)
    * weights [8,36,50,110,120,130,840] hit all three regimes at ANY
    * nDocs%100==0: src0–2 capped at 4 epochs, src3–5 full+partial,
    * src6 partial-only (k=0). Checks: the allocation table equals the
    * closed form field-for-field (including the IEEE level double), the
    * selection's per-(source, epoch) counts and token sums equal the
    * closed form exactly, no (doc, epoch) duplicates, and the partial
    * count is maximal by the equal-token argument. */
  private def unimaxPlanted(spark: org.apache.spark.sql.SparkSession, nDocs: Long): Unit = {
    import org.apache.spark.sql.functions._
    require(nDocs % 100 == 0 && nDocs >= 100000, s"unimax-planted: nDocs %% 100 != 0: $nDocs")
    val rsh = Array(1L, 4L, 5L, 10L, 10L, 10L, 60L) // residue shares of 100
    val nSrc = rsh.length
    val maxEpochs = 4
    val r = pmod(col("id"), lit(100L))
    val cuts = rsh.scanLeft(0L)(_ + _).tail // 1,5,10,20,30,40,100
    val srcIdx = cuts.init.zipWithIndex.foldRight(lit(nSrc - 1)) {
      case ((cut, i), elseCol) => when(r < cut, lit(i)).otherwise(elseCol)
    }
    val corpus = spark
      .range(nDocs)
      .select(
        col("id").as("doc_id"),
        concat(lit("src"), srcIdx.cast("string")).as("source"),
        (srcIdx.cast("long") + 8L).as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpus.count()
    // ---- closed-form truth from the planted shares ----
    val ns = rsh.map(_ * nDocs / 100)
    val toks = Array.tabulate(nSrc)(i => 8L + i)
    val ts = Array.tabulate(nSrc)(i => ns(i) * toks(i)) // ascending: r_i·(8+i) ascends
    val total = ts.sum
    val budget = total * 3L / 2L
    val caps = ts.map(_ * maxEpochs)
    var cum = 0L; var m = 0; var open = true
    val capped = new Array[Boolean](nSrc)
    while (m < nSrc && open) {
      if (caps(m) <= (budget - cum) / (nSrc - m).toLong) { capped(m) = true; cum += caps(m); m += 1 }
      else open = false
    }
    require(m >= 1 && m < nSrc, s"planted budget must mix regimes: m=$m")
    val level = (budget - cum).toDouble / (nSrc - m).toDouble
    val at = Array.tabulate(nSrc)(i => if (capped(i)) caps(i) else math.floor(level).toLong)
    val ks = Array.tabulate(nSrc)(i => at(i) / ts(i))
    val rems = Array.tabulate(nSrc)(i => at(i) % ts(i))
    require(ks.exists(_ == 0) && Array.tabulate(nSrc)(i => ks(i) > 0 && rems(i) > 0).exists(identity),
      "planted budget must produce a partial-only source and a full+partial source")
    // ---- 1. the allocation table equals the closed form ----
    val mix = graft.operators.Scale
      .unimaxMix(corpus, "source", "n_tokens", budget, maxEpochs)
      .collect()
      .map(row => row.getString(0) ->
        ((row.getLong(1), row.getLong(2), row.getLong(3), row.getBoolean(4),
          row.getDouble(5))))
      .toMap
    require(mix.size == nSrc, s"expected $nSrc allocation rows, got ${mix.size}")
    (0 until nSrc).foreach { i =>
      val (gn, gt, gc, gcap, galloc) = mix(s"src$i")
      val wantAlloc = if (capped(i)) caps(i).toDouble else level
      require(
        gn == ns(i) && gt == ts(i) && gc == caps(i) && gcap == capped(i) && galloc == wantAlloc,
        s"allocation src$i: got ($gn,$gt,$gc,$gcap,$galloc) " +
          s"want (${ns(i)},${ts(i)},${caps(i)},${capped(i)},$wantAlloc)")
    }
    // ---- 2. the materialized selection equals the closed form ----
    val t0 = System.nanoTime()
    val sel = graft.operators.Scale
      .unimaxSelect(corpus, "doc_id", "source", "n_tokens", budget, maxEpochs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val agg = sel
      .groupBy("source", "epoch")
      .agg(count(lit(1)).as("n"), sum("n_tokens").as("tok"))
      .collect()
      .map(row => (row.getString(0), row.getLong(1)) -> ((row.getLong(2), row.getLong(3))))
      .toMap
    val nRows = sel.count()
    val tSel = (System.nanoTime() - t0) / 1e9
    var wantRows = 0L
    (0 until nSrc).foreach { i =>
      (0L until ks(i)).foreach { e =>
        require(agg((s"src$i", e)) == ((ns(i), ts(i))), s"full epoch $e of src$i wrong: ${agg((s"src$i", e))}")
        wantRows += ns(i)
      }
      if (rems(i) > 0) {
        val pc = rems(i) / toks(i) // equal-token greedy prefix: exact count
        require(agg((s"src$i", ks(i))) == ((pc, pc * toks(i))),
          s"partial epoch of src$i wrong: ${agg((s"src$i", ks(i)))} want ($pc, ${pc * toks(i)})")
        require(pc * toks(i) + toks(i) > rems(i), s"partial cut of src$i not maximal")
        wantRows += pc
      }
    }
    require(agg.size.toLong == (0 until nSrc).map(i => ks(i) + (if (rems(i) > 0) 1L else 0L)).sum,
      s"unexpected (source, epoch) cells: ${agg.size}")
    require(nRows == wantRows, s"row count $nRows != closed form $wantRows")
    val dups = sel.groupBy("doc_id", "epoch").count().filter(col("count") > 1L).count()
    require(dups == 0L, s"$dups duplicated (doc, epoch) assignments")
    corpus.unpersist(); sel.unpersist()
    val nCap = capped.count(identity)
    val nFp = (0 until nSrc).count(i => ks(i) > 0 && rems(i) > 0 && !capped(i))
    val nPo = (0 until nSrc).count(i => ks(i) == 0)
    println(
      f"[spike] unimax-planted: allocation table == closed-form waterfill at $nDocs%d docs " +
        f"($nCap%d capped / $nFp%d full+partial / $nPo%d partial-only); selection $nRows%d " +
        f"(doc, epoch) rows == closed form per (source, epoch) cell, partial counts maximal, " +
        f"in $tSel%.1fs")
    println("[spike] unimax-planted: UniMax allocation + materialization exact at scale — gate PASS")
  }

  /** `runMain graft.tools.Spike bitext-planted [nVecs]` — the
    * bitext-mining funnel ([[graft.operators.Similarity.ivfSearch]] both
    * directions ∘ [[graft.operators.Similarity.marginMine]], x175) at
    * 100x+ vectors against PLANTED cross-language truth. Two disjoint
    * "languages": src = nVecs hash vectors (the x60 full-avalanche
    * element mix); tgt = nVecs fresh hash vectors PLUS a 2.0f-scaled copy
    * of every 100th src vector (exactly-representable scale ⇒ cosine 1.0
    * AND an identical centroid-cosine profile, so the copy lands in the
    * same probed cell by construction — the x60/x111 planting
    * convention). Each language is indexed under its own √N lowest-id
    * centroids. Every planted src must surface its copy at forward
    * rank 1 with sim 1.0 and a ratio margin > 1 (its neighborhood means
    * are strictly below 1), and every planted pair must SURVIVE the
    * mutual (CCMatrix) intersection — 0 missing at scale, while the
    * cell-join candidate volume stays sum(cellQ·cellC), never |src|·|tgt|. */
  private def bitextPlanted(spark: org.apache.spark.sql.SparkSession, nVecs: Long): Unit = {
    import org.apache.spark.sql.functions._
    def vecs(from: Long, until: Long) = spark
      .range(from, until)
      .select(col("id").as("vec_id"), plantedVec(col("id"), 1000L).as("embedding"))
    val src = vecs(0L, nVecs)
      .repartition(spark.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val planted = src
      .filter(col("vec_id") % 100 === 0)
      .select(
        (col("vec_id") + 2L * nVecs).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val tgt = vecs(nVecs, 2L * nVecs)
      .unionByName(planted)
      .repartition(spark.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nSrc = src.count()
    val nTgt = tgt.count()
    val nPlanted = nSrc / 100 + (if (nSrc % 100 > 0) 1L else 0L)
    val nS = math.max(1L, math.floor(math.sqrt(nSrc.toDouble)).toLong)
    val nT = math.max(1L, math.floor(math.sqrt(nTgt.toDouble)).toLong)
    val cenS = src.orderBy("vec_id").limit(nS.toInt)
    val cenT = tgt.orderBy("vec_id").limit(nT.toInt)
    val t0 = System.nanoTime()
    val fwd = graft.operators.Similarity
      .ivfSearch(src, tgt, cenT, "vec_id", "embedding", k = 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bwd = graft.operators.Similarity
      .ivfSearch(tgt, src, cenS, "vec_id", "embedding", k = 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mined = graft.operators.Similarity.marginMine(fwd, bwd)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nMined = mined.count()
    val tMine = (System.nanoTime() - t0) / 1e9
    // every planted src surfaces its copy at rank 1, sim 1.0, margin > 1
    val expected = src
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), (col("vec_id") + 2L * nVecs).as("cid"))
    val hits = mined
      .join(expected, Seq("qid", "cid"))
      .filter(col("sim") === 1.0 && col("margin") > 1.0)
    val nHits = hits.count()
    require(
      nHits == nPlanted,
      s"planted pairs lost or degraded: $nHits of $nPlanted surfaced at rank 1 " +
        "with sim 1.0 and margin > 1")
    // ... and all survive the mutual (CCMatrix) intersection
    val mutual = graft.operators.Similarity.marginMine(fwd, bwd, mutual = true)
    val nMutual = mutual.join(expected, Seq("qid", "cid")).count()
    require(nMutual == nPlanted, s"mutual intersection dropped planted pairs: $nMutual/$nPlanted")
    src.unpersist(); tgt.unpersist(); fwd.unpersist(); bwd.unpersist(); mined.unpersist()
    println(
      f"[spike] bitext-planted: $nPlanted%d planted cross-language copies at $nSrc%d x " +
        f"$nTgt%d vectors — all at forward rank 1 / sim 1.0 / margin > 1, all mutual; " +
        f"$nMined%d candidates mined through ${nT}%d-cell IVF both ways in $tMine%.1fs")
    println("[spike] bitext-planted: margin mining exact at scale — gate PASS")
  }

  /** `runMain graft.tools.Spike overlap-planted [nDocs]` — the
    * cross-source overlap matrix ([[graft.operators.Dedup.sourceOverlap]],
    * x168) and its streaming face at 100x+ docs against CLOSED-FORM
    * planted cell counts. Corpus: nDocs base docs over 4 sources
    * (`src(id%4)`), unique 12-token texts over a 2^64 token space; every
    * 1000th doc gets an exact-copy companion whose source is
    * `src((id/1000)%4)` — so every planted pair's matrix CELL is known by
    * construction: originals are all src0 (1000 % 4 == 0), companions
    * cycle the four sources, giving exactly nDocs/4000 pairs in each of
    * (src0,src0) (src0,src1) (src0,src2) (src0,src3). At the 8/8
    * agreement cut accidental pairs need identical minhash signatures —
    * P ≈ (hash-set J)^8 ≈ 0 for random texts (the curate-incr planted
    * convention), so the matrix must be EXACTLY the planted one. Then the
    * streaming decomposition: companions with even id/1000 arrive WITH
    * the originals (within-batch self evidence → the two even cells),
    * the odd half arrives as batch 2 against the grown index
    * (cross-batch index evidence → the two odd cells); each delta and
    * their sum must match closed form — [[graft.operators.Dedup
    * .incrementalSourceOverlap]]'s exact-decomposition contract at
    * scale, not just the spec's 9 docs. */
  private def overlapPlanted(spark: org.apache.spark.sql.SparkSession, nDocs: Long): Unit = {
    import org.apache.spark.sql.functions._
    require(nDocs % 4000 == 0, s"overlap-planted: nDocs must be a multiple of 4000, got $nDocs")
    def textOf(key: org.apache.spark.sql.Column) =
      concat_ws(
        " ",
        transform(sequence(lit(0L), lit(11L)), j => concat(lit("t"), xxhash64(key, j).cast("string"))))
    val base = spark
      .range(nDocs)
      .select(
        col("id").as("doc_id"),
        concat(lit("src"), pmod(col("id"), lit(4L)).cast("string")).as("source"),
        textOf(col("id")).as("text"))
    val comp = spark
      .range(nDocs)
      .filter(pmod(col("id"), lit(1000L)) === 0)
      .select(
        (col("id") + nDocs).as("doc_id"),
        concat(lit("src"), pmod(expr("id DIV 1000"), lit(4L)).cast("string")).as("source"),
        textOf(col("id")).as("text"))
    val corpus = base.unionByName(comp)
    val p = nDocs / 1000
    val want = Seq(
      ("src0", "src0", p / 4), ("src0", "src1", p / 4),
      ("src0", "src2", p / 4), ("src0", "src3", p / 4))
    val t0 = System.nanoTime()
    val got = graft.operators.Dedup
      .sourceOverlap(corpus, "doc_id", "text", "source", minEstJaccard = 1.0)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    val tFull = (System.nanoTime() - t0) / 1e9
    require(got == want, s"overlap-planted MISMATCH: got $got want $want")
    // --- streaming decomposition: even companions in-batch, odd vs index ---
    val evenComp = comp.filter(expr(s"((doc_id - ${nDocs}L) DIV 1000) % 2") === 0)
    val oddComp = comp.filter(expr(s"((doc_id - ${nDocs}L) DIV 1000) % 2") === 1)
    val b1 = base.unionByName(evenComp)
    val emptyIdx = graft.operators.Dedup
      .minhashSignatures(
        spark.range(0).select(col("id").as("doc_id"), lit("").as("text")),
        "doc_id", "text", 8)
      .withColumn("source", lit(""))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sortBy(x => (x._1, x._2)).toSeq
    val t1 = System.nanoTime()
    val d1 = cells(graft.operators.Dedup.incrementalSourceOverlap(
      b1, emptyIdx, "doc_id", "text", "source", minEstJaccard = 1.0))
    val idx = emptyIdx.unionByName(
      graft.operators.Dedup.minhashSignatures(b1, "doc_id", "text", 8)
        .join(b1.select("doc_id", "source"), Seq("doc_id")))
      .localCheckpoint()
    val d2 = cells(graft.operators.Dedup.incrementalSourceOverlap(
      oddComp, idx, "doc_id", "text", "source", minEstJaccard = 1.0))
    val tIncr = (System.nanoTime() - t1) / 1e9
    require(
      d1 == Seq(("src0", "src0", p / 4), ("src0", "src2", p / 4)),
      s"batch-1 delta wrong: $d1")
    require(
      d2 == Seq(("src0", "src1", p / 4), ("src0", "src3", p / 4)),
      s"batch-2 delta wrong: $d2")
    val summed = (d1 ++ d2).groupBy(x => (x._1, x._2))
      .map { case ((a, b), xs) => (a, b, xs.map(_._3).sum) }.toSeq.sortBy(x => (x._1, x._2))
    require(summed == want, s"summed deltas != one-shot matrix: $summed vs $want")
    println(
      f"[spike] overlap-planted: $nDocs%d docs + ${p}%d planted cross-source copies — " +
        f"one-shot matrix exact (4 cells x ${p / 4}%d pairs) in $tFull%.1fs; streaming " +
        f"decomposition exact (even cells in-batch, odd cells vs the grown index) in $tIncr%.1fs")
    println("[spike] overlap-planted: overlap matrix exact at scale — gate PASS")
  }

  /** `runMain graft.tools.Spike x60-planted [nVecs]` — embedding near-dup
    * at 100x+ vectors against a closed-form planted oracle. Synthetic
    * 64-dim vectors from pure integer arithmetic (no RNG — identical at any
    * partitioning); every 100th vector gets a companion scaled by 2
    * (EXACT in float → identical direction, identical LSH bucket, cosine
    * 1.0), so embedDupes(nBits=16, minSim=0.999) must return EXACTLY the
    * planted pairs: random 64-dim directions concentrate at cos ~ N(0,1/64)
    * and never reach 0.999. Verifies both directions via anti-joins and
    * reports the candidate volume (sum over buckets of C(|bucket|,2)) — the
    * quantity that explodes if bucketing ever degrades toward n². */
  private def x60Planted(spark: org.apache.spark.sql.SparkSession, nVecs: Long): Unit = {
    import org.apache.spark.sql.functions._
    val (base, df) = plantedCorpus(spark, nVecs, 1000L)
    df.count()
    val t0 = System.nanoTime()
    val found = graft.operators.Similarity
      .embedDupes(df, "vec_id", "embedding", Dim, 16, 0.999)
      .select("d1", "d2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nFound = found.count()
    val ts = (System.nanoTime() - t0) / 1e9
    val expected = base
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("d1"), (col("vec_id") + nVecs).as("d2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nExpected = expected.count()
    val missing = expected.join(found, Seq("d1", "d2"), "left_anti").count()
    val extra = found.join(expected, Seq("d1", "d2"), "left_anti").count()
    // candidate volume the bucket join actually formed
    val cand = df
      .select(graft.operators.Similarity.lshBucket(col("embedding"), Dim, 16).as("b"))
      .groupBy("b")
      .agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n") * (col("n") - 1) / 2).cast("long").as("pairs"),
        count(lit(1)).as("buckets")
      )
      .head()
    println(
      f"[spike] x60-planted: ${nVecs + nExpected} vecs, $nFound dup pairs in $ts%.1fs " +
        f"(expected $nExpected) — missing=$missing extra=$extra; bucket join formed " +
        f"${cand.getLong(0)} candidate pairs over ${cand.getLong(1)} buckets " +
        f"(n² would be ${(nVecs + nExpected) * (nVecs + nExpected) / 2})"
    )
    require(
      missing == 0 && extra == 0 && nFound == nExpected,
      s"x60-planted MISMATCH: missing=$missing extra=$extra found=$nFound/$nExpected"
    )
    println("[spike] x60-planted: EXACT planted-pair match at scale — gate PASS")
    found.unpersist(blocking = false)
    expected.unpersist(blocking = false)
    df.unpersist(blocking = false)
  }

  /** `runMain graft.tools.Spike sq8-planted [nVecs]` — the SQ8 IVF path at
    * 100x+ vectors against planted exact duplicates. Same deterministic
    * corpus as x60-planted (every 100th vector gets a x2-scaled companion:
    * exact in float → identical direction, identical int8 CODES, cosine
    * 1.0); coarse centroids are the first 512 base vectors. Requires: for
    * EVERY companion, ivfTopKSq's rank-1 neighbor is its partner at
    * sim 1.0 — quantized scoring + cell routing + exact rerank must all
    * agree at scale. Also times float [[graft.operators.Similarity.ivfTopK]]
    * on the identical corpus/centroids: the in-cell scoring volume is the
    * same, so the delta is the int8-codes-vs-float32 scoring and exchange
    * payload (~dim+8 B vs ~4dim+8 B per candidate row). */
  private def sq8Planted(spark: org.apache.spark.sql.SparkSession, nVecs: Long): Unit = {
    import org.apache.spark.sql.functions._
    val (base, df) = plantedCorpus(spark, nVecs, 1048576L)
    val n = df.count()
    val cen = base.filter(col("vec_id") < 512).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cen.count()
    // JIT/codegen warmup on a small sample — the SQ variants otherwise pay
    // whole-stage-codegen compilation + interpreter warmup inside their
    // timed region while the float variants (run later) inherit a hot JVM
    val warm = df.filter(col("vec_id") % 10 === 0)
    val warmCen = cen.limit(64)
    Seq(
      () => graft.operators.Similarity.ivfTopKSq(warm, warmCen, "vec_id", "embedding", 5, 1, 10),
      () => graft.operators.Similarity.ivfTopK(warm, warmCen, "vec_id", "embedding", 5, 1),
      () => graft.operators.Similarity
        .bruteForceTopKSq(warmCen, warm, "vec_id", "embedding", 5, 10),
      () => graft.operators.Similarity.bruteForceTopK(warmCen, warm, "vec_id", "embedding", 5)
    ).foreach(f => f().count())
    val sq = graft.operators.Similarity
      .ivfTopKSq(df, cen, "vec_id", "embedding", k = 10, nProbe = 1, rerank = 20)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t0 = System.nanoTime()
    val (nSq, wSq) = shuffleWriteBytes(spark)(sq.count())
    val tSq = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val (nFloat, wFloat) = shuffleWriteBytes(spark) {
      graft.operators.Similarity.ivfTopK(df, cen, "vec_id", "embedding", k = 10, nProbe = 1).count()
    }
    val tFloat = (System.nanoTime() - t1) / 1e9
    // the SERVING shape (small query batch vs big corpus) — where SQ8
    // scoring pays in wall time too: the broadcast query side is 4x
    // smaller and every corpus row is scored with the int8 kernel
    val qBatch = base.filter(col("vec_id") % 100 === 0)
    val t2 = System.nanoTime()
    val nBq = graft.operators.Similarity
      .bruteForceTopKSq(qBatch, df, "vec_id", "embedding", k = 10, rerank = 30)
      .count()
    val tBq = (System.nanoTime() - t2) / 1e9
    val t3 = System.nanoTime()
    val nBf = graft.operators.Similarity
      .bruteForceTopK(qBatch, df, "vec_id", "embedding", k = 10)
      .count()
    val tBf = (System.nanoTime() - t3) / 1e9
    // storage: codes+scale parquet vs float parquet (the scan-bytes story)
    val outF = java.nio.file.Files.createTempDirectory("sq8f").toString
    val outQ = java.nio.file.Files.createTempDirectory("sq8q").toString
    df.select("vec_id", "embedding").write.mode("overwrite").parquet(outF)
    graft.operators.Similarity.sqQuantize(df, "vec_id", "embedding")
      .select("vec_id", "sq_scale", "sq_codes").write.mode("overwrite").parquet(outQ)
    def dirBytes(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.isFile).map(_.length()).sum
    }
    val (bF, bQ) = (dirBytes(outF), dirBytes(outQ))
    // every planted companion must rank its partner #1 at sim 1.0
    val top1 = sq.filter(col("qid") >= nVecs && col("rn") === 1)
    val nComp = n - nVecs
    val good = top1
      .filter(col("cid") === col("qid") - nVecs && col("sim") === 1.0)
      .count()
    println(
      f"[spike] sq8-planted: $n vecs, 512 cells — ivfTopKSq $tSq%.1fs / ${wSq / 1e6}%.0f MB " +
        f"shuffled ($nSq rows) vs float ivfTopK $tFloat%.1fs / ${wFloat / 1e6}%.0f MB " +
        f"($nFloat rows); planted top-1 exact $good/$nComp"
    )
    println(
      f"[spike] sq8-planted: serving shape (${nComp} queries x $n corpus) — " +
        f"bruteForceTopKSq $tBq%.1fs ($nBq rows) vs float bruteForceTopK $tBf%.1fs ($nBf rows)"
    )
    println(
      f"[spike] sq8-planted: storage — float parquet ${bF / 1e6}%.1f MB vs SQ8 codes " +
        f"${bQ / 1e6}%.1f MB (${bF.toDouble / bQ}%.1fx smaller scan)"
    )
    require(good == nComp, s"sq8-planted MISMATCH: only $good of $nComp planted top-1 hits")
    require(nBq == nBf, s"sq8-planted: serving row counts differ ($nBq vs $nBf)")
    println("[spike] sq8-planted: all planted duplicates recovered at rank 1 — gate PASS")
    sq.unpersist(blocking = false)
    cen.unpersist(blocking = false)
    df.unpersist(blocking = false)
  }

  /** `runMain graft.tools.Spike keyword-scale [nTerms]` — the Aho–Corasick
    * dictionary-scale claim, measured: a 10k-term dictionary over the
    * sf0.1 corpus through ONE `keyword_matches` pass vs the naive
    * per-term `contains` reduce (which plans one text scan per term).
    * Correctness: the two formulations must agree doc-for-doc on the
    * full corpus (the naive side runs on a 200-doc sample for the tag
    * SETS — 10k contains over every doc is exactly the cliff being
    * demonstrated — plus full-corpus equality of the blocklist verdict
    * against a 64-term sub-dictionary where the naive reduce is still
    * feasible). */
  private def keywordScale(spark: org.apache.spark.sql.SparkSession, nTerms: Int): Unit = {
    import org.apache.spark.sql.functions._
    val docs = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count()
    // dictionary: every corpus word + word-pair phrases + synthetic
    // absent terms up to nTerms (deterministic — no RNG)
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .sorted
    val phrases = for (a <- vocab; b <- vocab) yield s"$a $b"
    val synth = (0 until nTerms).map(i => s"zz${i}q")
    val terms = (vocab ++ phrases ++ synth).distinct.take(nTerms)
    require(terms.length == nTerms, s"dictionary only ${terms.length}")
    val t0 = System.nanoTime()
    val tagged = graft.operators.TextAnalysis
      .tagKeywords(docs, "doc_id", "text", terms)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"))
    val totalTags = tagged.agg(sum("n")).head().getLong(0)
    val tAc = (System.nanoTime() - t0) / 1e9
    // naive blocklist reduce on a 64-term slice, FULL corpus equality
    val sub = terms.filter(t => !t.startsWith("zz")).take(63) :+ "zz0q"
    val naiveAny = sub.map(t => col("text").contains(t)).reduce(_ || _)
    val t1 = System.nanoTime()
    val nNaive = docs.filter(naiveAny).count()
    val tNaive64 = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val nAc = docs
      .filter(graft.functions.KeywordFunctions.keywordAny(col("text"), sub))
      .count()
    val tAc64 = (System.nanoTime() - t2) / 1e9
    require(nAc == nNaive, s"keyword-scale MISMATCH: AC blocklist $nAc vs naive $nNaive")
    // tag-set equality on a 200-doc sample vs per-term contains
    val sample = docs.filter(col("doc_id") % 25 === 0).collect()
    val ac = new graft.functions.Keywords.Automaton(terms)
    var bad = 0L
    sample.foreach { r =>
      val text = r.getString(1)
      val got = ac.matchSet(text).map(ac.table).toList
      val want = ac.table.filter(text.contains(_)).toList
      if (got != want) bad += 1
    }
    require(bad == 0, s"keyword-scale MISMATCH: $bad sample docs disagree with contains")
    println(
      f"[spike] keyword-scale: ${terms.length} terms x ${docs.count()} docs — one-pass AC tag " +
        f"$tAc%.1fs ($totalTags tags); 64-term blocklist: AC $tAc64%.2fs vs contains-reduce " +
        f"$tNaive64%.2fs, verdicts equal on the full corpus; ${sample.length}-doc tag sets == contains"
    )
    println("[spike] keyword-scale: AC agrees with per-term contains everywhere — gate PASS")
    docs.unpersist(blocking = false)
  }

  /** `runMain graft.tools.Spike sparse-dim-scale [nDocs]` — the
    * sparse-gradient trainer at its FASTTEXT CEILING (dim = 2^21, past
    * the dense path's 65536) on a synthetic wide-vocabulary corpus
    * (~500k distinct tokens hashing across the 2M buckets — the sf
    * documents table's closed 31-word vocabulary would only touch 31
    * buckets and prove nothing about high dim). Truth is
    * CROSS-IMPLEMENTATION bit-equality: [[graft.operators.TextAnalysis
    * .trainLinearSparse]] (per-step bucket-keyed decimal aggregate) and
    * [[graft.operators.TextAnalysis.trainLinearSgd]] with
    * `nShards = 1, rounds = 1` (a single in-memory BigInt GD loop over
    * buffered rows — a completely independent execution path) run the
    * same mathematical recursion, so every weight numerator must match
    * exactly. Also reports wall time and nonzero-weight count. */
  private def sparseDimScale(spark: org.apache.spark.sql.SparkSession, nDocs: Long): Unit = {
    import org.apache.spark.sql.functions._
    val dim = 1 << 21
    val steps = 2
    // 12 tokens/doc: 6 class-conditioned from a 100k-token pool per class
    // (each class token lands in ~30 same-label docs at 500k docs, so its
    // bucket gradient ~30·2^21 clears the truncating-update threshold
    // 64·N and the weight actually moves) + 6 label-agnostic noise tokens
    // whose mixed-sign gradients stay BELOW it — a realistic sparse-signal
    // shape, and it exercises ~200k distinct buckets of the 2^21 space.
    // A label uncorrelated with tokens would leave every |G| under the
    // threshold and prove nothing.
    val cls = col("id") % 2
    val clsTok = transform(
      sequence(lit(0L), lit(5L)),
      j =>
        concat(
          when(cls === 1, lit("p")).otherwise(lit("n")),
          pmod(xxhash64(col("id"), j), lit(100000L)).cast("string")
        )
    )
    val noiseTok = transform(
      sequence(lit(6L), lit(11L)),
      j => concat(lit("c"), pmod(xxhash64(col("id"), j), lit(100000L)).cast("string"))
    )
    val docs = spark
      .range(nDocs)
      .select(
        col("id").as("doc_id"),
        concat_ws(" ", concat(clsTok, noiseTok)).as("text"),
        cls.cast("long").as("label")
      )
      .repartition(spark.sparkContext.defaultParallelism)
    val t0 = System.nanoTime()
    val sparse = graft.operators.TextAnalysis
      .trainLinearSparse(docs, "doc_id", "text", "label", dim, steps)
    val tSparse = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val sgd = graft.operators.TextAnalysis
      .trainLinearSgd(docs, "doc_id", "text", "label", dim, 1, 1, steps)
    val tSgd = (System.nanoTime() - t1) / 1e9
    val nnz = sparse.weightNums.count(_ != 0L)
    println(
      f"[spike] sparse-dim-scale: $nDocs docs, dim=$dim, $steps steps — " +
        f"trainLinearSparse $tSparse%.1fs vs single-shard in-memory GD $tSgd%.1fs; " +
        f"$nnz nonzero weights"
    )
    require(
      sparse.weightNums.toSeq == sgd.weightNums.toSeq && sparse.biasNum == sgd.biasNum,
      "sparse-dim-scale MISMATCH: the two independent trainer implementations diverged"
    )
    // ~84k of the ~190k class buckets clear the truncating-update
    // threshold at 500k docs (Poisson spread around k≈30 docs/token)
    require(nnz > 50000, s"sparse-dim-scale DEGENERATE: only $nnz nonzero weights at dim 2^21")
    println("[spike] sparse-dim-scale: bit-identical across implementations at dim 2^21 — gate PASS")
  }

  /** `runMain graft.tools.Spike sgd-planted [nDocs]` — the sharded
    * local-SGD trainer ([[graft.operators.TextAnalysis.trainLinearSgd]])
    * at 100x+ docs against planted separability: label = id % 2, positive
    * docs draw 6 tokens from a 50-token `pos*` pool, negatives from a
    * `neg*` pool, everyone shares 6 noise tokens from a 1000-token pool.
    * Requires (1) DETERMINISM AT SCALE — bit-identical weights when the
    * input arrives under a different partitioning (the pure-hash shard
    * contract is exactly what a repartition would break if it leaked),
    * (2) the planted signal is LEARNED — mean positive logit exceeds mean
    * negative (margin printed), sign-accuracy printed. Also times the
    * full-batch [[graft.operators.TextAnalysis.trainLinear]] at the same
    * TOTAL step count: the SGD shape pays rounds corpus passes instead of
    * rounds·localSteps — the wall-clock trade it exists for. */
  private def sgdPlanted(spark: org.apache.spark.sql.SparkSession, nDocs: Long): Unit = {
    import org.apache.spark.sql.functions._
    val cls = col("id") % 2
    val clsTok = transform(
      sequence(lit(0L), lit(5L)),
      j =>
        concat(
          when(cls === 1, lit("pos")).otherwise(lit("neg")),
          pmod(xxhash64(col("id"), j), lit(50L)).cast("string")
        )
    )
    val noiseTok = transform(
      sequence(lit(6L), lit(11L)),
      j => concat(lit("c"), pmod(xxhash64(col("id"), j), lit(1000L)).cast("string"))
    )
    val docs = spark
      .range(nDocs)
      .select(
        col("id").as("doc_id"),
        concat_ws(" ", concat(clsTok, noiseTok)).as("text"),
        cls.cast("long").as("label")
      )
      .repartition(spark.sparkContext.defaultParallelism)
    val (dim, nShards, rounds, localSteps) = (64, 32, 2, 2)
    val t0 = System.nanoTime()
    val m1 = graft.operators.TextAnalysis
      .trainLinearSgd(docs, "doc_id", "text", "label", dim, nShards, rounds, localSteps)
    val tSgd = (System.nanoTime() - t0) / 1e9
    // determinism at scale: a different input partitioning must produce
    // the SAME model (shard = pure hash of id; integer sums order-free)
    val m2 = graft.operators.TextAnalysis
      .trainLinearSgd(docs.repartition(53), "doc_id", "text", "label", dim, nShards, rounds, localSteps)
    require(
      m1.weightNums.toSeq == m2.weightNums.toSeq && m1.biasNum == m2.biasNum,
      "sgd-planted NONDETERMINISM: weights differ across input partitionings"
    )
    // full-batch at the same total step count, for the passes-vs-steps trade
    val t1 = System.nanoTime()
    val mf = graft.operators.TextAnalysis
      .trainLinear(docs, "doc_id", "text", "label", dim, rounds * localSteps)
    val tFull = (System.nanoTime() - t1) / 1e9
    // the planted signal was learned
    val scored = graft.operators.TextAnalysis
      .scoreLinear(docs.select("doc_id", "text"), "text", m1.weights, m1.bias)
      .join(docs.select("doc_id", "label"), "doc_id")
      .select(
        avg(when(col("label") === 1, col("logit"))).as("posMean"),
        avg(when(col("label") === 0, col("logit"))).as("negMean"),
        avg(
          when((col("logit") >= 0) === (col("label") === 1), 1.0).otherwise(0.0)
        ).as("acc")
      )
      .collect()(0)
    val (posMean, negMean, acc) = (scored.getDouble(0), scored.getDouble(1), scored.getDouble(2))
    val fullScored = graft.operators.TextAnalysis
      .scoreLinear(docs.select("doc_id", "text"), "text", mf.weights, mf.bias)
      .join(docs.select("doc_id", "label"), "doc_id")
      .select(avg(when((col("logit") >= 0) === (col("label") === 1), 1.0).otherwise(0.0)))
      .collect()(0)
      .getDouble(0)
    println(
      f"[spike] sgd-planted: $nDocs docs, $nShards shards x $rounds rounds x $localSteps local " +
        f"steps — $tSgd%.1fs (2 corpus passes) vs full-batch ${rounds * localSteps} steps " +
        f"$tFull%.1fs (4 passes); deterministic across partitionings; " +
        f"pos=$posMean%.4f neg=$negMean%.4f acc=$acc%.4f (full-batch acc=$fullScored%.4f)"
    )
    require(posMean > negMean, s"sgd-planted NO SEPARATION: pos=$posMean neg=$negMean")
    require(acc > 0.8, s"sgd-planted WEAK MODEL: sign-accuracy $acc <= 0.8")
    println("[spike] sgd-planted: deterministic, separating at scale — gate PASS")
  }

  /** `runMain graft.tools.Spike lm-planted [nDocs]` — the bigram LM
    * train/score split ([[graft.operators.TextAnalysis.trainBigramLm]] /
    * `perplexityScore`) at 100x+ docs with a WIDE vocabulary (V = 250k —
    * the sf corpus' closed 31-word set keeps the model broadcast-tiny, so
    * the sf10 oracle gate never exercises model-sized joins) against a
    * CLOSED-FORM integer oracle: the corpus is cyclic-window text
    * (doc id's window of length L over the token ring w0..w_{V-1}), so
    * every model count has an exact formula — (BOS, w_s) = nDocs/V,
    * (w_j, w_{j+1}) = ctx(w_j) = (nDocs/V)·(L−1), vocab = V — and the
    * expected per-doc NLL of a natural (in-ring) probe and an all-unseen
    * garble probe are exact FixedLog2 sums computable in the driver.
    * Requires: model row count == 2V, Σcnt == nDocs·L, EVERY natural
    * probe lands the exact natural NLL, EVERY garble probe the exact
    * garble NLL, and garble > natural. A count aggregation, model-join or
    * doc-sum defect at scale shifts an integer and fails loudly. */
  private def lmPlanted(spark: org.apache.spark.sql.SparkSession, nDocs: Long): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.FixedLog2.log2q20
    val V = 250000L
    val L = 20L
    require(nDocs % V == 0, s"lm-planted: nDocs must be a multiple of V=$V, got $nDocs")
    val c = nDocs / V
    def window(start: org.apache.spark.sql.Column) = concat_ws(
      " ",
      transform(sequence(lit(0L), lit(L - 1)), i => concat(lit("w"), pmod(start + i, lit(V)).cast("string")))
    )
    val docs = spark
      .range(nDocs)
      .select(col("id").as("doc_id"), window(col("id")).as("text"))
      .repartition(spark.sparkContext.defaultParallelism)
    val t0 = System.nanoTime()
    val model = graft.operators.TextAnalysis
      .trainBigramLm(docs, "doc_id", "text")
      .localCheckpoint()
    val mRows = model.count()
    val tTrain = (System.nanoTime() - t0) / 1e9
    require(mRows == 2 * V, s"lm-planted MODEL SHAPE: $mRows rows, expected ${2 * V}")
    val tot = model.agg(sum("cnt")).collect()(0).getLong(0)
    require(tot == nDocs * L, s"lm-planted COUNT MASS: sum(cnt)=$tot, expected ${nDocs * L}")
    // closed-form expected NLLs (exact integers on the Q20 grid)
    val nllNat = (log2q20(nDocs + V) - log2q20(c + 1)) +
      (L - 1) * (log2q20(c * (L - 1) + V) - log2q20(c * (L - 1) + 1))
    val nllGar = log2q20(nDocs + V) + (L - 1) * log2q20(V)
    val nProbe = 5000L
    val natural = spark
      .range(nProbe)
      .select(col("id").as("doc_id"), window(pmod(col("id") * 37L, lit(V))).as("text"))
    val garble = spark
      .range(nProbe)
      .select(
        col("id").as("doc_id"),
        concat_ws(
          " ",
          transform(
            sequence(lit(0L), lit(L - 1)),
            i => concat(lit("z"), col("id").cast("string"), lit("_"), i.cast("string"))
          )
        ).as("text")
      )
    val t1 = System.nanoTime()
    def check(probes: org.apache.spark.sql.DataFrame, want: Long, what: String): Unit = {
      val r = graft.operators.TextAnalysis
        .perplexityScore(probes, model, "doc_id", "text")
        .agg(
          count(lit(1)).as("n"),
          min("nll_q20").as("lo"),
          max("nll_q20").as("hi"),
          min("n_tokens").as("tl"),
          max("n_tokens").as("th")
        )
        .collect()(0)
      require(
        r.getLong(0) == nProbe && r.getLong(1) == want && r.getLong(2) == want &&
          r.getLong(3) == L && r.getLong(4) == L,
        s"lm-planted $what MISMATCH: n=${r.getLong(0)} nll=[${r.getLong(1)},${r.getLong(2)}] " +
          s"tokens=[${r.getLong(3)},${r.getLong(4)}], expected $nProbe x $want @ $L tokens"
      )
    }
    check(natural, nllNat, "natural")
    check(garble, nllGar, "garble")
    val tScore = (System.nanoTime() - t1) / 1e9
    require(nllGar > nllNat, s"lm-planted ORDER: garble $nllGar <= natural $nllNat")
    println(
      f"[spike] lm-planted: $nDocs docs, V=$V vocab, L=$L — model $mRows rows " +
        f"(train $tTrain%.1fs), $nProbe+$nProbe probes scored exactly (score $tScore%.1fs): " +
        f"natural ${nllNat / 1048576.0 / L}%.3f bits/tok vs garble ${nllGar / 1048576.0 / L}%.3f — gate PASS"
    )
    // ---- Kneser–Ney leg: the SAME model artifact scored by the KN
    // smoother against its own closed forms. Cyclic-corpus KN stats:
    // ctx(BOS) = nDocs, nv(BOS) = V; ring ctx = nv·c(L−1) with nv = 1;
    // every continuation count N1+(·w) = 2 (from BOS and the ring
    // predecessor); T = 2V types, tv = 3V; all counts are c or c(L−1),
    // so n1 = n2 = 0 and the discount takes the documented no-evidence
    // midpoint dq = 512 at the standard nDocs = 4V run (every count is c
    // or c(L−1), both > 2). Numerators here stay far below 2^63 — the
    // 128-bit lqDec range is pinned by LmSpec (values to 2^126) and the
    // DuckDB HUGEINT ladder probes; THIS leg proves the count/join/sum
    // integrity of the KN path at a model past the broadcast threshold.
    // dq from the closed-form type counts (general in c, so a smaller
    // smoke run still lands its exact integers):
    val n1t = (if (c == 1) V else 0L) + (if (c * (L - 1) == 1) V else 0L)
    val n2t = (if (c == 2) V else 0L) + (if (c * (L - 1) == 2) V else 0L)
    val dq =
      if (n1t + 2 * n2t == 0) 512L
      else math.min(math.max(n1t * 1024 / (n1t + 2 * n2t), 1L), 1023L)
    val knNat = (10L << 20) + log2q20(nDocs) + log2q20(3 * V) -
      log2q20((c * 1024 - dq) * 3 * V + dq * V * 3) +
      (L - 1) * ((10L << 20) + log2q20(c * (L - 1)) + log2q20(3 * V) -
        log2q20((c * (L - 1) * 1024 - dq) * 3 * V + dq * 3))
    val knGar = ((10L << 20) + log2q20(nDocs) + log2q20(3 * V) - log2q20(dq * V)) +
      (L - 1) * log2q20(3 * V)
    val t2 = System.nanoTime()
    def checkKn(probes: org.apache.spark.sql.DataFrame, want: Long, what: String): Unit = {
      val r = graft.operators.TextAnalysis
        .scoreKneserNey(probes, model, "doc_id", "text")
        .agg(count(lit(1)).as("n"), min("nll_q20").as("lo"), max("nll_q20").as("hi"))
        .collect()(0)
      require(
        r.getLong(0) == nProbe && r.getLong(1) == want && r.getLong(2) == want,
        s"lm-planted KN $what MISMATCH: n=${r.getLong(0)} " +
          s"nll=[${r.getLong(1)},${r.getLong(2)}], expected $nProbe x $want"
      )
    }
    checkKn(natural, knNat, "natural")
    checkKn(garble, knGar, "garble")
    require(knGar > knNat, s"lm-planted KN ORDER: garble $knGar <= natural $knNat")
    println(
      f"[spike] lm-planted KN leg: ${(System.nanoTime() - t2) / 1e9}%.1fs — " +
        f"natural ${knNat / 1048576.0 / L}%.3f bits/tok vs garble ${knGar / 1048576.0 / L}%.3f " +
        f"(midpoint discount exercised) — gate PASS"
    )
    // ---- Jelinek–Mercer + Witten–Bell legs (round 17): the SAME artifact
    // scored by the remaining classic smoothers against their own closed
    // forms — all statistics are the KN leg's (ctx(BOS) = nDocs with
    // nv = V, ring ctx = c(L−1) with nv = 1, every N1+(·w) = 2, tv = 3V).
    // JM at the default dyadic λ = 1/2: a natural BOS transition's
    // numerator collapses to λq·c·3V + x·(cw+1) = 3nDocs + 3nDocs =
    // 6·nDocs (c·V = nDocs), the ring's to 3·c(L−1)·(V+1); garble's BOS
    // num = nDocs cancels against the lq(nDocs) denominator factor
    // exactly on the integer grid. WB weighs by the fan-outs: the natural
    // BOS probability is exactly 1/V (num = 3(nDocs+V), den = (nDocs+V)·3V)
    // — per-FACTOR truncated logs, so the closed form keeps the three-term
    // shape rather than lq(V).
    val s1q = 1L << 20
    val jmNat = (s1q + log2q20(nDocs) + log2q20(3 * V) - log2q20(6 * nDocs)) +
      (L - 1) * (s1q + log2q20(c * (L - 1)) + log2q20(3 * V) -
        log2q20(3 * c * (L - 1) * (V + 1)))
    val jmGar = s1q + L * log2q20(3 * V)
    val wbNat = (log2q20(nDocs + V) + log2q20(3 * V) - log2q20(3 * (nDocs + V))) +
      (L - 1) * (log2q20(c * (L - 1) + 1) + log2q20(3 * V) -
        log2q20(3 * c * (L - 1) * V + 3))
    val wbGar = (log2q20(nDocs + V) + log2q20(3 * V) - log2q20(V)) +
      (L - 1) * log2q20(3 * V)
    def checkScorer(
        tag: String,
        score: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        probes: org.apache.spark.sql.DataFrame,
        want: Long,
        what: String
    ): Unit = {
      val r = score(probes)
        .agg(count(lit(1)).as("n"), min("nll_q20").as("lo"), max("nll_q20").as("hi"))
        .collect()(0)
      require(
        r.getLong(0) == nProbe && r.getLong(1) == want && r.getLong(2) == want,
        s"lm-planted $tag $what MISMATCH: n=${r.getLong(0)} " +
          s"nll=[${r.getLong(1)},${r.getLong(2)}], expected $nProbe x $want"
      )
    }
    val t3 = System.nanoTime()
    val jm = (d: org.apache.spark.sql.DataFrame) =>
      graft.operators.TextAnalysis.scoreJelinekMercer(d, model, "doc_id", "text")
    val wb = (d: org.apache.spark.sql.DataFrame) =>
      graft.operators.TextAnalysis.scoreWittenBell(d, model, "doc_id", "text")
    checkScorer("JM", jm, natural, jmNat, "natural")
    checkScorer("JM", jm, garble, jmGar, "garble")
    checkScorer("WB", wb, natural, wbNat, "natural")
    checkScorer("WB", wb, garble, wbGar, "garble")
    require(jmGar > jmNat, s"lm-planted JM ORDER: garble $jmGar <= natural $jmNat")
    require(wbGar > wbNat, s"lm-planted WB ORDER: garble $wbGar <= natural $wbNat")
    println(
      f"[spike] lm-planted JM/WB legs: ${(System.nanoTime() - t3) / 1e9}%.1fs — " +
        f"JM natural ${jmNat / 1048576.0 / L}%.3f vs garble ${jmGar / 1048576.0 / L}%.3f, " +
        f"WB natural ${wbNat / 1048576.0 / L}%.3f vs garble ${wbGar / 1048576.0 / L}%.3f bits/tok — gate PASS"
    )
  }

  /** `runMain graft.tools.Spike curate-incr-planted [nDocs]` — the COMPOSED
    * [[graft.operators.Pipeline.curateIncremental]] recipe end-to-end at
    * 100x+ docs against planted truth derived INDEPENDENTLY of any
    * engine/oracle shared convention (the incr-planted discipline): each
    * id-modulo class plants exactly one drop reason —
    *
    *   - `id % 10 == 1`: low quality score (quality gate),
    *   - `id % 10 == 2`: URL on the bad-domain list (domain gate),
    *   - `id % 10 == 3`: text an EXACT copy of an indexed history doc
    *     (incremental near-dup against the minhash index),
    *   - `id % 10 == 4`: embedding a x2-scaled copy of an indexed history
    *     vector, text unique (incremental SemDeDup against the sem index),
    *   - everything else: unique text/direction/domain, good quality.
    *
    * Expected survivors = exactly the 6 clean classes (0.6·n), both index
    * deltas carry one row per survivor, and a SECOND batch built from
    * survivor copies (half text-copies, half embedding-copies with fresh
    * text) against the UPDATED indexes (history ∪ delta) must yield ZERO
    * survivors — the loop-closure property the composed recipe exists
    * for. Random cross-class collisions are astronomically improbable by
    * construction (12-token texts over a 2^64 token space; 64-dim
    * directions concentrate at cos ~ N(0, 1/64)). */
  private def curateIncrPlanted(spark: org.apache.spark.sql.SparkSession, nDocs: Long): Unit = {
    import org.apache.spark.sql.functions._
    require(nDocs % 10 == 0, s"curate-incr-planted: nDocs must be a multiple of 10, got $nDocs")
    val h = nDocs / 10 // history size
    def textOf(key: org.apache.spark.sql.Column) =
      concat_ws(
        " ",
        transform(sequence(lit(0L), lit(11L)), j => concat(lit("t"), xxhash64(key, j).cast("string")))
      )
    def vecOf(key: Column) = plantedVec(key, 1048576L)
    // key domains: batch-unique text = id; history text = 1e9 + j;
    // batch-unique embedding = id; history embedding = 2e9 + j;
    // centroids = 3e9 + c; batch-2 fresh text/embedding = 5e9/4e9 + id
    val hist = spark
      .range(h)
      .select(
        (col("id") + nDocs).as("doc_id"),
        textOf(col("id") + 1000000000L).as("text"),
        vecOf(col("id") + 2000000000L).as("embedding")
      )
    val centroids = spark
      .range(512)
      .select(col("id").as("doc_id"), vecOf(col("id") + 3000000000L).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    centroids.count()
    val minhashIndex = graft.operators.Dedup
      .minhashSignatures(hist, "doc_id", "text", 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val semIdx = graft.operators.Similarity
      .semIndex(hist, "doc_id", "embedding", centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[spike] curate-incr-planted: history indexes ${minhashIndex.count()} sigs / ${semIdx.count()} cells")
    val cls = col("id") % 10
    // integer division: Column./ is DOUBLE division (53-bit mantissa)
    val histRef = expr("id DIV 10") % h
    val batch = spark
      .range(nDocs)
      .select(
        col("id").as("doc_id"),
        when(cls === 3, textOf(histRef + 1000000000L)).otherwise(textOf(col("id"))).as("text"),
        when(cls === 4, transform(vecOf(histRef + 2000000000L), x => x * lit(2.0f)))
          .otherwise(vecOf(col("id"))).as("embedding"),
        when(cls === 1, lit(0.1)).otherwise(lit(0.9)).as("q"),
        when(
          cls === 2,
          concat(lit("https://spam-"), (col("id") % 7).cast("string"), lit(".example.com/p"))
        ).otherwise(
          concat(lit("https://ok-"), (col("id") % 97).cast("string"), lit(".example.com/p"))
        ).as("url")
      )
      .repartition(spark.sparkContext.defaultParallelism)
    val badDomains = spark
      .range(7)
      .select(concat(lit("spam-"), col("id").cast("string"), lit(".example.com")).as("domain"))
    // minEstJaccard = 1.0 (8/8 agreement), the incr-planted convention:
    // the minhash value domain is ~100k (MinhashHashMod), so two SHORT
    // random texts share hashed shingle VALUES by birthday collision and
    // their hashed-set Jaccard is nonzero — at the default 4/8 cut that
    // confirmed ~1.4% false index hits on 12-token texts (observed, round
    // 16). Exact-copy planting makes 8/8 the truth-preserving cut; random
    // pairs reach it with P ≈ (hash-set J)^8 ≈ 0.
    val t0 = System.nanoTime()
    val cur = graft.operators.Pipeline.curateIncremental(
      batch, minhashIndex, semIdx, centroids, badDomains,
      "doc_id", "text", "url", "embedding",
      quality = col("q") >= 0.5,
      splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      minEstJaccard = 1.0
    )
    val surv = cur.survivors.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nSurv = surv.count()
    val t1 = (System.nanoTime() - t0) / 1e9
    val expected = nDocs * 6 / 10
    val wrongClass = surv.filter((col("doc_id") % 10).isin(1, 2, 3, 4)).count()
    val mhDelta = cur.minhashDelta.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val semDelta = cur.semDelta.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (nMh, nSem) = (mhDelta.count(), semDelta.count())
    println(
      f"[spike] curate-incr-planted: batch $nDocs + history $h — $nSurv survivors in $t1%.1fs " +
        f"(expected $expected, wrong-class $wrongClass), deltas mh=$nMh sem=$nSem"
    )
    require(
      nSurv == expected && wrongClass == 0,
      s"curate-incr-planted MISMATCH: survivors=$nSurv/$expected wrongClass=$wrongClass"
    )
    require(
      nMh == expected && nSem == expected,
      s"curate-incr-planted DELTA MISMATCH: mh=$nMh sem=$nSem expected=$expected"
    )
    // ---- round 2: survivor copies vs the UPDATED indexes must all drop ----
    val sample = surv.filter(col("doc_id") % 100 === 0) // survivor ids end in 0 ⇒ clean class
    val copyText = sample.select(
      (col("doc_id") + nDocs * 10).as("doc_id"),
      col("text"),
      vecOf(col("doc_id") + 4000000000L).as("embedding"),
      lit(0.9).as("q"),
      concat(lit("https://ok-0.example.com/p")).as("url")
    )
    val copyVec = sample.select(
      (col("doc_id") + nDocs * 20).as("doc_id"),
      textOf(col("doc_id") + 5000000000L).as("text"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"),
      lit(0.9).as("q"),
      concat(lit("https://ok-0.example.com/p")).as("url")
    )
    val batch2 = copyText.unionByName(copyVec)
    val n2 = batch2.count()
    val t2 = System.nanoTime()
    val cur2 = graft.operators.Pipeline.curateIncremental(
      batch2,
      minhashIndex.unionByName(mhDelta),
      semIdx.unionByName(semDelta),
      centroids, badDomains,
      "doc_id", "text", "url", "embedding",
      quality = col("q") >= 0.5,
      splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      minEstJaccard = 1.0
    )
    val nSurv2 = cur2.survivors.count()
    println(
      f"[spike] curate-incr-planted: round-2 $n2 survivor copies vs updated indexes — " +
        f"$nSurv2 survivors in ${(System.nanoTime() - t2) / 1e9}%.1fs (expected 0)"
    )
    require(nSurv2 == 0, s"curate-incr-planted LOOP-CLOSURE MISMATCH: $nSurv2 copies survived")
    println("[spike] curate-incr-planted: exact planted truth at scale, loop closes — gate PASS")
    Seq(surv, mhDelta, semDelta, minhashIndex, semIdx, centroids)
      .foreach(_.unpersist(blocking = false))
  }

  /** `runMain graft.tools.Spike mrl-planted [nVecs]` — matryoshkaIvfTopK
    * through the ACTUAL IVF path at 100x+ vectors against planted exact
    * duplicates (x129 oracles the brute funnel; this derives truth
    * independently of any engine/oracle shared convention). Same
    * deterministic corpus as sq8-planted: every 100th base vector gets a
    * x2-scaled companion — identical DIRECTION, so it must survive all
    * three stages the operator composes: (1) the prefix-dim cut (prefix
    * cosine of the pair is exactly 1.0 — the max — at any prefixDim),
    * (2) the cell routing over TRUNCATED vectors (same direction ⇒ same
    * argmax centroid for query and partner), (3) the full-dim exact
    * rerank (pair cosine 1.0 beats every unrelated vector). Requires:
    * every companion's rank-1 neighbor is its partner at sim 1.0. Also
    * times full-dim [[graft.operators.Similarity.ivfTopK]] on the same
    * corpus/centroids with shuffle-write telemetry. Measured honestly:
    * the IVF stage's cell exchange carries prefixDim/dim of the vector
    * bytes and the in-cell PAIR scoring (the N^1.5 term that dominates
    * at corpus scale) runs at prefixDim/dim of the flops, but the
    * full-dim rerank FETCH adds a shuffle linear in |sliver|·dim_full
    * (k-bounded per query, so linear in N) that the no-rerank full-dim
    * path doesn't pay — at toy dims the fetch can exceed the cell-join
    * savings in bytes; the flop savings scale with dim, the fetch
    * doesn't scale with pair volume. */
  private def mrlPlanted(spark: org.apache.spark.sql.SparkSession, nVecs: Long): Unit = {
    import org.apache.spark.sql.functions._
    val (base, df) = plantedCorpus(spark, nVecs, 1048576L)
    val n = df.count()
    // √N cells — the ivfTopK cell contract: a FIXED cell count makes the
    // in-cell pair volume N²/cells blow up quadratically with corpus size
    // (512 cells OOMed this gate at 2M vectors); √N keeps it N^1.5
    val nCells = math.max(512L, math.ceil(math.sqrt(n.toDouble)).toLong)
    val cen = base.filter(col("vec_id") < nCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cen.count()
    // codegen/JIT warmup outside the timed region (both variants)
    val warm = df.filter(col("vec_id") % 10 === 0)
    val warmCen = cen.limit(64)
    Seq(
      () => graft.operators.Similarity
        .matryoshkaIvfTopK(warm, warmCen, "vec_id", "embedding", 5, 16, 1, 10),
      () => graft.operators.Similarity.ivfTopK(warm, warmCen, "vec_id", "embedding", 5, 1)
    ).foreach(f => f().count())
    val mrl = graft.operators.Similarity
      .matryoshkaIvfTopK(df, cen, "vec_id", "embedding", k = 10, prefixDim = 16, nProbe = 1,
        rerank = 20)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t0 = System.nanoTime()
    val (nMrl, wMrl) = shuffleWriteBytes(spark)(mrl.count())
    val tMrl = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val (nFull, wFull) = shuffleWriteBytes(spark) {
      graft.operators.Similarity.ivfTopK(df, cen, "vec_id", "embedding", k = 10, nProbe = 1).count()
    }
    val tFull = (System.nanoTime() - t1) / 1e9
    // every planted companion must rank its partner #1 at sim 1.0 AFTER
    // the prefix cut + cell routing + full-dim rerank
    val nComp = n - nVecs
    val good = mrl
      .filter(col("qid") >= nVecs && col("rn") === 1)
      .filter(col("cid") === col("qid") - nVecs && col("sim") === 1.0)
      .count()
    println(
      f"[spike] mrl-planted: $n vecs, $nCells cells, prefix 16/64 — matryoshkaIvfTopK $tMrl%.1fs / " +
        f"${wMrl / 1e6}%.0f MB shuffled ($nMrl rows; bytes include the linear k-bounded " +
        f"full-dim rerank fetch) vs full-dim ivfTopK $tFull%.1fs / " +
        f"${wFull / 1e6}%.0f MB ($nFull rows); planted top-1 exact $good/$nComp"
    )
    require(good == nComp, s"mrl-planted MISMATCH: only $good of $nComp planted top-1 hits")
    println("[spike] mrl-planted: all planted duplicates recovered at rank 1 through the IVF path — gate PASS")
    mrl.unpersist(blocking = false)
    cen.unpersist(blocking = false)
    df.unpersist(blocking = false)
  }

  /** `runMain graft.tools.Spike pq-planted [nVecs]` — product quantization
    * (IVFADC) at 100x+ vectors against planted exact duplicates: the
    * [[sq8Planted]] corpus (every 100th vector gets a x2-scaled companion
    * — identical direction, cosine 1.0) through [[graft.operators
    * .Similarity.pqTopK]] with 256-centroid codebooks and an exact rerank
    * sliver. Unlike SQ8 (per-vector scale → identical codes for scaled
    * copies), PQ codes ARE magnitude-sensitive, so the companion's partner
    * must survive the ADC (approximate!) top-`rerank` cut before the exact
    * stage restores sim 1.0 — a real recall statement about the quantized
    * ranking, not a fixed point of the encoding.
    *
    * Also measures what PQ exists to shrink: shuffle bytes through the
    * cell join (m=8 ints + a norm vs 64 floats per candidate) and stored
    * index bytes (codes parquet vs float parquet), against float
    * [[graft.operators.Similarity.ivfTopK]] on the identical
    * corpus/centroids. */
  private def pqPlanted(spark: org.apache.spark.sql.SparkSession, nVecs: Long): Unit = {
    import org.apache.spark.sql.functions._
    val (base, df) = plantedCorpus(spark, nVecs, 1048576L)
    val n = df.count()
    val cen = base.filter(col("vec_id") < 512).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cen.count()
    val model =
      graft.operators.Similarity.pqFit(df, "vec_id", "embedding", Dim, m = 8, nCen = 256, iters = 0)
    val warm = df.filter(col("vec_id") % 10 === 0)
    val warmCen = cen.limit(64)
    Seq(
      () => graft.operators.Similarity.pqTopK(warm, warmCen, "vec_id", "embedding", 5, model, 1, 0),
      () => graft.operators.Similarity.ivfTopK(warm, warmCen, "vec_id", "embedding", 5, 1)
    ).foreach(f => f().count())
    val t0 = System.nanoTime()
    val (nAdc, wAdc) = shuffleWriteBytes(spark) {
      graft.operators.Similarity
        .pqTopK(df, cen, "vec_id", "embedding", k = 10, model, nProbe = 1, rerank = 0)
        .count()
    }
    val tAdc = (System.nanoTime() - t0) / 1e9
    val pqR = graft.operators.Similarity
      .pqTopK(df, cen, "vec_id", "embedding", k = 10, model, nProbe = 1, rerank = 50)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t1 = System.nanoTime()
    val (nPqR, wPqR) = shuffleWriteBytes(spark)(pqR.count())
    val tPqR = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val (nFloat, wFloat) = shuffleWriteBytes(spark) {
      graft.operators.Similarity.ivfTopK(df, cen, "vec_id", "embedding", k = 10, nProbe = 1).count()
    }
    val tFloat = (System.nanoTime() - t2) / 1e9
    // storage: PQ codes parquet vs float parquet — 8 B of codes + one norm
    // against 256 B of floats per vector
    val outF = java.nio.file.Files.createTempDirectory("pqf").toString
    val outQ = java.nio.file.Files.createTempDirectory("pqc").toString
    df.select("vec_id", "embedding").write.mode("overwrite").parquet(outF)
    graft.operators.Similarity.pqEncode(df, "vec_id", "embedding", model)
      .write.mode("overwrite").parquet(outQ)
    def dirBytes(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.isFile).map(_.length()).sum
    }
    val (bF, bQ) = (dirBytes(outF), dirBytes(outQ))
    // every planted companion must rank its partner #1 at sim 1.0 AFTER
    // surviving the approximate ADC top-50 cut
    val nComp = n - nVecs
    val good = pqR
      .filter(col("qid") >= nVecs && col("rn") === 1)
      .filter(col("cid") === col("qid") - nVecs && col("sim") === 1.0)
      .count()
    println(
      f"[spike] pq-planted: $n vecs, 512 cells, m=8 nCen=256 — ADC pqTopK $tAdc%.1fs / " +
        f"${wAdc / 1e6}%.0f MB shuffled ($nAdc rows); +rerank50 $tPqR%.1fs / ${wPqR / 1e6}%.0f MB " +
        f"($nPqR rows); float ivfTopK $tFloat%.1fs / ${wFloat / 1e6}%.0f MB ($nFloat rows)"
    )
    println(
      f"[spike] pq-planted: storage — float parquet ${bF / 1e6}%.1f MB vs PQ codes " +
        f"${bQ / 1e6}%.1f MB (${bF.toDouble / bQ}%.1fx smaller index)"
    )
    println(f"[spike] pq-planted: planted top-1 exact through ADC cut $good/$nComp")
    require(good == nComp, s"pq-planted MISMATCH: only $good of $nComp planted top-1 hits")
    println("[spike] pq-planted: all planted duplicates recovered at rank 1 — gate PASS")
    pqR.unpersist(blocking = false)
    cen.unpersist(blocking = false)
    df.unpersist(blocking = false)
  }

  /** PageRank scale gate: a 10M-edge synthetic multigraph (hub-skewed
    * in-degree, dangling sinks, one planted isolated 2-cycle) checked
    * against an exact DRIVER-SIDE primitive-array reference computed from
    * the same deterministic edge formulas — per-node agreement (measured
    * 3.7e-17 max divergence at 1M nodes), mass conservation, the planted
    * cycle's symmetry (the pair exchange full rank each round, so their
    * ranks are identical at every round; note an "isolated" cycle does
    * NOT stay at 1/N in a graph WITH dangling nodes — it collects dm/N
    * every round and compounds it, which the first run of this gate
    * demonstrated), and hub dominance among the organic nodes. The
    * quantity that would degrade at scale is the per-round shuffle (edges
    * join ranks on src, contributions aggregate on dst); the gate pins
    * wall for the full 4-round run. */
  private def pagerankPlanted(spark: org.apache.spark.sql.SparkSession, nNodes: Long, nEdges: Long): Unit = {
    import org.apache.spark.sql.functions._
    val srcSpace = nNodes * 9 / 10 // [srcSpace, nNodes): never a src -> dangling if reached
    val hubSpace = nNodes / 100 // half the edges land here: high in-degree hubs
    val t0 = System.nanoTime()
    val synth = spark
      .range(nEdges)
      .select(
        ((col("id") * 1103515245L + 12345L) % srcSpace).as("src"),
        when(col("id") % 2 === 0, (col("id") * 69069L + 1L) % nNodes)
          .otherwise((col("id") * 48271L) % hubSpace)
          .as("dst")
      )
    // planted isolated 2-cycle on ids nNodes, nNodes+1
    val pair = spark
      .range(1)
      .select(lit(nNodes).as("src"), lit(nNodes + 1).as("dst"))
      .union(spark.range(1).select(lit(nNodes + 1).as("src"), lit(nNodes).as("dst")))
    val ranks = graft.operators.Graph
      .pageRank(synth.union(pair), "src", "dst", iters = 4, damping = 0.85)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nOut = ranks.count()
    val wall = (System.nanoTime() - t0) / 1e9
    // driver-side exact reference from the same formulas
    val present = new Array[Boolean](nNodes.toInt + 2)
    val deg = new Array[Int](nNodes.toInt + 2)
    val srcs = new Array[Int](nEdges.toInt + 2)
    val dsts = new Array[Int](nEdges.toInt + 2)
    var i = 0L
    while (i < nEdges) {
      val s = ((i * 1103515245L + 12345L) % srcSpace).toInt
      val d0 = if (i % 2 == 0) ((i * 69069L + 1L) % nNodes).toInt else ((i * 48271L) % hubSpace).toInt
      srcs(i.toInt) = s; dsts(i.toInt) = d0
      present(s) = true; present(d0) = true; deg(s) += 1
      i += 1
    }
    srcs(nEdges.toInt) = nNodes.toInt; dsts(nEdges.toInt) = nNodes.toInt + 1
    srcs(nEdges.toInt + 1) = nNodes.toInt + 1; dsts(nEdges.toInt + 1) = nNodes.toInt
    present(nNodes.toInt) = true; present(nNodes.toInt + 1) = true
    deg(nNodes.toInt) += 1; deg(nNodes.toInt + 1) += 1
    val nRef = present.count(identity).toDouble
    var r = Array.tabulate(present.length)(v => if (present(v)) 1.0 / nRef else 0.0)
    for (_ <- 1 to 4) {
      val contrib = new Array[Double](present.length)
      var j = 0
      while (j < nEdges + 2) { contrib(dsts(j)) += r(srcs(j)) / deg(srcs(j)); j += 1 }
      var dm = 0.0
      var v = 0
      while (v < present.length) { if (present(v) && deg(v) == 0) dm += r(v); v += 1 }
      r = Array.tabulate(present.length)(v0 =>
        if (present(v0)) (1.0 - 0.85) / nRef + 0.85 * (contrib(v0) + dm / nRef) else 0.0
      )
    }
    val got = ranks.collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    require(nOut == nRef.toLong, s"node count: spark $nOut vs ref ${nRef.toLong}")
    val maxDiff = got.iterator.map { case (v, rv) => math.abs(rv - r(v.toInt)) }.max
    val mass = got.valuesIterator.sum
    val cyc = got(nNodes)
    val hubTop = got.iterator.filter(_._1 < nNodes).maxBy(_._2)._1
    println(
      f"[spike] pagerank-planted: $nEdges edges / $nOut nodes, 4 rounds in $wall%.1fs — " +
        f"maxDiff=$maxDiff%.2e mass=$mass%.9f cycle=${cyc * nRef}%.9f/N top=$hubTop"
    )
    require(maxDiff < 1e-9, s"per-node divergence vs reference: $maxDiff")
    require(math.abs(mass - 1.0) < 1e-6, s"mass not conserved: $mass")
    require(math.abs(cyc - got(nNodes + 1)) < 1e-15, "planted cycle pair lost rank symmetry")
    require(hubTop < hubSpace, s"max-rank organic node $hubTop is not a hub")
    ranks.unpersist()
  }

  /** `runMain graft.tools.Spike media-planted [nDocs] [maxHamming]` — the
    * x81/x83/x84 media near-dup trio at 100x+ payloads against a planted
    * oracle with BOUNDED cluster size. The sf-corpus oracle
    * (`doc_id % 40`) is quadratic per pattern and cannot scale; here the
    * pattern key is `doc_id % (n/40)`, so every pattern has EXACTLY 40
    * members and the expected pair set (same residue, a < b) stays linear
    * in n — generated distributively by a 40-member-bucket self-join and
    * verified against the engine output by anti-joins in both directions
    * (the x41-planted pattern; no DuckDB, no collect). Each modality must
    * recover the planted set EXACTLY: a miss means the decode → fingerprint
    * path degraded at scale, an extra means cross-pattern fingerprints
    * collided — at the default maxHamming=8 the odds of ANY cross-pattern
    * collision across C(n/40, 2) pattern pairs are ~1e-3 at n=1e5, so a
    * nonzero count is a bug, not noise.
    *
    * maxHamming=8 is MEASURED, not hoped (ROUND13.md's 100k-doc histogram): same-
    * pattern image pHash distances are even (median-split parity) and
    * fall 1.82M/132k/1.1k at 0/2/4 — a ~100x-per-step tail, so 8 leaves
    * two decades of margin; audio fingerprints are EXACTLY 0 (energy
    * RATIOS are amplitude/tail-invariant by construction). The sf-corpus
    * queries keep maxHamming=3; the gate's larger budget tests the same
    * blocking exactness (pigeonhole recall holds at any budget). Result
    * at 100k payloads (200x the sf corpus): image 16.4s, audio 21.1s,
    * video 49.3s, all 1,950,000 pairs exact, 0 miss / 0 false. */
  private def mediaPlanted(spark: org.apache.spark.sql.SparkSession, nDocs: Long, maxHamming: Int): Unit = {
    import org.apache.spark.sql.functions._
    val n = math.max(40L, nDocs - nDocs % 40)
    val p = n / 40
    val docs = spark
      .range(n)
      .select(col("id").as("doc_id"), pmod(col("id"), lit(p)).as("pat"))
      .repartition(spark.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count()
    val m = docs.select(col("pat"), col("doc_id"))
    val expected = m
      .join(m.select(col("pat"), col("doc_id").as("d2")), "pat")
      .filter(col("doc_id") < col("d2"))
      .select(col("doc_id").as("d1"), col("d2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nExpected = expected.count()
    def gate(name: String, found: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val f = found.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nFound = f.count()
      val ts = (System.nanoTime() - t0) / 1e9
      val missing = expected.join(f, Seq("d1", "d2"), "left_anti").count()
      val extra = f.join(expected, Seq("d1", "d2"), "left_anti").count()
      println(
        f"[spike] media-planted/$name: $n docs (${p} patterns x 40), $nFound pairs in $ts%.1fs " +
          f"(expected $nExpected) — missing=$missing extra=$extra"
      )
      require(
        missing == 0 && extra == 0 && nFound == nExpected,
        s"media-planted/$name MISMATCH: missing=$missing extra=$extra found=$nFound/$nExpected"
      )
      println(s"[spike] media-planted/$name: EXACT planted-pair match at scale — gate PASS")
      f.unpersist(blocking = false)
    }
    gate(
      "image",
      graft.operators.Multimodal
        .pHashDupes(
          graft.operators.Multimodal.withSynthJpegPayload(docs, "doc_id", "pat"),
          "doc_id",
          maxHamming
        )
        .select("d1", "d2")
    )
    gate(
      "audio",
      graft.operators.Multimodal
        .audioFpDupes(
          graft.operators.Multimodal.withSynthWavVariantPayload(docs, "doc_id", "pat"),
          "doc_id",
          maxHamming
        )
        .select("d1", "d2")
    )
    gate(
      "video",
      graft.operators.Multimodal
        .videoDupes(
          graft.operators.Multimodal.withSynthAviVariantPayload(docs, "doc_id", "pat"),
          "doc_id",
          every = 2,
          maxHamming = maxHamming,
          minMatches = 2
        )
        .select("d1", "d2")
    )
    expected.unpersist(blocking = false)
    docs.unpersist(blocking = false)
  }

  /** One scale-gate leg. `driverMem` is the heap `scale_gate.sh` pins for
    * it (`-` = the build's default); `defaultArgs` are its gate sizes, which
    * fill in any argument the command line leaves out. */
  final case class Leg(
      name: String,
      driverMem: String,
      defaultArgs: Seq[String],
      run: (SparkSession, Seq[String]) => Unit
  ) {
    /** The `--list` line: `name driverMem args…`. */
    def line: String = (Seq(name, driverMem) ++ defaultArgs).mkString(" ")
  }

  /** A leg whose one argument is its size. */
  private def sized(name: String, driverMem: String, n: Long)(run: (SparkSession, Long) => Unit): Leg =
    Leg(name, driverMem, Seq(n.toString), (spark, a) => run(spark, a.head.toLong))

  /** Every scale-gate leg, in gate order, at its gate size. */
  val legs: Seq[Leg] = Seq(
    Leg("zarr-sf10", "-", Nil, (spark, _) => zarrSf10(spark)),
    Leg("zarr-zonemap", "-", Nil, (spark, _) => zarrZoneMap(spark)),
    Leg("zarr-hier", "-", Nil, (spark, _) => zarrHier(spark)),
    Leg("zarr-deferred-str", "-", Nil,
      (spark, a) => zarrDeferredStr(spark, a.headOption.fold(10000000L)(_.toLong))),
    sized("x41-planted", "-", 500000L)(x41Planted),
    Leg("incr-planted", "-", Seq("2000000", "200000"),
      (spark, a) => incrPlanted(spark, a(0).toLong, a(1).toLong)),
    Leg("pagerank-planted", "-", Nil,
      (spark, a) => pagerankPlanted(spark, a.lift(0).fold(2000000L)(_.toLong), a.lift(1).fold(10000000L)(_.toLong))),
    Leg("media-planted", "-", Seq("100000"),
      (spark, a) => mediaPlanted(spark, a.head.toLong, a.lift(1).fold(8)(_.toInt))),
    sized("x60-planted", "-", 1000000L)(x60Planted),
    sized("sq8-planted", "-", 200000L)(sq8Planted),
    sized("pq-planted", "-", 200000L)(pqPlanted),
    sized("mrl-planted", "24g", 1000000L)(mrlPlanted),
    // 16g pin, adjudicated r18 (ROUND18.md): NOT a code regression — r16's
    // code OOMs at 8g in the same stage 110. Measured at OOM (GC log):
    // 6.4-7.0 GiB live of 8 GiB with ~730 humongous regions (~2.9 GiB of
    // columnar cache batches for the two persisted indexes + survivors,
    // plus 64 MiB unsafe shuffle pages), Full-GC storm, final allocations
    // dying in 32 concurrent tasks' spill read-ahead buffers. Neither
    // GCLockerRetryAllocationCount=64, halved threads (16), nor 16 MiB G1
    // regions rescues 8g — the live set is real. A cluster gives each
    // executor its own heap; local-harness constraint, pin inherent.
    sized("curate-incr-planted", "16g", 2000000L)(curateIncrPlanted),
    sized("sgd-planted", "-", 1000000L)(sgdPlanted),
    sized("sparse-dim-scale", "24g", 500000L)(sparseDimScale),
    sized("lm-planted", "-", 1000000L)(lmPlanted),
    sized("curriculum-planted", "-", 20000000L)(curriculumPlanted),
    sized("epoch-planted", "-", 8000000L)(epochPlanted),
    sized("overlap-planted", "-", 2000000L)(overlapPlanted),
    sized("unimax-planted", "-", 2000000L)(unimaxPlanted),
    sized("bitext-planted", "-", 200000L)(bitextPlanted),
    sized("keyword-scale", "-", 10000L)((spark, n) => keywordScale(spark, n.toInt)),
    Leg("cc-telemetry", "-", Nil, (spark, _) => ccTelemetry(spark))
  )

  def main(args: Array[String]): Unit = run(args.toList, () => Sessions.local())

  /** [[main]] with the session factory as a parameter; the command line is
    * resolved before it is called, so a bad leg name starts no session. */
  private[tools] def run(args: List[String], session: () => SparkSession): Unit = {
    def withSession(body: SparkSession => Unit): Unit = {
      val spark = session()
      try body(spark)
      finally spark.stop()
    }
    args match {
      case List("--list") => legs.foreach(l => println(l.line))
      case Nil =>
        withSession { spark =>
          val df = graft.SparkEntry.entry(spark)
          df.show(10, truncate = false)
          println("entry rows=" + df.count())
        }
      case "explain" :: names =>
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
        withSession { spark =>
          names.foreach { n =>
            println(s"===== $n =====")
            graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
          }
        }
      case name :: given =>
        val leg = legs.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(
            s"unknown Spike leg '$name'; legs: ${legs.map(_.name).mkString(" ")} (or --list, explain)"
          )
        )
        withSession(leg.run(_, given ++ leg.defaultArgs.drop(given.length)))
    }
  }
}
