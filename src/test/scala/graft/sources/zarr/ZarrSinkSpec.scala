package graft.sources.zarr

import java.nio.file.Files

import graft.SparkTester
import graft.api.{ZarrDataReader, ZarrScan}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.{GraftBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Sink-specific contracts beyond the round-trips in [[ZarrSpec]]:
  * single-pass coordinate collection (job count invariant in rank),
  * the high-cardinality guard, and unsigned write targets. */
class ZarrSinkSpec extends AnyFunSuite with SparkTester {

  /** What the body ran: its Spark job count, the shuffle bytes and
    * records its tasks wrote, and the physical plans of the SQL executions
    * it started (initial and every adaptive re-plan). The bus is drained
    * before and after, so nothing is missed and nothing earlier leaks in. */
  private final case class Observed(jobs: Int, shuffleBytes: Long, shuffleRecords: Long, plans: Seq[String])

  private def observe(body: => Unit): Observed = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong(0L)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit =
        Option(taskEnd.taskMetrics).foreach { m =>
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart => plans.add(e.physicalPlanDescription)
        case e: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(e.physicalPlanDescription)
        case _ => ()
      }
    }
    GraftBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftBridge.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    Observed(jobs.get(), shuffleBytes.get(), shuffleRecords.get(), plans.asScala.toSeq)
  }

  private def countJobs(body: => Unit): Int = observe(body).jobs

  test("sink coordinate collection is single-pass: job count does not grow with rank") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarrsinkjobs").toString
    val df2 = (0 until 24).map(i => (i % 4, i / 4, i.toDouble)).toDF("a", "b", "value")
    val df4 = (0 until 24).map(i => (i % 2, (i / 2) % 2, (i / 4) % 2, i / 8, i.toDouble))
      .toDF("a", "b", "c", "d", "value")
    // warm both plans once so codegen/broadcast-warmup jobs don't skew the count
    df2.write.format("zarr").option("path", s"$base/warm2").option("array", "v").mode("append").save()
    df4.write.format("zarr").option("path", s"$base/warm4").option("array", "v").mode("append").save()
    val jobs2 = countJobs {
      df2.write.format("zarr").option("path", s"$base/s2").option("array", "v").mode("append").save()
    }
    val jobs4 = countJobs {
      df4.write.format("zarr").option("path", s"$base/s4").option("array", "v").mode("append").save()
    }
    // the old shape was D+1 jobs (one distinct().collect() per dim); the
    // single-pass shape is rank-invariant
    assert(jobs2 == jobs4, s"sink job count grew with rank: $jobs2 (2 dims) vs $jobs4 (4 dims)")
    // and the written stores are still correct
    val back = new ZarrDataReader(spark, s"$base/s4").readArray("v")
    assert(back.count() == 24)
    assert(back.agg(sum("value")).head().getDouble(0) == (0 until 24).sum.toDouble)
  }

  test("long axis past max_coord_values routes through distributed sort-based ordinals") {
    import spark.implicits._
    val dst = Files.createTempDirectory("zarrsinklong").toString + "/store"
    // 4096 distinct t (bound 16 -> long-axis path: shuffle-join ordinals,
    // executor-written multi-chunk coordinate array) x small j dim (stays
    // on the broadcast path) — one write mixes both
    val df = (0 until 4096).map(i => (i, i % 4, (i * 7 % 1000).toDouble)).toDF("t", "j", "value")
    df.write.format("zarr")
      .option("path", dst).option("array", "v")
      .option("max_coord_values", "16").option("coord_chunk_values", "1000")
      .option("chunks", "512,2").option("fill_value", "-1")
      .mode("append").save()
    // the t coordinate array on store is multi-chunk (4096 cells / 1000)
    val tChunks = java.nio.file.Files.list(java.nio.file.Paths.get(dst, "t")).iterator()
    var chunkFiles = 0
    while (tChunks.hasNext) { if (!tChunks.next().getFileName.toString.startsWith(".")) chunkFiles += 1 }
    assert(chunkFiles == 5, s"expected 5 coordinate chunks, found $chunkFiles")
    val back = new ZarrDataReader(spark, dst).readArray("v")
    assert(back.count() == 4096L * 4) // full grid; unwritten cells fill
    // written cells round-trip exactly; fill everywhere else
    val written = back.filter(col("j") === col("t") % 4)
    assert(written.count() == 4096)
    assert(
      written.agg(sum("value")).head().getDouble(0) ==
        (0 until 4096).map(i => (i * 7 % 1000).toDouble).sum
    )
    assert(back.filter(col("j") =!= col("t") % 4 && col("value") =!= -1.0).count() == 0)
    // the long axis reads back sorted and total
    val ts = back.select("t").distinct().agg(count(lit(1)), min("t"), max("t")).head()
    assert(ts.getLong(0) == 4096 && ts.getInt(1) == 0 && ts.getInt(2) == 4095)
    // v3 long axis too (c/-keyed coordinate chunks, zstd pipeline)
    val dst3 = Files.createTempDirectory("zarrsinklong3").toString + "/store"
    (0 until 300).map(i => (i * 3L, i.toDouble)).toDF("t", "value")
      .write.format("zarr")
      .option("path", dst3).option("array", "v").option("zarr_format", "3")
      .option("max_coord_values", "16").option("coord_chunk_values", "128")
      .option("chunks", "64").option("compressor", "zstd")
      .mode("append").save()
    val b3 = new ZarrDataReader(spark, dst3).readArray("v")
    assert(b3.count() == 300)
    assert(b3.orderBy("t").collect().map(_.getLong(0)).toSeq == (0 until 300).map(_ * 3L))
  }

  test("long STRING axis past max_coord_values: distributed vlen coordinate chunks (v2 + v3)") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarrsinklongstr").toString
    // 600 distinct labels (bound 16 -> long-axis path: shuffle-join
    // ordinals, executor-written multi-chunk vlen coordinate array);
    // zero-padded so binary UTF-8 sort order matches generation order
    val df = (0 until 600).map(i => (f"doc$i%04d", (i % 7).toDouble)).toDF("doc", "value")
    for ((fmt, dst) <- Seq("2" -> s"$base/v2", "3" -> s"$base/v3")) {
      df.write.format("zarr")
        .option("path", dst).option("array", "v").option("zarr_format", fmt)
        .option("max_coord_values", "16").option("coord_chunk_values", "128")
        .option("chunks", "100").option("compressor", "zstd")
        .mode("append").save()
      // the doc coordinate array on store is multi-chunk (600 / 128 -> 5)
      val coordDir = java.nio.file.Paths.get(dst, "doc")
      val chunkRoot = if (fmt == "3") coordDir.resolve("c") else coordDir
      val files = java.nio.file.Files.walk(chunkRoot)
        .filter(java.nio.file.Files.isRegularFile(_))
        .filter(p => !p.getFileName.toString.startsWith(".") && p.getFileName.toString != "zarr.json")
        .count()
      assert(files == 5, s"$fmt: expected 5 coordinate chunks, found $files")
      val back = new ZarrDataReader(spark, dst).readArray("v")
      assert(back.schema("doc").dataType == StringType, fmt)
      assert(back.count() == 600, fmt)
      val rows = back.orderBy("doc").collect()
      (0 until 600).foreach { i =>
        assert(rows(i).getString(0) == f"doc$i%04d" && rows(i).getDouble(1) == (i % 7).toDouble, s"$fmt i=$i")
      }
      // string-equality pushdown is consumed by the scan on the written store
      val eq = back.filter(col("doc") === "doc0421")
      assert(eq.count() == 1, fmt)
    }
  }

  test("sink-written long string axis defers on read; string pushdown absorbed by the scan") {
    import spark.implicits._
    val dst = Files.createTempDirectory("zarrsinkdefstr").toString + "/store"
    // the full symmetric loop: distributed-ordinal string WRITE (5 vlen
    // coordinate chunks) -> DEFERRED string read (threshold 100 < 600)
    // -> lexicographic chunk-stats pruning of the pushed predicate
    val df = (0 until 600).map(i => (f"doc$i%04d", (i % 7).toDouble)).toDF("doc", "value")
    df.write.format("zarr")
      .option("path", dst).option("array", "v")
      .option("max_coord_values", "16").option("coord_chunk_values", "128")
      .option("chunks", "100").option("compressor", "zstd")
      .mode("append").save()
    val deferred = spark.read.format("zarr")
      .option("path", dst).option("array", "v")
      .option("coord.deferred.threshold", "100")
      .load()
    assert(deferred.schema("doc").dataType == StringType)
    // equality and membership predicates are consumed by the source
    val eq = deferred.filter(col("doc") === "doc0421")
    assert(!eq.queryExecution.optimizedPlan.toString().contains("Filter"))
    val eqRows = eq.collect()
    assert(eqRows.length == 1 && eqRows(0).getDouble(1) == (421 % 7).toDouble)
    val inq = deferred.filter(col("doc").isin("doc0001", "doc0421", "nope"))
    assert(!inq.queryExecution.optimizedPlan.toString().contains("Filter"))
    assert(inq.count() == 2)
    // lexicographic RANGE predicates prune via the string chunk stats too
    val rng = deferred.filter(col("doc") >= "doc0100" && col("doc") < "doc0110")
    assert(!rng.queryExecution.optimizedPlan.toString().contains("Filter"))
    val rngRows = rng.orderBy("doc").collect()
    assert(rngRows.length == 10 && rngRows.head.getString(0) == "doc0100" && rngRows.last.getString(0) == "doc0109")
    // and on the EAGER read of the same axis
    val eagerLoad = spark.read.format("zarr").option("path", dst).option("array", "v").load()
    val eagerRng = eagerLoad.filter(col("doc") > "doc0595")
    assert(!eagerRng.queryExecution.optimizedPlan.toString().contains("Filter"))
    assert(eagerRng.count() == 4)
    // startsWith is stats-prunable (monotone truncation): deferred + eager
    val pfx = deferred.filter(col("doc").startsWith("doc013"))
    assert(!pfx.queryExecution.optimizedPlan.toString().contains("Filter"))
    assert(pfx.count() == 10)
    val pfxE = eagerLoad.filter(col("doc").startsWith("doc02"))
    assert(!pfxE.queryExecution.optimizedPlan.toString().contains("Filter"))
    assert(pfxE.count() == 100)
    // contains/endsWith refine EAGER axes per-cell; on DEFERRED they stay
    // residual (full-axis decode would be the scale anti-pattern)
    val ct = eagerLoad.filter(col("doc").contains("c042"))
    assert(!ct.queryExecution.optimizedPlan.toString().contains("Filter"))
    assert(ct.count() == 10)
    val ew = eagerLoad.filter(col("doc").endsWith("99"))
    assert(!ew.queryExecution.optimizedPlan.toString().contains("Filter"))
    assert(ew.count() == 6)
    val ctDef = deferred.filter(col("doc").contains("c042"))
    assert(ctDef.queryExecution.optimizedPlan.toString().contains("Filter")) // residual by design
    assert(ctDef.count() == 10)
    // OR over ONE dim absorbs (union of prunings); cross-dim OR stays residual
    val orq = deferred.filter(col("doc") < "doc0003" || col("doc") >= "doc0597")
    assert(!orq.queryExecution.optimizedPlan.toString().contains("Filter"))
    assert(orq.count() == 6)
    val orMixed = deferred.filter(col("doc") === "doc0001" || col("value") > 100.0)
    assert(orMixed.queryExecution.optimizedPlan.toString().contains("Filter"))
    assert(orMixed.count() == 1) // no value exceeds 6.0 in this store
    // deferred equals eager, cell for cell
    val eager = spark.read.format("zarr").option("path", dst).option("array", "v").load()
    assert(
      deferred.orderBy("doc").collect().toSeq == eager.orderBy("doc").collect().toSeq
    )
  }

  test("sink null dimension values still rejected under single-pass collection") {
    val dst = Files.createTempDirectory("zarrsinknull").toString + "/store"
    val rows = java.util.Arrays.asList(Row(1, 1.0), Row(null, 2.0))
    val df = spark.createDataFrame(
      rows,
      StructType(Seq(StructField("t", IntegerType, nullable = true), StructField("value", DoubleType)))
    )
    val e = intercept[Exception] {
      df.write.format("zarr").option("path", dst).option("array", "v").mode("append").save()
    }
    val msg = Option(e.getMessage).getOrElse("") + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("contains NULL"), s"unexpected error: $msg")
  }

  test("unsigned write targets: u1/u2/u4 round-trip values past the signed max") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarrsinku").toString
    // (dtype option, spark input type builder, values incl. > signed-max, read-back extractor)
    val u1 = (0 until 4).map(i => (i, Seq(0, 1, 250, 255)(i).toShort)).toDF("i", "value")
    val u2 = (0 until 4).map(i => (i, Seq(0, 7, 60000, 65535)(i))).toDF("i", "value")
    val u4 = (0 until 4).map(i => (i, Seq(0L, 7L, 4000000000L, 4294967295L)(i))).toDF("i", "value")
    for ((df, dtype, name) <- Seq((u1, "|u1", "a"), (u2, "<u2", "b"), (u4, "<u4", "c"))) {
      df.write.format("zarr")
        .option("path", s"$base/store").option("array", name).option("dtype", dtype)
        .option("compressor", "zlib").mode("append").save()
      val info = ZarrScan.getZarrDataInfo(s"$base/store")
      assert(info(name).dtype == dtype, s"$name dtype")
      val back = new ZarrDataReader(spark, s"$base/store").readArray(name)
        .orderBy("i").select("value").collect().map(_.get(0)).toSeq
      val expect = df.orderBy("i").select("value").collect().map(_.get(0)).toSeq
      // read path widens unsigned to the next signed type, values preserved
      assert(back.map(_.toString.toLong) == expect.map(_.toString.toLong), s"$name values")
    }
  }

  test("unsigned write targets: out-of-range values and fills fail loudly, never mask") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarrsinkur").toString
    def msgOf(e: Throwable): String = {
      var t: Throwable = e; val sb = new StringBuilder
      while (t != null) { sb.append(Option(t.getMessage).getOrElse("")); t = t.getCause }
      sb.toString
    }
    // negative into u1
    val neg = intercept[Exception] {
      Seq((0, -1), (1, 5)).toDF("i", "value").write.format("zarr")
        .option("path", s"$base/s1").option("array", "v").option("dtype", "|u1")
        .mode("append").save()
    }
    assert(msgOf(neg).contains("out of range"), msgOf(neg))
    // past the u2 max
    val big = intercept[Exception] {
      Seq((0, 70000), (1, 5)).toDF("i", "value").write.format("zarr")
        .option("path", s"$base/s2").option("array", "v").option("dtype", "<u2")
        .mode("append").save()
    }
    assert(msgOf(big).contains("out of range"), msgOf(big))
    // double value out of u1 range through the floating put path
    val fneg = intercept[Exception] {
      Seq((0, -3.5), (1, 5.0)).toDF("i", "value").write.format("zarr")
        .option("path", s"$base/s3").option("array", "v").option("dtype", "|u1")
        .mode("append").save()
    }
    assert(msgOf(fneg).contains("out of range"), msgOf(fneg))
    // fill_value out of range fails at plan time, driver-side
    val fill = intercept[Exception] {
      Seq((0, 5)).toDF("i", "value").write.format("zarr")
        .option("path", s"$base/s4").option("array", "v").option("dtype", "|u1")
        .option("fill_value", "-1").mode("append").save()
    }
    assert(msgOf(fill).contains("fill_value"), msgOf(fill))
  }

  test("zarr_format=3 sink writes a real v3 store the scan round-trips") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarrsinkv3").toString
    val df = (0 until 60).map(i => (i % 6, i / 6, (i * 7 % 23).toDouble * 0.5)).toDF("t", "x", "value")
    df.write.format("zarr")
      .option("path", s"$base/v3").option("array", "v").option("zarr_format", "3")
      .option("compressor", "zstd").option("checksum", "true").option("chunks", "4,5")
      .mode("append").save()
    // on-store layout is v3: zarr.json docs + c/-prefixed keys, no .zarray
    assert(Files.exists(java.nio.file.Paths.get(base, "v3", "v", "zarr.json")))
    assert(Files.exists(java.nio.file.Paths.get(base, "v3", "v", "c", "0", "0")))
    assert(!Files.exists(java.nio.file.Paths.get(base, "v3", "v", ".zarray")))
    val info = ZarrScan.getZarrDataInfo(s"$base/v3")
    assert(info("v").v3 && info("v").chunks == Vector(4, 5))
    // identical cells to the same frame written as v2
    df.write.format("zarr").option("path", s"$base/v2").option("array", "v").mode("append").save()
    val k = Seq(col("t"), col("x"))
    val got3 = new ZarrDataReader(spark, s"$base/v3").readArray("v").orderBy(k: _*).collect().toSeq
    val got2 = new ZarrDataReader(spark, s"$base/v2").readArray("v").orderBy(k: _*).collect().toSeq
    assert(got3 == got2)
    // v3 has no core datetime64: timestamp values and dims fail loudly
    val e = intercept[Exception] {
      Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0)).toDF("ts", "value")
        .write.format("zarr").option("path", s"$base/bad").option("array", "v")
        .option("zarr_format", "3").mode("append").save()
    }
    def msgOf(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(Option(c.getMessage).getOrElse("")); c = c.getCause }
      sb.toString
    }
    assert(msgOf(e).contains("datetime64"), msgOf(e))
  }

  test("zarr_format=3 sink: unsigned dtype + sparse fill round-trip (uint16, fill 7)") {
    import spark.implicits._
    val dst = Files.createTempDirectory("zarrsinkv3u").toString + "/store"
    Seq((0, 60000), (3, 12345)).toDF("i", "value")
      .write.format("zarr")
      .option("path", dst).option("array", "v").option("zarr_format", "3")
      .option("dtype", "<u2").option("fill_value", "7").option("chunks", "2")
      .mode("append").save()
    val back = new ZarrDataReader(spark, dst).readArray("v").orderBy("i")
      .select("value").collect().map(_.getInt(0)).toSeq
    assert(back == Seq(60000, 12345)) // only 2 coords exist -> 2 cells
    val info = ZarrScan.getZarrDataInfo(dst)
    assert(info("v").dtype == "<u2" && info("v").v3)
  }

  test("sharded v3 sink (shards option) writes one object per shard; scan round-trips") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarrsinkshard").toString
    // 12 x 10 grid, inner chunks 3x5, shards 6x10 -> 2x2 inner per shard,
    // 2x1 shard objects; sparse: skip one cell to exercise fill
    val df = (0 until 120).filter(_ != 17)
      .map(i => (i % 12, i / 12, (i * 3 % 31).toDouble)).toDF("r", "c", "value")
    df.write.format("zarr")
      .option("path", s"$base/s").option("array", "v").option("zarr_format", "3")
      .option("chunks", "3,5").option("shards", "6,10")
      .option("compressor", "zstd").option("fill_value", "-5")
      .mode("append").save()
    // on-store: exactly 2 shard objects (c/0/0, c/1/0), no per-chunk files
    val cDir = java.nio.file.Paths.get(base, "s", "v", "c")
    val files = java.nio.file.Files.walk(cDir)
      .filter(java.nio.file.Files.isRegularFile(_))
      .filter(p => !p.getFileName.toString.startsWith("."))
      .count()
    assert(files == 2, s"expected 2 shard objects, found $files")
    // reader sees inner chunks as the planning unit
    val info = ZarrScan.getZarrDataInfo(s"$base/s")
    assert(info("v").v3 && info("v").chunks == Vector(3, 5))
    // cell parity with the same frame written unsharded
    df.write.format("zarr")
      .option("path", s"$base/p").option("array", "v").option("zarr_format", "3")
      .option("chunks", "3,5").option("compressor", "zstd").option("fill_value", "-5")
      .mode("append").save()
    val k = Seq(col("r"), col("c"))
    val got = new ZarrDataReader(spark, s"$base/s").readArray("v").orderBy(k: _*).collect().toSeq
    val ref = new ZarrDataReader(spark, s"$base/p").readArray("v").orderBy(k: _*).collect().toSeq
    assert(got == ref)
    // the skipped cell reads back as the fill value
    val rr = 17 % 12; val cc = 17 / 12
    val fillRead = new ZarrDataReader(spark, s"$base/s").readArray("v")
      .filter(col("r") === rr && col("c") === cc).select("value").collect().head.getDouble(0)
    assert(fillRead == -5.0)
    // misuse fails loudly
    def msgOf(t: Throwable): String = {
      var x: Throwable = t; val sb = new StringBuilder
      while (x != null) { sb.append(Option(x.getMessage).getOrElse("")); x = x.getCause }
      sb.toString
    }
    val e1 = intercept[Exception] {
      df.write.format("zarr").option("path", s"$base/b1").option("array", "v")
        .option("chunks", "3,5").option("shards", "6,10").mode("append").save()
    }
    assert(msgOf(e1).contains("zarr_format=3"), msgOf(e1))
    val e2 = intercept[Exception] {
      df.write.format("zarr").option("path", s"$base/b2").option("array", "v")
        .option("zarr_format", "3").option("chunks", "3,5").option("shards", "7,10")
        .mode("append").save()
    }
    assert(msgOf(e2).contains("multiples of chunks"), msgOf(e2))
  }

  test("zarr_format=3 sink: timestamp DIMENSION rejected driver-side, before any data job") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarrsinkv3tsdim").toString
    val df = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("t", "value")
    var jobs = -1
    val e = intercept[Exception] {
      jobs = countJobs {
        df.write.format("zarr").option("path", s"$base/s").option("array", "v")
          .option("zarr_format", "3").mode("append").save()
      }
    }
    def msgOf(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(Option(c.getMessage).getOrElse("")); c = c.getCause }
      sb.toString
    }
    assert(msgOf(e).contains("datetime64") && msgOf(e).contains("dimension"), msgOf(e))
    // failed validation must not leave a partially-written store behind
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(base, "s", "v", "c")))
  }

  test("string values AND string dims round-trip through the sink (v2 + v3)") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarrsinkstr").toString
    // 4 stations x 5 steps, one cell withheld -> reads back as the fill string
    val df = (0 until 20).filter(_ != 13)
      .map(i => (s"ST0${i / 5}", i % 5, s"v$i-α"))
      .toDF("station", "t", "value")
    for ((fmt, dst) <- Seq("2" -> s"$base/v2", "3" -> s"$base/v3")) {
      var w = df.write.format("zarr")
        .option("path", dst).option("array", "lbl").option("zarr_format", fmt)
        .option("chunks", "2,3").option("fill_value", "none").option("compressor", "zstd")
      if (fmt == "3") w = w.option("checksum", "true")
      w.mode("append").save()
      val back = new ZarrDataReader(spark, dst).readArray("lbl")
      assert(back.schema("station").dataType == StringType, fmt)
      assert(back.schema("value").dataType == StringType, fmt)
      assert(back.count() == 20, fmt)
      val rows = back.orderBy("station", "t").collect()
      (0 until 20).foreach { i =>
        val r = rows(i)
        assert(r.getString(0) == s"ST0${i / 5}" && r.getInt(1) == i % 5, s"$fmt i=$i")
        assert(r.getString(2) == (if (i == 13) "none" else s"v$i-α"), s"$fmt i=$i")
      }
      // string-dim pushdown works on the sink-written store too
      val eq = back.filter(col("station") === "ST02")
      assert(!eq.queryExecution.optimizedPlan.toString().contains("Filter"), fmt)
      assert(eq.count() == 5, fmt)
    }
    // SHARDED string values: vlen inner chunks behind the byte-range index
    val dstSh = s"$base/sh"
    df.write.format("zarr").option("path", dstSh).option("array", "lbl")
      .option("zarr_format", "3").option("chunks", "2,3").option("shards", "4,3")
      .option("fill_value", "none").option("compressor", "zstd")
      .mode("append").save()
    // on-store: one object per shard (1x2 shard grid over 4x5), none per chunk
    val cDir = java.nio.file.Paths.get(dstSh, "lbl", "c")
    val objs = java.nio.file.Files.walk(cDir)
      .filter(java.nio.file.Files.isRegularFile(_))
      .filter(p => !p.getFileName.toString.startsWith("."))
      .count()
    assert(objs == 2, s"expected 2 shard objects, found $objs")
    val backSh = new ZarrDataReader(spark, dstSh).readArray("lbl")
    assert(backSh.schema("value").dataType == StringType)
    val rowsSh = backSh.orderBy("station", "t").collect()
    assert(rowsSh.length == 20)
    (0 until 20).foreach { i =>
      val r = rowsSh(i)
      assert(r.getString(0) == s"ST0${i / 5}" && r.getInt(1) == i % 5, s"sharded i=$i")
      assert(r.getString(2) == (if (i == 13) "none" else s"v$i-α"), s"sharded i=$i")
    }
  }

  test("structured (compound) VALUES round-trip through the sink; sparse cells read the fill record") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarrsinkstruct").toString
    // inferred dtype from a numeric struct column; cell 13's value is NULL
    // -> writes the fill record (all-zero bytes)
    val df = (0 until 30)
      .map(i => (i, (i * 3 - 7, i * 0.25 - 2.0)))
      .toDF("i", "value")
      .select(col("i"), col("value._1").as("sensor"), col("value._2").as("temp"))
      .select(
        col("i"),
        when(col("i") === 13, lit(null)).otherwise(struct(col("sensor"), col("temp"))).as("value")
      )
    df.write.format("zarr")
      .option("path", s"$base/s1").option("array", "rec")
      .option("chunks", "8").option("compressor", "zlib")
      .mode("append").save()
    val back = new ZarrDataReader(spark, s"$base/s1").readArray("rec")
      .select(col("i"), col("value.sensor"), col("value.temp")).orderBy("i").collect()
    assert(back.length == 30)
    (0 until 30).foreach { i =>
      val (s, t) = if (i == 13) (0, 0.0) else (i * 3 - 7, i * 0.25 - 2.0)
      assert(back(i).getInt(1) == s && back(i).getDouble(2) == t, s"i=$i")
    }
    // explicit dtype with a fixed-width string field + big-endian numeric
    val df2 = (0 until 20)
      .map(i => (i, i * 2 - 5, i * 0.5, s"T${i % 4}"))
      .toDF("i", "sensor", "temp", "tag")
      .select(col("i"), struct(col("sensor"), col("temp"), col("tag")).as("value"))
    df2.write.format("zarr")
      .option("path", s"$base/s2").option("array", "rec")
      .option("dtype", """[["sensor", "<i4"], ["temp", ">f8"], ["tag", "|S4"]]""")
      .option("chunks", "6")
      .mode("append").save()
    val back2 = new ZarrDataReader(spark, s"$base/s2").readArray("rec")
      .select(col("i"), col("value.sensor"), col("value.temp"), col("value.tag"))
      .orderBy("i").collect()
    (0 until 20).foreach { i =>
      assert(
        back2(i).getInt(1) == i * 2 - 5 && back2(i).getDouble(2) == i * 0.5 &&
          back2(i).getString(3) == s"T${i % 4}",
        s"i=$i"
      )
    }
    // PER-FIELD-SHAPED dtype through the PRODUCT sink: array-valued struct
    // fields pack row-major into numpy subarray cells and read back exactly
    val df3 = (0 until 12)
      .map(i => (i, Seq((i * 2).toFloat, (i * 2 + 1).toFloat, (i * 2 + 2).toFloat), i * 7 - 3))
      .toDF("i", "pos", "s")
      .select(col("i"), struct(col("pos"), col("s")).as("value"))
    df3.write.format("zarr")
      .option("path", s"$base/s3").option("array", "rec")
      .option("dtype", """[["pos", "<f4", [3]], ["s", "<i4"]]""")
      .option("chunks", "5")
      .mode("append").save()
    val back3 = new ZarrDataReader(spark, s"$base/s3").readArray("rec")
      .select(col("i"), col("value.pos"), col("value.s")).orderBy("i").collect()
    (0 until 12).foreach { i =>
      assert(back3(i).getSeq[Float](1) == Seq(i * 2f, i * 2 + 1f, i * 2 + 2f), s"i=$i")
      assert(back3(i).getInt(2) == i * 7 - 3, s"i=$i")
    }

    // misuse fails loudly: v3, field-name mismatch, null field
    def msgOf(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(Option(c.getMessage).getOrElse("")); c = c.getCause }
      sb.toString
    }
    val e1 = intercept[Exception] {
      df.write.format("zarr").option("path", s"$base/b1").option("array", "rec")
        .option("zarr_format", "3").mode("append").save()
    }
    assert(msgOf(e1).contains("no structured data_type"), msgOf(e1))
    val e2 = intercept[Exception] {
      df.write.format("zarr").option("path", s"$base/b2").option("array", "rec")
        .option("dtype", """[["wrong", "<i4"], ["temp", "<f8"]]""").mode("append").save()
    }
    assert(msgOf(e2).contains("do not match"), msgOf(e2))

    // multi-dim shaped field: nested rows pack row-major and read back
    val df4 = (0 until 6)
      .map(i => (i, Seq(Seq(i * 4, i * 4 + 1), Seq(i * 4 + 2, i * 4 + 3))))
      .toDF("i", "m")
      .select(col("i"), struct(col("m")).as("value"))
    df4.write.format("zarr")
      .option("path", s"$base/s4").option("array", "rec")
      .option("dtype", """[["m", "<i4", [2, 2]]]""")
      .option("chunks", "4")
      .mode("append").save()
    val back4 = new ZarrDataReader(spark, s"$base/s4").readArray("rec")
      .select(col("i"), col("value.m")).orderBy("i").collect()
    (0 until 6).foreach { i =>
      val m = back4(i).getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)
      assert(m == Seq(Seq(i * 4, i * 4 + 1), Seq(i * 4 + 2, i * 4 + 3)), s"i=$i: $m")
    }
    // RAGGED nesting with the correct flattened count must fail loudly —
    // arity is validated level-by-level, not by total element count
    // (ADVICE r13: [[1,2,3],[4]] for 2x2 used to pack silently with
    // elements in the wrong cells)
    val ragged = Seq((0, Seq(Seq(1, 2, 3), Seq(4))))
      .toDF("i", "m")
      .select(col("i"), struct(col("m")).as("value"))
    val e3 = intercept[Exception] {
      ragged.write.format("zarr").option("path", s"$base/b3").option("array", "rec")
        .option("dtype", """[["m", "<i4", [2, 2]]]""").mode("append").save()
    }
    assert(msgOf(e3).contains("nesting depth"), msgOf(e3))
  }

  test("sink string axis is UTF-8-byte ordered on store (supplementary chars)") {
    import spark.implicits._
    val dst = Files.createTempDirectory("zarrsinkutf8").toString + "/store"
    // U+E000 (UTF-8 EE 80 80) sorts BEFORE U+1F600 (UTF-8 F0 9F 98 80) in
    // byte order, but AFTER it in Java's UTF-16 code-unit order (E000 >
    // D83D). The on-store axis must use byte order — what the distributed
    // long-axis path, Spark's own orderBy, and the scan's lexicographic
    // chunk pruning all use.
    Seq(("", 1.0), ("😀", 2.0)).toDF("station", "value")
      .write.format("zarr").option("path", dst).option("array", "v").mode("append").save()
    val zarray = Files.readString(java.nio.file.Paths.get(dst, "station", ".zarray"))
    val zattrs = Files.readString(java.nio.file.Paths.get(dst, "station", ".zattrs"))
    val meta = ZarrMeta.parseArray("station", zarray, Some(zattrs))
    val buf = ZarrChunkIO.readChunk(s"$dst/station", meta, Seq(0)).get
    assert(buf.getUTF8(0).toString == "", "axis[0]")
    assert(buf.getUTF8(1).toString == "😀", "axis[1]")
    // and the cells still land on the right labels
    val back = new ZarrDataReader(spark, dst).readArray("v").orderBy("station").collect()
    assert(back(0).getString(0) == "" && back(0).getDouble(1) == 1.0)
    assert(back(1).getString(0) == "😀" && back(1).getDouble(1) == 2.0)
  }

  test("sink value-dtype matrix: every supported value type round-trips cell-for-cell") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarrsinkmatrix").toString
    // one frame per value type; deterministic values exercising sign,
    // fractional, epoch and boolean paths; chunks force a ragged edge
    def roundTrip(name: String, df: org.apache.spark.sql.DataFrame, dtype: Option[String] = None): Unit = {
      var w = df.write.format("zarr")
        .option("path", s"$base/$name").option("array", "v")
        .option("chunks", "7").option("compressor", "zlib")
      dtype.foreach(d => w = w.option("dtype", d))
      w.mode("append").save()
      val back = new ZarrDataReader(spark, s"$base/$name").readArray("v")
        .orderBy("i").select("value").collect().map(_.get(0)).toSeq
      val expect = df.orderBy("i").select("value").collect().map(_.get(0)).toSeq
      assert(back == expect, name)
    }
    roundTrip("bool", (0 until 20).map(i => (i, i % 3 == 0)).toDF("i", "value"))
    roundTrip("i1", (0 until 20).map(i => (i, (i * 11 - 100).toByte)).toDF("i", "value"))
    roundTrip("i2", (0 until 20).map(i => (i, (i * 1000 - 9000).toShort)).toDF("i", "value"))
    roundTrip("i4", (0 until 20).map(i => (i, i * 100000 - 700000)).toDF("i", "value"))
    roundTrip("i8", (0 until 20).map(i => (i, i * 123456789012L - 5L)).toDF("i", "value"))
    roundTrip("f4", (0 until 20).map(i => (i, i * 0.25f - 2f)).toDF("i", "value"))
    roundTrip("f8", (0 until 20).map(i => (i, i * 0.125 - 1.0)).toDF("i", "value"))
    roundTrip(
      "m8",
      (0 until 20).map(i => (i, java.sql.Timestamp.valueOf(s"2024-01-0${i % 9 + 1} 0${i % 10}:30:0${i % 6}")))
        .toDF("i", "value")
    )
    roundTrip("str", (0 until 20).map(i => (i, s"s$i-β")).toDF("i", "value"))
  }

  test("bounded_collect_set rejects BinaryType (reference-equality Array[Byte] cannot dedup)") {
    import spark.implicits._
    val df = Seq(Array[Byte](1, 2), Array[Byte](1, 2)).toDF("b")
    val e = intercept[Exception] {
      df.agg(
        GraftBridge.column(
          graft.functions.BoundedCollectSet(GraftBridge.expression(col("b")), 10).toAggregateExpression()
        )
      ).head()
    }
    assert(e.getMessage.toLowerCase.contains("atomic"), e.getMessage)
  }

  test("bounded_collect_set: distinct semantics match collect_set; nulls skipped; bound enforced") {
    import spark.implicits._
    val df = Seq(
      Some(3), Some(1), Some(3), None, Some(2), Some(1), None
    ).toDF("x")
    val got = df
      .agg(
        GraftBridge.column(
          graft.functions.BoundedCollectSet(GraftBridge.expression(col("x")), 10).toAggregateExpression()
        )
      )
      .head().getSeq[Int](0).sorted
    assert(got == Seq(1, 2, 3))
    val e = intercept[Exception] {
      spark.range(100).toDF("x")
        .agg(
          GraftBridge.column(
            graft.functions.BoundedCollectSet(GraftBridge.expression(col("x")), 5).toAggregateExpression()
          )
        )
        .head()
    }
    def msgOf(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(Option(c.getMessage).getOrElse("")); c = c.getCause }
      sb.toString
    }
    assert(msgOf(e).contains("more than 5 distinct values"), msgOf(e))
  }

  test("datetime struct fields: external Timestamps land in the field's stored unit") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarrsinkstructdt").toString
    // inferred: TimestampType struct field -> <M8[us]
    val df = (0 until 12)
      .map(i => (i, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + i * 60)), i * 2L))
      .toDF("i", "at", "n")
      .select(col("i"), struct(col("at"), col("n")).as("value"))
    df.write.format("zarr")
      .option("path", s"$base/s1").option("array", "rec").option("chunks", "4")
      .mode("append").save()
    val back = new ZarrDataReader(spark, s"$base/s1").readArray("rec")
      .select(col("i"), col("value.at").cast("long").as("sec"), col("value.n"))
      .orderBy("i").collect()
    (0 until 12).foreach { i =>
      assert(back(i).getLong(1) == 1700000000L + i * 60, s"i=$i")
      assert(back(i).getLong(2) == i * 2L)
    }
    // explicit NON-micro unit (<M8[ms]): micros must scale to the stored
    // unit (the read path scales back), not land raw
    val df2 = (0 until 8)
      .map(i => (i, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + i))))
      .toDF("i", "at")
      .select(col("i"), struct(col("at")).as("value"))
    df2.write.format("zarr")
      .option("path", s"$base/s2").option("array", "rec")
      .option("dtype", """[["at", "<M8[ms]"]]""")
      .option("chunks", "4")
      .mode("append").save()
    val back2 = new ZarrDataReader(spark, s"$base/s2").readArray("rec")
      .select(col("i"), col("value.at").cast("long").as("sec"))
      .orderBy("i").collect()
    (0 until 8).foreach(i => assert(back2(i).getLong(1) == 1700000000L + i, s"i=$i"))
  }

  test("pre-1582 timestamps: value cells, struct fields and the time axis store internal micros and read back exact") {
    val base = Files.createTempDirectory("zarrsinkjulian").toString
    // instants before the 1582 Gregorian cutover, where java.sql.Timestamp
    // and Spark's proleptic calendar disagree, beside later ones
    def frame(days: Seq[String]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(days.map(Row(_)), 1),
        StructType(Seq(StructField("d", StringType)))
      ).select(to_timestamp(col("d")).as("t"))
    def micros(df: org.apache.spark.sql.DataFrame, cols: String*): Set[Seq[Long]] =
      df.select(cols.map(c => unix_micros(col(c))): _*).collect().map(r => cols.indices.map(r.getLong)).toSet
    val days = Seq("1000-01-01 00:00:00", "1500-03-01 06:30:00", "1582-10-01 12:00:00", "1900-01-01 00:00:00")
    val moreDays = Seq("1950-06-01 00:00:00", "2000-01-01 00:00:00")
    val first = frame(days)
    val more = frame(moreDays)
    first.withColumn("value", col("t")).write.format("zarr")
      .option("path", s"$base/cell").option("array", "v").option("chunks", "2").mode("append").save()
    more.withColumn("value", col("t")).write.format("zarr")
      .option("path", s"$base/cell").option("array", "v").option("append.dim", "t").mode("append").save()
    val cells = new ZarrDataReader(spark, s"$base/cell").readArray("v")
    assert(micros(cells, "t", "value") == micros(first.union(more), "t", "t"))
    // filter literals pushed down on the axis and on the cells' stats use
    // the same encoding: each instant finds its one row
    (days ++ moreDays).foreach { d =>
      assert(cells.filter(col("t") === to_timestamp(lit(d))).count() == 1, s"t = $d")
      assert(cells.filter(col("value") === to_timestamp(lit(d))).count() == 1, s"value = $d")
    }
    assert(cells.filter(col("t") >= to_timestamp(lit(days.head))).count() == 6)
    first.withColumn("value", struct(col("t").as("at"))).write.format("zarr")
      .option("path", s"$base/rec").option("array", "v").option("chunks", "3").mode("append").save()
    val recs = new ZarrDataReader(spark, s"$base/rec").readArray("v").select(col("t"), col("value.at").as("at"))
    assert(micros(recs, "t", "at") == micros(first, "t", "t"))
  }

  /** `[time, lat, lon, value]` frame shaped like the benchmark's sink
    * workload: `nt` time steps from `t0` on a 32 x 32 grid. */
  private def gridFrame(t0: Int, nt: Int) = {
    val per = 32L * 32L
    spark
      .range(t0 * per, (t0 + nt) * per)
      .select(
        (col("id") / per).cast("int").as("time"),
        ((col("id") / 32).cast("long") % 32 * 0.25 - 90.0).as("lat"),
        (col("id") % 32 * 0.25 - 180.0).as("lon"),
        (pmod(xxhash64(col("id")), lit(1000L)) - 500).cast("float").as("value")
      )
  }

  test("job budget: sink write and sharded v3 append run pinned job counts and broadcast nothing") {
    val base = Files.createTempDirectory("zarrsinkbudget").toString
    def write(dir: String): Unit =
      gridFrame(0, 16).write.format("zarr")
        .option("path", dir).option("array", "tas")
        .option("zarr_format", "3").option("chunks", "4,16,16").option("shards", "8,32,32")
        .option("compressor", "zstd").option("checksum", "true")
        .mode("overwrite").save()
    def append(dir: String): Unit =
      gridFrame(16, 8).write.format("zarr")
        .option("path", dir).option("array", "tas").option("append.dim", "time")
        .mode("append").save()
    write(s"$base/warm"); append(s"$base/warm") // first-use class loading, codegen caches
    val w = observe(write(s"$base/s"))
    val a = observe(append(s"$base/s"))
    // each is one aggregate (the sink's coordinate gather; the append's new
    // values and unmapped-row count), which AQE runs as a map-stage job and
    // a result job, and one write job whose fragment shuffle is a stage of
    // it (the row path this replaced ran 4 jobs each)
    assert(w.jobs == 3, s"sink write ran ${w.jobs} jobs")
    assert(a.jobs == 3, s"sharded append ran ${a.jobs} jobs")
    for ((what, o) <- Seq("write" -> w, "append" -> a)) {
      assert(o.plans.nonEmpty, s"$what started no SQL execution")
      o.plans.foreach(p => assert(!p.contains("BroadcastExchange"), s"$what plan broadcasts:\n$p"))
    }
    val back = new ZarrDataReader(spark, s"$base/s").readArray("tas")
    val want = gridFrame(0, 24)
    assert(back.count() == 24L * 32 * 32)
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
  }

  test("a globally sorted frame writes and appends in the unsorted frame's jobs and objects") {
    val base = Files.createTempDirectory("zarrsinksorted").toString
    val order = Seq(col("value").desc, col("lon"), col("lat"), col("time"))
    def write(dir: String, df: org.apache.spark.sql.DataFrame): Observed =
      observe(
        df.write.format("zarr")
          .option("path", dir).option("array", "tas")
          .option("zarr_format", "3").option("chunks", "4,16,16").option("shards", "8,32,32")
          .option("compressor", "zstd").option("checksum", "true")
          .mode("overwrite").save()
      )
    def append(dir: String, df: org.apache.spark.sql.DataFrame): Observed =
      observe(
        df.write.format("zarr")
          .option("path", dir).option("array", "tas").option("append.dim", "time")
          .mode("append").save()
      )
    write(s"$base/warm", gridFrame(0, 16).orderBy(order: _*))
    append(s"$base/warm", gridFrame(16, 8).orderBy(order: _*))
    val plain = (write(s"$base/plain", gridFrame(0, 16)), append(s"$base/plain", gridFrame(16, 8)))
    val sorted = (
      write(s"$base/sorted", gridFrame(0, 16).orderBy(order: _*)),
      append(s"$base/sorted", gridFrame(16, 8).orderBy(order: _*))
    )
    assert(plain._1.jobs == 3 && sorted._1.jobs == 3, s"write jobs: ${plain._1.jobs} plain, ${sorted._1.jobs} sorted")
    assert(plain._2.jobs == 3 && sorted._2.jobs == 3, s"append jobs: ${plain._2.jobs} plain, ${sorted._2.jobs} sorted")
    val (a, b) = (objects(s"$base/plain"), objects(s"$base/sorted"))
    assert(a.size > 8 && a.keySet == b.keySet, s"${a.keySet} vs ${b.keySet}")
    a.foreach { case (k, bytes) => assert(bytes == b(k), s"$k differs") }
  }

  /** `gridFrame(0, 12)` with every 7th cell absent, so chunks hold fill
    * cells too, and the two layouts it is written in. */
  private def sparseFrame =
    gridFrame(0, 12).filter(pmod(xxhash64(col("time"), col("lat"), col("lon")), lit(7L)) =!= 0)
  private val sparseLayouts = Seq(
    "v2" -> Map("chunks" -> "4,16,8", "compressor" -> "zstd"),
    "v3-sharded" -> Map(
      "zarr_format" -> "3", "chunks" -> "4,16,8", "shards" -> "8,32,16",
      "compressor" -> "zstd", "checksum" -> "true"
    )
  )

  /** Every file under `root`, keyed by its path relative to it. */
  private def objects(root: String): Map[String, Seq[Byte]] = {
    val r = java.nio.file.Paths.get(root)
    import scala.jdk.CollectionConverters._
    Files.walk(r).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => r.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  test("sink writes identical objects at any shuffle parallelism, AQE on or off (v2, v3 sharded)") {
    val base = Files.createTempDirectory("zarrsinkpar").toString
    val df = sparseFrame
    for ((layout, opts) <- sparseLayouts) {
      val stores = for (parts <- Seq(1, 7); aqe <- Seq("true", "false")) yield {
        val dir = s"$base/$layout-$parts-$aqe"
        val prior = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled").map(k => k -> spark.conf.get(k))
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        try df.write.format("zarr").option("path", dir).option("array", "tas").options(opts).mode("overwrite").save()
        finally prior.foreach { case (k, v) => spark.conf.set(k, v) }
        s"$parts/$aqe" -> objects(dir)
      }
      val (refName, ref) = stores.head
      assert(ref.keys.exists(_.startsWith("tas/")) && ref.size > 8, s"$layout: ${ref.keys}")
      stores.tail.foreach { case (name, got) =>
        assert(got.keySet == ref.keySet, s"$layout $name vs $refName keys")
        got.foreach { case (k, bytes) => assert(bytes == ref(k), s"$layout $name vs $refName: $k differs") }
      }
    }
  }

  test("fragment shuffle: fewer bytes than one row per cell on the sparse frame, <= 4.5 B per dense f4 cell") {
    val base = Files.createTempDirectory("zarrsinkshuffle").toString
    // shuffle write bytes of the same writes on the row path this replaced
    // (one [chunk, local, value] row, or [shard, chunk, local, value], per
    // cell; 10561 rows each), measured in this suite's session
    val rowPath = Map("v2" -> 109205L, "v3-sharded" -> 114191L)
    for ((layout, opts) <- sparseLayouts) {
      val o = observe(
        sparseFrame.write.format("zarr").option("path", s"$base/$layout").option("array", "tas").options(opts)
          .mode("overwrite").save()
      )
      assert(o.shuffleBytes <= rowPath(layout), s"$layout: ${o.shuffleBytes} shuffle bytes")
    }
    // dense f4: each cell's 4 value bytes plus its presence bit, little else
    val dense = gridFrame(0, 64)
    val cells = 64L * 32 * 32
    val o = observe(
      dense.write.format("zarr").option("path", s"$base/dense").option("array", "tas")
        .option("chunks", "16,16,16").option("compressor", "zstd").mode("overwrite").save()
    )
    // the row path moved 9.31 B per cell of this frame
    assert(o.shuffleBytes <= 4.5 * cells, s"dense f4: ${o.shuffleBytes.toDouble / cells} shuffle bytes per cell")
  }

  test("fragments past the open-fragment bound write the objects sorted input does (v2, v3 sharded, vlen, struct)") {
    val base = Files.createTempDirectory("zarrsinkbound").toString
    // 96^3 cells in (8, 32, 32) chunks: 108 chunks, every one touched by
    // the one map task from its first rows on when the rows are scattered
    val n = 96L
    def cells(ids: org.apache.spark.sql.DataFrame) = ids.select(
      (col("id") / (n * n)).cast("int").as("t"),
      (col("id") / n % n).cast("int").as("y"),
      (col("id") % n).cast("int").as("x"),
      col("id")
    )
    val ids = spark.range(0, n * n * n, 1, 1).toDF()
    val grid = cells(ids)
    // the same cells, scattered: id -> id * 2654435761 mod 96^3 is a
    // bijection (the factor is odd and not a multiple of 3), and a
    // projection, not a sort the write could drop
    val scattered = cells(ids.select(pmod(col("id") * 2654435761L, lit(n * n * n)).as("id")))
    val values = Seq(
      ("v2-f8", (col("id") * 0.5 - 7).as("value"), 8, Map("chunks" -> "8,32,32", "compressor" -> "zstd")),
      (
        "v3-sharded-f8",
        (col("id") * 0.5 - 7).as("value"),
        8,
        Map("zarr_format" -> "3", "chunks" -> "8,32,32", "shards" -> "16,64,64", "compressor" -> "zstd")
      ),
      ("v2-vlen", concat(lit("s"), (col("id") % 100003).cast("string")).as("value"), 14, Map("chunks" -> "8,32,32")),
      (
        "v2-struct",
        struct((col("id") * 0.25).as("a"), (col("id") % 1000).cast("int").as("b")).as("value"),
        12,
        Map("chunks" -> "8,32,32")
      )
    )
    for ((name, value, bytesPerCell, opts) <- values) {
      // every chunk open at once would take more than the bound allows
      assert(n * n * n * bytesPerCell > ZarrFragments.MaxOpenBytes, name)
      def frame(cells: org.apache.spark.sql.DataFrame) = cells.select(col("t"), col("y"), col("x"), value)
      def write(dir: String, df: org.apache.spark.sql.DataFrame): Observed =
        observe(df.write.format("zarr").option("path", dir).option("array", "v").options(opts).mode("overwrite").save())
      def same(x: String, y: String): Unit = {
        val (a, b) = (objects(s"$base/$name-$x"), objects(s"$base/$name-$y"))
        assert(a.size > 8 && a.keySet == b.keySet, s"$name $x vs $y: ${a.keySet} vs ${b.keySet}")
        a.foreach { case (k, bytes) => assert(bytes == b(k), s"$name $x vs $y: $k differs") }
      }
      val sorted = write(s"$base/$name-sorted", frame(grid))
      val shuffled = write(s"$base/$name-shuffled", frame(scattered))
      // sorted rows fill one chunk row at a time: one fragment per chunk;
      // scattered rows outgrow the bound and emit fragments early
      assert(
        sorted.shuffleRecords < shuffled.shuffleRecords,
        s"$name: ${sorted.shuffleRecords} vs ${shuffled.shuffleRecords} shuffle records"
      )
      same("sorted", "shuffled")
      if (name == "v2-f8") {
        // a sort on top of the frame is dropped, not run for the write:
        // the scattered rows reach the packer as they are, with no extra job
        val resorted = write(s"$base/$name-resorted", frame(scattered).sort("t", "y", "x"))
        assert(resorted.jobs == shuffled.jobs, s"${resorted.jobs} vs ${shuffled.jobs} jobs")
        assert(resorted.shuffleRecords == shuffled.shuffleRecords)
        same("sorted", "resorted")
      }
    }
  }

  test("zstd chunks carry a content checksum: a flipped byte fails with its key, old frames still read") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarrsinkzstd").toString
    (0 until 64).map(i => (i / 8, i % 8, i * 1.5)).toDF("r", "c", "value")
      .write.format("zarr").option("path", base).option("array", "v")
      .option("chunks", "4,8").option("compressor", "zstd").mode("overwrite").save()
    val meta = new ZarrStore(base, Map.empty, None, None).arrayMeta("v")
    val dir = java.nio.file.Paths.get(base, "v")
    val key = dir.resolve("1.0")
    val good = Files.readAllBytes(key)
    val raw = ZarrChunkIO.readChunk(dir.toString, meta, Seq(1, 0)).get.raw.clone()
    // frame header descriptor bit 2 = content checksum flag
    assert((good(4) & 0x04) != 0, "zstd frame written without a content checksum")
    val decoded = (4 until good.length).flatMap { pos =>
      val bad = good.clone()
      bad(pos) = (bad(pos) ^ 0x10).toByte
      Files.write(key, bad)
      try {
        val got = ZarrChunkIO.readChunk(dir.toString, meta, Seq(1, 0)).get.raw.toSeq
        Some((pos, got == raw.toSeq))
      } catch {
        case e: ZarrCorruptChunkException =>
          assert(e.chunkKey == "1.0" && e.getMessage.contains("'1.0'"), s"byte $pos: ${e.getMessage}")
          None
      }
    }
    // the one flip that reads is bit 4 of the frame header descriptor,
    // which the format leaves unused: it decodes to the right bytes
    assert(decoded == Seq((4, true)), s"flips that decoded (byte, exact): $decoded")
    // a frame written without a checksum (older stores, other writers) reads
    Files.write(key, com.github.luben.zstd.Zstd.compress(raw, 3))
    assert(ZarrChunkIO.readChunk(dir.toString, meta, Seq(1, 0)).get.raw.toSeq == raw.toSeq)
    val back = new ZarrDataReader(spark, base).readArray("v").orderBy("r", "c").collect()
    assert(back.map(_.getDouble(2)).toSeq == (0 until 64).map(_ * 1.5))
  }

  test("sink write tasks reject a row whose dimension value left the gathered axis") {
    val base = Files.createTempDirectory("zarrsinkflaky").toString
    ZarrSinkSpec.calls.set(0L)
    // deterministic for its first 24 evaluations (the coordinate
    // aggregate), off-axis afterwards (the write job): the join this
    // replaced dropped such rows without a word
    val flaky = udf { (c: Int) =>
      if (ZarrSinkSpec.calls.incrementAndGet() > 24L) c + 100 else c
    }.asNondeterministic()
    val df = spark.range(0, 24).select((col("id") / 4).cast("int").as("r"), (col("id") % 4).cast("int").as("c0"))
      .select(col("r"), flaky(col("c0")).as("c"), col("r").cast("double").as("value"))
    val e = intercept[Exception] {
      df.write.format("zarr").option("path", base).option("array", "v").option("chunks", "2,2")
        .mode("overwrite").save()
    }
    def msgOf(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgOf(e).contains("not on the axis the write was planned with"), msgOf(e))
  }
}

object ZarrSinkSpec {
  val calls = new java.util.concurrent.atomic.AtomicLong(0L)
}
