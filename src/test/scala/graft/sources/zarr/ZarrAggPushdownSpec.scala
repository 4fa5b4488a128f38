package graft.sources.zarr

import graft.SparkTester
import graft.api.ZarrDataReader
import graft.sources.Coord
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Aggregate pushdown. What metadata answers (COUNT/MIN/MAX over dimension
  * columns, value counts and extremes from chunk stats) resolves to a
  * metadata-only LocalScan (zero tasks, zero chunk reads). COUNT, MIN/MAX
  * and integral SUM over cell values push partially: the scan emits one
  * row per (partition, group) and Spark merges them. Float sums, and
  * anything else, stay with Spark. Each pushed answer is checked against
  * the same aggregate under a residual value predicate that holds for every
  * cell, which keeps the aggregate in Spark (the oracle): same rows, or the
  * same error condition. */
class ZarrAggPushdownSpec extends AnyFunSuite with SparkTester {

  private lazy val root: String = {
    val r = Files.createTempDirectory("zarragg").toString
    val dir = ZarrStoreWriter.writeGroup(r)
    ZarrStoreWriter.writeArray(
      dir, "temperature", Vector(12, 10, 15), Vector(6, 5, 8), "<f4",
      flat => 280.0f + (flat % 997) * 0.25f,
      dims = Some(Vector("time", "lat", "lon"))
    )
    ZarrStoreWriter.writeCoord(dir, "time", Coord.Ints(Array.tabulate(12)(identity)))
    ZarrStoreWriter.writeCoord(dir, "lat", Coord.Floats(Array.tabulate(10)(i => 30f + i)))
    // no lon coordinate on purpose: positional (index) fallback
    ZarrStoreWriter.consolidate(dir)
    r
  }

  private def df: DataFrame = new ZarrDataReader(spark, root).readArray("temperature")

  private def planOf(d: DataFrame): String = d.queryExecution.executedPlan.toString

  private def assertPartial(d: DataFrame): Unit = {
    val p = planOf(d)
    assert(p.contains("BatchScan") && p.contains("partialAgg="), s"expected a partial aggregate scan, got:\n$p")
  }

  /** The deepest Spark error condition in `t`'s cause chain. */
  private def conditionOf(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.collect {
      case s: org.apache.spark.SparkThrowable if s.getCondition != null => s.getCondition
    }.lastOption.getOrElse(t.toString)

  /** Rows as strings (so -0.0 differs from 0.0), sorted; or the error. */
  private def outcome(d: DataFrame): Either[String, Seq[String]] =
    try Right(d.collect().map(_.toString).toSeq.sorted)
    catch { case e: Exception => Left(conditionOf(e)) }

  /** `agg` over `d` pushes partially and answers exactly what the oracle
    * answers: the same aggregate under a residual predicate on `valueCol`
    * that holds for every cell (-Inf, NaN and null too, which a bound such
    * as `value > -1e9f` would drop) and that no rule can push or fold. */
  private def assertPushedMatches(d: DataFrame, valueCol: String = "value")(
      agg: DataFrame => DataFrame
  ): Either[String, Seq[String]] = {
    val pushed = agg(d)
    val oracle = agg(d.filter(coalesce(length(col(valueCol).cast("string")) > 0, lit(true))))
    assertPartial(pushed)
    assert(!planOf(oracle).contains("partialAgg="), planOf(oracle))
    val got = outcome(pushed)
    assert(got == outcome(oracle), planOf(pushed))
    got
  }

  private def assertMetadataOnly(d: DataFrame): Unit = {
    val p = planOf(d)
    assert(p.contains("LocalTableScan"), s"expected LocalTableScan, got:\n$p")
    assert(!p.contains("BatchScan"), s"expected no BatchScan, got:\n$p")
  }

  test("global count(*) is answered from metadata") {
    val q = df.agg(count("*").as("n"))
    assertMetadataOnly(q)
    assert(q.collect().head.getLong(0) == 12L * 10 * 15)
  }

  test("count(*) under pushed dim predicates uses the pruned kept sets") {
    val q = df.filter(col("time") >= 2 && col("time") < 7 && col("lat") <= 33f)
      .agg(count("*").as("n"))
    assertMetadataOnly(q)
    assert(q.collect().head.getLong(0) == 5L * 4 * 15)
  }

  test("min/max over dim columns (incl. positional index dim) push complete") {
    val q = df.filter(col("time") >= 3)
      .agg(min("time"), max("time"), min("lat"), max("lat"), min("lon"), max("lon"))
    assertMetadataOnly(q)
    val r = q.collect().head
    assert(r.getInt(0) == 3 && r.getInt(1) == 11)
    assert(r.getFloat(2) == 30f && r.getFloat(3) == 39f)
    assert(r.getLong(4) == 0L && r.getLong(5) == 14L)
  }

  test("grouped count/min/max pushes complete and matches the chunk-scan answer") {
    val q = df.groupBy("time").agg(count("*").as("n"), min("lat").as("lo"), max("lon").as("hi"))
    assertMetadataOnly(q)
    // oracle: a residual value predicate (true for every cell) blocks
    // aggregate pushdown, forcing the real chunk-scan aggregation
    val oracle = df.filter(col("value") > -1e9f)
      .groupBy("time").agg(count("*").as("n"), min("lat").as("lo"), max("lon").as("hi"))
    assert(planOf(oracle).contains("BatchScan"))
    assert(q.orderBy("time").collect().toSeq == oracle.orderBy("time").collect().toSeq)
  }

  test("count(dim) and count(distinct dim) push complete") {
    val q = df.filter(col("lat") < 35f).agg(count("time"), count_distinct(col("lat")))
    assertMetadataOnly(q)
    val r = q.collect().head
    assert(r.getLong(0) == 12L * 5 * 15)
    assert(r.getLong(1) == 5L)
  }

  test("aggregates over the value column fall back to the chunk scan") {
    // a float sum depends on the order of its additions, and stddev has no
    // partial form here: both stay with Spark over the plain chunk scan
    for (q <- Seq(df.agg(sum("value"), count("*")), df.agg(stddev("value"), count("*")))) {
      assert(planOf(q).contains("BatchScan") && !planOf(q).contains("partialAgg="), planOf(q))
      assert(q.collect().head.getLong(1) == 1800L)
    }
  }

  test("value-column COUNT/MIN/MAX/integral SUM push partially") {
    val q = df.agg(min("value"), count("*"))
    assertPartial(q)
    val r = q.collect().head
    assert(r.getFloat(0) == 280.0f && r.getLong(1) == 1800L)
    assertPushedMatches(df)(_.agg(min("value"), count("*")))
    assertPushedMatches(df)(_.groupBy("time").agg(max("value"), sum(col("value").cast("long")), max("lat")))
  }

  test("empty pushed selection: count 0, min/max null, grouped empty") {
    val q = df.filter(col("time") > 100).agg(count("*"), min("lat"))
    assertMetadataOnly(q)
    val r = q.collect().head
    assert(r.getLong(0) == 0L && r.isNullAt(1))
    val g = df.filter(col("time") > 100).groupBy("lat").agg(count("*"))
    assertMetadataOnly(g)
    assert(g.collect().isEmpty)
  }

  test("duplicate coordinate values merge into one SQL group") {
    val r2 = Files.createTempDirectory("zarraggdup").toString
    val dir = ZarrStoreWriter.writeGroup(r2)
    ZarrStoreWriter.writeArray(
      dir, "v", Vector(6, 4), Vector(3, 2), "<f8",
      flat => flat.toDouble,
      dims = Some(Vector("day", "site"))
    )
    // day axis repeats: [0,0,1,1,2,2]
    ZarrStoreWriter.writeCoord(dir, "day", Coord.Ints(Array(0, 0, 1, 1, 2, 2)))
    ZarrStoreWriter.consolidate(dir)
    val d = new ZarrDataReader(spark, r2).readArray("v")
    val q = d.groupBy("day").agg(count("*").as("n"))
    assertMetadataOnly(q)
    val rows = q.orderBy("day").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(rows == Seq((0, 8L), (1, 8L), (2, 8L)))
  }

  test("grouped count-distinct with isin predicate pushes complete (q39 shape)") {
    val q = df.filter(col("time") >= 2 && col("time") < 9 && col("lat").isin(30f, 32f, 35f))
      .groupBy("time")
      .agg(count("*").as("n"), min("lat"), max("lat"), count_distinct(col("lat")).as("nl"))
    assertMetadataOnly(q)
    val rows = q.orderBy("time").collect()
    assert(rows.length == 7)
    assert(rows.forall(r => r.getLong(1) == 3L * 15 && r.getFloat(2) == 30f && r.getFloat(3) == 35f && r.getLong(4) == 3L))
  }

  test("sum/avg over integral dims push complete and match the chunk scan") {
    val q = df.filter(col("time") >= 2)
      .groupBy("time")
      .agg(sum("lon").as("s"), avg("lon").as("a"), sum("time").as("st"), avg("time").as("at"))
    assertMetadataOnly(q)
    val oracle = df.filter(col("value") > -1e9f && col("time") >= 2)
      .groupBy("time")
      .agg(sum("lon").as("s"), avg("lon").as("a"), sum("time").as("st"), avg("time").as("at"))
    assert(planOf(oracle).contains("BatchScan"))
    assert(q.orderBy("time").collect().toSeq == oracle.orderBy("time").collect().toSeq)
    // global, with a float dim refused (falls back) but integral fine
    val g = df.agg(sum("time"), avg("lon"))
    assertMetadataOnly(g)
    val r = g.collect().head
    assert(r.getLong(0) == (0 until 12).map(_.toLong).sum * 10 * 15)
    assert(r.getDouble(1) == (0 until 15).map(_.toDouble).sum / 15)
    // float dims: sum is order-dependent, pushdown refuses
    assert(planOf(df.agg(sum("lat"))).contains("BatchScan"))
  }

  test("scan reports exact row-count statistics; pruned scans auto-broadcast") {
    // full scan: 1800 rows; pruned: 150
    val full = df
    assert(full.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(1800)))
    val pruned = df.filter(col("time") === 3)
    assert(pruned.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(150)))
    // a pruned slab under the broadcast threshold joins broadcast WITHOUT a
    // hint — the point of reporting real sizes from a huge store
    val other = spark.range(0, 200000).selectExpr("cast(id % 40 as float) + 30 as lat", "id as k")
    val joined = other.join(pruned, "lat")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("ORDER BY dim LIMIT k prunes to the chunks holding the winners") {
    // scan cell count (in the scan description) is the observable: the
    // leading-dim kept set narrows to the winner candidates (1 of 12 time
    // values x 150 rows each), not the full 1800 cells
    def scanCells(d: org.apache.spark.sql.DataFrame): String = {
      val p = d.queryExecution.executedPlan.toString
      "cells=(\\d+)".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("?")
    }
    val asc = df.orderBy("time").limit(3)
    assert(scanCells(asc) == "150", asc.queryExecution.executedPlan.toString)
    assert(asc.collect().map(_.getInt(0)).toSeq == Seq(0, 0, 0))
    val desc = df.orderBy(col("time").desc).limit(5)
    assert(scanCells(desc) == "150")
    assert(desc.collect().map(_.getInt(0)).toSeq == Seq(11, 11, 11, 11, 11))
    // deeper tie-break columns stay correct: the kept candidate set holds
    // EVERY row of the boundary time value, so lat/lon winners survive
    val top = df.orderBy(col("time").desc, col("lat").desc, col("lon").desc).limit(2)
    assert(scanCells(top) == "150")
    assert(top.collect().map(r => (r.getInt(0), r.getFloat(1), r.getLong(2))).toSeq ==
      Seq((11, 39f, 14L), (11, 39f, 13L)))
  }

  test("TopN boundary ties survive (duplicate coordinate values)") {
    val r2 = java.nio.file.Files.createTempDirectory("zarrtopn").toString
    val dir = ZarrStoreWriter.writeGroup(r2)
    ZarrStoreWriter.writeArray(
      dir, "v", Vector(6, 4), Vector(3, 2), "<f8", flat => flat.toDouble,
      dims = Some(Vector("day", "site"))
    )
    ZarrStoreWriter.writeCoord(dir, "day", Coord.Ints(Array(0, 0, 1, 1, 2, 2)))
    ZarrStoreWriter.consolidate(dir)
    val d = spark.read.format("zarr").option("path", r2).option("array", "v").load()
    // top-4 by day: day=0 spans indices {0, 1} (a tie at the boundary) —
    // both must stay kept or a deeper tie-break could lose the true winner
    val q = d.orderBy("day", "site").limit(4).collect()
    assert(q.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((0, 0L), (0, 0L), (0, 1L), (0, 1L)))
  }

  test("LIMIT pushed first refuses aggregate pushdown") {
    // limit under an aggregate does not normally reach the scan, but guard
    // the builder contract directly: a limited scan still answers correctly
    val q = df.limit(10).agg(count("*"))
    assert(q.collect().head.getLong(0) == 10L)
  }

  test("count aggregates push complete on DEFERRED axes (kept-set cardinalities)") {
    // deferred axes carry no driver-side values, but COUNT(*)/count(value)
    // need only kept-set sizes — and pushed dim predicates refine the kept
    // set exactly at planning time by streaming coordinate chunks, so the
    // pushdown stays complete even under a deferred-dim filter
    val r2 = Files.createTempDirectory("zarraggdef").toString
    spark.range(0, 40).selectExpr(
      "concat('k', lpad(cast(id as string), 3, '0')) as t", "id * 2 as value")
      .write.format("zarr")
      .option("path", r2).option("array", "v").option("chunks", "8")
      .option("max_coord_values", "10").option("coord_chunk_values", "16")
      .mode("append").save()
    val d = spark.read.format("zarr")
      .option("path", r2).option("array", "v")
      .option("coord.deferred.threshold", "10").load()
    val q1 = d.agg(count(lit(1)), count("value"), min("value"), max("value"))
    assertMetadataOnly(q1)
    val r1 = q1.collect().head
    assert(r1.getLong(0) == 40L && r1.getLong(1) == 40L)
    assert(r1.getLong(2) == 0L && r1.getLong(3) == 78L)
    val q2 = d.filter(col("t") >= "k020").agg(count(lit(1)))
    assertMetadataOnly(q2)
    assert(q2.collect().head.getLong(0) == 20L)
    // numeric deferred axis too
    val r3 = Files.createTempDirectory("zarraggdefn").toString
    spark.range(0, 40).selectExpr("id as t", "id * 2 as value")
      .write.format("zarr")
      .option("path", r3).option("array", "v").option("chunks", "8")
      .option("max_coord_values", "10").option("coord_chunk_values", "16")
      .mode("append").save()
    val dn = spark.read.format("zarr")
      .option("path", r3).option("array", "v")
      .option("coord.deferred.threshold", "10").load()
    val q3 = dn.filter(col("t") >= 20L && col("t") < 30L).agg(count(lit(1)))
    assertMetadataOnly(q3)
    assert(q3.collect().head.getLong(0) == 10L)
    // aggregates needing the deferred axis VALUES still fall back
    val q4 = dn.agg(min("t"))
    assert(planOf(q4).contains("BatchScan"))
    assert(q4.collect().head.getLong(0) == 0L)
  }

  test("count(value) answers from metadata on sparse hier stores with null fill") {
    // 20x15 grid, chunks (5,5) -> 4x3 = 12 chunk ordinals (ord = ic*3+jc);
    // flat_cap 4 forces hierarchical, block_len 4 -> 3 blocks. The drop set
    // leaves every axis value present (dense 20x15 shape still derives)
    // while making block 1 (ords 4..7) ENTIRELY unwritten (no side doc
    // needed) and block 2 (ords 8..11) PARTIAL (ord 9 missing — the
    // written-ordinal set must come from the side doc).
    val r3 = Files.createTempDirectory("zarraggsparse").toString
    spark.range(0, 300)
      .select(
        (col("id") / 15).cast("int").as("i"),
        (col("id") % 15).cast("int").as("j"),
        (col("id") + 1).as("value")
      )
      .filter(!(
        (col("i") >= 5 && col("i") < 10 && col("j") >= 5) ||
        (col("i") >= 10 && col("i") < 15 && col("j") < 10) ||
        (col("i") >= 15 && col("j") < 5)
      ))
      .write.format("zarr")
      .option("path", r3).option("array", "v").option("chunks", "5,5")
      .option("stats.flat_cap", "4").option("stats.block_len", "4")
      .mode("append").save()
    val store = new ZarrStore(r3, Map.empty, None, None)
    val h = ZarrChunkStats.parseHier(store.arrayMeta("v").attrs(ZarrChunkStats.AttrKey)).get
    assert(h.nChunks == 12 && h.nBlocks == 3)
    assert(!h.written.contains(1L) && h.written(2L) == 3L, s"written: ${h.written}")
    // rewrite the fill to null: unwritten cells now read as NULL, so
    // count(value) must subtract them — previously a chunk-scan fallback
    val zarray = java.nio.file.Paths.get(store.arrayDir("v").stripPrefix("file:"), ".zarray")
    Files.writeString(
      zarray,
      Files.readString(zarray).replaceAll("\"fill_value\"\\s*:\\s*[^,}]+", "\"fill_value\": null")
    )
    // drop consolidated metadata so the edited .zarray is authoritative
    Files.deleteIfExists(java.nio.file.Paths.get(r3.stripPrefix("file:"), ".zmetadata"))
    def rd(extra: Map[String, String] = Map.empty): DataFrame = {
      var r = spark.read.format("zarr").option("path", r3).option("array", "v")
      extra.foreach { case (k, v) => r = r.option(k, v) }
      r.load()
    }
    val q = rd().agg(count("value"), count("*"))
    assertMetadataOnly(q)
    val row = q.collect().head
    // 300 cells - block1's 100 (4 chunks x 25) - ord 9's 25
    assert(row.getLong(0) == 175L && row.getLong(1) == 300L)
    // chunk-scan parity with stats pruning disabled
    val full = rd(Map("stats.pruning" -> "false")).agg(count("value"), count("*"))
    assert(planOf(full).contains("BatchScan"))
    val f = full.collect().head
    assert(f.getLong(0) == 175L && f.getLong(1) == 300L)
    // a deleted side doc for the partial block must fall back, never guess
    val side = java.nio.file.Paths
      .get(store.arrayDir("v").stripPrefix("file:"), ZarrChunkStats.SideDir, "2")
    assert(Files.deleteIfExists(side), s"expected to delete $side")
    val degraded = rd().agg(count("value"))
    assert(planOf(degraded).contains("BatchScan"))
    assert(degraded.collect().head.getLong(0) == 175L)
  }

  /** A `v` of `dtype` over (t, y, x) = (6, 5, 7) in ragged (4, 2, 3)
    * chunks, chunk 1.1.1 deleted (it reads as the fill, or as null when
    * `fill` is None). `t` repeats values, `y` holds 0.0, -0.0 and NaN (group
    * keys Spark normalizes), `x` has no coordinate array (positional). */
  private def dtypeStore(dtype: String, fill: Option[Double])(value: Long => Double): DataFrame = {
    val r = Files.createTempDirectory("zarraggdt").toString
    val dir = ZarrStoreWriter.writeGroup(r)
    ZarrStoreWriter.writeArray(
      dir, "v", Vector(6, 5, 7), Vector(4, 2, 3), dtype, value,
      dims = Some(Vector("t", "y", "x")), fillValue = fill
    )
    ZarrStoreWriter.writeCoord(dir, "t", Coord.Ints(Array(0, 0, 1, 2, 2, 3)))
    ZarrStoreWriter.writeCoord(dir, "y", Coord.Floats(Array(0f, -0f, Float.NaN, 1.5f, 0f)))
    Files.delete(dir.resolve("v").resolve("1.1.1"))
    new ZarrDataReader(spark, r).readArray("v")
  }

  private val groupings = Seq(Nil, Seq("t"), Seq("x"), Seq("t", "y"), Seq("y", "x"))

  test("partial pushdown matches Spark on every numeric dtype, fill and missing chunks") {
    val integral = Seq(
      ("|i1", (f: Long) => (f % 200 - 100).toDouble),
      ("|u1", (f: Long) => (f * 7 % 256).toDouble),
      ("<i2", (f: Long) => (f * 37 % 60000 - 30000).toDouble),
      ("<u2", (f: Long) => (f * 37 % 65536).toDouble),
      ("<i4", (f: Long) => (f * 7919 % 2000000000L - 1000000000L).toDouble),
      ("<u4", (f: Long) => (f * 7919 % 4000000000L).toDouble),
      ("<i8", (f: Long) => (f * 1000000007L - 100000000000L).toDouble),
      (">i2", (f: Long) => (f * 37 % 60000 - 30000).toDouble),
      (">u4", (f: Long) => (f * 7919 % 4000000000L).toDouble),
      (">i8", (f: Long) => (f * 1000000007L - 100000000000L).toDouble)
    )
    for ((dtype, gen) <- integral; fill <- Seq(Some(3.0), None)) {
      val d = dtypeStore(dtype, fill)(gen)
      for (g <- groupings)
        withClue(s"$dtype fill=$fill by $g: ") {
          assertPushedMatches(d)(_.groupBy(g.map(col): _*).agg(
            count(lit(1)), count("value"), sum("value"), min("value"), max("value"), avg("value"),
            max("y"), min("x"), sum(col("value").cast("long"))
          ))
        }
    }
    // floats carry -0.0 next to 0.0, so MIN/MAX must keep Spark's first-seen
    // choice between equal values; casts truncate toward zero
    val floats = Seq(
      ("<f2", (f: Long) => if (f % 11 == 5) -0.0 else ((f % 50) - 25) * 0.5),
      ("<f4", (f: Long) => if (f % 11 == 5) -0.0 else ((f % 997) - 500) * 0.25),
      ("<f8", (f: Long) => if (f % 11 == 5) -0.0 else ((f % 997) - 500) * 0.375),
      (">f4", (f: Long) => if (f % 11 == 5) -0.0 else ((f % 997) - 500) * 0.25),
      (">f8", (f: Long) => if (f % 11 == 5) -0.0 else ((f % 997) - 500) * 0.375)
    )
    for ((dtype, gen) <- floats; fill <- Seq(Some(1.5), None)) {
      val d = dtypeStore(dtype, fill)(gen)
      for (g <- groupings)
        withClue(s"$dtype fill=$fill by $g: ") {
          assertPushedMatches(d)(_.groupBy(g.map(col): _*).agg(
            count(lit(1)), count("value"), min("value"), max("value"),
            sum(col("value").cast("long")), sum(col("value").cast("int")), avg(col("value").cast("short")),
            max(col("value").cast("byte")), min("t"), max("y")
          ))
        }
    }
  }

  test("NaN and infinities: MIN/MAX order them like Spark, casts fail alike") {
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e30)) {
      val d = dtypeStore("<f4", Some(0.0))(f => if (f == 17L) bad else f.toDouble)
      withClue(s"$bad: ") {
        val extremes = assertPushedMatches(d)(_.groupBy("t").agg(min("value"), max("value"), count("value")))
        assert(extremes.isRight)
        val cast = assertPushedMatches(d)(_.agg(count(lit(1)), sum(col("value").cast("long"))))
        assert(cast == Left("CAST_OVERFLOW"), cast)
        // a cell the aggregate does not read raises nothing
        assert(assertPushedMatches(d)(_.filter(col("t") > 0).agg(sum(col("value").cast("long")))).isRight)
      }
    }
    // a value inside the range of long but not of int fails only the int cast
    val big = dtypeStore("<f8", Some(0.0))(f => if (f == 17L) 3e9 else f.toDouble)
    assert(assertPushedMatches(big)(_.agg(sum(col("value").cast("long")))).isRight)
    assert(assertPushedMatches(big)(_.agg(sum(col("value").cast("int")))) == Left("CAST_OVERFLOW"))
  }

  test("integral SUM overflow fails alike under ANSI, wraps alike without it") {
    // every cell is 2^62: any two of them overflow a long, in any order
    val d = dtypeStore("<i8", Some(4.611686018427387904e18))(_ => 4.611686018427387904e18)
    assert(assertPushedMatches(d)(_.agg(sum("value"))) == Left("ARITHMETIC_OVERFLOW"))
    assert(assertPushedMatches(d)(_.groupBy("x").agg(sum("value"))) == Left("ARITHMETIC_OVERFLOW"))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val wrapped = assertPushedMatches(d)(_.groupBy("t").agg(sum("value"), count(lit(1))))
      assert(wrapped.isRight && wrapped.toOption.get.nonEmpty)
      assert(assertPushedMatches(d)(_.agg(sum("value"))).isRight)
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
  }

  test("without ANSI, Spark offers no narrowing cast and the plan stays the chunk scan") {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val q = df.agg(count(lit(1)), sum(col("value").cast("long")))
      q.collect()
      val p = planOf(q)
      assert(p.contains("BatchScan") && !p.contains("partialAgg="), p)
      assert(p.contains("ColumnarToRow"), p)
      // a cast that cannot fail is still offered, and pushes
      val ints = dtypeStore("<i4", Some(0.0))(f => f.toDouble)
      assertPushedMatches(ints)(_.agg(sum(col("value").cast("long")), max(col("value").cast("long"))))
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
  }

  test("aligned arrays fold in lockstep, each with its own missing chunks and fill") {
    val r = Files.createTempDirectory("zarraggaligned").toString
    val dir = ZarrStoreWriter.writeGroup(r)
    ZarrStoreWriter.writeArray(
      dir, "a", Vector(6, 5, 7), Vector(4, 2, 3), "<f4", f => ((f % 97) - 40) * 0.5,
      dims = Some(Vector("t", "y", "x")), fillValue = Some(2.0)
    )
    ZarrStoreWriter.writeArray(
      dir, "b", Vector(6, 5, 7), Vector(4, 2, 3), ">i2", f => (f * 13 % 500 - 250).toDouble,
      dims = Some(Vector("t", "y", "x")), fillValue = None
    )
    ZarrStoreWriter.writeCoord(dir, "t", Coord.Ints(Array(0, 0, 1, 2, 2, 3)))
    Files.delete(dir.resolve("a").resolve("0.1.2"))
    Files.delete(dir.resolve("b").resolve("1.0.0"))
    val d = new ZarrDataReader(spark, r).readAligned(Seq("a", "b"))
    for (g <- Seq(Nil, Seq("t"), Seq("x")))
      withClue(s"by $g: ") {
        assertPushedMatches(d, "a")(_.groupBy(g.map(col): _*).agg(
          count(lit(1)), sum(col("a").cast("long")), max("a"), count("b"), sum("b"), min("b"), max("y")
        ))
        assertPushedMatches(d, "b")(_.groupBy(g.map(col): _*).agg(count("b"), sum("b"), count(lit(1))))
      }
    // pushed index sets with gaps: inner runs are not contiguous, so their
    // cells are gathered one by one
    val picked = d.filter(col("x").isin(0, 2, 3, 6) && col("y").isin(1, 4))
    for (g <- Seq(Nil, Seq("x")))
      assertPushedMatches(picked, "a")(_.groupBy(g.map(col): _*).agg(
        count(lit(1)), sum(col("a").cast("long")), min("b"), max("x"), max("a")
      ))
  }

  test("an empty selection still answers a global partial aggregate") {
    val q = df.filter(col("time") > 100).agg(count(lit(1)), sum(col("value").cast("long")), max("value"))
    assertPartial(q)
    val r = q.collect().head
    assert(r.getLong(0) == 0L && r.isNullAt(1) && r.isNullAt(2))
    assertPushedMatches(df.filter(col("time") > 100))(_.agg(count(lit(1)), sum(col("value").cast("long"))))
    assert(df.filter(col("time") > 100).groupBy("time").agg(sum(col("value").cast("long"))).collect().isEmpty)
  }

  test("scan metrics: chunks read, cells aggregated and partial rows reach the executed plan") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    def scanMetrics(q: DataFrame): Map[String, Long] = {
      q.collect()
      helper.collect(q.queryExecution.executedPlan) { case b: BatchScanExec => b }
        .head.metrics.map { case (k, v) => k -> v.value }
    }
    // 2 x 2 x 2 chunks of 6 x 5 x 8 cells
    val pushed = scanMetrics(df.groupBy("time").agg(sum(col("value").cast("long"))))
    assert(pushed("chunksRead") == 8L && pushed("cellsAggregated") == 1800L, pushed)
    assert(pushed("partialRows") == pushed("numOutputRows") && pushed("partialRows") >= 12L, pushed)
    val rows = scanMetrics(df.filter(col("value") > 0f).select("value"))
    assert(rows("chunksRead") == 8L && rows("cellsAggregated") == 0L && rows("partialRows") == 0L, rows)
    val fmt = df.groupBy("time").agg(sum(col("value").cast("long"))).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(fmt.contains("partialAgg=[SUM(CAST(value AS long))] by [time]"), fmt)
  }
}
