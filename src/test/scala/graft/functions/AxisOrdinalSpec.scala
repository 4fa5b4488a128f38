package graft.functions

import graft.SparkTester

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `AxisOrdinal` must answer exactly what the broadcast equi-join it
  * replaced in the Zarr sink and append answered: the same ordinal for
  * every probe value, null where the join finds no row — under generated
  * code and interpreted evaluation alike. */
class AxisOrdinalSpec extends AnyFunSuite with SparkTester {

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private val codegenOnly = Seq(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"
  )
  private val interpretedOnly = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"
  )

  /** Ordinal per probe id through the join and through the expression. */
  private def check(name: String, dt: DataType, axis: Seq[Any], probes: Seq[Any]): Unit = {
    import scala.jdk.CollectionConverters._
    val axisDf = spark.createDataFrame(
      axis.zipWithIndex.map { case (v, i) => Row(v, i.toLong) }.asJava,
      StructType(Seq(StructField("v", dt, nullable = false), StructField("o", LongType)))
    )
    val probeDf: DataFrame = spark.createDataFrame(
      probes.zipWithIndex.map { case (v, i) => Row(i, v) }.asJava,
      StructType(Seq(StructField("id", IntegerType), StructField("x", dt)))
    )
    val joined = probeDf
      .join(broadcast(axisDf), probeDf("x") === axisDf("v"), "left")
      .select(col("id"), col("o"))
      .collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(joined.size == probes.size, s"$name: the join matched a probe twice")
    val table = AxisTable(dt, axis.map(CatalystTypeConverters.convertToCatalyst).toArray, name)
    for (offset <- Seq(0L, 1000L); conf <- Seq(codegenOnly, interpretedOnly)) withConf(conf: _*) {
      val got = probeDf
        .select(col("id"), GraftBridge.column(AxisOrdinal(GraftBridge.expression(col("x")), table, offset)))
        .collect()
        .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1) - offset)))
        .toMap
      assert(got == joined, s"$name offset $offset ${conf.head}")
    }
    assert(joined.values.count(_.isDefined) >= axis.size / 2, s"$name: probes barely hit the axis")
  }

  test("axis_ordinal equals the broadcast equi-join for every coordinate type and axis order") {
    val rnd = new scala.util.Random(11)
    def shuffled[T](xs: Seq[T]): Seq[T] = rnd.shuffle(xs)
    val ints = shuffled((0 until 50).map(_ * 3))
    check("int", IntegerType, ints, (-5 to 160) ++ Seq(null, Int.MinValue, Int.MaxValue))
    val longs = shuffled(Seq(Long.MinValue, Long.MaxValue, 0L) ++ Seq.fill(40)(rnd.nextLong()))
    check("long", LongType, longs, longs ++ Seq(1L, -1L, null) ++ longs.take(5).map(_ + 1))
    // -0.0 and NaN: the join normalizes both sides, so 0.0 finds -0.0
    // and any NaN finds NaN
    val floats = shuffled(Seq(-1.5f, -0.0f, 2.25f, Float.NaN, Float.MaxValue, Float.NegativeInfinity, Float.MinPositiveValue))
    check(
      "float",
      FloatType,
      floats,
      floats ++ Seq(0.0f, java.lang.Float.intBitsToFloat(0x7fc00001), 1.0f, Float.PositiveInfinity, null)
    )
    // descending, the usual latitude order
    val lats = (0 to 8).map(i => 90.0 - 22.5 * i) :+ Double.NaN
    check("double desc", DoubleType, lats, lats ++ Seq(-0.0, 0.0, 45.0, 1.0, Double.NaN, null))
    check("double shuffled", DoubleType, shuffled(lats), lats ++ Seq(-0.0, 12.5, null))
    val ts = shuffled((0 until 20).map(i => new java.sql.Timestamp(1700000000000L + i * 3600000L)))
    check("timestamp", TimestampType, ts, ts ++ Seq(new java.sql.Timestamp(1700000000001L), null))
    val labels = shuffled(Seq("", "a", "ab", "b", "é", "😀", "z", "Z", "st-10", "st-9"))
    check("string", StringType, labels, labels ++ Seq("aa", "😁", "st-1", null))
    val decs = shuffled(Seq("0", "1", "9223372036854775808", "18446744073709551615", "42").map(new java.math.BigDecimal(_)))
    check("decimal(20,0)", DecimalType(20, 0), decs, decs ++ Seq(new java.math.BigDecimal("2"), null))
  }

  test("axis_ordinal tables reject an axis that holds one value twice") {
    def msg(dt: DataType, vals: Any*): String =
      intercept[IllegalArgumentException](
        AxisTable(dt, vals.map(CatalystTypeConverters.convertToCatalyst).toArray, "axis 'lat'")
      ).getMessage
    assert(msg(IntegerType, 3, 1, 3).contains("ordinals 0 and 2"))
    // -0.0 and 0.0 are one join key, as are two NaNs
    assert(msg(DoubleType, 1.0, -0.0, 0.0).contains("axis 'lat' has the value 0.0 at ordinals 1 and 2"))
    assert(msg(FloatType, Float.NaN, 2.0f, java.lang.Float.intBitsToFloat(0x7fc00001)).contains("exactly one index"))
    assert(msg(StringType, "a", "b", "a").contains("ordinals 0 and 2"))
  }
}
