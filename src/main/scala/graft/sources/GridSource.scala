package graft.sources

import graft.model._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._

/** Typed 1-D coordinate vector for one dimension (reference: 1-D coordinate
  * arrays read per dim, src/data_access/coordinate_processor.py:101-145;
  * missing coordinates fall back to positional integer indices :260-262). */
sealed trait Coord extends Serializable {
  def dataType: DataType
  def apply(i: Int): Any
  def length: Int

  /** The values at positions `at(0) … at(n - 1)` as a coord of the same
    * kind — the kept-aligned typed array the zarr readers index by kept
    * position. None for Index (served arithmetically) and Deferred
    * (decoded executor-side), which hold no driver-side values. */
  def gather(n: Int, at: Int => Int): Option[Coord] = this match {
    case Coord.Ints(a) => Some(Coord.Ints(Array.tabulate(n)(i => a(at(i)))))
    case Coord.Longs(a) => Some(Coord.Longs(Array.tabulate(n)(i => a(at(i)))))
    case Coord.Floats(a) => Some(Coord.Floats(Array.tabulate(n)(i => a(at(i)))))
    case Coord.Doubles(a) => Some(Coord.Doubles(Array.tabulate(n)(i => a(at(i)))))
    case Coord.Timestamps(a) => Some(Coord.Timestamps(Array.tabulate(n)(i => a(at(i)))))
    case Coord.Strings(a) => Some(Coord.Strings(Array.tabulate(n)(i => a(at(i)))))
    case Coord.Intervals(a) => Some(Coord.Intervals(Array.tabulate(n)(i => a(at(i)))))
    case Coord.Index(_) | Coord.Deferred(_, _) => None
  }
}
object Coord {
  final case class Ints(a: Array[Int]) extends Coord {
    def dataType = IntegerType; def apply(i: Int) = a(i); def length = a.length
  }
  final case class Longs(a: Array[Long]) extends Coord {
    def dataType = LongType; def apply(i: Int) = a(i); def length = a.length
  }
  final case class Floats(a: Array[Float]) extends Coord {
    def dataType = FloatType; def apply(i: Int) = a(i); def length = a.length
  }
  final case class Doubles(a: Array[Double]) extends Coord {
    def dataType = DoubleType; def apply(i: Int) = a(i); def length = a.length
  }
  /** Positional fallback when a dimension has no coordinate array. */
  final case class Index(n: Int) extends Coord {
    def dataType = LongType; def apply(i: Int) = i.toLong; def length = n
  }
  /** Timestamp coordinate (datetime64 time axes). `apply` returns the
    * Spark-INTERNAL representation (epoch micros as Long) — correct for the
    * InternalRow/columnar zarr readers; not usable with external-Row
    * builders like [[GridSource.toDF]], which rejects it. */
  final case class Timestamps(a: Array[Long]) extends Coord {
    def dataType = TimestampType; def apply(i: Int) = a(i); def length = a.length
  }
  /** String coordinate (station-name / label axes). `apply` returns the
    * Spark-INTERNAL UTF8String — zarr readers only, like Timestamps. */
  final case class Strings(a: Array[org.apache.spark.unsafe.types.UTF8String]) extends Coord {
    def dataType = StringType; def apply(i: Int) = a(i); def length = a.length
  }
  /** Interval coordinate (timedelta64 lead-time / "step" axes). `apply`
    * returns Spark-internal micros — zarr readers only, like Timestamps. */
  final case class Intervals(a: Array[Long]) extends Coord {
    def dataType = DayTimeIntervalType(); def apply(i: Int) = a(i); def length = a.length
  }
  /** Long-dimension coordinate whose VALUES never materialize on the driver
    * (a 10^8-element time axis is ~0.8 GB — driver-held arrays are a hard
    * 100x-scale ceiling). Only the Spark type rides in the plan; executors
    * decode the coordinate array's own chunks per ordinal range (zarr
    * readers), and driver-side filter pushdown streams those chunks one at
    * a time instead of indexing an array. `apply` is deliberately
    * unreachable. */
  final case class Deferred(dt: DataType, n: Int) extends Coord {
    def dataType = dt
    def apply(i: Int) =
      throw new UnsupportedOperationException("deferred coordinate has no driver-side values")
    def length = n
  }
}

/** In-memory / generated n-D grid description: the M1 source. `value` maps an
  * ORIGINAL-shape flat C-order index to the cell value, so selections never
  * materialize the full block and partitions generate rows independently —
  * the distributed replacement for the reference's eager driver-side read
  * (reference: src/data_access/zarr_reader.py:318-322). */
final case class GridSpec(
    dims: Vector[String],
    shape: Vector[Int],
    coords: Vector[Coord],
    value: Long => Double
) {
  require(dims.length == shape.length && shape.length == coords.length)
  coords.zip(shape).foreach { case (c, n) => require(c.length == n, "coord length != extent") }
}

/** n-D grid → long-format DataFrame `[dims…, value]` with dimension-selection
  * applied at generation time (no shuffle; embarrassingly parallel over flat
  * index ranges — each Spark task owns a contiguous C-order range, mirroring
  * the reference's chunked conversion, src/data_access/polars_converter.py:236-303). */
object GridSource {
  def toDF(
      spark: SparkSession,
      spec: GridSpec,
      sel: Map[String, DimSel] = Map.empty,
      numPartitions: Option[Int] = None
  ): DataFrame = {
    require(
      !spec.coords.exists(c =>
        c.isInstanceOf[Coord.Timestamps] || c.isInstanceOf[Coord.Deferred] ||
          c.isInstanceOf[Coord.Strings] || c.isInstanceOf[Coord.Intervals]
      ),
      "GridSource builds external Rows; Coord.Timestamps/Strings/Intervals/Deferred are for the zarr readers only"
    )
    val rs = Selection.resolve(spec.shape, spec.dims, sel)
    val outDims = rs.outDims
    val schema = StructType(
      outDims.map(d => StructField(spec.dims(d), spec.coords(d).dataType, nullable = false)) :+
        StructField("value", DoubleType, nullable = false)
    )
    val total = rs.totalCells
    val selShape = rs.selShape
    val keep = rs.keep
    val origStrides = IndexMath.strides(spec.shape)
    val coords = spec.coords
    val valueF = spec.value
    val rank = spec.shape.length
    val parts = numPartitions.getOrElse(spark.sparkContext.defaultParallelism)

    import spark.implicits._
    val base = spark.range(0, total, 1, math.max(1, math.min(parts, math.max(1, (total / 1000).toInt))))
    base
      .mapPartitions { it =>
        val pos = new Array[Int](rank)
        val orig = new Array[Int](rank)
        it.map { flat =>
          IndexMath.unflatten(flat, selShape, pos)
          var d = 0
          while (d < rank) { orig(d) = keep(d)(pos(d)); d += 1 }
          val v = valueF(IndexMath.flatten(orig, origStrides))
          val fields = new Array[Any](outDims.length + 1)
          var o = 0
          while (o < outDims.length) { fields(o) = coords(outDims(o))(orig(outDims(o))); o += 1 }
          fields(outDims.length) = v
          Row.fromSeq(fields.toIndexedSeq)
        }
      }(Encoders.row(schema))
      .toDF()
  }
}
