package graft.sources.zarr

import graft.sources.Coord

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{EvalMode, GenericInternalRow, Literal, Cast => CatalystCast}
import org.apache.spark.sql.catalyst.util.MathUtils
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** What one partially pushed aggregate function reads. */
sealed trait AggOperand extends Serializable

object AggOperand {
  /** An eager dimension column. */
  final case class Dim(d: Int) extends AggOperand
  /** Value column `col` (position in the scan's value columns), cast to an
    * integral type when `cast` is set. */
  final case class Value(col: Int, cast: Option[DataType]) extends AggOperand
}

/** One partially pushed aggregate function and its output field. */
sealed trait PartialFn extends Serializable {
  def out: StructField
}

object PartialFn {
  final case class CountAll(out: StructField) extends PartialFn
  final case class Count(of: AggOperand, out: StructField) extends PartialFn
  final case class Sum(of: AggOperand.Value, out: StructField) extends PartialFn
  final case class Extreme(of: AggOperand, min: Boolean, out: StructField) extends PartialFn
}

/** A partial aggregate the scan computes: one row per (partition, group),
  * `[group dims…, fns…]`, which Spark's final aggregate merges. `ansi` is
  * the session's ANSI mode when the scan was planned: it decides whether
  * an integral sum overflow raises or wraps. */
final case class PartialAgg(
    groupDims: Vector[Int],
    fns: Vector[PartialFn],
    ansi: Boolean,
    schema: StructType,
    describe: String
) {
  def valueCols: Vector[Int] =
    fns.flatMap {
      case PartialFn.CountAll(_) => None
      case PartialFn.Count(o, _) => Some(o)
      case PartialFn.Sum(o, _) => Some(o)
      case PartialFn.Extreme(o, _, _) => Some(o)
    }.collect { case AggOperand.Value(k, _) => k }.distinct.sorted
}

object ZarrPartialAgg {

  /** Value dtypes the reader folds: every cell of a present chunk is a
    * non-null number. */
  def foldable(code: Int): Boolean = integral(code) || floating(code)

  def integral(code: Int): Boolean = code match {
    case ZDtype.I1 | ZDtype.U1 | ZDtype.I2 | ZDtype.U2 | ZDtype.I4 | ZDtype.U4 | ZDtype.I8 => true
    case _ => false
  }

  def floating(code: Int): Boolean = code == ZDtype.F2 || code == ZDtype.F4 || code == ZDtype.F8

  private def width(dt: DataType): Int = dt match {
    case ByteType => 1
    case ShortType => 2
    case IntegerType => 4
    case LongType => 8
    case _ => 0
  }

  def integralType(dt: DataType): Boolean = width(dt) > 0

  /** Casting a value of `from` to the integral `to` can never fail. */
  def widening(from: DataType, to: DataType): Boolean = width(from) > 0 && width(from) <= width(to)

  /** Spark's ordering for MIN/MAX: NaN above every number, equal values
    * (0.0 and -0.0) equal, so the first one seen stays. */
  def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: Float, y: Float) => if (x == y) 0 else java.lang.Float.compare(x, y)
    case (x: Double, y: Double) => if (x == y) 0 else java.lang.Double.compare(x, y)
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: org.apache.spark.unsafe.types.UTF8String, y: org.apache.spark.unsafe.types.UTF8String) => x.compareTo(y)
    case _ => throw new IllegalStateException(s"unorderable aggregate cells: $a / $b")
  }
}

/** Scan metrics, summed over tasks (each class needs a no-argument
  * constructor: Spark instantiates it by name to aggregate). */
final class ZarrChunksReadMetric extends CustomSumMetric {
  override def name(): String = ZarrScanMetrics.ChunksRead
  override def description(): String = "zarr chunks read"
}

final class ZarrCellsAggregatedMetric extends CustomSumMetric {
  override def name(): String = ZarrScanMetrics.CellsAggregated
  override def description(): String = "zarr cells aggregated in the scan"
}

final class ZarrPartialRowsMetric extends CustomSumMetric {
  override def name(): String = ZarrScanMetrics.PartialRows
  override def description(): String = "zarr partial aggregate rows"
}

object ZarrScanMetrics {
  val ChunksRead = "chunksRead"
  val CellsAggregated = "cellsAggregated"
  val PartialRows = "partialRows"

  def supported: Array[CustomMetric] =
    Array(new ZarrChunksReadMetric, new ZarrCellsAggregatedMetric, new ZarrPartialRowsMetric)

  private def task(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }

  def values(chunks: Long, cells: Long = 0L, rows: Long = 0L): Array[CustomTaskMetric] =
    Array(task(ChunksRead, chunks), task(CellsAggregated, cells), task(PartialRows, rows))
}

/** A [[ZarrCursor]] stepped one whole innermost run at a time. Every run
  * starts at the first kept index of the innermost dim, so it covers that
  * dim's whole kept slice of the chunk. */
final class RunCursor(
    arrayDir: String,
    meta: ZarrArrayMeta,
    partition: ZarrInputPartition,
    storageOptions: Map[String, String],
    dimRuns: Vector[DimRuns],
    needValue: Boolean,
    pruner: Option[ZarrChunkStats.Pruner]
) extends ZarrCursor(arrayDir, meta, partition, storageOptions, dimRuns, needValue, pruner) {
  def nextRun(): Boolean = nextCell()
  def runLength: Int = innerRemaining
  /** The current chunk, or null when it is missing from the store. */
  def chunk: ZarrBuffer = buf.orNull
  def flat: Int = currentLocalFlat
  // inner-run contiguity is a per-chunk property; cached per chunk
  private var contigGen = -1L
  private var contigNow = false
  def contiguous: Boolean = {
    if (contigGen != chunkGen) { contigNow = rank == 0 || innerRunContiguous; contigGen = chunkGen }
    contigNow
  }
  /** Chunk-buffer offset of cell `i` of a run that is not contiguous. */
  def gatherFlat(i: Int): Int = {
    val inner = dimRuns(rank - 1)
    val p = keptPos(rank - 1)
    currentLocalFlat + inner.keptAt(p + i) - inner.keptAt(p)
  }
  def pos(d: Int): Int = keptPos(d)
  def generation: Long = chunkGen
  def skip(n: Int): Unit = if (rank == 0) consumeCell() else consumeRun(n)
}

/** One value column's current run, widened to long (integral dtypes) or
  * double (float dtypes) into a reused scratch array. A missing chunk reads
  * as the fill value, or as an all-null run when the array has none —
  * exactly as the scan's columnar reader fills it. */
private final class ColumnRun(val cursor: RunCursor, meta: ZarrArrayMeta) {
  val integral: Boolean = ZarrPartialAgg.integral(meta.zdtype.code)
  var longs: Array[Long] = new Array[Long](256)
  var doubles: Array[Double] = new Array[Double](256)
  var isNull = false

  private val code = meta.zdtype.code
  private val direct =
    !meta.zdtype.bigEndian && java.nio.ByteOrder.nativeOrder == java.nio.ByteOrder.LITTLE_ENDIAN
  private val base = Platform.BYTE_ARRAY_OFFSET.toLong

  /** (chunk, flat, count, out offset): widens `count` cells from `flat`.
    * Bound once per dtype; little-endian 4- and 8-byte cells read the raw
    * chunk bytes directly. */
  private val decode: (ZarrBuffer, Int, Int, Int) => Unit = code match {
    case ZDtype.I4 if direct =>
      (b, f, c, o) => { val r = b.raw; var i = 0; while (i < c) { longs(o + i) = Platform.getInt(r, base + 4L * (f + i)); i += 1 } }
    case ZDtype.I8 if direct =>
      (b, f, c, o) => { val r = b.raw; var i = 0; while (i < c) { longs(o + i) = Platform.getLong(r, base + 8L * (f + i)); i += 1 } }
    case ZDtype.F4 if direct =>
      (b, f, c, o) => { val r = b.raw; var i = 0; while (i < c) { doubles(o + i) = Platform.getFloat(r, base + 4L * (f + i)); i += 1 } }
    case ZDtype.F8 if direct =>
      (b, f, c, o) => { val r = b.raw; var i = 0; while (i < c) { doubles(o + i) = Platform.getDouble(r, base + 8L * (f + i)); i += 1 } }
    case ZDtype.I1 => (b, f, c, o) => { var i = 0; while (i < c) { longs(o + i) = b.getByte(f + i); i += 1 } }
    case ZDtype.U1 => (b, f, c, o) => { var i = 0; while (i < c) { longs(o + i) = b.getU1(f + i); i += 1 } }
    case ZDtype.I2 => (b, f, c, o) => { var i = 0; while (i < c) { longs(o + i) = b.getShort(f + i); i += 1 } }
    case ZDtype.U2 => (b, f, c, o) => { var i = 0; while (i < c) { longs(o + i) = b.getU2(f + i); i += 1 } }
    case ZDtype.I4 => (b, f, c, o) => { var i = 0; while (i < c) { longs(o + i) = b.getInt(f + i); i += 1 } }
    case ZDtype.U4 => (b, f, c, o) => { var i = 0; while (i < c) { longs(o + i) = b.getU4(f + i); i += 1 } }
    case ZDtype.I8 => (b, f, c, o) => { var i = 0; while (i < c) { longs(o + i) = b.getLong(f + i); i += 1 } }
    case ZDtype.F2 => (b, f, c, o) => { var i = 0; while (i < c) { doubles(o + i) = b.getHalf(f + i); i += 1 } }
    case ZDtype.F4 => (b, f, c, o) => { var i = 0; while (i < c) { doubles(o + i) = b.getFloat(f + i); i += 1 } }
    case ZDtype.F8 => (b, f, c, o) => { var i = 0; while (i < c) { doubles(o + i) = b.getDouble(f + i); i += 1 } }
    case other => throw new IllegalStateException(s"dtype code $other is not foldable")
  }

  // the fill as the columnar reader puts it (bindFillPutNumeric)
  private val fillLong: Long = meta.fillValue.fold(0L) { fv =>
    code match {
      case ZDtype.I1 => fv.toByte.toLong
      case ZDtype.U1 | ZDtype.I2 => fv.toShort.toLong
      case ZDtype.U2 | ZDtype.I4 => fv.toInt.toLong
      case _ => fv.toLong
    }
  }
  private val fillDouble: Double = meta.fillValue.fold(0.0)(fv => if (code == ZDtype.F8) fv else fv.toFloat.toDouble)

  def load(c: Int): Unit = {
    if (longs.length < c) { longs = new Array[Long](c); doubles = new Array[Double](c) }
    val b = cursor.chunk
    if (b == null) {
      isNull = meta.fillValue.isEmpty
      if (!isNull) {
        if (integral) java.util.Arrays.fill(longs, 0, c, fillLong)
        else java.util.Arrays.fill(doubles, 0, c, fillDouble)
      }
    } else {
      isNull = false
      if (cursor.contiguous) decode(b, cursor.flat, c, 0)
      else { var i = 0; while (i < c) { decode(b, cursor.gatherFlat(i), 1, i); i += 1 } }
    }
  }
}

/** A value column as an aggregate reads it: as is, or cast to an integral
  * type. Values inside the target's range convert by truncation, which is
  * Spark's result there; any other value (NaN, ±Inf, out of range) is cast
  * by Spark's own ANSI `Cast`, which raises its `CAST_OVERFLOW` error. */
private final class ValueOperand(val col: ColumnRun, valueType: DataType, cast: Option[DataType]) {
  val integral: Boolean = cast.isDefined || col.integral
  // a widening cast leaves every value as it is
  private val checked = cast.exists(t => !ZarrPartialAgg.widening(valueType, t))
  private var out: Array[Long] = new Array[Long](256)
  def isNull: Boolean = col.isNull
  def longs: Array[Long] = if (checked) out else col.longs
  def doubles: Array[Double] = col.doubles

  private val (lo, hi): (Long, Long) = cast match {
    case Some(ByteType) => (Byte.MinValue.toLong, Byte.MaxValue.toLong)
    case Some(ShortType) => (Short.MinValue.toLong, Short.MaxValue.toLong)
    case Some(IntegerType) => (Int.MinValue.toLong, Int.MaxValue.toLong)
    case _ => (Long.MinValue, Long.MaxValue)
  }
  // the half-open double range whose values truncate into [lo, hi]
  private val dLo = lo.toDouble
  private val dHi = -dLo

  private def sparkCast(v: Any): Long =
    CatalystCast(Literal(v, valueType), cast.get, None, EvalMode.ANSI).eval() match {
      case n: java.lang.Number => n.longValue
      case other => throw new IllegalStateException(s"cast of $v to ${cast.get} gave $other")
    }

  def load(c: Int): Unit =
    if (checked && !col.isNull) {
      if (out.length < c) out = new Array[Long](c)
      if (col.integral) {
        val in = col.longs
        var i = 0
        while (i < c) {
          val v = in(i)
          out(i) = if (v >= lo && v <= hi) v else sparkCast(boxIntegral(v))
          i += 1
        }
      } else {
        val in = col.doubles
        var i = 0
        while (i < c) {
          val x = in(i)
          out(i) = if (x >= dLo && x < dHi) x.toLong else sparkCast(if (valueType == FloatType) x.toFloat else x)
          i += 1
        }
      }
    }

  private def boxIntegral(v: Long): Any = valueType match {
    case ByteType => v.toByte
    case ShortType => v.toShort
    case IntegerType => v.toInt
    case _ => v
  }
}

/** One aggregate function's per-slot state. */
private abstract class Fold {
  def grow(slots: Int): Unit
  /** Folds cells `[from, until)` of the current run into `slot`. */
  def run(slot: Int, from: Int, until: Int): Unit
  def result(slot: Int): Any
}

private final class CountFold(live: () => Boolean) extends Fold {
  private var n = new Array[Long](1)
  def grow(slots: Int): Unit = n = java.util.Arrays.copyOf(n, slots)
  def run(slot: Int, from: Int, until: Int): Unit = if (live()) n(slot) += until - from
  def result(slot: Int): Any = n(slot)
}

/** Integral sum, added in cell order like Spark's own: under ANSI an
  * overflow raises Spark's `ARITHMETIC_OVERFLOW` error, otherwise it wraps. */
private final class SumFold(op: ValueOperand, ansi: Boolean) extends Fold {
  private var s = new Array[Long](1)
  private var seen = new Array[Boolean](1)
  def grow(slots: Int): Unit = { s = java.util.Arrays.copyOf(s, slots); seen = java.util.Arrays.copyOf(seen, slots) }
  def run(slot: Int, from: Int, until: Int): Unit = if (!op.isNull) {
    val a = op.longs
    var acc = s(slot)
    var i = from
    if (ansi)
      try while (i < until) { acc = Math.addExact(acc, a(i)); i += 1 }
      catch { case _: ArithmeticException => MathUtils.addExact(acc, a(i)) }
    else while (i < until) { acc += a(i); i += 1 }
    s(slot) = acc
    seen(slot) = true
  }
  def result(slot: Int): Any = if (seen(slot)) s(slot) else null
}

private final class LongExtremeFold(op: ValueOperand, min: Boolean, out: DataType) extends Fold {
  private var best = new Array[Long](1)
  private var seen = new Array[Boolean](1)
  def grow(slots: Int): Unit = { best = java.util.Arrays.copyOf(best, slots); seen = java.util.Arrays.copyOf(seen, slots) }
  def run(slot: Int, from: Int, until: Int): Unit = if (!op.isNull) {
    val a = op.longs
    var b = if (seen(slot)) best(slot) else a(from)
    var i = from
    if (min) while (i < until) { if (a(i) < b) b = a(i); i += 1 }
    else while (i < until) { if (a(i) > b) b = a(i); i += 1 }
    best(slot) = b
    seen(slot) = true
  }
  def result(slot: Int): Any =
    if (!seen(slot)) null
    else out match {
      case ByteType => best(slot).toByte
      case ShortType => best(slot).toShort
      case IntegerType => best(slot).toInt
      case _ => best(slot)
    }
}

/** Float MIN/MAX in Spark's ordering (see [[ZarrPartialAgg.compare]]). */
private final class DoubleExtremeFold(op: ValueOperand, min: Boolean, float: Boolean) extends Fold {
  private var best = new Array[Double](1)
  private var seen = new Array[Boolean](1)
  def grow(slots: Int): Unit = { best = java.util.Arrays.copyOf(best, slots); seen = java.util.Arrays.copyOf(seen, slots) }
  def run(slot: Int, from: Int, until: Int): Unit = if (!op.isNull) {
    val a = op.doubles
    var b = if (seen(slot)) best(slot) else a(from)
    var i = from
    if (min) while (i < until) { val v = a(i); if (v < b || (b != b && v == v)) b = v; i += 1 }
    else while (i < until) { val v = a(i); if (v > b || (v != v && b == b)) b = v; i += 1 }
    best(slot) = b
    seen(slot) = true
  }
  def result(slot: Int): Any = if (!seen(slot)) null else if (float) best(slot).toFloat else best(slot)
}

/** MIN/MAX of a dimension column. Outer dims are constant over a run; the
  * innermost dim's extreme over a whole run is the same for every run of a
  * chunk, so it is computed once per chunk. */
private final class DimFold(cursor: RunCursor, d: Int, inner: Boolean, at: Int => Any, min: Boolean) extends Fold {
  private var best = new Array[AnyRef](1)
  private var cachedGen = -1L
  private var cached: Any = null

  def grow(slots: Int): Unit = best = java.util.Arrays.copyOf(best, slots)

  private def better(v: Any, b: Any): Boolean =
    b == null || (if (min) ZarrPartialAgg.compare(v, b) < 0 else ZarrPartialAgg.compare(v, b) > 0)

  private def extreme(p0: Int, count: Int): Any = {
    var b: Any = null
    var i = 0
    while (i < count) { val v = at(p0 + i); if (better(v, b)) b = v; i += 1 }
    b
  }

  def run(slot: Int, from: Int, until: Int): Unit = {
    val p = cursor.pos(d)
    val v =
      if (!inner) at(p)
      else if (from == 0 && until == cursor.runLength) {
        if (cachedGen != cursor.generation) { cached = extreme(p, until); cachedGen = cursor.generation }
        cached
      } else extreme(p + from, until - from)
    if (better(v, best(slot))) best(slot) = v.asInstanceOf[AnyRef]
  }

  def result(slot: Int): Any = best(slot)
}

/** Reads one partition of a partially pushed aggregate: walks the same
  * partitions, runs, pruner and fill rules as [[ZarrColumnarReader]], one
  * cursor per value column the aggregate reads, all in lockstep, and folds
  * each innermost run straight from the decoded chunk. Emits one row per
  * group it saw (a global aggregate always emits one). */
final class ZarrAggReader(
    valueColumns: Seq[(String, String, ZarrArrayMeta)],
    partition: ZarrInputPartition,
    storageOptions: Map[String, String],
    dimRuns: Vector[DimRuns],
    keptCoords: Map[Int, Coord],
    pruner: Option[ZarrChunkStats.Pruner],
    agg: PartialAgg
) extends PartitionReader[InternalRow] {

  private def cursor(k: Int, needValue: Boolean): RunCursor = {
    val (_, dir, m) = valueColumns(k)
    new RunCursor(dir, m, partition, storageOptions, dimRuns, needValue, pruner)
  }

  private val columns: Map[Int, ColumnRun] =
    agg.valueCols.map(k => k -> new ColumnRun(cursor(k, needValue = true), valueColumns(k)._3)).toMap
  private val cursors: Array[RunCursor] =
    if (columns.isEmpty) Array(cursor(0, needValue = false))
    else agg.valueCols.map(k => columns(k).cursor).toArray
  private val lead = cursors(0)
  private val rank = valueColumns.head._3.rank

  private val operands = scala.collection.mutable.LinkedHashMap[AggOperand.Value, ValueOperand]()
  private def operand(v: AggOperand.Value): ValueOperand =
    operands.getOrElseUpdate(v, new ValueOperand(columns(v.col), valueColumns(v.col)._3.valueType, v.cast))

  /** Kept position -> Spark value of an eager dim (Index dims are positional). */
  private def coordAt(d: Int): Int => Any = keptCoords.get(d) match {
    case Some(c) => p => c(p)
    case None => p => dimRuns(d).keptAt(p).toLong
  }

  private val folds: Array[Fold] = agg.fns.map {
    // a dim coordinate is never null (the planner takes no label axis here)
    case PartialFn.CountAll(_) | PartialFn.Count(AggOperand.Dim(_), _) => new CountFold(() => true)
    case PartialFn.Count(v: AggOperand.Value, _) =>
      val op = operand(v)
      new CountFold(() => !op.isNull)
    case PartialFn.Sum(v, _) => new SumFold(operand(v), agg.ansi)
    case PartialFn.Extreme(AggOperand.Dim(d), min, _) => new DimFold(lead, d, d == rank - 1, coordAt(d), min)
    case PartialFn.Extreme(v: AggOperand.Value, min, out) =>
      val op = operand(v)
      if (op.integral) new LongExtremeFold(op, min, out.dataType)
      else new DoubleExtremeFold(op, min, out.dataType == FloatType)
  }.toArray
  private val columnRuns: Array[ColumnRun] = agg.valueCols.map(columns).toArray
  private val valueOperands: Array[ValueOperand] = operands.values.toArray

  // ---- groups: one slot per distinct tuple of group-dim kept positions,
  // keyed mixed-radix (the planner bounds the key space to a long)
  private val groupDims = agg.groupDims.toArray
  private val radix: Array[Long] = {
    val r = new Array[Long](groupDims.length)
    var m = 1L
    var j = groupDims.length - 1
    while (j >= 0) { r(j) = m; m *= dimRuns(groupDims(j)).nKept; j -= 1 }
    r
  }
  private val innerGroup = groupDims.indexOf(rank - 1)
  private val slotOf = new java.util.HashMap[java.lang.Long, Integer]()
  private var slotPos: Array[Array[Int]] = Array.fill(groupDims.length)(new Array[Int](1))
  private var nSlots = 0
  private var capacity = 1
  private var lastKey = -1L
  private var lastSlot = -1

  private def slot(key: Long, innerOffset: Int): Int =
    if (key == lastKey) lastSlot
    else {
      val hit = slotOf.get(key)
      val s =
        if (hit != null) hit.intValue
        else {
          if (nSlots == capacity) {
            capacity *= 2
            folds.foreach(_.grow(capacity))
            slotPos = slotPos.map(a => java.util.Arrays.copyOf(a, capacity))
          }
          var j = 0
          while (j < groupDims.length) {
            slotPos(j)(nSlots) = lead.pos(groupDims(j)) + (if (j == innerGroup) innerOffset else 0)
            j += 1
          }
          slotOf.put(key, nSlots)
          nSlots += 1
          nSlots - 1
        }
      lastKey = key
      lastSlot = s
      s
    }

  private var cells = 0L
  private var rows: Iterator[InternalRow] = _
  private var current: InternalRow = _

  private def diverged(k: Int): IllegalStateException =
    new IllegalStateException(
      s"aligned aggregate readers diverged (${valueColumns(agg.valueCols(k))._1} vs ${valueColumns(agg.valueCols(0))._1})"
    )

  private def foldAll(s: Int, from: Int, until: Int): Unit = {
    var f = 0
    while (f < folds.length) { folds(f).run(s, from, until); f += 1 }
  }

  private def foldPartition(): Unit = {
    if (groupDims.isEmpty) { nSlots = 1; folds.foreach(_.grow(1)) }
    else folds.foreach(_.grow(capacity))
    while (lead.nextRun()) {
      val c = lead.runLength
      var k = 1
      while (k < cursors.length) {
        val f = cursors(k)
        if (!f.nextRun() || f.generation != lead.generation || f.runLength != c) throw diverged(k)
        k += 1
      }
      k = 0
      while (k < columnRuns.length) { columnRuns(k).load(c); k += 1 }
      k = 0
      while (k < valueOperands.length) { valueOperands(k).load(c); k += 1 }
      if (groupDims.isEmpty) foldAll(0, 0, c)
      else {
        var key = 0L
        var j = 0
        while (j < groupDims.length) { key += lead.pos(groupDims(j)) * radix(j); j += 1 }
        if (innerGroup < 0) foldAll(slot(key, 0), 0, c)
        else {
          var i = 0
          while (i < c) { foldAll(slot(key + i * radix(innerGroup), i), i, i + 1); i += 1 }
        }
      }
      k = 0
      while (k < cursors.length) { cursors(k).skip(c); k += 1 }
      cells += c
    }
    // a follower with cells left over means the readers disagree
    var k = 1
    while (k < cursors.length) { if (cursors(k).nextRun()) throw diverged(k); k += 1 }
  }

  private val groupAt: Array[Int => Any] = groupDims.map(coordAt)

  private def emit(s: Int): InternalRow = {
    val out = new Array[Any](groupDims.length + folds.length)
    var j = 0
    while (j < groupDims.length) { out(j) = groupAt(j)(slotPos(j)(s)); j += 1 }
    var f = 0
    while (f < folds.length) { out(j + f) = folds(f).result(s); f += 1 }
    new GenericInternalRow(out)
  }

  override def next(): Boolean = {
    if (rows == null) {
      foldPartition()
      rows = Iterator.range(0, nSlots).map(emit)
    }
    if (rows.hasNext) { current = rows.next(); true }
    else false
  }

  override def get(): InternalRow = current

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    ZarrScanMetrics.values(cursors.map(_.chunksRead).sum, cells, if (rows == null) 0L else nSlots.toLong)

  override def close(): Unit = ()
}

final class ZarrAggReaderFactory(
    valueColumns: Seq[(String, String, ZarrArrayMeta)],
    storageOptions: Map[String, String],
    state: ScanRunsState,
    pruner: Option[ZarrChunkStats.Pruner],
    agg: PartialAgg
) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ZarrAggReader(
      valueColumns, partition.asInstanceOf[ZarrInputPartition], storageOptions,
      state.dimRuns, state.keptCoords, pruner, agg
    )
}
