package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One coordinate axis as a (value -> ordinal) lookup table, built on the
  * driver and shipped inside the plan. Keys are sorted by value in a
  * primitive array (`int[]`/`long[]`/`float[]`/`double[]`) or an array of
  * `UTF8String`/`Decimal`; `ords(i)` is the axis position of `keys(i)`,
  * and `ords == null` means the axis is already ascending (position =
  * sorted index), so the common case ships no second array.
  *
  * Float keys follow Spark's equi-join normalization: `-0.0` is stored as
  * `0.0` and every NaN as the canonical NaN, so a lookup matches exactly
  * the rows a join on the same values would. Null axis cells get no entry
  * (a join never matches null); two cells with one value are rejected,
  * since a value must name one index. */
final class AxisTable private (val dataType: DataType, val keys: AnyRef, val ords: Array[Int])
    extends Serializable {

  def size: Int = java.lang.reflect.Array.getLength(keys)

  /** Axis position of an internal (Catalyst) value, or -1 when the value is
    * off the axis. The interpreted twin of [[AxisOrdinal]]'s generated code. */
  def find(v: Any): Int = {
    val i = keys match {
      case k: Array[Int] => java.util.Arrays.binarySearch(k, v.asInstanceOf[Int])
      case k: Array[Long] => java.util.Arrays.binarySearch(k, v.asInstanceOf[Long])
      case k: Array[Float] => java.util.Arrays.binarySearch(k, AxisTable.normF(v.asInstanceOf[Float]))
      case k: Array[Double] => java.util.Arrays.binarySearch(k, AxisTable.normD(v.asInstanceOf[Double]))
      case k: Array[AnyRef] => java.util.Arrays.binarySearch(k, v) // UTF8String/Decimal: Comparable
    }
    if (i < 0) -1 else if (ords == null) i else ords(i)
  }

  override def toString: String = s"axis[$size x ${dataType.simpleString}]"
}

object AxisTable {

  /** Builds the table of an axis given in AXIS ORDER as internal (Catalyst)
    * values: `values(i)` has ordinal `i`. `what` prefixes the duplicate-
    * value message (e.g. "zarr append: axis 'lat'"). */
  def apply(dt: DataType, values: Array[Any], what: String): AxisTable = {
    val live = values.indices.filter(values(_) != null).toArray
    val n = live.length
    val keyDt = keyType(dt)
    def at(i: Int): Any = keyDt match {
      case FloatType => normF(values(i).asInstanceOf[Float])
      case DoubleType => normD(values(i).asInstanceOf[Double])
      case _ => values(i)
    }
    val cmp: (Any, Any) => Int = keyDt match {
      case IntegerType => (a, b) => Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
      case LongType => (a, b) => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
      case FloatType => (a, b) => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
      case DoubleType => (a, b) => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
      case _ => (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b) // UTF8String: bytes; Decimal: value
    }
    // axes usually arrive monotone (the sink sorts them; stores often run
    // latitude 90 -> -90): then no sort runs
    val order: Array[Int] =
      if ((1 until n).forall(j => cmp(at(live(j - 1)), at(live(j))) < 0)) live
      else if ((1 until n).forall(j => cmp(at(live(j - 1)), at(live(j))) > 0)) live.reverse
      else live.map(Int.box).sortWith((a, b) => cmp(at(a), at(b)) < 0).map(_.intValue)
    var j = 1
    while (j < n) {
      if (cmp(at(order(j - 1)), at(order(j))) == 0)
        throw new IllegalArgumentException(
          s"$what has the value ${values(order(j))} at ordinals ${order(j - 1)} and ${order(j)} — " +
            "each axis value must name exactly one index"
        )
      j += 1
    }
    val keys: AnyRef = keyDt match {
      case IntegerType => order.map(at(_).asInstanceOf[Int])
      case LongType => order.map(at(_).asInstanceOf[Long])
      case FloatType => order.map(at(_).asInstanceOf[Float])
      case DoubleType => order.map(at(_).asInstanceOf[Double])
      case StringType => order.map(i => values(i).asInstanceOf[UTF8String].clone())
      case _ => order.map(values(_).asInstanceOf[Decimal])
    }
    val identity = order.indices.forall(i => order(i) == i)
    new AxisTable(dt, keys, if (identity) null else order)
  }

  /** The key domain of a coordinate type: date, timestamp and day-time
    * interval values are their internal int/long. */
  def keyType(dt: DataType): DataType = dt match {
    case IntegerType | DateType => IntegerType
    case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType => LongType
    case FloatType | DoubleType | StringType => dt
    case _: DecimalType => DecimalType.SYSTEM_DEFAULT
    case other => throw new IllegalArgumentException(s"axis lookup: unsupported coordinate type $other")
  }

  /** Whether a column of type `a` can look up an axis of type `b`. */
  def sameDomain(a: DataType, b: DataType): Boolean = (a, b) match {
    case (_: DayTimeIntervalType, _: DayTimeIntervalType) | (_: DecimalType, _: DecimalType) => true
    case _ => a == b
  }

  def normF(v: Float): Float = if (v == 0.0f) 0.0f else if (v != v) Float.NaN else v
  def normD(v: Double): Double = if (v == 0.0) 0.0 else if (v != v) Double.NaN else v
}

/** `ordinal + offset` of the child's value on a coordinate axis, or null
  * when the value is null or off the axis: the lookup a broadcast equi-join
  * against a (value, ordinal) frame performs, as one generated-code binary
  * search with no join, exchange or hashed relation. The Zarr sink and
  * append map every driver-side axis through it; rows it maps to null are
  * counted (append) and rejected by the write tasks. */
case class AxisOrdinal(child: Expression, table: AxisTable, offset: Long) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (AxisTable.sameDomain(child.dataType, table.dataType)) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"axis_ordinal: a ${child.dataType.sql} column cannot look up a ${table.dataType.sql} axis"
      )

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val i = table.find(input)
    if (i < 0) null else i + offset
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keyJava = table.keys.getClass.getCanonicalName // int[], ..., UTF8String[]
    val keys = ctx.addReferenceObj("axisKeys", table.keys, keyJava)
    val idx = ctx.freshName("axisIdx")
    val key = AxisTable.keyType(table.dataType) match {
      case FloatType => "graft.functions.AxisTable.normF(%s)"
      case DoubleType => "graft.functions.AxisTable.normD(%s)"
      case StringType | _: DecimalType => "(Object) %s"
      case _ => s"(${CodeGenerator.javaType(child.dataType)}) %s"
    }
    val ordinal =
      if (table.ords == null) idx
      else s"${ctx.addReferenceObj("axisOrds", table.ords, "int[]")}[$idx]"
    nullSafeCodeGen(
      ctx,
      ev,
      c => s"""
              |int $idx = java.util.Arrays.binarySearch($keys, ${key.format(c)});
              |if ($idx < 0) {
              |  ${ev.isNull} = true;
              |} else {
              |  ${ev.value} = (long) $ordinal + ${offset}L;
              |}
            """.stripMargin
    )
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
