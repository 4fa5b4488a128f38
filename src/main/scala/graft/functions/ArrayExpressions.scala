package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Count of common elements between two SORTED, DISTINCT `array<long>`
  * columns — a single merge pass, no per-row hash set or output array.
  *
  * Why a custom Expression (SURVEY.md §7.2): pairwise set intersection is the
  * hot loop of exact Jaccard dedup (`Dedup.jaccardPairs`). Spark's
  * `array_intersect` builds an OpenHashSet AND materializes the intersection
  * array per pair; at p pairs x t tokens that allocation dominates. Sorting
  * each token array ONCE per row (n·t·log t) then merge-counting per pair
  * (p·t, allocation-free, branch-predictable) is the textbook trade — the
  * same shape DuckDB/Photon use for sorted-set operations.
  *
  * Inputs MUST be sorted ascending with no duplicates (e.g.
  * `sort_array(array_distinct(...))`); otherwise the count undercounts.
  */
case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
      TypeCheckResult.TypeCheckSuccess
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      // getLong on a null slot reads an undefined value (0 for unsafe rows)
      // and would silently miscount — refuse at analysis time instead
      TypeCheckResult.TypeCheckFailure(
        "sorted_intersect_count requires arrays with non-nullable elements " +
          "(wrap inputs in sort_array(array_distinct(...)) over non-null expressions)"
      )
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count requires two array<bigint> arguments, got ${l.sql} and ${r.sql}"
      )
  }
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val c = ctx.freshName("c")
        val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
        s"""
           |int $nx = $a.numElements();
           |int $ny = $b.numElements();
           |int $i = 0; int $j = 0; int $c = 0;
           |while ($i < $nx && $j < $ny) {
           |  long $xv = $a.getLong($i);
           |  long $yv = $b.getLong($j);
           |  if ($xv < $yv) { $i++; }
           |  else if ($xv > $yv) { $j++; }
           |  else { $c++; $i++; $j++; }
           |}
           |${ev.value} = $c;
         """.stripMargin
      }
    )

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ArrayFunctions {
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftBridge.column(
      SortedIntersectCount(GraftBridge.expression(a), GraftBridge.expression(b))
    )
}
