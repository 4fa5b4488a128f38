package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension installing graft's native functions (`vec_dot`,
  * `byte_dot`, `sorted_intersect_count`) — the one registration path.
  * `Sessions.local` builds its session `.withExtensions(new GraftExtensions)`;
  * at deploy time `--conf spark.sql.extensions=graft.GraftExtensions` does
  * the same for every session of a cluster (including pure-SQL users via
  * Thrift/Connect). Extensions apply when a session is BUILT, so a session
  * that already exists when `Sessions.local` runs keeps its registry. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.binary

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (
        FunctionIdentifier("vec_dot"),
        new ExpressionInfo(classOf[functions.FloatVecDot].getName, "vec_dot"),
        binary("vec_dot", functions.FloatVecDot.apply)
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("byte_dot"),
        new ExpressionInfo(classOf[functions.ByteVecDot].getName, "byte_dot"),
        binary("byte_dot", functions.ByteVecDot.apply)
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("sorted_intersect_count"),
        new ExpressionInfo(classOf[functions.SortedIntersectCount].getName, "sorted_intersect_count"),
        binary("sorted_intersect_count", functions.SortedIntersectCount.apply)
      )
    )
  }
}

object GraftExtensions {
  /** Arity-checked builder: wrong-arity SQL gets a clear message instead of
    * a raw IndexOutOfBoundsException during resolution. */
  private[graft] def binary(
      name: String,
      f: (Expression, Expression) => Expression
  ): Seq[Expression] => Expression =
    children => {
      if (children.size != 2)
        throw new IllegalArgumentException(
          s"$name requires exactly 2 arguments, got ${children.size}"
        )
      f(children(0), children(1))
    }
}
