package graft

import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions, the one function-registration path: `Sessions.local`
  * builds the shared session with it, and re-applying it through the
  * GraftBridge test seam (extensions normally run only at session build)
  * restores the functions after they are dropped. */
class ExtensionsSpec extends AnyFunSuite with SparkTester {

  test("GraftExtensions injects vec_dot, byte_dot and sorted_intersect_count") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    Seq("vec_dot", "byte_dot", "sorted_intersect_count").foreach { f =>
      assert(reg.functionExists(FunctionIdentifier(f)), s"Sessions.local did not install $f")
      reg.dropFunction(FunctionIdentifier(f))
      assert(!reg.functionExists(FunctionIdentifier(f)))
    }
    GraftBridge.installFunctionExtensions(new GraftExtensions, spark)
    val d = spark
      .sql("""SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
             |               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
             |  sorted_intersect_count(array(1L, 2L, 5L), array(2L, 3L, 5L)) AS c,
             |  byte_dot(array(CAST(3 AS TINYINT), CAST(-2 AS TINYINT)),
             |           array(CAST(5 AS TINYINT), CAST(7 AS TINYINT))) AS b""".stripMargin)
      .collect()
      .head
    assert(d.getDouble(0) == 11.0)
    assert(d.getInt(1) == 2)
    assert(d.getLong(2) == 1L)
  }
}
