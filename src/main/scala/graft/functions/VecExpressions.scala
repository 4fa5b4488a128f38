package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd dot product over two `array<float>` columns, accumulated
  * in double left-to-right (same fold order as `aggregate(zip_with(...))` and
  * DuckDB's list_dot_product, so results are bit-identical to the oracle).
  *
  * Why a custom Expression (SURVEY.md §7.2): the higher-order-function
  * formulation allocates an intermediate array per row and boxes every
  * element; at 25M candidate pairs x 64 dims that dominated the ANN bench.
  * This version is a tight primitive loop inside whole-stage codegen —
  * no allocation, no boxing. */
case class FloatVecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires two array<float> arguments, got ${l.sql} and ${r.sql}"
      )
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      }
    )

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Native codegen'd dot product over two int8 code arrays (`array<tinyint>`,
  * the storage type of [[graft.operators.Similarity.sqQuantize]]'s scalar-
  * quantized embeddings), accumulated in LONG — exact integer arithmetic, so
  * the result is identical at any parallelism and engine (the x67 oracle
  * recomputes it in SQL). Codes are in [-127, 127]; 2^15 per-element bound x
  * array length makes overflow unreachable below ~2^48 dims.
  *
  * Why a custom Expression (SURVEY.md §7.2): this is the scoring kernel of
  * the quantized ANN path — it runs once per candidate pair. The
  * higher-order-function formulation allocates an intermediate array and
  * boxes every element per pair; this is a primitive loop inside
  * whole-stage codegen, and the int multiply is ~2x cheaper than the float
  * path it approximates. */
case class ByteVecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.ByteType, _),
          ArrayType(org.apache.spark.sql.types.ByteType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"byte_dot requires two array<tinyint> arguments, got ${l.sql} and ${r.sql}"
      )
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getByte(i).toLong * y.getByte(i).toLong; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |long $acc = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += (long) $a.getByte($i) * (long) $b.getByte($i);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      }
    )

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Random-hyperplane LSH bucket id as ONE codegen expression: `nBits` sign
  * bits of `vec · plane(b)`, planes being deterministic ±1 matrices derived
  * from md5 digests of "bit:dim" — no RNG state to ship, and portable (the
  * x60 oracle recomputes the same matrix in DuckDB SQL).
  *
  * Why md5 and not a cheap linear hash: sign rows from a linear
  * congruential family are SHIFTS of one progression, and measured row
  * correlations reach |0.97| — near-duplicate hyperplanes. On 200k uniform
  * 64-dim vectors at nBits=16 that collapses 65,536 buckets to ~14.7k
  * occupied and inflates the bucket-join candidate volume to 180.9M pairs;
  * md5-derived signs (max |row corr| 0.41, the n=64 sampling floor) give
  * 49.3k occupied buckets and 0.72M pairs — 251x less work for the same
  * recall contract. The matrix is built ONCE on the driver (nBits*dim md5
  * calls), so per-row cost is identical. See Spike x60-planted.
  *
  * Why a custom Expression (SURVEY.md §7.2): the compositional formulation
  * (`element_at` per (bit, dim) summed per bit) builds an O(nBits·dim)
  * expression tree — ~1k nodes at 16x64 and ~12k at 768-dim embeddings,
  * risking codegen-size fallback and 64k-method splits. Here the whole
  * bucket id is a two-level loop over a precomputed sign matrix referenced
  * once; codegen size is constant in (nBits, dim).
  *
  * Eval contract: double accumulation left-to-right per bit; a null
  * element nulls that bit's contribution (bit unset); `contrib > 0` sets
  * bit b to `1L << b`. */
case class LshBucketBits(child: Expression, dim: Int, nBits: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(nBits >= 1 && nBits <= 62, s"nBits must be in [1, 62], got $nBits")
  require(dim >= 1, s"dim must be positive, got $dim")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"lsh_bucket requires array<float>, got ${other.sql}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true

  /** plane(b)(i) = ±1 from the parity of md5("b:i")'s first hex nibble —
    * full-avalanche (decorrelated rows) and portable: DuckDB reproduces it
    * as `CAST('0x' || substr(md5(b || ':' || i), 1, 1) AS INT) % 2`. */
  private lazy val signs: Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nBits * dim) { j =>
      val b = j / dim
      val i = j % dim
      md.reset()
      val d = md.digest(s"$b:$i".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      if (((d(0) >>> 4) & 0xF) % 2 == 0) 1.0 else -1.0
    }
  }

  private def requireDim(n: Int): Unit =
    if (n < dim)
      throw new IllegalArgumentException(s"lsh_bucket: vector has $n elements, expected >= $dim")

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    requireDim(v.numElements())
    var bucket = 0L
    var b = 0
    while (b < nBits) {
      var acc = 0.0
      var sawNull = false
      val base = b * dim
      var i = 0
      while (i < dim && !sawNull) {
        if (v.isNullAt(i)) sawNull = true
        else acc += v.getFloat(i).toDouble * signs(base + i)
        i += 1
      }
      if (!sawNull && acc > 0) bucket |= (1L << b)
      b += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("lshSigns", signs, "double[]")
    val self = ctx.addReferenceObj("lshExpr", this, classOf[LshBucketBits].getName)
    nullSafeCodeGen(
      ctx,
      ev,
      v => {
        val b = ctx.freshName("b")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val sawNull = ctx.freshName("sawNull")
        val bucket = ctx.freshName("bucket")
        val base = ctx.freshName("base")
        s"""
           |$self.requireDimJava($v.numElements());
           |long $bucket = 0L;
           |for (int $b = 0; $b < $nBits; $b++) {
           |  double $acc = 0.0;
           |  boolean $sawNull = false;
           |  int $base = $b * $dim;
           |  for (int $i = 0; $i < $dim && !$sawNull; $i++) {
           |    if ($v.isNullAt($i)) { $sawNull = true; }
           |    else { $acc += (double) $v.getFloat($i) * $signsRef[$base + $i]; }
           |  }
           |  if (!$sawNull && $acc > 0) $bucket |= (1L << $b);
           |}
           |${ev.value} = $bucket;
         """.stripMargin
      }
    )
  }

  /** Public bridge for generated code (codegen can't call the private). */
  def requireDimJava(n: Int): Unit = requireDim(n)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VecFunctions {
  def vecDot(a: Column, b: Column): Column =
    GraftBridge.column(FloatVecDot(GraftBridge.expression(a), GraftBridge.expression(b)))

  def byteDot(a: Column, b: Column): Column =
    GraftBridge.column(ByteVecDot(GraftBridge.expression(a), GraftBridge.expression(b)))

  def lshBucketBits(vec: Column, dim: Int, nBits: Int): Column =
    GraftBridge.column(LshBucketBits(GraftBridge.expression(vec), dim, nBits))
}
