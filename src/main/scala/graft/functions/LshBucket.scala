package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Random-hyperplane LSH bucket of an ARRAY<DOUBLE> vector over the
  * plane range `[from, until)` of `Hashing.planeWeight`'s lattice: bit
  * `p − from` is set iff the vector's dot product with plane `p`'s
  * `dim` weights is `> 0`.
  *
  * One expression with a primitive loop per plane, generated into
  * whole-stage codegen, in place of a sum of `CASE WHEN dot(v, [w…]) >
  * 0` terms with `until − from` literal weight arrays of `dim` entries
  * each — a tree that Catalyst carried (and `explain` printed) once for
  * every plan the bucket column appears in.
  *
  * Same arithmetic as that form, so buckets are bit-identical to it
  * and to the DuckDB oracle's `list_reduce` mirror: each plane's dot
  * product is `DotProductDouble`'s left fold `((0 + v0·w0) + v1·w1) +
  * …` over `min(len(v), dim)` elements, the test is a strict `> 0`
  * (NaN sets no bit), and the bits add up. A NULL vector maps to bucket
  * 0, as the CASE form's ELSE branch did. */
case class LshBucket(child: Expression, from: Int, until: Int, dim: Int)
    extends UnaryExpression {

  require(0 <= from && from < until && until - from <= 63 && dim >= 0,
    s"lsh_bucket: bad plane range [$from, $until) or dim $dim")

  /** Plane-major weights: plane `p`'s weight `d` at `(p − from)·dim + d`. */
  @transient private lazy val weights: Array[Double] =
    LshBucket.weights(from, until, dim)

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_bucket"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects an ARRAY<DOUBLE> input, got $other")
    }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else {
      val x = v.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), dim)
      var bucket = 0L
      var p = 0
      while (p < until - from) {
        var acc = 0.0d
        var i = 0
        while (i < n) {
          acc += x.getDouble(i) * weights(p * dim + i)
          i += 1
        }
        if (acc > 0) bucket += 1L << p
        p += 1
      }
      bucket
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val w = ctx.addReferenceObj("lshWeights", weights, "double[]")
    val n = ctx.freshName("n")
    val p = ctx.freshName("p")
    val i = ctx.freshName("i")
    val acc = ctx.freshName("acc")
    ev.copy(code = code"""
      |${c.code}
      |long ${ev.value} = 0L;
      |if (!${c.isNull}) {
      |  final int $n = java.lang.Math.min(${c.value}.numElements(), $dim);
      |  for (int $p = 0; $p < ${until - from}; $p++) {
      |    double $acc = 0.0d;
      |    for (int $i = 0; $i < $n; $i++) {
      |      $acc += ${c.value}.getDouble($i) * $w[$p * $dim + $i];
      |    }
      |    if ($acc > 0) ${ev.value} += 1L << $p;
      |  }
      |}
       """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBucket {
  private[functions] def weights(from: Int, until: Int, dim: Int): Array[Double] =
    Array.tabulate((until - from) * dim)(k =>
      Hashing.planeWeight(from + k / dim, k % dim).toDouble)

  /** Column-API entry point. */
  def apply(v: Column, from: Int, until: Int, dim: Int): Column =
    GraftColumnBridge.column(LshBucket(GraftColumnBridge.expression(v), from, until, dim))
}
