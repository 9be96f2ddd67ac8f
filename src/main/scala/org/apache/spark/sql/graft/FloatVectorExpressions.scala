/** Native vector expressions hosted inside an `org.apache.spark.sql`
  * subpackage: Catalyst's expression-typing API (`AbstractDataType`,
  * `ExpressionUtils.column`) is `private[sql]`, and a sql-subpackage
  * is the standard pattern for out-of-tree extensions that need it.
  */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.Literal
import org.apache.spark.sql.types._

/** Native dot product over two `ARRAY<FLOAT>` columns, with
  * whole-stage codegen (SURVEY §4.3's measured-need custom
  * Expression: the higher-order-function form allocates a zipped
  * intermediate array per row pair, which dominated the all-pairs
  * similarity bench at 24 s / 2M pairs).
  *
  * Semantics are BIT-IDENTICAL to the HOF form
  * `aggregate(zip_with(a, b, (x,y) => double(x)*double(y)), 0.0, _+_)`:
  * a sequential left-to-right accumulation in double precision —
  * the same fold DuckDB's `list_sum(list_transform(...))` performs,
  * keeping oracle parity (asserted in VectorFunctionsSpec).
  *
  * Null handling: null array → null result. Arrays are folded up to
  * the shorter length (embeddings are fixed-dim by construction;
  * element nulls do not occur in engine data).
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "float_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine distance `1 − dot/(‖a‖·‖b‖)` in ONE pass over the
  * arrays (dot and both norm accumulators advance together — the
  * separate-fold form traverses each array three times). Arithmetic
  * is bit-identical to the composed form
  * `1 - try_divide(dot(a,b), sqrt(dot(a,a)) * sqrt(dot(b,b)))`:
  * independent double accumulators in the same element order, then
  * the same sqrt/multiply/divide/subtract sequence. NULL when the
  * norm product is zero (try_divide semantics — quirk Q4 zero
  * vectors are excluded downstream). */
case class FloatCosineDistance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "float_cosine_distance"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else 1.0 - dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($denom == 0.0) { ${ev.isNull} = true; }
         |else { ${ev.value} = 1.0 - $dot / $denom; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatCosineDistance =
    copy(left = newLeft, right = newRight)
}

object FloatVectorFunctions {
  /** Column-level native dot product. */
  def floatDot(a: Column, b: Column): Column =
    ExpressionUtils.column(FloatDotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-level fused cosine distance. */
  def floatCosineDistance(a: Column, b: Column): Column =
    ExpressionUtils.column(FloatCosineDistance(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** An `ARRAY<FLOAT>` literal (elements not null) — the Column
    * `typedLit(v)` builds, with its type given instead of derived by
    * Scala reflection on every call. */
  def floatArrayLit(v: Array[Float]): Column =
    Column(Literal(v, Some(ArrayType(FloatType, containsNull = false))))
}
