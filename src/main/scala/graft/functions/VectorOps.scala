package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native vector kernels for the embedding operators: `dot_product` and
 * `cosine_sim` over `array<double>` as codegen'd Catalyst expressions.
 *
 * These replace `aggregate(zip_with(...))` higher-order-function chains in
 * the similarity hot paths: HOFs evaluate a lambda per element and
 * materialize the zipped array per call, while these compile to a tight
 * primitive loop inside whole-stage codegen. The summation order is
 * left-to-right exactly like `aggregate` folds, so results are
 * bit-identical to the HOF forms (the DuckDB oracles and frozen content
 * pins stay green across the swap).
 *
 * Length mismatch or empty input yields null (HOF zip_with would pad with
 * null and poison the sum; a mismatched pair is a data error either way).
 * A null ELEMENT also yields null — matching the HOF forms, where a null
 * slot poisons `aggregate`'s running sum to null (not silently 0.0).
 */
abstract class VectorBinaryExpression extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<double>, array<double>), got " +
            s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
}

case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {

  override def nullSafeEval(a0: Any, b0: Any): Any = {
    val a = a0.asInstanceOf[ArrayData]
    val b = b0.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0 || n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null // HOF null propagation
      s += a.getDouble(i) * b.getDouble(i); i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $a.numElements();
         |if ($n == 0 || $n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |    } else {
         |      $s += $a.getDouble($i) * $b.getDouble($i);
         |    }
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $s;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)

  override def prettyName: String = "dot_product"
}

case class CosineSim(left: Expression, right: Expression) extends VectorBinaryExpression {

  override def nullSafeEval(a0: Any, b0: Any): Any = {
    val a = a0.asInstanceOf[ArrayData]
    val b = b0.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0 || n != b.numElements()) return null
    var dot = 0.0
    var sa = 0.0
    var sb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null // HOF null propagation
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; sa += x * x; sb += y * y
      i += 1
    }
    dot / (math.sqrt(sa) * math.sqrt(sb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val sa = ctx.freshName("sa")
      val sb = ctx.freshName("sb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |final int $n = $a.numElements();
         |if ($n == 0 || $n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $sa = 0.0, $sb = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |    } else {
         |      final double $x = $a.getDouble($i);
         |      final double $y = $b.getDouble($i);
         |      $dot += $x * $y; $sa += $x * $x; $sb += $y * $y;
         |    }
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($sa) * java.lang.Math.sqrt($sb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)

  override def prettyName: String = "cosine_sim"
}

object VectorOps {

  /** Registers both functions once per session (same route as [[SoftmaxArgmax]]). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = registered.get(spark, "vector")

  private val registered = new graft.SessionDirCache[Unit]((spark, _) => {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val reg = castToImpl(spark).sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSim(exprs(0), exprs(1)), "built-in")
  })

  def dot_product(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("dot_product", a, b)

  def cosine_sim(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("cosine_sim", a, b)
}
