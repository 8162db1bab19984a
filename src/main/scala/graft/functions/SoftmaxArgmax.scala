package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * `softmax_argmax(array<double>) -> struct<idx:int, conf:double>` — the
 * M3 scoring tail (argmax + numerically-stabilized softmax confidence,
 * reference: kbp.py:57-58 + utils.py:4-7) as a native Catalyst expression
 * with whole-stage codegen (SURVEY.md §7.6: the optional codegen'd
 * expression, promoted from the UDF route so the scoring tail can live on
 * the Catalyst surface when masks/logits are columnar).
 *
 * Semantics: idx = first index of the maximum (numpy argmax tie-break);
 * conf = softmax(x)[idx] = 1 / Σ exp(x_i - max) (exact np_softmax algebra).
 * Null/empty arrays yield null.
 */
case class SoftmaxArgmax(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"softmax_argmax requires array<double>, got ${other.catalogString}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("conf", DoubleType, nullable = false)))

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0) return null
    var best = 0
    var mx = a.getDouble(0)
    var i = 1
    while (i < n) { val v = a.getDouble(i); if (v > mx) { mx = v; best = i }; i += 1 }
    var s = 0.0
    i = 0
    while (i < n) { s += math.exp(a.getDouble(i) - mx); i += 1 }
    InternalRow(best, 1.0 / s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val best = ctx.freshName("best")
      val mx = ctx.freshName("mx")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      val rowClass = classOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow].getName
      s"""
         |final int $n = $arr.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $best = 0;
         |  double $mx = $arr.getDouble(0);
         |  for (int $i = 1; $i < $n; $i++) {
         |    final double $v = $arr.getDouble($i);
         |    if ($v > $mx) { $mx = $v; $best = $i; }
         |  }
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += java.lang.Math.exp($arr.getDouble($i) - $mx);
         |  }
         |  ${ev.value} = new $rowClass(new Object[] {
         |    java.lang.Integer.valueOf($best), java.lang.Double.valueOf(1.0 / $s) });
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SoftmaxArgmax =
    copy(child = newChild)

  override def prettyName: String = "softmax_argmax"
}

object SoftmaxArgmax {

  /** Register in the session's FunctionRegistry (SQL + Column surface via
    * `call_function`), once per session. Spark 4 keeps the
    * Column↔Expression bridge spark-private, so the registry is the public
    * integration point. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = registered.get(spark, "softmax")

  private val registered = new graft.SessionDirCache[Unit]((spark, _) => {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    castToImpl(spark).sessionState.functionRegistry.createOrReplaceTempFunction(
      "softmax_argmax", exprs => SoftmaxArgmax(exprs.head), "built-in")
  })

  /** Column-API surface; requires [[register]] to have run for the session. */
  def softmax_argmax(c: Column): Column =
    org.apache.spark.sql.functions.call_function("softmax_argmax", c)
}
