package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two double
  * arrays — the codegen'd upgrade of the higher-order-function pipeline
  * (`aggregate(zip_with(...))`) used as the portable baseline in
  * [[graft.ops.Vector]] (SURVEY §4.3: "custom Expression with codegen only
  * as a later optimization").
  *
  * Why an Expression and not a UDF: it compiles into the enclosing
  * whole-stage-codegen loop — one fused pass over the array computing dot
  * and both norms, no lambda-evaluator overhead, no boxing, no codegen
  * fence. Numerics: each accumulator is its own sequential left fold in
  * element order, so results are bit-identical to the separate
  * `aggregate(...)` folds (and to the DuckDB `list_reduce` oracle).
  *
  * Float inputs arrive as `array<float>` and are cast to `array<double>`
  * (exact) by the function builder in [[CosineSimilarity.register]].
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_similarity"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0d; var na = 0d; var nb = 0d
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i);
         |  double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** Builder: any numeric-array input is cast to array<double> (exact for
    * float) so `cosine_similarity(embedding, ...)` works directly on the
    * float32 storage type. */
  private[functions] val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2,
      s"cosine_similarity expects 2 arguments, got ${exprs.length}")
    val cast = exprs.map(e => Cast(e, ArrayType(DoubleType)))
    CosineSimilarity(cast(0), cast(1))
  }

  /** Register `cosine_similarity` on an already-built session (idempotent).
    * For sessions built from config, [[GraftExtensions]] does the same via
    * `spark.sql.extensions`. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      builder)
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` injects the
  * function library at session build time — the standard plugin path for
  * a library shipping Catalyst extensions — together with the Snowflake
  * dialect functions of [[graft.SqlDialect]]. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      CosineSimilarity.builder))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      DotProduct.builder))
    graft.SqlDialect.functions.foreach(ext.injectFunction)
  }
}
