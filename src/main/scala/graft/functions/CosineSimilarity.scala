package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd cosine similarity over two float-array columns
  * (SURVEY.md §7.3 — the one performance-justified custom Expression).
  *
  * Math contract: accumulate in double, sequential element order,
  * `dot / (sqrt(nx) * sqrt(ny))` — bit-compatible with the functional
  * `zip_with`/`aggregate` composition it replaces and with DuckDB's
  * `list_cosine_similarity` on double-cast lists, but it stays inside
  * whole-stage codegen instead of falling back to interpreted
  * higher-order functions (~10× on the all-pairs paths).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double xi = (double) $a.getFloat($i);
        |  double yi = (double) $b.getFloat($i);
        |  $dot += xi * yi; $nx += xi * xi; $ny += yi * yi;
        |}
        |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Driver/executor-LOCAL cosine over decoded float sequences — the
    * single JVM-side definition of the expression's math contract
    * (double accumulation, sequential element order,
    * `dot / (sqrt·sqrt)`, zero-norm → NaN exactly as the codegen
    * divides 0/0). Shared by [[graft.operators.VectorOps.mmrRerank]]'s
    * greedy and the specs' expected-value recomputations, so there is
    * ONE cosine in the codebase, not three drifting copies
    * (VERDICT r14 item 8). Callers that must not see NaN guard it
    * themselves — a silent 0.0 here would diverge from the SQL path.
    */
  def local(a: Seq[Float], b: Seq[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = a(i).toDouble; val yi = b(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}
