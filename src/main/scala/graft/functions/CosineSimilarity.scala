package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two double arrays.
  *
  * This is the (b) rung of the custom-operator ladder (SURVEY §7): the
  * zip_with/aggregate composition in graft.similarity.VectorOps allocates
  * an intermediate product array per row and evaluates a chain of
  * higher-order-function lambdas; this expression is one fused loop over
  * the primitive arrays with full `doGenCode` support, so it stays inside
  * whole-stage codegen with zero allocation. Replaces the reference's
  * row-wise python cosine UDF (pyc compute_cosine_similarity@38) at the
  * opposite end of the performance spectrum.
  *
  * Semantics: null if either input is null (nullIntolerant); NaN if either
  * norm is zero (0/0 double division); mismatched lengths use the common
  * prefix (equal-length embeddings are the upstream contract — the prefix
  * keeps the function total instead of throwing mid-job).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    dot / math.sqrt(nx * ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = $dot / java.lang.Math.sqrt($nx * $ny);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column-API entry point for the native expression. */
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(
      CosineSimilarity(GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** graft_cosine(x, x) with ONE accumulator — what
  * CosineSelfSimilarityRule rewrites a self-similarity call to. With
  * both arguments equal, [[CosineSimilarity]]'s three accumulators hold
  * the same sum `s` bit for bit, so `s / sqrt(s * s)` is its exact
  * result for every input: 1.0 for ordinary vectors, NaN for a zero
  * vector or a NaN/infinite element, and whatever overflow or underflow
  * of `s * s` gives for extreme norms — never a value the two-argument
  * form would not produce. */
case class SelfCosine(child: Expression)
    extends UnaryExpression with Serializable {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_self_cosine"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${other.catalogString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < x.numElements()) {
      val xi = x.getDouble(i)
      s += xi * xi
      i += 1
    }
    s / math.sqrt(s * s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val xi = ctx.freshName("xi")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $xi = $a.getDouble($i);
         |  $s += $xi * $xi;
         |}
         |${ev.value} = $s / java.lang.Math.sqrt($s * $s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SelfCosine =
    copy(child = newChild)
}
