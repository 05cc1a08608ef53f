package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression for the float-vector dot product.
  *
  * This is the hot kernel of every similarity query (64 multiply-adds per
  * row pair). A Scala UDF pays ArrayData→boxed-Seq conversion per call —
  * ~1.6B boxed floats over a 12M-pair scan; Catalyst higher-order functions
  * are interpreted per element. A BinaryExpression with `doGenCode` keeps
  * the loop inside whole-stage codegen reading `ArrayData` primitives
  * directly — no allocation, no boxing, JIT-vectorizable.
  *
  * The accumulation order is the same left-to-right double fold as the
  * DuckDB oracle SQL (`Similarity.dotSql`) and the JVM kernels
  * (`Similarity.dotJvm`), so results stay bit-identical across all paths.
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must be array<float> (the embeddings column type); no implicit
  // coercion is declared — mismatched inputs fail analysis via eval/codegen
  // typing rather than being silently cast
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += xs.getFloat(i).toDouble * ys.getFloat(i).toDouble; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
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
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** Column-API entry point for [[DotProductFloat]]. */
  def dotF(a: Column, b: Column): Column =
    Bridge.column(DotProductFloat(Bridge.expression(a), Bridge.expression(b)))
}

/** Session extension registering the vector kernels as SQL functions —
  * `SELECT graft_dot(a.embedding, b.embedding)` works from plain SQL.
  * Installed via `SparkSession.builder.withExtensions(new GraftExtensions)`
  * (see [[graft.Sessions]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductFloat].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProductFloat(children(0), children(1))))
    // exact fixed-point sum: SELECT graft_sum128(x, 6) — scale must be a
    // literal (it parameterizes the aggregation buffer, not the data)
    ext.injectFunction((
      new FunctionIdentifier("graft_sum128"),
      new ExpressionInfo(classOf[Sum128].getName, "graft_sum128"),
      (children: Seq[Expression]) => {
        val scale = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => v.toString.toInt
          case _ => throw new IllegalArgumentException(
            "graft_sum128(col, scale): scale must be an integer literal")
        }
        Sum128(children(0), scale)
      }))
    // z-order clustering key: SELECT graft_zorder(x, y)
    ext.injectFunction((
      new FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrder16].getName, "graft_zorder"),
      (children: Seq[Expression]) => ZOrder16(children(0), children(1))))
    // whole-operator extension: plans graft.plans.TopKPerGroup logical
    // nodes as the partial->exchange->final bounded-heap pipeline
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // graft.operators.PrefixSum: distributed global row numbers and
    // running sums, both passes inside the query's own execution
    ext.injectPlannerStrategy(_ => graft.operators.PrefixSumStrategy)
    // opt-in optimizer rule: rewrite `row_number() ... WHERE rn <= k`
    // window patterns into TopKPerGroup (spark.graft.topkRewrite=true)
    ext.injectOptimizerRule(_ => graft.plans.RewriteWindowTopK)
    // opt-in optimizer rule: rewrite `abs(x - y) <= tol` band joins into
    // the bucketed equi-join (spark.graft.bandJoinRewrite=true)
    ext.injectOptimizerRule(_ => graft.plans.RewriteBandJoin)
  }
}
