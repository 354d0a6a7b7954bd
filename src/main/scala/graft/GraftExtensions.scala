package graft

import graft.functions.DotI64
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, Expression, ExpressionInfo, LambdaFunction, Literal, Multiply, NamedLambdaVariable, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Session extensions (`SparkSession.builder.withExtensions(GraftExtensions)`
  * or `spark.sql.extensions=graft.GraftExtensions`):
  *
  *  - registers `dot_i64` as a SQL function so `spark.sql("… dot_i64(a,b)")`
  *    reaches the native codegen'd kernel;
  *  - injects [[RewriteHofDot]], which rewrites the `functions`-composed
  *    dot product `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (s,x) -> s+x)`
  *    into [[DotI64]] — users writing the idiomatic HOF form get the
  *    whole-stage-codegen kernel for free (HOFs are CodegenFallback and
  *    allocate an intermediate product array per row).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_i64"),
      new ExpressionInfo(classOf[DotI64].getName, "dot_i64"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"dot_i64 takes 2 arguments, got ${args.length}")
        DotI64(args(0), args(1))
      }))
    ext.injectOptimizerRule(_ => RewriteHofDot)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions extends GraftExtensions

/** `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (s,x) -> s+x)` →
  * `dot_i64(a, b)`. Null semantics are identical in every case — null
  * array → null, a null element poisons the product which poisons the
  * running sum, and a length mismatch is null on both sides (zip_with
  * pads with nulls; [[DotI64]] returns null on unequal lengths) — so the
  * rewrite is safe whenever the aggregate's finish lambda is the identity
  * (i.e. the three-argument form). Only the exact multiply/add shape with a
  * zero initial literal rewrites — anything else keeps the HOF plan.
  *
  * The traversal is gated on the HIGH_ORDER_FUNCTION tree-pattern bit, so
  * for the vast majority of plans (every SPARQL/path/FTS plan — no HOFs)
  * the rule is a single cached-bitset test per optimizer fixpoint
  * iteration, not a tree walk. This matters because a distributed path
  * search re-plans once per level and would otherwise multiply any
  * per-plan traversal cost. */
object RewriteHofDot extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.trees.TreePattern

  private object MulLambda {
    def unapply(f: LambdaFunction): Boolean = f match {
      case LambdaFunction(Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
          Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _) =>
        (x.exprId == a.exprId && y.exprId == b.exprId) ||
          (x.exprId == b.exprId && y.exprId == a.exprId)
      case _ => false
    }
  }

  private object AddLambda {
    def unapply(f: LambdaFunction): Boolean = f match {
      case LambdaFunction(Add(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
          Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _) =>
        (x.exprId == a.exprId && y.exprId == b.exprId) ||
          (x.exprId == b.exprId && y.exprId == a.exprId)
      case _ => false
    }
  }

  private object ZeroLit {
    def unapply(e: Expression): Boolean = e match {
      case Literal(0L, _) => true
      case Literal(0, _) => true
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(
      _.containsPattern(TreePattern.HIGH_ORDER_FUNCTION)) {
      case agg @ ArrayAggregate(
          ZipWith(a, b, MulLambda()), ZeroLit(), AddLambda(), finish: LambdaFunction)
          if isIdentity(finish) && agg.dataType == org.apache.spark.sql.types.LongType =>
        DotI64(a, b)
    }

  private def isIdentity(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(x: NamedLambdaVariable, Seq(a: NamedLambdaVariable), _) =>
      x.exprId == a.exprId
    case _ => false
  }
}
