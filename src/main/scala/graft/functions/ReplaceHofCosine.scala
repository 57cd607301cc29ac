package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.HIGH_ORDER_FUNCTION

/** Optimizer rule (SURVEY.md §4.2 custom piece): rewrite the higher-order
  * -function cosine-similarity pattern
  *
  *   aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,x) -> acc+x)
  *   / (sqrt(<same with a,a>) * sqrt(<same with b,b>))
  *
  * into the native codegen'd [[CosineSimilarity]] expression. The HOF form
  * materializes an intermediate array per row and evaluates three lambda
  * chains; the native form is one fused loop inside whole-stage codegen.
  * Semantics are identical (same accumulation order, double arithmetic).
  *
  * [[GraftExtensions]] injects it into the operator-optimization batches
  * of every session; it visits only plans that hold a higher-order
  * function.
  */
object ReplaceHofCosine extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(HIGH_ORDER_FUNCTION)) {
      case Divide(
            DotAgg(a1, b1),
            Multiply(SqrtOf(DotAgg(a2, a3)), SqrtOf(DotAgg(b2, b3)), _), _)
          if a2.semanticEquals(a3) && b2.semanticEquals(b3) &&
            a1.semanticEquals(a2) && b1.semanticEquals(b2) =>
        CosineSimilarity(a1, b1)
    }

  private object SqrtOf {
    def unapply(e: Expression): Option[Expression] = e match {
      case Sqrt(x) => Some(x)
      case _ => None
    }
  }

  /** Matches aggregate(zip_with(a, b, multiply-lambda), 0-literal,
    * add-lambda[, identity-finish]) → (a, b). */
  private object DotAgg {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case ArrayAggregate(
            ZipWith(a, b, LambdaFunction(Multiply(x1: NamedLambdaVariable, y1: NamedLambdaVariable, _), _, _)),
            zero @ Literal(_, _),
            LambdaFunction(Add(acc: NamedLambdaVariable, x2: NamedLambdaVariable, _), _, _),
            finish)
          if isZero(zero) && isIdentityFinish(finish) =>
        Some((a, b))
      case _ => None
    }

    private def isZero(l: Literal): Boolean = l.value match {
      case d: java.lang.Double => d == 0.0
      case f: java.lang.Float => f == 0.0f
      case i: java.lang.Integer => i == 0
      case _ => false
    }

    private def isIdentityFinish(e: Expression): Boolean = e match {
      case LambdaFunction(v: NamedLambdaVariable, Seq(arg: NamedLambdaVariable), _) =>
        v.exprId == arg.exprId
      case _ => false
    }
  }
}
