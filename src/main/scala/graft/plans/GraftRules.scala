package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Rewrites the composable higher-order-function dot product
  * `aggregate(zip_with(a, b, (x, y) => x * y), 0d, (acc, x) => acc + x)`
  * into the codegen'd [[DotProduct]] expression.
  *
  * The HOF form is the natural way to WRITE a dot product in the
  * DataFrame API, but it allocates an intermediate array per row and
  * walks interpreted lambda machinery — measured 141 s vs 2.7 s for the
  * sf0.1 all-pairs cosine scan. With this rule installed, user code can
  * stay declarative and still get the tight loop: the same contract
  * Catalyst applies everywhere (declare intent, the optimizer picks the
  * implementation).
  *
  * The match is deliberately conservative: both arrays must be
  * `ARRAY<DOUBLE>`, the zero must be literal 0.0, the zip lambda a
  * multiplication of exactly its two variables, the merge lambda an
  * addition of exactly its two variables, and the finish lambda the
  * identity. Addition/multiplication accept either operand order (IEEE
  * FP `+`/`*` are commutative — it is associativity that breaks, and the
  * rewrite preserves the left-to-right fold order).
  */
object RewriteHofDotProduct extends Rule[LogicalPlan] {

  private def varsOf(args: Seq[NamedExpression]): Set[ExprId] =
    args.collect { case v: NamedLambdaVariable => v.exprId }.toSet

  private def refsExactly(l: Expression, r: Expression, args: Seq[NamedExpression]): Boolean =
    (l, r) match {
      case (lv: NamedLambdaVariable, rv: NamedLambdaVariable) =>
        args.size == 2 && Set(lv.exprId, rv.exprId) == varsOf(args)
      case _ => false
    }

  private def isIdentity(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(arg: NamedLambdaVariable), _) =>
      v.exprId == arg.exprId
    case _ => false
  }

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(a, b, LambdaFunction(Multiply(ml, mr, _), zargs, _)),
          Literal(0.0, DoubleType),
          LambdaFunction(Add(al, ar, _), margs, _),
          finish: LambdaFunction)
        if isDoubleArray(a) && isDoubleArray(b) &&
          refsExactly(ml, mr, zargs) && refsExactly(al, ar, margs) &&
          isIdentity(finish) =>
      DotProduct(a, b)
  }
}
