package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two `ARRAY<DOUBLE>` columns.
  *
  * The composable form — `aggregate(zip_with(a, b, _*_), 0d, _+_)` — walks
  * generic lambda machinery and allocates an intermediate array per row; at
  * millions of pairs that dominated the similarity benchmarks (141 s for
  * the sf0.1 all-pairs near-dup scan). This expression generates a tight
  * primitive loop inside whole-stage codegen instead (~40× on that query).
  * Summation is left-to-right like the HOF form and DuckDB's list
  * functions, so oracle results are unchanged bit-for-bit.
  *
  * Observationally equivalent to the HOF form on ALL inputs, so
  * [[RewriteHofDotProduct]] may substitute it unconditionally:
  * `zip_with` pads the shorter array with null and `x * null` is null, so
  * a length mismatch makes the HOF fold null — this expression returns
  * null there too. Likewise a null element anywhere poisons the HOF sum,
  * so any null element yields null here. The null-element scan is emitted
  * only when the input type says `containsNull` — dense embeddings keep
  * the tight two-load loop.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<DOUBLE> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  // Null even when both inputs are non-null (length mismatch / null element).
  override def nullable: Boolean = true

  override def prettyName: String = "graft_dot"

  private def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    if (elementsNullable) {
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        s += x.getDouble(i) * y.getDouble(i); i += 1
      }
    } else {
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val nullGuard =
        if (elementsNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Session registration for graft's native expressions (idempotent per
  * function: an already-registered name is left untouched, so per-query
  * re-registration is a no-op instead of a `SimpleFunctionRegistry`
  * "replaced a previously registered function" warning per call — the
  * r7 bench tail carried hundreds of them). */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // idempotence is PER FUNCTION, not keyed on the first name: a session
    // where graft_dot exists but a later-added function does not must
    // still register the missing one
    def ensure(name: String)(builder: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    ensure("graft_dot")(exprs => DotProduct(exprs.head, exprs(1)))
    ensure("graft_lsh_sig")(exprs =>
      LshSignature(exprs.head, exprs(1), exprs(2)))
    ensure("graft_sorted_intersect")(exprs =>
      SortedIntersectCount(exprs.head, exprs(1)))
    ensure("graft_minhash")(exprs => MinHashSignature(exprs.head, exprs(1)))
    ensure("graft_slot_eq")(exprs => SlotEq(exprs.head, exprs(1)))
    ensure("graft_gopher_rep")(exprs => GopherRepetition(exprs.head, exprs(1)))
  }
}
