package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native in-row kernels of the dedup and repetition operators: each one
  * is a primitive loop over one row's token or signature arrays, called
  * from whole-stage codegen as a single static helper. They replace
  * formulations that either exploded a row per shingle and regrouped it
  * by document (the MinHash signature) or folded interpreted lambdas
  * over in-row arrays (the est-Jaccard match count, the Gopher rules);
  * the same move as [[DotProduct]]. */

/** `graft_minhash(tokens, fast)`: the K-slot MinHash signature of the
  * word bigrams of an `ARRAY<STRING>` token array, as `ARRAY<BIGINT>`.
  * The bigrams are formed from adjacent tokens inside the loop — no
  * bigram strings, no explode. Null for a null array and for fewer than
  * two tokens (no bigram, no signature). `fast` (a literal) selects the
  * base hash, see [[graft.functions.PortableHash.signatureOfTokens]]. */
case class MinHashSignature(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != TextKernels.Tokens)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires null-free ARRAY<STRING> " +
        s"tokens (as split yields), got ${left.dataType.simpleString}")
    else if (right.dataType != BooleanType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a literal BOOLEAN hash flag")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val fast: Boolean = right.eval().asInstanceOf[Boolean]

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(t: Any, f: Any): Any =
    graft.functions.PortableHash.signatureOfTokens(t.asInstanceOf[ArrayData], fast)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"""
         |${ev.value} = graft.functions.PortableHash.signatureOfTokens($t, $fast);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSignature =
    copy(left = newLeft, right = newRight)
}

/** `graft_slot_eq(a, b)`: the number of positions at which two
  * `ARRAY<BIGINT>` signatures hold equal values, as `INT`.
  *
  * Equal on all inputs to `aggregate(zip_with(a, b, (x, y) => if(x = y,
  * 1, 0)), 0, _ + _)`: null for a null array, positions past the shorter
  * array count 0 (zip_with pads with null), and a null element matches
  * nothing. */
case class SlotEq(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<BIGINT> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_slot_eq"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.slotEq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.TextKernels.slotEq($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SlotEq =
    copy(left = newLeft, right = newRight)
}

/** `graft_gopher_rep(tokens, n)`: the two in-document repetition counts
  * of the Gopher rules over an `ARRAY<STRING>` token array, as
  * `STRUCT<top_bigram_cnt: BIGINT, dup_tokens: BIGINT>`:
  *  - `top_bigram_cnt`: multiplicity of the most frequent bigram (0 when
  *    there is none);
  *  - `dup_tokens`: the number of tokens covered by width-`n` n-grams
  *    that occur at least twice in the array, overlapping hits merged.
  *
  * N-grams compare as exact token sequences. Null for a null array. */
case class GopherRepetition(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != TextKernels.Tokens)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires null-free ARRAY<STRING> " +
        s"tokens (as split yields), got ${left.dataType.simpleString}")
    else if (right.dataType != IntegerType || !right.foldable ||
             right.eval() == null || right.eval().asInstanceOf[Int] < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a literal INT width >= 1")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val width: Int = right.eval().asInstanceOf[Int]

  override def dataType: DataType = TextKernels.GopherCounts

  override def prettyName: String = "graft_gopher_rep"

  override def nullSafeEval(t: Any, n: Any): Any =
    TextKernels.gopherRepetition(t.asInstanceOf[ArrayData], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, _) =>
      s"graft.plans.TextKernels.gopherRepetition($t, $width)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GopherRepetition =
    copy(left = newLeft, right = newRight)
}

/** Row helpers the generated code calls. */
object TextKernels {

  /** The token-array type the text kernels take: `split`'s output. */
  val Tokens: DataType = ArrayType(StringType, containsNull = false)

  val GopherCounts: StructType = new StructType()
    .add("top_bigram_cnt", LongType, nullable = false)
    .add("dup_tokens", LongType, nullable = false)

  def slotEq(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  def gopherRepetition(tokens: ArrayData, n: Int): InternalRow = {
    val ids = tokenIds(tokens)
    val len = ids.length
    // most frequent bigram: the longest run of equal keys once sorted
    var top = 0L
    if (len >= 2) {
      val keys = pairKeys(ids, ids, 1)
      java.util.Arrays.sort(keys)
      var run = 1L
      top = 1L
      var i = 1
      while (i < keys.length) {
        run = if (keys(i) == keys(i - 1)) run + 1 else 1L
        if (run > top) top = run
        i += 1
      }
    }
    // duplicated n-grams: widen the ids one token at a time, each width's
    // (prefix id, next token id) pair dense-ranked into the next id, so
    // equal ids at width n are exactly equal n-token sequences
    var dup = 0L
    if (len >= n) {
      var g = ids
      var w = 1
      while (w < n) { g = denseRank(pairKeys(g, ids, w)); w += 1 }
      val counts = new Array[Int](g.length)
      var i = 0
      while (i < g.length) { counts(g(i)) += 1; i += 1 }
      // merged coverage of the hits [i, i + n - 1], in ascending i
      var end = -1L
      i = 0
      while (i < g.length) {
        if (counts(g(i)) >= 2) {
          val e = i.toLong + n - 1
          dup += e - math.max(end, i.toLong - 1)
          end = e
        }
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](top, dup))
  }

  /** Dense ids of the tokens: equal ids iff equal bytes. */
  private def tokenIds(tokens: ArrayData): Array[Int] = {
    val len = tokens.numElements()
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) { toks(i) = tokens.getUTF8String(i); i += 1 }
    val uniq = toks.clone()
    java.util.Arrays.sort(uniq, byBytes)
    var d = 0
    i = 0
    while (i < len) {
      if (i == 0 || uniq(i) != uniq(i - 1)) { uniq(d) = uniq(i); d += 1 }
      i += 1
    }
    val ids = new Array[Int](len)
    i = 0
    while (i < len) {
      ids(i) = java.util.Arrays.binarySearch(uniq, 0, d, toks(i), byBytes)
      i += 1
    }
    ids
  }

  private val byBytes: java.util.Comparator[UTF8String] = (a, b) => a.binaryCompare(b)

  /** Key of each (width-`w` gram id, id of the token after it) pair. */
  private def pairKeys(g: Array[Int], ids: Array[Int], w: Int): Array[Long] = {
    val keys = new Array[Long](ids.length - w)
    var i = 0
    while (i < keys.length) {
      keys(i) = (g(i).toLong << 32) | (ids(i + w).toLong & 0xFFFFFFFFL)
      i += 1
    }
    keys
  }

  private def denseRank(keys: Array[Long]): Array[Int] = {
    val s = keys.clone()
    java.util.Arrays.sort(s)
    var d = 0
    var i = 0
    while (i < s.length) {
      if (i == 0 || s(i) != s(i - 1)) { s(d) = s(i); d += 1 }
      i += 1
    }
    val out = new Array[Int](keys.length)
    i = 0
    while (i < keys.length) { out(i) = java.util.Arrays.binarySearch(s, 0, d, keys(i)); i += 1 }
    out
  }
}
