package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `trunc_trim_fold(pairKey, la, lb)` — the `truncate_seq_pair` trim
  * counters (the published create_pretraining_data.py loop) as ONE
  * native pass: while `la + lb + 3 > maxSeq`, trim one piece from the
  * longer side (ties B), front-or-back by the hash-deterministic draw
  * `rolling_hash(doc:sent:i) % 2 == 0` (front). Returns
  * `struct(fa, ba, fb, bb)` — front/back trim counts per side.
  *
  * Replaces the HOF spelling `aggregate(sequence(1, n), zero, ...)`,
  * which materialized an n-element array and evaluated an interpreted
  * lambda (four-field struct rebuild + a concat_ws + a full string hash)
  * per trim step. Bit-parity is by the polynomial identity: with
  * `h(s) = fold(acc·31 + cp) mod P` ([[RollingHash]]),
  * `h(prefix ++ suffix) = (h(prefix)·31^len(suffix) + h(suffix)) mod P`,
  * so the loop hoists `h("doc:sent:")` once and per step combines it
  * with the digit-fold of `i` — no string is built after the prefix,
  * yet every draw equals `rolling_hash(concat_ws(":", doc, sent, i))`
  * exactly (the oracle mirrors that arithmetic verbatim).
  *
  * `pairKey` is the pre-joined `concat_ws(":", doc_id, sent_idx)`; a
  * NULL `la`/`lb` yields the all-zero row, matching the HOF chain's
  * `when(n > 0, …).otherwise(zero)` null collapse.
  *
  * Precondition: `doc_id` and `sent_idx` are non-null. `concat_ws` skips
  * a null and its separator, so with both keys null the HOF spelling
  * hashed `"i"` where this pass hashes `":i"`; the draws (and the trims)
  * then differ.
  *
  * Inputs are checked at analysis: `(string, bigint, bigint)`, so an
  * uncast `size()` (an int) fails there instead of at run time.
  */
case class TruncTrimFold(pairKey: Expression, la: Expression,
    lb: Expression, maxSeq: Int) extends Expression with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(pairKey, la, lb)
  override def inputTypes = Seq(StringType, LongType, LongType) // AbstractDataType is private[sql]
  override def dataType: DataType = TruncTrimFold.schema
  override def nullable: Boolean = false
  override def prettyName: String = "trunc_trim_fold"
  override lazy val deterministic: Boolean = true

  override def eval(input: InternalRow): Any = {
    val p = pairKey.eval(input)
    val a = la.eval(input)
    val b = lb.eval(input)
    if (a == null || b == null) TruncTrimFold.Zero
    else TruncTrimFold.compute(
      if (p == null) null else p.asInstanceOf[UTF8String],
      a.asInstanceOf[Long], b.asInstanceOf[Long], maxSeq)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pGen = pairKey.genCode(ctx)
    val aGen = la.genCode(ctx)
    val bGen = lb.genCode(ctx)
    ev.copy(code =
      code"""
        ${pGen.code}
        ${aGen.code}
        ${bGen.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          (${aGen.isNull} || ${bGen.isNull})
            ? graft.functions.TruncTrimFold.Zero()
            : graft.functions.TruncTrimFold.compute(
                ${pGen.isNull} ? null : ${pGen.value},
                ${aGen.value}, ${bGen.value}, $maxSeq);
        boolean ${ev.isNull} = false;""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(pairKey = newChildren(0), la = newChildren(1), lb = newChildren(2))
}

object TruncTrimFold {

  val schema: StructType = StructType(Seq(
    StructField("fa", LongType, nullable = false),
    StructField("ba", LongType, nullable = false),
    StructField("fb", LongType, nullable = false),
    StructField("bb", LongType, nullable = false)))

  private val P = 1000000007L

  private val ZeroRow: InternalRow =
    new GenericInternalRow(Array[Any](0L, 0L, 0L, 0L))

  /** Static accessor for codegen (`Zero()` from generated Java). */
  def Zero(): InternalRow = ZeroRow

  /** Native trim loop; static for codegen. */
  def compute(pairKey: UTF8String, la: Long, lb: Long, maxSeq: Int): InternalRow = {
    val n = la + lb + 3L - maxSeq
    if (n <= 0) return ZeroRow
    // h("doc:sent:") once; per step h_i = (hp·31^digits(i) + h(digits)) mod P
    val hp = RollingHash.compute(
      (if (pairKey == null) "" else pairKey.toString) + ":")
    var fa = 0L; var ba = 0L; var fb = 0L; var bb = 0L
    var i = 1L
    while (i <= n) {
      // digit fold of i's decimal form, most significant first
      var div = 1L
      while (i / div >= 10L) div *= 10L
      var h = hp
      while (div > 0L) {
        h = (h * 31L + (i / div) % 10L + 48L) % P
        div /= 10L
      }
      val front = h % 2L == 0L
      if (la - fa - ba > lb - fb - bb) { if (front) fa += 1 else ba += 1 }
      else { if (front) fb += 1 else bb += 1 }
      i += 1L
    }
    new GenericInternalRow(Array[Any](fa, ba, fb, bb))
  }

  def trunc_trim_fold(pairKey: Column, la: Column, lb: Column,
      maxSeq: Int): Column =
    toColumn(TruncTrimFold(toExpression(pairKey), toExpression(la),
      toExpression(lb), maxSeq))
}
