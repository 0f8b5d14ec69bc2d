package graft.functions

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.proto.CosmosTx
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BaseGenericInternalRow, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.util.control.NonFatal

/** `decode_tx(bytes)` — total protobuf decode of a Cosmos transaction
  * (reference P1, TopologyProducer.kt:86–96): two-stage TxRaw → Tx parse
  * with failure captured as data, plus the canonical JSON rendering
  * (reference P2) and the canonical re-encoding (reference X3). One narrow
  * expression covers the whole per-record pre-routing chain, so whole-stage
  * codegen pipelines it with the rule evaluation and the explode.
  *
  * Result struct:
  *  - txJson: String     — canonical proto-JSON (null on decode failure)
  *  - reencoded: Binary  — canonical `Tx` bytes for rule topics (null on failure)
  *  - error: String      — decode exception message (null = success)
  *  - msgTypeUrls: Array[String] — payload type discriminators
  *  - msgCount: Int      — `tx.body.messages.count()` (the reference logs
  *                         this per routed record, TopologyProducer.kt:153)
  *
  * Only the decode runs eagerly, inside the `try`: a record gets exactly
  * one of `error` and a [[DecodedTxRow]], whose every other field is
  * computed from the decoded `Tx` when first read and cannot fail. The
  * JsonPath expressions take this struct as their document and evaluate
  * its tree ([[DecodedTxRow.tree]]), so routing renders no JSON; `txJson`
  * is rendered only where a plan reads it (the DLQ envelope, or a caller
  * selecting it). Predicate pushdown copies the whole `decode_tx(raw)`
  * into a single-topic consumer's `Filter`, which builds the tree only;
  * the `Project` above it runs its own `decode_tx(raw)` for each record
  * the filter keeps and reads only `reencoded`, so those records are
  * decoded twice but rendered never.
  */
case class DecodeCosmosTx(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DecodeCosmosTx.schema
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "decode_tx"

  override protected def nullSafeEval(input: Any): Any = decode(input.asInstanceOf[Array[Byte]])

  // no CodegenFallback: whole-stage codegen refuses a stage holding a
  // non-leaf fallback expression, which kept the decode projection out of
  // the stage that routes and explodes
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("decodeTx", this, classOf[DecodeCosmosTx].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.decode($c);")
  }

  /** Row-level decode, also the codegen target. */
  def decode(bytes: Array[Byte]): InternalRow =
    try new DecodedTxRow(CosmosTx.decode(bytes))
    catch {
      case NonFatal(e) =>
        InternalRow(null, null,
          UTF8String.fromString(s"${e.getClass.getSimpleName}: ${e.getMessage}"),
          null, null)
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DecodeCosmosTx {
  val schema: StructType = StructType(Seq(
    StructField("txJson", StringType),
    StructField("reencoded", BinaryType),
    StructField("error", StringType),
    StructField("msgTypeUrls", ArrayType(StringType, containsNull = false)),
    StructField("msgCount", IntegerType)))
}

/** A successful [[DecodeCosmosTx]] result. The canonical document's
  * [[tree]], `txJson`, `reencoded` and `msgTypeUrls` are each built from
  * `tx` on first read and kept; `msgCount` is read off `tx`. `isNullAt`
  * forces nothing (only `error` is null), and `copy()` materialises every
  * field except the tree into a `GenericInternalRow`. Read-only, like any
  * expression result.
  */
final class DecodedTxRow(tx: CosmosTx.Tx) extends InternalRow with BaseGenericInternalRow {
  private var doc: ObjectNode = _
  private var txJson: UTF8String = _
  private var reencoded: Array[Byte] = _
  private var msgTypeUrls: ArrayData = _

  /** The canonical document as the JsonPath rules read it:
    * `CosmosTx.toTree(tx)`, equal to the parse of `txJson`.
    */
  def tree: ObjectNode = {
    if (doc == null) doc = CosmosTx.toTree(tx)
    doc
  }

  override def numFields: Int = 5
  override def isNullAt(ordinal: Int): Boolean = ordinal == 2

  override protected def genericGet(ordinal: Int): Any = ordinal match {
    case 0 =>
      if (txJson == null) txJson = UTF8String.fromString(CosmosTx.toJson(tx))
      txJson
    case 1 =>
      if (reencoded == null) reencoded = CosmosTx.encode(tx)
      reencoded
    case 2 => null
    case 3 =>
      if (msgTypeUrls == null)
        msgTypeUrls = new GenericArrayData(tx.body.messages.map(m => UTF8String.fromString(m.typeUrl)).toArray[Any])
      msgTypeUrls
    case 4 => tx.body.messages.size
  }

  override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException("decode_tx rows are read-only")
  override def update(i: Int, value: Any): Unit = throw new UnsupportedOperationException("decode_tx rows are read-only")
}

/** `encode_msg_send_tx(from, to, denom, amount)` — build the canonical
  * bytes of a Tx carrying one `Any`-packed MsgSend (the shape of the
  * reference's tx1/tx2 fixtures, TopologyTest.kt:25–61). Test/harness
  * inverse of [[DecodeCosmosTx]]: encode∘decode is identity on the fields,
  * which gives the protobuf layer a DuckDB-checkable round-trip query.
  */
case class EncodeMsgSendTx(children: Seq[Expression])
    extends Expression with CodegenFallback {
  require(children.length == 4, "encode_msg_send_tx(from, to, denom, amount)")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) return null
    val Seq(from, to, denom, amount) = vs.map(_.toString)
    val msg = CosmosTx.MsgSend(from, to, Seq(CosmosTx.Coin(denom, amount)))
    val any = CosmosTx.AnyMsg("type.googleapis.com/cosmos.bank.v1beta1.MsgSend",
      CosmosTx.encodeMsgSend(msg))
    val tx = CosmosTx.Tx(
      CosmosTx.TxBody(Seq(any), "", 0L),
      CosmosTx.AuthInfo(Nil, None),
      Nil)
    CosmosTx.encode(tx)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object ProtoFunctions {
  def decode_tx(bytes: Column): Column =
    toColumn(DecodeCosmosTx(toExpression(bytes)))

  def encode_msg_send_tx(from: Column, to: Column, denom: Column, amount: Column): Column =
    toColumn(EncodeMsgSendTx(Seq(from, to, denom, amount).map(toExpression)))
}
