package dispatchbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

/** The generator's own model of a Cosmos transaction. Nothing here calls
  * the engine: the bench writes protobuf with [[Wire]], renders canonical
  * JSON with [[Json]], and evaluates rules on this model, so a defect in the
  * engine's codec or JsonPath evaluator cannot hide in the expected outputs.
  */
final case class Coin(denom: String, amount: String)

sealed trait Msg { def typeUrl: String }
/** A registered `MsgSend`. `payload` is the Any value exactly as written
  * into the input; Any values are opaque bytes, so re-encoding keeps them.
  */
final case class Send(typeUrl: String, from: String, to: String, amount: Vector[Coin],
    payload: Array[Byte]) extends Msg
/** A payload type the engine's registry does not know. */
final case class Opaque(typeUrl: String, value: Array[Byte]) extends Msg

final case class Signer(pubKey: Option[Array[Byte]], sequence: Long)
final case class Fee(amount: Vector[Coin], gasLimit: Long, payer: String, granter: String)

/** `bodyUnknown`: varint fields outside the schema, kept by decoders and
  * re-encoded after the known TxBody fields in their original order.
  */
final case class Tx(msgs: Vector[Msg], memo: String, timeout: Long,
    bodyUnknown: Vector[(Int, Long)], signers: Vector[Signer], fee: Option[Fee],
    sigs: Vector[Array[Byte]]) {
  def sends: Vector[Send] = msgs.collect { case s: Send => s }
}

object Urls {
  val MsgSend = "/cosmos.bank.v1beta1.MsgSend"
  val MsgSendFull = "type.googleapis.com/cosmos.bank.v1beta1.MsgSend"
  val PubKey = "/cosmos.crypto.secp256k1.PubKey"
  val Delegate = "/cosmos.staking.v1beta1.MsgDelegate"
  val Execute = "/cosmwasm.wasm.v1.MsgExecuteContract"
  val Transfer = "/ibc.applications.transfer.v1.MsgTransfer"
  val Vote = "/cosmos.gov.v1beta1.MsgVote"
  val Params = "/okp4.logic.v1beta2.MsgUpdateParams"
  val unregistered: Vector[String] = Vector(Delegate, Execute, Transfer, Vote, Params)
}

/** Minimal protobuf wire writer (varint and length-delimited fields). */
final class Wire {
  private var buf = new Array[Byte](128)
  private var n = 0

  private def ensure(k: Int): Unit =
    if (n + k > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + k))

  def byte(b: Int): Wire = { ensure(1); buf(n) = b.toByte; n += 1; this }
  def raw(b: Array[Byte]): Wire = { ensure(b.length); System.arraycopy(b, 0, buf, n, b.length); n += b.length; this }
  def varint(v: Long): Wire = {
    var x = v
    while ((x & ~0x7fL) != 0) { byte(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
    byte(x.toInt)
  }
  def tag(field: Int, wireType: Int): Wire = varint((field.toLong << 3) | wireType)
  def len(field: Int, b: Array[Byte]): Wire = { tag(field, 2); varint(b.length); raw(b) }
  def str(field: Int, s: String): Wire = len(field, s.getBytes(UTF_8))
  def uint(field: Int, v: Long): Wire = { tag(field, 0); varint(v) }
  def bytes: Array[Byte] = java.util.Arrays.copyOf(buf, n)
}

/** How an input's bytes depart from the canonical encoding. Every variant is
  * valid protobuf that a decoder reads back to the same model; the canonical
  * re-encoding differs from the input for all but `sendToFirst`, which only
  * touches bytes inside an Any value.
  */
final case class Variant(
    bodyOrder: Boolean = false,      // memo / timeout written before the messages
    explicitDefaults: Boolean = false, // timeout 0 and empty memo written out
    unknownFirst: Boolean = false,   // unknown body fields before the known ones
    feeCoinOrder: Boolean = false,   // fee coins written amount-then-denom
    rawUnknown: Boolean = false,     // an unknown TxRaw field, dropped by decoding
    dupMemo: Boolean = false,        // a decoy memo overwritten by the real one
    authFirst: Boolean = false,      // auth_info written before body
    sendToFirst: Boolean = false)    // MsgSend fields to-before-from inside the Any

object Codec {
  def coin(c: Coin, amountFirst: Boolean = false): Array[Byte] = {
    val w = new Wire
    if (amountFirst) {
      if (c.amount.nonEmpty) w.str(2, c.amount)
      if (c.denom.nonEmpty) w.str(1, c.denom)
    } else {
      if (c.denom.nonEmpty) w.str(1, c.denom)
      if (c.amount.nonEmpty) w.str(2, c.amount)
    }
    w.bytes
  }

  def sendPayload(from: String, to: String, amount: Vector[Coin], toFirst: Boolean): Array[Byte] = {
    val w = new Wire
    if (toFirst) { if (to.nonEmpty) w.str(2, to); if (from.nonEmpty) w.str(1, from) }
    else { if (from.nonEmpty) w.str(1, from); if (to.nonEmpty) w.str(2, to) }
    amount.foreach(c => w.len(3, coin(c)))
    w.bytes
  }

  def any(url: String, value: Array[Byte]): Array[Byte] = {
    val w = new Wire
    if (url.nonEmpty) w.str(1, url)
    if (value.nonEmpty) w.len(2, value)
    w.bytes
  }

  def msgAny(m: Msg): Array[Byte] = m match {
    case s: Send => any(s.typeUrl, s.payload)
    case o: Opaque => any(o.typeUrl, o.value)
  }

  def pubKeyAny(key: Array[Byte]): Array[Byte] = {
    val w = new Wire
    if (key.nonEmpty) w.len(1, key)
    any(Urls.PubKey, w.bytes)
  }

  def signer(s: Signer): Array[Byte] = {
    val w = new Wire
    s.pubKey.foreach(k => w.len(1, pubKeyAny(k)))
    if (s.sequence != 0) w.uint(3, s.sequence)
    w.bytes
  }

  def fee(f: Fee, amountFirst: Boolean = false): Array[Byte] = {
    val w = new Wire
    f.amount.foreach(c => w.len(1, coin(c, amountFirst)))
    if (f.gasLimit != 0) w.uint(2, f.gasLimit)
    if (f.payer.nonEmpty) w.str(3, f.payer)
    if (f.granter.nonEmpty) w.str(4, f.granter)
    w.bytes
  }

  def body(t: Tx, v: Variant): Array[Byte] = {
    val w = new Wire
    def unknown(): Unit = t.bodyUnknown.foreach { case (f, x) => w.uint(f, x) }
    def scalars(): Unit = {
      if (v.dupMemo && t.memo.nonEmpty) w.str(2, "decoy")
      if (t.memo.nonEmpty) w.str(2, t.memo) else if (v.explicitDefaults) w.len(2, Array.emptyByteArray)
      if (t.timeout != 0) w.uint(3, t.timeout) else if (v.explicitDefaults) w.uint(3, 0)
    }
    if (v.unknownFirst) unknown()
    if (v.bodyOrder) scalars()
    t.msgs.foreach(m => w.len(1, msgAny(m)))
    if (!v.bodyOrder) scalars()
    if (!v.unknownFirst) unknown()
    w.bytes
  }

  def auth(t: Tx, v: Variant): Array[Byte] = {
    val w = new Wire
    t.signers.foreach(s => w.len(1, signer(s)))
    t.fee.foreach(f => w.len(2, fee(f, v.feeCoinOrder)))
    w.bytes
  }

  /** TxRaw-shaped bytes written as `v` says. */
  def encode(t: Tx, v: Variant): Array[Byte] = {
    val w = new Wire
    if (v.authFirst) { w.len(2, auth(t, v)); w.len(1, body(t, v)) }
    else { w.len(1, body(t, v)); w.len(2, auth(t, v)) }
    t.sigs.foreach(s => w.len(3, s))
    if (v.rawUnknown) w.uint(9, 1)
    w.bytes
  }

  /** The canonical `Tx` encoding: field-number order, proto3 defaults
    * omitted, body and auth_info always present.
    */
  def canonical(t: Tx): Array[Byte] = encode(t, Variant())
}

/** Canonical proto-JSON as the engine documents it: lowerCamelCase names in
  * field-number order, defaults omitted, 64-bit integers as strings, bytes
  * as standard base64, `Any` inlined with `@type`, an unregistered `Any` as
  * `{"@type","value"}`. Strings escape quote, backslash, \n, \r, \t and
  * other control characters as \u00XX, everything else verbatim.
  */
object Json {
  private val b64 = Base64.getEncoder

  def str(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ if c < ' ' => sb.append(String.format("\\u%04x", Integer.valueOf(c.toInt)))
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  private def coins(sb: java.lang.StringBuilder, cs: Vector[Coin]): Unit = {
    sb.append('[')
    cs.zipWithIndex.foreach { case (c, i) =>
      if (i > 0) sb.append(',')
      sb.append('{')
      if (c.denom.nonEmpty) { sb.append("\"denom\":"); str(sb, c.denom) }
      if (c.amount.nonEmpty) {
        if (c.denom.nonEmpty) sb.append(',')
        sb.append("\"amount\":"); str(sb, c.amount)
      }
      sb.append('}')
    }
    sb.append(']')
  }

  private def msg(sb: java.lang.StringBuilder, m: Msg): Unit = {
    sb.append("{\"@type\":"); str(sb, m.typeUrl)
    m match {
      case s: Send =>
        if (s.from.nonEmpty) { sb.append(",\"fromAddress\":"); str(sb, s.from) }
        if (s.to.nonEmpty) { sb.append(",\"toAddress\":"); str(sb, s.to) }
        if (s.amount.nonEmpty) { sb.append(",\"amount\":"); coins(sb, s.amount) }
      case o: Opaque =>
        if (o.value.nonEmpty) { sb.append(",\"value\":"); str(sb, b64.encodeToString(o.value)) }
    }
    sb.append('}')
  }

  /** Appends `"name":value` pieces with commas between them. */
  private final class Fields(sb: java.lang.StringBuilder) {
    private var first = true
    def apply(name: String)(value: => Unit): Unit = {
      if (!first) sb.append(',')
      first = false
      sb.append('"').append(name).append("\":")
      value
    }
  }

  def render(t: Tx): String = {
    val sb = new java.lang.StringBuilder(512)
    sb.append("{\"body\":{")
    val body = new Fields(sb)
    if (t.msgs.nonEmpty) body("messages") {
      sb.append('[')
      t.msgs.zipWithIndex.foreach { case (m, i) => if (i > 0) sb.append(','); msg(sb, m) }
      sb.append(']')
    }
    if (t.memo.nonEmpty) body("memo")(str(sb, t.memo))
    if (t.timeout != 0) body("timeoutHeight")(str(sb, t.timeout.toString))
    sb.append("},\"authInfo\":{")
    val auth = new Fields(sb)
    if (t.signers.nonEmpty) auth("signerInfos") {
      sb.append('[')
      t.signers.zipWithIndex.foreach { case (s, i) =>
        if (i > 0) sb.append(',')
        sb.append('{')
        val f = new Fields(sb)
        s.pubKey.foreach { k =>
          f("publicKey") {
            sb.append("{\"@type\":"); str(sb, Urls.PubKey)
            if (k.nonEmpty) { sb.append(",\"key\":"); str(sb, b64.encodeToString(k)) }
            sb.append('}')
          }
        }
        if (s.sequence != 0) f("sequence")(str(sb, s.sequence.toString))
        sb.append('}')
      }
      sb.append(']')
    }
    t.fee.foreach { fee =>
      auth("fee") {
        sb.append('{')
        val f = new Fields(sb)
        if (fee.amount.nonEmpty) f("amount")(coins(sb, fee.amount))
        if (fee.gasLimit != 0) f("gasLimit")(str(sb, fee.gasLimit.toString))
        if (fee.payer.nonEmpty) f("payer")(str(sb, fee.payer))
        if (fee.granter.nonEmpty) f("granter")(str(sb, fee.granter))
        sb.append('}')
      }
    }
    sb.append('}')
    if (t.sigs.nonEmpty) {
      sb.append(",\"signatures\":[")
      t.sigs.zipWithIndex.foreach { case (s, i) => if (i > 0) sb.append(','); str(sb, b64.encodeToString(s)) }
      sb.append(']')
    }
    sb.append('}').toString
  }

  /** The reference's DLQ record as Jackson writes it: all three fields,
    * null included, bytes as base64 without line breaks.
    */
  def dlqEnvelope(txJson: String, txBytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(txJson.length * 2 + 64)
    sb.append("{\"txJson\":")
    str(sb, txJson)
    sb.append(",\"txBytes\":\"").append(b64.encodeToString(txBytes)).append("\",\"message\":null}")
    sb.toString
  }
}
