package graft.proto

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import graft.proto.ProtoWire.{ProtoParseException, Reader, Writer}

import java.lang.{StringBuilder => JStringBuilder}
import java.util.Base64
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The Cosmos-SDK transaction envelope, hand-modeled from the public
  * cosmos.tx.v1beta1 schema the reference compiles against
  * (reference: TopologyProducer.kt:48–54 — TxRaw → Tx two-stage decode;
  * field numbers per the published cosmos-sdk tx.proto):
  *
  * {{{
  *   TxRaw    { 1: body_bytes, 2: auth_info_bytes, 3: repeated signatures }
  *   Tx       { 1: body(TxBody), 2: auth_info(AuthInfo), 3: repeated signatures }
  *   TxBody   { 1: repeated messages(Any), 2: memo, 3: timeout_height }
  *   AuthInfo { 1: repeated signer_infos(SignerInfo), 2: fee(Fee) }
  *   SignerInfo { 1: public_key(Any), 3: sequence }        // mode_info carried via unknown passthrough
  *   Fee      { 1: repeated amount(Coin), 2: gas_limit, 3: payer, 4: granter }
  *   Coin     { 1: denom, 2: amount }
  *   Any      { 1: type_url, 2: value }
  *   MsgSend  { 1: from_address, 2: to_address, 3: repeated amount(Coin) }
  * }}}
  *
  * Note the deliberate protobuf leniency the reference's tests rely on
  * (TopologyTest.kt:25–68; SURVEY.md §2.3): a serialized `Tx` parses as
  * `TxRaw` because nested-message and bytes fields share wire type 2.
  */
object CosmosTx {

  final case class AnyMsg(typeUrl: String, value: Array[Byte])
  final case class Coin(denom: String, amount: String,
      unknown: Array[Byte] = Array.emptyByteArray)
  final case class TxBody(messages: Seq[AnyMsg], memo: String, timeoutHeight: Long,
      unknown: Array[Byte] = Array.emptyByteArray)
  final case class SignerInfo(publicKey: Option[AnyMsg], sequence: Long,
      unknown: Array[Byte] = Array.emptyByteArray)
  final case class Fee(amount: Seq[Coin], gasLimit: Long, payer: String, granter: String,
      unknown: Array[Byte] = Array.emptyByteArray)
  final case class AuthInfo(signerInfos: Seq[SignerInfo], fee: Option[Fee],
      unknown: Array[Byte] = Array.emptyByteArray)
  final case class Tx(body: TxBody, authInfo: AuthInfo, signatures: Seq[Array[Byte]])
  final case class TxRaw(bodyBytes: Array[Byte], authInfoBytes: Array[Byte], signatures: Seq[Array[Byte]])
  final case class MsgSend(fromAddress: String, toAddress: String, amount: Seq[Coin])

  // ------------------------------------------------------------- decode

  /** Empty unknown-capture normalizes to the shared empty instance so
    * case-class equality (reference-based for arrays) keeps working for
    * the common no-unknown-fields case.
    */
  private def unkBytes(w: Writer): Array[Byte] = {
    val b = w.toBytes
    if (b.isEmpty) Array.emptyByteArray else b
  }


  def parseTxRaw(bytes: Array[Byte]): TxRaw = {
    val r = new Reader(bytes)
    var body: Array[Byte] = Array.emptyByteArray
    var auth: Array[Byte] = Array.emptyByteArray
    val sigs = ArrayBuffer.empty[Array[Byte]]
    while (r.hasMore) {
      r.readTag() match {
        case (1, 2) => body = r.readBytes()
        case (2, 2) => auth = r.readBytes()
        case (3, 2) => sigs += r.readBytes()
        case (_, wt) => r.skip(wt)
      }
    }
    TxRaw(body, auth, sigs.toSeq)
  }

  def parseAny(bytes: Array[Byte]): AnyMsg = {
    val r = new Reader(bytes)
    var url = ""
    var value: Array[Byte] = Array.emptyByteArray
    while (r.hasMore) {
      r.readTag() match {
        case (1, 2) => url = r.readString()
        case (2, 2) => value = r.readBytes()
        case (_, wt) => r.skip(wt)
      }
    }
    AnyMsg(url, value)
  }

  def parseTxBody(bytes: Array[Byte]): TxBody = {
    val r = new Reader(bytes)
    val msgs = ArrayBuffer.empty[AnyMsg]
    var memo = ""
    var timeout = 0L
    val unk = new Writer()
    while (r.hasMore) {
      r.readTag() match {
        case (1, 2) => msgs += parseAny(r.readBytes())
        case (2, 2) => memo = r.readString()
        case (3, 0) => timeout = r.readVarint()
        case (f, wt) => unk.raw(r.readFieldRaw(f, wt))
      }
    }
    TxBody(msgs.toSeq, memo, timeout, unkBytes(unk))
  }

  def parseCoin(bytes: Array[Byte]): Coin = {
    val r = new Reader(bytes)
    var denom = ""
    var amount = ""
    val unk = new Writer()
    while (r.hasMore) {
      r.readTag() match {
        case (1, 2) => denom = r.readString()
        case (2, 2) => amount = r.readString()
        case (f, wt) => unk.raw(r.readFieldRaw(f, wt))
      }
    }
    Coin(denom, amount, unkBytes(unk))
  }

  def parseFee(bytes: Array[Byte]): Fee = {
    val r = new Reader(bytes)
    val coins = ArrayBuffer.empty[Coin]
    var gas = 0L
    var payer = ""
    var granter = ""
    val unk = new Writer()
    while (r.hasMore) {
      r.readTag() match {
        case (1, 2) => coins += parseCoin(r.readBytes())
        case (2, 0) => gas = r.readVarint()
        case (3, 2) => payer = r.readString()
        case (4, 2) => granter = r.readString()
        case (f, wt) => unk.raw(r.readFieldRaw(f, wt))
      }
    }
    Fee(coins.toSeq, gas, payer, granter, unkBytes(unk))
  }

  def parseSignerInfo(bytes: Array[Byte]): SignerInfo = {
    val r = new Reader(bytes)
    var pk: Option[AnyMsg] = None
    var seq = 0L
    val unk = new Writer()
    while (r.hasMore) {
      r.readTag() match {
        case (1, 2) => pk = Some(parseAny(r.readBytes()))
        case (3, 0) => seq = r.readVarint()
        case (f, wt) => unk.raw(r.readFieldRaw(f, wt)) // e.g. mode_info (field 2)
      }
    }
    SignerInfo(pk, seq, unkBytes(unk))
  }

  def parseAuthInfo(bytes: Array[Byte]): AuthInfo = {
    val r = new Reader(bytes)
    val signers = ArrayBuffer.empty[SignerInfo]
    var fee: Option[Fee] = None
    val unk = new Writer()
    while (r.hasMore) {
      r.readTag() match {
        case (1, 2) => signers += parseSignerInfo(r.readBytes())
        case (2, 2) => fee = Some(parseFee(r.readBytes()))
        case (f, wt) => unk.raw(r.readFieldRaw(f, wt))
      }
    }
    AuthInfo(signers.toSeq, fee, unkBytes(unk))
  }

  def parseMsgSend(bytes: Array[Byte]): MsgSend = {
    val r = new Reader(bytes)
    var from = ""
    var to = ""
    val coins = ArrayBuffer.empty[Coin]
    while (r.hasMore) {
      r.readTag() match {
        case (1, 2) => from = r.readString()
        case (2, 2) => to = r.readString()
        case (3, 2) => coins += parseCoin(r.readBytes())
        case (_, wt) => r.skip(wt)
      }
    }
    MsgSend(from, to, coins.toSeq)
  }

  /** Two-stage decode, exactly the reference's `TxRaw.toTx()`
    * (TopologyProducer.kt:48–54): parse the raw envelope, then re-parse the
    * nested body/auth_info byte fields. Either stage throws on garbage.
    */
  def decode(bytes: Array[Byte]): Tx = {
    if (bytes == null || bytes.isEmpty) throw new ProtoParseException("empty input")
    val raw = parseTxRaw(bytes)
    Tx(parseTxBody(raw.bodyBytes), parseAuthInfo(raw.authInfoBytes), raw.signatures)
  }

  // ------------------------------------------------------------- encode

  def encodeAny(a: AnyMsg): Array[Byte] =
    new Writer().string(1, a.typeUrl).bytes(2, a.value).toBytes

  def encodeCoin(c: Coin): Array[Byte] =
    new Writer().string(1, c.denom).string(2, c.amount).raw(c.unknown).toBytes

  def encodeTxBody(b: TxBody): Array[Byte] = {
    val w = new Writer()
    b.messages.foreach(m => w.bytesAlways(1, encodeAny(m)))
    w.string(2, b.memo).int64(3, b.timeoutHeight).raw(b.unknown).toBytes
  }

  def encodeFee(f: Fee): Array[Byte] = {
    val w = new Writer()
    f.amount.foreach(c => w.bytesAlways(1, encodeCoin(c)))
    w.int64(2, f.gasLimit).string(3, f.payer).string(4, f.granter).raw(f.unknown).toBytes
  }

  def encodeSignerInfo(s: SignerInfo): Array[Byte] = {
    val w = new Writer()
    s.publicKey.foreach(pk => w.bytesAlways(1, encodeAny(pk)))
    w.int64(3, s.sequence).raw(s.unknown).toBytes
  }

  def encodeAuthInfo(a: AuthInfo): Array[Byte] = {
    val w = new Writer()
    a.signerInfos.foreach(s => w.bytesAlways(1, encodeSignerInfo(s)))
    a.fee.foreach(f => w.messageAlways(2, encodeFee(f)))
    w.raw(a.unknown).toBytes
  }

  /** Canonical `Tx` re-encoding — the rule-topic payload (reference X3:
    * `tx.toByteArray()`, TopologyProducer.kt:155–159). Writes body and
    * auth_info even when empty, as the generated encoder does for set
    * message fields.
    */
  def encode(tx: Tx): Array[Byte] = {
    val w = new Writer()
    w.messageAlways(1, encodeTxBody(tx.body))
    w.messageAlways(2, encodeAuthInfo(tx.authInfo))
    tx.signatures.foreach(s => w.bytesAlways(3, s))
    w.toBytes
  }

  def encodeMsgSend(m: MsgSend): Array[Byte] = {
    val w = new Writer().string(1, m.fromAddress).string(2, m.toAddress)
    m.amount.foreach(c => w.bytesAlways(3, encodeCoin(c)))
    w.toBytes
  }

  // ---------------------------------------------------- canonical JSON

  /** Payload type registry: typeUrl → JSON-field renderer. The reference
    * builds this by scanning the classpath for every generated protobuf
    * class (ProtoTypeRegistry.kt:16–30); here the same drop-a-jar-on-the-
    * classpath contract is [[PayloadTypePrinters]]: a ServiceLoader SPI
    * merged into [[registry]], so new Cosmos message types are added
    * without editing the engine. [[defaultRegistry]] holds the built-in
    * exercised types.
    */
  type PayloadPrinter = Array[Byte] => String

  /** defaultRegistry ++ every [[PayloadTypePrinters]] service on the
    * classpath (user-provided printers win on typeUrl collision). Lazy and
    * per-JVM: executors resolve from their own classpath, exactly like the
    * reference's scan.
    */
  lazy val registry: Map[String, PayloadPrinter] = {
    // per-provider error isolation: one broken SPI jar (missing dep, bad
    // services entry) must not take down rendering for every payload type
    // — the same isolation contract the printers themselves get
    val loaded = scala.collection.mutable.Map.empty[String, PayloadPrinter]
    val it = java.util.ServiceLoader.load(classOf[PayloadTypePrinters]).iterator()
    var more = true
    while (more) {
      try {
        more = it.hasNext
        if (more) loaded ++= it.next().printers
      } catch {
        case e: java.util.ServiceConfigurationError =>
          System.err.println(s"[graft] skipping broken PayloadTypePrinters provider: ${e.getMessage}")
        case NonFatal(e) =>
          System.err.println(s"[graft] skipping failing PayloadTypePrinters provider: ${e.getMessage}")
      }
    }
    defaultRegistry ++ loaded
  }

  /** A built-in payload type: renders its payload's fields straight into
    * the JSON text or into the tree, with no fragment in between. Each
    * method parses the payload before it writes anything, so one that
    * throws leaves nothing behind. As a [[PayloadPrinter]] it returns the
    * comma-prefixed fragment like any [[PayloadTypePrinters]] printer.
    */
  private abstract class Builtin extends PayloadPrinter {
    def text(sb: JStringBuilder, bytes: Array[Byte]): Unit
    def tree(o: ObjectNode, bytes: Array[Byte]): Unit
    final def apply(bytes: Array[Byte]): String = {
      val sb = new JStringBuilder
      text(sb, bytes)
      sb.toString
    }
  }

  private object MsgSendPayload extends Builtin {
    def text(sb: JStringBuilder, bytes: Array[Byte]): Unit = {
      val m = parseMsgSend(bytes)
      if (m.fromAddress.nonEmpty) str(sb.append(",\"fromAddress\":"), m.fromAddress)
      if (m.toAddress.nonEmpty) str(sb.append(",\"toAddress\":"), m.toAddress)
      if (m.amount.nonEmpty) coins(sb.append(",\"amount\":"), m.amount)
    }
    def tree(o: ObjectNode, bytes: Array[Byte]): Unit = {
      val m = parseMsgSend(bytes)
      if (m.fromAddress.nonEmpty) o.put("fromAddress", m.fromAddress)
      if (m.toAddress.nonEmpty) o.put("toAddress", m.toAddress)
      if (m.amount.nonEmpty) coinsTree(o.putArray("amount"), m.amount)
    }
  }

  /** `PubKey { 1: key(bytes) }`. */
  private object PubKeyPayload extends Builtin {
    private def key(bytes: Array[Byte]): Array[Byte] = {
      val r = new Reader(bytes)
      var key: Array[Byte] = Array.emptyByteArray
      while (r.hasMore) r.readTag() match {
        case (1, 2) => key = r.readBytes()
        case (_, wt) => r.skip(wt)
      }
      key
    }
    def text(sb: JStringBuilder, bytes: Array[Byte]): Unit = {
      val k = key(bytes)
      if (k.nonEmpty) base64(sb.append(",\"key\":"), k)
    }
    def tree(o: ObjectNode, bytes: Array[Byte]): Unit = {
      val k = key(bytes)
      if (k.nonEmpty) o.put("key", Base64.getEncoder.encodeToString(k))
    }
  }

  /** The built-in printers. */
  val defaultRegistry: Map[String, PayloadPrinter] = Map(
    "/cosmos.bank.v1beta1.MsgSend" -> MsgSendPayload,
    "/cosmos.crypto.secp256k1.PubKey" -> PubKeyPayload)

  /** The printer registered for an `Any`'s type: keyed by the typeUrl from
    * its first '/' ("type.googleapis.com/x.Y" → "/x.Y").
    */
  private def printerFor(a: AnyMsg, registry: Map[String, PayloadPrinter]): Option[PayloadPrinter] = {
    val slash = a.typeUrl.indexOf('/')
    registry.get(if (slash < 0) "" else a.typeUrl.substring(slash))
  }

  private val Nodes = JsonNodeFactory.instance
  private lazy val fragmentMapper = new ObjectMapper()

  /** The `Any` object a non-built-in printer's output completes,
    * `{"@type":<typeUrl><fragment>}` parsed, or null when the printer
    * throws or that text is not exactly one JSON object. The renderers
    * print such a payload as base64 (payload isolation), so a printer's
    * bad fragment can never make the canonical JSON invalid.
    */
  private def printedObject(a: AnyMsg, printer: PayloadPrinter): (String, ObjectNode) =
    try {
      val fragment = printer(a.value)
      val p = fragmentMapper.createParser(
        str(new JStringBuilder("{\"@type\":"), a.typeUrl).append(fragment).append('}').toString)
      try {
        val o = fragmentMapper.readTree[JsonNode](p)
        if (o != null && o.isObject && p.nextToken() == null) (fragment, o.asInstanceOf[ObjectNode]) else null
      } finally p.close()
    } catch { case NonFatal(_) => null }

  private val Hex = "0123456789abcdef"

  /** `sb`, after a comma unless nothing was appended since `open`, the
    * position just past the enclosing object's `{` or array's `[`.
    */
  private def sep(sb: JStringBuilder, open: Int): JStringBuilder =
    if (sb.length == open) sb else sb.append(',')

  /** `s` as a JSON string: each run of characters that needs no escape is
    * copied in one bulk append.
    */
  private def str(sb: JStringBuilder, s: String): JStringBuilder = {
    sb.append('"')
    var run = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < ' ' || c == '"' || c == '\\') {
        sb.append(s, run, i)
        c match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case _ => sb.append("\\u00").append(Hex.charAt(c >> 4)).append(Hex.charAt(c & 0xf))
        }
        run = i + 1
      }
      i += 1
    }
    sb.append(s, run, s.length).append('"')
  }

  /** A uint64 as protobuf's JSON mapping prints it: a decimal string, read
    * unsigned, so a varint ≥ 2^63 (a negative `Long`) is not printed with a
    * minus sign.
    */
  private def uint64(sb: JStringBuilder, v: Long): JStringBuilder =
    sb.append('"').append(java.lang.Long.toUnsignedString(v)).append('"')

  private def base64(sb: JStringBuilder, bytes: Array[Byte]): JStringBuilder =
    sb.append('"').append(Base64.getEncoder.encodeToString(bytes)).append('"')

  private def coins(sb: JStringBuilder, cs: Seq[Coin]): JStringBuilder = {
    val arr = sb.append('[').length
    cs.foreach { c =>
      val obj = sep(sb, arr).append('{').length
      if (c.denom.nonEmpty) str(sb.append("\"denom\":"), c.denom)
      if (c.amount.nonEmpty) str(sep(sb, obj).append("\"amount\":"), c.amount)
      sb.append('}')
    }
    sb.append(']')
  }

  private def coinsTree(arr: ArrayNode, cs: Seq[Coin]): Unit =
    cs.foreach { c =>
      val o = arr.addObject()
      if (c.denom.nonEmpty) o.put("denom", c.denom)
      if (c.amount.nonEmpty) o.put("amount", c.amount)
    }

  private def any(sb: JStringBuilder, a: AnyMsg, registry: Map[String, PayloadPrinter]): JStringBuilder = {
    str(sb.append("{\"@type\":"), a.typeUrl)
    // Unregistered payloads — and registered ones whose bytes don't parse
    // or whose printer fails — render open-schema as {@type, value:base64}:
    // a malformed PAYLOAD must not turn a decodable ENVELOPE into a decode
    // error (payload isolation, same spirit as per-rule isolation). The
    // reference's classpath scan makes every compiled type printable; this
    // is the offline equivalent.
    val printed = printerFor(a, registry) match {
      case Some(b: Builtin) =>
        try { b.text(sb, a.value); true } catch { case NonFatal(_) => false }
      case Some(printer) =>
        val p = printedObject(a, printer)
        if (p != null) sb.append(p._1)
        p != null
      case None => false
    }
    if (!printed && a.value.nonEmpty) base64(sb.append(",\"value\":"), a.value)
    sb.append('}')
  }

  private def anyTree(a: AnyMsg, registry: Map[String, PayloadPrinter]): ObjectNode = {
    def open(o: ObjectNode): ObjectNode =
      if (a.value.isEmpty) o else o.put("value", Base64.getEncoder.encodeToString(a.value))
    val o = Nodes.objectNode().put("@type", a.typeUrl)
    printerFor(a, registry) match {
      case Some(b: Builtin) =>
        try { b.tree(o, a.value); o } catch { case NonFatal(_) => open(o) }
      case Some(printer) => Option(printedObject(a, printer)).fold(open(o))(_._2)
      case None => open(o)
    }
  }

  /** Canonical proto-JSON of a decoded Tx (reference: JsonFormat.printer()
    * .usingTypeRegistry(..).omittingInsignificantWhitespace(),
    * TopologyProducer.kt:79–82): lowerCamelCase names, field-number order,
    * proto3 default-value omission, `Any` inlined with `@type`, bytes as
    * base64, uint64 as JSON string. Subset: the envelope messages modeled
    * above; `mode_info` is not printed.
    *
    * One pass into one `java.lang.StringBuilder`: every object, array and
    * string is appended in place (strings copy each unescaped run in bulk),
    * a field's comma is decided by whether anything was appended since its
    * object opened. A built-in payload is appended in place; an SPI
    * printer's fragment is appended only once it has returned and parsed
    * as the rest of its `Any` object, so a printer that throws or returns
    * malformed JSON leaves nothing behind and its payload is rendered as
    * base64. The cost is one buffer (grown a
    * few times for a large tx), the final `String`, one base64 `String`
    * per bytes field, and for a payload of an SPI printer its fragment and
    * the parse that checks it: no other per-field strings, no per-object
    * collections.
    */
  def toJson(tx: Tx, registry: Map[String, PayloadPrinter] = CosmosTx.registry): String = {
    val sb = new JStringBuilder(256)
    val body = tx.body
    val bodyObj = sb.append("{\"body\":{").length
    if (body.messages.nonEmpty) {
      val arr = sb.append("\"messages\":[").length
      body.messages.foreach(m => any(sep(sb, arr), m, registry))
      sb.append(']')
    }
    if (body.memo.nonEmpty) str(sep(sb, bodyObj).append("\"memo\":"), body.memo)
    if (body.timeoutHeight != 0) uint64(sep(sb, bodyObj).append("\"timeoutHeight\":"), body.timeoutHeight)
    val auth = tx.authInfo
    val authObj = sb.append("},\"authInfo\":{").length
    if (auth.signerInfos.nonEmpty) {
      val arr = sb.append("\"signerInfos\":[").length
      auth.signerInfos.foreach { s =>
        val obj = sep(sb, arr).append('{').length
        s.publicKey.foreach(pk => any(sb.append("\"publicKey\":"), pk, registry))
        if (s.sequence != 0) uint64(sep(sb, obj).append("\"sequence\":"), s.sequence)
        sb.append('}')
      }
      sb.append(']')
    }
    auth.fee.foreach { fee =>
      val obj = sep(sb, authObj).append("\"fee\":{").length
      if (fee.amount.nonEmpty) coins(sb.append("\"amount\":"), fee.amount)
      if (fee.gasLimit != 0) uint64(sep(sb, obj).append("\"gasLimit\":"), fee.gasLimit)
      if (fee.payer.nonEmpty) str(sep(sb, obj).append("\"payer\":"), fee.payer)
      if (fee.granter.nonEmpty) str(sep(sb, obj).append("\"granter\":"), fee.granter)
      sb.append('}')
    }
    sb.append('}')
    if (tx.signatures.nonEmpty) {
      val arr = sb.append(",\"signatures\":[").length
      tx.signatures.foreach(s => base64(sep(sb, arr), s))
      sb.append(']')
    }
    sb.append('}').toString
  }

  /** [[toJson]]'s document as a Jackson tree, built straight from the `Tx`:
    * equal to `readTree(toJson(tx))` field for field, in the same order,
    * with the same `@type`, base64 and unsigned-uint64 rules. This is what
    * the rules evaluate, so a decoded tx is routed without rendering its
    * JSON and parsing it back. Built-in payload types add their nodes
    * directly; an SPI printer's fragment is the one part built by parsing.
    */
  def toTree(tx: Tx, registry: Map[String, PayloadPrinter] = CosmosTx.registry): ObjectNode = {
    val root = Nodes.objectNode()
    val body = tx.body
    val bodyObj = root.putObject("body")
    if (body.messages.nonEmpty) {
      val arr = bodyObj.putArray("messages")
      body.messages.foreach(m => arr.add(anyTree(m, registry)))
    }
    if (body.memo.nonEmpty) bodyObj.put("memo", body.memo)
    if (body.timeoutHeight != 0) bodyObj.put("timeoutHeight", java.lang.Long.toUnsignedString(body.timeoutHeight))
    val auth = tx.authInfo
    val authObj = root.putObject("authInfo")
    if (auth.signerInfos.nonEmpty) {
      val arr = authObj.putArray("signerInfos")
      auth.signerInfos.foreach { s =>
        val obj = arr.addObject()
        s.publicKey.foreach(pk => obj.set[JsonNode]("publicKey", anyTree(pk, registry)))
        if (s.sequence != 0) obj.put("sequence", java.lang.Long.toUnsignedString(s.sequence))
      }
    }
    auth.fee.foreach { fee =>
      val obj = authObj.putObject("fee")
      if (fee.amount.nonEmpty) coinsTree(obj.putArray("amount"), fee.amount)
      if (fee.gasLimit != 0) obj.put("gasLimit", java.lang.Long.toUnsignedString(fee.gasLimit))
      if (fee.payer.nonEmpty) obj.put("payer", fee.payer)
      if (fee.granter.nonEmpty) obj.put("granter", fee.granter)
    }
    if (tx.signatures.nonEmpty) {
      val arr = root.putArray("signatures")
      tx.signatures.foreach(s => arr.add(Base64.getEncoder.encodeToString(s)))
    }
    root
  }
}
