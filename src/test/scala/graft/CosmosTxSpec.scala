package graft

import graft.proto.{CosmosTx, ProtoWire}
import graft.proto.CosmosTx._
import graft.functions.JsonPathLite
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Protobuf layer unit tests: reference fixture shapes (TopologyTest.kt:25–69,
  * FIXTURES.md §1.2) rebuilt with the hand-rolled wire codec.
  */
class CosmosTxSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val msgSendUrl = "type.googleapis.com/cosmos.bank.v1beta1.MsgSend"

  private def msgSendTx(from: String, to: String, coins: Seq[Coin],
      sigs: Seq[Array[Byte]] = Nil, signer: Option[SignerInfo] = None): Tx = {
    val any = AnyMsg(msgSendUrl, encodeMsgSend(MsgSend(from, to, coins)))
    Tx(TxBody(Seq(any), "", 0L), AuthInfo(signer.toSeq, None), sigs)
  }

  // tx1: MsgSend with dummy addresses + one empty Coin + a signature
  val tx1: Tx = msgSendTx("testFrom", "tesTo", Seq(Coin("", "")),
    sigs = Seq("fakeSignature".getBytes("UTF-8")),
    signer = Some(SignerInfo(Some(AnyMsg("type.googleapis.com/cosmos.crypto.secp256k1.PubKey",
      new ProtoWire.Writer().bytes(1, "fakePubKey".getBytes("UTF-8")).toBytes)), 7L)))
  // tx2: the pinned from-address (matches rules 1 AND 2 — multicast)
  val tx2: Tx = msgSendTx("okp41rhd8744u4vqvcjuvyfm8fea4k9mefe3k57qz27",
    "okp41wwr8ye24766rmjjh7eva0rc2p7cnwa8py6s6fc", Seq(Coin("know", "100")))
  // tx3: default/empty body + authInfo (matches nothing → DLQ)
  val tx3: Tx = Tx(TxBody(Nil, "", 0L), AuthInfo(Nil, None), Nil)
  // txError: ASCII "test" — not a decodable Tx
  val txError: Array[Byte] = "test".getBytes("UTF-8")

  test("decode(encode(tx)) is identity on all fields") {
    for (tx <- Seq(tx1, tx2, tx3)) {
      val rt = decode(encode(tx))
      assert(rt.body.messages.map(_.typeUrl) == tx.body.messages.map(_.typeUrl))
      assert(rt.body.messages.map(_.value.toSeq) == tx.body.messages.map(_.value.toSeq))
      assert(rt.body.memo == tx.body.memo)
      assert(rt.signatures.map(_.toSeq) == tx.signatures.map(_.toSeq))
      assert(rt.authInfo.signerInfos.map(_.sequence) == tx.authInfo.signerInfos.map(_.sequence))
    }
  }

  test("undecodable bytes throw (captured as data upstream)") {
    intercept[ProtoWire.ProtoParseException](decode(txError))
    intercept[ProtoWire.ProtoParseException](decode(Array.emptyByteArray))
  }

  test("canonical JSON: @type discriminator, lowerCamelCase, base64 bytes, default omission") {
    val json = toJson(decode(encode(tx1)))
    val node = mapper.readTree(json) // must be valid JSON
    assert(node.at("/body/messages/0/@type").asText == msgSendUrl)
    assert(node.at("/body/messages/0/fromAddress").asText == "testFrom")
    // empty Coin renders as {} (all defaults omitted)
    assert(node.at("/body/messages/0/amount/0").toString == "{}")
    // signature bytes render as base64
    val b64 = java.util.Base64.getEncoder.encodeToString("fakeSignature".getBytes("UTF-8"))
    assert(node.at("/signatures/0").asText == b64)
    // pubkey Any resolved through the registry
    assert(node.at("/authInfo/signerInfos/0/publicKey/@type").asText
      == "type.googleapis.com/cosmos.crypto.secp256k1.PubKey")
    // uint64 as JSON string
    assert(node.at("/authInfo/signerInfos/0/sequence").asText == "7")
  }

  test("empty tx renders as empty envelope (reference tx3 golden shape)") {
    assert(toJson(tx3) == """{"body":{},"authInfo":{}}""")
  }

  test("reference rules match the canonical JSON (rules_example.yaml semantics)") {
    def matches(tx: Tx, path: String): Boolean =
      JsonPathLite.exists(mapper.readTree(toJson(tx)), JsonPathLite.compile(path))
    val r1 = s"$$.body.messages[?(@.@type == '$msgSendUrl')]"
    val r2 = "$..messages[?(@.fromAddress == 'okp41rhd8744u4vqvcjuvyfm8fea4k9mefe3k57qz27')]"
    val r3 = "$.nop"
    assert(matches(tx1, r1) && !matches(tx1, r2) && !matches(tx1, r3))
    assert(matches(tx2, r1) && matches(tx2, r2) && !matches(tx2, r3))
    assert(!matches(tx3, r1) && !matches(tx3, r2) && !matches(tx3, r3))
  }

  test("protobuf leniency: a serialized Tx parses as TxRaw (SURVEY §2.3)") {
    val raw = parseTxRaw(encode(tx2))
    assert(raw.bodyBytes.nonEmpty && raw.authInfoBytes.length >= 0)
    val body = parseTxBody(raw.bodyBytes)
    assert(body.messages.head.typeUrl == msgSendUrl)
  }

  test("unknown Any types stay open-schema with base64 value") {
    val any = AnyMsg("type.googleapis.com/unknown.Type", Array[Byte](8, 1))
    val tx = Tx(TxBody(Seq(any), "", 0L), AuthInfo(Nil, None), Nil)
    val node = mapper.readTree(toJson(tx))
    assert(node.at("/body/messages/0/@type").asText == "type.googleapis.com/unknown.Type")
    assert(node.at("/body/messages/0/value").asText ==
      java.util.Base64.getEncoder.encodeToString(Array[Byte](8, 1)))
  }

  test("unknown fields survive decode -> encode (mode_info and friends)") {
    // SignerInfo with field 2 (mode_info in the real schema, unmodeled
    // here) and field 9 varint: both must survive the round trip
    val modeInfo = new ProtoWire.Writer().bytes(1, Array[Byte](8, 1)).toBytes
    val siBytes = new ProtoWire.Writer()
      .bytesAlways(1, encodeAny(AnyMsg("type.googleapis.com/cosmos.crypto.secp256k1.PubKey", Array[Byte](1, 2))))
      .bytesAlways(2, modeInfo) // unknown to our model
      .int64(3, 42L)
      .int64(9, 7L) // unknown varint field
      .toBytes
    val si = parseSignerInfo(siBytes)
    assert(si.sequence == 42L && si.unknown.nonEmpty)
    val reencoded = encodeSignerInfo(si)
    // parse the re-encoding generically: every original field number present
    val fields = scala.collection.mutable.Set.empty[Int]
    val r = new ProtoWire.Reader(reencoded)
    while (r.hasMore) { val (f, wt) = r.readTag(); r.skip(wt); fields += f }
    assert(fields == Set(1, 2, 3, 9), s"fields lost: got $fields")
    // and the unknown payload bytes are verbatim
    val si2 = parseSignerInfo(reencoded)
    assert(si2.unknown.toSeq == si.unknown.toSeq)

    // same through the full Tx envelope (auth_info with unknown field 7)
    val authBytes = new ProtoWire.Writer()
      .bytesAlways(1, siBytes).string(7, "granter-ext").toBytes
    val bodyBytes = encodeTxBody(TxBody(Nil, "memo!", 5L))
    val txBytes = new ProtoWire.Writer()
      .messageAlways(1, bodyBytes).messageAlways(2, authBytes).toBytes
    val rt = CosmosTx.encode(decode(txBytes))
    val rt2 = decode(rt)
    assert(rt2.authInfo.unknown.nonEmpty)
    assert(rt2.authInfo.signerInfos.head.unknown.toSeq == si.unknown.toSeq)
    assert(rt2.body.memo == "memo!" && rt2.body.timeoutHeight == 5L)
  }

  test("property: round-trip through wire format for arbitrary MsgSend fields") {
    val rnd = new scala.util.Random(42)
    def str(): String = rnd.alphanumeric.take(rnd.nextInt(50)).mkString
    for (_ <- 1 to 300) {
      val m = MsgSend(str(), str(), Seq(Coin(str(), rnd.nextLong().abs.toString)))
      assert(parseMsgSend(encodeMsgSend(m)) == m)
    }
  }

  test("uint64 fields at and above 2^63 round-trip and render unsigned, as protobuf's JsonFormat does") {
    for ((v, text) <- Seq(Long.MinValue -> "9223372036854775808", -1L -> "18446744073709551615")) {
      val tx = Tx(TxBody(Nil, "", v), AuthInfo(Seq(SignerInfo(None, v)), Some(Fee(Nil, v, "", ""))), Nil)
      val rt = decode(encode(tx))
      assert(rt.body.timeoutHeight == v && rt.authInfo.signerInfos.head.sequence == v &&
        rt.authInfo.fee.get.gasLimit == v)
      val json = toJson(rt)
      assert(json == s"""{"body":{"timeoutHeight":"$text"},"authInfo":{"signerInfos":[{"sequence":"$text"}],""" +
        s""""fee":{"gasLimit":"$text"}}}""", json)
      val matched = JsonPathLite.exists(mapper.readTree(json),
        JsonPathLite.compile("$.body[?(@.timeoutHeight == '18446744073709551615')]"))
      assert(matched == (v == -1L))
    }
  }

  test("property: varint round-trip incl. extreme values") {
    val rnd = new scala.util.Random(7)
    val cases = Seq(0L, 1L, 127L, 128L, Long.MaxValue, -1L, Long.MinValue) ++
      Seq.fill(300)(rnd.nextLong())
    for (v <- cases) {
      val bytes = new ProtoWire.Writer().writeVarint(v).toBytes
      assert(new ProtoWire.Reader(bytes).readVarint() == v, s"varint $v")
    }
  }
}
