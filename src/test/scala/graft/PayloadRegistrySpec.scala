package graft

import graft.proto.{CosmosTx, PayloadTypePrinters}
import graft.proto.CosmosTx._
import org.scalatest.funsuite.AnyFunSuite

/** SPI implementation discovered via the test classpath's
  * META-INF/services entry — proves the drop-a-jar extension contract.
  * Renders a fake `MsgBurn { 1: amount(string) }` payload.
  */
class TestPayloadPrinters extends PayloadTypePrinters {
  override def printers: Map[String, Array[Byte] => String] = Map(
    "/testchain.v1.MsgBurn" -> { bytes =>
      val r = new graft.proto.ProtoWire.Reader(bytes, 0, bytes.length)
      var amount = ""
      while (r.hasMore) r.readTag() match {
        case (1, 2) => amount = new String(r.readBytes(), "UTF-8")
        case (_, wt) => r.skip(wt)
      }
      if (amount.isEmpty) "" else ",\"amount\":\"" + amount + "\""
    })
}

class PayloadRegistrySpec extends AnyFunSuite {

  test("ServiceLoader printers extend the Any registry without editing the engine") {
    assert(CosmosTx.registry.contains("/testchain.v1.MsgBurn"))
    // built-ins still present
    assert(CosmosTx.registry.contains("/cosmos.bank.v1beta1.MsgSend"))

    val payload = new graft.proto.ProtoWire.Writer().string(1, "42know").toBytes
    val any = AnyMsg("type.googleapis.com/testchain.v1.MsgBurn", payload)
    val tx = Tx(TxBody(Seq(any), "", 0L), AuthInfo(Nil, None), Nil)
    val json = CosmosTx.toJson(tx)
    assert(json.contains(""""@type":"type.googleapis.com/testchain.v1.MsgBurn","amount":"42know""""), json)
  }

  test("unknown types still fall back to open-schema base64 rendering") {
    val any = AnyMsg("type.googleapis.com/unknown.v1.MsgNope", Array[Byte](1, 2, 3))
    val tx = Tx(TxBody(Seq(any), "", 0L), AuthInfo(Nil, None), Nil)
    val json = CosmosTx.toJson(tx)
    assert(json.contains(""""@type":"type.googleapis.com/unknown.v1.MsgNope","value":""""), json)
  }

  test("an SPI fragment that is not valid JSON renders as base64 in toJson and toTree, and the tx still routes") {
    import com.fasterxml.jackson.databind.ObjectMapper
    import graft.functions.{DecodeCosmosTx, DecodedTxRow, JsonPathRoutes}
    import graft.rules.TxDispatchRules.{ERROR, UNFILTERED}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType

    // the test printer copies the amount verbatim: `,"amount":"4"2"`
    val payload = new graft.proto.ProtoWire.Writer().string(1, "4\"2").toBytes
    val any = AnyMsg("type.googleapis.com/testchain.v1.MsgBurn", payload)
    val tx = Tx(TxBody(Seq(any), "", 0L), AuthInfo(Nil, None), Nil)
    val json = CosmosTx.toJson(tx)
    val b64 = java.util.Base64.getEncoder.encodeToString(payload)
    assert(json == s"""{"body":{"messages":[{"@type":"type.googleapis.com/testchain.v1.MsgBurn","value":"$b64"}]},"authInfo":{}}""")
    assert(CosmosTx.toTree(tx) == new ObjectMapper().readTree(json))

    val row = DecodeCosmosTx(Literal(null, BinaryType)).decode(CosmosTx.encode(tx))
    assert(row.isInstanceOf[DecodedTxRow] && row.isNullAt(2))
    val routes = JsonPathRoutes(Literal(""), Seq("$.body.messages[?(@.value)]", "$.nop"), Some(ERROR), Some(UNFILTERED))
    assert(routes.routesFor(row).toIntArray().toSeq == Seq(0))
    assert(routes.routesFor(row.getUTF8String(0)).toIntArray().toSeq == Seq(0))
  }

  test("an SPI fragment that adds members after its own object falls back too") {
    import com.fasterxml.jackson.databind.ObjectMapper
    // `,"amount":"x"},{"b":"y"` would close the Any early and add a message
    val payload = new graft.proto.ProtoWire.Writer().string(1, "x\"},{\"b\":\"y").toBytes
    val tx = Tx(TxBody(Seq(AnyMsg("type.googleapis.com/testchain.v1.MsgBurn", payload)), "", 0L),
      AuthInfo(Nil, None), Nil)
    val tree = new ObjectMapper().readTree(CosmosTx.toJson(tx))
    assert(tree.at("/body/messages").size == 1 && tree.at("/body/messages/0/value").isTextual, tree.toString)
    assert(CosmosTx.toTree(tx) == tree)
  }
}
