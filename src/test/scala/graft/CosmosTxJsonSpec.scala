package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.functions.JsonPathLite
import graft.proto.{CosmosTx, ProtoWire}
import graft.proto.CosmosTx._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.util.Base64
import scala.util.Try

/** Generated `Tx` trees that reach every branch of the canonical JSON
  * renderer: strings over every ASCII char (quotes, backslashes, control
  * chars) plus non-ASCII and surrogate pairs, empty strings and zero
  * defaults, 0–3 messages of built-in, SPI, unknown and throwing payload
  * types (with payload bytes that parse and bytes that do not, and SPI
  * fragments that are not valid JSON), signer
  * infos with and without keys, each fee field alone, uint64 values at and
  * above 2^63, and signatures.
  */
object TxGen {
  val MsgSendUrl = "type.googleapis.com/cosmos.bank.v1beta1.MsgSend"
  val PubKeyUrl = "type.googleapis.com/cosmos.crypto.secp256k1.PubKey"
  val MsgBurnUrl = "type.googleapis.com/testchain.v1.MsgBurn"
  val ThrowUrl = "type.googleapis.com/testchain.v1.MsgThrow"

  /** [[CosmosTx.registry]] (built-ins and the test classpath's SPI
    * printers) plus a printer that always throws.
    */
  val registry: Map[String, PayloadPrinter] =
    CosmosTx.registry + ("/testchain.v1.MsgThrow" -> (_ => throw new IllegalStateException("printer fails")))

  private val char: Gen[Char] = Gen.frequency(
    8 -> Gen.choose(0x20.toChar, 0x7e.toChar),
    2 -> Gen.choose(0x00.toChar, 0x1f.toChar),
    2 -> Gen.oneOf('"', '\\', 0x7f.toChar),
    1 -> Gen.oneOf('é', '中', ' ', '￿'))

  /** A string of up to 12 chars and surrogate pairs, often empty. */
  val str: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    6 -> Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, Gen.frequency(
      10 -> char.map(_.toString),
      1 -> Gen.oneOf("😀", "𝄞"))).map(_.mkString)))

  val bytes: Gen[Array[Byte]] =
    Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.choose(Byte.MinValue, Byte.MaxValue))).map(_.toArray)

  /** A uint64 as protobuf carries it in a `Long`: zero, small, or ≥ 2^63. */
  val uint64: Gen[Long] = Gen.frequency(
    3 -> Gen.const(0L),
    3 -> Gen.choose(1L, 10000000L),
    1 -> Gen.oneOf(Long.MaxValue, Long.MinValue, -1L),
    1 -> Gen.choose(Long.MinValue, Long.MaxValue))

  val coin: Gen[Coin] = Gen.zip(str, str).map { case (d, a) => Coin(d, a) }
  val coins: Gen[Seq[Coin]] = Gen.choose(0, 2).flatMap(Gen.listOfN(_, coin))

  /** Bytes no protobuf reader accepts: a truncated length-delimited field. */
  private val garbage: Gen[Array[Byte]] = Gen.oneOf(Array[Byte](0x0a, 0x05, 0x61), Array[Byte](-1))

  val any: Gen[AnyMsg] = Gen.frequency(
    4 -> Gen.zip(str, str, coins).map { case (f, t, c) =>
      AnyMsg(MsgSendUrl, encodeMsgSend(MsgSend(f, t, c)))
    },
    1 -> garbage.map(AnyMsg(MsgSendUrl, _)),
    2 -> bytes.map(k => AnyMsg(PubKeyUrl, new ProtoWire.Writer().bytes(1, k).toBytes)),
    1 -> garbage.map(AnyMsg(PubKeyUrl, _)),
    // the test SPI printer copies its field verbatim: a JSON-safe amount,
    // or any string, whose quotes and control chars can break its fragment
    1 -> Gen.alphaNumStr.map(a => AnyMsg(MsgBurnUrl, new ProtoWire.Writer().string(1, a.take(10)).toBytes)),
    1 -> str.map(a => AnyMsg(MsgBurnUrl, new ProtoWire.Writer().string(1, a).toBytes)),
    1 -> garbage.map(AnyMsg(MsgBurnUrl, _)),
    1 -> bytes.map(AnyMsg(ThrowUrl, _)),
    2 -> Gen.zip(Gen.oneOf("type.googleapis.com/unknown.v1.X", "/cosmos.bank.v1beta1.MsgSend",
      "noslash", ""), bytes).map { case (u, v) => AnyMsg(u, v) },
    1 -> Gen.zip(str, bytes).map { case (u, v) => AnyMsg(u, v) })

  val signerInfo: Gen[SignerInfo] =
    Gen.zip(Gen.option(any), uint64).map { case (pk, s) => SignerInfo(pk, s) }

  /** No fee, each of its four fields alone, or all of them. */
  val fee: Gen[Option[Fee]] = Gen.frequency(
    2 -> Gen.const(None),
    1 -> coins.map(c => Some(Fee(c, 0L, "", ""))),
    1 -> uint64.map(g => Some(Fee(Nil, g, "", ""))),
    1 -> str.map(p => Some(Fee(Nil, 0L, p, ""))),
    1 -> str.map(g => Some(Fee(Nil, 0L, "", g))),
    2 -> Gen.zip(coins, uint64, str, str).map { case (c, g, p, gr) => Some(Fee(c, g, p, gr)) })

  val tx: Gen[Tx] = for {
    msgs <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, any))
    memo <- str
    timeout <- uint64
    signers <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, signerInfo))
    f <- fee
    sigs <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, bytes))
  } yield Tx(TxBody(msgs, memo, timeout), AuthInfo(signers, f), sigs)
}

/** The canonical JSON renderer and the tree builder, each against a
  * document built independently with Jackson's tree API from the same `Tx`.
  */
class CosmosTxJsonSpec extends AnyFunSuite {
  import TxGen._

  private val mapper = new ObjectMapper()
  private val strict = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(20000).withInitialSeed(Seed(20261019L)).withWorkers(1)

  private def check(prop: Prop): Unit = {
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  private def b64(b: Array[Byte]): String = Base64.getEncoder.encodeToString(b)
  private def unsigned(v: Long): String = (BigInt(v) & ((BigInt(1) << 64) - 1)).toString

  /** Payload fields as the registry's printer would add them, or None when
    * the type has no printer or its bytes do not parse.
    */
  private def payload(a: AnyMsg, o: ObjectNode): Option[Unit] = {
    def fields(bytes: Array[Byte]): Map[Int, Array[Byte]] = {
      val r = new ProtoWire.Reader(bytes)
      var m = Map.empty[Int, Array[Byte]]
      while (r.hasMore) r.readTag() match {
        case (f, 2) => m += f -> r.readBytes()
        case (_, wt) => r.skip(wt)
      }
      m
    }
    // a url without '/' keeps no '/', so it matches no registry key
    a.typeUrl.substring(math.max(a.typeUrl.indexOf('/'), 0)) match {
      case "/cosmos.bank.v1beta1.MsgSend" => Try(parseMsgSend(a.value)).toOption.map { m =>
        if (m.fromAddress.nonEmpty) o.put("fromAddress", m.fromAddress)
        if (m.toAddress.nonEmpty) o.put("toAddress", m.toAddress)
        if (m.amount.nonEmpty) coinArray(o, "amount", m.amount)
      }
      case "/cosmos.crypto.secp256k1.PubKey" =>
        Try(fields(a.value)).toOption.map(_.get(1).filter(_.nonEmpty).foreach(k => o.put("key", b64(k))))
      // the printer writes `,"amount":"<amount>"` verbatim: its members
      // join the object when they parse as JSON, else the payload is base64
      case "/testchain.v1.MsgBurn" =>
        Try(fields(a.value)).toOption.flatMap(_.get(1).filter(_.nonEmpty) match {
          case None => Some(())
          case Some(v) =>
            Try(strict.readTree("{\"amount\":\"" + new String(v, "UTF-8") + "\"}")).toOption
              .map(_.properties().forEach(e => o.set[JsonNode](e.getKey, e.getValue)))
        })
      case _ => None
    }
  }

  private def coinArray(o: ObjectNode, name: String, cs: Seq[Coin]): Unit = {
    val arr = o.putArray(name)
    cs.foreach { c =>
      val co = arr.addObject()
      if (c.denom.nonEmpty) co.put("denom", c.denom)
      if (c.amount.nonEmpty) co.put("amount", c.amount)
    }
  }

  private def anyNode(a: AnyMsg, o: ObjectNode): Unit = {
    o.put("@type", a.typeUrl)
    if (payload(a, o).isEmpty && a.value.nonEmpty) o.put("value", b64(a.value))
  }

  private def expected(tx: Tx): ObjectNode = {
    val root = mapper.createObjectNode()
    val body = root.putObject("body")
    if (tx.body.messages.nonEmpty) {
      val arr = body.putArray("messages")
      tx.body.messages.foreach(m => anyNode(m, arr.addObject()))
    }
    if (tx.body.memo.nonEmpty) body.put("memo", tx.body.memo)
    if (tx.body.timeoutHeight != 0) body.put("timeoutHeight", unsigned(tx.body.timeoutHeight))
    val auth = root.putObject("authInfo")
    if (tx.authInfo.signerInfos.nonEmpty) {
      val arr = auth.putArray("signerInfos")
      tx.authInfo.signerInfos.foreach { s =>
        val so = arr.addObject()
        s.publicKey.foreach(pk => anyNode(pk, so.putObject("publicKey")))
        if (s.sequence != 0) so.put("sequence", unsigned(s.sequence))
      }
    }
    tx.authInfo.fee.foreach { f =>
      val fo = auth.putObject("fee")
      if (f.amount.nonEmpty) coinArray(fo, "amount", f.amount)
      if (f.gasLimit != 0) fo.put("gasLimit", unsigned(f.gasLimit))
      if (f.payer.nonEmpty) fo.put("payer", f.payer)
      if (f.granter.nonEmpty) fo.put("granter", f.granter)
    }
    if (tx.signatures.nonEmpty) {
      val arr = root.putArray("signatures")
      tx.signatures.foreach(s => arr.add(b64(s)))
    }
    root
  }

  /** Whether `json` holds a whitespace char outside its string literals. */
  private def whitespaceOutsideStrings(json: String): Boolean = {
    var inStr = false
    var i = 0
    while (i < json.length) {
      val c = json.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1 else if (c == '"') inStr = false
      } else if (c == '"') inStr = true
      else if (Character.isWhitespace(c)) return true
      i += 1
    }
    false
  }

  test("property: toJson has no whitespace outside strings, parses, and equals the Jackson-built tree in field order") {
    var fallbacks = 0
    var unsignedHigh = 0
    check(Prop.forAll(TxGen.tx) { tx =>
      val json = CosmosTx.toJson(tx, registry)
      val want = expected(tx)
      val got = Try(mapper.readTree(json))
      if (json.contains("\"value\":")) fallbacks += 1
      if ((tx.body.timeoutHeight +: tx.authInfo.signerInfos.map(_.sequence) ++:
          tx.authInfo.fee.map(_.gasLimit).toSeq).exists(_ < 0)) unsignedHigh += 1
      Prop(!whitespaceOutsideStrings(json)) :| s"whitespace in $json" &&
        Prop(got.isSuccess) :| s"Jackson rejects $json" &&
        // toString serialises fields in insertion order: equal strings
        // mean equal trees with equal field order
        Prop(got.get.toString == want.toString) :| s"got  $json\nwant ${want.toString}"
    })
    // the generator must reach the fallback and the high uint64 branch
    assert(fallbacks > 1000 && unsignedHigh > 500, s"fallbacks=$fallbacks unsignedHigh=$unsignedHigh")
  }

  /** Rule sets shaped like the dispatch benchmark's, over the documents
    * `TxGen` makes: `@type` discriminators, `==`/`in` groups, regexes,
    * `..` scans, indices, slices, unions, `&&`/`||` filters and a
    * never-matching path.
    */
  private val ruleSets: Seq[JsonPathLite.RuleSet] = Seq(
    Seq(s"$$.body.messages[?(@.@type == '$MsgSendUrl')]",
      "$..messages[?(@.fromAddress =~ /.*a.*/)]",
      "$.nop",
      "$.body[?(@.memo =~ /.*(a|b).*/i)]",
      "$.authInfo.fee.amount[?(@.denom =~ /.+/)]",
      "$.body.messages[1]",
      s"$$.body.messages[?(@.@type in ['$MsgBurnUrl','$PubKeyUrl'])]",
      "$..[?(@.toAddress)]"),
    Seq(s"$$.body.messages[?(@.@type == '$MsgBurnUrl')]",
      s"$$.body.messages[?(@.@type == '$ThrowUrl')]",
      s"$$..publicKey[?(@.@type == '$PubKeyUrl')]",
      "$..amount[?(@.denom == 'a')]",
      "$..[?(@.amount)]",
      "$..publicKey[?(@.key =~ /A.*/)]",
      "$.authInfo.signerInfos[?(@.sequence in ['1','2','3'])]",
      "$..signerInfos[?(@.sequence == '18446744073709551615')]",
      "$.authInfo.fee['payer','granter']",
      "$.authInfo.fee[?(@.gasLimit)]",
      "$.body.messages[2:]",
      "$.signatures[1]",
      "$.body.timeoutHeight",
      s"$$.body.messages[-1:][?(@.@type == '$MsgSendUrl')]",
      "$.body.messages[?(@.value && @.@type =~ /.*MsgBurn/)]",
      s"$$.body.messages[?(@.fromAddress == 'a' || @.@type == '$ThrowUrl')]",
      "$..messages[?(@.amount[0].amount =~ /.+/)]",
      "$.body.messages[0,1][?(@.value)]")).map(new JsonPathLite.RuleSet(_))

  test("property: toTree equals the Jackson-built tree in field order, and every rule matches it as it matches the parse of toJson") {
    var matched = 0
    check(Prop.forAll(TxGen.tx) { tx =>
      val tree = CosmosTx.toTree(tx, registry)
      val want = expected(tx)
      val parsed = mapper.readTree(CosmosTx.toJson(tx, registry))
      val disagree = ruleSets.filter(rs => rs.matching(tree).toSeq != rs.matching(parsed).toSeq)
      matched += ruleSets.map(_.matching(tree).length).sum
      Prop(tree.toString == want.toString) :| s"got  $tree\nwant $want" &&
        Prop(tree == parsed) :| s"tree $tree\nparse $parsed" &&
        Prop(disagree.isEmpty) :| s"a rule set matches the tree and the parse differently: $tree"
    })
    // the rules must match often for the agreement to mean something
    assert(matched > 20000, s"$matched matches")
  }
}
