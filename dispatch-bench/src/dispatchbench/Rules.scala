package dispatchbench

import java.util.Base64
import java.util.regex.Pattern

/** A dispatch rule given twice: as the JsonPath the engine loads, and as the
  * same condition written against the generator's model. The oracle uses
  * only `matches`.
  */
final case class BenchRule(name: String, path: String, matches: Tx => Boolean) {
  def topic: String = s"t-$name"
}

object Rules {
  private val bech32 = "qpzry9x8gf2tvdw0s3jn54khce6mua7l"

  /** A deterministic bech32-looking address; the same on every seed. */
  def address(rng: java.util.SplittableRandom): String = {
    val sb = new StringBuilder("okp41")
    var i = 0
    while (i < 38) { sb.append(bech32.charAt(rng.nextInt(bech32.length))); i += 1 }
    sb.toString
  }

  /** Addresses the rules name. Records send from or to one of them with
    * some probability, so address rules match a steady share.
    */
  val hot: Vector[String] = {
    val rng = new java.util.SplittableRandom(0x5eed)
    Vector.fill(16)(address(rng))
  }

  val denoms: Vector[String] = Vector("uknow", "uatom", "uosmo", "stake", "ujuno",
    "ibc/27394FB092D2ECCD56123C74F36E4C1F926001CEADA9CA97EA622B25F41E5EB2")

  private def regex(re: String, flags: Int): String => Boolean = {
    val p = Pattern.compile(re, flags)
    s => p.matcher(s).matches()
  }
  private val CI = Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE

  private def memoRule(name: String, re: String, flagChars: String, flags: Int): BenchRule = {
    val m = regex(re, flags)
    BenchRule(name, s"$$.body[?(@.memo =~ /$re/$flagChars)]", t => t.memo.nonEmpty && m(t.memo))
  }

  private def typeRule(name: String, url: String): BenchRule =
    BenchRule(name, s"$$.body.messages[?(@.@type == '$url')]", _.msgs.exists(_.typeUrl == url))

  private def fromRule(i: Int): BenchRule =
    BenchRule(s"from-$i", s"$$..messages[?(@.fromAddress == '${hot(i)}')]", _.sends.exists(_.from == hot(i)))

  private def toRule(i: Int): BenchRule =
    BenchRule(s"to-$i", s"$$..[?(@.toAddress == '${hot(i)}')]", _.sends.exists(_.to == hot(i)))

  private def allCoins(t: Tx): Iterator[Coin] =
    t.sends.iterator.flatMap(_.amount) ++ t.fee.iterator.flatMap(_.amount)

  /** Eight rules shaped like the reference's `rules_example.yaml`: a type
    * discriminator, address filters, a never-matching path, plus a memo
    * regex, a fee filter, a multi-message index and an `in` list.
    */
  val eight: Vector[BenchRule] = Vector(
    typeRule("msg-send", Urls.MsgSend),
    fromRule(0),
    BenchRule("nop", "$.nop", _ => false),
    memoRule("memo-flag", ".*(airdrop|urgent).*", "i", CI),
    BenchRule("fee-uatom", "$.authInfo.fee.amount[?(@.denom == 'uatom')]",
      _.fee.exists(_.amount.exists(_.denom == "uatom"))),
    BenchRule("multi-msg", "$.body.messages[1]", _.msgs.size >= 2),
    BenchRule("stake-or-wasm",
      s"$$.body.messages[?(@.@type in ['${Urls.Delegate}','${Urls.Execute}'])]",
      _.msgs.exists(m => m.typeUrl == Urls.Delegate || m.typeUrl == Urls.Execute)),
    toRule(1))

  private val amount7 = regex("[0-9]{7,}", 0)
  private val startsWithA = regex("A.*", 0)

  /** Sixty-four rules: filters, `$..` scans, regexes, slices and unions.
    * Each matches a few percent of records, so a record matches about two
    * on average and about one in ten matches none.
    */
  val sixtyFour: Vector[BenchRule] = {
    val types = Vector("delegate" -> Urls.Delegate, "execute" -> Urls.Execute, "vote" -> Urls.Vote)
      .map { case (n, u) => typeRule(s"type-$n", u) }
    val froms = (0 until 14).map(fromRule)
    val tos = (0 until 14).map(toRule)
    val denomRules = Vector(3, 4, 5).map { i =>
      val d = denoms(i)
      BenchRule(s"denom-$i", s"$$..amount[?(@.denom == '$d')]", t => allCoins(t).exists(_.denom == d))
    }
    val memos = Vector(
      memoRule("memo-flag", ".*(airdrop|urgent).*", "i", CI),
      memoRule("memo-gm", ".*(gm|wagmi).*", "", 0),
      memoRule("memo-refund", ".*refund.*", "s", Pattern.DOTALL),
      memoRule("memo-number", ".* [0-9]{3}", "", 0),
      memoRule("memo-line", ".*memo.*", "m", Pattern.MULTILINE),
      memoRule("memo-ibc", "ibc.*", "i", CI))
    val fees = Vector(
      BenchRule("fee-gas", "$.authInfo.fee[?(@.gasLimit == '200000')]", _.fee.exists(_.gasLimit == 200000L)),
      BenchRule("fee-payer", "$.authInfo.fee.payer", _.fee.exists(_.payer.nonEmpty)),
      BenchRule("fee-granter", "$.authInfo.fee.granter", _.fee.exists(_.granter.nonEmpty)),
      BenchRule("fee-big-know", "$.authInfo.fee.amount[?(@.denom == 'uknow' && @.amount =~ /[0-9]{7,}/)]",
        _.fee.exists(_.amount.exists(c => c.denom == "uknow" && amount7(c.amount)))),
      BenchRule("fee-uosmo", "$.authInfo.fee.amount[?(@.denom == 'uosmo')]", _.fee.exists(_.amount.exists(_.denom == "uosmo"))),
      BenchRule("fee-two-coins", "$.authInfo.fee.amount[1]", _.fee.exists(_.amount.size >= 2)),
      BenchRule("fee-party", "$.authInfo.fee['payer','granter']", _.fee.exists(f => f.payer.nonEmpty || f.granter.nonEmpty)))
    val signers = Vector(
      BenchRule("seq-low", "$.authInfo.signerInfos[?(@.sequence in ['1','2','3'])]",
        _.signers.exists(s => s.sequence >= 1 && s.sequence <= 3)),
      BenchRule("seq-two-deep", "$..signerInfos[?(@.sequence == '2')]", _.signers.exists(_.sequence == 2L)),
      BenchRule("two-signers", "$.authInfo.signerInfos[1]", _.signers.size >= 2),
      BenchRule("three-signers", "$.authInfo.signerInfos[2]", _.signers.size >= 3),
      BenchRule("key-a", "$..publicKey[?(@.key =~ /A.*/)]",
        _.signers.exists(_.pubKey.exists(k => k.nonEmpty && startsWithA(Base64.getEncoder.encodeToString(k))))))
    val shape = Vector(
      BenchRule("three-msgs", "$.body.messages[2:]", _.msgs.size >= 3),
      BenchRule("two-sigs", "$.signatures[1]", _.sigs.size >= 2),
      BenchRule("timeout", "$.body.timeoutHeight", _.timeout != 0),
      BenchRule("last-params", s"$$.body.messages[-1:][?(@.@type == '${Urls.Params}')]",
        _.msgs.lastOption.exists(_.typeUrl == Urls.Params)),
      BenchRule("nop", "$.nop", _ => false),
      BenchRule("transfer-value", s"$$.body.messages[?(@.value && @.@type == '${Urls.Transfer}')]",
        _.msgs.exists { case o: Opaque => o.value.nonEmpty && o.typeUrl == Urls.Transfer; case _ => false }))
    val combos = Vector(
      BenchRule("from0-to1", s"$$.body.messages[?(@.fromAddress == '${hot(0)}' && @.toAddress == '${hot(1)}')]",
        _.sends.exists(s => s.from == hot(0) && s.to == hot(1))),
      BenchRule("from2-or-params", s"$$.body.messages[?(@.fromAddress == '${hot(2)}' || @.@type == '${Urls.Params}')]",
        _.msgs.exists {
          case s: Send => s.from == hot(2)
          case o: Opaque => o.typeUrl == Urls.Params
        }),
      BenchRule("first-coin-uatom", "$..messages[?(@.amount[0].denom == 'uatom')]",
        _.sends.exists(_.amount.headOption.exists(_.denom == "uatom"))),
      BenchRule("small-first-coin", "$.body.messages[?(@.amount[0].amount =~ /[0-9]/)]",
        _.sends.exists(_.amount.headOption.exists(c => c.amount.length == 1))),
      BenchRule("two-coin-send", "$.body.messages[?(@.amount[1])]", _.sends.exists(_.amount.size >= 2)),
      BenchRule("to-hot-union", s"$$.body.messages[0,1][?(@.toAddress in ['${hot(12)}','${hot(13)}'])]",
        _.msgs.take(2).exists { case s: Send => s.to == hot(12) || s.to == hot(13); case _ => false }))
    val all = types ++ froms ++ tos ++ denomRules ++ memos ++ fees ++ signers ++ shape ++ combos
    require(all.size == 64 && all.map(_.name).distinct.size == 64, s"rule set has ${all.size} rules")
    all
  }

  /** The rule file the engine loads, in the reference's YAML shape. */
  def yaml(rules: Seq[BenchRule]): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    rules.map(r => s"  - name: ${q(r.name)}\n    topic: ${q(r.topic)}\n    predicate: ${q(r.path)}\n")
      .mkString("rules:\n", "", "")
  }
}
