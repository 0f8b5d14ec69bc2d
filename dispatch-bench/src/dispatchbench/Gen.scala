package dispatchbench

import java.util.SplittableRandom

/** One input record. `raw` is what the engine receives as protobuf bytes;
  * `json` is the pre-rendered document a JSON workload receives instead.
  * `error` marks an input the engine must send to the error topic; `tx` is
  * the model behind every other record.
  */
final case class Rec(key: String, tx: Tx, raw: Array[Byte], json: String, error: Boolean)

/** Disposition shares a workload declares: undecodable inputs, inputs that
  * match no rule, inputs that match two or more rules. The rest match one.
  */
final case class Mix(error: Double, dlq: Double, multi: Double) {
  def single: Double = 1.0 - error - dlq - multi
}

object Gen {
  private val words = Vector("gm", "refund", "airdrop", "urgent", "ibc transfer", "memo", "delegate",
    "swap", "hello", "payment for invoice", "wagmi", "stake", "rewards", "claim", "bridge")
  private val escapes = Vector(
    "say \"hi\" to the validator", "C:\\path\\to\\wallet", "line one\nline two memo",
    "tab\tseparated\tmemo", "ctl\u0001char\u001f", "bell\u0007 and \b\f", "caf\u00e9 cr\u00e8me refund",
    "\u65e5\u672c\u8a9e memo", "\ud83d\ude80 to the moon", "<b>&amp;</b> = 'x' / y",
    "carriage\r\nreturn urgent", "back\\\\slash \"quote\"")

  private def pick[A](r: SplittableRandom, xs: Vector[A]): A = xs(r.nextInt(xs.size))
  private def bytes(r: SplittableRandom, n: Int): Array[Byte] = {
    val a = new Array[Byte](n)
    r.nextBytes(a)
    a
  }
  /** 1 to 7 digits, each length about equally likely. */
  private def digits(r: SplittableRandom): String = {
    val hi = math.pow(10, 1 + r.nextInt(7)).toLong
    (1L + r.nextLong(hi - 1)).toString
  }

  private def denom(r: SplittableRandom): String = r.nextInt(100) match {
    case p if p < 60 => "uknow"; case p if p < 70 => "uatom"; case p if p < 80 => "uosmo"
    case p if p < 88 => "stake"; case p if p < 94 => "ujuno"; case _ => Rules.denoms(5)
  }

  private def address(r: SplittableRandom): String =
    if (r.nextInt(100) < 15) pick(r, Rules.hot) else Rules.address(r)

  private def coins(r: SplittableRandom): Vector[Coin] = {
    val n = r.nextInt(100) match { case p if p < 10 => 0; case p if p < 92 => 1; case _ => 2 }
    Vector.fill(n)(Coin(denom(r), digits(r)))
  }

  private def memo(r: SplittableRandom): String = r.nextInt(100) match {
    case p if p < 65 => ""
    case p if p < 80 => pick(r, words)
    case p if p < 90 => s"${pick(r, words)} ${pick(r, words)} ${r.nextInt(1000)}"
    case _ => pick(r, escapes)
  }

  private def msg(r: SplittableRandom, sendToFirst: Boolean): Msg =
    if (r.nextInt(100) < 60) {
      val url = if (r.nextInt(100) < 75) Urls.MsgSend else Urls.MsgSendFull
      val (from, to, amount) = (address(r), address(r), coins(r))
      Send(url, from, to, amount, Codec.sendPayload(from, to, amount, sendToFirst))
    } else {
      Opaque(pick(r, Urls.unregistered), if (r.nextInt(100) < 10) Array.emptyByteArray else bytes(r, 8 + r.nextInt(40)))
    }

  private def signer(r: SplittableRandom): Signer = {
    val pk = r.nextInt(100) match {
      case p if p < 10 => None
      case p if p < 15 => Some(Array.emptyByteArray)
      case _ => Some(bytes(r, 33))
    }
    val seq = r.nextInt(100) match {
      case p if p < 20 => 0L
      case p if p < 32 => 1L + r.nextInt(3)
      case _ => r.nextLong(1000000L)
    }
    Signer(pk, seq)
  }

  private def fee(r: SplittableRandom): Option[Fee] =
    if (r.nextInt(100) < 10) None
    else {
      val gas = r.nextInt(100) match { case p if p < 8 => 200000L; case p if p < 18 => 0L; case _ => 50000L + r.nextInt(500000) }
      val payer = if (r.nextInt(100) < 5) address(r) else ""
      val granter = if (r.nextInt(100) < 5) address(r) else ""
      Some(Fee(coins(r), gas, payer, granter))
    }

  private def variant(r: SplittableRandom): Variant =
    if (r.nextInt(100) < 60) Variant()
    else Variant(
      bodyOrder = r.nextInt(4) == 0, explicitDefaults = r.nextInt(4) == 0,
      unknownFirst = r.nextInt(4) == 0, feeCoinOrder = r.nextInt(4) == 0,
      rawUnknown = r.nextInt(4) == 0, dupMemo = r.nextInt(4) == 0,
      authFirst = r.nextInt(4) == 0, sendToFirst = r.nextInt(4) == 0)

  def tx(r: SplittableRandom, v: Variant): Tx = {
    val nMsgs = r.nextInt(100) match {
      case p if p < 2 => 0; case p if p < 80 => 1; case p if p < 94 => 2; case p if p < 98 => 3; case _ => 4
    }
    val nSigners = r.nextInt(100) match { case p if p < 10 => 0; case p if p < 92 => 1; case p if p < 97 => 2; case _ => 3 }
    val nSigs = r.nextInt(100) match { case p if p < 5 => 0; case p if p < 92 => 1; case _ => 2 }
    val unknown =
      if (r.nextInt(100) < 10) Vector.fill(1 + r.nextInt(2))((50 + r.nextInt(10), r.nextLong(100000L)))
      else Vector.empty
    Tx(
      msgs = Vector.fill(nMsgs)(msg(r, v.sendToFirst)),
      memo = memo(r),
      timeout = if (r.nextInt(100) < 90) 0L else 1L + r.nextLong(10000000L),
      bodyUnknown = unknown,
      signers = Vector.fill(nSigners)(signer(r)),
      fee = fee(r),
      sigs = Vector.fill(nSigs)(bytes(r, 64)))
  }

  /** Ways an input is undecodable. Each cuts or extends valid bytes so that
    * any protobuf decoder must reject them.
    */
  val errorKinds: Vector[String] =
    Vector("truncated", "wire-type", "field-zero", "long-varint", "bad-body", "bad-auth")

  private def corrupt(r: SplittableRandom, kind: String, t0: Tx): Array[Byte] = {
    // a signature and a fee keep the last TxRaw field and auth_info non-empty
    val t = t0.copy(sigs = if (t0.sigs.isEmpty) Vector(bytes(r, 64)) else t0.sigs,
      fee = t0.fee.orElse(Some(Fee(Vector(Coin("uknow", "1")), 0L, "", ""))),
      msgs = if (t0.msgs.isEmpty) Vector(Opaque(Urls.Vote, bytes(r, 8))) else t0.msgs)
    val valid = Codec.canonical(t)
    def cutLast(b: Array[Byte]): Array[Byte] = java.util.Arrays.copyOf(b, b.length - 1)
    kind match {
      // the final field loses 1..32 bytes of its 64-byte payload
      case "truncated" => java.util.Arrays.copyOf(valid, valid.length - 1 - r.nextInt(32))
      case "wire-type" => new Wire().raw(valid).tag(4 + r.nextInt(8), 6 + r.nextInt(2)).bytes
      case "field-zero" => new Wire().raw(valid).byte(0).byte(1).bytes
      case "long-varint" => { val w = new Wire().raw(valid).tag(5, 0); (0 until 10).foreach(_ => w.byte(0xff)); w.byte(1).bytes }
      // losing its last byte makes any well-formed message undecodable
      case "bad-body" => new Wire().len(1, cutLast(Codec.body(t, Variant()))).len(2, Codec.auth(t, Variant())).bytes
      case "bad-auth" => new Wire().len(1, Codec.body(t, Variant())).len(2, cutLast(Codec.auth(t, Variant()))).bytes
    }
  }

  /** Text a JSON workload receives for an undecodable record. */
  private def badJson(r: SplittableRandom, t: Tx): String = r.nextInt(4) match {
    case 0 => null
    case 1 => ""
    case 2 => { val j = Json.render(t); j.substring(0, j.length / 2) }
    case _ => "not a transaction"
  }

  def classOf(t: Tx, rules: Vector[BenchRule]): Int = {
    var n = 0
    var i = 0
    while (i < rules.length && n < 2) { if (rules(i).matches(t)) n += 1; i += 1 }
    n
  }

  /** `n` records from `seed`. Each record first draws its disposition
    * class, then draws models until one lands in that class, so the
    * declared shares hold on every seed.
    */
  def generate(seed: Long, n: Int, rules: Vector[BenchRule], mix: Mix, json: Boolean,
      keyOffset: Int = 0): Array[Rec] = {
    val r = new SplittableRandom(seed)
    Array.tabulate(n) { i =>
      val key = "k" + (keyOffset + i)
      val u = r.nextDouble()
      if (u < mix.error) {
        val t = tx(r, Variant())
        if (json) Rec(key, t, Codec.canonical(t), badJson(r, t), error = true)
        else Rec(key, t, corrupt(r, pick(r, errorKinds), t), null, error = true)
      } else {
        val want = if (u < mix.error + mix.dlq) 0 else if (u < mix.error + mix.dlq + mix.multi) 2 else 1
        val v = variant(r)
        var t = tx(r, v)
        var tries = 1
        while (classOf(t, rules) != want && tries < 200) { t = tx(r, v); tries += 1 }
        if (json) Rec(key, t, Codec.canonical(t), Json.render(t), error = false)
        else Rec(key, t, Codec.encode(t, v), null, error = false)
      }
    }
  }
}
