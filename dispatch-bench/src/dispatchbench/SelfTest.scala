package dispatchbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.operators.ProtoTx
import graft.rules.TxDispatchRules

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

/** Checks of the bench itself: the generator is deterministic and holds
  * its declared shares and input mix, and the checker catches every kind
  * of wrong output. Runs without Spark.
  */
object SelfTest {
  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit = {
    System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def run(): Boolean = {
    determinism()
    Workloads.all.foreach(shares)
    inputMix()
    documents()
    negatives()
    System.err.println(s"[selftest] ${if (failures == 0) "all passed" else s"$failures failed"}")
    failures == 0
  }

  private def same(a: Array[Rec], b: Array[Rec]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.key == y.key && x.error == y.error && java.util.Arrays.equals(x.raw, y.raw) && x.json == y.json
    }

  private def determinism(): Unit = Workloads.all.foreach { w =>
    val a = Gen.generate(7, 2000, w.rules, w.mix, w.json)
    val b = Gen.generate(7, 2000, w.rules, w.mix, w.json)
    val c = Gen.generate(8, 2000, w.rules, w.mix, w.json)
    expect(same(a, b), s"${w.name}: the same seed gives identical inputs")
    expect(!same(a, c), s"${w.name}: another seed gives other inputs")
  }

  private def shares(w: Workload): Unit = {
    val n = 20000
    val recs = Gen.generate(11, n, w.rules, w.mix, w.json)
    val oracle = new Oracle(w.rules, w.json)
    val outs = recs.map(oracle.expected)
    def share(f: Vector[Out] => Boolean) = outs.count(f).toDouble / n
    val error = share(_.exists(_.route == -1))
    val dlq = share(_.exists(_.route == -2))
    val multi = share(_.count(_.route >= 0) >= 2)
    val tol = 0.015
    expect(math.abs(error - w.mix.error) < tol, f"${w.name}: error share $error%.4f declared ${w.mix.error}")
    expect(math.abs(dlq - w.mix.dlq) < tol, f"${w.name}: DLQ share $dlq%.4f declared ${w.mix.dlq}")
    expect(math.abs(multi - w.mix.multi) < tol, f"${w.name}: multicast share $multi%.4f declared ${w.mix.multi}")
    w.consumer.foreach { t =>
      val s = share(_.exists(_.topic == t))
      expect(s > 0.03, f"${w.name}: consumed topic $t carries $s%.4f of records")
    }
    if (!w.json) {
      // the base64 defect shows from 58 canonical bytes; DLQ records must reach it
      val big = recs.indices.count(i => outs(i).exists(_.route == -2) && Codec.canonical(recs(i).tx).length >= 58)
      expect(big > 0.9 * dlq * n, s"${w.name}: $big DLQ records of 58 canonical bytes or more")
    }
  }

  private def inputMix(): Unit = {
    val w = Workloads.byName("replay-proto-8").get
    val recs = Gen.generate(3, 20000, w.rules, w.mix, json = false)
    val valid = recs.filterNot(_.error)
    def has(what: String, p: Rec => Boolean): Unit = {
      val k = recs.count(p)
      expect(k >= 20, s"input mix: $k records with $what")
    }
    has("re-encoding that differs from the input", r => !r.error && !java.util.Arrays.equals(r.raw, Codec.canonical(r.tx)))
    has("unregistered Any types", r => !r.error && r.tx.msgs.exists(_.isInstanceOf[Opaque]))
    has("several messages", r => !r.error && r.tx.msgs.size >= 2)
    has("memos that need escaping", r => !r.error && r.tx.memo.exists(c => c == '"' || c == '\\' || c < ' '))
    has("non-ASCII memos", r => !r.error && r.tx.memo.exists(_ > 127))
    has("fees", r => !r.error && r.tx.fee.exists(_.amount.nonEmpty))
    has("signer infos", r => !r.error && r.tx.signers.nonEmpty)
    has("unknown body fields", r => !r.error && r.tx.bodyUnknown.nonEmpty)
    // every kind of undecodable input occurs: they differ in their tails
    expect(recs.count(_.error) >= 0.04 * recs.length, s"input mix: ${recs.count(_.error)} undecodable records")
    expect(valid.nonEmpty, "input mix: decodable records")
  }

  /** The renderer writes JSON that parses back to the model's strings. */
  private def documents(): Unit = {
    val w = Workloads.byName("fanout-json-64").get
    val mapper = new ObjectMapper()
    val recs = Gen.generate(5, 3000, w.rules, w.mix, json = true).filterNot(_.error)
    val ok = recs.forall { r =>
      val n = mapper.readTree(r.json)
      val memo = if (n.at("/body/memo").isMissingNode) "" else n.at("/body/memo").asText
      memo == r.tx.memo && n.at("/body/messages").size == r.tx.msgs.size
    }
    expect(ok, s"documents: ${recs.length} rendered documents parse back to their memos and messages")
    val env = Json.dlqEnvelope(recs.head.json, recs.head.raw)
    expect(mapper.readTree(env).get("txJson").asText == recs.head.json, "documents: the DLQ record quotes the document")
  }

  private def negatives(): Unit = Seq("replay-proto-8", "topic-consumer-64").foreach { name =>
    val w = Workloads.byName(name).get
    val recs = Gen.generate(9, 3000, w.rules, w.mix, w.json)
    val oracle = new Oracle(w.rules, w.json)
    val checker = new Checker(recs.toIndexedSeq, oracle, w.consumer)
    val good = recs.toVector.flatMap(r => oracle.expected(r).filter(o => w.consumer.forall(_ == o.topic))
      .map(o => (r.key, o.route, o.topic, o.value)))
    val base = checker.check(good.iterator)
    expect(base.correct && base.failed == 0, s"$name: the oracle's own outputs pass (${base.attempted} records)")

    def caught(what: String, rows: Vector[(String, Int, String, Array[Byte])]): Unit = {
      val c = checker.check(rows.iterator)
      expect(!c.correct, s"$name: caught $what (failed=${c.failed} foreign=${c.foreign})")
    }
    val i = good.size / 2
    val (k, route, topic, value) = good(i)
    caught("a wrong route", good.updated(i, (k, route + 1, topic, value)))
    caught("a wrong topic", good.updated(i, (k, route, topic + "x", value)))
    val flipped = value.clone(); flipped(flipped.length / 2) = (flipped(flipped.length / 2) ^ 1).toByte
    caught("a corrupted payload", good.updated(i, (k, route, topic, flipped)))
    caught("a dropped record", good.patch(i, Nil, 1))
    caught("a duplicated record", good :+ good(i))
    caught("a foreign record", good :+ (("k999999", route, topic, value)))
    caught("a record under another input's key", good :+ ((good(i + 1)._1, route, topic, value)))

    good.indexWhere(_._2 == -2) match {
      case -1 => expect(w.consumer.isDefined, s"$name: has DLQ records")
      case j =>
        val (dk, dr, dt, dv) = good(j)
        val rec = recs.find(_.key == dk).get
        val chunked = checker.check(good.updated(j, (dk, dr, dt, oracle.dlqWithChunkedBase64(rec))).iterator)
        expect(chunked.failed == 1 && chunked.knownDefect == 1 && chunked.correct,
          s"$name: a chunked-base64 DLQ record counts as a failed operation of the known defect")
        val bad = dv.clone(); bad(5) = 'X'.toByte
        caught("a corrupted DLQ record", good.updated(j, (dk, dr, dt, bad)))
    }
  }

  /** One DLQ record through `ProtoTx.routed`; prints the input and both
    * outputs to stderr.
    */
  def repro(): Boolean = {
    val tx = Tx(Vector(Opaque(Urls.Vote, Array.tabulate[Byte](40)(_.toByte))), "hello", 0L, Vector.empty,
      Vector.empty, None, Vector.empty)
    val rules = Rules.eight
    require(rules.forall(!_.matches(tx)), "the record must match no rule")
    val rec = Rec("k0", tx, Codec.canonical(tx), null, error = false)
    val expected = new String(new Oracle(rules, json = false).expected(rec).head.value, UTF_8)
    val spark = Main.session()
    val actual = try {
      val df = Main.inputFrame(spark, Array(rec), json = false)
      val row = ProtoTx.routed(df, TxDispatchRules.fromYamlString(Rules.yaml(rules)))
        .select("route", "topic", "value").collect().head
      s"route=${row.getInt(0)} topic=${row.getString(1)} value=${new String(row.getAs[Array[Byte]](2), UTF_8)}"
    } finally spark.stop()
    def visible(s: String) = s.replace("\r", "\\r").replace("\n", "\\n")
    System.err.println(s"[repro] input (${rec.raw.length} bytes, base64): ${Base64.getEncoder.encodeToString(rec.raw)}")
    System.err.println(s"[repro] expected: route=-2 topic=dlq value=${visible(expected)}")
    System.err.println(s"[repro] actual:   ${visible(actual)}")
    System.err.println(s"[repro] ${if (actual.endsWith(expected)) "outputs agree" else "outputs differ"}")
    true
  }
}
