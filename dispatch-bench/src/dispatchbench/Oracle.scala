package dispatchbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import scala.collection.mutable

/** One output record: rule index (or -1 error / -2 DLQ), topic, payload. */
final case class Out(route: Int, topic: String, value: Array[Byte]) {
  def sameAs(o: Out): Boolean =
    route == o.route && topic == o.topic && java.util.Arrays.equals(value, o.value)
}

/** Expected outputs, derived from the generator's model alone. Follows the
  * reference's dispositions: the error topic carries the original bytes,
  * rule topics the canonical re-encoding (proto input) or the document
  * (JSON input), the DLQ the Jackson-rendered `{"txJson","txBytes","message"}`
  * record.
  */
final class Oracle(rules: Vector[BenchRule], json: Boolean) {
  val ErrorTopic = "error"
  val DlqTopic = "dlq"

  def expected(rec: Rec): Vector[Out] =
    if (rec.error) Vector(Out(-1, ErrorTopic, rec.raw))
    else {
      val doc = Json.render(rec.tx)
      val payload = if (json) doc.getBytes(UTF_8) else Codec.canonical(rec.tx)
      val hits = rules.indices.filter(i => rules(i).matches(rec.tx))
      if (hits.isEmpty) Vector(Out(-2, DlqTopic, Json.dlqEnvelope(doc, payloadBytes(rec)).getBytes(UTF_8)))
      else hits.map(i => Out(i, rules(i).topic, payload)).toVector
    }

  /** The DLQ's txBytes: the canonical re-encoding on the proto path, the
    * input bytes on the JSON path (which has no decoded transaction).
    */
  private def payloadBytes(rec: Rec): Array[Byte] = if (json) rec.raw else Codec.canonical(rec.tx)

  /** The DLQ record as an engine with Spark's chunked `base64` writes it:
    * CRLF after every 76 base64 characters. Used only to name the failure.
    */
  def dlqWithChunkedBase64(rec: Rec): Array[Byte] = {
    val plain = Base64.getEncoder.encodeToString(payloadBytes(rec))
    val chunked = Base64.getMimeEncoder.encodeToString(payloadBytes(rec))
    val env = Json.dlqEnvelope(Json.render(rec.tx), payloadBytes(rec))
    env.replace("\"txBytes\":\"" + plain + "\"", "\"txBytes\":\"" + chunked + "\"").getBytes(UTF_8)
  }
}

/** What a check found. `failed` counts input records whose outputs differ
  * from the oracle's in any way; `knownDefect` is the part of them that the
  * engine's chunked-base64 DLQ defect explains exactly. `foreign` counts
  * output records whose key names no input.
  */
final case class CheckResult(attempted: Long, failed: Long, knownDefect: Long, foreign: Long,
    outputs: Long, examples: Vector[String]) {
  /** Every output accounted for, and no failure other than the known one. */
  def correct: Boolean = foreign == 0 && failed == knownDefect
}

/** Checks every output record of a run against the oracle. `topic` limits
  * the expectation to one topic, for a consumer of a single rule.
  */
final class Checker(recs: IndexedSeq[Rec], oracle: Oracle, topic: Option[String] = None) {

  private def index(key: String): Int =
    if (key == null || key.length < 2 || key.charAt(0) != 'k') -1
    else try {
      val i = key.substring(1).toInt
      if (i >= 0 && i < recs.length && recs(i).key == key) i else -1
    } catch { case _: NumberFormatException => -1 }

  private def expectedFor(rec: Rec): Vector[Out] = {
    val all = oracle.expected(rec)
    topic.fold(all)(t => all.filter(_.topic == t))
  }

  private val order: Ordering[Out] = Ordering.by((o: Out) => (o.route, o.topic))

  /** `rows` are (key, route, topic, value) in any order; every input record
    * in `recs` is attempted.
    */
  def check(rows: Iterator[(String, Int, String, Array[Byte])]): CheckResult = {
    val actual = new Array[mutable.ArrayBuffer[Out]](recs.length)
    var foreign = 0L
    var outputs = 0L
    val examples = Vector.newBuilder[String]
    rows.foreach { case (key, route, t, value) =>
      outputs += 1
      val i = index(key)
      if (i < 0) {
        foreign += 1
        examples += s"foreign record key=$key route=$route topic=$t"
      } else {
        if (actual(i) == null) actual(i) = mutable.ArrayBuffer.empty[Out]
        actual(i) += Out(route, t, value)
      }
    }
    var failed = 0L
    var known = 0L
    var i = 0
    while (i < recs.length) {
      val exp = expectedFor(recs(i)).sorted(order)
      val got = Option(actual(i)).map(_.toVector.sorted(order)).getOrElse(Vector.empty)
      val same = exp.length == got.length && exp.zip(got).forall { case (e, g) => e.sameAs(g) }
      if (!same) {
        failed += 1
        val defect = exp.length == 1 && got.length == 1 && exp.head.route == -2 &&
          got.head.route == -2 && got.head.topic == exp.head.topic &&
          java.util.Arrays.equals(got.head.value, oracle.dlqWithChunkedBase64(recs(i)))
        if (defect) known += 1
        else examples += s"record ${recs(i).key}: expected ${describe(exp)} got ${describe(got)}"
      }
      i += 1
    }
    CheckResult(recs.length.toLong, failed, known, foreign, outputs, examples.result().take(5))
  }

  private def describe(outs: Vector[Out]): String =
    outs.map(o => s"(${o.route},${o.topic},${o.value.length}B)").mkString("[", ",", "]")
}
