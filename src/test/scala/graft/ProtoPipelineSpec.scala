package graft

import graft.operators.ProtoTx
import graft.proto.CosmosTx
import graft.proto.CosmosTx._
import graft.rules.{DispatchRule, TxDispatchRules}
import graft.rules.TxDispatchRules.{ERROR, UNFILTERED}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's end-to-end topology test over REAL protobuf bytes
  * (TopologyTest.kt:84–160): four fixtures, four dispositions, byte-exact
  * payload assertions.
  */
class ProtoPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val msgSendUrl = "type.googleapis.com/cosmos.bank.v1beta1.MsgSend"

  val rules = TxDispatchRules(Seq(
    DispatchRule("message-type-MsgSend", "topic-1",
      s"$$.body.messages[?(@.@type == '$msgSendUrl')]"),
    DispatchRule("from-address", "topic-2",
      "$..messages[?(@.fromAddress == 'okp41rhd8744u4vqvcjuvyfm8fea4k9mefe3k57qz27')]"),
    DispatchRule("nop-rule", "topic-3", "$.nop")))

  private def msgSendTx(from: String, to: String): Array[Byte] = {
    val any = AnyMsg(msgSendUrl, encodeMsgSend(MsgSend(from, to, Seq(Coin("know", "100")))))
    CosmosTx.encode(Tx(TxBody(Seq(any), "", 0L), AuthInfo(Nil, None), Nil))
  }

  val tx1 = msgSendTx("testFrom", "tesTo")
  val tx2 = msgSendTx("okp41rhd8744u4vqvcjuvyfm8fea4k9mefe3k57qz27",
    "okp41wwr8ye24766rmjjh7eva0rc2p7cnwa8py6s6fc")
  val tx3 = CosmosTx.encode(Tx(TxBody(Nil, "", 0L), AuthInfo(Nil, None), Nil))
  val txError = "test".getBytes("UTF-8")

  def input = Seq(("k1", tx1), ("k2", tx2), ("k3", tx3), ("k4", txError))
    .toDF("key", "raw")

  test("four dispositions over protobuf bytes") {
    val out = ProtoTx.routed(input, rules)
      .select($"key", $"route", $"topic").as[(String, Int, String)]
      .collect().toSet
    assert(out == Set(
      ("k1", 0, "topic-1"),
      ("k2", 0, "topic-1"), ("k2", 1, "topic-2"),
      ("k3", UNFILTERED, "dlq"),
      ("k4", ERROR, "error")))
  }

  test("rule-topic payload is the re-encoded canonical bytes (byte-identical for canonical input)") {
    // Fixtures are canonical Tx encodings, so re-encode must be byte-equal
    // (the reference's golden assertion, TopologyTest.kt:156).
    val got = ProtoTx.routed(input, rules)
      .filter($"route" === 0)
      .select($"key", $"value").as[(String, Array[Byte])]
      .collect().toMap
    assert(got("k1").toSeq == tx1.toSeq)
    assert(got("k2").toSeq == tx2.toSeq)
  }

  test("error topic carries the ORIGINAL bytes; DLQ carries the JSON envelope") {
    val byRoute = ProtoTx.routed(input, rules)
      .select($"route", $"value").as[(Int, Array[Byte])]
      .collect().groupBy(_._1)
    assert(byRoute(ERROR).head._2.toSeq == txError.toSeq)
    val dlq = new String(byRoute(UNFILTERED).head._2, "UTF-8")
    val b64 = java.util.Base64.getEncoder.encodeToString(tx3)
    assert(dlq == s"""{"txJson":"{\\"body\\":{},\\"authInfo\\":{}}","txBytes":"$b64","message":null}""")
  }

  test("DLQ txBytes is the re-encoded CANONICAL tx, not the original wire bytes") {
    // Legal-but-non-canonical wire input: TxRaw fields in reverse order
    // (field 2 auth_info before field 1 body). Decodes to the same empty tx;
    // the reference serializes the DECODED tx into the DLQ envelope
    // (DLQ(txBytes = tx.toByteArray()), TopologyProducer.kt:186–195), so
    // the envelope must carry the canonical re-encoding, not the input.
    val body = CosmosTx.encodeTxBody(TxBody(Nil, "", 0L))
    val auth = CosmosTx.encodeAuthInfo(AuthInfo(Nil, None))
    def lenDelim(tag: Int, payload: Array[Byte]): Array[Byte] =
      Array((tag << 3 | 2).toByte, payload.length.toByte) ++ payload
    val nonCanonical = lenDelim(2, auth) ++ lenDelim(1, body)
    assume(nonCanonical.toSeq != tx3.toSeq) // actually a different wire form
    val out = ProtoTx.routed(Seq(("nc", nonCanonical)).toDF("key", "raw"), rules)
      .filter($"route" === UNFILTERED)
      .select($"value").as[Array[Byte]].collect()
    val dlq = new String(out.head, "UTF-8")
    val b64canon = java.util.Base64.getEncoder.encodeToString(tx3)
    assert(dlq.contains(s""""txBytes":"$b64canon""""), dlq)
  }

  test("every projection of the routed plan, decode included, runs inside whole-stage codegen") {
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // an RDD-backed input: over a local relation the optimizer would
    // evaluate the projections at planning time and leave none to check
    val rows = spark.sparkContext.parallelize(Seq(("k1", tx1), ("k3", tx3), ("k4", txError)), 2)
    val plan = ProtoTx.routed(rows.toDF("key", "raw"), rules).queryExecution.executedPlan
    def projects(p: SparkPlan, inCodegen: Boolean): Seq[(ProjectExec, Boolean)] = p match {
      case a: AdaptiveSparkPlanExec => projects(a.executedPlan, inCodegen)
      case w: WholeStageCodegenExec => projects(w.child, inCodegen = true)
      case i: InputAdapter => projects(i.child, inCodegen = false) // the stage's input
      case pe: ProjectExec => (pe, inCodegen) +: pe.children.flatMap(projects(_, inCodegen))
      case other => other.children.flatMap(projects(_, inCodegen))
    }
    val found = projects(plan, inCodegen = false)
    assert(found.exists(_._1.projectList.exists(_.toString.contains("decode_tx"))), plan.toString)
    assert(found.forall(_._2), s"a projection outside whole-stage codegen:\n$plan")
  }

  test("the executed routed plan reads txJson only inside the UNFILTERED branch of value") {
    import graft.functions.DecodeCosmosTx
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, EqualTo, Expression, GetStructField, Literal}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val rows = spark.sparkContext.parallelize(Seq(("k1", tx1), ("k3", tx3), ("k4", txError)), 2)
    val out = ProtoTx.routed(rows.toDF("key", "raw"), rules).select($"key", $"route", $"topic", $"value")
    val plan = out.queryExecution.executedPlan
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case other => other +: other.children.flatMap(nodes)
    }
    def readsTxJson(e: Expression): Boolean = e.exists {
      case GetStructField(c, 0, _) => c.dataType == DecodeCosmosTx.schema
      case _ => false
    }
    // every CASE branch taken on route = UNFILTERED, replaced by null
    def outsideDlq(e: Expression): Expression = e.transformDown {
      case CaseWhen(branches, elseValue) => CaseWhen(branches.map {
        case (c @ EqualTo(_, Literal(UNFILTERED, _)), v) => (c, Literal(null, v.dataType))
        case b => b
      }, elseValue)
    }
    val exprs = nodes(plan).flatMap(_.expressions)
    assert(exprs.exists(readsTxJson), s"no txJson read at all:\n$plan")
    assert(!exprs.map(outsideDlq).exists(readsTxJson), s"txJson read outside the DLQ branch:\n$plan")
    assert(out.collect().length == 3)
  }

  test("msgCount matches the reference's logged messages.count()") {
    val got = ProtoTx.decoded(input)
      .select($"key", $"msgCount").as[(String, Option[Int])].collect().toMap
    assert(got("k1").contains(1) && got("k3").contains(0) && got("k4").isEmpty)
  }
}
