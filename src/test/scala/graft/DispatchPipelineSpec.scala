package graft

import graft.operators.{EventsTx, TxDispatchPipeline}
import graft.rules.{DispatchRule, TxDispatchRules}
import graft.rules.TxDispatchRules.{ERROR, UNFILTERED}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session): the
  * production [[GraftSession]], extensions included.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local("graft-test", 4)
}

/** The reference's four-disposition table test (TopologyTest.kt:84–94),
  * re-expressed over the JSON batch twin: (1) match one rule, (2) match two
  * rules → multicast, (3) match nothing → DLQ, (4) undecodable → error.
  */
class DispatchPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val rules = TxDispatchRules(Seq(
    DispatchRule("message-type-MsgSend", "topic-1",
      "$.body.messages[?(@.@type == 'type.googleapis.com/cosmos.bank.v1beta1.MsgSend')]"),
    DispatchRule("from-address", "topic-2",
      "$..messages[?(@.fromAddress == 'okp41rhd8744u4vqvcjuvyfm8fea4k9mefe3k57qz27')]"),
    DispatchRule("nop-rule", "topic-3", "$.nop")))

  def doc(typ: String, from: String): String =
    s"""{"body":{"messages":[{"@type":"$typ","fromAddress":"$from"}]},"authInfo":{}}"""

  // tx1: matches rule 1 only; tx2: rules 1+2 (multicast); tx3: nothing (DLQ);
  // tx4: undecodable (error)
  val tx1 = doc("type.googleapis.com/cosmos.bank.v1beta1.MsgSend", "testFrom")
  val tx2 = doc("type.googleapis.com/cosmos.bank.v1beta1.MsgSend",
    "okp41rhd8744u4vqvcjuvyfm8fea4k9mefe3k57qz27")
  val tx3 = """{"body":{},"authInfo":{}}"""
  val tx4 = "test" // not valid JSON — the reference's txError fixture

  def input = Seq(
    ("k1", tx1), ("k2", tx2), ("k3", tx3), ("k4", tx4)
  ).toDF("key", "payload")
    .withColumn("raw", encode($"payload", "UTF-8"))
    .withColumn("txJson",
      when(get_json_object($"payload", "$").isNotNull, $"payload"))

  test("four dispositions: single match, multicast, DLQ, error") {
    val out = TxDispatchPipeline(input, rules, dlqTopic = "dlq", errorTopic = Some("error"))
      .select($"key", $"route", $"topic").as[(String, Int, String)]
      .collect().toSet
    assert(out == Set(
      ("k1", 0, "topic-1"),
      ("k2", 0, "topic-1"), ("k2", 1, "topic-2"),
      ("k3", UNFILTERED, "dlq"),
      ("k4", ERROR, "error")))
  }

  test("error path passes through original bytes unchanged") {
    val out = TxDispatchPipeline(input, rules)
      .filter($"route" === ERROR)
      .select(decode($"value", "UTF-8")).as[String].collect()
    assert(out.toSeq == Seq("test"))
  }

  test("DLQ envelope is the exact Jackson-style JSON with base64 bytes") {
    val out = TxDispatchPipeline(input, rules)
      .filter($"route" === UNFILTERED)
      .select(decode($"value", "UTF-8")).as[String].collect()
    val b64 = java.util.Base64.getEncoder.encodeToString(tx3.getBytes("UTF-8"))
    val expected =
      s"""{"txJson":"${tx3.replace("\"", "\\\"")}","txBytes":"$b64","message":null}"""
    assert(out.toSeq == Seq(expected))
  }

  /** The reference's DLQ record as Jackson writes it (a ByteArray as one
    * base64 line, the null message kept).
    */
  private def jacksonDlq(txJson: String, txBytes: Array[Byte]): String = {
    val fields = new java.util.LinkedHashMap[String, AnyRef]()
    fields.put("txJson", txJson); fields.put("txBytes", txBytes); fields.put("message", null)
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(fields)
  }

  test("DLQ envelope of a long record: one base64 line that decodes to the canonical bytes") {
    import graft.proto.CosmosTx
    val tx = CosmosTx.Tx(CosmosTx.TxBody(Nil, "m" * 80, 0L), CosmosTx.AuthInfo(Nil, None), Nil)
    val canonical = CosmosTx.encode(tx)
    assert(canonical.length >= 58, "long enough for a chunking base64 to break the line")
    val out = graft.operators.ProtoTx.routed(Seq(("long", canonical)).toDF("key", "raw"), rules)
      .filter($"route" === UNFILTERED)
      .select(decode($"value", "UTF-8")).as[String].collect()
    assert(out.length == 1)
    val envelope = out.head
    assert(!envelope.exists(c => c == '\r' || c == '\n'), envelope)
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(envelope)
    assert(java.util.Base64.getDecoder.decode(parsed.get("txBytes").textValue).toSeq == canonical.toSeq)
    assert(envelope == jacksonDlq(CosmosTx.toJson(tx), canonical))
  }

  test("DLQ envelope of a pretty-printed JSON input equals Jackson's own serialisation") {
    val pretty = "{\n  \"body\": {},\r\n\t\"authInfo\": {\"memo\": \"a\\\\b \\\"q\\\"\"}\n}"
    val in = Seq(("pretty", pretty)).toDF("key", "payload")
      .withColumn("raw", encode($"payload", "UTF-8"))
      .withColumn("txJson", $"payload")
    val out = TxDispatchPipeline(in, rules)
      .filter($"route" === UNFILTERED)
      .select(decode($"value", "UTF-8")).as[String].collect()
    assert(out.toSeq == Seq(jacksonDlq(pretty, pretty.getBytes("UTF-8"))))
  }

  test("unset error topic: errored records keep NULL topic and are dropped at the sink") {
    // reference: branch without to() — consumed, observed, not produced.
    // The pipeline keeps the rows (so observe metrics still count them);
    // every sink drops null-topic rows.
    val out = TxDispatchPipeline(input, rules, errorTopic = None)
    val errRows = out.filter($"route" === ERROR)
      .select($"key", $"topic").collect()
    assert(errRows.map(_.getString(0)).toSet == Set("k4"))
    assert(errRows.forall(_.isNullAt(1)))
    val dir = java.nio.file.Files.createTempDirectory("sink").toString
    TxDispatchPipeline.writePartitionedByTopic(out, dir)
    val sunk = spark.read.parquet(dir).select($"key").as[String].collect().toSet
    assert(sunk == Set("k1", "k2", "k3"), "error rows must not reach the sink")
  }

  test("keys pass through unmodified on every path") {
    val out = TxDispatchPipeline(input, rules).select($"key").as[String].collect()
    assert(out.toSet == Set("k1", "k2", "k3", "k4"))
  }

  test("rule errors are isolated: bad rule never matches, others still do") {
    val withBad = TxDispatchRules(Seq(
      DispatchRule("bad", "topic-x", "not-a-path"),
      rules.rules.head))
    val out = TxDispatchPipeline(input, withBad)
      .select($"key", $"route").as[(String, Int)].collect().toSet
    assert(out.contains(("k1", 1))) // second rule still matched
    assert(!out.exists(_._2 == 0))  // bad rule matched nothing
  }

  test("routing plan is narrow: no Exchange (shuffle) anywhere") {
    val plan = TxDispatchPipeline(input, rules).queryExecution.executedPlan
    val hasExchange = plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
    assert(!hasExchange, s"unexpected shuffle in:\n$plan")
  }

  test("flagship entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("partitioned-by-topic parquet sink: one dir per destination, prunable") {
    val dir = java.nio.file.Files.createTempDirectory("routed").toString
    TxDispatchPipeline.writePartitionedByTopic(TxDispatchPipeline(input, rules), dir)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("topic=topic-1", "topic=topic-2", "topic=dlq", "topic=error"))
    // partition pruning: reading one topic scans only its directory
    val one = spark.read.parquet(dir).filter($"topic" === "topic-1")
    assert(one.count() == 2) // k1 and k2 match rule 0
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("topic-1"))
  }

  test("events routing matches per-rule boolean cross-check (HOF rewrite)") {
    // Cross-check json_path_routes against independently computed predicates
    val df = EventsTx.withTxJson(EventsTx.load(spark, "/root/testdata/sf0.001"))
    val k = get_json_object($"props", "$.k").cast("long")
    val expected = df.select(
      $"event_id",
      ($"event_type" === "purchase").as("r1"),
      coalesce(k > 50, lit(false)).as("r2"))
    val got = TxDispatchPipeline.withRoutes(df, EventsTx.rules)
      .groupBy($"event_id")
      .agg(
        max(when($"route" === 0, true).otherwise(false)).as("g1"),
        max(when($"route" === 1, true).otherwise(false)).as("g2"))
    val joined = expected.join(got, "event_id")
      .filter($"r1" =!= $"g1" || $"r2" =!= $"g2")
    assert(joined.count() == 0)
  }
}

class RulesLoaderSpec extends AnyFunSuite {
  val yaml =
    """# predicate documentation : https://github.com/json-path/JsonPath
      |rules:
      |  - name: "message-type-MsgSend"
      |    topic: "topic-1"
      |    predicate: "$.body.messages[?(@.@type == 'type.googleapis.com/cosmos.bank.v1beta1.MsgSend')]"
      |  - name: "from-address"
      |    topic: "topic-2"
      |    predicate: "$..messages[?(@.fromAddress == 'okp41rhd8744u4vqvcjuvyfm8fea4k9mefe3k57qz27')]"
      |  - name: "nop-rule"
      |    topic: "topic-3"
      |    predicate: "$.nop"
      |""".stripMargin

  test("loads the reference rule-set shape") {
    val r = TxDispatchRules.fromYamlString(yaml)
    assert(r.rules.map(_.topic) == Seq("topic-1", "topic-2", "topic-3"))
    assert(r.rules.head.name == "message-type-MsgSend")
    assert(r.rules(1).predicate.startsWith("$..messages"))
  }

  test("missing fields raise RuleParseException (reference: ParseException)") {
    intercept[TxDispatchRules.RuleParseException](
      TxDispatchRules.fromYamlString("rules:\n  - name: x\n    topic: t\n"))
    intercept[TxDispatchRules.RuleParseException](
      TxDispatchRules.fromYamlString("nothing: here\n"))
    intercept[TxDispatchRules.RuleParseException](
      TxDispatchRules.fromYamlString("rules: []\n"))
  }
}
