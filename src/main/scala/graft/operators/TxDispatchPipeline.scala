package graft.operators

import graft.rules.TxDispatchRules
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.expressions.Base64
import org.apache.spark.sql.functions._

/** The routing core: one narrow Catalyst plan implementing the reference's
  * whole topology (reference: TopologyProducer.kt:84–202).
  *
  * Input contract: a DataFrame with
  *   - `txJson: String`  — the transaction's canonical JSON document (null
  *                         or unparseable ⇒ decode failure); or, for
  *                         protobuf input, a `decode_tx` struct column
  *                         passed as `decoded` instead (see [[ProtoTx]]);
  *   - `raw: Binary`     — the original input bytes (error-topic payload,
  *                         reference: TopologyProducer.kt:122);
  *   - any passthrough columns (key, ids, …) — untouched, like the
  *     reference's key pass-through.
  *
  * Output: input columns plus
  *   - `route: Int`   — matched rule index, or ERROR(-1) / UNFILTERED(-2)
  *                      (reference sentinels: TopologyProducer.kt:26–29);
  *     a row matching k rules appears k times (multicast explode —
  *     TopologyProducer.kt:97–105, TopologyTest.kt:91);
  *   - `topic: String` — destination topic (per-row dynamic routing replaces
  *                       the reference's N physical branches,
  *                       TopologyProducer.kt:106–199);
  *   - `value: Binary` — the disposition payload (reference §2.6):
  *       ERROR      → original `raw` bytes         (TopologyProducer.kt:122)
  *       rule match → re-encoded transaction bytes (TopologyProducer.kt:155–159)
  *       UNFILTERED → DLQ JSON envelope as UTF-8   (TopologyProducer.kt:186–195)
  *
  * The plan is entirely narrow (project + generate + filter): no shuffle, no
  * state — parity with the reference's stateless, repartition-free topology.
  * At 100 TB this runs as a pure map-side pipeline: throughput scales
  * linearly with executors and the only data movement is source → sink.
  */
object TxDispatchPipeline {

  import TxDispatchRules.{ERROR, UNFILTERED}

  /** @param rules       declaration-ordered dispatch rules
    * @param dlqTopic    destination for transactions matching no rule
    * @param errorTopic  destination for undecodable inputs; None ⇒ errored
    *                    rows are dropped (reference: branch without `to()`
    *                    when `topic.error` is unset, TopologyProducer.kt:123–131)
    * @param decoded     the `decode_tx` struct column of protobuf input: the
    *                    rules read its tree, rule topics and the DLQ
    *                    envelope carry its re-encoded tx bytes (reference
    *                    X3), and only the envelope reads its `txJson`.
    *                    None for JSON-native input: the rules read `txJson`
    *                    and rule topics carry its UTF-8 bytes
    */
  def apply(
      df: DataFrame,
      rules: TxDispatchRules,
      dlqTopic: String = "dlq",
      errorTopic: Option[String] = Some("error"),
      decoded: Option[Column] = None): DataFrame = {

    val routed = withRoutes(df, rules, decoded.getOrElse(col("txJson")))
    val txJson = decoded.fold(col("txJson"))(_.getField("txJson"))
    val reEncoded = decoded.map(_.getField("reencoded"))

    val topicFor: Column = {
      // rule-index → topic lookup as a literal map: plan-shape-from-config,
      // exactly as the reference builds one branch per configured rule
      // (TopologyProducer.kt:134–139).
      val pairs = rules.rules.zipWithIndex.flatMap { case (r, i) => Seq(lit(i), lit(r.topic)) }
      val ruleTopic = element_at(map(pairs: _*), col("route"))
      when(col("route") === ERROR, errorTopic.map(lit(_)).getOrElse(lit(null)))
        .when(col("route") === UNFILTERED, lit(dlqTopic))
        .otherwise(ruleTopic)
    }

    val ruleValue = reEncoded.getOrElse(encode(txJson, "UTF-8"))

    // DLQ envelope txBytes: the reference serializes the DECODED canonical
    // transaction (DLQ(txBytes = tx.toByteArray()), TopologyProducer.kt:186–195),
    // so the proto path passes the re-encoded bytes; the JSON-twin path has
    // no re-encoding and keeps the original bytes.
    val dlqBytes = reEncoded.getOrElse(col("raw"))

    val valueFor: Column =
      when(col("route") === ERROR, col("raw"))
        .when(col("route") === UNFILTERED, encode(dlqEnvelope(txJson, dlqBytes), "UTF-8"))
        .otherwise(ruleValue)

    // Unset error topic ⇒ topic stays NULL on error rows; the SINKS drop
    // null-topic rows (DispatchStream.toKafka / writePartitionedByTopic),
    // so observability (observe metrics) still sees the consumed errors —
    // the reference's consumed-but-not-produced branch with its peek log.
    routed
      .withColumn("topic", topicFor)
      .withColumn("value", valueFor)
  }

  /** Batch sink twin of the dynamic-topic Kafka writer (§2.7): routed
    * records land as parquet partitioned by destination topic — one
    * directory per topic, consumable independently, with partition pruning
    * on read. The natural shape for replaying a routed corpus at rest.
    */
  def writePartitionedByTopic(routed: DataFrame, path: String): Unit =
    routed
      .filter(col("topic").isNotNull)
      .write
      .partitionBy("topic")
      .mode("overwrite")
      .parquet(path)

  /** Just the route derivation + multicast explode (reference P3+P4):
    * adds `route: Int`, duplicating each row once per matching rule.
    * `document` is what the rules read: the `txJson` string, or a
    * `decode_tx` struct, which is routed on its tree.
    */
  def withRoutes(df: DataFrame, rules: TxDispatchRules, document: Column = col("txJson")): DataFrame = {
    // Sentinels are folded INTO the expression (undecodable ⇒ [ERROR], no
    // match ⇒ [UNFILTERED]) so the per-row JSON parse + rule evaluation
    // happens exactly once — a CASE around the expression would be
    // re-evaluated per textual occurrence by the interpreted Generate.
    val routes = graft.functions.JsonPathFunctions.json_path_routes_dispositioned(
      document, rules.rules.map(_.predicate), ERROR, UNFILTERED)
    df.withColumn("route", explode(routes))
  }

  /** The DLQ envelope JSON string:
    * `{"txJson":<json-or-null>,"txBytes":<base64-or-null>,"message":null}`
    * (reference: DLQ data class + Jackson rendering,
    * TopologyProducer.kt:32–41,186–195; golden TopologyTest.kt:147–154 —
    * Jackson writes all three fields, null included, and renders ByteArray
    * as base64).
    *
    * Built by explicit concatenation (not `to_json` of the whole record)
    * because Jackson keeps null fields while Spark's `to_json` drops them.
    * `txBytes` is one unbroken base64 line, as Jackson writes a ByteArray:
    * the expression is built with `chunkBase64 = false` because the
    * `base64` function follows `spark.sql.chunkBase64String.enabled`,
    * which is on by default in Spark 4.1 and puts CRLF every 76 characters.
    */
  def dlqEnvelope(txJson: Column, raw: Column): Column =
    concat(
      lit("{\"txJson\":"),
      when(txJson.isNull, lit("null")).otherwise(jsonQuote(txJson)),
      lit(",\"txBytes\":"),
      when(raw.isNull, lit("null")).otherwise(
        concat(lit("\""), toColumn(Base64(toExpression(raw), chunkBase64 = false)), lit("\""))),
      lit(",\"message\":null}"))

  /** Quote a string as a JSON string literal, escaped as Jackson escapes
    * it: quote, backslash and every control character. A JSON-native
    * document may carry raw newlines and tabs between its tokens. Spark's
    * `to_json` writes through a default Jackson generator, so the one-element
    * array it renders, `["…"]`, holds exactly that literal.
    */
  private def jsonQuote(c: Column): Column = {
    val quotedInArray = to_json(array(c))
    quotedInArray.substr(lit(2), length(quotedInArray) - 2)
  }
}
