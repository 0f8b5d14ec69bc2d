package graft.streaming

import graft.rules.TxDispatchRules
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming shell around the dispatch core — the faithful
  * deployment shape of the reference (a Kafka Streams topology,
  * TopologyProducer.kt:84–202): unbounded Kafka in, three-way routed Kafka
  * out, stateless.
  *
  * The SAME `DataFrame → DataFrame` core ([[graft.operators.TxDispatchPipeline]] /
  * [[graft.operators.ProtoTx]]) serves batch (verify/bench harness) and streaming — the
  * plan is stateless (project + generate + filter, no watermark, no state
  * store, no shuffle), so Spark runs it continuously with per-partition
  * input order preserved, matching the reference's ordering guarantee
  * (SURVEY.md §2.8).
  */
object DispatchStream {

  /** Kafka source with the reference's consumption semantics
    * (offset reset `earliest` — application.properties:10). Requires the
    * spark-sql-kafka connector on the cluster classpath (not present in
    * the offline build environment; string-based wiring keeps this
    * compile-clean).
    */
  def kafkaSource(spark: SparkSession, bootstrapServers: String, topicIn: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topicIn)
      .option("startingOffsets", "earliest")
      .load()

  /** Kafka records → pipeline input contract (key passthrough, value =
    * raw tx bytes — reference: Consumed.with(String, ByteArray),
    * TopologyProducer.kt:85).
    */
  def fromKafka(kafka: DataFrame): DataFrame =
    kafka.select(col("key").cast("string").as("key"), col("value").as("raw"))

  /** Observed per-microbatch dispatch metrics — replaces the reference's
    * per-record `peek` logging (TopologyProducer.kt:114–121,152–154,
    * 183–185) with Spark's aggregated `observe` metrics, readable from a
    * `StreamingQueryListener` (per-row logging is an anti-pattern at
    * scale).
    */
  def withMetrics(routed: DataFrame): DataFrame =
    routed.observe("dispatch",
      count(lit(1)).as("n_total"),
      count(when(col("route") === TxDispatchRules.ERROR, 1)).as("n_error"),
      count(when(col("route") === TxDispatchRules.UNFILTERED, 1)).as("n_dlq"),
      count(when(col("route") >= 0, 1)).as("n_routed"))

  /** ONE dynamic-topic Kafka sink replaces the reference's N physical
    * branches (SURVEY.md §2.7): Spark's Kafka sink honors a per-row
    * `topic` column when no topic option is set. At-least-once with
    * checkpointing — the reference's delivery contract
    * (application.properties:8).
    */
  def toKafka(
      routed: DataFrame,
      bootstrapServers: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    routed
      .filter(col("topic").isNotNull) // unset error topic ⇒ dropped rows
      .select(col("key").cast("binary").as("key"), col("topic"), col("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** foreachBatch escape hatch: per-destination writers with separate
    * sink configs (needed when per-topic serde/config must differ —
    * SURVEY.md §2.7). Each batch reaches `writer` uncached: a writer
    * that filters it once per destination should persist it first.
    */
  def toForeachBatch(
      routed: DataFrame,
      checkpointDir: String,
      writer: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    routed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) => writer(batch, id) }
      .start()
}
