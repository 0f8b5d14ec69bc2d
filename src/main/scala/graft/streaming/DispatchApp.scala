package graft.streaming

import graft.operators.ProtoTx
import graft.rules.TxDispatchRules
import org.apache.spark.sql.DataFrame

import java.util.Properties

/** Parsed deployment config (reference config surface:
  * application.properties:13–15 + `rules.path`, TxsDispatch.kt:36–37).
  * Rules are loaded — and their predicates validated — eagerly at parse.
  */
final case class AppConfig(
    bootstrapServers: String,
    topicIn: String,
    dlqTopic: String,
    errorTopic: Option[String],
    rules: TxDispatchRules,
    checkpointDir: String)

object AppConfig {
  def fromFile(path: String): AppConfig = {
    val props = new Properties()
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    try props.load(in) finally in.close()

    def required(k: String): String = {
      val v = props.getProperty(k)
      require(v != null && v.nonEmpty, s"missing config '$k'")
      v
    }

    AppConfig(
      bootstrapServers = required("bootstrap.servers"),
      topicIn = required("topic.in"),
      dlqTopic = required("topic.dlq"),
      errorTopic = Option(props.getProperty("topic.error")).filter(_.nonEmpty),
      rules = TxDispatchRules.fromYamlFile(required("rules.path")),
      checkpointDir = required("checkpoint.dir"))
  }
}

/** Deployment entry point — the drop-in replacement for the reference
  * service:
  *
  * {{{
  *   spark-submit --class graft.streaming.DispatchApp engine.jar app.properties
  *
  *   # app.properties
  *   bootstrap.servers = broker:9092
  *   topic.in          = cosmos-txs
  *   topic.dlq         = cosmos-dlq
  *   topic.error       = cosmos-error     # optional — unset ⇒ errored records dropped
  *   rules.path        = /etc/rules.yaml
  *   checkpoint.dir    = /ckpt/dispatch
  * }}}
  *
  * Requires the spark-sql-kafka connector on the cluster classpath.
  */
object DispatchApp {

  /** The full routed stream for a config, over any input satisfying the
    * (`key`, `raw: Binary`) contract — Kafka in production, MemoryStream
    * in the offline end-to-end spec. Everything between source and sink
    * lives here so the spec exercises the exact production assembly.
    */
  def routedStream(source: DataFrame, cfg: AppConfig): DataFrame =
    DispatchStream.withMetrics(
      ProtoTx.routed(source, cfg.rules, cfg.dlqTopic, cfg.errorTopic))

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: DispatchApp <app.properties>")
    val cfg = AppConfig.fromFile(args(0))
    val spark = graft.GraftSession.builder("graft-dispatch").getOrCreate()
    val routed = routedStream(
      DispatchStream.fromKafka(
        DispatchStream.kafkaSource(spark, cfg.bootstrapServers, cfg.topicIn)), cfg)
    val query = DispatchStream.toKafka(routed, cfg.bootstrapServers, cfg.checkpointDir)
    query.awaitTermination()
  }
}
