package graft.operators

import graft.functions.ProtoFunctions.decode_tx
import graft.rules.TxDispatchRules
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Protobuf-native face of the dispatch engine: the real reference
  * pipeline shape — raw Cosmos tx bytes in, routed records out
  * (reference: the full topology, TopologyProducer.kt:84–202).
  *
  * Input contract: a DataFrame with `raw: Binary` (+ passthrough columns).
  * `decoded` adds the P1/P2/X3 products in one expression pass; `routed`
  * completes the P3/P4 routing and the F/X disposition stages with
  * [[TxDispatchPipeline]], emitting the re-encoded canonical bytes on rule
  * topics (X3 semantics) rather than the original input bytes.
  */
object ProtoTx {

  /** The columns `decoded` and `routed` add, read off a `decode_tx` struct:
    * output name → struct field.
    */
  private val fields = Seq("txJson" -> "txJson", "reencoded" -> "reencoded",
    "decodeError" -> "error", "msgCount" -> "msgCount", "msgTypeUrls" -> "msgTypeUrls")

  /** `df`'s columns (but those named in `added`), then the `decode_tx`
    * fields read off `_dec`, then `tail`.
    */
  private def withFields(out: DataFrame, df: DataFrame, tail: Seq[String]): DataFrame = {
    val added = (fields.map(_._1) ++ tail).toSet
    out.select(df.columns.filterNot(added).map(c => col("`" + c.replace("`", "``") + "`")) ++
      fields.map { case (name, field) => col("_dec").getField(field).as(name) } ++ tail.map(col): _*)
  }

  /** P1+P2+X3: total decode with error capture, canonical JSON, canonical
    * re-encoding — single narrow projection.
    */
  def decoded(df: DataFrame): DataFrame =
    withFields(df.withColumn("_dec", decode_tx(col("raw"))), df, Nil)

  /** Full dispatch over protobuf transactions. The rules read the tree of
    * the `decode_tx` struct, which rides through the explode; its fields
    * are read off it after the explode, so a column the caller does not
    * select is never computed, and `txJson` is rendered only for DLQ
    * envelopes (or when selected).
    */
  def routed(
      df: DataFrame,
      rules: TxDispatchRules,
      dlqTopic: String = "dlq",
      errorTopic: Option[String] = Some("error")): DataFrame =
    withFields(
      TxDispatchPipeline(df.withColumn("_dec", decode_tx(col("raw"))), rules, dlqTopic, errorTopic,
        decoded = Some(col("_dec"))),
      df, Seq("route", "topic", "value"))
}
