package graft.proto

/** Service-provider interface for extending the `Any` payload registry
  * without editing the engine: implement this, list the implementation
  * class in `META-INF/services/graft.proto.PayloadTypePrinters`, and drop
  * the jar on the cluster classpath — the offline analogue of the
  * reference's generated-class classpath scan (ProtoTypeRegistry.kt:16–30).
  *
  * Keys are typeUrl SUFFIXES (`"/cosmos.bank.v1beta1.MsgSend"`); values
  * render the decoded payload's JSON FIELDS (each prefixed with a comma —
  * see [[CosmosTx.defaultRegistry]] for the shape). A printer that throws,
  * or whose fragment does not complete the `Any` object as valid JSON,
  * falls back to the open-schema base64 rendering (payload isolation).
  */
trait PayloadTypePrinters {
  def printers: Map[String, Array[Byte] => String]
}
