package graft

import graft.operators.ProtoTx
import graft.proto.CosmosTx
import graft.proto.CosmosTx._
import graft.rules.{DispatchRule, TxDispatchRules}
import graft.rules.TxDispatchRules.{ERROR, UNFILTERED}
import graft.streaming.DispatchStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

/** The reference's four-disposition end-to-end test, run through an actual
  * Structured Streaming query (TopologyTest drives the topology through
  * TopologyTestDriver; here MemoryStream + memory sink play that role —
  * SURVEY.md §3.3).
  */
class DispatchStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

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

  test("streaming four dispositions + observed metrics via MemoryStream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val input = MemoryStream[(String, Array[Byte])]
    val routed = DispatchStream.withMetrics(
      ProtoTx.routed(
        input.toDF().toDF("key", "raw"), rules))

    @volatile var observed: Map[String, Long] = Map.empty
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics
        if (m.containsKey("dispatch")) {
          val row = m.get("dispatch")
          observed = Map(
            "n_total" -> row.getAs[Long]("n_total"),
            "n_error" -> row.getAs[Long]("n_error"),
            "n_dlq" -> row.getAs[Long]("n_dlq"),
            "n_routed" -> row.getAs[Long]("n_routed"))
        }
      }
    }
    s.streams.addListener(listener)
    try {
      val q = routed
        .select($"key", $"route", $"topic")
        .writeStream.format("memory").queryName("routed_out")
        .outputMode("append").start()

      input.addData(
        ("k1", msgSendTx("testFrom", "tesTo")),
        ("k2", msgSendTx("okp41rhd8744u4vqvcjuvyfm8fea4k9mefe3k57qz27", "okp41wwr8ye")),
        ("k3", CosmosTx.encode(Tx(TxBody(Nil, "", 0L), AuthInfo(Nil, None), Nil))),
        ("k4", "test".getBytes("UTF-8")))
      q.processAllAvailable()
      q.stop()

      val out = s.table("routed_out")
        .as[(String, Int, String)].collect().toSet
      assert(out == Set(
        ("k1", 0, "topic-1"),
        ("k2", 0, "topic-1"), ("k2", 1, "topic-2"),
        ("k3", UNFILTERED, "dlq"),
        ("k4", ERROR, "error")))

      // the observe() metrics replace per-record peek logging
      assert(observed("n_total") == 5 && observed("n_error") == 1
        && observed("n_dlq") == 1 && observed("n_routed") == 3)
    } finally s.streams.removeListener(listener)
  }

  test("foreachBatch sink: per-destination writers see the right payloads") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val input = MemoryStream[(String, Array[Byte])]
    val routed = ProtoTx.routed(input.toDF().toDF("key", "raw"), rules)

    val seen = scala.collection.concurrent.TrieMap.empty[String, Long]
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    val q = DispatchStream.toForeachBatch(routed, dir, (batch, _) => {
      batch.persist()
      seen.put("rules", batch.filter(col("route") >= 0).count())
      seen.put("dlq", batch.filter(col("route") === UNFILTERED).count())
      seen.put("error", batch.filter(col("route") === ERROR).count())
      batch.unpersist()
      ()
    })
    input.addData(
      ("a", msgSendTx("x", "y")),
      ("b", "junk".getBytes("UTF-8")))
    q.processAllAvailable()
    q.stop()
    assert(seen("rules") == 1 && seen("error") == 1 && seen("dlq") == 0)
  }

  test("streaming plan is stateless: no state store operators, no Exchange") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(String, Array[Byte])]
    val routed = ProtoTx.routed(input.toDF().toDF("key", "raw"), rules)
    val q = routed.writeStream.format("memory").queryName("plan_probe").start()
    input.addData(("k", msgSendTx("a", "b")))
    q.processAllAvailable()
    val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan
    q.stop()
    assert(!plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]))
    assert(!plan.toString.toLowerCase.contains("statefuloperator"))
  }

  test("stateful streaming sessionization via flatMapGroupsWithState") {
    import graft.streaming.StreamingSessionize
    import StreamingSessionize.{ClosedSession, Evt}
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Evt]
    val out = StreamingSessionize.sessionize(input.toDS(), gapMicros = 1000L)
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // batch 1: user 1 has two close events (one open session)
    input.addData(Evt(1L, 100L), Evt(1L, 200L))
    q.processAllAvailable()
    assert(s.table("sess_out").count() == 0) // still open, nothing emitted
    // batch 2: a far event closes the first session and opens another;
    // user 2 opens a fresh one
    input.addData(Evt(1L, 10000L), Evt(2L, 50L))
    q.processAllAvailable()
    val closed = s.table("sess_out").as[ClosedSession].collect().toSet
    q.stop()
    assert(closed == Set(ClosedSession(1L, 100L, 200L, 2L)))
  }

  test("streaming dedup keeps the first arrival per fingerprint, watermark-bounded state") {
    import graft.streaming.StreamingDedup
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val out = StreamingDedup.dedupKeepFirst(docs, "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("sdedup_out")
      .outputMode("append").start()
    def t(ms: Long) = new java.sql.Timestamp(ms)
    // batch 1: two distinct texts plus an in-batch duplicate
    input.addData((1L, t(1000), "alpha beta"), (2L, t(2000), "gamma"),
      (3L, t(3000), "alpha beta"))
    q.processAllAvailable()
    // batch 2: cross-batch duplicate within the watermark + one new text
    input.addData((4L, t(4000), "gamma"), (5L, t(5000), "delta"))
    q.processAllAvailable()
    q.stop()
    val survivors = s.table("sdedup_out")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSet
    assert(survivors == Set((1L, "alpha beta"), (2L, "gamma"), (5L, "delta")))
  }

  test("batch curation operators run unchanged on a stream (narrow ops are engine-portable)") {
    import graft.operators.{Curation, Sampling}
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // the same DataFrame → DataFrame operators used by the batch oracle
    // queries, applied to an unbounded stream: redact → quality-gate →
    // deterministic sample. All narrow, so Structured Streaming accepts
    // them with no changes.
    val curated = Sampling.stratifiedSample(
      Curation.redactPii(
        Curation.qualityFilter(docs).filter($"keep").join(docs, "doc_id"),
        $"text"),
      $"doc_id", lit("all"), ratesPerMille = Map("all" -> 1000), defaultPerMille = 1000)
    val q = curated.writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    val longDoc = (1 to 40).map(i => s"word$i").mkString(" ") + " mail me a@b.io"
    input.addData((1L, longDoc), (2L, "too short"))
    q.processAllAvailable()
    q.stop()
    val out = s.table("curate_out").select($"doc_id", $"redacted")
      .as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L))                   // quality gate dropped doc 2
    assert(out(1L).endsWith("mail me <EMAIL>"))     // redaction ran on the stream
  }

  test("Bloom decontamination probe runs on a stream (filter built from a static eval set)") {
    // the production shape at scale: the Bloom filter is index metadata
    // built ONCE from the static eval corpus; the narrow probe expression
    // then gates an unbounded ingest stream — no join, no state
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evalDocs = Seq("the quick brown fox jumps", "pack my box with jugs")
      .toDF("text")
    val evalHashes = evalDocs
      .select(explode(graft.functions.TextFunctions.shingleHashes($"text", 3)).as("sh"))
      .distinct()
    val bf = evalHashes.stat.bloomFilter("sh", 64, 0.001)
    val input = MemoryStream[(Long, String)]
    val flagged = input.toDF().toDF("doc_id", "text")
      .select($"doc_id",
        graft.functions.BloomExpressions.bloomContainsCount(
          graft.functions.TextFunctions.shingleHashes($"text", 3), bf)
          .as("n_possible"))
    val q = flagged.writeStream.format("memory").queryName("bloom_out")
      .outputMode("append").start()
    input.addData(
      (1L, "see the quick brown fox jumps today"), // shares eval 3-grams
      (2L, "completely unrelated clean text here"))
    q.processAllAvailable()
    q.stop()
    val out = s.table("bloom_out").as[(Long, Long)].collect().toMap
    assert(out(1L) > 0, "contaminated stream doc must be flagged")
    assert(out(2L) == 0, "clean doc must pass (no false positive at this fpp)")
  }

  test("stream-static broadcast enrichment join") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dim = Seq((13L, "GOLD"), (12L, "SILVER")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, String)]
    val enriched = input.toDF().toDF("user_id", "event_type")
      .join(broadcast(dim), Seq("user_id"), "left")
    val q = enriched.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    input.addData((13L, "click"), (99L, "view"))
    q.processAllAvailable()
    q.stop()
    val rows = s.table("enrich_out")
      .as[(Long, String, Option[String])].collect().toSet
    assert(rows == Set((13L, "click", Some("GOLD")), (99L, "view", None)))
  }

  test("event-time windowed aggregation with watermark (capability beyond the reference)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = input.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("update").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    input.addData((t(0), "click"), (t(1), "click"), (t(6), "view"))
    q.processAllAvailable()
    q.stop()
    val rows = s.table("win_out").select($"event_type", $"n").as[(String, Long)].collect().toSet
    assert(rows == Set(("click", 2L), ("view", 1L)))
  }
}
