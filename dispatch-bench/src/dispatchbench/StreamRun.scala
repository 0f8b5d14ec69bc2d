package dispatchbench

import graft.streaming.{AppConfig, DispatchApp, DispatchStream}
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._

/** The stream workload: `DispatchApp.routedStream` over a `MemoryStream`,
  * written through `DispatchStream.toForeachBatch` under its production
  * 1 s trigger. One generator thread adds a chunk every 5 ms on a fixed
  * schedule (open loop); a chunk's latency runs from when it was due to
  * the end of the micro-batch that commits it.
  */
object StreamRun {
  import Main._

  val ChunkMs = 5
  val WarmSeconds = 8

  final case class Result(check: CheckResult, latencyMs: Seq[Double], throughput: Double,
      cpuUsPerRec: Double, progress: Seq[StreamingQueryProgress], backlogEndRows: Long, genLateMs: Seq[Double])

  def perChunk(w: Workload): Int = w.streamRate * ChunkMs / 1000

  /** Records fed over the warm-up and `seconds` measured seconds. */
  def poolSize(w: Workload, seconds: Int): Int = (WarmSeconds + seconds) * 1000 / ChunkMs * perChunk(w)

  /** Adds chunk j at `t0 + j·ChunkMs`, however far behind the stream is. */
  private final class Feeder(ms: MemoryStream[(String, Array[Byte])], pool: Array[Rec], per: Int,
      chunks: Int, warmChunks: Int) extends Thread("dispatch-bench-feeder") {
    val dueMs = new Array[Long](chunks)
    val lateNs = new Array[Long](chunks)
    val offsets = new Array[Long](chunks)
    @volatile var cpuAtMeasure = 0L
    @volatile var cpuAtEnd = 0L
    @volatile var failure: Throwable = null

    override def run(): Unit = try {
      val wall0 = System.currentTimeMillis()
      val nano0 = System.nanoTime()
      var j = 0
      while (j < chunks) {
        val due = nano0 + j.toLong * ChunkMs * 1000000L
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        if (j == warmChunks) cpuAtMeasure = cpuNs
        lateNs(j) = now - due
        dueMs(j) = wall0 + j.toLong * ChunkMs
        val rows = (j * per until (j + 1) * per).map(i => (pool(i).key, pool(i).raw))
        offsets(j) = ms.addData(rows).json().toLong
        j += 1
      }
      cpuAtEnd = cpuNs
    } catch { case t: Throwable => failure = t }
  }

  def run(w: Workload, a: Args, env: Env, tr: Trace = new Trace(false)): Result = {
    val spark = env.spark
    val per = perChunk(w)
    val chunks = env.recs.length / per
    val warmChunks = WarmSeconds * 1000 / ChunkMs

    // the batch form of the same plan JIT-compiles the shared code first
    tr.span("bench", "warm") {
      jitWarm(w, env.recs)
      warmUp(routed(w, env.rules, inputFrame(spark, env.recs.take(math.min(env.recs.length, 20000)), json = false)))
    }

    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    val ckpt = freshDir(a.work.resolve("ckpt"))
    val ms = MemoryStream[(String, Array[Byte])](Cores)(
      Encoders.tuple(Encoders.STRING, Encoders.BINARY), spark.sqlContext)
    val cfg = AppConfig(bootstrapServers = "", topicIn = "", dlqTopic = "dlq", errorTopic = Some("error"),
      rules = env.rules, checkpointDir = ckpt.toString)
    val sink = new ConcurrentLinkedQueue[Array[Row]]()
    val query = tr.span("streaming", "start") {
      DispatchStream.toForeachBatch(
        DispatchApp.routedStream(ms.toDF().toDF("key", "raw"), cfg), ckpt.toString,
        (batch, _) => sink.add(batch.select("key", "route", "topic", "value").collect()))
    }

    val feeder = new Feeder(ms, env.recs, per, chunks, warmChunks)
    val backlogEnd = tr.span("streaming", "feed-and-drain") {
      feeder.start()
      feeder.join()
      if (feeder.failure != null) throw feeder.failure
      val genEndMs = System.currentTimeMillis()
      val last = feeder.offsets(chunks - 1)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (committed(progress) < last && query.exception.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      query.exception.foreach(e => throw e)
      require(committed(progress) >= last, "stream did not commit its input within 60 s")
      // offsets count chunks: what was added but not yet committed when
      // the generator stopped
      val doneAtEnd = progress.asScala.filter(p => commitMs(p) <= genEndMs).map(endOffset).maxOption.getOrElse(0L)
      math.max(0L, last - doneAtEnd) * per
    }
    tr.span("streaming", "stop") {
      query.stop()
      spark.streams.removeListener(listener)
    }

    val ps = progress.asScala.toVector.filter(_.numInputRows > 0).sortBy(_.batchId)
    val measuredFrom = feeder.offsets(warmChunks - 1) // offsets above this are measured chunks
    val latency = (warmChunks until chunks).map { j =>
      val p = ps.find(endOffset(_) >= feeder.offsets(j)).get
      (commitMs(p) - feeder.dueMs(j)).toDouble
    }
    val measuredBatches = ps.filter(endOffset(_) > measuredFrom)
    System.err.println(s"[bench] batches (rows/ms): ${measuredBatches.map(p => s"${p.numInputRows}/${dur(p, "triggerExecution").toLong}").mkString(" ")}")
    val measuredRows = (chunks - warmChunks).toLong * per
    val check = tr.span("verify", "check") {
      verify(w, env.recs.take(chunks * per).toIndexedSeq, sink.asScala.iterator.flatMap(_.iterator))
    }
    val rows = measuredBatches.map(_.numInputRows).sum.toDouble
    val busyS = measuredBatches.map(dur(_, "triggerExecution")).sum / 1e3
    Result(check, latency, rows / busyS, (feeder.cpuAtEnd - feeder.cpuAtMeasure) / 1e3 / measuredRows,
      measuredBatches, backlogEnd,
      (warmChunks until chunks).map(j => feeder.lateNs(j) / 1e6))
  }

  def endOffset(p: StreamingQueryProgress): Long = p.sources.head.endOffset.trim.toLong
  def dur(p: StreamingQueryProgress, k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def commitMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution").toLong
  private def committed(q: ConcurrentLinkedQueue[StreamingQueryProgress]): Long =
    q.asScala.filter(_.numInputRows > 0).map(endOffset).maxOption.getOrElse(-1L)
}
