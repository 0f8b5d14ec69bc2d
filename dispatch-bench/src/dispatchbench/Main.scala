package dispatchbench

import graft.GraftSession
import graft.functions.JsonPathRoutes
import graft.operators.{ProtoTx, TxDispatchPipeline}
import graft.proto.CosmosTx
import graft.rules.TxDispatchRules
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** A workload: its rules, its input form and the shares its generator
  * holds. BENCHMARK.json and README.md give the reason for each.
  */
final case class Workload(name: String, rules: Vector[BenchRule], json: Boolean,
    mix: Mix, records: Int, consumer: Option[String] = None, streamRate: Int = 0) {
  def stream: Boolean = streamRate > 0
}

object Workloads {
  private val replayMix = Mix(error = 0.05, dlq = 0.15, multi = 0.20)
  private val fanoutMix = Mix(error = 0.04, dlq = 0.08, multi = 0.60)

  val all: Vector[Workload] = Vector(
    Workload("replay-proto-8", Rules.eight, json = false, replayMix, records = 40000),
    Workload("fanout-json-64", Rules.sixtyFour, json = true, fanoutMix, records = 12000),
    Workload("topic-consumer-64", Rules.sixtyFour, json = false, fanoutMix, records = 80000, consumer = Some("t-type-delegate")),
    Workload("stream-proto-1s", Rules.eight, json = false, replayMix, records = 40000, streamRate = 8000))

  def byName(name: String): Option[Workload] = all.find(_.name == name)
}

final case class Metric(name: String, value: Double, unit: String)

object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors
  val SetupRepeats = 3
  val MinPasses = 5
  val WarmUpSeconds = 5

  final case class Args(mode: String, workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  private def parse(argv: Array[String]): Args = {
    var mode = "run"
    var workload = ""
    var seed = 1L
    var seconds = 0
    var trace = false
    var work: Path = null
    val it = argv.iterator
    while (it.hasNext) it.next() match {
      case "--workload" => workload = it.next()
      case "--seed" => seed = it.next().toLong
      case "--seconds" => seconds = it.next().toInt
      case "--trace" => trace = it.next() == "1"
      case "--work" => work = Paths.get(it.next())
      case "--selftest" => mode = "selftest"
      case "--repro" => mode = "repro"
      case other => throw new IllegalArgumentException(s"unknown argument $other")
    }
    if (mode == "run") {
      require(seconds >= 1, "--seconds must be at least 1")
      require(work != null, "--work is required")
    }
    Args(mode, workload, seed, seconds, trace, work)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val ok = a.mode match {
      case "selftest" => SelfTest.run()
      case "repro" => SelfTest.repro()
      case _ =>
        val w = Workloads.byName(a.workload).getOrElse(
          throw new IllegalArgumentException(s"unknown workload '${a.workload}'; known: ${Workloads.all.map(_.name).mkString(", ")}"))
        val (check, metrics) = if (a.trace) Traced.run(w, a) else Untraced.run(w, a)
        System.err.println(s"[bench] ${w.name}: attempted=${check.attempted} failed=${check.failed} " +
          s"(dlq base64 defect: ${check.knownDefect}) foreign=${check.foreign} outputs=${check.outputs}")
        check.examples.foreach(e => System.err.println(s"[bench]   $e"))
        println(resultJson(check, metrics))
        true
    }
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is printed
    System.exit(if (ok) 0 else 1)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric value $v") else v.toString

  def resultJson(c: CheckResult, ms: Seq[Metric]): String =
    ms.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(s"""{"correct": ${c.correct}, "attempted": ${c.attempted}, "failed": ${c.failed}, "metrics": {""", ", ", "}}")

  // ------------------------------------------------------------ shared

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.length).toInt - 1))
  }

  /** A set-up workload. `recs` is the whole input; the stream feeds it
    * in chunks. `input` holds its first `records` in executor memory: the
    * batch passes read it, and batch set-up forces it.
    */
  final class Env(w: Workload, val spark: SparkSession, val rules: TxDispatchRules, val recs: Array[Rec]) {
    lazy val input: DataFrame = cached(spark, recs.take(w.records), w.json)
  }

  def session(): SparkSession = GraftSession.local("dispatch-bench", Cores)

  def inputFrame(spark: SparkSession, recs: Array[Rec], json: Boolean): DataFrame = {
    val fields = Seq(StructField("key", StringType, nullable = false), StructField("raw", BinaryType, nullable = false)) ++
      (if (json) Seq(StructField("txJson", StringType, nullable = true)) else Nil)
    val rows = recs.toSeq.map(r => if (json) Row(r.key, r.raw, r.json) else Row(r.key, r.raw))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, Cores), StructType(fields))
  }

  /** Generated records as a DataFrame held in executor memory. A local
    * checkpoint rather than `cache()`: a cached parallelized collection
    * would still ship its data inside every task of every pass.
    */
  def cached(spark: SparkSession, recs: Array[Rec], json: Boolean): DataFrame =
    inputFrame(spark, recs, json).localCheckpoint(eager = true)

  /** Session start, rule load, input generation and, on batch workloads,
    * caching.
    */
  def setup(w: Workload, a: Args, tr: Trace): Env = tr.span("bench", "setup") {
    val spark = tr.span("bench", "session")(session())
    val rules = tr.span("rules", "fromYamlString")(TxDispatchRules.fromYamlString(Rules.yaml(w.rules)))
    val n = if (w.stream) StreamRun.poolSize(w, a.seconds) else w.records
    val env = new Env(w, spark, rules, tr.span("bench", "generate")(Gen.generate(a.seed, n, w.rules, w.mix, w.json)))
    if (!w.stream) tr.span("bench", "cache")(env.input)
    env
  }

  /** `setup` done SetupRepeats times, untraced; returns the last one, with
    * the wall time of each.
    */
  def timedSetups(w: Workload, a: Args): (Env, Seq[Double]) = {
    val off = new Trace(false)
    val times = ArrayBuffer.empty[Double]
    var env: Env = null
    (0 until SetupRepeats).foreach { _ =>
      if (env != null) close(env)
      val t0 = System.nanoTime()
      env = setup(w, a, off)
      times += secs(t0)
    }
    (env, times.toSeq)
  }

  /** An empty directory at `p`, removing what an earlier run left there. */
  def freshDir(p: Path): Path = {
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
  }

  def close(env: Env): Unit = env.spark.stop()

  /** The engine call a workload measures, with the columns a sink reads. */
  def routed(w: Workload, rules: TxDispatchRules, input: DataFrame): DataFrame = {
    val out = if (w.json) TxDispatchPipeline(input, rules) else ProtoTx.routed(input, rules)
    w.consumer.fold(out)(t => out.filter(col("topic") === t)).select("key", "route", "topic", "value")
  }

  /** Single-threaded calls into the engine's per-record functions before
    * any Spark pass. The JIT then compiles them from the same call profile
    * on every run. On a 4-vCPU host, profiles gathered from four racing
    * executor threads settled into speed modes up to 1.7x apart from run
    * to run.
    */
  def jitWarm(w: Workload, recs: Array[Rec]): Unit = {
    val routes = JsonPathRoutes(Literal(""), w.rules.map(_.path), Some(TxDispatchRules.ERROR),
      Some(TxDispatchRules.UNFILTERED))
    val sample = recs.take(4000)
    val t0 = System.nanoTime()
    while (secs(t0) < 2) sample.foreach { r =>
      val doc =
        if (w.json) r.json
        else try {
          val tx = CosmosTx.decode(r.raw)
          CosmosTx.encode(tx)
          CosmosTx.toJson(tx)
        } catch { case _: Exception => null }
      routes.routesFor(if (doc == null) null else UTF8String.fromString(doc))
    }
  }

  /** Unmeasured passes for a fixed WarmUpSeconds. Passes keep getting
    * faster for several seconds, and a stop rule waiting for three passes
    * within 10% of each other can fire while they still do.
    */
  def warmUp(df: DataFrame): Unit = {
    val t0 = System.nanoTime()
    val ts = ArrayBuffer.empty[Double]
    while (secs(t0) < WarmUpSeconds) ts += pass(df)
    System.err.println(s"[bench] warm-up passes (s): ${ts.map(x => f"$x%.3f").mkString(" ")}")
  }

  /** One pass to the `noop` sink; returns its wall time in seconds. */
  def pass(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    secs(t0)
  }

  def verify(w: Workload, recs: IndexedSeq[Rec], rows: Iterator[Row]): CheckResult =
    new Checker(recs, new Oracle(w.rules, w.json), w.consumer)
      .check(rows.map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getAs[Array[Byte]](3))))
}

/** The end-to-end run: no spans, no listeners beyond the stream's own. */
object Untraced {
  import Main._

  def run(w: Workload, a: Args): (CheckResult, Seq[Metric]) = {
    val (env, setups) = timedSetups(w, a)
    System.err.println(s"[bench] setups (s): ${setups.map(x => f"$x%.3f").mkString(" ")}")
    val (check, throughput, cpuUsPerRec, latencyMs) =
      if (w.stream) {
        val r = StreamRun.run(w, a, env)
        (r.check, r.throughput, r.cpuUsPerRec, r.latencyMs)
      } else batch(w, a, env)
    close(env)
    (check, Seq(
      Metric("throughput_rps", throughput, "1/s"),
      Metric("cpu_us_per_rec", cpuUsPerRec, "us"),
      Metric("latency_p50_ms", median(latencyMs), "ms"),
      Metric("latency_p99_ms", quantile(latencyMs, 0.99), "ms"),
      Metric("setup_s", median(setups), "s")))
  }

  /** Timed passes for `--seconds`, at least MinPasses of them. Every record
    * of a pass is available at its start and dispositioned by its end, so
    * a record's latency is its pass's wall time.
    */
  private def batch(w: Workload, a: Args, env: Env): (CheckResult, Double, Double, Seq[Double]) = {
    val out = routed(w, env.rules, env.input)
    jitWarm(w, env.recs)
    warmUp(out)
    val passes = ArrayBuffer.empty[Double]
    val cpu0 = cpuNs
    val t0 = System.nanoTime()
    while (passes.size < MinPasses || secs(t0) < a.seconds) passes += pass(out)
    val cpu = cpuNs - cpu0
    System.err.println(s"[bench] passes (s): ${passes.map(x => f"$x%.3f").mkString(" ")}")
    val check = verify(w, env.recs, out.collect().iterator)
    (check, w.records / median(passes.toSeq), cpu / 1e3 / (passes.size.toDouble * w.records),
      passes.map(_ * 1e3).toSeq)
  }
}
