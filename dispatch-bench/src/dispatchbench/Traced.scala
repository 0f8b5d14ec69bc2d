package dispatchbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.functions.{DecodeCosmosTx, JsonPathExists, JsonPathLite, JsonPathRoutes}
import graft.operators.{ProtoTx, TxDispatchPipeline}
import graft.proto.CosmosTx
import graft.rules.TxDispatchRules
import org.apache.spark.BenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{GenerateExec, LeafExecNode, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The traced run: spans around every bench-side call into a layer, Spark
  * listeners, and the per-layer metrics. Writes `spans.jsonl` and
  * `plan.txt` under `<work>/trace/<workload>/`.
  */
object Traced {
  import Main._

  val Sample = 2000
  val Reps = 3

  /** Counts from Spark's listener bus between two `reset`s. */
  private final class Counters extends SparkListener {
    @volatile var jobs = 0L
    @volatile var tasks = 0L
    @volatile var cpuNs = 0L
    @volatile var gcMs = 0L
    def reset(): Unit = { jobs = 0; tasks = 0; cpuNs = 0; gcMs = 0 }
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
      tasks += 1
      cpuNs += e.taskMetrics.executorCpuTime
      gcMs += e.taskMetrics.jvmGCTime
    }
  }

  private final class LastQuery extends QueryExecutionListener {
    @volatile var qe: QueryExecution = null
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = this.qe = qe
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private object PlanStats extends AdaptiveSparkPlanHelper {
    def nodes(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }
    def exprs(n: SparkPlan): Seq[Expression] = n.expressions.flatMap(_.collect { case e => e })
  }

  def run(w: Workload, a: Args): (CheckResult, Seq[Metric]) = {
    val tr = new Trace(true)
    val ms = ArrayBuffer.empty[Metric]
    def m(name: String, v: Double, unit: String): Unit = ms += Metric(name, v, unit)
    val dir = freshDir(a.work.resolve("trace").resolve(w.name))
    var check: CheckResult = null
    var plan = ""

    tr.span("bench", "run") {
      val env = setup(w, a, tr)
      // the stream's per-layer passes run over the first `records` of its pool
      val (spark, rules) = (env.spark, env.rules)
      val recs = env.recs.take(w.records)
      val input = tr.span("bench", "cache")(env.input)

      val yaml = Rules.yaml(w.rules)
      val loads = (0 until 20).map { _ =>
        val t0 = System.nanoTime(); tr.span("rules", "fromYamlString")(TxDispatchRules.fromYamlString(yaml)); secs(t0)
      }
      m("rules.load_ms", median(loads) * 1e3, "ms")

      val sample = recs.take(Sample)
      val docs = tr.span("proto", "micro")(proto(sample, w, m))
      tr.span("functions", "micro")(functions(docs, w, m))

      // cumulative noop passes: each adds one engine call to the last
      val counters = new Counters
      val last = new LastQuery
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(last)
      val decoded = if (w.json) input else ProtoTx.decoded(input)
      // JSON input has no decode step
      val stages = Seq(
        "scan" -> input,
        "decode" -> decoded,
        "route" -> TxDispatchPipeline.withRoutes(decoded, rules),
        "envelope" -> routed(w, rules, input)).filterNot(s => w.json && s._1 == "decode")
      val times = stages.map(_._1 -> ArrayBuffer.empty[Double]).toMap
      val perPass = ArrayBuffer.empty[(Long, Long, Long, Long)]
      val plans = ArrayBuffer.empty[Double]
      warmUp(stages.last._2)
      stages.init.foreach { case (_, df) => pass(df) }
      (0 until Reps).foreach { _ =>
        stages.foreach { case (name, df) =>
          counters.reset()
          times(name) += tr.span("operators", name)(pass(df))
          BenchBridge.drainListeners(spark.sparkContext)
          if (name == "envelope") {
            perPass += ((counters.jobs, counters.tasks, counters.cpuNs, counters.gcMs))
            val ph = last.qe.tracker.phases
            plans += Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum.toDouble
          }
        }
      }
      val t = times.map { case (k, v) => k -> median(v.toSeq) }
      val decodeT = t.getOrElse("decode", t("scan"))
      m("operators.scan_s", t("scan"), "s")
      m("operators.decode_s", decodeT - t("scan"), "s")
      m("operators.route_s", t("route") - decodeT, "s")
      m("operators.envelope_s", t("envelope") - t("route"), "s")
      m("operators.jobs", perPass.map(_._1).sum.toDouble / perPass.size, "count")
      m("operators.tasks", perPass.map(_._2).sum.toDouble / perPass.size, "count")
      m("operators.exec_cpu_s", perPass.map(_._3).sum / 1e9 / perPass.size, "s")
      m("operators.gc_s", perPass.map(_._4).sum / 1e3 / perPass.size, "s")

      val full = stages.last._2
      tr.span("operators", "envelope")(pass(full))
      BenchBridge.drainListeners(spark.sparkContext)
      tr.span("plans", "inspect") {
        val qe = last.qe
        plan = qe.toString
        val nodes = PlanStats.nodes(qe.executedPlan)
        m("plans.plan_ms", median(plans.toSeq), "ms")
        m("plans.decode_sites", nodes.count(n => !n.isInstanceOf[LeafExecNode] &&
          PlanStats.exprs(n).exists(_.isInstanceOf[DecodeCosmosTx])).toDouble, "count")
        m("plans.generate_nodes", nodes.count(_.isInstanceOf[GenerateExec]).toDouble, "count")
        m("plans.predicates_per_rec", nodes.flatMap(PlanStats.exprs).map {
          case r: JsonPathRoutes => r.paths.size
          case _: JsonPathExists => 1
          case _ => 0
        }.sum.toDouble, "count")
        m("plans.fallback_exprs", nodes.flatMap(PlanStats.exprs).count(_.isInstanceOf[CodegenFallback]).toDouble, "count")
        m("plans.wscg_stages", nodes.count(_.isInstanceOf[WholeStageCodegenExec]).toDouble, "count")
      }

      // tracing overhead: the same pass with and without listeners and spans
      val traced = ArrayBuffer.empty[Double]
      val untraced = ArrayBuffer.empty[Double]
      (0 until Reps).foreach { _ =>
        spark.sparkContext.removeSparkListener(counters)
        spark.listenerManager.unregister(last)
        untraced += pass(full)
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(last)
        traced += tr.span("operators", "envelope")(pass(full))
      }
      m("trace.overhead_pct", (median(traced.toSeq) / median(untraced.toSeq) - 1) * 100, "%")

      val rows = tr.span("operators", "collect")(full.collect())
      check = tr.span("verify", "check")(verify(w, recs.toIndexedSeq, rows.iterator))
      m("operators.out_rows_per_rec", check.outputs.toDouble / check.attempted, "count")

      if (w.stream) {
        val r = tr.span("streaming", "run")(StreamRun.run(w, a, env, tr))
        check = r.check
        val ps = r.progress
        def p50(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) = median(ps.map(f))
        m("streaming.batches", ps.size.toDouble, "count")
        m("streaming.batch_ms_p50", p50(StreamRun.dur(_, "triggerExecution")), "ms")
        m("streaming.add_batch_ms_p50", p50(StreamRun.dur(_, "addBatch")), "ms")
        m("streaming.planning_ms_p50", p50(StreamRun.dur(_, "queryPlanning")), "ms")
        m("streaming.commit_ms_p50", p50(p => StreamRun.dur(p, "walCommit") + StreamRun.dur(p, "commitOffsets")), "ms")
        m("streaming.rows_per_batch_p50", p50(_.numInputRows.toDouble), "count")
        m("streaming.backlog_end", r.backlogEndRows.toDouble, "count")
        m("streaming.gen_late_ms_p99", quantile(r.genLateMs, 0.99), "ms")
      } else {
        Seq("streaming.batches" -> "count", "streaming.batch_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
          "streaming.planning_ms_p50" -> "ms", "streaming.commit_ms_p50" -> "ms",
          "streaming.rows_per_batch_p50" -> "count", "streaming.backlog_end" -> "count",
          "streaming.gen_late_ms_p99" -> "ms").foreach { case (n, u) => m(n, 0.0, u) }
      }
      m("jvm.peak_heap_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB")
      spark.stop()
    }

    val self = tr.selfSeconds
    Seq("rules", "proto", "functions", "operators", "plans", "streaming", "verify").foreach { l =>
      m(s"trace.${l}_self_s", self.getOrElse(l, 0.0), "s")
    }
    tr.write(dir.resolve("spans.jsonl"))
    Files.write(dir.resolve("plan.txt"), plan.getBytes(UTF_8))
    (check, ms.sortBy(_.name).toSeq)
  }

  /** Median microseconds per item of `body` over `n` items: two untimed
    * rounds for the JIT, then five timed ones.
    */
  private def perRec[A](n: Int)(body: => A): Double = {
    body; body
    median((0 until 5).map { _ => val t0 = System.nanoTime(); body; secs(t0) * 1e6 / n })
  }

  /** Times single-threaded `CosmosTx` calls; returns the documents the rule
    * layer sees (null for an undecodable record).
    */
  private def proto(sample: Array[Rec], w: Workload, m: (String, Double, String) => Unit): Array[String] = {
    val decoded = sample.map(r => try Some(CosmosTx.decode(r.raw)) catch { case _: Exception => None })
    val txs = decoded.flatten
    m("proto.decode_us", perRec(sample.length) {
      sample.foreach(r => try CosmosTx.decode(r.raw) catch { case _: Exception => () })
    }, "us")
    m("proto.to_json_us", perRec(txs.length)(txs.foreach(CosmosTx.toJson(_))), "us")
    m("proto.encode_us", perRec(txs.length)(txs.foreach(CosmosTx.encode)), "us")
    m("proto.error_share", decoded.count(_.isEmpty).toDouble / sample.length, "share")
    val rendered = decoded.map(_.map(CosmosTx.toJson(_)).orNull)
    m("proto.json_bytes", rendered.filter(_ != null).map(_.getBytes(UTF_8).length.toLong).sum.toDouble /
      math.max(1, txs.length), "B")
    if (w.json) sample.map(_.json) else rendered
  }

  /** Times single-threaded calls into the JsonPath expressions. */
  private def functions(docs: Array[String], w: Workload, m: (String, Double, String) => Unit): Unit = {
    val paths = w.rules.map(_.path)
    val routes = JsonPathRoutes(Literal(""), paths, Some(TxDispatchRules.ERROR), Some(TxDispatchRules.UNFILTERED))
    val exists = paths.map(p => JsonPathExists(Literal(""), p))
    val u8 = docs.map(d => if (d == null) null else UTF8String.fromString(d))
    val mapper = new ObjectMapper()
    val parsed = docs.filter(_ != null).flatMap(d => try Some(mapper.readTree(d)) catch { case _: Exception => None })
    val compiled = paths.map(JsonPathLite.compile)
    // alternated, so JIT changes during one measurement do not land on
    // one side of the difference parse_us = routes_us - eval_us
    val (rs, es) = (0 until Reps).map { _ =>
      (perRec(u8.length)(u8.foreach(routes.routesFor(_))),
        perRec(parsed.length)(parsed.foreach(d => compiled.foreach(JsonPathLite.exists(d, _)))))
    }.unzip
    val (routesUs, evalUs) = (median(rs), median(es))
    val some = u8.filter(_ != null).take(300)
    m("functions.routes_us", routesUs, "us")
    m("functions.exists_us", perRec(some.length * exists.size)(some.foreach(d => exists.foreach(_.matchJson(d)))), "us")
    m("functions.eval_us", evalUs, "us")
    m("functions.parse_us", routesUs - evalUs, "us")
    val results = u8.map(d => routes.routesFor(d).toIntArray())
    m("functions.matches_per_rec", results.map(_.count(_ >= 0)).sum.toDouble / results.length, "count")
    m("functions.dlq_share", results.count(r => r.sameElements(Array(TxDispatchRules.UNFILTERED))).toDouble /
      results.length, "share")
  }
}
