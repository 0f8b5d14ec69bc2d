package graft

import graft.operators.{EventsTx, TxDispatchPipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The single-topic-consumer optimization: Filter(route = i) over the
  * multicast explode collapses to one predicate filter (no Generate).
  */
class RouteFilterPruningSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  val sf = "/root/testdata/sf0.001"

  private def routes = TxDispatchPipeline.withRoutes(
    EventsTx.withTxJson(EventsTx.load(spark, sf)), EventsTx.rules)

  test("Filter(route = i) over the explode optimizes away the Generate") {
    val q = routes.filter(col("route") === 0)
    val optimized = q.queryExecution.optimizedPlan
    assert(!optimized.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Generate]),
      s"Generate survived:\n$optimized")
    assert(optimized.toString.contains("json_path_exists"),
      "expected the single-rule predicate filter")
  }

  test("optimized single-topic read returns exactly the multicast's route-i rows") {
    import spark.implicits._
    val viaRule = routes.filter(col("route") === 0)
      .select($"event_id").as[Long].collect().sorted.toSeq
    // ground truth without the optimizer shortcut: filter AFTER collecting routes
    val all = routes.select($"event_id", $"route").as[(Long, Int)].collect()
    val expected = all.filter(_._2 == 0).map(_._1).sorted.toSeq
    assert(viaRule == expected && viaRule.nonEmpty)
  }

  private def routedFull = TxDispatchPipeline(
    EventsTx.withTxJson(EventsTx.load(spark, sf)), EventsTx.rules)

  test("Filter(topic = 'x') — the user-facing column — also prunes the Generate") {
    val q = routedFull.filter(col("topic") === "topic-1").select(col("event_id"))
    val optimized = q.queryExecution.optimizedPlan
    assert(!optimized.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Generate]),
      s"Generate survived:\n$optimized")
    assert(optimized.toString.contains("json_path_exists"))
    // results identical to the unpruned multicast
    import spark.implicits._
    val viaRule = q.as[Long].collect().sorted.toSeq
    val expected = routedFull.select($"event_id", $"route").as[(Long, Int)]
      .collect().filter(_._2 == 0).map(_._1).sorted.toSeq
    assert(viaRule == expected && viaRule.nonEmpty)
  }

  test("literal-on-the-left filters (lit(0) === route, lit(topic) === topic) prune the same way") {
    import spark.implicits._
    def noGenerate(q: org.apache.spark.sql.DataFrame): Unit = {
      val optimized = q.queryExecution.optimizedPlan
      assert(!optimized.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Generate]),
        s"Generate survived:\n$optimized")
      assert(optimized.toString.contains("json_path_exists"))
    }
    val byRoute = routes.filter(lit(0) === col("route")).select($"event_id")
    noGenerate(byRoute)
    val byTopic = routedFull.filter(lit("topic-1") === col("topic")).select($"event_id")
    noGenerate(byTopic)
    val expected = routes.select($"event_id", $"route").as[(Long, Int)]
      .collect().filter(_._2 == 0).map(_._1).sorted.toSeq
    assert(expected.nonEmpty)
    assert(byRoute.as[Long].collect().sorted.toSeq == expected)
    assert(byTopic.as[Long].collect().sorted.toSeq == expected)
  }

  test("topic filters that cannot name one rule are left untouched") {
    // sentinel topic: 'dlq' rows need decode state, not one rule
    val dlq = routedFull.filter(col("topic") === "dlq")
    assert(dlq.queryExecution.optimizedPlan
      .exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Generate]))
    assert(dlq.count() > 0)
    // unknown topic: no rule matches — plan untouched, result empty
    val unknown = routedFull.filter(col("topic") === "no-such-topic")
    assert(unknown.queryExecution.optimizedPlan
      .exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Generate]))
    assert(unknown.count() == 0)
  }

  test("sentinel filters (error/DLQ) are left untouched") {
    val q = routes.filter(col("route") === graft.rules.TxDispatchRules.UNFILTERED)
    val optimized = q.queryExecution.optimizedPlan
    assert(optimized.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Generate]))
    assert(q.count() > 0)
  }

  test("ANSI guard: a sentinel with no false-branch and no map key blocks the rewrite") {
    // Author a topic CaseWhen that FORGETS the UNFILTERED branch: the
    // generator can emit route=-2, the ELSE's element_at(map, -2) would
    // throw under ANSI — the rewrite must not replace that throw with a
    // silent filter, so the Generate has to survive. (Don't execute: the
    // original plan is genuinely throw-y on this data, which is the point.)
    import graft.rules.TxDispatchRules.{ERROR, UNFILTERED}
    val topics = EventsTx.rules.rules.zipWithIndex
      .flatMap { case (r, i) => Seq(lit(i), lit(r.topic)) }
    val forgetful = routes.withColumn("topic",
      when(col("route") === ERROR, lit("error"))
        .otherwise(element_at(map(topics: _*), col("route"))))
    val q = forgetful.filter(col("topic") === EventsTx.rules.rules.head.topic)
    assert(q.queryExecution.optimizedPlan
      .exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Generate]),
      "rewrite erased an ANSI error path: sentinel -2 is neither branched false nor a map key")
    // with BOTH sentinels excluded the same shape rewrites (control)
    val covered = routes.withColumn("topic",
      when(col("route") === ERROR, lit("error"))
        .when(col("route") === UNFILTERED, lit("dlq"))
        .otherwise(element_at(map(topics: _*), col("route"))))
      .filter(col("topic") === EventsTx.rules.rules.head.topic)
    assert(!covered.queryExecution.optimizedPlan
      .exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Generate]))
  }

  test("over ProtoTx.routed the pruned consumer Filter reads the decode struct, not txJson") {
    import graft.functions.{DecodeCosmosTx, JsonPathExists}
    import graft.operators.ProtoTx
    import graft.proto.CosmosTx
    import graft.proto.CosmosTx._
    import graft.rules.{DispatchRule, TxDispatchRules}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
    import spark.implicits._
    val url = "type.googleapis.com/cosmos.bank.v1beta1.MsgSend"
    def tx(from: String): Array[Byte] = CosmosTx.encode(Tx(TxBody(Seq(
      AnyMsg(url, encodeMsgSend(MsgSend(from, "to", Seq(Coin("know", "1")))))), "", 0L), AuthInfo(Nil, None), Nil))
    val rules = TxDispatchRules(Seq(
      DispatchRule("a", "topic-a", "$..messages[?(@.fromAddress == 'a')]"),
      DispatchRule("b", "topic-b", "$..messages[?(@.fromAddress == 'b')]")))
    val input = spark.sparkContext.parallelize(Seq(("k1", tx("a")), ("k2", tx("b")), ("k3", tx("a")),
      ("k4", "junk".getBytes("UTF-8"))), 2).toDF("key", "raw")
    val q = ProtoTx.routed(input, rules).filter($"topic" === "topic-a").select($"key", $"value")
    val optimized = q.queryExecution.optimizedPlan
    assert(!optimized.exists(_.isInstanceOf[Generate]), s"Generate survived:\n$optimized")
    val tests = optimized.collect { case f: Filter => f.condition.collect { case e: JsonPathExists => e } }.flatten
    assert(tests.nonEmpty && tests.forall(_.child.isInstanceOf[DecodeCosmosTx]), s"pruned filter:\n$optimized")
    assert(q.as[(String, Array[Byte])].collect().map(_._1).sorted.toSeq == Seq("k1", "k3"))
  }

  test("the shared session is the production session: GraftExtensions supplies the rule and the SQL functions") {
    assert(spark.experimental.extraOptimizations.isEmpty)
    val optimized = routes.filter(col("route") === 0).queryExecution.optimizedPlan
    assert(!optimized.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Generate]),
      s"RouteFilterPruning did not run:\n$optimized")
    // a new session shares the extensions but none of the functions
    // JsonPathFunctions.register may have added to the shared one
    val fresh = spark.newSession()
    assert(fresh.sql("""SELECT json_path_exists('{"a": 1}', '$.a')""").head().getBoolean(0))
  }

  test("full dispatch results are unchanged with extensions active") {
    import spark.implicits._
    val got = TxDispatchPipeline(
      EventsTx.withTxJson(EventsTx.load(spark, sf)), EventsTx.rules)
      .groupBy($"topic").count()
      .as[(String, Long)].collect().toMap
    assert(got.values.sum > 1000 && got.contains("dlq"))
  }
}
