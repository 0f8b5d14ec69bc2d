package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract consistency guards: every oracle has a query, names are
  * well-formed, and the flagship map stays non-empty — cheap invariants
  * that catch wiring mistakes before the round driver does.
  */
class ContractSpec extends AnyFunSuite {

  test("every oracleSql entry has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("every query has an oracle (full correctness coverage, no weak checks)") {
    val unverified = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unverified.isEmpty, s"queries without oracle: $unverified")
  }

  test("oracle SQL strings are single statements without driver-breaking chars") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains(";"), s"$name: multi-statement oracle")
      assert(sql.trim.toUpperCase.startsWith("SELECT") || sql.trim.toUpperCase.startsWith("WITH"),
        s"$name: oracle must be a SELECT/WITH")
    }
  }

  test("query names are stable identifiers") {
    SparkEntry.queries.keys.foreach { n =>
      assert(n.matches("q_[a-z0-9_]+"), s"bad query name: $n")
    }
  }

  test("SPARK_GRAFT_ONLY selection: name order, trimmed names, and a typo fails") {
    assert(SparkEntry.selected(None).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.selected(Some(" q_tx_json, q_source_scan")).map(_._1) ==
      Seq("q_source_scan", "q_tx_json"))
    val typo = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("q_source_scan,q_tx_jsn")))
    assert(typo.getMessage.contains("q_tx_jsn"))
    intercept[IllegalArgumentException](SparkEntry.selected(Some(",")))
  }

  test("GraftSession is the only place a SparkSession is built") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val builder = """SparkSession\s*\.\s*builder\b""".r
    def scalaFiles(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val builders = Seq("src/main", "src/test").flatMap(scalaFiles)
      .filter(p => p.getFileName.toString != "GraftSession.scala" &&
        builder.findFirstIn(Files.readString(p)).isDefined)
    assert(scalaFiles("src/main").exists(_.getFileName.toString == "GraftSession.scala"))
    assert(builders.isEmpty, s"SparkSession built outside GraftSession: ${builders.mkString(", ")}")
  }

  test("the engine calls dispatch-bench/src makes compile and run with the signatures it uses") {
    // dispatch-bench builds the engine from source: an API change that
    // breaks one of these calls fails the benchmark's build, so it must
    // fail here first
    import graft.functions.{DecodeCosmosTx, JsonPathExists, JsonPathLite, JsonPathRoutes}
    import graft.operators.{ProtoTx, TxDispatchPipeline}
    import graft.proto.CosmosTx
    import graft.rules.TxDispatchRules
    import graft.streaming.{AppConfig, DispatchApp}
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String

    val rules: TxDispatchRules = TxDispatchRules.fromYamlString(
      "rules:\n  - name: \"body\"\n    topic: \"t-body\"\n    predicate: \"$.body\"\n")
    val tx: CosmosTx.Tx = CosmosTx.decode(CosmosTx.encode(
      CosmosTx.Tx(CosmosTx.TxBody(Nil, "", 0L), CosmosTx.AuthInfo(Nil, None), Nil)))
    val raw: Array[Byte] = CosmosTx.encode(tx)
    val json: String = CosmosTx.toJson(tx)
    val paths: Seq[String] = rules.rules.map(_.predicate)
    val routes = JsonPathRoutes(Literal(""), paths, Some(TxDispatchRules.ERROR), Some(TxDispatchRules.UNFILTERED))
    assert(routes.routesFor(UTF8String.fromString(json)).toIntArray().toSeq == Seq(0))
    assert(routes.routesFor(null: UTF8String).toIntArray().toSeq == Seq(TxDispatchRules.ERROR))
    assert(JsonPathExists(Literal(""), paths.head).matchJson(UTF8String.fromString(json)))
    assert(JsonPathLite.exists(new com.fasterxml.jackson.databind.ObjectMapper().readTree(json),
      JsonPathLite.compile(paths.head)))

    def frame(withJson: Boolean): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(if (withJson) Row("k", raw, json) else Row("k", raw)), 1),
      StructType(Seq(StructField("key", StringType), StructField("raw", BinaryType)) ++
        (if (withJson) Seq(StructField("txJson", StringType)) else Nil)))
    val decoded: DataFrame = ProtoTx.decoded(frame(withJson = false))
    val cfg = AppConfig(bootstrapServers = "", topicIn = "", dlqTopic = "dlq", errorTopic = Some("error"),
      rules = rules, checkpointDir = "")
    val outs: Seq[DataFrame] = Seq(
      TxDispatchPipeline.withRoutes(decoded, rules),
      TxDispatchPipeline(frame(withJson = true), rules),
      ProtoTx.routed(frame(withJson = false), rules),
      DispatchApp.routedStream(frame(withJson = false).toDF("key", "raw"), cfg))
    outs.foreach { df =>
      assert(df.select("key", "route").collect().toSeq == Seq(Row("k", 0)), df.queryExecution.toString)
    }
    assert(outs.drop(1).forall(df => Seq("topic", "value").forall(df.columns.contains)))
    assert(decoded.queryExecution.executedPlan.toString.contains(
      new DecodeCosmosTx(Literal(null, BinaryType)).prettyName))
  }

  // ---- exactness invariant (round-1 lesson: 6 hash failures came from
  // fp-aggregation / type drift the old checks couldn't see) ----

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** Every query built once at sf0.001, shared by the four checks below
    * (a builder runs its eager driver jobs each time it is called).
    */
  private lazy val built: Seq[(String, org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.toSeq.map { case (name, fn) => name -> fn(spark, dir) }

  test("no Sum/Average over floating-point columns anywhere in any query plan") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, AggregateExpression, Sum}
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    built.foreach { case (name, df) =>
      val plan = df.queryExecution.analyzed
      plan.foreach { node =>
        node.expressions.foreach { root =>
          root.foreach {
            case ae: AggregateExpression =>
              val fp = ae.aggregateFunction match {
                case s: Sum     => s.child.dataType == DoubleType || s.child.dataType == FloatType
                case a: Average => a.child.dataType == DoubleType || a.child.dataType == FloatType
                case _          => false
              }
              assert(!fp,
                s"$name: ${ae.aggregateFunction.prettyName} over a floating-point column — " +
                  "order-dependent, can never hash-match the oracle; cast the input to decimal first")
            case _ =>
          }
        }
      }
    }
  }

  test("no query output schema contains a DECIMAL column") {
    // Round-2 lesson: the driver's hasher renders DECIMAL differently across
    // engines even when the values are proven bit-identical (strict EXCEPT
    // ALL inside DuckDB). Decimal is fine as an internal exact-arithmetic
    // type, but money must LEAVE every query as scaled-integer BIGINT
    // (×100 / ×10⁴ units) or string — never DecimalType.
    import org.apache.spark.sql.types.DecimalType
    built.foreach { case (name, df) =>
      val dec = df.schema.fields
        .collect { case f if f.dataType.isInstanceOf[DecimalType] => f.name }
      assert(dec.isEmpty,
        s"$name: DECIMAL output columns ${dec.toList} — hash-unstable through the driver; " +
          "emit scaled-integer BIGINT (cents / 10⁻⁴ units) or string instead")
    }
  }

  test("no query output schema contains an array/map/struct column") {
    // Round-3 lesson: q_quality_filter was the only query with a list-typed
    // output column and the only driver-side ERROR — the driver's hasher
    // sorts rows with pandas, and `sort_values` on an ndarray-valued column
    // dies with `unhashable type: numpy.ndarray`. Nested types are fine
    // internally; query OUTPUTS must be atomic (join arrays to strings or
    // explode to rows at the query boundary).
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    built.foreach { case (name, df) =>
      val nested = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] => f.name
      }
      assert(nested.isEmpty,
        s"$name: nested-type output columns ${nested.toList} — the driver hasher " +
          "cannot sort list/struct values; emit atomic columns (array_join / explode)")
    }
  }

  test("double output columns are pinned to the per-row-deterministic allowlist") {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    // Doubles are allowed ONLY where both engines compute an identical
    // per-row fold (cosine folds, jaccard ratios) — never from aggregation.
    // Adding a new double column forces a conscious entry here.
    val allowed: Map[String, Set[String]] = Map(
      "q_embed_topk"        -> Set("cos"),
      "q_embed_neardup"     -> Set("cos"),
      "q_embed_neardup_lsh" -> Set("cos"),
      "q_embed_ann_lsh"     -> Set("cos"),
      "q_embed_ivf"         -> Set("cos"),
      "q_embed_ivfpq"       -> Set("cos"),
      "q_embed_ivfpq_indexed" -> Set("cos"),
      "q_embed_ivfpq_append" -> Set("cos"),
      "q_stream_index_ingest" -> Set("cos"),
      "q_embed_ivfpq_retrained" -> Set("cos"),
      "q_knn_graph"         -> Set("cos"),
      "q_knn_graph_bounded" -> Set("cos"),
      "q_embed_neardup_lsh_mp" -> Set("cos"),
      "q_multimodal_ann"    -> Set("cos"),
      // n_hits/5.0 — identical IEEE division of identical integer operands
      "q_embed_ivf_recall"  -> Set("recall"),
      "q_embed_pq_recall"   -> Set("recall"),
      "q_embed_pq_refined"  -> Set("recall"),
      "q_embed_ivfpq_recall" -> Set("recall"),
      "q_minhash_recall"    -> Set("recall"),
      "q_embed_lsh_recall"  -> Set("recall"),
      "q_embed_jl_recall"   -> Set("recall"),
      "q_embed_mrl_recall"  -> Set("recall"),
      "q_embed_mrl_recall_ordered" -> Set("recall_small", "recall_large"),
      // max-cosine cover at selection time — greatest() over identical
      // per-row cosine folds, exact (max never accumulates)
      "q_kcenter_coreset"   -> Set("cover"),
      "q_knn_graph_recall"  -> Set("recall"),
      "q_dedup_minhash"     -> Set("jac"),
      "q_dedup_jaccard"     -> Set("jac"),
      // n_shared/n_sh — identical IEEE division of identical integer operands
      "q_containment"       -> Set("containment"),
      "q_containment_capped" -> Set("containment"),
      "q_text_quality"      -> Set("stopword_ratio", "punct_ratio"),
      // the file-source streaming twin of the same per-row metrics
      "q_stream_text_quality" -> Set("stopword_ratio", "punct_ratio"),
      // raw source column passed through unchanged — both engines read the
      // identical parquet value, no arithmetic happens
      "q_sort_topk"         -> Set("l_extendedprice"))
    built.foreach { case (name, df) =>
      val fpCols = df.schema.fields
        .filter(f => f.dataType == DoubleType || f.dataType == FloatType)
        .map(_.name).toSet
      val rogue = fpCols -- allowed.getOrElse(name, Set.empty)
      assert(rogue.isEmpty,
        s"$name: floating-point output columns $rogue not in the exactness allowlist")
    }
  }
}
