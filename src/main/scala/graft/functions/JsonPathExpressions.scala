package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.DataTypeMismatch
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, StringType}

import scala.util.Try
import scala.util.control.NonFatal

/** Shared Jackson mapper + parse helper for the JsonPath expressions.
  * Returns null on any malformed document (decode failure is data, never an
  * exception — reference: runCatching at TopologyProducer.kt:90–93).
  */
private[functions] object JsonDocs {
  /** The JsonPath expressions' document: canonical JSON text, or the
    * struct `decode_tx` returns, whose tree the rules read directly.
    */
  def checkDocType(doc: Expression): TypeCheckResult =
    if (doc.dataType == StringType || doc.dataType == DecodeCosmosTx.schema) TypeCheckResult.TypeCheckSuccess
    else DataTypeMismatch("UNEXPECTED_INPUT_TYPE", Map(
      "paramIndex" -> "first",
      "requiredType" -> s"""("STRING" or "${DecodeCosmosTx.schema.sql}")""",
      "inputSql" -> s""""${doc.sql}"""",
      "inputType" -> s""""${doc.dataType.sql}""""))

  @transient lazy val mapper = new ObjectMapper()
  def parse(s: String): JsonNode =
    try {
      val n = mapper.readTree(s)
      if (n == null || n.isMissingNode) null else n
    } catch { case NonFatal(_) => null }

  /** Parse straight from Spark's UTF8String bytes — skips the UTF-16
    * String materialization per row (Jackson reads UTF-8 natively); this
    * is the per-record hot path of the router.
    */
  def parseAny(u: Any): JsonNode = u match {
    case s: org.apache.spark.unsafe.types.UTF8String =>
      try {
        val n = mapper.readTree(s.getBytes)
        if (n == null || n.isMissingNode) null else n
      } catch { case NonFatal(_) => null }
    case d: DecodedTxRow => d.tree
    // any other decode_tx struct: an error row, or a copy (an UnsafeRow
    // after an interpreted projection) — its txJson is the document
    case r: InternalRow => if (r.isNullAt(0)) null else parseAny(r.getUTF8String(0))
    case other if other != null => parse(other.toString)
    case _ => null
  }
}

/** `json_path_exists(json, path)` — true iff `path` (Jayway-subset JsonPath,
  * [[JsonPathLite]]) selects ≥1 node of `json`; false on any evaluation
  * error; null only when `json` is null. `json` is a JSON string or a
  * `decode_tx` struct (whose tree is read; an undecodable record's struct
  * matches nothing); any other type fails analysis.
  *
  * This is the semantic predicate of the reference's rule engine
  * (reference: TopologyProducer.kt:216–218 — Jayway parse + read +
  * isNotEmpty with SUPPRESS_EXCEPTIONS). A path that fails to compile never
  * matches (per-rule error isolation, TopologyProducer.kt:221–223).
  *
  * The path is a Scala-level constant of the plan (rules are loaded on the
  * driver before plan construction), so it is compiled exactly once per
  * executor, not per row.
  */
case class JsonPathExists(child: Expression, path: String)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "json_path_exists"
  override def checkInputDataTypes(): TypeCheckResult = JsonDocs.checkDocType(child)

  @transient private lazy val compiled: Option[JsonPathLite.Compiled] =
    Try(JsonPathLite.compile(path)).toOption

  /** Row-level predicate, also the codegen target (the expression instance
    * rides the generated class's references array, so the compiled path is
    * reused across rows).
    */
  def matchJson(json: Any): Boolean = compiled match {
    case None => false
    case Some(p) =>
      val doc = JsonDocs.parseAny(json)
      if (doc == null) false
      else
        try JsonPathLite.exists(doc, p)
        catch { case NonFatal(_) => false }
  }

  override protected def nullSafeEval(json: Any): Any = matchJson(json)

  // no CodegenFallback: a fallback expression forces the surrounding
  // stage out of whole-stage codegen — this is the router's per-record
  // hot path
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonPathExists", this, classOf[JsonPathExists].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.matchJson($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `json_path_routes(json, paths)` — evaluate EVERY rule predicate against
  * one parse of the document and return the array of matching rule indices
  * (possibly empty), in declaration order. Null when the document is null or
  * unparseable (the decode-error disposition). The document is a JSON
  * string, or a `decode_tx` struct: a decoded tx is then routed on the tree
  * built from it, with no JSON rendered or parsed.
  *
  * This collapses the reference's per-transaction rule loop
  * (TopologyProducer.kt:214–224: forEachIndexed { evaluate; catch-per-rule })
  * into one expression so the JSON document is parsed once per row — the
  * same common-subexpression economy the reference gets by printing the JSON
  * once (TopologyProducer.kt:213) — and feeds `explode` for the multicast
  * (TopologyProducer.kt:97–105).
  *
  * The rules are evaluated as one [[JsonPathLite.RuleSet]]: rules that
  * differ only in the string an `==` or `in` filter tests for share one
  * walk, so a document costs one walk per such group plus one
  * [[JsonPathLite.exists]] walk per other rule. Each walk stops once it has
  * nothing left to match and builds no node lists.
  */
case class JsonPathRoutes(
    child: Expression,
    paths: Seq[String],
    errorRoute: Option[Int] = None,
    unfilteredRoute: Option[Int] = None)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = errorRoute.isEmpty
  override def prettyName: String = "json_path_routes"
  override def checkInputDataTypes(): TypeCheckResult = JsonDocs.checkDocType(child)

  @transient private lazy val rules = new JsonPathLite.RuleSet(paths)
  @transient private lazy val errorResult =
    errorRoute.map(e => new GenericArrayData(Array(e))).orNull
  @transient private lazy val unfilteredResult =
    unfilteredRoute.map(u => new GenericArrayData(Array(u)))

  /** The complete route derivation for one document; codegen target.
    * With sentinels set, this ONE call yields the complete route array —
    * decode failure ⇒ [errorRoute], no match ⇒ [unfilteredRoute] — so the
    * explode's CASE never repeats the JSON parse (an interpreted Generate
    * evaluates each textual occurrence of the expression).
    */
  def routesFor(json: Any): ArrayData = {
    if (json == null) return errorResult
    val doc = JsonDocs.parseAny(json)
    if (doc == null) return errorResult
    val matched = rules.matching(doc)
    if (matched.isEmpty && unfilteredResult.isDefined) unfilteredResult.get
    else UnsafeArrayData.fromPrimitiveArray(matched)
  }

  override def eval(input: InternalRow): Any = routesFor(child.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonPathRoutes", this, classOf[JsonPathRoutes].getName)
    val childGen = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code =
      code"""
        ${childGen.code}
        $javaType ${ev.value} =
          $ref.routesFor(${childGen.isNull} ? null : ${childGen.value});
        boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level API + SQL registration for the JsonPath expressions. */
object JsonPathFunctions {
  def json_path_exists(json: Column, path: String): Column =
    toColumn(JsonPathExists(toExpression(json), path))

  def json_path_routes(json: Column, paths: Seq[String]): Column =
    toColumn(JsonPathRoutes(toExpression(json), paths))

  /** Route derivation with the reference's sentinel disposition folded in
    * (ERROR on undecodable, UNFILTERED on no match) — one evaluation per
    * row feeds `explode` directly.
    */
  def json_path_routes_dispositioned(
      json: Column, paths: Seq[String], errorRoute: Int, unfilteredRoute: Int): Column =
    toColumn(JsonPathRoutes(toExpression(json), paths, Some(errorRoute), Some(unfilteredRoute)))

  /** name → builder for every engine SQL scalar function — ONE
    * definition shared by the session-scoped [[register]] and the
    * config-time extensions injection
    * ([[graft.plans.GraftExtensions]] via
    * `spark.sql.extensions=graft.plans.GraftExtensions`), so the two
    * registration paths cannot drift.
    */
  private[graft] val sqlFunctionBuilders: Seq[(String, String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
    }
    Seq(
      ("json_path_exists", classOf[JsonPathExists].getName, { exprs =>
        require(exprs.length == 2, "json_path_exists(json, 'path')")
        val path = exprs(1) match {
          case Literal(v, _) => v.toString
          case other => throw new IllegalArgumentException(s"path must be a literal, got $other")
        }
        JsonPathExists(exprs.head, path)
      }),
      ("shingle_hashes", classOf[ShingleHashes].getName, { exprs =>
        require(exprs.length == 2, "shingle_hashes(text, n)")
        ShingleHashes(exprs.head, intLit(exprs(1), "n"))
      }),
      ("minhash_sig", classOf[MinHashSig].getName, { exprs =>
        require(exprs.length == 2, "minhash_sig(hashes, perms)")
        MinHashSig(exprs.head, intLit(exprs(1), "perms"))
      }),
      ("jaccard_sim", classOf[JaccardSim].getName, { exprs =>
        require(exprs.length == 2,
          "jaccard_sim(a, b) - a/b must be SORTED distinct bigint arrays (shingle_hashes output, or sort_array(...))")
        JaccardSim(exprs.head, exprs(1))
      }),
      ("winnow_fps", classOf[WinnowFps].getName, { exprs =>
        require(exprs.length == 3, "winnow_fps(text, k, w)")
        WinnowFps(exprs.head, intLit(exprs(1), "k"), intLit(exprs(2), "w"))
      }),
      ("rolling_hash", classOf[RollingHash].getName, { exprs =>
        require(exprs.length == 1, "rolling_hash(text)")
        RollingHash(exprs.head)
      }),
      ("nfc_normalize", classOf[NfcNormalize].getName, { exprs =>
        require(exprs.length == 1, "nfc_normalize(text)")
        NfcNormalize(exprs.head)
      }),
      ("simhash62", classOf[SimHash62].getName, { exprs =>
        require(exprs.length == 1,
          "simhash62(mixed_hashes) - array<bigint> of pre-mixed token hashes (TextFunctions.mixedTokenHashes)")
        SimHash62(exprs.head)
      }),
      ("lang_id", classOf[LangId].getName, { exprs =>
        require(exprs.length == 1, "lang_id(tokens) - lowercased token array")
        LangId(exprs.head)
      }),
      ("byte_units", classOf[ByteUnits].getName, { exprs =>
        require(exprs.length == 1, "byte_units(text)")
        ByteUnits(exprs.head)
      }),
      ("byte_units_decode", classOf[ByteUnitsDecode].getName, { exprs =>
        require(exprs.length == 1, "byte_units_decode(units)")
        ByteUnitsDecode(exprs.head)
      }),
      ("bpe_encode", classOf[BpeEncode].getName, { exprs =>
        require(exprs.length == 3,
          "bpe_encode(text, array(lefts...), array(rights...)) - merge table as two parallel string-array literals in rank order")
        val lefts = strArrayLit(exprs(1), "lefts")
        val rights = strArrayLit(exprs(2), "rights")
        require(lefts.length == rights.length,
          s"bpe_encode: lefts (${lefts.length}) and rights (${rights.length}) must pair up")
        BpeEncode(exprs.head, lefts.zip(rights))
      }))
  }

  /** A string-array argument of a SQL function call: `array('a','b')`
    * arrives as an unevaluated `CreateArray` of literals (a foldable
    * constant arrives already folded to a `Literal`); anything
    * non-constant is refused loudly — the merge table is expression
    * state, not data.
    */
  private def strArrayLit(e: Expression, what: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    e match {
      case CreateArray(children, _) => children.map {
        case Literal(s, StringType) if s != null => s.toString
        case other => throw new IllegalArgumentException(
          s"$what elements must be string literals, got $other")
      }
      case Literal(d: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(StringType, _)) =>
        // a constant-folded array can still carry NULL entries — refuse
        // them with the same loud message as the CreateArray branch
        // instead of an opaque NullPointerException (round-13 advice)
        d.toObjectArray(StringType).map { v =>
          if (v == null) throw new IllegalArgumentException(
            s"$what elements must be string literals, got NULL")
          v.toString
        }.toSeq
      case other => throw new IllegalArgumentException(
        s"$what must be a string-array literal, got $other")
    }
  }

  /** Register the engine's custom scalar functions for SQL use on this
    * session: `json_path_exists(json, 'path')`, `shingle_hashes(text, n)`,
    * `minhash_sig(hashes, perms)`, `jaccard_sim(a, b)`,
    * `winnow_fps(text, k, w)`, `rolling_hash(text)`,
    * `nfc_normalize(text)`, `simhash62(text)`, `lang_id(text)`, and
    * `bpe_encode(text, array(lefts...), array(rights...))`. For a
    * session the caller does not build in code (pure SQL / Thrift),
    * configure `spark.sql.extensions=graft.plans.GraftExtensions`
    * instead — same builders.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctionBuilders.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
