package graft.plans

import graft.functions.{JsonPathExists, JsonPathRoutes}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, CaseWhen, CreateMap, ElementAt, EqualTo, Explode, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: a consumer of ONE routed topic should not pay for the
  * multicast.
  *
  * `Filter(route = i)` directly above the dispatch engine's
  * `Generate(explode(json_path_routes(...)))` is rewritten to a plain
  * `Filter(json_path_exists(json, predᵢ))` with `route` re-attached as the
  * literal `i` — the explode disappears, only rule i's predicate is
  * evaluated, and the plan is a simple codegen-able filter. Semantically
  * exact: rows with route = i are precisely the rows whose document
  * matches rule i, once each (multicast duplicates differ only in
  * `route`). Sentinel routes (< 0) are left untouched — their semantics
  * involve decode state, not one rule.
  *
  * Every session `graft.GraftSession.local` builds runs it, through
  * [[GraftExtensions]].
  */
object RouteFilterPruning extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, g: Generate) =>
      rewrite(cond, g).getOrElse(f)
  }

  private def rewrite(cond: Expression, g: Generate): Option[LogicalPlan] = {
    // only the non-outer join=either shapes: an outer Generate would keep a
    // null-route row for an empty array (routes is never empty, but stay
    // semantics-preserving by construction)
    if (g.outer) return None
    val routeAttr: Option[Attribute] = g.generatorOutput match {
      case Seq(a) => Some(a)
      case _ => None
    }
    (literalRight(cond), g.generator) match {
      case (EqualTo(a: Attribute, Literal(i: Int, IntegerType)),
            Explode(jr: JsonPathRoutes))
          if routeAttr.exists(_.exprId == a.exprId) && i >= 0 && i < jr.paths.length =>
        Some(pruned(g, jr, i))
      // Filter(topic = 'x'): the engine's per-row topic is
      // CASE WHEN route=-1 … WHEN route=-2 … ELSE element_at(map(i→topic), route);
      // after predicate pushdown Catalyst folds `= 'x'` into the branches:
      //   CASE WHEN route=-1 THEN false WHEN route=-2 THEN false
      //        ELSE element_at(map(…), route) = 'x'
      // When every sentinel branch folded to false and exactly ONE rule
      // index maps to 'x', the filter is rule i's predicate.
      case (CaseWhen(branches, Some(elseV)), Explode(jr: JsonPathRoutes))
          if routeAttr.isDefined =>
        val ra = routeAttr.get
        // branches must be SENTINEL exclusions only (route < 0): a branch
        // excluding a non-negative rule index would be silently dropped by
        // the rewrite, and an optimizer rule must preserve semantics for
        // arbitrary plans, not just the engine's own shape
        val sentinelsAllFalse = branches.nonEmpty && branches.forall {
          case (EqualTo(a: Attribute, Literal(i: Int, IntegerType)), Literal(false, BooleanType)) =>
            a.exprId == ra.exprId && i < 0
          case _ => false
        }
        // the i→topic map is authored as CreateMap of literals, which
        // ConstantFolding usually collapses into one map Literal — accept both
        def mapPairs(e: Expression): Option[Seq[(Int, UTF8String)]] =
          e match {
            case CreateMap(entries, _) =>
              val ps = entries.grouped(2).collect {
                case Seq(Literal(i: Int, IntegerType), Literal(v: UTF8String, _)) => (i, v)
              }.toSeq
              if (ps.length * 2 == entries.length) Some(ps) else None
            case Literal(m: org.apache.spark.sql.catalyst.util.MapData,
                org.apache.spark.sql.types.MapType(IntegerType, _: StringType, _)) =>
              Some((0 until m.numElements()).map(k =>
                (m.keyArray().getInt(k), m.valueArray().getUTF8String(k))))
            case _ => None
          }
        val target = literalRight(elseV) match {
          case EqualTo(ElementAt(mapExpr, a: Attribute, _, failOnError),
              Literal(t: UTF8String, _: StringType)) if a.exprId == ra.exprId =>
            mapPairs(mapExpr).map((_, t, failOnError))
          case _ => None
        }
        target match {
          case Some((pairs, t, failOnError)) if sentinelsAllFalse =>
            // under ANSI (failOnError=true, Spark 4's default) element_at
            // THROWS on a missing key; the rewrite may only erase that
            // possibility when every route value the generator can emit —
            // rule indices AND sentinels (errorRoute / unfilteredRoute) —
            // is either excluded by a false branch before the ELSE or
            // present as a map key. Otherwise the original plan throws
            // where the rewritten one would silently filter.
            val excluded: Set[Int] = branches.collect {
              case (EqualTo(a: Attribute, Literal(i: Int, IntegerType)), _) => i
            }.toSet
            def safe(route: Int): Boolean =
              excluded.contains(route) || pairs.exists(_._1 == route)
            val covered = !failOnError ||
              (jr.paths.indices.forall(safe) &&
                (jr.errorRoute.toSeq ++ jr.unfilteredRoute.toSeq).forall(safe))
            if (!covered) None
            else pairs.filter(_._2 == t).map(_._1) match {
              case Seq(i) if i >= 0 && i < jr.paths.length => Some(pruned(g, jr, i))
              case _ => None // zero or several rules share the topic
            }
          case _ => None
        }
      case _ => None
    }
  }

  /** `lit = e` as `e = lit`, so each filter shape needs one match arm:
    * Catalyst keeps a literal on whichever side the user wrote it, and
    * pushes `lit = CASE …` into the branches as `lit = element_at(…)`.
    */
  private def literalRight(e: Expression): Expression = e match {
    case EqualTo(l: Literal, r) => EqualTo(r, l)
    case other => other
  }

  private def pruned(g: Generate, jr: JsonPathRoutes, i: Int): LogicalPlan = {
    val route = g.generatorOutput.head
    // under ProtoTx.routed, jr.child is the decode_tx struct and pushdown
    // later copies decode_tx(raw) into this Filter: it decodes and reads
    // the tree, and never renders or parses JSON
    val filtered = Filter(JsonPathExists(jr.child, jr.paths(i)), g.child)
    // Reproduce Generate's EXACT output (requiredChildOutput ++ generator
    // output — child columns may have been pruned via unrequiredChildIndex),
    // swapping only the route attribute for literal i under its original
    // exprId so parents resolve unchanged.
    Project(
      g.output.map {
        case a if a.exprId == route.exprId =>
          Alias(Literal(i, IntegerType), route.name)(exprId = route.exprId)
        case a => a
      },
      filtered)
  }
}

/** Session extensions: the engine's optimizer rules AND its SQL scalar
  * functions, injectable without any code on the session — set
  * `spark.sql.extensions=graft.plans.GraftExtensions` and a pure-SQL /
  * Thrift deployment gets `json_path_exists`, `shingle_hashes`, `winnow_fps`,
  * `minhash_sig`, `jaccard_sim`, `rolling_hash`, `nfc_normalize`,
  * `simhash62`, `lang_id`, `bpe_encode` plus the single-topic filter
  * pruning.
  * The function builders are the SAME list
  * [[graft.functions.JsonPathFunctions.register]] uses, so the two
  * registration paths cannot drift.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RouteFilterPruning)
    graft.functions.JsonPathFunctions.sqlFunctionBuilders.foreach {
      case (name, className, builder) =>
        e.injectFunction((
          org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(className, name),
          builder))
    }
  }
}
