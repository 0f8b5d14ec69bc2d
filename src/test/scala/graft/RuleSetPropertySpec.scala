package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.functions.{JsonPathLite, JsonPathRoutes}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** Documents whose field names repeat at every depth and whose compared
  * fields hold text, numbers, booleans, null, objects and arrays; rule sets
  * drawn mostly from a small pool of (prefix, `..`, relpath) keys, so
  * several rules share a walk.
  */
object RuleSetGen {
  private val mapper = new ObjectMapper()
  private val keys = Seq("m", "to", "t", "amount", "a", "denom", "@type")
  private val texts = Seq("x", "y", "1", "null")

  private val scalar: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf(texts).map(s => s""""$s""""),
    1 -> Gen.oneOf("1", "2.5", "-3"),
    1 -> Gen.oneOf("true", "false", "null"))

  private def obj(depth: Int): Gen[String] =
    Gen.choose(1, 5).flatMap(n => Gen.pick(n, keys)).flatMap { ks =>
      Gen.sequence[Seq[String], String](ks.map(k => json(depth - 1).map(v => s""""$k":$v""")))
        .map(_.mkString("{", ",", "}"))
    }

  private def json(depth: Int): Gen[String] =
    if (depth <= 1) scalar
    else Gen.frequency(
      2 -> scalar,
      4 -> obj(depth),
      2 -> Gen.choose(0, 3).flatMap(Gen.listOfN(_, json(depth - 1))).map(_.mkString("[", ",", "]")))

  /** Mostly object roots, where `$..[?(…)]` tests the root itself. */
  val doc: Gen[JsonNode] =
    Gen.frequency(5 -> Gen.choose(2, 6).flatMap(obj), 1 -> Gen.choose(1, 6).flatMap(json))
      .map(mapper.readTree)

  private val prefix = Gen.frequency(3 -> Gen.oneOf("$", "$.m", "$..m", "$..amount"),
    1 -> Gen.oneOf("$.m[0]", "$.m[-1:]", "$['m'].a"))
  private val relpath = Gen.frequency(3 -> Gen.oneOf("@.to", "@.t", "@"),
    1 -> Gen.oneOf("@.denom", "@['@type']", "@.amount[0].denom", "@.m.t"))
  private val key: Gen[(String, String, String)] =
    Gen.zip(prefix, Gen.oneOf("", ".."), relpath)
  private val text = Gen.oneOf(texts).map(s => s"'$s'")

  /** `==` on one string or `in` a list of strings: a rule that can share a walk. */
  private def textRule(k: (String, String, String)): Gen[String] = {
    val (p, deep, rel) = k
    Gen.frequency(
      3 -> text.map(l => s"$rel == $l"),
      1 -> Gen.choose(0, 3).flatMap(Gen.listOfN(_, text)).map(ls => s"$rel in [${ls.mkString(", ")}]"),
      1 -> Gen.oneOf(texts).map(s => s"""$rel == "$s""""))
      .map(f => s"$p$deep[?($f)]")
  }

  /** The same keys with a filter that must keep its own walk. */
  private def otherRule(k: (String, String, String)): Gen[String] = {
    val (p, deep, rel) = k
    Gen.oneOf(s"$rel == 1", s"$rel == true", s"$rel == null", s"$rel != 'x'", s"$rel nin ['x']",
      s"$rel in ['x', 1]", s"$rel =~ /x|y/", s"$rel == 'x' && @.a", s"$rel == 'x' || $rel == 'y'",
      s"$rel > 'x'", s"$rel == $$.t")
      .map(f => s"$p$deep[?($f)]")
  }

  private val broken = Gen.oneOf("not-a-path", "$.m[?(@.t == 'x']", "$[?(@.t ==)]", "$.m[?(@.t =~ 'x')]")

  val rules: Gen[Seq[String]] = for {
    pool <- Gen.listOfN(3, key)
    n <- Gen.choose(1, 14)
    rs <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.oneOf(pool).flatMap(textRule),
      1 -> key.flatMap(textRule),
      3 -> Gen.oneOf(pool).flatMap(otherRule),
      1 -> broken,
      2 -> JsonPathGen.path))
  } yield rs
}

/** Exactness of the shared rule-set walk: `JsonPathRoutes.routesFor` gives
  * the indices, in declaration order, of exactly the rules whose own
  * [[JsonPathLite.exists]] walk matches.
  */
class RuleSetPropertySpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(20000).withInitialSeed(Seed(20261019L)).withWorkers(1)

  private def perRule(doc: JsonNode, paths: Seq[String]): Seq[Int] =
    paths.indices.filter(i => Try(JsonPathLite.exists(doc, JsonPathLite.compile(paths(i)))).getOrElse(false))

  private def routed(doc: JsonNode, paths: Seq[String]): Seq[Int] =
    JsonPathRoutes(Literal(""), paths).routesFor(UTF8String.fromString(doc.toString)).toIntArray().toSeq

  private def assertSame(json: String, paths: Seq[String], expected: Seq[Int]): Unit = {
    val doc = mapper.readTree(json)
    assert(perRule(doc, paths) == expected, "per-rule reference")
    assert(routed(doc, paths) == expected, "shared walk")
  }

  test("property: routesFor == per-rule exists over generated documents and rule sets") {
    var hits = 0
    var misses = 0
    val res = Test.check(params, Prop.forAll(RuleSetGen.doc, RuleSetGen.rules) { (doc, paths) =>
      val want = perRule(doc, paths)
      hits += want.size
      misses += paths.size - want.size
      Prop(routed(doc, paths) == want) :| s"doc=$doc rules=$paths"
    })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    // both answers must be common for the comparison to mean something
    assert(hits > 5000 && misses > 20000, s"$hits hits, $misses misses")
  }

  test("rules that differ only in the tested string share one walk") {
    val paths = Seq(
      "$.body.messages[?(@.@type == 'A')]", "$.body.messages[?(@.@type == 'B')]",
      "$.body.messages[?(@.@type in ['A','C'])]",
      "$..messages[?(@.from == 'a1')]", "$..messages[?(@.from == 'a2')]",
      "$..[?(@.to == 'a1')]", "$..[?(@.to == 'a2')]",
      "$.body.messages[-1:][?(@.@type == 'A')]",
      "$.body.messages[?(@.k == 1)]", "$..[?(@.to =~ /a.*/)]")
    // three groups, then the sliced, the numeric and the regex rule alone
    assert(new JsonPathLite.RuleSet(paths).walks == 6)
  }

  test("regression: rules with a shared prefix") {
    assertSame("""{"m":[{"t":"x"},{"t":"z"}]}""",
      Seq("$.m[?(@.t == 'x')]", "$.m[?(@.t == 'y')]", "$.m[?(@.t == 'z')]"), Seq(0, 2))
  }

  test("regression: the same literal in two rules, and in one rule's == and another's in") {
    assertSame("""{"m":[{"t":"x"}]}""",
      Seq("$.m[?(@.t == 'x')]", "$.m[?(@.t == 'x')]", "$.m[?(@.t in ['y', 'x', 'x'])]",
        "$.m[?(@.t in [])]", "$.m[?(@.t == 'y')]"),
      Seq(0, 1, 2))
  }

  test("regression: a field name repeated at several depths under ..") {
    val doc = """{"m":[{"t":"y","m":{"t":"x","m":[{"t":"z"}]}}],"a":{"m":{"t":"w"}}}"""
    assertSame(doc, Seq("$..m[?(@.t == 'x')]", "$..m[?(@.t == 'z')]", "$..m[?(@.t == 'w')]",
      "$..m[?(@.t == 'q')]", "$..m..[?(@.t == 'z')]", "$..m..[?(@.t == 'y')]", "$..m..[?(@.t == 'q')]"),
      Seq(0, 1, 2, 4, 5))
  }

  test("regression: compared fields that are not text match no string literal") {
    val doc = """{"m":[{"t":1},{"t":true},{"t":null},{"t":{"x":"1"}},{"t":["1"]},{"t":1.0}]}"""
    assertSame(doc, Seq("$.m[?(@.t == '1')]", "$.m[?(@.t == 'true')]", "$.m[?(@.t == 'null')]",
      "$.m[?(@.t in ['1', 'true', 'null', '1.0'])]", "$.m[?(@.t == 1)]", "$.m[?(@.t == true)]",
      "$.m[?(@.t == null)]"), Seq(4, 5, 6))
  }

  test("regression: $..[?()] tests an object root itself") {
    assertSame("""{"to":"x","m":[{"to":"y"}]}""",
      Seq("$..[?(@.to == 'x')]", "$..[?(@.to == 'y')]", "$..[?(@.to == 'z')]"), Seq(0, 1))
    assertSame("""["x",{"to":"x"}]""", Seq("$..[?(@ == 'x')]", "$..[?(@.to == 'x')]", "$[?(@ == 'x')]",
      "$[?(@ == 'y')]"), Seq(0, 1, 2))
  }

  test("regression: a group member that fails to compile never matches") {
    assertSame("""{"m":[{"t":"x"},{"t":"y"}]}""",
      Seq("$.m[?(@.t == 'x')]", "$.m[?(@.t == 'x']", "$.m[?(@.t == 'y')]"), Seq(0, 2))
  }

  test("regression: output is in declaration order across grouped and other rules") {
    val paths = Seq("$.m[?(@.t == 'y')]", "$.a", "$.m[?(@.t =~ /x/)]", "$.m[?(@.t == 'x')]",
      "bad", "$..[?(@.t == 'x')]", "$.m[?(@.t == 'x')]", "$..[?(@.t == 'y')]")
    assertSame("""{"a":1,"m":[{"t":"x"},{"t":"y"}]}""", paths, Seq(0, 1, 2, 3, 5, 6, 7))
  }
}
