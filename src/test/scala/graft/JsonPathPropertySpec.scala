package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.functions.JsonPathLite
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Random JSON documents and random paths from [[JsonPathLite]]'s grammar.
  * Field names repeat across levels so deep scans and filters find real
  * matches at several depths.
  */
object JsonPathGen {
  private val mapper = new ObjectMapper()
  private val names = Seq("a", "b", "k", "x", "msg")

  private val scalar: Gen[String] = Gen.frequency(
    4 -> Gen.choose(-2, 12).map(_.toString),
    1 -> Gen.oneOf("1.5", "-0.5", "100", "7.0"),
    3 -> Gen.oneOf("a", "b", "x1", "A1", "", "msg").map(s => s""""$s""""),
    2 -> Gen.oneOf("true", "false", "null"))

  /** JSON text of depth ≤ `depth`. */
  def json(depth: Int): Gen[String] =
    if (depth <= 1) scalar
    else Gen.frequency(
      2 -> scalar,
      3 -> Gen.choose(0, 3).flatMap(n => Gen.pick(n, names)).flatMap { ks =>
        Gen.sequence[Seq[String], String](ks.map(k => json(depth - 1).map(v => s""""$k":$v""")))
          .map(_.mkString("{", ",", "}"))
      },
      3 -> Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, json(depth - 1)))
        .map(_.mkString("[", ",", "]")))

  val doc: Gen[JsonNode] = Gen.choose(1, 8).flatMap(json).map(mapper.readTree)

  private val name = Gen.oneOf(names)
  private val idx = Gen.choose(-3, 3)
  private val optIdx = Gen.option(idx).map(_.fold("")(_.toString))
  private val quoted = name.map(n => s"'$n'")

  private val bracket: Gen[String] = Gen.oneOf(
    idx.map(i => s"[$i]"),
    Gen.zip(optIdx, optIdx).map { case (s, e) => s"[$s:$e]" },
    Gen.listOfN(2, idx).map(_.mkString("[", ",", "]")),
    Gen.choose(1, 2).flatMap(Gen.listOfN(_, quoted)).map(_.mkString("[", ",", "]")),
    Gen.const("[*]"),
    Gen.choose(-2, 0).map(o => if (o == 0) "[(@.length)]" else s"[(@.length$o)]"),
    Gen.lzy(filter(2)).map(f => s"[?($f)]"))

  private val step: Gen[String] = Gen.frequency(
    5 -> name.map("." + _),
    1 -> Gen.const(".*"),
    3 -> name.map(".." + _),
    1 -> Gen.const("..*"),
    2 -> bracket.map(".." + _),
    4 -> bracket,
    1 -> Gen.oneOf(".length()", ".size()", ".first()", ".last()", ".keys()",
      ".min()", ".max()", ".sum()", ".avg()", ".stddev()"))

  /** A definite relpath: fields, indices and quoted names, maybe `.length()`. */
  private val relpath: Gen[String] = for {
    segs <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, Gen.oneOf(
      name.map("." + _), Gen.choose(-1, 1).map(i => s"[$i]"), quoted.map(q => s"[$q]"))))
    len <- Gen.frequency(5 -> Gen.const(""), 1 -> Gen.const(".length()"))
  } yield "@" + segs.mkString + len

  private val literal: Gen[String] =
    Gen.frequency(4 -> scalar.map(s => if (s.startsWith("\"")) s"'${s.drop(1).dropRight(1)}'" else s),
      1 -> Gen.oneOf("$.k", "$['a']", "$.a[0]", "$.x.k"))

  private val term: Gen[String] = Gen.frequency(
    3 -> relpath,
    1 -> name.map("@.." + _),
    6 -> Gen.zip(relpath, Gen.oneOf("==", "!=", "<", "<=", ">", ">="), literal)
      .map { case (p, op, l) => s"$p $op $l" },
    2 -> Gen.zip(relpath, Gen.oneOf("in", "nin"), Gen.choose(1, 3).flatMap(Gen.listOfN(_, scalar)))
      .map { case (p, op, ls) => s"$p $op [${ls.mkString(", ")}]" },
    2 -> Gen.zip(relpath, Gen.oneOf("/a.*/", "/[a-x].*/i", "/.*1/", "/x1|A1/"))
      .map { case (p, re) => s"$p =~ $re" })

  /** `&&`/`||` over terms; `nest` bounds parenthesised sub-filters. */
  def filter(nest: Int): Gen[String] = {
    val t = if (nest > 0) Gen.frequency(6 -> term, 1 -> Gen.lzy(filter(nest - 1)).map(f => s"($f)")) else term
    Gen.choose(1, 2).flatMap(Gen.listOfN(_, Gen.choose(1, 2).flatMap(Gen.listOfN(_, t)).map(_.mkString(" && "))))
      .map(_.mkString(" || "))
  }

  val path: Gen[String] = Gen.choose(0, 5).flatMap(Gen.listOfN(_, step)).map("$" + _.mkString)
}

class JsonPathPropertySpec extends AnyFunSuite {
  private val params = Test.Parameters.default
    .withMinSuccessfulTests(20000).withInitialSeed(Seed(20261018L)).withWorkers(1)

  private def check(prop: Prop): Unit = {
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  // first in the suite: the walk's stack frames are largest before the JIT
  // has compiled it
  test("select and exists survive a document nested to Jackson's depth limit on a 512 KB stack") {
    val depth = 499
    val doc = new ObjectMapper().readTree("""{"a":[""" * depth + "]}" * depth)
    val results = new Array[Any](6)
    var failure: Throwable = null
    val t = new Thread(null, () =>
      try {
        Seq("$..x", "$..[?(@.x)]", "$..a[0]").zipWithIndex.foreach { case (p, i) =>
          val c = JsonPathLite.compile(p)
          results(2 * i) = JsonPathLite.exists(doc, c)
          results(2 * i + 1) = JsonPathLite.select(doc, c).size
        }
      } catch { case e: Throwable => failure = e },
      "jsonpath-small-stack", 512L * 1024)
    t.start(); t.join()
    assert(failure == null, s"evaluation failed: $failure")
    assert(results.toSeq == Seq(false, 0, false, 0, true, depth - 1))
  }

  test("property: exists(doc, p) == select(doc, p).nonEmpty over generated docs and paths") {
    var hits = 0
    check(Prop.forAll(JsonPathGen.doc, JsonPathGen.path) { (doc, p) =>
      val c = JsonPathLite.compile(p)
      val ex = JsonPathLite.exists(doc, c)
      if (ex) hits += 1
      Prop(ex == JsonPathLite.select(doc, c).nonEmpty) :| s"doc=$doc path=$p"
    })
    // the generator must reach both answers often enough to mean something
    assert(hits > 2000 && hits < 18000, s"$hits matches of 20000")
  }
}
