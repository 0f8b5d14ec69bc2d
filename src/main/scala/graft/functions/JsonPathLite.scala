package graft.functions

import com.fasterxml.jackson.databind.JsonNode

import java.util.{Collections, IdentityHashMap}
import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

/** A small, dependency-free JsonPath evaluator implementing the Jayway
  * JsonPath subset the dispatch rules need (reference:
  * TopologyProducer.kt:56–59,216–218 configures Jayway 2.8 with
  * SUPPRESS_EXCEPTIONS + AS_PATH_LIST and asks "does the path select ≥1
  * node"; example predicates in rules_example.yaml).
  *
  * Supported grammar:
  * {{{
  *   path     := '$' step*
  *   step     := '.' NAME | '.' '*' | '..' NAME | '..' '*' | '..' bracket | bracket
  *             | '.' FN '()'    // length/size, min/max/avg/sum/stddev,
  *                              // first/last, keys
  *   bracket  := '[' INT ']' | '[' INT? ':' INT? ']'          // slice
  *             | '[' INT (',' INT)+ ']'                       // index union
  *             | '[' QUOTED (',' QUOTED)* ']'                 // name union
  *             | '[*]' | '[?(' filter ')]'
  *             | '[(' '@.length' (('+'|'-') INT)? ')]'         // script subscript
  *   filter   := clause ( '||' clause )*           // || lowest precedence
  *   clause   := term ( '&&' term )*
  *   term     := relpath op literal | relpath      // bare path = existence
  *   relpath  := '@' ( '.' NAME | '..' NAME | '[' QUOTED ']' | '[' INT ']'
  *                   | '.length()' | '.size()' )*
  *   op       := '==' | '!=' | '<' | '<=' | '>' | '>=' | '=~' | 'in' | 'nin'
  *   literal  := 'sq-string' | "dq-string" | number | true | false | null
  *             | '/regex/flags'                    // =~ only; flags ⊆ {i,m,s}
  *             | '[' literal (',' literal)* ']'    // in/nin only
  *             | '$' step*                         // root-path operand:
  *                                                 // definite, comparison ops only
  * }}}
  *
  * Semantics matched to Jayway (as exercised by the reference):
  *  - a match = the expression selects at least one node;
  *  - a definite path that does not exist selects nothing (the reference
  *    surfaces this as a suppressed-exception NPE caught per rule,
  *    TopologyProducer.kt:221–223 — net effect identical: no match);
  *  - slices are python-style [start:end) with negative indices relative to
  *    the array end (step is not supported — Jayway has none either);
  *  - `..X` deep scan applies X at every node of the subtree, pre-order,
  *    walking through both objects and arrays; `..[0]`/`..['k']`/`..[*]`/
  *    `..[?(...)]` apply the bracket step the same way;
  *  - filters applied to an array keep matching elements; applied to an
  *    object they test the object itself;
  *  - missing filter operand ⇒ the comparison is false (never throws);
  *  - comparison operands must be definite relpaths (fields + indices);
  *    existence terms may also use `@..name` deep scan;
  *  - numeric comparison is exact decimal; strings compare with the given
  *    operator lexicographically; cross-type comparison is false
  *    (except `!=` which is true when both sides exist with different type);
  *  - `=~ /re/` is a FULL match on string values (Jayway's RegexpEvaluator
  *    calls `matcher.matches()`); non-strings never match;
  *  - `in [..]` / `nin [..]` test membership against literal lists.
  *
  * Evaluation is one depth-first walk into a sink. Each step hands every
  * node it selects straight to the steps after it; a node that passes the
  * last step goes to the sink. [[exists]]'s sink stops the walk at the first
  * full match, so a rule costs the nodes visited until then and builds no
  * per-step node lists; a deep scan returns as soon as the rest of the path
  * matches. [[select]]'s sink collects every match in document order (the
  * order of applying each step to the previous step's whole result).
  * Operators, literals and regexes are resolved once by [[compile]], and
  * definite filter operands (`@.a[0].b`) are read by walking straight down.
  *
  * A whole rule set is evaluated by [[RuleSet]]: rules that differ only in
  * the string they test for equality share one walk, so a document costs
  * one walk per such group plus one [[exists]] walk per other rule.
  *
  * Evaluation never throws on well-formed compiled paths; `compile` throws
  * `JsonPathSyntaxException` on malformed input (callers isolate per rule,
  * mirroring the reference's per-rule runCatching).
  */
object JsonPathLite {

  final class JsonPathSyntaxException(msg: String) extends RuntimeException(msg)

  sealed trait Step
  final case class Field(name: String) extends Step
  final case class Index(i: Int) extends Step
  final case class Slice(start: Option[Int], end: Option[Int]) extends Step
  final case class UnionIdx(is: Seq[Int]) extends Step
  final case class UnionFields(names: Seq[String]) extends Step
  case object Wildcard extends Step
  final case class FilterStep(pred: Pred) extends Step
  /** Deep scan: apply `inner` at every node of the subtree (pre-order). */
  final case class Deep(inner: Step) extends Step
  /** Jayway `length()` path function: array/object size, string length. */
  case object FnLength extends Step
  /** Jayway script-expression subscript `[(@.length + offset)]`: selects
    * the array element at `size + offset` (so `[(@.length-1)]` is the last
    * element). Arrays only; out-of-range selects nothing — mirroring
    * Jayway under SUPPRESS_EXCEPTIONS.
    */
  final case class ScriptIndex(offset: Int) extends Step
  /** Jayway aggregate/accessor path functions: min, max, avg, sum, stddev
    * (numeric arrays → double), first, last (array element), keys
    * (object property names).
    */
  final case class FnAgg(kind: String) extends Step

  /** Path-function spellings accepted after '.' (checked in order). */
  private val pathFns: Seq[(String, Step)] = Seq(
    "length()" -> FnLength, "size()" -> FnLength,
    "min()" -> FnAgg("min"), "max()" -> FnAgg("max"),
    "avg()" -> FnAgg("avg"), "sum()" -> FnAgg("sum"),
    "stddev()" -> FnAgg("stddev"),
    "first()" -> FnAgg("first"), "last()" -> FnAgg("last"),
    "keys()" -> FnAgg("keys"))

  /** Path functions allowed inside a filter RELPATH (`@.a.length()`):
    * Jayway's filter-operand surface stops at length/size — accepting the
    * aggregate functions here would compile predicates the reference
    * rejects at runtime (silent grammar superset).
    */
  private val relpathFns: Seq[(String, Step)] =
    pathFns.filter { case (_, step) => step == FnLength }

  sealed trait Pred
  final case class Or(clauses: Seq[Pred]) extends Pred
  final case class And(terms: Seq[Pred]) extends Pred
  /** `path op lit`; `op` is an index into [[ops]], `path` is definite. */
  final case class Cmp(path: Array[Step], op: Int, lit: Lit) extends Pred
  final case class Exists(path: Array[Step]) extends Pred

  /** Filter operators; a compiled [[Cmp]] holds the index. */
  private val ops = Seq("==", "!=", "<", "<=", ">", ">=", "=~", "in", "nin")
  private final val Eq = 0; private final val Ne = 1; private final val Lt = 2
  private final val Le = 3; private final val Gt = 4; private final val Ge = 5
  private final val In = 7; private final val Nin = 8

  sealed trait Lit
  final case class SLit(s: String) extends Lit
  final case class NLit(n: java.math.BigDecimal) extends Lit
  final case class BLit(b: Boolean) extends Lit
  case object NullLit extends Lit
  final case class RLit(pattern: Pattern) extends Lit
  final case class LLit(items: Seq[Lit]) extends Lit
  /** Root-path comparison operand — `[?(@.price <= $.expensive)]` (Jayway
    * bookstore example 8). Resolved against the ROOT document per
    * evaluation; must be a definite path (fields/indices only).
    */
  final case class PathLit(steps: Array[Step]) extends Lit

  final case class Compiled(steps: Array[Step])

  // ---------------------------------------------------------------- compile

  def compile(path: String): Compiled = {
    val s = path.trim
    if (s.isEmpty || s.charAt(0) != '$')
      throw new JsonPathSyntaxException(s"path must start with '$$': $path")
    var i = 1
    val steps = ArrayBuffer.empty[Step]

    def isNameChar(c: Char): Boolean =
      !(c == '.' || c == '[' || c == ']' || c == '(' || c == ')' ||
        c == ' ' || c == '\'' || c == '"')

    def readName(): String = {
      val start = i
      while (i < s.length && isNameChar(s.charAt(i))) i += 1
      if (i == start) throw new JsonPathSyntaxException(s"expected name at $start in $path")
      s.substring(start, i)
    }

    def skipWs(): Unit = while (i < s.length && s.charAt(i) == ' ') i += 1

    def expect(c: Char): Unit = {
      if (i >= s.length || s.charAt(i) != c)
        throw new JsonPathSyntaxException(s"expected '$c' at $i in $path")
      i += 1
    }

    def readQuoted(q: Char): String = {
      i += 1 // opening quote
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != q) {
        if (s.charAt(i) == '\\' && i + 1 < s.length) { sb += s.charAt(i + 1); i += 2 }
        else { sb += s.charAt(i); i += 1 }
      }
      if (i >= s.length) throw new JsonPathSyntaxException(s"unterminated string in $path")
      i += 1 // closing quote
      sb.result()
    }

    def readInt(): Int = {
      val start = i
      if (i < s.length && s.charAt(i) == '-') i += 1
      while (i < s.length && s.charAt(i).isDigit) i += 1
      val digits = s.substring(start, i)
      // contract: malformed input ⇒ JsonPathSyntaxException, never a raw
      // NumberFormatException ('$[-]', '$[99999999999]')
      try digits.toInt
      catch { case _: NumberFormatException =>
        throw new JsonPathSyntaxException(s"bad array index '$digits' in $path")
      }
    }

    /** Parse one bracket step; `i` is positioned just after '['. */
    def parseBracket(): Step = {
      skipWs()
      if (i >= s.length) throw new JsonPathSyntaxException(s"unterminated '[' in $path")
      s.charAt(i) match {
        case '*' =>
          i += 1; skipWs(); expect(']'); Wildcard
        case q @ ('\'' | '"') =>
          val names = ArrayBuffer(readQuoted(q))
          skipWs()
          while (i < s.length && s.charAt(i) == ',') {
            i += 1; skipWs()
            if (i >= s.length || (s.charAt(i) != '\'' && s.charAt(i) != '"'))
              throw new JsonPathSyntaxException(s"expected quoted name after ',' in $path")
            names += readQuoted(s.charAt(i))
            skipWs()
          }
          expect(']')
          if (names.length == 1) Field(names.head) else UnionFields(names.toSeq)
        case '(' => // script subscript: [(@.length)] or [(@.length ± INT)]
          i += 1; skipWs()
          val lenForms = Seq("@.length()", "@.length", "@.size()", "@.size")
          val form = lenForms.find(f => s.regionMatches(i, f, 0, f.length))
            .getOrElse(throw new JsonPathSyntaxException(
              s"script subscript must start with '@.length' in $path"))
          i += form.length; skipWs()
          val off =
            if (i < s.length && (s.charAt(i) == '-' || s.charAt(i) == '+')) {
              val neg = s.charAt(i) == '-'
              i += 1; skipWs()
              if (i >= s.length || !s.charAt(i).isDigit)
                throw new JsonPathSyntaxException(
                  s"expected integer after '${if (neg) "-" else "+"}' in script subscript in $path")
              val n = readInt()
              if (neg) -n else n
            } else 0
          skipWs(); expect(')'); skipWs(); expect(']')
          ScriptIndex(off)
        case '?' =>
          i += 1; expect('(')
          val start = i
          var depth = 1
          while (i < s.length && depth > 0) {
            val c = s.charAt(i)
            if (c == '(') depth += 1
            else if (c == ')') depth -= 1
            else if (c == '\'' || c == '"') { val q = c; i += 1; while (i < s.length && s.charAt(i) != q) { if (s.charAt(i) == '\\') i += 1; i += 1 } }
            if (depth > 0) i += 1
          }
          if (depth != 0) throw new JsonPathSyntaxException(s"unterminated filter in $path")
          val inner = s.substring(start, i)
          i += 1 // consume ')'
          skipWs(); expect(']')
          FilterStep(parseFilter(inner, path))
        case ':' => // [:end]
          i += 1; skipWs()
          val end = if (i < s.length && (s.charAt(i) == '-' || s.charAt(i).isDigit)) Some(readInt()) else None
          skipWs(); expect(']'); Slice(None, end)
        case c if c == '-' || c.isDigit =>
          val first = readInt()
          skipWs()
          if (i < s.length && s.charAt(i) == ':') { // [start:] or [start:end]
            i += 1; skipWs()
            val end = if (i < s.length && (s.charAt(i) == '-' || s.charAt(i).isDigit)) Some(readInt()) else None
            skipWs(); expect(']'); Slice(Some(first), end)
          } else if (i < s.length && s.charAt(i) == ',') { // index union
            val is = ArrayBuffer(first)
            while (i < s.length && s.charAt(i) == ',') { i += 1; skipWs(); is += readInt(); skipWs() }
            expect(']'); UnionIdx(is.toSeq)
          } else { skipWs(); expect(']'); Index(first) }
        case other =>
          throw new JsonPathSyntaxException(s"unexpected '$other' after '[' in $path")
      }
    }

    while (i < s.length) {
      s.charAt(i) match {
        case '.' if i + 1 < s.length && s.charAt(i + 1) == '.' =>
          i += 2
          if (i < s.length && s.charAt(i) == '[') { i += 1; steps += Deep(parseBracket()) }
          else if (i < s.length && s.charAt(i) == '*') { i += 1; steps += Deep(Wildcard) }
          else steps += Deep(Field(readName()))
        case '.' =>
          i += 1
          if (i < s.length && s.charAt(i) == '*') { i += 1; steps += Wildcard }
          else pathFns.find { case (fn, _) => s.startsWith(fn, i) } match {
            case Some((fn, step)) => i += fn.length; steps += step
            case None             => steps += Field(readName())
          }
        case '[' =>
          i += 1
          steps += parseBracket()
        case other =>
          throw new JsonPathSyntaxException(s"unexpected '$other' at $i in $path")
      }
    }

    Compiled(steps.toArray)
  }

  /** Parse the inside of `[?( ... )]`. */
  private def parseFilter(f: String, whole: String): Pred = {
    def splitTop(input: String, sep: String): Seq[String] = {
      val parts = ArrayBuffer.empty[String]
      var depth = 0; var j = 0; var last = 0
      while (j < input.length) {
        val c = input.charAt(j)
        if (c == '(' || c == '[') depth += 1
        else if (c == ')' || c == ']') depth -= 1
        else if (c == '\'' || c == '"') { val q = c; j += 1; while (j < input.length && input.charAt(j) != q) { if (input.charAt(j) == '\\') j += 1; j += 1 } }
        else if (depth == 0 && input.startsWith(sep, j)) { parts += input.substring(last, j); j += sep.length - 1; last = j + 1 }
        j += 1
      }
      parts += input.substring(last)
      parts.toSeq
    }

    def parseTerm(t0: String): Pred = {
      var t = t0.trim
      if (t.startsWith("(") && t.endsWith(")")) {
        // parenthesised sub-filter
        return parseFilter(t.substring(1, t.length - 1), whole)
      }
      // find a top-level operator: symbol ops at any position, word ops
      // (in / nin) only at whitespace boundaries so they can't fire inside
      // a field name like '@.inner'
      val symOps = Seq("==", "!=", "<=", ">=", "=~", "<", ">")
      var opIdx = -1; var op = ""
      var j = 0; var inStr = false; var q = ' '
      var bracketDepth = 0
      while (j < t.length && opIdx < 0) {
        val c = t.charAt(j)
        if (inStr) { if (c == q) inStr = false else if (c == '\\') j += 1 }
        else if (c == '\'' || c == '"') { inStr = true; q = c }
        else if (c == '[') bracketDepth += 1
        else if (c == ']') bracketDepth -= 1
        else if (bracketDepth == 0) {
          symOps.find(o => t.startsWith(o, j)) match {
            case Some(o) => opIdx = j; op = o
            case None =>
              def wordAt(w: String): Boolean =
                t.startsWith(w, j) && j > 0 && t.charAt(j - 1).isWhitespace &&
                  (j + w.length >= t.length || !isWordChar(t.charAt(j + w.length)))
              if (wordAt("nin")) { opIdx = j; op = "nin" }
              else if (wordAt("in")) { opIdx = j; op = "in" }
          }
        }
        j += 1
      }
      if (opIdx < 0) Exists(parseRelPath(t, existsOk = true))
      else {
        val lhs = t.substring(0, opIdx).trim
        val rhs = t.substring(opIdx + op.length).trim
        val lit = parseLiteral(rhs, op)
        // operator/literal agreement BOTH ways: '=~' with a quoted string
        // (or 'in' with a scalar) would otherwise compile cleanly and
        // evaluate to constant false — the silent-never-match failure mode
        // eager rule validation exists to prevent
        // (the converse directions — regex with a non-'=~' op, list with a
        // non-in/nin op — are rejected inside parseLiteral itself)
        (op, lit) match {
          case ("=~", _: RLit) => ()
          case ("=~", _) =>
            throw new JsonPathSyntaxException(s"'=~' needs a /regex/ literal in $whole")
          case ("in" | "nin", _: LLit) => ()
          case ("in" | "nin", _) =>
            throw new JsonPathSyntaxException(s"'$op' needs a [list] literal in $whole")
          case _ => ()
        }
        Cmp(parseRelPath(lhs, existsOk = false), ops.indexOf(op), lit)
      }
    }

    def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

    /** Relpath inside a filter: `@` then field / index / quoted-field steps;
      * `@..name` deep scan is allowed only for existence terms (Jayway
      * rejects indefinite paths as comparison operands).
      */
    def parseRelPath(p0: String, existsOk: Boolean): Array[Step] = {
      val p = p0.trim
      if (!p.startsWith("@"))
        throw new JsonPathSyntaxException(s"filter path must start with '@': '$p' in $whole")
      val rest = p.substring(1)
      if (rest.isEmpty) return Array.empty
      val segs = ArrayBuffer.empty[Step]
      var j = 0
      while (j < rest.length) {
        rest.charAt(j) match {
          case '.' if j + 1 < rest.length && rest.charAt(j + 1) == '.' =>
            if (!existsOk)
              throw new JsonPathSyntaxException(
                s"deep scan not allowed in comparison operand '$p' in $whole")
            j += 2
            val start = j
            while (j < rest.length && rest.charAt(j) != '.' && rest.charAt(j) != '[') j += 1
            if (j == start) throw new JsonPathSyntaxException(s"bad filter path '$p' in $whole")
            segs += Deep(Field(rest.substring(start, j)))
          case '.' if pathFns.exists { case (fn, _) => rest.startsWith("." + fn, j) } =>
            val (fn, step) = pathFns.find { case (f, _) => rest.startsWith("." + f, j) }.get
            if (!relpathFns.exists(_._1 == fn))
              throw new JsonPathSyntaxException(
                s"path function '$fn' not allowed in a filter path (only length()/size()): '$p' in $whole")
            j += fn.length + 1
            segs += step
          case '.' =>
            j += 1
            val start = j
            while (j < rest.length && rest.charAt(j) != '.' && rest.charAt(j) != '[') j += 1
            if (j == start) throw new JsonPathSyntaxException(s"bad filter path '$p' in $whole")
            segs += Field(rest.substring(start, j))
          case '[' =>
            j += 1
            while (j < rest.length && rest.charAt(j) == ' ') j += 1
            if (j >= rest.length)
              throw new JsonPathSyntaxException(s"unterminated bracket in filter path '$p'")
            val c = rest.charAt(j)
            if (c == '\'' || c == '"') {
              val quote = c
              j += 1
              val sb = new StringBuilder
              while (j < rest.length && rest.charAt(j) != quote) { sb += rest.charAt(j); j += 1 }
              j += 1 // quote
              while (j < rest.length && rest.charAt(j) == ' ') j += 1
              if (j >= rest.length || rest.charAt(j) != ']')
                throw new JsonPathSyntaxException(s"unterminated bracket in filter path '$p'")
              j += 1
              segs += Field(sb.result())
            } else if (c == '-' || c.isDigit) {
              val start = j
              if (rest.charAt(j) == '-') j += 1
              while (j < rest.length && rest.charAt(j).isDigit) j += 1
              val digits = rest.substring(start, j)
              val idx =
                try digits.toInt
                catch { case _: NumberFormatException =>
                  throw new JsonPathSyntaxException(s"bad index '$digits' in filter path '$p'")
                }
              while (j < rest.length && rest.charAt(j) == ' ') j += 1
              if (j >= rest.length || rest.charAt(j) != ']')
                throw new JsonPathSyntaxException(s"unterminated bracket in filter path '$p'")
              j += 1
              segs += Index(idx)
            } else
              throw new JsonPathSyntaxException(
                s"only ['name'] or [int] brackets in filter paths: '$p'")
          case other =>
            throw new JsonPathSyntaxException(s"unexpected '$other' in filter path '$p'")
        }
      }
      segs.toArray
    }

    def parseLiteral(l0: String, op: String): Lit = {
      val l = l0.trim
      if (l.isEmpty) throw new JsonPathSyntaxException(s"empty literal in $whole")
      if (l.charAt(0) == '/') {
        if (op != "=~")
          throw new JsonPathSyntaxException(s"regex literal only valid with '=~' in $whole")
        val close = l.lastIndexOf('/')
        if (close <= 0)
          throw new JsonPathSyntaxException(s"unterminated regex literal '$l' in $whole")
        val body = l.substring(1, close).replace("\\/", "/")
        val flagChars = l.substring(close + 1)
        var flags = 0
        flagChars.foreach {
          case 'i' => flags |= Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE
          case 'm' => flags |= Pattern.MULTILINE
          case 's' => flags |= Pattern.DOTALL
          case c   => throw new JsonPathSyntaxException(s"unsupported regex flag '$c' in $whole")
        }
        try RLit(Pattern.compile(body, flags))
        catch { case e: Exception =>
          throw new JsonPathSyntaxException(s"bad regex '$body' in $whole: ${e.getMessage}")
        }
      } else if (l.charAt(0) == '$') {
        // root-path operand: definite (fields/indices) only — Jayway
        // rejects indefinite paths as comparison operands, and regex /
        // list ops take literal RHS shapes
        if (op == "=~" || op == "in" || op == "nin")
          throw new JsonPathSyntaxException(
            s"root-path operand not valid with '$op' in $whole")
        val compiled =
          try compile(l)
          catch { case e: JsonPathSyntaxException =>
            throw new JsonPathSyntaxException(s"bad root-path operand '$l' in $whole: ${e.getMessage}")
          }
        val definite = compiled.steps.forall {
          case _: Field | _: Index => true
          case _                   => false
        }
        if (!definite)
          throw new JsonPathSyntaxException(
            s"root-path operand must be definite (fields/indices only): '$l' in $whole")
        PathLit(compiled.steps)
      } else if (l.charAt(0) == '[') {
        if (op != "in" && op != "nin")
          throw new JsonPathSyntaxException(s"list literal only valid with in/nin in $whole")
        if (l.last != ']')
          throw new JsonPathSyntaxException(s"unterminated list literal '$l' in $whole")
        val inner = l.substring(1, l.length - 1).trim
        if (inner.isEmpty) LLit(Nil)
        else LLit(splitTop(inner, ",").map { e =>
          parseLiteral(e, "==") match {
            case _: PathLit => throw new JsonPathSyntaxException(
              s"root-path operand not allowed inside a [list] literal in $whole")
            case lit => lit
          }
        })
      } else if (l.charAt(0) == '\'' || l.charAt(0) == '"') {
        val q = l.charAt(0)
        if (l.length < 2 || l.last != q)
          throw new JsonPathSyntaxException(s"unterminated string literal '$l'")
        val sb = new StringBuilder
        var j = 1
        while (j < l.length - 1) {
          if (l.charAt(j) == '\\' && j + 1 < l.length - 1) { sb += l.charAt(j + 1); j += 2 }
          else { sb += l.charAt(j); j += 1 }
        }
        SLit(sb.result())
      } else l match {
        case "true"  => BLit(true)
        case "false" => BLit(false)
        case "null"  => NullLit
        case n =>
          try NLit(new java.math.BigDecimal(n))
          catch { case _: NumberFormatException => throw new JsonPathSyntaxException(s"bad literal '$l' in $whole") }
      }
    }

    val orParts = splitTop(f, "||")
    val orPreds = orParts.map { part =>
      val andParts = splitTop(part, "&&")
      if (andParts.length == 1) parseTerm(andParts.head)
      else And(andParts.map(parseTerm))
    }
    if (orPreds.length == 1) orPreds.head else Or(orPreds)
  }

  // ------------------------------------------------------------------- eval

  /** All nodes the path selects, document order. Never throws. */
  def select(root: JsonNode, path: Compiled): Seq[JsonNode] = {
    val out = ArrayBuffer.empty[JsonNode]
    if (root != null && !root.isMissingNode)
      new Eval(root, path.steps, n => { out += n; false }, collect = true).walk(0, root)
    out.toSeq
  }

  /** Does the path select at least one node? (The reference's match test —
    * TopologyProducer.kt:216–218.) Stops at the first full match.
    */
  def exists(root: JsonNode, path: Compiled): Boolean =
    root != null && !root.isMissingNode && existsFrom(root, root, path.steps)

  private def existsFrom(root: JsonNode, node: JsonNode, steps: Array[Step]): Boolean =
    new Eval(root, steps, _ => true, collect = false).walk(0, node)

  /** One depth-first evaluation of `steps`. `walk(k, n)` runs steps k.. on
    * node n; each step passes every node it selects on to `walk(k + 1, _)`,
    * and a node past the last step goes to `sink`. A `true` from the sink
    * ends the walk. `collect` keeps select's per-`Deep`-filter identity
    * dedupe: a deep filter reaches an object element both through its
    * array and on its own, and Jayway returns it once.
    */
  private final class Eval(root: JsonNode, steps: Array[Step],
      sink: JsonNode => Boolean, collect: Boolean) {
    private val seen: Array[java.util.Set[JsonNode]] =
      if (collect) new Array(steps.length) else null

    def walk(k: Int, node: JsonNode): Boolean =
      if (k == steps.length) sink(node)
      else steps(k) match {
        case Deep(inner) =>
          if (seen != null && inner.isInstanceOf[FilterStep])
            seen(k) = Collections.newSetFromMap(new IdentityHashMap[JsonNode, java.lang.Boolean]())
          scan(inner, node, k + 1)
        case step => applyStep(step, node, k + 1)
      }

    /** Pre-order deep scan: `inner` at `node`, then at every descendant. */
    private def scan(inner: Step, node: JsonNode, next: Int): Boolean =
      applyStep(inner, node, next) || {
        val it = node.elements()
        var hit = false
        while (!hit && it.hasNext) hit = scan(inner, it.next(), next)
        hit
      }

    /** Pass a node selected by step `next - 1` on to step `next`. */
    private def emit(next: Int, n: JsonNode): Boolean =
      n != null && (seen == null || seen(next - 1) == null || seen(next - 1).add(n)) &&
        walk(next, n)

    /** Apply one non-deep step at `node`. `JsonNode.get` is null for a
      * missing field, an out-of-range index and a node of the wrong kind.
      */
    private def applyStep(step: Step, node: JsonNode, next: Int): Boolean = step match {
      case Field(name) => emit(next, node.get(name))
      case Index(i) => emit(next, node.get(if (i < 0) node.size + i else i))
      case ScriptIndex(off) => emit(next, node.get(node.size + off))
      case Slice(start, end) =>
        val n = node.size
        (normSlice(start.getOrElse(0), n) until normSlice(end.getOrElse(n), n))
          .exists(i => emit(next, node.get(i)))
      case UnionIdx(is) => is.exists(i => emit(next, node.get(if (i < 0) node.size + i else i)))
      case UnionFields(names) => names.exists(nm => emit(next, node.get(nm)))
      case Wildcard => anyOf(node, next, null)
      case FilterStep(pred) =>
        if (node.isArray) anyOf(node, next, pred)
        else node.isObject && holds(node, pred) && emit(next, node)
      case FnLength => emit(next, length(node))
      case FnAgg(kind) => emit(next, aggregate(node, kind))
      case Deep(_) => false // a deep step never nests another (compile)
    }

    /** Pass on each child of `node` that satisfies `pred` (null: all). */
    private def anyOf(node: JsonNode, next: Int, pred: Pred): Boolean = {
      val it = node.elements()
      var hit = false
      while (!hit && it.hasNext) {
        val c = it.next()
        hit = (pred == null || holds(c, pred)) && emit(next, c)
      }
      hit
    }

    private def holds(node: JsonNode, pred: Pred): Boolean = pred match {
      case Or(cs)  => cs.exists(holds(node, _))
      case And(ts) => ts.forall(holds(node, _))
      case Exists(p) => existsFrom(root, node, p)
      case Cmp(p, op, lit) =>
        val v = resolve(node, p)
        v != null && compare(v, op, lit)
    }

    private def compare(v: JsonNode, op: Int, lit: Lit): Boolean = lit match {
      case PathLit(steps) =>
        // a missing or non-scalar root operand makes the comparison false
        val r = literalOf(resolve(root, steps))
        r != null && compare(v, op, r)
      case RLit(re)     => v.isTextual && re.matcher(v.textValue).matches()
      case LLit(items)  => items.exists(compare(v, Eq, _)) != (op == Nin) // scalar items
      case SLit(s) if v.isTextual => opHolds(op, v.textValue.compareTo(s))
      case NLit(n) if v.isNumber  => opHolds(op, v.decimalValue.compareTo(n))
      case BLit(b) if op == Eq || op == Ne => (v.isBoolean && v.booleanValue == b) == (op == Eq)
      case NullLit if op == Eq || op == Ne => v.isNull == (op == Eq)
      case _ => op == Ne // both sides exist with different types
    }
  }

  // -------------------------------------------------------------- rule sets

  /** A rule set, evaluated against one document at a time.
    *
    * A rule `<prefix>[?(@.<relpath> == 's')]` or `<prefix>[?(@.<relpath> in
    * ['s', …])]`, with the filter step plain or under `..`, joins the group
    * keyed by (prefix, `..` or not, relpath). A group of two or more rules
    * is walked once with a filter that always holds, so the sink sees
    * exactly the nodes each member's filter would test; it resolves the
    * relpath there and looks a text value up in a map from literal to
    * member indices. `== 's'` and `in ['s', …]` hold only for a text node
    * equal to `s`, so this is exact. The walk stops once every member has
    * matched. Every other rule, a group of one included, keeps its own
    * [[exists]] walk, and a rule that fails to compile never matches.
    */
  final class RuleSet(paths: Seq[String]) {
    private val compiled: Array[Option[Compiled]] =
      paths.map(p => Try(compile(p)).toOption).toArray

    private val (groups, solos): (Array[TextGroup], Array[Int]) = {
      val keyed = compiled.indices.flatMap(i => compiled(i).flatMap(textEquality).map(i -> _))
      val shared = keyed.groupBy(_._2._1).filter(_._2.length > 1)
      val grouped = shared.values.flatten.map(_._1).toSet
      (shared.map { case (key, ms) => new TextGroup(key, ms.map { case (i, (_, lits)) => i -> lits }) }.toArray,
        compiled.indices.filter(i => compiled(i).isDefined && !grouped(i)).toArray)
    }

    /** Walks per document at most: one per group, one per other rule. */
    def walks: Int = groups.length + solos.length

    /** Indices of the rules that select at least one node of `root`, in
      * declaration order. A rule whose walk throws does not match.
      */
    def matching(root: JsonNode): Array[Int] = {
      val hit = new Array[Boolean](compiled.length)
      if (root != null && !root.isMissingNode) {
        groups.foreach(_.run(root, hit))
        solos.foreach { i =>
          hit(i) = try exists(root, compiled(i).get) catch { case NonFatal(_) => false }
        }
      }
      val out = new Array[Int](hit.count(identity))
      var n = 0
      var i = 0
      while (i < hit.length) {
        if (hit(i)) { out(n) = i; n += 1 }
        i += 1
      }
      out
    }
  }

  /** What the members of one shared walk have in common. */
  private final case class TextKey(prefix: Seq[Step], deep: Boolean, relpath: Seq[Step])

  /** The group key and the literals of a rule whose last step is a plain
    * or `..` filter `@.<relpath> == 's'` or `@.<relpath> in ['s', …]`.
    */
  private def textEquality(c: Compiled): Option[(TextKey, Seq[String])] = {
    val (deep, pred) = c.steps.lastOption match {
      case Some(FilterStep(p))       => (false, p)
      case Some(Deep(FilterStep(p))) => (true, p)
      case _                         => return None
    }
    def key(rel: Array[Step]) = TextKey(c.steps.init.toSeq, deep, rel.toSeq)
    pred match {
      case Cmp(rel, Eq, SLit(s)) => Some(key(rel) -> Seq(s))
      case Cmp(rel, In, LLit(items)) if items.forall(_.isInstanceOf[SLit]) =>
        Some(key(rel) -> items.collect { case SLit(s) => s })
      case _ => None
    }
  }

  /** The rules of one [[TextKey]], given as (rule index, literals). */
  private final class TextGroup(key: TextKey, members: Seq[(Int, Seq[String])]) {
    private val steps: Array[Step] = {
      val all = FilterStep(And(Nil))
      (key.prefix :+ (if (key.deep) Deep(all) else all)).toArray
    }
    private val relpath = key.relpath.toArray
    private val byText = new java.util.HashMap[String, Array[Int]]()
    members.flatMap { case (i, lits) => lits.distinct.map(_ -> i) }.groupMap(_._1)(_._2)
      .foreach { case (s, is) => byText.put(s, is.toArray) }
    private val live = members.count(_._2.nonEmpty)

    /** Mark every member that matches `root` in `hit`. Each member's own
      * walk visits the same nodes in the same order up to its first match,
      * and a filter never throws, so a walk that throws leaves exactly the
      * hits the members' own walks would have found.
      */
    def run(root: JsonNode, hit: Array[Boolean]): Unit = {
      var pending = live
      val sink: JsonNode => Boolean = { node =>
        val v = resolve(node, relpath)
        if (v != null && v.isTextual) {
          val rs = byText.get(v.textValue)
          if (rs != null) {
            var j = 0
            while (j < rs.length) {
              if (!hit(rs(j))) { hit(rs(j)) = true; pending -= 1 }
              j += 1
            }
          }
        }
        pending == 0
      }
      try new Eval(root, steps, sink, collect = false).walk(0, root)
      catch { case NonFatal(_) => () }
    }
  }

  private def normSlice(i: Int, n: Int): Int =
    math.max(0, math.min(n, if (i < 0) n + i else i))

  private val nodes = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance

  /** A definite path (fields, indices, length()) walked straight down from
    * `node`; null when it selects nothing.
    */
  private def resolve(node: JsonNode, path: Array[Step]): JsonNode = {
    var n = node
    var i = 0
    while (n != null && i < path.length) {
      n = path(i) match {
        case Field(name) => n.get(name)
        case Index(j)    => n.get(if (j < 0) n.size + j else j)
        case _           => length(n) // FnLength: the only other definite step
      }
      i += 1
    }
    n
  }

  /** Jayway length()/size(): array size, object size, string length; other
    * node types have no length.
    */
  private def length(node: JsonNode): JsonNode =
    if (node.isContainerNode) nodes.numberNode(node.size)
    else if (node.isTextual) nodes.numberNode(node.textValue.length)
    else null

  private def aggregate(node: JsonNode, kind: String): JsonNode = kind match {
    case "first" => if (node.isArray) node.get(0) else null
    case "last"  => if (node.isArray) node.get(node.size - 1) else null
    case "keys" =>
      if (node.isObject) { val arr = nodes.arrayNode(); node.fieldNames().forEachRemaining(arr.add(_)); arr }
      else null
    case _ =>
      // numeric aggregates: defined only on non-empty all-number arrays
      // (Jayway throws on anything else; suppressed ⇒ no node)
      val elems = node.elements().asScala.toSeq
      if (!node.isArray || elems.isEmpty || !elems.forall(_.isNumber)) null
      else {
        val xs = elems.map(_.doubleValue())
        val mean = xs.sum / xs.length
        nodes.numberNode(kind match {
          case "min" => xs.min
          case "max" => xs.max
          case "sum" => xs.sum
          case "avg" => mean
          case "stddev" => math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / xs.length)
        })
      }
  }

  /** The literal a resolved root-path operand stands for; null when the
    * operand is missing or not a scalar (Jayway's unresolvable operand).
    */
  private def literalOf(n: JsonNode): Lit =
    if (n == null) null
    else if (n.isTextual) SLit(n.textValue)
    else if (n.isNumber) NLit(n.decimalValue)
    else if (n.isBoolean) BLit(n.booleanValue)
    else if (n.isNull) NullLit
    else null

  private def opHolds(op: Int, cmp: Int): Boolean =
    if (cmp < 0) op == Ne || op == Lt || op == Le
    else if (cmp > 0) op == Ne || op == Gt || op == Ge
    else op == Eq || op == Le || op == Ge
}
