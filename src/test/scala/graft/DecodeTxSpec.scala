package graft

import graft.functions.{DecodeCosmosTx, DecodedTxRow}
import graft.operators.ProtoTx
import graft.proto.CosmosTx
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.BinaryType
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** `decode_tx` is total, gives each record exactly one of `error` and
  * `txJson`, and its fields computed on read equal the direct `CosmosTx`
  * calls; the routed plan over it agrees with and without codegen.
  */
class DecodeTxSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val expr = DecodeCosmosTx(Literal(null, BinaryType))

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(20000).withInitialSeed(Seed(20261020L)).withWorkers(1)

  private def check(prop: Prop): Unit = {
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  private val valid: Gen[Array[Byte]] = TxGen.tx.map(CosmosTx.encode)

  /** Arbitrary bytes, valid txs, and truncations and bit flips of valid txs. */
  private val input: Gen[Array[Byte]] = Gen.frequency(
    2 -> Gen.choose(0, 40).flatMap(Gen.listOfN(_, Gen.choose(Byte.MinValue, Byte.MaxValue))).map(_.toArray),
    2 -> valid,
    2 -> valid.flatMap(b => Gen.choose(0, b.length).map(b.take)),
    3 -> valid.flatMap(b =>
      if (b.isEmpty) Gen.const(b)
      else Gen.zip(Gen.choose(0, b.length * 8 - 1), Gen.choose(1, 3)).map { case (bit, n) =>
        val c = b.clone()
        (0 until n).foreach { k =>
          val at = (bit + 13 * k) % (b.length * 8)
          c(at / 8) = (c(at / 8) ^ (1 << at % 8)).toByte
        }
        c
      }))

  /** A `Tx` as nested sequences, so byte arrays compare by content. */
  private def norm(x: Any): Any = x match {
    case a: Array[Byte] => a.toSeq
    case s: Iterable[_] => s.map(norm).toSeq
    case p: Product => p.productPrefix +: p.productIterator.map(norm).toSeq
    case o => o
  }

  /** Field `i` of a fresh decode of `bytes`, read as a plan would read it. */
  private def field(bytes: Array[Byte], i: Int): Any = {
    val r = expr.decode(bytes)
    if (r.isNullAt(i)) null
    else i match {
      case 0 | 2 => r.getUTF8String(i).toString
      case 1 => r.getBinary(i).toSeq
      case 3 => r.getArray(i).toObjectArray(org.apache.spark.sql.types.StringType).map(_.toString).toSeq
      case 4 => r.getInt(i)
    }
  }

  private def fields(r: InternalRow): Seq[Any] = Seq(
    Option(r.getUTF8String(0)).map(_.toString).orNull,
    Option(r.getBinary(1)).map(_.toSeq).orNull,
    Option(r.getUTF8String(2)).map(_.toString).orNull,
    Option(r.getArray(3)).map(_.toObjectArray(org.apache.spark.sql.types.StringType).map(_.toString).toSeq).orNull,
    if (r.isNullAt(4)) null else r.getInt(4))

  test("property: decode_tx never throws and sets exactly one of error and txJson") {
    var ok = 0
    check(Prop.forAll(input) { bytes =>
      val r = Try(expr.decode(bytes))
      if (r.toOption.exists(!_.isNullAt(0))) ok += 1
      Prop(r.isSuccess) :| s"threw ${r.failed.toOption}" &&
        Prop(r.get.isNullAt(0) != r.get.isNullAt(2)) :| s"row ${r.get}"
    })
    // both outcomes must be common for the property to mean something
    assert(ok > 4000 && ok < 16000, s"$ok of 20000 decoded")
  }

  test("property: each field read alone equals copy() and the direct CosmosTx calls") {
    check(Prop.forAll(input) { bytes =>
      val direct = Try(CosmosTx.decode(bytes)).toOption.map { tx =>
        Seq(CosmosTx.toJson(tx), CosmosTx.encode(tx).toSeq, null,
          tx.body.messages.map(_.typeUrl), tx.body.messages.size)
      }
      val row = expr.decode(bytes)
      val copied = row.copy()
      val alone = (0 until 5).map(field(bytes, _))
      direct match {
        case None => Prop(row.isNullAt(0) && !row.isNullAt(2)) :| "undecodable bytes decoded"
        case Some(want) =>
          val back = CosmosTx.decode(row.getBinary(1))
          Prop(row.isInstanceOf[DecodedTxRow]) &&
            Prop(alone == want) :| s"alone $alone\nwant $want" &&
            Prop(fields(copied) == want) :| s"copy ${fields(copied)}" &&
            Prop(!copied.isInstanceOf[DecodedTxRow]) :| "copy() is not materialised" &&
            Prop(norm(back) == norm(CosmosTx.decode(bytes))) :| "reencoded decodes to another Tx"
      }
    })
  }

  test("isNullAt does not compute the fields read lazily") {
    val tx = TxGen.tx.pureApply(Gen.Parameters.default, Seed(1L))
    val row = expr.decode(CosmosTx.encode(tx))
    val lazyFields = row.getClass.getDeclaredFields.filter(f =>
      Set("txJson", "reencoded", "msgTypeUrls").exists(f.getName.endsWith))
    assert(lazyFields.length == 3)
    lazyFields.foreach(_.setAccessible(true))
    (0 until 5).foreach(row.isNullAt)
    assert(lazyFields.forall(_.get(row) == null), "isNullAt forced a lazy field")
    row.asInstanceOf[DecodedTxRow].tree
    assert(lazyFields.forall(_.get(row) == null), "building the tree rendered or encoded")
    row.getBinary(1)
    assert(lazyFields.count(_.get(row) == null) == 2, "getBinary(1) did not keep the re-encoding")
    row.getUTF8String(0)
    assert(lazyFields.count(_.get(row) == null) == 1, "getUTF8String(0) did not keep the rendering")
  }

  test("ProtoTx.decoded collects equal rows with and without code generation") {
    val gen = Gen.listOfN(400, input).map(_.zipWithIndex.map { case (b, i) => (s"k$i", b) })
    val recs = gen.pureApply(Gen.Parameters.default, Seed(5L))
    import spark.implicits._
    // RDD-backed: over a local relation the optimizer would evaluate the
    // projection while planning
    def collect(): Seq[Seq[Any]] =
      ProtoTx.decoded(spark.sparkContext.parallelize(recs, 2).toDF("key", "raw")).collect().toSeq
        .map(_.toSeq.map {
          case a: Array[Byte] => a.toSeq
          case s: scala.collection.Seq[_] => s.toSeq
          case o => o
        })
    val codegen = collect()
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    val interpreted =
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        collect()
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    // column 2 is txJson: both outcomes must be common
    assert(codegen.count(_(2) == null) > 50 && codegen.count(_(2) != null) > 50)
    assert(codegen == interpreted)
  }

  test("ProtoTx.routed collects equal rows with and without code generation") {
    import graft.rules.{DispatchRule, TxDispatchRules}
    val rules = TxDispatchRules(Seq(
      DispatchRule("send", "t-send", s"$$.body.messages[?(@.@type == '${TxGen.MsgSendUrl}')]"),
      DispatchRule("key", "t-key", "$..publicKey[?(@.key)]"),
      DispatchRule("burn-or-pubkey", "t-burn",
        s"$$..[?(@.@type in ['${TxGen.MsgBurnUrl}','${TxGen.PubKeyUrl}'])]"),
      DispatchRule("memo", "t-memo", "$.body[?(@.memo =~ /.*[aeiou].*/)]"),
      DispatchRule("nop", "t-nop", "$.nop")))
    val gen = Gen.listOfN(400, input).map(_.zipWithIndex.map { case (b, i) => (s"k$i", b) })
    val recs = gen.pureApply(Gen.Parameters.default, Seed(6L))
    import spark.implicits._
    def collect(): Seq[Seq[Any]] =
      ProtoTx.routed(spark.sparkContext.parallelize(recs, 2).toDF("key", "raw"), rules).collect().toSeq
        .map(_.toSeq.map {
          case a: Array[Byte] => a.toSeq
          case s: scala.collection.Seq[_] => s.toSeq
          case o => o
        })
    val codegen = collect()
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    val interpreted =
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        collect()
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    // column 7 is route: errors, DLQ records and rule matches must all be common
    val routes = codegen.map(_(7).asInstanceOf[Int])
    assert(routes.count(_ == TxDispatchRules.ERROR) > 30 && routes.count(_ == TxDispatchRules.UNFILTERED) > 30 &&
      routes.count(_ >= 0) > 30, routes.groupBy(identity).map { case (r, n) => r -> n.size })
    assert(codegen == interpreted)
  }
}
