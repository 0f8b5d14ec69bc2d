package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pure-SQL deployment story, end-to-end: a session whose user
  * writes ONLY SQL (Thrift server, notebook SQL cell) must be able to
  * run the engine's dedup surface through the registered scalar
  * functions. [[GraftExtensionsSpec]] proves the config-time injection
  * wires the same builder list as `register()` — this spec proves the
  * functions COMPOSE in a real `spark.sql` plan: `json_path_exists` +
  * `shingle_hashes` + `jaccard_sim` reproduce `q_dedup_jaccard`'s rows
  * with zero Scala-DSL calls in the query under test.
  */
class SqlSurfaceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val sf = "/root/testdata/sf0.001"

  test("pure SQL reproduces q_dedup_jaccard through the registered functions") {
    val s = spark
    import s.implicits._
    // session-scoped registration — the SAME builder list the
    // spark.sql.extensions path injects (one shared Seq, spec-pinned)
    graft.functions.JsonPathFunctions.register(s)
    graft.operators.TextDedup.documents(s, sf)
      .createOrReplaceTempView("documents_raw")
    // view setup is itself SQL; a JSON metadata column rides along so
    // the JsonPath surface executes inside the same statement
    s.sql("""CREATE OR REPLACE TEMP VIEW docs_sql AS
      SELECT doc_id, lang, text,
             to_json(named_struct('lang', lang)) AS meta
      FROM documents_raw""")

    val got = s.sql("""
      WITH t AS (
        SELECT doc_id, lang, shingle_hashes(text, 3) AS tok
        FROM docs_sql
        WHERE json_path_exists(meta, '$.lang')),
      p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               jaccard_sim(a.tok, b.tok) AS jac
        FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, jac FROM p WHERE jac >= 0.5
      ORDER BY doc_a, doc_b""")
      .as[(Long, Long, Double)].collect().toSeq

    val want = SparkEntry.queries("q_dedup_jaccard")(s, sf)
      .as[(Long, Long, Double)].collect().toSeq

    assert(got == want,
      s"SQL surface diverged from the engine query: got ${got.size} rows, want ${want.size}")
    assert(got.nonEmpty, "parity on an empty result would be vacuous")
  }

  test("minhash_sig composes over shingle_hashes in pure SQL") {
    val s = spark
    import s.implicits._
    graft.functions.JsonPathFunctions.register(s)
    graft.operators.TextDedup.documents(s, sf)
      .createOrReplaceTempView("documents_raw")
    val got = s.sql("""
      SELECT doc_id, minhash_sig(shingle_hashes(text, 3), 16) AS sig
      FROM documents_raw WHERE doc_id < 20 ORDER BY doc_id""")
      .as[(Long, Seq[Long])].collect().toSeq
    val docs = graft.operators.TextDedup.documents(s, sf)
    val want = docs
      .filter(org.apache.spark.sql.functions.col("doc_id") < 20)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.MinHashSig.minhash_sig(
          graft.functions.ShingleHashes.shingle_hashes(
            org.apache.spark.sql.functions.col("text"), 3), 16).as("sig"))
      .orderBy("doc_id")
      .as[(Long, Seq[Long])].collect().toSeq
    assert(got == want)
    assert(got.forall(_._2.length == 16))
  }

  test("tokenizer + text scalars on the SQL surface: bpe_encode reproduces encodeTokens; unary scalars match their Column twins") {
    val s = spark
    import s.implicits._
    graft.functions.JsonPathFunctions.register(s)
    val docs = Seq((1L, "banana bandana"), (2L, "Aaa abab"), (3L, ""))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("sql_docs")
    val merges = graft.operators.Bpe.mergePairs(
      graft.operators.Bpe.trainMerges(docs, 3))
    val lefts = merges.map(m => s"'${m._1}'").mkString(", ")
    val rights = merges.map(m => s"'${m._2}'").mkString(", ")
    val got = s.sql(s"""
      SELECT doc_id, p0 + 1 AS pos, token
      FROM sql_docs
      LATERAL VIEW posexplode(bpe_encode(text, array($lefts), array($rights))) pt AS p0, token
      ORDER BY doc_id, pos""")
      .as[(Long, Int, String)].collect().toSeq
    val want = graft.operators.Bpe.encodeTokens(docs, merges)
      .orderBy($"doc_id", $"pos").as[(Long, Int, String)].collect().toSeq
    assert(got == want && got.nonEmpty)
    // mismatched merge arrays are refused loudly
    val e = intercept[Exception] {
      s.sql("SELECT bpe_encode(text, array('a'), array('b', 'c')) FROM sql_docs").collect()
    }
    assert(e.getMessage.contains("pair up"))
    // scalars evaluate identically to their Column twins (simhash62 and
    // lang_id take the pre-built arrays their operators feed them)
    import graft.functions.TextFunctions
    docs
      .withColumn("mh", TextFunctions.mixedTokenHashes(TextFunctions.tokens($"text")))
      .withColumn("toks", TextFunctions.tokens($"text"))
      .createOrReplaceTempView("sql_docs2")
    val scalars = s.sql("""
      SELECT doc_id, rolling_hash(text) AS rh, nfc_normalize(text) AS nf,
             simhash62(mh) AS sh, lang_id(toks) AS li
      FROM sql_docs2 ORDER BY doc_id""")
      .as[(Long, Long, String, Long, String)].collect().toSeq
    val twin = docs.select($"doc_id",
        TextFunctions.rollingHash($"text").as("rh"),
        graft.functions.NfcNormalize.nfc($"text").as("nf"),
        graft.functions.SimHash62.simhash62(
          TextFunctions.mixedTokenHashes(TextFunctions.tokens($"text"))).as("sh"),
        graft.functions.LangId.lang_id(TextFunctions.tokens($"text")).as("li"))
      .orderBy($"doc_id").as[(Long, Long, String, Long, String)].collect().toSeq
    assert(scalars == twin)
  }

  test("winnow_fps reproduces q_winnow_fps rows in pure SQL") {
    val s = spark
    import s.implicits._
    graft.functions.JsonPathFunctions.register(s)
    graft.operators.TextDedup.documents(s, sf)
      .createOrReplaceTempView("documents_raw")
    val got = s.sql("""
      SELECT doc_id, pf.pos AS pos, pf.fp AS fp
      FROM documents_raw
      LATERAL VIEW explode(winnow_fps(text, 3, 8)) AS pf
      ORDER BY doc_id, pos""")
      .as[(Long, Int, Long)].collect().toSeq
    val want = graft.operators.TextAnalysis.winnowFingerprints(
        graft.operators.TextDedup.documents(s, sf))
      .orderBy($"doc_id", $"pos").as[(Long, Int, Long)].collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("json_path_exists and json_path_routes refuse a document that is neither a string nor a decode_tx struct at analysis") {
    import graft.functions.JsonPathFunctions.{json_path_exists, json_path_routes}
    import graft.functions.ProtoFunctions.decode_tx
    import org.apache.spark.sql.AnalysisException
    import org.apache.spark.sql.functions.{col, lit}
    val s = spark
    import s.implicits._
    graft.functions.JsonPathFunctions.register(s)
    val e = intercept[AnalysisException](s.sql("SELECT json_path_exists(1, '$.a')").collect())
    assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
    val df = Seq(("{\"a\": 1}", Array[Byte](10, 0, 18, 0))).toDF("json", "raw")
    val r = intercept[AnalysisException](df.select(json_path_routes(col("raw"), Seq("$.a"))).collect())
    assert(r.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", r.getMessage)
    // the two accepted document types
    assert(df.select(json_path_exists(col("json"), "$.a"), json_path_exists(decode_tx(col("raw")), "$.body"),
      json_path_exists(lit(null).cast("string"), "$.a")).head().toSeq == Seq(true, true, null))
  }
}
