package graft.plans

import org.apache.spark.sql.{AnalysisException, Column, ExtensionsProbe, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._

/**
 * SQL surface: every graft function callable from pure SQL.
 * `GraftFunctions.register` and the spark.sql.extensions route
 * (`GraftExtensions`) install the same declarations, `GraftFunctions.catalog`.
 * The extension is checked on a fresh `SparkSessionExtensions`: the shared
 * test session can't take it, as `getOrCreate` ignores extensions once a
 * session exists.
 */
class ExtensionsSpec extends SparkSpec {

  private def sample = {
    GraftFunctions.register(spark)
    val rows = Seq(
      Row(1, "Martha Jones. She left", "marhta jones", "<p>a &amp; b</p>".getBytes("UTF-8"),
        Seq("a", "b", "a", "c"), Seq(1L, 2L, 3L, 5L), Seq(2L, 3L, 5L, 8L), 7L, 1L,
        Seq(1f, 0f, 2f), Seq(1f, 1f, 0f)),
      Row(2, "José O'Neill", "jose oneill", "x<script>y</script>".getBytes("UTF-8"),
        Seq("q"), Seq(4L), Seq(4L), -1L, 0L, Seq(0.5f), Seq(-0.5f)),
      Row(3, null, null, null, null, null, null, null, null, null, null))
    val schema = StructType(Seq("id" -> IntegerType, "s" -> StringType, "t" -> StringType,
      "html" -> BinaryType, "toks" -> ArrayType(StringType), "hs" -> ArrayType(LongType),
      "hs2" -> ArrayType(LongType), "fp" -> LongType, "fp2" -> LongType,
      "v" -> ArrayType(FloatType), "w" -> ArrayType(FloatType))
      .map { case (n, t) => StructField(n, t) })
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    df.createOrReplaceTempView("graft_sample")
    df
  }

  test("every declared function: SQL call == Column-API call, nulls included") {
    val df = sample
    val calls: Seq[(String, String, Column)] = Seq(
      ("extract_text", "extract_text(html)", extract_text(col("html"))),
      ("normalize_text", "normalize_text(s)", normalize_text(col("s"))),
      ("tokenize_offsets", "tokenize_offsets(s)", tokenize_offsets(col("s"))),
      ("split_sentences", "split_sentences(s)", split_sentences(col("s"))),
      ("jaro_winkler", "jaro_winkler(s, t)", jaro_winkler(col("s"), col("t"))),
      ("levenshtein_sim", "levenshtein_sim(s, t)", levenshtein_sim(col("s"), col("t"))),
      ("char_shingle_hashes", "char_shingle_hashes(s, 3)", char_shingle_hashes(col("s"), 3)),
      ("token_ngram_hashes", "token_ngram_hashes(toks, 2, 7)", token_ngram_hashes(col("toks"), 2, 7L)),
      ("token_ngram_hash_seq", "token_ngram_hash_seq(toks, 2)", token_ngram_hash_seq(col("toks"), 2)),
      ("tf_filtered_hashes", "tf_filtered_hashes(toks, 2, 1)", tf_filtered_hashes(col("toks"), 2, 1)),
      ("minhash_signature", "minhash_signature(hs, 16)", minhash_signature(col("hs"), 16)),
      ("minhash_band_keys", "minhash_band_keys(hs, 2, 2)", minhash_band_keys(col("hs"), 2, 2)),
      ("simhash64", "simhash64(hs, 5)", simhash64(col("hs"), 5L)),
      ("simhash_band_keys", "simhash_band_keys(fp, 8, 2)", simhash_band_keys(col("fp"), 8, 2)),
      ("rolling_fingerprint", "rolling_fingerprint(s)", rolling_fingerprint(col("s"))),
      ("hamming_dist64", "hamming_dist64(fp, fp2)", hamming_dist64(col("fp"), col("fp2"))),
      ("minhash_overlap", "minhash_overlap(hs, hs2)", minhash_overlap(col("hs"), col("hs2"))),
      ("jaccard_sorted", "jaccard_sorted(hs, hs2)", jaccard_sorted(col("hs"), col("hs2"))),
      ("cosine_sim", "cosine_sim(v, w)", cosine_sim(col("v"), col("w"))),
      ("dot_product", "dot_product(v, w)", dot_product(col("v"), col("w"))),
      ("srp_band_keys", "srp_band_keys(v, 4, 6)", srp_band_keys(col("v"), 4, 6)))
    assert(calls.map(_._1).sorted == GraftFunctions.catalog.map(_.name).sorted)
    val viaSql = spark.sql(calls.map { case (n, sql, _) => s"$sql AS $n" }
      .mkString("SELECT id, ", ", ", " FROM graft_sample ORDER BY id"))
    val viaCol = df.select(col("id") +: calls.map { case (n, _, c) => c.as(n) }: _*).orderBy("id")
    assert(viaSql.schema == viaCol.schema)
    assert(df.select(jaro_winkler(col("s"), col("t"))).columns.toSeq == Seq("jaro_winkler(s, t)"))
    val (s, c) = (viaSql.collect().toSeq, viaCol.collect().toSeq)
    assert(s == c)
    assert(s.take(2).forall(r => (1 to calls.length).forall(i => !r.isNullAt(i))))
    assert((1 to calls.length).forall(s(2).isNullAt))
  }

  test("a wrong-typed argument fails analysis naming the function") {
    sample
    Seq("extract_text(s)" -> "BINARY", "jaro_winkler(fp, t)" -> "STRING",
        "hamming_dist64(fp, s)" -> "BIGINT", "minhash_signature(array(1, 2), 16)" -> "ARRAY<BIGINT>",
        "cosine_sim(v, array(1.0D))" -> "ARRAY<FLOAT>", "token_ngram_hashes(hs, 1)" -> "ARRAY<STRING>")
      .foreach { case (call, want) =>
        val e = intercept[AnalysisException](spark.sql(s"SELECT $call FROM graft_sample"))
        assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", call)
        assert(e.getMessage.contains(call.takeWhile(_ != '(')) && e.getMessage.contains(want), e.getMessage)
      }
  }

  test("a malformed literal argument fails naming the function and the parameter") {
    sample
    def sqlError(call: String): String =
      intercept[IllegalArgumentException](spark.sql(s"SELECT $call FROM graft_sample")).getMessage
    assert(sqlError("minhash_signature(hs)") == "minhash_signature: takes 2 to 3 arguments, got 1")
    assert(sqlError("jaro_winkler(s, t, 1)") == "jaro_winkler: takes 2 arguments, got 3")
    assert(sqlError("minhash_signature(hs, id)").startsWith("minhash_signature: numHashes must be a constant"))
    assert(sqlError("minhash_signature(hs, 4294967297)") ==
      "minhash_signature: numHashes must fit in INT, got 4294967297")
  }

  test("count parameters are checked on both surfaces") {
    sample
    val e = intercept[IllegalArgumentException](minhash_signature(col("hs"), -1))
    assert(e.getMessage == "minhash_signature: numHashes must be >= 1, got -1")
    val s = intercept[IllegalArgumentException](spark.sql("SELECT srp_band_keys(v, 4, 65) FROM graft_sample"))
    assert(s.getMessage == "srp_band_keys: bits must be in [1, 64], got 65")
  }

  test("GraftExtensions injects exactly the declared functions") {
    val injected = ExtensionsProbe.injectedFunctions(new GraftExtensions)
    assert(injected.sorted == GraftFunctions.catalog.map(_.name).sorted)
    assert(injected.length == 21)
  }

  test("SQL function registry exposes the expression library") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  jaro_winkler('martha', 'marhta') AS jw,
        |  levenshtein_sim('kitten', 'sitting') AS lev,
        |  normalize_text('José  O''Neill') AS norm,
        |  simhash64(token_ngram_hashes(array('a','b','c'), 1)) AS sh,
        |  hamming_dist64(7L, 1L) AS ham,
        |  minhash_overlap(minhash_signature(array(1L, 2L, 3L), 16),
        |                  minhash_signature(array(1L, 2L, 3L), 16)) AS mh,
        |  jaccard_sorted(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS jac,
        |  rolling_fingerprint('abc') = rolling_fingerprint('abc') AS fp_det,
        |  cosine_sim(array(cast(1.0 as float), cast(0.0 as float)),
        |             array(cast(1.0 as float), cast(0.0 as float))) AS cos,
        |  extract_text(cast('<p>hi &amp; bye</p>' as binary)) AS txt
        |""".stripMargin).collect()(0)
    assert(math.abs(r.getAs[Double]("jw") - 0.9611) < 1e-3)
    assert(math.abs(r.getAs[Double]("lev") - (1.0 - 3.0 / 7.0)) < 1e-12)
    assert(r.getAs[String]("norm") == "jose o neill")
    assert(r.getAs[Int]("ham") == 2)
    assert(r.getAs[Double]("mh") == 1.0)
    assert(r.getAs[Double]("jac") == 0.5)
    assert(r.getAs[Boolean]("fp_det"))
    assert(math.abs(r.getAs[Double]("cos") - 1.0) < 1e-12)
    assert(r.getAs[String]("txt") == "hi & bye")
  }
}
