package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** A literal argument of a [[Kernel]]: INT, or BIGINT when `long`. A
  * trailing one with a `default` may be left out of a SQL call; `ok`
  * bounds its value, as `rule` says. */
private[graft] final case class Param(name: String, long: Boolean = false,
    default: Option[Long] = None, rule: String = "", ok: Long => Boolean = _ => true)

private[graft] object Param {
  def count(name: String): Param = Param(name, rule = ">= 1", ok = _ >= 1)
  val seed: Param = Param("seed", long = true, default = Some(42L))
}

/**
 * One graft function, declared once: its SQL name, the static method of a
 * kernel object it calls, the types of its column arguments, its result
 * type and its literal parameters. The Column API, [[GraftFunctions.register]]
 * and `graft.plans.GraftExtensions` all build calls with [[build]].
 */
private[graft] final case class Kernel(name: String, kernels: AnyRef, method: String,
    inputs: Seq[DataType], result: DataType, params: Param*) {

  /** The call on `args`: the column arguments, then one constant per
    * parameter. Fails naming the function (and the parameter) on a wrong
    * argument count, or on a parameter that is not a constant integer
    * within its type and rule. */
  def build(args: Seq[Expression]): Expression = {
    val (min, max) = (inputs.length + params.count(_.default.isEmpty), inputs.length + params.length)
    if (args.length < min || args.length > max)
      fail(s"takes ${if (min == max) s"$max" else s"$min to $max"} arguments, got ${args.length}")
    val consts = params.zipWithIndex.map { case (p, i) =>
      val v = args.lift(inputs.length + i).fold(p.default.get)(read(p, _))
      if (p.long) Literal(v) else Literal(v.toInt)
    }
    ColumnBridge.kernel(name, kernels, method,
      inputs ++ params.map(p => if (p.long) LongType else IntegerType), result,
      args.take(inputs.length) ++ consts)
  }

  /** The Column-API call: the column arguments, then the parameter values. */
  def apply(cols: Column*)(consts: Long*): Column =
    ColumnBridge.column(build(cols.map(ColumnBridge.expression) ++ consts.map(Literal(_))))

  private def read(p: Param, e: Expression): Long = {
    val v = (if (e.foldable) e.eval() else fail(s"${p.name} must be a constant, got $e")) match {
      case i: Int  => i.toLong
      case l: Long => l
      case _       => fail(s"${p.name} must be an INT or BIGINT, got $e")
    }
    if (!p.long && v != v.toInt) fail(s"${p.name} must fit in INT, got $v")
    if (!p.ok(v)) fail(s"${p.name} must be ${p.rule}, got $v")
    v
  }

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(s"$name: $msg")
}

/**
 * Column-API + SQL surface of the graft function library (SURVEY.md §2.9,
 * §2.11). Mirrors `org.apache.spark.sql.functions`: each kernel gets a
 * typed `Column` wrapper, plus optional SQL registration so
 * `spark.sql("SELECT jaro_winkler(a,b) ...")` works.
 */
object GraftFunctions {
  import Param.{count, seed}

  private val longs = ArrayType(LongType, containsNull = false)

  private val extractText = Kernel("extract_text", TextExtract, "extractU", Seq(BinaryType), StringType)
  private val normalizeText =
    Kernel("normalize_text", StringSimKernels, "normalizeU", Seq(StringType), StringType)
  private val tokenizeOffsets = Kernel("tokenize_offsets", TokenizeKernels, "tokenizeOffsets",
    Seq(StringType), ArrayType(TokenizeKernels.tokenType, containsNull = false))
  private val splitSentences = Kernel("split_sentences", SentenceKernels, "splitSentences",
    Seq(StringType), ArrayType(StringType, containsNull = false))
  private val jaroWinkler = Kernel("jaro_winkler", StringSimKernels, "jaroWinklerU",
    Seq(StringType, StringType), DoubleType)
  private val levenshteinSim = Kernel("levenshtein_sim", StringSimKernels, "levenshteinSim",
    Seq(StringType, StringType), DoubleType)
  private val charShingleHashes = Kernel("char_shingle_hashes", HashKernels, "charShingles",
    Seq(StringType), longs, count("k"), seed)
  private val tokenNgramHashes = Kernel("token_ngram_hashes", HashKernels, "tokenNgrams",
    Seq(ArrayType(StringType)), longs, count("n"), seed)
  private val tokenNgramHashSeq = Kernel("token_ngram_hash_seq", HashKernels, "tokenNgramSeq",
    Seq(ArrayType(StringType)), longs, count("n"), seed)
  private val tfFilteredHashes = Kernel("tf_filtered_hashes", HashKernels, "tfFilteredHashes",
    Seq(ArrayType(StringType)), longs, Param("minTf"), Param("minKeep"), seed)
  private val minhashSignature = Kernel("minhash_signature", HashKernels, "minHashSig",
    Seq(ArrayType(LongType)), longs, count("numHashes"), seed)
  private val minhashBandKeys = Kernel("minhash_band_keys", HashKernels, "bandKeys",
    Seq(ArrayType(LongType)), longs, count("bands"), count("rowsPerBand"))
  private val simhash64Kernel = Kernel("simhash64", HashKernels, "simHash",
    Seq(ArrayType(LongType)), LongType, seed)
  private val simhashBandKeys = Kernel("simhash_band_keys", HashKernels, "simhashBandKeys",
    Seq(LongType), longs,
    Param("segments", rule = "a divisor of 64, >= 2", ok = s => s >= 2 && 64 % s == 0),
    Param("choose", rule = "1 or 2", ok = c => c == 1 || c == 2))
  private val rollingFingerprint = Kernel("rolling_fingerprint", HashKernels, "rollingFingerprint",
    Seq(StringType), LongType)
  private val hammingDist64 = Kernel("hamming_dist64", HashKernels, "hammingDistance64",
    Seq(LongType, LongType), IntegerType)
  private val minhashOverlap = Kernel("minhash_overlap", HashKernels, "sigOverlap",
    Seq(ArrayType(LongType), ArrayType(LongType)), DoubleType)
  private val jaccardSorted = Kernel("jaccard_sorted", HashKernels, "jaccardSorted",
    Seq(ArrayType(LongType), ArrayType(LongType)), DoubleType)
  private val cosineSim = Kernel("cosine_sim", VectorKernels, "cosine",
    Seq(ArrayType(FloatType), ArrayType(FloatType)), DoubleType)
  private val dotProduct = Kernel("dot_product", VectorKernels, "dot",
    Seq(ArrayType(FloatType), ArrayType(FloatType)), DoubleType)
  private val srpBandKeys = Kernel("srp_band_keys", VectorKernels, "srpBandKeys",
    Seq(ArrayType(FloatType)), longs, count("bands"),
    Param("bits", rule = "in [1, 64]", ok = b => b >= 1 && b <= 64), seed)

  /** Every graft function, in registration order. */
  private[graft] val catalog: Seq[Kernel] = Seq(extractText, normalizeText, tokenizeOffsets,
    splitSentences, jaroWinkler, levenshteinSim, charShingleHashes, tokenNgramHashes,
    tokenNgramHashSeq, tfFilteredHashes, minhashSignature, minhashBandKeys, simhash64Kernel,
    simhashBandKeys, rollingFingerprint, hammingDist64, minhashOverlap, jaccardSorted,
    cosineSim, dotProduct, srpBandKeys)

  /** html BINARY -> extracted text (frozen, byte-identical per input). */
  def extract_text(html: Column): Column = extractText(html)()

  /** NFD-fold + lowercase(ROOT) + alnum-collapse normalization. */
  def normalize_text(s: Column): Column = normalizeText(s)()

  /** Offset-preserving whitespace tokenizer: ARRAY<STRUCT<text,i,idx,idx_end>>. */
  def tokenize_offsets(s: Column): Column = tokenizeOffsets(s)()

  /** Abbreviation-aware sentence split (P2); sentences partition the text. */
  def split_sentences(s: Column): Column = splitSentences(s)()

  def jaro_winkler(a: Column, b: Column): Column = jaroWinkler(a, b)()

  def levenshtein_sim(a: Column, b: Column): Column = levenshteinSim(a, b)()

  def char_shingle_hashes(text: Column, k: Int, seed: Long = 42L): Column =
    charShingleHashes(text)(k, seed)

  def token_ngram_hashes(tokens: Column, n: Int, seed: Long = 42L): Column =
    tokenNgramHashes(tokens)(n, seed)

  /** Positional (in-order, duplicates kept) twin of [[token_ngram_hashes]]. */
  def token_ngram_hash_seq(tokens: Column, n: Int, seed: Long = 42L): Column =
    tokenNgramHashSeq(tokens)(n, seed)

  def tf_filtered_hashes(tokens: Column, minTf: Int = 2, minKeep: Int = 8, seed: Long = 42L): Column =
    tfFilteredHashes(tokens)(minTf, minKeep, seed)

  def minhash_signature(hashes: Column, numHashes: Int, seed: Long = 42L): Column =
    minhashSignature(hashes)(numHashes, seed)

  def minhash_band_keys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    minhashBandKeys(sig)(bands, rowsPerBand)

  def simhash64(hashes: Column, seed: Long = 42L): Column = simhash64Kernel(hashes)(seed)

  def simhash_band_keys(fp: Column, segments: Int, choose: Int): Column =
    simhashBandKeys(fp)(segments, choose)

  def rolling_fingerprint(text: Column): Column = rollingFingerprint(text)()

  def hamming_dist64(a: Column, b: Column): Column = hammingDist64(a, b)()

  def minhash_overlap(a: Column, b: Column): Column = minhashOverlap(a, b)()

  def jaccard_sorted(a: Column, b: Column): Column = jaccardSorted(a, b)()

  def cosine_sim(a: Column, b: Column): Column = cosineSim(a, b)()

  def dot_product(a: Column, b: Column): Column = dotProduct(a, b)()

  def srp_band_keys(vec: Column, bands: Int, bits: Int, seed: Long = 42L): Column =
    srpBandKeys(vec)(bands, bits, seed)

  /** 128-bit identity key: two independently-seeded xxhash64 lanes packed
    * as STRUCT<h1:BIGINT,h2:BIGINT> — a 16-byte, codegen'd, orderable
    * shuffle key. A single 64-bit lane is NOT identity at web scale
    * (C(n,2)/2^64 ≈ 2.7·10^4 expected false merges at 10^12 rows); two
    * lanes push that to ~10^-15 corpus-wide. xxhash64 mixes its column
    * list, so the distinct literal lane salt yields an independent hash.
    * Used as the content key by the dedup tier and as the node id by the
    * ER hot path (urls mapped in once, restored once at output). */
  def id128(c: Column): Column = {
    import org.apache.spark.sql.{functions => F}
    F.struct(F.xxhash64(c).as("h1"),
      F.xxhash64(F.lit(0x9e3779b97f4a7c15L), c).as("h2"))
  }

  /** Register the SQL-facing functions on a session (idempotent). */
  def register(spark: SparkSession): Unit =
    catalog.foreach(k => spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(k.name, k.build, "built-in"))
}
