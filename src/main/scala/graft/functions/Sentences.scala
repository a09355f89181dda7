package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Abbreviation-aware rule-based sentence splitter (SURVEY.md §2.2 P2): the
 * Spark-scale stand-in for the reference's spaCy statistical sentencizer
 * (`/root/reference/relik/inference/data/splitters/
 * spacy_sentence_splitter.py:43-113`). A statistical boundary model doesn't
 * belong in a codegen'd scan kernel; the rule below keeps the same output
 * SHAPE (list of sentences re-concatenable to the original text) with a
 * deterministic, oracle-replayable boundary decision:
 *
 *   boundary ⇔ one of `.` `!` `?`, followed by ≥1 literal space, followed
 *   by an ASCII uppercase letter, where the token ENDING at the punctuation
 *   is not a known abbreviation ("Dr.", "e.g.", …).
 *
 * Sentences partition the input exactly (concat(sentences) == text), the
 * invariant the window machinery downstream relies on. The scan is a single
 * forward pass (no regex backtracking), codegen'd as `split_sentences`.
 */
object SentenceKernels {

  /** Lowercased tokens that end with `.` but do not end a sentence. The
    * DuckDB oracle replay in `SparkEntry.oracleSql("p2_sentence_split")` /
    * `("p2b_sentence_windows")` carries the IDENTICAL list — extend both in
    * lockstep. */
  val ABBREV: java.util.Set[String] = {
    val s = new java.util.HashSet[String]()
    Seq(
      // titles / honorifics
      "mr.", "mrs.", "ms.", "dr.", "prof.", "sr.", "jr.", "st.", "gen.",
      "gov.", "sen.", "rep.", "rev.", "hon.", "capt.", "lt.", "sgt.", "col.",
      // corporate / citation
      "inc.", "corp.", "ltd.", "co.", "dept.", "univ.", "vs.", "etc.",
      "e.g.", "i.e.", "no.", "fig.", "al.", "approx.", "vol.", "pp.",
      "ed.", "eds.", "cf.", "ca.", "est.",
      // places / months
      "mt.", "ave.", "blvd.", "jan.", "feb.", "mar.", "apr.", "aug.",
      "sept.", "oct.", "nov.", "dec.").foreach(s.add)
    s
  }

  /** Initials pattern `([a-z]\.)+` on the LOWERCASED token — covers "J.",
    * "J.R.", "U.S.", "a.m." without enumerating them. Mirrored in the
    * DuckDB oracle as `regexp_matches(ltok, '^([a-z]\.)+$')`. */
  def isInitials(lowerTok: String): Boolean = {
    val n = lowerTok.length
    if (n < 2 || (n & 1) == 1) return false
    var i = 0
    while (i < n) {
      val c = lowerTok.charAt(i)
      if (c < 'a' || c > 'z') return false
      if (lowerTok.charAt(i + 1) != '.') return false
      i += 2
    }
    true
  }

  private def isBoundaryPunct(c: Char): Boolean = c == '.' || c == '!' || c == '?'

  def splitSentences(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    val out = new ArrayBuffer[UTF8String]()
    var start = 0
    var i = 0
    while (i < n) {
      if (isBoundaryPunct(str.charAt(i))) {
        var j = i + 1
        while (j < n && str.charAt(j) == ' ') j += 1
        if (j > i + 1 && j < n && str.charAt(j) >= 'A' && str.charAt(j) <= 'Z') {
          // candidate boundary: reject when the token ending here is a
          // known abbreviation
          var ts = i
          while (ts > start && str.charAt(ts - 1) != ' ') ts -= 1
          val lastTok = str.substring(ts, i + 1).toLowerCase(java.util.Locale.ROOT)
          if (!ABBREV.contains(lastTok) && !isInitials(lastTok)) {
            out += UTF8String.fromString(str.substring(start, j))
            start = j
          }
          i = j
        } else i += 1
      } else i += 1
    }
    if (start < n) out += UTF8String.fromString(str.substring(start))
    new GenericArrayData(out.toArray)
  }
}
