package graft.functions

import java.nio.charset.StandardCharsets
import java.util.Locale

import org.apache.spark.unsafe.types.UTF8String

/**
 * Deterministic, frozen HTML→text extraction (north-rule per-row invariant:
 * byte-identical `text` per `url`; see BASELINE.json:input_hint and
 * SURVEY.md §2.2 P15).
 *
 * The reference pipeline consumes pre-extracted text
 * (`/root/reference/relik/inference/annotator.py:250-630` takes `str` input);
 * our corpus carries `html BINARY`, so extraction is a pure function of the
 * bytes — no locale, no time, no config dependence:
 *
 *  - UTF-8 decode with replacement for malformed sequences
 *  - `<script>`/`<style>`/comments dropped wholesale
 *  - block-level tags (p, div, h1-h6, li, ul, ol, table, tr, br, title,
 *    article, section, header, footer) emit a newline; inline tags vanish
 *  - the 6 named entities (amp lt gt quot apos nbsp) + numeric refs decoded
 *  - horizontal whitespace runs collapse to one space, blank lines dropped,
 *    lines trimmed, final string trimmed
 *
 * Block-level newlines are retained (not collapsed into spaces) so that the
 * first line of extracted text is the page's title/h1 — the mention anchor
 * the ER pipeline uses (SURVEY.md §3.2 stage 1).
 */
object TextExtract {

  private val blockTags: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "table", "tr", "br", "title", "article", "section", "header", "footer",
    "blockquote", "pre", "hr", "td", "th")

  /** Pure html-bytes → text. */
  def extract(html: Array[Byte]): String = {
    if (html == null) return null
    extractString(new String(html, StandardCharsets.UTF_8))
  }

  /** [[extract]] as the `extract_text` kernel's STRING result. */
  def extractU(html: Array[Byte]): UTF8String = UTF8String.fromString(extract(html))

  def extractString(s: String): String = {
    val n = s.length
    val out = new java.lang.StringBuilder(n / 2)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        // comment?
        if (i + 3 < n && s.charAt(i + 1) == '!' && s.charAt(i + 2) == '-' && s.charAt(i + 3) == '-') {
          val end = s.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else {
          val close = s.indexOf('>', i + 1)
          if (close < 0) { i = n } // truncated tag: drop rest
          else {
            val inner = s.substring(i + 1, close)
            val name = tagName(inner)
            if (name == "script" || name == "style") {
              val endTag = indexOfIgnoreCase(s, "</" + name, close + 1)
              if (endTag < 0) { i = n }
              else {
                val gt = s.indexOf('>', endTag)
                i = if (gt < 0) n else gt + 1
              }
            } else {
              if (blockTags.contains(name)) out.append('\n')
              i = close + 1
            }
          }
        }
      } else if (c == '&') {
        val (decoded, next) = decodeEntity(s, i)
        out.append(decoded)
        i = next
      } else {
        out.append(c)
        i += 1
      }
    }
    normalizeWhitespace(out.toString)
  }

  private def tagName(inner: String): String = {
    var st = 0
    if (st < inner.length && inner.charAt(st) == '/') st += 1
    var e = st
    while (e < inner.length && Character.isLetterOrDigit(inner.charAt(e))) e += 1
    inner.substring(st, e).toLowerCase(Locale.ROOT)
  }

  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    val ln = needle.length
    var i = from
    val max = s.length - ln
    while (i <= max) {
      if (s.regionMatches(true, i, needle, 0, ln)) return i
      i += 1
    }
    -1
  }

  /** Decode one entity starting at s(i)=='&'; returns (text, nextIndex). */
  private def decodeEntity(s: String, i: Int): (String, Int) = {
    val semi = s.indexOf(';', i + 1)
    if (semi < 0 || semi - i > 10) return ("&", i + 1)
    val body = s.substring(i + 1, semi)
    val rep: String = body match {
      case "amp"  => "&"
      case "lt"   => "<"
      case "gt"   => ">"
      case "quot" => "\""
      case "apos" => "'"
      case "nbsp" => " "
      case b if b.startsWith("#x") || b.startsWith("#X") =>
        try String.valueOf(Character.toChars(Integer.parseInt(b.substring(2), 16)))
        catch { case _: Exception => null }
      case b if b.startsWith("#") =>
        try String.valueOf(Character.toChars(Integer.parseInt(b.substring(1))))
        catch { case _: Exception => null }
      case _ => null
    }
    if (rep == null) ("&", i + 1) else (rep, semi + 1)
  }

  /** Collapse horizontal runs to ' ', trim lines, drop blank lines. */
  private def normalizeWhitespace(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var pendingSpace = false
    var pendingNewline = false
    var atLineStart = true
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\n') { pendingNewline = true; pendingSpace = false }
      else if (c == ' ' || c == '\t' || c == '\r' || c == '\u00a0' || c == '\f') {
        pendingSpace = true
      } else {
        if (pendingNewline && !atLineStart) { out.append('\n'); atLineStart = true }
        else if (pendingSpace && !atLineStart) out.append(' ')
        pendingNewline = false; pendingSpace = false
        out.append(c); atLineStart = false
      }
      i += 1
    }
    out.toString
  }
}
