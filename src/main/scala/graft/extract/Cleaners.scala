package graft.extract

import graft.dom.Node

/** The pre-clean stage (P1) and attribute stripper (P11).
  *
  * P1 reproduces the effective behavior of the reference's lxml `Cleaner`
  * configuration (/root/reference/readability/cleaners.py:28-32: scripts,
  * javascript, comments, style, links, processing_instructions on;
  * page_structure/forms/frames/embedded off): drop `<script>`, `<style>`,
  * `<link>` elements, comments and PIs; remove `on*` event attributes and
  * `style` attributes; blank `javascript:`/`vbscript:` URLs.
  * Implemented as a single tree pass (no serialization round-trip).
  */
object Cleaners {

  private val killTags = Set("script", "style", "link")

  /** In-place P1 clean. Dropped nodes keep their tails (lxml Cleaner uses
    * drop_tree-style removal via `el.drop_tree()`). The doomed nodes are
    * collected in document order, their subtrees unvisited, then dropped in
    * that order, so each tail joins where a drop during the walk would
    * join it. */
  def cleanHtml(root: Node): Unit = {
    val doomed = new scala.collection.mutable.ArrayBuffer[Node]
    val w = root.cursor
    while (w.next()) if (w.entering) {
      val c = w.node
      if ((c ne root) && (c.isComment || c.isPi || killTags.contains(c.tag))) {
        doomed += c
        w.skipChildren()
      } else cleanNodeAttrs(c)
    }
    doomed.foreach(_.dropTree())
  }

  private def cleanNodeAttrs(n: Node): Unit = {
    if (!n.hasAttrs) return
    val toRemove = n.attrs.keysIterator.filter { k =>
      (k.length > 2 && k.startsWith("on")) || k == "style"
    }.toList
    toRemove.foreach(n.removeAttr)
    for (urlAttr <- List("href", "src", "action")) {
      val v = n.attr(urlAttr)
      if (v != null) {
        val t = v.trim.toLowerCase(java.util.Locale.ROOT)
        if (t.startsWith("javascript:") || t.startsWith("vbscript:"))
          n.setAttr(urlAttr, "")
      }
    }
  }

  /** Python 2 `unicode.isspace()` — Unicode whitespace incl. NBSP and NEL,
    * which Java's `Character.isWhitespace` excludes. */
    @inline def pyIsSpace(c: Char): Boolean =
    Character.isWhitespace(c) || c == '\u00A0' || c == '\u2007' ||
      c == '\u202F' || c == '\u0085'

  /** `normalize_spaces` (/root/reference/readability/cleaners.py:22-26):
    * Python `' '.join(s.split())` — any (unicode) whitespace run to one
    * space, leading/trailing stripped. */
  def normalizeSpaces(s: String): String = {
    if (s == null || s.isEmpty) return ""
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    var started = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (pyIsSpace(c)) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
        started = true
      }
      i += 1
    }
    sb.toString
  }

  /** `clean` (/root/reference/readability/htmls.py:122-125):
    * `\s*\n\s*` → `\n`, then `[ \t]{2,}` → one space, then strip. The Py2
    * pattern has no re.UNICODE flag, so `\s` is ASCII-only there, while the
    * final unicode `.strip()` IS unicode-aware — replicated exactly. */
  def clean(text: String): String = {
    if (text == null) return ""
    val a = NL.matcher(text).replaceAll("\n")
    val b = MULTISPACE.matcher(a).replaceAll(" ")
    strip(b)
  }

  private val NL = java.util.regex.Pattern.compile(
    "[ \\t\\n\\x0B\\f\\r]*\\n[ \\t\\n\\x0B\\f\\r]*")
  private val MULTISPACE = java.util.regex.Pattern.compile("[ \\t]{2,}")

  /** Python 2 `unicode.strip()`. */
  def strip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && pyIsSpace(s.charAt(a))) a += 1
    while (b > a && pyIsSpace(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** Streaming `len(clean(text))` (htmls.py:122-125, readability.py:44-45)
    * without building the string or running the two regexes: the text
    * pieces of a subtree go through [[step]] one char at a time, with
    * exactly `clean`'s semantics: an ASCII-whitespace run containing '\n' →
    * one unit; each maximal [ \t] subrun → one unit; \r \f \x0B pass
    * through; unicode-stripped at both ends.
    *
    * It keeps a running total, [[units]], that ignores the stripping: one
    * unit per char outside an ASCII-whitespace run and the run's units when
    * the run closes, i.e. when the next char outside it arrives. A
    * whitespace run between two non-space chars is then counted whole, so
    * the clean length of any stretch of the stream is `units` after its
    * last non-space char minus `units` before its first.
    * `Extractor.TextStats` takes that difference for every node of a
    * subtree from one walk; TextStatsSpec and CleanLengthSpec pin it to
    * `clean(textContent).length`. */
  final class CleanLengthCounter {
    private var total = 0
    private var end = 0
    // pending ASCII-ws run state
    private var runUnits = 0
    private var runHasNl = false
    private var inTabSpace = false

    /** The running total of units so far. */
    def units: Int = total
    /** [[units]] just after the last non-space char (0 before the first). */
    def lastEnd: Int = end

    /** Feeds one char; true when it is a non-space char, which is then the
      * last one and ends at [[units]]. */
    @inline def step(c: Char): Boolean = {
      if (c == ' ' || c == '\t') {
        if (!inTabSpace) { runUnits += 1; inTabSpace = true }
        false
      } else if (c == '\n') {
        runHasNl = true; inTabSpace = false
        false
      } else if (c == '\r' || c == '\f' || c == '\u000B') { // pass through individually
        runUnits += 1; inTabSpace = false
        false
      } else {
        total += (if (runHasNl) 1 else runUnits) // close the run
        runUnits = 0; runHasNl = false; inTabSpace = false
        total += 1
        if (pyIsSpace(c)) false // unicode whitespace: kept by clean, stripped at ends
        else { end = total; true }
      }
    }
  }

  /** Streaming comma count of `node.text_content()`: `min(count, cap)`,
    * stopping the walk once `cap` is reached (sanitize only tests `< 10`,
    * readability.py:480). */
  def countCommas(n: Node, cap: Int = Int.MaxValue): Int = {
    var count = 0
    def countIn(s: String): Unit = if (s != null) {
      var i = 0
      while (count < cap && i < s.length) { if (s.charAt(i) == ',') count += 1; i += 1 }
    }
    val w = n.cursor
    while (count < cap && w.next()) {
      val x = w.node
      if (w.entering) { if (x.isElement) countIn(x.text) }
      else if (x ne n) countIn(x.tail)
    }
    count
  }
}
