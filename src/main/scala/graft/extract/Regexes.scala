package graft.extract

import java.util.regex.Pattern

/** The readability heuristic regexes, semantics-equal to
  * /root/reference/readability/regexes.py:7-25 (case-insensitive, search
  * i.e. find-anywhere). Precompiled once per JVM (SURVEY.md §4).
  *
  * Four of the reference's patterns are bare `|`-lists of ASCII literals:
  * `unlikelyCandidates`, `okMaybeItsACandidate`, `positive` and `negative`.
  * They are [[Keywords]] here, matched with `indexOf` on a copy of the
  * input with A–Z folded to a–z. That is exact: Java's `CASE_INSENSITIVE`
  * without `UNICODE_CASE` folds ASCII letters only (so `K` U+212A, `İ`
  * U+0130 and `ſ` U+017F match nothing), and an alternation of literals
  * finds a match iff one of its literals occurs somewhere. The compiled
  * patterns stay in test scope as the reference (`KeywordsSpec`). The
  * patterns below are not literal lists and stay regexes.
  */
object Regexes {
  private def ci(p: String) = Pattern.compile(p, Pattern.CASE_INSENSITIVE)

  /** A case-insensitive find-anywhere test for a `|`-separated list of
    * lowercase ASCII literals. */
  final class Keywords(alternation: String) {
    private val words: Array[String] = alternation.split('|')

    /** Does any keyword occur in `s`, ignoring ASCII case? */
    def foundIn(s: String): Boolean = foundInFolded(foldAscii(s))

    /** As [[foundIn]], for a string already passed through [[foldAscii]]. */
    def foundInFolded(folded: String): Boolean = {
      var i = 0
      while (i < words.length) {
        if (folded.indexOf(words(i)) >= 0) return true
        i += 1
      }
      false
    }
  }

  /** `s` with A–Z mapped to a–z and every other char kept; `s` itself when
    * it has no ASCII capital. */
  def foldAscii(s: String): String = {
    var i = 0
    while (i < s.length && !isAsciiUpper(s.charAt(i))) i += 1
    if (i == s.length) return s
    val cs = s.toCharArray
    while (i < cs.length) {
      if (isAsciiUpper(cs(i))) cs(i) = (cs(i) + 32).toChar
      i += 1
    }
    new String(cs)
  }

  @inline private def isAsciiUpper(c: Char): Boolean = c >= 'A' && c <= 'Z'

  val unlikelyCandidates = new Keywords(
    "combx|comment|community|disqus|extra|foot|header|menu|remark|rss|shoutbox|sidebar|sponsor|ad-break|agegate|pagination|pager|popup|tweet|twitter")
  val okMaybeItsACandidate = new Keywords("and|article|body|column|main|shadow")
  val positive = new Keywords(
    "article|body|content|entry|hentry|main|page|pagination|post|text|blog|story")
  val negative = new Keywords(
    "combx|comment|com-|contact|foot|footer|footnote|masthead|media|meta|outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|tool|widget")
  val extraneous: Pattern = ci(
    "print|archive|comment|discuss|e[\\-]?mail|share|reply|all|login|sign|single")
  val divToPElements: Pattern = ci("<(a|blockquote|dl|div|img|ol|p|pre|table|ul)")
  // UNIX_LINES: `$` matches before a final '\n' only, as in Python's `re`
  val nextLink: Pattern =
    Pattern.compile("(next|weiter|continue|>[^\\|]$)", Pattern.CASE_INSENSITIVE | Pattern.UNIX_LINES)
  val prevLink: Pattern = ci("(prev|earl|old|new|<)")
  val page: Pattern = ci("pag(e|ing|inat)")
  val firstLast: Pattern = ci("(first|last)")

  @inline def search(p: Pattern, s: String): Boolean = p.matcher(s).find()
}
