package graft.extract

import graft.dom.Node

import scala.collection.mutable

/** Multi-page article logic — /root/reference/readability/multi_page.py.
  * Fetch-free: the engine implements the pure scoring/URL functions for
  * parity (the reference's own flagship path early-returns page-0 and never
  * fetches — SURVEY.md §2k); network append is excluded (no egress at
  * 10^12-turn scale).
  */
object Pages {

  val PageClass = "article-page"

  // ---- find_base_url (multi_page.py:22-132) ----

  private val pageNumberRe = java.util.regex.Pattern.compile(
    "((_|-)?p[a-z]*|(_|-))[0-9]{1,2}$", java.util.regex.Pattern.UNIX_LINES)
  // case-SENSITIVE: the reference passes re.IGNORECASE as re.sub's `count`
  // argument, not flags (multi_page.py:50) — the flag never applies.
  // UNIX_LINES: `$` matches before a final '\n' only, as in Python's `re`.

  private def cleanSegmentPageNumber(segments: Array[String], index: Int,
      segment: String): String = {
    if (index >= segments.length - 2) {
      val cleaned = pageNumberRe.matcher(segment).replaceAll("")
      if (cleaned.isEmpty) null else cleaned
    } else segment
  }

  private def cleanSegmentNumber(segments: Array[String], index: Int,
      segment: String): String = {
    if (index >= segments.length - 2 && segment.matches("\\d{1,2}")) null
    else segment
  }

  private def cleanSegmentIndex(segments: Array[String], index: Int,
      segment: String): String = {
    if (index == segments.length - 1 && segment.toLowerCase(java.util.Locale.ROOT) == "index") null
    else segment
  }

  private def cleanSegmentShort(segments: Array[String], index: Int,
      segment: String): String = {
    // Quirk preserved: checks the LAST segment for alphas, not this one
    // (multi_page.py:81 uses segments[-1])
    val lastHasAlpha = segments.last.exists(Character.isLetter)
    if (index >= segments.length - 2 && segment.length < 3 && !lastHasAlpha) null
    else segment
  }

  private def cleanSegment(segments: Array[String], index: Int,
      segment0: String): String = {
    var seg = segment0
    // 1. extension strip (multi_page.py:22-32)
    if (seg != null) {
      val dot = seg.indexOf('.')
      if (dot >= 0) {
        val parts = seg.split("\\.", -1)
        val possibleType = parts(1)
        val hasNonAlpha = possibleType.exists(c => !((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')))
        if (!hasNonAlpha) seg = parts(0)
      }
    }
    // 2. EW-CMS ',00' removal (multi_page.py:34-43)
    if (seg != null) seg = seg.replace(",00", "")
    // 3. page-number strip (multi_page.py:45-56)
    if (seg != null) seg = cleanSegmentPageNumber(segments, index, seg)
    // 4. pure 1-2 digit segment (multi_page.py:58-64)
    if (seg != null) seg = cleanSegmentNumber(segments, index, seg)
    // 5. trailing 'index' (multi_page.py:66-70)
    if (seg != null) seg = cleanSegmentIndex(segments, index, seg)
    // 6. short non-alpha segment (multi_page.py:72-85)
    if (seg != null) seg = cleanSegmentShort(segments, index, seg)
    seg
  }

  /** `find_base_url` (multi_page.py:121-132). */
  def findBaseUrl(url: String): String = {
    if (url == null) return null
    val parts = PyUrl.urlsplit(url)
    val segments = parts.path.split("/", -1)
    val cleaned = segments.zipWithIndex
      .map { case (s, i) => cleanSegment(segments, i, s) }
      .filter(_ != null)
    val newPath = cleaned.mkString("/")
    PyUrl.urlunsplit(PyUrl.SplitUrl(parts.scheme, parts.netloc, newPath, "", ""))
  }

  // ---- next-page link scoring (multi_page.py:134-337) ----

  final class NextPageCandidate(var linkText: String, val href: String) {
    var score: Int = 0
  }

  /** `same_domain` (multi_page.py:146-152). */
  def sameDomain(lhs: String, rhs: String): Boolean = {
    val l = PyUrl.urlsplit(lhs).netloc
    val r = PyUrl.urlsplit(rhs).netloc
    l.isEmpty || r.isEmpty || l == r
  }

  def stripTrailingSlash(s: String): String =
    if (s.endsWith("/")) s.substring(0, s.length - 1) else s

  /** `eval_possible_next_page_link` (multi_page.py:201-307) feature scoring,
    * followed by `find_next_page_url`'s argmax with the ≥50 threshold
    * (multi_page.py:309-337). `parsedUrls` is mutated (winner added). */
  /** All scored next-page candidates (debug/analysis surface). */
  def nextPageCandidates(parsedUrls: mutable.Set[String], url: String,
      elem: Node): mutable.LinkedHashMap[String, NextPageCandidate] = {
    val baseUrl = findBaseUrl(url)
    val candidates = mutable.LinkedHashMap.empty[String, NextPageCandidate]
    elem.findAll("a").foreach { link =>
      evalPossibleNextPageLink(parsedUrls, url, baseUrl, candidates, link)
    }
    candidates
  }

  def findNextPageUrl(parsedUrls: mutable.Set[String], url: String,
      elem: Node): String = {
    val candidates = nextPageCandidates(parsedUrls, url, elem)
    var top: NextPageCandidate = null
    candidates.values.foreach { c =>
      if (c.score >= 50 && (top == null || top.score < c.score)) top = c
    }
    if (top != null) { parsedUrls += top.href; top.href }
    else null
  }

  private def evalPossibleNextPageLink(parsedUrls: mutable.Set[String],
      url: String, baseUrl: String,
      candidates: mutable.LinkedHashMap[String, NextPageCandidate],
      link: Node): Unit = {
    val rawHref = link.attr("href")
    if (rawHref == null) return
    val href = stripTrailingSlash(rawHref)
    if (href == baseUrl || href == url || parsedUrls.contains(href)) return
    if (url != null && !sameDomain(url, href)) return

    val linkText0 = Cleaners.clean(link.textContent)
    if (Regexes.search(Regexes.extraneous, linkText0) || linkText0.length > 25) return

    if (baseUrl != null) {
      val leftover = href.replace(baseUrl, "")
      if (!leftover.exists(Character.isDigit)) return
    }

    val (candidate, created) = candidates.get(href) match {
      case Some(c) => (c, false)
      case None =>
        val c = new NextPageCandidate(linkText0, href)
        candidates(href) = c
        (c, true)
    }
    if (!created) candidate.linkText += " | " + linkText0

    val linkClassName = link.attrOr("class", "")
    val linkId = link.attrOr("id", "")
    val linkData = linkText0 + " " + linkClassName + " " + linkId

    if (baseUrl != null && !href.startsWith(baseUrl)) candidate.score -= 25
    if (Regexes.search(Regexes.nextLink, linkData)) candidate.score += 50
    if (Regexes.search(Regexes.page, linkData)) candidate.score += 25
    if (Regexes.search(Regexes.firstLast, linkData)) {
      if (!Regexes.search(Regexes.nextLink, candidate.linkText))
        candidate.score -= 65
    }
    if (Regexes.negative.foundIn(linkData) ||
      Regexes.search(Regexes.extraneous, linkData)) candidate.score -= 50
    if (Regexes.search(Regexes.prevLink, linkData)) candidate.score -= 200

    var parent = link.parent
    var positiveMatch = false
    var negativeMatch = false
    while (parent != null) {
      val parentClassAndId = parent.attrOr("class", "") + " " + parent.attrOr("id", "")
      if (!positiveMatch && Regexes.search(Regexes.page, parentClassAndId)) {
        positiveMatch = true
        candidate.score += 25
      }
      if (!negativeMatch && Regexes.negative.foundIn(parentClassAndId) &&
        !Regexes.positive.foundIn(parentClassAndId)) {
        negativeMatch = true
        candidate.score -= 25
      }
      parent = parent.parent
    }

    if (Regexes.search(Regexes.page, href)) candidate.score += 25
    if (Regexes.search(Regexes.extraneous, href)) candidate.score -= 15

    // numeric link text (multi_page.py:294-305): Python int() accepts
    // surrounding whitespace and a sign
    parsePyInt(linkText0).foreach { n =>
      if (n == 1) candidate.score -= 10
      else candidate.score += math.max(0, 10 - n)
    }
  }

  private def parsePyInt(s: String): Option[Int] = {
    val t = s.trim
    if (t.isEmpty) None
    else try Some(Integer.parseInt(t)) catch { case _: NumberFormatException => None }
  }

  // ---- duplicate suppression (multi_page.py:346-365) ----

  /** `is_suspected_duplicate` (multi_page.py:353-365): first-`<p>` text of
    * the new page vs each existing `article-page` div. */
  def isSuspectedDuplicate(doc: Node, pageDoc: Node): Boolean = {
    val pageP = pageDoc.findFirst("p") // xpath `.//p`, self excluded
    if (pageP == null) return false
    val pages = doc.iterSubtree.filter { n =>
      n.isElement && n.attrOr("class", "").contains(PageClass)
    }.toVector
    val pagePContent = pageP.textContent
    pages.exists { existing =>
      val p = existing.findFirst("p")
      p != null && p.textContent == pagePContent
    }
  }

  /** `make_page_elem` (multi_page.py:342-344). */
  def makePageElem(pageIndex: Int, elem: Node): Unit = {
    elem.setAttr("id", s"page-${pageIndex + 1}")
    elem.setAttr("class", PageClass)
  }
}
