package graft

import graft.dom.{HtmlParser, Node}
import graft.extract.{Cleaners, Extractor}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Differential test of the one-walk table that scoring, sanitize, the
  * header test and the sibling merge read. On every element,
  * `Extractor.TextStats` must equal the reference's own definitions:
  * `len(clean(text_content()))`, the `,`s in `textContent`, and the sum of
  * the clean lengths of the `.//a` descendants. Its `p` / `pre` / `td`
  * lists must equal `findAll`, and its `img` / `li` / `input` / `embed`
  * counts `findAll(_).size`, on one table per element, as sanitize builds
  * them. Inputs: every html file under src/test/resources, 20 k seeded tag
  * soups with whitespace of every class the clean length treats apart and
  * commas injected into their text, and the hostile shapes at small sizes.
  * Each page is checked as parsed and as `getArticle` hands it to scoring,
  * where `scoreParagraphs` must also equal the naive per-node loop it
  * replaced, score for score. */
class TextStatsSpec extends AnyFunSuite {
  import TextStatsSpec._

  private def checkTable(doc: Node, what: => String): Unit = {
    val t = new Extractor.TextStats(doc)
    var i = 0
    val w = doc.cursor
    while (w.next()) if (w.entering) {
      val n = w.node
      assert(t.nodes(i) eq n, s"$what: node $i")
      if (n.isElement) {
        assert(t.cleanLen(i) == cleanLen(n), s"$what: cleanLen of $n")
        assert(t.commas(i) == n.textContent.count(_ == ','), s"$what: commas of $n")
        assert(t.linkLen(i) == linkLen(n), s"$what: linkLen of $n")
        checkCounts(n, s"$what, $n")
      }
      i += 1
    }
    assert(t.size == i, what)
    for ((tag, list) <- Seq("p" -> t.p, "pre" -> t.pre, "td" -> t.td))
      assert(list.map(t.nodes(_)).toSeq == doc.findAll(tag).toSeq, s"$what: $tag list")
  }

  /** A table built on `n` counts `n`'s descendants, not `n`, as `findAll`
    * finds them. */
  private def checkCounts(n: Node, what: => String): Unit = {
    val t = new Extractor.TextStats(n)
    for ((tag, count) <- Seq("p" -> t.p.length, "img" -> t.img, "li" -> t.li,
        "input" -> t.input, "embed" -> t.embed))
      assert(count == n.findAll(tag).size, s"$what: $tag count")
  }

  /** `scoreParagraphs` equals the naive loop: same candidates, same
    * insertion order, bit-equal scores. */
  private def checkScores(doc: Node, what: => String): Unit = {
    val got = Extractor.scoreParagraphs(doc).toSeq
    val want = TextStatsSpec.naiveScoreParagraphs(doc).toSeq
    assert(got.map(_._1) == want.map(_._1), s"$what: candidates")
    got.zip(want).foreach { case ((n, a), (_, b)) =>
      assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b),
        s"$what: score of $n: $a != $b")
    }
  }

  /** The page as parsed, then as `getArticle`'s ruthless pass scores it. */
  private def checkPage(html: String, what: => String): Unit = {
    checkTable(HtmlParser.parse(html), s"$what (parsed)")
    val doc = Extractor.parse(html)
    Extractor.removeUnlikelyCandidates(doc)
    Extractor.transformDoubleBreaks(doc)
    Extractor.transformMisusedDivs(doc)
    checkTable(doc, s"$what (scored)")
    checkScores(doc, what)
  }

  test("table equals the per-node functions on every fixture page") {
    val files = Files.walk(Paths.get("src/test/resources")).iterator.asScala
      .filter(_.toString.endsWith(".html")).toVector.sorted
    assert(files.nonEmpty)
    files.foreach(f => checkPage(new String(Files.readAllBytes(f), ISO_8859_1), f.toString))
  }

  // ASCII runs (with and without '\n'), the separators Java calls
  // whitespace, unicode spaces that clean keeps inside and strips at the
  // ends, and commas
  private val injected: Array[Char] = Array('\n', '\t', '\r', '\f', '\u000B', ' ',
    '\u001c', '\u001d', '\u001e', '\u001f', '\u00A0', '\u2007', '\u202F', '\u0085', ',')

  private def inject(rnd: Random, s: String): String = {
    val sb = new StringBuilder(if (s == null) "" else s)
    (0 until rnd.nextInt(5)).foreach { _ =>
      sb.insert(rnd.nextInt(sb.length + 1), injected(rnd.nextInt(injected.length)))
    }
    if (sb.isEmpty && s == null) null else sb.toString
  }

  test("table equals the per-node functions on 20 k tag soups with injected whitespace and commas") {
    (0 until 20000).foreach { seed =>
      val rnd = new Random(seed)
      val doc = HtmlParser.parse(DivToPEquivalenceSpec.gen(seed))
      doc.iterSubtree.foreach { n =>
        n.text = inject(rnd, n.text)
        if (n ne doc) n.tail = inject(rnd, n.tail)
      }
      checkTable(doc, s"seed $seed")
      checkScores(doc, s"seed $seed")
    }
  }

  test("table equals the per-node functions on the hostile shapes") {
    HostileInputSpec.shapes.zipWithIndex.foreach { case (shape, k) =>
      Seq(1, 2, 50, 300).foreach(n => checkPage(shape(n), s"shape $k, n=$n"))
    }
  }

  test("a doc with a parent: the grandparent above it scores as the naive loop does") {
    val host = HtmlParser.parse("<div class=\"host\"><div id=\"doc\"><p>" +
      "<a href=\"x\">a link of some length</a> and the rest of a long sentence, here.</p>" +
      "</div></div>")
    val doc = host.findAll("div").find(_.attr("id") == "doc").get
    checkScores(doc, "doc with a parent")
    assert(Extractor.scoreParagraphs(doc).keys.toSeq == Seq(doc, doc.parent))
  }
}

/** The per-node `score_paragraphs` loop that the one-walk table replaced,
  * on the reference's own definitions: `findAll` per tag, clean length and
  * comma count per paragraph, link density per candidate. */
object TextStatsSpec {
  /** `len(clean(text_content()))` (readability.py:44-45). */
  def cleanLen(n: Node): Int = Cleaners.clean(n.textContent).length

  /** `sum(text_length(a) for a in findall('.//a'))` (readability.py:381-388). */
  def linkLen(n: Node): Int = n.findAll("a").map(cleanLen).sum

  /** `get_link_density` (readability.py:381-388). */
  def linkDensity(n: Node): Double = linkLen(n).toDouble / math.max(cleanLen(n), 1)

  def naiveScoreParagraphs(doc: Node): mutable.LinkedHashMap[Node, Double] = {
    val candidates = mutable.LinkedHashMap.empty[Node, Double]
    val contributing = new mutable.ArrayBuffer[Node]
    for (tag <- Seq("p", "pre", "td"); elem <- doc.findAll(tag)) {
      val parentNode = elem.parent
      val grandParent = parentNode.parent
      val innerTextLen = cleanLen(elem)
      if (innerTextLen >= 25) {
        if (!candidates.contains(parentNode)) {
          candidates(parentNode) = Extractor.scoreNode(parentNode)
          contributing += parentNode
        }
        if (grandParent != null && !candidates.contains(grandParent)) {
          candidates(grandParent) = Extractor.scoreNode(grandParent)
          contributing += grandParent
        }
        var contentScore = 1.0
        contentScore += elem.textContent.count(_ == ',') + 1
        contentScore += math.min(innerTextLen / 100, 3)
        candidates(parentNode) = candidates(parentNode) + contentScore
        if (grandParent != null)
          candidates(grandParent) = candidates(grandParent) + contentScore / 2.0
      }
    }
    contributing.foreach { elem =>
      candidates(elem) = candidates(elem) * (1 - linkDensity(elem))
    }
    candidates
  }
}
