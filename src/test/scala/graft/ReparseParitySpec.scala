package graft

import graft.dom.{HtmlParser, Node, Serializer}
import graft.extract.{Cleaners2, ExtractOptions, Extractor, Summary}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Differential check of `getArticle`'s tail: `Extractor.extract`, which
  * strips attributes on the tree (`Cleaners2.stripAttributes`) and skips
  * the reparse when `HtmlParser.reparsesUnchanged` holds, against
  * [[ReparseReference]], which always serializes, strips the string with
  * the regex fixpoint and reparses. Summaries must be equal field for field.
  *
  * Each pass of the reference is also probed: where the tree strip applies
  * to the sanitized article, its serialization must equal the reference's
  * stripped string and be a fixpoint of the regex strip, and where the
  * predicate holds, the article must equal the reparsed one node for node.
  * Inputs: every html file under src/test/resources (with and without a
  * url), 20 k [[AttrSoups]], 20 k each of the `DivToPEquivalenceSpec.gen`
  * and `TransformParitySpec.gen` soups, and the hostile shapes at small n.
  */
class ReparseParitySpec extends AnyFunSuite {
  import ReparseParitySpec._

  private def same(a: Summary, b: Summary): Boolean =
    java.lang.Double.doubleToLongBits(a.confidence) ==
      java.lang.Double.doubleToLongBits(b.confidence) &&
      a.failed == b.failed && a.html == b.html && a.text == b.text &&
      a.spans.sameElements(b.spans)

  /** Extracts `html` both ways and probes every reference pass. */
  private def check(html: String, probe: Probe, what: => String,
      opts: ExtractOptions = ExtractOptions()): Unit = {
    val got = Extractor.extract(html, opts)
    val want = ReparseReference.extract(html, opts, probe.look)
    assert(probe.failure == null, s"$what: ${probe.failure}")
    assert(same(got, want), s"$what diverged\n=== got ===\n${got.html}\n=== want ===\n${want.html}")
  }

  private def pages: Vector[String] =
    Files.walk(Paths.get("src/test/resources")).iterator.asScala
      .filter(_.toString.endsWith(".html")).map(_.toString).toVector.sorted
      .map(f => new String(Files.readAllBytes(Paths.get(f)), ISO_8859_1))

  test("fast tail == reparsing reference on every test-resource page") {
    val probe = new Probe
    val all = pages
    assert(all.length >= 80)
    for ((html, i) <- all.zipWithIndex; url <- Seq(null, "http://example.com/a/b.html"))
      check(html, probe, s"page $i (url $url)", ExtractOptions(url = url))
    info(probe.toString)
    assert(probe.reused > 0 && probe.reparsed > 0)
  }

  test("fast tail == reparsing reference on 20 k attribute soups") {
    val probe = new Probe
    (0 until 20000).foreach(seed => check(AttrSoups.gen(seed), probe, s"seed $seed"))
    info(probe.toString)
    // every branch is taken often: the string path, the tree strip with a
    // reparse, and the tree strip without one
    assert(probe.stringPath > 1000 && probe.reparsed > 1000 && probe.reused > 1000, probe)
    assert(probe.stripped > 1000, probe)
  }

  test("fast tail == reparsing reference on the tag and <br> soups") {
    val probe = new Probe
    (0 until 20000).foreach { seed =>
      check(DivToPEquivalenceSpec.gen(seed), probe, s"div-to-p seed $seed")
      check(TransformParitySpec.gen(seed), probe, s"br seed $seed")
    }
    info(probe.toString)
    assert(probe.reused > 1000 && probe.reparsed > 1000, probe)
  }

  test("fast tail == reparsing reference on the hostile shapes") {
    val probe = new Probe
    for ((shape, i) <- HostileInputSpec.shapes.zipWithIndex; n <- Seq(1, 2, 50, 300))
      check(shape(n), probe, s"shape $i at n=$n")
    info(probe.toString)
  }

  test("tree strip == regex fixpoint, and the predicate == a reparse, on parsed soups") {
    var stripped, stable = 0
    val inputs = (0 until 5000).map(AttrSoups.gen) ++ (0 until 2000).map(DivToPEquivalenceSpec.gen)
    inputs.zipWithIndex.foreach { case (html, i) =>
      // the transforms retag divs whose block children a reparse splits off
      val doc = Extractor.parse(html)
      Extractor.prepare(doc, ruthless = false)
      val root = doc.findFirst("body").firstChild
      val before = Serializer.serialize(root)
      if (Cleaners2.stripAttributes(root)) {
        stripped += 1
        val after = Serializer.serialize(root)
        assert(after == Cleaners2.cleanAttributesString(before), s"input $i: $html")
        assert(Cleaners2.cleanAttributesString(after) == after, s"input $i: $html")
      } else assert(Serializer.serialize(root) == before, s"input $i left the tree alone")
      var c = root
      while (c != null) {
        if (c.isElement && HtmlParser.reparsesUnchanged(c)) {
          stable += 1
          assert(dump(HtmlParser.parseFragment(Serializer.serialize(c))) == dump(c),
            s"input $i, $c: $html")
        }
        c = if (c eq root) root.firstChild else c.nextSibling
      }
    }
    info(s"tree strip on $stripped of ${inputs.length} roots; $stable stable subtrees")
    assert(stripped > 1000 && stable > 1000)
  }
}

object ReparseParitySpec {

  /** Probes each reference pass; see the class comment. */
  final class Probe {
    var stringPath, reparsed, reused, stripped = 0
    var failure: String = null

    private def fail(msg: String): Unit = if (failure == null) failure = msg

    val look: (Node, String, Node) => Unit = (article, sanitized, cleaned) => {
      val before = Serializer.serialize(article)
      if (!Cleaners2.stripAttributes(article)) stringPath += 1
      else {
        val onTree = Serializer.serialize(article)
        if (onTree != before) stripped += 1
        if (onTree != sanitized) fail(s"tree strip\n$onTree\n!= string strip\n$sanitized")
        else if (Cleaners2.cleanAttributesString(onTree) != onTree)
          fail(s"tree strip left a strip site\n$onTree")
        if (HtmlParser.reparsesUnchanged(article)) {
          reused += 1
          if (dump(article) != dump(cleaned))
            fail(s"the reparse changed a stable article\n${dump(article)}\n${dump(cleaned)}")
        } else reparsed += 1
      }
    }

    override def toString: String =
      s"passes: $stringPath string strip, $reparsed tree strip + reparse, " +
        s"$reused tree strip, no reparse ($stripped stripped something)"
  }

  /** The tree as a string of every tag, attribute, text and tail, an empty
    * string written as an absent one: the serializer writes neither. */
  def dump(top: Node): String = {
    val sb = new StringBuilder
    def str(s: String): Unit =
      if (s == null || s.isEmpty) sb.append('-') else sb.append(s.length).append(':').append(s)
    val w = top.cursor
    while (w.next()) {
      val n = w.node
      if (w.entering) {
        sb.append('<').append(n.tag)
        if (n.hasAttrs) n.attrs.foreach { case (k, v) => sb.append(' ').append(k).append('='); str(v) }
        sb.append('>')
        str(n.text)
      } else {
        sb.append("</").append(n.tag).append('>')
        if (n ne top) str(n.tail)
      }
    }
    sb.toString
  }
}
