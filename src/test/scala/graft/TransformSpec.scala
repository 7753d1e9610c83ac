package graft

import graft.dom.{HtmlParser, Node, Serializer}
import graft.extract.Extractor
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Golden DOM-to-DOM pairs for the double-break → paragraph transform
  * (TestTransformDoubleBreaksIntoParagraphs,
  * /root/reference/readability/readability_test.py:273-310). Both sides go
  * through OUR parser+serializer, so the comparison isolates the transform. */
class TransformSpec extends AnyFunSuite {

  private def res(name: String): String = {
    val p = Paths.get(getClass.getResource(s"/test_data/$name").toURI)
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
  }

  private def testOne(id: String): Unit = {
    val doc = HtmlParser.parse(res(s"double-breaks-$id-original.html"))
    Extractor.transformDoubleBreaks(doc)
    val expected = HtmlParser.parse(res(s"double-breaks-$id-expected.html"))
    val got = Serializer.serialize(doc)
    val want = Serializer.serialize(expected)
    assert(got == want, s"\n=== got ===\n$got\n=== want ===\n$want")
  }

  test("double-breaks basic") { testOne("basic") }
  test("double-breaks some-headers") { testOne("some-headers") }
  test("double-breaks proper-paragraphs") { testOne("proper-paragraphs") }
  test("double-breaks mit") { testOne("mit") }
}

/** Property test: the tree-walk div→p block test (Extractor.
  * childrenMatchBlockRegex) is exactly equivalent to the reference's
  * serialize-children-then-regex formulation, across fuzzed DOMs that
  * exercise every raw channel (comments/PIs containing '<a', script
  * bodies, a-/p-prefixed unknown tags, '<' in attr values and text). */
class DivToPEquivalenceSpec extends AnyFunSuite {
  import graft.extract.Regexes

  test("tree-walk block test == serialize+regex oracle on 500 fuzzed DOMs") {
    (0 until 500).foreach { seed =>
      val html = DivToPEquivalenceSpec.gen(seed)
      val viaTree = HtmlParser.parse(html)
      Extractor.transformMisusedDivs(viaTree)
      val viaOracle = HtmlParser.parse(html)
      viaOracle.findAll("div").foreach { elem =>
        if (!Regexes.search(Regexes.divToPElements, DivToPEquivalenceSpec.serializeChildren(elem)))
          elem.tag = "p"
      }
      assert(Serializer.serialize(viaTree) == Serializer.serialize(viaOracle),
        s"seed $seed diverged:\n$html")
    }
  }
}

object DivToPEquivalenceSpec {
  /** The inner HTML the reference's div-to-p test reads
    * (readability.py:364): each child serialized, then its escaped tail. */
  def serializeChildren(n: Node): String =
    n.children.map { c =>
      val tail = if (c.tail == null) "" else
        c.tail.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      Serializer.serialize(c) + tail
    }.mkString

  /** A seeded tag soup over block, inline, a-/p-prefixed and raw-text tags,
    * with comments and markup-like text. */
  def gen(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    val tags = Vector("div", "span", "em", "li", "article", "abbr",
      "address", "aside", "table", "ul", "ol", "dl", "img", "p", "pre",
      "a", "blockquote", "unknown", "pxx", "axx", "dlist", "olive",
      "ulx", "tablet", "imgx", "b", "i", "script", "style")
    val texts = Vector("plain words", "a < b & c > d", "<a href=x>",
      "<ul><li>", "", "text <blockquote", "no match here", "<A HREF",
      "<P>", "< p", "</a>", "<!-- inner -->")
    val sb = new StringBuilder
    def emit(depth: Int): Unit = {
      val n = rnd.nextInt(4) + 1
      (0 until n).foreach { _ =>
        rnd.nextInt(10) match {
          case 0 => sb.append("<!--").append(texts(rnd.nextInt(texts.length))).append("-->")
          case 1 => sb.append(texts(rnd.nextInt(texts.length)))
          case _ =>
            val t = tags(rnd.nextInt(tags.length))
            sb.append('<').append(t)
            if (rnd.nextBoolean()) sb.append(" class=\"").append(texts(rnd.nextInt(texts.length)).replace("\"", "")).append('"')
            sb.append('>')
            if (t == "script" || t == "style") sb.append(texts(rnd.nextInt(texts.length)))
            else if (depth < 4 && rnd.nextInt(3) > 0) emit(depth + 1)
            sb.append("</").append(t).append('>')
        }
      }
    }
    sb.append("<html><body><div id=\"root\">")
    emit(0)
    sb.append("</div></body></html>")
    sb.toString
  }
}
