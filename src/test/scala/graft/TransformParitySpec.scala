package graft

import graft.dom.{HtmlParser, Node}
import graft.extract.{Cleaners, Extractor}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Differential check of the in-place double-break transform
  * (`Extractor.transformDoubleBreaks`) against the list-based reference
  * ([[DoubleBreaksReference]]): both run on two parses of one
  * input, and the trees must be equal node for node, text and tail
  * included, a null string told apart from an empty one. Inputs: 20 k
  * seeded `<br>` soups ([[TransformParitySpec.gen]]), each once as parsed
  * and once with some absent texts and tails set to "" (the parser never
  * makes an empty string, the reference's parts list keeps one), and every
  * html file under src/test/resources, raw and through `Extractor.parse`.
  */
class TransformParitySpec extends AnyFunSuite {
  import TransformParitySpec._

  private def pages: Vector[String] =
    Files.walk(Paths.get("src/test/resources")).iterator.asScala
      .filter(_.toString.endsWith(".html")).map(_.toString).toVector.sorted
      .map(f => new String(Files.readAllBytes(Paths.get(f)), ISO_8859_1))

  /** Runs both transforms on `make()`'s tree; the dumps must match. */
  private def check(make: () => Node, what: => String): Unit = {
    val viaLinks = make()
    Extractor.transformDoubleBreaks(viaLinks)
    val viaParts = make()
    DoubleBreaksReference.transformDoubleBreaks(viaParts)
    val (got, want) = (dump(viaLinks), dump(viaParts))
    assert(got == want, s"$what diverged\n=== got ===\n$got\n=== want ===\n$want")
  }

  /** Sets about a quarter of the absent texts and tails to "", the same
    * ones for the same seed. */
  private def blankSome(doc: Node, seed: Int): Node = {
    val rnd = new scala.util.Random(seed)
    doc.iterSubtree.foreach { n =>
      if (n.text == null && rnd.nextInt(4) == 0) n.text = ""
      if ((n ne doc) && n.tail == null && rnd.nextInt(4) == 0) n.tail = ""
    }
    doc
  }

  test("in-place transform == list-based reference on 20 k <br> soups") {
    var squeezable = 0
    (0 until 20000).foreach { seed =>
      val html = gen(seed)
      if (hasSqueezableBreak(HtmlParser.parse(html))) squeezable += 1
      check(() => HtmlParser.parse(html), s"seed $seed: $html")
      check(() => blankSome(HtmlParser.parse(html), seed), s"seed $seed with blanks: $html")
    }
    info(s"$squeezable of 20000 soups hold a blank tail between two sibling <br>s")
    assert(squeezable > 2000)
  }

  test("in-place transform == list-based reference on every test-resource page") {
    val all = pages
    assert(all.length >= 80)
    all.zipWithIndex.foreach { case (html, i) =>
      check(() => HtmlParser.parse(html), s"page $i (parsed)")
      check(() => Extractor.parse(html), s"page $i (Extractor.parse)")
    }
  }

  test("Extractor.parse leaves no <script> or <style> for getArticle to drop") {
    val inputs = pages ++ (0 until 2000).map(gen) ++ (0 until 2000).map(DivToPEquivalenceSpec.gen)
    // the raw parses do hold them, so the check below has something to catch
    assert(inputs.count(h => HtmlParser.parse(h).findFirst("script") != null) > 100)
    inputs.zipWithIndex.foreach { case (html, i) =>
      val doc = Extractor.parse(html)
      assert(doc.findFirst("script") == null && doc.findFirst("style") == null, s"input $i")
    }
  }
}

object TransformParitySpec {
  private val tails = Vector("", " ", "\n", "\t", " \n\t ", "\u00a0", "words",
    " more words ", "x, y ")
  private val inline = Vector("span", "a", "b", "em", "font", "section")
  private val blocks = Vector("p", "h2", "blockquote", "pre", "div")

  /** A seeded `<br>` soup under one div: `<br>` runs whose tails are
    * blank, whitespace or text, text runs, inline children (some holding
    * breaks of their own), the FSM's block children (`<p>`, headers,
    * `<img>`, `<table>`, ...), `<article>` (which the FSM does not count as
    * block), comments, scripts and nested divs. */
  def gen(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    def pick(v: Vector[String]): String = v(rnd.nextInt(v.length))
    val sb = new StringBuilder
    def emit(depth: Int): Unit =
      (0 until rnd.nextInt(8) + 1).foreach { _ =>
        rnd.nextInt(12) match {
          case 0 | 1 | 2 | 3 =>
            (0 until rnd.nextInt(4) + 1).foreach { _ =>
              sb.append(if (rnd.nextBoolean()) "<br>" else "<br/>")
              if (rnd.nextInt(3) > 0) sb.append(pick(tails))
            }
          case 4 => sb.append(pick(tails))
          case 5 | 6 =>
            val t = pick(inline)
            sb.append('<').append(t).append('>')
            if (depth < 3 && rnd.nextBoolean()) emit(depth + 1) else sb.append(pick(tails))
            sb.append("</").append(t).append('>')
          case 7 =>
            val t = pick(blocks)
            sb.append('<').append(t).append('>')
            if (depth < 3 && rnd.nextBoolean()) emit(depth + 1) else sb.append(pick(tails))
            sb.append("</").append(t).append('>')
          case 8 =>
            sb.append(if (rnd.nextBoolean()) "<img src=\"x.png\">"
              else "<table><tr><td>cell<br><br>cell</td></tr></table>")
          case 9 =>
            sb.append("<article>")
            if (depth < 3) emit(depth + 1) else sb.append(pick(tails))
            sb.append("</article>")
          case 10 =>
            sb.append(if (rnd.nextBoolean()) "<!-- note -->" else "<script>var a = 1;</script>")
          case _ =>
            sb.append("<div>")
            if (depth < 3) emit(depth + 1)
            sb.append("</div>")
        }
      }
    sb.append("<html><body><div>")
    if (rnd.nextBoolean()) sb.append(pick(tails))
    emit(0)
    sb.append("</div></body></html>")
    sb.toString
  }

  /** Whether some `<br>` has a blank tail and a `<br>` next sibling:
    * the `squeeze_breaks` case. */
  private def hasSqueezableBreak(doc: Node): Boolean =
    doc.iterSubtree.exists { n =>
      n.tag == "br" && n.tail != null && Cleaners.strip(n.tail).isEmpty &&
        n.nextSibling != null && n.nextSibling.tag == "br"
    }

  /** The tree as a string that tells every tag, attribute, text and tail
    * apart, a null string from an empty one. */
  def dump(top: Node): String = {
    val sb = new StringBuilder
    def str(s: String): Unit =
      if (s == null) sb.append('-') else sb.append(s.length).append(':').append(s)
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
