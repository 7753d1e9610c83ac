package graft

import graft.dom.{HtmlParser, Node}
import graft.extract.{Cleaners, Extractor}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The streaming clean length (`Cleaners.CleanLengthCounter`, read
  * through `Extractor.TextStats`) must agree exactly with
  * `clean(textContent).length` — the hot path depends on it. */
class CleanLengthSpec extends AnyFunSuite {

  private def reference(n: Node): Int = Cleaners.clean(n.textContent).length

  private def cleanLength(n: Node): Int = new Extractor.TextStats(n).cleanLen(0)

  private val alphabet: Array[Char] =
    ("abcXYZ09" + " \t\n\r\f\u000B\u00A0" + ",.\u00E9\u4E16").toCharArray

  private def randomText(rnd: Random, max: Int): String = {
    val len = rnd.nextInt(max)
    val sb = new StringBuilder(len)
    (0 until len).foreach(_ => sb.append(alphabet(rnd.nextInt(alphabet.length))))
    sb.toString
  }

  test("cleanLength equals clean(textContent).length on random text") {
    val rnd = new Random(42)
    (0 until 2000).foreach { _ =>
      val s = randomText(rnd, 60)
      val n = new Node("div")
      n.text = s
      assert(cleanLength(n) == Cleaners.clean(s).length,
        s"for ${s.map(_.toInt).mkString(",")}")
    }
  }

  test("cleanLength across multi-piece subtrees") {
    val rnd = new Random(7)
    (0 until 2000).foreach { _ =>
      val div = new Node("div")
      div.text = randomText(rnd, 30)
      val span = new Node("span")
      span.text = randomText(rnd, 30)
      span.tail = randomText(rnd, 30)
      div.append(span)
      assert(cleanLength(div) == reference(div))
    }
  }

  test("cleanLength on parsed fixture HTML") {
    val html = "<html><body><div>  a\n\nb \r c\t\td  <p> x,y </p> tail  </div></body></html>"
    val doc = HtmlParser.parse(html)
    doc.iterSubtree.foreach { n =>
      if (n.isElement)
        assert(cleanLength(n) == reference(n), s"node ${n.tag}")
    }
  }

  test("countCommas: exact and capped") {
    val n = new Node("div")
    n.text = "a,b,c"
    val child = new Node("p")
    child.text = ",,"
    child.tail = ","
    n.append(child)
    assert(Cleaners.countCommas(n) == 5)
    assert(Cleaners.countCommas(n, cap = 5) >= 5)
    assert(!(Cleaners.countCommas(n, cap = 6) >= 6))
    assert(Cleaners.countCommas(n, cap = 3) == 3)
  }
}
