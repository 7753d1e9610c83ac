package graft

import graft.extract.{Extractor, Summary}
import org.scalatest.funsuite.AnyFunSuite

/** Hostile page shapes through the whole kernel (`Extractor.extract`).
  *
  * Each shape runs at n and 2n elements: one warm-up each, then three timed
  * pairs (n, then 2n, back to back) in thread CPU time. The bound is
  * min-of-3 time(2n) / time(n) <= 2.5 over the pairs. A ratio holds on any
  * machine: a linear kernel doubles, one whose steps cost O(siblings) or
  * O(attributes) quadruples. Each n is sized so that such a kernel spends
  * well over 100 ms at n. For the sibling shapes it also puts n and 2n in
  * one memory regime: both DOMs outgrow a core's L2 cache and both articles
  * pass 2 MB, G1's humongous-object size at the test heap. Smaller pages
  * straddle those steps, and the ratio then measures the step.
  * Every output is also checked: not failed, with the expected leading text.
  *
  * Many strippable attributes give one tag n distinct names that the
  * reference's attribute strip removes; its regex fixpoint removes one per
  * round and rescans the whole article each round.
  *
  * Nested paragraphs put a scored `<p>` at every level of a div nest, so
  * every level is a candidate whose text statistics span all deeper levels;
  * stray end tags close nothing at the bottom of a deep nest.
  *
  * Deep nesting runs the same protocol on a thread with a 512 KB stack. No
  * kernel walk recurses, so 50 k and 100 k nested divs extract there. A walk
  * that spent a stack frame per level would overflow that stack whether it
  * ran interpreted or JIT-compiled, so the outcome does not depend on the
  * JIT's state.
  */
class HostileInputSpec extends AnyFunSuite {
  import HostileInputSpec._

  private val MaxRatio = 2.5

  private def check(html: String, leading: String): Summary = {
    val s = Extractor.extract(html)
    assert(!s.failed)
    assert(s.text.startsWith(leading), s.text.take(120))
    s
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time of this thread for one extraction. Collector threads do the
    * garbage collection; their pauses, and their cost that grows with the
    * live DOM in a young heap, are not the kernel's steps. */
  private def timedMs(html: String): Double = {
    val t0 = threads.getCurrentThreadCpuTime
    Extractor.extract(html)
    (threads.getCurrentThreadCpuTime - t0) / 1e6
  }

  private def linear(shape: Int => String, n: Int, leading: String): Unit = {
    val (small, large) = (shape(n), shape(2 * n))
    check(small, leading) // the warm-up runs
    check(large, leading)
    // each pair runs back to back, so a burst of load from other tenants of
    // the machine hits both sizes of a pair alike
    val runs = (1 to 3).map { _ => val t = timedMs(small); (t, timedMs(large)) }
    val ratios = runs.map { case (tSmall, tLarge) => tLarge / tSmall }
    info(runs.map { case (a, b) => f"$a%.1f/$b%.1f ms" }.mkString(s"n=$n, 2n: ", ", ", "") +
      f"; ratios ${ratios.map(r => f"$r%.2f").mkString(" ")}")
    assert(ratios.min <= MaxRatio, f"min time(2n)/time(n) = ${ratios.min}%.2f > $MaxRatio")
  }

  private val lines01 = s"${line(0)} ${line(1)}"

  test("br-soup: doubling the <br><br> runs at most ~doubles the time") {
    linear(brSoup, 60000, lines01)
  }

  test("flat paragraphs: doubling the <p> siblings at most ~doubles the time") {
    linear(flatParagraphs, 60000, lines01)
  }

  test("wide siblings: doubling the <div> siblings at most ~doubles the time") {
    linear(wideSiblings, 60000, lines01)
  }

  test("many attributes: doubling one tag's attributes at most ~doubles the time") {
    linear(manyAttributes, 40000, s"${line(0)}, ${line(1)}")
  }

  test("many strippable attributes: doubling one tag's ...color attributes at most ~doubles the time") {
    linear(manyStrippableAttributes, 16000, s"${line(0)}, ${line(1)}")
  }

  test("nested paragraphs: doubling 2 k div levels with a <p> each at most ~doubles the time") {
    linear(nestedParagraphs, 2000, s"${line(0)}, ${line(1)}")
  }

  test("stray end tags: doubling 20 k unmatched end tags under 20 k divs at most ~doubles the time") {
    linear(strayEndTags, 20000, s"${line(0)}, ${line(1)}")
  }

  test("deep nesting: doubling 50 k nested divs at most ~doubles the time") {
    var failure: Throwable = null
    val body: Runnable = () =>
      try linear(deepNesting, 50000, s"${line(0)}, ${line(1)}")
      catch { case t: Throwable => failure = t }
    val small = new Thread(null, body, "small-stack", 512 * 1024)
    small.start()
    small.join()
    if (failure != null) throw failure
  }
}

/** The hostile page shapes, each a function of its size n. */
object HostileInputSpec {
  def line(i: Int): String = s"lorem ipsum dolor sit amet $i"

  private def page(body: String): String =
    s"<html><head><title>hostile</title></head><body>$body</body></html>"

  def brSoup(n: Int): String =
    page("<div>" + (0 until n).map(i => line(i) + "<br><br>").mkString + "</div>")

  def flatParagraphs(n: Int): String =
    page("<div>" + (0 until n).map(i => s"<p>${line(i)}</p>").mkString + "</div>")

  def wideSiblings(n: Int): String =
    page("<div>" + (0 until n).map(i => s"<div><span>${line(i)}</span></div>").mkString +
      "</div>")

  private val eightLines = (0 until 8).map(line).mkString(", ")

  def manyAttributes(n: Int): String =
    page("<div " + (0 until n).map(i => s"""data-a$i="v$i"""").mkString(" ") + ">" +
      s"<p>$eightLines</p>" +
      s"<p>${(8 until 16).map(line).mkString(", ")}</p></div>")

  /** Lowercase letters that spell `i` in base 26, so every name differs. */
  private def letters(i: Int): String =
    if (i < 26) ('a' + i).toChar.toString else letters(i / 26 - 1) + ('a' + i % 26).toChar

  /** One tag with n distinct names that the attribute strip takes
    * (`acolor`, `bcolor`, …), each with a value. */
  def manyStrippableAttributes(n: Int): String =
    page("<div " + (0 until n).map(i => s"""${letters(i)}color="v$i"""").mkString(" ") + ">" +
      s"<p>$eightLines</p>" +
      s"<p>${(8 until 16).map(line).mkString(", ")}</p></div>")

  def deepNesting(n: Int): String =
    page("<div>" * n + s"<p>$eightLines</p>" + "</div>" * n)

  def nestedParagraphs(n: Int): String =
    page(s"<div><p>$eightLines</p>" * n + "</div>" * n)

  def strayEndTags(n: Int): String =
    page("<div>" * n + s"<p>$eightLines</p>" + "</span>" * n + "</div>" * n)

  val shapes: Seq[Int => String] = Seq(brSoup, flatParagraphs, wideSiblings,
    manyAttributes, manyStrippableAttributes, deepNesting, nestedParagraphs,
    strayEndTags)
}
