package graft

import graft.extract.{ExtractOptions, Extractor}
import graft.spark.TranscriptGen
import org.scalatest.funsuite.AnyFunSuite

/** Pins the sibling-merge decision table (W2, readability.py:586-629) via
  * the crafted page behind `extract_spans_multi`: each of the four merge
  * branches must fire, and the below-threshold sibling must vanish. */
class SiblingMergeSpec extends AnyFunSuite {

  private def summary(id: Long) =
    Extractor.extract(TranscriptGen.siblingHtml(id), ExtractOptions())

  test("article is exactly the four merged blocks, in document order") {
    val r = summary(7)
    assert(!r.failed)
    val blocks = r.spans.map { case (s, e) => r.text.substring(s, e) }.toSeq
    assert(blocks === Seq(
      s"lead paragraph for document 7 ${TranscriptGen.SibLead}",
      TranscriptGen.SibContent.mkString(" "),
      TranscriptGen.SibBlock.mkString(" "),
      TranscriptGen.SibTail))
  }

  test("spans tile the text with single-space block joins") {
    val r = summary(123)
    assert(r.spans.head._1 === 0)
    assert(r.spans.last._2 === r.text.length)
    r.spans.sliding(2).foreach {
      case Array((_, e0), (s1, _)) => assert(s1 === e0 + 1)
      case _ =>
    }
  }

  test("best candidate keeps its 30 + 2*5 score against the body quirk") {
    assert(summary(0).confidence === 40.0)
  }

  test("below-threshold sibling text vanishes") {
    val r = summary(42)
    assert(!r.text.contains(TranscriptGen.SibSkip))
  }

  test("a short sibling <p> ends a sentence only before a final \\n, as Python's `$`") {
    val long = "a long paragraph of the main article that scores well, and keeps on going " * 3
    def merged(tail: String): Boolean = {
      val html = s"<html><body><div id=\"main\"><p>$long</p><p>$long</p></div>" +
        s"<p>A short line.$tail</p></body></html>"
      val r = Extractor.extract(html, ExtractOptions())
      assert(r.text.startsWith(long.trim), r.text)
      r.text.contains("A short line.")
    }
    assert(!merged("\r\n"))
    assert(!merged("\r"))
    assert(merged("\n"))
    assert(merged(""))
  }
}
