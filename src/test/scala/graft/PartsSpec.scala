package graft

import graft.dom.Node
import org.scalatest.funsuite.AnyFunSuite

/** Ports of the reference's pure-function micro-tests, run on the list-based
  * [[DoubleBreaksReference]]:
  * TestSplitIntoParts / TestMarkIfWhitespace / TestSqueezeBreaks
  * (/root/reference/readability/readability_test.py:214-271). */
class PartsSpec extends AnyFunSuite {

  private def el(tag: String, text: String = null): Node = {
    val n = new Node(tag); n.text = text; n
  }
  private def div(text: String, kids: Node*): Node = {
    val d = new Node("div"); d.text = text
    kids.foreach(d.append); d
  }

  import DoubleBreaksReference.Part
  private def S(s: String): Part = Left(s)
  private def E(n: Node): Part = Right(n)

  test("split_into_parts: empty") {
    assert(DoubleBreaksReference.splitIntoParts(el("div")).isEmpty)
  }

  test("split_into_parts: initial text") {
    val a = el("a", "world")
    val d = div("hello", a)
    assert(DoubleBreaksReference.splitIntoParts(d).toList == List(S("hello"), E(a)))
    assert(d.text == null)
  }

  test("split_into_parts: interspersed") {
    val a = el("a", "world")
    val h1 = el("h1", "header")
    val d = div("hello", a, h1)
    a.tail = "!- Jerry"
    assert(DoubleBreaksReference.splitIntoParts(d).toList ==
      List(S("hello"), E(a), S("!- Jerry"), E(h1)))
    assert(a.tail == null)
  }

  test("mark_if_whitespace: no parts between") {
    val parts = Seq[Part](E(el("br")), E(el("br")))
    assert(DoubleBreaksReference.markIfWhitespace(parts, 0, 1) == Set.empty)
  }

  test("mark_if_whitespace: some text") {
    val parts = Seq[Part](S("Hello"), E(el("br")), S("World"), S(""), E(el("br")))
    assert(DoubleBreaksReference.markIfWhitespace(parts, 1, 3) == Set.empty)
  }

  test("mark_if_whitespace: whitespace") {
    val parts = Seq[Part](S("Hello"), E(el("br")), S("\n"), S(""), E(el("br")))
    assert(DoubleBreaksReference.markIfWhitespace(parts, 1, 4) == Set(2, 3))
  }

  test("mark_if_whitespace: element blocks") {
    val parts = Seq[Part](S("Hello"), E(el("br")), S(""), E(el("a", "World")), S(""), E(el("br")))
    assert(DoubleBreaksReference.markIfWhitespace(parts, 1, 5) == Set.empty)
  }

  private def buf(parts: Part*) = scala.collection.mutable.ArrayBuffer(parts: _*)

  test("squeeze_breaks: nothing to squeeze") {
    val parts = buf(S("Hello"), E(el("br")), S("World"), E(el("br")), E(el("a")), E(el("br")))
    assert(DoubleBreaksReference.squeezeBreaks(parts).toList == parts.toList)
  }

  test("squeeze_breaks: one whitespace span") {
    val b1 = el("br"); val b2 = el("br"); val b3 = el("br")
    val parts = buf(S("Hello"), E(b1), S(""), S("\t"), E(b2), E(el("a")), E(b3))
    val expected = List(S("Hello"), E(b1), E(b2), E(el("a")), E(b3))
    val got = DoubleBreaksReference.squeezeBreaks(parts).toList
    assert(got.length == 5)
    assert(got(0) == S("Hello") && got(1) == E(b1) && got(2) == E(b2))
  }

  test("squeeze_breaks: two whitespace spans") {
    val b1 = el("br"); val b2 = el("br"); val b3 = el("br")
    val parts = buf(S("Hello"), E(b1), S(""), S("\t"), E(b2), S(" "), E(b3))
    val got = DoubleBreaksReference.squeezeBreaks(parts).toList
    assert(got == List(S("Hello"), E(b1), E(b2), E(b3)))
  }

  test("squeeze_breaks: leading whitespace kept") {
    val b = el("br")
    val parts = buf(S(" "), E(b))
    assert(DoubleBreaksReference.squeezeBreaks(parts).toList == List(S(" "), E(b)))
  }
}
