package graft

import graft.dom.Node
import graft.extract.Cleaners

import scala.collection.mutable

/** The double-break transform in the reference's own list-based form
  * (readability.py:81-308): split `elem` into a flat list of string and
  * child parts, squeeze blank strings between breaks, then run the 2-state
  * FSM over that list, collecting parts into paragraphs.
  * `Extractor.transformDoubleBreaksElem` runs the same FSM over the child
  * links in place; TransformParitySpec checks it against this oracle, and
  * PartsSpec runs the reference's own cases on its pieces.
  */
object DoubleBreaksReference {

  /** A "part" is either a string or an element
    * (readability.py:81-137). */
  type Part = Either[String, Node]

  /** `split_into_parts` — destroys `.text` and child tails
    * (readability.py:125-137). */
  def splitIntoParts(elem: Node): mutable.ArrayBuffer[Part] = {
    val parts = new mutable.ArrayBuffer[Part]
    if (elem.text != null) { parts += Left(elem.text); elem.text = null }
    var child = elem.firstChild
    while (child != null) {
      parts += Right(child)
      if (child.tail != null) { parts += Left(child.tail); child.tail = null }
      child = child.nextSibling
    }
    parts
  }

  /** `mark_if_whitespace` (readability.py:168-191). */
  def markIfWhitespace(parts: collection.Seq[Part], left: Int, right: Int): Set[Int] = {
    var onlyWs = true
    var i = left + 1
    while (onlyWs && i < right) {
      parts(i) match {
        case Left(s) => if (Cleaners.strip(s).nonEmpty) onlyWs = false
        case Right(_) => onlyWs = false
      }
      i += 1
    }
    if (onlyWs) (left + 1 until right).toSet else Set.empty
  }

  /** `squeeze_breaks` (readability.py:193-225). */
  def squeezeBreaks(parts: mutable.ArrayBuffer[Part]): mutable.ArrayBuffer[Part] = {
    val breaks = parts.zipWithIndex.collect {
      case (Right(n), i) if n.tag == "br" => i
    }
    var leftBreak = -1
    val marked = mutable.Set.empty[Int]
    breaks.foreach { b =>
      if (leftBreak < 0) leftBreak = b
      else {
        marked ++= markIfWhitespace(parts, leftBreak, b)
        leftBreak = b
      }
    }
    val out = new mutable.ArrayBuffer[Part](parts.length)
    parts.zipWithIndex.foreach { case (p, i) => if (!marked.contains(i)) out += p }
    out
  }

  /** `make_paragraph_from_parts` (readability.py:145-166). Returns null when
    * the paragraph would be empty (whitespace-only strings are then LOST —
    * they were already detached by split_into_parts; fixture-relevant). */
  def makeParagraphFromParts(parts: collection.Seq[Part]): Node = {
    val p = new Node("p")
    var lastElement: Node = null
    parts.foreach {
      case Left(s) =>
        if (lastElement == null) p.text = (if (p.text == null) "" else p.text) + s
        else lastElement.tail = (if (lastElement.tail == null) "" else lastElement.tail) + s
      case Right(n) =>
        p.append(n)
        lastElement = n
    }
    if ((p.text == null || Cleaners.strip(p.text).isEmpty) && p.firstChild == null) null
    else p
  }

  private def insertP(parent: Node, atElem: Node, parts: mutable.ArrayBuffer[Part]): Unit = {
    val p = makeParagraphFromParts(parts)
    if (p != null) parent.insertBefore(atElem, p)
    parts.clear()
  }

  private def appendP(parent: Node, parts: mutable.ArrayBuffer[Part]): Unit = {
    val p = makeParagraphFromParts(parts)
    if (p != null) parent.append(p)
    parts.clear()
  }

  private val doubleBreakBlockTags: Set[String] =
    Set("h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "div", "img", "p",
      "pre", "table")

  /** `transform_double_breaks_into_paragraphs_elem` — the 2-state FSM
    * (readability.py:250-308). */
  def transformDoubleBreaksElem(elem: Node): Unit = {
    val START = 0; val BR = 1
    var state = START
    var firstBr: Node = null
    val acc = new mutable.ArrayBuffer[Part]
    val parts = squeezeBreaks(splitIntoParts(elem))
    parts.foreach { part =>
      if (state == START) {
        part match {
          case Left(s) => acc += Left(s)
          case Right(n) =>
            if (n.tag == "br") { firstBr = n; state = BR }
            else if (doubleBreakBlockTags.contains(n.tag)) insertP(elem, n, acc)
            else acc += Right(n)
        }
      } else { // BR
        part match {
          case Left(s) =>
            acc += Right(firstBr)
            acc += Left(s)
          case Right(n) =>
            if (n.tag == "br") {
              firstBr.dropTree()
              insertP(elem, n, acc)
              n.dropTree()
            } else if (doubleBreakBlockTags.contains(n.tag)) {
              acc += Right(firstBr)
              insertP(elem, n, acc)
            } else {
              acc += Right(firstBr)
              acc += Right(n)
            }
        }
        state = START
        firstBr = null
      }
    }
    appendP(elem, acc)
  }

  /** [[transformDoubleBreaksElem]] on every div, as `Extractor.transformDoubleBreaks`. */
  def transformDoubleBreaks(doc: Node): Unit =
    doc.findAll("div").foreach(transformDoubleBreaksElem)
}
