package graft

import graft.dom.Node
import graft.extract.{Cleaners, ExtractOptions, Extractor}

import scala.collection.mutable

/** The tree decisions of `sanitize` (readability.py:456-583) as they were
  * before `Extractor.sanitizeTree` read its statistics from
  * `Extractor.TextStats`: the conditional clean takes one `subtreeStats`
  * walk per judged element, the header test one per header, and the embed
  * rescue one `cleanLength` walk per sampled sibling. SanitizeParitySpec
  * checks `Extractor.sanitizeTree` against it node for node.
  *
  * `rows`, when given, counts which row of the decision table settled each
  * element (indices in [[Rows]]), so that a spec can show that its inputs
  * reach every row.
  */
object SanitizeReference {

  /** Streaming `len(clean(text))` over text pieces fed in order: the clean
    * length of the whole stream, from `Cleaners.CleanLengthCounter`'s
    * units before the first non-space char and after the last. */
  final class PieceCounter {
    private val c = new Cleaners.CleanLengthCounter
    private var start = -1

    def accept(s: String): Unit = {
      if (s == null) return
      var i = 0
      while (i < s.length) {
        if (c.step(s.charAt(i)) && start < 0) start = c.units - 1
        i += 1
      }
    }

    def result: Int = if (start < 0) 0 else c.lastEnd - start
  }

  /** Streaming `len(clean(node.text_content()))` (readability.py:44-45). */
  def cleanLength(n: Node): Int = {
    val c = new PieceCounter
    val w = n.cursor
    while (w.next()) {
      val x = w.node
      if (w.entering) { if (x.isElement) c.accept(x.text) }
      else if (x ne n) c.accept(x.tail)
    }
    c.result
  }

  /** Single-pass subtree statistics: total clean text length, summed
    * per-anchor clean text lengths (each `.//a` measured independently,
    * nested anchors counted repeatedly — exactly
    * `sum(text_length(a) for a in findall('.//a'))`), and descendant tag
    * counts for sanitize. */
  final case class SubtreeStats(textLen: Int, linkLen: Int,
      p: Int, img: Int, li: Int, a: Int, embed: Int, input: Int)

  def subtreeStats(elem: Node): SubtreeStats = {
    val root = new PieceCounter
    val active = new mutable.ArrayBuffer[PieceCounter](2)
    var linkLen = 0
    var nP = 0; var nImg = 0; var nLi = 0; var nA = 0; var nEmbed = 0; var nInput = 0
    def feed(s: String): Unit = {
      root.accept(s)
      var i = 0
      while (i < active.length) { active(i).accept(s); i += 1 }
    }
    val w = elem.cursor
    while (w.next()) {
      val n = w.node
      if (w.entering) {
        if (n.isElement) {
          if (n ne elem) n.tag match {
            case "p" => nP += 1
            case "img" => nImg += 1
            case "li" => nLi += 1
            case "a" => nA += 1; active += new PieceCounter
            case "embed" => nEmbed += 1
            case "input" => nInput += 1
            case _ =>
          }
          feed(n.text)
        }
      } else if (n ne elem) {
        if (n.tag == "a") linkLen += active.remove(active.length - 1).result
        feed(n.tail)
      }
    }
    SubtreeStats(root.result, linkLen, nP, nImg, nLi, nA, nEmbed, nInput)
  }

  /** `get_link_density` (readability.py:381-388) — single pass. */
  def linkDensity(elem: Node): Double = {
    val s = subtreeStats(elem)
    s.linkLen.toDouble / math.max(s.textLen, 1)
  }

  /** Names of the decision-table rows that `rows` counts. */
  val Rows: Vector[String] = Vector("header kept", "header dropped", "form/iframe/textarea",
    "weight + score < 0", "10 commas", "img > p", "li - 100 > p", "input > p / 3",
    "short content", "ld > 0.2", "ld > 0.5", "embed dropped", "embed rescued", "kept",
    "allowed by a rescue")

  def sanitizeTree(node: Node,
      candidates: mutable.LinkedHashMap[Node, Double], opts: ExtractOptions,
      rows: Array[Int] = null): Unit = {
    def row(i: Int): Unit = if (rows != null) rows(i) += 1
    for (tag <- Seq("h1", "h2", "h3", "h4", "h5", "h6");
         header <- node.findAll(tag)) {
      if (Extractor.classWeight(header) < 0 || linkDensity(header) > 0.33) {
        row(1)
        header.dropTree()
      } else row(0)
    }
    for (tag <- Seq("form", "iframe", "textarea"); el <- node.findAll(tag)) {
      row(2)
      el.dropTree()
    }

    val allowed = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Node, java.lang.Boolean]())

    for (tag <- Seq("table", "ul", "div");
         el <- node.findAll(tag).reverseIterator) {
      if (allowed.contains(el)) row(14)
      else {
        val weight = Extractor.classWeight(el)
        val contentScore = candidates.getOrElse(el, 0.0)

        if (weight + contentScore < 0) {
          row(3)
          el.dropTree()
        } else if (Cleaners.countCommas(el, 10) < 10) {
          val st = subtreeStats(el)
          val pCount = st.p
          val imgCount = st.img
          val liCount = st.li - 100
          val inputCount = st.input
          val embedCount = st.embed
          val contentLength = st.textLen
          val ld = st.linkLen.toDouble / math.max(st.textLen, 1)

          var toRemove = false
          if (pCount > 0 && imgCount > pCount) { row(5); toRemove = true }
          else if (liCount > pCount && tag != "ul" && tag != "ol") { row(6); toRemove = true }
          else if (inputCount > Math.floorDiv(pCount, 3)) { row(7); toRemove = true } // Python 2 int `/`
          else if (contentLength < opts.minTextLength &&
            (imgCount == 0 || imgCount > 2)) { row(8); toRemove = true }
          else if (weight < 25 && ld > 0.2) { row(9); toRemove = true }
          else if (weight >= 25 && ld > 0.5) { row(10); toRemove = true }
          else if ((embedCount == 1 && contentLength < 75) || embedCount > 1) {
            toRemove = true
            // sibling-text rescue — nested in this branch only; the first
            // non-empty sibling of each `itersiblings` direction
            var followingLen = -1
            var sib = el.nextSibling
            while (followingLen < 0 && sib != null) {
              val l = cleanLength(sib)
              if (l > 0) followingLen = l
              sib = sib.nextSibling
            }
            var precedingLen = -1
            sib = el.prevSibling
            while (precedingLen < 0 && sib != null) {
              val l = cleanLength(sib)
              if (l > 0) precedingLen = l
              sib = sib.prevSibling
            }
            val sum = math.max(followingLen, 0) + math.max(precedingLen, 0)
            if ((followingLen > 0 || precedingLen > 0) && sum > 1000) {
              row(12)
              toRemove = false
              for (t <- Seq("table", "ul", "div"); des <- el.findAll(t))
                allowed.add(des)
            } else row(11)
          } else row(13)

          if (toRemove) el.dropTree()
        } else row(4)
      }
    }
  }
}
