package perfbench

import graft.dom.{HtmlParser, Node, Serializer}
import graft.extract.{Cleaners, ExtractOptions, Extractor, Summary}

import java.lang.management.ManagementFactory

/** Single-threaded replay of `Extractor.extract` (parse + `getArticle`'s
  * ruthless/lenient loop) through the program's public layer functions, in
  * the program's order, with a timer or an allocation counter around each
  * call into a layer. The replayed [[Summary]] must equal
  * `Extractor.extract` on every document; [[Main]] fails the run otherwise,
  * because the per-layer numbers would describe a different program. */
object KernelReplay {

  /** Kernel layers, in pipeline order. */
  val Layers: Vector[String] = Vector(
    "dom.parse", // HtmlParser.parse
    "extract.clean", // Cleaners.cleanHtml + base-href
    "extract.strip_unlikely", // script/style dropTree + removeUnlikelyCandidates
    "extract.transform", // transformDoubleBreaks + transformMisusedDivs
    "extract.score", // scoreParagraphs + selectBestCandidate
    "extract.merge", // getRawArticle
    "extract.sanitize", // sanitize (serialize + string attribute strip)
    "dom.reparse", // parseFragment + serialize
    "extract.text_spans") // extractTextAndSpans
  private val Parse = 0; private val Clean = 1; private val Strip = 2
  private val Transform = 3; private val Score = 4; private val Merge = 5
  private val Sanitize = 6; private val Reparse = 7; private val TextSpans = 8

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Per-document layer cost, accumulated over every loop iteration. */
  final class DocCost {
    val ns = new Array[Long](Layers.length)
    val bytes = new Array[Long](Layers.length)
    var cpuNs = 0L // thread CPU of whole replays (timing rounds)
    var retried = false
    var failClass: String = null // null, "stack_overflow" or "other"
    def totalNs: Long = ns.sum
  }

  /** Replays one document, adding each layer's time to `cost` or, with
    * `countBytes`, each layer's allocation instead: the allocation counter
    * costs about as much as a small layer, so the two are read in separate
    * rounds. Layer spans go to `trace` under `parent`. */
  def replay(html: String, opts: ExtractOptions, cost: DocCost, countBytes: Boolean,
      trace: Trace, parent: Int): Summary = {
    val cpu0 = if (countBytes) 0L else threads.getCurrentThreadCpuTime
    try replayLayers(html, opts, cost, countBytes, trace, parent)
    finally if (!countBytes) cost.cpuNs += threads.getCurrentThreadCpuTime - cpu0
  }

  private def replayLayers(html: String, opts: ExtractOptions, cost: DocCost,
      countBytes: Boolean, trace: Trace, parent: Int): Summary = {
    def layer[T](i: Int)(body: => T): T = {
      val b0 = if (countBytes) threads.getCurrentThreadAllocatedBytes else 0L
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        if (countBytes) cost.bytes(i) += threads.getCurrentThreadAllocatedBytes - b0
        else cost.ns(i) += t1 - t0
        trace.leaf(Layers(i), parent, t0, t1)
      }
    }
    try {
      val doc = layer(Parse)(HtmlParser.parse(html))
      layer(Clean) {
        Cleaners.cleanHtml(doc)
        if (opts.url != null) Extractor.makeLinksAbsolute(doc, opts.url)
        else Extractor.resolveBaseHref(doc)
      }
      var ruthless = true
      var result: Summary = null
      while (result == null) {
        layer(Strip) {
          doc.findAll("script").foreach(_.dropTree())
          doc.findAll("style").foreach(_.dropTree())
          doc.findAll("body").foreach(_.setAttr("id", "readabilityBody"))
          if (ruthless) Extractor.removeUnlikelyCandidates(doc)
        }
        layer(Transform) {
          Extractor.transformDoubleBreaks(doc)
          Extractor.transformMisusedDivs(doc)
        }
        val candidates = layer(Score)(Extractor.scoreParagraphs(doc))
        val best = layer(Score)(Extractor.selectBestCandidate(candidates))
        if (best == null) {
          if (ruthless) { ruthless = false; cost.retried = true }
          else result = Summary(0.0, null, "", Array.empty, failed = false)
        } else {
          val article = layer(Merge)(Extractor.getRawArticle(candidates, best))
          val sanitized = layer(Sanitize)(Extractor.sanitize(article, candidates, opts))
          val (cleanedDoc, cleanedArticle) = layer(Reparse) {
            val d: Node = HtmlParser.parseFragment(sanitized)
            (d, Serializer.serialize(d))
          }
          if (ruthless && cleanedArticle.length < opts.retryLength) {
            ruthless = false; cost.retried = true
          } else {
            val (text, spans) = layer(TextSpans)(Extractor.extractTextAndSpans(cleanedDoc))
            result = Summary(best.score, cleanedArticle, text, spans, failed = false)
          }
        }
      }
      result
    } catch {
      case _: StackOverflowError =>
        cost.failClass = "stack_overflow"
        Summary(0.0, null, "", Array.empty, failed = true)
      case scala.util.control.NonFatal(_) =>
        cost.failClass = "other"
        Summary(0.0, null, "", Array.empty, failed = true)
    }
  }

  /** Field-by-field equality of two summaries (confidence bit-exact). */
  def same(a: Summary, b: Summary): Boolean =
    java.lang.Double.compare(a.confidence, b.confidence) == 0 &&
      a.html == b.html && a.text == b.text && a.failed == b.failed &&
      a.spans.sameElements(b.spans)
}
