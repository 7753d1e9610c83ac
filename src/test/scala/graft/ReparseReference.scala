package graft

import graft.dom.{HtmlParser, Node, Serializer}
import graft.extract.{Cleaners2, ExtractOptions, Extractor, Summary}

/** `Extractor.extract` with the reference's own article tail on every pass
  * (readability.py:584, 661-662): serialize the sanitized article, strip
  * attributes with the regex fixpoint (`Cleaners2.cleanAttributesString`)
  * and reparse the string with `HtmlParser.parseFragment`. `Extractor`
  * strips on the tree where that provably returns the same string, and
  * then builds the reparsed tree with `HtmlParser.rebuild` instead;
  * ReparseParitySpec checks it against this oracle.
  *
  * `look`, when given, sees each pass's sanitized article tree (before any
  * strip), the stripped string and the reparsed article, after this object
  * has read them.
  */
object ReparseReference {

  def extract(html: String, opts: ExtractOptions = ExtractOptions(),
      look: (Node, String, Node) => Unit = null): Summary =
    try getArticle(Extractor.parse(html, opts.url), opts, look)
    catch {
      case scala.util.control.NonFatal(_) => Summary(0.0, null, "", Array.empty, failed = true)
    }

  private def getArticle(doc: Node, opts: ExtractOptions,
      look: (Node, String, Node) => Unit): Summary = {
    var ruthless = true
    while (true) {
      Extractor.prepare(doc, ruthless)
      val candidates = Extractor.scoreParagraphs(doc)
      val best = Extractor.selectBestCandidate(candidates)
      if (best == null) {
        if (ruthless) ruthless = false
        else return Summary(0.0, null, "", Array.empty, failed = false)
      } else {
        val article = Extractor.getRawArticle(candidates, best)
        Extractor.sanitizeTree(article, candidates, opts)
        val sanitized = Cleaners2.cleanAttributesString(Serializer.serialize(article))
        val cleanedDoc = HtmlParser.parseFragment(sanitized)
        val cleanedArticle = Serializer.serialize(cleanedDoc)
        if (look != null) look(article, sanitized, cleanedDoc)
        if (ruthless && cleanedArticle.length < opts.retryLength) ruthless = false
        else {
          val (text, spans) = Extractor.extractTextAndSpans(cleanedDoc)
          return Summary(best.score, cleanedArticle, text, spans, failed = false)
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
