package graft

import graft.dom.{HtmlParser, Node, Serializer}
import graft.extract.{Cleaners2, ExtractOptions, Extractor}
import graft.spark.TranscriptGen
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Differential check of `Extractor.sanitizeTree`, which reads its
  * statistics from `Extractor.TextStats`, against [[SanitizeReference]],
  * the per-element walks it replaced. Each input is checked two ways, each
  * on two parses, one per implementation; the trees must be equal node for
  * node, text and tail included:
  *   - every `getArticle` pass: the article each pass sanitizes, as the
  *     reference's tail decides between the ruthless and the lenient pass;
  *   - the whole body, after a lenient `prepare`, with the candidates of
  *     one `scoreParagraphs`, so that every table, ul and div of the page
  *     is judged.
  * Inputs: every html file under src/test/resources (with and without a
  * url), the crafted `TranscriptGen` sanitize and retry pages, 20 k
  * [[SanitizeSoups]], 20 k `DivToPEquivalenceSpec.gen` soups and the
  * hostile shapes at n = 1, 2, 50, 300.
  */
class SanitizeParitySpec extends AnyFunSuite {
  import SanitizeParitySpec._

  private def check(html: String, what: => String, opts: ExtractOptions = ExtractOptions(),
      rows: Array[Int] = null): Unit = {
    val (got, want) = (passes(html, opts, Extractor.sanitizeTree(_, _, _)),
      passes(html, opts, SanitizeReference.sanitizeTree(_, _, _)))
    assert(got == want, s"$what: articles diverged\n=== got ===\n$got\n=== want ===\n$want")
    val (gotBody, wantBody) = (body(html, Extractor.sanitizeTree(_, _, _)),
      body(html, SanitizeReference.sanitizeTree(_, _, _, rows)))
    assert(gotBody == wantBody, s"$what: bodies diverged\n=== got ===\n$gotBody\n=== want ===\n$wantBody")
  }

  private def pages: Vector[String] =
    Files.walk(Paths.get("src/test/resources")).iterator.asScala
      .filter(_.toString.endsWith(".html")).map(_.toString).toVector.sorted
      .map(f => new String(Files.readAllBytes(Paths.get(f)), ISO_8859_1))

  test("sanitize == per-element reference on every test-resource page") {
    val all = pages
    assert(all.length >= 80)
    for ((html, i) <- all.zipWithIndex; url <- Seq(null, "http://example.com/a/b.html"))
      check(html, s"page $i (url $url)", ExtractOptions(url = url))
  }

  test("sanitize == per-element reference on the crafted sanitize and retry pages") {
    for (id <- 0L until 50L) {
      check(TranscriptGen.sanitizeHtml(id), s"sanitizeHtml($id)")
      check(TranscriptGen.retryHtml(id), s"retryHtml($id)")
    }
  }

  test("sanitize == per-element reference on 20 k sanitize soups, reaching every row") {
    val rows = new Array[Int](SanitizeReference.Rows.length)
    (0 until 20000).foreach(seed => check(SanitizeSoups.gen(seed), s"seed $seed", rows = rows))
    info(SanitizeReference.Rows.zip(rows).map { case (r, k) => s"$r: $k" }.mkString(", "))
    SanitizeReference.Rows.zip(rows).foreach { case (r, k) => assert(k >= 100, s"row $r") }
  }

  test("sanitize == per-element reference on 20 k tag soups") {
    (0 until 20000).foreach(seed => check(DivToPEquivalenceSpec.gen(seed), s"seed $seed"))
  }

  test("sanitize == per-element reference on the hostile shapes") {
    for ((shape, i) <- HostileInputSpec.shapes.zipWithIndex; n <- Seq(1, 2, 50, 300))
      check(shape(n), s"shape $i at n=$n")
  }
}

object SanitizeParitySpec {
  type Sanitize = (Node, mutable.LinkedHashMap[Node, Double], ExtractOptions) => Unit

  private val dump = TransformParitySpec.dump _

  /** The article of every `getArticle` pass on a fresh parse, as `sanitize`
    * leaves it, then why the passes ended if not with an article. Whether
    * the lenient pass runs is decided as the reference does, on the
    * reparsed article. */
  def passes(html: String, opts: ExtractOptions, sanitize: Sanitize): Vector[String] = {
    val out = Vector.newBuilder[String]
    try {
      val doc = Extractor.parse(html, opts.url)
      var ruthless = true
      var done = false
      while (!done) {
        Extractor.prepare(doc, ruthless)
        val candidates = Extractor.scoreParagraphs(doc)
        val best = Extractor.selectBestCandidate(candidates)
        if (best == null) { done = !ruthless; ruthless = false }
        else {
          val article = Extractor.getRawArticle(candidates, best)
          sanitize(article, candidates, opts)
          out += dump(article)
          val cleaned = Serializer.serialize(HtmlParser.parseFragment(
            Cleaners2.cleanAttributesString(Serializer.serialize(article))))
          done = !ruthless || cleaned.length >= opts.retryLength
          ruthless = false
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) => out += s"failed: ${e.getClass.getName}: ${e.getMessage}"
    }
    out.result()
  }

  /** The whole document after `sanitize` judged its body: a lenient
    * `prepare`, one `scoreParagraphs`, then `sanitize` on the body. */
  def body(html: String, sanitize: Sanitize): String = {
    val doc = Extractor.parse(html)
    Extractor.prepare(doc, ruthless = false)
    val candidates = Extractor.scoreParagraphs(doc)
    val b = doc.findFirst("body")
    sanitize(if (b != null) b else doc, candidates, ExtractOptions())
    dump(doc)
  }
}
