package graft

import graft.dom.HtmlParser
import graft.extract.Regexes
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The literal keyword sets of `Regexes` must match exactly where the
  * reference's case-insensitive regexes (regexes.py:7-25, kept here as
  * compiled patterns) find a match: on every class and id string of the
  * fixture pages and on seeded mixed-case strings with `-` and non-ASCII
  * chars whose Unicode case folds onto ASCII letters. */
class KeywordsSpec extends AnyFunSuite {
  import KeywordsSpec._

  private def checkAll(s: String): Unit = reference.foreach { case (name, keywords, pattern) =>
    assert(keywords.foundIn(s) == pattern.matcher(s).find(), s"$name on \"$s\"")
  }

  test("keywords match as the reference regexes on every fixture class and id") {
    val files = Files.walk(Paths.get("src/test/resources")).iterator.asScala
      .filter(_.toString.endsWith(".html")).toVector.sorted
    var seen = 0
    files.foreach { f =>
      HtmlParser.parse(new String(Files.readAllBytes(f), ISO_8859_1)).iterSubtree.foreach { n =>
        if (n.isElement && n.hasAttrs) {
          val cls = n.attrOr("class", "")
          val id = n.attrOr("id", "")
          Seq(cls, id, cls + " " + id).foreach { s => checkAll(s); seen += 1 }
        }
      }
    }
    assert(seen > 1000)
  }

  test("keywords match as the reference regexes on seeded mixed-case strings") {
    val words = reference.flatMap(_._3.pattern.split('|')).distinct.toVector
    // ASCII, separators, and U+212A (Kelvin sign), U+0130, U+0131 and U+017F
    // (long s): Unicode case folding maps them onto k, i, i and s, which
    // Java's ASCII-only CASE_INSENSITIVE does not
    val noise = Vector('-', '_', ' ', 'x', 'Q', '\u212A', '\u0130', '\u0131', '\u017F', '\u00E9')
    val rnd = new Random(11)
    var hits = 0
    (0 until 20000).foreach { _ =>
      val sb = new StringBuilder
      (0 until 1 + rnd.nextInt(3)).foreach { _ =>
        val w = words(rnd.nextInt(words.length))
        w.foreach { c =>
          val r = rnd.nextInt(10)
          sb.append(
            if (r < 3) c.toUpper
            else if (r == 3 && c == 'k') '\u212A'
            else if (r == 3 && c == 'i') '\u0130'
            else if (r == 3 && c == 's') '\u017F'
            else c)
        }
        sb.append(noise(rnd.nextInt(noise.length)))
        if (rnd.nextBoolean()) sb.append(noise(rnd.nextInt(noise.length)))
      }
      val s = sb.toString
      if (Regexes.negative.foundIn(s)) hits += 1
      checkAll(s)
    }
    assert(hits > 1000 && hits < 19000)
  }

  test("foldAscii maps A-Z only") {
    val s = "AZaz09-_\u212A\u0130\u017F\u00C9Mixed"
    assert(Regexes.foldAscii(s) == "azaz09-_\u212A\u0130\u017F\u00C9mixed")
    val lower = "already lower"
    assert(Regexes.foldAscii(lower) eq lower)
  }
}

object KeywordsSpec {
  private def ci(p: String) = Pattern.compile(p, Pattern.CASE_INSENSITIVE)

  /** The reference patterns that the keyword sets replace. */
  val reference: Seq[(String, Regexes.Keywords, Pattern)] = Seq(
    ("unlikelyCandidates", Regexes.unlikelyCandidates, ci(
      "combx|comment|community|disqus|extra|foot|header|menu|remark|rss|shoutbox|sidebar|sponsor|ad-break|agegate|pagination|pager|popup|tweet|twitter")),
    ("okMaybeItsACandidate", Regexes.okMaybeItsACandidate,
      ci("and|article|body|column|main|shadow")),
    ("positive", Regexes.positive, ci(
      "article|body|content|entry|hentry|main|page|pagination|post|text|blog|story")),
    ("negative", Regexes.negative, ci(
      "combx|comment|com-|contact|foot|footer|footnote|masthead|media|meta|outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|tool|widget")))
}
