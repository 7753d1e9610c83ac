package graft

import graft.dom.HtmlParser
import graft.extract.{Extractor, Pages, Regexes}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Ports of TestFindNextPageLink and TestIsSuspectedDuplicate
  * (/root/reference/readability/readability_test.py:130-212). */
class NextPageSpec extends AnyFunSuite {

  private def res(name: String): String = {
    val p = Paths.get(getClass.getResource(s"/test_data/$name").toURI)
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
  }

  private def testPage(url: String, file: String, expected: String): Unit = {
    val doc = Extractor.parse(res(file), url)
    val parsed = scala.collection.mutable.Set(url)
    val actual = Pages.findNextPageUrl(parsed, url, doc)
    assert(actual == expected)
  }

  test("basic next page") {
    testPage(
      "http://basic.com/article.html",
      "basic-multi-page.html",
      "http://basic.com/article.html?pagewanted=2")
  }

  test("nytimes next page") {
    testPage(
      "http://www.nytimes.com/2011/07/10/magazine/the-dark-art-of-breaking-bad.html",
      "nytimes-next-page.html",
      "http://www.nytimes.com/2011/07/10/magazine/the-dark-art-of-breaking-bad.html?pagewanted=2&_r=1")
  }

  test("duplicate suppression") {
    val article = HtmlParser.parseFragment(res("duplicate-page-article.html"))
    val unique = HtmlParser.parseFragment(res("duplicate-page-unique.html"))
    val dup = HtmlParser.parseFragment(res("duplicate-page-duplicate.html"))
    assert(!Pages.isSuspectedDuplicate(article, unique))
    assert(Pages.isSuspectedDuplicate(article, dup))
  }

  test("the next-link pattern's `$` matches before a final \\n only, as Python's") {
    assert(Regexes.search(Regexes.nextLink, "page>2"))
    assert(Regexes.search(Regexes.nextLink, "page>2\n"))
    assert(!Regexes.search(Regexes.nextLink, "page>2\r"))
    assert(!Regexes.search(Regexes.nextLink, "page>2\r\n"))
  }
}
