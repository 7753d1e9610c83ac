package graft

import graft.dom.{HtmlParser, Node, Serializer}
import graft.extract.{Cleaners2, ExtractOptions, Extractor, Summary}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Differential check of `getArticle`'s tail: `Extractor.extract`, which
  * strips attributes on the tree (`Cleaners2.stripAttributes`) and rebuilds
  * the stripped article with `HtmlParser.rebuild`, against
  * [[ReparseReference]], which always serializes, strips the string with
  * the regex fixpoint and reparses. Summaries must be equal field for field.
  *
  * Each pass of the reference is also probed: where the tree strip applies
  * to the sanitized article, its serialization must equal the reference's
  * stripped string and be a fixpoint of the regex strip, and the rebuilt
  * article must equal the reparsed one node for node.
  * Inputs: every html file under src/test/resources (with and without a
  * url), 20 k [[AttrSoups]], 20 k each of the `DivToPEquivalenceSpec.gen`
  * and `TransformParitySpec.gen` soups, the hostile shapes at small n, and
  * crafted pages, one per fix-up of the parser. `rebuild` is also checked
  * against `parseFragment` of the serialization on every element of parsed
  * soups and on hand-built trees that no page reaches.
  */
class ReparseParitySpec extends AnyFunSuite {
  import ReparseParitySpec._

  private def same(a: Summary, b: Summary): Boolean =
    java.lang.Double.doubleToLongBits(a.confidence) ==
      java.lang.Double.doubleToLongBits(b.confidence) &&
      a.failed == b.failed && a.html == b.html && a.text == b.text &&
      a.spans.sameElements(b.spans)

  /** Extracts `html` both ways and probes every reference pass. */
  private def check(html: String, probe: Probe, what: => String,
      opts: ExtractOptions = ExtractOptions()): Unit = {
    val got = Extractor.extract(html, opts)
    val want = ReparseReference.extract(html, opts, probe.look)
    assert(probe.failure == null, s"$what: ${probe.failure}")
    assert(same(got, want), s"$what diverged\n=== got ===\n${got.html}\n=== want ===\n${want.html}")
  }

  private def pages: Vector[String] =
    Files.walk(Paths.get("src/test/resources")).iterator.asScala
      .filter(_.toString.endsWith(".html")).map(_.toString).toVector.sorted
      .map(f => new String(Files.readAllBytes(Paths.get(f)), ISO_8859_1))

  test("fast tail == reparsing reference on every test-resource page") {
    val probe = new Probe
    val all = pages
    assert(all.length >= 80)
    for ((html, i) <- all.zipWithIndex; url <- Seq(null, "http://example.com/a/b.html"))
      check(html, probe, s"page $i (url $url)", ExtractOptions(url = url))
    info(probe.toString)
    assert(probe.same > 0 && probe.changed > 0, probe)
  }

  test("fast tail == reparsing reference on 20 k attribute soups") {
    val probe = new Probe
    (0 until 20000).foreach(seed => check(AttrSoups.gen(seed), probe, s"seed $seed"))
    info(probe.toString)
    // every branch is taken often: the string path, and the tree strip with
    // a rebuild that changed the tree or one that changed nothing
    assert(probe.stringPath > 1000 && probe.changed > 1000 && probe.same > 1000, probe)
    assert(probe.stripped > 1000, probe)
  }

  test("fast tail == reparsing reference on the tag and <br> soups") {
    val probe = new Probe
    (0 until 20000).foreach { seed =>
      check(DivToPEquivalenceSpec.gen(seed), probe, s"div-to-p seed $seed")
      check(TransformParitySpec.gen(seed), probe, s"br seed $seed")
    }
    info(probe.toString)
    assert(probe.changed > 1000 && probe.same > 1000, probe)
  }

  test("fast tail == reparsing reference on the hostile shapes") {
    val probe = new Probe
    for ((shape, i) <- HostileInputSpec.shapes.zipWithIndex; n <- Seq(1, 2, 50, 300))
      check(shape(n), probe, s"shape $i at n=$n")
    info(probe.toString)
  }

  test("crafted pages: each fix-up of the parser is rebuilt as the reparse builds it") {
    val words = "Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed do eiusmod " +
      "tempor incididunt ut labore et dolore magna aliqua, ut enim ad minim veniam."
    def para(i: Int) = s"<p>$i $words</p>"
    // two divs deep, so that the inner div outscores the body, whose id
    // `readabilityBody` earns it the positive class weight
    def page(article: String) = s"<html><body><div><div>$article</div></div></body></html>"
    // name, page, and the probe's branch: a rebuild that (c)hanged the tree
    // or left it the (s)ame, or the s(t)ring path
    val cases = Seq(
      // a misused div retagged <p> whose <h2> child the reparse pops out
      ("retagged div holding a block",
        page(s"${para(1)}${para(2)}<div><h2>Head</h2></div>${para(3)}"), 'c'),
      // p > span > div > p > center, the outer <p> from the double-break
      // transform: the <center> closes the inner <p>, whose end tag then
      // closes the outer one, and the end tags after it close the divs
      ("double-break p > span > div > p > center",
        page(s"$words<span><div>$words<center>c</center>tail</div>after</span>${para(1)}"), 'c'),
      // in an <article>, which the double-break transform leaves alone
      ("entity-written blank tails",
        page(s"<article>${para(1)}&#32;${para(2)}&#13;\n${para(3)}</article>"), 'c'),
      ("<body> as the best candidate",
        s"<html><body>${para(1)}${para(2)}${para(3)}</body></html>", 'c'),
      // the <hr> a double-break <p> takes in pops out of it
      ("void elements with tails",
        page(s"${para(1)}<img src=a.png> after img <br>after br<hr>after hr${para(2)}"), 'c'),
      ("text and attribute values holding &, \", < and written-out references",
        page(s"${para(1)}<a href='x?a=1&amp;b=\"2\"&lt;3&amp;lt;'>l&amp;amp;k &amp;lt;</a>${para(2)}"), 's'),
      // the tokenizer reads a title's content as text: no tree strip
      ("a <title> in the article",
        page(s"${para(1)}<title>T &amp; t</title>${para(2)}"), 't'))
    for ((name, html, branch) <- cases) {
      val probe = new Probe
      check(html, probe, name)
      info(s"$name: $probe")
      val counts = Map('c' -> probe.changed, 's' -> probe.same, 't' -> probe.stringPath)
      assert(counts(branch) == 1 && counts.values.sum == 1, s"$name: $probe")
    }
  }

  test("rebuild == parseFragment of the serialization on hand-built trees") {
    def el(tag: String, kids: Node*): Node = {
      val n = new Node(tag)
      kids.foreach(n.append)
      n
    }
    def txt(n: Node, text: String, tail: String = null): Node = {
      n.text = text; n.tail = tail; n
    }
    val trees = Seq(
      // p > span > p > div: the div closes the inner p, then the inner p's
      // end tag closes the outer one, and what follows leaves the fragment
      () => el("div", el("p", el("span", el("p", txt(el("div"), "x", "y")), txt(el("b"), "z", "w")))),
      () => el("p", el("span", el("p", txt(el("div"), "x")))),
      () => el("div", txt(el("p"), "a", " "), txt(el("p"), "b", "\r\n"), txt(el("em"), "c", " ")),
      () => el("body", txt(el("p"), "a", " "), el("head", txt(el("meta"), null, "t"))),
      () => el("div", el("html", txt(el("body"), "b", "t")), txt(el("head"), "h", " ")),
      () => el("div", txt(el("br", txt(el("span"), "lost")), null, " "), txt(el("img"), "lost", "kept")),
      () => el("ul", txt(el("li", el("li")), "a", " "), el("dd", el("dt")), el("tr", el("td", el("th")))),
      () => el("table", el("tr", el("td", el("tr", el("td")))), el("option", el("optgroup"))),
      // text and values holding what reads as a reference once decoded
      () => {
        val a = txt(el("a"), "&amp; &#65; &lt;", "&gt;")
        a.setAttr("href", "&amp; \" < > &#65;")
        txt(el("p", a), "&lt;", "a tail the fragment leaves out")
      })
    for ((mk, i) <- trees.zipWithIndex) {
      val top = mk()
      val html = Serializer.serialize(top) // before rebuild consumes `top`
      val want = fragment(HtmlParser.parseFragment(html))
      assert(fragment(HtmlParser.rebuild(top)) == want, s"tree $i: $html")
    }
    // what the tokenizer reads as more than builder calls: the tree strip
    // declines it, and rebuild refuses it
    for (mk <- Seq(() => el("div", new Node(Node.Comment)), () => el("div", el("title")),
        () => el("div", el("textarea")), () => el("div", el("script")),
        () => el("p", new Node(Node.Pi)))) {
      assert(!Cleaners2.stripAttributes(mk()), Serializer.serialize(mk()))
      intercept[IllegalArgumentException](HtmlParser.rebuild(mk()))
    }
    // the serializer drops a void element's children, so rebuild never meets them
    val voidHolder = el("div", el("br", new Node(Node.Comment)))
    val want = fragment(HtmlParser.parseFragment(Serializer.serialize(voidHolder)))
    assert(fragment(HtmlParser.rebuild(voidHolder)) == want)
  }

  test("tree strip == regex fixpoint, and rebuild == a reparse, on parsed soups") {
    var stripped, rebuilt = 0
    val inputs = (0 until 5000).map(AttrSoups.gen) ++ (0 until 2000).map(DivToPEquivalenceSpec.gen)
    inputs.zipWithIndex.foreach { case (html, i) =>
      // the transforms retag divs whose block children a reparse splits off
      val doc = Extractor.parse(html)
      Extractor.prepare(doc, ruthless = false)
      val root = doc.findFirst("body").firstChild
      val before = Serializer.serialize(root)
      if (Cleaners2.stripAttributes(root)) {
        stripped += 1
        val after = Serializer.serialize(root)
        assert(after == Cleaners2.cleanAttributesString(before), s"input $i: $html")
        assert(Cleaners2.cleanAttributesString(after) == after, s"input $i: $html")
      } else assert(Serializer.serialize(root) == before, s"input $i left the tree alone")
      // rebuild consumes its input: it gets a copy of each subtree
      val w = root.cursor
      while (w.next()) if (w.entering && w.node.isElement) {
        val c = w.node
        val want = fragment(HtmlParser.parseFragment(Serializer.serialize(c)))
        assert(fragment(HtmlParser.rebuild(copyOf(c))) == want, s"input $i, $c: $html")
        rebuilt += 1
      }
    }
    info(s"tree strip on $stripped of ${inputs.length} roots; $rebuilt subtrees rebuilt")
    assert(stripped > 1000 && rebuilt > 100000)
  }
}

object ReparseParitySpec {

  /** Probes each reference pass; see the class comment. */
  final class Probe {
    var stringPath, changed, same, stripped = 0
    var failure: String = null

    private def fail(msg: String): Unit = if (failure == null) failure = msg

    val look: (Node, String, Node) => Unit = (article, sanitized, cleaned) => {
      val before = Serializer.serialize(article)
      if (!Cleaners2.stripAttributes(article)) stringPath += 1
      else {
        val onTree = Serializer.serialize(article)
        if (onTree != before) stripped += 1
        if (onTree != sanitized) fail(s"tree strip\n$onTree\n!= string strip\n$sanitized")
        else if (Cleaners2.cleanAttributesString(onTree) != onTree)
          fail(s"tree strip left a strip site\n$onTree")
        val given = dump(article)
        val rebuilt = dump(HtmlParser.rebuild(article))
        if (rebuilt != dump(cleaned)) fail(s"rebuild != reparse\n$rebuilt\n${dump(cleaned)}")
        else if (rebuilt == given) same += 1
        else changed += 1
      }
    }

    override def toString: String =
      s"passes: $stringPath string strip, $changed tree strip + rebuild that changed the tree, " +
        s"$same tree strip + rebuild that changed nothing ($stripped stripped something)"
  }

  /** A copy of `top`'s subtree: tags, attributes, texts and tails. */
  def copyOf(top: Node): Node = {
    var cur: Node = null
    val w = top.cursor
    while (w.next()) {
      val n = w.node
      if (w.entering) {
        val c = new Node(n.tag)
        c.text = n.text
        c.tail = n.tail
        if (n.hasAttrs) n.attrs.foreach { case (k, v) => c.setAttr(k, v) }
        if (cur != null) cur.append(c)
        cur = c
      } else if (n ne top) cur = cur.parent
    }
    cur
  }

  /** [[dump]] and the root's own tail, which a fragment root never has. */
  def fragment(root: Node): String = dump(root) + "|" + root.tail

  /** The tree as a string of every tag, attribute, text and tail, an empty
    * string written as an absent one: the serializer writes neither. */
  def dump(top: Node): String = {
    val sb = new StringBuilder
    def str(s: String): Unit =
      if (s == null || s.isEmpty) sb.append('-') else sb.append(s.length).append(':').append(s)
    val w = top.cursor
    while (w.next()) {
      val n = w.node
      if (w.entering) {
        sb.append('<').append(n.tag)
        if (n.hasAttrs) n.attrs.foreach { case (k, v) => sb.append(' ').append(k).append('='); str(v) }
        sb.append('>')
        str(n.text)
      } else {
        sb.append("</").append(n.tag).append('>')
        if (n ne top) str(n.tail)
      }
    }
    sb.toString
  }
}
