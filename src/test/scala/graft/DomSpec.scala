package graft

import graft.dom.{Entities, HtmlParser, Node, Serializer}
import graft.extract.{Cleaners, Extractor}
import org.scalatest.funsuite.AnyFunSuite

class DomSpec extends AnyFunSuite {

  test("basic parse: implied structure, text/tail model") {
    val doc = HtmlParser.parse("<html><body><div>Hello <b>World</b>!  <i>- Jerry</i> C.</div></body></html>")
    val body = doc.findFirst("body")
    assert(body != null)
    val div = body.children.head
    assert(div.tag == "div")
    assert(div.text == "Hello ")
    assert(div.children.map(_.tag).toList == List("b", "i"))
    assert(div.children(0).text == "World")
    assert(div.children(0).tail == "!  ")
    assert(div.children(1).text == "- Jerry")
    assert(div.children(1).tail == " C.")
    assert(div.textContent == "Hello World!  - Jerry C.")
  }

  test("bare fragment gets html/head/body wrapper") {
    val doc = HtmlParser.parse("<div>x</div>")
    assert(doc.tag == "html")
    assert(doc.children.map(_.tag).toList == List("head", "body"))
    assert(doc.findFirst("body").children.head.tag == "div")
  }

  test("head elements vs body content") {
    val doc = HtmlParser.parse(
      "<html><head><title>T &amp; U</title><meta charset=utf-8><link rel=x></head><body><p>hi</p></body></html>")
    val head = doc.findFirst("head")
    assert(head.findFirst("title").text == "T & U")
    assert(head.findAll("meta").nonEmpty)
    assert(doc.findFirst("body").findFirst("p").text == "hi")
  }

  test("p auto-close and void elements") {
    val doc = HtmlParser.parse("<body><p>one<p>two<br>three<hr><p>four")
    val body = doc.findFirst("body")
    val tags = body.children.map(_.tag).toList
    assert(tags == List("p", "p", "hr", "p"), tags.toString)
    assert(body.children(1).textContent == "twothree")
    assert(body.children(1).children.head.tag == "br")
  }

  test("li auto-close, table cells") {
    val doc = HtmlParser.parse("<ul><li>a<li>b</ul><table><tr><td>1<td>2<tr><td>3</table>")
    val ul = doc.findFirst("ul")
    assert(ul.children.map(_.tag).toList == List("li", "li"))
    val table = doc.findFirst("table")
    val trs = table.findAll("tr")
    assert(trs.length == 2)
    assert(trs(0).children.map(_.textContent).toList == List("1", "2"))
    assert(trs(1).children.map(_.textContent).toList == List("3"))
  }

  test("script/style raw text, comments") {
    val doc = HtmlParser.parse(
      "<body><script>if (a < b && c > d) { x(); }</script><!-- note --><style>p > a { color: red }</style><p>t</p></body>")
    val body = doc.findFirst("body")
    assert(body.findFirst("script").text == "if (a < b && c > d) { x(); }")
    assert(body.findFirst("style").text == "p > a { color: red }")
    assert(body.children.exists(_.isComment))
    assert(body.findFirst("p").text == "t")
  }

  test("unmatched end tags ignored; misnested recovery") {
    val doc = HtmlParser.parse("<body><div>a</span>b</div></p>c</body>")
    val body = doc.findFirst("body")
    assert(body.children.head.textContent == "ab")
    assert(body.children.head.tail == "c")
  }

  test("entities: named, numeric, bare ampersand") {
    assert(Entities.decode("a &amp; b &#65; &#x42; &rsquo; &nope; & c") ==
      "a & b A B ’ &nope; & c")
    val doc = HtmlParser.parse("<body><p>R&amp;D &#8212; caf&eacute;</p></body>")
    assert(doc.findFirst("p").text == "R&D — café")
  }

  test("entities: a numeric reference is ASCII digits only, or hex digits after x") {
    for (ok <- Seq("&#65;", "&#x41;", "&#X41;", "&#0065;", "&#x0041;", "&#x4a;"))
      assert(Entities.decode(ok) == (if (ok.endsWith("a;")) "J" else "A"), ok)
    // a sign, another script's digits, an empty or overlong body: literal
    for (bad <- Seq("&#+65;", "&#x+41;", "&#-0;", "&#-65;", "&#\u0666\u0665;",
        "&#\uff16\uff15;", "&#x\uff14\uff11;", "&#;", "&#x;", "&#xg;", "&#65a;",
        "&#1114112;", "&#x110000;", "&#99999999999;"))
      assert(Entities.decode(bad) == bad, bad)
    assert(Entities.decode("&#1114111;") == new String(Character.toChars(0x10ffff)))
  }

  test("attributes: quoting styles, case, duplicates") {
    val doc = HtmlParser.parse(
      "<body><div ID=\"Main\" class='a b' data-x=1 checked novalue>x</div><div id=a ID=b>y</div></body>")
    val div = doc.findFirst("div")
    assert(div.attr("id") == "Main")
    assert(div.attr("class") == "a b")
    assert(div.attr("data-x") == "1")
    assert(div.attr("checked") == "")
    val dup = doc.findAll("div")(1)
    assert(dup.attrs.toList == List("id" -> "a"))
  }

  test("drop_tree keeps tail") {
    val doc = HtmlParser.parse("<body><div>a<span>X</span>tail1<b>Y</b>tail2</div></body>")
    val div = doc.findFirst("div")
    doc.findFirst("span").dropTree()
    assert(div.text == "atail1")
    doc.findFirst("b").dropTree()
    assert(div.text == "atail1tail2")
    assert(div.children.isEmpty)
  }

  /** Tags of `p`'s children, read forward through the sibling links; fails
    * unless the backward links, `parent` and the end links agree. */
  private def linkedTags(p: Node): List[String] = {
    val fwd = Iterator.iterate(p.firstChild)(_.nextSibling).takeWhile(_ != null).toList
    val bwd = Iterator.iterate(p.lastChild)(_.prevSibling).takeWhile(_ != null).toList
    assert(bwd == fwd.reverse)
    assert(fwd.forall(_.parent eq p))
    assert(fwd.headOption.forall(_.prevSibling == null))
    assert(fwd.lastOption.forall(_.nextSibling == null))
    assert(fwd == p.children.toList)
    fwd.map(_.tag)
  }

  private def detachedClean(n: Node): Unit =
    assert(n.parent == null && n.prevSibling == null && n.nextSibling == null)

  private def kids(tags: String*): Node = {
    val p = new Node("div")
    tags.foreach(t => p.append(new Node(t)))
    p
  }

  test("links: append moves a node between parents (lxml move semantics)") {
    val a = kids("x", "y", "z")
    val b = kids("u")
    val y = a.children(1)
    b.append(y)
    assert(linkedTags(a) == List("x", "z"))
    assert(linkedTags(b) == List("u", "y"))
    // re-appending to the same parent moves it to the end
    b.append(b.firstChild)
    assert(linkedTags(b) == List("y", "u"))
    // moving the only child empties the old parent
    val c = kids("only")
    a.append(c.firstChild)
    assert(linkedTags(c) == Nil)
    assert(c.firstChild == null && c.lastChild == null)
    assert(linkedTags(a) == List("x", "z", "only"))
  }

  test("links: insertBefore at the head and in the middle") {
    val p = kids("a", "c")
    p.insertBefore(p.firstChild, new Node("head"))
    assert(linkedTags(p) == List("head", "a", "c"))
    p.insertBefore(p.lastChild, new Node("b"))
    assert(linkedTags(p) == List("head", "a", "b", "c"))
    // the inserted node moves out of its old parent
    val other = kids("m")
    p.insertBefore(p.children(1), other.firstChild)
    assert(linkedTags(p) == List("head", "m", "a", "b", "c"))
    assert(linkedTags(other) == Nil)
    val stranger = new Node("s")
    assertThrows[IllegalArgumentException](p.insertBefore(stranger, new Node("t")))
  }

  test("links: dropTree on the first, last and only child joins the tail") {
    val doc = HtmlParser.parse("<body><div>t<i>1</i>a<b>2</b>b<u>3</u>c</div><p><s>4</s>d</p></body>")
    val div = doc.findFirst("div")
    val first = div.firstChild
    first.dropTree() // first child: tail joins the parent's text
    detachedClean(first)
    assert(div.text == "ta")
    assert(linkedTags(div) == List("b", "u"))
    val last = div.lastChild
    last.dropTree() // last child: tail joins the previous sibling's tail
    detachedClean(last)
    assert(div.firstChild.tail == "bc")
    assert(linkedTags(div) == List("b"))
    div.firstChild.dropTree()
    assert(div.text == "tabc")
    assert(linkedTags(div) == Nil)
    val p = doc.findFirst("p")
    val only = p.firstChild
    only.dropTree() // only child, parent without text
    detachedClean(only)
    assert(p.text == "d")
    assert(linkedTags(p) == Nil)
    assert(Serializer.serialize(doc.findFirst("body")) ==
      "<body><div>tabc</div><p>d</p></body>")
  }

  test("removeUnlikelyCandidates: dropping a div with children skips its following siblings") {
    val doc = HtmlParser.parse("<body><div>" +
      "<div class=\"comment\"><p>inside</p><div class=\"sidebar\">nested</div></div>" +
      "<div class=\"footer\">after</div><p>kept</p></div></body>")
    val comment = doc.findAll("div")(1)
    graft.extract.Extractor.removeUnlikelyCandidates(doc)
    val outer = doc.findFirst("body").firstChild
    // the dropped div's subtree is walked (its nested unlikely div goes too),
    // then the pass ends: the following unlikely footer is not visited
    detachedClean(comment)
    assert(linkedTags(comment) == List("p"))
    assert(linkedTags(outer) == List("div", "p"))
    assert(outer.firstChild.attr("class") == "footer")
    assert(doc.findAll("div").map(_.attr("class")).toList == List(null, "footer"))
  }

  test("serialize round-trip stability") {
    val html = "<html><head><title>t</title></head><body><div id=\"a\" class=\"b c\">x<br>y<p>z &amp; w</p></div></body></html>"
    val doc = HtmlParser.parse(html)
    val s1 = Serializer.serialize(doc)
    val doc2 = HtmlParser.parse(s1)
    val s2 = Serializer.serialize(doc2)
    assert(s1 == s2)
  }

  test("findAll document order; textContent excludes comments") {
    val doc = HtmlParser.parse("<body><div><p>1</p><div><p>2</p></div></div><p>3<!-- c -->4</p></body>")
    val ps = doc.findAll("p").map(_.textContent).toList
    assert(ps == List("1", "2", "34"))
  }

  test("fragment parse") {
    val frag = HtmlParser.parseFragment("<div id=\"page\"><p>hello</p></div>")
    assert(frag.tag == "div")
    assert(frag.attr("id") == "page")
    assert(frag.findFirst("p").text == "hello")
  }

  private def el(tag: String, text: String, tail: String, kids: Node*): Node = {
    val n = new Node(tag)
    n.text = text
    n.tail = tail
    kids.foreach(n.append)
    n
  }

  /** The cursor's events over `top` as "+tag" / "-tag", skipping the
    * children of every node tagged `skipAt`; fails unless each leave closes
    * the latest node entered and not yet left. */
  private def events(top: Node, skipAt: String = null): List[String] = {
    val out = List.newBuilder[String]
    var open = List.empty[Node]
    val w = top.cursor
    while (w.next()) {
      val n = w.node
      if (w.entering) {
        open = n :: open
        if (n.tag == skipAt) w.skipChildren()
      } else {
        assert(open.headOption.exists(_ eq n), s"leave $n out of order")
        open = open.tail
      }
      out += (if (w.entering) "+" else "-") + n.tag
    }
    assert(open.isEmpty)
    assert(!w.next()) // an ended walk stays ended
    out.result()
  }

  test("cursor: enter/leave order, skipChildren, and the walk stays inside its top") {
    val br = el("br", null, "brt", el("span", "s", "st")) // a void element given a child by hand
    val top = el("div", "t", "top-tail",
      el("b", "b", "bt", el("i", "i", "it")), el(Node.Comment, "c", "ct"), br)
    el("body", "o", null, el("p", "before", "pt"), top, el("p", "after", "at"))
    val all = List("+div", "+b", "+i", "-i", "-b", "+#comment", "-#comment",
      "+br", "+span", "-span", "-br", "-div")
    assert(events(top) == all)
    assert(events(top, skipAt = "br") == all.filterNot(_.endsWith("span")))
    assert(events(top, skipAt = "i") == all) // a leaf has no children to skip
    assert(events(top, skipAt = "b") == all.filterNot(_.endsWith("i")))
    assert(events(top, skipAt = "div") == List("+div", "-div"))
    assert(events(br) == List("+br", "+span", "-span", "-br"))
    // text on enter, tail on leave; the top's tail and siblings stay out
    assert(top.textContent == "tbiitbtctsstbrt")
    assert(br.textContent == "sst")
    assert(Serializer.serialize(top) == "<div>t<b>b<i>i</i>it</b>bt<!--c-->ct<br>brt</div>")
    assert(top.findAll("p").isEmpty && top.findFirst("p") == null)
    assert(top.findAll("span").map(_.text).toList == List("s"))
  }

  /** The recursive text walk the cursor replaced: own `text`, then each
    * child's pieces and `tail`; comments and PIs give only their tails. */
  private def textPieces(n: Node): List[String] =
    (if (n.isElement && n.text != null) List(n.text) else Nil) ++
      n.children.flatMap(c => textPieces(c) ++ Option(c.tail))

  test("cursor text walks equal the recursive reference on every node of 500 fuzzed DOMs") {
    (0 until 500).foreach { seed =>
      // commas in the text pieces (and in class values, which must not count)
      val html = DivToPEquivalenceSpec.gen(seed).replace("words", "wo,rds, ").replace("match", "ma,tch")
      HtmlParser.parse(html).iterSubtree.foreach { n =>
        val text = textPieces(n).mkString
        val commas = text.count(_ == ',')
        assert(n.textContent == text, s"seed $seed, $n")
        assert(new Extractor.TextStats(n).cleanLen(0) == Cleaners.clean(text).length, s"seed $seed, $n")
        assert(Cleaners.countCommas(n) == commas, s"seed $seed, $n")
        assert(Cleaners.countCommas(n, cap = 2) == math.min(commas, 2), s"seed $seed, $n")
      }
    }
  }
}
