package graft

/** Seeded pages whose articles carry attributes for the P11 strip and
  * shapes the reparse of the sanitized article fixes up. Under one root div:
  * paragraphs, inline children, tables, lists, images and divs, each with
  * random attributes:
  *   - names the strip pattern takes whole (`width`, `bgcolor`,
  *     `border-color`, `background-image`, `o`, `onn`, upper and mixed case,
  *     a Kelvin sign that the parser lowercases to `k`) and names it does not (`colour`,
  *     `x1color`, `onclick2`, `data-style`, …);
  *   - values that are empty, plain, hold a strip site (` width=5`,
  *     `x on=y`, ` x-color =red`, `  style  =  x`), hold a near miss that
  *     only Unicode case folding would match (a Kelvin sign, a long s), or
  *     hold `'`, `&quot;`, `&gt;`, `<` and non-ASCII letters;
  * with blank tails written as character references (`&#32;`, `&#13;`,
  * `&#9;`, which the parser keeps and a reparse of the serialization drops),
  * `&#12;` and `&nbsp;` tails (kept by both), `<b>`/`<em>` tails, and divs
  * that hold only text and a header, `<center>` or `<hr>`, which the
  * misused-div transform retags `<p>` and a reparse splits.
  */
object AttrSoups {
  private val strippable = Vector("width", "height", "style", "color", "bgcolor",
    "border-color", "background", "background-image", "o", "on", "onn", "WIDTH",
    "BgColor", "Style", "BACKGROUND", "text-Color", "BAC\u212AGROUND")
  private val plain = Vector("id", "class", "title", "href", "alt", "data-x",
    "colour", "x1color", "widths", "onclick2", "no", "data-style", "aria-label",
    "color2", "on-x", "lang")
  private val values = Vector("", "", "v", "10", "red", "a b", "main content",
    "it's", "&quot;quoted&quot;", "a &gt; b", "1 < 2", "&amp;", " ", "x=y",
    "café", "url(x.png)", " bac\u212Aground=1", " \u017Ftyle=1", "WIDTH= 3")
  private val siteValues = Vector(" width=5", "x on=y", " x-color =red",
    "  style  =  x", " BGCOLOR=1", " data-color=1", "été color=1", " on= ")
  private val texts = Vector(
    "Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed do eiusmod tempor",
    "incididunt ut labore et dolore magna aliqua, ut enim ad minim veniam, quis nostrud",
    "exercitation ullamco laboris nisi ut aliquip ex ea commodo consequat. Duis aute",
    "short words",
    "a &lt; b &amp; c &gt; d, with entities",
    "x")
  private val tails = Vector("", "", "", " and more words, here", "&#12;",
    "&nbsp;", "\n  ", "tail, text")
  private val blankTails = Vector("&#32;", "&#13;\n", "&#9;", " &#10; ")

  def gen(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    def pick(v: Vector[String]): String = v(rnd.nextInt(v.length))
    def tail(): String = if (rnd.nextInt(30) == 0) pick(blankTails) else pick(tails)
    val sb = new StringBuilder
    def attrs(): Unit = (0 until rnd.nextInt(5)).foreach { _ =>
      val name = if (rnd.nextInt(3) == 0) pick(plain) else pick(strippable)
      val v = if (rnd.nextInt(60) == 0) pick(siteValues) else pick(values)
      sb.append(' ').append(name).append('=')
      if (v.contains('\'')) sb.append('"').append(v).append('"')
      else if (rnd.nextBoolean()) sb.append('"').append(v).append('"')
      else sb.append('\'').append(v).append('\'')
    }
    def open(tag: String): Unit = { sb.append('<').append(tag); attrs(); sb.append('>') }
    def inline(): Unit = rnd.nextInt(7) match {
      case 0 => open("span"); sb.append(pick(texts)).append("</span>")
      case 1 => open("a"); sb.append(pick(texts)).append("</a>")
      case 2 => open("b"); sb.append(pick(texts)).append("</b>")
      case 3 => open("em"); sb.append(pick(texts)).append("</em>")
      case 4 => open("font"); sb.append(pick(texts)).append("</font>")
      case 5 => open("br")
      case _ => open("img")
    }
    def paragraph(tag: String): Unit = {
      open(tag)
      sb.append(pick(texts)).append(", ").append(pick(texts))
      (0 until rnd.nextInt(4)).foreach { _ => inline(); sb.append(tail()) }
      sb.append("</").append(tag).append('>')
    }
    def block(depth: Int): Unit = rnd.nextInt(20) match {
      case 0 | 1 | 2 | 3 | 4 | 5 | 10 => paragraph("p")
      case 6 => // retagged <p>, then split by the reparse
        open("div"); sb.append(pick(texts)).append(", ").append(pick(texts))
        val h = Vector("h2", "h3", "center", "hr")(rnd.nextInt(4))
        open(h)
        if (h != "hr") sb.append(pick(texts)).append("</").append(h).append('>')
        sb.append(tail()).append("</div>")
      case 7 | 8 =>
        open("table"); sb.append("<tr>"); open("td"); sb.append(pick(texts))
        sb.append("</td>"); open("td"); paragraph("p"); sb.append("</td></tr></table>")
      case 9 => // the double-break transform wraps a <ul> child in its <p>
        open("ul")
        (0 until rnd.nextInt(3) + 1).foreach { _ => open("li"); sb.append(pick(texts)).append("</li>") }
        sb.append("</ul>")
      case 11 | 12 => inline(); sb.append(tail())
      case 13 | 14 | 15 if depth < 2 =>
        open("div"); (0 until rnd.nextInt(3) + 1).foreach(_ => block(depth + 1)); sb.append("</div>")
      case _ => paragraph("p"); sb.append(tail())
    }
    // half the roots carry a positive class, so they outscore <body> more often
    sb.append(if (rnd.nextBoolean()) "<html><body><div class=\"article\"" else "<html><body><div")
    attrs()
    sb.append('>')
    (0 until rnd.nextInt(6) + 2).foreach(_ => block(0))
    sb.append("</div></body></html>")
    sb.toString
  }
}
