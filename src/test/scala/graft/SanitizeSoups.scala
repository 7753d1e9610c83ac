package graft

/** Seeded pages for the conditional clean of `sanitize` (readability.py:
  * 456-584). Each puts a `div#main` of scoring paragraphs next to other
  * blocks, and nests blocks that sit on both sides of every threshold of
  * the decision table:
  *   - tables, uls and divs nested in one another (a ul in a table cell, a
  *     table in a div);
  *   - img, input and embed runs and lists of about 100 + p items, next
  *     to p = 0 to 4 paragraphs (img > p, li - 100 > p, input > p / 3);
  *   - blocks carrying 8 to 12 commas (the `< 10` gate);
  *   - a paragraph and an anchor whose link density sits near 0.2 or 0.5;
  *   - class and id values weighing -25, 0, +25 or 0 (both);
  *   - text of about 25 and 75 chars (the content-length and embed tests);
  *   - embed blocks between siblings whose clean lengths sum to about 1000
  *     (the rescue);
  *   - headers with links or negative classes, forms, iframes and
  *     textareas;
  *   - `\r\n`, `\r`, `\t` and NBSP among the spaces.
  * A period is always followed by a space, so no paragraph's own text ends
  * in one (`$` there differs between Java and Python before a final `\r`).
  */
object SanitizeSoups {
  private val weighted = Vector("", "", "content", "entry", "promo", "related", "widget",
    "box", "post meta", "article tool")
  private val spaces = Vector(" ", " ", " ", " ", "\r\n", "\n", " ", "\t", " \r\n ", "\r")
  private val vocab = Vector("lorem", "ipsum", "dolor", "sit", "amet", "consectetur",
    "adipiscing", "elit", "sed", "do", "eiusmod", "tempor", "incididunt", "ut", "labore")

  def gen(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    def pick[T](v: Vector[T]): T = v(rnd.nextInt(v.length))
    def near(x: Int, d: Int): Int = x - d + rnd.nextInt(2 * d + 1)
    val sb = new StringBuilder

    /** About `len` chars of words, with `commas` commas among them. */
    def text(len: Int, commas: Int = 0): String = {
      val t = new StringBuilder
      var left = commas
      while (t.length < len) {
        if (t.nonEmpty) {
          if (left > 0 && rnd.nextInt(3) == 0) { t.append(','); left -= 1 }
          else if (rnd.nextInt(12) == 0) t.append('.')
          t.append(pick(spaces))
        }
        t.append(pick(vocab))
      }
      while (left > 0) { t.append(", ").append(pick(vocab)); left -= 1 }
      t.toString
    }
    def attrs(): String = {
      val c = pick(weighted)
      (if (c.nonEmpty) s""" class="$c"""" else "") +
        (if (rnd.nextInt(4) == 0) s""" id="${pick(weighted)}x"""" else "")
    }
    def para(len: Int, commas: Int = 0): Unit =
      sb.append("<p>").append(text(len, commas)).append("</p>")
    def repeat(n: Int, s: String): Unit = (0 until n).foreach(_ => sb.append(s))
    def linked(): Unit = {
      // anchor share of the clean length near 0.2 or 0.5
      val total = 40 + rnd.nextInt(80)
      val a = (total * (if (rnd.nextBoolean()) 0.2 else 0.5)).toInt + rnd.nextInt(7) - 3
      sb.append("<p>").append(text(total - a)).append("</p>")
      sb.append("<a href=\"/l\">").append(text(math.max(a, 1))).append("</a>")
      if (rnd.nextInt(4) == 0) sb.append("<a href=\"/m\"><b>").append(text(5)).append("</b></a>")
    }

    def block(depth: Int): Unit = rnd.nextInt(18) match {
      case 0 | 1 => para(pick(Vector(near(25, 3), near(75, 3), 30 + rnd.nextInt(150))),
        rnd.nextInt(4))
      case 2 | 3 if depth < 3 =>
        sb.append("<div").append(attrs()).append('>')
        (0 until rnd.nextInt(4) + 1).foreach(_ => block(depth + 1))
        sb.append("</div>")
      case 4 if depth < 3 =>
        sb.append("<table").append(attrs()).append("><tr><td>")
        (0 until rnd.nextInt(3) + 1).foreach(_ => block(depth + 1))
        sb.append("</td></tr></table>")
      case 5 =>
        val items = if (rnd.nextInt(4) == 0) near(101, 3) else rnd.nextInt(5) + 1
        sb.append("<ul").append(attrs()).append('>')
        (0 until items).foreach { _ =>
          sb.append("<li>")
          if (depth < 3 && rnd.nextInt(12) == 0) block(depth + 1) else sb.append(text(4 + rnd.nextInt(30)))
          sb.append("</li>")
        }
        sb.append("</ul>")
      case 6 => // counts next to 0 to 4 paragraphs
        sb.append("<div").append(attrs()).append('>')
        val ps = rnd.nextInt(5)
        (0 until ps).foreach(_ => para(10 + rnd.nextInt(40)))
        rnd.nextInt(4) match {
          case 0 => repeat(near(ps, 1).max(0) + rnd.nextInt(2), "<img src=\"/i.png\">")
          case 1 => repeat(near(ps / 3, 1).max(0) + rnd.nextInt(2), "<input name=\"q\">")
          case 2 =>
            sb.append("<ul>")
            repeat(near(100 + ps, 2), "<li>" + text(6) + "</li>")
            sb.append("</ul>")
          case _ => repeat(rnd.nextInt(3), "<embed src=\"/e\">")
        }
        sb.append("</div>")
      case 7 => // 8 to 12 commas under one div
        sb.append("<div").append(attrs()).append('>')
        val commas = 8 + rnd.nextInt(5)
        val first = rnd.nextInt(commas + 1)
        para(20 + rnd.nextInt(40), first)
        sb.append("<span>").append(text(10, commas - first)).append("</span>")
        if (rnd.nextBoolean()) linked()
        sb.append("</div>")
      case 8 =>
        sb.append("<div").append(attrs()).append('>')
        linked()
        sb.append("</div>")
      case 9 => // the embed rescue: siblings summing to about 1000
        val before = 200 + rnd.nextInt(700)
        para(before)
        // a rescued table exempts its divs from the later div pass
        val table = rnd.nextBoolean()
        sb.append(if (table) "<table" else "<div").append(attrs())
          .append(if (table) "><tr><td>" else ">").append("<embed src=\"/e\">")
        para(near(45, 15))
        if (rnd.nextBoolean()) sb.append("<div><p>").append(text(20)).append("</p></div>")
        sb.append(if (table) "</td></tr></table>" else "</div>")
        if (rnd.nextInt(8) > 0) para(near(1040 - before, 60)) // spaces clean shorter
      case 10 =>
        val h = s"h${rnd.nextInt(6) + 1}"
        sb.append('<').append(h).append(if (rnd.nextBoolean()) attrs() else "").append('>')
        sb.append(text(8 + rnd.nextInt(20)))
        if (rnd.nextBoolean()) sb.append("<a href=\"/h\">").append(text(5 + rnd.nextInt(20))).append("</a>")
        sb.append("</").append(h).append('>')
      case 11 =>
        sb.append(pick(Vector("<form><p>" + text(30) + "</p><input name=\"f\"></form>",
          "<iframe src=\"/fr\">" + text(10) + "</iframe>", "<textarea>" + text(20) + "</textarea>")))
      case 12 => sb.append(text(5 + rnd.nextInt(40)))
      case 13 => repeat(rnd.nextInt(3) + 1, "<img src=\"/j.png\">")
      case _ => para(25 + rnd.nextInt(200), rnd.nextInt(6))
    }

    sb.append("<html><body>")
    (0 until rnd.nextInt(3)).foreach(_ => block(1))
    sb.append("<div id=\"main\"").append(if (rnd.nextBoolean()) attrs() else "").append('>')
    (0 until rnd.nextInt(3) + 1).foreach(_ => para(80 + rnd.nextInt(200), rnd.nextInt(5)))
    (0 until rnd.nextInt(6) + 2).foreach(_ => block(0))
    sb.append("</div>")
    (0 until rnd.nextInt(3)).foreach(_ => block(1))
    sb.append("</body></html>")
    sb.toString
  }
}
