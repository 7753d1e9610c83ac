package graft.dom

/** HTML serializer playing the role of lxml's `tounicode(..., method="html")`
  * (used at /root/reference/readability/readability.py:584,662). The
  * correctness target of the engine is extracted *text* equality (north rule),
  * so this serializer must be correct HTML, not byte-identical to libxml2
  * (SURVEY.md §2h F12).
  */
object Serializer {

  def serialize(n: Node): String = {
    val sb = new java.lang.StringBuilder(256)
    write(n, sb, includeTail = false)
    sb.toString
  }

  /** Serialize only the children (inner HTML), used by P5's div-to-p test
    * which inspects the serialized child list
    * (/root/reference/readability/readability.py:364). */
  def serializeChildren(n: Node): String = {
    val sb = new java.lang.StringBuilder(128)
    var c = n.firstChild
    while (c != null) {
      write(c, sb, includeTail = true)
      c = c.nextSibling
    }
    sb.toString
  }

  private val rawText = Set("script", "style")

  /** Tags whose text serializes RAW (unescaped) — load-bearing for
    * Extractor.childrenMatchBlockRegex's serialize-equivalence. */
  def isRawText(tag: String): Boolean = rawText.contains(tag)

  private def write(top: Node, sb: java.lang.StringBuilder, includeTail: Boolean): Unit = {
    val w = top.cursor
    while (w.next()) {
      val n = w.node
      if (w.entering) {
        if (!n.isElement) {
          sb.append(if (n.isComment) "<!--" else "<?")
            .append(if (n.text == null) "" else n.text).append(if (n.isComment) "-->" else "?>")
          w.skipChildren()
        } else {
          sb.append('<').append(n.tag)
          if (n.hasAttrs) {
            n.attrs.foreach { case (k, v) =>
              sb.append(' ').append(k).append("=\"")
              escapeAttr(v, sb)
              sb.append('"')
            }
          }
          sb.append('>')
          if (HtmlParser.voidElements.contains(n.tag)) w.skipChildren()
          else if (n.text != null) {
            if (rawText.contains(n.tag)) sb.append(n.text)
            else escapeText(n.text, sb)
          }
        }
      } else {
        if (n.isElement && !HtmlParser.voidElements.contains(n.tag))
          sb.append("</").append(n.tag).append('>')
        if ((includeTail || (n ne top)) && n.tail != null) escapeText(n.tail, sb)
      }
    }
  }

  private def escapeText(s: String, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case c => sb.append(c)
      }
      i += 1
    }
  }

  private def escapeAttr(s: String, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '"' => sb.append("&quot;")
        case c => sb.append(c)
      }
      i += 1
    }
  }
}
