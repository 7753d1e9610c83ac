package graft.dom

import scala.collection.mutable
import scala.runtime.IntRef

/** From-scratch error-tolerant HTML tokenizer + tree builder.
  *
  * Plays the role of libxml2's recovering HTML parser in the reference
  * (`lxml.html.document_fromstring`, /root/reference/readability/htmls.py:13-17):
  * implied `<html><head><body>`, void elements, raw-text elements, `<p>`/`<li>`/
  * table-cell auto-close, unmatched end tags ignored, character references
  * decoded. It does NOT implement the full HTML5 algorithm (no adoption agency,
  * no foster parenting) — libxml2 does not either.
  *
  * This runs inside `mapPartitions` on the extraction hot path (SURVEY.md §7
  * module 1); it is a single forward scan building the tree directly with no
  * intermediate token list. [[rebuild]] drives the same tree builder from a
  * walk over a tree: one owner of the fix-ups a reparse would apply.
  */
object HtmlParser {

  val voidElements: Set[String] = Set(
    "area", "base", "basefont", "br", "col", "embed", "frame", "hr", "img",
    "input", "isindex", "keygen", "link", "meta", "param", "source", "track",
    "wbr")

  /** Content scanned raw until the matching close tag; script/style get no
    * entity decoding, textarea/title (RCDATA) do. */
  private val rawText = Set("script", "style")
  private val rcdata = Set("textarea", "title")

  private val headOnly = Set("title", "base", "link", "meta", "style",
    "script", "isindex")

  /** Starting any of these closes an open <p> — the HTML4 block set the
    * era libxml2 knew. HTML5 elements (article, header, section, aside,
    * figure, nav, …) are deliberately ABSENT: libxml2 treated them as
    * unknown inline-ish elements that nest freely inside <p>, and the
    * golden fixtures encode that (slate-000's golden has
    * `<p><article><div…` and `<h2>` nested inside an unclosed `<h1>`). */
  private val pClosers = Set(
    "address", "blockquote", "center", "dir", "div", "dl", "fieldset",
    "form", "h1", "h2", "h3", "h4", "h5", "h6", "hr", "listing", "menu",
    "noscript", "ol", "p", "pre", "table", "ul", "xmp")

  def parse(html: String): Node = new Parser(html).run()

  /** libxml2 `htmlAutoClose`'s table: whether an incoming start tag
    * `newTag` closes the open element `oldTag`. The parser pops open
    * elements WHILE the innermost one is auto-closed by the incoming tag; an
    * unknown (e.g. HTML5) element on top of the stack stops the loop, so
    * content nests inside it, matching the era parser that produced the
    * goldens. */
  def autoClosedBy(newTag: String, oldTag: String): Boolean =
    oldTag match {
      case "p" => pClosers.contains(newTag)
      case "li" => newTag == "li"
      case "dd" | "dt" => newTag == "dd" || newTag == "dt"
      case "option" => newTag == "option" || newTag == "optgroup"
      case "td" | "th" => newTag == "td" || newTag == "th" || newTag == "tr"
      case "tr" => newTag == "tr"
      case _ => false
    }

  /** Parse a fragment with a single root element (lxml
    * `fragment_fromstring`): returns the first element parsed under body. */
  def parseFragment(html: String): Node = fragmentRoot(parse(html))

  /** Whether the tokenizer reads an element's content as text (raw text, RCDATA). */
  def readsContentRaw(tag: String): Boolean = rawText.contains(tag) || rcdata.contains(tag)

  /** What [[parseFragment]] returns for `Serializer.serialize(top)`, built
    * without the string: a walk relinks `top`'s own nodes into a fresh
    * parser's tree builder in the order its tokenizer would meet them in
    * the serialization, so every fix-up (auto-close, blank-run drops,
    * html/head/body merges) applies by construction. An element starts,
    * then its text; a void element has no text, children or end tag, as the
    * serializer writes none; then the element ends and its tail follows,
    * except `top`'s own. Texts go in decoded: the serializer escapes only
    * `&`, `<`, `>` (and `"` in values), which the decoder undoes exactly.
    * `top` is consumed. It must hold no comment, processing instruction or
    * element whose content the tokenizer [[readsContentRaw]]: there it does
    * more than call the builder. `Cleaners2.stripAttributes` declines all
    * of those. */
  def rebuild(top: Node): Node = {
    val p = new Parser("")
    // no cursor: the walk relinks what it walks. Per open element of `top`:
    // the node, and its next sibling and tail as they were before the relink
    val open, nexts = new mutable.ArrayBuffer[Node]
    val tails = new mutable.ArrayBuffer[String]
    var n = top
    while (n != null) {
      if (!n.isElement || readsContentRaw(n.tag))
        throw new IllegalArgumentException(s"rebuild needs the string for $n")
      val first = n.firstChild
      val text = n.text
      val next = if (n eq top) null else n.nextSibling
      val tail = if (n eq top) null else n.tail
      n.unlink()
      p.startTag(n)
      if (voidElements.contains(n.tag)) { p.addDecoded(tail); n = next }
      else {
        p.addDecoded(text)
        if (first != null) { open += n; nexts += next; tails += tail; n = first }
        else { p.endTag(n.tag); p.addDecoded(tail); n = next }
      }
      while (n == null && open.nonEmpty) {
        p.endTag(open.remove(open.length - 1).tag)
        p.addDecoded(tails.remove(tails.length - 1))
        n = nexts.remove(nexts.length - 1)
      }
    }
    fragmentRoot(p.run()) // the empty input: opens html, head and body
  }

  /** The first element under `root`'s body. */
  private def fragmentRoot(root: Node): Node = {
    val body = root.findFirst("body")
    val host = if (body != null) body else root
    var c = host.firstChild
    while (c != null && !c.isElement) c = c.nextSibling
    if (c == null) throw new IllegalArgumentException("no root element in fragment")
    c
  }

  private final class Parser(in: String) {
    private val len = in.length
    private var pos = 0

    private var root: Node = null  // <html>
    private var head: Node = null
    private var body: Node = null
    private var inBody = false
    // open-element stack; root is stack bottom once created. Every push and
    // pop goes through push/popTo, which keep a count of the open elements
    // per tag name (each entry's count rides along in `stackCounts`, so a
    // pop needs no lookup): an end tag whose name has no open element skips
    // the stack scan, so stray end tags cost O(1) however deep the page nests.
    private val stack = new mutable.ArrayBuffer[Node](16)
    private val stackCounts = new mutable.ArrayBuffer[IntRef](16)
    private val openCount = new java.util.HashMap[String, IntRef]

    private def cur: Node = stack(stack.length - 1)

    private def push(n: Node): Unit = {
      var c = openCount.get(n.tag)
      if (c == null) { c = new IntRef(0); openCount.put(n.tag, c) }
      c.elem += 1
      stack += n
      stackCounts += c
    }

    /** Pops open elements until `depth` remain. */
    private def popTo(depth: Int): Unit =
      while (stack.length > depth) {
        stack.remove(stack.length - 1)
        stackCounts.remove(stackCounts.length - 1).elem -= 1
      }

    private def isOpen(name: String): Boolean = {
      val c = openCount.get(name)
      c != null && c.elem > 0
    }

    def run(): Node = {
      while (pos < len) {
        val lt = in.indexOf('<', pos)
        if (lt < 0) {
          addText(in.substring(pos), atEof = true); pos = len
        } else {
          if (lt > pos) addText(in.substring(pos, lt))
          pos = lt
          parseMarkup()
        }
      }
      ensureRoot()
      ensureBody()
      root
    }

    private def parseMarkup(): Unit = {
      // pos is at '<'
      if (pos + 1 >= len) { addText("<"); pos = len; return }
      val c = in.charAt(pos + 1)
      if (c == '!') parseDeclaration()
      else if (c == '?') parsePi()
      else if (c == '/') parseEndTag()
      else if (isNameStart(c)) parseStartTag()
      else { addText("<"); pos += 1 }
    }

    private def isNameStart(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

    private def isNameChar(c: Char): Boolean =
      isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' ||
        c == ':' || c == '.'

    private def parseDeclaration(): Unit = {
      if (in.startsWith("<!--", pos)) {
        val end = in.indexOf("-->", pos + 4)
        val content = if (end < 0) in.substring(pos + 4)
          else in.substring(pos + 4, end)
        pos = if (end < 0) len else end + 3
        addComment(content)
      } else {
        // <!DOCTYPE ...>, <![CDATA[...]]>, bogus declarations: skip to '>'
        if (in.regionMatches(true, pos, "<![CDATA[", 0, 9)) {
          val end = in.indexOf("]]>", pos + 9)
          pos = if (end < 0) len else end + 3
        } else {
          val end = in.indexOf('>', pos + 2)
          pos = if (end < 0) len else end + 1
        }
      }
    }

    private def parsePi(): Unit = {
      val end = in.indexOf('>', pos + 2)
      val content = if (end < 0) in.substring(pos + 2)
        else in.substring(pos + 2, end)
      pos = if (end < 0) len else end + 1
      val n = new Node(Node.Pi)
      n.text = content.stripSuffix("?")
      // PIs are dropped by the cleaner anyway; attach only inside body
      if (inBody) cur.append(n)
    }

    private def parseEndTag(): Unit = {
      var i = pos + 2
      if (i >= len || !isNameStart(in.charAt(i))) {
        // "</" not followed by a name: bogus comment until '>'
        val end = in.indexOf('>', pos + 2)
        pos = if (end < 0) len else end + 1
        return
      }
      val start = i
      while (i < len && isNameChar(in.charAt(i))) i += 1
      val name = in.substring(start, i).toLowerCase(java.util.Locale.ROOT)
      val end = in.indexOf('>', i)
      pos = if (end < 0) len else end + 1
      endTag(name)
    }

    private def parseStartTag(): Unit = {
      var i = pos + 1
      val start = i
      while (i < len && isNameChar(in.charAt(i))) i += 1
      val name = in.substring(start, i).toLowerCase(java.util.Locale.ROOT)
      var attrs: mutable.LinkedHashMap[String, String] = null
      // attribute scanning
      var done = false
      while (!done && i < len) {
        // skip whitespace and stray '/'
        while (i < len && (isWs(in.charAt(i)) || in.charAt(i) == '/')) i += 1
        if (i >= len) done = true
        else if (in.charAt(i) == '>') { i += 1; done = true }
        else {
          // attribute name
          val ns = i
          while (i < len && !isWs(in.charAt(i)) && in.charAt(i) != '=' &&
            in.charAt(i) != '>' && in.charAt(i) != '/') i += 1
          val aname = in.substring(ns, i).toLowerCase(java.util.Locale.ROOT)
          while (i < len && isWs(in.charAt(i))) i += 1
          var avalue = ""
          if (i < len && in.charAt(i) == '=') {
            i += 1
            while (i < len && isWs(in.charAt(i))) i += 1
            if (i < len) {
              val q = in.charAt(i)
              if (q == '"' || q == '\'') {
                i += 1
                val vs = i
                while (i < len && in.charAt(i) != q) i += 1
                avalue = Entities.decode(in.substring(vs, i))
                if (i < len) i += 1
              } else {
                val vs = i
                while (i < len && !isWs(in.charAt(i)) && in.charAt(i) != '>') i += 1
                avalue = Entities.decode(in.substring(vs, i))
              }
            }
          }
          if (aname.nonEmpty) {
            // the first of duplicate names wins (libxml2)
            if (attrs == null) attrs = mutable.LinkedHashMap.empty
            if (!attrs.contains(aname)) attrs.update(aname, avalue)
          }
        }
      }
      pos = i
      val n = new Node(name)
      if (attrs != null) n.adoptAttrs(attrs)
      startTag(n)
      if (rawText.contains(name)) consumeRawText(name, decodeEntities = false)
      else if (rcdata.contains(name)) consumeRawText(name, decodeEntities = true)
    }

    /** Scan raw content of script/style/textarea/title up to its close tag. */
    private def consumeRawText(name: String, decodeEntities: Boolean): Unit = {
      val closer = "</" + name
      var i = pos
      var end = -1
      while (end < 0) {
        val idx = in.indexOf('<', i)
        if (idx < 0 || idx + closer.length > len) end = len
        else if (in.regionMatches(true, idx, closer, 0, closer.length)) {
          val after = idx + closer.length
          if (after >= len || isWs(in.charAt(after)) || in.charAt(after) == '>' ||
            in.charAt(after) == '/') end = idx
          else i = idx + 1
        } else i = idx + 1
      }
      val content = in.substring(pos, end)
      val text = if (decodeEntities) Entities.decode(content) else content
      val owner = cur
      if (owner.tag == name) {
        if (text.nonEmpty) owner.text =
          (if (owner.text == null) "" else owner.text) + text
        // close the raw element
        if (stack.length > 1) popTo(stack.length - 1)
      }
      // skip past the close tag
      if (end >= len) pos = len
      else {
        val gt = in.indexOf('>', end)
        pos = if (gt < 0) len else gt + 1
      }
    }

    private def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

    // ---- tree construction ----

    private def ensureRoot(): Unit = {
      if (root == null) {
        root = new Node("html")
        push(root)
      }
    }

    private def ensureHead(): Unit = {
      ensureRoot()
      if (head == null) {
        head = new Node("head")
        root.append(head)
      }
    }

    private def ensureBody(): Unit = {
      ensureRoot()
      if (body == null) {
        ensureHead()
        body = new Node("body")
        root.append(body)
      }
      if (!inBody) {
        inBody = true
        // reset stack to html > body
        popTo(0)
        push(root)
        push(body)
      }
    }

    /** libxml2 `areBlanks` (HTMLparser.c, the 2.7-era variant lxml used when
      * the reference's fixtures were generated): a whitespace-only character
      * run followed by `<` (or EOF) is DROPPED unless the insertion point's
      * last child is a text node (in our model: pending `text`/`tail`) or a
      * `b`/`bold`/`em` element, or the node is `body`. The reference's
      * double-breaks-expected fixtures encode exactly this (e.g. whitespace
      * between `<br><br>` and `<strong>` vanishes, text after `</h1>` stays).
      */
    private def dropsBlankRun(raw: String, atEof: Boolean): Boolean = {
      var i = 0
      while (i < raw.length) {
        val c = raw.charAt(i) // libxml2 `IS_BLANK_CH`: ASCII blanks only
        if (c != ' ' && c != '\t' && c != '\n' && c != '\r') return false
        i += 1
      }
      if (atEof) return true
      val t = cur
      if (t.tag == "body") return false
      val last = t.lastChild
      if (last != null) {
        // KEEP after a text node (lastChild's tail) or a b/bold/em element
        last.tail == null &&
          !(last.isElement && (last.tag == "b" || last.tag == "bold" || last.tag == "em"))
      } else {
        // empty element (or after own leading text): KEEP — the golden
        // corpus shows lxml kept `<div>` leading blanks (washingtonpost-001
        // keeps "&#13;\n    " at div start) while dropping inter-element
        // blanks (`</p>\r\n<p>` collapses)
        false
      }
    }

    /** Whether a text run is kept: before body, unless whitespace only
      * (libxml2; other text opens the body); in body, [[dropsBlankRun]]. */
    private def keepsText(raw: String, atEof: Boolean): Boolean =
      if (raw.isEmpty) false
      else if (inBody) !dropsBlankRun(raw, atEof)
      else if (raw.forall(isWs)) false
      else { ensureBody(); true }

    private def addText(raw: String, atEof: Boolean = false): Unit =
      if (keepsText(raw, atEof)) appendText(Entities.decode(raw))

    /** [[addText]] for a run that is already decoded (or null). */
    def addDecoded(text: String): Unit =
      if (text != null && keepsText(text, atEof = false)) appendText(text)

    private def appendText(text: String): Unit = {
      val t = cur
      val last = t.lastChild
      if (last != null) last.tail = if (last.tail == null) text else last.tail + text
      else t.text = if (t.text == null) text else t.text + text
    }

    private def addComment(content: String): Unit = {
      if (!inBody) return // pre-body comments dropped (cleaner would anyway)
      val n = new Node(Node.Comment)
      n.text = content
      cur.append(n)
    }

    private def runAutoClose(newTag: String): Unit = {
      while (stack.length > 1 && autoClosedBy(newTag, cur.tag))
        popTo(stack.length - 1)
    }

    /** Inserts `n`, new or relinked by [[rebuild]]; html, head and body
      * merge their attributes into the implied elements instead. */
    def startTag(n: Node): Unit = {
      val name = n.tag
      name match {
        case "html" =>
          ensureRoot()
          if (n.hasAttrs) n.attrs.foreach { case (k, v) =>
            if (root.attr(k) == null) root.setAttr(k, v)
          }
          return
        case "head" =>
          if (!inBody) { ensureHead(); if (n.hasAttrs)
            n.attrs.foreach { case (k, v) => head.setAttr(k, v) } }
          return
        case "body" =>
          ensureBody()
          if (n.hasAttrs) n.attrs.foreach { case (k, v) =>
            if (body.attr(k) == null) body.setAttr(k, v)
          }
          return
        case _ =>
      }

      if (!inBody && headOnly.contains(name)) {
        ensureHead()
        head.append(n)
        // pushed, it is `cur` for the caller's raw-text consumption
        // (script/style/title)
        if (!voidElements.contains(name)) push(n)
        return
      }

      ensureBody()

      runAutoClose(name)

      cur.append(n)
      if (!voidElements.contains(name)) push(n)
    }

    def endTag(name: String): Unit = {
      name match {
        case "html" | "head" => return // structural; never popped explicitly
        case "body" => return
        case "br" =>
          return // '</br>' ignored (libxml2 drops it)
        case _ =>
      }
      if (!isOpen(name)) return // no open element to close: ignored
      if (!inBody) {
        // closing a head-only element
        var i = stack.length - 1
        while (i >= 1) {
          if (stack(i).tag == name) { popTo(i); return }
          i -= 1
        }
        return
      }
      // find matching open element; ignore if none (error tolerance)
      var i = stack.length - 1
      while (i >= 0) {
        val t = stack(i)
        if (t.tag == name) {
          if (t eq body) return
          if (t eq root) return
          popTo(i)
          return
        }
        i -= 1
      }
    }
  }
}
