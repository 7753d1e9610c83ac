package graft.dom

import scala.collection.mutable

/** Mutable DOM node mirroring the lxml element model the reference mutates
  * everywhere: an element owns leading `text`, each child owns a `tail`
  * (interspersed text after it), children are ordered
  * (cf. /root/reference/readability/readability.py:81-123 which documents the
  * text/tail model). This value type lives only *inside* a Spark partition —
  * it is never shuffled (SURVEY.md §1).
  *
  * Layout: libxml2's. A parent holds `firstChild`/`lastChild`; each child
  * holds `parent`, `prevSibling` and `nextSibling`. The child list is private
  * to this class: [[append]], [[insertBefore]], [[detach]], [[dropTree]]
  * and [[unlink]] are its only writers, and each is O(1), as is every
  * sibling step, so a walk or an edit never scans a sibling list for a
  * position. Every subtree walk that leaves the links alone steps a
  * [[cursor]] over them, so none needs a stack however deep the tree nests;
  * [[children]] is a snapshot built per call.
  *
  * [[detach]] clears the node's own `parent` and sibling links, so a detached
  * subtree is closed: a depth-first step that climbs out of it finds no
  * parent and ends. [[iterSubtree]] relies on this to reproduce lxml's
  * `iter()` after the current element is dropped (see there).
  *
  * Comments / processing instructions are represented as nodes with the
  * special tags [[Node.Comment]] / [[Node.Pi]]; their payload lives in
  * `text`. They are excluded from `textContent` and `findAll`, matching
  * XPath `string()` / `findall` semantics in lxml.
  */
final class Node(var tag: String) {
  var text: String = null
  var tail: String = null
  private var _attrs: mutable.LinkedHashMap[String, String] = null
  private var _parent: Node = null
  private var _first: Node = null
  private var _last: Node = null
  private var _prev: Node = null
  private var _next: Node = null

  def parent: Node = _parent
  def firstChild: Node = _first
  def lastChild: Node = _last
  def prevSibling: Node = _prev
  def nextSibling: Node = _next

  /** The children in order, as a snapshot: later edits do not show in it
    * (lxml `getchildren()`). */
  def children: IndexedSeq[Node] = {
    val b = Vector.newBuilder[Node]
    var c = _first
    while (c != null) { b += c; c = c._next }
    b.result()
  }

  def isComment: Boolean = tag == Node.Comment
  def isPi: Boolean = tag == Node.Pi
  def isElement: Boolean = !isComment && !isPi

  def hasAttrs: Boolean = _attrs != null && _attrs.nonEmpty
  def attrs: mutable.LinkedHashMap[String, String] = {
    if (_attrs == null) _attrs = mutable.LinkedHashMap.empty
    _attrs
  }
  /** Takes `m` as this node's attribute map (the parser's per-tag map). */
  private[dom] def adoptAttrs(m: mutable.LinkedHashMap[String, String]): Unit = _attrs = m
  /** lxml `elem.get(name)` → null when absent. */
  def attr(name: String): String =
    if (_attrs == null) null else _attrs.getOrElse(name, null)
  def attrOr(name: String, default: String): String = {
    val v = attr(name); if (v == null) default else v
  }
  def setAttr(name: String, value: String): Unit = attrs.update(name, value)
  def removeAttr(name: String): Unit = if (_attrs != null) _attrs.remove(name)

  /** Append, moving the child out of any previous parent (lxml `append`). */
  def append(child: Node): Unit = {
    child.detach()
    child._parent = this
    child._prev = _last
    if (_last != null) _last._next = child else _first = child
    _last = child
  }

  /** Insert `child` right before `ref`, one of this node's children, moving
    * it out of any previous parent (lxml `ref.addprevious(child)`). */
  def insertBefore(ref: Node, child: Node): Unit = {
    if (ref._parent ne this)
      throw new IllegalArgumentException(s"$ref is not a child of $this")
    child.detach()
    child._parent = this
    child._prev = ref._prev
    child._next = ref
    if (ref._prev != null) ref._prev._next = child else _first = child
    ref._prev = child
  }

  /** Clears every link, the text and the tail, for `HtmlParser.rebuild` to
    * relink this node; its old children keep their links to it. */
  private[dom] def unlink(): Unit = {
    _parent = null; _prev = null; _next = null; _first = null; _last = null
    text = null; tail = null
  }

  /** Detach this node (and its tail) from its parent, if any, and clear its
    * own parent and sibling links. */
  def detach(): Unit = {
    val p = _parent
    if (p != null) {
      if (_prev != null) _prev._next = _next else p._first = _next
      if (_next != null) _next._prev = _prev else p._last = _prev
      _parent = null
      _prev = null
      _next = null
    }
  }

  /** lxml `drop_tree()`: removes the node and its whole subtree; the tail
    * text is joined to the previous sibling's tail or the parent's text
    * (/root/reference/readability/readability.py:379 relies on this). */
  def dropTree(): Unit = {
    val p = _parent
    if (p == null) return
    if (tail != null && tail.nonEmpty) {
      val prev = _prev
      if (prev == null) p.text = (if (p.text == null) "" else p.text) + tail
      else prev.tail = (if (prev.tail == null) "" else prev.tail) + tail
    }
    detach()
  }

  /** Self + all descendants, document order (lxml `iter()`). Like lxml, the
    * iterator steps to the successor of a node when it hands the node out,
    * before the caller's loop body runs. Dropping the current node therefore
    * sends the walk into the node's detached subtree, and the walk ends at
    * that subtree's end, since its root has no parent to climb through. A
    * dropped childless node does not disturb the walk. */
  def iterSubtree: Iterator[Node] = {
    val top = this
    new Iterator[Node] {
      private var nxt: Node = top
      def hasNext: Boolean = nxt != null
      def next(): Node = {
        val n = nxt
        nxt = if (n._first != null) n._first else {
          var c = n
          var succ: Node = null
          while (succ == null && c != null && (c ne top)) {
            if (c._parent == null) c = null
            else if (c._next != null) succ = c._next
            else c = c._parent
          }
          succ
        }
        n
      }
    }
  }

  /** A stackless depth-first walk of this node's subtree: see [[Node.Cursor]]. */
  def cursor: Node.Cursor = new Node.Cursor(this)

  /** Descendant elements with the given tag, document order — lxml
    * `findall('.//tag')` (self excluded). */
  def findAll(tagName: String): mutable.ArrayBuffer[Node] = {
    val out = new mutable.ArrayBuffer[Node]
    val w = cursor
    w.next()
    while (w.next()) if (w.entering && w.node.tag == tagName) out += w.node
    out
  }

  /** First descendant with the tag, document order (lxml `find('.//t')`). */
  def findFirst(tagName: String): Node = {
    val w = cursor
    w.next()
    while (w.next()) if (w.entering && w.node.tag == tagName) return w.node
    null
  }

  /** XPath `string()` — concatenation of all descendant text nodes: own
    * `text`, then each child's content and `tail`, in document order.
    * Comments/PIs contribute only their tails. */
  def textContent: String = {
    val sb = new java.lang.StringBuilder
    val w = cursor
    while (w.next()) {
      val n = w.node
      if (w.entering) { if (n.isElement && n.text != null) sb.append(n.text) }
      else if ((n ne this) && n.tail != null) sb.append(n.tail)
    }
    sb.toString
  }

  override def toString: String = {
    val id = attrOr("id", "")
    val cls = attrOr("class", "")
    s"<$tag${if (id.nonEmpty) "#" + id else ""}${if (cls.nonEmpty) "." + cls.replace(' ', '.') else ""}>"
  }
}

object Node {
  val Comment = "#comment"
  val Pi = "#pi"

  /** A stackless pre/post-order walk of `top`'s subtree over the parent and
    * sibling links, as libxml2 walks its trees. The caller steps it in its
    * own loop, `while (w.next())`, reading [[node]] and [[entering]]. Each
    * node is entered, its children are walked, then it is left, from
    * enter(top) to leave(top): `top`'s tail and siblings are never visited.
    * A node's `text` goes with its enter event, its `tail` with its leave.
    * The caller must not edit the tree during the walk. */
  final class Cursor private[Node] (top: Node) {
    private var cur: Node = null
    private var enter = false // with cur == null: the walk has ended
    private var skip = false

    def node: Node = cur
    def entering: Boolean = enter
    /** On an enter event: the next event is this node's leave. */
    def skipChildren(): Unit = skip = true

    /** Steps to the next event; false once leave(top) is passed. */
    def next(): Boolean = {
      val n = cur
      if (n == null) {
        if (enter) return false
        cur = top; enter = true
      } else if (enter) {
        if (!skip && n._first != null) cur = n._first else enter = false
        skip = false
      } else if (n eq top) {
        cur = null; enter = true
        return false
      } else if (n._next != null) {
        cur = n._next; enter = true
      } else cur = n._parent
      true
    }
  }
}
