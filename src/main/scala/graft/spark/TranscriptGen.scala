package graft.spark

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Deterministic synthetic transcript table (FIXTURES.md §1) derived from
  * the driver-provided `documents` parquet — no wall-clock, no RNG state:
  * every value is a pure function of (doc_id, turn_idx).
  *
  * Assistant turns carry an HTML page built by [[htmlWrap]]: the document
  * text as the article body surrounded by boilerplate the extractor must
  * strip (an `unlikelyCandidates` sidebar with comment/link junk). User
  * turns carry plain text (the extractor's no-candidate path). Conversation
  * sizes are skewed (a few long conversations) to exercise salting.
  */
object TranscriptGen {

  val FixedEpochMs: Long = 1700000000000L // fixed; no now()

  /** Split text into ≥25-char chunks on word boundaries (so each chunk
    * scores as a paragraph — the 25-char gate is live, SURVEY.md §1). */
  def chunks(text: String): Seq[String] = {
    val words = text.split(" ").filter(_.nonEmpty)
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    words.foreach { w =>
      if (sb.nonEmpty) sb.append(' ')
      sb.append(w)
      if (sb.length >= 40) { out += sb.toString; sb.clear() }
    }
    if (sb.nonEmpty) out += sb.toString
    out.result()
  }

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Deterministic article page. The extractor must return exactly
    * `Heading <docId> <normalized text>`:
    *  - the sidebar div matches unlikelyCandidatesRe and is dropped whole
    *    (it is the first unlikely element, so the iterator quirk removes
    *    all junk in one shot);
    *  - the content div's class matches positiveRe and wins the candidate
    *    ranking through its ≥25-char paragraphs;
    *  - the trailing promo div never qualifies for the sibling merge. */
  def htmlWrap(docId: Long, text: String): String = {
    val ps = chunks(text).map(c => s"<p>${escape(c)}</p>").mkString
    s"""<html><head><title>Doc $docId | Graft Corpus</title></head><body>""" +
      s"""<div id="wrap">""" +
      s"""<div class="sidebar"><div class="comment">reply share e-mail</div>""" +
      s"""<ul class="menu"><li><a href="/a">one</a></li><li><a href="/b">two</a></li></ul></div>""" +
      s"""<div class="article-content"><h1>Heading $docId</h1>$ps</div>""" +
      s"""<div class="promo"><a href="/x">click</a> <a href="/y">here</a></div>""" +
      s"""</div></body></html>"""
  }

  /** Deterministic "page 2" body for the multi-page oracle — fixed form so
    * the expected combined text is plain SQL. Long enough to clear the
    * 25-char paragraph gate and the 250-char retry gate. */
  def appendixText(docId: Long): String =
    s"appendix content for document $docId with enough plain words to pass " +
      "both the paragraph length gate and the retry length gate of the " +
      "readability pipeline comfortably and deterministically"

  /** A page whose correct extraction REQUIRES the ruthless→lenient retry
    * on the SAME MUTATED DOM (readability.py:634-667, SURVEY.md §2j):
    *
    *  - div.pagination (decoy): matches unlikelyCandidatesRe ⇒ dropped by
    *    the ruthless pass; its class also matches positiveRe (+25) and its
    *    long paragraph scores 35 — a from-scratch lenient re-parse would
    *    WRONGLY return it.
    *  - div.article-content (teaser): wins the ruthless pass (score 32)
    *    but its article HTML is < retry_length=250 ⇒ rejected; the merge
    *    step has already MOVED it into the discarded article (lxml append
    *    semantics), so it is gone from the retry DOM. A no-retry engine
    *    would WRONGLY return it.
    *  - div.block (winner): neutral class, two ≥25-char paragraphs,
    *    score 9 < max(10, 0.2·32) so the ruthless sibling merge leaves it
    *    in place — the only content the lenient retry can see.
    *
    * The retry's best candidate is then BODY at 25 + 4/2 = 27: P3 injected
    * id="readabilityBody" (readability.py:637-638) and positiveRe matches
    * "body" (+25) — a genuine reference quirk this query pins. Expected
    * output: the winner's text at confidence 27.0 — wrong under either
    * retry-from-scratch (decoy wins at 35) or no-retry (teaser at 32)
    * semantics. */
  def retryHtml(id: Long): String = {
    val decoy = ("decoy text for document " + id + " ") * 12 +
      "long enough that a from-scratch lenient pass would pick it"
    s"""<html><body>""" +
      s"""<div class="pagination"><p>$decoy</p></div>""" +
      s"""<div class="article-content"><p>teaser paragraph for document $id under the retry gate</p></div>""" +
      s"""<div class="block"><p>retry winner part one for document $id stays</p>""" +
      s"""<p>retry winner part two for document $id stays</p></div>""" +
      "</body></html>"
  }

  // Fixed paragraph texts for the sibling-merge page (doc-independent so
  // the oracle can rebuild them verbatim; only the lead carries doc_id).
  val SibLead: String = "carrying enough characters to clear the eighty character " +
    "paragraph gate of the sibling merge rule"
  val SibContent: Vector[String] = Vector.tabulate(5)(i =>
    s"main content paragraph number $i with comfortably enough text to score")
  val SibBlock: Vector[String] = Vector.tabulate(3)(i =>
    s"qualifying sibling paragraph $i long enough to count")
  val SibSkip: String = "this sibling scores too low to merge and must vanish"
  val SibTail: String = "short tail sentence that ends in a period."

  /** A page that exercises every branch of the sibling merge (W2,
    * readability.py:586-629) so the article has FOUR top-level blocks —
    * the multi-span face the plain wrap can't produce:
    *
    *  - `<p>` lead (len > 80, link density 0) → merged via the long-p rule;
    *  - div.article-content (best candidate, 30 + 2·5 = 40);
    *  - div.block (5 + 2·3 = 11 ≥ max(10, 0.2·40) = 10) → threshold merge;
    *  - div.lonely (5 + 2 = 7 < 10) → NOT merged, text must vanish;
    *  - `<p>` tail (len ≤ 80, ld 0, ends in '.') → merged via the
    *    period-p rule.
    *
    * Expected: spans [lead | content·5 | block·3 | tail] at confidence 40
    * (body scores 25 + 4 + 5 + 3 + 1 = 38 via the readabilityBody quirk —
    * still loses). */
  def siblingHtml(id: Long): String = {
    val contentPs = SibContent.map(t => s"<p>$t</p>").mkString
    val blockPs = SibBlock.map(t => s"<p>$t</p>").mkString
    s"""<html><body>""" +
      s"""<p>lead paragraph for document $id $SibLead</p>""" +
      s"""<div class="article-content">$contentPs</div>""" +
      s"""<div class="block">$blockPs</div>""" +
      s"""<div class="lonely"><p>$SibSkip</p></div>""" +
      s"""<p>$SibTail</p>""" +
      "</body></html>"
  }

  // Sanitize decision-table page constants (doc-independent so the oracle
  // rebuilds the survivor text verbatim; only SanDocP carries doc_id).
  val SanBig1: String =
    ("first big anchor paragraph flowing onward with plain steady words " * 8).trim
  val SanBig2: String =
    ("second big anchor paragraph flowing onward with plain steady words " * 8).trim
  val SanKeptHeader = "kept header section heading"
  val SanRescueKeep = "kept embed rescue marker text stays here"
  val SanCommaKeep1 = "a, b, c, d, e, f"
  val SanCommaKeep2 = "g, h, i, j, k, l"
  val SanCommaLink = "link text padding words"
  val SanEntryKeep = "kept entry moderate link density marker stays"
  val SanEntryLink = "some link words here"
  val SanTableKeep = "kept table cell with plenty of text to stay around"
  def sanDocP(id: Long): String =
    s"main paragraph for document $id carries scoring weight"

  /** A page that walks the whole sanitize decision table (2i,
    * readability.py:456-584) branch by branch — every `kept …` marker must
    * survive and every `vanish …` marker must be cleaned:
    *
    *  - h2.promo (classWeight<0) and the all-link h3 (ld>0.33) drop; the
    *    neutral h2 stays (header pass);
    *  - form / iframe / textarea always drop;
    *  - div.promo: weight −25 + score 0 < 0 → drop;
    *  - comma-shield div: ld 0.42 would drop it, but 10 commas skip the
    *    feature table entirely → kept;
    *  - img>p div, li-heavy div (102 li − 100 = 2 > 1 p — the bare-text
    *    marker is wrapped into a p by the misused-div transform, another
    *    reference quirk this page pins),
    *    input div (1 > 1//3), tiny div (<25 chars), ld>0.2 neutral div,
    *    ld>0.5 positive-class div → all drop, each through its own row;
    *  - div.entry at ld 0.31: weight ≥ 25 relaxes the gate to 0.5 → kept;
    *  - embed div between the two >500-char anchors: the sibling rescue
    *    (one-sample quirk, sum > 1000) flips toRemove → kept; the same
    *    shape next to short siblings (sum ≈ 130) → drop;
    *  - tiny table drops on minTextLength, the long-cell table stays.
    *
    * Candidate ranking stays fixed for every doc_id: article-content ≈ 39
    * vs body ≈ 29 (readabilityBody quirk) — the varying doc_id digits only
    * move link densities in the 3rd decimal. */
  def sanitizeHtml(id: Long): String = {
    val lis = (s"""<li>list item filler entry</li>""" * 102)
    s"""<html><body><div class="article-content">""" +
      s"""<h2>$SanKeptHeader</h2>""" +
      s"""<h2 class="promo">vanish negative header</h2>""" +
      s"""<h3><a href="/q">vanish link header</a></h3>""" +
      s"""<form><p>vanish form content</p></form>""" +
      s"""<iframe src="/fr">vanish iframe content</iframe>""" +
      s"""<textarea>vanish textarea content</textarea>""" +
      s"""<p>$SanBig1</p>""" +
      s"""<div><embed src="/e"/><p>$SanRescueKeep</p></div>""" +
      s"""<p>$SanBig2</p>""" +
      s"""<p>${sanDocP(id)}</p>""" +
      s"""<div class="promo"><p>vanish promo block</p></div>""" +
      s"""<div><p>$SanCommaKeep1</p><p>$SanCommaKeep2</p><a href="/z">$SanCommaLink</a></div>""" +
      s"""<div><img src="/a.gif"/><img src="/b.gif"/><p>vanish image heavy block marker</p></div>""" +
      s"""<div>vanish list heavy marker<ul>$lis</ul></div>""" +
      s"""<div><input/><p>vanish input form stub marker text</p></div>""" +
      s"""<div><p>vanish tiny</p></div>""" +
      s"""<div><p>vanish moderate link density paragraph marker</p><a href="/w">link spam words here</a></div>""" +
      s"""<div class="entry"><p>$SanEntryKeep</p><a href="/k">$SanEntryLink</a></div>""" +
      s"""<div class="entry"><p>vanish entry heavy link density marker</p><a href="/m">many many link words stuffed in here to overflow</a></div>""" +
      s"""<div><embed src="/f"/><p>vanish lonely embed marker padded text</p></div>""" +
      s"""<table><tr><td>vanish tiny table</td></tr></table>""" +
      s"""<table><tr><td>$SanTableKeep</td></tr></table>""" +
      "</div></body></html>"
  }

  /** The survivor text [[sanitizeHtml]] must extract to, doc_id spliced. */
  def sanitizeExpected(id: Long): String =
    Seq(SanKeptHeader, SanBig1, SanRescueKeep, SanBig2, sanDocP(id),
      s"$SanCommaKeep1 $SanCommaKeep2 $SanCommaLink",
      s"$SanEntryKeep $SanEntryLink", SanTableKeep).mkString(" ")

  /** Conversation id for a document: skewed sizes — conversation k holds
    * documents [k², (k+1)²), so conversation k has 2k+1 documents. */
  def convOf(docId: Long): String = {
    val k = math.sqrt(docId.toDouble).toLong
    f"conv-$k%05d"
  }

  /** The transcript table: `turnsPerDoc` turns per source document
    * (volume multiplier for the bench; 1 for correctness queries). */
  def turns(spark: SparkSession, sfDir: String, turnsPerDoc: Int = 1): Dataset[Turn] =
    turnsWith(spark, sfDir, turnsPerDoc, convOf)

  /** Skew-stress transcript table (VERDICT r4 #3): every document with
    * doc_id % megaMod == 0 is reassigned to ONE mega-conversation, so a
    * single conv_id carries ~1/megaMod of all turns — the adversarial
    * long-conversation shape the bucket salt exists for. SkewSpec pins
    * that the salted bucket key bounds this skew while the unsalted
    * conv_id hash concentrates it; `Bench scaling skew` measures it. */
  def skewedTurns(spark: SparkSession, sfDir: String, turnsPerDoc: Int = 1,
      megaMod: Int = 5): Dataset[Turn] =
    turnsWith(spark, sfDir, turnsPerDoc,
      id => if (id % megaMod == 0) "conv-mega" else convOf(id))

  private def turnsWith(spark: SparkSession, sfDir: String, turnsPerDoc: Int,
      conv: Long => String): Dataset[Turn] = {
    import spark.implicits._
    // the source parquet is a single small file (one scan task); spread the
    // docs first so HTML generation runs at full parallelism — a bench-input
    // artifact only (a real 10^12-turn table scans parallel by itself)
    val docs = TableIO(spark, sfDir).read("documents")
      .select("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism * 2)
      .as[(Long, String)]
    docs.flatMap { case (docId, text) =>
      (0 until turnsPerDoc).map { i =>
        val role = if (i % 3 == 1) "user" else "assistant"
        val payload =
          if (role == "assistant") htmlWrap(docId, text)
          else text // plain text: parses to a DOM with no candidates
        Turn(
          conv_id = conv(docId),
          turn_idx = (docId % 1000).toInt * turnsPerDoc + i,
          role = role,
          text = payload,
          tool = if (i % 5 == 4) "browser" else "",
          ts = new Timestamp(FixedEpochMs + docId * 1000L + i))
      }
    }
  }

  /** One HTML turn per document, keyed so `doc_id` is recoverable —
    * the oracle-checked roundtrip input (doc_id = turn_idx since each
    * conversation's docs are consecutive). */
  def roundtripTurns(spark: SparkSession, sfDir: String, minChars: Int): Dataset[Turn] = {
    import spark.implicits._
    // rebalance the single-row-group scan so page generation + the
    // downstream extraction kernel run at full parallelism (guide §2.5;
    // size-guarded — no exchange once the corpus scans parallel itself)
    TableIO.rebalanceSmall(
      TableIO(spark, sfDir).read("documents")
        .select("doc_id", "text", "n_chars")
        .where(col("n_chars") >= minChars)
        .as[(Long, String, Long)])
      .map { case (docId, text, _) =>
        Turn(convOf(docId), docId.toInt, "assistant", htmlWrap(docId, text),
          "", new Timestamp(FixedEpochMs + docId * 1000L))
      }
  }
}
