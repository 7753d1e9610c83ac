package graft

import graft.extract.{ExtractOptions, Extractor}
import graft.spark.TranscriptGen

import java.io.{DataOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}
import java.security.{DigestOutputStream, MessageDigest}
import scala.jdk.CollectionConverters._

/** Cross-build output probe: a SHA-256 over (confidence, failed, html,
  * text, spans) of `Extractor.extract`, with and without a url, over every
  * html file under src/test/resources, 20 k seeded tag soups
  * ([[DivToPEquivalenceSpec.gen]]) and pages nested 100, 1 k and 3 k divs
  * deep (the first line), then over those and 20 k seeded `<br>` soups
  * ([[TransformParitySpec.gen]]) as well (the second line), then over all
  * of those and 20 k seeded attribute soups ([[AttrSoups.gen]]) (the third
  * line), then over all of those, 20 k seeded sanitize soups
  * ([[SanitizeSoups.gen]]) and the crafted `TranscriptGen` sanitize, retry
  * and sibling-merge pages for ids 0 to 99 (the fourth line). Two builds
  * that print the same lines extract all of these inputs identically. Run it
  * from the repository root:
  * {{{
  * sbt "Test/runMain graft.OutputDigest"
  * }}}
  * It extracts on a thread with a 1 GB stack, so that a build whose DOM
  * walkers recurse extracts the nested pages too and the digests compare
  * outputs, not stack depths. Files are read as ISO-8859-1: byte for byte,
  * whatever their charset.
  */
object OutputDigest {
  private val Url = "http://example.com/section/article.html"

  private def line(i: Int): String = s"lorem ipsum dolor sit amet $i"

  /** The inputs of the first line. */
  def inputs: Vector[String] = {
    val files = Files.walk(Paths.get("src/test/resources")).iterator.asScala
      .filter(_.toString.endsWith(".html")).map(_.toString).toVector.sorted
    val nested = Seq(100, 1000, 3000).map { n =>
      "<html><body>" + "<div>" * n + s"<p>${(0 until 8).map(line).mkString(", ")}</p>" +
        "</div>" * n + "</body></html>"
    }
    files.map(f => new String(Files.readAllBytes(Paths.get(f)), ISO_8859_1)) ++
      (0 until 20000).map(DivToPEquivalenceSpec.gen) ++ nested
  }

  def main(args: Array[String]): Unit = {
    var report: Seq[String] = null
    val run: Runnable = () => {
      val sha = MessageDigest.getInstance("SHA-256")
      val out = new DataOutputStream(new DigestOutputStream(OutputStream.nullOutputStream, sha))
      def str(s: String): Unit =
        if (s == null) out.writeInt(-1) else { out.writeInt(s.length); out.writeChars(s) }
      var n = 0
      var failed = 0
      def line(label: String): String = {
        out.flush()
        val hex = sha.clone().asInstanceOf[MessageDigest].digest().map(b => f"$b%02x").mkString
        s"$label inputs=$n extractions=${2 * n} failed=$failed sha256=$hex"
      }
      def feed(in: Seq[String]): Unit = for (html <- in) {
        n += 1
        for (url <- Seq(null, Url)) {
          val s = Extractor.extract(html, ExtractOptions(url = url))
          if (s.failed) failed += 1
          out.writeLong(java.lang.Double.doubleToLongBits(s.confidence))
          out.writeBoolean(s.failed)
          str(s.html)
          str(s.text)
          out.writeInt(s.spans.length)
          s.spans.foreach { case (a, b) => out.writeInt(a); out.writeInt(b) }
        }
      }
      feed(inputs)
      val base = line("base")
      feed((0 until 20000).map(TransformParitySpec.gen))
      val br = line("with-br-soups")
      feed((0 until 20000).map(AttrSoups.gen))
      val attr = line("with-attr-soups")
      feed((0 until 20000).map(SanitizeSoups.gen) ++ (0L until 100L).flatMap(id =>
        Seq(TranscriptGen.sanitizeHtml(id), TranscriptGen.retryHtml(id), TranscriptGen.siblingHtml(id))))
      report = Seq(base, br, attr, line("with-sanitize-soups"))
    }
    val t = new Thread(null, run, "output-digest", 1L << 30)
    t.start()
    t.join()
    if (report == null) sys.exit(1) // the thread died; its stack trace is on stderr
    report.foreach(println)
  }
}
