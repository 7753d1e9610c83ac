package perfbench

import graft.dom.HtmlParser
import graft.extract.{ExtractOptions, Extractor, Summary}
import graft.spark.{TranscriptGen, Turn}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.length

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.sql.Timestamp
import scala.util.Random

/** One workload's generated input: the turns table written to parquet,
  * plus every distinct payload in it with its number of turns, so the
  * correctness check and the kernel replay cover every document once. */
final case class Input(
    turnsPath: String,
    turns: Long,
    inputBytes: Long,
    payloads: Array[String],
    weights: Array[Long],
    key: PayloadKey,
    preBucketed: Boolean,
    /** Workload-specific checks on the direct kernel results; problems found. */
    gate: Array[Summary] => Seq[String],
    /** Facts for the run record (fixture counts and the like). */
    notes: Map[String, Any] = Map.empty)

/** Maps an output row's (conv_id, turn_idx) to its payload index. */
sealed trait PayloadKey extends Serializable {
  def apply(convId: String, turnIdx: Int): Int
}

/** Turns built here carry their payload index as `turn_idx % 128`. */
case object TurnIdxKey extends PayloadKey {
  val Stride = 128
  def apply(convId: String, turnIdx: Int): Int = turnIdx % Stride
}

/** Inverts [[TranscriptGen.turns]]' keys: conversation k holds documents
  * [k², (k+1)²) and turn_idx = (doc_id % 1000) · tpd + i, with user turns
  * at i % 3 == 1. Payload 2·doc is the page, 2·doc + 1 the plain text. */
final case class TranscriptKey(tpd: Int) extends PayloadKey {
  def apply(convId: String, turnIdx: Int): Int = {
    val k = convId.stripPrefix("conv-").toLong
    val first = k * k
    val doc = first + Math.floorMod(turnIdx / tpd - first % 1000, 1000L)
    (2 * doc + (if (turnIdx % tpd % 3 == 1) 1 else 0)).toInt
  }
}

object Inputs {

  val Names: Seq[String] = Seq("transcripts_synth", "news_pages", "hostile_pages")

  def make(name: String, spark: SparkSession, seed: Long, root: File, work: File): Input =
    name match {
      case "transcripts_synth" => transcripts(spark, seed, work)
      case "news_pages" => news(spark, seed, root, work)
      case "hostile_pages" => hostile(spark, seed, work)
    }

  // ---------- transcripts_synth ----------

  /** Corpus shape of the documents table the repository's tests run on:
    * words from a small vocabulary, lengths uniform in 44..577 chars. */
  private val Vocab = ("a agg batch big column customer data fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value " +
    "vector window").split(' ')
  val Docs = 5000
  val TurnsPerDoc = 8

  private def transcripts(spark: SparkSession, seed: Long, work: File): Input = {
    import spark.implicits._
    val rng = new Random(seed)
    val texts = Array.tabulate(Docs) { _ =>
      val len = 44 + rng.nextInt(577 - 44 + 1)
      val sb = new StringBuilder
      while (sb.length < len) {
        if (sb.nonEmpty) sb.append(' ')
        sb.append(Vocab(rng.nextInt(Vocab.length)))
      }
      sb.substring(0, len)
    }
    val sf = new File(work, "sf")
    texts.zipWithIndex.map { case (t, d) => (d.toLong, t) }.toSeq.toDF("doc_id", "text")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode(SaveMode.Overwrite).parquet(new File(sf, "documents.parquet").getPath)
    val path = new File(work, "turns.parquet").getPath
    TranscriptGen.turns(spark, sf.getPath, TurnsPerDoc)
      .write.mode(SaveMode.Overwrite).parquet(path)

    val users = (0 until TurnsPerDoc).count(_ % 3 == 1).toLong
    val payloads = Array.tabulate(2 * Docs) { p =>
      if (p % 2 == 0) TranscriptGen.htmlWrap(p / 2, texts(p / 2)) else texts(p / 2)
    }
    val weights = Array.tabulate(2 * Docs)(p => if (p % 2 == 0) TurnsPerDoc - users else users)
    // the template's known output, on documents long enough that the
    // ruthless pass is accepted (SparkEntry's oracle-checked queries use
    // the same 250-char floor)
    val gate = (exp: Array[Summary]) => (0 until Docs).filter(d => texts(d).length >= 250)
      .filterNot { d =>
        val s = exp(2 * d)
        !s.failed && s.text == (s"Heading $d" +: TranscriptGen.chunks(texts(d))).mkString(" ")
      }.map(d => s"doc $d: template output mismatch")
    build(path, payloads, weights, TranscriptKey(TurnsPerDoc), preBucketed = false, gate)
  }

  // ---------- news_pages ----------

  val NewsReplicas = 12

  /** The regression cases whose goldens RegressionSpec tracks as drift,
    * not as exact text. */
  val KnownNonExact = Set("slate-001", "washingtonpost-001")

  private def news(spark: SparkSession, seed: Long, root: File, work: File): Input = {
    val dir = new File(root, "src/test/resources/regression")
    val files = htmlFiles(dir).sortBy(_.getPath)
    require(files.nonEmpty && files.length < TurnIdxKey.Stride, s"no regression pages under $dir")
    val payloads = files.map(read).toArray
    val rng = new Random(seed)
    val rows = for (r <- 0 until NewsReplicas; p <- payloads.indices)
      yield turn(f"news-${rng.nextInt(NewsReplicas * payloads.length / 4)}%05d",
        r * TurnIdxKey.Stride + p, payloads(p))
    val path = write(spark, rows, work)
    val (exact, nonExact, problems) = goldens(dir)
    build(path, payloads, Array.fill(payloads.length)(NewsReplicas.toLong), TurnIdxKey,
      preBucketed = true, _ => problems,
      Map("fixtures_exact" -> exact, "fixtures_known_non_exact" -> nonExact))
  }

  private def htmlFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) htmlFiles(f) else if (f.getName.endsWith(".html")) Seq(f) else Nil
    }

  private def read(f: File): String = new String(Files.readAllBytes(f.toPath), UTF_8)

  /** RegressionSpec's comparison: multi-page extraction through the case's
    * mirror against the golden's normalized text. Returns (exact cases,
    * known non-exact cases, problems), where a problem is a case pinned as
    * exact that does not match. */
  private def goldens(dir: File): (Int, Int, Seq[String]) = {
    val cases = dir.listFiles().filter(_.isDirectory).sortBy(_.getName).toSeq
    val exact = cases.map { c =>
      val url = read(new File(c, "meta.txt")).split("\n")(0).trim
      val urlMap = new File(c, "urlmap.tsv")
      val mirror: Map[String, File] =
        if (!urlMap.exists()) Map.empty
        else read(urlMap).split("\n").filter(_.contains("\t")).map { line =>
          val Array(u, rel) = line.split("\t", 2)
          u -> new File(new File(c, "mirror"), rel)
        }.toMap
      val got = Extractor.extractMultiPage(read(new File(c, "original.html")),
        ExtractOptions(url = url), u => mirror.get(u).filter(_.isFile).map(read))
      val want = Extractor.normalizedText(HtmlParser.parseFragment(read(new File(c, "expected.rdbl"))))
      c.getName -> (!got.failed && got.text == want)
    }
    val problems = exact.collect {
      case (n, false) if !KnownNonExact.contains(n) => s"fixture $n no longer matches its golden"
    }
    (exact.count(_._2), exact.count { case (n, ok) => !ok && KnownNonExact.contains(n) }, problems)
  }

  // ---------- hostile_pages ----------

  /** Page shapes that reach the DOM's O(siblings) and deep-recursion paths,
    * with the size of each. Sizes are fixed so every seed costs the same;
    * the seed draws the words, attribute values and conversation ids. Nesting
    * depth stays well under the depth at which the kernel overflows its
    * stack, so no turn fails. */
  val HostileShapes: Seq[(String, Int)] = Seq(
    "br_soup" -> 1600, "flat_paragraphs" -> 1600, "wide_siblings" -> 1600,
    "many_attributes" -> 1600, "deep_nesting" -> 800)
  val HostileVariants = 6
  val HostileReplicas = 3

  private def hostilePage(shape: String, n: Int, rng: Random): String = {
    def words(k: Int): String = Seq.fill(k)(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
    val body = shape match {
      case "br_soup" =>
        "<div>" + (0 until n).map(i => s"${words(6)} $i<br><br>").mkString + "</div>"
      case "flat_paragraphs" =>
        "<div>" + (0 until n).map(i => s"<p>${words(6)} $i</p>").mkString + "</div>"
      case "wide_siblings" =>
        "<div>" + (0 until n).map(i => s"<div><span>${words(2)} $i</span></div>").mkString +
          "</div>"
      case "many_attributes" =>
        // fixed names (the parser's duplicate-name check compares them)
        // and seeded values
        "<div " + (0 until n).map(i => s"""data-a$i="${Vocab(rng.nextInt(Vocab.length))}"""")
          .mkString(" ") + s"><p>${words(40)}</p><p>${words(40)}</p></div>"
      case "deep_nesting" =>
        "<div>" * n + s"<p>${words(40)}</p>" + "</div>" * n
    }
    s"<html><head><title>${words(3)}</title></head><body>$body</body></html>"
  }

  private def hostile(spark: SparkSession, seed: Long, work: File): Input = {
    val rng = new Random(seed)
    val payloads = (for ((shape, n) <- HostileShapes; _ <- 0 until HostileVariants)
      yield hostilePage(shape, n, rng)).toArray
    val rows = for (r <- 0 until HostileReplicas; p <- payloads.indices)
      yield turn(f"hostile-${rng.nextInt(payloads.length)}%05d", r * TurnIdxKey.Stride + p,
        payloads(p))
    val path = write(spark, rows, work)
    build(path, payloads, Array.fill(payloads.length)(HostileReplicas.toLong), TurnIdxKey,
      preBucketed = true, _ => Nil)
  }

  // ---------- shared ----------

  private def turn(conv: String, idx: Int, html: String): Turn =
    Turn(conv, idx, "assistant", html, "", new Timestamp(TranscriptGen.FixedEpochMs + idx))

  /** Writes the rows as cpus × TasksPerCore files, file i holding rows i, i + files,
    * i + 2·files, …: every file gets the same mix of payloads whatever the
    * seed, so a pass's task balance does not change from seed to seed. */
  private def write(spark: SparkSession, rows: Seq[Turn], work: File): String = {
    import spark.implicits._
    val path = new File(work, "turns.parquet").getPath
    val files = spark.sparkContext.defaultParallelism * Main.TasksPerCore
    val dealt = rows.indices.sortBy(j => (j % files, j)).map(rows)
    spark.createDataset(spark.sparkContext.parallelize(dealt, files))
      .write.mode(SaveMode.Overwrite).parquet(path)
    path
  }

  private def build(path: String, payloads: Array[String], weights: Array[Long],
      key: PayloadKey, preBucketed: Boolean, gate: Array[Summary] => Seq[String],
      notes: Map[String, Any] = Map.empty): Input =
    Input(path, weights.sum,
      payloads.indices.map(i => weights(i) * payloads(i).getBytes(UTF_8).length.toLong).sum,
      payloads, weights, key, preBucketed, gate, notes)
}
