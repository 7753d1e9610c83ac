package graft

import graft.extract.{ExtractOptions, Extractor}
import graft.spark.{ExtractJob, TranscriptGen}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Integration spec for the distributed pipeline at tiny scale:
  * correctness of the end-to-end extraction over the bucketed
  * ExtractTurns operator, determinism across runs, lineage accounting on
  * both faces, and resume-ledger semantics. */
class SparkPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      // local[4, 2]: allow ONE task retry so the lineage-under-retry test
      // can inject a task failure (default local mode fails the job on
      // the first task failure); other tests are unaffected
      .master("local[4, 2]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** One action over `res` in which partition 0's first attempt fails
    * AFTER its extraction iterator is exhausted, so the failed attempt
    * has already run the lineage tap and the retry runs it again. */
  private def exhaustWithRetry(res: ExtractJob.Result): Unit =
    res.extracted.toDF().foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      var n = 0
      while (it.hasNext) { it.next(); n += 1 } // exhaust → lineage rows added
      val tc = org.apache.spark.TaskContext.get()
      if (tc.partitionId() == 0 && tc.attemptNumber() == 0 && n >= 0)
        throw new RuntimeException("injected task failure (retried)")
    }

  test("roundtrip: extraction of wrapped docs returns the source text") {
    val s = spark
    import s.implicits._
    val rows = SparkEntry.queries("extract_roundtrip")(spark, sfDir)
      .as[(Long, String)].collect().toMap
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "n_chars")
      .as[(Long, String, Long)].collect()
      .filter(_._3 >= 250)
    assert(rows.size == docs.length)
    docs.foreach { case (id, text, _) =>
      val expected = s"Heading $id " + text.trim.replaceAll("\\s+", " ")
      assert(rows(id) == expected, s"doc $id")
    }
  }

  test("extraction job is deterministic across runs and bucket counts") {
    val s = spark
    import s.implicits._
    def digest(buckets: Int): Seq[(String, Int, String)] =
      ExtractJob.run(spark, TranscriptGen.turns(spark, sfDir, 2), buckets)
        .extracted
        .map(r => (r.conv_id, r.turn_idx, String.valueOf(r.extracted_text)))
        .collect().sortBy(r => (r._1, r._2)).toSeq
    val a = digest(4)
    val b = digest(16)
    assert(a == b)
  }

  test("lineage rows account for every turn") {
    val turns = TranscriptGen.turns(spark, sfDir, 2)
    val total = turns.count()
    val res = ExtractJob.run(spark, turns, numBuckets = 8, fingerprint = "t")
    res.extracted.count()
    val rows = res.lineageRows
    assert(rows.nonEmpty)
    assert(rows.map(r => r.extracted_turns + r.failed_turns + r.empty_turns).sum == total)
    assert(rows.map(_.bucket).distinct.size == rows.size)
    // user turns are plain text → no candidates → empty (confidence-0) path
    assert(rows.map(_.empty_turns).sum > 0)
    assert(rows.map(_.extracted_turns).sum > 0)
  }

  test("lineage: one row per bucket, counts exact, even when a task retries") {
    // Result.lineageRows keeps one attempt per partition (VERDICT r2 #8)
    val turns = TranscriptGen.turns(spark, sfDir, 1)
    val total = turns.count()
    val res = ExtractJob.run(spark, turns, numBuckets = 8)
    exhaustWithRetry(res)
    val rows = res.lineageRows
    assert(rows.map(_.bucket).distinct.size == rows.size, "duplicate bucket rows")
    assert(rows.map(r => r.extracted_turns + r.failed_turns + r.empty_turns).sum == total,
      "retry double-counted turns in lineage")
  }

  test("pre-bucketed lineage: buckets span partitions, counts exact under retry and re-run") {
    val s = spark
    import s.implicits._
    // more input files than buckets: without the exchange every bucket
    // spans several scan partitions, each reporting its own share
    val tmp = java.nio.file.Files.createTempDirectory("graft-prebucketed").toString
    TranscriptGen.turns(spark, sfDir, 1).repartition(16)
      .write.mode("overwrite").parquet(s"$tmp/turns")
    val turns = spark.read.parquet(s"$tmp/turns").as[graft.spark.Turn]
    val numBuckets = 2
    assert(turns.rdd.getNumPartitions > numBuckets)
    val total = turns.count()
    val buckets = turns.select(ExtractJob.bucketCol(numBuckets)).distinct()
      .as[Int].collect().sorted.toSeq
    val res = ExtractJob.runPreBucketed(spark, turns, numBuckets)
    exhaustWithRetry(res)
    def turnsIn(rows: Seq[graft.spark.LineageRow]): Long =
      rows.map(r => r.extracted_turns + r.failed_turns + r.empty_turns).sum
    val rows = res.lineageRows
    assert(rows.map(_.bucket) == buckets, "expected one lineage row per bucket")
    assert(turnsIn(rows) == total, "lineage must count every turn once")
    // a second action adds a second stage's rows; they must not add up
    res.extracted.count()
    assert(turnsIn(res.lineageRows) == total, "a second action double-counted turns")
    assert(res.lineageRows.map(_.bucket) == buckets)
  }

  test("null text: failed on both Dataset faces, NULL from extract_readable") {
    val s = spark
    import s.implicits._
    val ts = new java.sql.Timestamp(TranscriptGen.FixedEpochMs)
    val input = Seq(
      graft.spark.Turn("c0", 0, "assistant", null, "", ts),
      graft.spark.Turn("c0", 1, "assistant",
        TranscriptGen.htmlWrap(1L, "words for a real page " * 20), "", ts))
    val tmp = java.nio.file.Files.createTempDirectory("graft-nulltext").toString
    input.toDS().write.mode("overwrite").parquet(s"$tmp/turns")
    val turns = spark.read.parquet(s"$tmp/turns").as[graft.spark.Turn]
    // the kernel reference: the parser rejects null and the row fails soft
    assert(Extractor.extract(input.head.text, ExtractOptions()).failed)

    val res = ExtractJob.run(spark, turns, numBuckets = 2)
    val job = res.extracted.collect().map(r => r.turn_idx -> r.failed).toMap
    assert(job == Map(0 -> true, 1 -> false))
    assert(res.lineageRows.map(_.failed_turns).sum == 1)

    val ops = graft.spark.GraftOps.extractTurns(turns.toDF())
      .select("turn_idx", "failed").as[(Int, Boolean)].collect().toMap
    assert(ops == job)

    graft.spark.ExtractReadable.register(spark)
    val sql = turns.toDF().selectExpr("turn_idx", "extract_readable(text) AS r")
      .collect().map(r => r.getInt(0) -> r.isNullAt(1)).toMap
    assert(sql == Map(0 -> true, 1 -> false))
  }

  test("extract_spans with a supplementary character: every row equals the kernel's UTF-16 slice") {
    val s = spark
    import s.implicits._
    // U+1F600 is one code point but two UTF-16 units; spans count units
    val text = ("a grinning \uD83D\uDE00 face inside a paragraph of plain words " * 5).trim
    assert(text.length >= 250)
    val dir = java.nio.file.Files.createTempDirectory("graft-nonbmp").toString
    Seq((7L, text, text.length.toLong)).toDF("doc_id", "text", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("extract_spans")(spark, dir)
      .select("turn_idx", "block_idx", "start", "end", "block_text")
      .as[(Int, Int, Int, Int, String)].collect().sortBy(_._2).toSeq
    val r = Extractor.extract(TranscriptGen.htmlWrap(7L, text), ExtractOptions())
    assert(r.text.codePointCount(0, r.text.length) < r.text.length)
    val want = r.spans.toSeq.zipWithIndex.map { case ((start, end), i) =>
      (7, i, start, end, r.text.substring(start, end))
    }
    assert(want.nonEmpty && got == want)
  }

  test("resume ledger: second run processes nothing new") {
    val dir = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val io = graft.spark.TableIO(spark, dir)
    val turns = TranscriptGen.turns(spark, sfDir, 1)
    val fp = ExtractJob.inputFingerprint(spark, s"$sfDir/documents.parquet")
    val l1 = ExtractJob.runResumable(spark, turns, 8, fp, io, "out", "ledger")
    assert(l1.nonEmpty)
    val n1 = io.read("out").count()
    assert(n1 == turns.count())
    // resume: every bucket is ledgered → no work, no new output
    val l2 = ExtractJob.runResumable(spark, turns, 8, fp, io, "out", "ledger")
    assert(l2.isEmpty)
    assert(io.read("out").count() == n1)
    // a different input fingerprint reprocesses everything
    val l3 = ExtractJob.runResumable(spark, turns, 8, fp + "-v2", io, "out", "ledger")
    assert(l3.nonEmpty)
  }

  test("oracle precondition: the documents corpus is ASCII (Hash61.rawWordHashSql contract)") {
    // rawWordHashSql folds DuckDB unicode() CODE POINTS while the JVM
    // kernel folds UTF-16 charAt units — identical only for ASCII. The
    // word-hash oracles are emitted against these corpora, so pin the
    // assumption as a test instead of a comment (ADVICE r2): any non-ASCII
    // doc would silently break oracle bit-equality.
    val s = spark
    import s.implicits._
    // every SF the driver can run Verify at — sf0.1 included
    val sfs = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(sf => s"/root/testdata/$sf")
      .filter(d => new java.io.File(d, "documents.parquet").exists())
    assert(sfs.nonEmpty)
    for (dir <- sfs) {
      val nonAscii = graft.spark.TableIO(spark, dir).read("documents")
        .where(org.apache.spark.sql.functions.col("text").rlike("[^\\x00-\\x7f]"))
        .count()
      assert(nonAscii == 0, s"$dir has $nonAscii non-ASCII documents — " +
        "word-hash oracles are no longer bit-exact there")
    }
    // the guard itself must FIRE on non-ASCII input (VERDICT r3 #5): a
    // planted non-7-bit doc — BMP accent, CJK, and a surrogate-pair
    // emoji (where UTF-16 charAt and code points truly diverge) — is
    // caught by the same predicate the corpus scan uses
    val planted = Seq((1L, "all ascii here"), (2L, "café latte"),
      (3L, "中文 text"), (4L, "emoji 😀 doc"))
      .toDF("doc_id", "text")
    val flagged = planted
      .where(org.apache.spark.sql.functions.col("text").rlike("[^\\x00-\\x7f]"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(flagged == Seq(2L, 3L, 4L),
      s"ASCII guard failed to flag planted non-ASCII docs: got $flagged")
  }

  test("TableIO seam: a registered scheme factory is honored by every operator read") {
    val s = spark
    import s.implicits._
    // stub catalog: serves a tiny in-memory documents table under a
    // scheme root — proves parquet-now/catalog-later is a drop-in swap
    // (BASELINE.md:52), with zero per-operator changes
    val stubDocs = Seq((1L, "aaa"), (2L, "aaa"), (3L, "bbb"))
      .toDF("doc_id", "text")
    graft.spark.TableIO.registerScheme("stub",
      (_, _) => new graft.spark.TableIO {
        def read(table: String) = { require(table == "documents", table); stubDocs }
        def exists(table: String) = table == "documents"
        def write(df: org.apache.spark.sql.DataFrame, table: String,
            mode: org.apache.spark.sql.SaveMode) = fail("stub is read-only")
        def writePartitioned(df: org.apache.spark.sql.DataFrame, table: String,
            partitionCol: String) = fail("stub is read-only")
      })
    try {
      val groups = graft.spark.Dedup.exact(spark, "stub://anything")
        .as[(String, Long, Long)].collect().map { case (_, cnt, keeper) => (cnt, keeper) }
        .sorted.toSeq
      assert(groups == Seq((1L, 3L), (2L, 1L)),
        "operator must have read the stub catalog, not the filesystem")
    } finally graft.spark.TableIO.unregisterScheme("stub")
    // unregistered scheme-less roots still resolve to parquet dirs
    assert(graft.spark.TableIO(spark, sfDir).read("documents").count() > 0)
  }

  test("shard writer: retries and re-runs reproduce shards bit-exactly") {
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def man(io: graft.spark.TableIO): Seq[(Long, Long, Long, Long)] =
      graft.spark.Shards.write(spark, docs, io, "shards", numShards = 16)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq

    val rootA = java.nio.file.Files.createTempDirectory("graft-shard-a").toString
    val a1 = man(graft.spark.TableIO(spark, rootA))
    assert(a1.nonEmpty && a1.map(_._2).sum == docs.count(),
      "manifest must account for every row")
    // full re-run into the SAME root: dynamic overwrite, identical bytes
    val a2 = man(graft.spark.TableIO(spark, rootA))
    assert(a1 == a2, "re-run into the same root must reproduce the manifest")

    // crashed-attempt simulation: a partial first write (as if the job
    // died mid-shard) followed by the real run must converge to the same
    // manifest as a clean run in a fresh root — the dynamic partition
    // overwrite replaces every half-written shard wholesale
    val rootB = java.nio.file.Files.createTempDirectory("graft-shard-b").toString
    val ioB = graft.spark.TableIO(spark, rootB)
    graft.spark.Shards.write(spark, docs.limit(7), ioB, "shards", numShards = 16)
    val b = man(ioB)
    assert(b == a1, "recovery run must erase the crashed partial attempt")

    // manifest audits the DISK: independent re-aggregation of the written
    // table matches what write() returned
    val reread = graft.spark.Shards.manifest(ioB.read("shards"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(reread == a1)
  }

  test("salting balances skewed conversations across buckets") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // heavily skewed: conversation sizes grow as 2k+1 docs (TranscriptGen),
    // amplified 20x per doc
    val turns = TranscriptGen.turns(spark, sfDir, 20).toDF()
    val buckets = 32
    val sizes = turns.withColumn("bucket", ExtractJob.bucketCol(buckets))
      .groupBy("bucket").count().as[(Int, Long)].collect().map(_._2)
    val total = sizes.sum
    val maxB = sizes.max
    // the largest conversation alone is ~14% of the corpus at sf0.001;
    // after salting no bucket may dominate
    assert(sizes.length >= buckets - 2, s"got only ${sizes.length} non-empty buckets")
    assert(maxB.toDouble / total < 0.10,
      s"bucket skew too high: max=$maxB of $total")
  }

  test("splitAssign: pure in doc_id, threshold-exact, shuffle-free, decorrelated") {
    import graft.spark.{Hash61, Shards}
    val valPpm = 200000; val testPpm = 200000
    val df = Shards.splitAssign(spark, sfDir, valPpm, testPpm)
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    // assignment is a pure function of doc_id — the property that makes
    // it retry-safe and append-stable (new docs can't move old splits)
    rows.foreach { case (id, rank, split) =>
      val want = Hash61.mix(Hash61.mix(id) ^ Shards.SplitSalt) % 1000000L
      assert(rank == want, s"doc $id rank drifted")
      val wantSplit =
        if (rank < testPpm) "test"
        else if (rank < testPpm + valPpm) "val" else "train"
      assert(split == wantSplit, s"doc $id split/threshold mismatch")
    }
    // fractions near the requested ppm (500 docs, p=0.2 each: 4σ ≈ ±36)
    val n = rows.length.toDouble
    Seq("val", "test").foreach { sp =>
      val frac = rows.count(_._3 == sp) / n
      assert(frac > 0.10 && frac < 0.30, s"$sp fraction $frac off target 0.2")
    }
    // row-local: the plan may not contain a single exchange, and — since
    // the rank is the codegen'd hash61_mix EXPRESSION, not a typed map —
    // no object-serialization barrier either: one WholeStageCodegen span
    // from scan to project
    val plan = PlanTestUtil.finalPlan(df)
    assert(!plan.contains("Exchange"), "split assignment must not shuffle")
    assert(!plan.contains("SerializeFromObject") && !plan.contains("MapElements"),
      "rank must be a column expression, not a typed map\n" + plan)
    // '*(n)' prefix == operator runs inside WholeStageCodegen stage n;
    // both projects (rank + case) must carry it
    assert(plan.contains("*(1) Project"), plan)
    // the expression itself: codegen, interpreted, and JVM kernel agree
    val ids = rows.map(_._1).take(50).toSeq
    val idDf = { val s2 = spark; import s2.implicits._; ids.toDF("x") }
    def viaSql() = idDf.selectExpr("hash61_mix(x) AS m")
      .collect().map(_.getLong(0)).toSeq
    val codegen = viaSql()
    val interpreted = {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try viaSql()
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    }
    val jvm = ids.map(graft.spark.Hash61.mix).toSeq
    assert(codegen == jvm, "generated code diverges from Hash61.mix")
    assert(interpreted == jvm, "interpreted eval diverges from Hash61.mix")
    // decorrelated from the shard hash: eval docs spread over shards
    // (the salt is the only thing preventing split==f(shard))
    val evalShards = rows.filter(_._3 != "train")
      .map { case (id, _, _) => Hash61.mix(id) % 16 }.distinct
    assert(evalShards.length > 8,
      s"eval rows collapsed onto ${evalShards.length} of 16 shards")
  }
}
