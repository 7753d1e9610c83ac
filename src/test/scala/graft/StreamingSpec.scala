package graft

import graft.extract.{ExtractOptions, Extractor}
import graft.spark.{StreamingExtract, TranscriptGen, Turn}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The streaming face of the extraction stage produces identical rows to
  * the batch path. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Microsecond epoch — the operator's event-time resolution; feeding in
    * ms order could misorder same-ms event pairs. */
  private def micros(ts: java.sql.Timestamp): Long =
    ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L

  test("streaming extraction equals batch extraction") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val turns: Seq[Turn] = TranscriptGen
      .turns(s, "/root/testdata/sf0.001", 1).collect().take(50).toSeq

    val stream = MemoryStream[Turn]
    val q = StreamingExtract.extractStream(stream.toDS())
      .writeStream.format("memory").queryName("extracted_stream")
      .outputMode("append").start()
    stream.addData(turns)
    q.processAllAvailable()
    q.stop()

    val streamed = s.table("extracted_stream")
      .select("conv_id", "turn_idx", "extracted_text", "confidence")
      .collect().map(r => (r.getString(0), r.getInt(1),
        Option(r.getString(2)).getOrElse(""), r.getDouble(3))).sortBy(x => (x._1, x._2))

    val batch = turns.map { t =>
      val r = Extractor.extract(t.text, ExtractOptions())
      (t.conv_id, t.turn_idx, Option(r.text).getOrElse(""), r.confidence)
    }.sortBy(x => (x._1, x._2)).toArray

    assert(streamed.toSeq == batch.toSeq)
  }

  test("stateful streaming sessionization equals the batch session stats") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val sfDir = "/root/testdata/sf0.001"

    // feed the real events table in 3 event-time-ordered micro-batches
    // (the operator's documented per-user in-order contract), then a
    // far-future flush event so the watermark closes every open session
    val events = s.read.parquet(s"$sfDir/events.parquet")
      .selectExpr("user_id", "event_id", "ts")
      .as[(Long, Long, java.sql.Timestamp)]
      .collect().sortBy(e => (micros(e._3), e._2)).toSeq
    val flushTs = new java.sql.Timestamp(events.last._3.getTime + 30L * 24 * 3600 * 1000)

    val stream = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = graft.spark.StreamingSessionize
      .sessionize(stream.toDF().toDF("user_id", "event_id", "ts"))
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode("append").start()
    events.grouped(math.max(events.size / 3, 1)).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    stream.addData(Seq((-1L, 0L, flushTs))); q.processAllAvailable()
    stream.addData(Seq((-1L, 1L, flushTs))); q.processAllAvailable()
    q.stop()

    val streamed = s.table("sessions_stream")
      .where($"user_id" >= 0)
      .select("user_id", "start_us", "end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val batch = graft.spark.StreamingSessionize.sessionStats(s, sfDir)
      .select("user_id", "start_us", "end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("behind-watermark arrivals are filtered before the sessionizer (no crash)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val t0 = 1700000000000L

    val stream = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = graft.spark.StreamingSessionize
      .sessionize(stream.toDF().toDF("user_id", "event_id", "ts"))
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    // batch 1 pushes the watermark far ahead; batch 2 brings a NEW user
    // whose only event is already behind it — the engine drops the row
    // before the stateful operator (this is the invariant that makes
    // setTimeoutTimestamp safe: events reaching it are never behind the
    // watermark), so no session and no exception
    stream.addData(Seq((1L, 0L, new java.sql.Timestamp(t0 + 100L * 3600 * 1000))))
    q.processAllAvailable()
    stream.addData(Seq((2L, 1L, new java.sql.Timestamp(t0))))
    q.processAllAvailable()
    q.stop()
    val lateUser = s.table("late_sessions").where($"user_id" === 2L).count()
    assert(lateUser == 0L, "behind-watermark row must be filtered, not sessionized")
  }

  test("streaming near-dup detection emits exactly the batch LSH pair set") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val sfDir = "/root/testdata/sf0.001"

    // batch truth: the band join's distinct candidate pairs
    val batch = graft.spark.Dedup.minhashLsh(s, sfDir)
      .select("doc_a", "doc_b", "matching")
      .as[(Long, Long, Long)].collect().toSet

    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq
    val t0 = TranscriptGen.FixedEpochMs
    val rows = docs.map { case (id, text) =>
      (id, text, new java.sql.Timestamp(t0 + id)) }

    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.spark.StreamingNearDup
      .detect(stream.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    // three micro-batches: pairs must work ACROSS batch boundaries
    rows.grouped(math.max(rows.size / 3, 1)).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()

    val streamed = s.table("neardup_stream")
      .select("doc_a", "doc_b", "matching")
      .as[(Long, Long, Long)].collect().toSet // per-band re-emissions collapse
    assert(batch.nonEmpty, "test corpus has no candidate pairs — vacuous")
    assert(streamed == batch,
      s"streaming != batch: missing ${(batch -- streamed).take(5)}, extra ${(streamed -- batch).take(5)}")
  }

  test("file-source replay equals the batch pair set under the age predicate") {
    val s = spark
    import s.implicits._
    val sfDir = "/root/testdata/sf0.001"

    val got = graft.spark.StreamingNearDup.replay(s, sfDir)
      .as[(Long, Long, Long)].collect().toSet

    // batch truth: all LSH pairs over the same planted union, restricted
    // by the replay's event-time classes (|Δclass| ≤ 2 steps of 30 min
    // under the 1 h horizon) — the same predicate the DuckDB oracle uses
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
    val union = docs.union(docs.filter(_._1 % 50 == 0)
      .map { case (id, t) => (id + 500000L, t) })
    val bf = graft.spark.Dedup.bandedFrame(union)
    def cls(id: Long): Long = if (id >= 500000L) 3L else id % 4
    val want = graft.spark.Dedup.probeIndex(bf, bf)
      .select("doc_a", "doc_b", "matching")
      .as[(Long, Long, Long)].collect()
      .filter { case (a, b, _) => math.abs(cls(a) - cls(b)) <= 2 }.toSet

    assert(want.nonEmpty, "no pairs under the age predicate — vacuous")
    assert(got == want,
      s"replay != batch: missing ${(want -- got).take(5)}, extra ${(got -- want).take(5)}")
  }

  test("replay harness is collect-free (100 TB scale pin, VERDICT r4 #1)") {
    // no registered streaming face may funnel the corpus through the
    // driver: pin the absence of .collect() in every replay source —
    // the file-source replay pattern has no legitimate use for it
    Seq("StreamingNearDup", "StreamingAsOf", "StreamingQuota",
        "StreamingSessionize", "StreamingDrift", "StreamingExtract").foreach { f =>
      val src = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"src/main/scala/graft/spark/$f.scala")),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(!src.contains(".collect()"),
        s"$f must not collect the corpus to the driver")
    }
  }

  test("extract replay face equals the batch roundtrip extraction") {
    val s = spark
    import s.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val minChars = 250
    val got = StreamingExtract.replay(s, sfDir, minChars)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val want = TranscriptGen.roundtripTurns(s, sfDir, minChars)
      .map(t => (t.turn_idx.toLong, Extractor.extract(t.text, ExtractOptions()).text))
      .collect().sortBy(_._1).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("quota replay face equals the batch rank window") {
    val s = spark
    import s.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val got = graft.spark.StreamingQuota.replay(s, sfDir, quota = 10)
      .as[(Long, String, Long)].collect().sorted.toSeq
    val want = s.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "source",
        "row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn")
      .where($"rn" <= 10)
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(got.nonEmpty && got == want)
    // the cap binds: every source has more docs than its quota
    assert(s.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("source").count().agg(org.apache.spark.sql.functions.min("count"))
      .head().getLong(0) > 10)
  }

  test("drift replay face equals the batch KL gate") {
    val s = spark
    import s.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val got = graft.spark.StreamingDrift.replay(s, sfDir)
      .as[(String, Long, Long, Long)].collect().sorted.toSeq
    val want = graft.spark.Curation.klDrift(s, sfDir)
      .as[(String, Long, Long, Long)].collect().sorted.toSeq
    assert(got.nonEmpty && got == want)
  }

  test("sessionize replay face equals the batch session stats") {
    val s = spark
    import s.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val got = graft.spark.StreamingSessionize.replay(s, sfDir)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val want = graft.spark.StreamingSessionize.sessionStats(s, sfDir)
      .select("user_id", "start_us", "end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got.nonEmpty && got == want,
      s"replay != batch: ${got.size} vs ${want.size} sessions")
  }

  test("streaming near-dup: duplicates beyond the horizon are not flagged; state evicts") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val text = "the quick brown fox jumps over the lazy dog again and again today for sure"
    val t0 = TranscriptGen.FixedEpochMs

    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.spark.StreamingNearDup
      .detect(stream.toDF().toDF("doc_id", "text", "ts"),
        watermarkDelay = "10 seconds", horizonMs = 60000L)
      .writeStream.format("memory").queryName("neardup_horizon")
      .outputMode("append").start()
    stream.addData(Seq((1L, text, new java.sql.Timestamp(t0))))
    q.processAllAvailable()
    // advance the watermark far past t0 + horizon: bucket state evicts
    stream.addData(Seq((99L, "completely unrelated filler words making their own bucket here today",
      new java.sql.Timestamp(t0 + 10L * 60 * 1000))))
    q.processAllAvailable()
    // the duplicate arrives long after the horizon — must NOT pair
    stream.addData(Seq((2L, text, new java.sql.Timestamp(t0 + 11L * 60 * 1000))))
    q.processAllAvailable()
    q.stop()
    assert(s.table("neardup_horizon").count() == 0L,
      "pair emitted across an expired horizon — state not evicted")
  }

  test("streaming near-dup: out-of-order arrival within the watermark still pairs") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val text = "the quick brown fox jumps over the lazy dog again and again today for sure"
    val t0 = TranscriptGen.FixedEpochMs

    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.spark.StreamingNearDup
      .detect(stream.toDF().toDF("doc_id", "text", "ts"),
        watermarkDelay = "30 minutes", horizonMs = 3600000L)
      .writeStream.format("memory").queryName("neardup_ooo")
      .outputMode("append").start()
    // batch 1: the original at t0+20min (watermark advances to ~t0-10min)
    stream.addData(Seq((1L, text, new java.sql.Timestamp(t0 + 20L * 60 * 1000))))
    q.processAllAvailable()
    // batch 2: a LATE near-dup with an EARLIER event time (t0+5min) —
    // still above the watermark, age 15min << horizon ⇒ must pair
    stream.addData(Seq((2L, text, new java.sql.Timestamp(t0 + 5L * 60 * 1000))))
    q.processAllAvailable()
    q.stop()
    val pairs = s.table("neardup_ooo")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)),
      s"in-watermark out-of-order duplicate not paired: $pairs")
  }

  test("streaming dedup keeps the first-seen row per digest") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().take(30).toSeq
    val t0 = TranscriptGen.FixedEpochMs
    val originals = docs.map { case (id, text) =>
      (id, text, new java.sql.Timestamp(t0 + id)) }
    // re-arrivals of the same texts under new ids, later but within the
    // watermark delay — all must be dropped
    val dupes = docs.map { case (id, text) =>
      (id + 1000L, text, new java.sql.Timestamp(t0 + 60000L + id)) }

    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.spark.StreamingExtract
      .dedupStream(stream.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    stream.addData(originals); q.processAllAvailable()
    stream.addData(dupes); q.processAllAvailable()
    q.stop()

    val survivors = s.table("dedup_stream")
      .select("doc_id", "digest").as[(Long, String)].collect().toSeq
    val expectedDigests = docs.map(_._2).distinct.size
    assert(survivors.size == expectedDigests)
    assert(survivors.forall(_._1 < 1000L), "a duplicate re-arrival survived")
  }

  test("streaming per-domain quota: cumulative cap across micro-batches equals the batch rank window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val quota = 10
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "source").as[(Long, String)].collect().sortBy(_._1).toSeq
    val t0 = TranscriptGen.FixedEpochMs
    val rows = docs.map { case (id, src) =>
      (id, src, new java.sql.Timestamp(t0 + id)) }

    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.spark.StreamingQuota
      .admit(stream.toDF().toDF("doc_id", "source", "ts"), quota)
      .writeStream.format("memory").queryName("quota_stream")
      .outputMode("append").start()
    // three micro-batches in event-time order: sources span batch
    // boundaries, so counters must carry across batches
    rows.grouped(math.max(rows.size / 3, 1)).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()

    val streamed = s.table("quota_stream")
      .as[graft.spark.AdmittedDoc].collect()
      .map(r => (r.doc_id, r.source, r.admit_rank)).toSet
    // batch truth: (ts, doc_id) rank window per source, capped at quota —
    // arrival order IS event-time order here, so the two faces agree
    val want = docs.groupBy(_._2).flatMap { case (src, ds) =>
      ds.map(_._1).sorted.take(quota).zipWithIndex
        .map { case (id, i) => (id, src, i + 1L) }
    }.toSet
    assert(streamed == want,
      s"missing ${(want -- streamed).take(5)}, extra ${(streamed -- want).take(5)}")
    // the cap must actually bind (some domain exceeds its quota)
    assert(docs.groupBy(_._2).exists(_._2.size > quota),
      "fixture too small to exercise the cap — vacuous")
    assert(streamed.groupBy(_._2).forall(_._2.size <= quota))
  }

  test("streaming as-of enrichment equals the batch as-of join") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val sfDir = "/root/testdata/sf0.001"

    // feed the real events table in 3 event-time-ordered micro-batches
    // (the operator's documented per-user in-order contract); ts rides
    // as epoch µs because the parquet column is NTZ
    val events = s.read.parquet(s"$sfDir/events.parquet")
      .selectExpr("event_id", "user_id", "event_type",
        "unix_micros(cast(ts as timestamp)) AS us")
      .as[(Long, Long, String, Long)]
      .collect().sortBy(e => (e._4, e._1)).toSeq

    val stream = MemoryStream[(Long, Long, String, Long)]
    val q = graft.spark.StreamingAsOf
      .enrich(stream.toDF().toDF("event_id", "user_id", "event_type", "us")
        .selectExpr("event_id", "user_id", "event_type", "timestamp_micros(us) AS ts"))
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    events.grouped(math.max(events.size / 3, 1)).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()

    val streamed = s.table("asof_stream")
      .as[graft.spark.AsOfEnriched].collect()
      .map(r => (r.event_id, r.user_id, r.err_us, r.purchase_id, r.lag_us)).toSet
    val batch = graft.spark.Temporal.asofJoin(s, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty && batch.exists(_._4 >= 0),
      "fixture has no enriched probes — vacuous")
    assert(streamed == batch,
      s"streaming != batch as-of: missing ${(batch -- streamed).take(5)}, extra ${(streamed -- batch).take(5)}")
  }

  test("streaming KL drift monitor: final snapshot per source equals the batch gate") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq

    val stream = MemoryStream[(Long, String, String)]
    val q = graft.spark.StreamingDrift
      .monitor(stream.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("drift_stream")
      .outputMode("append").start()
    docs.grouped(math.max(docs.size / 3, 1)).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()

    val snaps = s.table("drift_stream")
      .as[graft.spark.DriftSnapshot].collect().toSeq
    val lastPerSource = snaps.groupBy(_.source).map { case (src, ss) =>
      val last = ss.maxBy(x => x.n_new_tokens + x.n_old_tokens)
      (src, last.n_new_tokens, last.n_old_tokens, last.kl_unats)
    }.toSet
    val batch = graft.spark.Curation.klDrift(s, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(lastPerSource == batch,
      s"final streaming snapshots != batch klDrift: ${(lastPerSource -- batch).take(3)}")
    // the monitor must have emitted INTERMEDIATE snapshots too (that is
    // its point: the alert fires mid-crawl, not at the next batch job)
    assert(snaps.size > batch.size, "no intermediate snapshots emitted")
  }
}
