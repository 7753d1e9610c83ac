package graft

import graft.spark.{ExtractJob, TranscriptGen}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Skew-stress evidence (VERDICT r4 #3): on a corpus where ONE
  * conversation holds ~20% of all turns, the salted bucket key
  * (`hash(conv_id, turn_idx % salt)`) must bound the share of the
  * hottest bucket/task, while the unsalted `hash(conv_id)` key — what a
  * naive job would partition by — concentrates the whole mega
  * conversation in one place. Both checks are DETERMINISTIC (row and
  * record counts, not wall time): the 100×-scale claim is about work
  * distribution, which local wall-clock on a shared box cannot pin.
  * `Bench scaling skew` measures the wall-clock side for BENCH.md. */
class SkewSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("salted bucket key bounds the mega-conversation; unsalted key concentrates it") {
    val s = spark
    import s.implicits._
    val numBuckets = 32
    val turns = TranscriptGen.skewedTurns(s, sfDir, turnsPerDoc = 4).toDF()

    def bucketShares(bucket: org.apache.spark.sql.Column): Seq[Long] =
      turns.withColumn("b", bucket).groupBy("b").count()
        .select("count").as[Long].collect().toSeq.sorted

    val total = turns.count().toDouble
    val mega = turns.where(col("conv_id") === "conv-mega").count().toDouble
    assert(mega / total >= 0.15, s"plant too small to stress: ${mega / total}")

    val salted = bucketShares(ExtractJob.bucketCol(numBuckets))
    val unsalted = bucketShares(pmod(hash(col("conv_id")), lit(numBuckets)))

    val saltedMax = salted.max / total
    val unsaltedMax = unsalted.max / total
    val f = mega / total
    val saltN = ExtractJob.saltFor(numBuckets)
    info(f"max bucket share: salted $saltedMax%.3f vs unsalted $unsaltedMax%.3f " +
      f"(mega conv $f%.3f of corpus, salt=$saltN)")
    // the unsalted key puts the whole mega conversation in one bucket …
    assert(unsaltedMax >= f,
      f"control lost its skew: $unsaltedMax%.3f < $f%.3f")
    // … the salt spreads it: hottest bucket under half the control's
    assert(saltedMax <= unsaltedMax / 2,
      f"salt did not bound the skew: $saltedMax%.3f vs $unsaltedMax%.3f")
    // and the salted max/mean respects the salt's STRUCTURAL bound: the
    // mega conversation floors at f·B/salt of a mean bucket, the rest at
    // (1−f); 1.3 covers hash variance of the ordinary conversations
    val saltedMean = total / numBuckets
    val structural = (1 - f) + f * numBuckets / saltN
    assert(salted.max / saltedMean <= structural * 1.3,
      f"salted max/mean ${salted.max / saltedMean}%.2f exceeds " +
        f"the structural bound $structural%.2f × 1.3")
  }

  /** Per-task shuffle-read record counts of the HEAVIEST stage of
    * `action` — the post-exchange extraction stage (picked by total
    * records, so the tiny count-aggregate stages can't pollute the
    * median). Deterministic: record counts, not durations. */
  private def taskReads(action: => Unit): Seq[Long] = {
    val s = spark
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) recs.add((te.stageId, m.shuffleReadMetrics.recordsRead))
      }
    }
    s.sparkContext.addSparkListener(listener)
    try {
      action
      // listener delivery is async; poll until the queue stabilizes
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val size = recs.size()
        if (size == last) stable += 1 else { stable = 0; last = size }
      }
      import scala.jdk.CollectionConverters._
      val byStage = recs.asScala.toSeq.groupBy(_._1)
      byStage.maxBy(_._2.map(_._2).sum)._2.map(_._2).sorted
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("extract job on the skewed corpus: salted task reads beat the unsalted layout") {
    val s = spark
    import s.implicits._
    // the REAL job (salted exchange + extraction), physical task level —
    // this sees bucket→partition hash collisions too, which is the point
    val salted = taskReads {
      val n = ExtractJob
        .run(s, TranscriptGen.skewedTurns(s, sfDir, turnsPerDoc = 4), numBuckets = 32)
        .extracted.count()
      assert(n > 0)
    }
    // control: the same exchange keyed by the unsalted conv hash (record
    // counts per task are layout-only, so extraction can be skipped)
    val unsalted = taskReads {
      TranscriptGen.skewedTurns(s, sfDir, turnsPerDoc = 4).toDF()
        .withColumn("b", pmod(hash(col("conv_id")), lit(32)))
        .repartition(32, col("b")).count()
    }
    // max/mean (not median: the unsalted layout leaves most of its 32
    // partitions empty — which is itself the pathology)
    val mean = salted.sum.toDouble / salted.size
    val (rs, ru) = (salted.last / mean, unsalted.last / mean)
    info(f"task records: salted max=${salted.last} (max/mean $rs%.2f) " +
      f"vs unsalted max=${unsalted.last} (max/mean $ru%.2f) over n=${salted.size} tasks")
    // the unsalted hottest task carries at least the whole mega conv
    assert(unsalted.last >= salted.sum / 5,
      s"control lost its skew: unsalted max ${unsalted.last}")
    // salting halves the hottest task and keeps it near-uniform even
    // through bucket→partition collisions (two buckets on one task)
    assert(salted.last * 2 <= unsalted.last,
      s"salting did not halve the hottest task: ${salted.last} vs ${unsalted.last}")
    assert(rs <= 4.0, f"residual task skew too high after salting: $rs%.2f")
  }
}
