package graft.spark

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import scala.jdk.CollectionConverters._

/** The Spark-native extraction pipeline (SURVEY.md §3 "Spark lifecycle
  * equivalent"):
  *
  *   scan (column-pruned to conv_id/turn_idx/text: role/tool/ts are
  *   never scanned, shuffled or decoded) →
  *   explicit bucketing on hash(conv_id) with turn-level salting for
  *   skewed long conversations →
  *   the one extraction operator, [[ExtractTurnsNode]] (batched
  *   per-partition DOM tokenize + node-classify: the whole readability
  *   pipeline, node-local, zero shuffle after the bucketing exchange) →
  *   extracted turns + per-partition lineage rows.
  *
  * Scale notes (10^12 turns, 1000 executors):
  *  - extraction is per-turn independent ⇒ salting is safe and the single
  *    exchange is the only shuffle in the job; with Iceberg hidden
  *    partitioning `bucket(B, conv_id)` even that exchange disappears
  *    (the scan is already bucketed) — the local stand-in keeps the seam;
  *  - per-row memory is bounded by one DOM (~8× payload size); pathological
  *    payloads fail soft into `failed=true` rows like the reference's
  *    Unparseable (readability.py:670-676), never killing the task;
  *  - lineage rows ride a CollectionAccumulator keyed by stage, partition
  *    and attempt, and are summed by bucket on read, so buckets that span
  *    partitions, task retries and repeated actions all count exactly.
  */
object ExtractJob {

  /** Extraction result: the distributed dataset plus (after an action)
    * the per-bucket lineage rows. */
  final class Result(
      val extracted: Dataset[ExtractedTurn],
      acc: CollectionAccumulator[PartitionLineage]) {
    /** Per-bucket lineage, valid once an action has run over every
      * partition. Each action adds a set per partition under a new stage
      * id, and a retried task may add a second one: keep the stage that
      * covered most partitions, one attempt each, then sum by bucket. */
    def lineageRows: Seq[LineageRow] = {
      val sets = acc.value.asScala.toSeq
      if (sets.isEmpty) Seq.empty
      else sets.groupBy(_.stage).values
        .maxBy(ss => (ss.map(_.partition).distinct.size, -ss.head.stage))
        .groupBy(_.partition).values.toSeq.flatMap(_.minBy(_.attempt).rows)
        .groupBy(_.bucket).values.toSeq.map(_.reduce((a, b) => a.copy(
          extracted_turns = a.extracted_turns + b.extracted_turns,
          failed_turns = a.failed_turns + b.failed_turns,
          empty_turns = a.empty_turns + b.empty_turns,
          score_histogram = a.score_histogram.zip(b.score_histogram).map(p => p._1 + p._2),
          wall_ms = a.wall_ms + b.wall_ms)))
        .sortBy(_.bucket)
    }
  }

  /** Number of salt values for long conversations: a conversation spreads
    * over at most `salt` buckets, each still sorted by turn_idx within. */
  def saltFor(numBuckets: Int): Int = math.max(1, numBuckets / 8)

  /** Stable data-level bucket of a turn — the resume/lineage unit. Must be
    * a pure function of the ROW (not of Spark partition indexes), so a
    * restarted run reproduces it. */
  def bucketCol(numBuckets: Int): org.apache.spark.sql.Column =
    pmod(hash(bucketKey(numBuckets): _*), lit(numBuckets))

  /** The salted key that [[bucketCol]] hashes: conv_id, turn_idx mod salt. */
  private def bucketKey(numBuckets: Int): Seq[org.apache.spark.sql.Column] =
    Seq(col("conv_id"), pmod(col("turn_idx"), lit(saltFor(numBuckets))))

  /** Core distributed extraction: bucket + salt, then the extraction
    * operator. Output is sorted within partitions by (conv_id, turn_idx)
    * — stable turn ordering per the north rule. The exchange hashes
    * [[bucketCol]]'s own key into `numBuckets` partitions: Spark's `hash()`
    * and its hash partitioning are both Murmur3 with seed 42 taken `pmod`
    * the count, so partition i holds exactly bucket i and each bucket gets a
    * task of its own (hashing the bucket id a second time would leave some
    * partitions empty and stack buckets on others). Lineage is tracked per
    * data-level bucket. */
  def run(spark: SparkSession, turns: Dataset[Turn], numBuckets: Int,
      fingerprint: String = "local"): Result =
    runImpl(spark, turns, numBuckets, fingerprint, exchange = true)

  /** The production shape on an Iceberg table with hidden partitioning
    * `bucket(B, conv_id)`: the scan is already clustered by bucket, so the
    * exchange is elided and the job is map-only (plus a partition-local
    * sort for stable turn ordering). Lineage still keys on the data-level
    * bucket. Correctness is identical to [[run]] — only the physical
    * distribution differs (`Bench scaling extract` measures both). */
  def runPreBucketed(spark: SparkSession, turns: Dataset[Turn], numBuckets: Int,
      fingerprint: String = "local"): Result =
    runImpl(spark, turns, numBuckets, fingerprint, exchange = false)

  private def runImpl(spark: SparkSession, turns: Dataset[Turn], numBuckets: Int,
      fingerprint: String, exchange: Boolean): Result = {
    import spark.implicits._
    val tagged = turns
      .withColumn("bucket", bucketCol(numBuckets))
      .select("bucket", "conv_id", "turn_idx", "text")
    val bucketed =
      (if (exchange) tagged.repartition(numBuckets, bucketKey(numBuckets): _*) else tagged)
        .sortWithinPartitions("conv_id", "turn_idx")
    val acc = spark.sparkContext.collectionAccumulator[PartitionLineage]("graft.lineage")
    val extracted = GraftOps.plan(bucketed, Some(LineageTap(fingerprint, acc)))
      .as[ExtractedTurn]
    new Result(extracted, acc)
  }

  // ---------- resumable run (north rule: snapshot checkpoints) ----------

  /** Input "snapshot id" stand-in: fingerprint of the input files
    * (path, size) — deterministic, no wall clock. With real Iceberg this
    * is the snapshot id. */
  def inputFingerprint(spark: SparkSession, path: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return "missing"
    val parts = fs.listStatus(p).map(s => s"${s.getPath.getName}:${s.getLen}")
      .sorted.mkString(",")
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(parts).toLong & 0xffffffffL)
  }

  /** Resumable extraction: processes only buckets not yet recorded in the
    * ledger for this input fingerprint, appends bucket-partitioned output,
    * then appends ledger + lineage rows. Restart-safe: a crashed run
    * re-processes only unledgered buckets (bucket partitions are
    * dynamically overwritten, so partial bucket output is replaced,
    * giving exactly-once per bucket). All sink I/O goes through the
    * [[TableIO]] seam — parquet dirs locally, a lakehouse catalog on a
    * cluster. */
  def runResumable(spark: SparkSession, turns: Dataset[Turn], numBuckets: Int,
      fingerprint: String, io: TableIO,
      outTable: String, ledgerTable: String): Seq[LineageRow] = {
    import spark.implicits._
    // done-buckets as a broadcast LEFT ANTI join against the ledger — no
    // driver collect and no isin literal list (which at production bucket
    // counts, 2^15+, becomes a giant expression tree; VERDICT.md "What's
    // wrong" #3)
    val remaining =
      if (!io.exists(ledgerTable)) turns
      else {
        val done = io.read(ledgerTable)
          .where(col("input_fingerprint") === fingerprint)
          .select("bucket").distinct()
        turns.withColumn("bucket", bucketCol(numBuckets))
          .join(broadcast(done), Seq("bucket"), "left_anti")
          .drop("bucket").as[Turn]
      }

    val res = run(spark, remaining, numBuckets, fingerprint)
    // dynamic partition overwrite: only the buckets written by THIS run
    // are replaced, so a bucket half-written by a crashed attempt is
    // cleanly overwritten when its turn comes again (exactly-once per
    // bucket), while ledgered buckets' output is untouched
    io.writePartitioned(
      res.extracted.withColumn("bucket", bucketCol(numBuckets)).toDF(),
      outTable, "bucket")
    val lineage = res.lineageRows
    io.write(spark.createDataset(lineage).toDF(), ledgerTable, SaveMode.Append)
    lineage
  }

}
