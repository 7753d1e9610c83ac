package graft.spark

import graft.extract.{ExtractOptions, Extractor, Summary}
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._
import org.apache.spark.util.CollectionAccumulator

import scala.collection.mutable

/** The one extraction operator: a custom `LogicalPlan` node +
  * `SparkStrategy` + physical `UnaryExecNode`, registered through
  * [[GraftExtensions]] (`injectPlannerStrategy`). Both [[ExtractJob]]
  * faces and [[GraftOps.extractTurns]] plan to it; `extract_readable`
  * shares its row encoder ([[ExtractReadable.toRow]]); both are tested
  * against `Extractor.extract` itself.
  *
  * The logical node requires child columns `conv_id:string`,
  * `turn_idx:int`, `text:string` (and `bucket:int` with a [[LineageTap]];
  * resolved by name at planning time) and emits the [[ExtractedTurn]]
  * schema. Execution is one narrow partition-local pass — no exchange is
  * introduced, so whatever clustering the child has (e.g. an Iceberg
  * bucketed scan) is preserved.
  */
case class ExtractTurnsNode(
    child: LogicalPlan,
    lineage: Option[LineageTap] = None,
    // expr-ids must be minted ONCE per node and survive copy() — a `def`
    // output would hand the analyzer fresh ids on every call
    override val output: Seq[Attribute] = ExtractTurnsNode.outputAttrs)
  extends UnaryNode {
  // all output attributes originate here, not in the child
  override def producedAttributes: AttributeSet = outputSet
  // declare the child columns the operator consumes — column pruning
  // keeps exactly these and drops the rest (role/tool/ts)
  override def references: AttributeSet = {
    val cols = ExtractTurnsNode.inputCols ++ lineage.map(_ => "bucket")
    AttributeSet(child.output.filter(a =>
      cols.contains(a.name.toLowerCase(java.util.Locale.ROOT))))
  }
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object ExtractTurnsNode {
  val inputCols: Set[String] = Set("conv_id", "turn_idx", "text")

  /** (conv_id, turn_idx), then [[ExtractReadable.schema]] named as in
    * [[ExtractedTurn]]. */
  def outputAttrs: Seq[Attribute] =
    AttributeReference("conv_id", StringType)() +:
      AttributeReference("turn_idx", IntegerType, nullable = false)() +:
      ExtractReadable.schema.map(f => AttributeReference(
        if (f.name == "html" || f.name == "text") s"extracted_${f.name}" else f.name,
        f.dataType, f.nullable)())
}

/** One task's per-bucket lineage rows, tagged with the stage, partition
  * and task attempt that produced them. */
final case class PartitionLineage(stage: Int, partition: Int, attempt: Long,
    rows: Seq[LineageRow])

/** The node's optional lineage tap: each task adds one [[PartitionLineage]]
  * to `acc` once its input is exhausted. */
final case class LineageTap(fingerprint: String,
    acc: CollectionAccumulator[PartitionLineage]) {
  // plan strings print node arguments: keep the accumulator's contents out
  override def toString: String = s"lineage($fingerprint)"
}

object LineageTap {
  val HistogramBins = 12 // confidence bins: [0,10), [10,20), …, [110,∞)

  private[spark] final class BucketStats {
    private var nOk, nFail, nEmpty = 0L
    private val hist = new Array[Long](HistogramBins)
    private val t0 = System.nanoTime()

    def add(s: Summary): Unit =
      if (s.failed) nFail += 1
      else if (s.html == null) nEmpty += 1
      else {
        nOk += 1
        hist(math.min(math.max((s.confidence / 10).toInt, 0), HistogramBins - 1)) += 1
      }

    def row(fingerprint: String, bucket: Int): LineageRow =
      LineageRow(fingerprint, bucket, nOk, nFail, nEmpty, hist,
        (System.nanoTime() - t0) / 1000000L)
  }
}

case class ExtractTurnsExec(outputAttrs: Seq[Attribute], lineage: Option[LineageTap],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = outputAttrs

  // outputAttrs are PRODUCED by this operator; without this they would
  // count as references and render the node "!"-invalid (missingInput)
  override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)

  override protected def doExecute(): RDD[InternalRow] = {
    def idx(name: String): Int = {
      val i = child.output.indexWhere(_.name.equalsIgnoreCase(name))
      require(i >= 0, s"extract_turns: child has no '$name' column " +
        s"(has ${child.output.map(_.name).mkString(", ")})")
      i
    }
    val (convIdx, turnIdx, textIdx) = (idx("conv_id"), idx("turn_idx"), idx("text"))
    val bucketIdx = lineage.fold(-1)(_ => idx("bucket"))
    val tap = lineage // a local, so the task closure does not capture the plan
    val schema = StructType(outputAttrs.map(a =>
      StructField(a.name, a.dataType, a.nullable)))
    child.execute().mapPartitions { it =>
      val opts = ExtractOptions()
      val proj = UnsafeProjection.create(schema)
      val key = new GenericInternalRow(2)
      val joined = new JoinedRow(key, null)
      val stats = mutable.LongMap.empty[LineageTap.BucketStats]
      val out = it.map { row =>
        val text = row.getUTF8String(textIdx)
        // a null payload takes the typed face's path: the parser rejects
        // it and the row fails soft (failed=true)
        val s = Extractor.extract(if (text == null) null else text.toString, opts)
        if (tap.isDefined)
          stats.getOrElseUpdate(row.getInt(bucketIdx).toLong, new LineageTap.BucketStats).add(s)
        key.update(0, row.getUTF8String(convIdx))
        key.setInt(1, row.getInt(turnIdx))
        proj(joined.withRight(ExtractReadable.toRow(s)))
      }
      // the lazy tail runs once, when the input is exhausted
      tap.fold(out)(t => out ++ {
        val tc = TaskContext.get()
        t.acc.add(PartitionLineage(tc.stageId(), tc.partitionId(), tc.taskAttemptId(),
          stats.toSeq.map { case (bucket, b) => b.row(t.fingerprint, bucket.toInt) }))
        Iterator.empty
      })
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Plans [[ExtractTurnsNode]] to [[ExtractTurnsExec]]. */
object ExtractTurnsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n @ ExtractTurnsNode(child, lineage, _) =>
      ExtractTurnsExec(n.output, lineage, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Public DataFrame API over the custom node. */
object GraftOps {
  /** `extractTurns(df)` — df must carry conv_id/turn_idx/text columns. */
  def extractTurns(df: DataFrame): DataFrame = plan(df, None)

  /** `df` through one [[ExtractTurnsNode]] with the given lineage tap. */
  private[spark] def plan(df: DataFrame, lineage: Option[LineageTap]): DataFrame = {
    val spark = df.sparkSession
    GraftExtensionsRegistrar.ensureStrategy(spark)
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      ExtractTurnsNode(org.apache.spark.sql.GraftSqlBridge.logicalPlan(df), lineage))
  }
}

/** Idempotent strategy registration for sessions not built with
  * `spark.sql.extensions=graft.spark.GraftExtensions`. */
object GraftExtensionsRegistrar {
  def ensureStrategy(spark: SparkSession): Unit = {
    val ss = spark.sessionState
    if (!ss.experimentalMethods.extraStrategies.contains(ExtractTurnsStrategy))
      ss.experimentalMethods.extraStrategies =
        ExtractTurnsStrategy +: ss.experimentalMethods.extraStrategies
  }
}
