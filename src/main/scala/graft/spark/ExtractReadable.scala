package graft.spark

import graft.extract.{ExtractOptions, Extractor, Summary}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `extract_readable(text)` as a native Catalyst expression (SURVEY.md §2m,
  * the optional phase-2 SQL surface): returns
  * `struct<confidence:double, html:string, text:string,
  *         spans:array<struct<start:int,end:int>>, failed:boolean>`.
  *
  * CodegenFallback by design: the DOM pipeline dwarfs row plumbing, and a
  * fallback expression still composes inside whole-stage-codegen'd
  * projections around it. Registered through [[GraftExtensions]]
  * (`spark.sql.extensions=graft.spark.GraftExtensions`) or
  * [[ExtractReadable.register]] for an existing session.
  */
case class ExtractReadable(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "extract_readable"

  override def dataType: DataType = ExtractReadable.schema

  override def nullSafeEval(input: Any): Any =
    ExtractReadable.toRow(Extractor.extract(input.toString, ExtractOptions()))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ExtractReadable {
  val schema: StructType = StructType(Seq(
    StructField("confidence", DoubleType, nullable = false),
    StructField("html", StringType, nullable = true),
    StructField("text", StringType, nullable = false),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("start", IntegerType, nullable = false),
      StructField("end", IntegerType, nullable = false))), containsNull = false)),
    StructField("failed", BooleanType, nullable = false)))

  /** One extraction as a row of [[schema]] — the single encoder shared by
    * this expression and [[ExtractTurnsExec]]. */
  def toRow(s: Summary): InternalRow = InternalRow(
    s.confidence,
    if (s.html == null) null else UTF8String.fromString(s.html),
    UTF8String.fromString(s.text),
    new GenericArrayData(s.spans.map { case (a, b) => InternalRow(a, b) }.asInstanceOf[Array[Any]]),
    s.failed)

  val info = new ExpressionInfo(
    classOf[ExtractReadable].getName, null, "extract_readable",
    "_FUNC_(html) - readability main-content extraction of an HTML payload",
    "")

  val builder: Seq[Expression] => Expression = {
    case Seq(e) => ExtractReadable(e)
    case other =>
      throw new IllegalArgumentException(
        s"extract_readable expects 1 argument, got ${other.length}")
  }

  /** Register on a live session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("extract_readable"), info, builder)
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (FunctionIdentifier("extract_readable"), ExtractReadable.info, ExtractReadable.builder))
    ext.injectFunction(
      (FunctionIdentifier("dot_f64"),
        new ExpressionInfo(classOf[DotF64].getName, null, "dot_f64",
          "_FUNC_(a, b) - sequential double dot product of two float/double arrays", ""),
        (exprs: Seq[Expression]) => DotF64(exprs(0), exprs(1))))
    ext.injectPlannerStrategy(_ => ExtractTurnsStrategy)
  }
}
