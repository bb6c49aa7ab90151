package graft.functions

import graft.pdf.WorkBuffers
import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `pdf_extract(payload BINARY)` →
  * `STRUCT<kind, text, title, pages INT, n_chars INT, decode_failures INT, error>`
  *
  * The SQL-facing surface of the extraction stack (SURVEY.md §2.4): the whole
  * per-document parse as one scalar expression, so SQL users can
  * `SELECT pdf_extract(html).text FROM pages`. CodegenFallback by design —
  * the value of codegen is fusing cheap expressions, not a 100 µs parser;
  * the expression still composes inside a WholeStageCodegen stage via the
  * fallback call. Per-thread WorkBuffers mirror the per-partition reuse of
  * the Dataset path. */
case class PdfExtractExpr(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = PdfExtractExpr.schema
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pdf_extract expects BINARY, got ${child.dataType.catalogString}")
  override def prettyName: String = "pdf_extract"

  override def nullSafeEval(input: Any): Any = {
    val d = ExtractPipeline.extractOne(
      "", input.asInstanceOf[Array[Byte]], "", "", PdfExtractExpr.buffers.get())
    InternalRow(
      UTF8String.fromString(d.kind),
      UTF8String.fromString(d.text),
      UTF8String.fromString(d.title),
      d.pages, d.n_chars, d.decode_failures,
      UTF8String.fromString(d.error))
  }

  override protected def withNewChildInternal(newChild: Expression): PdfExtractExpr =
    copy(child = newChild)
}

object PdfExtractExpr {
  val schema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("title", StringType, nullable = false),
    StructField("pages", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("decode_failures", IntegerType, nullable = false),
    StructField("error", StringType, nullable = false)))
  private val buffers: ThreadLocal[WorkBuffers] =
    ThreadLocal.withInitial(() => new WorkBuffers())
}

/** Function registration: either through `SparkSessionExtensions` (config
  * `spark.sql.extensions=graft.functions.GraftExtensions`) or imperatively
  * on a live session via [[GraftFunctions.register]]. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}

object GraftFunctions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def describe(name: String, cls: Class[_])(
      build: Expression => Expression): FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) => build(children.head))

  /** Every SQL function this library defines; both entry points register
    * exactly this list. */
  val all: Seq[FunctionDescription] = Seq(
    describe("pdf_extract", classOf[PdfExtractExpr])(PdfExtractExpr(_)))

  /** Imperative registration on an existing session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) => reg.registerFunction(id, info, builder) }
  }
}
