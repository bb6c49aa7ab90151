package graft.functions

import graft.pdf.WorkBuffers
import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
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

/** `simhash64(text)` → BIGINT: Charikar/Manku 64-bit SimHash over word
  * 4-shingles — the same function the dedup operators use
  * ([[graft.dedup.Dedup.simhash64]]), surfaced as a native expression with
  * `doGenCode` so signature computation runs inside WholeStageCodegen (the
  * previous typed-`map` path paid a row ⇄ object conversion per document —
  * at 10^12 rows that conversion IS the job). */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects STRING, got ${child.dataType.catalogString}")
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash64.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

object SimHash64 {
  /** Java-static entry (called from generated code). */
  def hash(s: UTF8String): Long = graft.dedup.Dedup.simhash64(s.toString)
}

/** `minhash_bands(text)` → ARRAY<BIGINT>: the 32 LSH band keys of the
  * 128-hash MinHash signature over word 3-shingles — one array per
  * document, exploded by the caller. Native `doGenCode` expression, so the
  * scan → signature stage is WholeStageCodegen with no typed-row
  * conversion; the banding fold is the SAME [[graft.dedup.Dedup.bandKey]]
  * the streaming path uses (one definition, or the candidate sets desync). */
case class MinhashBandsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"minhash_bands expects STRING, got ${child.dataType.catalogString}")
  override def prettyName: String = "minhash_bands"

  override def nullSafeEval(input: Any): Any =
    MinhashBands.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinhashBands.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): MinhashBandsExpr =
    copy(child = newChild)
}

object MinhashBands {
  import graft.dedup.Dedup

  /** Java-static entry (called from generated code). Empty array for docs
    * below the shingle size (no bands — the doc simply has no candidates),
    * mirroring the typed path's flatMap-to-nothing. */
  def compute(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val hs = Dedup.shingleHashes(s.toString, Dedup.DefaultShingleK)
    if (!hs.hasNext) new GenericArrayData(Array.emptyLongArray)
    else {
      val sig = Dedup.minhashSignature(hs)
      val keys = new Array[Long](Dedup.Bands)
      var b = 0
      while (b < Dedup.Bands) { keys(b) = Dedup.bandKey(sig, b); b += 1 }
      new GenericArrayData(keys)
    }
  }
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
    describe("pdf_extract", classOf[PdfExtractExpr])(PdfExtractExpr(_)),
    describe("simhash64", classOf[SimHash64Expr])(SimHash64Expr(_)),
    describe("minhash_bands", classOf[MinhashBandsExpr])(MinhashBandsExpr(_)))

  /** Imperative registration on an existing session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) => reg.registerFunction(id, info, builder) }
  }
}
