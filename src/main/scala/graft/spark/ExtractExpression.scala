package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.html.BoilerplateStripper
import graft.pdf.{ConversionOptions, Outputs, PdfExtractor}

/** Catalyst-native scalar expression `extract_text(html BINARY) → STRING`
  * (SURVEY §7.3: the optional Expression wrapper that makes the
  * extractor SQL-addressable). The per-row kernel is the same pure
  * function the mapPartitions path uses; CodegenFallback is correct
  * here — the work is the byte-level parse, not the call dispatch.
  * Null/empty/broken payloads yield NULL, never an exception, so the
  * expression is safe under any filter ordering Catalyst picks.
  */
case class ExtractText(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"extract_text requires BINARY input, got ${child.dataType.sql}")
  override def nullable: Boolean = true
  override def prettyName: String = "extract_text"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    if (bytes == null || bytes.isEmpty) null
    else {
      try {
        val text =
          if (PdfExtractor.isPdf(bytes))
            PdfExtractor.extract(bytes, ConversionOptions(outputs = Outputs.TextOnly)).text
          else BoilerplateStripper.strip(bytes)
        UTF8String.fromString(text)
      } catch { case _: Throwable => null }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ExtractText =
    copy(child = newChild)
}

object ExtractText {
  /** Column-API entry: `df.select(ExtractText.of(col("html")))`. */
  def of(c: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      ExtractText(org.apache.spark.sql.GraftSqlShim.expression(c)))

  /** SQL registration: `SELECT extract_text(html) FROM pages`. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "extract_text", exprs => ExtractText(exprs.head), "scala_udf")
}
