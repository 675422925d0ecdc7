package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.pdf.Outputs

/** Catalyst-native scalar expression `extract_text(html BINARY) → STRING`
  * (SURVEY §7.3: the optional Expression wrapper that makes the
  * extractor SQL-addressable). Each row goes through
  * `ExtractJob.extractOne`, the kernel `extract` runs, with the default
  * `ExtractJob.Config` and text only; CodegenFallback is correct here —
  * the work is the byte-level parse, not the call dispatch. The value
  * is the doc's `text` when its status is `ok` and NULL otherwise: a
  * null, empty or broken payload, and one over the default
  * `oversizeCapBytes` (64 MB), give NULL, never an exception, so the
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
    val d = ExtractJob.extractOne(null, input.asInstanceOf[Array[Byte]], 0, ExtractJob.Config(), Outputs.TextOnly)
    if (d.status == "ok") UTF8String.fromString(d.text) else null
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
