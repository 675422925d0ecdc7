package graft.spark

import graft.SparkSuite
import org.apache.spark.sql.functions.{concat, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Codegen'd doc_fingerprint expression: SQL surface, whole-stage
  * codegen participation, kernel equivalence. */
class FingerprintExpressionSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 2

  test("SQL-registered doc_fingerprint matches the kernel and is deterministic") {
    import spark.implicits._
    DocFingerprint.register(spark)
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy dog"),
        (3L, "completely different content here entirely"))
      .toDF("doc_id", "text").createOrReplaceTempView("fp_docs")
    val rows = spark.sql("SELECT doc_id, doc_fingerprint(text) AS fp FROM fp_docs")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(3L))
    assert(rows(1L) == DocFingerprint.compute("the quick brown fox jumps over the lazy dog"))
  }

  test("expression runs inside WholeStageCodegen (no UDF boundary)") {
    import spark.implicits._
    // a range scan (not a constant-foldable local relation) so the
    // projection actually lands in a WholeStageCodegen stage
    val df = spark.range(0, 8)
      .select($"id", concat(lit("doc body number "), $"id".cast("string")).as("text"))
      .select($"id", DocFingerprint.of($"text").as("fp"))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // formatted mode marks whole-stage-codegen membership per operator
    assert(plan.contains("[codegen id :"), plan)
    // the simple form shows the fused stage as the *(1) prefix on Project
    assert(df.queryExecution.executedPlan.toString.contains("*(1) Project"), plan)
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), plan)
    val row0 = df.orderBy($"id").collect()(0)
    assert(row0.getLong(1) == DocFingerprint.compute("doc body number 0"))
  }

  test("null input yields null, empty string yields 0") {
    import spark.implicits._
    val df = Seq((1L, null: String), (2L, "")).toDF("doc_id", "text")
      .select($"doc_id", DocFingerprint.of($"text").as("fp"))
    val rows = df.collect()
    assert(rows(0).isNullAt(1))
    assert(rows(1).getLong(1) == 0L)
  }
}
