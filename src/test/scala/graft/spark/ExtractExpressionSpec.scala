package graft.spark

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pdf.testgen.PdfBuilder
import graft.pdf.testgen.PdfBuilder.Line

class ExtractExpressionSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 2

  override def beforeAll(): Unit = {
    super.beforeAll()
    ExtractText.register(spark)
  }

  test("extract_text usable from SQL over a binary column") {
    import spark.implicits._
    val pdf = PdfBuilder.singlePage(Seq(Line(100, 700, 12, "F1", "Via SQL")))
    val html = "<html><body><article><p>This paragraph is long enough to survive the boilerplate density rules of the stripper.</p></article></body></html>".getBytes("UTF-8")
    Seq(("a", pdf), ("b", html)).toDF("id", "payload").createOrReplaceTempView("blobs")
    val rows = spark.sql("SELECT id, extract_text(payload) AS text FROM blobs ORDER BY id")
      .collect()
    assert(rows(0).getString(1) == "Via SQL")
    assert(rows(1).getString(1).contains("long enough to survive"))
  }

  test("Column API + null safety") {
    import spark.implicits._
    val df = Seq(("x", null: Array[Byte]), ("y", Array.emptyByteArray),
        ("z", "garbage not a pdf".getBytes("UTF-8")))
      .toDF("id", "payload")
      .select(col("id"), ExtractText.of(col("payload")).as("text"))
    val out = df.collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out("x").isEmpty)  // null in → null out
    assert(out("y").isEmpty)  // empty in → null out
    // bare text treated as (boilerplate-free) html: may be empty or text, never a throw
    assert(df.count() == 3)
  }
}
