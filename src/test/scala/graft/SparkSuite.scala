package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A suite that starts its own local Spark session before its tests and
  * stops it after them: `cores` local threads and as many shuffle
  * partitions, no UI. `spark` is a stable identifier, so a test can
  * `import spark.implicits._`. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>

  protected def cores: Int = 4

  protected lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark
  }

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()
}
