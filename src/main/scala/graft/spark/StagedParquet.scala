package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/** The file format of `ExtractJob`'s stage write: parquet, except that a
  * file keeps only its own table's columns. The write is partitioned by
  * `bucket`; a file in the null bucket ([[StagedParquet.CheckpointDir]])
  * holds [[StagedParquet.checkpointColumns]] and every other file
  * [[StagedParquet.outputColumns]]. So one write stages both tables, and
  * each table's files carry exactly the schema its readers infer. */
private[spark] final class StagedParquet extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    val parquet = super.prepareWrite(spark, job, options, dataSchema)
    // each table's columns with the types and nullability the write has
    def only(table: StructType) = StructType(table.fieldNames.map(dataSchema(_)))
    val (ckpt, out) = (only(StagedParquet.checkpointColumns), only(StagedParquet.outputColumns))
    new OutputWriterFactory {
      def getFileExtension(context: TaskAttemptContext): String = parquet.getFileExtension(context)
      def newInstance(path: String, rowSchema: StructType, context: TaskAttemptContext): OutputWriter = {
        val table = if (path.contains(s"/${StagedParquet.CheckpointDir}/")) ckpt else out
        // the parquet writer takes its schema from the task's conf
        val conf = new Configuration(context.getConfiguration)
        ParquetWriteSupport.setSchema(table, conf)
        val writer = new ParquetOutputWriter(path, new TaskAttemptContextImpl(conf, context.getTaskAttemptID))
        val row = ProjectingInternalRow(table, table.fieldNames.toSeq.map(rowSchema.fieldIndex))
        new OutputWriter {
          def write(r: InternalRow): Unit = { row.project(r); writer.write(row) }
          def close(): Unit = writer.close()
          def path(): String = writer.path
        }
      }
    }
  }
}

private[spark] object StagedParquet {
  /** The null bucket's directory, which holds the checkpoint rows. */
  val CheckpointDir: String = s"bucket=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"

  /** The committed output's file columns: [[ExtractedDoc]]'s, without
    * `n_bytes` and `partition_id`, which only the checkpoint keeps. */
  lazy val outputColumns: StructType = StructType(Encoders.product[ExtractedDoc].schema
    .filterNot(f => f.name == "n_bytes" || f.name == "partition_id"))

  /** The checkpoint's file columns: [[CheckpointRow]]'s. */
  lazy val checkpointColumns: StructType = Encoders.product[CheckpointRow].schema
}
