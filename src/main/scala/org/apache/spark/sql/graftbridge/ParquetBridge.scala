package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.mapreduce.TaskType
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetOutputFormat}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetOutputWriter, ParquetReadSupport,
  ParquetToSparkSchemaConverter, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Executor-side parquet row writer for graft's DSv2 segment sink —
  * re-exposes Spark's own `ParquetWriteSupport`/`ParquetOutputWriter`
  * (private[sql] file-source internals) through the sanctioned
  * package-located shim, configured the way
  * `ParquetFileFormat.prepareWrite` does, so DSv2 `DataWriter` tasks
  * produce part files byte-compatible with `df.write.parquet`. Also
  * reads a part's Spark schema from its footer on the driver, for the
  * segment runner. */
object ParquetBridge {

  /** A row writer at `path` (one part file) for a flat or nested
    * `schema`, written all-nullable as `df.write.parquet` does. Caller
    * must `close()` to finalize the footer. */
  def writer(path: String, schema: StructType, hadoopConf: Configuration)
      : ParquetOutputWriter = {
    val conf = new Configuration(hadoopConf)
    conf.set(ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[ParquetWriteSupport].getName)
    ParquetWriteSupport.setSchema(schema.asNullable, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    // the schema converter and write support read these with a bare
    // conf.get — prepareWrite sets every one explicitly, so must we
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    val attempt = new org.apache.hadoop.mapreduce.TaskAttemptID(
      "graft", 0, TaskType.MAP, 0, 0)
    new ParquetOutputWriter(path,
      new TaskAttemptContextImpl(conf, attempt))
  }

  /** The Spark schema recorded in `file`'s footer (its
    * `org.apache.spark.sql.parquet.row.metadata`), decoded as Spark's
    * own schema inference decodes it, or None when the footer holds no
    * such record (a file written outside Spark). Reads the footer only,
    * on the calling thread. */
  def sparkSchema(file: FileStatus, hadoopConf: Configuration,
      sqlConf: SQLConf): Option[StructType] = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    Option(meta.getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY))
      .map(_ => ParquetFileFormat.readSchemaFromFooter(
        new Footer(file.getPath, meta),
        new ParquetToSparkSchemaConverter(sqlConf)))
  }
}
