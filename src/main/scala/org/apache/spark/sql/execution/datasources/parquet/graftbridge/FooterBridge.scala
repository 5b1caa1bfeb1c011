package org.apache.spark.sql.execution.datasources.parquet.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.types.StructType

/** Spark's parquet footer-to-schema conversion is private[parquet]; this
  * package-located shim re-exports it so the engine can learn a table's
  * schema from one footer on the driver instead of running Spark's
  * schema-inference job. No internal behavior is modified.
  */
object FooterBridge {
  /** `file`'s footer, read in the calling thread; row-group metadata is
    * skipped, as schema inference skips it. */
  def footer(file: FileStatus, conf: Configuration): Footer =
    new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS))

  /** The schema inference would give for `footer`: the Spark schema the
    * writer stored in the footer if any, else the parquet schema converted
    * under `spark`'s session conf (binaryAsString, int96AsTimestamp,
    * inferTimestampNTZ, nanosAsLong), built exactly as inference builds it. */
  def schema(footer: Footer, spark: SparkSession): StructType =
    ParquetFileFormat.readSchema(Seq(footer), spark).get
}
