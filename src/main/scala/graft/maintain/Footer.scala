package graft.maintain

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{DataType, StructType}

/** What a Spark-written parquet data file's footer tells the driver:
  * its row count and the Spark schema the write stored under Spark's
  * row-metadata key (the same JSON schema inference reads). */
private[maintain] final case class Footer(rows: Long, schema: StructType)

private[maintain] object Footer {

  /** Spark's footer key for the written schema — the one schema
    * inference itself reads. */
  val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The footer of `file`, read on the driver: a few KB, no Spark job.
    * The file must come from a Spark `df.write.parquet`, which always
    * stores the row-metadata key. */
  def read(conf: Configuration, file: Path): Footer = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val meta = r.getFooter
      Footer(meta.getBlocks.asScala.map(_.getRowCount).sum,
        DataType.fromJson(meta.getFileMetaData.getKeyValueMetaData
          .get(SparkRowMetadataKey)).asInstanceOf[StructType])
    } finally r.close()
  }
}
