package graft

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType
import org.apache.spark.sql.SparkSession

/** Reads the footers of written parquet files, for specs that check how a
  * table was stored (codec, physical and logical types) rather than what
  * it reads back as.
  */
object ParquetFooters {

  /** The footer of every parquet data file under `dir`. */
  def under(spark: SparkSession, dir: String): Seq[(Path, ParquetMetadata)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val it = root.getFileSystem(conf).listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.endsWith(".parquet")).map { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        try p -> r.getFooter finally r.close()
      }.toSeq
  }

  def physicalType(f: ParquetMetadata, column: String): PrimitiveType =
    f.getFileMetaData.getSchema.getColumnDescription(Array(column)).getPrimitiveType

  /** The encodings of `column`'s chunks in every row group of `f`, the
    * level encodings included. */
  def encodings(f: ParquetMetadata, column: String): Set[Encoding] =
    f.getBlocks.asScala.flatMap(_.getColumns.asScala)
      .filter(_.getPath.toDotString == column)
      .flatMap(_.getEncodings.asScala).toSet
}
