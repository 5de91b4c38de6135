package graft.checks

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.types.StructType

import graft.catalog.TableManifest

/** Parquet footer reads: the one primitive behind every footer-level
  * check. Spark's own footer reader opens the file once and decodes only
  * the tail (no data pages); a missing, truncated or non-parquet file
  * throws. */
object Footers {
  def read(path: String, conf: Configuration): ParquetMetadata =
    ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(new Path(path), conf),
      ParquetMetadataConverter.NO_FILTER)
}

/** What one pinned table's footers say: how many pinned files are
  * zero-length or have a footer that does not read, and the table's Spark
  * schema (from the first non-empty pinned file, as Spark's inference
  * would derive it), if one can be derived. */
final case class TableFooters(badFiles: Long, schema: Option[StructType])

/** The footers of one pass's pinned manifests. Each manifest's files are
  * read on the driver at most once per instance, by the first caller;
  * concurrent callers for the same manifest wait for that read. A pass
  * creates its own instance, so a file rewritten between passes is read
  * again. */
final class PassFooters {
  private final class Cell(spark: SparkSession, m: TableManifest) {
    lazy val value: TableFooters = readAll(spark, m)
  }
  private val cells = new ConcurrentHashMap[TableManifest, Cell]

  def apply(spark: SparkSession, m: TableManifest): TableFooters =
    cells.computeIfAbsent(m, k => new Cell(spark, k)).value

  private def readAll(spark: SparkSession, m: TableManifest): TableFooters = {
    val conf = spark.sparkContext.hadoopConfiguration
    val read = m.files.map(f =>
      if (f.length == 0L) None
      else Try(Footers.read(f.path, conf)).toOption)
    val schema = m.files.zip(read).find(_._1.length > 0L).flatMap {
      case (f, footer) => footer.flatMap { meta =>
        // lake tables may carry TIMESTAMP(NANOS), which the converter
        // refuses without the legacy mapping
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        Try(GraftSqlBridge.parquetSchema(spark, f.path, meta)).toOption
      }
    }
    TableFooters(read.count(_.isEmpty).toLong, schema)
  }
}
