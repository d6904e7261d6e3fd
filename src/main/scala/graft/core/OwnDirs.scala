package graft.core

import java.io.FileNotFoundException

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Filesystem access and parquet reads for the directories this package
  * writes itself: [[Snapshots]] versions, [[Deletes]] key sets, the
  * per-version `_bloom`/`_zonemap` indexes and [[AtomicParquet]]
  * destinations.
  *
  * Read cost: `spark.read.parquet(dir)` infers the schema with a
  * one-task Spark job per call. For a directory Spark wrote, that job
  * returns the schema Spark stored in the data files' footer, so
  * [[readParquet]] takes it from there instead:
  * one listing plus one footer read on the driver, and no Spark job.
  */
private[core] object OwnDirs {

  /** Footer key under which Spark's parquet writer stores the row schema
    * (JSON); Spark's own inference returns it verbatim when present. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The FileSystem of `dir` under the session's Hadoop conf, which
    * includes session-level `spark.hadoop.*` settings
    * (`sparkContext.hadoopConfiguration` does not). Every core module
    * resolves paths through this one function, so one table never sees
    * two FS configurations. */
  def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** `spark.read.parquet(dir)` without the schema-inference job. Falls
    * back to the plain read when the schema cannot be taken from a
    * footer (no flat data file, a partitioned layout, or files from a
    * writer other than Spark), so such directories read and fail
    * exactly as before. */
  def readParquet(spark: SparkSession, dir: String): DataFrame =
    footerSchema(spark, dir)
      .fold(spark.read.parquet(dir))(s => spark.read.schema(s).parquet(dir))

  /** The Spark schema stored in the footer of one data file of `dir`,
    * when `dir` holds data files directly and no partition directories.
    * Names Spark's file listing hides (`_x`, `.x`) are skipped. */
  def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new HPath(dir)
    val listed =
      try path.getFileSystem(conf).listStatus(path).toSeq
      catch { case _: FileNotFoundException => Nil }
    val visible = listed.filterNot { s =>
      val n = s.getPath.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    }
    if (visible.exists(_.isDirectory)) None
    else visible.find(_.isFile).flatMap { st =>
      // an unreadable footer is left to the plain read to report
      val json = Try {
        val opts = HadoopReadOptions.builder(conf)
          .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
        val reader =
          ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), opts)
        try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get(SparkSchemaKey)
        finally reader.close()
      }.toOption.flatMap(Option(_))
      json.flatMap(j => Try(DataType.fromJson(j)).toOption.collect {
        case s: StructType => s
      })
    }
  }
}
