package graft.core

import java.io.FileNotFoundException

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, GraftShim, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.lit
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
  * [[scan]] reads many such directories as one scan on their
  * [[listings]]. Every staged write goes through [[write]].
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

  /** The writer of every staged parquet write in this package
    * ([[Snapshots]] versions, [[Deletes]] key sets, `_bloom`/`_zonemap`
    * indexes, [[AtomicParquet]] staging). A staged dir becomes visible
    * only by this package's own rename, which is what makes the write
    * atomic, so the output committer's job-level guarantees buy nothing:
    * no `_SUCCESS` marker is written (nothing here reads one), and
    * algorithm 2 moves each task's files into place at task commit
    * instead of in a second pass at job commit. Per-write options, so
    * the session's other writes keep Spark's defaults. */
  def write(df: DataFrame): DataFrameWriter[Row] =
    df.write
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")

  /** `spark.read.parquet(dir)` without the schema-inference job, as one
    * [[scan]] on `dir`'s [[listings]]. Falls back to the plain read when
    * `dir` has no listing (missing, empty or a partitioned layout), so
    * such directories read and fail exactly as before. */
  def readParquet(spark: SparkSession, dir: String): DataFrame =
    listings(spark, Seq(dir)).headOption.fold(spark.read.parquet(dir))(l =>
      scan(spark, Seq(l), allowMissingColumns = false))

  /** The Spark schema stored in the footer of one data file of `dir`. */
  def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new HPath(dir)
    Try(path.getFileSystem(conf).listStatus(path).toSeq).toOption
      .flatMap(_.find(isDataFile)).flatMap(fileSchema(conf, _))
  }

  /** A directory listed once: its data files, their schema, and the
    * names of the entries a Spark read skips (tags, `_deletes`, indexes,
    * checksums). */
  final case class Listing(dir: String, files: Seq[FileStatus],
      schema: StructType, hiddenNames: Seq[String])

  /** The [[Listing]] of each of `dirs` that has one: the schema is the
    * one stored in the first file's footer, inferred by Spark (one job)
    * when it has none. One Hadoop conf serves every dir. */
  def listings(spark: SparkSession, dirs: Seq[String]): Seq[Listing] = {
    val conf = spark.sessionState.newHadoopConf()
    dirs.flatMap { dir =>
      val path = new HPath(dir)
      val (skipped, visible) =
        try path.getFileSystem(conf).listStatus(path).toSeq
          .partition(s => hidden(s.getPath.getName))
        catch { case _: FileNotFoundException => (Nil, Nil) }
      // none: missing, no data file, or a partitioned layout (Spark
      // would read its subdirectories too)
      Option.when(visible.nonEmpty && !visible.exists(_.isDirectory))(
        Listing(dir, visible,
          fileSchema(conf, visible.head).getOrElse(spark.read.parquet(dir).schema),
          skipped.map(_.getPath.getName)))
    }
  }

  /** Names Spark's file listing skips. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** The Spark schema stored in `file`'s footer; None when it has none
    * or is unreadable (left to a plain read to report). */
  private def fileSchema(conf: Configuration,
      file: FileStatus): Option[StructType] = {
    val json = Try {
      val opts = HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
      val reader =
        ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), opts)
      try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(SparkSchemaKey)
      finally reader.close()
    }.toOption.flatMap(Option(_))
    json.flatMap(j => Try(DataType.fromJson(j)).toOption.collect {
      case s: StructType => s
    })
  }

  /** One parquet scan over the files of `listings`, with the schema
    * `unionByName` of the separate reads would resolve (from empty
    * frames, so no row is read): differing column sets fail with
    * Spark's `AnalysisException` unless `allowMissingColumns`, which
    * null-fills. Built on the listings, so Spark lists nothing again —
    * `spark.read.parquet` lists more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths in a
    * Spark job and warns about hidden root names such as `_deletes`.
    * Each file is its own root: no partition column is discovered. */
  def scan(spark: SparkSession, listings: Seq[Listing],
      allowMissingColumns: Boolean): DataFrame = {
    val schema = GraftShim.asNullable(listings.map(_.schema).distinct
      .map(s => spark.createDataFrame(java.util.List.of[Row](), s))
      .reduce(_.unionByName(_, allowMissingColumns)).schema)
    val files = listings.flatMap(_.files)
    val listed = files.map(f => f.getPath -> Array(f)).toMap
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), Map.empty,
      Some(schema), new FileStatusCache {
        override def getLeafFiles(p: HPath): Option[Array[FileStatus]] =
          listed.get(p)
        def putLeafFiles(p: HPath, leafFiles: Array[FileStatus]): Unit = ()
        def invalidateAll(): Unit = ()
      })
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      schema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** Fail-loud staleness gate of a per-file index (`kind`:
    * [[BloomIndex]] or [[ZoneMap]]): the index's file set must be
    * EXACTLY the data files now under `tableDir`. A superset means files
    * were deleted (lookups would read missing paths); a subset means
    * files were added (lookups would silently MISS rows). */
  def requireCurrent(spark: SparkSession, kind: String, index: DataFrame,
      tableDir: String): Unit = {
    val indexed = index.select("file").collect()
      .map(r => new java.net.URI(r.getString(0)).getPath).toSet
    val current = dataFiles(fileSystem(spark, tableDir), tableDir)
      .map(_.getPath.toUri.getPath).toSet
    require(indexed == current,
      s"$kind is stale for $tableDir: " +
        s"${(current -- indexed).size} unindexed file(s), " +
        s"${(indexed -- current).size} vanished file(s) — rebuild after " +
        "compaction/recluster/append")
  }

  /** The rows of the candidate `files` a per-file index kept that match
    * `keep`. When every file was pruned: an empty frame that still
    * carries the table schema, read from one indexed file (the false
    * filter prunes all its row groups, so only the footer is read). */
  def readCandidates(spark: SparkSession, index: DataFrame,
      files: Seq[String], keep: Column): DataFrame =
    if (files.nonEmpty) spark.read.parquet(files: _*).filter(keep)
    else {
      val any = index.select("file").limit(1).collect()
      require(any.nonEmpty, "empty index: no file to derive a schema from")
      spark.read.parquet(any.head.getString(0)).filter(lit(false))
    }

  /** The data files directly under `dir`: the files a Spark read of
    * `dir` reads, so no `_tag-*`, `_SUCCESS` or `.crc` file. */
  def dataFiles(fs: FileSystem, dir: String): Seq[FileStatus] =
    fs.listStatus(new HPath(dir)).toSeq.filter(isDataFile)

  def isDataFile(s: FileStatus): Boolean =
    s.isFile && !hidden(s.getPath.getName)

  /** How many output files a rewrite of `bytes` writes at `targetBytes`
    * per file: the ceiling, and at least one. */
  def outputFiles(bytes: Long, targetBytes: Long): Int =
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
}
