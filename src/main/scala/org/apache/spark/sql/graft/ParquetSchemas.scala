package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionSpec, PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Declared-schema parquet reads: the schema `spark.read.parquet(paths)`
  * would infer, computed in-process from ONE footer instead of by
  * Spark's one-task inference job (`mergeSchemasInParallel`). At
  * metadata sizes that job is most of a read's cost, and the store and
  * lake readers issue dozens of them per commit.
  *
  * Same pick as Spark's non-merging inference: the first non-hidden
  * leaf data file by sorted path, its footer converted with
  * `ParquetToSparkSchemaConverter(sessionConf)` (the Spark row schema
  * stored in the footer wins, as in `readSchemaFromFooter`), the result
  * nullable as every file-source relation schema is; hive partition
  * directories add their inferred partition columns. Spark's own
  * inference stays the fallback where this cannot answer exactly: a
  * merged schema is requested (`spark.sql.parquet.mergeSchema`), no
  * data file is visible (Spark then raises its own error), summary
  * files are present, or a path is missing or unreadable. */
object ParquetSchemas {

  /** `spark.read.parquet(paths: _*)` carrying its declared schema. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    of(spark, paths) match {
      case Some(sc) => spark.read.schema(sc).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** [[read]] over data FILES (a store's pool or part files): Spark's
    * pick is then the least path, so only that file is looked up. */
  def readFiles(spark: SparkSession, files: Seq[String]): DataFrame =
    (if (files.isEmpty) None else ofFile(spark, files.min)) match {
      case Some(sc) => spark.read.schema(sc).parquet(files: _*)
      case None => spark.read.parquet(files: _*)
    }

  private def ofFile(spark: SparkSession, file: String): Option[StructType] = {
    val path = new Path(file)
    val st =
      try Some(path.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(path))
      catch { case scala.util.control.NonFatal(_) => None }
    st.flatMap(s => if (s.isFile) ofFiles(spark, Seq(s)) else of(spark, Seq(file)))
  }

  /** The schema `spark.read.parquet(paths: _*)` resolves to. */
  def schema(spark: SparkSession, paths: String*): StructType =
    of(spark, paths).getOrElse(spark.read.parquet(paths: _*).schema)

  /** The schema Spark's inference would give `paths`, or None where
    * Spark must infer it (see the object notes). Costs one listing per
    * path plus one footer read. */
  def of(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    if (paths.isEmpty || mergeRequested(spark)) None
    else {
      val hconf = spark.sparkContext.hadoopConfiguration
      val listed =
        try Some(paths.flatMap { p =>
          val path = new Path(p)
          path.getFileSystem(hconf).listStatus(path).toSeq
        })
        catch { case scala.util.control.NonFatal(_) => None }
      listed.flatMap { ls =>
        val hasSubdirs = ls.exists(s =>
          s.isDirectory && !HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
        if (hasSubdirs) partitioned(spark, paths) else ofFiles(spark, ls)
      }
    }

  /** The schema of a directory's (or file set's) own listing — the
    * caller's listing, so no second one is paid. Hidden entries are
    * skipped as Spark skips them. */
  def ofFiles(spark: SparkSession, listing: Seq[FileStatus]): Option[StructType] = {
    val files = listing.filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
    if (mergeRequested(spark) || files.exists(f => isSummary(f.getPath))) None
    else files.filter(_.isFile).sortBy(_.getPath.toString).headOption
      .flatMap(f => footerSchema(spark, f))
      .map(_.asNullable)
  }

  /** `spark.read.parquet(dir)` over the caller's own `listing` of
    * `dir`: Spark's file index is seeded with the listing (no second
    * listing, no path resolution), so a `_`-prefixed directory, which
    * Spark's path check reports as an ignored hidden path, reads like
    * any other. `schema` None: the listing's footer pick ([[ofFiles]]);
    * where that cannot answer, Spark's own read. */
  def readListed(spark: SparkSession, dir: Path, listing: Seq[FileStatus],
      schema: Option[StructType]): DataFrame =
    schema.orElse(ofFiles(spark, listing)) match {
      case None => spark.read.parquet(dir.toString)
      case Some(sc) =>
        val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val files = listing.filter(s =>
          s.isFile && !HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName)).toArray
        val listed = new FileStatusCache {
          override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
            if (path == dir) Some(files) else None
          override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
          override def invalidateAll(): Unit = ()
        }
        val index = new InMemoryFileIndex(session, Seq(dir), Map.empty, Some(sc), listed,
          Some(PartitionSpec.emptySpec))
        session.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
          sc.asNullable, None, new ParquetFileFormat, Map.empty)(session))
    }

  /** A schema as a parquet read of a frame written with it reports it
    * (file-source relations are nullable). */
  def asRead(sc: StructType): StructType = sc.asNullable

  private def mergeRequested(spark: SparkSession): Boolean =
    spark.conf.get(SQLConf.PARQUET_SCHEMA_MERGING_ENABLED.key, "false").toBoolean

  private def isSummary(p: Path): Boolean =
    p.getName == ParquetFileWriter.PARQUET_METADATA_FILE ||
      p.getName == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE

  private def footerSchema(spark: SparkSession, f: FileStatus): Option[StructType] =
    try {
      val conf: Configuration = spark.sparkContext.hadoopConfiguration
      val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val sqlConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
      Some(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
        new ParquetToSparkSchemaConverter(sqlConf)))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Hive-partitioned directories: Spark's own file index supplies the
    * leaf files and the inferred partition columns (no job below its
    * parallel-listing threshold); data and partition schemas merge as
    * the relation merges them. */
  private def partitioned(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val index = new InMemoryFileIndex(session, paths.map(new Path(_)), Map.empty, None)
    ofFiles(spark, index.allFiles()).map { data =>
      PartitioningUtils.mergeDataAndPartitionSchema(data, index.partitionSchema,
        session.sessionState.conf.caseSensitiveAnalysis)._1
    }
  }
}
