package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnChunkMetaData, FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.expressions.{Expression, FieldReference}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Max, Min}
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionSpec, PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter, ParquetUtils}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types._
import org.apache.spark.util.{HadoopFSUtils, ThreadUtils}

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
      Some(schemaOf(spark, f.getPath, meta))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The Spark schema of one footer: the Spark row schema stored in it
    * wins, as in `readSchemaFromFooter`. */
  private def schemaOf(spark: SparkSession, path: Path, meta: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, meta),
      new ParquetToSparkSchemaConverter(sqlConf(spark)))

  private def sqlConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  // ---- FOOTER STATISTICS ----

  /** One parquet file's statistics as its footer states them. `path`
    * is the file's qualified path as a file listing returns it (the
    * path a scan reports through `input_file_name()`), `schema` its
    * Spark schema (None: the footer did not read), `rows` its row
    * count, and `minMax` Spark's `min`/`max` of each requested column
    * in external (Row) form — None where the footer cannot prove them
    * for some column, so the caller scans this file instead. */
  final case class FooterStats(path: Path, schema: Option[StructType], rows: Long,
      minMax: Option[Map[String, (Any, Any)]])

  /** Footer statistics of `files` for the top-level columns `cols`,
    * read on the driver, in parallel over at most eight threads. A
    * column's pair comes from Spark's own footer aggregate
    * (`ParquetUtils.createAggInternalRowFromFooter`, the code behind
    * parquet aggregate pushdown) where the footer provably holds
    * Spark's `min`/`max`: every row group carries min/max statistics
    * and the column is integral (signed INT32/INT64) or a date without
    * a legacy calendar rebase — the key and stats types the stores
    * commit. A column null in every row (row-group null counts equal
    * to the row counts) gets (null, null). Anything else — strings
    * (truncated bounds), decimals, timestamps, booleans, floating
    * point, complex types, a missing statistic — is not proven here,
    * and the file is left to a scan. */
  def footerStats(spark: SparkSession, files: Seq[Path], cols: Seq[String]): Seq[FooterStats] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sql = sqlConf(spark)
    def one(p: Path): FooterStats =
      try {
        val st = p.getFileSystem(conf).getFileStatus(p)
        val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf),
          ParquetMetadataConverter.NO_FILTER)
        val sc = schemaOf(spark, st.getPath, meta)
        FooterStats(st.getPath, Some(sc), meta.getBlocks.asScala.map(_.getRowCount).sum,
          footerMinMax(meta, st.getPath.toString, sc, cols, sql))
      } catch { case scala.util.control.NonFatal(_) => FooterStats(p, None, 0L, None) }
    if (files.size <= 1) files.map(one)
    else ThreadUtils.parmap(files, "graft-footer-stats", math.min(8, files.size))(one)
  }

  private def footerMinMax(meta: ParquetMetadata, path: String, sc: StructType,
      cols: Seq[String], sql: SQLConf): Option[Map[String, (Any, Any)]] = {
    val fm = meta.getFileMetaData
    val blocks = meta.getBlocks.asScala.toSeq
    val kv = fm.getKeyValueMetaData
    val rebase = DataSourceUtils.datetimeRebaseSpec(k => kv.get(k),
      sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString)
    def chunk(b: BlockMetaData, c: String): Option[ColumnChunkMetaData] =
      b.getColumns.asScala.find(m => m.getPath.size == 1 && m.getPath.toArray.head == c)
    def allNull(c: String): Boolean = blocks.forall(b => chunk(b, c).exists { m =>
      val s = m.getStatistics
      s != null && !s.hasNonNullValue && s.isNumNullsSet && s.getNumNulls == b.getRowCount
    })
    def withValues(c: String): Boolean = blocks.forall(b =>
      chunk(b, c).exists(m => m.getStatistics != null && m.getStatistics.hasNonNullValue))
    def exactOrder(c: String): Boolean = sc.find(_.name == c).exists { f =>
      val msg = fm.getSchema
      msg.containsField(c) && msg.getType(msg.getFieldIndex(c)).isPrimitive && {
        val pt = msg.getType(msg.getFieldIndex(c)).asPrimitiveType
        val ann = pt.getLogicalTypeAnnotation
        f.dataType match {
          case ByteType | ShortType | IntegerType =>
            pt.getPrimitiveTypeName == PrimitiveTypeName.INT32 && signed(ann)
          case LongType => pt.getPrimitiveTypeName == PrimitiveTypeName.INT64 && signed(ann)
          case DateType => pt.getPrimitiveTypeName == PrimitiveTypeName.INT32 &&
            ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] &&
            rebase.mode == LegacyBehaviorPolicy.CORRECTED
          case _ => false
        }
      }
    }
    val (nulls, rest) = cols.distinct.partition(allNull)
    if (!rest.forall(c => withValues(c) && exactOrder(c))) None
    else if (rest.isEmpty) Some(nulls.map(_ -> ((null, null))).toMap)
    else {
      val agg = new Aggregation(rest.flatMap(c => Seq[AggregateFunc](
        new Min(FieldReference.column(c)), new Max(FieldReference.column(c)))).toArray,
        Array.empty[Expression])
      val fields = rest.map(c => sc(c))
      val aggSchema = StructType(fields.flatMap(f => Seq(
        StructField(s"min(${f.name})", f.dataType), StructField(s"max(${f.name})", f.dataType))))
      val projected = new ParquetMetadata(
        new FileMetaData(new MessageType(fm.getSchema.getName,
          rest.map(c => fm.getSchema.getType(fm.getSchema.getFieldIndex(c))).asJava),
          kv, fm.getCreatedBy),
        blocks.map { b =>
          val nb = new BlockMetaData()
          nb.setRowCount(b.getRowCount)
          rest.foreach(c => nb.addColumn(chunk(b, c).get))
          nb
        }.asJava)
      val row = CatalystTypeConverters.createToScalaConverter(aggSchema)(
        ParquetUtils.createAggInternalRowFromFooter(projected, path, StructType(fields),
          new StructType(), agg, aggSchema, InternalRow.empty, rebase)).asInstanceOf[Row]
      Some((rest.zipWithIndex.map { case (c, i) => c -> ((row.get(2 * i), row.get(2 * i + 1))) } ++
        nulls.map(_ -> ((null, null)))).toMap)
    }
  }

  private def signed(ann: LogicalTypeAnnotation): Boolean = ann match {
    case null => true
    case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
    case _ => false
  }

  // ---- DRIVER-SIDE SIDECAR WRITES ----

  /** `spark.createDataFrame(rows, schema).coalesce(1).write.parquet(dir)`
    * without the job: `rows` go through Spark's own parquet writer
    * factory (`ParquetUtils.prepareWrite`, the session's codec and
    * writer settings, Spark's row-metadata footer) into ONE uniquely
    * named `part-` file, then the `_SUCCESS` marker — the layout a
    * single-task write leaves, zero rows included (a footer-only file).
    * For metadata-sized sidecars written into a private staging
    * directory. */
  def writeRows(spark: SparkSession, dir: Path, schema: StructType, rows: Seq[Row]): Unit = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sql = session.sessionState.conf
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    val factory = ParquetUtils.prepareWrite(sql, job, schema,
      new ParquetOptions(Map.empty[String, String], sql))
    val conf = job.getConfiguration
    val jobId = new JobID(
      new java.text.SimpleDateFormat("yyyyMMddHHmmss", java.util.Locale.US)
        .format(new java.util.Date), 0)
    val attempt = new TaskAttemptID(new TaskID(jobId, TaskType.MAP, 0), 0)
    conf.set("mapreduce.job.id", jobId.toString)
    conf.set("mapreduce.task.id", attempt.getTaskID.toString)
    conf.set("mapreduce.task.attempt.id", attempt.toString)
    conf.setBoolean("mapreduce.task.ismap", true)
    conf.setInt("mapreduce.task.partition", 0)
    val ctx = new TaskAttemptContextImpl(conf, attempt)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val file = new Path(dir,
      s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}")
    val writer = factory.newInstance(file.toString, schema, ctx)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally writer.close()
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }

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
