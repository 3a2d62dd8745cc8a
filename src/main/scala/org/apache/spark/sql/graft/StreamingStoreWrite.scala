package org.apache.spark.sql.graft

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** `df.writeStream.toTable("cat.store")` — the WRITE half of the
  * catalog's streaming surface (the READ half is [[ChangeFeed]]).
  *
  * Design: a micro-batch sink over stores whose publish protocol is
  * already atomic. Executors stage each epoch's rows as parquet under
  * the store's own `.tmp-` crash-leftover namespace (one file per
  * partition, committed through Spark's per-epoch writer coordination
  * so a retried task never double-lands); the driver's `commit(epoch)`
  * then reads the staged files back as a distributed frame and lands
  * it through the store's OWN `mergeDelta` — one published version per
  * non-empty epoch, the same code path every batch verb takes.
  *
  * Semantics: the store's key is a unique identity, so a streaming
  * append IS a keyed UPSERT per micro-batch — which makes the sink
  * IDEMPOTENT: a replayed epoch (restart after a crash between publish
  * and the epoch marker) upserts the same rows onto the same state.
  * That is exactly-once STATE under at-least-once delivery — the
  * classic idempotent-sink contract — and it is also why Update-mode
  * streaming aggregations are sound here (`SupportsStreamingUpdateAsAppend`:
  * each updated aggregate row lands as an upsert on its group key).
  * Intra-batch duplicate keys refuse loudly (which row wins would be
  * nondeterministic), mirroring the INSERT path.
  *
  * Exactly-once accounting: `_stream_epochs/q=<queryId>` records the
  * last committed epoch (tmp+rename); a replayed `commit` with
  * `epochId <=` the marker discards its staging and returns. A crash
  * in the window between version publish and marker write replays as
  * one extra version with IDENTICAL content (upsert idempotence) —
  * state is exactly-once, history is at-least-once, and the window is
  * documented rather than hidden. Abandoned staging (a killed query)
  * lives under `.tmp-stream-*`, which the stores' vacuum TTL pass
  * already reclaims. */
private[graft] class StoreStreamingWrite(spark: SparkSession,
    store: graft.operators.VersionedStore, schema: StructType, queryId: String,
    maxFilesPerCommit: Option[Int] = None,
    maxVersionsToKeep: Option[Int] = None)
    extends StreamingWrite {

  private val base = store.basePath
  private val key = store.keyCol
  private val stagingRoot = s"$base/.tmp-stream-$queryId"

  private def hadoopConf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path(base).getFileSystem(hadoopConf)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // the executor-side parquet writer needs the write-path SQLConf
    // knobs resolved HERE (driver), where the session exists
    val conf = new Configuration(hadoopConf)
    ParquetWriteSupport.setSchema(schema, conf)
    val sql = spark.sessionState.conf
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sql.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sql.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sql.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sql.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    new EpochParquetWriterFactory(stagingRoot, new SerializableConfiguration(conf))
  }

  private def markerDir = new Path(s"$base/_stream_epochs")
  private def markerPath = new Path(markerDir, s"q=$queryId")

  private def lastCommitted(): Long =
    if (!fs.exists(markerPath)) Long.MinValue
    else {
      val in = fs.open(markerPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }

  private def recordEpoch(epochId: Long): Unit = {
    fs.mkdirs(markerDir)
    val tmp = new Path(markerDir, s".tmp-q=$queryId-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(epochId.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(markerPath)) fs.delete(markerPath, false)
    if (!fs.rename(tmp, markerPath))
      throw new java.io.IOException(s"epoch marker publish failed: $markerPath")
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val epochDir = new Path(s"$stagingRoot/epoch=$epochId")
    if (epochId <= lastCommitted()) { // replayed epoch: already landed
      if (fs.exists(epochDir)) fs.delete(epochDir, true): Unit
      return
    }
    val files = messages.collect { case m: StagedFilesMessage => m.paths }.flatten
    if (files.nonEmpty) {
      import org.apache.spark.sql.functions.{col, count, lit}
      val staged = spark.read.schema(schema).parquet(files.toIndexedSeq: _*)
      val dup = staged.groupBy(col(key)).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).limit(1).count() > 0
      if (dup) throw new UnsupportedOperationException(
        s"streaming write to $base: epoch $epochId carries duplicate '$key' " +
          "values — the store's key is a unique identity, so which row wins " +
          "would be nondeterministic; aggregate or dedupe upstream")
      // commit through the stores' optimistic-concurrency front door:
      // a concurrent batch INSERT or second stream racing the tip
      // rebases (disjoint keys) or fails loudly with a conflict error
      // — never an undefined rename-onto-existing outcome
      store.mergeAtTip(staged): Unit
      // AUTO-MAINTENANCE per micro-batch (opt-in writeStream
      // options): fold fragment growth and bound the version chain
      // — a sink committing one version per batch otherwise grows
      // both without bound until a manual CALL compact/retention
      maxFilesPerCommit.foreach(store.maybeCompact(_): Unit)
      maxVersionsToKeep.foreach(store.maybeRetain(_): Unit)
    }
    recordEpoch(epochId)
    if (fs.exists(epochDir)) fs.delete(epochDir, true): Unit
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val epochDir = new Path(s"$stagingRoot/epoch=$epochId")
    if (fs.exists(epochDir)) fs.delete(epochDir, true): Unit
  }
}

/** One staged parquet file per (epoch, partition) under the store's
  * `.tmp-stream-*` namespace; the commit message carries the path. */
private[graft] case class StagedFilesMessage(paths: Seq[String])
    extends WriterCommitMessage

private[graft] class EpochParquetWriterFactory(stagingRoot: String,
    conf: SerializableConfiguration) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new EpochParquetWriter(
      s"$stagingRoot/epoch=$epochId/part-$partitionId-$taskId-${UUID.randomUUID()}.parquet",
      conf.value)
}

/** Executor-side parquet writer: Spark's own [[ParquetWriteSupport]]
  * (the exact row→parquet encoding every batch write uses) behind the
  * parquet-hadoop builder — no SparkSession needed on the executor.
  * Rows are consumed synchronously, so buffer reuse upstream is safe. */
private[graft] class EpochParquetWriter(path: String, conf: Configuration)
    extends DataWriter[InternalRow] {

  private class B(out: org.apache.parquet.io.OutputFile)
      extends ParquetWriter.Builder[InternalRow, B](out) {
    override def self(): B = this
    override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  private val hPath = new Path(path)
  private val writer: ParquetWriter[InternalRow] = {
    val fs = hPath.getFileSystem(conf)
    fs.mkdirs(hPath.getParent)
    new B(HadoopOutputFile.fromPath(hPath, conf))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }
  private var rows = 0L

  override def write(record: InternalRow): Unit = { writer.write(record); rows += 1 }

  override def commit(): WriterCommitMessage = {
    writer.close()
    if (rows == 0L) { // empty partition: no file to land
      hPath.getFileSystem(conf).delete(hPath, false)
      StagedFilesMessage(Seq.empty)
    } else StagedFilesMessage(Seq(path))
  }

  override def abort(): Unit = {
    try writer.close() catch { case scala.util.control.NonFatal(_) => }
    hPath.getFileSystem(conf).delete(hPath, false): Unit
  }

  override def close(): Unit = ()
}
