package org.apache.spark.sql.graft

import java.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, V1Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.sources.{BaseRelation, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, PrunedFilteredScan, TableScan}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.VersionedStore

/** The catalog-level CHANGE FEED — Delta/Iceberg's CDC-as-a-table UX
  * over the stores' own row-level `diff`:
  *
  *   - BATCH: `SELECT * FROM <cat>.<store>.changes` (full history) or
  *     `... VERSION AS OF 'a..b'` (commits a through b, inclusive —
  *     the `table_changes(tbl, a, b)` shape).
  *   - STREAMING: `spark.readStream.table("<cat>.<store>.changes")`
  *     replays every commit as it lands (offsets ARE store versions);
  *     `spark.readStream.table("<cat>.<store>")` streams the new row
  *     STATE of each commit (inserts + updates, Delta's plain-table
  *     semantics) and fails loudly on a commit containing deletes
  *     unless `.option("ignoreDeletes", true)` — silently dropping a
  *     delete would desync every downstream mirror.
  *
  * Change-row contract (identical on BOTH layouts): the table's data
  * columns carry the NEW row state for `insert`/`update`; a `delete`
  * row carries the key only (non-key columns null — the pre-image is
  * one time-travel read away, and materializing it would force the
  * snapshot layout to fingerprint-join full old versions twice). The
  * CDF-shaped sibling `.changes_cdf` is the full Delta contract:
  * updates arrive as `update_preimage`/`update_postimage` pairs and
  * delete rows DO carry the deleted row's values.
  * `_commit_version` attributes every row to the commit that produced
  * it, so a multi-commit batch is the exact union of its per-commit
  * steps — granularity never changes content (a coarse `diff(1,3)`
  * WOULD: update-then-delete collapses to delete).
  *
  * The earliest retained commit has no predecessor to diff against and
  * replays as full-state `insert` rows — Delta's initial-snapshot
  * semantics, which also makes a fresh stream a complete replica
  * bootstrap.
  *
  * Scale posture: each step rides the store's own diff — manifest-
  * pruned to the files EXCLUSIVE to either side on the linked layout,
  * so a merge-chained 100 TB store replays O(|changed files|) per
  * commit. A micro-batch MATERIALIZES its change set once (a
  * distributed parquet write under the stream's checkpoint dir, reused
  * verbatim on restart replay) and serves partitions through Spark's
  * native parquet reader factory — change rows never pass through the
  * driver, which a row-producing PartitionReader built on a driver-side
  * collect would force. Spills are reclaimed on offset commit. */
private[graft] object ChangeFeed {

  /** Stable per-stream/per-table change schema: the tip's data columns
    * (nullable — delete rows null them) + change_type + _commit_version. */
  def changesSchema(dataSchema: StructType): StructType =
    StructType(dataSchema.fields.map(_.copy(nullable = true)) ++ Seq(
      StructField("change_type", StringType, nullable = true),
      StructField("_commit_version", LongType, nullable = true)))

  /** (version, commit-ts millis) per retained version, ascending —
    * resolved from the store's own history (metadata-only). */
  def commitTimesOf(store: VersionedStore): Seq[(Long, Long)] =
    store.history().select("version", "commit_ts").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)

  /** Parse a user timestamp: epoch MILLIS (digits) or an ISO date /
    * datetime read in UTC (the session timezone both the specs and the
    * driver pin). */
  def parseTsMillis(s: String): Long = {
    val t = s.trim
    if (t.matches("-?\\d+")) t.toLong
    else {
      val ld =
        if (t.length == 10) java.time.LocalDate.parse(t).atStartOfDay()
        else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      ld.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
  }

  /** Resolve the stream start from `startingVersion` /
    * `startingTimestamp` (mutually exclusive). */
  def resolveStart(store: VersionedStore,
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): Option[Long] = {
    val sv = Option(options.get("startingVersion")).map(_.toLong)
    val st = Option(options.get("startingTimestamp"))
    require(sv.isEmpty || st.isEmpty,
      "set either startingVersion or startingTimestamp, not both")
    sv.orElse(st.map(t =>
      firstVersionAtOrAfter(store, parseTsMillis(t))))
  }

  /** First retained version committed AT-OR-AFTER `ms` — the
    * `startingTimestamp` / since-ts resolution (at-or-after, so "since
    * Tuesday" never replays Monday's commit). A timestamp past the tip
    * resolves to tip+1: the stream serves only FUTURE commits. */
  def firstVersionAtOrAfter(store: VersionedStore, ms: Long): Long = {
    val times = commitTimesOf(store)
    times.find(_._2 >= ms).map(_._1).getOrElse(times.last._1 + 1)
  }

  def tipDataSchema(store: VersionedStore): StructType =
    store.read(store.versions().max).schema

  /** Union of per-commit change frames for commits in [fromCommit,
    * toCommit], aligned to `target` ([[changesSchema]] of the serving
    * table — columns a commit predates read null). */
  /** `keyRange` — key-predicate pushdown: each commit's change set
    * computes through the stores' diffKeyRange / diffCdfKeyRange,
    * which prune to envelope-overlapping exclusive files BEFORE any
    * open and are spec-proven ≡ `diff.filter(key in range)`. The
    * serving relation re-applies the exact predicate above (V1
    * contract), so a conservative range here can never change
    * results. */
  def changesBetween(spark: SparkSession, store: VersionedStore,
      fromCommit: Long, toCommit: Long,
      target: StructType, allowInitialSnapshot: Boolean = true,
      preImages: Boolean = false,
      keyRange: Option[(Any, Any)] = None): DataFrame = {
    val keyCol = store.keyCol
    val all = store.versions()
    val inRange = all.filter(v => v >= fromCommit && v <= toCommit).sorted
    val kr = keyRange
    val steps = inRange.map { b =>
      all.filter(_ < b).lastOption match {
        case Some(a) =>
          val step = (preImages, kr) match {
            case (true, Some((lo, hi))) => store.diffCdfKeyRange(a, b, lo, hi)
            case (true, None) => store.diffCdf(a, b)
            case (false, Some((lo, hi))) => store.diffKeyRange(a, b, lo, hi)
            case (false, None) => store.diff(a, b)
          }
          align(step, keyCol, target, b, nullDeletes = !preImages)
        case None =>
          // no retained predecessor. For the stream bootstrap (and the
          // store's genuine first commit, which never HAD one) the full
          // state as `insert` rows IS the exact change set — Delta's
          // initial-snapshot semantics. For an explicit bounded range
          // whose predecessor was PRUNED by retention, that replay
          // would silently reclassify older commits' rows as inserts
          // at commit b, so the read fails instead (Delta's
          // table_changes contract).
          if (!allowInitialSnapshot && b != 1L) throw new IllegalStateException(
            s"change feed on ${store.basePath}: commit $b's predecessor has been pruned by " +
              "retention, so a bounded VERSION AS OF range can no longer " +
              "reconstruct its exact change set (rows from older commits would " +
              s"be mis-attributed as inserts at $b). Stream with startingVersion " +
              "for initial-snapshot bootstrap semantics, or widen retention.")
          val state = kr match {
            case Some((lo, hi)) => store.readKeyRange(b, lo, hi)
            case None => store.read(b)
          }
          align(state.withColumn("change_type", lit("insert")),
            keyCol, target, b)
      }
    }
    steps.reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), target))
  }

  /** Align one step's diff frame to the serving schema: data columns
    * in target order (absent → null), non-key columns nulled on
    * delete rows (the cross-layout contract — the linked diff carries
    * old values there, the snapshot diff carries nulls), commit
    * version stamped. */
  private def align(diff: DataFrame, keyCol: String, target: StructType,
      commitVersion: Long, nullDeletes: Boolean = true): DataFrame = {
    val have = diff.columns.toSet
    // CDF mode carries the deleted row's values (Delta's delete rows
    // hold the pre-image — both layouts' diffCdf supply them); the
    // plain feed keeps the key-only cross-layout contract
    val isDel = col("change_type") === "delete" && lit(nullDeletes)
    val cols: Seq[Column] = target.fields.toIndexedSeq.map { f =>
      f.name match {
        case "_commit_version" => lit(commitVersion).cast(LongType).as(f.name)
        case "change_type" => col("change_type")
        case n if n == keyCol => col(n)
        case n =>
          val c = if (have(n)) col(n) else lit(null).cast(f.dataType)
          when(isDel, lit(null).cast(f.dataType)).otherwise(c).as(n)
      }
    }
    diff.select(cols: _*)
  }
}

/** Store-version offsets: offset N = "every commit ≤ N consumed". */
private[graft] case class VersionOffset(v: Long) extends Offset {
  override def json: String = v.toString
}

/** Micro-batch stream over a store's commit chain. `rowsOnly` = the
  * plain-table mode: emit insert/update NEW STATE in the table schema
  * (refusing deletes unless `ignoreDeletes`); otherwise the full
  * change-feed schema. See [[ChangeFeed]] for the materialize-and-
  * serve design. */
private[graft] class ChangesMicroBatchStream(spark: SparkSession, store: VersionedStore,
    schema: StructType, rowsOnly: Boolean,
    ignoreDeletes: Boolean, startingVersion: Option[Long],
    checkpointLocation: String, maxVersionsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None, preImages: Boolean = false)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  require(maxVersionsPerTrigger.forall(_ >= 1),
    s"maxVersionsPerTrigger must be >= 1, got ${maxVersionsPerTrigger.get}")
  require(maxBytesPerTrigger.forall(_ >= 1),
    s"maxBytesPerTrigger must be >= 1, got ${maxBytesPerTrigger.get}")

  // Rate limiting (Delta's maxFilesPerTrigger analogue at this store's
  // natural granularity): cap each micro-batch at N COMMITS, so
  // replaying a long history arrives as N-version batches instead of
  // one giant catch-up batch. Admission control gives latestOffset the
  // start offset the plain signature lacks.
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  // Trigger.AvailableNow (SupportsTriggerAvailableNow): pin the tip
  // ONCE at stream start; every batch then admits commits ≤ the pin
  // through the normal version/byte pacing, and the run terminates at
  // the pinned tip — commits landing mid-drain wait for the next run.
  // The replica catch-up verb: drain everything that exists, stop.
  // maxOption: an AvailableNow run started before the store's FIRST
  // commit pins nothing and drains nothing — an empty store is "all
  // available data = none", not a crash. The `pinned` flag keeps the
  // empty pin distinct from plain streaming (no prepare call), where
  // None means "no cap": a commit landing mid-drain must still wait
  // for the next AvailableNow run.
  @volatile private var pinnedTip: Option[Long] = None
  @volatile private var pinned: Boolean = false
  override def prepareForTriggerAvailableNow(): Unit = {
    pinnedTip = store.versions().maxOption
    pinned = true
  }

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val vs0 = store.versions()
    if (pinned && pinnedTip.isEmpty) return start // prepared on an empty store
    val vs = pinnedTip.fold(vs0)(p => vs0.filter(_ <= p))
    if (vs.isEmpty) return start // pinned tip pruned mid-run: no progress
    val tip = vs.max
    val s = start.asInstanceOf[VersionOffset].v
    val byCount = maxVersionsPerTrigger.map(m => math.min(tip, s + m)).getOrElse(tip)
    // byte pacing (Delta's maxBytesPerTrigger): admit commits until the
    // NEXT one would overflow the budget — always at least one, so a
    // single oversized commit still makes progress. Commit bytes come
    // from the stores' own metadata (manifests / FS stats), never a
    // data scan. Composes with version pacing: the tighter cap wins.
    val byBytes = maxBytesPerTrigger.fold(tip) { budget =>
      val pending = vs.filter(v => v > s && v <= tip).sorted
      var acc = 0L
      var end = s
      var broke = false
      pending.foreach { v =>
        if (!broke) {
          acc += store.commitBytes(v)
          if (end == s || acc <= budget) end = v
          if (acc > budget) broke = true
        }
      }
      if (end == s) tip else end
    }
    VersionOffset(math.max(s, math.min(byCount, byBytes)))
  }

  private val spillRoot = new org.apache.hadoop.fs.Path(checkpointLocation, "graft-cdc")
  private def fs = spillRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val cdfSchema =
    if (rowsOnly) ChangeFeed.changesSchema(schema) else schema

  override def initialOffset(): Offset = {
    val vs = store.versions()
    require(vs.nonEmpty, s"change feed on ${store.basePath}: store has no committed versions")
    // offset = startingVersion - 1, so the starting commit itself replays
    VersionOffset(startingVersion.getOrElse(vs.min) - 1)
  }

  override def latestOffset(): Offset =
    VersionOffset(store.versions().max)

  override def deserializeOffset(json: String): Offset = VersionOffset(json.toLong)

  // both calls happen inside one MicroBatchScanExec evaluation; the
  // factory is file-agnostic (schema + conf), so serving it from the
  // latest planned batch is safe even across replans
  @volatile private var currentBatch: Batch = _

  private def parquetBatchOver(dir: org.apache.hadoop.fs.Path,
      sc: StructType): Batch = {
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("path", dir.toString))
    ParquetTable(s"graft-cdc-batch", spark, opts, Seq(dir.toString), Some(sc),
      classOf[ParquetFileFormat])
      .newScanBuilder(opts).build().toBatch
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[VersionOffset].v, end.asInstanceOf[VersionOffset].v)
    val dir = new org.apache.hadoop.fs.Path(spillRoot, s"$s-$e")
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) {
      // first planning of this batch: materialize the change set once
      // (distributed write); a restart replay reuses it verbatim, so
      // a batch's content is frozen at first planning — the replay
      // contract Spark's offset log expects
      ChangeFeed.changesBetween(spark, store, s + 1, e, cdfSchema, preImages = preImages)
        .write.mode("overwrite").parquet(dir.toString)
    }
    val serveDir =
      if (!rowsOnly) dir
      else {
        val spill = spark.read.schema(cdfSchema).parquet(dir.toString)
        val hasDeletes = spill.filter(col("change_type") === "delete")
          .limit(1).count() > 0
        if (hasDeletes && !ignoreDeletes) throw new IllegalStateException(
          s"streaming read of ${store.basePath} hit a commit in ($s, $e] containing DELETES: a " +
            "plain-table stream carries row state only, so skipping them would " +
            "silently desync downstream state. Stream `<table>.changes` for the " +
            "full feed, or set .option(\"ignoreDeletes\", true) to drop them.")
        val rows = new org.apache.hadoop.fs.Path(spillRoot, s"$s-$e-rows")
        if (!fs.exists(new org.apache.hadoop.fs.Path(rows, "_SUCCESS")))
          spill.filter(col("change_type") =!= "delete")
            .select(schema.fieldNames.toIndexedSeq.map(col): _*)
            .write.mode("overwrite").parquet(rows.toString)
        rows
      }
    val b = parquetBatchOver(serveDir, schema)
    currentBatch = b
    b.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val b = currentBatch
    if (b != null) b.createReaderFactory()
    else { // defensive: factory from an empty template over the spill root
      fs.mkdirs(spillRoot)
      parquetBatchOver(spillRoot, schema).createReaderFactory()
    }
  }

  /** Offsets ≤ `end` are durably committed — their spills can never be
    * replayed and reclaim here (the vacuum half of the materialize
    * design). */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[VersionOffset].v
    if (fs.exists(spillRoot)) fs.listStatus(spillRoot).foreach { st =>
      val name = st.getPath.getName // "<start>-<end>[-rows]"
      // regex parse: offsets can be NEGATIVE (initialOffset is
      // startingVersion - 1), so naive split('-') would misread "-1-3"
      val endPart = "^(-?\\d+)-(-?\\d+)$".r
        .findFirstMatchIn(name.stripSuffix("-rows")).map(_.group(2).toLong)
      if (endPart.exists(_ <= e))
        fs.delete(st.getPath, true): Unit
    }
  }

  override def stop(): Unit = ()
}

/** Wraps the native parquet ScanBuilder to add streaming: every
  * pushdown interface the parquet builder implements forwards
  * verbatim (batch plans keep filter pushdown, column pruning and
  * aggregate pushdown — spec-pinned), and the built Scan answers
  * `toMicroBatchStream` with the store's change stream. */
private[graft] class StreamCapableScanBuilder(inner: ScanBuilder,
    mkStream: String => MicroBatchStream) extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private def req = inner
    .asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
  private def cat = inner
    .asInstanceOf[org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters]
  private def agg = inner
    .asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownAggregates]
  override def pruneColumns(requiredSchema: StructType): Unit =
    req.pruneColumns(requiredSchema)
  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    cat.pushFilters(filters)
  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    cat.pushedFilters
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = agg.pushAggregation(aggregation)
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = agg.supportCompletePushDown(aggregation)
  override def build(): Scan = new StreamCapableScan(inner.build(), mkStream)
}

private[graft] class StreamCapableScan(val d: Scan,
    mkStream: String => MicroBatchStream) extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.internal.connector.SupportsMetadata {
  // runtime (dynamic) filtering forwards to the wrapped parquet scan —
  // without this every catalog tip read would silently lose dynamic
  // partition pruning; equals/hashCode delegate so exchange/scan REUSE
  // still recognizes two plans over the same underlying scan
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = d match {
    case r: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
      r.filterAttributes()
    case _ => Array.empty
  }
  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = d match {
    case r: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
      r.filter(predicates)
    case _ => ()
  }
  override def equals(other: Any): Boolean = other match {
    case s: StreamCapableScan => d == s.d
    case _ => false
  }
  override def hashCode(): Int = d.hashCode()
  override def readSchema(): StructType = d.readSchema()
  override def toBatch: Batch = d.toBatch
  override def description(): String = d.description()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    d.columnarSupportMode()
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    d.supportedCustomMetrics()
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    d.reportDriverMetrics()
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    d.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
  override def getMetaData(): Map[String, String] =
    d.asInstanceOf[org.apache.spark.sql.internal.connector.SupportsMetadata]
      .getMetaData()
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    mkStream(checkpointLocation)
}

/** The `<cat>.<store>.changes` table: BATCH (full history or a
  * commit range — served as a [[V1Scan]], so the distributed diff
  * plan IS the scan) + MICRO_BATCH streaming. */
private[graft] class ChangesTable(tableName: String, spark: SparkSession,
    store: VersionedStore, range: Option[(Long, Long)], preImages: Boolean = false)
    extends Table with SupportsRead {

  private val keyCol = store.keyCol
  private val feedSchema = ChangeFeed.changesSchema(ChangeFeed.tipDataSchema(store))

  override def name(): String = tableName
  override def schema(): StructType = feedSchema
  override def capabilities(): util.Set[TableCapability] =
    if (range.isDefined) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters {
      // PREDICATE PUSHDOWN into the per-commit file resolution. The
      // V1Scan route hands filters over HERE (the relation itself must
      // stay a plain TableScan); every filter is also returned as
      // residual, so Spark re-applies the exact predicates above and a
      // conservative pushed range can never change results.
      private var pushed: Array[Filter] = Array.empty
      private def pushable(f: Filter): Boolean = f match {
        case EqualTo(c, _) => c == keyCol || c == "_commit_version"
        case GreaterThan(c, _) => c == keyCol || c == "_commit_version"
        case GreaterThanOrEqual(c, _) => c == keyCol || c == "_commit_version"
        case LessThan(c, _) => c == keyCol || c == "_commit_version"
        case LessThanOrEqual(c, _) => c == keyCol || c == "_commit_version"
        case _ => false
      }
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters.filter(pushable)
        filters // all residual: the feed's pushdown is advisory
      }
      override def pushedFilters(): Array[Filter] = pushed
      override def build(): Scan = new GraftV1RelationScan {
        private val pushedHere = pushed
        override def readSchema(): StructType = feedSchema
        override def description(): String = tableName
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: org.apache.spark.sql.SQLContext): T =
          v1Relation(context).asInstanceOf[T]
        override def v1Relation(context: org.apache.spark.sql.SQLContext)
            : BaseRelation = {
          val (lo, hi) = range.getOrElse((Long.MinValue, Long.MaxValue))
          new BaseRelation with TableScan {
            override def sqlContext: org.apache.spark.sql.SQLContext = context
            override def schema: StructType = feedSchema
            // REAL statistics: sum of the selected commits' added
            // bytes (checkpoint-served, metadata-only) bounds the feed
            // size from above — without it the relation reports
            // defaultSizeInBytes (Long.MaxValue) and a 3-row change
            // feed can never broadcast in a downstream join. Added
            // bytes alone UNDERCOUNT two shapes whose change rows live
            // in the PREDECESSOR's files: CoW deletes (full-content
            // delete rows, zero added bytes) and restores that
            // re-reference old pool files — so each commit also
            // contributes |Δrows| × estimated width, and a zero-byte
            // restore is bounded by a full re-emit. Underestimating
            // here risks broadcasting a huge feed (executor OOM);
            // overestimating only costs a shuffle. Preimage feeds
            // double-count updates, so double the bound.
            private lazy val sizeEstimate: Long = {
              val stats = store.commitStats()
              val width = 8L + feedSchema.fields.map(_.dataType.defaultSize.toLong).sum
              val rowsByV = stats.map { case (v, _, r, _) => v -> r }.toMap
              val ordered = stats.map(_._1)
              val sel = stats.filter { case (v, _, _, _) => v >= lo && v <= hi }
              val added = sel.map { case (v, bytes, nRows, op) =>
                val prevRows = ordered.takeWhile(_ < v).lastOption
                  .map(rowsByV).getOrElse(0L)
                val deltaRows = math.abs(nRows - prevRows)
                val restoreRows =
                  if (bytes == 0L && op == "restoreVersion") nRows else 0L
                bytes + (deltaRows + restoreRows) * width
              }.sum
              // MoR deletes add ~no bytes AND keep physical row counts
              // flat: bound their contribution by the tip mask size
              val dvRows = sel.map(_._1).lastOption.fold(0L)(store.dvRowCount)
              val bound = added + dvRows * width
              math.max(1L, if (preImages) 2L * bound else bound)
            }
            override def sizeInBytes: Long = sizeEstimate
            // The pushed bounds (see the ScanBuilder): keyCol bounds
            // route each commit's diff through diffKeyRange —
            // envelope-overlapping exclusive files only, the
            // one-tenant replication consumer's win; _commit_version
            // bounds narrow the version walk itself (a commit outside
            // them computes NO diff).
            private def cmp(a: Any, b: Any): Int =
              a.asInstanceOf[Comparable[Any]].compareTo(b)
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
              var kLo: Option[Any] = None; var kHi: Option[Any] = None
              var vLo = lo; var vHi = hi
              def tightenLo(v: Any): Unit =
                if (kLo.forall(c => scala.util.Try(cmp(v, c) > 0).getOrElse(false)))
                  kLo = Some(v)
              def tightenHi(v: Any): Unit =
                if (kHi.forall(c => scala.util.Try(cmp(v, c) < 0).getOrElse(false)))
                  kHi = Some(v)
              pushedHere.foreach {
                case EqualTo(c, v: Long) if c == "_commit_version" =>
                  vLo = math.max(vLo, v); vHi = math.min(vHi, v)
                case GreaterThan(c, v: Long) if c == "_commit_version" =>
                  vLo = math.max(vLo, v + 1)
                case GreaterThanOrEqual(c, v: Long) if c == "_commit_version" =>
                  vLo = math.max(vLo, v)
                case LessThan(c, v: Long) if c == "_commit_version" =>
                  vHi = math.min(vHi, v - 1)
                case LessThanOrEqual(c, v: Long) if c == "_commit_version" =>
                  vHi = math.min(vHi, v)
                case EqualTo(c, v) if c == keyCol => tightenLo(v); tightenHi(v)
                case GreaterThan(c, v) if c == keyCol => tightenLo(v)
                case GreaterThanOrEqual(c, v) if c == keyCol => tightenLo(v)
                case LessThan(c, v) if c == keyCol => tightenHi(v)
                case LessThanOrEqual(c, v) if c == keyCol => tightenHi(v)
                case _ => () // re-applied above; nothing to push
              }
              // both bounds or none: a half-open range still pushes by
              // pairing with the key domain's practical extreme via
              // the envelope test needing a CLOSED interval — so an
              // open side falls back to no key pushdown (the filter
              // still applies above, results identical)
              val keyRange = for (a0 <- kLo; b0 <- kHi) yield (a0, b0)
              // an EXPLICIT `a..b` range is a contract about those exact
              // commits: a pruned predecessor fails the read instead of
              // silently replaying full state as inserts
              ChangeFeed.changesBetween(spark, store,
                vLo, vHi, feedSchema, allowInitialSnapshot = range.isEmpty,
                preImages = preImages, keyRange = keyRange).rdd
            }
          }
        }
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ChangesMicroBatchStream(spark, store, feedSchema,
            rowsOnly = false, ignoreDeletes = false,
            startingVersion = ChangeFeed.resolveStart(store, options),
            checkpointLocation,
            maxVersionsPerTrigger =
              Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
            maxBytesPerTrigger =
              Option(options.get("maxBytesPerTrigger")).map(_.toLong),
            preImages = preImages)
      }
    }
}
