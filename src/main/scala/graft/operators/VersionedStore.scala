package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetSchemas
import org.apache.spark.sql.types.StructType

/** The one interface over both version layouts: [[SnapshotStore]]
  * (one self-contained directory per version) and [[ManifestStore]]
  * (the "linked" layout: per-version manifests over a shared file
  * pool). The SQL catalog, the change feed and the streaming sinks
  * hold a `VersionedStore` and call through it; where the layouts
  * genuinely differ (compaction, retention and vacuum, bucketed and
  * partition-scoped rewrites, clones, the pool durability ladder)
  * callers match on the store's type.
  *
  * The members declared here without a body are the verbs each layout
  * implements its own way; the bodies here (constraints, holds,
  * column statistics, the history checkpoint, the optimistic-
  * concurrency merge, partition-spec helpers) are layout-free. */
trait VersionedStore {
  val basePath: String
  val keyCol: String
  protected val spark: SparkSession

  /** `snapshot` or `linked` — the label DESCRIBE DETAIL and the
    * procedure results print. */
  def layout: String

  /** The data files `version` reads: the version directory's part
    * files, or the manifest's files resolved against the pool. */
  def dataPaths(version: Long): Seq[String]

  /** The same store opened with `key` as its key column. */
  def withKeyCol(key: String): VersionedStore

  /** The directory holding `version`'s sidecars: the version directory
    * or the manifest directory. */
  protected def versionDir(version: Long): Path

  /** Retained versions ascending with their checkpointed statistics. */
  protected def historyEntries(): Seq[(Long, SnapshotStore.HistoryEntry)]

  def versions(): Seq[Long]
  def read(version: Long): DataFrame
  def readKeyRange(version: Long, lo: Any, hi: Any): DataFrame
  def readSourceRange(version: Long, source: String, lo: Any, hi: Any): DataFrame
  def readWhereAll(version: Long, preds: Seq[(String, Any, Any)]): DataFrame
  def versionAsOf(ts: Long): Option[Long]
  def commitBytes(version: Long): Long
  def dvFrame(version: Long): Option[DataFrame]
  def dvRowCount(version: Long): Long
  def partitions(version: Long): DataFrame

  def diff(fromVersion: Long, toVersion: Long): DataFrame
  def diffCdf(fromVersion: Long, toVersion: Long): DataFrame
  def diffKeyRange(fromVersion: Long, toVersion: Long, lo: Any, hi: Any): DataFrame
  def diffCdfKeyRange(fromVersion: Long, toVersion: Long, lo: Any, hi: Any): DataFrame

  def mergeDelta(fromVersion: Long, toVersion: Long, delta: DataFrame,
      deleteKeys: Option[DataFrame] = None, numNewFiles: Int = 4,
      commitTs: Option[Long] = None,
      fill: Map[String, Any] = Map.empty): (Int, Int)
  /** `deleteWhere` with the layout's default file count and mode. */
  def deleteWhere(fromVersion: Long, toVersion: Long, pred: Column): (Int, Int, Long)
  def replaceWhere(fromVersion: Long, toVersion: Long, data: DataFrame,
      filesPerPartition: Int = 1, commitTs: Option[Long] = None): (Int, Int, Int)
  def dropPartitions(fromVersion: Long, toVersion: Long, pred: Column,
      commitTs: Option[Long] = None): (Int, Int, Long)
  def dropColumns(fromVersion: Long, toVersion: Long, cols: Seq[String],
      commitTs: Option[Long] = None): Unit
  def widenColumn(fromVersion: Long, toVersion: Long, column: String,
      newType: org.apache.spark.sql.types.DataType, commitTs: Option[Long] = None): Unit
  def renameColumn(fromVersion: Long, toVersion: Long, from: String, to: String,
      numFiles: Int = 4, commitTs: Option[Long] = None): Unit
  def restoreVersion(fromVersion: Long, toVersion: Long, commitTs: Option[Long]): Unit
  def foldDv(fromVersion: Long, toVersion: Long, numNewFiles: Int = 2,
      commitTs: Option[Long] = None): (Int, Int, Long)
  def zorderWhere(fromVersion: Long, toVersion: Long, pred: Column,
      zCols: Seq[String], numFiles: Int = 4,
      commitTs: Option[Long] = None): (Int, Int)
  def evolvePartitionSpec(cols: Seq[String]): Int
  /** `maybeCompact` with the layout's default sizing. */
  def maybeCompact(maxFiles: Int): Option[Long]
  def maybeRetain(maxVersions: Int): Int

  protected def fs: FileSystem =
    new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def latestVersion(): Option[Long] = versions().lastOption

  /** The version's EVOLVED read schema, when a schema verb recorded
    * one in its `_schema.json` sidecar: the union of every column the
    * version's files collectively hold, with each evolution-introduced
    * column's fill default in its field metadata (`graft.fill`). */
  def evolvedSchema(version: Long): Option[StructType] =
    Sidecars.readSchema(fs, versionDir(version))

  /** Pre-check half of the commit CAS ([[CommitProtocol]]): refuse a
    * commit whose target version already exists before doing the
    * work; the authoritative check is the token verify at publish. */
  private[operators] def requireFreeVersion(v: Long): Unit =
    if (versions().contains(v))
      throw new VersionConflictException(
        s"$basePath: version $v already exists")

  /** OPTIMISTIC-CONCURRENCY merge — the multi-writer front door over
    * [[mergeDelta]] (Delta/Iceberg's commit-retry contract):
    *
    *   1. read the tip, attempt `mergeDelta(tip, tip+1, …)`;
    *   2. on a lost commit race ([[VersionConflictException]] — a
    *      concurrent writer published tip+1 first), re-diff: if the
    *      keys OUR commit touches are DISJOINT from every key the
    *      interleaved commits changed, the two commits commute — rebase
    *      onto the new tip and retry;
    *   3. overlapping keys abort with
    *      [[ConcurrentWriteConflictException]] — retrying would
    *      silently pick a winner between causally-unordered updates.
    *
    * The conflict check is the store's own [[diff]] semi-joined
    * against the commit's key set. Returns the version this commit
    * published as. */
  def mergeAtTip(delta: DataFrame, deleteKeys: Option[DataFrame] = None,
      numNewFiles: Int = 4, commitTs: Option[Long] = None,
      maxRetries: Int = 5, readVersion: Option[Long] = None): Long = {
    val delK = deleteKeys.map(df => df.select(df.columns.head).toDF(keyCol))
    val mine = delK.foldLeft(delta.select(keyCol))(_ unionByName _)
      .distinct().materialize()
    // the conflict check runs against the version the delta was DERIVED
    // from (Delta's OptimisticTransaction.readVersion): pass it when the
    // delta was computed from an earlier read; default = current tip
    var base = readVersion.orElse(latestVersion()).getOrElse(
      throw new IllegalStateException(
        s"mergeAtTip on $basePath: store has no committed versions"))
    var attempt = 0
    while (true) {
      try {
        mergeDelta(base, base + 1, delta, deleteKeys, numNewFiles, commitTs)
        return base + 1
      } catch {
        case e: VersionConflictException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          val tip = latestVersion().getOrElse(base)
          if (tip > base) {
            val theirs = diff(base, tip).select(keyCol)
            if (mine.join(theirs, Seq(keyCol), "left_semi").limit(1).count() > 0)
              throw new ConcurrentWriteConflictException(
                s"mergeAtTip on $basePath: concurrent commit(s) v${base + 1}..v$tip " +
                  "changed keys this merge also touches — rebasing would drop one " +
                  "writer's update; re-read the tip and re-derive the delta")
            base = tip
          }
      }
    }
    -1L // unreachable: the loop returns or throws
  }

  // ---- CONSTRUCTION CONTRACT + PARTITION SPECS ----

  /** Persist the store's construction contract (the key column) in a
    * `_store.json` sidecar at the base — so a METADATA-ONLY consumer
    * (SnapshotCatalog's SQL `DELETE FROM`, which must drive a
    * key-ordered rewrite) can recover it without the caller
    * re-supplying what the store was built with. Idempotent, written
    * on first publish. */
  private[operators] def ensureStoreMeta(): Unit =
    if (keyCol.nonEmpty) {
      val p = new Path(basePath, "_store.json")
      if (!fs.exists(p)) {
        fs.mkdirs(new Path(basePath))
        Sidecars.write(fs, p, Sidecars.obj("keyCol" -> Sidecars.str(keyCol)))
      }
    }

  /** The key column recorded by [[ensureStoreMeta]], when present. */
  def storedKeyCol(): Option[String] = SnapshotStore.readStoredKeyCol(fs, basePath)

  /** Declared partition COLUMN NAMES — for a temporal transform spec
    * (`days(ts)` / `months(ts)`) this is the DERIVED identity column
    * every landing materializes (see [[SnapshotStore.PartSpec]]).
    * Empty on an unpartitioned store. */
  def storedPartitionBy(): Seq[String] = storedPartitionSpecs().map(_.name)

  /** The raw PARTITIONED BY declaration as recorded in the sidecar
    * (identity names and transform specs). */
  def storedPartitionSpecs(): Seq[SnapshotStore.PartSpec] =
    SnapshotStore.readStoredPartitionBy(fs, basePath)
      .map(SnapshotStore.parsePartitionSpec)

  protected def deriveParts(df: DataFrame): DataFrame =
    SnapshotStore.derivePartitionCols(df, storedPartitionSpecs())

  /** The `_partition.json` spec history + current id (see
    * [[SnapshotStore.readPartitionSpecHistory]]). */
  protected def specHistory: (Seq[Seq[String]], Int) =
    SnapshotStore.readPartitionSpecHistory(fs, basePath)

  /** A manifest / zone-map row's spec id: the recorded column, or 0 —
    * every file landed before evolution existed (or before this store
    * evolved) belongs to the original spec by construction. */
  protected def specIdCol(entries: DataFrame): Column =
    if (entries.columns.contains("spec_id")) coalesce(col("spec_id"), lit(0))
    else lit(0)

  /** Post-evolution reads RECOMPUTE every historical spec's derived
    * column from its source: mixed-spec files physically carry
    * different derived columns, and a stale or null derived value
    * would turn content-invariant rewrites (compact) into spurious
    * diff updates. Never-evolved stores skip this entirely. */
  protected def recomputeDerived(df: DataFrame): DataFrame = {
    val (hist, _) = specHistory
    if (hist.size <= 1) df
    else hist.flatten.distinct.map(SnapshotStore.parsePartitionSpec)
      .filter(sp => sp.transform.isDefined && df.columns.contains(sp.source))
      .foldLeft(df)((d, sp) => d.withColumn(sp.name, SnapshotStore.deriveColumn(sp)))
  }

  /** Physical arrangement every landing goes through: key-range +
    * key-sort when unpartitioned; partition-tuple clustering (≤
    * `numFiles` files per tuple via a key-hash salt, key-sorted
    * within) when partitioned, so the landing keeps one partition
    * tuple per file and the per-file stats record exact (min==max)
    * partition values. */
  protected def arrange(df: DataFrame, numFiles: Int): DataFrame =
    storedPartitionBy() match {
      case Seq() =>
        df.repartitionByRange(numFiles, col(keyCol)).sortWithinPartitions(keyCol)
      case pcs =>
        val d = deriveParts(df) // temporal transforms land derived identity cols
        val exprs = pcs.map(col) :+ pmod(hash(col(keyCol)), lit(math.max(numFiles, 1)))
        d.repartition(exprs: _*)
          .sortWithinPartitions((pcs :+ keyCol).map(col): _*)
    }

  // ---- CHECK CONSTRAINTS ----

  /** Declared CHECK constraints ([[SnapshotStore.readConstraints]]). */
  def constraints(): Seq[(String, String)] =
    SnapshotStore.readConstraints(fs, basePath)

  /** ADD CONSTRAINT — Delta's contract: the TIP is scanned ONCE for
    * existing violations (fail = nothing recorded), then every later
    * landing validates its new rows. Write-time only: pinned history
    * is never re-judged. */
  def addConstraint(name: String, exprSql: String): Unit = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name must be [A-Za-z0-9_]+, got '$name'")
    val cur = constraints()
    require(!cur.exists(_._1 == name), s"constraint '$name' already exists")
    latestVersion().foreach { v =>
      val bad = read(v).filter(coalesce(expr(exprSql), lit(true)) === lit(false))
        .limit(1).count()
      if (bad > 0) throw new ConstraintViolationException(
        s"ADD CONSTRAINT '$name': existing rows of version $v violate ($exprSql)")
    }
    SnapshotStore.writeConstraints(fs, basePath, cur :+ ((name, exprSql)))
  }

  def dropConstraint(name: String): Unit = {
    val cur = constraints()
    require(cur.exists(_._1 == name),
      s"no constraint named '$name' (have: ${cur.map(_._1).mkString(", ")})")
    SnapshotStore.writeConstraints(fs, basePath, cur.filterNot(_._1 == name))
  }

  /** Validate `df` against every declared constraint — one short-
    * circuiting probe job per constraint (first violating row lands in
    * the error as JSON). Runs BEFORE any landing I/O, so a rejected
    * commit publishes nothing. A deliberate extra pass over the
    * incoming rows: an inline raise_error filter would be free but can
    * fire spuriously under Catalyst filter reordering (the assert_true
    * pushdown hazard) — correctness wins. */
  protected def enforceConstraints(df: DataFrame, what: String): Unit =
    constraints().foreach { case (n, e) =>
      val hit = df.filter(coalesce(expr(e), lit(true)) === lit(false))
        .select(to_json(struct(df.columns.map(col): _*)).as("row"))
        .limit(1).collect()
      if (hit.nonEmpty) throw new ConstraintViolationException(
        s"CHECK constraint '$n' (($e)) rejected $what: ${hit.head.getString(0)}")
    }

  /** A schema verb may not orphan a constraint: renaming/dropping a
    * column a CHECK expression references would leave the guard
    * unevaluable (or silently wrong). Refuse until it is dropped. */
  protected def requireNoConstraintOn(colName: String, op: String): Unit =
    constraints().find(c =>
        ("""\b""" + java.util.regex.Pattern.quote(colName) + """\b""").r
          .findFirstIn(c._2).isDefined)
      .foreach { case (n, e) => throw new UnsupportedOperationException(
        s"$op '$colName': CHECK constraint '$n' (($e)) references it — " +
          s"drop the constraint first") }

  // ---- COLUMN STATISTICS ----

  private def colstatsDir(v: Long) = new Path(versionDir(v), "_colstats")

  /** ANALYZE — per-column statistics of `version`, persisted as a
    * `_colstats` sidecar inside the version's directory (versions stay
    * immutable, sidecars are derived metadata). Default NDV is
    * approx_count_distinct (HLL — ONE fused pass over every column,
    * no expand, the 100 TB mode); `exactNdv` runs one count_distinct
    * job per column instead (exact, k extra passes — the fused
    * multi-distinct EXPAND would multiply the stream k-fold, the
    * q_approx_gate lesson). min/max land as strings so the stats
    * frame has one uniform schema across column types. */
  def analyzeColumns(version: Long, cols: Seq[String] = Nil,
      exactNdv: Boolean = false): DataFrame = {
    val df = read(version)
    val supported: org.apache.spark.sql.types.DataType => Boolean = {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.StringType => true
      case org.apache.spark.sql.types.DateType => true
      case org.apache.spark.sql.types.TimestampType => true
      case org.apache.spark.sql.types.BooleanType => true
      case _ => false
    }
    val target =
      if (cols.nonEmpty) cols
      else df.schema.fields.filter(f => supported(f.dataType)).map(_.name).toSeq
    val missing = target.filterNot(df.columns.contains)
    require(missing.isEmpty, s"analyzeColumns: not in the schema: ${missing.mkString(", ")}")
    val aggs = target.flatMap { c => Seq(
      count(col(c)).as(s"__cnt_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")) ++
      (if (exactNdv) Nil else Seq(approx_count_distinct(col(c)).as(s"__ndv_$c")))
    } :+ count(lit(1)).as("__rows")
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val nRows = row.getAs[Long]("__rows")
    val ndvs: Map[String, Long] =
      if (!exactNdv) target.map(c => c -> row.getAs[Long](s"__ndv_$c")).toMap
      else target.map(c =>
        c -> df.agg(count_distinct(col(c)).as("d")).head().getLong(0)).toMap
    val out = target.map { c =>
      (c, nRows, nRows - row.getAs[Long](s"__cnt_$c"), ndvs(c),
        Option(row.getAs[String](s"__min_$c")).orNull,
        Option(row.getAs[String](s"__max_$c")).orNull)
    }
    val stats = spark.createDataFrame(out)
      .toDF("col_name", "n_rows", "n_nulls", "ndv", "min_str", "max_str")
    stats.coalesce(1).write.mode("overwrite").parquet(colstatsDir(version).toString)
    stats
  }

  /** The stats [[analyzeColumns]] stored for `version`, if any. */
  def columnStats(version: Long): Option[DataFrame] =
    if (!fs.exists(new Path(colstatsDir(version), "_SUCCESS"))) None
    else Some(ParquetSchemas.read(spark, colstatsDir(version).toString))

  // ---- HISTORY ----

  /** Commit history — the `DESCRIBE HISTORY` surface: one row per
    * retained version with its commit timestamp, file/row totals and
    * the operation that produced it. Served from the version-log
    * checkpoint (metadata-only); the SQL `<cat>.<store>.history`
    * metadata table. */
  def history(): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    historyEntries().map { case (v, e) =>
        (v, e.commitTs, e.nFiles, e.nRows, e.op, e.opParams, e.metrics) }
      .toDF("version", "commit_ts", "n_files", "n_rows",
        "operation", "operation_params", "operation_metrics")
  }

  /** Per-version (version, bytes_added, n_rows, operation) ascending —
    * ONE checkpoint read serves every version (the change feed's
    * size-estimate input; calling [[commitBytes]] per version would
    * re-read the checkpoint |versions| times). */
  def commitStats(): Seq[(Long, Long, Long, String)] =
    historyEntries().map { case (v, e) => (v, e.bytes, e.nRows, e.op) }

  /** Rows `version` SERVES after its deletion-vector mask — the
    * PLANNING statistic behind the masked-route relation's
    * `sizeInBytes` (a small DV-masked dimension table must still
    * broadcast in SQL joins). Metadata-only: the row total comes from
    * the version-log checkpoint and the mask size from the DV
    * sidecar's parquet footers — no data pages, no job. */
  def visibleRowsOf(version: Long): Long =
    math.max(0L, rowCountOf(version) - dvRowCount(version))

  /** Stored (pre-mask) row total, checkpoint-served. */
  def rowCountOf(version: Long): Long =
    historyEntries().find(_._1 == version).map(_._2.nRows).getOrElse(0L)

  /** Drop the checkpoint wholesale — used by verbs that change
    * EXISTING versions' stats (compaction swaps files in place; prune
    * changes which commit counts "whole" for bytes): the next read
    * rebuilds from truth. A checkpoint that survives keeps serving the
    * old stats, so a failed delete is logged. */
  protected def invalidateHistoryCkpt(): Unit =
    try fs.delete(new Path(basePath, "_history.json"), false): Unit
    catch { case scala.util.control.NonFatal(e) =>
      SnapshotStore.log.warn(s"${getClass.getSimpleName} $basePath: history " +
        s"checkpoint invalidation failed ($e); it may serve stale statistics " +
        "until the next successful rewrite", e) }

  // ---- LEGAL HOLDS ----

  /** Legal hold: retention keeps a held version no matter what its
    * policy says, until [[release]]. Retention is automation; holds
    * are human compliance decisions automation must not override. One
    * `_holds/<version>` marker file, idempotent. */
  def hold(version: Long): Unit = {
    require(versions().contains(version), s"version $version does not exist")
    val p = new Path(s"$basePath/_holds/$version")
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(Array.emptyByteArray) finally out.close()
  }

  /** Release a [[hold]]; idempotent. */
  def release(version: Long): Unit =
    fs.delete(new Path(s"$basePath/_holds/$version"), false): Unit

  /** Versions currently under a legal hold. */
  def holds(): Seq[Long] = {
    val dir0 = new Path(s"$basePath/_holds")
    if (!fs.exists(dir0)) Seq.empty
    else fs.listStatus(dir0).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted.toSeq
  }
}

object VersionedStore {
  /** Open the store at `base` under the layout it was written in: a
    * `_manifests/` directory marks the linked layout, anything else
    * (including an absent base) opens as the snapshot layout. */
  def open(spark: SparkSession, base: String, keyCol: String): VersionedStore = {
    val p = new Path(base, "_manifests")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      new ManifestStore(spark, base, keyCol)
    else new SnapshotStore(spark, base, keyCol)
  }
}
