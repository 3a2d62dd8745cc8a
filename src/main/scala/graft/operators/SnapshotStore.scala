package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetSchemas

import graft.functions.Fx

/** Versioned snapshot store — the reference's snapshot/backup workflow
  * end-to-end (SURVEY §2 group 2): write full snapshots, list
  * versions, read/restore any version, classify row-level changes
  * between versions (CDC), and prune old versions under a retention
  * policy.
  *
  * Layout: `basePath/v=<version>/part-*.parquet`. Each version is an
  * immutable full snapshot; `diff` derives incrementals on demand, so
  * restore is always a single-version read (no log replay). At 100 TB
  * per snapshot, `diff` is one equi-join shuffle on the business key;
  * `changeType` comparison rides on 8-byte xxhash64 fingerprints, not
  * row-by-row column compares.
  */
object SnapshotStore {
  /** One column-level change between two snapshot versions. */
  case class SchemaChange(column: String, change: String,
      fromType: Option[String], toType: Option[String])

  /** A union-schema field for an evolution-introduced column, with its
    * fill default (when given) recorded as `graft.fill` field metadata
    * — shared by both store layouts' mergeDelta. */
  private[graft] def fieldWithFill(f: org.apache.spark.sql.types.StructField,
      fill: Option[Any]): org.apache.spark.sql.types.StructField = {
    val md = fill.map { v =>
      val b = new org.apache.spark.sql.types.MetadataBuilder()
      v match {
        case s: String => b.putString("graft.fill", s)
        case d: Double => b.putDouble("graft.fill", d)
        case fl: Float => b.putDouble("graft.fill", fl.toDouble)
        case bo: Boolean => b.putBoolean("graft.fill", bo)
        case n: Number => b.putLong("graft.fill", n.longValue())
        case other => throw new IllegalArgumentException(
          s"unsupported fill value for '${f.name}': $other")
      }
      b.build()
    }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
    org.apache.spark.sql.types.StructField(f.name, f.dataType,
      nullable = true, metadata = md)
  }

  /** The fill defaults an evolved schema records, typed for
    * `na.fill` — shared by both layouts' read paths. */
  private[graft] def fillValues(
      sc: org.apache.spark.sql.types.StructType): Map[String, Any] = {
    import org.apache.spark.sql.types._
    sc.fields.iterator.flatMap { f =>
      if (!f.metadata.contains("graft.fill")) Iterator.empty
      else Iterator.single(f.name -> (f.dataType match {
        case StringType => f.metadata.getString("graft.fill"): Any
        case DoubleType | FloatType => f.metadata.getDouble("graft.fill")
        case BooleanType => f.metadata.getBoolean("graft.fill")
        case _ => f.metadata.getLong("graft.fill")
      }))
    }.toMap
  }

  // ---- COLUMN MAPPING (metadata-only RENAME COLUMN) ----
  // Delta's column-mapping idea on the existing `_schema.json`
  // sidecar: each field may carry `graft.physical` metadata naming the
  // column as STORED in the parquet files. A rename is then one
  // metadata commit — the logical name changes, the physical name
  // pins to whatever the bytes already answer to — and every read
  // resolves physical → logical with a zero-cost alias projection.
  // New files land under PHYSICAL names so a version's file set stays
  // name-uniform; a full rewrite (compact, plain write) materializes
  // logical names and drops the mapping — folding it exactly like a
  // DV mask folds.

  /** The field's PHYSICAL (stored) name: `graft.physical` when a
    * metadata-only rename mapped it, else the logical name. */
  private[graft] def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains("graft.physical")) f.metadata.getString("graft.physical")
    else f.name

  /** The schema under PHYSICAL names — what `spark.read.schema` must
    * be handed so parquet's by-name resolution finds the bytes. */
  private[graft] def physicalSchema(
      sc: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(sc.fields.map(f => f.copy(name = physicalName(f))))

  /** Whether any field carries a logical→physical rename mapping —
    * public for the SQL catalog (package org.apache.spark.sql.graft),
    * which must route mapped versions through the store's own read. */
  def hasMapping(sc: org.apache.spark.sql.types.StructType): Boolean =
    sc.fields.exists(f => physicalName(f) != f.name)

  /** Physical-named frame → logical names (alias projection only). */
  private[graft] def toLogical(df: org.apache.spark.sql.DataFrame,
      sc: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    sc.fields.foldLeft(df)((d, f) =>
      if (physicalName(f) != f.name) d.withColumnRenamed(physicalName(f), f.name) else d)

  /** Logical-named frame → physical names, for LANDING new files on a
    * mapped store (keeps the file set name-uniform). */
  private[graft] def toPhysical(df: org.apache.spark.sql.DataFrame,
      sc: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    sc.fields.foldLeft(df)((d, f) =>
      if (physicalName(f) != f.name) d.withColumnRenamed(f.name, physicalName(f)) else d)

  /** Stored name of logical `column` under `sc` (identity without a
    * mapping) — the stats/zone-map/bloom lookup translation. */
  private[graft] def physicalOf(sc: Option[org.apache.spark.sql.types.StructType],
      column: String): String =
    sc.flatMap(_.fields.find(_.name == column)).map(physicalName).getOrElse(column)

  /** Field with the logical name `to` whose physical name pins to the
    * stored bytes: a renamed-once field keeps its ORIGINAL physical
    * name through later renames. */
  private[graft] def renamedField(f: org.apache.spark.sql.types.StructField,
      to: String): org.apache.spark.sql.types.StructField = {
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putString("graft.physical", physicalName(f)).build()
    f.copy(name = to, metadata = md)
  }

  // ---- TEMPORAL PARTITION TRANSFORMS ----
  // `PARTITIONED BY days(ts)` / `months(ts)` — Iceberg's hidden
  // partitioning re-expressed on this layout's one-tuple-per-file
  // invariant: the sidecar records the TRANSFORM spec, every landing
  // derives an identity column (`ts__day` / `ts__month`, a DATE) the
  // existing machinery clusters, stats, prunes and drops on; the SQL
  // catalog hides the derived column from SELECT *.

  /** One PARTITIONED BY entry: `raw` as recorded in `_partition.json`,
    * the `source` data column, the landed identity column `name`, and
    * the transform kind (None = plain identity column). */
  case class PartSpec(raw: String, source: String, name: String,
      transform: Option[String])

  private val TransformRe = "^(days|months|years|hours)\\(([^()]+)\\)$".r

  def parsePartitionSpec(raw: String): PartSpec = raw.trim match {
    case TransformRe(kind, c) =>
      val suffix = kind match {
        case "days" => "__day"
        case "months" => "__month"
        case "years" => "__year"
        case _ => "__hour"
      }
      PartSpec(raw.trim, c.trim, c.trim + suffix, Some(kind))
    case plain => PartSpec(plain, plain, plain, None)
  }

  /** The derived identity value for a transform spec — a DATE (day /
    * first-of-month / first-of-year) or hour-truncated TIMESTAMP,
    * exact under min==max per-file stats. */
  def deriveColumn(sp: PartSpec): org.apache.spark.sql.Column = sp.transform match {
    case Some("days") => org.apache.spark.sql.functions.to_date(
      org.apache.spark.sql.functions.col(sp.source))
    case Some("months") => org.apache.spark.sql.functions.trunc(
      org.apache.spark.sql.functions.col(sp.source), "month")
    case Some("years") => org.apache.spark.sql.functions.trunc(
      org.apache.spark.sql.functions.col(sp.source), "year")
    case Some("hours") => org.apache.spark.sql.functions.date_trunc("hour",
      org.apache.spark.sql.functions.col(sp.source))
    case other => throw new IllegalArgumentException(s"not a transform: $other")
  }

  /** Materialize every derived partition column on a landing frame.
    * ALWAYS recomputed from the source (a pure function of it):
    * schema-alignment steps may have introduced the column as null,
    * and a stale or null derived value landing would silently break
    * the one-tuple-per-file pruning contract. No-op for identity
    * specs. */
  def derivePartitionCols(df: org.apache.spark.sql.DataFrame,
      specs: Seq[PartSpec]): org.apache.spark.sql.DataFrame =
    specs.filter(_.transform.isDefined).foldLeft(df)((d, sp) =>
      d.withColumn(sp.name, deriveColumn(sp)))

  // ---- TYPE WIDENING ----

  /** Legal METADATA-ONLY type widenings — Delta's type-widening idea:
    * parquet's vectorized reader decodes the stored narrow physical
    * type into the wider logical one (spec-verified on this Spark), so
    * publishing a sidecar with the wider type re-types every read with
    * ZERO rewrites. The integral chain, float→double, and
    * integral→decimal with enough precision to hold every value. */
  def canWiden(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, d: DecimalType) =>
        d.scale == 0 && d.precision >= 10
      case (LongType, d: DecimalType) => d.scale == 0 && d.precision >= 20
      case _ => false
    }
  }

  // ---- VERSION-LOG CHECKPOINT ----
  // One consolidated `_history.json` sidecar at the store base holding
  // (version, commit_ts, n_files, n_rows, bytes_added) per retained
  // version — maintained incrementally at publish, SELF-HEALING on
  // read. It is a CACHE of derived truth (every entry is rebuildable
  // from the version dirs/manifests), so a missed update — crash
  // between publish and checkpoint write, concurrent publisher losing
  // the checkpoint race, an external/older writer — costs one rebuild
  // of the missing entries, never a wrong answer. history(),
  // versionAsOf/readAsOf, commitBytes and the change feed's
  // timestamp/byte resolution all serve from it: O(1) file opens on a
  // warm checkpoint instead of O(versions) per-version sidecar reads.

  private[operators] case class HistoryEntry(
      commitTs: Long, nFiles: Long, nRows: Long, bytes: Long,
      op: String = "unknown", opParams: String = "",
      metrics: Map[String, Long] = Map.empty)

  /** The deletion-vector layout both stores publish: (file basename,
    * parquet row index). */
  private[graft] val dvSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL("file STRING, pos BIGINT")

  /** The version a `v=<n>` directory name denotes; None for any other
    * name (a stray or parked entry never disables the store's APIs). */
  private[operators] def versionOf(name: String): Option[Long] =
    if (name.startsWith("v=")) name.drop(2).toLongOption else None

  private[operators] val log = org.slf4j.LoggerFactory.getLogger("graft.operators.store")

  /** A publish-time checkpoint update that failed: the commit itself
    * is already live and the checkpoint self-heals on the next read,
    * so the failure is logged, not raised. */
  private[operators] def checkpointUpdateFailed(store: String, basePath: String,
      version: Long, e: Throwable): Unit =
    log.warn(s"$store $basePath: history checkpoint update for published " +
      s"version $version failed ($e); the checkpoint rebuilds on next read", e)

  /** The self-heal rewrite of the checkpoint: the entries are already
    * rebuilt and served, so a failed write is logged, not raised. */
  private[operators] def rewriteHistoryCkpt(store: String, fs: org.apache.hadoop.fs.FileSystem,
      basePath: String, entries: Map[Long, HistoryEntry]): Unit =
    try writeHistoryCkpt(fs, basePath, entries)
    catch { case scala.util.control.NonFatal(e) =>
      log.warn(s"$store $basePath: history checkpoint rewrite failed ($e); " +
        "served from the rebuilt entries", e) }

  private[operators] def readHistoryCkpt(fs: org.apache.hadoop.fs.FileSystem,
      basePath: String): Map[Long, HistoryEntry] =
    try {
      Sidecars.read(fs, new org.apache.hadoop.fs.Path(basePath, "_history.json"))
        .fold(Map.empty[Long, HistoryEntry]) { j =>
          (j \ "history").children.flatMap { e =>
            def n(f: String) = Sidecars.long(e \ f)
            // op/params/metrics are OPTIONAL so a pre-upgrade checkpoint
            // still parses — its entries report operation "unknown" and
            // empty metrics honestly
            val op = for (o <- Sidecars.string(e \ "op"); p <- Sidecars.string(e \ "p"))
              yield (o, p)
            for (v <- n("v"); ts <- n("ts"); f <- n("f"); r <- n("r"); b <- n("b"))
              yield v -> HistoryEntry(ts, f, r, b, op.fold("unknown")(_._1),
                op.fold("")(_._2), Sidecars.longs(e \ "m"))
          }.toMap
        }
    } catch { case scala.util.control.NonFatal(_) => Map.empty } // derived: rebuild

  /** Per-version OPERATION sidecar (`_op.json` inside the version /
    * manifest dir): the commit's verb + parameters, written into the
    * tmp dir BEFORE publish so it lands atomically with the version.
    * The checkpoint caches it; the self-heal rebuild re-reads it, so
    * "what did commit 37 DO" survives checkpoint invalidation. A
    * failed write raises: the version is not live yet, so the commit
    * aborts instead of publishing without its audit record.
    * Absent (pre-upgrade commits) → ("unknown", ""). */
  private[operators] def writeOpSidecar(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, op: String, params: String,
      metrics: Map[String, Long] = Map.empty): Unit =
    // metrics — Delta's operationMetrics: the row/file counts the
    // verb ALREADY materialized while executing (numInsertedRows,
    // numUpdatedRows, numDeletedRows, numAddedFiles,
    // numRemovedFiles), recorded, never recomputed from history
    Sidecars.write(fs, new org.apache.hadoop.fs.Path(dir, "_op.json"), Sidecars.obj(
      "op" -> Sidecars.str(op), "params" -> Sidecars.str(params),
      "metrics" -> Sidecars.longsJson(metrics)))

  /** Render a predicate for the operation-parameters stamp —
    * best-effort, bounded (an audit label, not a replayable plan). */
  private[operators] def predSql(c: org.apache.spark.sql.Column): String =
    c.toString.take(200)

  private[operators] def readOpSidecar(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): (String, String, Map[String, Long]) =
    try {
      // metrics object optional: pre-metrics sidecars still parse
      Sidecars.read(fs, new org.apache.hadoop.fs.Path(dir, "_op.json")).flatMap { j =>
        for (op <- Sidecars.string(j \ "op"); params <- Sidecars.string(j \ "params"))
          yield (op, params, Sidecars.longs(j \ "metrics"))
      }.getOrElse(("unknown", "", Map.empty))
    } catch { case scala.util.control.NonFatal(_) => ("unknown", "", Map.empty) }

  /** Atomic rewrite (tmp + rename): a crash or a lost concurrent-rename
    * race leaves a stale/absent checkpoint, which the self-heal path
    * rebuilds — never corrupt answers. A failed write raises; the
    * callers log it. */
  private[operators] def writeHistoryCkpt(fs: org.apache.hadoop.fs.FileSystem,
      basePath: String, entries: Map[Long, HistoryEntry]): Unit = {
    val body = Sidecars.obj("history" -> Sidecars.arr(entries.toSeq.sortBy(_._1).map {
      case (v, e) => Sidecars.obj("v" -> v.toString, "ts" -> e.commitTs.toString,
        "f" -> e.nFiles.toString, "r" -> e.nRows.toString, "b" -> e.bytes.toString,
        "op" -> Sidecars.str(e.op), "p" -> Sidecars.str(e.opParams),
        "m" -> Sidecars.longsJson(e.metrics))
    }))
    val tmp = new org.apache.hadoop.fs.Path(basePath,
      s".tmp-hist-${java.util.UUID.randomUUID()}")
    Sidecars.write(fs, tmp, body)
    val dest = new org.apache.hadoop.fs.Path(basePath, "_history.json")
    fs.delete(dest, false): Unit
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false): Unit
      throw new java.io.IOException(s"rename of $tmp onto $dest failed")
    }
  }

  /** Parse the `_store.json` sidecar's keyCol — shared by both store
    * layouts and the SQL catalog (which lives under Spark's package
    * root, hence public; a minimal fixed-shape parse — the sidecar is
    * written by this library only). */
  def readStoredKeyCol(fs: org.apache.hadoop.fs.FileSystem,
      basePath: String): Option[String] = readStoredField(fs, basePath, "keyCol")

  /** The `_store.json` sidecar's optional pool override — present only
    * on a shallow clone ([[ManifestStore.cloneTo]]), pointing at the
    * pool OWNER's shared file pool. */
  def readStoredPool(fs: org.apache.hadoop.fs.FileSystem,
      basePath: String): Option[String] = readStoredField(fs, basePath, "pool")

  private def readStoredField(fs: org.apache.hadoop.fs.FileSystem,
      basePath: String, field: String): Option[String] =
    Sidecars.read(fs, new org.apache.hadoop.fs.Path(basePath, "_store.json"))
      .flatMap(j => Sidecars.string(j \ field))

  /** Declared partition columns, recorded in a `_partition.json`
    * sidecar at the store base by the first partitioned write — the
    * table-layout contract BOTH store layouts share (Delta/Iceberg's
    * `partitionColumns` in the table metadata). Empty = unpartitioned.
    */
  def readStoredPartitionBy(fs: org.apache.hadoop.fs.FileSystem,
      basePath: String): Seq[String] = {
    val (hist, cur) = readPartitionSpecHistory(fs, basePath)
    if (hist.isEmpty) Seq.empty else hist(cur)
  }

  /** The FULL partition-spec history — Iceberg's partition-spec
    * evolution: `_partition.json` is a VERSIONED list of specs (spec
    * id = list index) plus the CURRENT id new landings use. Returns
    * (history, currentId); (empty, 0) for an unpartitioned store.
    *
    * v2 format: `{"specs": [["days(ts)"], ["months(ts)"]], "current": 1}`.
    * The v1 format (`{"partitionBy": [...]}` — every store written
    * before evolution existed) reads as a single spec id 0, so every
    * pre-evolution file belongs to spec 0 by construction and absent
    * per-file spec ids decode as 0 honestly. */
  def readPartitionSpecHistory(fs: org.apache.hadoop.fs.FileSystem,
      basePath: String): (Seq[Seq[String]], Int) =
    Sidecars.read(fs, new org.apache.hadoop.fs.Path(basePath, "_partition.json"))
      .fold((Seq.empty[Seq[String]], 0)) { j =>
        j \ "specs" match {
          case org.json4s.JArray(specs) =>
            val hist = specs.map(Sidecars.strings)
            val cur = Sidecars.long(j \ "current").fold(0)(_.toInt)
            (hist, math.min(math.max(cur, 0), math.max(hist.size - 1, 0)))
          case _ =>
            val cols = Sidecars.strings(j \ "partitionBy")
            (if (cols.isEmpty) Seq.empty else Seq(cols), 0)
        }
      }

  private def writePartitionSpecsV2(fs: org.apache.hadoop.fs.FileSystem,
      basePath: String, hist: Seq[Seq[String]], current: Int): Unit =
    Sidecars.write(fs, new org.apache.hadoop.fs.Path(basePath, "_partition.json"),
      Sidecars.obj("specs" -> Sidecars.arr(hist.map(h => Sidecars.arr(h.map(Sidecars.str)))),
        "current" -> current.toString))

  /** EVOLVE the partition spec — `ALTER TABLE ... SET PARTITION SPEC`
    * as ONE metadata write: the new spec appends to the history (or
    * re-activates an identical earlier one) and becomes CURRENT; NOT
    * ONE data byte moves. Files already landed keep pruning through
    * the spec they were written under (their per-file spec id);
    * landings from here on cluster, stat and prune under the new one.
    * The classic retention-axis fix — `days(ts)` → `months(ts)` —
    * costs a sidecar write instead of a 100 TB rewrite. Returns the
    * (possibly reused) spec id now current. */
  /** Conservative per-file overlap test of a [lo, hi] SOURCE-column
    * range against a file's derived-tuple stats [minD, maxD] under
    * spec `sp`: a derived value v covers the source interval
    * [v, next(v)) (day/month/year/hour granule), so the file overlaps
    * iff next(maxD) > lo AND minD <= hi. NULL stats keep the file —
    * pruning never guesses. */
  private[operators] def sourceRangeOverlap(sp: PartSpec,
      minD: org.apache.spark.sql.Column, maxD: org.apache.spark.sql.Column,
      lo: Any, hi: Any): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val next = sp.transform match {
      case Some("days") => date_add(maxD.cast("date"), 1).cast("timestamp")
      case Some("months") => add_months(maxD.cast("date"), 1).cast("timestamp")
      case Some("years") => add_months(maxD.cast("date"), 12).cast("timestamp")
      case _ => maxD.cast("timestamp") + expr("INTERVAL 1 HOUR")
    }
    coalesce(next > lit(lo).cast("timestamp") &&
      minD.cast("timestamp") <= lit(hi).cast("timestamp"), lit(true))
  }

  def evolvePartitionSpec(fs: org.apache.hadoop.fs.FileSystem,
      basePath: String, cols: Seq[String]): Int = {
    require(cols.nonEmpty, "evolvePartitionSpec: no partition columns")
    val (hist, cur) = readPartitionSpecHistory(fs, basePath)
    require(hist.nonEmpty,
      s"store at $basePath is not partitioned — declare a first spec with " +
        "writePartitioned before evolving it")
    cols.foreach(parsePartitionSpec) // fail fast on an unparseable spec
    if (hist(cur) == cols) return cur // idempotent
    val id = hist.indexOf(cols) match {
      case -1 => hist.size
      case i => i
    }
    writePartitionSpecsV2(fs, basePath,
      if (id == hist.size) hist :+ cols else hist, id)
    id
  }

  /** Declared CHECK constraints, recorded in a `_constraints.json`
    * sidecar at the store base — (name, boolean SQL expression) pairs
    * every landing validates new rows against (Delta's CHECK
    * constraint contract: a row violates when the expression evaluates
    * FALSE; a NULL result PASSES, per the SQL standard — declare
    * `c IS NOT NULL` explicitly for NOT NULL semantics). Write-time
    * guards: pinned history is never re-judged. */
  def readConstraints(fs: org.apache.hadoop.fs.FileSystem,
      basePath: String): Seq[(String, String)] =
    Sidecars.read(fs, new org.apache.hadoop.fs.Path(basePath, "_constraints.json"))
      .fold(Seq.empty[(String, String)])(j => (j \ "constraints").children.flatMap { c =>
        for (n <- Sidecars.string(c \ "name"); e <- Sidecars.string(c \ "expr")) yield (n, e)
      })

  def writeConstraints(fs: org.apache.hadoop.fs.FileSystem,
      basePath: String, all: Seq[(String, String)]): Unit = {
    fs.mkdirs(new org.apache.hadoop.fs.Path(basePath))
    Sidecars.write(fs, new org.apache.hadoop.fs.Path(basePath, "_constraints.json"),
      Sidecars.obj("constraints" -> Sidecars.arr(all.map { case (n, e) =>
        Sidecars.obj("name" -> Sidecars.str(n), "expr" -> Sidecars.str(e)) })))
  }

  /** Declared hash-bucket layout, recorded in a `_bucket.json` sidecar
    * at the store base by the first bucketed write — (column, bucket
    * count). The layout contract behind STORAGE-PARTITIONED JOINS:
    * every file of a bucketed version holds exactly the rows with
    * `pmod(murmur3(col), n) == id(file)` (Spark's own bucket-id
    * function and file-name convention), so the SQL catalog can serve
    * the version as a bucketed relation whose scan reports
    * HashPartitioning — and a store⋈store join on the bucket column
    * shuffles NEITHER side. None = unbucketed. */
  def readStoredBucketBy(fs: org.apache.hadoop.fs.FileSystem,
      basePath: String): Option[(String, Int)] =
    Sidecars.read(fs, new org.apache.hadoop.fs.Path(basePath, "_bucket.json")).flatMap { j =>
      for (c <- Sidecars.string(j \ "col"); n <- Sidecars.long(j \ "n")) yield (c, n.toInt)
    }

  /** Persist the bucket declaration — [[writeStoredPartitionBy]]'s
    * contract (idempotent; redeclaration must match while versions
    * exist). */
  def writeStoredBucketBy(fs: org.apache.hadoop.fs.FileSystem,
      basePath: String, col: String, n: Int,
      canRedeclare: Boolean = false): Unit = {
    require(n > 0, s"bucket count must be positive, got $n")
    val existing = readStoredBucketBy(fs, basePath)
    if (existing.isDefined && !(canRedeclare && !existing.contains((col, n)))) {
      require(existing.contains((col, n)),
        s"store at $basePath is already bucketed as $existing; cannot redeclare " +
          s"as ($col, $n)")
    } else {
      fs.mkdirs(new org.apache.hadoop.fs.Path(basePath))
      Sidecars.write(fs, new org.apache.hadoop.fs.Path(basePath, "_bucket.json"),
        Sidecars.obj("col" -> Sidecars.str(col), "n" -> n.toString))
    }
  }

  /** The bucket id a data file's NAME declares, per Spark's bucketed
    * file-name convention (`..._00003.ext`) — the write paths name
    * bucketed files this way ON PURPOSE so `FileSourceScanExec` can
    * serve them as a bucketed scan; every OTHER landing verb's names
    * (plain `part-...`, pool `<uuid>-part-000NN.parquet`) contain no
    * `_<digits>` suffix, so a version holding ANY non-bucketed file
    * fails the gate and falls back to the plain scan route honestly. */
  private val bucketedFileName = """.*_(\d+)(?:\..*)?$""".r
  def bucketIdOf(fileName: String): Option[Int] = fileName match {
    // Spark's BucketingUtils.getBucketId pattern, verbatim — the scan
    // executor parses names with the SAME regex, so the gate and the
    // reader can never disagree
    case bucketedFileName(id) => Some(id.toInt)
    case _ => None
  }

  /** Persist the partition-column declaration. Idempotent; a SECOND
    * declaration must match the first — silently re-partitioning a
    * table under existing versions would break every reader's pruning
    * contract. `canRedeclare` (the stores pass `versions().isEmpty`)
    * permits a DIFFERENT declaration while the store holds no
    * committed version: a first partitioned write whose validation
    * rejected the data may have left the sidecar behind, and refusing
    * a corrected redeclaration then would wedge the empty store
    * permanently. */
  def writeStoredPartitionBy(fs: org.apache.hadoop.fs.FileSystem,
      basePath: String, cols: Seq[String],
      canRedeclare: Boolean = false): Unit = {
    require(cols.nonEmpty, "partitionBy needs at least one column")
    val existing = readStoredPartitionBy(fs, basePath)
    if (existing.nonEmpty && !(canRedeclare && existing != cols)) {
      require(existing == cols,
        s"store at $basePath is already partitioned by $existing; cannot redeclare as $cols")
    } else {
      fs.mkdirs(new org.apache.hadoop.fs.Path(basePath))
      Sidecars.write(fs, new org.apache.hadoop.fs.Path(basePath, "_partition.json"),
        Sidecars.obj("partitionBy" -> Sidecars.arr(cols.map(Sidecars.str))))
    }
  }
}

/** Shared Morton-interleave column builder — the multi-column
  * clustering key behind [[SnapshotStore.writeZOrdered]] and
  * [[ManifestStore.writeZOrdered]]. */
private[operators] object ZOrder {
  import org.apache.spark.sql.Column

  /** Order-preserving 16-bit-per-dimension Z (Morton) interleave over
    * 1..4 columns: one tiny bounds aggregate, then 16·k OR'd shift
    * terms — all inside whole-stage codegen. Temporal types route
    * through a timestamp cast (date/ntz have no direct double cast).
    */
  def zColumn(df: DataFrame, zCols: Seq[String]): Column = {
    require(zCols.nonEmpty && zCols.size <= 4, "z-order over 1..4 columns (16 bits each)")
    val asD = zCols.map { c =>
      import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
      df.schema(c).dataType match {
        case DateType | TimestampType | TimestampNTZType =>
          col(c).cast("timestamp").cast("double")
        case _ => col(c).cast("double")
      }
    }
    val bounds = df.agg(
      struct(asD.zipWithIndex.flatMap { case (c, i) =>
        Seq(min(c).as(s"lo$i"), max(c).as(s"hi$i")) }: _*).as("b")).head().getStruct(0)
    val buckets = asD.zipWithIndex.map { case (c, i) =>
      if (bounds.isNullAt(i * 2) || bounds.isNullAt(i * 2 + 1)) lit(0L)
      else {
        val (lo, hi) = (bounds.getDouble(i * 2), bounds.getDouble(i * 2 + 1))
        if (hi <= lo) lit(0L)
        else least(greatest(
          floor((c - lit(lo)) / lit(hi - lo) * 65536.0).cast("long"), lit(0L)), lit(65535L))
      }
    }
    val k = buckets.size
    (for (i <- 0 until k; j <- 0 until 16) yield
      shiftleft(shiftright(buckets(i), j).bitwiseAND(lit(1L)), j * k + i))
      .reduce((a, b) => a.bitwiseOR(b))
  }
}

class SnapshotStore(protected val spark: SparkSession, val basePath: String,
    val keyCol: String) extends VersionedStore {

  private def dir(version: Long): String = s"$basePath/v=$version"
  protected def versionDir(v: Long): Path = new Path(dir(v))

  def layout: String = "snapshot"

  def withKeyCol(key: String): SnapshotStore = new SnapshotStore(spark, basePath, key)

  /** Atomic snapshot publish through [[publish]]: the frame lands in a
    * staging sibling, which one rename makes `v=<version>`. A crash
    * mid-write leaves only a `.tmp-` dir, which `versions()` never
    * lists, so readers can never observe a partial snapshot as a valid
    * version.
    *
    * `commitTs` (epoch millis, default now) is recorded in a
    * `_commit_ts` sidecar inside the staged version, so it publishes
    * atomically with the data — the timestamp [[readAsOf]] resolves
    * against. Pass it explicitly to backdate reproducible stores
    * (tests, replays); production writers take the default. */
  def write(df: DataFrame, version: Long, commitTs: Option[Long] = None): Unit =
    write(df, version, commitTs, None)

  /** [[write]] that additionally STAGES a zone map over `zmCols`
    * inside the tmp dir, so version + map publish in one rename —
    * the landing [[writeRangePartitioned]]/[[writeZOrdered]] use. */
  private def write(df: DataFrame, version: Long, commitTs: Option[Long],
      zmCols: Option[Seq[String]]): Unit = {
    val tmp = stage(version)
    enforceConstraints(df, "write")
    // a partitioned store splits ANY landing one-tuple-per-file (the
    // caller's row arrangement is preserved within each tuple); an
    // unpartitioned store lands the frame's files verbatim
    val names = landFlat(df, tmp)
    // a PARTITIONED store's version must always carry its zone map
    // (the partition verbs' contract) — a plain full-replace write on
    // one stages the partition stats even when the caller asked for
    // no extra zmCols
    val effectiveZm = zmCols.orElse(
      Option(storedPartitionBy()).filter(_.nonEmpty))
    // numOutputRows is the history row's own n_rows (footer-counted
    // at noteCommit) — recording it again here would be a recompute
    publish(version, tmp, Some(names),
      zmCols = effectiveZm.map(cols =>
        (cols ++ storedPartitionBy()).distinct.filterNot(_ == keyCol)),
      commitTs = commitTs, op = "write",
      metrics = Map("numFiles" -> names.size.toLong))
  }

  /** A fresh staging directory for `version`, the one [[publish]]
    * turns into `v=<version>`. */
  private def stage(version: Long): Path =
    new Path(s"$basePath/.tmp-v=$version-${java.util.UUID.randomUUID()}")

  /** Publish the version staged in `tmp` as `toVersion` — this
    * layout's one commit path, [[ManifestStore.publish]]'s twin. Beside
    * the part files a landing wrote into `tmp` (`landed`; None when
    * nothing landed, so the directory and its `_SUCCESS` marker are
    * made here), the `carried` files (and a `_dv` directory) of the
    * source version byte-copy in under their basenames. The zone map
    * stages inside: the source's `zm` rows for the carried files (see
    * [[carriedZoneMap]]) plus fresh stats over the landed files under
    * `zmCols` (default: `zm`'s stats columns). So do the deletion
    * vector, the commit timestamp, the evolved schema and the
    * operation stamp, and one CAS rename makes the whole version live
    * ([[CommitProtocol]]: exactly one concurrent publisher of
    * `toVersion` wins; the rest throw [[VersionConflictException]]).
    * `fresh`: the landed files' stats rows when the caller already
    * computed them. `statsFrom`: the history entry reuses that
    * version's statistics; otherwise a version publishing a zone map
    * over every one of its files takes its file and row counts from
    * the zone-map rows in hand (zone maps count stored rows, as the
    * footers do), any other rebuilds from the files.
    *
    * `inPlace` (compaction: it rewrites a version's layout, not its
    * identity) swaps `tmp` for the existing `toVersion` instead: move
    * the live dir aside, move `tmp` in, drop the old dir. A crash
    * before the final step leaves either the original version live or
    * (between the two renames) the `.old-` dir intact for manual
    * recovery; `versions()` never lists a partial dir. */
  private def publish(toVersion: Long, tmp: Path, landed: Option[Set[String]],
      carried: Seq[Path] = Nil, zm: Option[DataFrame] = None,
      zmCols: Option[Seq[String]] = None, dv: Option[DataFrame] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      commitTs: Option[Long] = None, op: String = "unknown", opParams: String = "",
      statsFrom: Option[Long] = None, metrics: Map[String, Long] = Map.empty,
      inPlace: Boolean = false, fresh: Option[DataFrame] = None): Unit = {
    if (landed.isEmpty) {
      fs.mkdirs(tmp)
      fs.create(new Path(tmp, "_SUCCESS"), true).close()
    }
    val conf = spark.sparkContext.hadoopConfiguration
    carried.foreach(p =>
      org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, new Path(tmp, p.getName), false, conf))
    dv.foreach(_.select("file", "pos").coalesce(1).write.mode("overwrite")
      .parquet(new Path(tmp, "_dv").toString))
    val ts = commitTs.getOrElse(System.currentTimeMillis())
    writeCommitTs(tmp, ts)
    schema.foreach(Sidecars.writeSchema(fs, tmp, _))
    val landedZm = fresh.orElse(for {
      names <- landed.filter(_.nonEmpty)
      cols <- zmCols.orElse(zm.map(statsColsOf))
    } yield zmNewStats(tmp, names, cols))
    val staged = (zm ++ landedZm).reduceOption(unionLocal)
      .map(z => z.schema -> stageZoneMap(tmp, toVersion, z))
    val zmRows = staged.map(_._2)
    // the published zone map's rows seed the cache its reads go through
    def seedZoneMap(): Unit = staged.foreach { case (sc, rows) =>
      val d = zmapDir(toVersion)
      ManifestCache.seed(d.toString, toVersion, fs.listStatus(d).toSeq, sc, rows)
    }
    val dest = new Path(dir(toVersion))
    if (inPlace) {
      val old = new Path(s"$basePath/.old-v=$toVersion-${java.util.UUID.randomUUID()}")
      if (!fs.rename(dest, old))
        throw new java.io.IOException(s"$op: move-aside failed: $dest -> $old")
      if (!fs.rename(tmp, dest)) {
        fs.rename(old, dest) // roll back to the original version
        throw new java.io.IOException(s"$op: publish failed: $tmp -> $dest")
      }
      fs.delete(old, true)
      seedZoneMap()
      // the version's files changed in place: its checkpoint row (and
      // the successor's bytes-added diff) are stale
      invalidateHistoryCkpt()
    } else {
      ensureStoreMeta()
      // the operation stamp lands atomically WITH the version —
      // DESCRIBE HISTORY's verb and the verb's own row/file counts
      SnapshotStore.writeOpSidecar(fs, tmp, op, opParams, metrics)
      val token = CommitProtocol.writeToken(fs, tmp)
      CommitProtocol.publish(fs, tmp, dest, token, s"$op to v$toVersion on $basePath")
      seedZoneMap()
      // a stats-carry commit shares the source's file CONTENT, so
      // counts/rows reuse its checkpoint entry instead of re-opening
      // every footer. Bytes are not carried: they come from the
      // basename diff against the predecessor (a restore physically
      // lands its files again; rename/widen keep the basenames, 0)
      val files = landed.getOrElse(Set.empty[String]) ++
        carried.map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
      noteCommit(toVersion, statsFrom,
        _.copy(commitTs = ts, bytes = commitBytesRaw(toVersion), op = op,
          opParams = opParams, metrics = metrics),
        zmRows.filter(rows => rows.length == files.size && rows.map { r =>
            val f = r.getAs[String]("file")
            f.substring(f.lastIndexOf('/') + 1)
          }.toSet == files)
          .fold(computeHistoryEntry(toVersion))(rows => SnapshotStore.HistoryEntry(ts,
            files.size.toLong, rows.map(_.getAs[Long]("n_rows")).sum,
            commitBytesRaw(toVersion), op, opParams, metrics)))
    }
  }

  private def writeCommitTs(versionDir: Path, ts: Long): Unit = {
    val out = fs.create(new Path(versionDir, "_commit_ts"), true)
    try out.writeUTF(ts.toString) finally out.close()
  }

  /** `zm`'s rows (a source version's zone map) for the files named in
    * `keep`, re-homed from `fromVersion` onto `toVersion` — the
    * carried half of every incremental zone map. */
  private def carriedZoneMap(zm: DataFrame, fromVersion: Long, toVersion: Long,
      keep: Set[String]): DataFrame =
    zm.filter(regexp_extract(col("file"), "[^/]+$", 0).isin(keep.toSeq: _*))
      .withColumn("file",
        regexp_replace(col("file"), s"/v=$fromVersion/", s"/v=$toVersion/"))

  /** The part files directly inside `dir`, by name. */
  private def partNames(dir: Path): Set[String] =
    fs.listStatus(dir).map(_.getPath.getName).filter(_.startsWith("part-")).toSet

  protected def storedSchema(version: Long): org.apache.spark.sql.types.StructType =
    evolvedSchema(version).getOrElse(ParquetSchemas.schema(spark, dir(version)))

  /** One listing of the (flat) version dir serves both halves: the
    * schema is that listing's footer pick, the one [[storedSchema]]'s
    * own listing makes. */
  override protected def schemaAndPaths(version: Long)
      : (org.apache.spark.sql.types.StructType, Seq[String]) = {
    val listing = fs.listStatus(new Path(dir(version))).toSeq
    (evolvedSchema(version).orElse(ParquetSchemas.ofFiles(spark, listing))
      .getOrElse(ParquetSchemas.schema(spark, dir(version))),
      listing.map(_.getPath).filter(_.getName.startsWith("part-")).map(_.toString))
  }

  /** The zone map, or for a version without one its files' footers. */
  protected def fileEntries(version: Long): DataFrame =
    zoneMap(version).getOrElse(landedStats(dataFiles(version), Nil))

  /** The rewrite commit on this layout: the landing goes into the
    * staged version dir ([[landFlat]], which keeps a zero-row file: it
    * carries the schema) with zone-map rows from its footers, every
    * carried data file byte-copies in under its own name with its
    * zone-map row, one rename publishes. A source without a zone map
    * publishes none. */
  protected def commitRewrite(fromVersion: Long, toVersion: Long, entries: DataFrame,
      carried: Seq[String], landing: Option[DataFrame], dv: Option[DataFrame],
      schema: org.apache.spark.sql.types.StructType, sidecar: Boolean,
      commitTs: Option[Long], op: String, opParams: String,
      metrics: (Int, Long) => Map[String, Long]): Int = {
    val zm = Some(entries).filter(_ => fs.exists(new Path(zmapDir(fromVersion), "_SUCCESS")))
    val tmp = stage(toVersion)
    val names = landing.map(landFlat(_, tmp))
    val landed = names.filter(_.nonEmpty).map(zmNewStats(tmp, _,
      zm.fold(Seq.empty[String])(statsColsOf)))
    val nLanded = names.fold(0)(_.size)
    publish(toVersion, tmp, names, carried.map(new Path(_)),
      zm = zm.map(carriedZoneMap(_, fromVersion, toVersion, carried.map(fileName).toSet)),
      dv = dv, schema = Some(schema).filter(_ => sidecar || carried.size + nLanded == 0),
      commitTs = commitTs, op = op, opParams = opParams,
      metrics = metrics(nLanded, landed.fold(0L)(rowTotal)),
      fresh = landed.filter(_ => zm.isDefined))
    nLanded
  }

  /** The carry publish as a byte-carry: every data file, the deletion
    * vector's directory and the zone map's rows copy into `toVersion`
    * under their own names. */
  protected def publishCarry(fromVersion: Long, toVersion: Long,
      schema: Option[org.apache.spark.sql.types.StructType], dropStats: Seq[String],
      commitTs: Option[Long], op: String, opParams: String): Unit = {
    val listing = fs.listStatus(new Path(dir(fromVersion))).toSeq.map(_.getPath)
    val files = listing.filter(_.getName.startsWith("part-"))
    val zm = zoneMap(fromVersion).map { z =>
      val keep = z.columns.toSeq.filterNot(c =>
        dropStats.exists(dc => c == s"min_$dc" || c == s"max_$dc"))
      carriedZoneMap(z.select(keep.map(col): _*), fromVersion, toVersion,
        files.map(_.getName).toSet)
    }
    publish(toVersion, stage(toVersion), None,
      carried = files ++ listing.filter(_.getName == "_dv"), zm = zm,
      schema = schema.orElse(evolvedSchema(fromVersion)), commitTs = commitTs,
      op = op, opParams = opParams, statsFrom = Some(fromVersion))
  }

  /** DEEP CLONE to a new table at `dstBase`, this layout's way: each
    * version is a self-contained directory, so the clone's version 1
    * is a byte-copy of the source version dir — data files, zone map,
    * schema sidecar carry verbatim under the same basenames, no
    * parquet decode — plus a fresh `_store.json`. O(version bytes) by
    * construction; the zero-copy shallow clone is the linked layout's
    * [[ManifestStore.cloneTo]]. Same tmp+rename publish discipline as
    * [[write]]: a crash leaves only a `.tmp-` dir at the target. */
  def cloneTo(dstBase: String, fromVersion: Long,
      commitTs: Option[Long] = None): SnapshotStore = {
    require(keyCol.nonEmpty, "cloneTo needs the source's key column")
    require(hasVersion(fromVersion), s"version $fromVersion does not exist")
    val conf = spark.sparkContext.hadoopConfiguration
    val dfs = new Path(dstBase).getFileSystem(conf)
    val dst = new SnapshotStore(spark, dstBase, keyCol)
    require(dst.versions().isEmpty, s"clone target $dstBase already has versions")
    dfs.mkdirs(new Path(dstBase))
    val tmp = new Path(s"$dstBase/.tmp-v=1-${java.util.UUID.randomUUID()}")
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(dir(fromVersion)), dfs, tmp,
      false, conf)
    // the zone map stores ABSOLUTE file URIs (readWhere opens them):
    // re-home each entry onto the clone's v=1 by basename, or pruned
    // reads on the clone would open the SOURCE's files
    zoneMap(fromVersion).foreach(_.withColumn("file",
        concat(lit(s"$dstBase/v=1/"), element_at(split(col("file"), "/"), -1)))
      .coalesce(1).write.mode("overwrite")
      .parquet(new Path(tmp, "_zonemap").toString))
    commitTs.foreach { ts =>
      val out = dfs.create(new Path(tmp, "_commit_ts"), true)
      try out.writeUTF(ts.toString) finally out.close()
    }
    dst.ensureStoreMeta()
    val dest = new Path(s"$dstBase/v=1")
    if (!dfs.rename(tmp, dest))
      throw new java.io.IOException(s"clone publish failed: rename $tmp -> $dest")
    dst
  }

  /** When `version` was committed (epoch millis): the `_commit_ts`
    * sidecar when present, else the `_SUCCESS` marker's filesystem
    * mtime (pre-sidecar stores stay resolvable — mtime is exactly the
    * publish rename time on a store that was never copied). */
  def commitTimestamp(version: Long): Long =
    SnapshotStore.readHistoryCkpt(fs, basePath).get(version).map(_.commitTs)
      .getOrElse(commitTimestampRaw(version))

  private def commitTimestampRaw(version: Long): Long = {
    val sidecar = new Path(dir(version), "_commit_ts")
    if (fs.exists(sidecar)) {
      val in = fs.open(sidecar)
      try in.readUTF().toLong finally in.close()
    } else fs.getFileStatus(new Path(dir(version), "_SUCCESS")).getModificationTime
  }

  /** Timestamp-resolved [[restoreAndValidate]]: restore the snapshot
    * live at `ts` to `targetPath` and validate the copy. */
  def restoreAndValidateAsOf(ts: Long, targetPath: String,
      partCols: Seq[String], fp: DataFrame => Column): DataFrame =
    restoreAndValidate(readAsOfResolved(ts)._1, targetPath, partCols, fp)

  /** [[write]] with a data-skipping layout: rows range-partitioned by
    * the business key into ~`numFiles` files, sorted within each, plus
    * a zone map (per-file key min/max) built after publish. Each file
    * then owns a disjoint key range, so a keyed restore or diff reads
    * only the overlapping files ([[readKeyRange]]) instead of scanning
    * the whole snapshot — at 100 TB the difference between "restore
    * one partition" costing one file-set and costing the lake.
    * `repartitionByRange` is one shuffle at write time, paid once per
    * snapshot; the in-file sort additionally tightens parquet
    * row-group stats for predicate pushdown within a file. */
  def writeRangePartitioned(df: DataFrame, version: Long, numFiles: Int,
      statsCols: Seq[String] = Nil, commitTs: Option[Long] = None): Unit = {
    write(df.repartitionByRange(numFiles, col(keyCol)).sortWithinPartitions(keyCol),
      version, commitTs, Some(statsCols))
  }

  /** [[write]] with a HASH-BUCKETED layout — the co-location contract
    * behind STORAGE-PARTITIONED JOINS: rows land in exactly `buckets`
    * files, file `i` holding the rows with `pmod(murmur3(key), buckets)
    * == i` (Spark's own bucket function — `repartition(n, col)` IS
    * HashPartitioning, the same partitionIdExpression bucketed tables
    * use), key-sorted within, each file named with Spark's bucketed
    * suffix (`..._0000i.parquet`). The SQL catalog then serves the
    * version as a bucketed relation whose scan reports
    * `HashPartitioning(key, buckets)` — two stores bucketed to the
    * same count join on the key with ZERO Exchange on either side
    * (and zero Sort: one file per bucket, pre-sorted), the plan
    * `ScaleJoins.colocatedJoin` proves outside the catalog. At 100 TB
    * this is the difference between a store⋈store fact join shuffling
    * both sides and shuffling neither. The declaration persists in
    * `_bucket.json`; verbs that land non-bucketed files (mergeDelta,
    * compact) simply fail the read gate and the version serves through
    * the plain route — re-bucket with a fresh [[writeBucketed]]. */
  def writeBucketed(df: DataFrame, version: Long, buckets: Int,
      statsCols: Seq[String] = Nil, commitTs: Option[Long] = None): Unit = {
    require(buckets > 0, s"writeBucketed: bucket count must be positive, got $buckets")
    require(storedPartitionBy().isEmpty,
      "writeBucketed: this store declares partition columns — bucket and " +
        "partition layouts are exclusive per store")
    requireFreeVersion(version)
    SnapshotStore.writeStoredBucketBy(fs, basePath, keyCol, buckets,
      canRedeclare = versions().isEmpty)
    enforceConstraints(df, "writeBucketed")
    val tmp = stage(version)
    df.repartition(buckets, col(keyCol)).sortWithinPartitions(keyCol)
      .write.mode("overwrite").parquet(tmp.toString)
    // the writer names files part-<partitionId>-<uuid>...: the leading
    // number IS the bucket id (partition i of an explicit repartition).
    // Re-name to Spark's bucketed convention so FileSourceScanExec
    // (and the catalog gate) can parse the id back out of the name.
    val names = fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.startsWith("part-")).map { p =>
        val b = p.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt
        require(b < buckets, s"writeBucketed: task id $b >= $buckets in ${p.getName}")
        val (stem, ext) = p.getName.span(_ != '.')
        val renamed = f"${stem}_$b%05d$ext"
        if (!fs.rename(p, new Path(tmp, renamed)))
          throw new java.io.IOException(s"bucketed landing rename failed for $p")
        renamed
      }.toSet
    publish(version, tmp, Some(names),
      zmCols = Some(statsCols.distinct.filterNot(_ == keyCol)).filter(_ => statsCols.nonEmpty),
      commitTs = commitTs, op = "writeBucketed", opParams = s"$buckets buckets by $keyCol")
  }

  /** Publish `version` as an EMPTY table of `schema` — SQL `CREATE
    * TABLE`'s landing for this layout. The version dir holds one
    * schema-carrying footer-only parquet file (Spark forces a single
    * write task for an empty frame, exactly so the schema survives)
    * plus an empty zone map, so the first [[mergeDelta]]
    * (INSERT/CTAS) finds the zone map it requires, rewrites nothing,
    * and lands the initial rows as version+1. The declared schema
    * must carry the store's key column. */
  def createEmpty(schema: org.apache.spark.sql.types.StructType, version: Long = 1L,
      commitTs: Option[Long] = None): Unit = {
    requireFreeVersion(version)
    require(schema.fieldNames.contains(keyCol),
      s"createEmpty: declared schema ${schema.fieldNames.mkString("(", ",", ")")} " +
        s"lacks the store key column '$keyCol'")
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    // a pre-declared partition spec (CREATE TABLE ... PARTITIONED BY)
    // seeds the zone map with the partition stats columns, so the
    // first INSERT's mergeDelta records them for its new files
    writeRangePartitioned(empty, version, 1,
      statsCols = storedPartitionBy(), commitTs = commitTs)
  }

  /** [[write]] with a MULTI-column clustering layout: rows ordered by
    * the Z-order (Morton) interleave of `zCols`, range-partitioned into
    * ~`numFiles` files, plus a zone map carrying per-file min/max for
    * EVERY clustered column. Where [[writeRangePartitioned]] makes one
    * column's ranges disjoint per file (perfect pruning on the key,
    * none on anything else), Z-ordering makes every clustered column
    * LOCALLY narrow in every file — a restore filtered on ANY of the
    * clustered dimensions skips most files ([[readWhere]] /
    * [[readWhereAll]]), the hierarchical-zone-map layout Delta/Iceberg
    * users reach for on 100 TB fact tables queried by more than one
    * dimension.
    *
    * The z-value is LAYOUT ONLY: each column is scaled to a 16-bit
    * bucket by its global min/max (one tiny aggregate), buckets are
    * bit-interleaved, and rows sort by the interleave. Pruning
    * correctness never depends on the z-math — the zone map records the
    * TRUE per-file min/max of each column, and [[readWhere]] filters
    * exactly. A degenerate z-value only costs skipping efficiency.
    * Columns must be numeric/temporal (bucketing needs an order-
    * preserving cast to double); nulls bucket to 0 and never prune
    * wrongly (zone-map rule: null bounds keep the file). */
  def writeZOrdered(df: DataFrame, version: Long, numFiles: Int,
      zCols: Seq[String], commitTs: Option[Long] = None): Unit = {
    val pcs = storedPartitionBy()
    val overlap = zCols.filter(pcs.contains)
    require(overlap.isEmpty,
      s"writeZOrdered: ${overlap.mkString(", ")} are partition columns — constant " +
        "within every file already; z-order the finer dimensions instead")
    // partitioned: OPTIMIZE ZORDER BY — range split over (tuple, z),
    // landFlat's hive stage keeps one tuple per file, each partition's
    // files cover contiguous z ranges (see ManifestStore.writeZOrdered)
    val zc = ZOrder.zColumn(df, zCols)
    val arranged =
      if (pcs.isEmpty)
        df.withColumn("__z", zc)
          .repartitionByRange(numFiles, col("__z")).sortWithinPartitions("__z")
          .drop("__z")
      else
        df.withColumn("__z", zc)
          .repartitionByRange(numFiles, (pcs.map(col) :+ col("__z")): _*)
          .sortWithinPartitions((pcs.map(col) :+ col("__z")): _*)
          .drop("__z")
    write(arranged, version, commitTs,
      Some((zCols ++ pcs).filterNot(_ == keyCol).distinct))
  }

  /** Restore under a CONJUNCTION of range predicates: rows of `version`
    * satisfying every `(column, lo, hi)`. Files are pruned by the
    * INTERSECTION of each predicate's zone-map survivor set (a file
    * must overlap every range to contain a qualifying row) — on a
    * z-ordered layout each dimension independently eliminates files,
    * so the conjunction reads the small corner both predicates carve
    * out. Falls back per-column to "no pruning" when stats are absent;
    * result always equals the full-scan filter. */
  def readWhereAll(version: Long, preds: Seq[(String, Any, Any)]): DataFrame = {
    require(preds.nonEmpty, "readWhereAll needs at least one predicate")
    val filter = preds.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi) }.reduce(_ && _)
    // a DERIVED temporal column may be hidden by the version's evolved
    // read schema even though the files carry it (CREATE TABLE chains
    // pin the declared columns): recompute it from its source for the
    // residual filter, then drop the synthesized copy
    val specs = storedPartitionSpecs().filter(_.transform.isDefined)
    def filteredOver(df: DataFrame): DataFrame = {
      val synth = preds.map(_._1).distinct
        .filterNot(df.columns.contains)
        .flatMap(c => specs.find(_.name == c))
      val derived = synth.foldLeft(df)((d, sp) =>
        d.withColumn(sp.name, SnapshotStore.deriveColumn(sp)))
      synth.map(_.name).foldLeft(derived.filter(filter))(_ drop _)
    }
    val survivorSets = preds.flatMap { case (c, lo, hi) => prunedFilesBy(version, c, lo, hi) }
    if (survivorSets.isEmpty) filteredOver(read(version))
    else {
      val files = survivorSets.map(_.toSet).reduce(_ intersect _)
      if (files.isEmpty) emptyRead(version)
      else filteredOver(readDataFiles(version, files.toSeq))
    }
  }


  /** BLOOM FILTER INDEX — [[ManifestStore.buildBloomIndex]]'s
    * dir-per-version twin: one filter per data file over `column`
    * (string-uniform), sized by each file's parquet footer row count,
    * persisted as a `_bloom_<col>` sidecar inside the version dir. */
  def buildBloomIndex(version: Long, column: String, fpp: Double = 0.01): Unit = {
    val parts = fs.listStatus(new Path(dir(version))).map(_.getPath)
      .filter(_.getName.startsWith("part-")).toSeq
    require(parts.nonEmpty, s"buildBloomIndex: version $version has no files")
    val conf = spark.sparkContext.hadoopConfiguration
    val expected = parts.map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try p.getName -> math.max(r.getRecordCount, 1L) finally r.close()
    }.toMap
    // RAW scan, deliberately unmasked: a DV-masked row left in the
    // filter is only a possible false positive (the probe re-filters
    // on the MASKED read), and input_file_name() needs a single-source
    // plan the masked anti-join cannot provide
    val sc0 = evolvedSchema(version)
    val raw0 = sc0.map(x => spark.read.schema(SnapshotStore.physicalSchema(x))
        .parquet(parts.map(_.toString): _*))
      .getOrElse(ParquetSchemas.readFiles(spark, parts.map(_.toString).toSeq))
    val raw = sc0.map(SnapshotStore.toLogical(raw0, _)).getOrElse(raw0)
    require(raw.columns.contains(column), s"buildBloomIndex: no column '$column'")
    import org.apache.spark.sql.Encoders
    val pairs = raw.select(
        element_at(split(input_file_name(), "/"), -1).as("__f"),
        col(column).cast("string").as("__v"))
      .as(Encoders.tuple(Encoders.STRING, Encoders.STRING))
    val fppLocal = fpp
    val blooms = pairs.groupByKey(_._1)(Encoders.STRING)
      .mapGroups { (f, it) =>
        val bf = org.apache.spark.util.sketch.BloomFilter.create(
          expected.getOrElse(f, 1000L), fppLocal)
        it.foreach { case (_, v) => if (v != null) bf.putString(v) }
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (f, bos.toByteArray)
      }(Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .toDF("file", "bloom")
    blooms.coalesce(1).write.mode("overwrite")
      .parquet(bloomDir(version, column).toString)
  }

  /** `_zonemap` starts with '_' so Spark's file listing hides it from
    * plain `read(version)` scans — the zone map rides inside the
    * version dir without polluting it. */
  private def zmapDir(version: Long): Path = new Path(dir(version), "_zonemap")

  /** (Re)build the per-file zone map of a committed version: one scan
    * of the stat'd columns only (pruned read), output |files| tiny
    * rows. Beyond the key, `statsCols` get min/max columns too
    * (`min_<c>`/`max_<c>`), so restores filtered on a NON-key column
    * can still skip files ([[readWhere]]) — worthwhile exactly when
    * the column correlates with the key order (timestamps vs
    * monotonically assigned ids, the common lake case). Stats cover
    * the STORED rows, as every commit's zone map does: a deletion
    * vector masks rows, not the files' counts and bounds. */
  def buildZoneMap(version: Long, statsCols: Seq[String] = Nil): Unit =
    statsQuery(recomputeDerived(unmasked(Seq(dir(version)), evolvedSchema(version))),
      statsCols.filterNot(_ == keyCol))
      .coalesce(1).write.mode("overwrite").parquet(zmapDir(version).toString)

  /** The version's zone map, if one was built: |files| rows served
    * through [[ManifestCache]] (self-validating by listing; a publish
    * seeds it with the rows it staged), so the next commit's probe and
    * carry and the readers' pruning run no job over it. */
  def zoneMap(version: Long): Option[DataFrame] = {
    val d = zmapDir(version)
    if (!fs.exists(new Path(d, "_SUCCESS"))) None
    else Some(ManifestCache.read(spark, fs, d.toString, version, d))
  }

  /** Files whose stats range for `column` overlaps [lo, hi] — None
    * when the version has no zone map or no stats for that column.
    * The overlap test runs typed through Catalyst (`lit(lo)` adopts
    * the column's native ordering). A null stats bound (all-null file
    * column) keeps the file — never prune on missing information. */
  def prunedFilesBy(version: Long, column: String, lo: Any, hi: Any): Option[Seq[String]] = {
    // zone-map stats describe the STORED (physical) columns — a
    // metadata-only rename translates the lookup, not the sidecar
    val phys = if (column == keyCol) column
      else SnapshotStore.physicalOf(evolvedSchema(version), column)
    val (minC, maxC) =
      if (column == keyCol) ("min_key", "max_key") else (s"min_$phys", s"max_$phys")
    zoneMap(version)
      .filter(zm => zm.columns.contains(minC) && zm.columns.contains(maxC))
      .map(_.filter(!(col(maxC) < lit(lo) || col(minC) > lit(hi)) ||
          col(minC).isNull || col(maxC).isNull)
        .select("file").collect().map(_.getString(0)).toSeq)
  }

  /** Files whose key range overlaps [lo, hi] — see [[prunedFilesBy]]. */
  def prunedFiles(version: Long, lo: Any, hi: Any): Option[Seq[String]] =
    prunedFilesBy(version, keyCol, lo, hi)

  /** Restore filtered on ANY stats-mapped column: rows of `version`
    * with `column` in [lo, hi], reading only zone-map-overlapping
    * files when stats exist (falls back to a full scan + filter —
    * same result, no skip). */
  def readWhere(version: Long, column: String, lo: Any, hi: Any): DataFrame = {
    val pred = col(column) >= lit(lo) && col(column) <= lit(hi)
    prunedFilesBy(version, column, lo, hi) match {
      case Some(files) if files.isEmpty =>
        // provably no overlapping file: an empty frame, no scan planned
        emptyRead(version)
      case Some(files) => readDataFiles(version, files).filter(pred)
      case None => read(version).filter(pred)
    }
  }

  /** Keyed restore: rows of `version` with key in [lo, hi] — see
    * [[readWhere]]. */
  def readKeyRange(version: Long, lo: Any, hi: Any): DataFrame =
    readWhere(version, keyCol, lo, hi)

  /** Land `df`'s part files FLAT into `tmp` (the version dir under
    * construction) and return their names. Partitioned stores stage
    * hive-style on duplicated `__gp_<col>` directory columns (the
    * originals stay in the data — files remain self-contained) and the
    * leaves move flat under fresh `part-…` names, so the version dir
    * keeps the layout every reader/lister of this store assumes. */
  private def landFlat(df0: DataFrame, tmp: Path): Set[String] = {
    val pcs = storedPartitionBy()
    if (pcs.isEmpty) {
      df0.write.mode("overwrite").parquet(tmp.toString)
      partNames(tmp)
    } else {
      val df = deriveParts(df0)
      val stage = new Path(s"$basePath/.tmp-stage-${java.util.UUID.randomUUID()}")
      val dup = pcs.foldLeft(df)((d, c) => d.withColumn(s"__gp_$c", col(c)))
      dup.write.mode("overwrite")
        .partitionBy(pcs.map("__gp_" + _): _*).parquet(stage.toString)
      fs.mkdirs(tmp)
      val it = fs.listFiles(stage, true)
      val parts = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.startsWith("part-")).toIndexedSeq
      val names = parts.map { p =>
        val name = s"part-${java.util.UUID.randomUUID().toString.take(12)}-${p.getName.take(10)}.parquet"
        if (!fs.rename(p, new Path(tmp, name)))
          throw new java.io.IOException(s"partitioned landing rename failed for $p")
        name
      }
      fs.delete(stage, true)
      // an EMPTY frame writes no partition dirs at all — land its
      // schema-carrying footer-only file flat instead (createEmpty's
      // contract: a zero-row version must still declare its schema)
      val schemaNames =
        if (names.nonEmpty) Set.empty[String]
        else {
          val flat = new Path(s"$basePath/.tmp-stage-${java.util.UUID.randomUUID()}")
          df.limit(0).write.mode("overwrite").parquet(flat.toString)
          val moved = fs.listStatus(flat).map(_.getPath)
            .filter(_.getName.startsWith("part-")).map { p =>
              if (!fs.rename(p, new Path(tmp, p.getName)))
                throw new java.io.IOException(s"empty landing rename failed for $p")
              p.getName
            }.toSet
          fs.delete(flat, true)
          moved
        }
      fs.create(new Path(tmp, "_SUCCESS"), true).close()
      names.toSet ++ schemaNames
    }
  }

  /** First write of a PARTITIONED table on this layout —
    * [[ManifestStore.writePartitioned]]'s dir-per-version twin:
    * declares `partCols`, lands one-partition-tuple-per-file, and
    * builds a zone map whose partition-column stats are exact
    * (min==max), so partition predicates prune exactly through the
    * existing [[readWhere]]/[[prunedFilesBy]] machinery. `statsCols`
    * adds further zone-mapped columns beyond the partition spec. */
  def writePartitioned(df: DataFrame, version: Long, partCols: Seq[String],
      filesPerPartition: Int = 1, statsCols: Seq[String] = Nil,
      commitTs: Option[Long] = None): Unit = {
    requireFreeVersion(version)
    require(partCols.nonEmpty, "writePartitioned: no partition columns")
    require(!partCols.contains(keyCol),
      s"writePartitioned: '$keyCol' is the store key — zone-map key envelopes " +
        "already prune it; partition on a coarser dimension")
    val specs = partCols.map(SnapshotStore.parsePartitionSpec)
    val missing = specs.map(_.source).filterNot(df.columns.contains)
    require(missing.isEmpty, s"writePartitioned: not in the frame: ${missing.mkString(", ")}")
    specs.filter(_.transform.isDefined).map(_.name).filter(df.columns.contains)
      .foreach(n => throw new IllegalArgumentException(
        s"writePartitioned: derived partition column name '$n' collides with a " +
          "data column"))
    SnapshotStore.writeStoredPartitionBy(fs, basePath, partCols,
      canRedeclare = versions().isEmpty)
    enforceConstraints(df, "writePartitioned")
    val tmp = stage(version)
    val names = landFlat(arrange(df, filesPerPartition), tmp)
    require(names.nonEmpty, "writePartitioned: empty input frame")
    publish(version, tmp, Some(names),
      zmCols = Some((statsCols ++ specs.map(_.name)).distinct.filterNot(_ == keyCol)),
      commitTs = commitTs, op = "writePartitioned")
  }

  private def requirePartitionedZm(op: String, version: Long): (Seq[String], DataFrame) = {
    val pcs = storedPartitionBy()
    require(pcs.nonEmpty,
      s"$op needs a partitioned store — declare partition columns with writePartitioned")
    val zm = zoneMap(version).getOrElse(throw new IllegalStateException(
      s"$op needs version $version's zone map (writePartitioned builds it)"))
    (pcs, zm)
  }

  /** DYNAMIC PARTITION OVERWRITE — [[ManifestStore.replaceWhere]]'s
    * twin: partitions present in `data` are replaced wholesale;
    * untouched partitions carry as byte-copies (this layout's carry
    * contract — the zero-copy carry is the linked layout's). Returns
    * (filesCarried, filesReplaced, filesNew). */
  def replaceWhere(fromVersion: Long, toVersion: Long, data: DataFrame,
      filesPerPartition: Int = 1, commitTs: Option[Long] = None): (Int, Int, Int) = {
    val (pcs, zm0) = requirePartitionedZm("replaceWhere", fromVersion)
    requireFreeVersion(toVersion)
    requireUniformSpec(zm0, "replaceWhere")
    enforceConstraints(data, "replaceWhere")
    val zm = zm0.materialize()
    val data2 = deriveParts(data)
    val touched = data2.select(pcs.map(col): _*).distinct().materialize()
    // NULL-SAFE anti-join (<=>): a null partition tuple in `data` must
    // replace the existing null-tuple files like any other value — a
    // plain column-list join never matches nulls, which would KEEP the
    // old null-partition files AND land the new rows (duplication)
    val pe = partitionEntries(zm, pcs)
    val sharedNames = pe.join(touched,
        pcs.map(c => pe(c) <=> touched(c)).reduce(_ && _), "left_anti")
      .select("file").collect()
      .map(f => { val p = f.getString(0); p.substring(p.lastIndexOf('/') + 1) }).toSet
    val allParts = dataFiles(fromVersion)
    val tmp = stage(toVersion)
    val sc = evolvedSchema(fromVersion)
    val newNames = landFlat(arrange(
      sc.map(SnapshotStore.toPhysical(data2, _)).getOrElse(data2), filesPerPartition), tmp)
    val carriedParts = allParts.filter(p => sharedNames(p.getName))
    // zone map: carried entries re-home; only the new files scan
    publish(toVersion, tmp, Some(newNames), carriedParts,
      zm = Some(carriedZoneMap(zm, fromVersion, toVersion, sharedNames)),
      dv = carryDv(fromVersion, allParts.map(_.getName).toSet -- sharedNames,
        carriedParts.nonEmpty),
      schema = sc, commitTs = commitTs,
      op = "replaceWhere")
    (carriedParts.length, allParts.length - carriedParts.length, newNames.size)
  }

  /** Partition drop — [[ManifestStore.dropPartitions]]'s twin. On this
    * layout the survivors byte-copy into the new version dir (the
    * dir-per-version carry contract); the METADATA-ONLY drop is the
    * linked layout's. Null predicate rows are kept. Returns
    * (filesCarried, filesDropped, physicalRowsDropped). */
  def dropPartitions(fromVersion: Long, toVersion: Long, pred: Column,
      commitTs: Option[Long] = None): (Int, Int, Long) = {
    val (pcs, zm0) = requirePartitionedZm("dropPartitions", fromVersion)
    requireFreeVersion(toVersion)
    requireUniformSpec(zm0, "dropPartitions")
    val zm = zm0.materialize()
    val dropped = partitionEntries(zm, pcs).filter(coalesce(pred, lit(false)))
      .select(regexp_extract(col("file"), "[^/]+$", 0).as("name"), col("n_rows"))
      .materialize()
    val droppedNames = dropped.select("name").collect().map(_.getString(0)).toSet
    val rowsDropped = dropped.agg(coalesce(sum("n_rows"), lit(0L))).head().getLong(0)
    val allParts = dataFiles(fromVersion)
    val survivors = allParts.filterNot(p => droppedNames(p.getName))
    val kept = survivors.map(_.getName).toSet
    // dropping every partition legitimately empties the table: record
    // the schema sidecar so the zero-file version still plans
    val schema =
      if (survivors.isEmpty)
        evolvedSchema(fromVersion).orElse(Some(read(fromVersion).schema))
      else evolvedSchema(fromVersion)
    publish(toVersion, stage(toVersion), None, survivors,
      zm = Some(carriedZoneMap(zm, fromVersion, toVersion, kept)),
      dv = carryDv(fromVersion, droppedNames, survivors.nonEmpty), schema = schema,
      commitTs = commitTs,
      op = "dropPartitions")
    (survivors.length, droppedNames.size, rowsDropped)
  }

  /** Delta-driven restore read: rows of `version` whose key appears in
    * `keys` (a one-column frame of key values, e.g. a CDC delta's
    * keys). Stacks every pruning layer this store has, coarsest
    * first — the 100 TB read path for "give me these N keys out of a
    * snapshot":
    *
    *  1. FILE level: zone map limits the scan to files overlapping the
    *     delta's [min, max] key envelope ([[readKeyRange]]);
    *  2. ROW level: a Bloom filter of the delta keys, applied inside
    *     the scan's codegen, drops ~all non-matching rows BEFORE the
    *     join shuffle (BloomPrune — exchange carries ~|matches|, not
    *     |file subset|);
    *  3. EXACT: the semi-join removes Bloom false positives.
    *
    * Result is identical to `read(version).join(keys, semi)`
    * (spec-proven); only the cost differs. */
  def readForKeys(version: Long, keys: DataFrame,
      expectedItems: Long = 4L * 1000 * 1000, fpp: Double = 0.03): DataFrame = {
    val keyName = keys.columns.head
    val bounds = keys.agg(min(col(keyName)).as("lo"), max(col(keyName)).as("hi")).head()
    if (bounds.isNullAt(0)) return emptyRead(version)
    val ranged = readKeyRange(version, bounds.get(0), bounds.get(1))
    val pruned = org.apache.spark.sql.graft.BloomPrune.prune(
      ranged, col(keyCol), keys, col(keyName), expectedItems, fpp)
    pruned.join(keys.select(col(keyName).as(keyCol)).distinct(), Seq(keyCol), "left_semi")
  }

  /** Committed versions only: a `v=N` directory counts only if its
    * `_SUCCESS` marker exists (guards against partial dirs created by
    * external writers or pre-atomic layouts). */
  protected def hasVersion(version: Long): Boolean =
    fs.exists(new Path(dir(version), "_SUCCESS"))

  def versions(): Seq[Long] = {
    val base = new Path(basePath)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .flatMap(s => SnapshotStore.versionOf(s.getPath.getName))
      .filter(v => fs.exists(new Path(dir(v), "_SUCCESS")))
      .sorted
  }

  /** `paths` as stored, without the version's DV: read under the
    * physical names and projected to logical. */
  private def unmasked(paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    schema.fold(physical(paths, None))(x => SnapshotStore.toLogical(physical(paths, schema), x))

  /** `paths` under their stored names: `schema`'s physical names, or
    * the files' own schema. */
  private def physical(paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    schema.fold(ParquetSchemas.read(spark, paths: _*))(x =>
      spark.read.schema(SnapshotStore.physicalSchema(x)).parquet(paths: _*))

  /** `paths` read as `version` reads them under its evolved schema:
    * [[unmasked]] with the recorded fills, or through
    * [[withPositions]]' position mask when the version has a deletion
    * vector. */
  private def masked(version: Long, paths: Seq[String]): DataFrame = {
    val schema = evolvedSchema(version)
    recomputeDerived(dvFrame(version) match {
      case None => schema.fold(unmasked(paths, None))(sc => applyFills(unmasked(paths, schema), sc))
      case dv => withPositions(physical(paths, schema), dv, schema).drop("__f", "__p")
    })
  }

  def read(version: Long): DataFrame = masked(version, Seq(dir(version)))

  /** One version's checkpoint row REBUILT from its dir — the
    * self-heal / publish-time unit: commit ts from the sidecar (or
    * the `_SUCCESS` mtime for pre-sidecar dirs), file/row counts from
    * one listing + the files' parquet footers (driver-only, no job),
    * bytes = what the commit ADDED (new basenames vs predecessor). */
  protected def computeHistoryEntry(v: Long): SnapshotStore.HistoryEntry = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = fs.listStatus(new Path(dir(v)))
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
        && !f.getPath.getName.startsWith("."))
    val rows = files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
      try r.getRecordCount finally r.close()
    }.sum
    val (op, params, metrics) = SnapshotStore.readOpSidecar(fs, new Path(dir(v)))
    SnapshotStore.HistoryEntry(commitTimestampRaw(v), files.length.toLong, rows,
      commitBytesRaw(v), op, params, metrics)
  }

  /** Fill defaults recorded in an evolved schema's field metadata,
    * typed for `na.fill`. Applied uniformly at READ time, so a row
    * reads identically whether its file was rewritten by the evolving
    * merge or byte-carried from before the column existed — the only
    * policy a copy-on-write merge can honor without rewriting every
    * untouched file. (Like [[Snapshot.mergeUpsert]]'s `fill`, a null
    * EXPLICITLY stored in a delta row for the new column also reads
    * as the default.) */
  private def applyFills(df: DataFrame,
      sc: org.apache.spark.sql.types.StructType): DataFrame = {
    val fills = SnapshotStore.fillValues(sc)
    if (fills.isEmpty) df else df.na.fill(fills)
  }

  /** Read specific data files of a version through its evolved schema
    * (if any) — the shared reader under every pruned-file path, so a
    * zone-map-pruned restore sees the same columns a full read does. */
  protected def readDataFiles(version: Long, files: Seq[String]): DataFrame =
    masked(version, files)

  /** The version's data file paths — a metadata-only listing. File
    * identity is the incremental-maintenance contract: [[mergeDelta]]
    * byte-copies untouched files under the SAME basename, so a
    * basename present in two versions holds bit-identical rows —
    * what [[Similarity.updateIvfpqIndex]]-style consumers key on to
    * carry derived artifacts forward without rescanning. */
  def dataFiles(version: Long): Seq[Path] =
    fs.listStatus(new Path(dir(version))).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-"))

  def dataPaths(version: Long): Seq[String] = dataFiles(version).map(_.toString)

  /** Bytes a commit ADDED: sizes of the part files whose basename is
    * NEW vs the retained predecessor (byte-carried files share their
    * basename — [[mergeDelta]]'s identity contract). Metadata-only;
    * the change feed's byte-based admission control paces on it. */
  def commitBytes(version: Long): Long =
    SnapshotStore.readHistoryCkpt(fs, basePath).get(version).map(_.bytes)
      .getOrElse(commitBytesRaw(version))

  private def commitBytesRaw(version: Long): Long = {
    val prev = versions().filter(_ < version).lastOption
    val old = prev.map(p => dataFiles(p).map(_.getName).toSet)
      .getOrElse(Set.empty[String])
    dataFiles(version).filterNot(p => old(p.getName))
      .map(p => fs.getFileStatus(p).getLen).sum
  }

  def latest(): DataFrame = latestVersion() match {
    case Some(v) => read(v)
    case None => throw new IllegalStateException(
      s"snapshot store at $basePath has no committed versions")
  }

  /** Restore = read the chosen version (full snapshots make restore a
    * plain scan; callers re-write it wherever it needs to land). */
  def restore(version: Long): DataFrame = read(version)

  /** The reference's full backup→restore→verify loop in one call:
    * copy `version` to `targetPath`, then validate the copy with one
    * manifest join (per-partition counts + XOR content hashes — the
    * shuffle carries |partitions| rows, not |table|). Returns the
    * per-partition status report; a run is healthy iff every status
    * is "ok". `fp` must be an md5-hex fingerprint over the columns
    * that define row content. */
  def restoreAndValidate(version: Long, targetPath: String,
      partCols: Seq[String], fp: DataFrame => Column): DataFrame = {
    val src = read(version)
    src.write.mode("overwrite").parquet(targetPath)
    // read back under the schema it was just written with
    val dst = spark.read.schema(ParquetSchemas.asRead(src.schema)).parquet(targetPath)
    Snapshot.validateCopy(src, dst, partCols, col(keyCol), fp)
  }

  /** Stage `zm` as `tmp/_zonemap` before [[publish]]'s rename — written
    * on the driver from its rows ([[ParquetSchemas.writeRows]]),
    * re-homing any file path recorded under the tmp dir name to the
    * final `v=N` dir: the version and its zone map then go live in ONE
    * rename, so a crash between publish and map-write can no longer
    * leave a live partitioned version whose readers
    * ([[requirePartitionedZm]], pruning) throw until repaired. Returns
    * the staged rows. */
  private def stageZoneMap(tmp: Path, toVersion: Long, zm: DataFrame): Array[org.apache.spark.sql.Row] = {
    val at = zm.schema.fieldIndex("file")
    val (from, to) = (s"/${tmp.getName}/", s"/v=$toVersion/")
    val rows = zm.collect().map(r => new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      r.toSeq.updated(at, Option(r.getString(at)).map(_.replace(from, to)).orNull).toArray,
      zm.schema): org.apache.spark.sql.Row)
    ParquetSchemas.writeRows(spark, new Path(tmp, "_zonemap"), zm.schema, rows.toSeq)
    rows
  }

  /** Per-file zone-map stats for NEW files still inside a
    * not-yet-published tmp dir, from their footers ([[landedStats]] —
    * the incremental half every maintenance verb pairs with carried
    * entries). Partition-spec evolution: new files ALSO stat the
    * CURRENT spec's derived column (their prune axis) and stamp which
    * spec they landed under; never-evolved stores keep their exact
    * zone map schema (absent spec_id ≡ spec 0). */
  private def zmNewStats(tmp: Path, names: Set[String], statsCols: Seq[String]): DataFrame =
    landedStats(names.toSeq.sorted.map(new Path(tmp, _)), landingStatsCols(statsCols))

  protected def statsQuery(files: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = statAggs(cols)
    files.select((input_file_name().as("file") +: col(keyCol) +: cols.map(col)): _*)
      .groupBy("file").agg(aggs.head, aggs.tail: _*)
  }

  protected def statsFileName(p: Path): String = p.toUri.toString

  /** SOURCE-column time-range read over an EVOLVED partition spec —
    * [[ManifestStore.readSourceRange]]'s zone-map twin: every file
    * prunes through the spec IT was written under, by translating its
    * derived tuple to the covered source interval. */
  def readSourceRange(version: Long, source: String, lo: Any, hi: Any): DataFrame = {
    val (hist, _) = specHistory
    val zm = zoneMap(version).getOrElse(
      return read(version).filter(
        col(source).cast("timestamp") >= lit(lo).cast("timestamp") &&
        col(source).cast("timestamp") <= lit(hi).cast("timestamp")))
    val sid = specIdCol(zm)
    val specs = hist.map(_.map(SnapshotStore.parsePartitionSpec))
    val conds = specs.zipWithIndex.map { case (sps, id) =>
      sps.find(sp => sp.transform.isDefined && sp.source == source &&
          zm.columns.contains(s"min_${sp.name}")) match {
        case Some(sp) => sid === id && SnapshotStore.sourceRangeOverlap(sp,
          col(s"min_${sp.name}"), col(s"max_${sp.name}"), lo, hi)
        case None => sid === id // this spec cannot bound the source: keep
      }
    }
    val cond = if (conds.isEmpty) lit(true) else conds.reduce(_ || _)
    val hit = zm.filter(cond).select("file").collect().map(_.getString(0))
    val base = if (hit.isEmpty) emptyRead(version)
      else readDataFiles(version, hit.toIndexedSeq)
    base.filter(col(source).cast("timestamp") >= lit(lo).cast("timestamp") &&
      col(source).cast("timestamp") <= lit(hi).cast("timestamp"))
  }

  /** Row-level change classification between two versions:
    * `insert` (key only in `to`), `delete` (key only in `from`),
    * `update` (key in both, content fingerprint differs).
    * Unchanged rows are not emitted.
    *
    * Schema-evolution aware: fingerprints cover the COMMON non-key
    * columns of the two versions, so adding or dropping a column does
    * not flag every row as updated (it would, if each side hashed its
    * own full row). Column-level changes are reported separately by
    * [[schemaDiff]]. */
  def diff(fromVersion: Long, toVersion: Long): DataFrame =
    diffFrames(read(fromVersion), read(toVersion))

  /** [[diff]] in Delta's CDF shape — [[ManifestStore.diffCdf]]'s
    * dir-per-version twin: an updated key emits `update_preimage`
    * (old values) and `update_postimage` (new values) rows; inserts
    * and deletes are unchanged. The pre-image re-reads the from-side
    * for the updated keys only — on this layout the diff already
    * scans both versions in full, so the extra pass is bounded by the
    * update set, not the snapshot. */
  def diffCdf(fromVersion: Long, toVersion: Long): DataFrame =
    diffCdfFrom(diff(fromVersion, toVersion), read(fromVersion))

  /** [[diffCdf]] restricted to keys in [lo, hi] — [[diffKeyRange]]'s
    * CDF-shaped sibling: the diff AND the preimage/delete-value
    * re-reads are zone-map-pruned to the range (a key in range has
    * its old row in a range-overlapping file by definition). */
  def diffCdfKeyRange(fromVersion: Long, toVersion: Long, lo: Any, hi: Any): DataFrame =
    diffCdfFrom(diffKeyRange(fromVersion, toVersion, lo, hi),
      readKeyRange(fromVersion, lo, hi))

  private def diffCdfFrom(d0: DataFrame, fromSide: DataFrame): DataFrame = {
    // the plain diff is consumed three times below (update keys,
    // delete keys, post-image rows) — materialize it once instead of
    // re-running the fingerprint full-outer join per consumer; lazy,
    // so building the frame fires no jobs until a consumer executes
    val d = d0.materialize(eager = false)
    // Delta's CDF delete rows carry the DELETED row's values (the
    // pre-image) — this layout's plain diff emits key-only deletes,
    // so the old rows re-read keys-bounded from the from-side. ONE
    // pass serves both the update pre-images and the delete rows
    // (diff keys are unique, so the inner join ≡ the two semi-joins
    // it replaces row-for-row): the from-side was scanned twice here.
    val oldKeys = d.filter(col("change_type").isin("update", "delete"))
      .select(col(keyCol), col("change_type").as("__ct"))
    val oldRows = fromSide.join(oldKeys, Seq(keyCol))
      .withColumn("change_type",
        when(col("__ct") === "update", lit("update_preimage"))
          .otherwise(lit("delete")))
      .drop("__ct")
    d.filter(col("change_type") =!= "delete")
      .withColumn("change_type",
        when(col("change_type") === "update", lit("update_postimage"))
          .otherwise(col("change_type")))
      .unionByName(oldRows, allowMissingColumns = true)
  }

  /** [[diff]] restricted to keys in [lo, hi]: both sides read through
    * the zone map ([[readKeyRange]]), so diffing one key range of a
    * 100 TB snapshot pair costs only the overlapping files on each
    * side. Semantically identical to `diff(...).filter(key in range)`
    * (spec-proven) because a key outside the range can never pair with
    * one inside it. */
  def diffKeyRange(fromVersion: Long, toVersion: Long, lo: Any, hi: Any): DataFrame =
    diffFrames(readKeyRange(fromVersion, lo, hi), readKeyRange(toVersion, lo, hi))

  private def diffFrames(from: DataFrame, to: DataFrame): DataFrame = {
    val common = (from.columns.toSet intersect to.columns.toSet - keyCol).toSeq.sorted
    val fp: DataFrame => Column = df => Fx.fastFingerprint(common.map(df(_)): _*)
    val f = from.select(col(keyCol).as("__k"), fp(from).as("__fp_from"))
    val t = to.withColumn("__fp_to", fp(to))
    val joined = t.join(f, t(keyCol) === f("__k"), "full_outer")
    joined
      .withColumn("change_type",
        when(col("__k").isNull, lit("insert"))
          .when(col(keyCol).isNull, lit("delete"))
          .when(col("__fp_to") =!= col("__fp_from"), lit("update")))
      .filter(col("change_type").isNotNull)
      .withColumn(keyCol, coalesce(col(keyCol), col("__k")))
      .drop("__k", "__fp_from", "__fp_to")
  }

  /** Column-level schema changes between two versions: columns added,
    * removed, or re-typed. Metadata-only (two parquet footers), no
    * data scan — the check a backup pipeline runs BEFORE diffing, so
    * an unexpected evolution fails fast instead of surfacing as a
    * million-row "update" storm. */
  def schemaDiff(fromVersion: Long, toVersion: Long): Seq[SnapshotStore.SchemaChange] = {
    val from = read(fromVersion).schema.map(f => f.name -> f.dataType.sql).toMap
    val to = read(toVersion).schema.map(f => f.name -> f.dataType.sql).toMap
    val added = (to.keySet -- from.keySet).toSeq.sorted
      .map(c => SnapshotStore.SchemaChange(c, "added", None, Some(to(c))))
    val removed = (from.keySet -- to.keySet).toSeq.sorted
      .map(c => SnapshotStore.SchemaChange(c, "removed", Some(from(c)), None))
    val retyped = (from.keySet intersect to.keySet).toSeq.sorted
      .filter(c => from(c) != to(c))
      .map(c => SnapshotStore.SchemaChange(c, "type_changed", Some(from(c)), Some(to(c))))
    added ++ removed ++ retyped
  }

  /** Small-file compaction: rewrite a committed version's files into
    * ~`targetBytes` outputs. Long-running incremental backup stores
    * accumulate small files (one per micro-batch / delta merge), and at
    * 100 TB the scan-planning and NameNode/listing cost of millions of
    * tiny files dominates reads — compaction is routine maintenance,
    * same as the reference's storage-level housekeeping.
    *
    * The rewrite is a narrow `coalesce` (no shuffle — adjacent input
    * partitions concatenate) published with a three-step swap: write to
    * a temp sibling, move the live dir aside, move temp in, drop the
    * old dir. A crash before the final step leaves either the original
    * version live or (worst case, between the two renames) the
    * `.old-` dir intact for manual recovery — data is never lost, and
    * `versions()` never lists a partial dir. Returns (filesBefore,
    * filesAfter); a no-op when the version is already compact. */
  def compact(version: Long, targetBytes: Long = 128L << 20): (Int, Int) = {
    val dest = new Path(dir(version))
    require(fs.exists(new Path(dest, "_SUCCESS")),
      s"compact: version $version is not a committed snapshot")
    val dataFiles = fs.listStatus(dest).filter(_.getPath.getName.startsWith("part-"))
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (nOut >= dataFiles.length) return (dataFiles.length, dataFiles.length)
    // remember the zone map's stat'd columns so the rebuild keeps
    // them. The recorded names are PHYSICAL; compact FOLDS any column
    // mapping (the rewrite materializes logical names), so the
    // rebuilt map stats under the logical names.
    val preSc = evolvedSchema(version)
    val zmapStatsCols = zoneMap(version).map(_.columns.toSeq
      .filter(c => c.startsWith("min_") && c != "min_key").map(_.drop(4))
      .map(p => preSc.flatMap(_.fields.find(f =>
        SnapshotStore.physicalName(f) == p)).map(_.name).getOrElse(p)))
    val tmp = stage(version)
    read(version).coalesce(nOut).write.parquet(tmp.toString)
    // compaction rewrites the layout, not the version's identity: the
    // original commit time carries over so readAsOf keeps resolving
    // it, and the rebuilt zone map scans the rewritten files (the
    // compacted layout folds any DV, so the raw scan is the semantic
    // read)
    publish(version, tmp, Some(partNames(tmp)), zmCols = zmapStatsCols,
      commitTs = Some(commitTimestamp(version)), op = "compact", inPlace = true)
    val after = fs.listStatus(dest).count(_.getPath.getName.startsWith("part-"))
    (dataFiles.length, after)
  }

  /** Store-level size/row report from METADATA ONLY — zone-map rows
    * (file count, row count, key envelope) plus filesystem byte sizes:
    * the capacity-planning view of a 100 TB store answered without
    * scanning a single data row. Falls back to counting files when a
    * version has no zone map (rows then report -1, honestly unknown).
    */
  def stats(version: Long): (Long, Long, Long) = {
    val dataFiles = fs.listStatus(new Path(dir(version)))
      .filter(_.getPath.getName.startsWith("part-"))
    val bytes = dataFiles.map(_.getLen).sum
    zoneMap(version) match {
      case Some(zm) =>
        val rows = zm.agg(sum(col("n_rows"))).head().getLong(0)
        (dataFiles.length.toLong, rows, bytes)
      case None => (dataFiles.length.toLong, -1L, bytes)
    }
  }

  /** Garbage-collect crash leftovers: `.tmp-` dirs (writes/merges/
    * compactions that never published) and `.old-` dirs (compact
    * move-asides whose final delete didn't run), once they are older
    * than `ttlMs` — the TTL keeps an IN-FLIGHT writer's tmp dir safe.
    * Committed `v=` dirs are never touched; this is the routine
    * maintenance that keeps a long-running store's listing cost flat.
    * Returns the deleted paths. */
  def vacuum(ttlMs: Long = 24L * 3600 * 1000): Seq[String] =
    vacuumCandidates(ttlMs).map { p => fs.delete(p, true); p.toString }

  /** [[vacuum]]'s DRY RUN: the paths a vacuum would delete right now,
    * nothing touched — what an operator checks before trusting a TTL. */
  def vacuumDryRun(ttlMs: Long = 24L * 3600 * 1000): Seq[String] =
    vacuumCandidates(ttlMs).map(_.toString)

  private def vacuumCandidates(ttlMs: Long): Seq[Path] = {
    val base = new Path(basePath)
    if (!fs.exists(base)) return Seq.empty
    val now = System.currentTimeMillis()
    fs.listStatus(base).toSeq
      .filter { st =>
        val n = st.getPath.getName
        (n.startsWith(".tmp-") || n.startsWith(".old-")) &&
          now - st.getModificationTime > ttlMs
      }
      .map(_.getPath)
  }

  /** AUTO-MAINTENANCE hook — [[ManifestStore.maybeCompact]]'s twin on
    * this layout: when the tip holds more than `maxFiles` data files,
    * fold it IN PLACE ([[compact]] — this layout's maintenance verb
    * rewrites the version dir, identity preserved). Returns the tip
    * when it ran. */
  def maybeCompact(maxFiles: Int,
      targetBytes: Long = 128L << 20): Option[Long] = {
    val vs = versions()
    if (vs.isEmpty) return None
    val tip = vs.max
    val n = dataFiles(tip).count(_.getName.startsWith("part-"))
    if (n <= maxFiles) None
    else { compact(tip, targetBytes): Unit; Some(tip) }
  }

  def maybeCompact(maxFiles: Int): Option[Long] =
    maybeCompact(maxFiles, targetBytes = 128L << 20)

  /** AUTO-RETENTION hook — prune to the newest `maxVersions`; the
    * streaming sink's one-version-per-micro-batch growth bound.
    * Returns versions dropped. */
  def maybeRetain(maxVersions: Int): Int = {
    require(maxVersions >= 1, s"maybeRetain: need >= 1, got $maxVersions")
    val vs = versions()
    if (vs.size <= maxVersions) 0 else prune(maxVersions).size
  }

  /** Delete all but the newest `keepLast` versions. Returns the pruned
    * version ids. */
  def prune(keepLast: Int): Seq[Long] = {
    val held = holds()
    val vs = versions()
    val toDrop = vs.dropRight(keepLast).filterNot(held.contains)
    val fs = new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    toDrop.foreach(v => fs.delete(new Path(dir(v)), true))
    // the first SURVIVING commit now counts "whole" for bytes — its
    // checkpoint entry is stale; rebuild from truth on next read
    invalidateHistoryCkpt()
    toDrop
  }

  /** TIME-BASED retention — Delta's `RETAIN n HOURS` contract, by
    * absolute cutoff: expire every version whose commit timestamp is
    * STRICTLY OLDER than `horizonMs` (a version committed exactly AT
    * the horizon survives — the boundary an operator's "retain 7
    * days" mental model expects), except the TIP, which survives
    * regardless of age. Commit timestamps serve from the version-log
    * checkpoint — one metadata read, zero data-file opens at any
    * store size. REFUSES ([[RetentionHoldException]]) when the
    * horizon selects a held version: a time-retention contract that
    * cannot be honored must surface, not silently under-delete (the
    * count-based [[prune]] skips holds instead — an advisory policy,
    * not a compliance horizon). Returns the dropped versions. */
  def pruneOlderThan(horizonMs: Long): Seq[Long] = {
    val vs = versions()
    if (vs.isEmpty) return Seq.empty
    val ts = historyEntries().toMap
    val tip = vs.max
    val toDrop = vs.filter(v => v != tip && ts(v).commitTs < horizonMs)
    val blocked = holds().filter(toDrop.contains)
    if (blocked.nonEmpty) throw new RetentionHoldException(
      s"retention horizon $horizonMs selects held version(s) " +
        s"${blocked.mkString(", ")} on $basePath — release the hold(s) or " +
        "raise the horizon; refusing to report an un-honorable retention " +
        "contract as success")
    toDrop.foreach(v => fs.delete(new Path(dir(v)), true))
    // the first SURVIVING commit now counts "whole" for bytes — its
    // checkpoint entry is stale; rebuild from truth on next read
    if (toDrop.nonEmpty) invalidateHistoryCkpt()
    toDrop
  }

}
