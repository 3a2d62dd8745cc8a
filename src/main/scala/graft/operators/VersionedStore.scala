package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetSchemas
import org.apache.spark.sql.types.{DataType, StructType}

import graft.functions.Fx

/** The one interface over both version layouts: [[SnapshotStore]]
  * (one self-contained directory per version) and [[ManifestStore]]
  * (the "linked" layout: per-version manifests over a shared file
  * pool). The SQL catalog, the change feed and the streaming sinks
  * hold a `VersionedStore` and call through it; where the layouts
  * genuinely differ (compaction, vacuum, the pool durability ladder)
  * callers match on the store's type.
  *
  * The members declared here without a body are the verbs each layout
  * implements its own way, plus the layout primitives: where a
  * version's sidecars live ([[versionDir]]), whether it exists
  * ([[hasVersion]]), its stored schema ([[storedSchema]]), a masked
  * read of a file subset ([[readDataFiles]]), a carry publish
  * ([[publishCarry]]), a history entry rebuilt from the files
  * ([[computeHistoryEntry]]), a version's per-file statistics
  * ([[fileStats]]) and the readable path of one of their entries
  * ([[entryPath]]), one landing commit ([[commitLanding]]), one
  * rewrite commit ([[commitRewrite]]) and one "drop these versions"
  * step ([[dropVersions]]). Every body here (time travel, the pruned
  * reads, the diff family, the deletion-vector and Bloom sidecars, the
  * schema verbs, restore, the landing verbs, the rewrite verbs, the
  * partition overwrite and drop, retention, constraints, holds, column
  * statistics, the history checkpoint, the optimistic-concurrency
  * merge, partition-spec helpers) is written once over those. */
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

  /** Whether `version` is committed — `versions().contains(version)`
    * answered by one existence check instead of a listing. */
  protected def hasVersion(version: Long): Boolean

  /** The same store opened with `key` as its key column. */
  def withKeyCol(key: String): VersionedStore

  // ---- LAYOUT PRIMITIVES ----

  /** The directory holding `version`'s sidecars: the version directory
    * or the manifest directory. */
  protected def versionDir(version: Long): Path

  /** `version`'s stored read schema: its `_schema.json` sidecar when a
    * schema verb recorded one, else one data file's footer. */
  protected def storedSchema(version: Long): StructType
  /** ([[storedSchema]], [[dataPaths]]) of one version; a layout that
    * lists a version dir for both lists it once. */
  protected def schemaAndPaths(version: Long): (StructType, Seq[String]) =
    (storedSchema(version), dataPaths(version))

  /** `files` (a subset of `version`'s data files) read the way a full
    * read of the version reads them: deletion vector applied, evolved
    * schema, fills and column mapping supplied. */
  protected def readDataFiles(version: Long, files: Seq[String]): DataFrame

  /** Publish `toVersion` holding exactly `fromVersion`'s files and
    * deletion vector under `schema` (None: `fromVersion`'s own), minus
    * the file statistics of the `dropStats` columns: a branch on the
    * linked layout, a byte-carry on the snapshot layout. The history
    * entry reuses `fromVersion`'s statistics. */
  protected def publishCarry(fromVersion: Long, toVersion: Long,
      schema: Option[StructType], dropStats: Seq[String], commitTs: Option[Long],
      op: String, opParams: String): Unit

  /** One version's history entry rebuilt from its files and sidecars:
    * the unit the checkpoint self-heals with. */
  protected def computeHistoryEntry(version: Long): SnapshotStore.HistoryEntry

  /** `version`'s per-file statistics as a local frame, when it records
    * them: one row per data file with `file`, `n_rows`,
    * `min_key`/`max_key` and the stats columns' `min_<c>`/`max_<c>`
    * (physical names) — the manifest, or the zone map. `file` ends in
    * the data file's name. */
  protected def fileStats(version: Long): Option[DataFrame]

  /** The readable path of a [[fileStats]] row's `file`: the pool file
    * it names, or the entry itself where it is a path already. */
  protected def entryPath(file: String): String

  /** `version`'s per-file entries: its [[fileStats]], or (a version
    * recording none) the same rows from its files' footers. */
  protected def fileEntries(version: Long): DataFrame =
    fileStats(version).getOrElse(
      landedStats(dataPaths(version).map(new Path(_)), storedPartitionBy()))

  /** The stats columns this layout declares for every landing beyond
    * the key and the partition columns: the linked layout's
    * construction `statsCols`. */
  protected def declaredStatsCols: Seq[String] = Nil

  /** One landing commit, the publish half of every landing verb:
    * publish `version` holding exactly the files `landing` (an arranged
    * frame) lands the layout's way, each named `rename(<the layout's
    * name>)`, with their per-file statistics over the key and
    * `statsCols` taken from their footers. `statsCols` None records no
    * statistics where the layout can serve a version without them (a
    * plain snapshot write); the linked layout's version is its
    * manifest, so it records the key envelope. `schema` (the landed
    * frame's) is recorded as the schema sidecar when the version would
    * hold no file. `metrics` receives the number of files landed (as
    * the layout counts them). */
  protected def commitLanding(version: Long, landing: DataFrame,
      statsCols: Option[Seq[String]], schema: StructType, commitTs: Option[Long],
      op: String, opParams: String, rename: String => String,
      metrics: Int => Map[String, Long]): Unit

  /** Drop the committed versions `vs` (none of them held), this
    * layout's way. Returns the bytes a separate sweep reclaimed (0
    * where the bytes leave with the versions). */
  protected def dropVersions(vs: Seq[Long]): Long

  /** One rewrite commit, the landing half of every rewrite verb:
    * publish `toVersion` holding the `carried` data files of
    * `fromVersion` (with their `entries` rows) plus `landing` (an
    * arranged frame under physical names), landed the layout's way
    * with its file statistics, under the deletion vector `dv`.
    * `schema` (the version's read schema) is recorded as the schema
    * sidecar when `sidecar` is set or the version would hold no file.
    * `metrics` receives the number of files landed (as the layout
    * counts them) and their rows. Returns the number of files landed. */
  protected def commitRewrite(fromVersion: Long, toVersion: Long, entries: DataFrame,
      carried: Seq[String], landing: Option[DataFrame], dv: Option[DataFrame],
      schema: StructType, sidecar: Boolean, commitTs: Option[Long], op: String,
      opParams: String, metrics: (Int, Long) => Map[String, Long]): Int

  def versions(): Seq[Long]
  def read(version: Long): DataFrame
  def commitBytes(version: Long): Long

  /** `maybeCompact` with the layout's default sizing. */
  def maybeCompact(maxFiles: Int): Option[Long]

  /** A clone of `fromVersion` as version 1 of a new table at `dstBase`:
    * a deep copy on the snapshot layout, a shallow one over the shared
    * pool on the linked layout. */
  def cloneTo(dstBase: String, fromVersion: Long, commitTs: Option[Long] = None): VersionedStore

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
    if (hasVersion(v))
      throw new VersionConflictException(
        s"$basePath: version $v already exists")

  // ---- TIME TRAVEL ----

  /** The newest version committed at or before `ts`, if any. Resolves
    * by commit timestamp, not version id order, so out-of-order
    * backfills still answer "what was live at ts" correctly; served
    * from the version-log checkpoint (one sidecar read warm, not
    * O(versions) per-version opens). */
  def versionAsOf(ts: Long): Option[Long] = {
    val committed = historyEntries().filter(_._2.commitTs <= ts)
    if (committed.isEmpty) None
    else Some(committed.maxBy { case (v, e) => (e.commitTs, v) }._1)
  }

  /** Time-travel read — the "restore yesterday 14:00" UX every backup
    * tool exposes: read the newest version committed at or before
    * `ts`. Metadata-only resolution, then a plain single-version read. */
  def readAsOf(ts: Long): DataFrame = readAsOfResolved(ts)._2

  /** [[readAsOf]] returning the resolved version id alongside. */
  def readAsOfResolved(ts: Long): (Long, DataFrame) = versionAsOf(ts) match {
    case Some(v) => (v, read(v))
    case None => throw new IllegalArgumentException(
      s"no version committed at or before $ts" + historyEntries().headOption.map {
        case (v, e) => s" (earliest is v=$v at ${e.commitTs})" }.getOrElse(" (store is empty)"))
  }

  /** A zero-row frame in `version`'s logical read schema without
    * standing up a scan over its files — the prune-to-nothing result.
    * One data file's footer opens only when no schema sidecar exists. */
  protected def emptyRead(version: Long): DataFrame =
    evolvedSchema(version) match {
      case Some(sc) => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), sc)
      case None =>
        val paths = dataPaths(version)
        if (paths.isEmpty) read(version).limit(0)
        else ParquetSchemas.readFiles(spark, paths.take(1)).limit(0)
    }

  // ---- PRUNED READS ----
  // Every read below prunes over the version's per-file statistics
  // ([[fileStats]]) and opens the surviving files through
  // [[readDataFiles]]; a residual row filter keeps the answer exact, so
  // a column without statistics prunes nothing and still reads right.

  /** The `min_`/`max_` columns recording `column` in `version`'s
    * per-file statistics: the key envelope, or the column's stored
    * (physical) name under a metadata-only rename. */
  private def statBounds(version: Long, column: String): (String, String) =
    if (column == keyCol) ("min_key", "max_key")
    else {
      val p = SnapshotStore.physicalOf(evolvedSchema(version), column)
      (s"min_$p", s"max_$p")
    }

  /** The `file`s of `entries` (`version`'s) whose recorded range of
    * `column` overlaps [lo, hi] — None when they record no statistics
    * for it. The overlap test runs typed through Catalyst (`lit(lo)`
    * adopts the column's ordering); a null bound keeps the file: never
    * prune on missing information. */
  private def overlapping(entries: DataFrame, version: Long, column: String,
      lo: Any, hi: Any): Option[Seq[String]] = {
    val (minC, maxC) = statBounds(version, column)
    if (!entries.columns.contains(minC) || !entries.columns.contains(maxC)) None
    else Some(entries.filter(!(col(maxC) < lit(lo) || col(minC) > lit(hi)) ||
        col(minC).isNull || col(maxC).isNull)
      .select("file").collect().map(_.getString(0)).toSeq)
  }

  /** Files of `version` whose statistics for `column` overlap [lo, hi]
    * — None when the version records no statistics for that column. */
  def prunedFilesBy(version: Long, column: String, lo: Any, hi: Any): Option[Seq[String]] =
    fileStats(version).flatMap(overlapping(_, version, column, lo, hi)).map(_.map(entryPath))

  /** Files whose key range overlaps [lo, hi] — see [[prunedFilesBy]]. */
  def prunedFiles(version: Long, lo: Any, hi: Any): Option[Seq[String]] =
    prunedFilesBy(version, keyCol, lo, hi)

  /** Rows of `version` with `column` in [lo, hi], opening only the
    * files whose statistics overlap the range. */
  def readWhere(version: Long, column: String, lo: Any, hi: Any): DataFrame =
    readWhereAll(version, Seq((column, lo, hi)))

  /** Keyed restore: rows of `version` with key in [lo, hi] — see
    * [[readWhere]]. */
  def readKeyRange(version: Long, lo: Any, hi: Any): DataFrame =
    readWhere(version, keyCol, lo, hi)

  /** Rows of `version` satisfying every `(column, lo, hi)` range. A
    * file must overlap every range to hold a qualifying row, so the
    * survivors are the INTERSECTION of each predicate's — on a
    * z-ordered layout each dimension eliminates files independently,
    * and the conjunction reads the corner the ranges carve out. Equals
    * the full-scan filter. */
  def readWhereAll(version: Long, preds: Seq[(String, Any, Any)]): DataFrame = {
    require(preds.nonEmpty, "readWhereAll needs at least one predicate")
    val stats = fileStats(version)
    val hits = preds.flatMap { case (c, lo, hi) =>
      stats.flatMap(overlapping(_, version, c, lo, hi)) }
    val base =
      if (hits.isEmpty) read(version)
      else hits.reduce((a, b) => a.filter(b.toSet)) match {
        case Seq() => emptyRead(version) // provably no overlapping file: no scan planned
        case files => readDataFiles(version, files.map(entryPath))
      }
    // a DERIVED temporal column (ts__day/…) may be hidden by the
    // version's evolved read schema even though the files carry it:
    // recompute it from its source (a pure function) for the residual
    // filter, then drop the synthesized copy — callers keep the frame's
    // declared shape
    val absent = preds.map(_._1).distinct.filterNot(base.columns.contains)
    val synth =
      if (absent.isEmpty) Nil
      else {
        val specs = storedPartitionSpecs().filter(_.transform.isDefined)
        absent.flatMap(c => specs.find(_.name == c))
      }
    val filtered = preds.foldLeft(synth.foldLeft(base)((d, sp) =>
        d.withColumn(sp.name, SnapshotStore.deriveColumn(sp)))) { case (df, (c, lo, hi)) =>
      df.filter(col(c) >= lit(lo) && col(c) <= lit(hi)) }
    synth.map(_.name).foldLeft(filtered)(_ drop _)
  }

  /** SOURCE-column time-range read over an EVOLVED partition spec:
    * every file prunes through the spec IT was written under — a
    * `days(ts)` file via its day tuple, a `months(ts)` file via its
    * month tuple — by translating each derived value to its covered
    * source interval ([[SnapshotStore.sourceRangeOverlap]]). Files of a
    * spec that cannot bound `source` (identity spec, different source)
    * are kept; the row filter on top is exact either way. So a
    * `days→months` evolution needs no rewrite, and a time query still
    * opens only overlapping files from both eras. */
  def readSourceRange(version: Long, source: String, lo: Any, hi: Any): DataFrame = {
    val base = fileStats(version).fold(read(version)) { stats =>
      val sid = specIdCol(stats)
      val conds = specHistory._1.map(_.map(SnapshotStore.parsePartitionSpec)).zipWithIndex.map {
        case (sps, id) =>
          sps.find(sp => sp.transform.isDefined && sp.source == source &&
              stats.columns.contains(s"min_${sp.name}")) match {
            case Some(sp) => sid === id && SnapshotStore.sourceRangeOverlap(sp,
              col(s"min_${sp.name}"), col(s"max_${sp.name}"), lo, hi)
            case None => sid === id // this spec cannot bound the source: keep
          }
      }
      stats.filter(conds.reduceOption(_ || _).getOrElse(lit(true))).select("file").collect()
        .map(r => entryPath(r.getString(0))).toIndexedSeq match {
        case Seq() => emptyRead(version)
        case hit => readDataFiles(version, hit)
      }
    }
    base.filter(col(source).cast("timestamp") >= lit(lo).cast("timestamp") &&
      col(source).cast("timestamp") <= lit(hi).cast("timestamp"))
  }

  /** Point read for a key set (a one-column frame of key values, e.g. a
    * CDC delta's keys): the key envelopes prune the file list (one
    * broadcast range probe over the per-file statistics), then one
    * semi-join restricts to exactly the requested keys. Equals
    * `read(version).join(keys, semi)`. */
  def readForKeys(version: Long, keys: DataFrame): DataFrame = {
    val k = keys.select(keys.columns.head).toDF(keyCol).distinct().materialize()
    val hit = fileStats(version).fold(dataPaths(version))(stats =>
      k.join(broadcast(stats), col(keyCol) >= col("min_key") && col(keyCol) <= col("max_key"))
        .select("file").distinct().collect().map(r => entryPath(r.getString(0))).toIndexedSeq)
    if (hit.isEmpty) emptyRead(version)
    else readDataFiles(version, hit).join(k, Seq(keyCol), "left_semi")
  }

  // ---- DIFF ----
  // One row-level change classification for both layouts. A data file
  // name holds one content in every version that lists it (carries keep
  // the name, by reference or by byte-copy; every landing writes a fresh
  // one), so a row both versions serve from a shared file can never be
  // a change. Each side is then the rows it holds alone: its exclusive
  // files read masked, plus the rows of shared files that the OTHER
  // version's deletion vector masks and its own does not.

  /** Row-level changes from `fromVersion` to `toVersion`: `insert` (key
    * only in `to`), `delete` (key only in `from`, with its values),
    * `update` (key on both sides, content differs; the new values).
    * Unchanged rows are not emitted. Content fingerprints cover the
    * COMMON non-key columns, so adding or dropping a column does not
    * flag every row (column-level changes are
    * [[SnapshotStore.schemaDiff]]'s), and a widened column compares its
    * old values in the new type. */
  def diff(fromVersion: Long, toVersion: Long): DataFrame =
    changes(fromVersion, toVersion, cdf = false, None)

  /** [[diff]] in Delta's CDF shape: an updated key emits
    * `update_preimage` (the old values) and `update_postimage` (the
    * new values); inserts and deletes are unchanged. The pre-images
    * come from the same pass over the from-side. */
  def diffCdf(fromVersion: Long, toVersion: Long): DataFrame =
    changes(fromVersion, toVersion, cdf = true, None)

  /** [[diff]] restricted to keys in [lo, hi] — the change feed's
    * key-predicate pushdown: each side's files prune against their key
    * envelopes before any open. Equals `diff(...).filter(key in range)`:
    * a key outside the range can never pair with one inside it. */
  def diffKeyRange(fromVersion: Long, toVersion: Long, lo: Any, hi: Any): DataFrame =
    changes(fromVersion, toVersion, cdf = false, Some((lo, hi)))

  /** [[diffCdf]] restricted to keys in [lo, hi] — see [[diffKeyRange]]. */
  def diffCdfKeyRange(fromVersion: Long, toVersion: Long, lo: Any, hi: Any): DataFrame =
    changes(fromVersion, toVersion, cdf = true, Some((lo, hi)))

  private def changes(fromVersion: Long, toVersion: Long, cdf: Boolean,
      keyRange: Option[(Any, Any)]): DataFrame = {
    val (fromPaths, toPaths) = (dataPaths(fromVersion), dataPaths(toVersion))
    val shared = fromPaths.map(fileName).toSet intersect toPaths.map(fileName).toSet
    def masks(v: Long): Set[(String, Long)] = dvFrame(v).fold(Set.empty[(String, Long)])(
      _.collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    val (fromMasks, toMasks) = (masks(fromVersion), masks(toVersion))
    def side(version: Long, paths: Seq[String], own: Set[(String, Long)],
        other: Set[(String, Long)]): DataFrame = {
      val exclusive = paths.filterNot(p => shared(fileName(p)))
      val opened = keyRange.flatMap { case (lo, hi) => prunedFiles(version, lo, hi) }
        .fold(exclusive)(hit => named(exclusive, hit.map(fileName).toSet))
      val revealed = (other -- own).filter(m => shared(m._1))
      val parts = Seq(opened).filter(_.nonEmpty).map(readDataFiles(version, _)) ++
        Seq(revealed).filter(_.nonEmpty)
          .map(at => rowsAt(version, named(paths, at.map(_._1)), at))
      parts.reduceOption(_ unionByName _).fold(emptyRead(version))(df => keyRange.fold(df) {
        case (lo, hi) => df.filter(col(keyCol) >= lit(lo) && col(keyCol) <= lit(hi)) })
    }
    val a = side(fromVersion, fromPaths, fromMasks, toMasks)
    val b = side(toVersion, toPaths, toMasks, fromMasks)
    val common = a.columns.toSeq.filter(c => c != keyCol && b.columns.contains(c)).sorted
    // xxhash64 hashes an int and a long of equal value differently: a
    // widened column fingerprints the old value in the new type
    val fromCommon = common.map { c =>
      val (ft, tt) = (a.schema(c).dataType, b.schema(c).dataType)
      if (ft != tt && SnapshotStore.canWiden(ft, tt)) a(c).cast(tt) else a(c)
    }
    def fp(cs: Seq[Column]): Column = if (cs.isEmpty) lit(0L) else Fx.fastFingerprint(cs: _*)
    val from = a.select(col(keyCol).as("__k"), struct(a.columns.toSeq.map(a(_)): _*).as("__a"),
      fp(fromCommon).as("__fa"))
    val to = b.select(col("*"), fp(common.map(b(_))).as("__fb"))
    val joined = from.join(to, from("__k") === to(keyCol), "full_outer")
      .withColumn("__ct", when(col("__a").isNull, lit("insert"))
        .when(col("__fb").isNull, lit("delete"))
        .when(col("__fa") =!= col("__fb"), lit("update")))
      .filter(col("__ct").isNotNull) // rows equal on both sides drop out
    val typed =
      if (!cdf) joined.withColumn("change_type", col("__ct"))
      else joined.select(col("*"), explode(when(col("__ct") === "update",
          array(lit("update_preimage"), lit("update_postimage")))
        .otherwise(array(col("__ct")))).as("change_type"))
    // deletes and pre-images carry the from-side's values
    val old = col("change_type").isin("delete", "update_preimage")
    def value(c: String): Column =
      if (!a.columns.contains(c)) when(!old, col(c))
      else if (!b.columns.contains(c)) when(old, col("__a").getField(c))
      else when(old, col("__a").getField(c)).otherwise(col(c))
    val toCols = b.columns.toSeq
    typed.select(((keyCol +: toCols.filterNot(_ == keyCol)).map(c => value(c).as(c)) ++
      Seq(col("change_type")) ++
      a.columns.toSeq.filterNot(toCols.contains).map(c => value(c).as(c))): _*)
  }

  /** The rows of `version`'s `paths` at the (file name, row position)
    * pairs `at`, read as the version reads them (its deletion vector
    * aside: the pairs name the rows wanted). */
  private def rowsAt(version: Long, paths: Seq[String], at: Set[(String, Long)]): DataFrame = {
    val sc = evolvedSchema(version)
    val raw = sc.fold(ParquetSchemas.readFiles(spark, paths))(x =>
      spark.read.schema(SnapshotStore.physicalSchema(x)).parquet(paths: _*))
    val pos = spark.createDataFrame(java.util.Arrays.asList(at.toSeq.map { case (f, p) =>
      org.apache.spark.sql.Row(f, p) }: _*), SnapshotStore.dvSchema).toDF("__f", "__p")
    recomputeDerived(withPositions(raw, None, sc)
      .join(broadcast(pos), Seq("__f", "__p"), "left_semi").drop("__f", "__p"))
  }

  // ---- SCHEMA VERBS AND RESTORE ----
  // Metadata-only on both layouts: the new version carries the old
  // one's files (by reference or by byte-copy) under a new recorded
  // schema, so pinned history keeps the old shape.

  /** Schema-evolution DROP COLUMN: publish `toVersion` whose recorded
    * schema EXCLUDES `cols`, every file carried and any dropped stats
    * column's min/max removed from the file metadata. The evolved-schema
    * reader projects only recorded fields, so stored bytes for the
    * dropped column are never read while pinned history keeps them.
    * The key column is the store's identity and cannot drop. */
  def dropColumns(fromVersion: Long, toVersion: Long, cols: Seq[String],
      commitTs: Option[Long] = None): Unit = {
    requireRewrite(fromVersion, toVersion)
    require(!cols.contains(keyCol),
      s"dropColumns: '$keyCol' is the store's key column — its identity, not droppable")
    cols.foreach(requireNoConstraintOn(_, "dropColumns"))
    cols.filter(isPartitionSource).foreach(c =>
      throw new UnsupportedOperationException(
        s"dropColumns '$c': it is a declared partition column (or a transform's " +
          "source) — the table's physical layout keys on it"))
    // the sidecar verbatim when present, so surviving columns keep
    // their recorded fill metadata through the narrowing
    val cur = storedSchema(fromVersion)
    val missing = cols.filterNot(cur.fieldNames.contains)
    require(missing.isEmpty, s"dropColumns: not in the schema: ${missing.mkString(", ")}")
    require(cur.fields.length > cols.size, "dropColumns: cannot drop every column")
    publishCarry(fromVersion, toVersion,
      Some(StructType(cur.fields.filterNot(f => cols.contains(f.name)))), cols, commitTs,
      "dropColumns", cols.mkString(","))
  }

  /** METADATA-ONLY TYPE WIDENING — Delta's type-widening feature:
    * publish `toVersion` whose recorded schema re-types `column` to
    * the WIDER `newType` ([[SnapshotStore.canWiden]] — integral chain,
    * float→double, integral→decimal), every file carried; reads decode
    * the stored narrow values into the wider type (parquet's
    * vectorized-reader promotion). Pinned history keeps the narrow
    * type. The key column and partition columns refuse (their file
    * statistics are typed); a non-widening change keeps refusing. */
  def widenColumn(fromVersion: Long, toVersion: Long, column: String,
      newType: DataType, commitTs: Option[Long] = None): Unit = {
    requireRewrite(fromVersion, toVersion)
    require(column != keyCol,
      s"widenColumn: '$keyCol' is the store's key column — its key-envelope " +
        "stats are typed; widening the identity is a store-level migration")
    require(!isPartitionSource(column),
      s"widenColumn '$column': it is a declared partition column (or a " +
        "transform's source) — its min==max file stats are typed")
    val cur = storedSchema(fromVersion)
    val f = cur.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"widenColumn: no column '$column'"))
    require(SnapshotStore.canWiden(f.dataType, newType),
      s"widenColumn: ${f.dataType.simpleString} -> ${newType.simpleString} is not " +
        "a supported widening (integral chain, float->double, integral->decimal) " +
        "— any other type change would corrupt old files' meaning")
    publishCarry(fromVersion, toVersion,
      Some(StructType(cur.fields.map(x => if (x.name == column) x.copy(dataType = newType) else x))),
      Nil, commitTs, "widenColumn", s"$column -> ${newType.simpleString}")
  }

  /** METADATA-ONLY RENAME COLUMN — Delta's column-mapping mode on the
    * `_schema.json` sidecar: the published schema renames the field
    * while `graft.physical` metadata pins the name the stored bytes
    * answer to; every read resolves physical → logical with a
    * zero-cost alias projection, later landings write new files under
    * the physical name (one name-uniform file set), and a full rewrite
    * (compact / plain write) folds the mapping away, as a DV mask
    * folds. Every file carries and its statistics keep describing the
    * stored, physical columns. Pinned history keeps the old name. The
    * key column is recorded store identity and cannot rename;
    * constrained and partition columns refuse; the new name must not
    * shadow a stored physical name (old bytes would answer to two
    * logical columns). `numFiles` is unused: nothing is rewritten. */
  def renameColumn(fromVersion: Long, toVersion: Long, from: String, to: String,
      numFiles: Int = 4, commitTs: Option[Long] = None): Unit = {
    requireRewrite(fromVersion, toVersion)
    require(from != keyCol,
      s"renameColumn: '$keyCol' is the store's recorded key column — renaming the " +
        "identity is a store-level migration, not schema evolution")
    requireNoConstraintOn(from, "renameColumn")
    require(!isPartitionSource(from),
      s"renameColumn '$from': it is a declared partition column (or a transform's " +
        "source) — the table's physical layout keys on it")
    val cur = storedSchema(fromVersion)
    require(cur.fieldNames.contains(from), s"renameColumn: no column '$from'")
    require(!cur.fieldNames.contains(to), s"renameColumn: '$to' already exists")
    val otherPhys = cur.fields.filterNot(_.name == from)
      .map(SnapshotStore.physicalName).toSet
    require(!otherPhys.contains(to),
      s"renameColumn: '$to' is a stored PHYSICAL column name (a prior rename maps " +
        "it) — old bytes would answer to two logical columns; compact first to " +
        "fold the mapping")
    publishCarry(fromVersion, toVersion,
      Some(StructType(cur.fields.map(f =>
        if (f.name == from) SnapshotStore.renamedField(f, to) else f))),
      Nil, commitTs, "renameColumn", s"$from -> $to")
  }

  /** RESTORE — Delta's `RESTORE TABLE t TO VERSION AS OF v`: publish a
    * NEW version whose content equals `fromVersion`, with a fresh
    * commit timestamp. History intact: a restore is a commit, not a
    * rewrite of the past. */
  def restoreVersion(fromVersion: Long, toVersion: Long, commitTs: Option[Long]): Unit =
    restoreVersion(fromVersion, toVersion, commitTs, op = "restoreVersion")

  /** [[restoreVersion]] stamped as `op` with `opParams` (default: the
    * source version) — also the scoped maintenance verbs' no-op
    * publish. */
  def restoreVersion(fromVersion: Long, toVersion: Long,
      commitTs: Option[Long] = None, op: String = "restoreVersion",
      opParams: String = ""): Unit = {
    requireRewrite(fromVersion, toVersion)
    publishCarry(fromVersion, toVersion, None, Nil, commitTs, op,
      if (opParams.isEmpty) s"of v$fromVersion" else opParams)
  }

  private def isPartitionSource(c: String): Boolean =
    storedPartitionBy().contains(c) || storedPartitionSpecs().exists(_.source == c)

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

  /** EVOLVE this store's partition spec (metadata-only —
    * [[SnapshotStore.evolvePartitionSpec]]); returns the new current
    * spec id. A new transform's derived column may not collide with a
    * data column of the tip. */
  def evolvePartitionSpec(cols: Seq[String]): Int = {
    val priorDerived = specHistory._1.flatten
      .map(SnapshotStore.parsePartitionSpec)
      .filter(_.transform.isDefined).map(_.name).toSet
    cols.map(SnapshotStore.parsePartitionSpec).filter(_.transform.isDefined)
      .foreach { sp =>
        latestVersion().foreach { v =>
          require(priorDerived(sp.name) || !storedSchema(v).fieldNames.contains(sp.name),
            s"evolvePartitionSpec: derived column name '${sp.name}' collides " +
              "with a data column")
        }
      }
    SnapshotStore.evolvePartitionSpec(fs, basePath, cols)
  }

  /** Refuse a whole-partition verb on a version holding files written
    * under an EARLIER spec (`entries`: the version's manifest or zone
    * map): a predicate over the current spec's columns cannot
    * guarantee whole-file alignment for them (a month predicate does
    * not select exact day files), and silently skipping them would
    * turn "drop everything before March" into a partial drop. */
  protected def requireUniformSpec(entries: DataFrame, op: String): Unit = {
    val (hist, cur) = specHistory
    if (hist.size > 1) {
      val foreign = entries.filter(specIdCol(entries) =!= cur).limit(1).count()
      require(foreign == 0L,
        s"$op: this version still holds files written under an earlier partition " +
          s"spec (current spec id $cur) — a predicate over the current spec cannot " +
          "select them whole-file-exactly; compact/rewrite them first, or read " +
          "through readSourceRange")
    }
  }

  /** Physical arrangement every landing goes through: key-range +
    * key-sort when unpartitioned; partition-tuple clustering (≤
    * `numFiles` files per tuple via a key-hash salt, key-sorted
    * within) when partitioned, so the landing keeps one partition
    * tuple per file and the per-file stats record exact (min==max)
    * partition values. */
  protected def arrange(df: DataFrame, numFiles: Int,
      pcs: Seq[String] = storedPartitionBy()): DataFrame =
    if (pcs.isEmpty)
      df.repartitionByRange(numFiles, col(keyCol)).sortWithinPartitions(keyCol)
    else {
      val d = deriveParts(df) // temporal transforms land derived identity cols
      val exprs = pcs.map(col) :+ pmod(hash(col(keyCol)), lit(math.max(numFiles, 1)))
      d.repartition(exprs: _*).sortWithinPartitions((pcs :+ keyCol).map(col): _*)
    }

  // ---- LANDING ----
  // Every full write — the range-clustered write, the partitioned,
  // z-ordered and bucketed writes, an empty table — is one body here
  // over one landing commit per layout ([[commitLanding]]). A landing
  // records the key envelope, the partition columns, the layout's
  // declared columns ([[declaredStatsCols]]) and the verb's own (the
  // caller's `statsCols`, the z columns). An empty frame lands a
  // zero-row version.

  /** The one landing body: `df`, arranged by `arranged` (given the
    * store's partition columns), published as `version` after the
    * constraints pass over it. `statsCols` None: a plain landing that
    * records statistics only where partition columns need them. */
  protected def writeVersion(version: Long, df: DataFrame, statsCols: Option[Seq[String]],
      commitTs: Option[Long], op: String, opParams: String = "",
      rename: String => String = identity,
      metrics: Int => Map[String, Long] = n => Map("numFiles" -> n.toLong))(
      arranged: Seq[String] => DataFrame): Unit = {
    requireFreeVersion(version)
    enforceConstraints(df, op)
    val pcs = storedPartitionBy()
    val cols = statsCols.orElse(Some(Nil).filter(_ => pcs.nonEmpty))
      .map(c => (c ++ declaredStatsCols ++ pcs).distinct.filterNot(_ == keyCol))
    commitLanding(version, arranged(pcs), cols, df.schema, commitTs, op, opParams, rename,
      metrics)
  }

  /** The range-clustered full write: [[arrange]]d into ~`numFiles`
    * key-range files (one partition tuple per file on a partitioned
    * store), key-sorted within, recording `statsCols` beyond the
    * landing's own. */
  protected def writeClustered(df: DataFrame, version: Long, numFiles: Int,
      statsCols: Seq[String], commitTs: Option[Long]): Unit =
    writeVersion(version, df, Some(statsCols), commitTs, "write")(arrange(df, numFiles, _))

  /** First write of a PARTITIONED table — Delta/Iceberg's `PARTITIONED
    * BY (cols…)`: declares `partCols` in the `_partition.json` sidecar
    * (every later landing on this store clusters by them), lands the
    * frame one-partition-tuple-per-file (≤ `filesPerPartition` files
    * each, key-sorted within) and records the tuple as exact per-file
    * min==max statistics. Partition predicates then prune exactly,
    * [[dropPartitions]] rewrites nothing and [[replaceWhere]] carries
    * untouched partitions. A temporal transform (`days(ts)`) lands its
    * derived identity column; the key column cannot be a partition
    * column (its envelope is the primary prune axis already). */
  protected def writePartitionedVersion(df: DataFrame, version: Long, partCols: Seq[String],
      filesPerPartition: Int, statsCols: Seq[String], commitTs: Option[Long]): Unit = {
    requireFreeVersion(version)
    require(partCols.nonEmpty, "writePartitioned: no partition columns")
    require(!partCols.contains(keyCol),
      s"writePartitioned: '$keyCol' is the store key — key-range pruning already " +
        "covers it; partition on a coarser dimension")
    val specs = partCols.map(SnapshotStore.parsePartitionSpec)
    val missing = specs.map(_.source).filterNot(df.columns.contains)
    require(missing.isEmpty, s"writePartitioned: not in the frame: ${missing.mkString(", ")}")
    specs.filter(_.transform.isDefined).map(_.name).filter(df.columns.contains)
      .foreach(n => throw new IllegalArgumentException(
        s"writePartitioned: derived partition column name '$n' collides with a " +
          "data column"))
    ensureStoreMeta()
    SnapshotStore.writeStoredPartitionBy(fs, basePath, partCols,
      canRedeclare = versions().isEmpty)
    writeVersion(version, df, Some(statsCols), commitTs, "writePartitioned")(
      arrange(df, filesPerPartition, _))
  }

  /** A HASH-BUCKETED full write — the co-location contract behind
    * STORAGE-PARTITIONED JOINS: rows land in exactly `buckets` files,
    * file `i` holding the rows with `pmod(murmur3(key), buckets) == i`
    * (Spark's own bucket function — `repartition(n, col)` IS
    * HashPartitioning), key-sorted within, each file named with
    * Spark's bucketed suffix (`…_0000i.parquet`). The SQL catalog then
    * serves the version as a bucketed relation whose scan reports
    * `HashPartitioning(key, buckets)`, so two stores bucketed to the
    * same count join on the key with no Exchange on either side. The
    * declaration persists in `_bucket.json`; verbs that land
    * non-bucketed files (mergeDelta, compact) fail the read gate and
    * the version serves through the plain route — re-bucket with a
    * fresh bucketed write. Bucket and partition layouts are exclusive
    * per store. */
  protected def writeBucketedVersion(df: DataFrame, version: Long, buckets: Int,
      statsCols: Seq[String], commitTs: Option[Long]): Unit = {
    require(buckets > 0, s"writeBucketed: bucket count must be positive, got $buckets")
    require(storedPartitionBy().isEmpty,
      "writeBucketed: this store declares partition columns — bucket and " +
        "partition layouts are exclusive per store")
    requireFreeVersion(version)
    ensureStoreMeta()
    SnapshotStore.writeStoredBucketBy(fs, basePath, keyCol, buckets,
      canRedeclare = versions().isEmpty)
    writeVersion(version, df, Some(statsCols), commitTs, "writeBucketed",
      s"$buckets buckets by $keyCol", bucketName(buckets))(_ =>
      df.repartition(buckets, col(keyCol)).sortWithinPartitions(keyCol))
  }

  /** A landed file's `name` under Spark's bucketed file-name convention
    * (`_<bucket id>` before its extension), the id being the writer's
    * task number the name embeds (`part-<task>`): a bucketed landing
    * writes one task per bucket. */
  private def bucketName(buckets: Int)(name: String): String = {
    val b = name.substring(name.indexOf("part-") + 5).takeWhile(_.isDigit).toInt
    require(b < buckets, s"writeBucketed: task id $b >= $buckets in $name")
    val (stem, ext) = name.span(_ != '.')
    f"${stem}_$b%05d$ext"
  }

  /** A full write with a MULTI-column clustering layout: rows ordered
    * by the Z-order (Morton) interleave of `zCols`, range-partitioned
    * into ~`numFiles` files, every z column recorded in the per-file
    * statistics. Where the range-clustered write makes one column's
    * ranges disjoint per file, Z-ordering makes every clustered column
    * LOCALLY narrow in every file, so a read filtered on ANY of them
    * skips most files ([[readWhere]] / [[readWhereAll]]). On a
    * partitioned store this is Delta's OPTIMIZE ZORDER BY: the range
    * split runs over (partition tuple, z), so every file keeps one
    * tuple and each partition's files cover contiguous z ranges.
    *
    * The z-value is LAYOUT ONLY ([[ZOrder.zColumn]]): pruning
    * correctness never depends on it — the statistics record the TRUE
    * per-file min/max and the reads filter exactly. Columns must be
    * numeric/temporal; nulls bucket to 0 and never prune wrongly. */
  def writeZOrdered(df: DataFrame, version: Long, numFiles: Int,
      zCols: Seq[String], commitTs: Option[Long] = None): Unit = {
    val overlap = zCols.filter(storedPartitionBy().contains)
    require(overlap.isEmpty,
      s"writeZOrdered: ${overlap.mkString(", ")} are partition columns — constant " +
        "within every file already; z-order the finer dimensions instead")
    writeVersion(version, df, Some(zCols), commitTs, "writeZOrdered") { pcs =>
      val order = pcs.map(col) :+ col("__z")
      df.withColumn("__z", ZOrder.zColumn(df, zCols))
        .repartitionByRange(numFiles, order: _*).sortWithinPartitions(order: _*)
        .drop("__z")
    }
  }

  /** Publish `version` as an EMPTY table of `schema` — SQL `CREATE
    * TABLE`'s landing: a zero-row landing whose per-file statistics
    * declare the partition columns of a pre-declared spec (`CREATE
    * TABLE ... PARTITIONED BY` records it first), so the first
    * [[mergeDelta]] (INSERT/CTAS) rewrites nothing, records them for
    * its new files and lands the initial rows as version+1. The
    * declared schema must carry the store's key column — every later
    * operation keys on it. */
  def createEmpty(schema: StructType, version: Long = 1L,
      commitTs: Option[Long] = None): Unit = {
    require(schema.fieldNames.contains(keyCol),
      s"createEmpty: declared schema ${schema.fieldNames.mkString("(", ",", ")")} " +
        s"lacks the store key column '$keyCol'")
    val empty = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    writeVersion(version, empty, Some(Nil), commitTs, "createEmpty",
      metrics = _ => Map.empty)(arrange(empty, 1, _))
  }

  /** Land `df`'s part files flat into `dest`, each under
    * `name(<the writer's part-file name>)`, and return those names. A
    * store partitioned by `pcs` stages hive-style on duplicated
    * `__gp_<col>` directory columns (the originals stay in the data:
    * every file stays self-contained and holds one partition tuple);
    * either way the staging dir sits beside the versions and goes once
    * its files moved. An empty frame splits into no partition dir: its
    * schema-carrying footer-only file lands instead. */
  protected def landStaged(df0: DataFrame, pcs: Seq[String], dest: Path,
      name: String => String): Seq[String] = {
    def move(write: String => Unit): Seq[String] = {
      val stage = new Path(s"$basePath/.tmp-stage-${java.util.UUID.randomUUID()}")
      write(stage.toString)
      fs.mkdirs(dest)
      val it = fs.listFiles(stage, true)
      val names = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.startsWith("part-")).toIndexedSeq.map { p =>
          val n = name(p.getName)
          if (!fs.rename(p, new Path(dest, n)))
            throw new java.io.IOException(s"landing rename failed for $p")
          n
        }
      fs.delete(stage, true)
      names
    }
    if (pcs.isEmpty) move(df0.write.mode("overwrite").parquet(_))
    else {
      val df = deriveParts(df0)
      val landed = move(pcs.foldLeft(df)((d, c) => d.withColumn(s"__gp_$c", col(c)))
        .write.mode("overwrite").partitionBy(pcs.map("__gp_" + _): _*).parquet(_))
      if (landed.nonEmpty) landed else move(df.limit(0).write.mode("overwrite").parquet(_))
    }
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
  def columnStats(version: Long): Option[DataFrame] = sidecar(colstatsDir(version))

  // ---- FILE STATISTICS ----
  // A commit's metadata sidecar (the manifest, the zone map) holds one
  // row per data file: the key envelope, the row count and the min/max
  // of the stats columns. Landing verbs take those rows from the
  // landed files' footers and write the sidecar on the driver, so
  // neither the statistics nor the sidecar costs a Spark job.

  /** The per-file aggregates of a manifest entry or zone-map row. */
  protected def statAggs(cols: Seq[String]): Seq[Column] =
    Seq(min(col(keyCol)).as("min_key"), max(col(keyCol)).as("max_key"),
      count(lit(1)).as("n_rows")) ++
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))

  /** This layout's per-file statistics query over a frame of data
    * files: [[statAggs]] grouped by file, the file named from
    * `input_file_name()` in a `file` column as [[statsFileName]] names
    * it. */
  protected def statsQuery(files: DataFrame, cols: Seq[String]): DataFrame

  /** The `file` value [[statsQuery]] records for the data file at the
    * qualified path `p`. */
  protected def statsFileName(p: Path): String

  /** The rows [[statsQuery]] computes over the freshly landed data
    * `files` (stamped with the current `spec_id` on an evolved store),
    * as a local frame. Each file's row comes from its footer
    * ([[ParquetSchemas.footerStats]]): its row count, and Spark's own
    * footer aggregate for the min/max where the footer proves them.
    * Only files with an unproven column are scanned, by the query
    * itself. Files holding no rows get no row, as in the scan. */
  protected def landedStats(files: Seq[Path], cols: Seq[String]): DataFrame = {
    val (hist, cur) = specHistory
    def query(df: DataFrame): DataFrame = {
      val q = statsQuery(df, cols)
      if (hist.size <= 1) q else q.withColumn("spec_id", lit(cur))
    }
    def scan(paths: Seq[Path]): DataFrame =
      query(ParquetSchemas.readFiles(spark, paths.map(_.toString)))
    val statCols = (keyCol +: cols).distinct
    val footers = ParquetSchemas.footerStats(spark, files, statCols)
    // the schema a scan of `files` reads: the least path's, as Spark picks
    footers.sortBy(_.path.toString).headOption.flatMap(_.schema) match {
      case None =>
        val df = scan(files)
        spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      case Some(sc) =>
        val schema = query(spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), ParquetSchemas.asRead(sc))).schema
        val (proven, unproven) = footers.partition(f => f.minMax.isDefined &&
          f.schema.exists(fsc => statCols.forall(c => fsc.find(_.name == c) == sc.find(_.name == c))))
        val rows = proven.filter(_.rows > 0).map { f =>
          val mm = f.minMax.get
          org.apache.spark.sql.Row.fromSeq(schema.fieldNames.toSeq.map {
            case "file" => statsFileName(f.path)
            case "n_rows" => f.rows
            case "spec_id" => cur
            case "min_key" => mm(keyCol)._1
            case "max_key" => mm(keyCol)._2
            case n if n.startsWith("min_") => mm(n.drop(4))._1
            case n => mm(n.drop(4))._2
          })
        } ++ (if (unproven.isEmpty) Nil else scan(unproven.map(_.path)).collect().toSeq)
        val fileIdx = schema.fieldIndex("file")
        spark.createDataFrame(
          java.util.Arrays.asList(rows.sortBy(_.getString(fileIdx)): _*), schema)
    }
  }

  /** `a.unionByName(b, allowMissingColumns = true)` of two
    * metadata-sized frames as a local frame: the rows are matched by
    * name on the driver under the union's own schema. Where the union
    * would coerce a column's type (or match names by case), Spark's
    * union is returned instead. */
  protected def unionLocal(a: DataFrame, b: DataFrame): DataFrame = {
    val u = a.unionByName(b, allowMissingColumns = true)
    val exact = b.schema.forall(f => a.schema.filter(_.name.equalsIgnoreCase(f.name))
      .forall(g => g.name == f.name && g.dataType == f.dataType))
    if (!exact) u
    else {
      val names = u.schema.fieldNames.toSeq
      def aligned(df: DataFrame): Seq[org.apache.spark.sql.Row] = {
        val idx = names.map(n => df.schema.fieldNames.indexOf(n))
        df.collect().toSeq.map(r =>
          org.apache.spark.sql.Row.fromSeq(idx.map(i => if (i < 0) null else r.get(i))))
      }
      spark.createDataFrame(java.util.Arrays.asList(aligned(a) ++ aligned(b): _*), u.schema)
    }
  }

  /** The rows of a (`file`, `pos`) match frame per file — one job, each
    * partition tallying its own files (a grouped count would shuffle). */
  protected def matchCounts(matchRows: DataFrame): Map[String, Long] =
    matchRows.select("file").rdd.mapPartitions { rows =>
      val n = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      rows.foreach(r => n(r.getString(0)) += 1)
      Iterator(n.toMap)
    }.collect().toSeq.flatten.groupMapReduce(_._1)(_._2)(_ + _)

  /** The stored rows a manifest- or zone-map-shaped local frame counts. */
  protected def rowTotal(entries: DataFrame): Long =
    entries.select("n_rows").collect().map(_.getLong(0)).sum

  /** A copy-on-write merge's matched row counts (updated + deleted,
    * deleted) for Delta's MERGE operationMetrics. Every visible row of
    * a touched file either matches a merged key or survives into the
    * landing beside the upsert rows, so when the merge deletes no key
    * and `fromVersion` has no deletion vector (visible = stored rows)
    * the counts follow from the rewrite's own: matched = `touchedRows`
    * (the touched files' stored rows) − (`landedRows` − the upsert
    * rows counted by the probe), deleted 0. Otherwise one pass joins
    * `touchedKeys` (the touched files' masked key column) to the key
    * frame. */
  protected def mergeMatched(fromVersion: Long, touch: VersionedStore.Touch,
      touchedRows: => Long, landedRows: => Long, touchedKeys: => DataFrame): (Long, Long) =
    if (touch.files.isEmpty) (0L, 0L)
    else if (touch.deleteKeys == 0L && dvFrame(fromVersion).isEmpty)
      (touchedRows - (landedRows - touch.upsertRows), 0L)
    else {
      val r = touchedKeys.join(touch.keys, Seq(keyCol))
        .agg(count(lit(1)), coalesce(sum(when(col("__del"), 1L)), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

  /** The stats columns a rewrite's landed files record: those the
    * source's `entries` carry (the union with the carried entries needs
    * them), plus, on an evolved partition spec, the current spec's
    * columns (new files prune through them). */
  protected def rewriteStatsCols(entries: DataFrame): Seq[String] =
    landingStatsCols(statsColsOf(entries))

  /** The stats columns per-file `entries` record (physical names). */
  protected def statsColsOf(entries: DataFrame): Seq[String] =
    entries.columns.toSeq.filter(c => c.startsWith("min_") && c != "min_key").map(_.drop(4))

  /** `cols` plus, on an evolved partition spec, the current spec's
    * columns: the stats newly landed files record. */
  protected def landingStatsCols(cols: Seq[String]): Seq[String] =
    if (specHistory._1.size <= 1) cols
    else (cols ++ storedPartitionBy().filterNot(_ == keyCol)).distinct

  // ---- REWRITE VERBS ----
  // Every verb that rewrites part of a version — the merges, the
  // predicate delete and update, the deletion-vector folds and the
  // partition-scoped maintenance — is written once here over two
  // layout primitives: a version's per-file entries ([[fileEntries]])
  // and one rewrite commit ([[commitRewrite]]). The schema checks, the
  // touched-file choice, the deletion-vector policy, constraints and
  // the operation metrics live only here.

  /** The data file name an entry's or a path's `file` ends in. */
  protected def fileName(f: String): String = f.substring(f.lastIndexOf('/') + 1)

  /** The rows of `entries` naming the files in `names`. */
  private def entriesOf(entries: DataFrame, names: Set[String]): DataFrame =
    entries.filter(regexp_extract(col("file"), "[^/]+$", 0).isin(names.toSeq: _*))

  /** The `paths` whose file names are in `names`. */
  private def named(paths: Seq[String], names: Set[String]): Seq[String] =
    paths.filter(p => names(fileName(p)))

  /** [[commitRewrite]] of `fromVersion`'s `paths` minus `removed`, the
    * deletion vector carried with `dvAdd` joining it ([[carryDv]]).
    * Returns (files carried, files landed). */
  private def rewrite(fromVersion: Long, toVersion: Long, entries: DataFrame,
      paths: Seq[String], removed: Set[String], landing: Option[DataFrame],
      dvAdd: Option[DataFrame], schema: StructType, sidecar: Boolean, commitTs: Option[Long],
      op: String, opParams: String, metrics: (Int, Long) => Map[String, Long]): (Int, Int) = {
    val carried = paths.filterNot(p => removed(fileName(p)))
    (carried.size, commitRewrite(fromVersion, toVersion, entries, carried, landing,
      carryDv(fromVersion, removed, carried.nonEmpty, dvAdd), schema, sidecar, commitTs, op,
      opParams, metrics))
  }

  /** `raw` — a scan of data files under their stored (PHYSICAL) names —
    * with each row's file name and parquet row position in `__f`/`__p`,
    * the deletion vector `dv` masked out (one broadcast anti-join on the
    * position: an already-deleted row can never re-match or resurrect),
    * then projected to `schema`'s logical names with its recorded
    * fills. Positions come from the parquet reader's own
    * `_metadata.row_index`, stable because data files are immutable. */
  protected def withPositions(raw: DataFrame, dv: Option[DataFrame],
      schema: Option[StructType]): DataFrame = {
    val withPos = raw.select(col("*"),
      element_at(split(col("_metadata.file_path"), "/"), -1).as("__f"),
      col("_metadata.row_index").as("__p"))
    val masked = dv.fold(withPos)(d =>
      withPos.join(broadcast(d.toDF("__f", "__p")), Seq("__f", "__p"), "left_anti"))
    schema.fold(masked) { sc =>
      val logical = SnapshotStore.toLogical(masked, sc)
      val fills = SnapshotStore.fillValues(sc)
      if (fills.isEmpty) logical else logical.na.fill(fills)
    }
  }

  /** `paths` (files of `version`) read as the version reads them under
    * `schema`, with positions ([[withPositions]]). */
  private def scanWithPos(version: Long, paths: Seq[String], schema: StructType): DataFrame =
    withPositions(spark.read.schema(SnapshotStore.physicalSchema(schema)).parquet(paths: _*),
      dvFrame(version), Some(schema))

  /** [[scanWithPos]] without the positions, derived partition columns
    * recomputed: the rows a rewrite of those files carries. */
  private def scanRows(version: Long, paths: Seq[String], schema: StructType): DataFrame =
    recomputeDerived(scanWithPos(version, paths, schema).drop("__f", "__p"))

  /** The (`file`, `pos`) pairs of a [[scanWithPos]] frame's rows. */
  private def positions(scan: DataFrame): DataFrame =
    scan.select(col("__f").as("file"), col("__p").as("pos"))

  /** An empty (`file`, `pos`) frame: a match over no file. */
  private def noPositions: DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      SnapshotStore.dvSchema)

  /** `df` as a rewrite lands it: [[arrange]]d into ~`numFiles` files,
    * under the physical names `schema` maps (the version's file set
    * stays name-uniform with the carried files). */
  private def land(df: DataFrame, numFiles: Int, schema: StructType): DataFrame =
    SnapshotStore.toPhysical(arrange(df, numFiles), schema)

  /** The deletion-vector policy: merge-on-read when the match is sparse
    * relative to the files it touches — rewriting a 1 GB file to drop
    * 3 rows is the 100 TB scale-killer deletion vectors exist to avoid
    * — copy-on-write when dense (the mask would stop being
    * metadata-sized and every read would pay it forever). */
  private def sparse(matched: Long, touchedRows: Long): Boolean = matched * 5 <= touchedRows

  /** The deletion vector a commit over `fromVersion`'s files minus
    * `removed` publishes: the source's entries for the files it keeps
    * (`keepsFiles`: any; a removed file's survivors were rewritten, so
    * its entries are obsolete) plus `add`, new mask rows known to be
    * non-empty. None when nothing remains — a store that stops using
    * deletion vectors stops paying for them. */
  protected def carryDv(fromVersion: Long, removed: Set[String], keepsFiles: Boolean,
      add: Option[DataFrame] = None): Option[DataFrame] = {
    val kept =
      if (removed.isEmpty) dvFrame(fromVersion)
      else if (!keepsFiles) None
      else dvFrame(fromVersion).map(_.filter(!col("file").isin(removed.toSeq: _*)).materialize())
        .filter(_.limit(1).count() > 0)
    add.fold(kept)(a => Some(kept.fold(a)(_.unionByName(a))))
  }

  /** A new version's pre-checks: `fromVersion` exists and `toVersion`
    * does not ([[requireFreeVersion]]). */
  private def requireRewrite(fromVersion: Long, toVersion: Long): Unit = {
    require(hasVersion(fromVersion), s"version $fromVersion does not exist")
    requireFreeVersion(toVersion)
  }

  /** SCD1 upsert of `delta` (+ optional `deleteKeys`) from one version
    * into the next, copy-on-write at the FILE level: only the files
    * whose key envelope holds an upserted or deleted key
    * ([[VersionedStore.touchedFiles]] — one pass over the key set
    * probing the entries' envelopes) are read, their survivors (rows
    * whose key the merge does not address; the read is DV-masked, so a
    * deleted row cannot resurrect) rewritten beside the upserts; every
    * untouched file carries with its entry (by reference on the linked
    * layout, by byte-copy under the same name on the snapshot layout).
    * At 100 TB this is the difference between "the daily merge
    * rewrites the lake" and "it rewrites the 0.1% of files the delta's
    * keys land in".
    *
    * SCHEMA EVOLUTION ([[Snapshot.mergeUpsert]]'s `allowMissingColumns`
    * semantics, CoW-shaped): a column the delta ADDS joins the
    * version's schema through the union-schema sidecar — carried files
    * are not rewritten and read null, or the recorded `fill` default
    * (`fill` keys must be columns this delta introduces), for it; a
    * column the delta drops keeps its stored values on survivor rows
    * and reads null on delta rows; a same-name TYPE change fails fast
    * (silent coercion at 100 TB is a corrupted lake). Rewritten files
    * materialize every recorded fill, so a plain SQL scan with the
    * schema's existence defaults reads what the store API reads.
    *
    * operationMetrics are Delta's MERGE counts from the rewrite's own
    * counts ([[mergeMatched]]); the upsert count comes from the key
    * probe, so the user's delta pipeline never re-executes for them.
    * Returns (filesCarried, filesRewritten). */
  def mergeDelta(fromVersion: Long, toVersion: Long, delta: DataFrame,
      deleteKeys: Option[DataFrame] = None, numNewFiles: Int = 4,
      commitTs: Option[Long] = None,
      fill: Map[String, Any] = Map.empty): (Int, Int) = {
    requireRewrite(fromVersion, toVersion)
    val entries = fileEntries(fromVersion)
    val (baseSchema, paths) = schemaAndPaths(fromVersion)
    val baseNames = baseSchema.fieldNames.toSet
    delta.schema.fields.filter(f => baseNames(f.name)).foreach { f =>
      val bt = baseSchema(f.name).dataType
      // simpleString ignores nullability flags (an array<float> whose
      // containsNull differs is the same type)
      require(bt.simpleString == f.dataType.simpleString,
        s"mergeDelta: column '${f.name}' type changed ${bt.simpleString} -> " +
          s"${f.dataType.simpleString}; evolving a column's TYPE needs an explicit rewrite")
    }
    val newFields = delta.schema.fields.filterNot(f => baseNames(f.name))
    val basePhys = baseSchema.fields.map(SnapshotStore.physicalName).toSet
    newFields.foreach(f => require(!basePhys(f.name),
      s"mergeDelta: new column '${f.name}' collides with a stored PHYSICAL " +
        "column name (a prior RENAME maps it) - old bytes would answer to two " +
        "logical columns; compact first to fold the mapping"))
    require(fill.keySet.subsetOf(newFields.map(_.name).toSet),
      s"fill keys ${fill.keySet} must be columns this delta introduces " +
        s"(${newFields.map(_.name).toSet})")
    val unionSchema = StructType(baseSchema.fields ++ newFields.map(f =>
      SnapshotStore.fieldWithFill(f, fill.get(f.name))))
    // align a frame to the union schema: absent columns read null
    def align(df: DataFrame): DataFrame = {
      val have = df.columns.toSet
      df.select(unionSchema.fields.toIndexedSeq.map(f =>
        if (have(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)): _*)
    }
    val touchKeys = VersionedStore.mergeKeys(delta, deleteKeys, keyCol)
    val touch = VersionedStore.touchedFiles(touchKeys, entries, keyCol)
    val touched = touch.files.map(fileName)
    val touchedPaths = named(paths, touched)
    val survivors =
      if (touched.isEmpty) align(delta).limit(0)
      else align(scanRows(fromVersion, touchedPaths, baseSchema))
        .join(touchKeys, Seq(keyCol), "left_anti")
    val upserts = align(deleteKeys.map(df => df.select(df.columns.head).toDF(keyCol))
      .foldLeft(delta)((d, del) => d.join(del, Seq(keyCol), "left_anti")))
    enforceConstraints(upserts, "mergeDelta")
    val fills = SnapshotStore.fillValues(unionSchema)
    val rewritten = survivors.unionByName(upserts)
    rewrite(fromVersion, toVersion, entries, paths, touched,
      Some(land(if (fills.isEmpty) rewritten else rewritten.na.fill(fills), numNewFiles,
        unionSchema)),
      None, unionSchema, newFields.nonEmpty || evolvedSchema(fromVersion).isDefined,
      commitTs, "mergeDelta", "", { (nLanded, landedRows) =>
        val (nMatched, nMatchedDel) = mergeMatched(fromVersion, touch,
          rowTotal(entriesOf(entries, touched)), landedRows,
          scanRows(fromVersion, touchedPaths, baseSchema).select(col(keyCol)))
        Map(
          "numTargetRowsInserted" -> math.max(0L, touch.upsertKeys - (nMatched - nMatchedDel)),
          "numTargetRowsUpdated" -> (nMatched - nMatchedDel),
          "numTargetRowsDeleted" -> nMatchedDel,
          "numTargetFilesAdded" -> nLanded.toLong,
          "numTargetFilesRemoved" -> touched.size.toLong)
      })
  }

  /** MERGE-ON-READ MERGE — [[mergeDelta]]'s alternative (Iceberg's
    * merge-on-read MERGE): the rows the delta supersedes (existing rows
    * whose key it upserts or deletes, found by a positional scan of the
    * envelope-touched files only) join the DELETION VECTOR by position
    * while the delta's rows land as NEW files — one commit,
    * O(|delta| + mask) writes, not one existing file rewritten. The
    * trade is read-side: the mask grows until [[foldDv]] (or a
    * compaction) folds it. Same-schema only (an evolving merge takes
    * the copy-on-write path); constraints gate the delta. Returns
    * (filesNew, rowsMasked). */
  def mergeDeltaMor(fromVersion: Long, toVersion: Long, delta: DataFrame,
      deleteKeys: Option[DataFrame] = None, numNewFiles: Int = 2,
      commitTs: Option[Long] = None): (Int, Long) = {
    requireRewrite(fromVersion, toVersion)
    val (schema, paths) = schemaAndPaths(fromVersion)
    require(delta.schema.fieldNames.sorted.sameElements(schema.fieldNames.sorted),
      s"mergeDeltaMor is same-schema only (have ${schema.fieldNames.mkString(",")}, " +
        s"delta ${delta.schema.fieldNames.mkString(",")}) — an evolving merge " +
        "takes mergeDelta's copy-on-write path")
    val entries = fileEntries(fromVersion)
    val touchKeys = VersionedStore.mergeKeys(delta, deleteKeys, keyCol)
    val touched = VersionedStore.touchedFiles(touchKeys, entries, keyCol).files.map(fileName)
    val matchRows =
      if (touched.isEmpty) noPositions
      else positions(scanWithPos(fromVersion, named(paths, touched), schema)
        .join(touchKeys.select(keyCol), Seq(keyCol), "left_semi")).materialize()
    val upserts = deleteKeys.map(df => df.select(df.columns.head).toDF(keyCol))
      .foldLeft(delta)((d, del) => d.join(del, Seq(keyCol), "left_anti"))
    enforceConstraints(upserts, "mergeDeltaMor")
    val nMasked = matchRows.count()
    val (_, nNew) = rewrite(fromVersion, toVersion, entries, paths, Set.empty,
      Some(land(upserts, numNewFiles, schema)), Some(matchRows).filter(_ => nMasked > 0),
      schema, evolvedSchema(fromVersion).isDefined, commitTs, "mergeDeltaMor", "",
      (nLanded, _) => Map("numTargetRowsMasked" -> nMasked,
        "numTargetFilesAdded" -> nLanded.toLong, "numTargetFilesRemoved" -> 0L))
    (nNew, nMasked)
  }

  /** Predicate delete (the GDPR erasure primitive): publish `toVersion`
    * with every row matching `pred` removed. One narrow match scan
    * (Catalyst prunes it to the predicate's columns and the position,
    * and pushes the bare predicate to the parquet scan) finds the
    * matching rows and their files; `pruneHint = (column, lo, hi)`
    * restricts it to the files whose entry range for that column
    * overlaps, so a delete keyed by a clustered column (time, tenant,
    * user-id band) never reads the rest of a 100 TB version. Sparse
    * matches publish a deletion vector over unchanged files (`mode`
    * `dv`, or `auto` under the [[sparse]] policy); dense ones rewrite
    * only the files holding a match (`cow`). Rows where `pred` is NULL
    * are KEPT (`!coalesce(pred, false)` — dropping them would be data
    * loss, not deletion). The rows leave the NEW version only: full-
    * history erasure is this on the tip plus retention of the old
    * versions. Returns (filesCarried, filesRewritten, rowsDeleted). */
  def deleteWhere(fromVersion: Long, toVersion: Long, pred: Column,
      numNewFiles: Int = 4, commitTs: Option[Long] = None,
      pruneHint: Option[(String, Any, Any)] = None,
      mode: String = "auto"): (Int, Int, Long) = {
    require(Set("auto", "cow", "dv")(mode),
      s"deleteWhere mode must be auto|cow|dv, got '$mode'")
    requireRewrite(fromVersion, toVersion)
    val entries = fileEntries(fromVersion)
    val (schema, paths) = schemaAndPaths(fromVersion)
    val candidates = pruneHint.flatMap { case (c, lo, hi) =>
      overlapping(entries, fromVersion, c, lo, hi).map(_.map(fileName).toSet)
    }.fold(paths)(named(paths, _))
    val matchRows =
      if (candidates.isEmpty) noPositions
      else positions(scanWithPos(fromVersion, candidates, schema).filter(pred)).materialize()
    val matching = matchCounts(matchRows)
    val deleted = matching.values.sum
    val sidecar = evolvedSchema(fromVersion).isDefined
    def commit(removed: Set[String], landing: Option[DataFrame], dv: Option[DataFrame],
        extra: Map[String, Long]): (Int, Int) =
      rewrite(fromVersion, toVersion, entries, paths, removed, landing, dv, schema, sidecar,
        commitTs, "deleteWhere", SnapshotStore.predSql(pred), (nLanded, _) =>
          Map("numDeletedRows" -> deleted, "numAddedFiles" -> nLanded.toLong,
            "numRemovedFiles" -> removed.size.toLong) ++ extra)
    if (matching.isEmpty) (commit(Set.empty, None, None, Map.empty)._1, 0, 0L)
    else if (mode == "dv" || (mode == "auto" &&
        sparse(deleted, rowTotal(entriesOf(entries, matching.keySet))))) {
      // no file changes identity: every entry carries (its envelope stays
      // conservative over the masked rows — pruning may open a file whose
      // matches are all masked, never skip a live row)
      (commit(Set.empty, None, Some(matchRows),
        Map("numDeletionVectorsUpdated" -> matching.size.toLong))._1, 0, deleted)
    } else {
      val kept = scanRows(fromVersion, named(paths, matching.keySet), schema)
        .filter(!coalesce(pred, lit(false)))
      val (carried, rewritten) =
        commit(matching.keySet, Some(land(kept, numNewFiles, schema)), None, Map.empty)
      (carried, rewritten, deleted)
    }
  }

  /** Predicate UPDATE with a MERGE-ON-READ path (Delta/Iceberg's MoR
    * updates): in `mor` mode the matched rows' OLD positions join the
    * deletion vector while their UPDATED copies land as NEW files, all
    * in one commit — a sparse update costs O(|matched rows|) writes
    * plus a metadata-sized mask, never a file rewrite; `cow` rewrites
    * the touched files instead (the read-optimized trade); `auto`
    * picks mor under the [[sparse]] policy. The match scan reads the
    * physical names and projects to logical BEFORE the predicate (a
    * predicate on a renamed column must see its values). The SET map
    * may not touch the key column (that is a delete+insert, not an
    * update). Returns (filesCarried, filesNew, rowsUpdated). */
  def updateWhere(fromVersion: Long, toVersion: Long, pred: Column,
      set: Map[String, Column], numNewFiles: Int = 2,
      commitTs: Option[Long] = None, mode: String = "auto"): (Int, Int, Long) = {
    require(Set("auto", "cow", "mor")(mode),
      s"updateWhere mode must be auto|cow|mor, got '$mode'")
    require(set.nonEmpty, "updateWhere: empty SET")
    require(!set.contains(keyCol),
      s"updateWhere: SET may not touch the key column '$keyCol' — a key change " +
        "is a delete+insert, route it through mergeDelta")
    requireRewrite(fromVersion, toVersion)
    val (schema, paths) = schemaAndPaths(fromVersion)
    val missing = set.keys.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"updateWhere: not in the schema: ${missing.mkString(", ")}")
    val entries = fileEntries(fromVersion)
    val matched = scanWithPos(fromVersion, paths, schema)
      .filter(coalesce(pred, lit(false))).materialize()
    val matchRows = positions(matched)
    val matching = matchCounts(matchRows)
    val updated = matching.values.sum
    def applySet(df: DataFrame): DataFrame =
      set.foldLeft(df) { case (d, (c, v)) => d.withColumn(c, v) }
    val (removed, rewritten, dvAdd) =
      if (matching.isEmpty) (Set.empty[String], None, None)
      else if (mode == "mor" || (mode == "auto" &&
          sparse(updated, rowTotal(entriesOf(entries, matching.keySet)))))
        (Set.empty[String], Some(applySet(matched).drop("__f", "__p")), Some(matchRows))
      else {
        val touched = scanRows(fromVersion, named(paths, matching.keySet), schema)
        (matching.keySet, Some(applySet(touched.filter(coalesce(pred, lit(false))))
          .unionByName(touched.filter(!coalesce(pred, lit(false))))), None)
      }
    rewritten.foreach(enforceConstraints(_, "updateWhere"))
    val (carried, landed) = rewrite(fromVersion, toVersion, entries, paths, removed,
      rewritten.map(land(_, numNewFiles, schema)), dvAdd, schema,
      evolvedSchema(fromVersion).isDefined, commitTs, "updateWhere",
      s"SET ${set.keys.toSeq.sorted.mkString(",")} WHERE ${SnapshotStore.predSql(pred)}",
      (nLanded, _) => Map("numUpdatedRows" -> updated, "numAddedFiles" -> nLanded.toLong,
        "numRemovedFiles" -> removed.size.toLong))
    (carried, landed, updated)
  }

  /** FOLD the deletion vector: rewrite ONLY the files the mask names
    * (reading them masked, so the masked rows drop for good), carry
    * every other file, publish without a mask — the targeted companion
    * to compaction, which folds only small files (a 1 GB file with 3
    * masked rows would otherwise stay masked forever, paying the
    * anti-join on every read). I/O = O(|masked files|). Returns
    * (filesCarried, filesRewritten, rowsDropped); a carry publish when
    * there is no deletion vector. */
  def foldDv(fromVersion: Long, toVersion: Long, numNewFiles: Int = 2,
      commitTs: Option[Long] = None): (Int, Int, Long) =
    foldMasked(fromVersion, toVersion, numNewFiles, commitTs, None)

  /** PARTITION-SCOPED DV fold — [[foldDv]] restricted to the masked
    * files inside the partitions `pred` selects (a predicate over the
    * declared partition columns, evaluated on the entries' min==max
    * tuples — metadata only): those rewrite, every other file carries
    * WITH its mask intact. Folding one tenant's partition never
    * rewrites the rest. Returns (filesCarried, filesRewritten,
    * rowsDropped). */
  def foldDvWhere(fromVersion: Long, toVersion: Long, pred: Column,
      numNewFiles: Int = 2, commitTs: Option[Long] = None): (Int, Int, Long) = {
    requirePartitioned("foldDvWhere")
    foldMasked(fromVersion, toVersion, numNewFiles, commitTs, Some(pred))
  }

  /** [[foldDv]] over the masked files inside `scope`'s partitions (all
    * of them when None). */
  private def foldMasked(fromVersion: Long, toVersion: Long, numNewFiles: Int,
      commitTs: Option[Long], scope: Option[Column]): (Int, Int, Long) = {
    requireRewrite(fromVersion, toVersion)
    val opParams = scope.fold("")(SnapshotStore.predSql)
    val entries = fileEntries(fromVersion)
    val dv = dvFrame(fromVersion).map(_.materialize())
    val inScope = scope.fold((_: String) => true)(
      partitionFiles(entries, storedPartitionBy(), _))
    val masked = dv.fold(Set.empty[String])(
      _.select("file").distinct().collect().map(_.getString(0)).filter(inScope).toSet)
    if (masked.isEmpty) {
      publishCarry(fromVersion, toVersion, None, Nil, commitTs, "foldDv", opParams)
      return (dataPaths(fromVersion).size, 0, 0L)
    }
    val dropped = dv.get.filter(col("file").isin(masked.toSeq: _*)).count()
    val (schema, paths) = schemaAndPaths(fromVersion)
    val (carried, rewritten) = rewrite(fromVersion, toVersion, entries, paths, masked,
      Some(land(scanRows(fromVersion, named(paths, masked), schema), numNewFiles,
        schema)),
      None, schema, evolvedSchema(fromVersion).isDefined, commitTs, "foldDv", opParams,
      (nLanded, _) => Map("numAddedFiles" -> nLanded.toLong,
        "numRemovedFiles" -> masked.size.toLong))
    (carried, rewritten, dropped)
  }

  /** PARTITION-SCOPED compaction — Delta's `OPTIMIZE t WHERE part=x`:
    * fold the sub-`minBytes` files ONLY inside the partitions `pred`
    * selects into ~`targetFiles` files per partition tuple (read
    * masked: their deletion-vector entries retire); every other file
    * carries. At 100 TB you never OPTIMIZE a whole table: the nightly
    * maintenance of one hot day costs O(that day's fragments), and the
    * untouched partitions' files are bit-identical across the commit.
    * Published as a NEW version. Returns (filesCarried,
    * filesRewritten). */
  def compactWhere(fromVersion: Long, toVersion: Long, pred: Column,
      minBytes: Long = 8L << 20, targetFiles: Int = 1,
      commitTs: Option[Long] = None): (Int, Int) = {
    val pcs = requirePartitioned("compactWhere")
    requireRewrite(fromVersion, toVersion)
    val entries = fileEntries(fromVersion)
    val paths = dataPaths(fromVersion)
    val scope = partitionFiles(entries, pcs, pred)
    val small = paths.filter(p => scope(fileName(p)) &&
      fs.getFileStatus(new Path(p)).getLen < minBytes)
    if (small.size <= 1) { // nothing to fold inside the scope
      publishCarry(fromVersion, toVersion, None, Nil, commitTs, "compact",
        SnapshotStore.predSql(pred))
      return (paths.size, 0)
    }
    val schema = storedSchema(fromVersion)
    val names = small.map(fileName).toSet
    rewrite(fromVersion, toVersion, entries, paths, names,
      Some(land(scanRows(fromVersion, small, schema), targetFiles, schema)), None, schema,
      evolvedSchema(fromVersion).isDefined, commitTs, "compact", SnapshotStore.predSql(pred),
      (nLanded, _) => Map("numAddedFiles" -> nLanded.toLong,
        "numRemovedFiles" -> names.size.toLong))
  }

  /** PARTITION-SCOPED Z-ORDER — Iceberg's rewrite_data_files with a row
    * filter: re-cluster ONLY the partitions `pred` selects on `zCols`'
    * Morton order, the range split running over (partition tuple, z)
    * so every file keeps one tuple and each partition's files cover
    * contiguous z ranges; everything else carries. Content-invariant:
    * clustering moves rows between files, never changes them. Returns
    * (filesCarried, filesRewritten). */
  def zorderWhere(fromVersion: Long, toVersion: Long, pred: Column,
      zCols: Seq[String], numFiles: Int = 4,
      commitTs: Option[Long] = None): (Int, Int) = {
    val pcs = requirePartitioned("zorderWhere")
    requireRewrite(fromVersion, toVersion)
    require(zCols.nonEmpty, "zorderWhere: no z columns")
    val overlap = zCols.filter(pcs.contains)
    require(overlap.isEmpty,
      s"zorderWhere: ${overlap.mkString(", ")} are partition columns — constant " +
        "within every file already; z-order the finer dimensions instead")
    val entries = fileEntries(fromVersion)
    val scope = partitionFiles(entries, pcs, pred)
    if (scope.isEmpty) {
      publishCarry(fromVersion, toVersion, None, Nil, commitTs, "zorder",
        SnapshotStore.predSql(pred))
      return (dataPaths(fromVersion).size, 0)
    }
    val (schema, paths) = schemaAndPaths(fromVersion)
    // an evolved schema may hide a derived partition column the range
    // split needs: derive it (a pure function of its source)
    val rows = deriveParts(scanRows(fromVersion, named(paths, scope), schema))
    val zc = ZOrder.zColumn(rows, zCols)
    val arranged = rows.withColumn("__z", zc)
      .repartitionByRange(numFiles, (pcs.map(col) :+ col("__z")): _*)
      .sortWithinPartitions((pcs.map(col) :+ col("__z")): _*)
      .drop("__z")
    rewrite(fromVersion, toVersion, entries, paths, scope,
      Some(SnapshotStore.toPhysical(arranged, schema)), None, schema,
      evolvedSchema(fromVersion).isDefined, commitTs, "zorder", SnapshotStore.predSql(pred),
      (nLanded, _) => Map("numAddedFiles" -> nLanded.toLong,
        "numRemovedFiles" -> scope.size.toLong))
  }

  /** DYNAMIC PARTITION OVERWRITE — Delta's `replaceWhere` / classic
    * `INSERT OVERWRITE ... PARTITION`: every partition tuple PRESENT in
    * `data` is replaced wholesale by `data`'s rows for it; untouched
    * partitions carry (by reference on the linked layout, by byte-copy
    * on the snapshot layout). The idempotent backfill verb: re-running
    * a day's pipeline overwrites that day and nothing else. Schema must
    * match the table (an overwrite is not a schema-evolution verb).
    * Returns (filesCarried, filesReplaced, filesNew). */
  def replaceWhere(fromVersion: Long, toVersion: Long, data: DataFrame,
      filesPerPartition: Int = 1, commitTs: Option[Long] = None): (Int, Int, Int) = {
    val pcs = requirePartitioned("replaceWhere")
    requireRewrite(fromVersion, toVersion)
    val entries = fileEntries(fromVersion)
    requireUniformSpec(entries, "replaceWhere")
    enforceConstraints(data, "replaceWhere")
    val rows = deriveParts(data)
    val touched = rows.select(pcs.map(col): _*).distinct().materialize()
    // NULL-SAFE join (<=>): a null partition tuple in `data` must
    // replace the existing null-tuple files like any other value — a
    // plain column-list join never matches nulls, which would KEEP the
    // old null-partition files AND land the new rows (duplication)
    val pe = partitionEntries(entries, pcs)
    val replaced = pe.join(touched, pcs.map(c => pe(c) <=> touched(c)).reduce(_ && _),
        "left_semi")
      .select("file").collect().map(r => fileName(r.getString(0))).toSet
    val (schema, paths) = schemaAndPaths(fromVersion)
    val (carried, landed) = rewrite(fromVersion, toVersion, entries, paths, replaced,
      Some(land(rows, filesPerPartition, schema)), None, schema,
      evolvedSchema(fromVersion).isDefined, commitTs, "replaceWhere", "", (_, _) => Map.empty)
    (carried, paths.size - carried, landed)
  }

  /** PARTITION DROP — the retention verb a date-partitioned 100 TB
    * lake runs nightly ("drop everything older than 90 days"): the
    * files whose partition tuple satisfies `pred` (a Column over the
    * partition column names) leave the version, every other file
    * carries — not one data byte is rewritten, the layout's
    * one-tuple-per-file invariant makes a partition's file set exact.
    * On the linked layout the drop is metadata-only and the bytes
    * reclaim later via the ref-count vacuum. Null predicate rows are
    * kept ([[deleteWhere]]'s rule). Returns (filesCarried,
    * filesDropped, physicalRowsDropped). */
  def dropPartitions(fromVersion: Long, toVersion: Long, pred: Column,
      commitTs: Option[Long] = None): (Int, Int, Long) = {
    val pcs = requirePartitioned("dropPartitions")
    requireRewrite(fromVersion, toVersion)
    val entries = fileEntries(fromVersion)
    requireUniformSpec(entries, "dropPartitions")
    val dropped = partitionEntries(entries, pcs).filter(coalesce(pred, lit(false)))
      .select("file", "n_rows").collect()
    val names = dropped.map(r => fileName(r.getString(0))).toSet
    val (schema, paths) = schemaAndPaths(fromVersion)
    val (carried, _) = rewrite(fromVersion, toVersion, entries, paths, names, None, None,
      schema, evolvedSchema(fromVersion).isDefined, commitTs, "dropPartitions",
      SnapshotStore.predSql(pred), (_, _) => Map.empty)
    (carried, names.size, dropped.map(_.getLong(1)).sum)
  }

  // ---- PARTITION ENTRIES ----

  /** SHOW PARTITIONS, metadata-only: one row per partition tuple with
    * its file and physical row counts, straight off the version's
    * entries — no data file opens. (Row counts are physical: masked
    * rows count until [[foldDv]] or a compaction folds them.) */
  def partitions(version: Long): DataFrame = {
    val pcs = requirePartitioned("partitions")
    val entries = fileEntries(version)
    requireUniformSpec(entries, "partitions")
    partitionEntries(entries, pcs)
      .groupBy(pcs.map(col): _*)
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"))
  }

  protected def requirePartitioned(op: String): Seq[String] = {
    val pcs = storedPartitionBy()
    require(pcs.nonEmpty,
      s"$op needs a partitioned store — declare partition columns with writePartitioned")
    pcs
  }

  /** `entries` with each file's partition tuple as plain value columns
    * (min==max per the layout invariant, asserted) — the shared base
    * of the partition verbs. */
  protected def partitionEntries(entries: DataFrame, pcs: Seq[String]): DataFrame = {
    val absent = pcs.filterNot(c => entries.columns.contains(s"min_$c"))
    require(absent.isEmpty,
      s"version records no stats for partition column(s) ${absent.mkString(", ")} — " +
        "it predates the CURRENT partition spec; compact to rewrite under it, " +
        "or read through readSourceRange")
    val straddlers = entries.filter(
        pcs.map(c => !(col(s"min_$c") <=> col(s"max_$c"))).reduce(_ || _))
      .limit(1).count()
    require(straddlers == 0L,
      "partitioned-store invariant violated: a version file spans more than one " +
        "partition tuple (was data landed outside the store's own write paths?)")
    entries.select(entries.columns.map(col) ++ pcs.map(c => col(s"min_$c").as(c)): _*)
  }

  /** Names of the files inside the partitions `pred` selects. */
  private def partitionFiles(entries: DataFrame, pcs: Seq[String], pred: Column): Set[String] =
    partitionEntries(entries, pcs).filter(coalesce(pred, lit(false)))
      .select("file").collect().map(r => fileName(r.getString(0))).toSet

  // ---- SIDECARS ----

  /** The visible files of a published sidecar directory, or None while
    * it holds no `_SUCCESS` marker. */
  private def sidecarFiles(dir: Path): Option[Seq[FileStatus]] =
    if (!fs.exists(new Path(dir, "_SUCCESS"))) None
    else Some(fs.listStatus(dir).toSeq)

  /** A parquet sidecar directory (`_dv`, `_zonemap`, `_colstats`,
    * `_bloom_<c>`) as a frame, or None while unpublished. Read from its
    * own listing, so Spark never resolves the `_`-prefixed directory as
    * a data-source path (which it reports as an ignored hidden path).
    * `schema` None: the schema of the listing's first file footer. */
  protected def sidecar(dir: Path, schema: Option[StructType] = None): Option[DataFrame] =
    sidecarFiles(dir).map(ParquetSchemas.readListed(spark, dir, _, schema))

  /** The version's DELETION VECTOR — (file basename, parquet row
    * position) pairs masked out of every semantic read, when a
    * merge-on-read verb published one. Lives inside the version's
    * directory, so it publishes atomically with the version. */
  def dvFrame(version: Long): Option[DataFrame] =
    sidecar(new Path(versionDir(version), "_dv"), Some(SnapshotStore.dvSchema))

  /** Mask entry count from the DV parquet footers — driver-side, one
    * footer open per DV part file (the DV lands coalesce(1)). */
  def dvRowCount(version: Long): Long =
    sidecarFiles(new Path(versionDir(version), "_dv")).fold(0L) { files =>
      val conf = spark.sparkContext.hadoopConfiguration
      files.filter(f => f.isFile && f.getPath.getName.startsWith("part-")).map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try r.getRecordCount finally r.close()
      }.sum
    }

  protected def bloomDir(version: Long, column: String): Path =
    new Path(versionDir(version), s"_bloom_$column")

  /** The stored per-file Bloom filters for `column`, when built. */
  def bloomIndex(version: Long, column: String)
      : Option[Map[String, org.apache.spark.util.sketch.BloomFilter]] =
    sidecar(bloomDir(version, column)).map(_.collect().map { r =>
      r.getString(0) -> org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
    }.toMap)

  /** Point lookup on a Bloom-indexed column: open ONLY the files whose
    * filter might contain the value (a file ABSENT from the index —
    * landed after the build — always opens: a stale index stays
    * CORRECT, it just skips less), then filter exactly. Falls back to a
    * full scan + filter with no index. Returns (frame, filesOpened) —
    * the caller-visible skip accounting. */
  def readWhereEquals(version: Long, column: String, value: Any): (DataFrame, Int) = {
    val pred = col(column) === lit(value)
    val paths = dataPaths(version)
    bloomIndex(version, column) match {
      case None => (readDataFiles(version, paths).filter(pred), paths.size)
      case Some(idx) =>
        val v = String.valueOf(value)
        val hit = paths.filter(p => idx.get(new Path(p).getName).forall(_.mightContainString(v)))
        val base = if (hit.isEmpty) emptyRead(version) else readDataFiles(version, hit)
        (base.filter(pred), hit.length)
    }
  }

  // ---- HISTORY ----

  /** The VERSION-LOG CHECKPOINT, served and self-healed: retained
    * versions ascending with their consolidated stats. Warm path = ONE
    * `_history.json` read, O(1) file opens regardless of the version
    * count; entries missing from the checkpoint (crash, concurrent
    * publisher, external writer, invalidation) rebuild from the
    * versions and the checkpoint rewrites. */
  protected def historyEntries(): Seq[(Long, SnapshotStore.HistoryEntry)] = {
    val vs = versions()
    val ckpt = SnapshotStore.readHistoryCkpt(fs, basePath)
    val live = ckpt.filter { case (v, _) => vs.contains(v) }
    val missing = vs.filterNot(live.contains)
    if (missing.isEmpty) vs.map(v => v -> live(v))
    else {
      val merged = live ++ missing.map(v => v -> computeHistoryEntry(v))
      SnapshotStore.rewriteHistoryCkpt(getClass.getSimpleName, fs, basePath, merged)
      vs.map(v => v -> merged(v))
    }
  }

  /** Incremental checkpoint maintenance — one entry per publish: a
    * STATS-CARRY commit (`statsFrom`, whose files are the source's)
    * derives its entry from the source's with `carry`, any other
    * builds a `fresh` one. Best-effort: the checkpoint is derived, so
    * a failed update is logged and self-heals on the next read; the
    * commit stays published. */
  protected def noteCommit(version: Long, statsFrom: Option[Long],
      carry: SnapshotStore.HistoryEntry => SnapshotStore.HistoryEntry,
      fresh: => SnapshotStore.HistoryEntry): Unit =
    try {
      val ckpt = SnapshotStore.readHistoryCkpt(fs, basePath)
      val entry = statsFrom.flatMap(ckpt.get).fold(fresh)(carry)
      SnapshotStore.writeHistoryCkpt(fs, basePath, ckpt + (version -> entry))
    } catch { case scala.util.control.NonFatal(e) =>
      SnapshotStore.checkpointUpdateFailed(getClass.getSimpleName, basePath, version, e) }

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

  // ---- RETENTION ----
  // One policy over one layout step ([[dropVersions]]): count-based
  // retention keeps the newest versions and skips held ones (an
  // advisory policy); time-based retention drops the versions
  // committed strictly before a horizon, the tip always surviving, and
  // a held version refuses the whole call (a compliance horizon). The
  // history checkpoint is invalidated once per drop: the first
  // surviving commit now counts whole for bytes.

  /** Drop `expired` (when any); returns (dropped, bytes reclaimed). */
  private def expire(expired: Seq[Long]): (Seq[Long], Long) =
    if (expired.isEmpty) (Nil, 0L)
    else {
      val reclaimed = dropVersions(expired)
      invalidateHistoryCkpt()
      (expired, reclaimed)
    }

  /** Count-based retention: drop the versions `expired` picks from the
    * committed ones (ascending), except those under a legal hold.
    * Returns (dropped, bytes reclaimed). */
  protected def retain(expired: Seq[Long] => Seq[Long]): (Seq[Long], Long) = {
    val held = holds().toSet
    expire(expired(versions()).filterNot(held))
  }

  /** Delete all but the newest `keepLast` versions; a held version
    * survives regardless. Returns the dropped versions. */
  def prune(keepLast: Int): Seq[Long] = retain(_.dropRight(keepLast))._1

  /** AUTO-RETENTION hook — prune to the newest `maxVersions` when the
    * chain outgrows them; the streaming sink's one-version-per-micro-
    * batch growth bound. Returns the number of versions dropped. */
  def maybeRetain(maxVersions: Int): Int = {
    require(maxVersions >= 1, s"maybeRetain: need >= 1, got $maxVersions")
    if (versions().size <= maxVersions) 0 else prune(maxVersions).size
  }

  /** TIME-BASED retention — Delta's `RETAIN n HOURS` contract, by
    * absolute cutoff: expire every version whose commit timestamp is
    * STRICTLY OLDER than `horizonMs` (a version committed exactly AT
    * the horizon survives), except the TIP, which survives regardless
    * of age. Commit timestamps serve from the version-log checkpoint.
    * REFUSES ([[RetentionHoldException]]) when the horizon selects a
    * held version: a time-retention contract that cannot be honored
    * must surface, not silently under-delete. Returns (dropped, bytes
    * reclaimed). */
  protected def expireOlderThan(horizonMs: Long): (Seq[Long], Long) = {
    val vs = versions()
    if (vs.isEmpty) return (Nil, 0L)
    val ts = historyEntries().toMap
    val expired = vs.filter(v => v != vs.last && ts(v).commitTs < horizonMs)
    val blocked = holds().filter(expired.contains)
    if (blocked.nonEmpty) throw new RetentionHoldException(
      s"retention horizon $horizonMs selects held version(s) " +
        s"${blocked.mkString(", ")} on $basePath — release the hold(s) or " +
        "raise the horizon; refusing to report an un-honorable retention " +
        "contract as success")
    expire(expired)
  }

  /** [[expireOlderThan]]'s dropped versions — time-based retention
    * through the trait. */
  def pruneBefore(horizonMs: Long): Seq[Long] = expireOlderThan(horizonMs)._1

  // ---- LEGAL HOLDS ----

  /** Legal hold: retention keeps a held version no matter what its
    * policy says, until [[release]]. Retention is automation; holds
    * are human compliance decisions automation must not override. One
    * `_holds/<version>` marker file, idempotent. */
  def hold(version: Long): Unit = BlobGroups.hold(fs, basePath, version, hasVersion(version))

  /** Release a [[hold]]; idempotent. */
  def release(version: Long): Unit = BlobGroups.release(fs, basePath, version)

  /** Versions currently under a legal hold. */
  def holds(): Seq[Long] = BlobGroups.holds(fs, basePath)
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

  /** Every key a merge touches, deduped: `__del` marks a deleted key
    * (delete wins over a same-key upsert, matching the upserts'
    * left_anti) and `__n` counts the delta rows carrying the key — the
    * rows the merge lands for it. Materialized: the probe, the rewrite
    * and the metrics read it. */
  private[operators] def mergeKeys(delta: DataFrame, deleteKeys: Option[DataFrame],
      keyCol: String): DataFrame =
    deleteKeys.map(df => df.select(df.columns.head).toDF(keyCol)).foldLeft(
        delta.select(col(keyCol)).withColumn("__del", lit(false)))(
        (acc, del) => acc.unionByName(del.withColumn("__del", lit(true))))
      .groupBy(keyCol).agg(max(col("__del")).as("__del"),
        count(when(!col("__del"), 1)).as("__n"))
      .materialize()

  /** A merge's probe result: the touched `files`, the merge's key
    * frame ([[mergeKeys]]), its upserted and deleted key counts and its
    * upsert row count. */
  private[operators] final case class Touch(files: Set[String], keys: DataFrame,
      upsertKeys: Long, deleteKeys: Long, upsertRows: Long)

  /** Both layouts' merge probe: the files whose [min_key, max_key]
    * envelope (a manifest or zone map — metadata-sized, collected on
    * the driver and shipped with the tasks) holds a key of `touchKeys`
    * ([[mergeKeys]]), and the key and row counts — ONE job over the key
    * frame, each partition answering its distinct files and its counts.
    * Bounds compare under Spark's ordering of the key type, as a range
    * join on them does: envelopes sort by lower bound, a key's
    * candidates are those whose lower bound it reaches, scanned back
    * while the running maximum of the upper bounds still reaches it. */
  private[operators] def touchedFiles(touchKeys: DataFrame, envelopes: DataFrame,
      keyCol: String): Touch = {
    val keyType = touchKeys.schema(keyCol).dataType
    // the key frame's type is the union of the delta's and the delete
    // keys' types, never narrower than the stored key: cast the bounds
    val env = envelopes.select(col("file"), col("min_key").cast(keyType),
        col("max_key").cast(keyType)).collect()
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => (r.getString(0), r.get(1), r.get(2)))
    val parts = touchKeys.select(col(keyCol), col("__del"), col("__n")).rdd
      .mapPartitions { rows =>
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(keyType)
        val internal = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(keyType)
        val sorted = env.map { case (f, lo, hi) => (f, internal(lo), internal(hi)) }
          .sortWith((a, b) => ord.lt(a._2, b._2))
        val reach = new Array[Any](sorted.length) // running max of the upper bounds
        sorted.indices.foreach(i => reach(i) =
          if (i > 0 && ord.gt(reach(i - 1), sorted(i)._3)) reach(i - 1) else sorted(i)._3)
        val files = scala.collection.mutable.HashSet.empty[String]
        var n, d, r = 0L
        rows.foreach { row =>
          if (row.getBoolean(1)) d += 1 else n += 1
          r += row.getLong(2)
          if (!row.isNullAt(0)) {
            val k = internal(row.get(0))
            var lo = 0 // binary search: lo ends on the first envelope starting above k
            var hi = sorted.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (ord.lteq(sorted(mid)._2, k)) lo = mid + 1 else hi = mid
            }
            var i = lo - 1
            while (i >= 0 && ord.gteq(reach(i), k)) {
              if (ord.gteq(sorted(i)._3, k)) files += sorted(i)._1
              i -= 1
            }
          }
        }
        Iterator((files.toSet, n, d, r))
      }.collect()
    Touch(parts.flatMap(_._1).toSet, touchKeys, parts.map(_._2).sum, parts.map(_._3).sum,
      parts.map(_._4).sum)
  }
}
