package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetSchemas

/** Manifest-based versioned snapshot store — the 100 TB scale path for
  * version publication, next to [[SnapshotStore]]'s dir-per-version
  * layout.
  *
  * Motivation: SnapshotStore's `mergeDelta` is copy-on-write at the
  * FILE level but each published version is a self-contained directory
  * — untouched files are byte-copied into every new version, so a
  * daily merge of a small delta into a 100 TB snapshot still moves
  * ~100 TB and stores it again. This store publishes a version as a
  * MANIFEST (a parquet frame of file entries + stats) over an
  * immutable shared file pool, the public design of Delta Lake /
  * Iceberg version logs:
  *
  *   files/<uuid>.parquet      immutable data files, shared by versions
  *   _manifests/v=N/           parquet manifest: file, min/max key,
  *                             n_rows (+ optional per-column stats);
  *                             `_commit_ts` inside, published by rename
  *
  * `mergeDelta` then costs O(|touched files|) I/O and O(|manifest|)
  * metadata — untouched entries carry by reference — and storage is
  * shared across versions until [[prune]] + [[vacuum]] reclaim
  * unreferenced pool files by ref-count.
  *
  * Crash ordering (the ChunkStore philosophy): pool files land first,
  * the manifest rename goes live last — a crash leaves orphan pool
  * files (reclaimed by [[vacuum]]) but never a manifest naming a
  * missing file. Prune deletes manifests first; vacuum is restartable.
  */
class ManifestStore(protected val spark: SparkSession, val basePath: String,
    val keyCol: String, statsCols: Seq[String] = Nil, parityFilesPerGroup: Int = 64)
    extends VersionedStore {
  require(parityFilesPerGroup > 0,
    s"parityFilesPerGroup must be positive, got $parityFilesPerGroup")

  def layout: String = "linked"

  def withKeyCol(key: String): ManifestStore =
    new ManifestStore(spark, basePath, key, statsCols, parityFilesPerGroup)

  // A shallow clone records the pool OWNER's pool dir in _store.json
  // (written once by cloneTo before any publish — read once here).
  private lazy val storedPool: Option[String] =
    SnapshotStore.readStoredPool(fs, basePath)
  /** The shared file pool this store's manifests name files in: its own
    * `files/`, or the pool owner's on a shallow clone. */
  def poolDir: Path =
    storedPool.map(new Path(_)).getOrElse(new Path(s"$basePath/files"))
  private def manifestDir(v: Long) = new Path(s"$basePath/_manifests/v=$v")
  protected def versionDir(v: Long): Path = manifestDir(v)

  /** File-level stats frame (a local frame) for a set of freshly
    * written pool files, from their footers ([[landedStats]]): a
    * landing passes its stats columns ([[writeVersion]]), a rewrite
    * the ones the EXISTING manifest carries ([[rewriteStatsCols]]), so
    * the union with its carried entries lines up on a store handle
    * reconstructed without the original statsCols (the SQL catalog's
    * DML hooks know only the recorded key column). */
  private def statsFor(names: Seq[String], cols: Seq[String] = statsCols): DataFrame =
    landedStats(names.map(n => new Path(poolDir, n)), cols)

  protected def statsQuery(files: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = statAggs(cols)
    files.select((input_file_name().as("__f") +: col(keyCol) +: cols.map(col)): _*)
      .groupBy("__f").agg(aggs.head, aggs.tail: _*)
      // manifests store bare pool file NAMES (relocatable repository —
      // a copied/mirrored store keeps working at its new root)
      .withColumn("file", element_at(split(col("__f"), "/"), -1))
      .drop("__f")
  }

  protected def statsFileName(p: Path): String = {
    val s = p.toUri.toString
    s.substring(s.lastIndexOf('/') + 1)
  }

  override protected def declaredStatsCols: Seq[String] = statsCols

  /** The range-clustered full write ([[writeClustered]]) into the pool:
    * files range-partitioned and key-sorted so key predicates prune at
    * the manifest level. */
  def write(df: DataFrame, version: Long, numFiles: Int = 4,
      commitTs: Option[Long] = None): Unit =
    writeClustered(df, version, numFiles, Nil, commitTs)

  /** The bucketed full write ([[writeBucketedVersion]]) into the pool. */
  def writeBucketed(df: DataFrame, version: Long, buckets: Int,
      commitTs: Option[Long] = None): Unit =
    writeBucketedVersion(df, version, buckets, Nil, commitTs)

  /** The partitioned first write ([[writePartitionedVersion]]) into
    * the pool. */
  def writePartitioned(df: DataFrame, version: Long, partCols: Seq[String],
      filesPerPartition: Int = 1, commitTs: Option[Long] = None): Unit =
    writePartitionedVersion(df, version, partCols, filesPerPartition, Nil, commitTs)

  /** Land `df` in the pool under fresh unique names (`rename`d),
    * hive-staged on a partitioned store so every pool file holds
    * exactly ONE partition tuple ([[landStaged]]; the pool itself stays
    * flat: relocatable bare names), and return its manifest entries:
    * footer statistics over `cols`. A part file carrying ZERO rows (the
    * write artifact of an all-delete rewrite, the schema carrier of an
    * empty landing) never enters the manifest — it has no stats row, so
    * referencing it would dangle — and is deleted on the spot. */
  private def landWithStats(df: DataFrame, cols: Seq[String],
      rename: String => String = identity): DataFrame = {
    val names = landStaged(df, storedPartitionBy(), poolDir, n =>
      rename(s"${java.util.UUID.randomUUID().toString.take(12)}-${n.take(10)}.parquet"))
    val stats = statsFor(names, cols)
    val live = manifestFiles(stats).toSet
    names.filterNot(live).foreach(n => fs.delete(new Path(poolDir, n), false))
    stats
  }

  /** The pool file names a manifest-shaped frame lists. */
  private def manifestFiles(man: DataFrame): Seq[String] =
    man.select("file").collect().map(_.getString(0)).toSeq

  /** Publish a manifest frame as `version`: parquet to a tmp dir
    * (written on the driver from the collected rows — a local frame
    * collects without a job), commit-ts (and, for evolved versions, the
    * union schema) sidecar inside, ONE rename goes live — a version can
    * never exist without the metadata that makes its mixed-schema files
    * readable. */
  private def publish(version: Long, manifest: DataFrame, commitTs: Option[Long],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      dv: Option[DataFrame] = None, op: String = "unknown",
      opParams: String = "", statsFrom: Option[Long] = None,
      metrics: Map[String, Long] = Map.empty): Unit = {
    ensureStoreMeta()
    val tmp = new Path(s"$basePath/.tmp-man-${java.util.UUID.randomUUID()}")
    // the manifest is metadata-sized: collected ONCE, its rows write
    // the version, seed the manifest cache and build the history entry
    // (no re-read of what was just written)
    val rows = manifest.collect()
    ParquetSchemas.writeRows(spark, tmp, manifest.schema, rows.toSeq)
    val written = fs.listStatus(tmp).toSeq
    // the deletion vector publishes atomically WITH the version — a
    // version dir can never exist whose mask is missing or stale
    dv.foreach(_.select(col("file"), col("pos")).coalesce(1)
      .write.mode("overwrite").parquet(new Path(tmp, "_dv").toString))
    val ts = commitTs.getOrElse(System.currentTimeMillis())
    val out = fs.create(new Path(tmp, "_commit_ts"), true)
    try out.write(ts.toString.getBytes("UTF-8"))
    finally out.close()
    schema.foreach(Sidecars.writeSchema(fs, tmp, _))
    // the commit's verb rides inside the manifest dir (atomic with the
    // version) — DESCRIBE HISTORY's operation column, self-heal-safe
    SnapshotStore.writeOpSidecar(fs, tmp, op, opParams, metrics)
    fs.mkdirs(new Path(s"$basePath/_manifests"))
    // CAS publication (CommitProtocol): a concurrent writer racing the
    // same version loses with a clean VersionConflictException — never
    // an undefined rename-onto-existing outcome
    val token = CommitProtocol.writeToken(fs, tmp)
    CommitProtocol.publish(fs, tmp, manifestDir(version), token,
      s"publish of v$version on $basePath")
    ManifestCache.seed(basePath, version, written, manifest.schema, rows)
    // metadata-only commits (rename/widen/branch/restore — manifest
    // carried verbatim) reuse the predecessor's checkpoint stats:
    // bytes_added = 0 (no new pool basenames)
    noteCommit(version, statsFrom,
      _.copy(commitTs = ts, bytes = 0L, op = op, opParams = opParams, metrics = metrics),
      historyEntryOf(version, ts, rows, op, opParams, metrics))
  }

  /** ZERO-COPY BRANCH — the Iceberg/Delta "shallow clone" primitive:
    * publish `newVersion` with the SAME manifest rows (and evolved
    * schema, if any) as `fromVersion` — not one pool byte moves, the
    * branch costs one manifest copy regardless of table size.
    * Because versions are immutable and the pool is shared, merges on
    * top of the branch diverge freely from merges on top of the
    * source (dev-branch-of-prod), `diff` works across the fork, and
    * ref-count vacuum keeps every pool file either side still
    * references. */
  def branch(fromVersion: Long, newVersion: Long,
      commitTs: Option[Long] = None, op: String = "branch"): Unit = {
    requireFreeVersion(newVersion)
    publishCarry(fromVersion, newVersion, None, Nil, commitTs, op, s"of v$fromVersion")
  }

  /** The carry publish as a [[branch]]: `fromVersion`'s manifest rows
    * (minus the `dropStats` columns' min/max) and deletion vector,
    * not one pool byte moved. */
  protected def publishCarry(fromVersion: Long, toVersion: Long,
      schema: Option[org.apache.spark.sql.types.StructType], dropStats: Seq[String],
      commitTs: Option[Long], op: String, opParams: String): Unit = {
    val man = manifest(fromVersion)
    val kept =
      if (dropStats.isEmpty) man
      else man.select(man.columns.toSeq.filterNot(c =>
        dropStats.exists(dc => c == s"min_$dc" || c == s"max_$dc")).map(col): _*)
    publish(toVersion, kept.materialize(), commitTs,
      schema.orElse(evolvedSchema(fromVersion)), dv = dvFrame(fromVersion),
      op = op, opParams = opParams, statsFrom = Some(fromVersion))
  }

  protected def fileStats(version: Long): Option[DataFrame] = Some(manifest(version))

  /** Manifest entries are bare pool file names. */
  protected def entryPath(file: String): String = new Path(poolDir, file).toString

  /** The rewrite commit on this layout: the landing goes into the pool
    * ([[landWithStats]] — footer statistics, zero-row files dropped),
    * the carried files' entries carry by reference, one manifest
    * publishes; the predecessor's Bloom sidecars extend onto the new
    * version when files landed. */
  protected def commitRewrite(fromVersion: Long, toVersion: Long, entries: DataFrame,
      carried: Seq[String], landing: Option[DataFrame], dv: Option[DataFrame],
      schema: org.apache.spark.sql.types.StructType, sidecar: Boolean,
      commitTs: Option[Long], op: String, opParams: String,
      metrics: (Int, Long) => Map[String, Long]): Int = {
    val keep = carried.map(fileName).toSet
    val removed = manifestFiles(entries).filterNot(keep)
    val shared =
      if (removed.isEmpty) entries else entries.filter(!col("file").isin(removed: _*))
    val stats = landing.map(landWithStats(_, rewriteStatsCols(entries)))
      .filter(manifestFiles(_).nonEmpty)
    val nLanded = stats.fold(0)(manifestFiles(_).size)
    publish(toVersion, stats.fold(shared)(unionLocal(shared, _)), commitTs,
      Some(schema).filter(_ => sidecar || keep.size + nLanded == 0), dv = dv,
      op = op, opParams = opParams, metrics = metrics(nLanded, stats.fold(0L)(rowTotal)))
    if (landing.isDefined) autoExtendBloomIndexes(fromVersion, toVersion)
    nLanded
  }

  /** The landing commit on this layout: the frame lands in the pool
    * ([[landWithStats]] — footer statistics, zero-row files dropped)
    * and its entries publish as the version's manifest. */
  protected def commitLanding(version: Long, landing: DataFrame,
      statsCols: Option[Seq[String]], schema: org.apache.spark.sql.types.StructType,
      commitTs: Option[Long], op: String, opParams: String, rename: String => String,
      metrics: Int => Map[String, Long]): Unit = {
    val stats = landWithStats(landing, statsCols.getOrElse(Nil), rename)
    val n = manifestFiles(stats).size
    publish(version, stats, commitTs, Some(schema).filter(_ => n == 0), op = op,
      opParams = opParams, metrics = metrics(n))
  }

  /** Manifests delete FIRST (a crash leaves extra pool files, never a
    * dangling manifest), then the ref-count sweep ([[vacuum]])
    * reclaims the pool files no surviving manifest references. A
    * shallow clone only drops its manifests: the pool is its owner's to
    * sweep. */
  protected def dropVersions(vs: Seq[Long]): Long = {
    vs.foreach(v => fs.delete(manifestDir(v), true))
    if (isPoolOwner) vacuum() else 0L
  }

  protected def storedSchema(version: Long): org.apache.spark.sql.types.StructType =
    evolvedSchema(version).getOrElse(
      readDataFiles(version, dataPaths(version).take(1)).schema)

  /** True when this store OWNS its pool dir — false on a shallow
    * clone reading a foreign pool. Pool reclamation ([[vacuum]],
    * [[orphans]]) must run on the owner. */
  def isPoolOwner: Boolean = storedPool.isEmpty

  /** The base path of the store that owns this store's pool: itself
    * when owner, the pool override's parent when a clone. */
  def poolOwnerBase: String =
    storedPool.map(p => new Path(p).getParent.toString).getOrElse(basePath)

  /** SHALLOW CLONE to a NEW table at `dstBase` — Delta's `CREATE TABLE
    * ... SHALLOW CLONE`, this layout's way: the clone's version 1 is
    * the source version's manifest rows VERBATIM over the SAME shared
    * pool (the clone's `_store.json` records the owner's pool dir), so
    * cloning a 100 TB table moves ZERO data bytes and costs one
    * manifest copy. Merges then diverge freely on either side — both
    * write fresh uniquely-named files into the shared pool. Unlike
    * Delta, where VACUUM on the source silently breaks its shallow
    * clones, the clone REGISTERS with the pool owner (`_clones.json`;
    * registration lands BEFORE the clone's first manifest, so a crash
    * can only leave a harmless extra registration, never an
    * unregistered clone vacuum would miss) and the owner's
    * [[vacuum]]/[[orphans]] honor every registered clone's references;
    * the clone's own vacuum refuses — the pool is not its to reclaim.
    * A clone of a clone re-registers with the ORIGINAL owner. A
    * dropped clone (base dir deleted) simply stops contributing
    * references — no deregistration step is needed for safety. */
  def cloneTo(dstBase: String, fromVersion: Long,
      commitTs: Option[Long]): ManifestStore = {
    require(keyCol.nonEmpty, "cloneTo needs the source's key column")
    require(hasVersion(fromVersion), s"version $fromVersion does not exist")
    val dfs = new Path(dstBase).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!dfs.exists(new Path(dstBase, "_manifests")),
      s"clone target $dstBase already has versions")
    registerClone(poolOwnerBase, dstBase)
    dfs.mkdirs(new Path(dstBase))
    val pool = new Path(poolOwnerBase, "files").toString
    Sidecars.write(dfs, new Path(dstBase, "_store.json"), Sidecars.obj(
      "keyCol" -> Sidecars.str(keyCol), "pool" -> Sidecars.str(pool)))
    val dst = new ManifestStore(spark, dstBase, keyCol, statsCols, parityFilesPerGroup)
    dst.publish(1L, manifest(fromVersion).materialize(), commitTs,
      evolvedSchema(fromVersion), dv = dvFrame(fromVersion),
      op = "clone", opParams = s"from $basePath v$fromVersion")
    dst
  }

  private def clonesPath(base: String) = ManifestStore.clonesPath(base)
  private def clonesAside(base: String) = ManifestStore.clonesAside(base)

  /** Clone bases registered with the pool owner at `base` — the set
    * whose manifests [[vacuum]] must honor. */
  private def registeredClones(base: String): Seq[String] =
    ManifestStore.registeredClonesAt(fs, base)

  /** Repair the owner's registry after THIS CLONE's base dir moved
    * (the catalog's `ALTER TABLE ... RENAME TO`): replace `oldBase`
    * with the current base. Without this, a renamed clone silently
    * detaches — its references stop counting and the owner's next
    * vacuum can reclaim pool files the clone still needs. No-op on a
    * pool owner or when the owner's base is gone. */
  def relocatedFrom(oldBase: String): Unit = storedPool.foreach { _ =>
    val owner = poolOwnerBase
    if (fs.exists(new Path(owner))) {
      val kept = registeredClones(owner).filterNot(_ == oldBase)
      writeCloneRegistry(owner, (kept :+ basePath).distinct)
    }
  }

  /** Append `cloneBase` to the owner's registry: write-aside-rename —
    * the previous registry parks as the aside until the new one is
    * live, so no crash point loses registered references. */
  private def registerClone(ownerBase: String, cloneBase: String): Unit =
    writeCloneRegistry(ownerBase, (registeredClones(ownerBase) :+ cloneBase).distinct)

  private def writeCloneRegistry(ownerBase: String, all: Seq[String]): Unit = {
    val tmp = new Path(ownerBase, s".tmp-clones-${java.util.UUID.randomUUID()}")
    Sidecars.write(fs, tmp, Sidecars.obj("clones" -> Sidecars.arr(all.map(Sidecars.str))))
    if (fs.exists(clonesAside(ownerBase))) fs.delete(clonesAside(ownerBase), false)
    if (fs.exists(clonesPath(ownerBase))
        && !fs.rename(clonesPath(ownerBase), clonesAside(ownerBase)))
      throw new java.io.IOException(s"clone registry aside failed at $ownerBase")
    if (!fs.rename(tmp, clonesPath(ownerBase)))
      throw new java.io.IOException(s"clone registration failed at $ownerBase")
    fs.delete(clonesAside(ownerBase), false): Unit
  }

  /** One version's checkpoint row rebuilt from its manifest — the
    * self-heal unit (see [[SnapshotStore]]'s version-log checkpoint
    * notes). The manifest is metadata-sized and cache-served, so the
    * counts come from its collected rows. */
  protected def computeHistoryEntry(v: Long): SnapshotStore.HistoryEntry = {
    val (op, params, metrics) = SnapshotStore.readOpSidecar(fs, manifestDir(v))
    historyEntryOf(v, commitTsOf(v), manifest(v).collect(), op, params, metrics)
  }

  /** A version's checkpoint row from its manifest rows; an empty
    * version ([[createEmpty]], all-row delete) counts 0 rows. */
  private def historyEntryOf(v: Long, ts: Long, rows: Array[org.apache.spark.sql.Row],
      op: String, params: String, metrics: Map[String, Long]): SnapshotStore.HistoryEntry =
    SnapshotStore.HistoryEntry(ts, rows.length.toLong,
      rows.map(r => Option(r.getAs[java.lang.Long]("n_rows")).fold(0L)(_.longValue)).sum,
      commitBytesOf(v, rows.map(_.getAs[String]("file")).toSet), op, params, metrics)

  /** Physical read — every stored row, INCLUDING rows the version's
    * deletion vector marks deleted. Integrity audits ([[validate]])
    * check file physics, so they read here; everything semantic goes
    * through [[readFiles]]. */
  private def readFilesRaw(version: Long, paths: Seq[String]): DataFrame =
    evolvedSchema(version) match {
      case Some(sc) =>
        // fills recorded by an evolving mergeDelta apply uniformly at
        // read time (SnapshotStore.applyFills' contract): shared files
        // that predate the column read the default, not null. The scan
        // asks for PHYSICAL names (what the bytes answer to under a
        // metadata-only rename) and projects to logical — the
        // column-mapping read contract, a zero-cost alias projection.
        val fills = SnapshotStore.fillValues(sc)
        val df = SnapshotStore.toLogical(
          spark.read.schema(SnapshotStore.physicalSchema(sc)).parquet(paths: _*), sc)
        if (fills.isEmpty) df else df.na.fill(fills)
      case None => ParquetSchemas.readFiles(spark, paths)
    }

  /** Semantic read: physical rows minus the deletion vector
    * ([[withPositions]]' broadcast anti-join on the row position — the
    * mask is kept metadata-sized by the deletion-vector policy, and a
    * version without one pays nothing). */
  protected def readDataFiles(version: Long, paths: Seq[String]): DataFrame =
    recomputeDerived(dvFrame(version) match {
      case None => readFilesRaw(version, paths)
      case dv =>
        val sc = evolvedSchema(version)
        withPositions(sc.fold(ParquetSchemas.readFiles(spark, paths))(x =>
          spark.read.schema(SnapshotStore.physicalSchema(x)).parquet(paths: _*)), dv, sc)
          .drop("__f", "__p")
    })

  def manifest(version: Long): DataFrame = {
    require(hasVersion(version), s"version $version does not exist")
    // served from the fingerprint-validated metadata cache: one
    // directory listing per access instead of a parquet read + footer
    // parse + one-task collect per consumer (guide §6 metadata costs);
    // retention/vacuum/replicate invalidate by changing the listing
    ManifestCache.read(spark, fs, basePath, version, manifestDir(version))
  }

  protected def hasVersion(version: Long): Boolean = fs.exists(manifestDir(version))

  def versions(): Seq[Long] = {
    val root = new Path(s"$basePath/_manifests")
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toIndexedSeq
      .flatMap(s => SnapshotStore.versionOf(s.getPath.getName)).sorted
  }

  private def commitTsOf(v: Long): Long = {
    val p = new Path(manifestDir(v), "_commit_ts")
    val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(buf) finally in.close()
    new String(buf, "UTF-8").trim.toLong
  }

  /** Bytes a commit ADDED: pool sizes of the files exclusive to
    * `version` vs its retained predecessor (the first retained commit
    * counts whole). Metadata-only — two manifest reads + FS stats; the
    * change feed's byte-based admission control paces on it. */
  def commitBytes(version: Long): Long =
    SnapshotStore.readHistoryCkpt(fs, basePath).get(version).map(_.bytes)
      .getOrElse(commitBytesOf(version, manifestFiles(manifest(version)).toSet))

  /** Pool bytes of the files in `cur` (version `version`'s manifest)
    * that its retained predecessor does not reference. */
  private def commitBytesOf(version: Long, cur: Set[String]): Long = {
    val prev = versions().filter(_ < version).lastOption
    val old = prev.map(p => manifestFiles(manifest(p)).toSet).getOrElse(Set.empty[String])
    (cur diff old).toSeq.map { n =>
      try fs.getFileStatus(new Path(poolDir, n)).getLen
      catch { case _: java.io.FileNotFoundException => 0L }
    }.sum
  }

  def dataPaths(version: Long): Seq[String] =
    manifest(version).select("file").collect()
      .map(r => entryPath(r.getString(0))).toIndexedSeq

  def read(version: Long): DataFrame = {
    val files = dataPaths(version)
    if (files.isEmpty)
      // a legitimate empty version ([[createEmpty]], an all-row
      // delete) records its schema sidecar — serve the empty frame it
      // describes; absent that record the emptiness is damage
      evolvedSchema(version) match {
        case Some(sc) => spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), sc)
        case None => throw new IllegalStateException(
          s"version $version has no files and no schema sidecar")
      }
    else readDataFiles(version, files)
  }

  /** BLOOM FILTER INDEX (Delta's bloom index): one Bloom filter PER
    * POOL FILE over `column`'s values (as strings — type-uniform at
    * build and probe), persisted as a version sidecar. Point lookups
    * on a NON-clustered column then skip every file whose filter says
    * "definitely absent" — the lookup the key envelope and zone maps
    * can't serve (a customer id scattered across a key-ordered 100 TB
    * table). Built in ONE pass: values shuffle grouped by file, each
    * group folds into a filter sized by the file's own manifest row
    * count; |files| tiny rows land. False positives only cost an
    * extra file open — never a wrong result ([[readWhereEquals]]
    * re-filters exactly). */
  def buildBloomIndex(version: Long, column: String, fpp: Double = 0.01): Unit = {
    val man = manifest(version)
    val expected = man.select("file", "n_rows").collect()
      .map(r => r.getString(0) -> math.max(r.getLong(1), 1L)).toMap
    val paths = dataPaths(version)
    require(paths.nonEmpty, s"buildBloomIndex: version $version has no files")
    bloomsFor(version, paths, expected, column, fpp)
      .coalesce(1).write.mode("overwrite")
      .parquet(bloomDir(version, column).toString)
  }

  /** Per-file Bloom rows for a FILE SUBSET — the shared build pass
    * under [[buildBloomIndex]] (full) and [[extendBloomIndex]] (new
    * files only). */
  private def bloomsFor(version: Long, paths: Seq[String],
      expected: Map[String, Long], column: String, fpp: Double): DataFrame = {
    val raw = readFilesRaw(version, paths)
    require(raw.columns.contains(column), s"bloom index: no column '$column'")
    import org.apache.spark.sql.Encoders
    val pairs = raw.select(
        element_at(split(input_file_name(), "/"), -1).as("__f"),
        col(column).cast("string").as("__v"))
      .as(Encoders.tuple(Encoders.STRING, Encoders.STRING))
    val fppLocal = fpp
    pairs.groupByKey(_._1)(Encoders.STRING)
      .mapGroups { (f, it) =>
        val bf = org.apache.spark.util.sketch.BloomFilter.create(
          expected.getOrElse(f, 1000L), fppLocal)
        it.foreach { case (_, v) => if (v != null) bf.putString(v) }
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (f, bos.toByteArray)
      }(Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .toDF("file", "bloom")
  }

  /** INCREMENTAL Bloom extension — the maintenance half Delta's bloom
    * index gets for free at OPTIMIZE time: `toVersion`'s index =
    * `fromVersion`'s entries for files STILL REFERENCED (pool files
    * are immutable, so a carried file's filter is carried truth) plus
    * freshly built filters for the files the commit ADDED. Cost =
    * one narrow scan of the NEW files — never a full rebuild. Files
    * that left the manifest drop their entries. */
  def extendBloomIndex(fromVersion: Long, toVersion: Long, column: String,
      fpp: Double = 0.01): Unit = {
    val from = sidecar(bloomDir(fromVersion, column))
    require(from.isDefined,
      s"extendBloomIndex: version $fromVersion has no bloom index on '$column'")
    val toMan = manifest(toVersion).select("file", "n_rows").collect()
      .map(r => r.getString(0) -> math.max(r.getLong(1), 1L)).toMap
    val old = from.get.materialize()
    val oldNames = old.select("file").collect().map(_.getString(0)).toSet
    val carried = old.join(nameFrame(toMan.keys), Seq("file"), "left_semi")
    val fresh = toMan.keys.filterNot(oldNames).toSeq.sorted
    val rows =
      if (fresh.isEmpty) carried
      else carried.unionByName(bloomsFor(toVersion,
        fresh.map(entryPath), toMan, column, fpp))
    rows.coalesce(1).write.mode("overwrite")
      .parquet(bloomDir(toVersion, column).toString)
  }

  /** Columns carrying a Bloom sidecar on `version`. */
  def bloomColumns(version: Long): Seq[String] =
    if (!fs.exists(manifestDir(version))) Nil
    else fs.listStatus(manifestDir(version)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_bloom_")).map(_.stripPrefix("_bloom_")).sorted

  /** Best-effort AUTO-EXTENSION at merge time: every indexed column of
    * the predecessor extends onto the child (carry + index-new-only).
    * Best-effort — the index is a derived artifact and a stale/absent
    * one stays CORRECT (unindexed files always open), so a failure
    * never fails the published commit; it is logged. */
  private def autoExtendBloomIndexes(fromVersion: Long, toVersion: Long): Unit =
    bloomColumns(fromVersion).foreach { c =>
      try extendBloomIndex(fromVersion, toVersion, c)
      catch { case scala.util.control.NonFatal(e) =>
        SnapshotStore.log.warn(s"ManifestStore $basePath: Bloom index on '$c' did not " +
          s"extend onto published version $toVersion ($e); its reads open every file " +
          "until the index is rebuilt", e) }
    }

  /** Metadata-only stats (never opens a data file). */
  def stats(version: Long): DataFrame =
    manifest(version).agg(
      count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
      min(col("min_key")).as("min_key"), max(col("max_key")).as("max_key"))

  /** Adopt a dir-per-version SnapshotStore chain into this (empty)
    * linked store — the migration path that needs no data rewrite
    * beyond one copy: each source version's part files land in the
    * pool, and files with IDENTICAL content across versions (the
    * byte-copies the dir-per-version CoW layout forced on every
    * untouched file) collapse to ONE pool file referenced by every
    * adopting manifest. Dedup is by streamed md5 of the file bytes,
    * applied only ACROSS versions (two identical files within one
    * version stay distinct — collapsing them would drop rows).
    * Commit timestamps carry via `commitTs`; subsequent merges
    * continue linked on top of the adopted chain. Returns per version
    * (filesCopied, filesReferenced). */
  def adoptChain(srcBase: String, versions: Seq[Long],
      commitTs: Long => Option[Long] = _ => None): Map[Long, (Int, Int)] = {
    require(this.versions().isEmpty, "adoptChain requires an empty target store")
    val conf = spark.sparkContext.hadoopConfiguration
    val seen = scala.collection.mutable.Map.empty[String, String] // content md5 -> pool name
    fs.mkdirs(poolDir)
    versions.sorted.map { v =>
      val srcDir = new Path(s"$srcBase/v=$v")
      require(!fs.exists(new Path(srcDir, "_dv")),
        s"adoptChain: source version $v carries a deletion vector — positions " +
          "would not survive the pool re-name; compact the source first")
      val parts = fs.listStatus(srcDir).map(_.getPath)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      var copied = 0
      val usedInVersion = scala.collection.mutable.Set.empty[String]
      val names = parts.toIndexedSeq.map { p =>
        val digest = BlobGroups.streamMd5(fs, p)
        val pooled = seen.get(digest).filterNot(usedInVersion.contains).getOrElse {
          val name = s"${java.util.UUID.randomUUID().toString.take(12)}-adopt.parquet"
          org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, new Path(poolDir, name), false, conf)
          copied += 1
          seen(digest) = name
          name
        }
        usedInVersion += pooled
        pooled
      }
      publish(v, statsFor(names), commitTs(v), op = "adoptChain",
        opParams = s"from $srcBase")
      v -> ((copied, names.size - copied))
    }.toMap
  }

  /** Integrity audit of one version against the pool: every manifest
    * entry's file must exist and hold exactly its recorded row count
    * within its recorded key envelope. Returns one row per file with
    * `status` ok / missing / count_mismatch / range_mismatch — the
    * restore-validation pass a backup tool runs before trusting a
    * version. Narrow scan of the version's files only. */
  /** Incremental integrity audit — [[validate]] pruned to the pool
    * files EXCLUSIVE to `vTo` vs `vFrom` (a shared file was already
    * audited when its first referencing version landed, and pool files
    * are immutable, so re-reading it can only repeat the old answer):
    * the post-merge validation drill costs O(|new files|) I/O on a
    * merge chain, not O(snapshot). Manifests are metadata-sized by
    * construction, so the file-set difference is a driver-side set op
    * like the rest of the manifest plumbing. */
  def validateDelta(vFrom: Long, vTo: Long): DataFrame = {
    val prev = manifest(vFrom).select("file").collect().map(_.getString(0)).toSet
    validateImpl(vTo,
      manifest(vTo).filter(!col("file").isin(prev.toSeq: _*)).materialize())
  }

  def validate(version: Long): DataFrame =
    validateImpl(version, manifest(version).materialize())

  private def validateImpl(version: Long, man: DataFrame): DataFrame = {
    val entries = man.select("file", "min_key", "max_key", "n_rows").collect()
    val (present, missing) = entries.partition(r => fs.exists(new Path(poolDir, r.getString(0))))
    val missingDf = spark.createDataFrame(
      spark.sparkContext.parallelize(missing.map(r =>
        org.apache.spark.sql.Row(r.getString(0), "missing")).toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("status", org.apache.spark.sql.types.StringType))))
    if (present.isEmpty) return missingDf
    // PHYSICAL audit: manifest stats describe the stored file, so the
    // scan must bypass the deletion vector (a masked row still exists)
    val actual = readFilesRaw(version,
        present.map(r => entryPath(r.getString(0))).toIndexedSeq)
      .select(element_at(split(input_file_name(), "/"), -1).as("file"), col(keyCol))
      .groupBy("file")
      .agg(count(lit(1)).as("__n"), min(col(keyCol)).as("__lo"), max(col(keyCol)).as("__hi"))
    val base = man.join(actual, Seq("file"), "inner")
      .select(col("file"),
        when(col("__n") =!= col("n_rows"), lit("count_mismatch"))
          .when(col("__lo") < col("min_key") || col("__hi") > col("max_key"), lit("range_mismatch"))
          .otherwise(lit("ok")).as("status"))
      .unionByName(missingDf)
    // DV audit: every mask entry must name a manifest file and a
    // position inside its recorded row count
    dvFrame(version) match {
      case None => base
      case Some(dv) =>
        val dvAgg = dv.groupBy("file")
          .agg(max("pos").as("__maxp"), count(lit(1)).as("__ndv"))
        val dvBad = dvAgg.join(man.select("file", "n_rows"), Seq("file"), "left_outer")
          .select(col("file"),
            when(col("n_rows").isNull, lit("dv_orphan"))
              .when(col("__maxp") >= col("n_rows") || col("__ndv") > col("n_rows"),
                lit("dv_overflow"))
              .otherwise(lit("dv_ok")).as("status"))
          .filter(col("status") =!= "dv_ok")
        base.unionByName(dvBad)
    }
  }

  /** Dedup-aware storage accounting across versions — the linked
    * store's `--stats` report (ChunkCrypto.chunkAccounting's twin at
    * file granularity): per version, n_files and logical_bytes (what
    * a restore materializes), shared_bytes (referenced by ≥2
    * versions), and exclusive_bytes (reclaimed if ONLY this version
    * were pruned — the GC planning number). Metadata-only: manifests
    * + one pool listing, never a data scan. */
  /** A tiny (|names| rows) frame for semi/anti joins against manifest
    * or index frames — a literal `isin(...)` predicate builds an
    * O(|names|)-literal In expression, plan-size pain at a 100k-file
    * manifest; the join broadcasts the name side and stays O(1) in
    * plan size. */
  private def nameFrame(names: Iterable[String]): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    names.toSeq.sorted.toDF("file")
  }

  /** Every pool file's size from ONE directory listing — the
    * vacuum/orphans pattern; per-file `getFileStatus` would cost
    * O(|files|) NameNode round-trips. */
  private def poolSizes(): Map[String, Long] =
    if (!fs.exists(poolDir)) Map.empty
    else fs.listStatus(poolDir).filter(_.isFile)
      .map(st => st.getPath.getName -> st.getLen).toMap

  def storageReport(): DataFrame = {
    import spark.implicits._
    val sizes: Map[String, Long] = poolSizes()
    val refs: Seq[(Long, String)] = versions().flatMap(v =>
      manifest(v).select("file").collect().map(r => v -> r.getString(0)))
    val refCount: Map[String, Int] =
      refs.groupBy(_._2).map { case (f, rs) => f -> rs.size }
    refs.groupBy(_._1).toSeq.sortBy(_._1).map { case (v, fs0) =>
      val files = fs0.map(_._2)
      val logical = files.map(sizes.getOrElse(_, 0L)).sum
      val shared = files.filter(refCount(_) > 1).map(sizes.getOrElse(_, 0L)).sum
      (v, files.size.toLong, logical, shared, logical - shared)
    }.toDF("version", "n_files", "logical_bytes", "shared_bytes", "exclusive_bytes")
  }

  /** Small-file compaction: every merge appends `numNewFiles` fresh
    * pool files, so a long merge chain accumulates small files and
    * read amplification. Fold every pool file under `minBytes` into
    * ~`targetFiles` consolidated files, published as `toVersion`;
    * files already at healthy size carry by reference. O(|small
    * files|) I/O — the 100 TB nightly compaction touches only what
    * the day's merges fragmented. Returns (filesShared,
    * filesRewritten). */
  def compact(fromVersion: Long, toVersion: Long, minBytes: Long = 8L << 20,
      targetFiles: Int = 4, commitTs: Option[Long] = None): (Int, Int) = {
    requireFreeVersion(toVersion)
    val man = manifest(fromVersion).materialize()
    val pool = poolSizes()
    val sizes = man.select("file").collect().map(_.getString(0)).map(n =>
      n -> pool.getOrElse(n, fs.getFileStatus(new Path(poolDir, n)).getLen))
    val small = sizes.filter(_._2 < minBytes).map(_._1)
    if (small.length <= 1) { // nothing to fold (0 or 1 fragment)
      publishCarry(fromVersion, toVersion, None, Nil, commitTs, "compact", "")
      return (sizes.length, 0)
    }
    // compaction FOLDS the deletion vector in: the rewrite reads the
    // masked view, so folded files shed their DV entries for good
    val folded = readDataFiles(fromVersion,
      small.map(entryPath).toIndexedSeq)
    val sc = evolvedSchema(fromVersion).getOrElse(folded.schema)
    val carried = sizes.map(_._1).filterNot(small.toSet).map(entryPath)
    val nLanded = commitRewrite(fromVersion, toVersion, man, carried,
      Some(SnapshotStore.toPhysical(arrange(folded, targetFiles), sc)),
      carryDv(fromVersion, small.toSet, carried.nonEmpty), sc,
      evolvedSchema(fromVersion).isDefined, commitTs, "compact", "",
      (nLanded, _) => Map("numAddedFiles" -> nLanded.toLong,
        "numRemovedFiles" -> small.length.toLong))
    (carried.size, nLanded)
  }

  /** AUTO-MAINTENANCE hook — the per-micro-batch guard the streaming
    * sink wires in (`maxFilesPerCommit`): when the tip references more
    * than `maxFiles` pool files AND at least two are sub-`minBytes`
    * fragments, fold them ([[compact]]) into a fresh version. The
    * two-fragment guard keeps a large-file tip from publishing useless
    * no-op versions every batch. Returns the compacted version when it
    * ran. */
  def maybeCompact(maxFiles: Int, minBytes: Long = 8L << 20,
      targetFiles: Int = 4): Option[Long] = {
    val vs = versions()
    if (vs.isEmpty) return None
    val tip = vs.max
    val files = manifest(tip).select("file").collect().map(_.getString(0))
    if (files.length <= maxFiles) return None
    val pool = poolSizes()
    val fragments = files.count(n =>
      pool.getOrElse(n, fs.getFileStatus(new Path(poolDir, n)).getLen) < minBytes)
    if (fragments <= 1) None
    else { compact(tip, tip + 1, minBytes, targetFiles); Some(tip + 1) }
  }

  def maybeCompact(maxFiles: Int): Option[Long] = maybeCompact(maxFiles, targetFiles = 4)

  /** Drop all versions except `keep` and the held ones (count-based
    * retention, [[retain]]); pool files no longer referenced by ANY
    * surviving manifest are reclaimed by the sweep. Returns bytes
    * reclaimed. */
  def prune(keep: Seq[Long]): Long = retain(_.filterNot(keep.contains))._2

  /** Time-based retention ([[expireOlderThan]]): expired manifests
    * delete first, then the pool's ref-count sweep reclaims the bytes
    * no surviving manifest references. Returns (dropped versions,
    * bytes reclaimed). */
  def pruneOlderThan(horizonMs: Long): (Seq[Long], Long) = expireOlderThan(horizonMs)

  /** Pool files referenced by NO surviving manifest — the ONE
    * traversal behind both [[orphans]] (report) and [[vacuum]]
    * (delete), so the audit can never preview a different set than
    * the sweep reclaims. */
  private def unreferencedPoolFiles(): Seq[org.apache.hadoop.fs.FileStatus] = {
    val referenced = referencedPoolFiles()
    if (!fs.exists(poolDir)) Seq.empty
    else fs.listStatus(poolDir).toSeq
      .filter(st => st.isFile && !referenced(st.getPath.getName))
  }

  /** Pool files any manifest references, registered shallow clones'
    * included (they share this pool; a dropped clone's base is gone
    * and simply stops contributing). Metadata-sized. */
  private def referencedPoolFiles(): Set[String] = {
    val clones = registeredClones(basePath)
      .filter(b => fs.exists(new Path(b, "_manifests")))
      .map(b => new ManifestStore(spark, b, ""))
    (this +: clones).flatMap(s => s.versions()
      .flatMap(v => s.manifest(v).select("file").collect().map(_.getString(0)))).toSet
  }

  private def requirePoolOwner(op: String): Unit =
    require(isPoolOwner,
      s"$op must run on the pool owner ($poolOwnerBase) — this store is a " +
        "shallow clone reading a foreign pool, which is not its to reclaim")

  /** Orphan audit — [[vacuum]]'s report-only twin: pool files
    * referenced by NO surviving manifest (leaked by a crashed writer,
    * a failed prune, or an out-of-band copy), as (file, bytes) rows.
    * The pre-delete review an operator runs before letting vacuum
    * loose, and the storage-accounting complement to
    * [[storageReport]] (which counts only REFERENCED bytes). Same
    * cost shape as vacuum: one metadata listing of the pool plus the
    * manifests' `file` column — no data file is opened. */
  def orphans(): DataFrame = {
    import spark.implicits._
    requirePoolOwner("orphans")
    unreferencedPoolFiles().map(st => (st.getPath.getName, st.getLen))
      .toDF("file", "bytes")
  }

  /** Ref-count sweep: delete pool files referenced by NO surviving
    * manifest, plus aged crash leftovers (`.tmp-` dirs older than
    * `tmpTtlMs`). One metadata pass over |pool| + Σ|manifests| rows —
    * restartable at any point. Interrupted [[replicateTo]] manifest
    * copies are transactional state, not garbage: they land or
    * discard FIRST ([[recoverReplications]]), so the TTL pass can
    * never delete the only complete copy of a mirrored manifest. */
  def vacuum(tmpTtlMs: Long = 24L * 3600 * 1000): Long = {
    requirePoolOwner("vacuum")
    recoverReplications()
    recoverParityAsides() // a parked previous sidecar is state, not garbage
    var reclaimed = 0L
    unreferencedPoolFiles().foreach { st =>
      reclaimed += st.getLen
      fs.delete(st.getPath, false)
    }
    val now = System.currentTimeMillis()
    fs.listStatus(new Path(basePath)).foreach { st =>
      if (st.getPath.getName.startsWith(".tmp-") && now - st.getModificationTime > tmpTtlMs)
        fs.delete(st.getPath, true)
    }
    reclaimed
  }

  // -------------------------------------------------------------------
  // Durability ladder for the SHARED POOL — [[ChunkStore]]'s discipline
  // (XOR parity sidecars → mirror replicate/repair → rotating sampled
  // scrub) at pool-file granularity, over [[BlobGroups]]. A lost pool
  // file today breaks EVERY version whose manifest references it;
  // these rungs restore it without (parity) or with (mirror) a second
  // repository. Pool files are IMMUTABLE under stable names, which
  // keeps every rung simple: a parity index never sees an in-place
  // rewrite (only appends and vacuum deletions), a mirror sync is
  // complete by name-diff, and a repair verifies itself against the
  // recorded md5 before landing. A parked sidecar carries its group in
  // its name (`.tmp-parityold-g=<prefix>-*`) so recovery knows where
  // it belongs.

  private def parityRoot = new Path(s"$basePath/_pool_parity")
  private def groupDir(g: String) = new Path(parityRoot, s"g=$g")
  private val asidePrefix = ".tmp-parityold-g="
  private def poolGroup(g: String) = BlobGroups.Group(poolDir, groupDir(g),
    new Path(s"$basePath/.tmp-parity-${java.util.UUID.randomUUID()}"),
    new Path(s"$basePath/$asidePrefix$g-${java.util.UUID.randomUUID()}"))

  /** The groups with a live sidecar. */
  private def liveGroups(): Seq[String] =
    if (!fs.exists(parityRoot)) Nil
    else fs.listStatus(parityRoot).map(_.getPath.getName).filter(_.startsWith("g="))
      .map(_.drop(2)).toSeq

  /** Every indexed pool file: name -> (group, bytes, md5). */
  private def parityIndex(): Map[String, (String, Long, String)] =
    liveGroups().flatMap(g => BlobGroups.readIndex(fs, groupDir(g))
      .map(e => e._1 -> ((g, e._2, e._3)))).toMap

  /** Parity group of a pool file under a `chars`-wide scheme: the
    * first `chars` hex chars of its UUID-derived name — 16^chars
    * groups, uniformly spread, STABLE under appends (a new file joins
    * one group and touches no other group's sidecar). */
  private def parityGroupOf(name: String, chars: Int): String = name.take(chars)

  /** The LIVE scheme width, read off the sidecar dir names themselves
    * (every sidecar of one scheme shares the `g=<prefix>` width, so no
    * separate metadata file can drift from what is actually on disk);
    * 0 when no parity exists yet. */
  private def liveParityChars(): Int = liveGroups().map(_.length).maxOption.getOrElse(0)

  /** The scheme width a pool of `nFiles` earns: the smallest prefix
    * whose 16^w groups hold ≈`parityFilesPerGroup` files each — the
    * scale knob that keeps single-loss-per-group coverage CONSTANT as
    * the pool grows (a fixed 16 groups would concentrate thousands of
    * files per group at 100 TB, making a correlated two-loss in one
    * group — which XOR parity refuses — ever more likely). Capped at
    * 8 chars: pool names embed a UUID whose 9th char is the hyphen,
    * and 16^8 groups is beyond any real pool anyway. */
  private def derivedParityChars(nFiles: Int): Int = {
    var c = 1
    while (c < 8 && (1L << (4 * c)) * parityFilesPerGroup < nFiles.toLong) c += 1
    c
  }

  private def poolFileNames(): Seq[String] = BlobGroups.fileNames(fs, poolDir)

  /** Lands or retires parked sidecars before every parity pass and
    * before [[vacuum]]'s TTL sweep; an unpublished `.tmp-parity-*`
    * ages out via vacuum. */
  private def recoverParityAsides(): Unit =
    BlobGroups.restoreAsides(fs, new Path(basePath), asidePrefix)(
      rest => groupDir(rest.takeWhile(_ != '-')))

  /** Build (or rebuild) the XOR parity sidecar of every non-empty pool
    * group — single-file-loss resilience WITHOUT a second repository
    * (the RAID-5 / par2 idea, format in [[BlobGroups]]): losing ANY
    * ONE indexed file reconstructs exactly as parity ⊕ survivors
    * ([[repairFromParity]]), md5-verified before it lands. Parity is
    * ADVISORY state with fail-closed semantics: files appended after
    * the last build are uncovered until the next [[updateParity]], and
    * a repair can never resurrect a vacuumed file (md5 verification
    * refuses any drifted reconstruction). Groups are independent — on a cluster
    * they pipeline. The group width derives from the CURRENT pool size
    * (see [[derivedParityChars]]), so coverage granularity scales with
    * the pool; a width change regroups wholesale, retiring old-scheme
    * sidecars only AFTER the new scheme is complete (no coverage
    * window with neither). This is the explicit full-rebuild API — it
    * trusts the pool as found; routine maintenance with damage
    * detection is [[updateParity]]. Returns sidecars (re)built. */
  def buildParity(): Long = {
    recoverParityAsides()
    val names = poolFileNames()
    val chars = derivedParityChars(names.size)
    val groups = names.groupBy(parityGroupOf(_, chars))
    groups.foreach { case (g, ns) => BlobGroups.build(spark, fs, poolGroup(g), ns) }
    liveGroups().filter(_.length != chars).foreach(g => fs.delete(groupDir(g), true))
    groups.size.toLong
  }

  /** INCREMENTAL parity maintenance ([[BlobGroups.maintain]]): the
    * append-only steady state folds new merge output in at O(|new
    * files|) I/O; a group whose indexed files vanished to VACUUM (no
    * surviving manifest references them) rebuilds; an uncovered group
    * gets a fresh build.
    *
    * FAIL-CLOSED on damage: an indexed file that is missing yet still
    * MANIFEST-REFERENCED (by this store or a registered shallow clone)
    * is a loss, not a reclaim — rebuilding that group would overwrite
    * the only parity able to reconstruct it, so the group is SKIPPED
    * and surfaced instead; run [[repairFromParity]] first, then
    * maintain. The retire pass honors the same rule (a 1-file group
    * whose only file is damage-lost is exactly parity ⊕ nothing —
    * deleting its sidecar would forfeit the repair).
    *
    * Scheme migration: when the pool has outgrown the live group width
    * ([[derivedParityChars]] > live), maintenance regroups wholesale
    * via [[buildParity]] — the logarithmic re-granulation cost (at
    * pool sizes 16·N, 256·N, 4096·N…) that keeps per-group loss
    * coverage constant as the pool grows. Migration also defers to
    * repair when damage is present. Returns (incremental, rebuilt,
    * skipped group names). */
  def updateParity(): (Long, Long, Seq[String]) = {
    recoverParityAsides()
    val names = poolFileNames()
    val referenced = referencedPoolFiles()
    val live = liveParityChars()
    if ((live == 0 || derivedParityChars(names.size) > live) &&
        referenced.subsetOf(names.toSet))
      return (0L, buildParity(), Nil)
    val present = names.groupBy(parityGroupOf(_, math.max(live, 1)))
    val maintained = present.toSeq.map { case (g, ns) =>
      g -> BlobGroups.maintain(spark, fs, poolGroup(g), ns, referenced)
    }
    // groups whose files ALL vanished: retire the stale sidecar so
    // repair/scrub never chase files vacuum legitimately reclaimed —
    // unless a referenced (damage-lost) file is among them (fail closed)
    val retired = liveGroups().filterNot(present.contains).map { g =>
      if (BlobGroups.readIndex(fs, groupDir(g)).exists(e => referenced(e._1)))
        g -> BlobGroups.Skipped
      else { fs.delete(groupDir(g), true); g -> BlobGroups.Rebuilt }
    }
    val all = maintained ++ retired
    (all.count(_._2 == BlobGroups.Folded).toLong, all.count(_._2 == BlobGroups.Rebuilt).toLong,
      all.collect { case (g, BlobGroups.Skipped) => g })
  }

  /** Reconstruct every single-file loss the parity sidecars cover
    * ([[BlobGroups.repair]]), after which every referencing version
    * restores byte-identical (content-stable names mean no manifest
    * edit is needed). Refused groups go on the unrepairable list;
    * [[repairFrom]] (mirror) is the next rung for them. Returns
    * (repaired paths, unrepairable group names). */
  def repairFromParity(): (Seq[String], Seq[String]) = {
    recoverParityAsides()
    val present = poolFileNames().toSet
    val outcomes = liveGroups().sorted
      .map(g => g -> BlobGroups.repair(spark, fs, poolGroup(g), present))
    (outcomes.collect { case (_, BlobGroups.Repaired(p)) => p },
      outcomes.collect { case (g, BlobGroups.Unrepairable) => g })
  }

  /** Content scrub of the shared pool — `borg check` at pool-file
    * granularity: every parity-indexed file's bytes must re-derive
    * the indexed md5 (bit-rot, truncation, swapped content all
    * surface), every MANIFEST-referenced file (this store's or a
    * registered shallow clone's) must exist, and a referenced file no
    * sidecar indexes reports `uncovered` (appended since the last
    * parity build — [[updateParity]] is the cure). One distributed
    * pass over the slice's file bytes; unreferenced unindexed files
    * are [[orphans]]' jurisdiction, not damage.
    *
    * `rotation = (run, runsPerCycle)` makes the scrub SAMPLED and
    * deterministic on the parity groups (16^w for the live scheme
    * width w — see [[derivedParityChars]]): only groups with
    * hex(g) % runsPerCycle == run % runsPerCycle scan, so a nightly
    * `(dayOfYear, 7)` run reads ~1/7 of the pool and provably covers
    * every group each cycle — the coverage proof is width-independent
    * because hex(g) enumerates every group exactly once per scheme.
    * Returns (file, grp, bytes, status) with
    * status ok / bit_rot / missing_file / uncovered. */
  def scrubPool(rotation: Option[(Long, Int)] = None): DataFrame = {
    recoverParityAsides()
    val spark0 = spark
    import spark0.implicits._
    val chars = math.max(liveParityChars(), 1)
    def parityGroup(n: String): String = parityGroupOf(n, chars)
    def inRotation(g: String): Boolean = rotation match {
      case Some((run, n)) =>
        require(n > 0, s"runsPerCycle must be positive, got $n")
        java.lang.Long.parseLong(g, 16) % n == ((run % n) + n) % n
      case None => true
    }
    val present = poolFileNames().toSet
    val indexed = parityIndex()
    val slice = (indexed.keySet ++ referencedPoolFiles())
      .filter(n => inRotation(parityGroup(n)))
    val toScan = slice.filter(n => present(n) && indexed.contains(n)).toSeq.sorted
    val verdicts: Seq[(String, String, Long, String)] =
      (if (toScan.isEmpty) Nil
       else BlobGroups.entries(spark, toScan.map(new Path(poolDir, _))).map { case (n, len, m) =>
         (n, parityGroup(n), len, if (m == indexed(n)._3) "ok" else "bit_rot")
       }) ++
      slice.filterNot(present).toSeq.sorted
        .map(n => (n, parityGroup(n), indexed.get(n).map(_._2).getOrElse(0L), "missing_file")) ++
      slice.filter(n => present(n) && !indexed.contains(n)).toSeq.sorted
        .map(n => (n, parityGroup(n),
          fs.getFileStatus(new Path(poolDir, n)).getLen, "uncovered"))
    verdicts.toDF("file", "grp", "bytes", "status")
  }

  /** One-directional mirror sync — the replication rung above parity:
    * pool files the mirror lacks stream over FIRST (immutable content
    * under stable names makes the diff a name compare), then absent
    * manifest versions land via complete-tmp + rename (crash rolls
    * forward through [[recoverReplications]]), and common versions'
    * manifests are fingerprint-compared — a mismatch (mirror-side
    * corruption: manifests are immutable once published) re-copies
    * from the source. Crash ordering is the store's own: data before
    * metadata, so the mirror can never hold a manifest referencing a
    * file it doesn't have. Mirror-only extra state is left alone —
    * replication must not race the mirror's retention. Idempotent:
    * an immediate second run copies nothing. Returns (filesCopied,
    * bytesCopied, versionsCopied, manifestsRepaired). */
  def replicateTo(targetBasePath: String): (Long, Long, Seq[Long], Int) = {
    require(targetBasePath != basePath, "replicate needs a distinct mirror root")
    val target = new ManifestStore(spark, targetBasePath, keyCol, statsCols)
    target.recoverReplications()
    target.ensureStoreMeta() // a promoted mirror keeps the DML contract
    val tfs = new Path(targetBasePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // 1. pool files the mirror lacks — per-file streaming copies into a
    // tmp dir, renamed in one-by-one (each rename atomic; a crash
    // leaves an aged .tmp- dir the mirror's vacuum sweeps)
    val missing = poolFileNames().filterNot(target.poolFileNames().toSet)
    var bytes = 0L
    if (missing.nonEmpty) {
      val tmp = new Path(s"$targetBasePath/.tmp-pool-repl-${java.util.UUID.randomUUID()}")
      tfs.mkdirs(tmp)
      tfs.mkdirs(target.poolDir)
      missing.foreach { n =>
        val src = new Path(poolDir, n)
        bytes += fs.getFileStatus(src).getLen
        if (!org.apache.hadoop.fs.FileUtil.copy(fs, src, tfs, new Path(tmp, n), false,
            spark.sparkContext.hadoopConfiguration))
          throw new java.io.IOException(s"pool replicate copy failed: $n")
        if (!tfs.rename(new Path(tmp, n), new Path(target.poolDir, n)))
          throw new java.io.IOException(s"pool replicate publish failed: $n")
      }
      tfs.delete(tmp, true): Unit
    }
    // 2. manifest versions the mirror lacks, 3. then a fingerprint audit
    // of common versions (immutable ⇒ any drift is mirror-side damage;
    // source is the authority)
    val (newVs, stale) = BlobGroups.syncManifests(spark, fs, new Path(basePath, "_manifests"),
      versions(), tfs, new Path(targetBasePath, "_manifests"), target.versions())(
      _.filter(v => manifestFingerprint(v) != target.manifestFingerprint(v)))
    (missing.size.toLong, bytes, newVs, stale.size)
  }

  /** (row count, bit_xor row hash) — the cheap manifest-identity check
    * [[replicateTo]] compares across repositories; metadata-sized. */
  private def manifestFingerprint(v: Long): (Long, Long) = {
    val r = manifest(v)
      .select(xxhash64(col("file"), col("n_rows")).as("__h"))
      .agg(count(lit(1)), expr("coalesce(bit_xor(__h), 0L)")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Land (or discard) interrupted [[replicateTo]] manifest copies —
    * a copy dir is always complete, so live-missing rolls FORWARD;
    * live-present discards the superseded copy (the next replicate
    * re-derives it from the fingerprint compare); a stray copy dir
    * that names no version is left alone ([[BlobGroups.rollForward]]).
    * Called by [[replicateTo]] (target side) and [[vacuum]]. */
  def recoverReplications(): Unit =
    BlobGroups.rollForward(fs, new Path(basePath, "_manifests"), "repl")

  /** DISASTER-RECOVERY REPAIR from a mirror — the rung above parity,
    * for damage parity can't serve (multi-loss groups, bit-rot plus
    * loss): every pool file [[scrubPool]] flags (missing / bit-rot)
    * heals from the mirror's copy, md5-verified against the parity
    * index when indexed (an unindexed reference copies as-is — the
    * downstream [[validate]] row-count/envelope audit is its check).
    * Per-file tmp+rename, per-file honest refusals (mirror lacks it /
    * verify fails) — a partial heal repairs what it can and names the
    * rest. Missing manifest versions are NOT pulled back here:
    * restore direction is an operator decision ([[replicateTo]] from
    * the mirror covers it). Returns (repaired paths, unrepairable
    * file names). */
  def repairFrom(mirrorBasePath: String): (Seq[String], Seq[String]) = {
    require(mirrorBasePath != basePath, "repair needs a distinct mirror root")
    val mirror = new ManifestStore(spark, mirrorBasePath, keyCol, statsCols)
    val mfs = new Path(mirrorBasePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val damaged = scrubPool()
      .filter(col("status") === "bit_rot" || col("status") === "missing_file")
      .select("file").collect().map(_.getString(0)).toSeq.sorted
    val indexed = parityIndex()
    val repaired = Seq.newBuilder[String]
    val unrepairable = Seq.newBuilder[String]
    damaged.foreach { n =>
      val src = new Path(mirror.poolDir, n)
      try {
        if (!mfs.exists(src))
          throw new java.io.IOException(s"mirror lacks $n")
        val tmp = new Path(poolDir, s".$n.tmp-${java.util.UUID.randomUUID()}")
        if (!org.apache.hadoop.fs.FileUtil.copy(mfs, src, fs, tmp, false,
            spark.sparkContext.hadoopConfiguration))
          throw new java.io.IOException(s"mirror copy failed: $n")
        if (!indexed.get(n).forall(e => BlobGroups.streamMd5(fs, tmp) == e._3)) {
          fs.delete(tmp, false); unrepairable += n
        } else {
          fs.delete(new Path(poolDir, n), false) // bit-rot victim, if present
          if (!fs.rename(tmp, new Path(poolDir, n)))
            throw new java.io.IOException(s"repair publish failed: $n")
          repaired += new Path(poolDir, n).toString
        }
      } catch {
        case scala.util.control.NonFatal(_) => unrepairable += n
      }
    }
    (repaired.result(), unrepairable.result())
  }
}

object ManifestStore {
  import org.apache.hadoop.fs.FileSystem

  private[operators] def clonesPath(base: String) = new Path(base, "_clones.json")
  private[operators] def clonesAside(base: String) = new Path(base, "_clones.json.old")

  /** Clone bases registered with the pool owner at `base`. Falls back
    * to the registration aside when a crash parked the live file
    * mid-update. Shared by the store and the SQL catalog's
    * destructive verbs (DROP TABLE / RENAME TO must not strand a
    * live clone's pool). */
  def registeredClonesAt(fs: FileSystem, base: String): Seq[String] = {
    val p = if (fs.exists(clonesPath(base))) clonesPath(base) else clonesAside(base)
    Sidecars.read(fs, p).fold(Seq.empty[String])(j => Sidecars.strings(j \ "clones"))
  }

  /** Registered clones that still exist on disk. A dropped clone needs
    * no deregistration — it simply stops counting; a LIVE one is a
    * hard reference the owner's destructive verbs must refuse to
    * strand. */
  def liveClonesAt(fs: FileSystem, base: String): Seq[String] =
    registeredClonesAt(fs, base).filter { b =>
      try fs.exists(new Path(b, "_manifests"))
      catch { case _: java.io.IOException => false }
    }
}
