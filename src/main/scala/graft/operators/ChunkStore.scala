package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Content-addressed encrypted chunk repository with version manifests
  * and a mark-and-sweep garbage collector — the borg/restic storage
  * model, where [[SnapshotStore]]'s CoW versioning would duplicate
  * chunk bytes per version. Every chunk blob is stored EXACTLY ONCE
  * (keyed by its convergent-encryption content address,
  * [[ChunkCrypto.encryptedChunks]]), versions are manifests of
  * references, and dropping versions reclaims exactly the bytes no
  * surviving version references — closing the report→action loop of
  * [[ChunkCrypto.chunkAccounting]]'s `exclusive_bytes` column.
  *
  * Layout:
  * {{{
  *   chunks/bucket=<b>/part-*.parquet     (ref_hex, bytes, blob) — each ref once
  *   manifests/v=<v>/part-*.parquet       (id, chunk_idx, ref_hex, bytes)
  * }}}
  * Chunk rows hash-partition into `nBuckets` directories by content
  * address, so the GC sweep rewrites ONLY the buckets that contain a
  * dead ref (partition pruning on the read, directory swap on the
  * write) — at 100 TB with thousands of buckets a prune that reclaims
  * 1% of refs touches ~1% of the repository, never all of it.
  *
  * Crash ordering mirrors the snapshot stores: [[backup]] appends
  * chunk blobs FIRST and publishes the manifest LAST via tmp+rename —
  * a crash in between leaves orphan chunks (referenced by no manifest)
  * that the next [[pruneChunks]] sweeps, never a manifest pointing at
  * missing chunks. [[pruneChunks]] deletes dropped manifests FIRST —
  * a crash mid-sweep leaves dead-but-present chunks that the next
  * sweep collects. Single writer, like [[SnapshotStore]]. */
class ChunkStore(spark: SparkSession, basePath: String, master: Array[Byte],
    nBuckets: Int = 64) {

  private def fs =
    new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def chunksDir = s"$basePath/chunks"
  private def manifestsRoot = new Path(s"$basePath/manifests")
  private def manifestDir(v: Long) = s"$basePath/manifests/v=$v"

  private val chunkSchema = StructType.fromDDL(
    "ref_hex STRING, bytes BIGINT, blob BINARY")
  private val manifestSchema = StructType.fromDDL(
    "id BIGINT, chunk_idx BIGINT, ref_hex STRING, bytes BIGINT")

  private def bucketCol = pmod(xxhash64(col("ref_hex")), lit(nBuckets.toLong))

  def versions(): Seq[Long] = {
    val p = new Path(s"$basePath/manifests")
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.flatMap(s => SnapshotStore.versionOf(s.getPath.getName))
      .sorted
  }

  def manifest(version: Long): DataFrame =
    spark.read.schema(manifestSchema).parquet(manifestDir(version))

  /** The manifest rows of `vs` in one frame, each tagged with its
    * version `__v` (one job over all of them, not one per version);
    * None for no version. */
  private def manifestsOf(vs: Seq[Long]): Option[DataFrame] =
    vs.map(v => manifest(v).withColumn("__v", lit(v))).reduceOption(_.unionByName(_))

  /** Every stored chunk row (ref_hex, bytes, blob, bucket). Empty
    * frame before the first backup. */
  def refs(): DataFrame =
    if (!fs.exists(new Path(chunksDir)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        chunkSchema.add("bucket", org.apache.spark.sql.types.LongType))
    else spark.read.schema(chunkSchema.add("bucket", org.apache.spark.sql.types.LongType))
      .option("basePath", chunksDir).parquet(chunksDir)

  /** Back up one version: CDC-chunk + convergent-encrypt `payloadCol`,
    * append ONLY the content addresses the repository doesn't already
    * hold (one anti-join on the uniform ref hash), and publish the
    * manifest atomically. Returns (refsAdded, bytesAdded) — the
    * version's incremental storage cost, `new_bytes` in
    * [[ChunkCrypto.chunkAccounting]] terms. */
  def backup(payloads: DataFrame, idCol: String, payloadCol: String,
      version: Long, commitTs: Option[Long] = None): (Long, Long) = {
    require(!versions().contains(version), s"version $version already exists")
    val chunked = chunkAndEncrypt(payloads, idCol, payloadCol)
    val added = appendNewRefs(chunked)
    publishManifest(manifestRows(chunked, idCol), version, commitTs)
    added
  }

  /** Incremental backup from a CDC delta — version `toVersion`'s
    * corpus = `fromVersion`'s minus `removed` ids minus the ids in
    * `changed` (their OLD payloads), plus `changed` (the new
    * payloads). Only the DELTA chunk-encrypts (O(|delta|) crypto);
    * the untouched ids' manifest rows carry via one anti-join on the
    * |corpus|-sized (not |bytes|-sized) manifest frame, and chunk
    * blobs dedupe against the whole repository as in [[backup]]. The
    * streaming composition ([[graft.streaming.StreamOps]]) feeds this
    * per micro-batch. */
  def backupDelta(fromVersion: Long, toVersion: Long, changed: DataFrame,
      removed: DataFrame, idCol: String, payloadCol: String,
      commitTs: Option[Long] = None): (Long, Long) = {
    require(versions().contains(fromVersion), s"version $fromVersion does not exist")
    require(!versions().contains(toVersion), s"version $toVersion already exists")
    // removed ids resolve BY NAME (a positional head() on a multi-column
    // frame like (seq, id) would silently un-manifest the wrong keys);
    // a single-column frame is accepted under any name for convenience
    val removedIds = {
      require(removed.columns.contains(idCol) || removed.columns.length == 1,
        s"removed must carry a '$idCol' column (or be a single id column); " +
          s"got (${removed.columns.mkString(", ")})")
      val c = if (removed.columns.contains(idCol)) idCol else removed.columns.head
      removed.select(col(c).cast("long").as("id"))
    }
    val chunked = chunkAndEncrypt(changed, idCol, payloadCol)
    val added = appendNewRefs(chunked)
    val touched = changed.select(col(idCol).cast("long").as("id"))
      .unionByName(removedIds)
      .distinct()
    publishManifest(
      manifest(fromVersion).join(touched, Seq("id"), "left_anti")
        .unionByName(manifestRows(chunked, idCol)),
      toVersion, commitTs)
    added
  }

  // one chunk+encrypt pass, materialized: feeds the manifest AND the
  // new-ref append without re-encrypting
  private def chunkAndEncrypt(payloads: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    ChunkCrypto.encryptedChunks(payloads, idCol, payloadCol, master)
      .withColumn("bytes", length(col("blob")).cast("long"))
      .materialize()

  private def manifestRows(chunked: DataFrame, idCol: String): DataFrame =
    chunked.select(col(idCol).cast("long").as("id"), col("chunk_idx"),
      col("ref_hex"), col("bytes"))

  /** Append the chunk blobs the repository doesn't hold yet; returns
    * (refsAdded, bytesAdded). Idempotent under replay: already-present
    * refs anti-join away. */
  private def appendNewRefs(chunked: DataFrame): (Long, Long) = {
    val newRefs = chunked
      .dropDuplicates("ref_hex")
      .join(refs().select("ref_hex"), Seq("ref_hex"), "left_anti")
      .select(col("ref_hex"), col("bytes"), col("blob"))
      .withColumn("bucket", bucketCol)
      .materialize() // count + write from one pass
    val added = newRefs.agg(count(lit(1)), coalesce(sum("bytes"), lit(0L))).head()
    newRefs.write.mode("append").partitionBy("bucket").parquet(chunksDir)
    (added.getLong(0), added.getLong(1))
  }

  // manifest last = the commit point (crash before leaves orphan
  // chunks for the next sweep, never a dangling manifest). The commit
  // timestamp lands inside the tmp dir BEFORE the rename, so it is
  // atomic with the version — the point-in-time index readAsOf needs.
  private def publishManifest(rows: DataFrame, version: Long,
      commitTs: Option[Long] = None): Unit = {
    val tmp = new Path(s"$basePath/manifests/.tmp-v=$version-${java.util.UUID.randomUUID()}")
    rows.write.mode("overwrite").parquet(tmp.toString)
    val out = fs.create(new Path(tmp, "_commit_ts"), true)
    try out.write(commitTs.getOrElse(System.currentTimeMillis()).toString.getBytes("UTF-8"))
    finally out.close()
    val dest = new Path(manifestDir(version))
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"manifest publish failed: $tmp -> $dest")
  }

  /** A committed version's commit timestamp (epoch ms). Versions from
    * before timestamping report Long.MinValue — ordered before any
    * real time, never silently now(). */
  def commitTimestamp(version: Long): Long = {
    val p = new Path(manifestDir(version), "_commit_ts")
    if (!fs.exists(p)) Long.MinValue
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  /** Newest version committed at-or-before `ts` — the repository's
    * point-in-time selector ("restore the corpus as of Tuesday
    * 23:59"), [[SnapshotStore.versionAsOf]]'s twin. */
  def versionAsOf(ts: Long): Option[Long] =
    versions().filter(v => commitTimestamp(v) <= ts).lastOption

  /** Point-in-time restore: reassemble the whole corpus as of `ts`.
    * Fails fast when every commit is newer than `ts`. */
  def restoreAsOf(ts: Long): DataFrame = versionAsOf(ts) match {
    case Some(v) => restore(v)
    case None => throw new IllegalArgumentException(
      s"no version committed at or before $ts (versions: ${versions()})")
  }

  /** Reassemble a version's payloads: manifest ⋈ chunks on the content
    * address (one shuffle on a uniform key), then decrypt + order +
    * concatenate per id ([[ChunkCrypto.reassemble]]). The join is a
    * LEFT join with a fail-fast on any manifest ref whose blob is
    * absent (a crashed sweep window, a lost bucket file): an inner
    * join would silently DROP the missing chunk and reassemble a
    * truncated payload — a backup restore must be byte-exact or loud. */
  def restore(version: Long): DataFrame = {
    val joined = manifest(version)
      .join(refs().select("ref_hex", "blob"), Seq("ref_hex"), "left")
      .withColumn("blob", when(col("blob").isNull,
          raise_error(concat(lit(s"restore($version): chunk blob missing from " +
            "repository for manifest ref "), col("ref_hex")))
            .cast(org.apache.spark.sql.types.BinaryType))
        .otherwise(col("blob")))
    ChunkCrypto.reassemble(joined, "id", master)
  }

  /** SELECTIVE restore — the `borg extract <path>` of this repository:
    * reassemble only the requested payload ids from `version`, reading
    * only the chunk BUCKETS those payloads' refs hash into. The
    * manifest filter is metadata-sized; the distinct home buckets of
    * the needed refs collect to the driver (≤ nBuckets longs) and
    * PARTITION-PRUNE the chunk scan (`bucket` is the physical
    * partition key), so restoring one document from a 100 TB
    * repository reads ~|its chunks| worth of bucket files, not the
    * repository. Missing ids are simply absent from the result (the
    * manifest is the authority on membership); a missing BLOB for a
    * manifested ref still fails loud like [[restore]]. */
  def restoreIds(version: Long, ids: Seq[Long]): DataFrame = {
    require(ids.nonEmpty, "restoreIds needs at least one id")
    val wanted = manifest(version).filter(col("id").isin(ids: _*))
      .materialize()
    val buckets = wanted.select(bucketCol.as("b")).distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    val prunedRefs = refs().filter(col("bucket").isin(buckets: _*))
      .select("ref_hex", "blob")
    val joined = wanted
      .join(prunedRefs, Seq("ref_hex"), "left")
      .withColumn("blob", when(col("blob").isNull,
          raise_error(concat(lit(s"restoreIds($version): chunk blob missing " +
            "from repository for manifest ref "), col("ref_hex")))
            .cast(org.apache.spark.sql.types.BinaryType))
        .otherwise(col("blob")))
    ChunkCrypto.reassemble(joined, "id", master)
  }

  /** The [[ChunkCrypto.chunkAccounting]] report over every version's
    * manifest — blobs never read. */
  def accounting(): DataFrame =
    ChunkCrypto.chunkAccounting(versions().map(v => v -> manifest(v)),
      "ref_hex", col("bytes")).orderBy("version")

  /** Repository integrity scrub — `borg check` for the chunk store:
    * every stored blob decrypts under its recorded content address
    * (the GCM tag authenticates ciphertext AND the ref-derived key,
    * so bit-rot, truncation, and a swapped blob all surface), and the
    * decrypted plaintext's SHA-256 must re-derive the address
    * (catches a valid blob filed under the wrong ref). One narrow
    * partition-local pass over the blobs — at 100 TB this is the
    * weekly scan that runs BESIDE queries, not a restore drill.
    * A second, metadata-weight pass checks referential integrity the
    * blob scan CANNOT see: every surviving manifest's refs must have a
    * stored blob (a blob that vanished — crashed sweep, lost bucket
    * file — never enters the blob scan, so only the manifest side can
    * report it). Returns (ref_hex, bucket, bytes, status) with status
    * ok / decrypt_failed / ref_mismatch / missing_blob.
    *
    * `rotation = (run, runsPerCycle)` makes the scrub SAMPLED and
    * deterministic: only buckets with `bucket % runsPerCycle ==
    * run % runsPerCycle` are scanned (blob pass AND manifest pass —
    * the manifest side routes through the same ref-hash bucket
    * function, so the two passes cover the same slice). At 100 TB an
    * all-at-once scrub is a multi-hour full read; a nightly run with
    * `(dayOfYear, 7)` reads ~1/7 of the repository and provably
    * covers EVERY bucket each week (spec-pinned: the union of one
    * cycle's runs equals the full scrub; any planted corruption is
    * found within one cycle). */
  def scrub(rotation: Option[(Long, Int)] = None): DataFrame = {
    recoverParityAsides()
    val spark0 = spark
    import spark0.implicits._
    val m = master
    val inRotation: Column = rotation match {
      case Some((run, n)) =>
        require(n > 0, s"runsPerCycle must be positive, got $n")
        col("bucket") % n === ((run % n + n) % n)
      case None => lit(true)
    }
    val manifestRefs = manifestsOf(versions())
      .map(_.select("ref_hex", "bytes").dropDuplicates("ref_hex"))
    val missing = manifestRefs.map(
      _.join(refs().select("ref_hex"), Seq("ref_hex"), "left_anti")
        .select(col("ref_hex"), bucketCol.as("bucket"), col("bytes"),
          lit("missing_blob").as("status"))
        .filter(inRotation))
    val scanned = refs().select(col("ref_hex"), col("bucket"), col("bytes"), col("blob"))
      .filter(inRotation)
      .as[(String, Long, Long, Array[Byte])]
      .map { case (refHex, bucket, bytes, blob) =>
        val ref = refHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
        val status =
          try {
            val plain = ChunkCrypto.decryptChunk(m, ref, blob)
            val digest = java.security.MessageDigest.getInstance("SHA-256")
              .digest(plain)
            if (java.util.Arrays.equals(digest, ref)) "ok" else "ref_mismatch"
          } catch { case _: Exception => "decrypt_failed" }
        (refHex, bucket, bytes, status)
      }
      .toDF("ref_hex", "bucket", "bytes", "status")
    missing.fold(scanned)(scanned.unionByName(_))
  }

  /** Orphan-chunk audit — [[pruneChunks]]' report-only preview and
    * [[ManifestStore.orphans]]' repository twin: refs present in the
    * chunk buckets but referenced by NO committed manifest (a crashed
    * backup's landed-but-never-committed chunks, or refs stranded by
    * an out-of-band manifest removal), as (ref_hex, bucket, bytes)
    * rows. One anti-join of the refs frame against the union of
    * manifests — same cost shape as the sweep's mark phase, zero
    * mutation. */
  def orphanRefs(): DataFrame = {
    val live = manifestsOf(versions()).map(_.select("ref_hex").distinct())
    val all = refs().select("ref_hex", "bucket", "bytes")
    live.fold(all)(l => all.join(l, Seq("ref_hex"), "left_anti"))
  }

  /** Crash-leftover GC, [[SnapshotStore.vacuum]]'s repository twin:
    * TTL'd removal of `.tmp-` manifest dirs (unpublished backups),
    * `.tmp-sweep-` dirs (interrupted [[pruneChunks]]), and aged
    * `._parity.tmp-` dirs inside buckets (a crashed [[buildParity]] /
    * [[updateParity]] publish — advisory state, safe to drop);
    * committed manifests and chunk buckets are never touched,
    * in-flight writers are protected by the TTL. Returns the deleted
    * paths. */
  def vacuum(ttlMs: Long = 24L * 3600 * 1000): Seq[String] = {
    // redaction/replication tmp dirs are transactional state, not
    // garbage: land or discard them FIRST so the TTL pass below can
    // never delete the only complete copy of a replaced manifest
    recoverRedactions()
    recoverReplications()
    recoverParityAsides() // a parked previous sidecar is state, not garbage
    val now = System.currentTimeMillis()
    val rootSweeps = Seq(new Path(basePath), new Path(s"$basePath/manifests"))
      .filter(fs.exists)
      .flatMap(dir => fs.listStatus(dir).toSeq)
      .filter { st =>
        st.getPath.getName.startsWith(".tmp-") &&
          now - st.getModificationTime > ttlMs
      }
      .map { st =>
        // a sweep dir may hold the ONLY copy of live survivor chunks
        // (crash between bucket renames) — re-land them from the swap
        // journal before the dir is deleted; plain tmp dirs (unpublished
        // manifests, pre-journal sweeps) hold no committed state
        if (st.getPath.getName.startsWith(".tmp-sweep-")) completeSweep(st.getPath)
        else fs.delete(st.getPath, true): Unit
        st.getPath.toString
      }
    val paritySweeps = dataBuckets()
      .flatMap(bdir => fs.listStatus(bdir).toSeq)
      .filter { st =>
        st.getPath.getName.startsWith("._parity.tmp-") &&
          now - st.getModificationTime > ttlMs
      }
      .map { st => fs.delete(st.getPath, true); st.getPath.toString }
    rootSweeps ++ paritySweeps
  }

  /** Complete (or discard) an interrupted [[pruneChunks]] sweep dir.
    * The `_swap_plan` journal lists the dirty buckets the sweep meant
    * to swap; for each, ONLY the dangerous state — bucket dir missing
    * from `chunks/` while its survivors still sit in the sweep dir —
    * is repaired, by landing the survivors. A bucket whose dir still
    * EXISTS is never touched at recovery time: a backup may have run
    * between the sweep's crash and this recovery and appended new
    * blob files into the intact bucket dir, so swapping in the
    * sweep-time survivor copy would delete blobs a committed manifest
    * references — silent loss, surfacing only as a restore
    * raise_error. The un-swapped bucket merely still holds its dead
    * chunks, and the next sweep recollects them (the documented crash
    * philosophy: crashes leave garbage, never lose data). A bucket
    * the sweep legitimately emptied (no survivor dir was ever
    * written) also stays absent. Idempotent — a crash DURING recovery
    * re-enters one of the same states. No journal = the sweep died
    * before any bucket was touched; every bucket is intact and the
    * dir holds only a superseded survivor copy. */
  private def completeSweep(tmp: Path): Unit = {
    val plan = new Path(tmp, "_swap_plan")
    if (fs.exists(plan)) {
      val in = fs.open(plan)
      val buckets =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).map(_.toLong).toList
        finally in.close()
      buckets.foreach { b =>
        val cur = new Path(s"$chunksDir/bucket=$b")
        val neu = new Path(s"$tmp/bucket=$b")
        if (!fs.exists(cur)) {
          // crash between aside and landing: survivors are the only
          // live copy — land them. neu also absent means the sweep
          // emptied this bucket on purpose (no survivors written).
          if (fs.exists(neu) && !fs.rename(neu, cur))
            throw new java.io.IOException(s"sweep recovery failed: $neu -> $cur")
        } // cur exists: leave it untouched (see scaladoc)
      }
    }
    fs.delete(tmp, true): Unit
  }

  /** Place a LEGAL HOLD on a committed version: [[pruneChunks]] will
    * refuse to drop it no matter what `keep` says, until [[release]].
    * The compliance primitive every backup tool pairs with retention
    * (litigation hold / WORM-until-released): retention policy is
    * automation, holds are human decisions, and automation must not
    * override them. One marker file (`_holds/<version>`), idempotent.
    * Orthogonal to [[redact]] by design: a hold preserves the
    * VERSION; erasure law still removes the redacted payloads from
    * it — the two compose (hold the corpus, erase the person). */
  def hold(version: Long): Unit =
    BlobGroups.hold(fs, basePath, version, versions().contains(version))

  /** Release a [[hold]]; idempotent. The version becomes prunable by
    * the next retention pass. */
  def release(version: Long): Unit = BlobGroups.release(fs, basePath, version)

  /** Versions currently under a legal hold. */
  def holds(): Seq[Long] = BlobGroups.holds(fs, basePath)

  /** Mark-and-sweep GC — the `prune` every deduplicating backup tool
    * runs weekly: drop every version NOT in `keep`, then delete the
    * chunk rows no surviving manifest references (which includes
    * orphans from a crashed [[backup]]). Mark = union of surviving
    * manifests' distinct refs; sweep = rewrite ONLY the buckets
    * holding a dead ref (survivors re-land via tmp dir + directory
    * swap; a bucket left with no survivors is deleted outright).
    * Versions under a [[hold]] are kept regardless of `keep`.
    * Returns (prunedVersions, refsDeleted, bytesReclaimed) —
    * bytesReclaimed equals the pruned versions' collective
    * exclusive_bytes, spec-pinned. */
  def pruneChunks(keep: Seq[Long]): (Seq[Long], Long, Long) = {
    // finish any interrupted sweep FIRST: a crashed swap may have left
    // a bucket's only live copy in its sweep dir, and this sweep's
    // refs() read must see every stored chunk
    recoverSweeps()
    val held = holds()
    val drop = versions().filterNot(v => keep.contains(v) || held.contains(v))
    // deleting dropped manifests FIRST makes the sweep restartable:
    // a crash mid-sweep leaves dead chunks the next sweep collects
    drop.foreach(v => fs.delete(new Path(manifestDir(v)), true))
    val live = manifestsOf(versions()).fold(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL("ref_hex STRING")))(_.select("ref_hex").distinct())
    val dead = refs().join(live, Seq("ref_hex"), "left_anti")
      .select("ref_hex", "bytes", "bucket").materialize()
    val stats = dead.agg(count(lit(1)), coalesce(sum("bytes"), lit(0L))).head()
    val dirty = dead.select("bucket").distinct().collect().map(_.getLong(0))
    if (dirty.nonEmpty) {
      // one job rewrites every dirty bucket's survivors to a tmp dir,
      // then the journaled non-destructive swap lands them
      val tmp = new Path(s"$basePath/.tmp-sweep-${java.util.UUID.randomUUID()}")
      refs().filter(col("bucket").isin(dirty.toSeq: _*))
        .join(live, Seq("ref_hex"), "left_semi")
        .write.mode("overwrite").partitionBy("bucket").parquet(tmp.toString)
      journalAndSwap(tmp, dirty.toSeq)
    }
    (drop, stats.getLong(0), stats.getLong(1))
  }

  /** The sweep's commit protocol, shared by [[pruneChunks]] and
    * [[maybeCompactChunkBuckets]]: the `_swap_plan` journal commits
    * the dirty-bucket plan (crash after this point → [[completeSweep]]
    * finishes every bucket from the tmp dir), then each dirty bucket
    * swaps NON-destructively — the current dir renames ASIDE into the
    * sweep dir (never deleted while it could be a chunk's only copy),
    * the replacement renames in (a bucket with no replacement stays
    * absent). Clean buckets untouched. Only after EVERY bucket swapped
    * does the sweep dir — asides and leftovers — get deleted. */
  private def journalAndSwap(tmp: Path, dirty: Seq[Long]): Unit = {
    val planTmp = new Path(tmp, "._swap_plan.tmp")
    val out = fs.create(planTmp, true)
    try out.write(dirty.sorted.mkString("\n").getBytes("UTF-8")) finally out.close()
    if (!fs.rename(planTmp, new Path(tmp, "_swap_plan")))
      throw new java.io.IOException(s"swap journal publish failed under $tmp")
    dirty.foreach { b =>
      val cur = new Path(s"$chunksDir/bucket=$b")
      val neu = new Path(s"$tmp/bucket=$b")
      val aside = new Path(s"$tmp/replaced-bucket=$b")
      if (fs.exists(cur) && !fs.rename(cur, aside))
        throw new java.io.IOException(s"swap aside failed: $cur -> $aside")
      if (fs.exists(neu) && !fs.rename(neu, cur))
        throw new java.io.IOException(s"swap publish failed: $neu -> $cur")
    }
    fs.delete(tmp, true): Unit
  }

  /** Per-bucket small-file compaction — the repository twin of
    * [[SnapshotStore.compact]]: every [[backup]]/[[backupDelta]]
    * appends a fresh part-file set into each bucket it touches, so at
    * streaming cadence ([[graft.streaming.StreamOps.chunkBackupStream]],
    * one backup per micro-batch) a bucket accumulates files forever
    * and every repository read pays the open-per-file tax. Buckets
    * holding more than `maxFilesPerBucket` part-files fold to one
    * file each (rows pass through VERBATIM — content identity, only
    * layout changes; one shuffle routes each bucket to one writer
    * task). Publication rides the sweep's journaled non-destructive
    * swap ([[journalAndSwap]]) so every crash window recovers via the
    * same [[completeSweep]] path. Returns the compacted bucket ids. */
  def maybeCompactChunkBuckets(maxFilesPerBucket: Int = 8): Seq[Long] = {
    recoverSweeps()
    val root = new Path(chunksDir)
    if (!fs.exists(root)) return Seq.empty
    val dirty = fs.listStatus(root).toSeq
      .filter(_.getPath.getName.startsWith("bucket="))
      .filter(d => fs.listStatus(d.getPath)
        .count(_.getPath.getName.startsWith("part-")) > maxFilesPerBucket)
      .map(_.getPath.getName.stripPrefix("bucket=").toLong)
      .sorted
    if (dirty.nonEmpty) {
      val tmp = new Path(s"$basePath/.tmp-sweep-${java.util.UUID.randomUUID()}")
      refs().filter(col("bucket").isin(dirty: _*))
        .repartition(dirty.size, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(tmp.toString)
      journalAndSwap(tmp, dirty)
    }
    dirty
  }

  /** DISASTER-RECOVERY REPAIR — heal every blob [[scrub]] flags
    * (tampered / decrypt-failed / mis-filed / missing) from a replica
    * repository: the mirror's rows for the damaged content addresses
    * replace them, bucket rewrites ride the SAME journaled
    * non-destructive swap as the sweep (every crash window recovers
    * via completeSweep), and content addressing makes the repair
    * self-verifying — a mirror row whose plaintext didn't hash to the
    * ref would itself scrub as damaged. Touches only buckets that
    * hold a damaged row or receive a replacement — O(|damage|), never
    * a repository rewrite. Fails fast (before any mutation) when the
    * mirror lacks any damaged ref: a partial heal that still scrubs
    * dirty is worse than an honest error. Returns (refs healed,
    * buckets rewritten). */
  def repairFrom(mirrorBasePath: String): (Long, Seq[Long]) = {
    require(mirrorBasePath != basePath, "repair needs a distinct mirror root")
    recoverSweeps()
    val bad = scrub().filter(col("status") =!= "ok")
      .select("ref_hex", "bucket").materialize()
    val nBad = bad.count()
    if (nBad == 0) return (0L, Seq.empty)
    val mirror = new ChunkStore(spark, mirrorBasePath, master, nBuckets)
    val replacement = mirror.refs()
      .join(bad.select("ref_hex"), Seq("ref_hex"), "left_semi")
      .materialize()
    val nFound = replacement.count()
    require(nFound == nBad,
      s"mirror lacks ${nBad - nFound} of $nBad damaged refs — refusing a partial repair")
    // buckets holding a damaged row (physical location — catches
    // mis-filed rows parked in the wrong bucket) ∪ buckets receiving
    // a replacement (the ref-hash home)
    val dirty = (bad.select("bucket").distinct().collect().map(_.getLong(0)) ++
      replacement.select("bucket").distinct().collect().map(_.getLong(0)))
      .distinct.sorted.toIndexedSeq
    val healthy = refs().filter(col("bucket").isin(dirty: _*))
      .join(bad.select("ref_hex"), Seq("ref_hex"), "left_anti")
    val tmp = new Path(s"$basePath/.tmp-sweep-${java.util.UUID.randomUUID()}")
    healthy.unionByName(replacement)
      .repartition(dirty.size, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(tmp.toString)
    journalAndSwap(tmp, dirty)
    (nBad, dirty)
  }

  // Parity groups are the buckets ([[BlobGroups]]). A sweep,
  // compaction or mirror repair swaps the whole bucket dir and its
  // `_parity` with it, so a lost indexed file under a live sidecar is damage.

  private def parityDir(bucket: Path) = new Path(bucket, "_parity")
  private def bucketGroup(bdir: Path) = BlobGroups.Group(bdir, parityDir(bdir),
    new Path(bdir, s"._parity.tmp-${java.util.UUID.randomUUID()}"),
    new Path(bdir, s"._parity.old-${java.util.UUID.randomUUID()}"))
  private def bucketId(bdir: Path): Long = bdir.getName.stripPrefix("bucket=").toLong

  private def dataBuckets(): Seq[Path] = {
    val root = new Path(chunksDir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(st => st.isDirectory &&
      st.getPath.getName.startsWith("bucket=")).map(_.getPath)
  }

  private def dataFileNames(bdir: Path): Set[String] = BlobGroups.fileNames(fs, bdir).toSet

  /** Every bucket holding data files, with their names. */
  private def dataGroups(): Seq[(Path, Set[String])] =
    dataBuckets().map(b => b -> dataFileNames(b)).filter(_._2.nonEmpty)

  /** Lands or retires parked sidecars before every parity pass and
    * before [[vacuum]]'s TTL sweep. */
  private def recoverParityAsides(): Unit =
    dataBuckets().foreach(b => BlobGroups.restoreAsides(fs, b, "._parity.old-")(_ => parityDir(b)))

  /** Single-file-loss resilience WITHOUT a second repository: one XOR
    * parity sidecar per bucket (the RAID-5 / par2 idea at blob-file
    * granularity, format in [[BlobGroups]]); losing ANY ONE indexed
    * file reconstructs exactly as parity ⊕ surviving files
    * ([[repairFromParity]]), md5-verified before it lands. Parity is
    * ADVISORY state with fail-closed semantics: it publishes via
    * tmp+rename (a crash leaves the previous sidecar or none — repair
    * then refuses rather than guessing), files appended after the
    * last build are simply uncovered until the next build, and a
    * sweep/compaction that swaps the bucket dir drops the sidecar
    * with it — a repair can never resurrect swept chunks. Build cost:
    * one distributed pass over each bucket's blob bytes (XOR is
    * associative + commutative, so the reduce combines map-side);
    * buckets are independent — on a cluster they pipeline. Returns
    * the number of bucket sidecars (re)built. */
  def buildParity(): Long = {
    recoverParityAsides()
    val groups = dataGroups()
    groups.foreach { case (b, names) => BlobGroups.build(spark, fs, bucketGroup(b), names.toSeq) }
    groups.size.toLong
  }

  /** INCREMENTAL parity maintenance ([[BlobGroups.maintain]]): a
    * bucket whose staleness is PURE APPEND (the backupDelta /
    * chunkBackupStream steady state) folds its new files in at
    * O(|new files|) I/O, against [[buildParity]]'s O(bucket); an
    * uncovered bucket, or one whose sidecar is torn, gets a fresh build.
    * FAIL-CLOSED on damage: a bucket missing an indexed file is
    * SKIPPED — [[verifyParity]] shows it `stale`; run
    * [[repairFromParity]] first, then maintain. A crash leaves the OLD
    * sidecar, stale but consistent. Returns (bucketsIncremental,
    * bucketsRebuilt). */
  def updateParity(): (Long, Long) = {
    recoverParityAsides()
    val done = dataGroups().map { case (b, names) =>
      BlobGroups.maintain(spark, fs, bucketGroup(b), names.toSeq, _ => true)
    }
    (done.count(_ == BlobGroups.Folded).toLong, done.count(_ == BlobGroups.Rebuilt).toLong)
  }

  /** Parity COVERAGE audit — which buckets [[repairFromParity]] could
    * actually serve right now, metadata-only (no blob bytes read):
    * per bucket, `covered` (sidecar present, index == current file
    * set), `stale` (sidecar present but files were appended/swapped
    * since the build — only still-indexed files are repairable), or
    * `uncovered` (no sidecar). The operational loop is
    * backup → buildParity → verifyParity-in-monitoring; a bucket
    * drifting to `stale` past tolerance means buildParity is due. */
  def verifyParity(): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val rows = dataBuckets().map { bdir =>
      val present = dataFileNames(bdir)
      val indexed = BlobGroups.readIndex(fs, parityDir(bdir))
      if (indexed.isEmpty || !BlobGroups.hasParity(fs, parityDir(bdir)))
        (bucketId(bdir), present.size.toLong, 0L, "uncovered")
      else {
        val status =
          if (indexed.map(_._1).toSet == present) "covered" else "stale"
        (bucketId(bdir), present.size.toLong, indexed.size.toLong, status)
      }
    }
    rows.sortBy(_._1).toDF("bucket", "n_files", "n_indexed", "status")
  }

  /** Reconstruct singly-lost blob files from the [[buildParity]]
    * sidecars ([[BlobGroups.repair]]): a stale or torn sidecar can only
    * produce an honest refusal, never a corrupt blob. Returns (repaired
    * file paths, buckets that need a mirror or deeper recovery: ≥2
    * losses, or a failed verify). Losses OUTSIDE the index (files
    * appended after the last build) are invisible here by design —
    * scrub's missing_blob rows remain the authority. */
  def repairFromParity(): (Seq[String], Seq[Long]) = {
    recoverParityAsides()
    val outcomes = dataBuckets()
      .map(b => b -> BlobGroups.repair(spark, fs, bucketGroup(b), dataFileNames(b)))
    (outcomes.collect { case (_, BlobGroups.Repaired(p)) => p },
      outcomes.collect { case (b, BlobGroups.Unrepairable) => bucketId(b) })
  }

  /** Finish every interrupted sweep left under the repository root —
    * called by [[pruneChunks]] before it reads, and by [[vacuum]]
    * (TTL-gated) for standalone hygiene. */
  def recoverSweeps(): Unit =
    if (fs.exists(new Path(basePath)))
      fs.listStatus(new Path(basePath)).toSeq
        .filter(_.getPath.getName.startsWith(".tmp-sweep-"))
        .foreach(st => completeSweep(st.getPath))

  /** Repository redaction (the GDPR erasure primitive for the
    * encrypted backup history): erase the given payload ids from EVERY
    * surviving version's manifest — including the as-of history, so
    * [[restoreAsOf]] can never resurrect them — then sweep the chunk
    * blobs no remaining manifest references. Chunks SHARED with an
    * unredacted payload survive (convergent-encryption dedup means a
    * block can belong to many payloads; only the redacted payloads'
    * EXCLUSIVE bytes leave the repository — the blob scan is the same
    * mark-and-sweep as [[pruneChunks]], so untouched payloads stay
    * byte-identical). Version numbering and commit timestamps are
    * preserved: a redacted corpus still restores as-of any time, just
    * without the erased ids.
    *
    * Crash ordering per manifest (roll-FORWARD semantics): the new
    * manifest is written COMPLETELY to `.tmp-redact-v=<v>` (commit ts
    * copied inside) BEFORE the live dir is deleted and the tmp renamed
    * in — so the crash window between delete and rename leaves a
    * complete replacement that [[recoverRedactions]] lands, never a
    * lost version. Returns (manifestsRewritten, refsDeleted,
    * bytesReclaimed). */
  def redact(ids: Seq[Long]): (Int, Long, Long) = {
    require(ids.nonEmpty, "redact needs at least one payload id")
    recoverRedactions()
    // ONE job finds every version holding a redacted id (a per-version
    // isEmpty probe would be |versions| driver-blocking jobs — a year
    // of daily backups is hundreds)
    val hitVersions = manifestsOf(versions()).fold(Set.empty[Long])(
      _.filter(col("id").isin(ids: _*)).select("__v").distinct().collect()
        .map(_.getLong(0)).toSet)
    var rewritten = 0
    versions().foreach { v =>
      val m = manifest(v)
      if (hitVersions(v)) {
        val ts = commitTimestamp(v)
        BlobGroups.landVersion(fs, manifestsRoot, "redact", v) { tmp =>
          m.filter(!col("id").isin(ids: _*))
            .write.mode("overwrite").parquet(tmp.toString)
          val out = fs.create(new Path(tmp, "_commit_ts"), true)
          try out.write(ts.toString.getBytes("UTF-8")) finally out.close()
        }
        rewritten += 1
      }
    }
    // nothing dropped, but the sweep collects every chunk the erased
    // ids exclusively referenced (plus any pre-existing orphans). A
    // redact that rewrote NO manifest (ids already absent — the
    // idempotent replay) skips the sweep: it could only find chunks a
    // previous pass already collected, and an O(repository) scan per
    // no-op replay would make redaction retries expensive at 100 TB.
    if (rewritten == 0) (0, 0L, 0L)
    else {
      val (_, refsDeleted, bytesReclaimed) = pruneChunks(keep = versions())
      (rewritten, refsDeleted, bytesReclaimed)
    }
  }

  /** Master-key rotation: decrypt every blob under THIS repository's
    * master and re-encrypt under `newMaster` into a NEW repository
    * root, returning its store. Content addresses are the PLAINTEXT's
    * SHA-256, so every ref — and therefore every manifest — is
    * identical: manifests and commit timestamps copy verbatim, only
    * blob bytes change (each GCM tag now authenticates the new key).
    * One narrow partition-local pass over the blobs (decrypt +
    * re-encrypt, no shuffle) — at 100 TB this is the full-read
    * operation key rotation fundamentally is; schedule it like a
    * scrub, not a backup.
    *
    * A fresh root makes rotation atomic by construction: manifests
    * copy LAST, so a crashed rekey leaves a target with chunk buckets
    * but zero committed versions — visibly incomplete (`versions()`
    * empty), safe to delete and re-run; the source repository is
    * never touched. */
  def rekeyTo(targetBasePath: String, newMaster: Array[Byte]): ChunkStore = {
    require(targetBasePath != basePath, "rekey writes a new repository root")
    val spark0 = spark
    import spark0.implicits._
    val (om, nm) = (master, newMaster)
    val target = new ChunkStore(spark, targetBasePath, newMaster, nBuckets)
    require(target.versions().isEmpty,
      s"target $targetBasePath already holds committed versions")
    refs().select(col("ref_hex"), col("bytes"), col("blob"), col("bucket"))
      .as[(String, Long, Array[Byte], Long)]
      .map { case (refHex, bytes, blob, bucket) =>
        val ref = refHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
        val plain = ChunkCrypto.decryptChunk(om, ref, blob)
        // encryptChunk re-derives the address from the plaintext — a
        // free per-chunk integrity re-check riding the rotation
        val (ref2, neu) = ChunkCrypto.encryptChunk(nm, plain)
        if (!java.util.Arrays.equals(ref, ref2))
          throw new IllegalStateException(
            s"rekey: blob at $refHex decrypts to different-address plaintext")
        (refHex, bytes, neu, bucket)
      }
      .toDF("ref_hex", "bytes", "blob", "bucket")
      .write.mode("errorifexists").partitionBy("bucket")
      .parquet(s"$targetBasePath/chunks")
    // manifests last = the commit point for the whole rotation
    val conf = spark.sparkContext.hadoopConfiguration
    versions().foreach { v =>
      val src = new Path(manifestDir(v))
      val dst = new Path(s"$targetBasePath/manifests/v=$v")
      if (!org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf))
        throw new java.io.IOException(s"rekey manifest copy failed: $src -> $dst")
    }
    holds().foreach(target.hold)
    target
  }

  /** Incremental repository REPLICATION — the offsite-mirror primitive
    * (the "repository copy" every serious backup tool pairs with its
    * primary): bring the repository at `targetBasePath` up to date
    * with this one, copying only what the mirror is missing. The
    * mirror shares this repository's master key and bucketing — blobs
    * copy ciphertext-verbatim, so replication never decrypts
    * (use [[rekeyTo]] when the mirror must hold a different key).
    *
    * Three delta-sized passes, chunks FIRST (the [[backup]] ordering
    * invariant, inherited: the mirror never holds a manifest whose
    * blobs are absent):
    *  1. blobs the mirror lacks — ONE anti-join on the content
    *     address; missing rows append into the mirror's buckets.
    *  2. versions the mirror lacks — manifest dirs copy verbatim
    *     (commit ts preserved) through a complete tmp copy dir
    *     + atomic rename, so a crashed copy either rolls forward
    *     ([[recoverReplications]]) or is discarded, never half-lands.
    *  3. versions BOTH hold are fingerprint-compared — (row count,
    *     bit_xor of a row hash) per version, one job per side, blobs
    *     never read — and the mirror's manifest is REPLACED on
    *     mismatch. This is how a source [[redact]] propagates: a
    *     redacted manifest can't match its pre-redaction fingerprint.
    *     When any manifest was repaired the mirror immediately sweeps
    *     its own chunks ([[pruneChunks]] over its surviving versions),
    *     because GDPR erasure is not complete until every REPLICA has
    *     dropped the erased ids' exclusive bytes too.
    *
    * Mirror-only extra state (a version pruned on the source after the
    * last sync, with its chunks) is left alone — replication is
    * one-directional and must not race the source's retention policy;
    * run the mirror's own [[pruneChunks]] with the desired keep-set to
    * converge retention.
    *
    * Returns (refsCopied, bytesCopied, versionsCopied,
    * manifestsRepaired). Idempotent: an immediate second run copies
    * and repairs nothing. */
  def replicateTo(targetBasePath: String): (Long, Long, Seq[Long], Int) = {
    require(targetBasePath != basePath, "replicate needs a distinct mirror root")
    val target = new ChunkStore(spark, targetBasePath, master, nBuckets)
    target.recoverReplications()
    // 1. blobs the mirror lacks
    val missing = refs().select(col("ref_hex"), col("bytes"), col("blob"), col("bucket"))
      .join(target.refs().select("ref_hex"), Seq("ref_hex"), "left_anti")
      .materialize() // count + write from one pass
    val a = missing.agg(count(lit(1)), coalesce(sum("bytes"), lit(0L))).head()
    if (a.getLong(0) > 0)
      missing.write.mode("append").partitionBy("bucket").parquet(target.chunksDir)
    // 2. versions the mirror lacks, 3. redaction propagation across
    // common versions (the ones just copied are verbatim by construction)
    val (newVs, stale) = BlobGroups.syncManifests(spark, fs, manifestsRoot, versions(),
      target.fs, target.manifestsRoot, target.versions()) { common =>
      val (srcFp, dstFp) = (manifestFingerprints(common), target.manifestFingerprints(common))
      common.filter(v => srcFp(v) != dstFp(v))
    }
    if (stale.nonEmpty) target.pruneChunks(keep = target.versions()): Unit
    (a.getLong(0), a.getLong(1), newVs, stale.size)
  }

  /** (row count, bit_xor of a row hash) per requested version — the
    * cheap manifest-identity check [[replicateTo]] compares across
    * repositories. ONE job for all versions (a per-version pass would
    * be |versions| driver-blocking jobs); blobs never read. */
  private def manifestFingerprints(vs: Seq[Long]): Map[Long, (Long, Long)] =
    manifestsOf(vs).fold(Map.empty[Long, (Long, Long)])(_.select(col("__v"),
        xxhash64(col("id"), col("chunk_idx"), col("ref_hex"), col("bytes")).as("__h"))
      .groupBy("__v").agg(count(lit(1)).as("__n"), expr("bit_xor(__h)").as("__fp"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap)

  /** Land (or discard) interrupted [[replicateTo]] manifest copies —
    * same roll-forward rule as [[recoverRedactions]]: a copy dir is
    * always complete, so live-dir-missing rolls forward, live-dir-present
    * discards the superseded copy (the next replicate re-derives it
    * from the fingerprint compare). */
  def recoverReplications(): Unit = BlobGroups.rollForward(fs, manifestsRoot, "repl")

  /** Land (or discard) interrupted [[redact]] manifest replacements:
    * a `.tmp-redact-v=<v>` dir is always a COMPLETE new manifest, so
    * when the live dir is missing the recovery rolls FORWARD (renames
    * it in); when the live dir exists the tmp is a superseded or
    * unapplied copy and is discarded — the next redact re-derives it.
    * A stray dir naming no version is left alone. Called by [[redact]]
    * and [[vacuum]]. */
  def recoverRedactions(): Unit = BlobGroups.rollForward(fs, manifestsRoot, "redact")
}

/** Serializable helpers for the parity path — companion-object (not
  * instance) methods so executor-side lambdas never capture a store
  * instance (whose SparkSession field is unserializable). */
object ChunkStore {
  /** Byte-wise XOR, shorter operand zero-padded — associative and
    * commutative, so a distributed reduce combines map-side. */
  private[graft] def xorPad(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val r = java.util.Arrays.copyOf(a, math.max(a.length, b.length))
    var i = 0
    while (i < b.length) { r(i) = (r(i) ^ b(i)).toByte; i += 1 }
    r
  }

  private[graft] def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString
}
