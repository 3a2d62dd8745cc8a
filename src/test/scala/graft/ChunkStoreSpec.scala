package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.ChunkStore

class ChunkStoreSpec extends SparkSpec {
  import spark.implicits._

  private val master = Array.tabulate[Byte](32)(i => (i * 7 + 3).toByte)

  // payloads long enough to CDC-chunk into several pieces; v2 edits
  // id 1, v3 drops id 2 and appends to id 3 — so refs are shared
  // across versions exactly like daily backups of a mutating corpus
  private def payloadRows(edit1: Boolean, drop2: Boolean, append3: Boolean) = {
    def body(seed: Int) = (0 until 40).map(i => s"block-$seed-$i").mkString(" ")
    Seq(
      Some(1L -> (if (edit1) "EDITED " + body(1) else body(1))),
      if (drop2) None else Some(2L -> body(2)),
      Some(3L -> (if (append3) body(3) + " APPENDED TAIL" else body(3)))
    ).flatten.toDF("id", "text")
      .select(col("id"), encode(col("text"), "UTF-8").as("payload"))
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Byte]] =
    df.select("id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap

  test("backup dedups refs across versions; every version restores byte-identical") {
    val base = Files.createTempDirectory("graft_chunkstore").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 8)
    val (v1, v2, v3) = (payloadRows(false, false, false),
      payloadRows(true, false, false), payloadRows(true, true, true))
    val (added1, _) = store.backup(v1, "id", "payload", 1L)
    val (added2, _) = store.backup(v2, "id", "payload", 2L)
    val (added3, _) = store.backup(v3, "id", "payload", 3L)
    assert(store.versions() == Seq(1L, 2L, 3L))
    // v2/v3 reuse the unchanged payloads' chunks: far fewer new refs
    // than v1's full ingest, and the repository holds each ref once
    assert(added1 > 0 && added2 < added1 && added3 < added1,
      s"added: $added1/$added2/$added3")
    assert(store.refs().count() == added1 + added2 + added3)
    assert(store.refs().select("ref_hex").distinct().count() == added1 + added2 + added3)
    // a re-backup of identical content adds zero refs
    val (added4, bytes4) = store.backup(payloadRows(true, true, true), "id", "payload", 4L)
    assert(added4 == 0L && bytes4 == 0L)
    assert(canon(store.restore(1L)) == canon(v1))
    assert(canon(store.restore(2L)) == canon(v2))
    assert(canon(store.restore(3L)) == canon(v3))
  }

  test("pruneChunks reclaims exactly the pruned version's exclusive bytes; survivors restore intact") {
    val base = Files.createTempDirectory("graft_chunkstore_gc").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 8)
    val (v1, v2, v3) = (payloadRows(false, false, false),
      payloadRows(true, false, false), payloadRows(true, true, true))
    store.backup(v1, "id", "payload", 1L)
    store.backup(v2, "id", "payload", 2L)
    store.backup(v3, "id", "payload", 3L)
    val acct = store.accounting().collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("exclusive_bytes")).toMap
    val refsBefore = store.refs().count()
    val bytesBefore = store.refs().agg(sum("bytes")).head().getLong(0)
    // clean-bucket files must survive the sweep untouched: snapshot
    // every (bucket, file, mtime) before
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bucketFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/chunks"))
      .filter(_.getPath.getName.startsWith("bucket=")).flatMap(d =>
        fs.listStatus(d.getPath).filter(_.getPath.getName.startsWith("part-"))
          .map(f => (d.getPath.getName, f.getPath.getName, f.getModificationTime)))
      .toSet
    val before = bucketFiles()

    val (pruned, nDead, reclaimed) = store.pruneChunks(keep = Seq(2L, 3L))
    assert(pruned == Seq(1L))
    assert(reclaimed == acct(1L), s"reclaimed $reclaimed vs exclusive ${acct(1L)}")
    assert(nDead > 0)
    // dead refs are physically gone, byte-for-byte accounted
    assert(store.refs().count() == refsBefore - nDead)
    assert(store.refs().agg(sum("bytes")).head().getLong(0) == bytesBefore - reclaimed)
    assert(store.versions() == Seq(2L, 3L))
    assert(canon(store.restore(2L)) == canon(v2))
    assert(canon(store.restore(3L)) == canon(v3))
    // the sweep only rewrote dirty buckets: every clean bucket's files
    // are bit-identical (same name + mtime)
    val after = bucketFiles()
    assert(before.intersect(after).nonEmpty,
      "expected at least one clean bucket to carry its files through the sweep")
    // idempotent: a second identical prune finds nothing dead
    val (p2, d2, r2) = store.pruneChunks(keep = Seq(2L, 3L))
    assert(p2.isEmpty && d2 == 0L && r2 == 0L)
  }

  test("backupDelta: O(delta) crypto, carried manifest rows, restores equal a full re-backup") {
    val base = Files.createTempDirectory("graft_chunkstore_delta").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 8)
    val v1 = payloadRows(false, false, false)
    store.backup(v1, "id", "payload", 1L)
    val refsV1 = store.refs().count()
    // delta: id 1 changes, id 2 deleted — id 3 must carry untouched
    val changed = payloadRows(true, false, false).filter($"id" === 1L)
    val (added, addedBytes) = store.backupDelta(1L, 2L, changed,
      Seq(Tuple1(2L)).toDF("id"), "id", "payload")
    // only the changed payload's NEW chunks landed (the repository
    // already held everything else)
    assert(added > 0 && addedBytes > 0)
    assert(store.refs().count() == refsV1 + added)
    val expected = payloadRows(true, true, false)
    assert(canon(store.restore(2L)) == canon(expected))
    assert(canon(store.restore(1L)) == canon(v1)) // v1 untouched
    // manifest carried id 3's rows verbatim from v1
    val m1 = store.manifest(1L).filter($"id" === 3L).collect()
      .map(r => (r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    val m2 = store.manifest(2L).filter($"id" === 3L).collect()
      .map(r => (r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(m1 == m2 && m1.nonEmpty)
  }

  test("point-in-time restore: versionAsOf selects the newest commit at-or-before ts") {
    val base = Files.createTempDirectory("graft_chunkstore_pitr").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 8)
    val v1 = payloadRows(false, false, false)
    store.backup(v1, "id", "payload", 1L, commitTs = Some(1000L))
    store.backupDelta(1L, 2L,
      payloadRows(true, false, false).filter($"id" === 1L),
      Seq(Tuple1(2L)).toDF("id"), "id", "payload", commitTs = Some(2000L))
    assert(store.commitTimestamp(1L) == 1000L && store.commitTimestamp(2L) == 2000L)
    assert(store.versionAsOf(1500L).contains(1L))
    assert(store.versionAsOf(2000L).contains(2L))
    assert(store.versionAsOf(500L).isEmpty)
    assert(canon(store.restoreAsOf(1500L)) == canon(v1))
    assert(canon(store.restoreAsOf(9999L)) == canon(payloadRows(true, true, false)))
    val e = intercept[IllegalArgumentException] { store.restoreAsOf(500L) }
    assert(e.getMessage.contains("no version committed"))
  }

  test("scrub: clean repository all-ok; tampered blob and mis-filed blob are classified") {
    val base = Files.createTempDirectory("graft_chunkstore_scrub").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    store.backup(payloadRows(false, false, false), "id", "payload", 1L)
    assert(store.scrub().groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.keySet == Set("ok"))

    // plant two bad rows straight into a bucket dir: a corrupted blob
    // (GCM tag fails) and a VALID encryption filed under the wrong
    // address (decrypts fine, SHA mismatch)
    val good = store.refs().limit(1).collect().head
    val wrongRefHex = "ab" * 32
    val wrongRef = wrongRefHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(master, "HmacSHA256"))
    val key = mac.doFinal(wrongRef)
    val cipher = javax.crypto.Cipher.getInstance("AES/GCM/NoPadding")
    cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.GCMParameterSpec(128, wrongRef, 0, 12))
    val misFiled = cipher.doFinal("not the preimage of wrongRef".getBytes("UTF-8"))
    val corrupted = good.getAs[Array[Byte]]("blob").clone()
    corrupted(0) = (corrupted(0) ^ 0x7f).toByte
    // files inside a bucket=N dir carry no bucket column (partitionBy
    // strips it; the directory supplies it on read)
    Seq(
      ("ff" * 32, 5L, corrupted),
      (wrongRefHex, 6L, misFiled)
    ).toDF("ref_hex", "bytes", "blob")
      .write.mode("append").parquet(s"$base/chunks/bucket=0")
    val statuses = store.scrub().collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(statuses("ff" * 32) == "decrypt_failed")
    assert(statuses(wrongRefHex) == "ref_mismatch")
    assert(statuses.values.count(_ == "ok") == statuses.size - 2)
  }

  test("repairFrom: tampered and missing blobs heal from the mirror; partial mirror refuses untouched") {
    val base = Files.createTempDirectory("graft_chunkstore_rep").toString
    val mir = Files.createTempDirectory("graft_chunkstore_repm").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    store.backup(payloadRows(false, false, false), "id", "payload", 1L)
    store.replicateTo(mir)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // tamper one REAL ref in bucket 0 (rewrite the bucket with its blob flipped)
    val b0 = store.refs().filter($"bucket" === 0L).collect()
    val vRef = b0.map(_.getAs[String]("ref_hex")).min
    val rewritten = b0.map { r =>
      val blob = r.getAs[Array[Byte]]("blob").clone()
      if (r.getAs[String]("ref_hex") == vRef) blob(0) = (blob(0) ^ 0x7f).toByte
      (r.getAs[String]("ref_hex"), r.getAs[Long]("bytes"), blob)
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/chunks/bucket=0"), true)
    rewritten.toSeq.toDF("ref_hex", "bytes", "blob")
      .write.mode("overwrite").parquet(s"$base/chunks/bucket=0")
    // and lose bucket 1 entirely → missing_blob rows
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/chunks/bucket=1"), true)
    val damaged = store.scrub().filter($"status" =!= "ok").count()
    assert(damaged >= 2, s"expected tampered + missing, scrub saw $damaged")
    val (healed, buckets) = store.repairFrom(mir)
    assert(healed == damaged && buckets.contains(0L) && buckets.contains(1L))
    assert(store.scrub().collect().forall(_.getAs[String]("status") == "ok"))
    // restores byte-identical to the intact mirror
    val a = store.restore(1L).select($"id", md5($"payload").as("h")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val b = new ChunkStore(spark, mir, master, nBuckets = 4).restore(1L)
      .select($"id", md5($"payload").as("h")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b)
    // a ref the mirror lacks → fail fast, repository untouched
    Seq(("ff" * 32, 5L, Array[Byte](1, 2, 3)))
      .toDF("ref_hex", "bytes", "blob")
      .write.mode("append").parquet(s"$base/chunks/bucket=2")
    val before = store.refs().count()
    intercept[IllegalArgumentException] { store.repairFrom(mir) }
    assert(store.refs().count() == before, "failed repair must not mutate")
  }

  test("rotating scrub: one cycle covers every bucket; planted corruption found within the cycle") {
    val base = Files.createTempDirectory("graft_chunkstore_rot").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 8)
    store.backup(payloadRows(false, false, false), "id", "payload", 1L)
    def canonScrub(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getString(3))).toSet
    val full = canonScrub(store.scrub())
    // a 3-run cycle partitions the repository: runs are disjoint,
    // their union is exactly the full scrub, and run identity only
    // depends on run % cycle (day 5 of a 3-cycle == run 2)
    val runs = (0L until 3L).map(r => canonScrub(store.scrub(Some((r, 3)))))
    assert(runs.reduce(_ union _) == full)
    assert(runs.combinations(2).forall { case Seq(a, b) => (a intersect b).isEmpty })
    assert(runs.forall(_.nonEmpty))
    assert(canonScrub(store.scrub(Some((5L, 3)))) == runs(2))
    // every scanned bucket belongs to its run's residue class
    runs.zipWithIndex.foreach { case (rows, r) =>
      assert(rows.forall(_._2 % 3 == r), s"run $r scanned foreign buckets")
    }
    // plant corruption + a vanished manifest ref; each is found by
    // exactly its bucket's run within one cycle
    val victim = store.refs().limit(1).collect().head
    val vBucket = victim.getLong(3)
    val bad = victim.getAs[Array[Byte]]("blob").clone()
    bad(0) = (bad(0) ^ 0x55).toByte
    Seq(("ee" * 32, 7L, bad)).toDF("ref_hex", "bytes", "blob")
      .write.mode("append").parquet(s"$base/chunks/bucket=$vBucket")
    val found = (0L until 3L).flatMap(r =>
      canonScrub(store.scrub(Some((r, 3)))).filter(_._3 != "ok").map(r -> _))
    assert(found.map(_._2._1) == Seq("ee" * 32), s"found: $found")
    assert(found.head._1 == vBucket % 3, "corruption surfaced outside its bucket's run")
  }

  test("vacuum removes aged .tmp leftovers, keeps fresh ones and committed state") {
    val base = Files.createTempDirectory("graft_chunkstore_vac").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    store.backup(payloadRows(false, false, false), "id", "payload", 1L)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldSweep = new org.apache.hadoop.fs.Path(s"$base/.tmp-sweep-dead")
    val oldManifest = new org.apache.hadoop.fs.Path(s"$base/manifests/.tmp-v=9-dead")
    val fresh = new org.apache.hadoop.fs.Path(s"$base/.tmp-sweep-live")
    Seq(oldSweep, oldManifest, fresh).foreach(fs.mkdirs(_))
    val stale = System.currentTimeMillis() - 48L * 3600 * 1000
    fs.setTimes(oldSweep, stale, stale)
    fs.setTimes(oldManifest, stale, stale)
    val deleted = store.vacuum()
    assert(deleted.map(_.stripPrefix("file:")).toSet ==
      Set(oldSweep.toString, oldManifest.toString))
    assert(fs.exists(fresh) && !fs.exists(oldSweep) && !fs.exists(oldManifest))
    assert(store.versions() == Seq(1L))
    assert(canon(store.restore(1L)) == canon(payloadRows(false, false, false)))
  }

  /** Plant the on-disk state of a [[ChunkStore.pruneChunks]] sweep
    * that crashed right after publishing its `_swap_plan` journal
    * (survivors written, dropped manifest deleted, NO bucket swapped):
    * the exact recovery entry state. Returns (sweepDir, dirtyBuckets,
    * survivorCountPerBucket). */
  private def plantCrashedSweep(base: String, store: ChunkStore,
      keep: Long, drop: Long): (org.apache.hadoop.fs.Path, Seq[Long], Map[Long, Long]) = {
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = store.manifest(keep).select("ref_hex").distinct()
    val dead = store.refs().join(live, Seq("ref_hex"), "left_anti")
    val dirty = dead.select("bucket").distinct().collect().map(_.getLong(0)).sorted.toSeq
    val survivors = store.refs()
      .filter(col("bucket").isin(dirty: _*))
      .join(live, Seq("ref_hex"), "left_semi")
      .select("ref_hex", "bytes", "blob", "bucket")
    val perBucket = survivors.groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tmp = new org.apache.hadoop.fs.Path(s"$base/.tmp-sweep-planted")
    survivors.write.mode("overwrite").partitionBy("bucket").parquet(tmp.toString)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/manifests/v=$drop"), true)
    val out = fs.create(new org.apache.hadoop.fs.Path(tmp, "_swap_plan"), true)
    try out.write(dirty.mkString("\n").getBytes("UTF-8")) finally out.close()
    (tmp, dirty, perBucket)
  }

  test("crashed sweep + backup before recovery: intact buckets (and the new backup's blobs) survive") {
    // the silent-loss hazard: recovery must NOT swap a sweep-time
    // survivor copy over a bucket dir that still exists — a backup may
    // have appended new blobs there since the sweep crashed, and the
    // stale copy would delete blobs a committed manifest references
    val base = Files.createTempDirectory("graft_chunkstore_swrec").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    val (v1, v2) = (payloadRows(false, false, false), payloadRows(true, true, true))
    store.backup(v1, "id", "payload", 1L)
    store.backup(v2, "id", "payload", 2L)
    val (tmp, dirty, _) = plantCrashedSweep(base, store, keep = 2L, drop = 1L)
    assert(dirty.size >= 2, s"fixture needs ≥2 dirty buckets, got $dirty")
    // a backup lands BETWEEN the crash and the recovery
    val v3 = Seq(10L -> (0 until 40).map(i => s"fresh-$i").mkString(" "),
        11L -> (0 until 40).map(i => s"other-$i").mkString(" "))
      .toDF("id", "text")
      .select(col("id"), encode(col("text"), "UTF-8").as("payload"))
    store.backup(v3, "id", "payload", 3L)
    store.recoverSweeps()
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(tmp))
    assert(canon(store.restore(2L)) == canon(v2))
    assert(canon(store.restore(3L)) == canon(v3))
    assert(store.scrub().select("status").distinct().collect()
      .map(_.getString(0)).toSet == Set("ok"))
    // the dead chunks the un-swapped buckets still hold are garbage,
    // not damage: the NEXT sweep collects them and everything restores
    val (_, nDead, _) = store.pruneChunks(keep = Seq(2L, 3L))
    assert(nDead > 0)
    assert(canon(store.restore(2L)) == canon(v2))
    assert(canon(store.restore(3L)) == canon(v3))
    assert(store.scrub().select("status").distinct().collect()
      .map(_.getString(0)).toSet == Set("ok"))
  }

  test("crashed sweep mid-swap: aside-only bucket recovers its survivors; swapped and untouched buckets stand") {
    val base = Files.createTempDirectory("graft_chunkstore_swmid").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    val (v1, v2) = (payloadRows(false, false, false), payloadRows(true, true, true))
    store.backup(v1, "id", "payload", 1L)
    store.backup(v2, "id", "payload", 2L)
    val (tmp, dirty, perBucket) = plantCrashedSweep(base, store, keep = 2L, drop = 1L)
    assert(dirty.size >= 2, s"fixture needs ≥2 dirty buckets, got $dirty")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def cur(b: Long) = new org.apache.hadoop.fs.Path(s"$base/chunks/bucket=$b")
    def neu(b: Long) = new org.apache.hadoop.fs.Path(s"$tmp/bucket=$b")
    def aside(b: Long) = new org.apache.hadoop.fs.Path(s"$tmp/replaced-bucket=$b")
    // bucket A crashed between aside and landing (cur ABSENT — the
    // dangerous state recovery exists for); bucket B completed its swap
    val (bA, bB) = (dirty.head, dirty(1))
    assert(fs.rename(cur(bA), aside(bA)))
    assert(fs.rename(cur(bB), aside(bB)))
    assert(fs.rename(neu(bB), cur(bB)))
    store.recoverSweeps()
    assert(!fs.exists(tmp))
    assert(canon(store.restore(2L)) == canon(v2))
    assert(store.scrub().select("status").distinct().collect()
      .map(_.getString(0)).toSet == Set("ok"))
    // both A (recovered) and B (swapped pre-crash) hold exactly their
    // survivor rows — the dead chunks went with the sweep
    val byBucket = store.refs().groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byBucket.get(bA) == perBucket.get(bA), s"bucket $bA: $byBucket vs $perBucket")
    assert(byBucket.get(bB) == perBucket.get(bB), s"bucket $bB: $byBucket vs $perBucket")
    // idempotent: a second recovery pass (no sweep dir) is a no-op
    store.recoverSweeps()
    assert(canon(store.restore(2L)) == canon(v2))
  }

  test("lost bucket dir: restore fails loud, scrub classifies every vanished ref as missing_blob") {
    val base = Files.createTempDirectory("graft_chunkstore_lost").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    val v1 = payloadRows(false, false, false)
    store.backup(v1, "id", "payload", 1L)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // delete the fullest bucket (guaranteed non-empty)
    val victim = store.refs().groupBy("bucket").count()
      .orderBy(col("count").desc).head().getLong(0)
    val vanished = store.refs().filter(col("bucket") === victim)
      .select("ref_hex").collect().map(_.getString(0)).toSet
    assert(vanished.nonEmpty)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$base/chunks/bucket=$victim"), true))
    // restore must raise, not silently reassemble truncated payloads
    val e = intercept[Exception](store.restore(1L).collect())
    def chain(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("chunk blob missing")),
      s"unexpected failure: ${chain(e).mkString(" <- ")}")
    val st = store.scrub().collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(vanished.forall(r => st(r) == "missing_blob"),
      s"missing refs not classified: ${vanished.map(st.get).toSet}")
    assert(st.filterNot { case (r, _) => vanished(r) }.values.toSet == Set("ok"))
  }

  test("legal hold: pruneChunks refuses held versions until release; holds compose with redact") {
    val base = Files.createTempDirectory("graft_chunkstore_hold").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    val (v1, v2) = (payloadRows(false, false, false), payloadRows(true, false, true))
    store.backup(v1, "id", "payload", 1L)
    store.backup(v2, "id", "payload", 2L)
    store.hold(1L)
    assert(store.holds() == Seq(1L))
    // retention says drop v1; the hold overrides the automation
    val (p1, d1, _) = store.pruneChunks(keep = Seq(2L))
    assert(p1.isEmpty && d1 == 0L)
    assert(store.versions() == Seq(1L, 2L))
    assert(canon(store.restore(1L)) == canon(v1))
    // redact still erases the person from the HELD version (erasure
    // law and litigation hold compose — the version survives, the
    // redacted payload does not)
    val (rw, rd, _) = store.redact(Seq(2L))
    assert(rw == 2 && rd > 0)
    assert(canon(store.restore(1L)) == canon(v1.filter(col("id") =!= 2L)))
    // release → the same retention pass now drops v1
    store.release(1L)
    val (p2, d2, _) = store.pruneChunks(keep = Seq(2L))
    assert(p2 == Seq(1L) && d2 > 0)
    assert(store.versions() == Seq(2L))
    assert(canon(store.restore(2L)) == canon(v2.filter(col("id") =!= 2L)))
    // idempotence + fail-fast on nonexistent
    store.release(1L)
    intercept[IllegalArgumentException](store.hold(99L))
  }

  test("rekeyTo rotates the master key: same refs and manifests, all versions restore under the new key only") {
    val base = Files.createTempDirectory("graft_chunkstore_rekey").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    val (v1, v2) = (payloadRows(false, false, false), payloadRows(true, false, true))
    store.backup(v1, "id", "payload", 1L, commitTs = Some(1000L))
    store.backup(v2, "id", "payload", 2L, commitTs = Some(2000L))
    store.hold(2L)
    val newMaster = Array.tabulate[Byte](32)(i => (i * 11 + 5).toByte)
    val rotated = store.rekeyTo(s"$base-rotated", newMaster)
    // identical logical state: refs, manifests, commit ts, holds
    def refSet(s: ChunkStore) = s.refs().select("ref_hex", "bytes", "bucket")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(refSet(rotated) == refSet(store))
    assert(rotated.versions() == Seq(1L, 2L))
    assert(rotated.commitTimestamp(1L) == 1000L && rotated.commitTimestamp(2L) == 2000L)
    assert(rotated.holds() == Seq(2L))
    assert(canon(rotated.restore(1L)) == canon(v1))
    assert(canon(rotated.restore(2L)) == canon(v2))
    assert(canon(rotated.restoreAsOf(1500L)) == canon(v1))
    // every blob re-encrypted: the rotated repo scrubs clean under the
    // NEW key, and a store opened with the OLD key fails decryption
    assert(rotated.scrub().select("status").distinct().collect()
      .map(_.getString(0)).toSet == Set("ok"))
    val wrongKey = new ChunkStore(spark, s"$base-rotated", master, nBuckets = 4)
    assert(wrongKey.scrub().select("status").distinct().collect()
      .map(_.getString(0)).toSet == Set("decrypt_failed"))
    // source untouched and still healthy under its own key
    assert(canon(store.restore(2L)) == canon(v2))
    assert(store.scrub().select("status").distinct().collect()
      .map(_.getString(0)).toSet == Set("ok"))
    // a crashed rekey (chunks landed, no manifests) is visibly
    // incomplete, and a retry into that target fails fast only once
    // versions exist — an empty-version target is reusable
    intercept[Exception](store.rekeyTo(s"$base-rotated", newMaster))
  }

  test("maybeCompactChunkBuckets folds over-threshold buckets; content, restores, scrub, accounting invariant") {
    val base = Files.createTempDirectory("graft_chunkstore_compact").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 2)
    // five backups, each appending part-files into ~every bucket
    // (nBuckets=2 concentrates them)
    def pay(seed: Int) = (1L to 6L).map(id =>
        (id, (0 until 30).map(i => s"gen$seed-doc$id-blk$i").mkString(" ")))
      .toDF("id", "text")
      .select(col("id"), encode(col("text"), "UTF-8").as("payload"))
    store.backup(pay(0), "id", "payload", 1L)
    (1 to 4).foreach { g =>
      store.backupDelta(g.toLong, g + 1L, pay(g), pay(g).limit(0).select("id"),
        "id", "payload")
    }
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesPerBucket() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/chunks"))
      .filter(_.getPath.getName.startsWith("bucket=")).map(d =>
        d.getPath.getName.stripPrefix("bucket=").toLong ->
          fs.listStatus(d.getPath).count(_.getPath.getName.startsWith("part-")))
      .toMap
    val before = filesPerBucket()
    assert(before.values.exists(_ > 4), s"fixture needs over-threshold buckets: $before")
    val contentBefore = (1L to 5L).map(v => v -> canon(store.restore(v))).toMap
    val acctBefore = store.accounting().collect().map(_.toSeq).toList
    val refsBefore = store.refs().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3))).sortBy(_._1).toList

    val compacted = store.maybeCompactChunkBuckets(maxFilesPerBucket = 4)
    assert(compacted == before.filter(_._2 > 4).keys.toSeq.sorted,
      s"compacted $compacted vs $before")
    val after = filesPerBucket()
    assert(compacted.forall(b => after(b) == 1), s"folded buckets not single-file: $after")
    assert(before.filterNot(kv => compacted.contains(kv._1)) ==
      after.filterNot(kv => compacted.contains(kv._1)), "clean buckets untouched")
    // content identity: every version restores byte-identical, the
    // ref set (incl. bucket assignment) and accounting are unchanged
    (1L to 5L).foreach(v => assert(canon(store.restore(v)) == contentBefore(v)))
    assert(store.refs().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3))).sortBy(_._1).toList == refsBefore)
    assert(store.accounting().collect().map(_.toSeq).toList == acctBefore)
    assert(store.scrub().select("status").distinct().collect()
      .map(_.getString(0)).toSet == Set("ok"))
    // threshold-gated: a second pass finds nothing to fold
    assert(store.maybeCompactChunkBuckets(maxFilesPerBucket = 4).isEmpty)
  }

  test("redact erases ids from every version and as-of read; shared chunks and other payloads survive byte-identical") {
    val base = Files.createTempDirectory("graft_chunkstore_redact").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    val (v1, v2) = (payloadRows(false, false, false), payloadRows(true, false, true))
    store.backup(v1, "id", "payload", 1L, commitTs = Some(1000L))
    store.backup(v2, "id", "payload", 2L, commitTs = Some(2000L))
    val refsBefore = store.refs().count()
    // id 2's chunks are exclusive to it (ids don't share text blocks)
    val (rewritten, refsDeleted, bytesReclaimed) = store.redact(Seq(2L))
    assert(rewritten == 2, s"both manifests reference id 2, rewrote $rewritten")
    assert(refsDeleted > 0 && bytesReclaimed > 0)
    assert(store.refs().count() == refsBefore - refsDeleted)
    // every version and every as-of read is id-2-free, others intact
    assert(canon(store.restore(1L)) == canon(v1.filter(col("id") =!= 2L)))
    assert(canon(store.restore(2L)) == canon(v2.filter(col("id") =!= 2L)))
    assert(canon(store.restoreAsOf(1500L)) == canon(v1.filter(col("id") =!= 2L)))
    assert(canon(store.restoreAsOf(9999L)) == canon(v2.filter(col("id") =!= 2L)))
    assert(store.commitTimestamp(1L) == 1000L && store.commitTimestamp(2L) == 2000L)
    assert(store.scrub().select("status").distinct().collect()
      .map(_.getString(0)).toSet == Set("ok"))
    // idempotent: redacting an absent id rewrites nothing
    val (r2, d2, b2) = store.redact(Seq(2L))
    assert(r2 == 0 && d2 == 0L && b2 == 0L)
  }

  test("redact that empties a version's manifest keeps the version restorable as an empty corpus") {
    val base = Files.createTempDirectory("graft_chunkstore_redempty").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    // v1 holds ONLY id 2; v2 holds ids 2 and 3
    val only2 = payloadRows(false, false, false).filter(col("id") === 2L)
    store.backup(only2, "id", "payload", 1L, commitTs = Some(1000L))
    store.backupDelta(1L, 2L,
      payloadRows(false, false, false).filter(col("id") === 3L),
      only2.limit(0).select("id"), "id", "payload", commitTs = Some(2000L))
    val (rewritten, refsDeleted, _) = store.redact(Seq(2L))
    assert(rewritten == 2 && refsDeleted > 0)
    // v1 is now an EMPTY corpus — still a committed, restorable version
    assert(store.versions() == Seq(1L, 2L))
    assert(store.restore(1L).count() == 0)
    assert(store.restoreAsOf(1500L).count() == 0)
    assert(canon(store.restore(2L)) ==
      canon(payloadRows(false, false, false).filter(col("id") === 3L)))
    assert(store.scrub().filter(col("status") =!= "ok").count() == 0)
  }

  test("redact crash windows: complete tmp rolls FORWARD; superseded tmp beside a live manifest is discarded") {
    val base = Files.createTempDirectory("graft_chunkstore_redcr").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    val v1 = payloadRows(false, false, false)
    store.backup(v1, "id", "payload", 1L, commitTs = Some(1000L))
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant the crash state between delete(live) and rename(tmp→live):
    // a COMPLETE redacted manifest in tmp, live dir gone
    val tmp = new org.apache.hadoop.fs.Path(s"$base/manifests/.tmp-redact-v=1")
    store.manifest(1L).filter(col("id") =!= 2L)
      .write.mode("overwrite").parquet(tmp.toString)
    val out = fs.create(new org.apache.hadoop.fs.Path(tmp, "_commit_ts"), true)
    out.write("1000".getBytes("UTF-8")); out.close()
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/manifests/v=1"), true)
    assert(store.versions().isEmpty)
    store.recoverRedactions()
    assert(store.versions() == Seq(1L))
    assert(store.commitTimestamp(1L) == 1000L)
    assert(canon(store.restore(1L)) == canon(v1.filter(col("id") =!= 2L)))
    // superseded copy: tmp present while live exists → discarded (and
    // vacuum routes through the same recovery before its TTL pass)
    store.manifest(1L).write.mode("overwrite").parquet(tmp.toString)
    store.vacuum()
    assert(!fs.exists(tmp))
    assert(canon(store.restore(1L)) == canon(v1.filter(col("id") =!= 2L)))
  }

  test("sweep collects orphan chunks from a crashed backup (chunks landed, manifest never published)") {
    val base = Files.createTempDirectory("graft_chunkstore_orphan").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 8)
    store.backup(payloadRows(false, false, false), "id", "payload", 1L)
    val refsCommitted = store.refs().count()
    // simulate the crash window: a second backup's chunks appended,
    // then its manifest dir removed before "publish"
    store.backup(payloadRows(true, true, true), "id", "payload", 2L)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/manifests/v=2"), true)
    assert(store.refs().count() > refsCommitted) // orphans present
    val (pruned, nDead, _) = store.pruneChunks(keep = Seq(1L))
    assert(pruned.isEmpty && nDead > 0)
    assert(store.refs().count() == refsCommitted)
    assert(canon(store.restore(1L)) == canon(payloadRows(false, false, false)))
  }

  test("replicateTo mirrors incrementally; a source redact propagates and the mirror sweeps") {
    val base = Files.createTempDirectory("graft_cs_repl_src").toString
    val mir = Files.createTempDirectory("graft_cs_repl_mir").toString + "/repo"
    val store = new ChunkStore(spark, base, master, nBuckets = 8)
    val (v1, v2) = (payloadRows(false, false, false), payloadRows(true, false, false))
    store.backup(v1, "id", "payload", 1L, commitTs = Some(1000L))
    store.backup(v2, "id", "payload", 2L, commitTs = Some(2000L))
    // initial sync copies every blob and version; restores byte-identical
    val (r1, b1, vs1, rep1) = store.replicateTo(mir)
    val mirror = new ChunkStore(spark, mir, master, nBuckets = 8)
    assert(vs1 == Seq(1L, 2L) && rep1 == 0)
    assert(r1 == store.refs().count() && b1 > 0L)
    assert(canon(mirror.restore(1L)) == canon(v1))
    assert(canon(mirror.restore(2L)) == canon(v2))
    assert(mirror.commitTimestamp(2L) == 2000L) // commit ts copies verbatim
    // idempotent: an immediate second run moves nothing
    val (r2, b2, vs2, rep2) = store.replicateTo(mir)
    assert(r2 == 0L && b2 == 0L && vs2.isEmpty && rep2 == 0)
    // incremental: only the new version's NEW refs travel
    val v3 = payloadRows(true, true, true)
    val (added3, _) = store.backup(v3, "id", "payload", 3L, commitTs = Some(3000L))
    val (r3, _, vs3, rep3) = store.replicateTo(mir)
    assert(vs3 == Seq(3L) && rep3 == 0 && r3 == added3)
    assert(canon(mirror.restore(3L)) == canon(v3))
    // a source redact propagates: every version's mirror manifest
    // repairs, and the mirror sweeps its own exclusive bytes — erasure
    // is not done until the REPLICA has dropped them too
    store.redact(Seq(1L))
    val (r4, _, vs4, rep4) = store.replicateTo(mir)
    assert(r4 == 0L && vs4.isEmpty && rep4 == 3) // id 1 lived in all three
    Seq(1L, 2L, 3L).foreach { v =>
      val got = canon(mirror.restore(v))
      assert(!got.contains(1L))
      assert(got == canon(store.restore(v)))
    }
    assert(mirror.refs().count() == store.refs().count()) // byte parity post-sweep
    assert(mirror.scrub().filter(col("status") =!= "ok").count() == 0L)
  }

  test("replication crash windows: complete .tmp-repl rolls forward; superseded copy is discarded") {
    val base = Files.createTempDirectory("graft_cs_replcr_src").toString
    val mir = Files.createTempDirectory("graft_cs_replcr_mir").toString + "/repo"
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    val v1 = payloadRows(false, false, false)
    store.backup(v1, "id", "payload", 1L, commitTs = Some(1000L))
    store.replicateTo(mir)
    val mirror = new ChunkStore(spark, mir, master, nBuckets = 4)
    val fs = new org.apache.hadoop.fs.Path(mir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash state between delete(live) and rename: complete tmp, live gone
    val tmp = new org.apache.hadoop.fs.Path(s"$mir/manifests/.tmp-repl-v=1")
    val live = new org.apache.hadoop.fs.Path(s"$mir/manifests/v=1")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, live, fs, tmp, false,
      spark.sparkContext.hadoopConfiguration))
    fs.delete(live, true)
    assert(mirror.versions().isEmpty)
    mirror.recoverReplications()
    assert(mirror.versions() == Seq(1L))
    assert(mirror.commitTimestamp(1L) == 1000L)
    assert(canon(mirror.restore(1L)) == canon(v1))
    // superseded copy beside a live manifest: the next replicate (or
    // vacuum) discards it and the mirror still restores intact
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, live, fs, tmp, false,
      spark.sparkContext.hadoopConfiguration))
    store.replicateTo(mir)
    assert(!fs.exists(tmp))
    assert(canon(mirror.restore(1L)) == canon(v1))
  }

  private def bucketDataFiles(base: String): Map[String, Seq[org.apache.hadoop.fs.Path]] = {
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(s"$base/chunks")
    fs.listStatus(root).filter(_.isDirectory).map { b =>
      b.getPath.getName -> fs.listStatus(b.getPath).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
          && !st.getPath.getName.startsWith("."))
        .map(_.getPath)
    }.toMap
  }

  test("parity rebuilds a singly-lost blob file byte-identically; restore and scrub recover") {
    val base = Files.createTempDirectory("graft_chunk_parity").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 8)
    val (v1, v2) = (payloadRows(false, false, false), payloadRows(true, false, false))
    store.backup(v1, "id", "payload", 1L)
    store.backup(v2, "id", "payload", 2L)
    assert(store.buildParity() > 0L)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = bucketDataFiles(base).values.flatten.head
    val victimBytes = {
      val in = fs.open(victim)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    fs.delete(victim, false)
    assert(store.scrub().filter(col("status") === "missing_blob").count() > 0)
    val (repaired, unrepairable) = store.repairFromParity()
    assert(repaired.map(p => p.substring(p.lastIndexOf('/') + 1)) ==
      Seq(victim.getName) && unrepairable.isEmpty, s"$repaired / $unrepairable")
    val back = {
      val in = fs.open(victim)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    assert(java.util.Arrays.equals(back, victimBytes),
      "reconstructed file must be byte-identical")
    assert(canon(store.restore(1L)) == canon(v1))
    assert(canon(store.restore(2L)) == canon(v2))
    assert(store.scrub().filter(col("status") =!= "ok").count() == 0)
  }

  test("restoreIds: selective restore is byte-identical and bucket-pruned; absent ids absent; lost blob loud") {
    val base = Files.createTempDirectory("graft_chunk_rids").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 8)
    val v1 = payloadRows(false, false, false)
    store.backup(v1, "id", "payload", 1L)
    val full = canon(store.restore(1L))
    val sel = store.restoreIds(1L, Seq(1L, 3L))
    assert(canon(sel) == full.view.filterKeys(Set(1L, 3L)).toMap)
    // an id the version never held is simply absent, not an error
    assert(store.restoreIds(1L, Seq(999L)).isEmpty)
    // pruning evidence: the chunk scan carries a bucket partition
    // filter (physical partition pruning, not a post-scan filter)
    val plan = store.restoreIds(1L, Seq(1L)).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"expected bucket partition pruning in:\n$plan")
    // a vanished blob inside a NEEDED bucket still fails loud
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    bucketDataFiles(base).values.flatten.foreach(f => fs.delete(f, false))
    val e = intercept[Exception](store.restoreIds(1L, Seq(1L)).collect())
    assert(e.getMessage.contains("missing") || e.getMessage.contains("blob")
      || Option(e.getCause).exists(_.getMessage.contains("missing")),
      s"got ${e.getMessage}")
  }

  test("orphanRefs previews exactly what the sweep would reclaim, without mutating") {
    val base = Files.createTempDirectory("graft_chunk_orphan").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 8)
    val (v1, v2) = (payloadRows(false, false, false), payloadRows(true, true, true))
    store.backup(v1, "id", "payload", 1L)
    store.backup(v2, "id", "payload", 2L)
    assert(store.orphanRefs().isEmpty, "healthy repository must audit clean")
    // strand v2's exclusive refs: remove its manifest out-of-band (the
    // crashed-backup shape — chunks landed, no committed reference)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/manifests/v=2"), true)
    val audit = store.orphanRefs().collect()
    assert(audit.nonEmpty)
    val auditBytes = audit.map(_.getAs[Long]("bytes")).sum
    // report-only: both survivors still restore, refs still present
    assert(canon(store.restore(1L)) == canon(v1))
    assert(store.refs().count() > store.manifest(1L).select("ref_hex").distinct().count())
    // the sweep reclaims exactly the audited bytes
    val (_, nDead, reclaimed) = store.pruneChunks(keep = Seq(1L))
    assert(nDead == audit.length.toLong && reclaimed == auditBytes,
      s"sweep ($nDead, $reclaimed) vs audit (${audit.length}, $auditBytes)")
    assert(store.orphanRefs().isEmpty)
    assert(canon(store.restore(1L)) == canon(v1))
  }

  test("verifyParity classifies covered, stale, and uncovered buckets metadata-only") {
    val base = Files.createTempDirectory("graft_chunk_parity_cov").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    store.backup(payloadRows(false, false, false), "id", "payload", 1L)
    // before any build: every data bucket is uncovered
    val pre = store.verifyParity().collect()
      .map(r => r.getAs[String]("status")).toSet
    assert(pre == Set("uncovered"))
    store.buildParity()
    val post = store.verifyParity().collect()
    assert(post.nonEmpty && post.forall(_.getAs[String]("status") == "covered"))
    assert(post.forall(r => r.getAs[Long]("n_files") == r.getAs[Long]("n_indexed")))
    // an appended backup drifts ONLY the buckets it touched to stale
    store.backup(payloadRows(true, true, true), "id", "payload", 2L)
    val drifted = store.verifyParity().collect()
      .map(r => r.getAs[String]("status")).toSet
    assert(drifted.contains("stale"))
    // rebuild restores full coverage
    store.buildParity()
    assert(store.verifyParity().collect()
      .forall(_.getAs[String]("status") == "covered"))
  }

  test("parity publish crash window: a parked aside sidecar is restored before any parity pass") {
    val base = Files.createTempDirectory("graft_chunk_parity_aside").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    store.backup(payloadRows(false, false, false), "id", "payload", 1L)
    store.buildParity()
    // simulate a crash between rename(live→aside) and rename(tmp→live)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bdir = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/chunks"))
      .map(_.getPath).filter(_.getName.startsWith("bucket=")).minBy(_.getName)
    val live = new org.apache.hadoop.fs.Path(bdir, "_parity")
    val aside = new org.apache.hadoop.fs.Path(bdir, "._parity.old-deadbeef")
    assert(fs.rename(live, aside))
    assert(!fs.exists(live))
    // any parity pass recovers it first: scrub reports no uncovered
    // rows for that bucket, and the sidecar is back under its live name
    assert(store.scrub().filter(col("status") =!= "ok").count() == 0L)
    assert(fs.exists(live) && !fs.exists(aside))
  }

  test("updateParity folds appended files incrementally — sidecar byte-equal to a full rebuild, repair intact") {
    val base = Files.createTempDirectory("graft_chunk_parity_upd").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    store.backup(payloadRows(false, false, false), "id", "payload", 1L)
    store.buildParity()
    store.backup(payloadRows(true, true, true), "id", "payload", 2L)
    val (incr, rebuilt0) = store.updateParity()
    assert(incr > 0, "appended buckets must take the incremental path")
    assert(rebuilt0 == 0, "no indexed file vanished — nothing may rebuild")
    assert(store.verifyParity().collect()
      .forall(_.getAs[String]("status") == "covered"))
    // the incrementally-maintained sidecars equal a from-scratch build
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sidecars(): Map[String, (Seq[Byte], String)] =
      bucketDataFiles(base).keys.map { b =>
        def bytes(f: String) = {
          val in = fs.open(new org.apache.hadoop.fs.Path(s"$base/chunks/$b/_parity/$f"))
          try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
        }
        b -> (bytes("xor.bin").toSeq, new String(bytes("index.tsv"), "UTF-8"))
      }.toMap
    val incremental = sidecars()
    store.buildParity()
    assert(sidecars() == incremental,
      "incremental maintenance must produce the full rebuild's sidecar")
    // and a post-update single loss still repairs byte-identically
    val victim = bucketDataFiles(base).values.flatten.head
    fs.delete(victim, false)
    val (repaired, unrepairable) = store.repairFromParity()
    assert(repaired.nonEmpty && unrepairable.isEmpty)
    assert(canon(store.restore(2L)) == canon(payloadRows(true, true, true)))
    assert(store.scrub().filter(col("status") =!= "ok").count() == 0)
    // a lost indexed file under a live sidecar is damage: maintenance
    // fails closed (rebuilding would forfeit the only repair), parity
    // then restores the file byte-identically, and maintenance resumes
    val victim2 = bucketDataFiles(base).values.flatten.head
    val victim2Bytes = {
      val in = fs.open(victim2)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    fs.delete(victim2, false)
    val (i2, r2) = store.updateParity()
    assert(r2 == 0, s"a damage-lost indexed file must not rebuild its bucket, got ($i2, $r2)")
    val (repaired2, unrepairable2) = store.repairFromParity()
    assert(repaired2 == Seq(victim2.toString) && unrepairable2.isEmpty)
    val back2 = {
      val in = fs.open(victim2)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    assert(java.util.Arrays.equals(back2, victim2Bytes))
    store.updateParity()
    assert(store.verifyParity().collect()
      .forall(_.getAs[String]("status") == "covered"))
  }

  test("parity fails closed: two losses in a bucket, an unindexed loss, and a torn sidecar all refuse") {
    val base = Files.createTempDirectory("graft_chunk_parity2").toString
    val store = new ChunkStore(spark, base, master, nBuckets = 4)
    store.backup(payloadRows(false, false, false), "id", "payload", 1L)
    store.backup(payloadRows(true, false, false), "id", "payload", 2L)
    store.buildParity()
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // (a) two losses in one bucket → that bucket reports unrepairable
    val twoFileBucket = bucketDataFiles(base).find(_._2.size >= 2)
    twoFileBucket.foreach { case (bname, files) =>
      files.take(2).foreach(f => fs.delete(f, false))
      val (repaired, unrepairable) = store.repairFromParity()
      assert(repaired.isEmpty)
      assert(unrepairable == Seq(bname.stripPrefix("bucket=").toLong))
    }
    // (b) a loss OUTSIDE the index (file appended after the build) is
    // invisible to parity — scrub's missing_blob stays the authority
    val base2 = Files.createTempDirectory("graft_chunk_parity3").toString
    val store2 = new ChunkStore(spark, base2, master, nBuckets = 4)
    store2.backup(payloadRows(false, false, false), "id", "payload", 1L)
    store2.buildParity()
    store2.backup(payloadRows(true, true, true), "id", "payload", 2L)
    val fs2 = new org.apache.hadoop.fs.Path(base2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val indexed: Set[String] = {
      val idx = bucketDataFiles(base2).keys.map { b =>
        new org.apache.hadoop.fs.Path(s"$base2/chunks/$b/_parity/index.tsv")
      }.filter(fs2.exists)
      idx.flatMap { p =>
        val in = fs2.open(p)
        val raw = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
        new String(raw, "UTF-8").split("\n").filter(_.nonEmpty).map(_.split("\t")(0))
      }.toSet
    }
    val fresh = bucketDataFiles(base2).values.flatten
      .find(p => !indexed(p.getName))
    assume(fresh.nonEmpty, "second backup must add at least one new file")
    fs2.delete(fresh.get, false)
    val (rep2, unrep2) = store2.repairFromParity()
    assert(rep2.isEmpty && unrep2.isEmpty,
      "an unindexed loss must not be guessed at")
    assert(store2.scrub().filter(col("status") === "missing_blob").count() > 0)
    // (c) torn sidecar: corrupt xor.bin, lose an indexed file → md5
    // verify refuses, nothing lands
    val base3 = Files.createTempDirectory("graft_chunk_parity4").toString
    val store3 = new ChunkStore(spark, base3, master, nBuckets = 4)
    store3.backup(payloadRows(false, false, false), "id", "payload", 1L)
    store3.buildParity()
    val fs3 = new org.apache.hadoop.fs.Path(base3)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim3 = bucketDataFiles(base3).values.flatten.head
    val bucket3 = victim3.getParent
    val out = fs3.create(new org.apache.hadoop.fs.Path(bucket3, "_parity/xor.bin"), true)
    try out.write(Array.fill[Byte](64)(0x5A)) finally out.close()
    fs3.delete(victim3, false)
    val (rep3, unrep3) = store3.repairFromParity()
    assert(rep3.isEmpty &&
      unrep3 == Seq(bucket3.getName.stripPrefix("bucket=").toLong))
    assert(!fs3.exists(victim3), "a failed verify must not land a blob")
    // (d) index WITHOUT xor.bin (partial sidecar copy) on a bucket
    // whose data is intact: repair treats it as refusal material
    // without aborting the pass, and updateParity REBUILDS it instead
    // of crashing the whole maintenance sweep
    val bucket4 = bucketDataFiles(base3).collect {
      case (b, files) if files.nonEmpty && s"bucket=${b.stripPrefix("bucket=")}" != bucket3.getName => b
    }.headOption
    assume(bucket4.nonEmpty, "need a second data bucket")
    val b4xor = new org.apache.hadoop.fs.Path(s"$base3/chunks/${bucket4.get}/_parity/xor.bin")
    fs3.delete(b4xor, false)
    val (rep4, unrep4) = store3.repairFromParity()
    assert(rep4.isEmpty, "no loss anywhere — nothing may land")
    assert(unrep4 == Seq(bucket3.getName.stripPrefix("bucket=").toLong),
      "only the still-lossy corrupted bucket reports; the torn-but-intact one is not a loss")
    val (_, rebuilt4) = store3.updateParity()
    assert(rebuilt4 >= 1, "a torn sidecar must rebuild, not wedge maintenance")
    assert(fs3.exists(b4xor), "the rebuild must restore the sidecar")
  }
}
