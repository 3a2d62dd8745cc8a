package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.operators.ManifestStore

class ManifestStoreSpec extends SparkSpec {
  import spark.implicits._

  private def newStore(statsCols: Seq[String] = Nil) = {
    val base = java.nio.file.Files.createTempDirectory("graft-manstore").toString
    (new ManifestStore(spark, base, "k", statsCols), base)
  }

  private def rows(ks: Range, tag: String) =
    ks.map(k => (k.toLong, s"$tag-$k")).toDF("k", "v")

  private def contents(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet

  private def poolFiles(base: String): Set[String] = {
    val p = new Path(s"$base/files")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.getName).toSet
  }

  test("mergeDelta carries untouched files by reference — zero copies, shared names") {
    val (store, base) = newStore()
    store.write(rows(1 to 400, "a"), 1L, numFiles = 8)
    val man1 = store.manifest(1L).select("file").as[String].collect().toSet
    assert(man1.size == 8)
    // delta touches only the low key band → most files untouched
    val delta = Seq((3L, "upd-3"), (7L, "upd-7")).toDF("k", "v")
    val (shared, rewritten) = store.mergeDelta(1L, 2L, delta)
    val man2 = store.manifest(2L).select("file").as[String].collect().toSet
    assert(shared >= 6 && rewritten >= 1)
    // shared entries are the SAME pool files (reference, not copy) …
    assert((man1 intersect man2).size == shared)
    // … and the pool holds each exactly once: |pool| = v1 ∪ v2 names
    assert(poolFiles(base) == (man1 union man2))
    // read parity: upsert applied, everything else intact
    val expect = (1 to 400).map(k =>
      (k.toLong, if (k == 3 || k == 7) s"upd-$k" else s"a-$k")).toSet
    assert(contents(store.read(2L)) == expect)
  }

  test("chained merges with deletes and re-inserts stay exact") {
    val (store, _) = newStore()
    store.write(rows(1 to 100, "a"), 1L, numFiles = 4)
    store.mergeDelta(1L, 2L, Seq((10L, "b-10")).toDF("k", "v"),
      deleteKeys = Some(Seq(20L, 30L).toDF("k")))
    // key 20 deleted in v2 re-enters in v3 via the upsert
    store.mergeDelta(2L, 3L, Seq((20L, "c-20"), (101L, "c-101")).toDF("k", "v"))
    val expect = (1 to 100).filterNot(_ == 30).map { k =>
      (k.toLong, k match { case 10 => "b-10"; case 20 => "c-20"; case _ => s"a-$k" })
    }.toSet + ((101L, "c-101"))
    assert(contents(store.read(3L)) == expect)
    // v1 still reads its original state (immutable history)
    assert(contents(store.read(1L)) == (1 to 100).map(k => (k.toLong, s"a-$k")).toSet)
  }

  test("prune + vacuum reclaim only pool files no surviving manifest references") {
    val (store, base) = newStore()
    store.write(rows(1 to 200, "a"), 1L, numFiles = 4)
    store.mergeDelta(1L, 2L, Seq((5L, "u-5")).toDF("k", "v"))
    val man1 = store.manifest(1L).select("file").as[String].collect().toSet
    val man2 = store.manifest(2L).select("file").as[String].collect().toSet
    val v2Contents = contents(store.read(2L))
    val reclaimed = store.prune(keep = Seq(2L))
    assert(reclaimed > 0L)
    assert(store.versions() == Seq(2L))
    // exactly v1's exclusive files are gone; every v2 file survives
    assert(poolFiles(base) == man2)
    assert((man1 diff man2).forall(n => !poolFiles(base).contains(n)))
    assert(contents(store.read(2L)) == v2Contents)
  }

  test("orphans audits unreferenced pool files without deleting; vacuum then clears them") {
    val (store, base) = newStore()
    store.write(rows(1 to 100, "a"), 1L, numFiles = 4)
    assert(store.orphans().isEmpty, "healthy store must audit clean")
    // a crashed writer's leftover + a superseded version's exclusive file
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/files/leak-1.bin"), Array[Byte](1, 2, 3))
    store.mergeDelta(1L, 2L, Seq((5L, "u-5")).toDF("k", "v"))
    val man2 = store.manifest(2L).select("file").as[String].collect().toSet
    store.versions().filterNot(_ == 2L)
      .foreach(v => store.manifest(v)) // touch, then drop v1's manifest only
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$base/_manifests/v=1"), true)
    val audit = store.orphans().collect().map(r =>
      (r.getAs[String]("file"), r.getAs[Long]("bytes"))).toMap
    assert(audit.contains("leak-1.bin") && audit("leak-1.bin") == 3L)
    assert(audit.keySet.forall(n => !man2.contains(n)),
      "no referenced file may appear in the audit")
    // report-only: nothing was deleted by the audit itself
    assert(audit.keySet.subsetOf(poolFiles(base)))
    val v2Contents = contents(store.read(2L))
    store.vacuum()
    assert(store.orphans().isEmpty)
    assert(contents(store.read(2L)) == v2Contents)
  }

  test("deleteWhere rewrites only matching files; null-pred rows are kept") {
    val (store, _) = newStore()
    val df = Seq((1L, "keep", Some(10L)), (2L, "kill", Some(99L)),
      (3L, "keep", None), (4L, "keep", Some(20L))).toDF("k", "v", "score")
    store.write(df, 1L, numFiles = 2)
    val (_, rewritten, deleted) =
      store.deleteWhere(1L, 2L, col("score") > 50L)
    assert(deleted == 1L && rewritten >= 1)
    val out = store.read(2L).select("k").as[Long].collect().toSet
    // row 2 erased; row 3 (NULL predicate) must survive
    assert(out == Set(1L, 3L, 4L))
  }

  test("readKeyRange opens only manifest-pruned files") {
    val (store, _) = newStore()
    store.write(rows(1 to 1000, "a"), 1L, numFiles = 10)
    val hit = store.readKeyRange(1L, 100L, 120L)
    assert(hit.select("k").as[Long].collect().toSet == (100L to 120L).toSet)
    // the scan's file list must be a strict subset of the version
    val scanned = hit.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
    }.sum
    assert(scanned > 0 && scanned < 10, s"expected pruned scan, read $scanned files")
  }

  test("versionAsOf resolves commit boundaries; crash leftovers stay invisible and vacuum") {
    val (store, base) = newStore()
    store.write(rows(1 to 10, "a"), 1L, commitTs = Some(1000L))
    store.mergeDelta(1L, 2L, Seq((1L, "b-1")).toDF("k", "v"), commitTs = Some(2000L))
    assert(store.versionAsOf(1500L).contains(1L))
    assert(store.versionAsOf(2000L).contains(2L))
    assert(store.versionAsOf(999L).isEmpty)
    // planted crash leftover: a half-written manifest tmp dir
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"$base/.tmp-man-crashed")
    fs.mkdirs(tmp)
    assert(store.versions() == Seq(1L, 2L)) // not visible as a version
    store.vacuum(tmpTtlMs = -1L)            // aged → swept
    assert(!fs.exists(tmp))
    assert(contents(store.read(2L)).contains((1L, "b-1"))) // store intact
  }

  test("compact folds small files, carries the rest, content-invariant") {
    val (store, _) = newStore()
    store.write(rows(1 to 100, "a"), 1L, numFiles = 2)
    // three merges fragment the store: 2 + 3×2 = 8 files
    (2L to 4L).foreach { v =>
      store.mergeDelta(v - 1, v, Seq((v * 10, s"u-${v * 10}")).toDF("k", "v"), numNewFiles = 2)
    }
    val before = store.manifest(4L).count()
    val expect = contents(store.read(4L))
    val (sharedN, rewritten) = store.compact(4L, 5L, minBytes = 8L << 20, targetFiles = 2)
    assert(rewritten == 2, s"expected 2 consolidated files, got $rewritten")
    assert(store.manifest(5L).count() < before)
    assert(contents(store.read(5L)) == expect)
    assert(sharedN + rewritten.toLong == store.manifest(5L).count())
    // second pass: everything tiny folds again into the same shape —
    // threshold-gating is by SIZE, so a truly compacted store with
    // big files would no-op (exercised here only via shape identity)
    val (_, r2) = store.compact(5L, 6L, minBytes = 8L << 20, targetFiles = 2)
    assert(contents(store.read(6L)) == expect && r2 <= 2)
  }

  test("diff scans only exclusive files and classifies insert/update/delete exactly") {
    val (store, _) = newStore()
    store.write(rows(1 to 400, "a"), 1L, numFiles = 8)
    store.mergeDelta(1L, 2L, Seq((3L, "upd-3"), (401L, "new-401")).toDF("k", "v"),
      deleteKeys = Some(Seq(7L).toDF("k")))
    val d = store.diff(1L, 2L).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"))).toSet
    // survivors rewritten alongside key 3/7 carry identical content →
    // the fingerprint compare drops them; only true changes emit
    assert(d == Set((3L, "update"), (401L, "insert"), (7L, "delete")))
    // pruning: the diff plan reads only files exclusive to either side
    val man1 = store.manifest(1L).select("file").as[String].collect().toSet
    val man2 = store.manifest(2L).select("file").as[String].collect().toSet
    val exclusive = (man1 union man2) diff (man1 intersect man2)
    val scannedFiles = store.diff(1L, 2L).queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.map(_.split('/').last).toSet
    }.foldLeft(Set.empty[String])(_ union _)
    assert(scannedFiles.subsetOf(exclusive),
      s"diff scanned shared files: ${scannedFiles diff exclusive}")
  }

  test("validate: clean version all-ok; planted missing file and row loss are classified") {
    val (store, base) = newStore()
    store.write(rows(1 to 200, "a"), 1L, numFiles = 4)
    assert(store.validate(1L).collect().forall(_.getAs[String]("status") == "ok"))
    // plant: delete one pool file, truncate another by rewriting it
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = store.manifest(1L).select("file").as[String].collect().sorted
    fs.delete(new Path(s"$base/files/${files.head}"), false)
    val victim = new Path(s"$base/files/${files.last}")
    val partial = spark.read.parquet(victim.toString).limit(10)
    val tmp = new Path(s"$base/.victim-tmp")
    partial.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val newPart = fs.listStatus(tmp).map(_.getPath).filter(_.getName.startsWith("part-")).head
    fs.delete(victim, false)
    fs.rename(newPart, victim)
    val st = store.validate(1L).collect()
      .map(r => r.getAs[String]("file") -> r.getAs[String]("status")).toMap
    assert(st(files.head) == "missing")
    assert(st(files.last) == "count_mismatch")
    assert(st.values.count(_ == "ok") == 2)
  }

  test("branch: zero-copy fork diverges from the source; vacuum keeps both sides' files") {
    val (store, base) = newStore()
    store.write(rows(1 to 200, "a"), 1L, numFiles = 4)
    val before = poolFiles(base)
    store.branch(1L, 10L)
    assert(poolFiles(base) == before, "branching must move zero pool bytes")
    assert(contents(store.read(10L)) == contents(store.read(1L)))
    // diverge: merge different deltas onto each side
    store.mergeDelta(1L, 2L, rows(1 to 10, "main"), numNewFiles = 1)
    store.mergeDelta(10L, 11L, rows(191 to 200, "dev"), numNewFiles = 1)
    assert(contents(store.read(2L)).contains((1L, "main-1")))
    assert(contents(store.read(11L)).contains((200L, "dev-200")))
    assert(contents(store.read(11L)).contains((1L, "a-1")), "branch must not see main's merge")
    assert(contents(store.read(2L)).contains((200L, "a-200")), "main must not see dev's merge")
    // prune the original lineage; the branch keeps every file it references
    store.prune(keep = Seq(10L, 11L))
    store.vacuum()
    assert(contents(store.read(11L)).contains((1L, "a-1")))
    assert(store.validate(11L).collect().forall(_.getAs[String]("status") == "ok"))
    // history reports all surviving versions, metadata-only
    val h = store.history().collect().map(r =>
      (r.getAs[Long]("version"), r.getAs[Long]("n_rows"))).toMap
    assert(h.keySet == Set(10L, 11L) && h(10L) == 200L && h(11L) == 200L)
  }

  test("validateDelta audits only the merge's exclusive files; catches damage there, misses none elsewhere") {
    val (store, base) = newStore()
    store.write(rows(1 to 400, "a"), 1L, numFiles = 8)
    store.mergeDelta(1L, 2L, rows(1 to 25, "b"), numNewFiles = 2)
    val prev = store.manifest(1L).select("file").as[String].collect().toSet
    val cur = store.manifest(2L).select("file").as[String].collect().toSet
    val exclusive = cur -- prev
    // audits exactly the exclusive set, all clean
    val clean = store.validateDelta(1L, 2L).collect()
      .map(r => r.getAs[String]("file") -> r.getAs[String]("status")).toMap
    assert(clean.keySet == exclusive && clean.values.forall(_ == "ok"))
    // damage one exclusive file → classified; carried files are out of
    // scope BY CONTRACT (immutable pool files were audited at v1)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$base/files/${exclusive.head}"), false)
    val st = store.validateDelta(1L, 2L).collect()
      .map(r => r.getAs[String]("file") -> r.getAs[String]("status")).toMap
    assert(st(exclusive.head) == "missing")
    assert(st.values.count(_ == "ok") == exclusive.size - 1)
  }

  test("mergeDelta column add evolves the schema; shared files read null, not rewritten") {
    val (store, _) = newStore()
    store.write(rows(1 to 100, "a"), 1L, numFiles = 4)
    val man1 = store.manifest(1L).select("file").as[String].collect().toSet
    // the delta introduces column w — only its touched file rewrites
    val delta = Seq((3L, "u-3", 99L)).toDF("k", "v", "w")
    store.mergeDelta(1L, 2L, delta)
    val man2 = store.manifest(2L).select("file").as[String].collect().toSet
    assert((man1 intersect man2).size >= 3, "untouched files must still be shared")
    val out = store.read(2L).collect()
      .map(r => r.getAs[Long]("k") -> Option(r.getAs[java.lang.Long]("w"))).toMap
    assert(out(3L).contains(99L))
    assert(out(5L).isEmpty, "pre-evolution rows read null for the added column")
    assert(out.size == 100)
    // a type change on an existing column must fail fast
    val bad = Seq((4L, 123L)).toDF("k", "v") // v: string -> bigint
    val e = intercept[IllegalArgumentException] { store.mergeDelta(2L, 3L, bad) }
    assert(e.getMessage.contains("type changed"))
    // the evolved schema persists through a further merge and compact
    store.mergeDelta(2L, 3L, Seq((7L, "u-7", 77L)).toDF("k", "v", "w"))
    store.compact(3L, 4L)
    val v4 = store.read(4L).collect()
      .map(r => r.getAs[Long]("k") -> Option(r.getAs[java.lang.Long]("w"))).toMap
    assert(v4(3L).contains(99L) && v4(7L).contains(77L) && v4(5L).isEmpty)
  }

  test("writeZOrdered + readWhereAll: both dimensions prune at the manifest; corner read is exact") {
    val base = java.nio.file.Files.createTempDirectory("graft-manstore-z").toString
    val store = new ManifestStore(spark, base, "k", statsCols = Seq("x"))
    // a 40×40 grid: the key walks one axis, x the other — z-ordering
    // makes files cover square-ish tiles, so BOTH range predicates
    // prune at the manifest
    val rows40 = (for (kk <- 1 to 40; xx <- 1 to 40)
      yield ((kk * 41L + xx), kk.toLong, xx.toLong)).toDF("k", "a", "x")
    val df = rows40.select(col("k"), col("x"), (col("a") * 10).as("v"))
    store.writeZOrdered(df, 1L, numFiles = 16, zCols = Seq("k", "x"))
    val man = store.manifest(1L)
    assert(man.count() == 16)
    // corner predicate: low quarter of each dimension
    val kPred = ("k", 1L * 41 + 1, 10L * 41 + 40) // keys of a in 1..10
    val xPred = ("x", 1L, 10L)
    def survivors(preds: Seq[(String, Any, Any)]): Long =
      preds.foldLeft(man) { case (m, (c, lo, hi)) =>
        val (loC, hiC) = if (c == "k") (col("min_key"), col("max_key"))
          else (col(s"min_$c"), col(s"max_$c"))
        m.filter(hiC >= lit(lo) && loC <= lit(hi))
      }.count()
    val both = survivors(Seq(kPred, xPred))
    assert(both < survivors(Seq(kPred)) || both < survivors(Seq(xPred)),
      "the second dimension must prune beyond the first")
    assert(both < 16, "the corner must not read every file")
    val got = store.readWhereAll(1L, Seq(kPred, xPred))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("x"))).toSet
    val want = df.filter(col("k") >= kPred._2 && col("k") <= kPred._3
      && col("x") >= 1L && col("x") <= 10L)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("x"))).toSet
    assert(got == want)
    // a predicate column without stats prunes nothing: the full-scan filter
    assert(store.readWhereAll(1L, Seq(("v", 10L, 20L))).collect().map(_.toSeq).toSet ==
      df.filter(col("v") >= 10L && col("v") <= 20L).collect().map(_.toSeq).toSet)
  }

  test("readWhere prunes by secondary-column manifest stats") {
    val base = java.nio.file.Files.createTempDirectory("graft-manstore").toString
    val store = new ManifestStore(spark, base, "k", statsCols = Seq("ts"))
    // ts correlates with k, so key-sorted files carry tight ts envelopes
    val df = (1L to 1000L).map(k => (k, s"a-$k", 10000L + k)).toDF("k", "v", "ts")
    store.write(df, 1L, numFiles = 10)
    val hit = store.readWhere(1L, "ts", 10100L, 10120L)
    assert(hit.select("k").as[Long].collect().toSet == (100L to 120L).toSet)
    val scanned = hit.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
    }.sum
    assert(scanned > 0 && scanned < 10, s"expected stats-pruned scan, read $scanned files")
  }

  test("storageReport: shared vs exclusive bytes track the reference structure") {
    val (store, _) = newStore()
    store.write(rows(1 to 400, "a"), 1L, numFiles = 8)
    store.mergeDelta(1L, 2L, Seq((3L, "upd-3")).toDF("k", "v"), numNewFiles = 2)
    val rep = store.storageReport().collect()
      .map(r => r.getAs[Long]("version") -> r).toMap
    val v1 = rep(1L); val v2 = rep(2L)
    assert(v1.getAs[Long]("n_files") == 8L)
    // v1's rewritten-away file is exclusive; its 7 survivors are shared
    assert(v1.getAs[Long]("exclusive_bytes") > 0L)
    assert(v1.getAs[Long]("shared_bytes") > 0L)
    assert(v2.getAs[Long]("shared_bytes") == v1.getAs[Long]("shared_bytes"))
    // v2's fresh merge files are its exclusive share
    assert(v2.getAs[Long]("exclusive_bytes") > 0L)
    assert(v1.getAs[Long]("logical_bytes") ==
      v1.getAs[Long]("shared_bytes") + v1.getAs[Long]("exclusive_bytes"))
    // prune(keep v2) must reclaim exactly v1's exclusive bytes
    val reclaimed = store.prune(keep = Seq(2L))
    assert(reclaimed == v1.getAs[Long]("exclusive_bytes"))
  }

  test("adoptChain dedupes the CoW byte-copies and continues linked on top") {
    import graft.operators.SnapshotStore
    val srcBase = java.nio.file.Files.createTempDirectory("graft-adopt-src").toString
    val src = new SnapshotStore(spark, srcBase, "k")
    src.writeRangePartitioned(rows(1 to 400, "a"), 1L, 8)
    // CoW merge: untouched files byte-copy into v2 — the waste
    // adoption must collapse
    src.mergeDelta(1L, 2L, Seq((3L, "upd-3")).toDF("k", "v"))
    val srcParts = Seq(1L, 2L).map { v =>
      val p = new Path(s"$srcBase/v=$v")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).count(_.getPath.getName.startsWith("part-"))
    }.sum

    val (store, base) = newStore()
    val report = store.adoptChain(srcBase, Seq(1L, 2L),
      commitTs = v => Some(v * 1000L))
    // identical untouched files pooled ONCE: v2 references, not copies
    assert(report(1L)._1 == 8 && report(1L)._2 == 0)
    assert(report(2L)._2 >= 6, s"expected shared references, got ${report(2L)}")
    assert(poolFiles(base).size < srcParts)
    // reads equal the source, commit ts carried
    assert(contents(store.read(1L)) == src.read(1L).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet)
    assert(contents(store.read(2L)) == src.read(2L).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet)
    assert(store.versionAsOf(1500L).contains(1L))
    // the chain continues LINKED on top of the adopted versions
    store.mergeDelta(2L, 3L, Seq((7L, "upd-7")).toDF("k", "v"))
    assert(contents(store.read(3L)).contains((7L, "upd-7")))
    assert(contents(store.read(3L)).contains((3L, "upd-3")))
  }

  test("readForKeys: envelope-pruned point reads return exactly the requested keys") {
    val (store, _) = newStore()
    store.write(rows(1 to 1000, "a"), 1L, numFiles = 10)
    val keys = Seq(42L, 43L, 777L).toDF("k")
    val hit = store.readForKeys(1L, keys)
    assert(hit.select("k").as[Long].collect().toSet == Set(42L, 43L, 777L))
    // sparkPlan, not executedPlan: under AQE the join's file scan sits
    // inside an unexecuted query stage and collectLeaves sees none
    val scanned = hit.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
    }.sum
    assert(scanned > 0 && scanned <= 2, s"expected ≤2 pruned files, read $scanned")
    // absent keys: empty result, not an error
    assert(store.readForKeys(1L, Seq(99999L).toDF("k")).count() == 0L)
  }

  test("stats answers from the manifest without opening data files") {
    val (store, _) = newStore()
    store.write(rows(1 to 50, "a"), 1L, numFiles = 2)
    val st = store.stats(1L).collect().head
    assert(st.getAs[Long]("n_files") == 2L)
    assert(st.getAs[Long]("n_rows") == 50L)
    assert(st.getAs[Long]("min_key") == 1L && st.getAs[Long]("max_key") == 50L)
  }

  // ---- pool durability ladder -------------------------------------

  private def fsOf(base: String) = {
    val p = new Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
  }

  test("pool parity: planted single-file loss repairs; every referencing version restores byte-identical") {
    val (store, base) = newStore()
    store.write(rows(1 to 300, "a"), 1L, numFiles = 6)
    store.mergeDelta(1L, 2L, Seq((5L, "b-5")).toDF("k", "v"))
    assert(store.buildParity() > 0L)
    val v1 = contents(store.read(1L)); val v2 = contents(store.read(2L))
    // lose a file SHARED by both versions (max blast radius)
    val shared = (store.manifest(1L).select("file").as[String].collect().toSet
      intersect store.manifest(2L).select("file").as[String].collect().toSet)
    val victim = shared.toSeq.sorted.head
    val fs = fsOf(base)
    fs.delete(new Path(s"$base/files/$victim"), false)
    assert(store.scrubPool().filter(col("status") === "missing_file").count() == 1L)
    val (repaired, unrepairable) = store.repairFromParity()
    assert(repaired.size == 1 && unrepairable.isEmpty)
    assert(contents(store.read(1L)) == v1)
    assert(contents(store.read(2L)) == v2)
    assert(store.scrubPool().filter(col("status") =!= "ok").count() == 0L)
  }

  test("updateParity: append-only merges fold in incrementally; vacuumed groups rebuild; emptied groups retire") {
    val (store, base) = newStore()
    store.write(rows(1 to 200, "a"), 1L, numFiles = 4)
    store.buildParity()
    store.mergeDelta(1L, 2L, Seq((3L, "b-3")).toDF("k", "v"))
    // append-only steady state: groups that already had a sidecar fold
    // the new files in incrementally; new files landing in a formerly
    // EMPTY group get a fresh build (counted with rebuilds) — what can
    // never happen here is a rescan forced by vanished indexed files
    val (inc1, reb1, skip1) = store.updateParity()
    assert(inc1 + reb1 > 0L, s"expected parity maintenance, got ($inc1, $reb1)")
    assert(skip1.isEmpty)
    // post-update, everything referenced is covered and clean
    assert(store.scrubPool().filter(col("status") =!= "ok").count() == 0L)
    // prune v1 + vacuum deletes its exclusive files → their groups rebuild or retire
    store.prune(keep = Seq(2L))
    val (_, reb2, skip2) = store.updateParity()
    assert(reb2 > 0L && skip2.isEmpty)
    assert(store.scrubPool().filter(col("status") =!= "ok").count() == 0L)
    // single-loss repair still works on the rebuilt sidecars
    val survivor = store.manifest(2L).select("file").as[String].collect().sorted.head
    fsOf(base).delete(new Path(s"$base/files/$survivor"), false)
    val (repaired, bad) = store.repairFromParity()
    assert(repaired.size == 1 && bad.isEmpty)
  }

  private def parityGroups(base: String): Seq[String] = {
    val p = new Path(s"$base/_pool_parity")
    val fs = fsOf(base)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith("g="))
      .map(_.drop(2)).toIndexedSeq.sorted
  }

  test("parity group width scales with pool size; rotation still covers every group; repair intact") {
    val base = java.nio.file.Files.createTempDirectory("graft-manstore").toString
    // tiny filesPerGroup target so a 40-file pool already earns a
    // 2-char scheme (256 possible groups) — >16 groups, the scale knob
    val store = new ManifestStore(spark, base, "k", parityFilesPerGroup = 2)
    store.write(rows(1 to 400, "a"), 1L, numFiles = 40)
    assert(poolFiles(base).size == 40)
    store.buildParity()
    val groups = parityGroups(base)
    assert(groups.size > 16, s"expected >16 groups, got ${groups.size}")
    assert(groups.forall(_.length == 2), groups)
    assert(store.scrubPool().filter(col("status") =!= "ok").count() == 0L)
    // a rotation cycle still unions to the full scrub at >16 groups
    val full = store.scrubPool().collect().map(_.toSeq).toSet
    val cycled = (0 until 7).flatMap(r =>
      store.scrubPool(rotation = Some((r.toLong, 7))).collect().map(_.toSeq)).toSet
    assert(cycled == full)
    // planted single loss repairs under the wider scheme
    val v1 = contents(store.read(1L))
    val victim = store.manifest(1L).select("file").as[String].collect().sorted.head
    fsOf(base).delete(new Path(s"$base/files/$victim"), false)
    val (repaired, bad) = store.repairFromParity()
    assert(repaired.size == 1 && bad.isEmpty)
    assert(contents(store.read(1L)) == v1)
  }

  test("updateParity migrates to a wider scheme when the pool outgrows it") {
    val base = java.nio.file.Files.createTempDirectory("graft-manstore").toString
    val store = new ManifestStore(spark, base, "k", parityFilesPerGroup = 2)
    store.write(rows(1 to 80, "a"), 1L, numFiles = 8)
    store.buildParity()
    assert(parityGroups(base).forall(_.length == 1))
    // an independent version lands 30 more pool files: 38 > 16·2 → the
    // pool has outgrown width 1; maintenance regroups wholesale
    store.write(rows(1001 to 1600, "b"), 2L, numFiles = 30)
    val (_, rebuilt, skipped) = store.updateParity()
    assert(rebuilt > 0L && skipped.isEmpty)
    val groups = parityGroups(base)
    assert(groups.nonEmpty && groups.forall(_.length == 2),
      s"expected all width-2 groups after migration, got $groups")
    assert(store.scrubPool().filter(col("status") =!= "ok").count() == 0L)
  }

  test("updateParity fails closed on a damage-lost referenced file — parity survives for repair") {
    val (store, base) = newStore()
    store.write(rows(1 to 200, "a"), 1L, numFiles = 4)
    store.buildParity()
    val v1 = contents(store.read(1L))
    val victim = store.manifest(1L).select("file").as[String].collect().sorted.head
    fsOf(base).delete(new Path(s"$base/files/$victim"), false)
    // routine maintenance must NOT rebuild the victim's group (that
    // would overwrite the only parity able to reconstruct it)
    val (_, _, skipped) = store.updateParity()
    assert(skipped.nonEmpty, "expected the damaged group to be skipped")
    val (repaired, bad) = store.repairFromParity()
    assert(repaired.size == 1 && bad.isEmpty)
    assert(contents(store.read(1L)) == v1)
    // healed: maintenance proceeds clean
    val (_, _, skippedAfter) = store.updateParity()
    assert(skippedAfter.isEmpty)
    assert(store.scrubPool().filter(col("status") =!= "ok").count() == 0L)
  }

  test("parity publish crash window: a parked aside sidecar is restored before any parity pass") {
    val (store, base) = newStore()
    store.write(rows(1 to 200, "a"), 1L, numFiles = 4)
    store.buildParity()
    // simulate a crash between rename(live→aside) and rename(tmp→live):
    // the live group dir is gone, the previous complete sidecar parked
    val fs = fsOf(base)
    val g = parityGroups(base).head
    val live = new Path(s"$base/_pool_parity/g=$g")
    val aside = new Path(s"$base/.tmp-parityold-g=$g-deadbeef")
    assert(fs.rename(live, aside))
    assert(!fs.exists(live))
    // any parity pass recovers it first — scrub sees full coverage
    assert(store.scrubPool().filter(col("status") =!= "ok").count() == 0L)
    assert(fs.exists(live) && !fs.exists(aside))
    // and a loss in that group still repairs from the recovered sidecar
    val victim = store.manifest(1L).select("file").as[String].collect()
      .filter(_.startsWith(g)).sorted.head
    fs.delete(new Path(s"$base/files/$victim"), false)
    val (repaired, bad) = store.repairFromParity()
    assert(repaired.size == 1 && bad.isEmpty)
  }

  test("scrubPool: bit-rot surfaces, uncovered appends are advisory, rotation cycle covers every group") {
    val (store, base) = newStore()
    store.write(rows(1 to 120, "a"), 1L, numFiles = 3)
    store.buildParity()
    // flip one byte in one pool file
    val victim = store.manifest(1L).select("file").as[String].collect().sorted.head
    val fs = fsOf(base)
    val p = new Path(s"$base/files/$victim")
    val raw = {
      val in = fs.open(p)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    raw(raw.length / 2) = (raw(raw.length / 2) ^ 0x40).toByte
    val out = fs.create(p, true); try out.write(raw) finally out.close()
    val flagged = store.scrubPool().filter(col("status") === "bit_rot")
      .select("file").as[String].collect().toSeq
    assert(flagged == Seq(victim))
    // restore health via parity (delete the rotted file → single loss)
    fs.delete(p, false)
    assert(store.repairFromParity()._1.size == 1)
    // appended-after-build files read uncovered until updateParity
    store.mergeDelta(1L, 2L, Seq((7L, "b-7")).toDF("k", "v"))
    assert(store.scrubPool().filter(col("status") === "uncovered").count() > 0L)
    store.updateParity()
    assert(store.scrubPool().filter(col("status") =!= "ok").count() == 0L)
    // a full rotation cycle unions to the unsampled scrub
    val full = store.scrubPool().collect().map(_.toSeq).toSet
    val cycled = (0 until 5).flatMap(r =>
      store.scrubPool(rotation = Some((r.toLong, 5))).collect().map(_.toSeq)).toSet
    assert(cycled == full)
  }

  test("replicateTo: idempotent mirror sync; interrupted manifest copy rolls forward; mirror manifest damage re-copies") {
    val (store, _) = newStore()
    val mirrorBase = java.nio.file.Files.createTempDirectory("graft-manmirror").toString
    store.write(rows(1 to 150, "a"), 1L, numFiles = 3)
    store.mergeDelta(1L, 2L, Seq((9L, "b-9")).toDF("k", "v"))
    val (copied1, bytes1, vs1, rep1) = store.replicateTo(mirrorBase)
    assert(copied1 > 0L && bytes1 > 0L && vs1 == Seq(1L, 2L) && rep1 == 0)
    val mirror = new ManifestStore(spark, mirrorBase, "k")
    assert(contents(mirror.read(2L)) == contents(store.read(2L)))
    // immediate re-run: nothing moves
    assert(store.replicateTo(mirrorBase) == ((0L, 0L, Seq.empty[Long], 0)))
    // crash window: a complete .tmp-repl-v= dir with the live dir gone
    val mfs = fsOf(mirrorBase)
    val live = new Path(s"$mirrorBase/_manifests/v=2")
    val tmp = new Path(s"$mirrorBase/_manifests/.tmp-repl-v=2")
    assert(mfs.rename(live, tmp))
    mirror.recoverReplications()
    assert(mfs.exists(live) && !mfs.exists(tmp))
    assert(contents(mirror.read(2L)) == contents(store.read(2L)))
    // mirror-side manifest damage: fingerprints differ → re-copied
    mfs.delete(live, true)
    mirror.manifest(1L).limit(1).write.mode("overwrite").parquet(live.toString)
    val (_, _, vs2, rep2) = store.replicateTo(mirrorBase)
    assert(vs2 == Seq.empty[Long] && rep2 == 1)
    assert(contents(mirror.read(2L)) == contents(store.read(2L)))
  }

  test("repairFrom mirror: multi-loss beyond parity heals; a rotted mirror copy is refused") {
    val (store, base) = newStore()
    val mirrorBase = java.nio.file.Files.createTempDirectory("graft-manmirror2").toString
    store.write(rows(1 to 200, "a"), 1L, numFiles = 4)
    store.buildParity()
    store.replicateTo(mirrorBase)
    val v1 = contents(store.read(1L))
    // lose TWO files of one parity group → parity alone refuses
    val names = store.manifest(1L).select("file").as[String].collect().sorted
    val grp = names.groupBy(_.take(1)).values.find(_.length >= 2)
    val victims: Seq[String] = grp.map(_.take(2).toSeq).getOrElse(names.take(2).toSeq)
    val fs = fsOf(base)
    victims.foreach(n => fs.delete(new Path(s"$base/files/$n"), false))
    if (grp.isDefined) assert(store.repairFromParity()._2.nonEmpty)
    val (repaired, bad) = store.repairFrom(mirrorBase)
    assert(repaired.size == victims.size && bad.isEmpty)
    assert(contents(store.read(1L)) == v1)
    assert(store.scrubPool().filter(col("status") =!= "ok").count() == 0L)
    // now rot the MIRROR's copy of one file and lose it locally again:
    // the md5-verified heal must refuse, not land garbage
    val victim = victims.head
    val mfs = fsOf(mirrorBase)
    val mp = new Path(s"$mirrorBase/files/$victim")
    val raw = {
      val in = mfs.open(mp)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    raw(0) = (raw(0) ^ 0x01).toByte
    val out = mfs.create(mp, true); try out.write(raw) finally out.close()
    fs.delete(new Path(s"$base/files/$victim"), false)
    // repairFrom verifies the mirror bytes against the parity index
    // md5 BEFORE landing — the rotted copy must be refused
    val (r2, bad2) = store.repairFrom(mirrorBase)
    assert(r2.isEmpty && bad2 == Seq(victim))
    // the parity rung still heals the (single) loss afterwards
    assert(store.repairFromParity()._1.size == 1)
    assert(store.scrubPool().filter(col("status") =!= "ok").count() == 0L)
  }
}
