package graft

import org.apache.spark.sql.functions._

import graft.operators.{ManifestStore, SnapshotStore, VersionedStore}

/** Partition-scoped maintenance (`OPTIMIZE t WHERE part = x`):
  * compactWhere / zorderWhere / foldDvWhere rewrite ONLY the matching
  * partitions' files — the untouched partitions' pool entries are
  * BIT-IDENTICAL across the commit, the rewritten-file set is a
  * subset of the scope's own files, and the table content is
  * invariant. At 100 TB you never OPTIMIZE a whole table. */
class ScopedMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def dim(n: Int): org.apache.spark.sql.DataFrame =
    (1 to n).map(i => (i.toLong, Seq("A", "B", "C")(i % 3), i * 1.5))
      .toDF("k", "region", "v")

  private def poolFiles(base: String): Map[String, Long] = {
    val d = new java.io.File(s"$base/files")
    d.listFiles().filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(f => f.getName -> f.length()).toMap
  }

  private def content(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Double)] =
    df.select("k", "region", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  private def filesOf(st: ManifestStore, v: Long, region: String): Set[String] =
    st.manifest(v).filter(col("min_region") === region)
      .select("file").collect().map(_.getString(0)).toSet

  test("linked compactWhere: only the scoped partition's fragments fold; other partitions' entries verbatim; DV composes") {
    val root = java.nio.file.Files.createTempDirectory("graft_sm_lk").toString
    val st = new ManifestStore(spark, s"$root/t", "k", statsCols = Seq("v"))
    st.writePartitioned(dim(90), 1L, Seq("region"), filesPerPartition = 4)
    // two appends fragment every partition (the nightly-merge shape
    // scoped compaction exists to fold)
    st.mergeDelta(1L, 11L, dim(120).filter(col("k") > 90))
    st.mergeDelta(11L, 12L, dim(150).filter(col("k") > 120))
    st.deleteWhere(12L, 2L, col("k") % 10 === 0, mode = "dv") // masks in every partition
    val before = content(st.read(2L))
    val beforePool = poolFiles(s"$root/t")
    val aFiles = filesOf(st, 2L, "A")
    val othersBefore = st.manifest(2L).filter(col("min_region") =!= "A")
      .select("file").collect().map(_.getString(0)).toSet
    assert(aFiles.size >= 2, s"fixture needs A fragments, got $aFiles")
    val (carried, rewritten) = st.compactWhere(2L, 3L, col("region") === "A",
      minBytes = 1L << 30, targetFiles = 1)
    assert(rewritten >= 1 && rewritten < aFiles.size
      && carried == othersBefore.size, s"($carried, $rewritten)")
    // rewritten set ⊆ scope: every NEW file is region-A-only; every
    // non-A entry carried verbatim (same file names)
    val afterA = filesOf(st, 3L, "A")
    val afterOthers = st.manifest(3L).filter(col("min_region") =!= "A")
      .select("file").collect().map(_.getString(0)).toSet
    assert(afterOthers == othersBefore, "untouched partitions' entries changed")
    assert((afterA intersect aFiles).isEmpty, "scoped rewrite kept an old A file")
    // untouched pool bytes bit-identical (nothing rewrote them)
    val afterPool = poolFiles(s"$root/t")
    othersBefore.foreach(n => assert(afterPool(n) == beforePool(n), s"$n changed"))
    // content invariant (the DV fold makes masked rows drop for good
    // in A; B/C keep their mask — the read is identical either way)
    assert(content(st.read(3L)) == before)
    // A's DV entries retired with the rewrite; B/C entries intact
    val dvFiles = st.dvFrame(3L).map(_.select("file").collect()
      .map(_.getString(0)).toSet).getOrElse(Set.empty)
    assert((dvFiles intersect afterA).isEmpty, "rewritten files still masked")
    assert(dvFiles.subsetOf(afterOthers), s"unexpected mask files: $dvFiles")
    // operation stamp
    val op = st.history().filter(col("version") === 3L)
      .select("operation", "operation_params").head()
    assert(op.getString(0) == "compact" && op.getString(1).contains("region"))
  }

  test("linked zorderWhere + foldDvWhere: scoped rewrites, content invariant, out-of-scope masks intact") {
    val root = java.nio.file.Files.createTempDirectory("graft_sm_lz").toString
    val st = new ManifestStore(spark, s"$root/t", "k", statsCols = Seq("v"))
    st.writePartitioned(dim(90), 1L, Seq("region"), filesPerPartition = 3)
    val before = content(st.read(1L))
    val bBefore = filesOf(st, 1L, "B")
    val othersBefore = st.manifest(1L).filter(col("min_region") =!= "B")
      .select("file").collect().map(_.getString(0)).toSet
    val (c1, r1) = st.zorderWhere(1L, 2L, col("region") === "B", Seq("k", "v"), 2)
    assert(c1 == othersBefore.size && r1 >= 1)
    assert(st.manifest(2L).filter(col("min_region") =!= "B")
      .select("file").collect().map(_.getString(0)).toSet == othersBefore)
    assert((filesOf(st, 2L, "B") intersect bBefore).isEmpty)
    assert(content(st.read(2L)) == before)
    // foldDvWhere: mask rows in B and C, fold ONLY B's
    st.deleteWhere(2L, 3L, col("k") % 10 === 5, mode = "dv")
    val masked3 = st.dvFrame(3L).get.select("file").collect().map(_.getString(0)).toSet
    val bMasked = masked3 intersect filesOf(st, 3L, "B")
    assert(bMasked.nonEmpty && (masked3 diff bMasked).nonEmpty, s"fixture: $masked3")
    val after3 = content(st.read(3L))
    val (_, r2, dropped) = st.foldDvWhere(3L, 4L, col("region") === "B")
    assert(r2 >= 1 && dropped >= 1)
    assert(content(st.read(4L)) == after3)
    val dv4 = st.dvFrame(4L).get.select("file").collect().map(_.getString(0)).toSet
    assert(dv4 == (masked3 diff bMasked), "out-of-scope masks must carry intact")
  }

  test("snapshot compactWhere: untouched files byte-identical (name+size); scoped fold; content invariant") {
    val root = java.nio.file.Files.createTempDirectory("graft_sm_sn").toString
    val st = new SnapshotStore(spark, s"$root/t", "k")
    st.writePartitioned(dim(90), 1L, Seq("region"), filesPerPartition = 3,
      statsCols = Seq("v"))
    st.mergeDelta(1L, 11L, dim(120).filter(col("k") > 90))
    st.deleteWhere(11L, 2L, col("k") % 10 === 0, mode = "dv")
    val before = content(st.read(2L))
    val files2 = new java.io.File(s"$root/t/v=2").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.length()).toMap
    val (carried, rewritten) = st.compactWhere(2L, 3L, col("region") === "C",
      minBytes = 1L << 30)
    assert(rewritten >= 1, s"($carried, $rewritten)")
    val files3 = new java.io.File(s"$root/t/v=3").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.length()).toMap
    // carried files keep their basename AND byte size; C's old files gone
    val carriedNames = files3.keySet intersect files2.keySet
    assert(carriedNames.size == carried)
    carriedNames.foreach(n => assert(files3(n) == files2(n), s"$n size changed"))
    assert(content(st.read(3L)) == before)
    // scoped zorder on the snapshot layout too
    val (c2, r2) = st.zorderWhere(3L, 4L, col("region") === "A", Seq("k", "v"), 2)
    assert(r2 >= 1 && c2 >= 1)
    assert(content(st.read(4L)) == before)
    // partition pruning still exact after the scoped rewrites
    assert(content(st.readWhereAll(4L, Seq(("region", "A", "A"))))
      == before.filter(_._2 == "A"))
  }

  test("SQL: CALL compact/zorder/fold_dv with a where predicate route to the scoped verbs") {
    val root = java.nio.file.Files.createTempDirectory("graft_sm_sql").toString
    spark.conf.set("spark.sql.catalog.smcat",
      classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.smcat.root", root)
    val lst = new ManifestStore(spark, s"$root/t_linked", "k", statsCols = Seq("v"))
    lst.writePartitioned(dim(60), 1L, Seq("region"), filesPerPartition = 3)
    lst.mergeDelta(1L, 11L, dim(90).filter(col("k") > 60))
    val before = content(spark.sql("SELECT * FROM smcat.t_linked"))
    val ans = spark.sql(
      "CALL smcat.compact('t_linked', 1, " + (1L << 30) + "L, \"region = 'A'\")")
      .head()
    assert(ans.getLong(1) == 12L, ans.toString)
    assert(content(spark.sql("SELECT * FROM smcat.t_linked")) == before)
    val othersB4 = lst.manifest(11L).filter(col("min_region") =!= "A")
      .select("file").collect().map(_.getString(0)).toSet
    assert(lst.manifest(12L).filter(col("min_region") =!= "A")
      .select("file").collect().map(_.getString(0)).toSet == othersB4)
    // scoped zorder through SQL on the snapshot layout
    val sst = new SnapshotStore(spark, s"$root/t_snap", "k")
    sst.writePartitioned(dim(60), 1L, Seq("region"), filesPerPartition = 2,
      statsCols = Seq("v"))
    val beforeS = content(spark.sql("SELECT * FROM smcat.t_snap"))
    spark.sql("CALL smcat.zorder('t_snap', 'k,v', 2, \"region = 'B'\")").collect(): Unit
    assert(content(spark.sql("SELECT * FROM smcat.t_snap")) == beforeS)
    // scoped fold_dv through SQL
    lst.deleteWhere(12L, 13L, col("k") % 10 === 5, mode = "dv")
    val ans2 = spark.sql("CALL smcat.fold_dv('t_linked', 2, \"region = 'B'\")").head()
    assert(ans2.getLong(2) >= 1 && ans2.getLong(3) >= 1, ans2.toString)
    assert(content(spark.sql("SELECT * FROM smcat.t_linked"))
      == before.filter(_._1 % 10 != 5), "delete applies; fold is content-neutral")
  }

  test("foldDv on a partitioned store keeps one partition tuple per file (both layouts)") {
    val rows = (1 to 4000).map(i => (i.toLong, Seq("A", "B", "C", "D")(i % 4), i * 1.5))
      .toDF("k", "region", "v")
    val root = java.nio.file.Files.createTempDirectory("graft_sm_fold").toString
    val linked = new ManifestStore(spark, s"$root/l", "k")
    linked.writePartitioned(rows, 1L, Seq("region"))
    val snap = new SnapshotStore(spark, s"$root/s", "k")
    snap.writePartitioned(rows, 1L, Seq("region"))
    Seq[VersionedStore](linked, snap).foreach { st =>
      // a sparse delete masks 42 rows spread over all four regions
      st.deleteWhere(1L, 2L, col("k") % 95 === 0, mode = "dv")
      assert(st.dvRowCount(2L) == 42L, st.layout)
      val (_, rewritten, dropped) = st.foldDv(2L, 3L)
      assert(dropped == 42L && rewritten >= 4 && st.dvFrame(3L).isEmpty, st.layout)
      // every landed file holds one tuple: the partition verbs still run
      val parts = st.partitions(3L).select("region", "n_rows").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(parts == content(st.read(2L)).groupBy(_._2).map { case (g, rs) =>
        g -> rs.size.toLong }, st.layout)
      st.compactWhere(3L, 4L, col("region") === "A", minBytes = 1L << 30)
      assert(st.partitions(4L).filter(col("region") === "A").select("n_files")
        .head().getLong(0) == 1L, st.layout)
      assert(content(st.read(3L)) == content(st.read(2L)), st.layout)
      assert(content(st.read(4L)) == content(st.read(2L)), st.layout)
    }
  }
}
