package graft

import org.apache.spark.sql.functions._
import graft.operators.{ManifestStore, SnapshotStore}

/** Table cloning on both layouts: the linked store's ZERO-COPY shallow
  * clone (shared pool + clone registry, so the owner's vacuum honors
  * clone references — the hazard Delta documents and does not fix) and
  * the snapshot store's deep clone (self-contained version dirs, zone
  * map re-homed), plus the SQL surface `CALL cat.clone(src, dst)`. */
class CloneSpec extends SparkSpec {
  import spark.implicits._

  private def tmpBase(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_clone_$tag").toString

  private def content(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("linked shallow clone: tip content verbatim, zero pool bytes of its own") {
    val root = tmpBase("lk")
    val src = new ManifestStore(spark, s"$root/src", "k")
    src.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), 1L, numFiles = 2)
    val clone = src.cloneTo(s"$root/dst", 1L)
    assert(content(clone.read(1L)) == content(src.read(1L)))
    // not one data byte landed under the clone: no files/ dir at all
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/dst/files")),
      "shallow clone materialized its own pool")
    assert(!clone.isPoolOwner && clone.poolOwnerBase == s"$root/src")
  }

  test("clone and source diverge freely after the fork") {
    val root = tmpBase("div")
    val src = new ManifestStore(spark, s"$root/src", "k")
    src.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 1L, numFiles = 1)
    val clone = src.cloneTo(s"$root/dst", 1L)
    src.mergeDelta(1L, 2L, Seq((1L, "a-src")).toDF("k", "v")): Unit
    clone.mergeDelta(1L, 2L, Seq((2L, "b-cl"), (9L, "i-cl")).toDF("k", "v")): Unit
    assert(content(src.read(2L)) == Set((1L, "a-src"), (2L, "b")))
    assert(content(clone.read(2L)) == Set((1L, "a"), (2L, "b-cl"), (9L, "i-cl")))
    // the fork point is untouched on both sides
    assert(content(src.read(1L)) == Set((1L, "a"), (2L, "b")))
    assert(content(clone.read(1L)) == Set((1L, "a"), (2L, "b")))
  }

  test("owner vacuum honors clone references; reclaims what no side needs") {
    val root = tmpBase("vac")
    val src = new ManifestStore(spark, s"$root/src", "k")
    src.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 1L, numFiles = 2)
    val clone = src.cloneTo(s"$root/dst", 1L)
    // source rewrites EVERYTHING into v2, then forgets v1: its own
    // manifests no longer reference the v1 files — only the clone does
    src.mergeDelta(1L, 2L, Seq((1L, "a2"), (2L, "b2")).toDF("k", "v")): Unit
    src.prune(Seq(2L)): Unit
    val reclaimed = src.vacuum(tmpTtlMs = 0L)
    assert(reclaimed == 0L, s"vacuum deleted clone-referenced bytes: $reclaimed")
    assert(content(clone.read(1L)) == Set((1L, "a"), (2L, "b")),
      "clone lost its fork-point read after owner vacuum")
    // drop the clone (base dir gone) -> its references stop counting
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/dst"), true)
    assert(src.vacuum(tmpTtlMs = 0L) > 0L,
      "vacuum failed to reclaim files only the dropped clone referenced")
    assert(content(src.read(2L)) == Set((1L, "a2"), (2L, "b2")))
  }

  test("a clone's own vacuum/orphans refuse — the pool is not its to reclaim") {
    val root = tmpBase("ref")
    val src = new ManifestStore(spark, s"$root/src", "k")
    src.write(Seq((1L, "a")).toDF("k", "v"), 1L, numFiles = 1)
    val clone = src.cloneTo(s"$root/dst", 1L)
    intercept[IllegalArgumentException](clone.vacuum())
    intercept[IllegalArgumentException](clone.orphans())
  }

  test("clone of a clone registers with the ORIGINAL pool owner") {
    val root = tmpBase("coc")
    val src = new ManifestStore(spark, s"$root/src", "k")
    src.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 1L, numFiles = 1)
    val c1 = src.cloneTo(s"$root/c1", 1L)
    val c2 = c1.cloneTo(s"$root/c2", 1L)
    assert(c2.poolOwnerBase == s"$root/src")
    // owner's vacuum sees through both generations: forget everything
    // at the source, c2 must still read
    src.mergeDelta(1L, 2L, Seq((1L, "x"), (2L, "y")).toDF("k", "v")): Unit
    src.prune(Seq(2L)): Unit
    assert(src.vacuum(tmpTtlMs = 0L) == 0L)
    assert(content(c2.read(1L)) == Set((1L, "a"), (2L, "b")))
  }

  test("snapshot deep clone: content + zone-map pruning survive source deletion") {
    val root = tmpBase("snap")
    val src = new SnapshotStore(spark, s"$root/src", "k")
    src.writeRangePartitioned(
      (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v"), 1L, numFiles = 4)
    val clone = src.cloneTo(s"$root/dst", 1L, commitTs = Some(5000L))
    assert(content(clone.read(1L)) == content(src.read(1L)))
    assert(clone.commitTimestamp(1L) == 5000L)
    // the proof the zone map was re-homed: remove the source entirely,
    // then a PRUNED read on the clone (readWhere opens zone-map paths)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/src"), true)
    val pruned = clone.readWhere(1L, "k", 5L, 8L)
    assert(content(pruned) == (5L to 8L).map(i => (i, s"v$i")).toSet,
      "cloned zone map still points at the source")
  }

  test("SQL: CALL cat.clone on both layouts, clone readable through the catalog") {
    val root = tmpBase("sql")
    val snap = new SnapshotStore(spark, s"$root/t_snap", "k")
    snap.writeRangePartitioned(Seq((1L, "s1"), (2L, "s2")).toDF("k", "v"), 1L, 1)
    val linked = new ManifestStore(spark, s"$root/t_linked", "k")
    linked.write(Seq((1L, "l1"), (2L, "l2")).toDF("k", "v"), 1L, numFiles = 1)
    spark.conf.set("spark.sql.catalog.clonecat",
      classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.clonecat.root", root)
    val r1 = spark.sql("CALL clonecat.clone('t_snap', 'c_snap')").collect().head
    assert(r1.getString(0) == "snapshot" && r1.getString(1) == "deep"
      && r1.getLong(3) == 2L)
    val r2 = spark.sql("CALL clonecat.clone('t_linked', 'c_linked')").collect().head
    assert(r2.getString(0) == "linked" && r2.getString(1) == "shallow"
      && r2.getLong(3) == 2L)
    assert(content(spark.sql("SELECT * FROM clonecat.c_snap")) == Set((1L, "s1"), (2L, "s2")))
    assert(content(spark.sql("SELECT * FROM clonecat.c_linked")) == Set((1L, "l1"), (2L, "l2")))
    // writes through the catalog land on the clone, not the source
    spark.sql("INSERT INTO clonecat.c_linked VALUES (7, 'new')")
    assert(content(spark.sql("SELECT * FROM clonecat.c_linked")) ==
      Set((1L, "l1"), (2L, "l2"), (7L, "new")))
    assert(content(spark.sql("SELECT * FROM clonecat.t_linked")) == Set((1L, "l1"), (2L, "l2")))
  }

  test("catalog verbs honor the clone registry: owner DROP/RENAME refuse, clone RENAME re-registers") {
    val root = tmpBase("verbs")
    spark.conf.set("spark.sql.catalog.vcat",
      classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.vcat.root", root)
    val owner = new ManifestStore(spark, s"$root/own", "k")
    owner.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 1L, numFiles = 1)
    owner.cloneTo(s"$root/cl", 1L): Unit
    // DROP / RENAME of the pool OWNER with a live clone: refused —
    // deleting or moving the shared pool under the clone is data loss
    val e1 = intercept[IllegalStateException](spark.sql("DROP TABLE vcat.own"))
    assert(e1.getMessage.contains("live"))
    intercept[IllegalStateException](
      spark.sql("ALTER TABLE vcat.own RENAME TO own2"))
    assert(content(spark.sql("SELECT * FROM vcat.own")) == Set((1L, "a"), (2L, "b")))
    // RENAME of the CLONE re-points its registration, so the owner's
    // vacuum keeps honoring the moved clone's references
    spark.sql("ALTER TABLE vcat.cl RENAME TO cl2")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ManifestStore.liveClonesAt(fs, s"$root/own") == Seq(s"$root/cl2"))
    assert(content(spark.sql("SELECT * FROM vcat.cl2")) == Set((1L, "a"), (2L, "b")))
    // owner merges + vacuums: the MOVED clone's fork-point files survive
    owner.mergeDelta(1L, 2L, Seq((1L, "a2")).toDF("k", "v")): Unit
    owner.prune(keep = Seq(2L)): Unit
    owner.vacuum(tmpTtlMs = 0L): Unit
    assert(content(spark.sql("SELECT * FROM vcat.cl2")) == Set((1L, "a"), (2L, "b")),
      "vacuum after clone rename reclaimed files the clone references")
    // once the clone is DROPPED, the owner's verbs unblock
    spark.sql("DROP TABLE vcat.cl2")
    spark.sql("ALTER TABLE vcat.own RENAME TO own2")
    assert(content(spark.sql("SELECT * FROM vcat.own2")) == Set((1L, "a2"), (2L, "b")))
  }

  test("owner parity maintenance honors clone references: a clone-only pool file lost after prune repairs") {
    val root = tmpBase("par")
    val src = new ManifestStore(spark, s"$root/src", "k")
    src.write((1L to 40L).map(k => (k, s"a$k")).toDF("k", "v"), 1L, numFiles = 4)
    val clone = src.cloneTo(s"$root/dst", 1L)
    val before = content(clone.read(1L))
    src.buildParity()
    // the owner rewrites every row and forgets v1: the v1 files are
    // now referenced by the clone alone
    src.mergeDelta(1L, 2L, (1L to 40L).map(k => (k, s"b$k")).toDF("k", "v")): Unit
    src.prune(keep = Seq(2L)): Unit
    val victim = clone.manifest(1L).select("file").as[String].collect().sorted.head
    assert(!src.manifest(2L).select("file").as[String].collect().contains(victim))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/src/files/$victim"), false)
    // a file the clone still references is damage: its group is skipped,
    // so the parity that can rebuild it survives maintenance
    val (_, _, skipped) = src.updateParity()
    assert(skipped == Seq(victim.take(1)), s"expected the victim's group skipped, got $skipped")
    val (repaired, unrepairable) = src.repairFromParity()
    assert(repaired.size == 1 && unrepairable.isEmpty)
    assert(content(clone.read(1L)) == before)
  }

  test("a clone's v1 history says clone on both layouts; a plain-write snapshot source counts its rows") {
    val root = tmpBase("hist")
    val snap = new SnapshotStore(spark, s"$root/s", "k")
    snap.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), 1L) // no zone map
    snap.mergeDelta(1L, 2L, Seq((4L, "d")).toDF("k", "v")): Unit
    val linked = new ManifestStore(spark, s"$root/l", "k")
    linked.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), 1L, numFiles = 2)
    linked.mergeDelta(1L, 2L, Seq((4L, "d")).toDF("k", "v")): Unit
    for ((st, dst) <- Seq[(graft.operators.VersionedStore, String)](
        snap -> s"$root/sc", linked -> s"$root/lc")) {
      val c = st.cloneTo(dst, 2L)
      val h = c.history().select("version", "operation", "operation_params").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(h == Seq((1L, "clone", s"from ${st.basePath} v2")), s"${st.layout}: $h")
      assert(c.rowCountOf(1L) == 4L && content(c.read(1L)) == content(st.read(2L)), st.layout)
    }
    spark.conf.set("spark.sql.catalog.clonehcat",
      classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.clonehcat.root", root)
    val r = spark.sql("CALL clonehcat.clone('s', 's2')").collect().head
    assert(r.getString(1) == "deep" && r.getLong(2) == 2L && r.getLong(3) == 4L, r.toString)
  }

  test("count retention on a shallow clone drops its own manifests and leaves the pool to the owner") {
    val root = tmpBase("cret")
    val src = new ManifestStore(spark, s"$root/src", "k")
    src.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 1L, numFiles = 1)
    val clone = src.cloneTo(s"$root/dst", 1L)
    clone.mergeDelta(1L, 2L, Seq((1L, "a2"), (2L, "b2")).toDF("k", "v")): Unit
    assert(clone.prune(Seq(2L)) == 0L && clone.versions() == Seq(2L))
    assert(content(clone.read(2L)) == Set((1L, "a2"), (2L, "b2")))
    assert(content(src.read(1L)) == Set((1L, "a"), (2L, "b")))
  }
}
