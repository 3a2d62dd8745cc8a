package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.LongType
import graft.operators.{ConstraintViolationException, ManifestStore, SnapshotStore, VersionedStore}

/** One script over both layouts through the [[VersionedStore]] trait:
  * the same commits, reads and metadata verbs give the same logical
  * answers on the snapshot layout and the linked layout. */
class VersionedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpBase(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def rows(ks: Range, tag: String) =
    ks.map(k => (k.toLong, s"$tag-$k")).toDF("k", "v")

  /** Both layouts, each holding version 1 (k = 1..20) written the way
    * that layout's callers write it. */
  private def stores(): Seq[VersionedStore] = {
    val linked = new ManifestStore(spark, tmpBase("graft-vs-linked"), "k")
    linked.write(rows(1 to 20, "a"), 1L, numFiles = 2)
    val snap = new SnapshotStore(spark, tmpBase("graft-vs-snap"), "k")
    snap.writeRangePartitioned(rows(1 to 20, "a"), 1L, 2)
    Seq(linked, snap)
  }

  private def content(st: VersionedStore, v: Long): Set[(Long, String)] =
    st.read(v).select("k", "v").as[(Long, String)].collect().toSet

  /** The steps every layout runs; returns the observations compared
    * across layouts. */
  private def script(st: VersionedStore): Seq[Any] = {
    val out = Seq.newBuilder[Any]
    st.mergeDelta(1L, 2L, Seq((3L, "u"), (21L, "n")).toDF("k", "v"),
      Some(Seq(5L).toDF("k")))
    st.deleteWhere(2L, 3L, col("k") >= 18L)
    assert(st.versions() == Seq(1L, 2L, 3L) && st.latestVersion().contains(3L))
    out += content(st, 2L)
    out += content(st, 3L)
    out += st.visibleRowsOf(3L)

    val hist = st.history().select("version", "commit_ts", "operation")
      .as[(Long, Long, String)].collect().toSeq
    out += hist.map(h => h._1 -> h._3).filter(_._1 > 1L)
    out += st.commitStats().map(_._1)

    out += st.diff(1L, 3L).select("k", "change_type").as[(Long, String)].collect().toSet
    out += st.diffKeyRange(1L, 3L, 1L, 10L).select("k", "change_type")
      .as[(Long, String)].collect().toSet

    // time travel resolves through the checkpointed commit timestamps
    val ts2 = hist.find(_._1 == 2L).get._2
    assert(st.versionAsOf(ts2).exists(_ >= 2L))
    out += st.versionAsOf(Long.MaxValue)
    out += st.versionAsOf(0L)

    st.hold(2L)
    out += st.holds()
    st.release(2L)
    out += st.holds()

    st.addConstraint("pos", "k > 0")
    out += st.constraints()
    intercept[ConstraintViolationException](
      st.mergeDelta(3L, 4L, Seq((-1L, "bad")).toDF("k", "v")))
    assert(st.versions() == Seq(1L, 2L, 3L))
    st.dropConstraint("pos")
    out += st.constraints()

    val stats = st.analyzeColumns(3L).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getString(4), r.getString(5))).toSet
    out += stats
    assert(st.columnStats(3L).isDefined && st.columnStats(2L).isEmpty)

    // the data files back the version's read: every key served lives
    // in one of them
    val paths = st.dataPaths(3L)
    val fs = new Path(st.basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(paths.nonEmpty && paths.forall(p => fs.exists(new Path(p))), paths)
    val physical = spark.read.parquet(paths: _*).select("k").as[Long].collect().toSet
    assert(content(st, 3L).map(_._1).subsetOf(physical))

    out += st.mergeAtTip(Seq((2L, "t")).toDF("k", "v"))
    out += content(st, 4L)

    // the metadata verbs, from a state both layouts hold as the same
    // two files (v1 restored): an evolving merge adds an int column,
    // which widens, a rename, a drop; every commit's history row
    // (verb, parameters, file and row counts) matches across layouts
    st.restoreVersion(1L, 5L, None)
    st.mergeDelta(5L, 6L, Seq((1L, "a-1", 7)).toDF("k", "v", "q"))
    st.widenColumn(6L, 7L, "q", LongType)
    st.renameColumn(7L, 8L, "v", "w")
    st.dropColumns(8L, 9L, Seq("q"))
    intercept[IllegalArgumentException](st.renameColumn(9L, 10L, "w", "k"))
    intercept[IllegalArgumentException](st.widenColumn(9L, 10L, "w", LongType))
    intercept[IllegalArgumentException](st.dropColumns(9L, 10L, Seq("k")))
    assert(st.latestVersion().contains(9L))
    out += st.read(6L).schema.map(f => f.name -> f.dataType.simpleString)
    out += st.read(7L).filter($"k" === 1L).select("q").as[Long].collect().toSeq
    out += st.read(8L).columns.toSeq
    out += st.read(9L).select("k", "w").as[(Long, String)].collect().toSet
    out += st.read(9L).columns.toSeq
    out += st.read(5L).select("k", "v").as[(Long, String)].collect().toSet == content(st, 1L)
    out += st.history().filter($"version" >= 5L)
      .select("version", "operation", "operation_params", "n_files", "n_rows")
      .as[(Long, String, String, Long, Long)].collect().toSeq

    // a Bloom index (built the layout's way) serves the trait's point
    // lookup with exact rows
    st match {
      case s: SnapshotStore => s.buildBloomIndex(9L, "w")
      case m: ManifestStore => m.buildBloomIndex(9L, "w")
    }
    val (hit, opened) = st.readWhereEquals(9L, "w", "a-12")
    out += hit.select("k").as[Long].collect().toSeq
    assert(st.bloomIndex(9L, "w").isDefined && opened <= st.dataPaths(9L).size)
    out.result()
  }

  /** Partition-spec evolution through the trait: months → years, a
    * merge landing under the new spec, a source-range read pruned per
    * file by its own spec, and a whole-partition drop that refuses on
    * the mixed version. */
  private def evolution(st: VersionedStore): Seq[Any] = {
    val day = java.sql.Date.valueOf("1995-01-01")
    val df = (1 to 24).map(i => (i.toLong, java.sql.Date.valueOf(
      java.time.LocalDate.of(1994 + i / 12, 1 + i % 12, 1)), i.toDouble)).toDF("k", "d", "x")
    st match {
      case s: SnapshotStore => s.writePartitioned(df, 1L, Seq("months(d)"))
      case m: ManifestStore => m.writePartitioned(df, 1L, Seq("months(d)"))
    }
    val id = st.evolvePartitionSpec(Seq("years(d)"))
    assert(st.evolvePartitionSpec(Seq("years(d)")) == id) // idempotent
    st.mergeDelta(1L, 2L, Seq((100L, day, 1.5)).toDF("k", "d", "x"))
    val lo = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1995-12-31 23:59:59")
    val refused = intercept[IllegalArgumentException](
      st.dropPartitions(2L, 3L, $"d__year" === day)).getMessage
    Seq(id,
      st.readSourceRange(2L, "d", lo, hi).select("k").as[Long].collect().toSet,
      refused.contains("earlier partition spec"),
      st.history().select("version", "operation").as[(Long, String)].collect().toSeq)
  }

  test("the same script gives the same answers on both layouts") {
    val Seq(linked, snap) = stores()
    assert(linked.layout == "linked" && snap.layout == "snapshot")
    val a = script(linked)
    val b = script(snap)
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"step $i differs: linked $x vs snapshot $y")
    }
    assert(content(linked, 3L) == ((1 to 17).filterNot(_ == 5).map(k =>
      k.toLong -> (if (k == 3) "u" else s"a-$k")).toSet))
  }

  test("partition-spec evolution gives the same answers on both layouts") {
    val a = evolution(new ManifestStore(spark, tmpBase("graft-vs-evo-linked"), "k"))
    val b = evolution(new SnapshotStore(spark, tmpBase("graft-vs-evo-snap"), "k"))
    assert(a == b, s"linked $a vs snapshot $b")
    assert(a(1) == Set(12L, 13L, 14L, 15L, 16L, 17L, 18L, 19L, 20L, 21L, 22L, 23L, 100L))
  }

  test("VersionedStore.open picks the layout an existing base was written in") {
    val Seq(linked, snap) = stores()
    val l = VersionedStore.open(spark, linked.basePath, "k")
    val s = VersionedStore.open(spark, snap.basePath, "k")
    assert(l.isInstanceOf[ManifestStore] && l.layout == "linked")
    assert(s.isInstanceOf[SnapshotStore] && s.layout == "snapshot")
    assert(l.versions() == Seq(1L) && s.versions() == Seq(1L))
    assert(content(l, 1L) == content(s, 1L))
    // an absent base opens as the default (snapshot) layout, empty
    val fresh = VersionedStore.open(spark, tmpBase("graft-vs-fresh"), "k")
    assert(fresh.layout == "snapshot" && fresh.versions().isEmpty)
    // re-keying keeps the layout and the base
    val rekeyed = l.withKeyCol("v")
    assert(rekeyed.layout == "linked" && rekeyed.basePath == linked.basePath &&
      rekeyed.keyCol == "v")
  }

  /** Rows over a partition column, a value and a tag. */
  private def regionRows(ks: Range, tag: String) =
    ks.map(k => (k.toLong, Seq("A", "B", "C")(k % 3), k * 1.5, s"$tag-$k"))
      .toDF("k", "region", "v", "tag")

  /** Both layouts, partitioned by region, holding v1 and an appending
    * merge v2 (every partition holds two files). */
  private def partitionedStores(tag: String): Seq[VersionedStore] = {
    val linked = new ManifestStore(spark, tmpBase(s"graft-vs-rw-$tag-l"), "k")
    linked.writePartitioned(regionRows(1 to 60, "a"), 1L, Seq("region"))
    val snap = new SnapshotStore(spark, tmpBase(s"graft-vs-rw-$tag-s"), "k")
    snap.writePartitioned(regionRows(1 to 60, "a"), 1L, Seq("region"))
    Seq(linked, snap).foreach(_.mergeDelta(1L, 2L, regionRows(61 to 90, "b")))
    Seq(linked, snap)
  }

  /** The source shapes the rewrite verbs start from: each builds its
    * source version from v2 and returns it. */
  private val sources: Seq[(String, VersionedStore => Long)] = Seq(
    "plain" -> (_ => 2L),
    "deletion-vectored" -> { st => st.deleteWhere(2L, 3L, col("k") % 7 === 0, mode = "dv"); 3L },
    "column-mapped" -> { st => st.renameColumn(2L, 3L, "tag", "label"); 3L },
    "evolved" -> { st =>
      st.mergeDelta(2L, 3L, regionRows(88 to 92, "c").withColumn("w", lit(2.5)),
        fill = Map("w" -> 0.5))
      3L
    })

  /** Every rewrite verb from `src`, each publishing its own version:
    * per verb, the row count it returns (if any), the rows it publishes
    * and its history metrics. */
  private def rewriteVerbs(st: VersionedStore, src: Long): Seq[(String, Any, Set[Seq[Any]],
      Map[String, Long])] = {
    // a delta in the source's own shape: two updates, an insert, a delete
    val base = st.read(src)
    val delta = base.filter(col("k").isin(4L, 80L)).withColumn("v", col("v") + 100.0)
      .unionByName(base.filter(col("k") === 1L).withColumn("k", lit(500L)))
      .collect()
    val deltaDf = spark.createDataFrame(java.util.Arrays.asList(delta: _*), base.schema)
    val dels = Some(Seq(10L).toDF("k"))
    def rows(v: Long): Set[Seq[Any]] = {
      val df = st.read(v)
      df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toSeq).toSet
    }
    def metrics(v: Long): Map[String, Long] = st.history().filter($"version" === v)
      .select("operation_metrics").head().getMap[String, Long](0).toMap
    Seq[(String, Long, () => Any)](
      ("mergeDelta", 10L, () => st.mergeDelta(src, 10L, deltaDf, dels): Unit),
      ("mergeDeltaMor", 11L, () => st.mergeDeltaMor(src, 11L, deltaDf, dels)._2),
      ("deleteWhere cow", 12L, () => st.deleteWhere(src, 12L, col("v") > 60.0, mode = "cow")._3),
      ("deleteWhere dv", 13L, () => st.deleteWhere(src, 13L, col("k") === 5L, mode = "dv")._3),
      ("updateWhere cow", 14L, () => st.updateWhere(src, 14L, col("k") % 5 === 0,
        Map("v" -> (col("v") + 1.0)), mode = "cow")._3),
      ("updateWhere mor", 15L, () => st.updateWhere(src, 15L, col("k") === 6L,
        Map("v" -> lit(0.0)), mode = "mor")._3),
      ("foldDv", 16L, () => st.foldDv(src, 16L)._3),
      ("foldDvWhere", 17L, () => st.foldDvWhere(src, 17L, col("region") === "A")._3),
      ("compactWhere", 18L, () =>
        st.compactWhere(src, 18L, col("region") === "B", minBytes = 1L << 30): Unit),
      ("zorderWhere", 19L, () =>
        st.zorderWhere(src, 19L, col("region") === "C", Seq("k", "v"), 2): Unit))
      .map { case (name, v, run) => (name, run(), rows(v), metrics(v)) }
  }

  test("every rewrite verb gives the same rows, metrics and row counts on both layouts") {
    sources.foreach { case (name, prepare) =>
      val Seq(linked, snap) = partitionedStores(name)
      val a = rewriteVerbs(linked, prepare(linked))
      val b = rewriteVerbs(snap, prepare(snap))
      a.zip(b).foreach { case (x, y) =>
        assert(x == y, s"$name source, ${x._1}: linked $x vs snapshot $y")
      }
      assert(a.map(_._1) == b.map(_._1) && a.size == 10)
    }
  }

  test("deleteWhere's pruneHint restricts the match scan on both layouts") {
    val df = (1L to 2000L).map(i => (i, if (i % 500 == 0) null else s"row_$i", i * 1.5))
      .toDF("k", "s", "v")
    val linked = new ManifestStore(spark, tmpBase("graft-vs-hint-l"), "k", statsCols = Seq("v"))
    linked.write(df, 1L, numFiles = 10)
    val snap = new SnapshotStore(spark, tmpBase("graft-vs-hint-s"), "k")
    snap.writeRangePartitioned(df, 1L, 10, statsCols = Seq("v"))
    Seq[VersionedStore](linked, snap).foreach { st =>
      // the stats column's envelopes prune the match scan, result identical
      val (carried, rewritten, deleted) = st.deleteWhere(1L, 2L, col("v") > 2700.0,
        pruneHint = Some(("v", 2700.0, Double.MaxValue)))
      assert(deleted == st.read(1L).filter(col("v") > 2700.0).count(), st.layout)
      assert(carried >= 8 && carried + rewritten <= 11, s"${st.layout}: ($carried, $rewritten)")
      assert(st.read(2L).filter(col("v") > 2700.0).count() == 0, st.layout)
      assert(st.read(2L).count() == 2000L - deleted, st.layout)
      // a hint that excludes the matching files leaves them unmatched
      val (_, _, none) = st.deleteWhere(2L, 3L, col("k") === 1L,
        pruneHint = Some(("v", 2000.0, 2100.0)))
      assert(none == 0L && st.read(3L).filter(col("k") === 1L).count() == 1L, st.layout)
    }
  }

  test("a restore that shrinks the deletion vector lists the unmasked rows as inserts on both layouts") {
    val root = java.nio.file.Files.createTempDirectory("graft-vs-dvrestore").toString
    spark.conf.set("spark.sql.catalog.vsdv",
      classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.vsdv.root", root)
    val linked = new ManifestStore(spark, s"$root/dvr_linked", "k")
    linked.write(rows(1 to 20, "a"), 1L, numFiles = 2)
    val snap = new SnapshotStore(spark, s"$root/dvr_snap", "k")
    snap.writeRangePartitioned(rows(1 to 20, "a"), 1L, 2)
    def got(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String)] =
      df.select("k", "v", "change_type").as[(Long, String, String)].collect().toSet
    Seq[VersionedStore](linked, snap).foreach { st =>
      st.deleteWhere(1L, 2L, col("k").isin(4L, 13L), mode = "dv")
      st.restoreVersion(1L, 3L, None)
      val name = st.basePath.substring(st.basePath.lastIndexOf('/') + 1)
      val unmasked = Set((4L, "a-4", "insert"), (13L, "a-13", "insert"))
      assert(got(st.diff(2L, 3L)) == unmasked, st.layout)
      assert(got(st.diffCdf(2L, 3L)) == unmasked, st.layout)
      assert(got(spark.sql(s"SELECT * FROM vsdv.$name.changes VERSION AS OF '3..3'")) ==
        unmasked, st.layout)
      // the mask growing reads as deletes carrying the deleted values
      assert(got(st.diff(1L, 2L)) == Set((4L, "a-4", "delete"), (13L, "a-13", "delete")),
        st.layout)
      assert(st.diff(1L, 3L).isEmpty, st.layout)
    }
  }
}
