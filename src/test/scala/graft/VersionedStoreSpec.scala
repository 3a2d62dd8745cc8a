package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
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
}
