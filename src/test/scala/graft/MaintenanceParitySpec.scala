package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{ManifestStore, SnapshotStore, VersionedStore}

/** The maintenance verbs run one body on both layouts: the same script
  * on a linked and a snapshot store — compaction into a new version
  * (whole-version and partition-scoped, over a deletion vector), the
  * tip-compaction hook, the vacuum sweep and its dry run — gives the
  * same reads, the same history and the same file counts; the layouts
  * differ only where they mean to (the snapshot tip compacts in place,
  * a vacuum there reclaims leftovers only). */
class MaintenanceParitySpec extends SparkSpec {
  import spark.implicits._

  private val cats = Seq("alpha", "beta", "gamma", "delta")

  private def rows(ks: Range, tag: String): DataFrame =
    ks.map(k => (k.toLong, cats(k % 4), k * 1.5, s"$tag-$k")).toDF("k", "cat", "x", "v")

  private def pair(tag: String): (ManifestStore, SnapshotStore) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft-mp-$tag").toString
    (new ManifestStore(spark, s"$root/linked", "k"), new SnapshotStore(spark, s"$root/snap", "k"))
  }

  private def content(st: VersionedStore, v: Long): Seq[String] = {
    val df = st.read(v)
    df.select(df.columns.sorted.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted
  }

  private def historyOf(st: VersionedStore, v: Long): Seq[Any] =
    st.history().filter(col("version") === v)
      .select("n_files", "n_rows", "operation", "operation_params", "operation_metrics")
      .head().toSeq.map {
        case m: scala.collection.Map[_, _] => m.toMap
        case x => x
      }

  private def assertParity(sts: Seq[VersionedStore], v: Long, what: String): Unit = {
    val Seq(l, s) = sts
    assert(content(l, v) == content(s, v), s"$what v$v: reads differ")
    assert(historyOf(l, v) == historyOf(s, v), s"$what v$v: history differs")
    assert(l.dataPaths(v).size == s.dataPaths(v).size, s"$what v$v: file counts differ")
    assert(l.dvRowCount(v) == s.dvRowCount(v), s"$what v$v: deletion vectors differ")
  }

  private def fsOf(base: String) =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** An empty crash leftover `name` at `base`, its mtime `ageMs` ago. */
  private def leftover(base: String, name: String, ageMs: Long): String = {
    val p = new Path(base, name)
    fsOf(base).mkdirs(p)
    fsOf(base).setTimes(p, System.currentTimeMillis() - ageMs, -1L)
    fsOf(base).makeQualified(p).toString
  }

  test("compactWhere and compactInto fold small files into a new version over a deletion vector") {
    val (l, s) = pair("compact")
    val sts = Seq(l, s)
    l.writePartitioned(rows(1 to 200, "a"), 1L, Seq("cat"))
    s.writePartitioned(rows(1 to 200, "a"), 1L, Seq("cat"))
    sts.foreach { st =>
      st.mergeDelta(1L, 2L, rows(201 to 240, "b")): Unit
      st.deleteWhere(2L, 3L, col("k") % 7 === 0, mode = "dv"): Unit
    }
    assertParity(sts, 3L, "setup")
    assert(sts.forall(_.dvRowCount(3L) > 0L))
    // scoped: alpha's files fold and their mask entries retire, every
    // other partition's files and mask entries carry
    val scoped = sts.map(_.compactWhere(3L, 4L, col("cat") === "alpha", minBytes = 1L << 30))
    assert(scoped.distinct.size == 1 && scoped.head._2 == 1, scoped)
    assertParity(sts, 4L, "compactWhere")
    assert(content(sts.head, 4L) == content(sts.head, 3L))
    sts.foreach(st => assert(st.dvRowCount(4L) > 0L && st.dvRowCount(4L) < st.dvRowCount(3L)))
    // whole-version: every small file folds, the deletion vector goes
    val whole = sts.map(_.compactInto(4L, 5L, minBytes = 1L << 30, targetFiles = 1))
    assert(whole.distinct.size == 1 && whole.head._1 == 0, whole)
    assertParity(sts, 5L, "compactInto")
    assert(content(sts.head, 5L) == content(sts.head, 3L))
    sts.foreach(st => assert(st.dvFrame(5L).isEmpty, st.layout))
    // nothing small: a carry publish, same files
    val none = sts.map(_.compactInto(5L, 6L, minBytes = 1L))
    assert(none.distinct == Seq((sts.head.dataPaths(5L).size, 0)), none)
    assertParity(sts, 6L, "compactInto, nothing to fold")
  }

  test("maybeCompact: no-op below maxFiles; above it the tip compacts the layout's way") {
    val (l, s) = pair("maybe")
    val sts = Seq(l, s)
    sts.foreach(_.writeZOrdered(rows(1 to 120, "a"), 1L, 6, Seq("x")))
    assertParity(sts, 1L, "write")
    val before = content(sts.head, 1L)
    assert(sts.map(_.maybeCompact(10)) == Seq(None, None))
    assert(sts.map(_.versions()) == Seq(Seq(1L), Seq(1L)))
    val ts = s.history().filter(col("version") === 1L).select("commit_ts").head().getLong(0)
    val stamp = historyOf(s, 1L).slice(2, 5)
    // linked: a new version; snapshot: the tip rewritten in place
    assert(sts.map(_.maybeCompact(4)) == Seq(Some(2L), Some(1L)))
    assert(content(l, 2L) == before && content(s, 1L) == before)
    assert(l.dataPaths(2L).size <= 4 && s.dataPaths(1L).size <= 4,
      s"${l.dataPaths(2L)} ${s.dataPaths(1L)}")
    assert(s.versions() == Seq(1L) &&
      s.history().filter(col("version") === 1L).select("commit_ts").head().getLong(0) == ts)
    assert(historyOf(l, 2L)(2) == "compact")
    // the in-place rewrite keeps the version's operation stamp
    assert(historyOf(s, 1L).slice(2, 5) == stamp && stamp.head == "writeZOrdered", stamp)
  }

  test("a vacuum dry run previews exactly what the vacuum then deletes") {
    val (l, s) = pair("vacuum")
    val sts = Seq(l, s)
    sts.foreach { st =>
      st.writeZOrdered(rows(1 to 60, "a"), 1L, 3, Seq("x"))
      st.mergeDelta(1L, 2L, rows(1 to 5, "b")): Unit
    }
    // retention to the tip leaves v1's exclusive pool files on the
    // linked layout until the sweep; the snapshot's go with v1's dir
    val fsys = fsOf(l.basePath)
    fsys.delete(new Path(l.basePath, "_manifests/v=1"), true)
    fsys.delete(new Path(s.basePath, "v=1"), true)
    val orphanBytes = l.orphans().select("bytes").as[Long].collect().sum
    assert(orphanBytes > 0L)
    val aged = sts.map(st => Seq(leftover(st.basePath, ".tmp-v=9-crashed", 3600000L),
      leftover(st.basePath, ".old-v=2-swap", 3600000L)))
    sts.foreach(st => leftover(st.basePath, ".tmp-v=3-inflight", 0L))
    val ttl = 60000L
    assert(l.vacuumReport(ttl, dryRun = true) == ((orphanBytes, "bytes_dry")))
    assert(s.vacuumReport(ttl, dryRun = true) == ((2L, "paths_dry")))
    assert(s.vacuumDryRun(ttl).toSet == aged(1).toSet)
    assert(l.orphans().count() > 0L, "a dry run deleted pool files")
    sts.zip(aged).foreach { case (st, a) =>
      a.foreach(p => assert(fsys.exists(new Path(p)), s"${st.layout}: a dry run deleted $p"))
    }
    assert(l.vacuum(ttl) == orphanBytes)
    assert(s.vacuum(ttl).toSet == aged(1).toSet)
    sts.zip(aged).foreach { case (st, a) =>
      a.foreach(p => assert(!fsys.exists(new Path(p)), s"${st.layout}: $p survived"))
      assert(fsys.exists(new Path(st.basePath, ".tmp-v=3-inflight")), st.layout)
      assert(st.vacuumReport(ttl, dryRun = true)._1 == 0L, st.layout)
    }
    assert(l.orphans().count() == 0L)
    assertParity(sts, 2L, "after vacuum")
  }

  test("CALL vacuum on the snapshot layout counts paths, dry run first") {
    val root = java.nio.file.Files.createTempDirectory("graft-mp-callvac").toString
    val st = new SnapshotStore(spark, s"$root/t", "k")
    st.write(rows(1 to 20, "a"), 1L)
    val aged = Seq(leftover(st.basePath, ".tmp-v=2-crashed", 3L * 3600000L),
      leftover(st.basePath, ".old-v=1-swap", 3L * 3600000L))
    leftover(st.basePath, ".tmp-v=2-inflight", 0L)
    val cat = s"mpcat${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val dry = spark.sql(s"CALL $cat.vacuum('t', 1, true)").collect().head
    assert((dry.getString(0), dry.getLong(1), dry.getString(2)) == (("snapshot", 2L, "paths_dry")))
    assert(aged.forall(p => fsOf(root).exists(new Path(p))), "the dry run deleted")
    val run = spark.sql(s"CALL $cat.vacuum('t', 1)").collect().head
    assert((run.getString(0), run.getLong(1), run.getString(2)) == (("snapshot", 2L, "paths")))
    assert(aged.forall(p => !fsOf(root).exists(new Path(p))))
    assert(spark.sql(s"CALL $cat.vacuum('t', 1)").collect().head.getLong(1) == 0L)
    assert(spark.sql(s"SELECT * FROM $cat.t").count() == 20L)
  }

  test("the streaming sink's maxFilesPerCommit bounds a snapshot-layout table's files") {
    val root = java.nio.file.Files.createTempDirectory("graft-mp-stream").toString
    val cat = s"mpscat${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.st (k BIGINT, v STRING) " +
      "TBLPROPERTIES('key'='k', 'layout'='snapshot')")
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", s"$root/_ckpt")
      .option("maxFilesPerCommit", "6")
      .toTable(s"$cat.st")
    try {
      (1 to 16).foreach { i =>
        in.addData((i.toLong, s"v$i"))
        q.processAllAvailable()
      }
    } finally q.stop()
    val st = new SnapshotStore(spark, s"$root/st", "k")
    assert(spark.sql(s"SELECT k, v FROM $cat.st").as[(Long, String)].collect().toSet ==
      (1 to 16).map(i => (i.toLong, s"v$i")).toSet)
    // one file lands per batch: without the hook the tip holds 16
    val nFiles = st.dataPaths(st.versions().max).size
    assert(nFiles <= 6, s"files unbounded: $nFiles")
    // the compacted tips kept their identity: one version per batch
    assert(st.versions() == (1L to 17L), st.versions())
  }
}
