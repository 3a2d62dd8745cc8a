package graft

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions.col
import graft.operators.{ManifestStore, SnapshotStore, VersionedStore}

/** The WARN log is kept for real faults: reading a store's sidecars
  * (deletion vector, zone map, column statistics, Bloom index) logs
  * nothing on the healthy path, and a Bloom index that fails to extend
  * onto a published merge is logged instead of dropped. */
class StoreWarningsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpBase(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** WARN messages the logger `name` receives while `body` runs. */
  private def warnings(name: String)(body: => Unit): Seq[String] = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = ctx.getLogger(name)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-capture-warn", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN)
          seen.add(e.getMessage.getFormattedMessage): Unit
    }
    app.start()
    logger.addAppender(app)
    try body finally { logger.removeAppender(app); app.stop() }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  private val DataSourceLog = "org.apache.spark.sql.execution.datasources.DataSource"

  test("reading a DV, a zone map, column stats and a Bloom index logs no ignored-path WARN, on both layouts") {
    // control: Spark reports a `_`-prefixed directory read as a path
    // data source, so the capture below would see the store's reads
    val ctl = tmpBase("graft-warn-ctl")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$ctl/_side")
    val control = warnings(DataSourceLog)(spark.read.parquet(s"$ctl/_side").count(): Unit)
    assert(control.exists(_.contains("All paths were ignored")), control)

    val linked = new ManifestStore(spark, tmpBase("graft-warn-linked"), "k")
    linked.write((1 to 40).map(k => (k.toLong, s"v$k")).toDF("k", "v"), 1L, numFiles = 4)
    linked.buildBloomIndex(1L, "v")
    val snap = new SnapshotStore(spark, tmpBase("graft-warn-snap"), "k")
    snap.writeRangePartitioned((1 to 40).map(k => (k.toLong, s"v$k")).toDF("k", "v"), 1L, 4)
    snap.buildBloomIndex(1L, "v")
    val stores: Seq[VersionedStore] = Seq(linked, snap)
    val answers = stores.map { st =>
      st.deleteWhere(1L, 2L, col("k") === 7L)
      st.analyzeColumns(2L): Unit
      val logged = warnings(DataSourceLog) {
        assert(st.dvFrame(2L).exists(_.count() == 1L), s"${st.layout}: no deletion vector")
        assert(st.dvRowCount(2L) == 1L)
        assert(st.columnStats(2L).exists(_.count() == 2L))
        assert(st.bloomIndex(1L, "v").exists(_.size == st.dataPaths(1L).size))
        assert(st.readWhereEquals(1L, "v", "v9")._1.count() == 1L)
        assert(st.readKeyRange(2L, 5L, 9L).count() == 4L)
        st match {
          case s: SnapshotStore => assert(s.zoneMap(2L).exists(_.count() == 4L))
          case _ =>
        }
      }
      assert(!logged.exists(_.contains("All paths were ignored")), s"${st.layout}: $logged")
      st.read(2L).select("k").as[Long].collect().toSet
    }
    assert(answers.distinct.size == 1 && !answers.head.contains(7L))
  }

  test("conflicting mergeAtTip on both layouts, and tables served from no files, log no ignored-path WARN") {
    val stores: Seq[VersionedStore] = Seq(
      new ManifestStore(spark, tmpBase("graft-warn-oc-linked"), "k"),
      new SnapshotStore(spark, tmpBase("graft-warn-oc-snap"), "k"))
    val root = java.nio.file.Files.createTempDirectory("graft-warn-cat").toString
    val cat = "warncat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val masked = new ManifestStore(spark, s"$root/masked", "k")
    masked.write((1 to 40).map(k => (k.toLong, s"v$k")).toDF("k", "v"), 1L, numFiles = 4)
    masked.deleteWhere(1L, 2L, col("k") === 7L, mode = "dv")
    val logged = warnings(DataSourceLog) {
      stores.foreach { st =>
        st match {
          case m: ManifestStore =>
            m.write((1 to 40).map(k => (k.toLong, s"base-$k")).toDF("k", "v"), 1L, numFiles = 4)
          case s: SnapshotStore =>
            s.writeRangePartitioned((1 to 40).map(k => (k.toLong, s"base-$k")).toDF("k", "v"), 1L, 4)
        }
        assert(st.mergeAtTip(Seq((5L, "A"), (6L, "A")).toDF("k", "v")) == 2L)
        intercept[graft.operators.ConcurrentWriteConflictException](
          st.mergeAtTip(Seq((5L, "B"), (9L, "B")).toDF("k", "v"), readVersion = Some(1L)))
        assert(st.versions() == Seq(1L, 2L))
      }
      // a table whose version lists no data files, and one whose scan
      // the store's masked read serves: both plan over a delegate
      // holding no paths
      for (layout <- Seq("linked", "snapshot")) {
        spark.sql(s"CREATE TABLE $cat.empty_$layout (k BIGINT, v STRING) " +
          s"TBLPROPERTIES('key'='k', 'layout'='$layout')")
        assert(spark.table(s"$cat.empty_$layout").count() == 0L)
      }
      assert(spark.table(s"$cat.masked").count() == 39L)
    }
    assert(!logged.exists(_.contains("All paths were ignored")), logged)
  }

  test("a Bloom index that fails to extend onto a merge logs a WARN; the merge publishes and point reads stay exact") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.blockpath.impl", classOf[BlockPathFs].getName)
    val st = new ManifestStore(spark, "blockpath:" + tmpBase("graft-bloom-block"), "k")
    st.write((1 to 40).map(k => (k.toLong, s"v$k")).toDF("k", "v"), 1L, numFiles = 4)
    st.buildBloomIndex(1L, "v")
    BlockPathFs.blocked = Some("/_manifests/v=2/_bloom_v")
    val logged =
      try warnings("graft.operators.store")(
        st.mergeDelta(1L, 2L, Seq((3L, "patched"), (41L, "v41")).toDF("k", "v")): Unit)
      finally BlockPathFs.blocked = None
    assert(st.versions() == Seq(1L, 2L), "the merge did not publish")
    assert(logged.exists(m => m.contains("ManifestStore") && m.contains(st.basePath) &&
      m.contains("'v'") && m.contains("version 2")), logged)
    assert(st.bloomIndex(2L, "v").isEmpty)
    val (hit, _) = st.readWhereEquals(2L, "v", "patched")
    assert(hit.select("k").as[Long].collect().toSeq == Seq(3L))
    assert(st.readWhereEquals(2L, "v", "v41")._1.select("k").as[Long].collect().toSeq == Seq(41L))
  }
}

/** Local filesystem under the `blockpath:` scheme that refuses to
  * create any path containing [[BlockPathFs.blocked]]. Statuses carry
  * their permission eagerly, as in the `failop:` test filesystem. */
class BlockPathFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("blockpath:///")
  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, FsPermission.getDefault, "", "", s.getPath)
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
  private def check(f: Path): Unit =
    if (BlockPathFs.blocked.exists(b => f.toUri.getPath.contains(b)))
      throw new java.io.IOException(s"injected failure creating $f")
  override def mkdirs(f: Path): Boolean = { check(f); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    check(f)
    super.mkdirs(f, permission)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}
object BlockPathFs {
  @volatile var blocked: Option[String] = None
}
