package graft

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import graft.operators.{ManifestStore, SnapshotStore, VersionedStore}

/** Audit metadata fails loudly: a commit whose `_op.json` cannot be
  * written does not publish (and a retry does), and a history
  * checkpoint that cannot be invalidated is logged. */
class AuditSidecarFailureSpec extends SparkSpec {
  import spark.implicits._

  private def tmpBase(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"
  private def rows(ks: Range, tag: String) =
    ks.map(k => (k.toLong, s"$tag-$k")).toDF("k", "v")

  test("a commit whose op sidecar cannot be written throws and publishes nothing; a retry publishes") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.failop.impl", classOf[FailOpSidecarFs].getName)
    for (linked <- Seq(true, false)) {
      val base = "failop:" + tmpBase("graft-op-fail")
      val st: VersionedStore =
        if (linked) {
          val m = new ManifestStore(spark, base, "k")
          m.write(rows(1 to 20, "a"), 1L, numFiles = 2)
          m
        } else {
          val s = new SnapshotStore(spark, base, "k")
          s.writeRangePartitioned(rows(1 to 20, "a"), 1L, 2)
          s
        }
      val delta = Seq((3L, "u")).toDF("k", "v")
      FailOpSidecarFs.armed = true
      val err = try intercept[java.io.IOException](st.mergeDelta(1L, 2L, delta))
        finally FailOpSidecarFs.armed = false
      assert(err.getMessage.contains("_op.json"), err.getMessage)
      assert(st.versions() == Seq(1L), s"${st.layout}: a commit without its audit record published")
      st.mergeDelta(1L, 2L, delta)
      assert(st.versions() == Seq(1L, 2L))
      assert(st.history().filter($"version" === 2L).select("operation").as[String]
        .collect().toSeq == Seq("mergeDelta"))
      assert(st.read(2L).filter($"k" === 3L).select("v").as[String].collect().toSeq == Seq("u"))
      // a metadata-only commit goes through the same publish
      FailOpSidecarFs.armed = true
      val err2 = try intercept[java.io.IOException](st.renameColumn(2L, 3L, "v", "w"))
        finally FailOpSidecarFs.armed = false
      assert(err2.getMessage.contains("_op.json"), err2.getMessage)
      assert(st.versions() == Seq(1L, 2L), s"${st.layout}: a rename without its audit record published")
      st.renameColumn(2L, 3L, "v", "w")
      assert(st.versions() == Seq(1L, 2L, 3L))
      assert(st.history().filter($"version" === 3L).select("operation").as[String]
        .collect().toSeq == Seq("renameColumn"))
      assert(st.read(3L).filter($"k" === 3L).select("w").as[String].collect().toSeq == Seq("u"))
    }
  }

  /** Runs `body` with the store logger captured at WARN. */
  private def warnings(body: => Unit): Seq[String] = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = ctx.getLogger("graft.operators.store")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-capture-inv", null, null, true, Property.EMPTY_ARRAY) {
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

  /** A directory (with an entry) where the checkpoint file belongs: its
    * removal fails. */
  private def blockCheckpoint(base: String): Unit = {
    val ckpt = new Path(base, "_history.json")
    val fs = ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(ckpt, false)
    assert(fs.mkdirs(new Path(ckpt, "blocker")))
  }

  test("a checkpoint invalidation that fails is logged, on compact and on prune") {
    val sb = tmpBase("graft-inv-snap")
    val snap = new SnapshotStore(spark, sb, "k")
    snap.writeRangePartitioned(rows(1 to 40, "a"), 1L, 4)
    blockCheckpoint(sb)
    val onCompact = warnings(snap.compact(1L))
    assert(onCompact.exists(m => m.contains("SnapshotStore") &&
      m.contains("invalidation failed") && m.contains("Exception")), onCompact)
    assert(snap.versions() == Seq(1L) && snap.read(1L).count() == 40L)

    val lb = tmpBase("graft-inv-linked")
    val linked = new ManifestStore(spark, lb, "k")
    linked.write(rows(1 to 20, "a"), 1L, numFiles = 2)
    linked.mergeDelta(1L, 2L, Seq((3L, "u")).toDF("k", "v"))
    blockCheckpoint(lb)
    val onPrune = warnings(linked.prune(Seq(2L)))
    assert(onPrune.exists(m => m.contains("ManifestStore") &&
      m.contains("invalidation failed")), onPrune)
    assert(linked.versions() == Seq(2L))
  }
}

/** Local filesystem under the `failop:` scheme whose create of an
  * `_op.json` file fails while armed. Statuses carry their permission
  * eagerly: the local status loads it lazily through a `file:` URI,
  * which a path under another scheme cannot give. */
class FailOpSidecarFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failop:///")
  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, FsPermission.getDefault, "", "", s.getPath)
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
  private def check(f: Path): Unit =
    if (FailOpSidecarFs.armed && f.getName == "_op.json")
      throw new java.io.IOException(s"injected failure creating $f")
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
object FailOpSidecarFs {
  @volatile var armed: Boolean = false
}
