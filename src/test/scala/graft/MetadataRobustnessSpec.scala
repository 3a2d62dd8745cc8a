package graft

import org.apache.hadoop.fs.Path
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import graft.operators.{ChunkStore, ManifestCache, ManifestStore, SnapshotStore}

/** Store metadata never disables or silently degrades a store: a stray
  * `v=` entry is ignored, a failed history-checkpoint update is logged
  * with the commit still published, and the manifest cache stays inside
  * its byte cap while serving exact reads. */
class MetadataRobustnessSpec extends SparkSpec {
  import spark.implicits._

  private def tmpBase(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"
  private def mkdirs(p: String): Unit = {
    val path = new Path(p)
    assert(path.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(path))
  }
  private def rows(ks: Range, tag: String) =
    ks.map(k => (k.toLong, s"$tag-$k")).toDF("k", "v")

  test("linked layout: a stray v=junk manifest entry is ignored") {
    val base = tmpBase("graft-stray-linked")
    val st = new ManifestStore(spark, base, "k")
    st.write(rows(1 to 20, "a"), 1L)
    mkdirs(s"$base/_manifests/v=junk")
    mkdirs(s"$base/_manifests/v=1_old")
    assert(st.versions() == Seq(1L))
    st.mergeDelta(1L, 2L, Seq((3L, "u")).toDF("k", "v"))
    assert(st.versions() == Seq(1L, 2L))
    assert(st.read(2L).filter($"k" === 3L).select("v").as[String].collect().toSeq == Seq("u"))
  }

  test("dir-per-version layout: a stray v=junk entry is ignored") {
    val base = tmpBase("graft-stray-dir")
    val st = new SnapshotStore(spark, base, "k")
    st.writeRangePartitioned(rows(1 to 20, "a"), 1L, 2)
    mkdirs(s"$base/v=junk")
    assert(st.versions() == Seq(1L))
    st.mergeDelta(1L, 2L, Seq((3L, "u")).toDF("k", "v"))
    assert(st.versions() == Seq(1L, 2L))
    assert(st.read(2L).count() == 20L)
  }

  test("chunk repository: a stray v=junk manifest entry is ignored") {
    val base = tmpBase("graft-stray-chunks")
    val store = new ChunkStore(spark, base, Array.fill[Byte](32)(7))
    store.backup(Seq((1L, "payload one".getBytes("UTF-8"))).toDF("id", "payload"),
      "id", "payload", 1L)
    mkdirs(s"$base/manifests/v=junk")
    assert(store.versions() == Seq(1L))
  }

  private def exists(p: String): Boolean = {
    val path = new Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  test("linked layout: a stray .tmp-repl-v=junk dir disables neither vacuum nor replicateTo") {
    val base = tmpBase("graft-stray-repl-linked")
    val mirror = tmpBase("graft-stray-repl-mirror")
    val st = new ManifestStore(spark, base, "k")
    st.write(rows(1 to 20, "a"), 1L)
    Seq(base, mirror).foreach(b => mkdirs(s"$b/_manifests/.tmp-repl-v=junk"))
    st.vacuum(): Unit
    val (_, _, copied, _) = st.replicateTo(mirror)
    assert(copied == Seq(1L))
    assert(new ManifestStore(spark, mirror, "k").read(1L).count() == 20L)
    // left alone, never guessed into a version
    assert(exists(s"$base/_manifests/.tmp-repl-v=junk"))
    assert(st.versions() == Seq(1L))
  }

  test("chunk repository: stray .tmp-repl-v= / .tmp-redact-v= dirs disable neither vacuum, replicateTo nor redact") {
    val base = tmpBase("graft-stray-tmp-chunks")
    val mirror = tmpBase("graft-stray-tmp-chunk-mirror")
    val store = new ChunkStore(spark, base, Array.fill[Byte](32)(7))
    store.backup(Seq((1L, "payload one".getBytes("UTF-8")), (2L, "payload two".getBytes("UTF-8")))
      .toDF("id", "payload"), "id", "payload", 1L)
    for (b <- Seq(base, mirror); kind <- Seq("repl", "redact"))
      mkdirs(s"$b/manifests/.tmp-$kind-v=junk")
    store.vacuum(): Unit
    val (_, _, copied, _) = store.replicateTo(mirror)
    assert(copied == Seq(1L))
    assert(store.redact(Seq(2L))._1 == 1)
    assert(store.restore(1L).select("id").as[Long].collect().toSeq == Seq(1L))
    assert(exists(s"$base/manifests/.tmp-redact-v=junk"))
    assert(store.versions() == Seq(1L))
  }

  /** Runs `body` with the store logger captured at WARN. */
  private def warnings(body: => Unit): Seq[String] = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = ctx.getLogger("graft.operators.store")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-capture", null, null, true, Property.EMPTY_ARRAY) {
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

  test("a failed history-checkpoint update is logged; the commit stays published") {
    for (linked <- Seq(true, false)) {
      val base = tmpBase("graft-ckpt-warn")
      val (publish, versions, history): (Long => Unit, () => Seq[Long], () => Long) =
        if (linked) {
          val st = new ManifestStore(spark, base, "k")
          ((v: Long) => st.write(rows(1 to 10, s"v$v"), v), () => st.versions(),
            () => st.history().count())
        } else {
          val st = new SnapshotStore(spark, base, "k")
          ((v: Long) => st.writeRangePartitioned(rows(1 to 10, s"v$v"), v, 1),
            () => st.versions(), () => st.history().count())
        }
      publish(1L)
      // a directory where the checkpoint file belongs makes its
      // replacement fail
      val ckpt = new Path(base, "_history.json")
      val fs = ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(ckpt, false)
      assert(fs.mkdirs(new Path(ckpt, "blocker")))
      val logged = warnings(publish(2L))
      val store = if (linked) "ManifestStore" else "SnapshotStore"
      assert(logged.exists(m => m.contains(store) && m.contains("version 2") &&
        m.contains("Exception")), logged)
      assert(versions() == Seq(1L, 2L))
      fs.delete(ckpt, true)
      assert(history() == 2L)
    }
  }

  test("the manifest cache holds at most its byte cap; an over-cap manifest is served uncached") {
    val base = tmpBase("graft-cache-cap")
    val st = new ManifestStore(spark, base, "k")
    st.write(rows(1 to 400, "a"), 1L, numFiles = 8)
    st.mergeDelta(1L, 2L, Seq((5L, "u")).toDF("k", "v"))
    // a publish seeds the JVM-wide cache with the rows it wrote
    assert(ManifestCache.cachedVersions(base).toSet == Set(1L, 2L))
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dir(v: Long) = new Path(s"$base/_manifests/v=$v")
    def truth(v: Long) = spark.read.parquet(dir(v).toString).collect().map(_.toSeq).toSet
    def served(c: ManifestCache, v: Long) =
      c.read(spark, fs, base, v, dir(v)).collect().map(_.toSeq).toSet

    val tiny = new ManifestCache(maxBytes = 16L)
    assert(served(tiny, 1L) == truth(1L))
    assert(tiny.cachedVersions(base).isEmpty && tiny.heldBytes == 0L)

    val probe = new ManifestCache(Long.MaxValue)
    served(probe, 1L)
    val one = probe.heldBytes
    val fitsOne = new ManifestCache(maxBytes = one + one / 2)
    assert(served(fitsOne, 1L) == truth(1L))
    assert(served(fitsOne, 2L) == truth(2L))
    assert(fitsOne.cachedVersions(base) == Seq(2L))
    assert(fitsOne.heldBytes <= one + one / 2)
    assert(served(fitsOne, 1L) == truth(1L))
    assert(fitsOne.cachedVersions(base) == Seq(1L))
  }

  /** `base` behind the fault-injecting scheme ([[FaultyCreateFs]]). */
  private def faulty(base: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultycreate.impl", classOf[FaultyCreateFs].getName)
    s"faultycreate:$base"
  }

  test("linked layout: a crash mid-copy of a mirror manifest rolls nothing forward; the next replicateTo lands it whole") {
    val base = tmpBase("graft-repl-crash")
    val mirror = tmpBase("graft-repl-crash-mirror")
    val st = new ManifestStore(spark, base, "k")
    st.write(rows(1 to 20, "a"), 1L)
    // the manifest copy writes one file, then its next create throws
    FaultyCreateFs.arm("/_manifests/", allow = 1)
    try intercept[java.io.IOException](st.replicateTo(faulty(mirror)))
    finally FaultyCreateFs.disarm()
    assert(!exists(s"$mirror/_manifests/.tmp-repl-v=1"))
    val target = new ManifestStore(spark, mirror, "k")
    target.recoverReplications()
    assert(target.versions().isEmpty)
    val (_, _, copied, _) = st.replicateTo(mirror)
    assert(copied == Seq(1L))
    assert(target.read(1L).select("k", "v").as[(Long, String)].collect().toSet ==
      st.read(1L).select("k", "v").as[(Long, String)].collect().toSet)
    assert(new Path(mirror).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(s"$mirror/_manifests")).map(_.getPath.getName).toSeq == Seq("v=1"))
  }

  test("chunk repository: a crash during rekeyTo's manifest copy leaves the target with no version") {
    val base = tmpBase("graft-rekey-crash")
    val store = new ChunkStore(spark, faulty(base), Array.fill[Byte](32)(7))
    store.backup(Seq((1L, "payload one".getBytes("UTF-8"))).toDF("id", "payload"),
      "id", "payload", 1L)
    store.backup(Seq((1L, "payload one".getBytes("UTF-8")), (2L, "payload two".getBytes("UTF-8")))
      .toDF("id", "payload"), "id", "payload", 2L)
    // version 1's manifest copies whole, then a create of version 2's fails
    val v1Files = new java.io.File(s"$base/manifests/v=1").listFiles().count(_.isFile)
    val target = s"$base-rekeyed"
    FaultyCreateFs.arm(target, allow = v1Files + 1, skip = "/chunks")
    try intercept[java.io.IOException](store.rekeyTo(faulty(target), Array.fill[Byte](32)(9)))
    finally FaultyCreateFs.disarm()
    assert(new ChunkStore(spark, target, Array.fill[Byte](32)(9)).versions().isEmpty)
  }
}

/** Test-only local FS whose creates can be armed to fail: once armed,
  * the creates whose path contains `pathPart` (and not `skip`) succeed
  * `allow` times, then the next one throws — a crash partway through a
  * copy, without mocking anything in the code under test. */
class FaultyCreateFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faultycreate:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    FaultyCreateFs.check(f.toString)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    FaultyCreateFs.check(f.toString)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}
object FaultyCreateFs {
  private var armed: Option[(String, String)] = None
  private var left = 0

  def arm(pathPart: String, allow: Int, skip: String = "\u0000"): Unit = synchronized {
    armed = Some((pathPart, skip))
    left = allow
  }

  def disarm(): Unit = synchronized { armed = None }

  private def check(path: String): Unit = synchronized {
    armed.filter { case (part, skip) => path.contains(part) && !path.contains(skip) }
      .foreach { _ =>
        if (left == 0) {
          armed = None
          throw new java.io.IOException(s"injected create failure: $path")
        }
        left -= 1
      }
  }
}
