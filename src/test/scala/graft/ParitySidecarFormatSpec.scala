package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import graft.operators.{ChunkStore, ManifestStore}

/** The parity sidecar's on-disk format, written by hand from its
  * documented layout and read back by both stores: a sidecar dir holds
  * `xor.bin` (the byte-wise XOR of the group's files, each zero-padded
  * to the longest) and `index.tsv` (`name\tbytes\tmd5` lines sorted by
  * name, no trailing newline). Sidecars and parked asides written in
  * this layout must keep repairing, maintaining and recovering, and a
  * build must write exactly these bytes. */
class ParitySidecarFormatSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(base: String): FileSystem =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bytesOf(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
  }

  private def md5(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  /** (xor.bin, index.tsv) of the named files under `dir`, per the
    * documented layout. */
  private def expected(fs: FileSystem, dir: Path, names: Seq[String]): (Seq[Byte], String) = {
    val files = names.sorted.map(n => n -> bytesOf(fs, new Path(dir, n)))
    val xor = new Array[Byte](files.map(_._2.length).max)
    files.foreach { case (_, b) => b.indices.foreach(i => xor(i) = (xor(i) ^ b(i)).toByte) }
    (xor.toSeq, files.map { case (n, b) => s"$n\t${b.length}\t${md5(b)}" }.mkString("\n"))
  }

  private def write(fs: FileSystem, sidecar: Path, sc: (Seq[Byte], String)): Unit = {
    fs.mkdirs(sidecar)
    Seq("xor.bin" -> sc._1.toArray, "index.tsv" -> sc._2.getBytes("UTF-8")).foreach {
      case (f, b) =>
        val out = fs.create(new Path(sidecar, f), true)
        try out.write(b) finally out.close()
    }
  }

  private def read(fs: FileSystem, sidecar: Path): (Seq[Byte], String) =
    (bytesOf(fs, new Path(sidecar, "xor.bin")).toSeq,
      new String(bytesOf(fs, new Path(sidecar, "index.tsv")), "UTF-8"))

  private def dataNames(fs: FileSystem, dir: Path): Seq[String] =
    fs.listStatus(dir).filter(_.isFile).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq.sorted

  /** Hand-writes every group's sidecar (the first one parked as the
    * layout's publish-crash aside), then checks the store reads them:
    * maintenance finds every group current after recovering the aside,
    * a single loss repairs byte-identically, a build rewrites the same
    * bytes, and folding appended files gives the from-scratch bytes.
    * `groups` maps a group's live sidecar dir to its data dir and
    * files; `aside` names the parked path of a live sidecar dir. */
  private def checkFormat(fs: FileSystem, groups: () => Map[Path, (Path, Seq[String])],
      aside: Path => Path, maintain: () => (Long, Long), repair: () => Int,
      build: () => Unit, append: () => Unit): Unit = {
    def want() = groups().map { case (sc, (dir, ns)) => sc -> expected(fs, dir, ns) }
    val hand = want()
    assert(hand.size >= 2, s"need two groups, got ${hand.keys}")
    val parked = hand.keys.minBy(_.toString)
    hand.foreach { case (sc, e) => write(fs, if (sc == parked) aside(sc) else sc, e) }
    assert(!fs.exists(parked))
    // aside recovery lands the parked sidecar; every index then covers
    // its group exactly, so maintenance has nothing to do
    assert(maintain() == ((0L, 0L)))
    assert(fs.exists(parked) && !fs.exists(aside(parked)))
    assert(hand.forall { case (sc, e) => read(fs, sc) == e })
    // a single loss repairs from the hand-written parity
    val (dir, names) = groups()(parked)
    val victim = new Path(dir, names.head)
    val victimBytes = bytesOf(fs, victim).toSeq
    fs.delete(victim, false)
    assert(repair() == 1)
    assert(bytesOf(fs, victim).toSeq == victimBytes)
    // a from-scratch build writes the documented bytes
    hand.keys.foreach(fs.delete(_, true))
    build()
    assert(hand.forall { case (sc, e) => read(fs, sc) == e })
    // appended files fold into exactly what a build over all files writes
    append()
    maintain()
    assert(want().forall { case (sc, e) => read(fs, sc) == e })
  }

  test("linked pool: hand-written sidecars and asides read back; build and fold write the same bytes") {
    val base = java.nio.file.Files.createTempDirectory("graft-parity-format").toString
    val store = new ManifestStore(spark, base, "k")
    store.write((1L to 400L).map(k => (k, s"a$k")).toDF("k", "v"), 1L, numFiles = 8)
    val fs = fsOf(base)
    val pool = new Path(s"$base/files")
    checkFormat(fs,
      () => dataNames(fs, pool).groupBy(_.take(1)).map { case (g, ns) =>
        new Path(s"$base/_pool_parity/g=$g") -> ((pool, ns))
      },
      sc => new Path(s"$base/.tmp-parityold-${sc.getName}-0123abcd"),
      () => { val (i, r, s) = store.updateParity(); assert(s.isEmpty); (i, r) },
      () => store.repairFromParity()._1.size,
      () => store.buildParity(): Unit,
      () => store.mergeDelta(1L, 2L, Seq((5L, "b5"), (900L, "n900")).toDF("k", "v")): Unit)
  }

  test("chunk buckets: hand-written sidecars and asides read back; build and fold write the same bytes") {
    val base = java.nio.file.Files.createTempDirectory("graft-parity-format-chunks").toString
    val store = new ChunkStore(spark, base, Array.fill[Byte](32)(3), nBuckets = 4)
    def payloads(tag: String) = (1L to 6L)
      .map(i => (i, (0 until 30).map(j => s"$tag-$i-$j").mkString(" ").getBytes("UTF-8")))
      .toDF("id", "payload")
    store.backup(payloads("a"), "id", "payload", 1L)
    val fs = fsOf(base)
    checkFormat(fs,
      () => fs.listStatus(new Path(s"$base/chunks")).map(_.getPath)
        .filter(_.getName.startsWith("bucket=")).map(b => b -> dataNames(fs, b))
        .filter(_._2.nonEmpty).map { case (b, ns) => new Path(b, "_parity") -> ((b, ns)) }
        .toMap,
      sc => new Path(sc.getParent, "._parity.old-0123abcd"),
      () => store.updateParity(),
      () => store.repairFromParity()._1.size,
      () => store.buildParity(): Unit,
      () => store.backup(payloads("b"), "id", "payload", 2L): Unit)
  }
}
