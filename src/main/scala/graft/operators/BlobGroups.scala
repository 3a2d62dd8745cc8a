package graft.operators

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The resilience ladder both blob layouts share: XOR parity over a
  * group of immutable files ([[ManifestStore]]'s pool groups,
  * [[ChunkStore]]'s buckets), manifest copies that roll forward, and
  * legal holds. A store says only how it finds a group, where the
  * group's sidecar and aside live, and which lost file is damage.
  *
  * A sidecar dir holds `xor.bin` (the byte-wise XOR of the group's
  * files, each zero-padded to the longest) and `index.tsv`
  * (`name\tbytes\tmd5` lines sorted by name, no trailing newline). */
private[operators] object BlobGroups {

  /** (file name, bytes, md5 hex). */
  type Entry = (String, Long, String)

  /** A group's data dir, live sidecar dir, and the fresh staging and
    * aside paths of one publish. */
  final case class Group(files: Path, sidecar: Path, tmp: Path, aside: Path)

  private def xorBin(sidecar: Path) = new Path(sidecar, "xor.bin")
  private def indexTsv(sidecar: Path) = new Path(sidecar, "index.tsv")

  /** The non-hidden files directly in `dir`, by name; none when absent. */
  def fileNames(fs: FileSystem, dir: Path): Seq[String] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).filter(_.isFile).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toIndexedSeq

  private def contents(spark: SparkSession, files: Seq[Path]): Dataset[(String, Array[Byte])] = {
    val spark0 = spark
    import spark0.implicits._
    spark.read.format("binaryFile").load(files.map(_.toString): _*)
      .select(element_at(split(col("path"), "/"), -1).as("name"), col("content"))
      .as[(String, Array[Byte])]
  }

  private def entriesOf(ds: Dataset[(String, Array[Byte])]): Seq[Entry] = {
    import ds.sparkSession.implicits._
    ds.map(nc => (nc._1, nc._2.length.toLong, ChunkStore.md5hex(nc._2))).collect().toSeq
  }

  /** The index entries of `files`, re-derived from their bytes. */
  def entries(spark: SparkSession, files: Seq[Path]): Seq[Entry] =
    entriesOf(contents(spark, files))

  /** (XOR of `files`, their entries) from one read: the frame persists
    * across both actions, and the XOR reduce combines map-side. */
  private def xorOf(spark: SparkSession, files: Seq[Path]): (Array[Byte], Seq[Entry]) = {
    val spark0 = spark
    import spark0.implicits._
    val df = contents(spark, files)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val index = entriesOf(df)
      (df.map(_._2).reduce(ChunkStore.xorPad _), index)
    } finally df.unpersist(): Unit
  }

  private def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
  }

  /** A sidecar's index; empty when absent. */
  def readIndex(fs: FileSystem, sidecar: Path): Seq[Entry] =
    if (!fs.exists(indexTsv(sidecar))) Seq.empty
    else new String(readBytes(fs, indexTsv(sidecar)), "UTF-8").split("\n")
      .filter(_.nonEmpty).map { l =>
        val Array(n, len, m) = l.split("\t"); (n, len.toLong, m)
      }.toSeq

  /** False for a torn sidecar: an index without `xor.bin` (a partial
    * copy; publish writes both before its rename). */
  def hasParity(fs: FileSystem, sidecar: Path): Boolean = fs.exists(xorBin(sidecar))

  /** Write the sidecar into `tmp`, rename the live one ASIDE, rename
    * the new one in, delete the aside. A crash between the renames
    * leaves only the aside, which [[restoreAsides]] lands; a failed
    * rename-in restores it at once. */
  private def publish(fs: FileSystem, grp: Group, parity: Array[Byte], index: Seq[Entry]): Unit = {
    fs.mkdirs(grp.tmp)
    val out = fs.create(xorBin(grp.tmp), true)
    try out.write(parity) finally out.close()
    val idx = fs.create(indexTsv(grp.tmp), true)
    try idx.write(index.sortBy(_._1).map { case (n, len, m) => s"$n\t$len\t$m" }
      .mkString("\n").getBytes("UTF-8"))
    finally idx.close()
    fs.mkdirs(grp.sidecar.getParent)
    val hadOld = fs.exists(grp.sidecar)
    if (hadOld && !fs.rename(grp.sidecar, grp.aside))
      throw new java.io.IOException(s"parity retire failed: ${grp.sidecar}")
    if (!fs.rename(grp.tmp, grp.sidecar)) {
      if (hadOld) fs.rename(grp.aside, grp.sidecar): Unit
      throw new java.io.IOException(s"parity publish failed: ${grp.sidecar}")
    }
    if (hadOld) fs.delete(grp.aside, true): Unit
  }

  /** Every aside in `dir` named `<prefix><rest>` belongs to the live
    * sidecar `live(rest)`. With no live sidecar it IS the previous
    * complete one: restore it; beside a live one the publish
    * completed: retire it. */
  def restoreAsides(fs: FileSystem, dir: Path, prefix: String)(live: String => Path): Unit =
    if (fs.exists(dir))
      fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith(prefix)).foreach { aside =>
        val to = live(aside.getName.stripPrefix(prefix))
        fs.mkdirs(to.getParent)
        if (!fs.exists(to)) fs.rename(aside, to): Unit
        else fs.delete(aside, true): Unit
      }

  def build(spark: SparkSession, fs: FileSystem, grp: Group, names: Seq[String]): Unit = {
    val (parity, index) = xorOf(spark, names.map(new Path(grp.files, _)))
    publish(fs, grp, parity, index)
  }

  sealed trait Maintained
  case object Current extends Maintained
  case object Folded extends Maintained
  case object Rebuilt extends Maintained
  case object Skipped extends Maintained

  /** One group's maintenance over its present files `names`: a lost
    * indexed file that `isDamage` names skips the group (rebuilding
    * would overwrite the only parity able to reconstruct it); no, a
    * torn, or a sidecar whose lost files were all reclaimed rebuilds;
    * otherwise new files fold in as parity ⊕ (⊕ new files). */
  def maintain(spark: SparkSession, fs: FileSystem, grp: Group, names: Seq[String],
      isDamage: String => Boolean): Maintained = {
    val index = readIndex(fs, grp.sidecar)
    val indexed = index.map(_._1).toSet
    val lost = indexed.filterNot(names.toSet)
    val fresh = names.filterNot(indexed)
    if (lost.exists(isDamage)) Skipped
    else if (index.isEmpty || lost.nonEmpty || !hasParity(fs, grp.sidecar)) {
      build(spark, fs, grp, names)
      Rebuilt
    } else if (fresh.isEmpty) Current
    else {
      val (freshXor, freshIdx) = xorOf(spark, fresh.map(new Path(grp.files, _)))
      publish(fs, grp, ChunkStore.xorPad(readBytes(fs, xorBin(grp.sidecar)), freshXor),
        index ++ freshIdx)
      Folded
    }
  }

  sealed trait Repair
  case object Intact extends Repair
  final case class Repaired(path: String) extends Repair
  case object Unrepairable extends Repair

  /** Exactly one indexed file absent from `present` rebuilds as
    * parity ⊕ survivors, md5-verified before a tmp+rename lands it.
    * Everything else that can go wrong (two losses, a torn sidecar, an
    * entry past in-memory assembly's 2 GiB, a failed verify, a read
    * error) is a per-group refusal that never aborts other groups. */
  def repair(spark: SparkSession, fs: FileSystem, grp: Group,
      present: String => Boolean): Repair = {
    val index = readIndex(fs, grp.sidecar)
    index.filterNot(e => present(e._1)) match {
      case Seq() => Intact
      case Seq((lostName, lostLen, lostMd5)) =>
        try {
          if (lostLen > Int.MaxValue.toLong)
            throw new java.io.IOException(
              s"$lostName is $lostLen bytes — beyond in-memory parity assembly")
          val parity = readBytes(fs, xorBin(grp.sidecar))
          val survivors = index.map(_._1).filter(present)
          val survivorXor =
            if (survivors.isEmpty) Array.empty[Byte]
            else xorOf(spark, survivors.map(new Path(grp.files, _)))._1
          val rebuilt = java.util.Arrays.copyOf(
            ChunkStore.xorPad(parity, survivorXor), lostLen.toInt)
          if (ChunkStore.md5hex(rebuilt) != lostMd5) Unrepairable
          else {
            val dst = new Path(grp.files, lostName)
            val tmp = new Path(grp.files, s".$lostName.tmp-${java.util.UUID.randomUUID()}")
            val out = fs.create(tmp, true)
            try out.write(rebuilt) finally out.close()
            if (!fs.rename(tmp, dst))
              throw new java.io.IOException(s"repair publish failed: $lostName")
            Repaired(dst.toString)
          }
        } catch {
          case scala.util.control.NonFatal(_) => Unrepairable
        }
      case _ => Unrepairable
    }
  }

  def streamMd5(fs: FileSystem, p: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Land version `v` under the manifests `root`: `fill` writes the
    * whole replacement into `.tmp-<kind>-v=<v>`, then the live dir is
    * deleted and the tmp renamed in, so the delete→rename crash window
    * rolls forward ([[rollForward]]). */
  def landVersion(fs: FileSystem, root: Path, kind: String, v: Long)(fill: Path => Unit): Unit = {
    val tmp = new Path(root, s".tmp-$kind-v=$v")
    fs.delete(tmp, true) // leftover from an earlier crashed attempt
    fill(tmp)
    val live = new Path(root, s"v=$v")
    fs.delete(live, true)
    if (!fs.rename(tmp, live))
      throw new java.io.IOException(s"$kind publish failed: $tmp -> $live")
  }

  /** Lands every version `dst` lacks as a verbatim copy of `src`'s,
    * then re-copies the common ones `stale` flags. Returns both lists. */
  def syncManifests(spark: SparkSession, srcFs: FileSystem, src: Path, srcVs: Seq[Long],
      fs: FileSystem, dst: Path, dstVs: Seq[Long])(
      stale: Seq[Long] => Seq[Long]): (Seq[Long], Seq[Long]) = {
    val (copied, recopied) = (srcVs.diff(dstVs), stale(srcVs.intersect(dstVs)))
    (copied ++ recopied).foreach(v => landVersion(fs, dst, "repl", v) { tmp =>
      if (!FileUtil.copy(srcFs, new Path(src, s"v=$v"), fs, tmp, false,
          spark.sparkContext.hadoopConfiguration))
        throw new java.io.IOException(s"replicate manifest copy failed: v=$v -> $tmp")
    })
    (copied, recopied)
  }

  /** Each `.tmp-<kind>-v=<v>` under `root` lands when `v=<v>` is
    * missing and is discarded when it is live; one naming no version
    * is a stray, left alone. */
  def rollForward(fs: FileSystem, root: Path, kind: String): Unit = {
    val prefix = s".tmp-$kind-"
    if (fs.exists(root))
      fs.listStatus(root).toSeq.map(_.getPath).filter(_.getName.startsWith(prefix))
        .foreach { tmp =>
          SnapshotStore.versionOf(tmp.getName.stripPrefix(prefix)).foreach { v =>
            val live = new Path(root, s"v=$v")
            if (!fs.exists(live)) {
              if (!fs.rename(tmp, live))
                throw new java.io.IOException(s"$kind recovery failed: $tmp -> $live")
            } else fs.delete(tmp, true): Unit
          }
        }
  }

  private def holdsDir(base: String) = new Path(base, "_holds")

  /** One empty `_holds/<version>` marker per held version; `exists`
    * says the store holds that version. */
  def hold(fs: FileSystem, base: String, version: Long, exists: Boolean): Unit = {
    require(exists, s"version $version does not exist")
    fs.mkdirs(holdsDir(base))
    val out = fs.create(new Path(holdsDir(base), version.toString), true)
    try out.write(Array.emptyByteArray) finally out.close()
  }

  def release(fs: FileSystem, base: String, version: Long): Unit =
    fs.delete(new Path(holdsDir(base), version.toString), false): Unit

  def holds(fs: FileSystem, base: String): Seq[Long] =
    if (!fs.exists(holdsDir(base))) Seq.empty
    else fs.listStatus(holdsDir(base)).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted.toSeq
}
