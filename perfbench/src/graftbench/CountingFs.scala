package graftbench

import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file://` filesystem that counts the Hadoop calls every layer makes.
  * Installed only in traced runs, through `spark.hadoop.fs.file.impl`.
  * Counters are JVM-global (tasks run in the driver JVM in local mode)
  * and read as deltas around each span. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def listStatus(f: Path): Array[FileStatus] = {
    bump(List)
    if (isManifestDir(f)) bump(ManifestList)
    super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    bump(Open)
    if (f.toString.contains("/_manifests/")) bump(ManifestOpen)
    super.open(f, bufferSize)
  }

  override def getFileStatus(f: Path): FileStatus = { bump(Status); super.getFileStatus(f) }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    bump(Create)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = { bump(Rename); super.rename(src, dst) }

  override def delete(f: Path, recursive: Boolean): Boolean = { bump(Delete); super.delete(f, recursive) }
}

object CountingFs {
  val List = 0; val Open = 1; val Status = 2; val Create = 3; val Rename = 4; val Delete = 5
  /** `ManifestCache` has no counters of its own: every cache lookup
    * lists `_manifests/v=N`, and every miss opens its parquet files. */
  val ManifestList = 6; val ManifestOpen = 7
  val Names: Seq[String] = Seq("list", "open", "status", "create", "rename", "delete",
    "manifest_list", "manifest_open")

  private val counts = new AtomicLongArray(Names.size)
  private def bump(i: Int): Unit = counts.incrementAndGet(i): Unit
  private def isManifestDir(p: Path): Boolean =
    p.getName.startsWith("v=") && p.getParent != null && p.getParent.getName == "_manifests"

  def snapshot(): Array[Long] = Array.tabulate(Names.size)(counts.get)
}
