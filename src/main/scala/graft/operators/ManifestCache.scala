package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.ParquetSchemas
import org.apache.spark.sql.types.StructType

/** JVM-wide cache of PARSED per-version manifests (guide §6: metadata
  * costs — the snap block pays a `spark.read.parquet` + collect of the
  * same few-hundred-row manifest once per consumer per run, each a
  * full driver round-trip of file listing, footer reads and a
  * one-task job; at 79 snap entries × several manifest reads each
  * that is the broadest per-entry constant in the suite).
  *
  * INVALIDATION CONTRACT — self-validating, no cooperation from the
  * maintenance verbs required: every access re-lists the manifest
  * directory (one metadata call, orders of magnitude cheaper than the
  * read it replaces) and compares a fingerprint of the visible data
  * files (name, length, mtime). Any retention / vacuum / replicate /
  * swap that deletes or replaces the directory changes the listing —
  * freshly written manifests carry per-write unique part-file names —
  * so a cached entry can never serve a pruned or swapped version:
  * mismatch ⇒ reload, missing dir ⇒ the caller's own existence check
  * fails exactly as it did uncached (spec: ManifestCacheSpec).
  *
  * The cached value is the COLLECTED manifest (schema + rows), served
  * as a local relation: joins against it broadcast naturally and
  * collect() needs no file I/O. A publishing store SEEDS the entry
  * with the rows it just wrote, so a fresh version's first read costs
  * only the listing. A miss reads the listed files under the schema of
  * the footer the listing already found (no inference job, no second
  * listing). The cache is LRU-capped
  * by the estimated size of the collected rows, [[MaxBytes]]; a
  * manifest larger than the whole cap is served uncached. The
  * snapshot layout's zone maps (its per-file manifest) are cached the
  * same way, keyed by their directory. */
object ManifestCache {
  /** Cap on the estimated JVM size of all cached rows. */
  val MaxBytes: Long = 64L << 20

  private val shared = new ManifestCache(MaxBytes)

  /** The manifest of (`base`, `version`) as a DataFrame — cached when
    * the directory fingerprint matches, re-read otherwise. Errors
    * (missing dir, unreadable parquet) propagate exactly as uncached. */
  def read(spark: SparkSession, fs: FileSystem, base: String, version: Long,
      dir: Path): DataFrame = shared.read(spark, fs, base, version, dir)

  /** Seed (`base`, `version`) with the rows a publish just wrote; the
    * fingerprint comes from the listing of the written files. */
  def seed(base: String, version: Long, written: Seq[FileStatus],
      schema: StructType, rows: Array[Row]): Unit =
    shared.seed(base, version, written, schema, rows)

  /** Drop every cached version of a store — not needed for correctness
    * (reads self-validate) but keeps memory honest on teardown. */
  def invalidate(base: String): Unit = shared.invalidate(base)

  private[graft] def cachedVersions(base: String): Seq[Long] =
    shared.cachedVersions(base)

  /** Data files `spark.read.parquet(dir)` would serve: non-hidden
    * direct children. */
  private[operators] def visible(listing: Seq[FileStatus]): Seq[FileStatus] =
    listing.filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
}

/** One byte-capped manifest cache; the JVM-wide instance is
  * [[ManifestCache$]]. */
private[graft] final class ManifestCache(maxBytes: Long) {
  private case class Entry(fingerprint: String, schema: StructType, rows: Array[Row],
      bytes: Long)

  private var held = 0L
  private val cache =
    new java.util.LinkedHashMap[(String, Long), Entry](64, 0.75f, true)

  /** Listing fingerprint over the visible files; None when the layout
    * is unexpected (a non-hidden subdirectory) — the caller then
    * bypasses the cache entirely rather than guess. */
  private def fingerprintOf(files: Seq[FileStatus]): Option[String] =
    if (files.exists(_.isDirectory)) None
    else Some(files.map(s =>
        s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|"))

  def read(spark: SparkSession, fs: FileSystem, base: String, version: Long,
      dir: Path): DataFrame = {
    val files = ManifestCache.visible(fs.listStatus(dir).toSeq)
    fingerprintOf(files) match {
      case None => ParquetSchemas.read(spark, dir.toString)
      case Some(fp) =>
        val key = (base, version)
        val entry = synchronized(Option(cache.get(key))).filter(_.fingerprint == fp)
          .getOrElse {
            val df = ParquetSchemas.readListed(spark, dir, files, None)
            val e = entryOf(fp, df.schema, df.collect())
            put(key, e)
            e
          }
        spark.createDataFrame(java.util.Arrays.asList(entry.rows: _*), entry.schema)
    }
  }

  def seed(base: String, version: Long, written: Seq[FileStatus],
      schema: StructType, rows: Array[Row]): Unit =
    fingerprintOf(ManifestCache.visible(written)).foreach(fp =>
      put((base, version), entryOf(fp, ParquetSchemas.asRead(schema), rows)))

  private def entryOf(fp: String, schema: StructType, rows: Array[Row]): Entry =
    Entry(fp, schema, rows, org.apache.spark.util.SizeEstimator.estimate(rows))

  /** Insert, then evict least-recently-used entries down to the cap;
    * an entry larger than the whole cap is not kept. */
  private def put(key: (String, Long), e: Entry): Unit = synchronized {
    Option(cache.remove(key)).foreach(old => held -= old.bytes)
    if (e.bytes <= maxBytes) {
      cache.put(key, e)
      held += e.bytes
      val it = cache.values().iterator()
      while (held > maxBytes && it.hasNext) {
        held -= it.next().bytes
        it.remove()
      }
    }
  }

  def invalidate(base: String): Unit = synchronized {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == base) { held -= e.getValue.bytes; it.remove() }
    }
  }

  def cachedVersions(base: String): Seq[Long] = synchronized {
    import scala.jdk.CollectionConverters._
    cache.keySet().asScala.toSeq.collect { case (`base`, v) => v }
  }

  def heldBytes: Long = synchronized(held)
}
