package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetSchemas
import org.apache.spark.sql.types._

import graft.operators.{ManifestCache, ManifestStore, SnapshotStore, VersionedStore}

/** A commit's metadata — the manifest on the linked layout, the zone
  * map on the snapshot layout, the history's operationMetrics — is
  * taken from the landed files' footers and the rewrite's own counts
  * and written on the driver. Every landing verb must still record
  * exactly what Spark's per-file aggregation and the merge's key pass
  * give, in sidecars every reader reads unchanged. */
class CommitMetadataSpec extends SparkSpec {
  import spark.implicits._

  private val statsCols = Seq("i", "d", "s", "dec", "big", "ts", "x", "n", "gone")

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("i", IntegerType), StructField("d", DateType),
    StructField("s", StringType), StructField("dec", DecimalType(12, 2)),
    StructField("big", DecimalType(25, 3)), StructField("ts", TimestampType),
    StructField("x", DoubleType), StructField("n", IntegerType),
    StructField("gone", StringType)))

  /** Rows over every stats type: signed ints, dates, multi-byte and
    * one over-4-KB string, both decimal encodings, timestamps, doubles
    * with NaN and signed zeros, sparse nulls and an all-null column. */
  private def rows(keys: Seq[Long], tag: String): DataFrame = {
    val data = keys.map { k =>
      Row(k, (k % 13 - 6).toInt, java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(k)),
        if (k == 7L) "z" * 5000 else s"$tag-é-$k",
        BigDecimal(k * 3 - 40, 2).bigDecimal, BigDecimal(k * 7919, 3).bigDecimal,
        new java.sql.Timestamp(1600000000000L + k * 1000L),
        if (k % 50 == 0) Double.NaN else if (k % 37 == 0) -0.0 else k * 0.25 - 3.0,
        if (k % 3 == 0) null else (k * 2).toInt,
        null)
    }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  private def tmpBase(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The per-file statistics Spark's own aggregation computes over a
    * version's data files, in the layout's column order — the
    * reference for its sidecar rows. */
  private def referenceFrame(st: VersionedStore, v: Long, cols: Seq[String]): DataFrame = {
    val aggs = Seq(min(col("k")).as("min_key"), max(col("k")).as("max_key"),
      count(lit(1)).as("n_rows")) ++
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    st match {
      case _: ManifestStore =>
        ParquetSchemas.readFiles(spark, st.dataPaths(v))
          .select((input_file_name().as("__f") +: col("k") +: cols.map(col)): _*)
          .groupBy("__f").agg(aggs.head, aggs.tail: _*)
          .withColumn("file", element_at(split(col("__f"), "/"), -1)).drop("__f")
      case _ =>
        ParquetSchemas.readFiles(spark, st.dataPaths(v))
          .select((input_file_name().as("file") +: col("k") +: cols.map(col)): _*)
          .groupBy("file").agg(aggs.head, aggs.tail: _*)
    }
  }

  private def reference(st: VersionedStore, v: Long, cols: Seq[String]): Seq[Row] =
    if (st.dataPaths(v).isEmpty) Nil else sorted(referenceFrame(st, v, cols))

  private def sorted(df: DataFrame): Seq[Row] = {
    val names = df.columns.toSeq.filterNot(_ == "file").sorted
    df.select(("file" +: names).map(col): _*).collect().toSeq.sortBy(_.getString(0))
  }

  private def sidecarRows(st: VersionedStore, v: Long): DataFrame = st match {
    case m: ManifestStore => m.manifest(v)
    case s: SnapshotStore => s.zoneMap(v).get
  }

  private def assertStats(st: VersionedStore, v: Long, what: String): Unit = {
    val got = sorted(sidecarRows(st, v))
    val want = reference(st, v, colsOf(st))
    assert(got.size == want.size, s"${st.layout} $what: ${got.size} rows, want ${want.size}")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"${st.layout} $what:\n$g\n$w") }
  }

  private def metricsOf(st: VersionedStore, v: Long): Map[String, Long] =
    st.history().filter(col("version") === v).select("operation_metrics")
      .head().getMap[String, Long](0).toMap

  /** Delta's MERGE counts by the key pass: rows of `from` whose key the
    * merge addresses (updated + deleted), deleted ones, inserted keys. */
  private def keyPass(st: VersionedStore, from: Long, delta: DataFrame,
      dels: Option[DataFrame]): Map[String, Long] = {
    val upKeys = delta.select("k").distinct()
    val delKeys = dels.fold(upKeys.limit(0))(_.select(col("k")).distinct())
    val upserts = upKeys.join(delKeys, Seq("k"), "left_anti")
    val base = st.read(from).select("k")
    val deleted = base.join(delKeys, Seq("k"), "left_semi").count()
    val updated = base.join(upserts, Seq("k"), "left_semi").count()
    Map("numTargetRowsUpdated" -> updated, "numTargetRowsDeleted" -> deleted,
      "numTargetRowsInserted" -> math.max(0L, upserts.count() - updated))
  }

  private def assertMerge(st: VersionedStore, from: Long, delta: DataFrame,
      dels: Option[DataFrame]): Unit = {
    val want = keyPass(st, from, delta, dels)
    st.mergeDelta(from, from + 1, delta, dels)
    val got = metricsOf(st, from + 1).filter { case (k, _) => want.contains(k) }
    assert(got == want, s"${st.layout} merge onto v${from + 1}")
    assertStats(st, from + 1, s"merge v${from + 1}")
  }

  /** The stats columns a store records: the manifest's or zone map's
    * `min_` columns. */
  private def colsOf(st: VersionedStore): Seq[String] =
    sidecarRows(st, st.versions().head).columns.toSeq
      .filter(c => c.startsWith("min_") && c != "min_key").map(_.drop(4))

  private def stores(tag: String, cols: Seq[String]): Seq[VersionedStore] = {
    val linked = new ManifestStore(spark, tmpBase(s"graft-cm-$tag-l"), "k", cols)
    linked.write(rows(1L to 400L, "a"), 1L, numFiles = 4)
    val snap = new SnapshotStore(spark, tmpBase(s"graft-cm-$tag-s"), "k")
    snap.writeRangePartitioned(rows(1L to 400L, "a"), 1L, 4, cols)
    Seq(linked, snap)
  }

  /** Columns whose footer bounds are provably Spark's min/max (integral,
    * date, all-null) — the footer path — and every column, which sends
    * every file to the scan. */
  private val colSets = Seq("footer" -> Seq("i", "d", "n", "gone"), "scan" -> statsCols)

  for ((tag, cols) <- colSets)
  test(s"every landing verb records the per-file statistics Spark's aggregation computes ($tag)") {
    stores(tag, cols).foreach { st =>
      assertStats(st, 1L, "write")
      // duplicate delta keys, updates scattered over every file, appends
      val dup = rows(Seq(5L, 5L, 120L, 399L, 401L, 402L), "b")
      assertMerge(st, 1L, dup, None)
      // the sync's per-batch merge: an empty delete-key frame
      assertMerge(st, 2L, rows(Seq(10L, 250L), "c"), Some(Seq.empty[Long].toDF("k")))
      assertMerge(st, 3L, rows(Seq(11L, 300L), "d"), Some(Seq(12L, 300L, 390L).toDF("k")))
      st match {
        case m: ManifestStore => m.deleteWhere(4L, 5L, col("k").between(100L, 180L), mode = "cow")
        case s: SnapshotStore => s.deleteWhere(4L, 5L, col("k").between(100L, 180L), mode = "cow")
      }
      assertStats(st, 5L, "deleteWhere")
      // a deletion vector on the source: the merge keeps its key pass
      st match {
        case m: ManifestStore => m.deleteWhere(5L, 6L, col("k") === 20L, mode = "dv")
        case s: SnapshotStore => s.deleteWhere(5L, 6L, col("k") === 20L, mode = "dv")
      }
      assert(st.dvFrame(6L).isDefined)
      assertMerge(st, 6L, rows(Seq(20L, 21L, 22L, 500L), "e"), None)
      st match {
        case m: ManifestStore =>
          m.compact(7L, 8L, minBytes = Long.MaxValue)
          assertStats(m, 8L, "compact")
        case s: SnapshotStore =>
          s.compact(7L, targetBytes = 1L << 30)
          assertStats(s, 7L, "compact")
          s.restoreVersion(7L, 8L)
      }
      // an all-delete rewrite: every key deleted, nothing lands
      val all = st.read(8L).select("k")
      assertMerge(st, 8L, rows(Nil, "f"), Some(all))
      assert(st.read(9L).count() == 0L)
      assert(st.history().filter(col("version") === 9L).select("n_rows").head().getLong(0) == 0L)
    }
  }

  test("a merge's operationMetrics and history rows equal the key pass and the rebuilt entry") {
    stores("hist", statsCols).foreach { st =>
      assertMerge(st, 1L, rows(Seq(3L, 3L, 3L, 200L, 600L), "g"), None)
      assertMerge(st, 2L, rows(Seq(4L, 601L), "h"), Some(Seq(4L, 5L, 999L).toDF("k")))
      st match {
        case s: SnapshotStore =>
          // a zone map rebuilt over a DV'd version counts its stored
          // rows, so a merge carrying them records the footers' counts
          s.deleteWhere(3L, 4L, col("k") === 50L, mode = "dv")
          s.buildZoneMap(4L, statsCols)
          assertMerge(s, 4L, rows(Seq(399L), "j"), None)
        case _ =>
      }
      val served = st.history().collect().toSeq
      // the checkpoint rebuilds every entry from the versions themselves
      fsOf(st.basePath).delete(new Path(st.basePath, "_history.json"), false)
      assert(st.history().collect().toSeq == served, st.layout)
    }
  }

  test("footer statistics are proven for integral, date and all-null columns, else left to the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cm-footer").toString
    rows(30L to 90L, "p").coalesce(1).write.parquet(s"$dir/plain")
    val plain = fsOf(dir).listStatus(new Path(s"$dir/plain")).map(_.getPath)
      .filter(_.getName.startsWith("part-")).head
    def footer(c: String) =
      ParquetSchemas.footerStats(spark, Seq(plain), Seq(c)).head.minMax.map(_(c))
    for (c <- Seq("k", "i", "d", "n", "gone")) {
      val r = ParquetSchemas.readFiles(spark, Seq(plain.toString)).agg(min(c), max(c)).head()
      assert(footer(c) == Some((r.get(0), r.get(1))), c)
    }
    assert(ParquetSchemas.footerStats(spark, Seq(plain), Seq("k")).head.rows == 61L)
    // strings (truncated bounds), decimals, timestamps, doubles: scanned
    for (c <- Seq("s", "dec", "big", "ts", "x")) assert(footer(c).isEmpty, c)
    // one unproven column sends the whole file to the scan
    assert(ParquetSchemas.footerStats(spark, Seq(plain), Seq("k", "s")).head.minMax.isEmpty)
  }

  test("a merge onto an Int key takes wider (Long) delete keys") {
    def data(ks: Seq[Int], v: String) = ks.map(k => (k, v)).toDF("k", "v")
    val linked = new ManifestStore(spark, tmpBase("graft-cm-intk-l"), "k")
    linked.write(data(1 to 100, "a"), 1L, numFiles = 2)
    val snap = new SnapshotStore(spark, tmpBase("graft-cm-intk-s"), "k")
    snap.writeRangePartitioned(data(1 to 100, "a"), 1L, 2)
    for (st <- Seq(linked, snap)) {
      assertMerge(st, 1L, data(Seq(5, 101), "b"), Some(spark.range(90, 92).toDF("k")))
      assert(st.read(2L).select("k").as[Int].collect().sorted.toSeq == (1 to 89) ++ (92 to 101))
      assert(st.read(2L).filter(col("k") === 5).select("v").as[String].collect().toSeq == Seq("b"))
    }
  }

  test("a snapshot zone map is served from the rows its publish seeded, as its directory reads") {
    val snap = new SnapshotStore(spark, tmpBase("graft-cm-zmcache"), "k")
    snap.writeRangePartitioned(rows(1L to 200L, "a"), 1L, 3, statsCols)
    snap.mergeDelta(1L, 2L, rows(Seq(5L, 150L, 300L), "u"))
    val fs = fsOf(snap.basePath)
    for (v <- Seq(1L, 2L)) {
      val dir = new Path(snap.basePath, s"v=$v/_zonemap")
      assert(ManifestCache.cachedVersions(dir.toString) == Seq(v))
      val viaRead = ParquetSchemas.readListed(spark, dir, fs.listStatus(dir).toSeq, None)
      assert(snap.zoneMap(v).get.schema == viaRead.schema)
      assert(sorted(snap.zoneMap(v).get) == sorted(viaRead))
    }
    // a zone map rebuilt under the same directory lands new files: re-read
    snap.buildZoneMap(2L, Seq("i"))
    val rebuilt = snap.zoneMap(2L).get
    assert(rebuilt.columns.contains("min_i") && !rebuilt.columns.contains("min_s"))
    assert(rebuilt.count() == snap.dataPaths(2L).size.toLong)
  }

  test("a sidecar written on the driver reads back through readListed and ManifestCache") {
    val linked = new ManifestStore(spark, tmpBase("graft-cm-side"), "k", statsCols)
    linked.write(rows(1L to 200L, "a"), 1L, numFiles = 3)
    val dir = new Path(linked.basePath, "_manifests/v=1")
    val fs = fsOf(linked.basePath)
    val listing = fs.listStatus(dir).toSeq
    val ref = referenceFrame(linked, 1L, statsCols)
    val want = sorted(ref)
    val viaListed = ParquetSchemas.readListed(spark, dir, listing, None)
    ManifestCache.invalidate(linked.basePath)
    val viaCache = linked.manifest(1L)
    assert(sorted(viaListed) == want && sorted(viaCache) == want)
    assert(viaListed.schema == viaCache.schema)
    // Spark's own single-task write of the same rows: same schema on
    // read, same Spark row metadata and codec in the footer
    val sparkDir = java.nio.file.Files.createTempDirectory("graft-cm-sparkw").toString + "/m"
    spark.createDataFrame(java.util.Arrays.asList(ref.collect(): _*), ref.schema)
      .coalesce(1).write.parquet(sparkDir)
    assert(spark.read.parquet(sparkDir).schema == viaListed.schema)
    def footer(d: Path) = {
      val f = fs.listStatus(d).map(_.getPath).filter(_.getName.startsWith("part-")).head
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, spark.sparkContext.hadoopConfiguration))
      try (f.getName.drop(f.getName.indexOf(".")),
        r.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"),
        r.getFooter.getBlocks.get(0).getColumns.get(0).getCodec)
      finally r.close()
    }
    assert(footer(dir) == footer(new Path(sparkDir)))
    assert(fs.exists(new Path(dir, "_SUCCESS")))
    // a zero-row manifest is a footer-only file that still declares the schema
    linked.mergeDelta(1L, 2L, rows(Nil, "z"), Some(linked.read(1L).select("k")))
    ManifestCache.invalidate(linked.basePath)
    assert(linked.manifest(2L).count() == 0L)
    assert(linked.manifest(2L).schema == viaListed.schema)
  }
}
