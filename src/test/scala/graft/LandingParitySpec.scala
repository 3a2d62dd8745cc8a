package graft

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{ManifestStore, SnapshotStore, VersionedStore}

/** The landing verbs, partition overwrite and partition drop run one
  * body on both layouts: the same script on a linked and a snapshot
  * store gives the same logical reads, the same history (`n_rows`,
  * `operation`, `operation_params`, `operation_metrics`) and the same
  * recorded per-file statistics columns after every step and after the
  * `mergeDelta` that follows it; `partitions` answers on every
  * partitioned version. */
class LandingParitySpec extends SparkSpec {
  import spark.implicits._

  private val cats = Seq("alpha", "beta", "gamma", "delta")

  private def day(n: Int) = Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(n))

  private def rows(ks: Range, tag: String): DataFrame =
    ks.map(k => (k.toLong, cats(k % 4), day(k % 90), k * 1.5, (k * 7 % 50).toDouble, s"$tag-$k"))
      .toDF("k", "cat", "d", "x", "y", "v")

  private def pair(tag: String): (ManifestStore, SnapshotStore) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft-lp-$tag").toString
    (new ManifestStore(spark, s"$root/linked", "k"), new SnapshotStore(spark, s"$root/snap", "k"))
  }

  /** A version's rows as sorted strings over sorted column names. */
  private def content(st: VersionedStore, v: Long): Seq[String] = {
    val df = st.read(v)
    val cs = df.columns.sorted.toSeq
    df.select(cs.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted
  }

  private def historyOf(st: VersionedStore, v: Long): (Long, String, String, Map[String, Long]) = {
    val r = st.history().filter(col("version") === v)
      .select("n_rows", "operation", "operation_params", "operation_metrics").head()
    (r.getLong(0), r.getString(1), r.getString(2), r.getMap[String, Long](3).toMap)
  }

  private def statsCols(st: VersionedStore, v: Long): Set[String] = {
    val entries = st match {
      case m: ManifestStore => m.manifest(v)
      case s: SnapshotStore => s.zoneMap(v).get
    }
    entries.columns.filter(_.startsWith("min_")).toSet
  }

  private def assertParity(l: ManifestStore, s: SnapshotStore, v: Long, what: String): Unit = {
    assert(content(l, v) == content(s, v), s"$what v$v: reads differ")
    assert(historyOf(l, v) == historyOf(s, v), s"$what v$v: history differs")
    assert(statsCols(l, v) == statsCols(s, v), s"$what v$v: stats columns differ")
    if (l.storedPartitionBy().nonEmpty) {
      def parts(st: VersionedStore) = st.partitions(v).collect().map(_.toString).toSet
      assert(parts(l) == parts(s), s"$what v$v: partitions differ")
    }
  }

  /** Land v`v` on both layouts with `land`, check it, then merge a
    * delta onto it and check the merge's version. */
  private def step(l: ManifestStore, s: SnapshotStore, v: Long, what: String)(
      land: VersionedStore => Unit): Unit = {
    Seq(l, s).foreach(land)
    assertParity(l, s, v, what)
    val delta = rows(3 to 3, s"m$v").unionByName(rows(500 to 501, s"m$v"))
    Seq(l, s).foreach(_.mergeDelta(v, v + 1, delta): Unit)
    assertParity(l, s, v + 1, s"$what + mergeDelta")
  }

  test("range-clustered write") {
    val (l, s) = pair("range")
    step(l, s, 1L, "write") {
      case m: ManifestStore => m.write(rows(1 to 200, "a"), 1L, numFiles = 4)
      case sn: SnapshotStore => sn.writeRangePartitioned(rows(1 to 200, "a"), 1L, 4)
    }
  }

  for ((spec, tag) <- Seq(Seq("cat") -> "identity", Seq("months(d)") -> "months"))
  test(s"writePartitioned ($tag spec)") {
    val (l, s) = pair(tag)
    step(l, s, 1L, s"writePartitioned $tag") {
      case m: ManifestStore => m.writePartitioned(rows(1 to 200, "a"), 1L, spec, 2)
      case sn: SnapshotStore => sn.writePartitioned(rows(1 to 200, "a"), 1L, spec, 2)
    }
  }

  test("writeZOrdered, unpartitioned and partitioned") {
    val (l, s) = pair("z")
    step(l, s, 1L, "writeZOrdered")(_.writeZOrdered(rows(1 to 200, "a"), 1L, 4, Seq("x", "y")))
    val (pl, ps) = pair("zp")
    pl.writePartitioned(rows(1 to 200, "a"), 1L, Seq("cat"))
    ps.writePartitioned(rows(1 to 200, "a"), 1L, Seq("cat"))
    step(pl, ps, 2L, "partitioned writeZOrdered")(st =>
      st.writeZOrdered(st.read(1L), 2L, 8, Seq("x", "y")))
  }

  test("writeBucketed") {
    val (l, s) = pair("bucket")
    step(l, s, 1L, "writeBucketed") {
      case m: ManifestStore => m.writeBucketed(rows(1 to 400, "a"), 1L, 8)
      case sn: SnapshotStore => sn.writeBucketed(rows(1 to 400, "a"), 1L, 8)
    }
  }

  test("createEmpty, then the first mergeDelta") {
    val (l, s) = pair("empty")
    step(l, s, 1L, "createEmpty")(_.createEmpty(rows(1 to 1, "a").schema))
    assert(l.read(1L).count() == 0L && s.read(1L).count() == 0L)
  }

  test("createEmpty lands no data file on either layout; later commits hold equal file counts") {
    val (l, s) = pair("empty-files")
    Seq(l, s).foreach { st =>
      st.createEmpty(rows(1 to 1, "a").schema)
      st.mergeDelta(1L, 2L, rows(1 to 30, "b")): Unit
      st.mergeDelta(2L, 3L, rows(31 to 31, "c")): Unit
    }
    for (v <- 1L to 3L) {
      assert(l.dataPaths(v).size == s.dataPaths(v).size,
        s"v$v: linked ${l.dataPaths(v)} vs snapshot ${s.dataPaths(v)}")
      def nFiles(st: VersionedStore) =
        st.history().filter(col("version") === v).select("n_files").head().getLong(0)
      assert(nFiles(l) == nFiles(s), s"v$v: history n_files differ")
    }
    assert(s.dataPaths(1L).isEmpty)
    // the zero-file version still reads as an empty frame of its
    // schema, through the store and through SQL
    val root = new java.io.File(s.basePath).getParent
    val cat = s"lpempty${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    for (st <- Seq[VersionedStore](l, s)) {
      assert(st.read(1L).count() == 0L &&
        st.read(1L).columns.toSeq == rows(1 to 1, "a").columns.toSeq)
      val t = new java.io.File(st.basePath).getName
      val sql = spark.sql(s"SELECT * FROM $cat.$t VERSION AS OF 1")
      assert(sql.count() == 0L && sql.columns.toSeq == rows(1 to 1, "a").columns.toSeq, t)
      assert(spark.sql(s"SELECT * FROM $cat.$t").count() == 31L, t)
    }
  }

  /** A partitioned v1 whose `cat` is null on every 10th key. */
  private def withNulls(ks: Range, tag: String): DataFrame =
    rows(ks, tag).withColumn("cat", when(col("k") % 10 === 0, lit(null).cast(StringType))
      .otherwise(col("cat")))

  test("replaceWhere, including a null partition tuple") {
    val (l, s) = pair("replace")
    Seq(l, s).foreach {
      case m: ManifestStore => m.writePartitioned(withNulls(1 to 200, "a"), 1L, Seq("cat"))
      case sn: SnapshotStore => sn.writePartitioned(withNulls(1 to 200, "a"), 1L, Seq("cat"))
    }
    val backfill = withNulls(1 to 200, "b").filter(col("cat").isNull || col("cat") === "beta")
    step(l, s, 2L, "replaceWhere")(st =>
      assert(st.replaceWhere(1L, 2L, backfill) == ((3, 2, 2)), st.layout))
    // the null tuple was replaced, not duplicated
    assert(l.read(2L).filter(col("cat").isNull).count() == 20L)
  }

  test("dropPartitions, including dropping every partition") {
    val (l, s) = pair("drop")
    Seq(l, s).foreach {
      case m: ManifestStore => m.writePartitioned(rows(1 to 200, "a"), 1L, Seq("cat"))
      case sn: SnapshotStore => sn.writePartitioned(rows(1 to 200, "a"), 1L, Seq("cat"))
    }
    val gamma: Column = col("cat") === "gamma"
    step(l, s, 2L, "dropPartitions")(st =>
      assert(st.dropPartitions(1L, 2L, gamma) == ((3, 1, 50L)), st.layout))
    step(l, s, 4L, "drop every partition")(st =>
      assert(st.dropPartitions(3L, 4L, lit(true))._1 == 0, st.layout))
    assert(l.read(4L).count() == 0L)
  }

  test("CALL zorder on a linked store built without statsCols records the z columns' stats") {
    val root = java.nio.file.Files.createTempDirectory("graft-lp-sqlz").toString
    val st = new ManifestStore(spark, s"$root/zt", "k")
    st.write(rows(1 to 400, "a"), 1L, numFiles = 4)
    val cat = s"lpcat${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val r = spark.sql(s"CALL $cat.zorder('zt', 'x,y', 8)").collect().head
    assert(r.getLong(1) == 2L && r.getLong(2) == st.dataPaths(2L).size.toLong)
    assert(Set("min_x", "min_y").subsetOf(st.manifest(2L).columns.toSet))
    val hit = st.prunedFilesBy(2L, "x", 100.0, 150.0).get
    assert(hit.nonEmpty && hit.size < st.dataPaths(2L).size, s"no pruning: $hit")
    val got = st.readWhereAll(2L, Seq(("x", 100.0, 150.0))).select("k").as[Long].collect().toSet
    assert(got == st.read(2L).filter(col("x").between(100.0, 150.0)).select("k").as[Long]
      .collect().toSet && got.nonEmpty)
  }
}
