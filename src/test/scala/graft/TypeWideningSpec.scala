package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{ManifestStore, SnapshotStore}

/** METADATA-ONLY TYPE WIDENING — `ALTER COLUMN c TYPE <wider>` as one
  * schema-sidecar commit: parquet's reader promotion decodes the
  * stored narrow physical values into the wider logical type, zero
  * data bytes move, pinned history keeps the narrow type. */
class TypeWideningSpec extends SparkSpec {
  import spark.implicits._

  private def poolFiles(base: String): Map[String, Long] = {
    val d = new java.io.File(s"$base/files")
    d.listFiles().filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(f => f.getName -> f.length()).toMap
  }

  test("linked: widen int->long and float->double — zero pool writes; reads, merges, diffs continue") {
    val root = java.nio.file.Files.createTempDirectory("graft_tw_lk").toString
    val st = new ManifestStore(spark, s"$root/t", "k")
    val v1 = Seq((1L, 10, 1.5f), (2L, 20, 2.5f)).toDF("k", "n", "x")
    st.write(v1, 1L, 2, commitTs = Some(1000L))
    val before = poolFiles(s"$root/t")
    st.widenColumn(1L, 2L, "n", LongType)
    st.widenColumn(2L, 3L, "x", DoubleType)
    // ZERO-REWRITE GATE + schema re-type
    assert(poolFiles(s"$root/t") == before, "widening touched the pool")
    val sc = st.read(3L).schema
    assert(sc("n").dataType == LongType && sc("x").dataType == DoubleType, sc)
    assert(st.read(3L).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == Set((1L, 10L, 1.5), (2L, 20L, 2.5)))
    // pinned history keeps the narrow type
    assert(st.read(1L).schema("n").dataType == IntegerType)
    // a merge continues in the WIDE type; old narrow files byte-carry
    st.mergeDelta(3L, 4L, Seq((3L, 3000000000L, 3.5)).toDF("k", "n", "x"))
    assert(st.read(4L).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == Set((1L, 10L, 1.5), (2L, 20L, 2.5), (3L, 3000000000L, 3.5)))
    assert(st.diff(3L, 4L).select("k", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((3L, "insert")))
    // refusals: narrowing, non-numeric, the key column
    intercept[IllegalArgumentException](st.widenColumn(4L, 5L, "n", IntegerType))
    intercept[IllegalArgumentException](st.widenColumn(4L, 5L, "x", StringType))
    intercept[IllegalArgumentException](st.widenColumn(4L, 5L, "k", LongType))
  }

  test("snapshot: widen int->decimal — byte-carry gate, DV composes, widen-then-rename composes") {
    val root = java.nio.file.Files.createTempDirectory("graft_tw_sn").toString
    val st = new SnapshotStore(spark, s"$root/t", "k")
    st.writeRangePartitioned(
      Seq((1L, 10, "a"), (2L, 20, "b"), (3L, 30, "c")).toDF("k", "n", "tag"), 1L, 2)
    st.deleteWhere(1L, 2L, col("k") === 3L, mode = "dv"): Unit
    val before = new java.io.File(s"$root/t/v=2").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.length()).toMap
    st.widenColumn(2L, 3L, "n", DecimalType(12, 0))
    assert(new java.io.File(s"$root/t/v=3").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.length()).toMap
      == before, "widening re-encoded data files")
    // masked row stays masked; values decode into the decimal type
    assert(st.read(3L).collect().map(r =>
      (r.getLong(0), r.getDecimal(1).longValueExact())).toSet
      == Set((1L, 10L), (2L, 20L)))
    // widening COMPOSES with column mapping: rename the widened column
    st.renameColumn(3L, 4L, "n", "amount")
    assert(st.read(4L).select("k", "amount").collect().map(r =>
      (r.getLong(0), r.getDecimal(1).longValueExact())).toSet
      == Set((1L, 10L), (2L, 20L)))
  }

  test("SQL: ALTER COLUMN TYPE widens on both layouts; INSERT lands wide values; other changes refuse") {
    val root = java.nio.file.Files.createTempDirectory("graft_tw_sql").toString
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.twcat",
      classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.twcat.root", root)
    val data = Seq((1L, 10), (2L, 20)).toDF("k", "n")
    new SnapshotStore(spark, s"$root/tw_snap", "k")
      .writeRangePartitioned(data, 1L, 2, commitTs = Some(1000L))
    new ManifestStore(spark, s"$root/tw_linked", "k")
      .write(data, 1L, 2, commitTs = Some(1000L))
    for (t <- Seq("tw_snap", "tw_linked")) {
      spark.sql(s"ALTER TABLE twcat.$t ALTER COLUMN n TYPE BIGINT")
      assert(spark.sql(s"SELECT * FROM twcat.$t").schema("n").dataType == LongType, t)
      // a value only BIGINT can hold lands through SQL INSERT
      spark.sql(s"INSERT INTO twcat.$t VALUES (3, 3000000000)")
      assert(spark.sql(s"SELECT SUM(n) FROM twcat.$t").head().getLong(0)
        == 3000000030L, t)
      // pinned history reads narrow
      assert(spark.sql(s"SELECT * FROM twcat.$t VERSION AS OF 1")
        .schema("n").dataType == IntegerType, t)
      // a NARROWING change refuses — Spark's own analyzer gate fires
      // first (NOT_SUPPORTED_CHANGE_COLUMN); our canWiden guard backs
      // it at the store layer (covered in the store-API tests above)
      val e = intercept[Exception](
        spark.sql(s"ALTER TABLE twcat.$t ALTER COLUMN n TYPE INT"))
      assert(e.getMessage.contains("not supported")
        || e.getMessage.contains("widening"), s"$t: ${e.getMessage}")
    }
  }

  test("diff across a widening: empty for the widen alone, only the merged keys after a merge, both layouts") {
    val root = java.nio.file.Files.createTempDirectory("graft_tw_diff").toString
    val v1 = (1 to 40).map(i => (i.toLong, i, i * 10, s"s$i")).toDF("k", "n", "m", "s")
    val linked = new ManifestStore(spark, s"$root/lk", "k")
    linked.write(v1, 1L, 4)
    val snap = new SnapshotStore(spark, s"$root/sn", "k")
    snap.writeRangePartitioned(v1, 1L, 4)
    Seq[graft.operators.VersionedStore](linked, snap).foreach { st =>
      st.widenColumn(1L, 2L, "n", LongType)
      st.widenColumn(2L, 3L, "m", DecimalType(12, 0))
      assert(st.diff(1L, 3L).isEmpty && st.diffCdf(1L, 3L).isEmpty, st.layout)
      // one key in every file: every file is rewritten
      val delta = Seq((5L, 500L, 5, "s5"), (15L, 15L, 150, "u15"), (25L, 25L, 250, "s25"),
          (35L, 35L, 350, "s35"), (41L, 41L, 410, "s41"))
        .toDF("k", "n", "m", "s").withColumn("m", col("m").cast(DecimalType(12, 0)))
      st.mergeDelta(3L, 4L, delta)
      assert(st.dataPaths(4L).map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
        .intersect(st.dataPaths(3L).map(p => p.substring(p.lastIndexOf('/') + 1)).toSet)
        .isEmpty, s"${st.layout}: the merge must rewrite every file")
      val want = Set((5L, "update"), (15L, "update"), (41L, "insert"))
      Seq(1L, 3L).foreach { from =>
        assert(st.diff(from, 4L).select("k", "change_type").as[(Long, String)].collect().toSet
          == want, s"${st.layout} from v$from")
      }
      assert(st.diffCdf(1L, 4L).filter(col("k") === 5L).select("n", "change_type")
        .as[(Long, String)].collect().toSet ==
        Set((5L, "update_preimage"), (500L, "update_postimage")), st.layout)
    }
  }
}
