package graft

import org.apache.spark.sql.functions._

import graft.operators.{ManifestStore, SnapshotStore}

/** Per-file Bloom filter indexes on both store layouts — Delta's
  * bloom index: point lookups on a NON-clustered column skip every
  * file whose filter says "definitely absent"; false positives only
  * cost an extra file open (the exact re-filter is always on top);
  * files the index does not cover always open, so a stale index stays
  * correct. */
class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  // 4000 rows, key-ordered; `tag` is high-cardinality (unique per
  // row) — the bloom use case: a user-id/SKU point lookup on a column
  // the key order and zone maps can do nothing for
  private def rows = (1L to 4000L).map(k => (k, s"t$k", k * 2.0))
    .toDF("k", "tag", "x")

  test("linked: bloom point lookup opens a strict subset of files; exact result; stale-safe") {
    val root = java.nio.file.Files.createTempDirectory("graft-bl-lk").toString
    val st = new ManifestStore(spark, s"$root/t", "k")
    st.write(rows, 1L, numFiles = 8)
    st.buildBloomIndex(1L, "tag")
    val want = rows.filter(col("tag") === "t777").select("k").collect()
      .map(_.getLong(0)).toSet
    val (df, opened) = st.readWhereEquals(1L, "tag", "t777")
    assert(df.select("k").collect().map(_.getLong(0)).toSet == want)
    assert(opened < 8, s"the index must skip files, opened $opened/8")
    // an absent value opens ~no files (1% fpp over 8 files)
    val (miss, openedMiss) = st.readWhereEquals(1L, "tag", "nope")
    assert(miss.count() == 0L && openedMiss <= 1, s"absent value opened $openedMiss")
    // stale-safe: a merge lands NEW files the index has never seen —
    // they must always open, so the lookup stays exact
    st.mergeDelta(1L, 2L, Seq((9001L, "t777", 1.0)).toDF("k", "tag", "x")): Unit
    val (df2, _) = st.readWhereEquals(2L, "tag", "t777")
    assert(df2.select("k").collect().map(_.getLong(0)).toSet == want + 9001L)
    // no index on the column → full scan, same answer
    val (df3, opened3) = st.readWhereEquals(1L, "x", 14.0)
    assert(df3.count() == 1L && opened3 == 8)
  }

  test("snapshot: the same contract, DV-masked rows never resurrect through the index") {
    val root = java.nio.file.Files.createTempDirectory("graft-bl-sn").toString
    val st = new SnapshotStore(spark, s"$root/t", "k")
    st.writeRangePartitioned(rows, 1L, 8)
    st.buildBloomIndex(1L, "tag")
    val want = rows.filter(col("tag") === "t777").select("k").collect()
      .map(_.getLong(0)).toSet
    val (df, opened) = st.readWhereEquals(1L, "tag", "t777")
    assert(df.select("k").collect().map(_.getLong(0)).toSet == want)
    assert(opened < 8, s"the index must skip files, opened $opened/8")
    // mask one of the matching rows with a DV delete; the bloom (built
    // pre-delete, files byte-carried under the same names) may still
    // point at its file — the masked read must hide the row anyway
    val victim = want.min
    st.deleteWhere(1L, 2L, col("k") === victim, mode = "dv"): Unit
    st.buildBloomIndex(2L, "tag")
    val (df2, _) = st.readWhereEquals(2L, "tag", "t777")
    assert(df2.select("k").collect().map(_.getLong(0)).toSet == want - victim,
      "a DV-masked row must not resurrect through a bloom lookup")
  }

  test("both layouts: a value a fill default supplies is found through the index") {
    val root = java.nio.file.Files.createTempDirectory("graft-bl-fill").toString
    val base = (1L to 40L).map(k => (k, k * 2.0)).toDF("k", "x")
    val (l, s) = (new ManifestStore(spark, s"$root/linked", "k"),
      new SnapshotStore(spark, s"$root/snap", "k"))
    for (st <- Seq(l, s)) {
      st.writeZOrdered(base, 1L, 4, Seq("x"))
      // the carried files predate `c`: every one of their rows reads the fill
      st.mergeDelta(1L, 2L, Seq((41L, 82.0, "Y")).toDF("k", "x", "c"), fill = Map("c" -> "X"))
    }
    l.buildBloomIndex(2L, "c")
    s.buildBloomIndex(2L, "c")
    for (st <- Seq(l, s)) {
      val (filled, opened) = st.readWhereEquals(2L, "c", "X")
      assert(filled.count() == 40L, s"${st.layout}: fill rows missed, opened $opened")
      assert(st.readWhereEquals(2L, "c", "Y")._1.select("k").as[Long].collect().toSeq ==
        Seq(41L), st.layout)
    }
  }
}
