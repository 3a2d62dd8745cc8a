package graft

import org.apache.spark.sql.functions._

import graft.operators.{ManifestStore, RetentionHoldException, SnapshotStore}

/** Time-based retention (Delta's `RETAIN n HOURS` contract):
  * `pruneOlderThan(horizonMs)` expires versions committed STRICTLY
  * before the horizon — a commit exactly AT the horizon survives —
  * and the tip survives regardless of age. The cutoff resolves from
  * the version-log checkpoint (metadata only). A held expired
  * version REFUSES the call ([[RetentionHoldException]]): a time
  * contract that cannot be honored must not report success. The
  * linked layout's expiry composes with the pool's ref-count sweep
  * (exclusive bytes reclaim; shared bytes survive). SQL surface:
  * `CALL <cat>.retention_hours('t', hours [, as_of])`. */
class TimeRetentionSpec extends SparkSpec {
  import spark.implicits._

  private def rows(n: Int) = (1 to n).map(i => (i.toLong, i * 10.0)).toDF("k", "v")

  test("snapshot: strict-older-than boundary, tip immortal, holds refuse") {
    val base = java.nio.file.Files.createTempDirectory("graft_rt_sn").toString + "/t"
    val st = new SnapshotStore(spark, base, "k")
    st.writeRangePartitioned(rows(8), 1L, 2, commitTs = Some(1000L))
    st.mergeDelta(1L, 2L, Seq((2L, 21.0)).toDF("k", "v"), commitTs = Some(2000L))
    st.mergeDelta(2L, 3L, Seq((3L, 31.0)).toDF("k", "v"), commitTs = Some(3000L))
    st.mergeDelta(3L, 4L, Seq((4L, 41.0)).toDF("k", "v"), commitTs = Some(4000L))
    // a hold on an expired version refuses the WHOLE call — and
    // drops nothing (all-or-nothing, not partial expiry)
    st.hold(2L)
    intercept[RetentionHoldException](st.pruneOlderThan(3000L))
    assert(st.versions() == Seq(1L, 2L, 3L, 4L), "refusal must drop nothing")
    st.release(2L)
    // boundary: ts==3000 survives (strictly-older-than), 1000/2000 go
    assert(st.pruneOlderThan(3000L) == Seq(1L, 2L))
    assert(st.versions() == Seq(3L, 4L))
    assert(st.read(3L).count() == 8L) // survivors stay readable
    // the tip survives ANY horizon; an already-empty pass is a no-op
    assert(st.pruneOlderThan(Long.MaxValue) == Seq(3L))
    assert(st.versions() == Seq(4L))
    assert(st.pruneOlderThan(Long.MaxValue) == Seq.empty)
    assert(st.read(4L).count() == 8L)
  }

  test("linked: expiry + ref-count sweep reclaims exclusive bytes, shared bytes survive") {
    val base = java.nio.file.Files.createTempDirectory("graft_rt_lk").toString + "/t"
    val st = new ManifestStore(spark, base, "k", statsCols = Seq("v"))
    st.write(rows(100), 1L, 4, commitTs = Some(1000L))
    // touch a key range: its file rewrites, so v1 keeps an EXCLUSIVE
    // pool file that only the sweep can reclaim once v1 expires
    st.mergeDelta(1L, 2L, Seq((5L, 55.0), (6L, 66.0)).toDF("k", "v"),
      commitTs = Some(2000L))
    st.mergeDelta(2L, 3L, Seq((7L, 77.0)).toDF("k", "v"), commitTs = Some(3000L))
    st.hold(1L)
    intercept[RetentionHoldException](st.pruneOlderThan(2500L))
    assert(st.versions() == Seq(1L, 2L, 3L))
    st.release(1L)
    val (dropped, reclaimed) = st.pruneOlderThan(2500L)
    assert(dropped == Seq(1L, 2L))
    assert(reclaimed > 0L, "v1/v2-exclusive pool files must reclaim bytes")
    assert(st.versions() == Seq(3L))
    // shared pool files survive the sweep: the tip reads complete
    val tip = st.read(3L)
    assert(tip.count() == 100L)
    assert(tip.filter(col("k") === 7L).head().getDouble(1) == 77.0)
    assert(st.pruneOlderThan(Long.MaxValue)._1.isEmpty, "tip is immortal")
  }

  test("SQL: CALL retention_hours on both layouts — horizon math, explicit as_of, held refusal surfaces") {
    val base = java.nio.file.Files.createTempDirectory("graft_rt_sql").toString
    val hour = 3600L * 1000L
    val snap = new SnapshotStore(spark, s"$base/rt_snap", "k")
    snap.writeRangePartitioned(rows(6), 1L, 2, commitTs = Some(1000L))
    snap.mergeDelta(1L, 2L, Seq((2L, 21.0)).toDF("k", "v"), commitTs = Some(2000L))
    snap.mergeDelta(2L, 3L, Seq((3L, 31.0)).toDF("k", "v"), commitTs = Some(3000L))
    val lk = new ManifestStore(spark, s"$base/rt_linked", "k", statsCols = Seq("v"))
    lk.write(rows(6), 1L, 2, commitTs = Some(1000L))
    lk.mergeDelta(1L, 2L, Seq((2L, 21.0)).toDF("k", "v"), commitTs = Some(2000L))
    lk.mergeDelta(2L, 3L, Seq((3L, 31.0)).toDF("k", "v"), commitTs = Some(3000L))
    val cat = s"rtcat${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", base)
    // horizon = as_of - hours*3600000 = 2000 exactly: v1 (1000) goes,
    // v2 (==2000, boundary) survives
    snap.hold(1L)
    val refused = intercept[Exception](
      spark.sql(s"CALL $cat.retention_hours('rt_snap', 1, ${2000L + hour})").collect())
    assert(refused.getMessage.contains("held"), refused.getMessage)
    snap.release(1L)
    for (t <- Seq("rt_snap", "rt_linked")) {
      val r = spark.sql(s"CALL $cat.retention_hours('$t', 1, ${2000L + hour})")
        .collect().head
      assert(r.getLong(1) == 1L, s"$t: ${r.toString}")
      assert(r.getLong(2) == 2000L, s"$t horizon: ${r.toString}")
      assert(spark.sql(s"SELECT version FROM $cat.$t.history").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L), t)
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.$t").head().getLong(0) == 6L, t)
    }
  }

  test("count retention keeps a held version on both layouts: maybeRetain, prune, CALL retention") {
    val base = java.nio.file.Files.createTempDirectory("graft_rt_count").toString
    val cat = s"rtccat${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", base)
    for (layout <- Seq("snapshot", "linked")) {
      val name = s"rc_$layout"
      val (sn, lk) = (new SnapshotStore(spark, s"$base/$name", "k"),
        new ManifestStore(spark, s"$base/$name", "k"))
      val st = if (layout == "linked") lk else sn
      def commit(v: Long): Unit =
        if (v > 1L) st.mergeDelta(v - 1L, v, Seq((v, v * 1.5)).toDF("k", "v")): Unit
        else if (layout == "linked") lk.write(rows(8), 1L, 2)
        else sn.writeRangePartitioned(rows(8), 1L, 2)
      (1L to 3L).foreach(commit)
      st.hold(1L)
      assert(st.maybeRetain(1) == 1, layout)
      assert(st.versions() == Seq(1L, 3L) && st.holds() == Seq(1L), layout)
      assert(st.read(1L).count() == 8L, layout)
      commit(4L)
      if (layout == "linked") lk.prune(Seq(4L)): Unit else assert(sn.prune(1) == Seq(3L))
      assert(st.versions() == Seq(1L, 4L), layout)
      commit(5L)
      def retention() = spark.sql(s"CALL $cat.retention('$name', 1)").collect().head.getLong(1)
      assert(retention() == 1L, s"$layout: n_pruned must count the dropped v4 only")
      assert(st.versions() == Seq(1L, 5L) && st.read(1L).count() == 8L, layout)
      st.release(1L)
      assert(retention() == 1L && st.versions() == Seq(5L), layout)
      assert(st.read(5L).count() == 8L, layout)
    }
  }
}
