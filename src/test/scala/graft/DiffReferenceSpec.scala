package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.{ManifestStore, SnapshotStore, VersionedStore}

/** The diff family against a full-read reference on both layouts, over a
  * chain of every verb that lands, carries, masks or rewrites files; and
  * the invariant the diff stands on: a data file name holds one content
  * in every version that lists it. */
class DiffReferenceSpec extends SparkSpec {
  import spark.implicits._

  private def tmpBase(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def rows(ks: Seq[Int], tag: String): DataFrame =
    ks.map(k => (k.toLong, Seq("A", "B", "C")(k % 3), k, k * 1.5, s"$tag-$k"))
      .toDF("k", "region", "n", "v", "tag")

  /** [[rows]] in the shape of the chain's tip after the rename and the
    * widening. */
  private def renamedRows(ks: Seq[Int], tag: String): DataFrame =
    rows(ks, tag).withColumnRenamed("tag", "label").withColumn("n", col("n").cast(LongType))

  /** Every verb that lands, carries, masks or rewrites files, one
    * version each; returns the store's versions. */
  private def chain(st: VersionedStore): Seq[Long] = {
    st match {
      case s: SnapshotStore =>
        s.writePartitioned(rows(1 to 60, "a"), 1L, Seq("region"), filesPerPartition = 2)
      case m: ManifestStore =>
        m.writePartitioned(rows(1 to 60, "a"), 1L, Seq("region"), filesPerPartition = 2)
    }
    // scattered (a key in most files, plus a delete), then clustered
    st.mergeDelta(1L, 2L, rows(Seq(3, 17, 31, 44, 58), "s"), Some(Seq(10L).toDF("k")))
    st.mergeDelta(2L, 3L, rows(Seq(59, 60, 61, 62), "c"))
    st.deleteWhere(3L, 4L, col("k") % 7 === 0, mode = "dv")
    st.deleteWhere(4L, 5L, col("k").between(20L, 25L), mode = "cow")
    st.updateWhere(5L, 6L, col("k") % 5 === 0, Map("v" -> (col("v") + 1.0)), mode = "mor")
    st.mergeDeltaMor(6L, 7L, rows(Seq(2, 8, 70), "m"), Some(Seq(11L).toDF("k")))
    st.foldDv(7L, 8L)
    // back to v4's files and its deletion vector
    st.restoreVersion(4L, 9L, None)
    st.renameColumn(9L, 10L, "tag", "label")
    st.widenColumn(10L, 11L, "n", LongType)
    st.replaceWhere(11L, 12L, renamedRows(Seq(3, 6, 9, 99), "r"))
    // compaction: in place on the snapshot layout, a new version on the
    // linked one; a merge then carries the compacted files
    val compacted = st match {
      case s: SnapshotStore => s.compact(12L); 12L
      case m: ManifestStore => m.compact(12L, 13L, minBytes = 1L << 30, targetFiles = 2); 13L
    }
    st.mergeDelta(compacted, compacted + 1, renamedRows(Seq(1, 4, 200), "z"))
    st.versions()
  }

  private def str(v: Any): String = v match {
    case null => "null"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  /** One version read in full: its columns and its rows by key, every
    * value as a string. */
  private final case class Content(cols: Seq[String], byKey: Map[Long, Map[String, String]])

  private def content(st: VersionedStore, v: Long): Content = {
    val df = st.read(v)
    Content(df.columns.toSeq, df.collect().map(r =>
      r.getAs[Long]("k") -> df.columns.map(c => c -> str(r.get(r.fieldIndex(c)))).toMap).toMap)
  }

  /** The full-read reference diff: every key of both versions
    * classified on the driver over the common non-key columns (a
    * widened column's values compare equal across the widening, as
    * their strings do); deletes and pre-images carry the from-side's
    * values. Rows over every column of either side, absent ones null,
    * sorted. */
  private def reference(from: Content, to: Content, cdf: Boolean,
      range: Option[(Long, Long)]): Seq[Map[String, String]] = {
    val common = from.cols.filter(c => c != "k" && to.cols.contains(c))
    val cols = (from.cols ++ to.cols).distinct
    val keys = (from.byKey.keySet ++ to.byKey.keySet)
      .filter(k => range.forall { case (lo, hi) => k >= lo && k <= hi })
    keys.toSeq.flatMap { k =>
      (from.byKey.get(k), to.byKey.get(k)) match {
        case (None, Some(n)) => Seq(n -> "insert")
        case (Some(o), None) => Seq(o -> "delete")
        case (Some(o), Some(n)) if common.exists(c => o(c) != n(c)) =>
          if (cdf) Seq(o -> "update_preimage", n -> "update_postimage") else Seq(n -> "update")
        case _ => Nil
      }
    }.map { case (m, ct) => cols.map(c => c -> m.getOrElse(c, "null")).toMap +
      ("change_type" -> ct) }.sortBy(_.toSeq.sorted.toString)
  }

  /** Store diffs' rows in [[reference]]'s shape, by the `__what` tag
    * each carries. */
  private def observed(df: DataFrame, cols: Seq[String]): Map[String, Seq[Map[String, String]]] =
    df.collect().toSeq.groupBy(_.getAs[String]("__what")).view.mapValues(_.map(r =>
        (cols :+ "change_type").map(c => c ->
          (if (df.columns.contains(c)) str(r.get(r.fieldIndex(c))) else "null")).toMap)
      .sortBy(_.toSeq.sorted.toString)).toMap

  private def md5(p: String): String = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(new Path(p).toUri.getPath))
    java.security.MessageDigest.getInstance("MD5").digest(bytes).map("%02x".format(_)).mkString
  }

  private def check(st: VersionedStore): Unit = {
    val vs = chain(st)
    assert(vs.size >= 13, s"${st.layout}: $vs")

    // one name, one content, across every version listing it
    val byName = vs.flatMap(v => st.dataPaths(v).map(p => new Path(p).getName -> md5(p)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val split = byName.filter(_._2.size > 1)
    assert(split.isEmpty, s"${st.layout}: names with two contents: ${split.keys}")
    assert(byName.size < vs.map(st.dataPaths(_).size).sum,
      s"${st.layout}: the chain shares no file between versions")

    val contents = vs.map(v => v -> content(st, v)).toMap
    for (i <- vs; j <- vs if i < j) {
      val (from, to) = (contents(i), contents(j))
      val cases = Seq(
        ("diff", st.diff(i, j), false, None),
        ("diffCdf", st.diffCdf(i, j), true, None),
        ("diffKeyRange", st.diffKeyRange(i, j, 10L, 40L), false, Some((10L, 40L))))
      // one collect per pair: the three frames tagged and unioned
      val got = observed(cases.map { case (what, df, _, _) => df.withColumn("__what", lit(what)) }
        .reduce(_ unionByName _), (from.cols ++ to.cols).distinct)
      cases.foreach { case (what, _, cdf, range) =>
        val (have, want) = (got.getOrElse(what, Nil), reference(from, to, cdf, range))
        assert(have == want, s"${st.layout} $what($i, $j): got $have, want $want")
      }
    }
  }

  test("linked layout: diff, diffCdf and diffKeyRange of every version pair equal the full-read reference") {
    check(new ManifestStore(spark, tmpBase("graft-diffref-linked"), "k"))
  }

  test("snapshot layout: diff, diffCdf and diffKeyRange of every version pair equal the full-read reference") {
    check(new SnapshotStore(spark, tmpBase("graft-diffref-snap"), "k"))
  }
}
