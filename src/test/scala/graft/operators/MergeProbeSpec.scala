package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The merge probe ([[VersionedStore.touchedFiles]]) answers, in one
  * pass over the key frame, what a range join of the keys against the
  * file envelopes answers: the same touched files under Spark's
  * ordering of every key type — overlapping envelopes, boundary keys,
  * null keys and null bounds included — and the key and row counts of
  * the merge's key frame. */
class MergeProbeSpec extends graft.SparkSpec {

  /** Envelopes over `bounds` (file i holds [lo, hi]); keys: upserts
    * (one duplicated) and deleted keys. */
  private def check(dt: DataType, bounds: Seq[(Any, Any)], upserts: Seq[Any],
      deletes: Seq[Any]): Unit = {
    val env = spark.createDataFrame(java.util.Arrays.asList(bounds.zipWithIndex.map {
        case ((lo, hi), i) => Row(s"f$i", lo, hi, 10L)
      }: _*),
      StructType(Seq(StructField("file", StringType), StructField("min_key", dt),
        StructField("max_key", dt), StructField("n_rows", LongType))))
    def keys(vs: Seq[Any]): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(vs.map(Row(_)): _*), StructType(Seq(StructField("k", dt))))
    val delta = keys(upserts ++ upserts.take(1)).withColumn("v", lit("x"))
    val touchKeys = VersionedStore.mergeKeys(delta, Some(keys(deletes)), "k")
    val touch = VersionedStore.touchedFiles(touchKeys, env, "k")

    val expected = touchKeys.join(broadcast(env),
        col("k") >= col("min_key") && col("k") <= col("max_key"))
      .select("file").distinct().collect().map(_.getString(0)).toSet
    assert(touch.files == expected, s"$dt")
    val counts = touchKeys.agg(count(when(!col("__del"), 1)), count(when(col("__del"), 1)),
      coalesce(sum(col("__n")), lit(0L))).head()
    assert((touch.upsertKeys, touch.deleteKeys, touch.upsertRows) ==
      ((counts.getLong(0), counts.getLong(1), counts.getLong(2))), s"$dt")
  }

  test("touched files and key counts equal the range join's, for every key type") {
    check(LongType, Seq((1L, 10L), (5L, 20L), (30L, 40L), (null, null), (15L, 16L)),
      Seq(5L, 10L, 16L, 25L, 41L, null), Seq(30L, 0L))
    check(IntegerType, Seq((-5, 5), (6, 6)), Seq(-5, 6, 7), Seq(0))
    check(StringType, Seq(("a", "m"), ("k", "z"), ("é", "ü")), Seq("b", "l", "zz", "ö"), Seq("m"))
    check(DateType, Seq((java.sql.Date.valueOf("2020-01-01"), java.sql.Date.valueOf("2020-06-30")),
        (java.sql.Date.valueOf("2020-06-01"), java.sql.Date.valueOf("2020-12-31"))),
      Seq(java.sql.Date.valueOf("2020-06-15"), java.sql.Date.valueOf("2021-01-01")), Nil)
    check(DecimalType(10, 2), Seq((BigDecimal("-1.50").bigDecimal, BigDecimal("2.00").bigDecimal),
        (BigDecimal("2.00").bigDecimal, BigDecimal("9.99").bigDecimal)),
      Seq(BigDecimal("2.00").bigDecimal, BigDecimal("-1.51").bigDecimal), Nil)
    check(DoubleType, Seq((-1.0, 0.0), (0.0, Double.NaN), (2.0, 3.0)),
      Seq(-0.0, Double.NaN, 2.5, -2.0), Seq(1.0))
  }

  test("delete keys wider than the envelopes' type widen the key frame; bounds compare under it") {
    import spark.implicits._
    val env = Seq(("f0", 1, 10, 5L), ("f1", 20, 30, 5L)).toDF("file", "min_key", "max_key", "n_rows")
    val touchKeys = VersionedStore.mergeKeys(Seq((5, "x")).toDF("k", "v"),
      Some(spark.range(25L, 27L).toDF("k")), "k")
    assert(touchKeys.schema("k").dataType == LongType)
    val touch = VersionedStore.touchedFiles(touchKeys, env, "k")
    assert(touch.files == Set("f0", "f1"))
    assert((touch.upsertKeys, touch.deleteKeys, touch.upsertRows) == ((1L, 2L, 1L)))
  }

  test("no envelopes, or no keys, touch nothing and still count") {
    check(LongType, Nil, Seq(1L, 2L), Seq(3L))
    check(LongType, Seq((1L, 10L)), Nil, Nil)
  }

  /** The data files each file scan over `base` reads, from the plans of
    * the SQL executions `body` runs. A marker job, delivered after
    * every earlier event on the listener's queue, closes the window. */
  private def scannedFiles(base: String)(body: => Unit): Seq[Set[String]] = {
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlanInfo]
    val tag = s"graft-probe-${java.util.UUID.randomUUID()}"
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.add(s.sparkPlanInfo): Unit
        case _ =>
      }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == tag))
          marker.countDown()
    }
    // the plan metadata lists the scan's paths in full
    val lenKey = "spark.sql.maxMetadataStringLength"
    val len = spark.conf.getOption(lenKey)
    spark.conf.set(lenKey, "1000000")
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.removeSparkListener(listener)
      len.fold(spark.conf.unset(lenKey))(spark.conf.set(lenKey, _))
    }
    def scans(p: org.apache.spark.sql.execution.SparkPlanInfo): Seq[Map[String, String]] =
      (if (p.metadata.contains("Location")) Seq(p.metadata) else Nil) ++ p.children.flatMap(scans)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq.flatMap(scans).map(_("Location"))
      .filter(_.contains(base))
      .map(loc => """[^/\[\], ]+\.parquet""".r.findAllIn(loc).toSet)
  }

  test("the merge-on-read probe reads only envelope-touched files; the result equals a copy-on-write merge (both layouts)") {
    import spark.implicits._
    val rows = (1 to 1000).map(k => (k.toLong, s"v-$k")).toDF("k", "v")
    // upserts in the first key range (plus one new key beyond every
    // envelope) and a delete in it: one file of four is touched
    val delta = Seq((7L, "u7"), (11L, "u11"), (2001L, "n")).toDF("k", "v")
    val dels = Seq(12L).toDF("k")
    val root = java.nio.file.Files.createTempDirectory("graft-probe-mor").toString
    val linked = new ManifestStore(spark, s"$root/l", "k")
    linked.write(rows, 1L, numFiles = 4)
    val snap = new SnapshotStore(spark, s"$root/s", "k")
    snap.writeRangePartitioned(rows, 1L, 4)
    Seq[VersionedStore](linked, snap).foreach { st =>
      val first = st.dataPaths(1L).map(p => p.substring(p.lastIndexOf('/') + 1))
        .filter(n => st.readKeyRange(1L, 7L, 7L).inputFiles.exists(_.endsWith(n))).toSet
      assert(first.size == 1, st.layout)
      val scans = scannedFiles(st.basePath)(st.mergeDeltaMor(1L, 2L, delta, Some(dels)): Unit)
      assert(scans.nonEmpty && scans.forall(_ == first), s"${st.layout}: $scans")
      st.mergeDelta(1L, 3L, delta, Some(dels))
      def content(v: Long) = st.read(v).select("k", "v").as[(Long, String)].collect().toSet
      assert(content(2L) == content(3L), st.layout)
      assert(content(2L).contains((2001L, "n")) && !content(2L).exists(_._1 == 12L))
    }
  }
}
