package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.{ManifestStore, SnapshotStore}
import graft.sources.Tables

/** Metadata work runs no Spark job of its own: no read on the store or
  * lake paths pays a schema-inference job, and a linked merge stays
  * inside its job budget. (Lives under Spark's package to drain the
  * listener bus before counting.) */
class MetadataJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs started, and of those the schema-inference ones. Spark's
    * inference (`SchemaMergeUtils.mergeSchemasInParallel`) parallelizes
    * the footer list outside any SQL execution, so its job carries no
    * execution id and reads a `parallelize` RDD instead of files; a
    * call site naming the footer merge is taken as well. */
  private final class JobCounter extends SparkListener {
    val jobs = new AtomicInteger
    val inference = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val outsideSql = Option(e.properties)
        .forall(_.getProperty("spark.sql.execution.id") == null)
      if (e.stageInfos.exists(s => (outsideSql &&
            s.rddInfos.exists(_.scope.exists(_.name == "parallelize"))) ||
          s.details.contains("SchemaMergeUtils") ||
          s.details.contains("mergeSchemasInParallel")))
        inference.incrementAndGet()
    }
  }

  /** (jobs, inference jobs) that `body` runs. */
  private def jobsOf(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val counter = new JobCounter
    sc.addSparkListener(counter)
    try { body; sc.listenerBus.waitUntilEmpty() }
    finally sc.removeSparkListener(counter)
    (counter.jobs.get, counter.inference.get)
  }

  /** The physical plan of the SQL execution each job `body` runs
    * belongs to ("" for a job outside SQL). */
  private def jobPlans(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[Long]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)): Unit
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.physicalPlanDescription): Unit
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try { body; sc.listenerBus.waitUntilEmpty() }
    finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq.map(_.flatMap(id => Option(plans.get(id))).getOrElse(""))
  }

  /** A per-file statistics scan (the aggregation names each file by
    * `input_file_name()`) and a metadata-sidecar write (into a staged
    * manifest or a zone map). */
  private def statsScan(plan: String) = plan.contains("input_file_name")
  private def sidecarWrite(plan: String) = plan.contains("InsertIntoHadoopFsRelationCommand") &&
    (plan.contains(".tmp-man-") || plan.contains("/_zonemap"))

  private def lineitem(n: Int, tag: String) =
    (1 to n).map(k => (k.toLong, k % 7L, s"$tag-$k", k * 0.5)).toDF("k", "g", "v", "x")

  test("the detector sees Spark's own inference job") {
    val d = java.nio.file.Files.createTempDirectory("graft-budget-probe").toString + "/t"
    lineitem(10, "p").write.parquet(d)
    assert(jobsOf(spark.read.parquet(d): Unit)._2 == 1)
    assert(jobsOf(ParquetSchemas.read(spark, d): Unit) == ((0, 0)))
  }

  test("lake loads and linked commit verbs run no inference job; a merge stays in budget") {
    Tables.all.foreach(t => assert(jobsOf(Tables.load(spark, sfDir, t): Unit) == ((0, 0)), t))
    val base = java.nio.file.Files.createTempDirectory("graft-budget-linked").toString + "/t"
    val st = new ManifestStore(spark, base, "k")
    assert(jobsOf(st.write(lineitem(2000, "a"), 1L, numFiles = 4))._2 == 0)
    // scattered updates (every file touched) plus new keys
    val delta = ((1 to 2000 by 97).map(k => (k.toLong, 0L, s"u-$k", 0.0)) ++
      (2001 to 2010).map(k => (k.toLong, 1L, s"n-$k", 1.0))).toDF("k", "g", "v", "x")
    val (mergeJobs, mergeInference) =
      jobsOf(st.mergeDelta(1L, 2L, delta, deleteKeys = Some(Seq(5L).toDF("k"))): Unit)
    assert(mergeInference == 0)
    assert(mergeJobs <= 18, s"ManifestStore.mergeDelta ran $mergeJobs jobs")
    assert(jobsOf(st.deleteWhere(2L, 3L, col("k").between(100L, 140L)): Unit)._2 == 0)
    assert(jobsOf(st.compact(3L, 4L): Unit)._2 == 0)
    assert(st.read(4L).count() == 2000L + 10L - 1L - 41L)
  }

  test("a dir-per-version merge runs no inference job") {
    val base = java.nio.file.Files.createTempDirectory("graft-budget-dir").toString + "/t"
    val st = new SnapshotStore(spark, base, "k")
    st.writeRangePartitioned(lineitem(2000, "a"), 1L, 4)
    val delta = (1 to 2000 by 97).map(k => (k.toLong, 0L, s"u-$k", 0.0)).toDF("k", "g", "v", "x")
    assert(jobsOf(st.mergeDelta(1L, 2L, delta): Unit)._2 == 0)
    assert(st.read(2L).filter($"v".startsWith("u-")).count() == 21L)
  }

  test("landing verbs run no stats-scan or sidecar-write job on either layout; a linked merge runs at most 11 jobs") {
    // control: the detectors see a stats scan and a sidecar write
    val probe = java.nio.file.Files.createTempDirectory("graft-budget-ctl").toString
    lineitem(10, "c").write.parquet(s"$probe/d")
    val control = jobPlans {
      spark.read.parquet(s"$probe/d").groupBy(input_file_name().as("file"))
        .agg(min("k")).coalesce(1).write.parquet(s"$probe/v=1/_zonemap")
    }
    assert(control.exists(statsScan) && control.exists(sidecarWrite), control)

    val delta = (1 to 2000 by 97).map(k => (k.toLong, 0L, s"u-$k", 0.0)).toDF("k", "g", "v", "x")
    val linked = new ManifestStore(spark,
      java.nio.file.Files.createTempDirectory("graft-budget-meta-l").toString + "/t", "k")
    val snap = new SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("graft-budget-meta-s").toString + "/t", "k")
    val verbs: Seq[(String, () => Unit)] = Seq(
      "linked write" -> (() => linked.write(lineitem(2000, "a"), 1L, numFiles = 4)),
      "linked mergeDelta" -> (() => linked.mergeDelta(1L, 2L, delta): Unit),
      "linked deleteWhere" -> (() =>
        linked.deleteWhere(2L, 3L, col("k").between(100L, 900L), mode = "cow"): Unit),
      "linked compact" -> (() => linked.compact(3L, 4L): Unit),
      "snapshot write" -> (() => snap.writeRangePartitioned(lineitem(2000, "a"), 1L, 4)),
      "snapshot mergeDelta" -> (() => snap.mergeDelta(1L, 2L, delta): Unit),
      "snapshot deleteWhere" -> (() =>
        snap.deleteWhere(2L, 3L, col("k").between(100L, 900L), mode = "cow"): Unit),
      "snapshot compact" -> (() => snap.compact(3L): Unit))
    val runs = verbs.map { case (name, verb) => name -> jobPlans(verb()) }.toMap
    runs.foreach { case (name, plans) =>
      assert(!plans.exists(statsScan), s"$name ran a stats-scan job")
      assert(!plans.exists(sidecarWrite), s"$name ran a sidecar-write job")
    }
    assert(runs("linked mergeDelta").size <= 11,
      s"ManifestStore.mergeDelta ran ${runs("linked mergeDelta").size} jobs")
    // the zone map a publish (here compaction's in-place swap) staged is
    // served from its rows: the next commit's probe reads it jobless
    assert(jobPlans(snap.zoneMap(3L).get.collect(): Unit).isEmpty)
    assert(linked.read(4L).count() == 2000L - 801L && snap.read(3L).count() == 2000L - 801L)
  }
}
