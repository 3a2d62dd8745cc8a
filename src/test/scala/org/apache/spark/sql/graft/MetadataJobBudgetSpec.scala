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
}
