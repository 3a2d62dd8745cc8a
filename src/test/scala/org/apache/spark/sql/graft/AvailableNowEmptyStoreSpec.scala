package org.apache.spark.sql.graft

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Trigger.AvailableNow on a store with ZERO committed versions: the
  * tip pin must resolve to "nothing available" (maxOption), not crash
  * on an empty max — an AvailableNow run racing the store's first
  * commit drains nothing and terminates. The r14 advisor's low
  * finding: latestOffset had the isEmpty guard but the pin did not. */
class AvailableNowEmptyStoreSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  test("prepareForTriggerAvailableNow on an empty store pins nothing; latestOffset makes no progress") {
    val base = java.nio.file.Files.createTempDirectory("graft_an_empty").toString + "/t"
    new java.io.File(base).mkdirs()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_an_ck").toString
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val stream = new ChangesMicroBatchStream(spark,
      new graft.operators.ManifestStore(spark, base, "k"),
      schema = schema, rowsOnly = false, ignoreDeletes = false,
      startingVersion = None, checkpointLocation = ckpt)
    stream.prepareForTriggerAvailableNow() // must not throw on zero versions
    val start = VersionOffset(0L)
    val got = stream.latestOffset(start,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    assert(got == start, s"empty pin must admit nothing, got $got")
    // a commit landing AFTER the (empty) pin stays outside this run
    val st = new graft.operators.ManifestStore(spark, base, "k")
    import spark.implicits._
    st.write(Seq((1L, "a")).toDF("k", "v"), 1L, 1)
    val after = stream.latestOffset(start,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    assert(after == start, "mid-drain commit must wait for the next AvailableNow run")
  }
}
