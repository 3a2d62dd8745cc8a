package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetSchemas
import graft.operators.{ManifestStore, SnapshotStore}

/** The declared-schema helper answers exactly what Spark's own
  * inference answers, on every layout the stores and the lake readers
  * hand it — and steps aside where only Spark can answer. */
class ParquetSchemasSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def assertSame(paths: String*): Unit = {
    val inferred = spark.read.parquet(paths: _*).schema
    assert(ParquetSchemas.of(spark, paths).contains(inferred), paths.mkString(", "))
    assert(ParquetSchemas.read(spark, paths: _*).schema == inferred)
  }

  test("a Spark-written pool file, a file set and a manifest dir") {
    val base = tmpDir("graft-schemas-pool")
    val st = new ManifestStore(spark, base, "k")
    st.write(Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 0.5)).toDF("k", "v", "d"),
      1L, numFiles = 2)
    val files = fsOf(base).listStatus(new Path(s"$base/files"))
      .map(_.getPath.toString).sorted.toSeq
    assertSame(files.head)
    assertSame(files: _*)
    assertSame(s"$base/_manifests/v=1")
  }

  test("a hive-partitioned dir carries its inferred partition columns") {
    val d = s"${tmpDir("graft-schemas-hive")}/t"
    Seq((1L, "x", 2024, "eu"), (2L, "y", 2025, "us")).toDF("k", "v", "year", "region")
      .write.partitionBy("year", "region").parquet(d)
    assertSame(d)
    assert(ParquetSchemas.of(spark, Seq(d)).get.fieldNames.toSeq ==
      Seq("k", "v", "year", "region"))
  }

  test("a deletion-vector root and a zone-map dir") {
    val base = tmpDir("graft-schemas-dv")
    val st = new SnapshotStore(spark, base, "k")
    st.writeRangePartitioned((1 to 200).map(k => (k.toLong, s"v$k")).toDF("k", "v"), 1L, 2)
    st.deleteWhere(1L, 2L, col("k") === 5L, mode = "dv")
    assertSame(s"$base/v=2/_dv")
    assertSame(s"$base/v=1/_zonemap")
    // the fixed layout both stores declare for their deletion vectors
    assert(spark.read.parquet(s"$base/v=2/_dv").schema == SnapshotStore.dvSchema)
  }

  test("a column-mapped and an evolved store dir") {
    val base = tmpDir("graft-schemas-evolved")
    val st = new SnapshotStore(spark, base, "k")
    st.writeRangePartitioned((1 to 100).map(k => (k.toLong, s"v$k")).toDF("k", "v"), 1L, 2)
    st.mergeDelta(1L, 2L, Seq((3L, "u", 7)).toDF("k", "v", "extra"))
    st.renameColumn(2L, 3L, "v", "label")
    Seq(2L, 3L).foreach(v => assertSame(s"$base/v=$v"))
  }

  test("every testdata table, including the non-Spark-written events") {
    val dirs = Seq(sfDir, sfDir.stripSuffix("0.001") + "0.01")
      .filter(d => fsOf(d).exists(new Path(d)))
    assert(dirs.nonEmpty)
    for (d <- dirs; t <- graft.sources.Tables.all) assertSame(s"$d/$t.parquet")
  }

  test("mergeSchema requests Spark's merged schema; an empty dir raises Spark's error") {
    val root = tmpDir("graft-schemas-merge")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$root/a")
    Seq((2L, 3.5)).toDF("k", "d").write.parquet(s"$root/b")
    val paths = Seq(s"$root/a", s"$root/b")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(ParquetSchemas.of(spark, paths).isEmpty)
      assert(ParquetSchemas.read(spark, paths: _*).schema.fieldNames.toSet == Set("k", "v", "d"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    val empty = tmpDir("graft-schemas-empty")
    val theirs = intercept[AnalysisException](spark.read.parquet(empty))
    val ours = intercept[AnalysisException](ParquetSchemas.read(spark, empty))
    assert(ours.getMessage == theirs.getMessage)
  }
}
