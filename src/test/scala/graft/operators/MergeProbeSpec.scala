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
}
