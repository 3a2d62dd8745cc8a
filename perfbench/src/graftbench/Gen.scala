package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every column is a pure function of
  * (seed, row id), built from Spark's xxhash64, so one seed always
  * yields byte-identical frames and the program under test receives
  * nothing but these frames. */
object Gen {
  /** Stable non-negative pseudo-random long for (seed, salt, cols). */
  def h(seed: Long, salt: Int, cols: Column*): Column =
    abs(xxhash64(Seq(lit(seed), lit(salt)) ++ cols: _*) % lit(Long.MaxValue))

  /** Uniform double in [0, 1). */
  def u01(seed: Long, salt: Int, cols: Column*): Column =
    (h(seed, salt, cols: _*) % 1000000L).cast("double") / 1e6

  def pick(choices: Seq[String], seed: Long, salt: Int, cols: Column*): Column =
    element_at(array(choices.map(lit): _*),
      (h(seed, salt, cols: _*) % choices.size).cast("int") + 1)

  /** Key column of the lineitem stores: l_orderkey*8 + l_linenumber. */
  val Key = "lk"

  private val LinesPerOrder = 4

  /** The lineitem-shaped base frame: `n` rows, four lines per order,
    * keyed by `lk = l_orderkey*8 + l_linenumber`. */
  def lineitem(spark: SparkSession, seed: Long, n: Long): DataFrame =
    lineitemRows(spark.range(n).select(col("id")), seed, salt = 0)

  /** Lineitem rows for the row ids in `ids` (column `id`); `salt`
    * changes every non-key column, which is how updates are made. */
  def lineitemRows(ids: DataFrame, seed: Long, salt: Int): DataFrame = {
    val id = col("id")
    val s = salt * 16
    ids.select(
      (id / LinesPerOrder + 1).cast("long").as("l_orderkey"),
      (h(seed, s + 1, id) % 20000L + 1).as("l_partkey"),
      (h(seed, s + 2, id) % 1000L + 1).as("l_suppkey"),
      (id % LinesPerOrder + 1).cast("int").as("l_linenumber"),
      (h(seed, s + 3, id) % 50L + 1).cast("double").as("l_quantity"),
      round(u01(seed, s + 4, id) * 104000.0 + 900.0, 2).as("l_extendedprice"),
      round(u01(seed, s + 5, id) * 0.1, 2).as("l_discount"),
      round(u01(seed, s + 6, id) * 0.08, 2).as("l_tax"),
      pick(Seq("A", "N", "R"), seed, s + 7, id).as("l_returnflag"),
      pick(Seq("F", "O"), seed, s + 8, id).as("l_linestatus"),
      timestamp_seconds(lit(788918400L) + h(seed, s + 9, id) % 215000000L).as("l_shipdate"))
      .withColumn(Key, col("l_orderkey") * 8 + col("l_linenumber"))
  }

  /** Content columns, in the canonical order the checks hash them. */
  val LineitemCols: Seq[String] = Seq("lk", "l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")

  /** One incremental commit of the backup chain. */
  sealed trait Commit { def label: String }
  /** Upsert of full rows: `scattered` updates spread evenly over every
    * key; clustered ones update the top key range and append new keys. */
  final case class Merge(label: String, delta: DataFrame) extends Commit
  /** Predicate delete of one key range. */
  final case class Delete(label: String, lo: Long, hi: Long) extends Commit {
    def pred: Column = col(Key).between(lo, hi)
  }

  /** `k` seeded merges (alternating scattered/clustered, the first kind
    * chosen by the seed) followed by one key-range delete. Each merge
    * touches about `deltaRows` keys; row ids start at `n` for appended
    * keys so they never collide with the base. */
  def commits(spark: SparkSession, seed: Long, n: Long, k: Int,
      deltaRows: Long): Seq[Commit] = {
    val rnd = new scala.util.Random(seed)
    val scatteredFirst = rnd.nextBoolean()
    val merges = (1 to k).map { i =>
      val scattered = (i % 2 == 1) == scatteredFirst
      if (scattered) {
        val stride = n / deltaRows
        val offset = rnd.nextInt(stride.toInt).toLong
        val ids = spark.range(offset, n, stride).select(col("id"))
        Merge(s"scattered$i", lineitemRows(ids, seed, salt = i))
      } else {
        // half updates in the top 2% of ids, half brand-new keys
        val top = n / 50
        val step = math.max(1L, top / (deltaRows / 2))
        val upd = spark.range(n - top + rnd.nextInt(step.toInt), n, step)
        val fresh = spark.range(n + i * deltaRows, n + i * deltaRows + deltaRows / 2)
        Merge(s"clustered$i", lineitemRows(upd.union(fresh).select(col("id")), seed, salt = i))
      }
    }
    // one delete of n/2000 whole orders (~0.2% of the rows), seeded position
    val width = (n / 2000) * 8
    val lo = 8L + (rnd.nextDouble() * (n * 2 - width)).toLong
    merges :+ Delete("delete", lo, lo + width)
  }

  /** Declarative expected tip: base ∪ upserts − deletes, applied in commit order. */
  def expectedTip(base: DataFrame, commits: Seq[Commit]): DataFrame =
    commits.foldLeft(base) {
      case (cur, Merge(_, d)) => cur.join(d.select(Key), Seq(Key), "left_anti").unionByName(d)
      case (cur, del: Delete) => cur.filter(!del.pred)
    }

  /** (row count, order-independent XOR of per-row xxhash64) over the
    * canonical content columns. */
  def contentHash(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.select(xxhash64(cols.map(col): _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  // ---- the lake_analytics corpus --------------------------------------

  /** Seed of the analytics corpus. Fixed, so the pinned expected
    * results hold for every run; the run seed orders the passes. */
  val LakeSeed = 42L

  private val words = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")

  /** Writes the ten lake tables (TPC-H-shaped star schema plus events,
    * documents and embeddings, the shapes `graft.sources.Tables` reads)
    * as parquet under `dir`. `sf` scales the row counts like TPC-H. */
  def writeLake(spark: SparkSession, dir: String, sf: Double): Unit = {
    val s = LakeSeed
    def rows(base: Long) = math.max(1L, (base * sf).toLong)
    def ids(n: Long) = spark.range(n).select(col("id"))
    val id = col("id")
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val nCust = rows(150000); val nSupp = rows(10000); val nPart = rows(200000)
    val nOrders = rows(1500000); val nLines = rows(6000000)
    save("region", ids(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        id.cast("int") + 1).as("r_name")))
    save("nation", ids(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    save("customer", ids(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      (h(s, 1, id) % 25).cast("int").as("c_nationkey"),
      round(u01(s, 2, id) * 10999.0 - 999.0, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), s, 3, id)
        .as("c_mktsegment")))
    save("supplier", ids(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      (h(s, 4, id) % 25).cast("int").as("s_nationkey"),
      round(u01(s, 5, id) * 10999.0 - 999.0, 2).as("s_acctbal")))
    save("part", ids(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick(Seq("small", "red", "blue", "hot", "green", "large", "shiny"), s, 6, id),
        pick(Seq("ring", "widget", "bolt", "gear", "gizmo", "spring"), s, 7, id)).as("p_name"),
      concat(lit("Brand#"), (h(s, 8, id) % 25 + 1).cast("string")).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), s, 9, id).as("p_type"),
      (h(s, 10, id) % 50 + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice")))
    save("orders", ids(nOrders).select(id.as("o_orderkey"),
      (h(s, 11, id) % nCust).as("o_custkey"),
      pick(Seq("F", "O", "P"), s, 12, id).as("o_orderstatus"),
      round(u01(s, 13, id) * 498964.0 + 1013.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + (h(s, 14, id) % 2405L) * 86400L).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), s, 15, id)
        .as("o_orderpriority")))
    save("lineitem", ids(nLines).select(
      (h(s, 16, id) % nOrders).as("l_orderkey"),
      (h(s, 17, id) % nPart).as("l_partkey"),
      (h(s, 18, id) % nSupp).as("l_suppkey"),
      (h(s, 19, id) % 7 + 1).cast("int").as("l_linenumber"),
      (h(s, 20, id) % 50 + 1).cast("double").as("l_quantity"),
      round(u01(s, 21, id) * 104000.0 + 900.0, 2).as("l_extendedprice"),
      round(u01(s, 22, id) * 0.1, 2).as("l_discount"),
      round(u01(s, 23, id) * 0.08, 2).as("l_tax"),
      pick(Seq("A", "N", "R"), s, 24, id).as("l_returnflag"),
      pick(Seq("F", "O"), s, 25, id).as("l_linestatus"),
      timestamp_seconds(lit(788918400L) + (h(s, 26, id) % 2500L) * 86400L).as("l_shipdate")))
    save("events", ids(rows(1000000)).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * 25920000L + h(s, 27, id) % 25920000L).as("ts"),
      (h(s, 28, id) % math.max(1L, rows(15000))).as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), s, 29, id).as("event_type"),
      round(u01(s, 30, id) * 490.0 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", h(s, 31, id) % 100).as("props")))
    // documents: word salads; every fifth doc is a near-copy of an
    // earlier one (one word changed) so the dedup operators find pairs
    val nDocs = rows(50000)
    val nWords = (h(s, 32, id) % 50 + 8).cast("int")
    val src = when(id % 5 === 4, id - 3).otherwise(id)
    val docWords = transform(sequence(lit(0), nWords - 1), i =>
      when(id % 5 === 4 && i === 3, lit("merge")).otherwise(
        element_at(array(words.map(lit): _*), (h(s, 33, src, i) % words.size).cast("int") + 1)))
    save("documents", ids(nDocs)
      .select(id.as("doc_id"), array_join(docWords, " ").as("text"),
        pick(Seq("de", "en", "en", "en", "es", "fr", "zh"), s, 34, id).as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // embeddings: 64-d unit-ish vectors around ten label centroids
    val dim = 64
    save("embeddings", ids(rows(20000)).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        ((u01(s, 35, id % 10, i) - 0.5) * 0.4 + (u01(s, 36, id, i) - 0.5) * 0.1).cast("float"))
        .as("embedding"),
      (id % 10).cast("int").as("label")))
  }
}
