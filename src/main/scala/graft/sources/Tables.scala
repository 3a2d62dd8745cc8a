package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ParquetSchemas

/** Schema-aware readers for the lake tables.
  *
  * All graft operators read through here so that a future move from
  * local parquet to a real lake layout (partitioned dirs, Delta-style
  * manifests, ADLS URIs) is a one-file change. Readers are plain
  * parquet scans so Catalyst keeps full pushdown/pruning: `.explain`
  * on any graft query shows PushedFilters + a ReadSchema restricted to
  * the referenced columns. Every read carries a declared schema (one
  * footer read in this process, [[ParquetSchemas]]) — no inference
  * job.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = tpch ++ Seq("events", "documents", "embeddings")

  /** Load one table from a scale-factor directory. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetSchemas.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** The events generator has flipped `ts`'s physical type between
    * testdata regenerations — INT64(TIMESTAMP_NANOS) historically,
    * INT64(TIMESTAMP_MICROS) today — so the unit is DETECTED from the
    * parquet footer of one data file, never assumed. Each unit gets the
    * read path that is exact for it:
    *  - NANOS (or a bare un-annotated INT64, the generator's other
    *    historical shape): read as BIGINT (Spark 4's inference refuses
    *    ns→timestamp; an explicit schema sidesteps inference with no
    *    session conf touched) and convert with integer `ts div 1000`,
    *    never double division, which loses precision on ~1.7e18 values.
    *  - MICROS / MILLIS: read natively as TIMESTAMP — Spark's
    *    vectorized reader decodes both exactly; any division here
    *    would corrupt (dividing µs by 1000 lands every event in
    *    January 1970 — the round-8 regression this detection fixes).
    * The footer probe is one metadata read; it is cached per
    * (dir, file length/mtime) so repeated `events()` calls in a bench
    * loop cost nothing, while a regenerated file re-probes. */
  private val eventsSchemaNs =
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
  private val eventsSchemaTs =
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"

  private val tsUnitCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit]()

  /** Physical timestamp unit of `ts` in `dir/events.parquet` (file or
    * directory of part-files), from the parquet footer. */
  private[graft] def eventsTsUnit(s: SparkSession, d: String): org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = s.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$d/events.parquet")
    val fs = root.getFileSystem(conf)
    val st = fs.getFileStatus(root)
    val dataFile =
      if (st.isDirectory)
        fs.listStatus(root)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
          .sortBy(_.getPath.getName).headOption
          .getOrElse(throw new IllegalStateException(s"no data files under $root"))
      else st
    val key = s"${dataFile.getPath}|${dataFile.getLen}|${dataFile.getModificationTime}"
    tsUnitCache.computeIfAbsent(key, { _ =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(dataFile.getPath, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val prim = schema.getType(schema.getFieldIndex("ts")).asPrimitiveType()
        if (prim.getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96)
          LogicalTypeAnnotation.TimeUnit.MICROS // INT96: Spark's native TIMESTAMP read decodes it exactly
        else prim.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit
          case _ => LogicalTypeAnnotation.TimeUnit.NANOS // bare INT64: historical ns-longs shape
        }
      } finally reader.close()
    })
  }

  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    eventsTsUnit(s, d) match {
      case TimeUnit.NANOS =>
        s.read.schema(eventsSchemaNs).parquet(s"$d/events.parquet")
          .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => // MICROS or MILLIS — native TIMESTAMP decode is exact for both
        s.read.schema(eventsSchemaTs).parquet(s"$d/events.parquet")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Content fingerprint of one table in a testdata dir — keys the
    * bench-only persisted-index caches the `queries()` entries build.
    * Metadata-sized (one file listing, no data scan): md5 over (dir,
    * every file's name/len/mtime), so a regenerated table at the same
    * path — or two dirs whose `String.hashCode` would collide — never
    * reuses a stale artifact. */
  def fingerprint(s: SparkSession, dir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val sig = fs.listStatus(p)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$sig".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** Write a snapshot copy partitioned by the given columns — the
    * full-backup primitive. Partition columns become directory keys so
    * restores and incremental diffs prune at the file level.
    */
  def writeSnapshot(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Schema-enforced CSV reader (header, explicit schema — no
    * inference pass over 100 TB). */
  def readCsv(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** Schema-enforced JSON-lines reader. */
  def readJson(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Schema-enforced ORC reader — the other columnar lake format a
    * backup surface meets; same no-inference contract as
    * [[readCsv]]/[[readJson]]. */
  def readOrc(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Export a snapshot as CSV/JSON/ORC (interchange sinks for the
    * backup surface; parquet remains the canonical format). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)
}
