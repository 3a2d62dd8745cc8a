package org.apache.spark.sql.graft

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{ManifestStore, SnapshotStore, VersionedStore}

/** SQL time travel over [[graft.operators.SnapshotStore]] lineages —
  * the `VERSION AS OF` / `TIMESTAMP AS OF` surface a lake engine
  * exposes (the Delta/Iceberg UX), wired through Spark's OWN DataSource
  * V2 time-travel hooks instead of a bespoke reader:
  *
  * {{{
  *   spark.sql.catalog.snap       = org.apache.spark.sql.graft.SnapshotCatalog
  *   spark.sql.catalog.snap.root  = /lake/snapshots
  *
  *   SELECT * FROM snap.orders                                -- latest version
  *   SELECT * FROM snap.orders VERSION AS OF 42               -- explicit version
  *   SELECT * FROM snap.orders TIMESTAMP AS OF '2026-08-01'   -- commit-ts resolve
  * }}}
  *
  * Each table name resolves to `<root>/<namespace...>/<name>` — either
  * a SnapshotStore base (`v=<n>` version dirs + `_commit_ts` sidecars)
  * or a LINKED ManifestStore base (`_manifests/` + shared `files/`
  * pool), auto-detected; a linked version plans over its
  * manifest-resolved pool file list, so shared files are read in
  * place and the store's zero-copy property carries into SQL.
  * Resolution is METADATA-ONLY (a version listing + KB sidecars);
  * the table Spark plans against is a plain [[ParquetTable]] over the
  * resolved version directory, so the whole native read stack applies
  * unchanged — vectorized decode, filter pushdown, column pruning,
  * partition coalescing. `TIMESTAMP AS OF` arrives in MICROSECONDS
  * (the DSv2 contract); SnapshotStore commit timestamps are millis.
  *
  * An evolved version's fill policy (`graft.fill` field metadata in
  * its `_schema.json`) PROJECTS into the scan as Spark's own
  * existence-default column metadata (`EXISTS_DEFAULT`): files that
  * predate the column read the recorded default straight out of the
  * parquet reader — still metadata-only, and the SQL read agrees with
  * the store API's fill view (rewritten files materialize fills at
  * write time, so no stored null survives in a filled column).
  *
  * DML/DDL: the full SQL verb set maps onto the stores' own publish
  * protocol — every mutation lands a NEW VERSION via tmp+rename (time
  * travel keeps reading the old one), driven by the key column the
  * store recorded in `_store.json` at first publish:
  *
  *   - `DELETE FROM ... WHERE` / `TRUNCATE` → `deleteWhere` via the
  *     DSv2 row-level delete hook ([[SupportsDelete]])
  *   - `INSERT [OVERWRITE]` → `mergeDelta` via the V1 write fallback
  *     (key collisions refuse loudly — the key is a unique identity)
  *   - `UPDATE` / `MERGE INTO` → `mergeDelta` via [[GraftExtensions]]'
  *     planner strategies
  *   - `CREATE TABLE [AS SELECT]` → `createEmpty` (+ the INSERT path
  *     for CTAS); `DROP TABLE` / `RENAME TO` → base-dir remove/rename
  *   - `ALTER TABLE ADD COLUMN [DEFAULT]` → an empty wider
  *     `mergeDelta` recording the fill sidecar
  *
  * Version- and timestamp-pinned reads carry no hooks — immutable
  * history; anything untranslatable keeps a loud refusal.
  */
class SnapshotCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"SnapshotCatalog '$name' requires spark.sql.catalog.$name.root=<lake root>"))
  }

  override def name(): String = catalogName

  private def spark = SparkSession.active

  private def storePath(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(s"$root/", "/", "")

  /** The store at `ident` under the layout it was written in; keyCol
    * is irrelevant to the read-side metadata calls (the DML hooks and
    * procedures re-key it with the recorded key column). */
  private def storeFor(ident: Identifier): VersionedStore =
    VersionedStore.open(spark, storePath(ident), keyCol = "")

  /** `graft.fill` field metadata → the SQL literal Spark's
    * existence-default machinery evaluates at scan time. CAST keeps
    * the parsed literal exactly the column's type (the default must
    * be constant-foldable; a cast of a literal is). */
  private def fillLiteral(f: org.apache.spark.sql.types.StructField): Option[String] = {
    import org.apache.spark.sql.types._
    if (!f.metadata.contains("graft.fill")) None
    else Some(f.dataType match {
      case StringType =>
        val esc = f.metadata.getString("graft.fill")
          .replace("\\", "\\\\").replace("'", "\\'")
        s"'$esc'"
      case DoubleType | FloatType =>
        s"CAST('${f.metadata.getDouble("graft.fill")}' AS ${f.dataType.sql})"
      case BooleanType => f.metadata.getBoolean("graft.fill").toString
      case dt => s"CAST(${f.metadata.getLong("graft.fill")} AS ${dt.sql})"
    })
  }

  /** Project each recorded fill into Spark's own default-column
    * metadata, so the parquet reader itself yields the fill for files
    * that predate the column — metadata-only, no post-scan project. */
  private def projectFills(sc: StructType): StructType =
    StructType(sc.fields.map { f =>
      fillLiteral(f) match {
        case Some(sql) =>
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("EXISTS_DEFAULT", sql)
            .putString("CURRENT_DEFAULT", sql).build())
        case None => f
      }
    })

  private def tableFor(ident: Identifier, st: VersionedStore, version: Long): Table = {
    val base = st.basePath
    // paths: a snapshot version is its data dir (one listing by the
    // scan's own file index); a LINKED version is the manifest-resolved
    // pool file list (shared files read in place — the zero-copy
    // property carries straight into SQL). Schema: the evolved union
    // sidecar when present (with fills projected as existence defaults
    // — old pool files then yield the FILL for columns they predate,
    // null absent a policy), else mergeSchema infers across footers.
    val paths = st match {
      case _: SnapshotStore => Seq(s"$base/v=$version")
      case _ => st.dataPaths(version)
    }
    val evolved0 = st.evolvedSchema(version).map(projectFills)
    // temporal partition transforms land a DERIVED identity column in
    // the files — HIDDEN from SQL (SELECT * serves the declared
    // columns only; Iceberg's hidden-partitioning UX). Identity
    // partition columns stay visible as ordinary data columns.
    val hiddenCols = temporalSpecs(base).map(_.name).toSet
    def hide(sc: StructType): StructType =
      StructType(sc.fields.filterNot(f => hiddenCols.contains(f.name)))
    val evolved =
      if (hiddenCols.isEmpty) evolved0
      else evolved0.map(hide).orElse(
        if (paths.isEmpty) None
        // ONE footer: absent a schema sidecar the version never
        // evolved, so its files are schema-uniform by construction —
        // a mergeSchema inference over every path here would read
        // thousands of footers on every loadTable
        else Some(hide(ParquetSchemas.schema(spark, paths.head))))
    // a linked version whose manifest lists ZERO pool files (an
    // all-row deleteWhere / mergeDelta) plans an EMPTY scan over the
    // recorded schema — absent that record there is nothing to infer
    // a schema from, and the honest answer is a descriptive error
    if (paths.isEmpty) {
      val sc = evolved.getOrElse(throw new IllegalStateException(
        s"$catalogName.${ident.name()} version $version references no data files " +
          "and records no schema sidecar — cannot plan a scan"))
      pathFreeTable(s"$catalogName.${ident.name()}@v$version",
        new CaseInsensitiveStringMap(java.util.Map.of("mergeSchema", "true")), sc)
    } else {
      val opts = new CaseInsensitiveStringMap(
        java.util.Map.of("path", paths.head, "mergeSchema", "true"))
      ParquetTable(s"$catalogName.${ident.name()}@v$version", spark, opts,
        paths, evolved, classOf[ParquetFileFormat])
    }
  }

  /** When `version` carries a deletion vector OR a column-mapped
    * (metadata-only renamed) schema, the DataFrame-producing store
    * read the SQL scan must serve INSTEAD of the raw files — a
    * ParquetTable over the version's files would resurrect masked
    * rows, and would read NULL for a mapped column (the bytes answer
    * to the physical name). None otherwise (the native path). */
  /** Every temporal transform spec the store EVER declared (partition
    * spec evolution keeps the history): all their derived columns
    * hide from SQL, and pruning consults each file's own spec. */
  private def temporalSpecs(base: String): Seq[graft.operators.SnapshotStore.PartSpec] = {
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.operators.SnapshotStore.readPartitionSpecHistory(fs, base)._1
      .flatten.distinct
      .map(graft.operators.SnapshotStore.parsePartitionSpec)
      .filter(_.transform.isDefined)
  }

  private def specHistorySize(base: String): Int = {
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.operators.SnapshotStore.readPartitionSpecHistory(fs, base)._1.size
  }

  private def maskedReadFor(st: VersionedStore,
      version: Long): Option[() => org.apache.spark.sql.DataFrame] = {
    val (hasDv, evolved) = (st.dvFrame(version).isDefined, st.evolvedSchema(version))
    // temporal-partitioned tables also serve through the store read:
    // the V1 relation pushes timestamp predicates into the inner
    // parquet scan (the V2 parquet path cannot translate TIMESTAMP_NTZ
    // predicates at all), hides the derived column, and gains the
    // derived-range FILE pruning below
    val temporal = temporalSpecs(st.basePath)
    val has = hasDv || evolved.exists(graft.operators.SnapshotStore.hasMapping) ||
      temporal.nonEmpty
    if (!has) None
    else Some(() => temporal.map(_.name).foldLeft(st.read(version))(_.drop(_)))
  }

  /** Transform-aware FILE pruning for a temporal-partitioned table:
    * range/equality filters on a transform's SOURCE column translate
    * to a derived-column range (truncation is monotone, so the
    * derived bound is a conservative superset), served through the
    * stores' own readWhereAll — manifest-envelope / zone-map pruned,
    * the metadata prune the exact filters then re-apply on top of.
    * None when no pushed filter bounds a source column. */
  private def temporalPrunedReadFor(st: VersionedStore,
      version: Long): Option[Array[org.apache.spark.sql.sources.Filter] =>
        Option[org.apache.spark.sql.DataFrame]] = {
    val specs = temporalSpecs(st.basePath)
    if (specs.isEmpty) return None
    // an EVOLVED store prunes per-file by each file's OWN spec: route
    // source-column bounds through readSourceRange (the store-side
    // interval translation), instead of the single-spec derived-range
    // path below — which would consult only the current spec's stats
    // and read NULL for files that predate it
    if (specHistorySize(st.basePath) > 1) {
      return Some { filters =>
        import org.apache.spark.sql.sources._
        val sources = specs.map(_.source).distinct
        val bounded = sources.flatMap { src =>
          var lo: Option[Any] = None
          var hi: Option[Any] = None
          filters.foreach {
            case EqualTo(c, v) if c == src => lo = Some(v); hi = Some(v)
            case GreaterThan(c, v) if c == src => lo = Some(v)
            case GreaterThanOrEqual(c, v) if c == src => lo = Some(v)
            case LessThan(c, v) if c == src => hi = Some(v)
            case LessThanOrEqual(c, v) if c == src => hi = Some(v)
            case _ => ()
          }
          if (lo.isEmpty && hi.isEmpty) None else Some((src, lo, hi))
        }
        bounded.headOption.map { case (src, lo, hi) =>
          val loV = lo.getOrElse(java.sql.Timestamp.valueOf("0001-01-01 00:00:00"))
          val hiV = hi.getOrElse(java.sql.Timestamp.valueOf("9999-12-31 23:59:59"))
          specs.map(_.name).distinct
            .foldLeft(st.readSourceRange(version, src, loV, hiV))(_.drop(_))
        }
      }
    }
    Some { filters =>
      import org.apache.spark.sql.sources._
      def truncOf(v: Any, kind: String): Option[Any] = {
        val ldt: java.time.LocalDateTime = v match {
          case t: java.sql.Timestamp => t.toLocalDateTime
          case d: java.sql.Date => d.toLocalDate.atStartOfDay
          case i: java.time.Instant =>
            java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
          case l: java.time.LocalDateTime => l
          case l: java.time.LocalDate => l.atStartOfDay
          case _ => return None
        }
        Some(kind match {
          case "days" => java.sql.Date.valueOf(ldt.toLocalDate)
          case "months" => java.sql.Date.valueOf(ldt.toLocalDate.withDayOfMonth(1))
          case "years" => java.sql.Date.valueOf(ldt.toLocalDate.withDayOfYear(1))
          case _ => java.sql.Timestamp.valueOf(
            ldt.truncatedTo(java.time.temporal.ChronoUnit.HOURS))
        })
      }
      val preds = specs.flatMap { sp =>
        var lo: Option[Any] = None
        var hi: Option[Any] = None
        filters.foreach {
          case EqualTo(c, v) if c == sp.source => lo = Some(v); hi = Some(v)
          case GreaterThan(c, v) if c == sp.source => lo = Some(v)
          case GreaterThanOrEqual(c, v) if c == sp.source => lo = Some(v)
          case LessThan(c, v) if c == sp.source => hi = Some(v)
          case LessThanOrEqual(c, v) if c == sp.source => hi = Some(v)
          case _ => ()
        }
        if (lo.isEmpty && hi.isEmpty) None
        else {
          val kind = sp.transform.get
          val (fallLo, fallHi) =
            if (kind == "hours")
              (java.sql.Timestamp.valueOf("0001-01-01 00:00:00"): Any,
                java.sql.Timestamp.valueOf("9999-12-31 23:00:00"): Any)
            else (java.sql.Date.valueOf("0001-01-01"): Any,
              java.sql.Date.valueOf("9999-12-31"): Any)
          val dlo = lo.flatMap(truncOf(_, kind))
          val dhi = hi.flatMap(truncOf(_, kind))
          // a bound whose VALUE shape we cannot truncate disables the
          // prune for this spec (never prune on guesswork)
          if ((lo.isDefined && dlo.isEmpty) || (hi.isDefined && dhi.isEmpty)) None
          else Some((sp.name, dlo.getOrElse(fallLo), dhi.getOrElse(fallHi)))
        }
      }
      if (preds.isEmpty) None
      else Some(specs.map(_.name).foldLeft(st.readWhereAll(version, preds))(_.drop(_)))
    }
  }

  /** Version-pinned table: native parquet when unmasked; the
    * DV-masked V1 relation (column-pruned + filter-pushed through the
    * inner plan) when the version carries a mask. */
  private def pinnedTable(ident: Identifier, st: VersionedStore, v: Long): Table =
    maskedReadFor(st, v) match {
      case None =>
        bucketedRouteFor(st, v) match {
          case None => tableFor(ident, st, v)
          case route => new SnapshotTable(
            tableForMasked(ident, st, v),
            None, None, None, bucketedRoute = route)
        }
      case some => new SnapshotTable(
        tableForMasked(ident, st, v),
        None, None, None, maskedRead = some,
        prunedRead = temporalPrunedReadFor(st, v),
        visibleRows = Some(() => st.visibleRowsOf(v)))
    }

  /** STORAGE-PARTITIONED JOIN route — the catalog half of
    * [[graft.operators.VersionedStore.writeBucketedVersion]]'s contract: when
    * the store declares a bucket layout AND every data file of
    * `version` carries Spark's bucket-id name (only the bucketed write
    * paths produce those), the version serves as a V1 bucketed
    * relation ([[BucketedScanBuilder]]); `FileSourceScanExec` then
    * reports `HashPartitioning(col, n)` and `SELECT ... FROM cat.a
    * JOIN cat.b ON a.key = b.key` plans with ZERO Exchange on either
    * bucketed side (`ScaleJoins.colocatedJoin`'s zero-Exchange
    * contract, through SQL). A version holding ANY non-bucketed file —
    * a later mergeDelta/compact landing — fails the gate and falls
    * back to the plain route: correct, just shuffling, until a fresh
    * writeBucketed re-buckets. Evolved/masked versions never take this
    * route (the store read owns their semantics). */
  private def bucketedRouteFor(st: VersionedStore,
      version: Long): Option[BucketedRoute] = {
    val base = st.basePath
    val fsB = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.operators.SnapshotStore.readStoredBucketBy(fsB, base).flatMap {
      case (bCol, n) =>
        if (st.evolvedSchema(version).isDefined) None
        else {
          val paths = st.dataPaths(version)
          val allBucketed = paths.nonEmpty && paths.forall { p =>
            val name = p.substring(p.lastIndexOf('/') + 1)
            graft.operators.SnapshotStore.bucketIdOf(name).exists(_ < n)
          }
          if (allBucketed) Some(BucketedRoute(bCol, n, paths)) else None
        }
    }
  }

  /** The DELEGATE for a table whose scan is served by the store read
    * (DV-masked / column-mapped / temporal-partitioned): only its
    * name/schema/partitioning are consulted, so it carries NO paths —
    * the plain delegate would stat every pool file (thousands of
    * driver-side opens per loadTable) for a file index nothing reads. */
  private def tableForMasked(ident: Identifier, st: VersionedStore,
      version: Long): ParquetTable = {
    val evolved0 = st.evolvedSchema(version).map(projectFills)
    val hiddenCols = temporalSpecs(st.basePath).map(_.name).toSet
    def hide(sc: StructType): StructType =
      StructType(sc.fields.filterNot(f => hiddenCols.contains(f.name)))
    val schema = evolved0.map(hide).getOrElse {
      // one footer: absent a sidecar the version never evolved, so
      // its files are schema-uniform by construction
      st.dataPaths(version).headOption.map(p => hide(ParquetSchemas.schema(spark, p))).getOrElse(
        throw new IllegalStateException(
          s"$catalogName.${ident.name()} version $version has no files and no " +
            "schema sidecar — cannot plan a scan"))
    }
    pathFreeTable(s"$catalogName.${ident.name()}@v$version",
      new CaseInsensitiveStringMap(java.util.Map.of()), schema)
  }

  /** A delegate over NO files under the declared `schema`. Its file
    * index is the empty one Spark would build, made without resolving
    * the empty path list (Spark's path check reports an empty list as
    * "All paths were ignored" — a WARN on every load of such a table). */
  private def pathFreeTable(name: String, opts: CaseInsensitiveStringMap,
      schema: StructType): ParquetTable =
    new ParquetTable(name, spark, opts, Nil, Some(schema), classOf[ParquetFileFormat]) {
      override lazy val fileIndex: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex = {
        import scala.jdk.CollectionConverters._
        new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(sparkSession, Nil,
          options.asCaseSensitiveMap.asScala.toMap, userSpecifiedSchema,
          org.apache.spark.sql.execution.datasources.FileStatusCache.getOrCreate(sparkSession))
      }
    }

  /** One metadata resolution per loadTable: layout sniff + version
    * listing, threaded to every downstream step (each exists/list is
    * a remote round trip on an object store). An absent or empty
    * store maps to the standard NoSuchTableException; genuine storage
    * errors (permissions, corruption, timeouts) PROPAGATE — reporting
    * them as "table not found" would send the operator debugging the
    * wrong problem. */
  private def resolve(ident: Identifier): (VersionedStore, Seq[Long]) = {
    val st = storeFor(ident)
    val vs = st.versions()
    if (vs.isEmpty) throw new NoSuchTableException(ident)
    (st, vs)
  }

  /** `SELECT * FROM <cat>.<store>.history` / `<cat>.<store>.files` —
    * the Iceberg-style metadata tables: when `<ns>.<kind>` does not
    * resolve as a store itself but `<ns>` does, serve the store's own
    * metadata frame through a [[LocalScan]]. `history` is (version,
    * commit_ts, n_files, n_rows); `files` is the TIP's per-file
    * layout — (file, min_key, max_key, n_rows, bytes): the manifest
    * for a linked store, the zone map for a snapshot store (stats
    * null, honestly, when no zone map was built), with filesystem
    * byte sizes joined in. Both are metadata-only — listings,
    * sidecars, KB manifests; no data pages. Tried only as a FALLBACK,
    * so a genuine store named `history`/`files` always wins. */
  private def historyFallback(ident: Identifier): Option[Table] = {
    val kind = ident.name()
    if ((kind != "history" && kind != "files" && kind != "changes" && kind != "dv"
        && kind != "changes_cdf" && kind != "detail"
        && kind != "partitions" && kind != "constraints" && kind != "stats")
      || ident.namespace().isEmpty) return None
    val parent = Identifier.of(ident.namespace().dropRight(1), ident.namespace().last)
    try {
      if (kind == "changes") return changesTableFor(parent, storeFor(parent), range = None)
      // `.changes_cdf` — the same feed in Delta's CDF shape: updates
      // arrive as update_preimage/update_postimage row pairs
      if (kind == "changes_cdf")
        return changesTableFor(parent, storeFor(parent), range = None, preImages = true)
      val (st, vs) = resolve(parent)
      val df = kind match {
        case "history" => st.history()
        case "dv" =>
          // the TIP's deletion vector as a table — (file, pos), empty
          // when unmasked: the observability half of merge-on-read
          // (what `CALL fold_dv` will rewrite, row by row)
          st.dvFrame(vs.max).getOrElse(spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("file",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("pos",
                org.apache.spark.sql.types.LongType)))))
        case "detail" =>
          // DESCRIBE DETAIL — one metadata-only row: layout, recorded
          // key, declared partition spec (raw, incl. temporal
          // transforms), constraint count, version count, and the
          // tip's commit ts + file/row totals served from the
          // version-log checkpoint (no data-file opens)
          val tipRow = st.history()
            .filter(org.apache.spark.sql.functions.col("version") === vs.max)
            .head()
          val row = new java.util.ArrayList[org.apache.spark.sql.Row]()
          row.add(org.apache.spark.sql.Row(
            st.layout, st.storedKeyCol().getOrElse(""),
            st.storedPartitionSpecs().map(_.raw).mkString(","),
            st.constraints().size.toLong, vs.size.toLong, vs.max,
            tipRow.getLong(1), tipRow.getLong(2), tipRow.getLong(3)))
          spark.createDataFrame(row, org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("layout",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("key_col",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("partitioned_by",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_constraints",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_versions",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("tip_version",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("tip_commit_ts",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("tip_files",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("tip_rows",
              org.apache.spark.sql.types.LongType))))
        case "stats" =>
          // the tip's ANALYZE result as a table — only an analyzed
          // version has one (CALL analyze writes it)
          st.columnStats(vs.max).getOrElse(return None)
        case "constraints" =>
          // the declared CHECK constraints as a table — (name, expr),
          // empty when none: the observability half of write-time
          // validation
          val cs = st.constraints()
          if (cs.isEmpty)
            spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("name",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("expr",
                  org.apache.spark.sql.types.StringType))))
          else spark.createDataFrame(cs).toDF("name", "expr")
        case "partitions" =>
          // SHOW PARTITIONS as a table — (partition cols…, n_files,
          // n_rows) off the tip's manifest / zone map, zero data-file
          // opens; only a PARTITIONED BY table has one
          if (st.storedPartitionSpecs().isEmpty) return None
          st.partitions(vs.max)
        case _ => filesDf(st, vs.max)
      }
      Some(new HistoryTable(
        (parent.namespace() :+ parent.name()).mkString(".") + s".$kind", df))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The `<store>.changes` CDC table ([[ChangeFeed]]'s contract):
    * batch full history / a `VERSION AS OF 'a..b'` commit range, and
    * the micro-batch streaming source. The store's recorded key column
    * drives the row-level diff, so a pre-metadata store has no change
    * feed (None → the standard not-found error). */
  private def changesTableFor(parent: Identifier, st: VersionedStore,
      range: Option[(Long, Long)], preImages: Boolean = false): Option[Table] = {
    if (st.versions().isEmpty) return None
    st.storedKeyCol().map { key =>
      val kindNm = if (preImages) "changes_cdf" else "changes"
      val nm = (parent.namespace() :+ parent.name()).mkString(".") +
        range.fold(s".$kindNm") { case (a, b) => s".$kindNm@$a..$b" }
      new ChangesTable(nm, spark, st.withKeyCol(key), range, preImages)
    }
  }

  /** The `files` metadata frame: tip per-file stats + FS byte sizes.
    * The size frame is |files| rows built from one directory listing
    * and joined by name — broadcast-tiny next to any data scan. */
  private def filesDf(st: VersionedStore, tip: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, lit, split}
    def sizesOf(dir: org.apache.hadoop.fs.Path): org.apache.spark.sql.DataFrame = {
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rows =
        if (!fs.exists(dir)) Seq.empty[(String, Long)]
        else fs.listStatus(dir).toSeq.filter(_.isFile)
          .map(st => (st.getPath.getName, st.getLen))
      spark.createDataFrame(rows).toDF("file", "bytes")
    }
    st match {
      case m: ManifestStore =>
        m.manifest(tip)
          .select("file", "min_key", "max_key", "n_rows")
          .join(sizesOf(m.poolDir), Seq("file"), "left")
          .orderBy("file")
      case s: SnapshotStore =>
        val sizes = sizesOf(new org.apache.hadoop.fs.Path(s"${s.basePath}/v=$tip"))
          .filter(col("file").startsWith("part-"))
        s.zoneMap(tip) match {
          case Some(zm) =>
            zm.withColumn("file", element_at(split(col("file"), "/"), -1))
              .select("file", "min_key", "max_key", "n_rows")
              .join(sizes, Seq("file"), "left").orderBy("file")
          case None => // no zone map: names+bytes, stats honestly unknown
            sizes.select(col("file"), lit(null).as("min_key"),
              lit(null).as("max_key"), lit(null).cast("long").as("n_rows"),
              col("bytes")).orderBy("file")
        }
    }
  }

  override def loadTable(ident: Identifier): Table = {
    val (st, vs) = try resolve(ident) catch {
      case e: NoSuchTableException =>
        return historyFallback(ident).getOrElse(throw e)
    }
    val tip = vs.max
    def keyed(verb: String): VersionedStore = st.withKeyCol(recordedKey(st, verb))
    // only the TIP load carries the DML hooks: history is immutable,
    // and a delete/merge appends version tip+1 through the store API.
    // When the store read serves the scan (DV/mapped/temporal), the
    // delegate is the path-free variant — no pool-wide file stat.
    val tipMasked = maskedReadFor(st, tip)
    val tipBucketed =
      if (tipMasked.isDefined) None else bucketedRouteFor(st, tip)
    new SnapshotTable(
      (if (tipMasked.isDefined || tipBucketed.isDefined)
         tableForMasked(ident, st, tip)
       else tableFor(ident, st, tip).asInstanceOf[ParquetTable]),
      Some(StreamInfo(() => keyed("streaming read"))),
      Some(pred => keyed("DELETE").deleteWhere(tip, tip + 1, pred): Unit),
      Some(StoreMergeHook(
        () => keyed("MERGE").keyCol,
        // optimistic-concurrency front door: the delta was computed
        // FROM the plan-time tip's scan, so readVersion = tip gives
        // the exact conflict check — a concurrent commit touching
        // disjoint keys rebases, an overlapping one aborts loudly
        (delta, deleteKeys) => keyed("MERGE")
          .mergeAtTip(delta, deleteKeys, readVersion = Some(tip)): Unit,
        () => keyed("INSERT").read(tip),
        replacePartitions =
          if (st.storedPartitionSpecs().isEmpty) None
          else Some(data => keyed("INSERT OVERWRITE").replaceWhere(tip, tip + 1, data): Unit))),
      maskedRead = tipMasked,
      prunedRead = temporalPrunedReadFor(st, tip),
      visibleRows = Some(() => st.visibleRowsOf(tip)),
      bucketedRoute = tipBucketed)
  }

  /** `VERSION AS OF <v>`; on the `.changes` table, `VERSION AS OF
    * 'a..b'` is the bounded change read — commits a through b
    * inclusive, the `table_changes(tbl, a, b)` shape. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val rangeRe = "^([^.]+(?:\\.[^.]+)*?)\\.\\.([^.]+(?:\\.[^.]+)*)$".r
    (version, ident.name()) match {
      case (rangeRe(a, b), "changes" | "changes_cdf")
          if ident.namespace().nonEmpty && !tableExists(ident) =>
        val parent = Identifier.of(ident.namespace().dropRight(1),
          ident.namespace().last)
        val st = storeFor(parent)
        // pure digits = store VERSIONS (the original contract);
        // anything else parses as ISO date/datetime or epoch-millis
        // BOUNDS resolved against the stored per-version commit
        // timestamps: the range selects commits with ts1 <= commit_ts
        // <= ts2 (inclusive both ends; an empty selection is an empty
        // feed, and a range reaching back past retained history fails
        // through the pruned-predecessor contract)
        val range =
          if (a.forall(_.isDigit) && b.forall(_.isDigit)) (a.toLong, b.toLong)
          else {
            val (t1, t2) = (ChangeFeed.parseTsMillis(a), ChangeFeed.parseTsMillis(b))
            require(t1 <= t2, s"timestamp range is inverted: '$version'")
            val times = ChangeFeed.commitTimesOf(st)
            val lo = times.find(_._2 >= t1).map(_._1).getOrElse(Long.MaxValue)
            val hi = times.reverse.find(_._2 <= t2).map(_._1).getOrElse(Long.MinValue)
            (lo, hi)
          }
        return changesTableFor(parent, st, Some(range),
            preImages = ident.name() == "changes_cdf")
          .getOrElse(throw new NoSuchTableException(ident))
      case _ =>
    }
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"snapshot versions are numeric, got '$version' (a 'a..b' commit range " +
          "is only valid on a <store>.changes table)")
    }
    val (st, vs) = resolve(ident)
    if (!vs.contains(v)) throw new NoSuchTableException(ident)
    pinnedTable(ident, st, v)
  }

  /** `TIMESTAMP AS OF <ts>` — micros in, commit-millis resolved. On a
    * `<store>.changes` table the single timestamp means "changes
    * SINCE ts": commits committed at-or-after it through the tip (the
    * replay-since-Tuesday read; at-or-after so an exact-boundary
    * commit replays exactly once between consecutive windows). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if ((ident.name() == "changes" || ident.name() == "changes_cdf")
        && ident.namespace().nonEmpty
        && !tableExists(ident)) {
      val parent = Identifier.of(ident.namespace().dropRight(1),
        ident.namespace().last)
      val st = storeFor(parent)
      val vs = st.versions()
      if (vs.nonEmpty) {
        val lo = ChangeFeed.firstVersionAtOrAfter(st, Math.floorDiv(timestampMicros, 1000L))
        return changesTableFor(parent, st, Some((lo, vs.max)),
            preImages = ident.name() == "changes_cdf")
          .getOrElse(throw new NoSuchTableException(ident))
      }
    }
    val (st, _) = resolve(ident)
    st.versionAsOf(Math.floorDiv(timestampMicros, 1000L)) match {
      case Some(v) => pinnedTable(ident, st, v)
      case None => throw new NoSuchTableException(ident)
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    try { resolve(ident); true } catch { case _: NoSuchTableException => false }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = new org.apache.hadoop.fs.Path(
      (namespace.toSeq).mkString(s"$root/", "/", ""))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .filterNot(p => p.getName.startsWith(".") || p.getName.startsWith("_"))
      .filter(isStoreDir) // a namespace dir is not a table
      .map(p => Identifier.of(namespace, p.getName))
  }

  // ---- SupportsNamespaces: a namespace is a directory level of the
  // lake root that is not itself a store (no version layout inside) —
  // SHOW NAMESPACES / USE work; mutation is read-only like tables.

  private def isStoreDir(p: org.apache.hadoop.fs.Path): Boolean = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(p, "_manifests")) ||
      fs.listStatus(p).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("v="))
  }

  private def dirOf(namespace: Array[String]): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      (namespace.toSeq).foldLeft(root)((a, n) => s"$a/$n"))

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val base = dirOf(namespace)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .filterNot(p => p.getName.startsWith(".") || p.getName.startsWith("_"))
      .filterNot(isStoreDir)
      .map(p => namespace :+ p.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    if (namespace.isEmpty) true
    else {
      val p = dirOf(namespace)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p) && fs.getFileStatus(p).isDirectory && !isStoreDir(p)
    }
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Map.of(SupportsNamespaces.PROP_LOCATION, dirOf(namespace).toString)
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = readOnly("createNamespace")
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = readOnly("alterNamespace")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    readOnly("dropNamespace")

  // ---- ProcedureCatalog: the maintenance verbs a lake exposes as SQL
  // `CALL` (the Iceberg-procedures UX, through Spark's own DSv2
  // procedure API), mapped onto the stores' existing maintenance
  // methods. Each procedure publishes/reclaims through the store's
  // protocol and answers ONE summary row via a [[LocalScan]]:
  //
  //   CALL <cat>.compact('tbl' [, target_files [, min_bytes]])
  //     → snapshot: in-place layout rewrite of the tip (identity and
  //       commit-ts preserved); linked: folds sub-min_bytes pool
  //       fragments into a NEW version (history immutable)
  //   CALL <cat>.vacuum('tbl' [, ttl_hours])
  //     → crash-leftover + unreferenced-pool reclamation; referenced
  //       files are untouchable by construction
  //   CALL <cat>.retention('tbl', keep_last)
  //     → prune to the newest keep_last versions (holds respected on
  //       the snapshot layout; linked reclaims via its ref-count sweep)
  //   CALL <cat>.retention_hours('tbl', retain_hours [, as_of])
  //     → TIME-based expiry (Delta's RETAIN n HOURS): drop versions
  //       committed strictly before as_of - retain_hours; the tip
  //       always survives; a held expired version REFUSES the call
  //
  // `CALL <cat>.system.<proc>` resolves too (the Iceberg spelling).

  //   CALL <cat>.zorder('tbl', 'c1,c2' [, num_files])
  //     → rewrites the TIP into a NEW version clustered on the Morton
  //       interleave of the named columns (history immutable on both
  //       layouts); linked manifests gain per-file min/max stats for
  //       every non-key z column, snapshot rebuilds its zone map — so
  //       multi-dimension pruning works immediately after the CALL

  //   CALL <cat>.clone('src_tbl', 'dst_tbl')
  //     → linked: SHALLOW clone — dst's v1 is the src tip's manifest
  //       rows verbatim over the SAME shared pool (zero data bytes
  //       move; dst registers with the pool owner so the owner's
  //       vacuum honors its references); snapshot: DEEP clone — the
  //       tip dir byte-copies to dst v1 (the layout is self-contained
  //       by design), zone map re-homed

  //   CALL <cat>.replicate('tbl', 'mirror_tbl')
  //     → one-directional mirror sync onto another catalog table
  //       (linked layout): missing pool files stream first, absent
  //       manifests land complete-tmp+rename, common manifests
  //       fingerprint-verify; idempotent
  //   CALL <cat>.parity('tbl')
  //     → build/refresh the pool's XOR parity sidecars (linked);
  //       fail-closed: damaged groups are SKIPPED and surfaced
  //   CALL <cat>.repair('tbl' [, 'mirror_tbl'])
  //     → reconstruct lost pool files: from parity sidecars (single
  //       loss per group, md5-verified), or from the named mirror —
  //       the durability ladder's SQL surface

  private val procedureNames =
    Array("compact", "vacuum", "retention", "retention_hours",
      "set_partition_spec", "zorder", "clone",
      "replicate", "parity", "repair", "restore", "restore_ts", "fold_dv",
      "drop_partitions", "add_constraint", "drop_constraint", "analyze")

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) procedureNames.map(Identifier.of(Array.empty[String], _))
    else if (namespace.sameElements(Array("system")))
      procedureNames.map(Identifier.of(namespace, _))
    else Array.empty

  private def tableIdentOf(tbl: String): Identifier = {
    val parts = tbl.split('.')
    Identifier.of(parts.init, parts.last)
  }

  /** The key column `st` recorded at first publish — the metadata that
    * lets a DML verb or procedure drive a key-ordered rewrite. */
  private def recordedKey(st: VersionedStore, verb: String): String =
    st.storedKeyCol().getOrElse(throw new UnsupportedOperationException(
      s"$verb needs the store's key column: ${st.basePath}/_store.json is absent " +
        s"(published by a pre-metadata build?) — run $verb through the store API"))

  /** The store at `t` re-keyed with its recorded key column. */
  private def keyedStore(t: Identifier): VersionedStore = {
    val st = storeFor(t)
    st.withKeyCol(recordedKey(st, "this procedure"))
  }

  /** The durability-ladder procedures are shared-pool machinery: the
    * linked layout only (a snapshot layout's self-contained version
    * dirs replicate by plain directory copy — clone covers that). */
  private def linkedProcStore(t: Identifier, proc: String): ManifestStore =
    storeFor(t) match {
      case m: ManifestStore => m.withKeyCol(recordedKey(m, s"CALL $proc"))
      case _ => throw new UnsupportedOperationException(
        s"CALL $proc: '${t.name()}' is a snapshot-layout store — the pool " +
          "durability ladder (parity/replicate/repair) is the linked layout's; " +
          "deep-copy a snapshot table with CALL clone")
    }

  private def procResult(schema: StructType,
      values: Array[Any]): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    val scan: org.apache.spark.sql.connector.read.Scan =
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          Array(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values))
        override def readSchema(): StructType = schema
      }
    java.util.List.of(scan).iterator()
  }

  private def utf8(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter
    import org.apache.spark.sql.types._
    val ns = ident.namespace()
    if (!(ns.isEmpty || ns.sameElements(Array("system"))))
      throw new UnsupportedOperationException(
        s"unknown procedure namespace '${ns.mkString(".")}' — procedures live at " +
          s"$catalogName.<proc> or $catalogName.system.<proc>")
    def bound(procName: String, params: Array[ProcedureParameter],
        outSchema: StructType)(
        run: org.apache.spark.sql.catalyst.InternalRow => Array[Any]): UnboundProcedure =
      new UnboundProcedure {
        override def name(): String = procName
        override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
          override def name(): String = procName
          override def parameters(): Array[ProcedureParameter] = params
          override def isDeterministic: Boolean = false
          override def call(input: org.apache.spark.sql.catalyst.InternalRow)
              : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] =
            procResult(outSchema, run(input))
        }
      }
    val tableParam = ProcedureParameter.in("table", StringType).build()
    ident.name() match {
      case "compact" => bound("compact",
        Array(tableParam,
          ProcedureParameter.in("target_files", IntegerType).defaultValue("4").build(),
          ProcedureParameter.in("min_bytes", LongType)
            .defaultValue((8L << 20).toString).build(),
          ProcedureParameter.in("where", StringType).defaultValue("''").build()),
        StructType(Seq(StructField("layout", StringType),
          StructField("version", LongType), StructField("files_before", LongType),
          StructField("files_after", LongType)))) { in =>
        val t = tableIdentOf(in.getUTF8String(0).toString)
        val (targetFiles, minBytes) = (in.getInt(1), in.getLong(2))
        // PARTITION-SCOPED maintenance (Delta's `OPTIMIZE t WHERE …`):
        // a non-empty `where` restricts the fold to the partitions the
        // predicate selects — everything else carries untouched
        val whereSql = in.getUTF8String(3).toString.trim
        val st = keyedStore(t)
        val tip = st.versions().max
        lazy val where = org.apache.spark.sql.functions.expr(whereSql)
        st match {
          case _ if whereSql.nonEmpty =>
            val before = st.dataPaths(tip).size
            val (kept, rewritten) = st.compactWhere(tip, tip + 1, where, minBytes, targetFiles)
            Array(utf8(st.layout), tip + 1, before.toLong, (kept + rewritten).toLong)
          case m: ManifestStore =>
            val before = m.manifest(tip).count()
            val (kept, rewritten) = m.compact(tip, tip + 1, minBytes, targetFiles)
            Array(utf8(st.layout), tip + 1, before, (kept + rewritten).toLong)
          case s: SnapshotStore =>
            val bytes = s.stats(tip)._3
            val targetBytes = math.max(1L, (bytes + targetFiles - 1) / targetFiles)
            val (before, after) = s.compact(tip, targetBytes)
            Array(utf8(st.layout), tip, before.toLong, after.toLong)
        }
      }
      case "drop_partitions" => bound("drop_partitions",
        Array(tableParam,
          ProcedureParameter.in("column", StringType).build(),
          ProcedureParameter.in("value", StringType).build()),
        StructType(Seq(StructField("layout", StringType),
          StructField("new_version", LongType),
          StructField("files_dropped", LongType),
          StructField("rows_dropped", LongType)))) { in =>
        // the retention verb of a PARTITIONED BY table: drop one
        // partition (equality on a declared partition column; the
        // string value adopts the column's type through Catalyst).
        // Metadata-only on the linked layout — zero data bytes move,
        // bytes reclaim later via CALL vacuum; survivor byte-copies on
        // the snapshot layout (its carry contract). History intact:
        // the dropped partition stays readable at prior versions.
        val t = tableIdentOf(in.getUTF8String(0).toString)
        val c = in.getUTF8String(1).toString
        val v = in.getUTF8String(2).toString
        val st = keyedStore(t)
        val tip = st.versions().max
        val (_, dropped, rows) =
          st.dropPartitions(tip, tip + 1, org.apache.spark.sql.functions.col(c) === v)
        Array(utf8(st.layout), tip + 1, dropped.toLong, rows)
      }
      case "analyze" => bound("analyze",
        Array(tableParam,
          ProcedureParameter.in("exact_ndv", BooleanType)
            .defaultValue("false").build()),
        StructType(Seq(StructField("layout", StringType),
          StructField("version", LongType),
          StructField("n_columns", LongType)))) { in =>
        // ANALYZE TABLE: per-column stats (rows, nulls, NDV, min/max)
        // persisted as the tip version's _colstats sidecar and served
        // by the <store>.stats metadata table. Default NDV is the
        // one-pass HLL estimate (the 100 TB mode); exact_ndv=true runs
        // one count_distinct per column instead.
        val st = keyedStore(tableIdentOf(in.getUTF8String(0).toString))
        val tip = st.versions().max
        val n = st.analyzeColumns(tip, exactNdv = in.getBoolean(1)).count()
        Array(utf8(st.layout), tip, n)
      }
      case "add_constraint" => bound("add_constraint",
        Array(tableParam,
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("expr", StringType).build()),
        StructType(Seq(StructField("layout", StringType),
          StructField("n_constraints", LongType)))) { in =>
        // Delta's ALTER TABLE ADD CONSTRAINT (CHECK): scans the tip
        // once for existing violations (fails = nothing recorded),
        // then every commit validates its new rows; FALSE violates,
        // NULL passes (declare `c IS NOT NULL` for NOT NULL).
        val st = keyedStore(tableIdentOf(in.getUTF8String(0).toString))
        st.addConstraint(in.getUTF8String(1).toString, in.getUTF8String(2).toString)
        Array(utf8(st.layout), st.constraints().size.toLong)
      }
      case "drop_constraint" => bound("drop_constraint",
        Array(tableParam,
          ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(StructField("layout", StringType),
          StructField("n_constraints", LongType)))) { in =>
        val st = keyedStore(tableIdentOf(in.getUTF8String(0).toString))
        st.dropConstraint(in.getUTF8String(1).toString)
        Array(utf8(st.layout), st.constraints().size.toLong)
      }
      case "restore" => bound("restore",
        Array(tableParam,
          ProcedureParameter.in("version", LongType).build()),
        StructType(Seq(StructField("layout", StringType),
          StructField("restored_from", LongType),
          StructField("new_version", LongType)))) { in =>
        // Delta's RESTORE TABLE ... TO VERSION AS OF v: a NEW commit
        // whose content equals v — history intact, time travel still
        // reads every intermediate version. Zero-copy on the linked
        // layout (manifest branch); a dir byte-copy on the snapshot
        // layout (its versions are self-contained by design).
        val st = keyedStore(tableIdentOf(in.getUTF8String(0).toString))
        val v = in.getLong(1)
        val tip = st.versions().max
        st.restoreVersion(v, tip + 1, None)
        Array(utf8(st.layout), v, tip + 1)
      }
      case "restore_ts" => bound("restore_ts",
        Array(tableParam,
          ProcedureParameter.in("timestamp", StringType).build()),
        StructType(Seq(StructField("layout", StringType),
          StructField("restored_from", LongType),
          StructField("new_version", LongType)))) { in =>
        // RESTORE TABLE ... TO TIMESTAMP AS OF: the timestamp resolves
        // to the newest version committed at-or-before it through the
        // stores' versionAsOf — ONE version-log checkpoint read, then
        // the same restore-as-a-commit semantics as CALL restore
        val st = keyedStore(tableIdentOf(in.getUTF8String(0).toString))
        val ms = ChangeFeed.parseTsMillis(in.getUTF8String(1).toString)
        val v = st.versionAsOf(ms).getOrElse(throw new IllegalArgumentException(
          s"restore_ts: no version committed at or before $ms"))
        val tip = st.versions().max
        st.restoreVersion(v, tip + 1, None)
        Array(utf8(st.layout), v, tip + 1)
      }
      case "fold_dv" => bound("fold_dv",
        Array(tableParam,
          ProcedureParameter.in("num_files", IntegerType).defaultValue("2").build(),
          ProcedureParameter.in("where", StringType).defaultValue("''").build()),
        StructType(Seq(StructField("layout", StringType),
          StructField("new_version", LongType),
          StructField("files_rewritten", LongType),
          StructField("rows_dropped", LongType)))) { in =>
        // fold the tip's deletion vector into a rewrite of ONLY the
        // masked files — the maintenance verb that stops a long-lived
        // mask from taxing every read (compact folds only small files).
        // A non-empty `where` scopes the fold to the partitions the
        // predicate selects; out-of-scope masks carry intact.
        val st = keyedStore(tableIdentOf(in.getUTF8String(0).toString))
        val n = in.getInt(1)
        val whereSql = in.getUTF8String(2).toString.trim
        lazy val where = org.apache.spark.sql.functions.expr(whereSql)
        val tip = st.versions().max
        val (_, rewritten, dropped) =
          if (whereSql.isEmpty) st.foldDv(tip, tip + 1, n)
          else st.foldDvWhere(tip, tip + 1, where, n)
        Array(utf8(st.layout), tip + 1, rewritten.toLong, dropped)
      }
      case "vacuum" => bound("vacuum",
        Array(tableParam,
          ProcedureParameter.in("ttl_hours", IntegerType).defaultValue("24").build(),
          ProcedureParameter.in("dry_run", BooleanType).defaultValue("false").build()),
        StructType(Seq(StructField("layout", StringType),
          StructField("reclaimed", LongType), StructField("unit", StringType)))) { in =>
        val st = storeFor(tableIdentOf(in.getUTF8String(0).toString))
        val ttlMs = in.getInt(1).toLong * 3600L * 1000L
        val dry = in.getBoolean(2)
        st match {
          case m: ManifestStore =>
            // dry run: the ref-count audit's answer WITHOUT deleting —
            // what an operator runs before trusting a retention policy
            val bytes =
              if (dry) m.orphans().agg(org.apache.spark.sql.functions
                  .coalesce(org.apache.spark.sql.functions.sum("bytes"),
                    org.apache.spark.sql.functions.lit(0L)))
                .head().getLong(0)
              else m.vacuum(ttlMs)
            Array(utf8(st.layout), bytes, utf8(if (dry) "bytes_dry" else "bytes"))
          case s: SnapshotStore =>
            val n = if (dry) s.vacuumDryRun(ttlMs).size.toLong
              else s.vacuum(ttlMs).size.toLong
            Array(utf8(st.layout), n, utf8(if (dry) "paths_dry" else "paths"))
        }
      }
      case "retention" => bound("retention",
        Array(tableParam, ProcedureParameter.in("keep_last", IntegerType).build()),
        StructType(Seq(StructField("layout", StringType),
          StructField("n_pruned", LongType)))) { in =>
        val t = tableIdentOf(in.getUTF8String(0).toString)
        val keepLast = in.getInt(1)
        require(keepLast >= 1, s"retention: keep_last must be >= 1, got $keepLast")
        // held versions survive; n_pruned counts what was dropped
        val st = storeFor(t)
        Array(utf8(st.layout), st.prune(keepLast).size.toLong)
      }
      // Iceberg's partition spec evolution as ONE metadata write:
      // `CALL set_partition_spec('t', 'months(ts)')` appends the new
      // spec to _partition.json's history and makes it CURRENT. Not
      // one data byte moves: files already landed keep pruning
      // through the spec they were written under (per-file spec id);
      // new landings cluster/stat/prune under the new one.
      case "set_partition_spec" => bound("set_partition_spec",
        Array(tableParam,
          ProcedureParameter.in("spec", StringType).build()),
        StructType(Seq(StructField("layout", StringType),
          StructField("spec_id", LongType),
          StructField("spec", StringType)))) { in =>
        val t = tableIdentOf(in.getUTF8String(0).toString)
        val cols = in.getUTF8String(1).toString.split(',')
          .map(_.trim).filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, "set_partition_spec: empty spec")
        val st = storeFor(t)
        val id = st.evolvePartitionSpec(cols)
        Array(utf8(st.layout), id.toLong, utf8(cols.mkString(",")))
      }
      // Delta's `RETAIN n HOURS` contract: expire versions whose
      // commit ts is STRICTLY older than as_of - retain_hours (the
      // checkpoint-served horizon); the tip always survives; a held
      // version REFUSES the whole call (RetentionHoldException — an
      // un-honorable time contract must not report success). as_of
      // <= 0 means wall-clock now; an explicit as_of makes the call
      // reproducible (tests, replayed maintenance scripts).
      case "retention_hours" => bound("retention_hours",
        Array(tableParam,
          ProcedureParameter.in("retain_hours", IntegerType).build(),
          ProcedureParameter.in("as_of", LongType).defaultValue("0").build()),
        StructType(Seq(StructField("layout", StringType),
          StructField("n_pruned", LongType),
          StructField("horizon_ms", LongType)))) { in =>
        val t = tableIdentOf(in.getUTF8String(0).toString)
        val hours = in.getInt(1)
        require(hours >= 0, s"retention_hours: retain_hours must be >= 0, got $hours")
        val asOf0 = in.getLong(2)
        val asOf = if (asOf0 <= 0) System.currentTimeMillis() else asOf0
        val horizon = asOf - hours.toLong * 3600L * 1000L
        val st = storeFor(t)
        Array(utf8(st.layout), st.pruneBefore(horizon).size.toLong, horizon)
      }
      case "zorder" => bound("zorder",
        Array(tableParam,
          ProcedureParameter.in("z_cols", StringType).build(),
          ProcedureParameter.in("num_files", IntegerType).defaultValue("4").build(),
          ProcedureParameter.in("where", StringType).defaultValue("''").build()),
        StructType(Seq(StructField("layout", StringType),
          StructField("version", LongType), StructField("n_files", LongType),
          StructField("z_cols", StringType)))) { in =>
        val t = tableIdentOf(in.getUTF8String(0).toString)
        val zc = in.getUTF8String(1).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val numFiles = in.getInt(2)
        val whereSql = in.getUTF8String(3).toString.trim
        require(zc.size >= 2,
          s"zorder interleaves MULTIPLE dimensions — got ${zc.mkString(",")}; " +
            "a single clustering column is plain range layout (write via the store API)")
        require(numFiles >= 1, s"zorder: num_files must be >= 1, got $numFiles")
        val st = keyedStore(t)
        val tip = st.versions().max
        // PARTITION-SCOPED re-cluster: only the matching partitions'
        // files rewrite; n_files reports the NEW files. A whole-table
        // re-cluster records the z columns' per-file statistics, which
        // later catalog DML derives back from the version itself.
        val nFiles: Long =
          if (whereSql.nonEmpty) st.zorderWhere(tip, tip + 1,
            org.apache.spark.sql.functions.expr(whereSql), zc, numFiles)._2.toLong
          else {
            st.writeZOrdered(st.read(tip), tip + 1, numFiles, zc)
            st.dataPaths(tip + 1).size.toLong
          }
        Array(utf8(st.layout), tip + 1, nFiles, utf8(zc.mkString(",")))
      }
      case "clone" => bound("clone",
        Array(tableParam,
          ProcedureParameter.in("target", StringType).build(),
          ProcedureParameter.in("commit_ts", LongType).defaultValue("0").build()),
        StructType(Seq(StructField("layout", StringType),
          StructField("mode", StringType), StructField("src_version", LongType),
          StructField("n_rows", LongType)))) { in =>
        val st = keyedStore(tableIdentOf(in.getUTF8String(0).toString))
        val dstBase = storePath(tableIdentOf(in.getUTF8String(1).toString))
        val cts = if (in.getLong(2) == 0L) None else Some(in.getLong(2))
        val tip = st.versions().max
        // metadata-only row total off the clone's history checkpoint
        val n = st.cloneTo(dstBase, tip, cts).rowCountOf(1L)
        val mode = if (st.layout == "linked") "shallow" else "deep"
        Array(utf8(st.layout), utf8(mode), tip, n)
      }
      case "replicate" => bound("replicate",
        Array(tableParam, ProcedureParameter.in("target", StringType).build()),
        StructType(Seq(StructField("files_copied", LongType),
          StructField("bytes_copied", LongType),
          StructField("versions_copied", LongType),
          StructField("manifests_repaired", LongType)))) { in =>
        val t = tableIdentOf(in.getUTF8String(0).toString)
        val dst = tableIdentOf(in.getUTF8String(1).toString)
        val st = linkedProcStore(t, "replicate")
        val (files, bytes, versions, repaired) = st.replicateTo(storePath(dst))
        Array(files, bytes, versions.size.toLong, repaired.toLong)
      }
      case "parity" => bound("parity",
        Array(tableParam),
        StructType(Seq(StructField("incremental", LongType),
          StructField("rebuilt", LongType),
          StructField("skipped_groups", LongType)))) { in =>
        val t = tableIdentOf(in.getUTF8String(0).toString)
        val (inc, rebuilt, skipped) = linkedProcStore(t, "parity").updateParity()
        Array(inc, rebuilt, skipped.size.toLong)
      }
      case "repair" => bound("repair",
        Array(tableParam,
          ProcedureParameter.in("mirror", StringType).defaultValue("''").build()),
        StructType(Seq(StructField("rung", StringType),
          StructField("n_repaired", LongType),
          StructField("n_unrepairable", LongType)))) { in =>
        val t = tableIdentOf(in.getUTF8String(0).toString)
        val mirror = in.getUTF8String(1).toString
        val st = linkedProcStore(t, "repair")
        val (rung, repaired, unrepairable) =
          if (mirror.isEmpty) {
            val (r, u) = st.repairFromParity(); ("parity", r, u)
          } else {
            val (r, u) = st.repairFrom(storePath(tableIdentOf(mirror)))
            ("mirror", r, u)
          }
        Array(utf8(rung), repaired.size.toLong, unrepairable.size.toLong)
      }
      case other => throw new UnsupportedOperationException(
        s"unknown procedure '$other' — available: ${procedureNames.mkString(", ")}")
    }
  }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"SnapshotCatalog does not support $op: the supported SQL surface is " +
        "SELECT (+ VERSION/TIMESTAMP AS OF, .history), CREATE TABLE [AS " +
        "SELECT], DROP/RENAME TABLE, INSERT [OVERWRITE], UPDATE, DELETE, " +
        "TRUNCATE, MERGE INTO, ALTER TABLE ADD COLUMN — anything else goes " +
        "through the store API, whose publish protocol carries the " +
        "atomicity contract a catalog write path would bypass")

  /** `CREATE TABLE <cat>.<store> (...) [TBLPROPERTIES(...)]` — lands
    * an EMPTY version 1 through the store's own publish protocol, so
    * the created table is immediately readable (zero rows) and the
    * first INSERT/CTAS write appends version 2 via `mergeDelta`.
    * `CREATE TABLE ... AS SELECT` rides the same path: Spark writes
    * the query result into the table this method returns (the V1
    * write fallback INSERT). Two table properties drive the layout:
    *
    *   'key'    = the store's key column (default: first column) —
    *              recorded in `_store.json`, drives every later DML
    *   'layout' = 'snapshot' (dir-per-version, default) | 'linked'
    *              (manifest over a shared pool — the 100 TB layout)
    *
    * `PARTITIONED BY (col, …)` (identity transforms only) declares
    * hive-style partition columns: every write lands one partition
    * tuple per file with exact metadata stats, partition predicates
    * prune exactly, `<store>.partitions` lists them, and
    * `CALL drop_partitions` drops one metadata-only (linked layout).
    * Bucket/temporal transforms are refused — the stores cluster by
    * key range inside each partition already. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    val key = Option(properties.get("key")).getOrElse(schema.fields.head.name)
    if (!schema.fieldNames.contains(key)) throw new IllegalArgumentException(
      s"CREATE TABLE: key column '$key' is not in the declared schema " +
        schema.fieldNames.mkString("(", ", ", ")"))
    val base = storePath(ident)
    if (partitions.nonEmpty) {
      // identity columns, plus the TEMPORAL transforms days(c) /
      // months(c) — recorded as transform specs; every landing derives
      // the identity column (`c__day`/`c__month`) the store's
      // one-tuple-per-file machinery clusters, prunes and drops on,
      // and SELECT * hides it (Iceberg's hidden partitioning)
      val pcs = partitions.toSeq.map { t =>
        val singleRef = t.references.length == 1 &&
          t.references.head.fieldNames.length == 1
        if (!singleRef) throw new UnsupportedOperationException(
          s"CREATE TABLE ... PARTITIONED BY: unsupported transform '$t'")
        val ref = t.references.head.fieldNames.head
        t.name match {
          case "identity" => ref
          case "days" | "months" | "years" | "hours" => s"${t.name}($ref)"
          case other => throw new UnsupportedOperationException(
            s"CREATE TABLE ... PARTITIONED BY: transform '$other' is not " +
              "supported (identity, days, months, years, hours are) — the " +
              "stores key-cluster inside each partition already, so bucketing " +
              "adds nothing")
        }
      }
      val specs = pcs.map(graft.operators.SnapshotStore.parsePartitionSpec)
      val missing = specs.map(_.source).filterNot(schema.fieldNames.contains)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"CREATE TABLE: partition column(s) not in the schema: ${missing.mkString(", ")}")
      if (pcs.contains(key)) throw new IllegalArgumentException(
        s"CREATE TABLE: '$key' is the key column — key-range pruning covers it; " +
          "partition on a coarser dimension")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // before createEmpty: the empty manifest / zone map then declares
      // the partition stats columns the first INSERT must record
      graft.operators.SnapshotStore.writeStoredPartitionBy(fs, base, pcs)
    }
    Option(properties.get("layout")).getOrElse("snapshot") match {
      case "linked" =>
        new graft.operators.ManifestStore(spark, base, key).createEmpty(schema)
      case "snapshot" =>
        new SnapshotStore(spark, base, key).createEmpty(schema)
      case other => throw new IllegalArgumentException(
        s"CREATE TABLE: unknown layout '$other' — 'snapshot' or 'linked'")
    }
    loadTable(ident)
  }

  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** `ALTER TABLE cat.store ADD COLUMN c <type> [DEFAULT v]` — SQL
    * schema evolution onto the stores' OWN sidecar machinery: an
    * EMPTY wider mergeDelta publishes version tip+1 where no row
    * moves (linked stores carry every file by reference — zero data
    * I/O; snapshot stores copy forward, their layout's contract), the
    * union schema lands in `_schema.json`, and the DEFAULT records as
    * the `graft.fill` every read path (store API and catalog scans
    * via EXISTS_DEFAULT projection) already honors. Only top-level
    * ADD COLUMN translates; anything else keeps the read-only refusal
    * (drops/renames/retypes would rewrite 100 TB or corrupt old
    * files' meaning). History stays immutable: old versions read with
    * their own schema. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (changes.nonEmpty && changes.forall(_.isInstanceOf[TableChange.DeleteColumn]))
      return alterDropColumns(ident,
        changes.map(_.asInstanceOf[TableChange.DeleteColumn]))
    if (changes.length == 1 && changes.head.isInstanceOf[TableChange.RenameColumn])
      return alterRenameColumn(ident,
        changes.head.asInstanceOf[TableChange.RenameColumn])
    if (changes.length == 1 && changes.head.isInstanceOf[TableChange.UpdateColumnType])
      return alterWidenColumn(ident,
        changes.head.asInstanceOf[TableChange.UpdateColumnType])
    if (changes.isEmpty || !changes.forall(_.isInstanceOf[TableChange.AddColumn]))
      readOnly("alterTable (ADD / DROP / RENAME COLUMN and WIDENING type " +
        "changes are supported; any other type change would corrupt old " +
        "files' meaning and keeps refusing)")
    val adds = changes.map(_.asInstanceOf[TableChange.AddColumn])
    adds.foreach { a =>
      if (a.fieldNames().length != 1) throw new UnsupportedOperationException(
        s"ALTER TABLE ADD COLUMN: nested column '${a.fieldNames().mkString(".")}' " +
          "is not supported — stores evolve flat columns")
      if (!a.isNullable && a.defaultValue() == null)
        throw new UnsupportedOperationException(
          s"ALTER TABLE ADD COLUMN: NOT NULL column '${a.fieldNames()(0)}' needs " +
            "a DEFAULT — files that predate the column must read something")
    }
    val (st, tip) = keyedTip(ident, "ALTER TABLE ADD COLUMN")
    import org.apache.spark.sql.functions.lit
    var delta = st.read(tip).limit(0)
    val fills = scala.collection.mutable.Map.empty[String, Any]
    adds.foreach { a =>
      val colName = a.fieldNames()(0)
      delta = delta.withColumn(colName, lit(null).cast(a.dataType()))
      Option(a.defaultValue()).foreach { dv =>
        import org.apache.spark.sql.types._
        fills(colName) = a.dataType() match {
          case StringType => dv.getValue.value().toString
          case DoubleType | FloatType =>
            dv.getValue.value().asInstanceOf[Number].doubleValue()
          case BooleanType => dv.getValue.value().asInstanceOf[Boolean]
          case _ => dv.getValue.value().asInstanceOf[Number].longValue()
        }
      }
    }
    st.mergeDelta(tip, tip + 1, delta, fill = fills.toMap): Unit
    loadTable(ident)
  }
  /** `ALTER TABLE cat.store DROP COLUMN c [, ...]` — onto the stores'
    * sidecar narrowing ([[graft.operators.SnapshotStore.dropColumns]]
    * / the linked twin): version tip+1 records a `_schema.json` that
    * excludes the columns, so the tip scan stops seeing them while
    * every pinned read keeps them — linked stores move ZERO data
    * bytes (manifest rows carry by reference), snapshot stores
    * byte-copy files (their layout's carry contract, no parquet
    * decode). A later mergeDelta's delta naturally omits the dropped
    * column (it is no longer in the tip schema). */
  private def alterDropColumns(ident: Identifier,
      drops: Seq[TableChange.DeleteColumn]): Table = {
    drops.foreach { d =>
      if (d.fieldNames().length != 1) throw new UnsupportedOperationException(
        s"ALTER TABLE DROP COLUMN: nested column '${d.fieldNames().mkString(".")}' " +
          "is not supported — stores evolve flat columns")
    }
    val cols = drops.map(_.fieldNames()(0))
    val (st, tip) = keyedTip(ident, "ALTER TABLE DROP COLUMN")
    st.dropColumns(tip, tip + 1, cols)
    loadTable(ident)
  }

  /** `ALTER TABLE cat.store RENAME COLUMN a TO b` — a ONE-TIME
    * copy-on-write rewrite of the tip under the new name (parquet
    * resolves columns by name and pool/version files carry no field
    * ids, so a metadata-only rename would read the renamed column as
    * null — the same line Delta draws without column-mapping mode).
    * Pinned history keeps the old name; the store's key column is
    * recorded identity and refuses. */
  /** `ALTER TABLE t ALTER COLUMN c TYPE <wider>` — METADATA-ONLY
    * type widening (Delta's type-widening feature) on both layouts:
    * one sidecar commit re-types the column, parquet's reader
    * promotion decodes the stored narrow values, not one data byte
    * moves. Non-widening changes keep the read-only refusal. */
  private def alterWidenColumn(ident: Identifier,
      uc: TableChange.UpdateColumnType): Table = {
    if (uc.fieldNames().length != 1) throw new UnsupportedOperationException(
      s"ALTER TABLE ALTER COLUMN: nested column '${uc.fieldNames().mkString(".")}' " +
        "is not supported — stores evolve flat columns")
    val (st, tip) = keyedTip(ident, "ALTER TABLE ALTER COLUMN TYPE")
    st.widenColumn(tip, tip + 1, uc.fieldNames()(0), uc.newDataType())
    loadTable(ident)
  }

  private def alterRenameColumn(ident: Identifier,
      rn: TableChange.RenameColumn): Table = {
    if (rn.fieldNames().length != 1) throw new UnsupportedOperationException(
      s"ALTER TABLE RENAME COLUMN: nested column '${rn.fieldNames().mkString(".")}' " +
        "is not supported — stores evolve flat columns")
    val (st, tip) = keyedTip(ident, "ALTER TABLE RENAME COLUMN")
    st.renameColumn(tip, tip + 1, rn.fieldNames()(0), rn.newName())
    loadTable(ident)
  }

  /** The store re-keyed with its recorded key column, and its tip. */
  private def keyedTip(ident: Identifier, verb: String): (VersionedStore, Long) = {
    val (st, vs) = resolve(ident)
    (st.withKeyCol(recordedKey(st, verb)), vs.max)
  }

  /** `DROP TABLE <cat>.<store>` — removes the store base recursively:
    * every version, manifest, sidecar and (linked layout) the pool.
    * Both layouts are self-contained under their base dir, so the
    * delete cannot touch another table's data. Dropping destroys
    * HISTORY too — that is what DROP TABLE means; `deleteWhere` /
    * retention are the surgical alternatives. */
  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    val p = new org.apache.hadoop.fs.Path(storePath(ident))
    guardLiveClones(storePath(ident), "DROP TABLE")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Refuse a destructive verb on a pool OWNER whose shared pool is
    * still referenced by live shallow clones — deleting or moving the
    * pool under them is data loss the clone registry exists to
    * prevent. A dropped clone (base dir gone) stops counting. */
  private def guardLiveClones(base: String, verb: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = graft.operators.ManifestStore.liveClonesAt(fs, base)
    if (live.nonEmpty) throw new IllegalStateException(
      s"$verb on $base refused: its shared file pool is referenced by live " +
        s"shallow clone(s) ${live.mkString(", ")} — DROP the clones (or deep-copy " +
        "them) first")
  }

  /** `ALTER TABLE <cat>.<old> RENAME TO <new>` — one directory rename
    * (atomic on HDFS-semantics filesystems; object-store renames are
    * the storage layer's contract). Manifests store bare pool file
    * NAMES and sidecars are base-relative, so a renamed store keeps
    * every version readable — the relocatable-repository property. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(newIdent)
    val src = new org.apache.hadoop.fs.Path(storePath(oldIdent))
    val dst = new org.apache.hadoop.fs.Path(storePath(newIdent))
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a pool owner with live clones cannot move: the clones' recorded
    // pool pointer (absolute) would dangle
    guardLiveClones(storePath(oldIdent), "ALTER TABLE ... RENAME TO")
    if (!fs.rename(src, dst)) throw new java.io.IOException(
      s"RENAME TABLE failed: $src -> $dst")
    // a moved CLONE re-points its registration with the pool owner —
    // otherwise its references silently stop counting and the owner's
    // next vacuum could reclaim pool files the clone still needs
    if (graft.operators.SnapshotStore.readStoredPool(fs, storePath(newIdent)).isDefined) {
      val key = graft.operators.SnapshotStore
        .readStoredKeyCol(fs, storePath(newIdent)).getOrElse("")
      new graft.operators.ManifestStore(spark, storePath(newIdent), key)
        .relocatedFrom(storePath(oldIdent))
    }
  }
}

/** Metadata table serving a small eagerly-computed frame (the
  * `<store>.history` surface) through Spark's own [[LocalScan]] —
  * plans as a LocalTableScan, no files, no partitions. The frame is
  * |versions|-sized by construction. */
private[graft] class HistoryTable(tableName: String,
    df: org.apache.spark.sql.DataFrame) extends Table with SupportsRead {
  private val collected: Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val rows = df.queryExecution.executedPlan.executeCollect()
    rows.map(_.copy())
  }
  override def name(): String = tableName
  override def schema(): StructType = df.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new org.apache.spark.sql.connector.read.ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = collected
          override def readSchema(): StructType = df.schema
          override def description(): String = tableName
        }
    }
}

/** The DML contract [[GraftMergeStrategy]] and the INSERT write path
  * execute against: the store's recorded key column (resolved lazily —
  * one sidecar read), a runner that lands (delta, deleteKeys) as a new
  * tip version through the store's own `mergeDelta`, and a tip reader
  * (INSERT's key-collision check + OVERWRITE's delete set). */
private[graft] case class StoreMergeHook(
    keyCol: () => String,
    run: (org.apache.spark.sql.DataFrame,
      Option[org.apache.spark.sql.DataFrame]) => Unit,
    tip: () => org.apache.spark.sql.DataFrame,
    // present only on a PARTITIONED table: dynamic INSERT OVERWRITE
    // (partitionOverwriteMode=dynamic) replaces exactly the partitions
    // the incoming data touches, through the store's replaceWhere
    replacePartitions: Option[org.apache.spark.sql.DataFrame => Unit] = None)

/** What a tip table needs to serve `spark.readStream.table(...)`: the
  * store re-keyed with its recorded key column, resolved lazily (one
  * sidecar read, only paid when a stream actually starts). */
private[graft] case class StreamInfo(store: () => graft.operators.VersionedStore)

/** The table SnapshotCatalog serves: reads delegate verbatim to the
  * resolved [[ParquetTable]] (full native scan stack), and — on tip
  * loads only — DSv2 row-level DELETE translates the pushed filters
  * to a store predicate and runs the store's own `deleteWhere`
  * (publishing a new version; history stays readable). A filter the
  * translator can't express makes `canDeleteWhere` answer false, so
  * Spark raises the standard "cannot delete" analysis error instead
  * of a silent partial delete. `MERGE INTO` rides [[StoreMergeHook]]
  * via [[GraftMergeStrategy]] (registered by [[GraftExtensions]]). */
/** Best-effort V1 Filter → Column translation, shared by the SQL
  * DELETE path (which REQUIRES full translation and throws on a gap)
  * and the DV-masked scan (which uses it opportunistically for
  * pushdown and reports everything unhandled so Spark re-applies). */
private[graft] object FilterToColumn {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.functions.{col, lit}
  def apply(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case And(l, r) => for (a <- apply(l); b <- apply(r)) yield a && b
    case Or(l, r) => for (a <- apply(l); b <- apply(r)) yield a || b
    case Not(c) => apply(c).map(!_)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }
}

/** Scan builder for a DV-MASKED version: serves the store's own
  * masked read (broadcast anti-join over the deletion vector) as a
  * V1 relation with PrunedFilteredScan — required columns project and
  * translatable filters apply INSIDE the DataFrame plan, where
  * Catalyst pushes them through the anti-join into the parquet scan.
  * All filters report unhandled, so Spark re-applies them on top
  * (safe double-application). */
private[graft] class MaskedStoreScanBuilder(tableName: String,
    read: () => org.apache.spark.sql.DataFrame,
    mkStream: Option[String => org.apache.spark.sql.connector.read.streaming.MicroBatchStream],
    prunedRead: Option[Array[org.apache.spark.sql.sources.Filter] =>
      Option[org.apache.spark.sql.DataFrame]] = None,
    visibleRows: Option[() => Long] = None)
    extends org.apache.spark.sql.connector.read.ScanBuilder {
  import org.apache.spark.sql.sources.{BaseRelation, Filter, PrunedFilteredScan, TableScan}
  override def build(): org.apache.spark.sql.connector.read.Scan =
    new GraftV1RelationScan {
      private lazy val df0 = read()
      override def readSchema(): StructType = df0.schema
      override def description(): String = s"$tableName (dv-masked)"
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: org.apache.spark.sql.SQLContext): T =
        v1Relation(context).asInstanceOf[T]
      override def v1Relation(context: org.apache.spark.sql.SQLContext)
          : BaseRelation =
        new BaseRelation with TableScan with PrunedFilteredScan {
          override def sqlContext: org.apache.spark.sql.SQLContext = context
          override def schema: StructType = df0.schema
          // REAL statistics for the store-read route: without this
          // override the relation reports defaultSizeInBytes
          // (Long.MaxValue) and a 10-row DV-masked / column-mapped /
          // temporal dimension table can NEVER broadcast — every SQL
          // join against it shuffles the fact side. Visible rows come
          // from the version-log checkpoint minus the DV footer count
          // (metadata-only); width is Catalyst's own per-type
          // defaultSize estimate, the same formula LocalRelation uses.
          private lazy val sizeEstimate: Option[Long] = visibleRows.map { h =>
            val width = 8L + schema.fields.map(_.dataType.defaultSize.toLong).sum
            math.max(1L, h() * width)
          }
          override def sizeInBytes: Long =
            sizeEstimate.getOrElse(super.sizeInBytes)
          override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
            df0.rdd
          override def buildScan(requiredColumns: Array[String],
              filters: Array[Filter]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
            // a temporal-partitioned table translates source-column
            // range filters into DERIVED-column file pruning (the
            // metadata prune) before the exact filters re-apply
            val base = prunedRead.flatMap(_(filters)).getOrElse(df0)
            val filtered = filters.foldLeft(base)((d, f) =>
              FilterToColumn(f).map(d.filter).getOrElse(d))
            (if (requiredColumns.isEmpty) filtered
             else filtered.select(requiredColumns.toIndexedSeq
               .map(org.apache.spark.sql.functions.col): _*)).rdd
          }
          override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
            filters
        }
      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
        mkStream.map(_(checkpointLocation)).getOrElse(
          throw new UnsupportedOperationException(
            s"$tableName: streaming a version-pinned read — stream the table tip"))
    }
}

/** A bucketed version's file set + layout declaration — carries what
  * [[BucketedScanBuilder]] needs to build the V1 bucketed relation. */
private[graft] case class BucketedRoute(col: String, n: Int, paths: Seq[String]) {
  /** The bucketed [[org.apache.spark.sql.execution.datasources
    * .HadoopFsRelation]]: schema from ONE footer (the gate admits only
    * never-evolved versions, whose files are schema-uniform by
    * construction), file index over the version's exact files, and the
    * BucketSpec that makes `FileSourceScanExec` report
    * `HashPartitioning(col, n)` — plus `sortColumnNames`, honored
    * because the write paths land ONE key-sorted file per bucket, so a
    * sort-merge join needs neither Exchange NOR Sort. */
  def relation(spark: SparkSession)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val schema = ParquetSchemas.schema(spark, paths.head)
    val index = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      spark, paths.map(new org.apache.hadoop.fs.Path(_)),
      Map.empty[String, String], Some(schema))
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, new StructType(), schema,
      Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(
        n, Seq(col), Seq(col))),
      new ParquetFileFormat, Map.empty[String, String])(spark)
  }
}

/** Scan builder for a BUCKETED version: hands [[V1StatsRelationRule]]
  * the bucketed HadoopFsRelation via [[GraftV1RelationScan]], so the
  * swapped-in LogicalRelation plans through FileSourceStrategy with
  * native column pruning, filter pushdown, REAL size statistics, and —
  * the point — bucket-aware output partitioning (zero-Exchange
  * store⋈store key joins). The V1-fallback `toV1TableScan` route
  * (extensions not registered) serves a plain unbucketed TableScan:
  * same rows, just shuffling. */
private[graft] class BucketedScanBuilder(tableName: String,
    route: BucketedRoute,
    mkStream: Option[String => org.apache.spark.sql.connector.read.streaming.MicroBatchStream])
    extends org.apache.spark.sql.connector.read.ScanBuilder {
  import org.apache.spark.sql.sources.{BaseRelation, TableScan}
  override def build(): org.apache.spark.sql.connector.read.Scan =
    new GraftV1RelationScan {
      private lazy val rel = route.relation(SparkSession.active)
      override def readSchema(): StructType = rel.schema
      override def description(): String =
        s"$tableName (bucketed ${route.n} by ${route.col})"
      override def v1Relation(context: org.apache.spark.sql.SQLContext)
          : BaseRelation = rel
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: org.apache.spark.sql.SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: org.apache.spark.sql.SQLContext = context
          override def schema: StructType = rel.schema
          override def sizeInBytes: Long = rel.sizeInBytes
          override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
            SparkSession.active.read.schema(rel.schema)
              .parquet(route.paths: _*).rdd
        }.asInstanceOf[T]
      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
        mkStream.map(_(checkpointLocation)).getOrElse(
          throw new UnsupportedOperationException(
            s"$tableName: streaming a version-pinned read — stream the table tip"))
    }
}

private[graft] class SnapshotTable(delegate: ParquetTable,
    streamInfo: Option[StreamInfo],
    onDelete: Option[org.apache.spark.sql.Column => Unit],
    val onMerge: Option[StoreMergeHook] = None,
    maskedRead: Option[() => org.apache.spark.sql.DataFrame] = None,
    prunedRead: Option[Array[org.apache.spark.sql.sources.Filter] =>
      Option[org.apache.spark.sql.DataFrame]] = None,
    visibleRows: Option[() => Long] = None,
    bucketedRoute: Option[BucketedRoute] = None)
    extends Table with SupportsRead with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import org.apache.spark.sql.sources._

  override def name(): String = delegate.name
  override def schema(): StructType = delegate.schema
  override def partitioning(): Array[Transform] = delegate.partitioning
  override def properties(): util.Map[String, String] = delegate.properties
  override def capabilities(): util.Set[TableCapability] = {
    // tip loads advertise the V1 write fallback so SQL INSERT
    // [OVERWRITE] resolves; pinned loads stay read-only (no hook →
    // no capability → Spark's standard "does not support" error)
    val caps = new util.HashSet[TableCapability](delegate.capabilities())
    if (onMerge.isDefined) caps.add(TableCapability.V1_BATCH_WRITE)
    if (onMerge.isDefined) caps.add(TableCapability.TRUNCATE)
    // MERGE ... WITH SCHEMA EVOLUTION: the analyzer computes the ADD
    // COLUMN set from the source, routes it through this catalog's
    // alterTable (one metadata-only union-schema commit via
    // mergeDelta's evolution machinery), reloads the evolved table,
    // and the merge itself plans against the widened target. Type
    // CHANGES keep refusing through alterTable's widening guard.
    if (onMerge.isDefined)
      caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    // a PARTITIONED tip supports classic dynamic partition overwrite
    // (planned by GraftMergeStrategy onto the store's replaceWhere)
    if (onMerge.exists(_.replacePartitions.isDefined))
      caps.add(TableCapability.OVERWRITE_DYNAMIC)
    if (streamInfo.isDefined) caps.add(TableCapability.MICRO_BATCH_READ)
    // writeStream.toTable — per-epoch keyed upserts through mergeDelta
    // (StoreStreamingWrite); tip loads only, like every write verb
    if (streamInfo.isDefined && onMerge.isDefined)
      caps.add(TableCapability.STREAMING_WRITE)
    caps
  }
  override def columns(): Array[Column] = delegate.columns()
  /** Batch reads keep the delegate's full native pushdown surface
    * (the wrapper forwards every pushdown interface the parquet
    * builder implements); the wrapped Scan adds `toMicroBatchStream`,
    * so `spark.readStream.table(tip)` serves each commit's
    * insert/update ROW STATE (Delta's plain-table stream semantics —
    * see [[ChangeFeed]]; deletes refuse unless
    * `.option("ignoreDeletes", true)`). */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    // a version with a DELETION VECTOR cannot serve raw files (masked
    // rows would resurrect in SQL): its scan is the store's own
    // masked read behind a PrunedFilteredScan V1 relation — required
    // columns and translatable filters push into the INNER plan, so
    // the parquet scan under the broadcast anti-join still prunes.
    // Streaming is unaffected (the change feed reads via the store).
    val mkStream = streamInfo.map(info => (loc: String) => {
      val store = info.store()
      new ChangesMicroBatchStream(SparkSession.active, store, delegate.schema,
        rowsOnly = true,
        ignoreDeletes = options.getBoolean("ignoreDeletes", false),
        startingVersion = ChangeFeed.resolveStart(store, options),
        checkpointLocation = loc,
        maxVersionsPerTrigger =
          Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
        maxBytesPerTrigger =
          Option(options.get("maxBytesPerTrigger")).map(_.toLong))
    })
    maskedRead.foreach { read =>
      return new MaskedStoreScanBuilder(delegate.name, read,
        prunedRead = prunedRead, visibleRows = visibleRows, mkStream = mkStream)
    }
    // a fully-BUCKETED version serves the V1 bucketed relation: its
    // FileSourceScanExec reports HashPartitioning(col, n), so key
    // joins between co-bucketed stores plan with zero Exchange.
    // Streaming still rides the change feed, exactly as masked.
    bucketedRoute.foreach { route =>
      return new BucketedScanBuilder(delegate.name, route, mkStream = mkStream)
    }
    mkStream match {
      case Some(mk) => new StreamCapableScanBuilder(delegate.newScanBuilder(options), mk)
      case None => delegate.newScanBuilder(options)
    }
  }

  /** SQL `INSERT INTO` / `INSERT OVERWRITE` land through the store's
    * own `mergeDelta` via Spark's V1 write fallback (one plain
    * DataFrame handoff — the row set is the query result; no
    * per-partition commit protocol needed for a store whose publish is
    * already tmp+rename atomic). INSERT INTO is append-only SQL: the
    * store's key is a unique identity, so a key collision — with
    * existing rows or inside the batch — would silently REPLACE where
    * SQL would duplicate; both refuse loudly. INSERT OVERWRITE is the
    * full replacement: the delta plus a delete set of every surviving
    * old key publishes ONE new version (history immutable). */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate
      // dynamic partition overwrite: the V2Writes optimizer rule
      // requires the builder to acknowledge it; the actual execution
      // is GraftMergeStrategy's GraftDynamicOverwriteExec, which runs
      // the store's replaceWhere (OverwritePartitionsDynamic has no
      // V1 write fallback in Spark)
      with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
      // Update-mode streaming aggregations are sound as appends HERE
      // because the streaming write is a keyed upsert: each updated
      // aggregate row replaces its group-key row (see
      // StoreStreamingWrite's contract)
      with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
      private var overwrite = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def overwriteDynamicPartitions()
          : org.apache.spark.sql.connector.write.WriteBuilder = this
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwriteFlag: Boolean): Unit =
                runInsert(data, overwrite || overwriteFlag)
            }
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            val si = streamInfo.getOrElse(throw new UnsupportedOperationException(
              "writeStream.toTable is only supported on the table tip"))
            val opts = info.options()
            new StoreStreamingWrite(SparkSession.active, si.store(),
              info.schema(), info.queryId(),
              maxFilesPerCommit =
                Option(opts.get("maxFilesPerCommit")).map(_.toInt),
              maxVersionsToKeep =
                Option(opts.get("maxVersionsToKeep")).map(_.toInt))
          }
        }
    }

  private def runInsert(data: org.apache.spark.sql.DataFrame,
      overwrite: Boolean): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val hook = onMerge.getOrElse(throw new UnsupportedOperationException(
      "INSERT is only supported on the table tip — a version- or " +
        "timestamp-pinned read is immutable history"))
    val key = hook.keyCol()
    // an INSERT batch with duplicate keys would make the store's
    // key-upsert keep ONE row where SQL keeps both — refuse
    val batchDup = data.groupBy(col(key)).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).count() > 0
    if (batchDup) throw new UnsupportedOperationException(
      s"INSERT through SnapshotCatalog: the batch carries duplicate '$key' " +
        "values — the store's key is a unique identity, so duplicates would " +
        "collapse where SQL semantics would keep both rows")
    if (overwrite) {
      // PARTITIONED table + partitionOverwriteMode=dynamic: classic
      // dynamic partition overwrite — replace exactly the partitions
      // present in the incoming data, carry the rest (the idempotent
      // backfill verb). STATIC mode keeps full-replacement semantics.
      val dynamic = SparkSession.active.conf
        .get("spark.sql.sources.partitionOverwriteMode", "static")
        .equalsIgnoreCase("dynamic")
      if (dynamic && hook.replacePartitions.isDefined)
        hook.replacePartitions.get(data)
      else {
        // full replacement in ONE published version: new rows upsert,
        // surviving old keys (not re-inserted) delete
        val oldKeys = hook.tip().select(col(key))
          .join(data.select(col(key)), Seq(key), "left_anti")
        hook.run(data, Some(oldKeys))
      }
    } else {
      val collides = data.select(col(key))
        .join(hook.tip().select(col(key)), Seq(key), "left_semi")
        .limit(1).count() > 0
      if (collides) throw new UnsupportedOperationException(
        s"INSERT through SnapshotCatalog: a '$key' value already exists in " +
          "the table — the store's key is a unique identity, so this INSERT " +
          "would silently replace a row SQL semantics would duplicate; use " +
          "MERGE INTO (upsert) or UPDATE instead")
      hook.run(data, None)
    }
  }

  private def toColumn(f: Filter): org.apache.spark.sql.Column =
    FilterToColumn(f).getOrElse(throw new UnsupportedOperationException(
      s"DELETE predicate not translatable: $f"))

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    onDelete.isDefined &&
      scala.util.Try(filters.foreach(toColumn)).isSuccess

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    val deleter = onDelete.getOrElse(throw new UnsupportedOperationException(
      "DELETE is only supported on the table tip — a version- or " +
        "timestamp-pinned read is immutable history"))
    deleter(filters.map(toColumn).reduceOption(_ && _).getOrElse(lit(true)))
  }
}
