package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.Fx._
import graft.sources.Tables

/** Snapshot / incremental-backup operators (SURVEY §2 group 2) — the
  * Spark-first re-expression of the reference's data-lake
  * snapshot/backup capabilities: full-copy fingerprinting, incremental
  * sync (new + changed row detection), delta merge (SCD1), history
  * build (SCD2), copy-validation manifests, and retention pruning.
  *
  * Scale notes:
  *  - Change detection is hash-compare on equi-joined business keys —
  *    one shuffle on the key, no wide sort, AQE-skew-safe.
  *  - Fingerprints for external validation use md5 (oracle-checkable);
  *    the internal fast path is xxhash64 (codegen, 8 bytes/row).
  *  - The manifest's aggregate hash is an XOR fold — order-independent
  *    and partial-aggregatable, so it map-side combines at 100 TB.
  *
  * The driver's testdata has a single physical copy of each table, so
  * the "previous snapshot" is modeled as a deterministic subset +
  * perturbation of the current one (key-mod filters, documented per
  * operator). The operators themselves take arbitrary (base, current)
  * DataFrames — the modeling lives only in the `queries` wiring.
  */
object Snapshot {

  /** Rows of `current` whose business key is absent from `previous`. */
  def incrementalNew(current: DataFrame, previous: DataFrame, key: String): DataFrame =
    current.join(previous.select(key), Seq(key), "left_anti")

  /** Rows whose key exists in both but whose content fingerprint
    * differs. `fp` must be computed over all non-key columns. */
  def incrementalChanged(current: DataFrame, previous: DataFrame, key: String, fp: DataFrame => Column): DataFrame = {
    val cur = current.withColumn("__fp", fp(current))
    val prev = previous.withColumn("__fp_prev", fp(previous)).select(col(key), col("__fp_prev"))
    cur.join(prev, Seq(key))
      .filter(col("__fp") =!= col("__fp_prev"))
      .drop("__fp", "__fp_prev")
  }

  /** SCD1 upsert: delta rows win; base rows survive where no delta
    * key exists. One anti-join + union — no full-outer wide row.
    *
    * Schema-evolution tolerant (the companion a backup restore needs
    * once [[SnapshotStore.schemaDiff]] reports drift): a column added
    * in the delta is null for untouched base rows, a column dropped
    * from the delta keeps its base values and is null on delta rows —
    * `allowMissingColumns` union semantics. The `fill` map is the
    * explicit null-fill policy for evolution-introduced nulls (e.g.
    * a new column's default); it applies AFTER the merge, so it never
    * masks a null that was genuinely stored in either side's data
    * beyond the chosen defaults. */
  def mergeUpsert(base: DataFrame, delta: DataFrame, key: String,
      fill: Map[String, Any] = Map.empty): DataFrame = {
    val merged = delta.unionByName(
      base.join(delta.select(key), Seq(key), "left_anti"),
      allowMissingColumns = true)
    if (fill.isEmpty) merged else merged.na.fill(fill)
  }

  /** Keep the newest `n` versions per key (retention pruning). */
  def retainLatest(df: DataFrame, key: String, orderCols: Seq[Column], n: Int): DataFrame = {
    val w = Window.partitionBy(key).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n).drop("__rn")
  }

  /** Grandfather-father-son retention over a snapshot CATALOG (one row
    * per snapshot date): keep the newest `daily` days, the last
    * snapshot of each of the newest `weekly` ISO weeks, and the last
    * snapshot of each of the newest `monthly` months — the retention
    * schedule every backup tool ships. Output flags every snapshot
    * (keep_daily/keep_weekly/keep_monthly/keep) so the caller can
    * prune `keep = false` versions (e.g. via SnapshotStore.vacuum) and
    * audit WHY each survivor is held. The global windows are fine at
    * any corpus scale: the frame is the snapshot catalog (one row per
    * snapshot), metadata-sized by construction, like [[manifest]]. */
  def gfsRetention(snaps: DataFrame, daily: Int, weekly: Int, monthly: Int): DataFrame = {
    val g = snaps.select(col("snap_date"),
      date_trunc("week", col("snap_date")).cast("date").as("wk"),
      date_trunc("month", col("snap_date")).cast("date").as("mo"))
    val dayRank = dense_rank().over(Window.orderBy(col("snap_date").desc))
    val wkLast = row_number().over(
      Window.partitionBy("wk").orderBy(col("snap_date").desc)) === 1
    val wkRank = dense_rank().over(Window.orderBy(col("wk").desc))
    val moLast = row_number().over(
      Window.partitionBy("mo").orderBy(col("snap_date").desc)) === 1
    val moRank = dense_rank().over(Window.orderBy(col("mo").desc))
    g.select(col("snap_date"),
        (dayRank <= daily).as("keep_daily"),
        (wkLast && wkRank <= weekly).as("keep_weekly"),
        (moLast && moRank <= monthly).as("keep_monthly"))
      .withColumn("keep", col("keep_daily") || col("keep_weekly") || col("keep_monthly"))
  }

  /** Per-partition manifest: row count, key bounds, order-independent
    * XOR content hash (constant memory per group — see snap_manifest).
    * `fp` must be an md5-hex fingerprint column expression. */
  def manifest(df: DataFrame, partCols: Seq[String], key: Column, fp: Column): DataFrame =
    df.withColumn("__fp64", conv(substring(fp, 1, 15), 16, 10).cast(LongType))
      .groupBy(partCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        min(key).as("min_key"),
        max(key).as("max_key"),
        bit_xor(col("__fp64")).as("content_hash"))

  /** Per-group VALUE-column stats sidecar — the quantile-bootstrap
    * metadata a manifest build writes next to the content hashes:
    * exact (group, n, vmin, vmax) with null values excluded, matching
    * `Percentiles.exactQuantiles(precomputedStats = …)`'s contract
    * exactly, so a stored snapshot answers exact per-group quantiles
    * with TWO fact scans instead of three (pass 1 comes from this
    * frame). One map-side-combined aggregate; build it in the same job
    * as [[manifest]] and both ride one scan. */
  def valueStats(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast(org.apache.spark.sql.types.DoubleType)
    df.filter(v.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), min(v).as("vmin"), max(v).as("vmax"))
  }

  /** Incremental manifest maintenance — O(|delta|), no base rescan.
    *
    * XOR is its own inverse, so a partition's content hash moves from
    * state A to state B by XOR-ing OUT the removed rows' fingerprints
    * and IN the added ones; counts and key bounds update additively
    * (bounds only widen — a removal at the boundary requires a rescan
    * of that partition, the standard min/max-sketch limitation, so
    * bounds are kept as the union envelope). An UPDATE is modeled as
    * remove(old row) + add(new row).
    *
    * At 100 TB this is the difference between validating a nightly
    * backup by rescanning the lake and validating it by folding the
    * day's delta into yesterday's manifest. Spec proves
    * `updateManifest(manifest(base), added, removed) ==
    * manifest(base ∪ added ∖ removed)` on the hash and count columns.
    */
  def updateManifest(
      current: DataFrame, added: DataFrame, removed: DataFrame,
      partCols: Seq[String], key: Column, fp: DataFrame => Column): DataFrame = {
    val deltaM = manifest(added, partCols, key, fp(added))
      .unionByName(
        // removed rows: negative count, same hash (XOR cancels out)
        manifest(removed, partCols, key, fp(removed))
          .withColumn("n_rows", -col("n_rows")))
      .groupBy(partCols.map(col): _*)
      .agg(
        sum(col("n_rows")).as("d_rows"),
        min(col("min_key")).as("d_min"),
        max(col("max_key")).as("d_max"),
        bit_xor(col("content_hash")).as("d_hash"))
    current.join(deltaM, partCols, "full_outer")
      .select((partCols.map(col) ++ Seq(
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("d_rows"), lit(0L))).as("n_rows"),
        least(col("min_key"), col("d_min")).as("min_key"),
        greatest(col("max_key"), col("d_max")).as("max_key"),
        // XOR with the delta hash; a partition absent on one side
        // keeps the other side's hash
        when(col("content_hash").isNull, col("d_hash"))
          .when(col("d_hash").isNull, col("content_hash"))
          .otherwise(expr("content_hash ^ d_hash")).as("content_hash"))): _*)
      .filter(col("n_rows") > 0)
  }

  /** Copy validation — the reference's post-backup check, as one
    * manifest join instead of a row-by-row compare: each side
    * aggregates to one row per partition (map-side combinable), so the
    * shuffle carries |partitions| rows, not |table|. Statuses:
    * missing_in_target / missing_in_source / row_count_mismatch /
    * content_mismatch / ok. */
  def validateCopy(
      source: DataFrame, target: DataFrame,
      partCols: Seq[String], key: Column, fp: DataFrame => Column): DataFrame =
    validateManifests(
      manifest(source, partCols, key, fp(source)),
      manifest(target, partCols, key, fp(target)),
      partCols)

  /** [[validateCopy]] over PREBUILT manifests — the entry point when a
    * manifest is maintained incrementally ([[updateManifest]]) or
    * continuously (streaming.StreamOps.streamingManifest in
    * foreachBatch) rather than recomputed from the table. */
  def validateManifests(
      sourceManifest: DataFrame, targetManifest: DataFrame,
      partCols: Seq[String]): DataFrame = {
    val ms = sourceManifest
      .withColumnRenamed("n_rows", "src_rows").withColumnRenamed("content_hash", "src_hash")
      .drop("min_key", "max_key")
    val mt = targetManifest
      .withColumnRenamed("n_rows", "dst_rows").withColumnRenamed("content_hash", "dst_hash")
      .drop("min_key", "max_key")
    ms.join(mt, partCols, "full_outer")
      .withColumn("status",
        when(col("dst_rows").isNull, "missing_in_target")
          .when(col("src_rows").isNull, "missing_in_source")
          .when(col("src_rows") =!= col("dst_rows"), "row_count_mismatch")
          .when(col("src_hash") =!= col("dst_hash"), "content_mismatch")
          .otherwise("ok"))
      .select((partCols.map(col) ++ Seq(col("src_rows"), col("dst_rows"), col("status"))): _*)
  }

  /** APPLY CHANGES — turn a change-feed frame (data columns +
    * `change_type` + `_commit_version`, the `.changes` table contract)
    * into the (upserts, deleteKeys) pair a downstream store's
    * mergeDelta/mergeAtTip consumes: per key, the LAST change wins
    * (one window over the feed — net-effect compression, so replaying
    * N commits costs ONE merge instead of N), inserts/updates upsert
    * with their row values, deletes emit the key. The downstream-sync
    * verb of Delta's APPLY CHANGES INTO. */
  def applyChanges(changes: DataFrame, keyCol: String): (DataFrame, Option[DataFrame]) = {
    // accept BOTH feed shapes: `update_preimage` rows (the CDF-shaped
    // `.changes_cdf` feed) are the OLD values and never apply — the
    // postimage row at the same commit carries the state. The window
    // breaks _commit_version ties DETERMINISTICALLY in favor of the
    // non-delete row: the stores' diffs emit one row per key per
    // commit, but a hand-built or unioned feed may not, and a
    // nondeterministic row_number tie could drop an updated key.
    val feed = changes.filter(col("change_type") =!= "update_preimage")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("_commit_version").desc,
        when(col("change_type") === "delete", 1).otherwise(0).asc)
    val last = feed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val upserts = last.filter(col("change_type") =!= "delete")
      .drop("change_type", "_commit_version", "__rn")
    val deletes = last.filter(col("change_type") === "delete")
      .select(col(keyCol)).materialize()
    (upserts, if (deletes.limit(1).count() == 0) None else Some(deletes))
  }

  /** MAINTAIN AGGREGATE — the materialized-view half of the CDC
    * story: incrementally update a keyed SUM/COUNT aggregate table
    * from a CDF feed (`.changes_cdf`'s contract) WITHOUT re-scanning
    * the base table. Every change row contributes with a sign —
    * insert/update_postimage +1, delete/update_preimage −1 — so
    * `base + Σ signed contributions` equals the aggregate recomputed
    * from the new tip (spec-proven), at a cost of O(|feed|), not
    * O(table): the 100 TB downstream-rollup maintenance loop.
    *
    * `baseAgg` is the aggregate as of the feed's predecessor: one row
    * per `groupCols` tuple with each `sums` output column and a
    * `countCol` row count. Returns the same shape as of the feed's
    * end; groups whose count reaches 0 drop (they no longer exist),
    * groups first seen in the feed appear. AVG and friends derive
    * downstream (sum/count); MIN/MAX are NOT incrementally
    * maintainable from deletes and are refused by construction (no
    * spec shape for them). */
  def maintainAggregate(baseAgg: DataFrame, feed: DataFrame,
      groupCols: Seq[String], sums: Map[String, String],
      countCol: String = "n_rows"): DataFrame = {
    require(groupCols.nonEmpty, "maintainAggregate: no group columns")
    val outCols = groupCols ++ sums.keys.toSeq.sorted :+ countCol
    val missing = outCols.filterNot(baseAgg.columns.contains)
    require(missing.isEmpty,
      s"maintainAggregate: baseAgg lacks ${missing.mkString(", ")}")
    // the plain feed's 'update' rows carry only the NEW value — the
    // retraction needs the CDF shape's preimage. The shape check rides
    // INSIDE the sign expression (raise_error on an unknown change
    // type), so validation costs zero extra passes: the one delta
    // aggregation below is the only evaluation of the feed.
    val sgn = when(col("change_type").isin("insert", "update_postimage"), lit(1L))
      .when(col("change_type").isin("delete", "update_preimage"), lit(-1L))
      .otherwise(raise_error(concat(
        lit("maintainAggregate needs the CDF feed shape (.changes_cdf: " +
          "update_preimage/update_postimage pairs) — a plain 'update' row " +
          "cannot retract the old contribution; got change_type="),
        coalesce(col("change_type"), lit("null")))).cast("long"))
    val signed = feed.withColumn("__sgn", sgn)
    val deltaAggs = sums.toSeq.sortBy(_._1).map { case (out, src) =>
      sum(col(src) * col("__sgn")).as(s"__d_$out") } :+
      sum(col("__sgn")).as("__d_n")
    val deltas = signed.groupBy(groupCols.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    // zero literals and the final outputs CAST TO baseAgg's declared
    // column types: a long/decimal sum column keeps its seed schema
    // (maintainAggregateStream's mergeDelta type guard would abort the
    // stream on the first micro-batch if the maintained shape drifted
    // to double)
    val nT = baseAgg.schema(countCol).dataType
    baseAgg.join(deltas, groupCols, "full_outer")
      .select((groupCols.map(col) ++
        sums.keys.toSeq.sorted.map { out =>
          val t = baseAgg.schema(out).dataType
          (coalesce(col(out), lit(0).cast(t)) +
            coalesce(col(s"__d_$out"), lit(0).cast(t))).cast(t).as(out)
        } :+
        (coalesce(col(countCol), lit(0L)) + coalesce(col("__d_n"), lit(0L)))
          .cast(nT).as(countCol)): _*)
      .filter(col(countCol) > 0)
  }

  // ---- snapshot modeling over the shared testdata ----

  /** orders with a canonical per-row md5 fingerprint. */
  /** Version 1 of an orders-keyed driver fixture at `path`, landed the
    * way each layout's callers land it: 8 key-range files with a zone
    * map on the snapshot layout, 8 pool files on the linked layout. */
  private def writeV1(s: SparkSession, path: String, snapshot: Boolean, df: DataFrame,
      commitTs: Option[Long] = Some(1000L)): Unit =
    if (snapshot)
      new SnapshotStore(s, path, "o_orderkey").writeRangePartitioned(df, 1L, 8, commitTs = commitTs)
    else new ManifestStore(s, path, "o_orderkey").write(df, 1L, 8, commitTs = commitTs)

  private def ordersFp(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.withColumn("fp", fingerprint(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      decM(col("o_totalprice")), col("o_orderdate"), col("o_orderpriority")))
  }

  /** The modeled "previous snapshot": drops keys ≡ 7 (mod 10) (those
    * are new in current) and perturbs o_totalprice by +1.00 for keys
    * ≡ 0 (mod 13) (those are changed in current). */
  private def prevOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") % 10 =!= 7)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, (decM(col("o_totalprice")) + lit(1).cast("decimal(4,2)")).cast(DoubleType))
          .otherwise(col("o_totalprice")))

  private def orderRowFp(df: DataFrame): Column = fingerprint(
    df("o_custkey"), df("o_orderstatus"), decM(df("o_totalprice")),
    df("o_orderdate"), df("o_orderpriority"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "snap_fingerprint" -> { (s, d) =>
      ordersFp(s, d).select("o_orderkey", "fp").orderBy("o_orderkey")
    },

    "snap_incr_new" -> { (s, d) =>
      incrementalNew(Tables.orders(s, d), prevOrders(s, d), "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    "snap_incr_changed" -> { (s, d) =>
      incrementalChanged(Tables.orders(s, d), prevOrders(s, d), "o_orderkey", orderRowFp)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    },

    "snap_merge_upsert" -> { (s, d) =>
      // Apply the delta (new + changed rows of current) onto the previous
      // snapshot; the merge must reconstruct `current` exactly.
      val cur = Tables.orders(s, d)
      val prev = prevOrders(s, d)
      val delta = incrementalNew(cur, prev, "o_orderkey")
        .unionByName(incrementalChanged(cur, prev, "o_orderkey", orderRowFp))
      mergeUpsert(prev, delta, "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    },

    "snap_scd2" -> { (s, d) =>
      // SCD2 history of each user's event_type transitions: effective
      // range = [ts, next change ts); open-ended rows have NULL end.
      // Event timestamps are ns in parquet; Spark reads them at µs while
      // DuckDB keeps ns — so ranges are output as epoch-microsecond
      // BIGINTs, which both engines truncate identically.
      val ev = Tables.events(s, d)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .withColumn("effective_to", lead(col("ts"), 1).over(
          Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("effective_from"),
          unix_micros(col("effective_to")).as("effective_to"))
        .orderBy("user_id", "effective_from")
    },

    "snap_manifest" -> { (s, d) =>
      // Copy-validation manifest per (l_returnflag, l_linestatus)
      // partition: counts, key bounds, exact sum, order-independent
      // aggregate content hash. The hash is XOR over a 60-bit slice of
      // each row's md5 — commutative, so it map-side combines with
      // constant memory per group (a collect_list/string_agg hash
      // would buffer every row fingerprint of a group on one reducer,
      // which cannot work on a 100 TB partition). Row fingerprints are
      // unique (orderkey+linenumber), so XOR self-cancellation only
      // fires on genuine duplicate rows — itself a copy error signal.
      val li = Tables.lineitem(s, d).withColumn("fp", fingerprint(
        col("l_orderkey"), col("l_linenumber"), decM(col("l_quantity")),
        decM(col("l_extendedprice")), decR(col("l_discount"))))
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_key"),
          max(col("l_orderkey")).as("max_key"),
          moneySum(col("l_extendedprice")).as("sum_price"),
          bit_xor(conv(substring(col("fp"), 1, 15), 16, 10).cast(LongType)).as("content_hash"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    "snap_retention" -> { (s, d) =>
      retainLatest(Tables.events(s, d), "user_id",
        Seq(col("ts").desc, col("event_id").desc), 3)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id", "event_id")
    },

    "snap_retention_gfs" -> { (s, d) =>
      // GFS schedule over the event-date catalog (each distinct day =
      // one daily backup): keep 7 dailies, 4 week-lasts, 12
      // month-lasts, with per-tier audit flags.
      gfsRetention(Tables.events(s, d).select(to_date(col("ts")).as("snap_date")).distinct(),
        daily = 7, weekly = 4, monthly = 12)
        .orderBy("snap_date")
    },

    "snap_retention_time" -> { (s, d) =>
      // TIME-BASED retention through SQL — Delta's `RETAIN n HOURS`
      // on BOTH layouts: four commits at ts 1000..4000, then `CALL
      // retention_hours(t, 1, as_of)` with an explicit as_of pinning
      // the horizon AT exactly 3000 ms. v1/v2 (strictly older)
      // expire; v3 (committed exactly at the horizon — the pinned
      // boundary) and the tip v4 survive, hash-checked through the
      // history table. The held-refusal contract gates in-result:
      // with v1 under legal hold the call throws and drops NOTHING;
      // after release it lands (refused_held). The tip's content agg
      // proves survivors read complete after the linked layout's
      // ref-count sweep. Warm passes skip by survivor presence.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_rtime_$fp"
      val hour = 3600L * 1000L
      val ord = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      val k = col("o_orderkey")
      val cat = s"snaprt_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      Seq("rt_snap", "rt_linked").map { t =>
        def st = VersionedStore.open(s, s"$base/$t", "o_orderkey")
        if (st.versions().isEmpty) {
          val d2 = ord.filter(k % 10 === 0)
            .select(k, (col("o_totalprice") + 1.0).as("o_totalprice"))
          val d3 = ord.filter(k % 20 === 0)
            .select(k, (col("o_totalprice") + 2.0).as("o_totalprice"))
          writeV1(s, s"$base/$t", t.endsWith("_snap"), ord.filter(k % 2 === 0))
          st.mergeDelta(1L, 2L, d2, commitTs = Some(2000L)): Unit
          st.mergeDelta(2L, 3L, d3, commitTs = Some(3000L)): Unit
          st.deleteWhere(3L, 4L, k % 30 === 0, commitTs = Some(4000L)): Unit
        }
        val call = s"CALL $cat.retention_hours('$t', 1, ${3000L + hour})"
        val (refused, nPruned) =
          if (st.versions().contains(1L)) {
            st.hold(1L)
            val r = try { s.sql(call).collect(); false }
              catch { case _: Exception => st.versions().size == 4 } // AND nothing dropped
            st.release(1L)
            (r, s.sql(call).collect().head.getLong(1))
          } else (true, 2L) // landed by a prior pass
        val hist = s.sql(s"SELECT version, commit_ts FROM $cat.$t.history")
          .select(lit(t).as("layout"), col("version").as("ver"),
            col("commit_ts"), lit(refused).as("refused_held"),
            lit(nPruned).as("n_pruned"), lit(-1L).as("bucket"), lit(0L).as("n"))
        val agg = s.sql(s"SELECT * FROM $cat.$t")
          .groupBy((k % 10).as("bucket"))
          .agg(count(lit(1)).as("n"))
          .select(lit(t).as("layout"), lit(-1L).as("ver"),
            lit(-1L).as("commit_ts"), lit(refused).as("refused_held"),
            lit(nPruned).as("n_pruned"), col("bucket"), col("n"))
        hist.unionByName(agg)
      }.reduce(_ unionByName _).orderBy("layout", "ver", "bucket")
    },

    "snap_bloom_prune" -> { (s, d) =>
      // Delta-driven restore read: lineitems of a small recent order
      // delta. BloomPrune filters the big fact scan by the delta's key
      // Bloom filter BEFORE the shuffle (at 100 TB the exchange
      // shrinks from |lineitem| to ~|matches|); the exact semi-join
      // after it removes the false positives, so the result is
      // identical to the plain semi-join the oracle runs.
      val delta = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("2001-06-01"))
        .select("o_orderkey")
      val pruned = org.apache.spark.sql.graft.BloomPrune.prune(
        Tables.lineitem(s, d), col("l_orderkey"), delta, col("o_orderkey"),
        expectedItems = 1000 * 1000, fpp = 0.01)
      pruned.join(delta, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag")
    },

    "snap_restore_range" -> { (s, d) =>
      // Keyed restore through the data-skipping layout: orders written
      // ONCE range-partitioned by o_orderkey with a per-file zone map,
      // then one key range read back — the read opens only the files
      // whose [min,max] overlaps the range (spec-asserted strict
      // subset; here the oracle proves the pruned read loses nothing
      // vs a plain filtered scan of the table).
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_range_store_${Tables.fingerprint(s, d, "orders")}"
      val store = new SnapshotStore(s, base, "o_orderkey")
      if (!store.versions().contains(1L))
        store.writeRangePartitioned(
          Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"), 1L, 16)
      store.readKeyRange(1L, 600L, 1100L).orderBy("o_orderkey")
    },

    "snap_linked_merge" -> { (s, d) =>
      // Manifest-store end-to-end: TWO chained linked merges
      // (v1 --reprice+delete--> v2 --reprice+insert--> v3) where
      // untouched files carry by REFERENCE (zero copy, zero extra
      // storage) instead of SnapshotStore's per-version byte-copy —
      // the publication layout that keeps a daily 100 TB merge at
      // O(|touched files|) I/O. A key deleted in v2 and repriced in
      // v3 re-enters via the upsert — the oracle rebuilds the same
      // three-step lineage declaratively; the bucket aggregate over
      // the full v3 read proves nothing was lost, duplicated, or
      // left stale across the shared-file chain.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_linked_store_${Tables.fingerprint(s, d, "orders")}"
      val store = new ManifestStore(s, base, "o_orderkey")
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      if (!store.versions().contains(3L)) {
        if (!store.versions().contains(1L)) store.write(ord, 1L, 16)
        if (!store.versions().contains(2L)) {
          val upd1 = ord.filter(col("o_orderkey") % 17 === 5)
            .withColumn("o_totalprice", col("o_totalprice") + 500.0)
          val dels1 = ord
            .filter(col("o_orderkey") % 23 === 9 && col("o_orderkey") % 17 =!= 5)
            .select("o_orderkey")
          store.mergeDelta(1L, 2L, upd1, Some(dels1))
        }
        val upd2 = ord.filter(col("o_orderkey") % 19 === 2)
          .withColumn("o_totalprice", col("o_totalprice") + 700.0)
        val ins2 = ord.filter(col("o_orderkey") % 29 === 3)
          .withColumn("o_orderkey", col("o_orderkey") + 30000000L)
        store.mergeDelta(2L, 3L, upd2.unionByName(ins2))
      }
      store.read(3L)
        .groupBy((col("o_orderkey") % 100).as("bucket"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .orderBy("bucket")
    },

    "snap_linked_branch" -> { (s, d) =>
      // ZERO-COPY BRANCH end-to-end (ManifestStore.branch): fork the
      // linked lineage at v2 into a dev branch, merge a dev-only
      // reprice on the branch, and hash-check the branch tip against
      // the declaratively rebuilt fork — while snap_linked_merge's v3
      // keeps hash-checking the MAIN lineage in the same store, which
      // proves fork isolation end-to-end on the shared pool.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_linked_store_${Tables.fingerprint(s, d, "orders")}"
      val store = new ManifestStore(s, base, "o_orderkey")
      if (!store.versions().contains(3L))
        queries("snap_linked_merge")(s, d): Unit // build the lineage (stores land eagerly at construction; counting the lazy read would recompute the full merge output per pass)
      if (!store.versions().contains(20L)) store.branch(2L, 20L)
      if (!store.versions().contains(21L)) {
        val dev = store.read(20L).filter(col("o_orderkey") % 31 === 7)
          .withColumn("o_totalprice", col("o_totalprice") + 900.0)
        store.mergeDelta(20L, 21L, dev)
      }
      store.read(21L)
        .groupBy((col("o_orderkey") % 100).as("bucket"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .orderBy("bucket")
    },

    "snap_linked_diff" -> { (s, d) =>
      // The manifest-pruned CDC (ManifestStore.diff) hash-checked:
      // diff(v2, v3) of snap_linked_merge's lineage must emit exactly
      // the second merge's effect — updates for repriced keys that
      // were present in v2, INSERTS for repriced keys the v2 delete
      // had removed (the upsert re-created them) and for the shifted
      // fresh keys, no deletes, and NOTHING for survivor rows that
      // merely moved files (the fingerprint compare drops them). Only
      // files exclusive to either manifest are scanned.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_linked_store_${Tables.fingerprint(s, d, "orders")}"
      val store = new ManifestStore(s, base, "o_orderkey")
      if (!store.versions().contains(3L))
        queries("snap_linked_merge")(s, d): Unit // build the lineage (stores land eagerly at construction; counting the lazy read would recompute the full merge output per pass)
      store.diff(2L, 3L).orderBy("o_orderkey")
    },

    "snap_pool_parity_gate" -> { (s, d) =>
      // XOR-parity recovery on the LINKED store's shared pool — the
      // durability rung a 100 TB manifest layout needs below mirror
      // replication: a pool file referenced by BOTH versions of a
      // merge chain is lost, scrubPool flags it, repairFromParity
      // reconstructs it from parity ⊕ survivors (no replica, md5-
      // verified), and the chain tip must read back identical to the
      // declaratively rebuilt merge — reduced to booleans the DuckDB
      // oracle asserts. Own fingerprint-keyed root (this entry MUTATES
      // pool files); warm passes reuse the store and time the
      // lose/repair/verify round trip.
      val fp = Tables.fingerprint(s, d, "documents")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_pool_parity_$fp"
      val store = new ManifestStore(s, base, "doc_id")
      def src = Tables.documents(s, d).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      def delta = src.filter(col("doc_id") % 10 === 4)
        .withColumn("text", concat(col("text"), lit("#u")))
      if (store.versions().isEmpty) {
        store.write(src, 1L, 8)
        store.mergeDelta(1L, 2L, delta)
        store.buildParity(): Unit
      } else {
        // a previous run may have died between its victim deletion and
        // its repair — heal FIRST; beyond single-loss repair (killed
        // twice in the window) rebuilds rather than failing every
        // subsequent run
        val (_, unrepairable) = store.repairFromParity()
        if (unrepairable.nonEmpty ||
            store.scrubPool().filter(col("status") =!= "ok").count() > 0) {
          val fsys = new org.apache.hadoop.fs.Path(base)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fsys.delete(new org.apache.hadoop.fs.Path(base), true): Unit
          store.write(src, 1L, 8)
          store.mergeDelta(1L, 2L, delta)
          store.buildParity(): Unit
        }
      }
      import s.implicits._
      val fsys = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // victim: a file both manifests reference — max blast radius
      val v1f = store.manifest(1L).select("file").as[String].collect().toSet
      val v2f = store.manifest(2L).select("file").as[String].collect().toSet
      val victim = (v1f intersect v2f).toSeq.sorted
        .headOption.getOrElse(v2f.toSeq.sorted.head)
      fsys.delete(new org.apache.hadoop.fs.Path(s"$base/files/$victim"), false)
      val lossSeen = store.scrubPool()
        .filter(col("status") === "missing_file").count() > 0
      val (repaired, unrepairable) = store.repairFromParity()
      val repairedOk = repaired.nonEmpty && unrepairable.isEmpty
      val expect = src.join(delta.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(delta)
        .select(col("doc_id"), md5(col("text")).as("h"))
      val got = store.read(2L).select(col("doc_id"), md5(col("text")).as("h"))
      val missing = expect.join(got, Seq("doc_id", "h"), "left_anti").count()
      val extra = got.join(expect, Seq("doc_id", "h"), "left_anti").count()
      val scrubBad = store.scrubPool().filter(col("status") =!= "ok").count()
      Seq((expect.count(), lossSeen && repairedOk,
          missing == 0L && extra == 0L && scrubBad == 0L))
        .toDF("n_docs", "repaired_ok", "restored_ok")
    },

    "snap_pool_mirror_gate" -> { (s, d) =>
      // Mirror replicate/repair on the linked store — the rung ABOVE
      // parity: the pool loses TWO files AND its parity sidecars (the
      // multi-loss disaster single-parity provably cannot serve), and
      // repairFrom(mirror) heals both from the replica, md5-verified
      // where indexed; parity then rebuilds and the version reads
      // back byte-identical, scrub-clean. replicateTo is idempotent
      // (asserted: the second sync moves zero files). Booleans for
      // the DuckDB oracle, own fingerprint-keyed roots.
      val fp = Tables.fingerprint(s, d, "documents")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_pool_mirror_$fp"
      val mirrorBase = s"${System.getProperty("java.io.tmpdir")}/graft_pool_mirror_m_$fp"
      val store = new ManifestStore(s, base, "doc_id")
      def src = Tables.documents(s, d).filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
      if (store.versions().isEmpty) {
        store.write(src, 1L, 6)
        store.buildParity()
        store.replicateTo(mirrorBase): Unit
      } else {
        // heal whatever a killed previous run left: mirror rung first
        // (serves multi-loss), then parity refresh; a store still dirty
        // after both rebuilds from scratch
        store.repairFrom(mirrorBase)
        store.updateParity()
        if (store.scrubPool().filter(col("status") =!= "ok").count() > 0) {
          val fsys = new org.apache.hadoop.fs.Path(base)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fsys.delete(new org.apache.hadoop.fs.Path(base), true)
          fsys.delete(new org.apache.hadoop.fs.Path(mirrorBase), true): Unit
          store.write(src, 1L, 6)
          store.buildParity()
          store.replicateTo(mirrorBase): Unit
        }
      }
      import s.implicits._
      val idempotent = store.replicateTo(mirrorBase)._1 == 0L
      val fsys = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val victims = store.manifest(1L).select("file").as[String]
        .collect().sorted.take(2).toSeq
      victims.foreach(n =>
        fsys.delete(new org.apache.hadoop.fs.Path(s"$base/files/$n"), false))
      fsys.delete(new org.apache.hadoop.fs.Path(s"$base/_pool_parity"), true)
      val lossSeen = store.scrubPool()
        .filter(col("status") === "missing_file").count() >= 2
      val (healed, unhealed) = store.repairFrom(mirrorBase)
      val healedOk = healed.size == victims.size && unhealed.isEmpty
      store.buildParity()
      val expect = src.select(col("doc_id"), md5(col("text")).as("h"))
      val got = store.read(1L).select(col("doc_id"), md5(col("text")).as("h"))
      val missing = expect.join(got, Seq("doc_id", "h"), "left_anti").count()
      val extra = got.join(expect, Seq("doc_id", "h"), "left_anti").count()
      val scrubBad = store.scrubPool().filter(col("status") =!= "ok").count()
      Seq((expect.count(), idempotent && lossSeen && healedOk,
          missing == 0L && extra == 0L && scrubBad == 0L))
        .toDF("n_docs", "healed_ok", "restored_ok")
    },

    "snap_linked_zorder" -> { (s, d) =>
      // The linked store's Z-ordered corner read: same 2-D clustering
      // as snap_restore_zorder, but stats live in the MANIFEST (no
      // zone-map sidecar) and the pruned file list resolves with one
      // manifest filter — shared-pool merges later carry clustered
      // files' stats by reference. Oracle proves the corner read
      // loses nothing vs the plain filtered scan.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_linked_z_${Tables.fingerprint(s, d, "orders")}"
      val store = new ManifestStore(s, base, "o_orderkey",
        statsCols = Seq("o_custkey", "o_orderdate"))
      if (!store.versions().contains(1L))
        store.writeZOrdered(
          Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
          1L, 16, Seq("o_custkey", "o_orderdate"))
      store.readWhereAll(1L, Seq(
        ("o_custkey", 100L, 400L),
        ("o_orderdate", "1997-01-01", "1998-01-01")))
        .orderBy("o_orderkey")
    },

    "snap_sql_timetravel" -> { (s, d) =>
      // The DSv2 SQL time-travel surface driver-checked end-to-end: a
      // two-version lineage (v1 = orders, v2 = a deterministic
      // reprice) is read back through `VERSION AS OF 1` and the bare
      // (latest) table name via the SnapshotCatalog — Spark's OWN
      // loadTable(ident, version) hooks, planned as a native parquet
      // scan — and both reads' bucket aggregates must hash-match the
      // declaratively rebuilt states. Backdated commit timestamps
      // keep the store reproducible. The catalog NAME carries the
      // dataset fingerprint: Spark caches catalog instances by name
      // after first load, so re-pointing a fixed name's `.root` conf
      // at a different dataset would silently keep reading the first
      // one — a per-root name makes the cache key the identity.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_tt_$fp"
      val store = new SnapshotStore(s, s"$base/orders_tt", "o_orderkey")
      val ord = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      if (!store.versions().contains(2L)) {
        if (!store.versions().contains(1L)) store.write(ord, 1L, Some(1000L))
        store.write(ord.withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + lit(100.0))
            .otherwise(col("o_totalprice"))), 2L, Some(2000L))
      }
      val cat = s"snaptt_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      def agg(df: DataFrame, ver: Long) =
        df.groupBy((col("o_orderkey") % 50).as("bucket"))
          .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
          .withColumn("ver", lit(ver))
      agg(s.sql(s"SELECT * FROM $cat.orders_tt VERSION AS OF 1"), 1L)
        .unionByName(agg(s.sql(s"SELECT * FROM $cat.orders_tt"), 2L))
        .orderBy("ver", "bucket")
    },

    "snap_bucket_join" -> { (s, d) =>
      // STORAGE-PARTITIONED JOIN through SQL: a per-customer order
      // rollup (linked layout) and the customer table (snapshot
      // layout) land CO-BUCKETED by custkey (writeBucketed, 16
      // buckets, Spark's own murmur3 bucket function + file naming),
      // and the catalog serves each as a V1 bucketed relation — so
      // `JOIN ON custkey` plans with ZERO Exchange on either side.
      // The no-Exchange proof is computed on the STATIC plan with
      // broadcast disabled (the contract is the partitioning, not a
      // small-table rescue) and rides in the hashed result as
      // `spj_ok`; the joined values hash-check against the oracle's
      // relational recompute. At 100 TB this is the store⋈store fact
      // join that otherwise shuffles both range-clustered sides.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_bktj_$fp"
      val oa = new ManifestStore(s, s"$base/ord_by_cust", "o_custkey")
      if (!oa.versions().contains(1L))
        oa.writeBucketed(Tables.orders(s, d).groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            moneySum(col("o_totalprice")).as("total_price")), 1L, 16)
      val cb = new SnapshotStore(s, s"$base/cust", "c_custkey")
      if (!cb.versions().contains(1L))
        cb.writeBucketed(Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_acctbal"), 1L, 16)
      val cat = s"bktj_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val q =
        s"""SELECT o.o_custkey AS custkey, c.c_name AS name,
           |  o.n_orders, o.total_price
           |FROM $cat.ord_by_cust o JOIN $cat.cust c
           |ON o.o_custkey = c.c_custkey""".stripMargin
      val old = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val spjOk = try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        // executedPlan pre-collect = the post-EnsureRequirements
        // static plan (AQE's initial plan) — where Exchanges live
        val p = s.sql(q).queryExecution.executedPlan.toString
        !p.contains("Exchange hashpartitioning") && p.contains("Bucketed: true")
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      s.sql(q).withColumn("spj_ok", lit(spjOk)).orderBy("custkey")
    },

    "snap_sql_delete" -> { (s, d) =>
      // SQL DML through the catalog: `DELETE FROM <cat>.<table> WHERE
      // <pred>` maps onto the LINKED store's deleteWhere via the DSv2
      // row-level delete hook — the delete PUBLISHES a new version
      // (v2) through the store's tmp+rename discipline, driven by the
      // key column the store recorded in `_store.json`; `VERSION AS
      // OF 1` must still read the pre-delete state (immutable
      // history). Both reads' bucket aggregates hash-check against
      // the declaratively rebuilt states. Fingerprint-keyed store +
      // catalog name (catalog instances cache by name); warm passes
      // skip the landed delete and time the two reads.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqldel_$fp"
      val store = new ManifestStore(s, s"$base/orders_del", "o_orderkey")
      val ord = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      if (!store.versions().contains(1L))
        store.write(ord, 1L, 8, commitTs = Some(1000L))
      val cat = s"snapdel_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      if (!store.versions().contains(2L))
        s.sql(s"DELETE FROM $cat.orders_del WHERE o_totalprice > 150000.0")
      def agg(df: DataFrame, ver: Long) =
        df.groupBy((col("o_orderkey") % 50).as("bucket"))
          .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
          .withColumn("ver", lit(ver))
      agg(s.sql(s"SELECT * FROM $cat.orders_del VERSION AS OF 1"), 1L)
        .unionByName(agg(s.sql(s"SELECT * FROM $cat.orders_del"), 2L))
        .orderBy("ver", "bucket")
    },

    "snap_sql_merge" -> { (s, d) =>
      // SQL `MERGE INTO` through the catalog on BOTH store layouts —
      // the lake engine's flagship DML verb, executed by
      // GraftMergeStrategy through each store's own mergeDelta. One
      // deterministic source carries all three clause kinds: matched
      // repriced rows (key%5=0, key%7≠0 → UPDATE SET), matched
      // tombstones (key%7=0 → DELETE), and fresh keys (+1e8 offset →
      // conditional INSERT). Both layouts' tip AND v1 (immutable
      // history) bucket-aggregate against the declaratively rebuilt
      // states; the two layouts must agree exactly. Fingerprint-keyed
      // stores + catalog name (catalog instances cache by name); warm
      // passes skip the landed merges and time the four reads.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlmerge_$fp"
      val ord = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      val snap = new SnapshotStore(s, s"$base/om_snap", "o_orderkey")
      if (!snap.versions().contains(1L))
        snap.writeRangePartitioned(ord, 1L, 8, commitTs = Some(1000L))
      val linked = new ManifestStore(s, s"$base/om_linked", "o_orderkey")
      if (!linked.versions().contains(1L))
        linked.write(ord, 1L, 8, commitTs = Some(1000L))
      val cat = s"snapmrg_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val k = col("o_orderkey")
      val src = ord.filter(k % 5 === 0 && k % 7 =!= 0)
        .select(k.as("mk"), (col("o_totalprice") + 100.0).as("p"), lit("u").as("op"))
        .unionByName(ord.filter(k % 7 === 0)
          .select(k.as("mk"), col("o_totalprice").as("p"), lit("d").as("op")))
        .unionByName(ord.filter(k % 3 === 0)
          .select((k + 100000000L).as("mk"),
            (col("o_totalprice") + 7.0).as("p"), lit("i").as("op")))
      src.createOrReplaceTempView(s"merge_src_$fp")
      for (t <- Seq("om_snap", "om_linked")) {
        val landed = (if (t == "om_snap") snap.versions() else linked.versions())
          .contains(2L)
        if (!landed)
          s.sql(
            s"""MERGE INTO $cat.$t t USING merge_src_$fp s ON t.o_orderkey = s.mk
               |WHEN MATCHED AND s.op = 'd' THEN DELETE
               |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
               |WHEN NOT MATCHED AND s.op = 'i'
               |  THEN INSERT (o_orderkey, o_totalprice) VALUES (s.mk, s.p)""".stripMargin)
      }
      def agg(df: DataFrame, layout: String, ver: Long) =
        df.groupBy((col("o_orderkey") % 50).as("bucket"))
          .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
          .withColumn("layout", lit(layout)).withColumn("ver", lit(ver))
      Seq("om_snap", "om_linked").map { t =>
        agg(s.sql(s"SELECT * FROM $cat.$t VERSION AS OF 1"), t, 1L)
          .unionByName(agg(s.sql(s"SELECT * FROM $cat.$t"), t, 2L))
      }.reduce(_ unionByName _).orderBy("layout", "ver", "bucket")
    },

    "snap_maintain_agg" -> { (s, d) =>
      // MAINTAIN AGGREGATE from the CDF feed — the materialized-view
      // half of CDC, on BOTH layouts: a per-custkey-bucket SUM table
      // maintained across an update-heavy MoR reprice + CoW reprice +
      // insert + delete chain from `.changes_cdf` ALONE (base + inserts
      // + postimages − preimages − deletes), never re-scanning the
      // base. Hash-checks against the declaratively recomputed final
      // aggregate; `agrees` gates maintained == recomputed inside the
      // hashed result. O(|feed|) maintenance — the 100 TB rollup loop.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_magg_$fp"
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val k = col("o_orderkey")
      val v1 = ord.filter(k % 2 === 0)
      val cat = s"snapmagg_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val morDelta = ord.filter(k % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 5.0)
      val cowDelta = ord.filter(k % 12 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 7.0)
        .unionByName(ord.filter(k % 6 === 0)
          .select((k + 100000000L).as("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") + 3.0).as("o_totalprice")))
      val delKeys = ord.filter(k % 18 === 0).select(k)
      for (layout <- Seq("ma_snap", "ma_linked")) {
        def st = VersionedStore.open(s, s"$base/$layout", "o_orderkey")
        if (!st.versions().contains(1L))
          writeV1(s, s"$base/$layout", layout == "ma_snap", v1)
        if (!st.versions().contains(2L))
          st.mergeDeltaMor(1L, 2L, morDelta, commitTs = Some(2000L)): Unit
        if (!st.versions().contains(3L))
          st.mergeDelta(2L, 3L, cowDelta, commitTs = Some(3000L)): Unit
        if (!st.versions().contains(4L))
          st.mergeDelta(3L, 4L, cowDelta.limit(0), Some(delKeys),
            commitTs = Some(4000L)): Unit
      }
      def bucketed(df: DataFrame) =
        df.withColumn("bucket", col("o_custkey") % 20)
      val baseAgg = bucketed(v1).groupBy("bucket")
        .agg(sum("o_totalprice").as("sum_price"), count(lit(1)).as("n_rows"))
      Seq("ma_snap", "ma_linked").map { t =>
        val feed = bucketed(
          s.sql(s"SELECT * FROM $cat.$t.changes_cdf VERSION AS OF '2..4'"))
        // the maintained frame is consumed twice (gate + output): one
        // localCheckpoint stops the 3-commit CDF feed recomputing
        val maintained = Snapshot.maintainAggregate(baseAgg, feed,
          Seq("bucket"), Map("sum_price" -> "o_totalprice")).materialize()
        val recomputed = bucketed(s.sql(s"SELECT * FROM $cat.$t"))
          .groupBy("bucket")
          .agg(sum("o_totalprice").as("sum_price"), count(lit(1)).as("n_rows"))
        // the gate rides the output plan as a broadcast 1-row frame
        // instead of an eager count: one job per layout (the output
        // write) instead of two, same one-direction exceptAll check
        val agrees = maintained
          .select(col("bucket"), round(col("sum_price"), 2).as("sp"), col("n_rows"))
          .exceptAll(recomputed
            .select(col("bucket"), round(col("sum_price"), 2).as("sp"), col("n_rows")))
          .agg((count(lit(1)) === 0L).as("__agrees"))
        maintained.crossJoin(broadcast(agrees))
          .select(lit(t).as("layout"), col("bucket"),
            round(col("sum_price"), 2).as("sum_price"), col("n_rows"),
            col("__agrees").as("agrees"))
      }.reduce(_ unionByName _).orderBy("layout", "bucket")
    },

    "snap_sql_merge_evolve" -> { (s, d) =>
      // `MERGE ... WITH SCHEMA EVOLUTION` through the catalog on BOTH
      // layouts: the source carries a NEW column (disc); the analyzer
      // (gated on AUTOMATIC_SCHEMA_EVOLUTION) routes the ADD COLUMN
      // through alterTable — ONE metadata-only union-schema commit, no
      // rewrite — and the merge plans against the evolved target.
      // Matched keys (%5=0) take the repriced row + disc; untouched
      // rows read disc NULL; fresh keys insert with disc. v1 stays
      // narrow (`v1_narrow` gate inside the hashed result — immutable
      // history); tip hash-checks against the declarative rebuild.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlmev_$fp"
      val ord = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      val k = col("o_orderkey")
      val snap = new SnapshotStore(s, s"$base/me_snap", "o_orderkey")
      if (!snap.versions().contains(1L))
        snap.writeRangePartitioned(ord, 1L, 8, commitTs = Some(1000L))
      val linked = new ManifestStore(s, s"$base/me_linked", "o_orderkey")
      if (!linked.versions().contains(1L))
        linked.write(ord, 1L, 8, commitTs = Some(1000L))
      val cat = s"snapmev_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val src = ord.filter(k % 5 === 0)
        .select(k.as("o_orderkey"), (col("o_totalprice") + 100.0).as("o_totalprice"))
        .unionByName(ord.filter(k % 3 === 0)
          .select((k + 100000000L).as("o_orderkey"),
            (col("o_totalprice") + 7.0).as("o_totalprice")))
        .withColumn("disc", col("o_totalprice") + 1.0)
      src.createOrReplaceTempView(s"mev_src_$fp")
      for (t <- Seq("me_snap", "me_linked")) {
        val landed = (if (t == "me_snap") snap.versions() else linked.versions())
          .contains(3L) // v2 = evolve commit, v3 = the merge itself
        if (!landed)
          s.sql(
            s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.$t t
               |USING mev_src_$fp s ON t.o_orderkey = s.o_orderkey
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      Seq("me_snap", "me_linked").map { t =>
        val v1Narrow = !s.sql(s"SELECT * FROM $cat.$t VERSION AS OF 1")
          .columns.contains("disc")
        s.sql(s"SELECT * FROM $cat.$t")
          .groupBy((k % 50).as("bucket"))
          .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"),
            moneySum(col("disc")).as("sum_disc"),
            count(col("disc")).as("n_disc"))
          .select(lit(t).as("layout"), col("bucket"), col("n"), col("sum_price"),
            col("sum_disc"), col("n_disc"), lit(v1Narrow).as("v1_narrow"))
      }.reduce(_ unionByName _).orderBy("layout", "bucket")
    },

    "snap_sql_update" -> { (s, d) =>
      // SQL `UPDATE` through the catalog on BOTH store layouts —
      // MERGE's in-place cousin (GraftUpdateExec: the WHERE-matched
      // rows re-assemble with the SET list and land through each
      // store's own mergeDelta as a self-keyed upsert, so only
      // touched files rewrite). Repriced rows (key%4=0) change, every
      // other row and all of v1 (immutable history) stay byte-stable;
      // both layouts' tip AND v1 bucket-aggregate against the
      // declaratively rebuilt states. Fingerprint-keyed stores +
      // catalog name; warm passes skip the landed update.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlupd_$fp"
      val ord = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      val snap = new SnapshotStore(s, s"$base/ou_snap", "o_orderkey")
      if (!snap.versions().contains(1L))
        snap.writeRangePartitioned(ord, 1L, 8, commitTs = Some(1000L))
      val linked = new ManifestStore(s, s"$base/ou_linked", "o_orderkey")
      if (!linked.versions().contains(1L))
        linked.write(ord, 1L, 8, commitTs = Some(1000L))
      val cat = s"snapupd_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      for (t <- Seq("ou_snap", "ou_linked")) {
        val landed = (if (t == "ou_snap") snap.versions() else linked.versions())
          .contains(2L)
        if (!landed)
          s.sql(s"UPDATE $cat.$t SET o_totalprice = o_totalprice + 42.5 " +
            "WHERE o_orderkey % 4 = 0")
      }
      def agg(df: DataFrame, layout: String, ver: Long) =
        df.groupBy((col("o_orderkey") % 50).as("bucket"))
          .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
          .withColumn("layout", lit(layout)).withColumn("ver", lit(ver))
      Seq("ou_snap", "ou_linked").map { t =>
        agg(s.sql(s"SELECT * FROM $cat.$t VERSION AS OF 1"), t, 1L)
          .unionByName(agg(s.sql(s"SELECT * FROM $cat.$t"), t, 2L))
      }.reduce(_ unionByName _).orderBy("layout", "ver", "bucket")
    },

    "snap_sql_alter" -> { (s, d) =>
      // SQL `ALTER TABLE ADD COLUMN … DEFAULT` on BOTH layouts — SQL
      // schema evolution onto the stores' own sidecar machinery: an
      // EMPTY wider mergeDelta publishes tip+1 (linked stores carry
      // every file by reference — zero data I/O), the DEFAULT records
      // as the graft.fill every read path honors, so the tip scan
      // reads the default for every pre-existing file while v1 stays
      // narrow (immutable history — v1_cols pins it). Warm passes
      // skip the landed ALTER.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlalt_$fp"
      val ord = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      val snap = new SnapshotStore(s, s"$base/oa_snap", "o_orderkey")
      if (!snap.versions().contains(1L))
        snap.writeRangePartitioned(ord, 1L, 8, commitTs = Some(1000L))
      val linked = new ManifestStore(s, s"$base/oa_linked", "o_orderkey")
      if (!linked.versions().contains(1L))
        linked.write(ord, 1L, 8, commitTs = Some(1000L))
      val cat = s"snapalt_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      for (t <- Seq("oa_snap", "oa_linked")) {
        val landed = VersionedStore.open(s, s"$base/$t", "o_orderkey").versions().contains(2L)
        if (!landed)
          s.sql(s"ALTER TABLE $cat.$t ADD COLUMN bonus DOUBLE DEFAULT 2.5")
      }
      Seq("oa_snap", "oa_linked").map { t =>
        val v1cols = s.sql(s"SELECT * FROM $cat.$t VERSION AS OF 1").columns.length.toLong
        s.sql(s"SELECT * FROM $cat.$t")
          .groupBy((col("o_orderkey") % 50).as("bucket"))
          .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"),
            moneySum(col("bonus")).as("sum_bonus"))
          .withColumn("layout", lit(t)).withColumn("v1_cols", lit(v1cols))
      }.reduce(_ unionByName _).orderBy("layout", "bucket")
    },

    "snap_sql_changes" -> { (s, d) =>
      // The `<store>.changes` CDC table on BOTH layouts — a BOUNDED
      // commit-range read (`VERSION AS OF '2..3'`, the table_changes
      // shape) over a 3-commit chain: v1 = k%3 keys, v2 = upsert
      // (k%5, +10) + delete (k%21 of v1), v3 = upsert (k%10, +3).
      // Change rows carry NEW state for insert/update and key-only for
      // delete, stamped with _commit_version — so the whole expected
      // feed is declaratively derivable from `orders` and the oracle
      // hash-checks every classification on both layouts (the linked
      // side reads it manifest-pruned to commit-exclusive files).
      // Warm passes skip landed versions.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlchg_$fp"
      val k = col("o_orderkey")
      val ord = Tables.orders(s, d).select(k, col("o_totalprice"))
      val v1 = ord.filter(k % 3 === 0)
      val d2 = ord.filter(k % 5 === 0)
        .select(k, (col("o_totalprice") + 10.0).as("o_totalprice"))
      val del2 = ord.filter(k % 3 === 0 && k % 7 === 0).select(k)
      val d3 = ord.filter(k % 10 === 0)
        .select(k, (col("o_totalprice") + 3.0).as("o_totalprice"))
      val snap = new SnapshotStore(s, s"$base/oc_snap", "o_orderkey")
      if (!snap.versions().contains(1L))
        snap.writeRangePartitioned(v1, 1L, 8, commitTs = Some(1000L))
      if (!snap.versions().contains(2L))
        snap.mergeDelta(1L, 2L, d2, Some(del2), commitTs = Some(2000L)): Unit
      if (!snap.versions().contains(3L))
        snap.mergeDelta(2L, 3L, d3, commitTs = Some(3000L)): Unit
      val linked = new ManifestStore(s, s"$base/oc_linked", "o_orderkey")
      if (!linked.versions().contains(1L))
        linked.write(v1, 1L, 8, commitTs = Some(1000L))
      if (!linked.versions().contains(2L))
        linked.mergeDelta(1L, 2L, d2, Some(del2), commitTs = Some(2000L)): Unit
      if (!linked.versions().contains(3L))
        linked.mergeDelta(2L, 3L, d3, commitTs = Some(3000L)): Unit
      val cat = s"snapchg_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      Seq("oc_snap", "oc_linked").map { t =>
        s.sql(s"SELECT * FROM $cat.$t.changes VERSION AS OF '2..3'")
          .withColumn("layout", lit(t))
      }.reduce(_ unionByName _)
        .orderBy("layout", "_commit_version", "change_type", "o_orderkey")
    },

    "snap_sql_rename" -> { (s, d) =>
      // METADATA-ONLY RENAME COLUMN (column mapping) on BOTH layouts:
      // v2 = `ALTER TABLE ... RENAME COLUMN o_totalprice TO price` on
      // a populated store — ONE schema-sidecar commit (`graft.physical`
      // pins the stored name), zero data rewrites. The ZERO-REWRITE
      // GATE is part of the hashed result: on linked, v2's manifest
      // references exactly v1's pool files; on snapshot, v2's part
      // files equal v1's by name AND size (byte-copy carry). The tip
      // reads under the NEW name through the mapping-aware store read;
      // pinned v1 keeps the old name (v1_has_old). Warm passes skip
      // the landed ALTER.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlren_$fp"
      val k = col("o_orderkey")
      val ord = Tables.orders(s, d).select(k, col("o_totalprice"))
      val snap = new SnapshotStore(s, s"$base/rn_snap", "o_orderkey")
      if (!snap.versions().contains(1L))
        snap.writeRangePartitioned(ord, 1L, 8, commitTs = Some(1000L))
      val linked = new ManifestStore(s, s"$base/rn_linked", "o_orderkey")
      if (!linked.versions().contains(1L))
        linked.write(ord, 1L, 8, commitTs = Some(1000L))
      val cat = s"snapren_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      for (t <- Seq("rn_snap", "rn_linked")) {
        val landed =
          (if (t == "rn_snap") snap.versions() else linked.versions()).contains(2L)
        if (!landed)
          s.sql(s"ALTER TABLE $cat.$t RENAME COLUMN o_totalprice TO price")
      }
      def files(t: String, v: Long): Map[String, Long] =
        if (t == "rn_linked")
          linked.manifest(v).select("file").collect()
            .map(r => r.getString(0) -> 0L).toMap
        else {
          val dir = new java.io.File(s"$base/$t/v=$v")
          dir.listFiles().filter(_.getName.startsWith("part-"))
            .map(f => f.getName -> f.length()).toMap
        }
      Seq("rn_snap", "rn_linked").map { t =>
        val zeroRewrite = files(t, 2L) == files(t, 1L)
        val v1HasOld = s.sql(s"SELECT * FROM $cat.$t VERSION AS OF 1")
          .columns.contains("o_totalprice")
        s.sql(s"SELECT * FROM $cat.$t")
          .groupBy((col("o_orderkey") % 50).as("bucket"))
          .agg(count(lit(1)).as("n"), moneySum(col("price")).as("sum_price"))
          .withColumn("layout", lit(t))
          .withColumn("zero_rewrite", lit(zeroRewrite))
          .withColumn("v1_has_old", lit(v1HasOld))
      }.reduce(_ unionByName _).orderBy("layout", "bucket")
    },

    "snap_sql_widen" -> { (s, d) =>
      // METADATA-ONLY TYPE WIDENING (Delta's type widening) through
      // SQL on BOTH layouts: `ALTER TABLE ... ALTER COLUMN c TYPE
      // <wider>` publishes ONE schema-sidecar commit (v2 INT→BIGINT,
      // v3 INT→DECIMAL(12,0)); parquet's reader promotion decodes the
      // stored narrow physical values into the wider logical type —
      // NOT ONE DATA BYTE moves (the ZERO-REWRITE GATE is in the
      // hashed result: linked v3 references exactly v1's pool files;
      // snapshot v3's part files equal v1's by name and size).
      // `wide_types` pins the re-typed tip schema; pinned v1 keeps the
      // narrow types. Warm passes skip the landed DDL.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlwid_$fp"
      val k = col("o_orderkey")
      val v1 = Tables.orders(s, d).select(k,
        col("o_custkey").cast("int").as("cust"),
        (k % 97).cast("int").as("qty"))
      val snap = new SnapshotStore(s, s"$base/tw_snap", "o_orderkey")
      if (!snap.versions().contains(1L))
        snap.writeRangePartitioned(v1, 1L, 8, commitTs = Some(1000L))
      val linked = new ManifestStore(s, s"$base/tw_linked", "o_orderkey")
      if (!linked.versions().contains(1L))
        linked.write(v1, 1L, 8, commitTs = Some(1000L))
      val cat = s"snapwid_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      for (t <- Seq("tw_snap", "tw_linked")) {
        val vs = if (t == "tw_snap") snap.versions() else linked.versions()
        if (!vs.contains(2L))
          s.sql(s"ALTER TABLE $cat.$t ALTER COLUMN cust TYPE BIGINT")
        if (!vs.contains(3L))
          s.sql(s"ALTER TABLE $cat.$t ALTER COLUMN qty TYPE DECIMAL(12,0)")
      }
      def files(t: String, v: Long): Map[String, Long] =
        if (t == "tw_linked")
          linked.manifest(v).select("file").collect()
            .map(r => r.getString(0) -> 0L).toMap
        else {
          val dir = new java.io.File(s"$base/$t/v=$v")
          dir.listFiles().filter(_.getName.startsWith("part-"))
            .map(f => f.getName -> f.length()).toMap
        }
      Seq("tw_snap", "tw_linked").map { t =>
        val tip = s.sql(s"SELECT * FROM $cat.$t")
        val wide = tip.schema("cust").dataType ==
          org.apache.spark.sql.types.LongType &&
          tip.schema("qty").dataType ==
            org.apache.spark.sql.types.DecimalType(12, 0)
        tip.groupBy((col("o_orderkey") % 50).as("bucket"))
          .agg(sum(col("cust")).cast("bigint").as("sum_cust"),
            sum(col("qty")).cast("bigint").as("sum_qty"))
          .withColumn("layout", lit(if (t == "tw_snap") "snapshot" else "linked"))
          .withColumn("zero_rewrite", lit(files(t, 3L) == files(t, 1L)))
          .withColumn("wide_types", lit(wide))
      }.reduce(_ unionByName _).orderBy("layout", "bucket")
    },

    "snap_sql_changes_cdf" -> { (s, d) =>
      // The Delta-CDF-shaped feed (`.changes_cdf`) over MERGE-ON-READ
      // commits on BOTH layouts: v1 = k%3 keys; v2 = mergeDeltaMor of
      // a k%5 reprice (+10) with k%21 deletes. Existing delta keys
      // mask-and-land — the feed must fuse the masked old position and
      // the landed new row into ONE update_preimage/update_postimage
      // pair at commit 2 (never a self-contradictory insert+delete
      // pair), new keys arrive as inserts, masked-only keys as
      // deletes. This is the linked layout's DV-aware
      // reclassification under its SQL surface; the snapshot layout
      // must agree row-for-row. Warm passes skip landed versions.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlcdf_$fp"
      val k = col("o_orderkey")
      val ord = Tables.orders(s, d).select(k, col("o_totalprice"))
      val v1 = ord.filter(k % 3 === 0)
      val d2 = ord.filter(k % 5 === 0)
        .select(k, (col("o_totalprice") + 10.0).as("o_totalprice"))
      val del2 = ord.filter(k % 3 === 0 && k % 7 === 0).select(k)
      val snap = new SnapshotStore(s, s"$base/cd_snap", "o_orderkey")
      if (!snap.versions().contains(1L))
        snap.writeRangePartitioned(v1, 1L, 8, commitTs = Some(1000L))
      if (!snap.versions().contains(2L))
        snap.mergeDeltaMor(1L, 2L, d2, Some(del2), commitTs = Some(2000L)): Unit
      val linked = new ManifestStore(s, s"$base/cd_linked", "o_orderkey")
      if (!linked.versions().contains(1L))
        linked.write(v1, 1L, 8, commitTs = Some(1000L))
      if (!linked.versions().contains(2L))
        linked.mergeDeltaMor(1L, 2L, d2, Some(del2), commitTs = Some(2000L)): Unit
      val cat = s"snapcdf_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      Seq("cd_snap", "cd_linked").map { t =>
        s.sql(s"SELECT * FROM $cat.$t.changes_cdf VERSION AS OF '2..2'")
          .withColumn("layout", lit(t))
      }.reduce(_ unionByName _)
        .orderBy("layout", "change_type", "o_orderkey")
    },

    "snap_fold_dv" -> { (s, d) =>
      // FOLD the deletion vector (the maintenance half of
      // snap_delete_dv's merge-on-read): rewrite ONLY the masked
      // files, carry the rest by reference, publish v3 with NO mask —
      // content identical, reads stop paying the anti-join.
      // `mask_folded` pins the sidecar's removal; the oracle is the
      // same declarative complement the DV read satisfied.
      queries("snap_delete_dv")(s, d): Unit // lineage: v2 + mask (eager at construction)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_dv_store_${Tables.fingerprint(s, d, "orders")}"
      val store = new ManifestStore(s, base, "o_orderkey")
      if (!store.versions().contains(3L)) store.foldDv(2L, 3L, numNewFiles = 4): Unit
      store.read(3L)
        .groupBy((col("o_orderkey") % 100).as("bucket"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .withColumn("mask_folded", lit(store.dvFrame(3L).isEmpty))
        .orderBy("bucket")
    },

    "snap_sql_restore" -> { (s, d) =>
      // Delta's RESTORE TABLE ... TO VERSION AS OF, as a CALL verb on
      // BOTH layouts: a 2-commit chain (v1 = k%3 keys at ts 1s, v2 =
      // reprice k%5 at +10), then `CALL restore(t, 1)` publishes v3
      // whose content EQUALS v1 — history intact (v2 still reads), the
      // restore is a commit. Zero-copy on linked (manifest branch);
      // dir byte-copy on snapshot. The oracle is v1's declarative
      // content; `ver` pins the restore landing as v3.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlrst_$fp"
      val cat = s"snaprst_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val k = col("o_orderkey")
      val ord = Tables.orders(s, d).select(k, col("o_totalprice"))
      val v1 = ord.filter(k % 3 === 0)
      val d2 = v1.filter(k % 5 === 0)
        .select(k, (col("o_totalprice") + 10.0).as("o_totalprice"))
      val snap = new SnapshotStore(s, s"$base/rs_snap", "o_orderkey")
      if (!snap.versions().contains(1L))
        snap.writeRangePartitioned(v1, 1L, 8, commitTs = Some(1000L))
      if (!snap.versions().contains(2L))
        snap.mergeDelta(1L, 2L, d2, commitTs = Some(2000L)): Unit
      if (!snap.versions().contains(3L))
        s.sql(s"CALL $cat.restore('rs_snap', 1)").collect(): Unit
      val linked = new ManifestStore(s, s"$base/rs_linked", "o_orderkey")
      if (!linked.versions().contains(1L))
        linked.write(v1, 1L, 8, commitTs = Some(1000L))
      if (!linked.versions().contains(2L))
        linked.mergeDelta(1L, 2L, d2, commitTs = Some(2000L)): Unit
      if (!linked.versions().contains(3L))
        s.sql(s"CALL $cat.restore('rs_linked', 1)").collect(): Unit
      Seq("rs_snap", "rs_linked").map { t =>
        s.sql(s"SELECT * FROM $cat.$t") // the restored tip
          .groupBy((col("o_orderkey") % 50).as("bucket"))
          .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
          .withColumn("layout", lit(t))
          .withColumn("ver", lit(
            if (t == "rs_snap") snap.versions().max else linked.versions().max))
      }.reduce(_ unionByName _).orderBy("layout", "bucket")
    },

    "snap_sql_changes_ts" -> { (s, d) =>
      // TIMESTAMP-BOUNDED change feeds over snap_sql_changes's
      // 3-commit chain (commits backdated to 1s/2s/3s): an ISO
      // 'ts1..ts2' range resolves its bounds through the stored
      // per-version commit timestamps (commits with ts1 <= commit_ts
      // <= ts2, inclusive both ends), and a single TIMESTAMP AS OF
      // means "changes SINCE ts" — commits at-or-after it through the
      // tip, the replay-since-Tuesday read that previously required
      // resolving timestamps to versions by hand. Both forms must
      // equal their version-resolved twins; the oracle derives the
      // feed declaratively. Resolution is metadata-only (history
      // frames), the reads are the same manifest-pruned diffs.
      queries("snap_sql_changes")(s, d): Unit // build the lineage (eager at construction; a count would re-read both feeds per pass)
      val fp = Tables.fingerprint(s, d, "orders")
      val cat = s"snapchg_$fp"
      Seq("oc_snap", "oc_linked").map { t =>
        s.sql(s"SELECT * FROM $cat.$t.changes " +
            "VERSION AS OF '1970-01-01T00:00:02..1970-01-01T00:00:03'")
          .withColumn("form", lit("range"))
          .unionByName(
            s.sql(s"SELECT * FROM $cat.$t.changes " +
                "TIMESTAMP AS OF '1970-01-01 00:00:03'")
              .withColumn("form", lit("since")))
          .withColumn("layout", lit(t))
      }.reduce(_ unionByName _)
        .orderBy("layout", "form", "_commit_version", "change_type", "o_orderkey")
    },

    "snap_sql_evolve" -> { (s, d) =>
      // SQL `ALTER TABLE DROP COLUMN` + `RENAME COLUMN` on BOTH
      // layouts, then DML on the evolved tip: DROP narrows via the
      // schema sidecar (linked moves ZERO pool bytes — metadata-only),
      // RENAME is the one-time copy-on-write rewrite parquet's
      // by-name resolution forces (the Delta-without-column-mapping
      // line), and the closing UPDATE proves catalog DML still drives
      // the renamed tip. v1 keeps all three original columns
      // (immutable history — v1_cols pins it); warm passes skip each
      // landed step by version presence.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlevo_$fp"
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
      val snap = new SnapshotStore(s, s"$base/oe_snap", "o_orderkey")
      if (!snap.versions().contains(1L))
        snap.writeRangePartitioned(ord, 1L, 8, commitTs = Some(1000L))
      val linked = new ManifestStore(s, s"$base/oe_linked", "o_orderkey")
      if (!linked.versions().contains(1L))
        linked.write(ord, 1L, 8, commitTs = Some(1000L))
      val cat = s"snapevo_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      for (t <- Seq("oe_snap", "oe_linked")) {
        val vs = VersionedStore.open(s, s"$base/$t", "o_orderkey").versions()
        if (!vs.contains(2L))
          s.sql(s"ALTER TABLE $cat.$t DROP COLUMN o_orderpriority")
        if (!vs.contains(3L))
          s.sql(s"ALTER TABLE $cat.$t RENAME COLUMN o_totalprice TO price")
        if (!vs.contains(4L))
          s.sql(s"UPDATE $cat.$t SET price = price + 7.5 WHERE o_orderkey % 5 = 0")
      }
      Seq("oe_snap", "oe_linked").map { t =>
        val v1cols = s.sql(s"SELECT * FROM $cat.$t VERSION AS OF 1").columns.length.toLong
        val tip = s.sql(s"SELECT * FROM $cat.$t")
        val tipCols = tip.columns.length.toLong
        tip.groupBy((col("o_orderkey") % 50).as("bucket"))
          .agg(count(lit(1)).as("n"), moneySum(col("price")).as("sum_price"))
          .withColumn("layout", lit(t))
          .withColumn("v1_cols", lit(v1cols)).withColumn("tip_cols", lit(tipCols))
      }.reduce(_ unionByName _).orderBy("layout", "bucket")
    },

    "snap_sql_clone" -> { (s, d) =>
      // `CALL cat.clone(src, dst)` on BOTH layouts: linked = SHALLOW
      // (dst v1 is the src tip manifest verbatim over the SAME shared
      // pool — zero data bytes move; dst registers with the pool owner
      // so owner vacuum honors its references), snapshot = DEEP (tip
      // dir byte-copies; the layout is self-contained by design). The
      // proof of independence is DIVERGENCE: after the fork, %4=2 keys
      // INSERT into the SOURCE and %4=1 keys into the CLONE — each
      // side's tip must show exactly its own insert, declaratively
      // recomputable. Warm passes skip every landed step.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlclone_$fp"
      val ord = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      val k = col("o_orderkey")
      val snap = new SnapshotStore(s, s"$base/oc_snap", "o_orderkey")
      if (!snap.versions().contains(1L))
        snap.writeRangePartitioned(ord.filter(k % 4 === 0), 1L, 8, commitTs = Some(1000L))
      val linked = new ManifestStore(s, s"$base/oc_linked", "o_orderkey")
      if (!linked.versions().contains(1L))
        linked.write(ord.filter(k % 4 === 0), 1L, 8, commitTs = Some(1000L))
      val cat = s"snapclone_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      if (new SnapshotStore(s, s"$base/cc_snap", "o_orderkey").versions().isEmpty)
        s.sql(s"CALL $cat.clone('oc_snap', 'cc_snap', 2000)").collect(): Unit
      if (new ManifestStore(s, s"$base/cc_linked", "o_orderkey").versions().isEmpty)
        s.sql(s"CALL $cat.clone('oc_linked', 'cc_linked', 2000)").collect(): Unit
      ord.filter(k % 4 === 2).createOrReplaceTempView(s"clone_src2_$fp")
      ord.filter(k % 4 === 1).createOrReplaceTempView(s"clone_src1_$fp")
      for ((t, isClone) <- Seq(("oc_snap", false), ("oc_linked", false),
          ("cc_snap", true), ("cc_linked", true))) {
        val vs =
          if (t.endsWith("_snap")) new SnapshotStore(s, s"$base/$t", "o_orderkey").versions()
          else new ManifestStore(s, s"$base/$t", "o_orderkey").versions()
        if (!vs.contains(2L)) s.sql(
          s"INSERT INTO $cat.$t SELECT * FROM clone_src${if (isClone) 1 else 2}_$fp")
      }
      Seq("oc_snap", "oc_linked", "cc_snap", "cc_linked").map { t =>
        s.sql(s"SELECT * FROM $cat.$t")
          .groupBy((col("o_orderkey") % 50).as("bucket"))
          .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
          .withColumn("layout", lit(t))
      }.reduce(_ unionByName _).orderBy("layout", "bucket")
    },

    "snap_sql_stream_write" -> { (s, d) =>
      // `writeStream.toTable(cat.store)` on BOTH layouts — the WRITE
      // half of the catalog's streaming surface (reads are
      // snap_sql_changes): two controlled micro-batches land as one
      // published version each through the store's own mergeDelta
      // (batch 1 = %60=0 keys; batch 2 upserts the %120=0 half at +3
      // and inserts the %60=30 keys), so the tip AND the pinned
      // epoch-1 version are both declaratively recomputable. The sink
      // is a keyed upsert — replayed epochs converge to the same
      // state (the idempotent-sink contract; spec covers restart,
      // update-mode aggregation, and read/write composition). Warm
      // passes skip the landed stream by version presence.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlsw2_$fp"
      val cat = s"snapsw2_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val ord = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      val k = col("o_orderkey")
      // MemoryStream input is inherently driver-side, so the fixture is
      // CAPPED: the first 2000 matching keys per batch (key order —
      // deterministic, o_orderkey is unique), bounded at EVERY sf
      // instead of growing with the fact table
      lazy val b1 = ord.filter(k % 60 === 0).orderBy("o_orderkey").limit(2000)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      lazy val b2 = b1.filter(_._1 % 120 == 0).map { case (kk, p) => (kk, p + 3.0) } ++
        ord.filter(k % 60 === 30).orderBy("o_orderkey").limit(2000)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      for ((t, layout) <- Seq(("sw_snap", "snapshot"), ("sw_linked", "linked"))) {
        def vs(): Seq[Long] = VersionedStore.open(s, s"$base/$t", "o_orderkey").versions()
        if (vs().isEmpty) s.sql(
          s"""CREATE TABLE $cat.$t (o_orderkey BIGINT, o_totalprice DOUBLE)
             |TBLPROPERTIES('key'='o_orderkey', 'layout'='$layout')""".stripMargin)
        if (!vs().contains(3L)) {
          implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
          import s.implicits._
          val ms = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[(Long, Double)]
          val q = ms.toDF().toDF("o_orderkey", "o_totalprice").writeStream
            .option("checkpointLocation",
              s"$base/_ckpt_$t-${java.util.UUID.randomUUID()}")
            .toTable(s"$cat.$t")
          try {
            ms.addData(b1); q.processAllAvailable()
            ms.addData(b2); q.processAllAvailable()
          } finally q.stop()
        }
      }
      def agg(df: DataFrame, layout: String, ver: Long) =
        df.groupBy((col("o_orderkey") % 50).as("bucket"))
          .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
          .withColumn("layout", lit(layout)).withColumn("ver", lit(ver))
      Seq("sw_snap", "sw_linked").map { t =>
        agg(s.sql(s"SELECT * FROM $cat.$t VERSION AS OF 2"), t, 2L)
          .unionByName(agg(s.sql(s"SELECT * FROM $cat.$t"), t, 3L))
      }.reduce(_ unionByName _).orderBy("layout", "ver", "bucket")
    },

    "snap_sql_history" -> { (s, d) =>
      // The `<cat>.<store>.history` metadata table on BOTH layouts —
      // the DESCRIBE-HISTORY surface: one row per version with its
      // commit timestamp and row total, served through a LocalScan
      // (metadata-only: manifests / parquet footers, no data pages).
      // Versions carry EXPLICIT commit timestamps and declaratively
      // derivable row counts (v1 = even keys; v2 after a reprice
      // upsert + %14 deletes), so the DuckDB oracle rebuilds the
      // whole frame. Warm passes skip the landed versions.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlhist_$fp"
      val ord = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      val k = col("o_orderkey")
      val v1 = ord.filter(k % 2 === 0)
      val delta = ord.filter(k % 2 === 0 && k % 10 === 0 && k % 14 =!= 0)
        .select(k, (col("o_totalprice") + 1.0).as("o_totalprice"))
      val delKeys = ord.filter(k % 2 === 0 && k % 14 === 0).select(k)
      val snap = new SnapshotStore(s, s"$base/oh_snap", "o_orderkey")
      if (!snap.versions().contains(1L))
        snap.writeRangePartitioned(v1, 1L, 8, commitTs = Some(1000L))
      if (!snap.versions().contains(2L))
        snap.mergeDelta(1L, 2L, delta, Some(delKeys), commitTs = Some(2000L)): Unit
      val linked = new ManifestStore(s, s"$base/oh_linked", "o_orderkey")
      if (!linked.versions().contains(1L))
        linked.write(v1, 1L, 8, commitTs = Some(1000L))
      if (!linked.versions().contains(2L))
        linked.mergeDelta(1L, 2L, delta, Some(delKeys), commitTs = Some(2000L)): Unit
      val cat = s"snaphist_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      Seq("oh_snap", "oh_linked").map { t =>
        s.sql(s"SELECT version, commit_ts, n_rows FROM $cat.$t.history")
          .withColumn("layout", lit(t))
      }.reduce(_ unionByName _).orderBy("layout", "version")
    },

    "snap_sql_history_ops" -> { (s, d) =>
      // DESCRIBE HISTORY's OPERATION columns — "what did commit N DO":
      // a write→merge→delete→compact chain on BOTH layouts serves
      // (version, operation) through the history metadata table,
      // hash-checked against the literal verbs. The stamp rides the
      // per-version _op.json sidecar + the version-log checkpoint
      // (self-heal re-reads the sidecars; pre-upgrade commits report
      // 'unknown' — spec-covered). `params_ok` gates that the delete
      // records its predicate and the merge/compact carry labels.
      // r16: the commits also carry Delta-style operationMetrics —
      // the MERGE's inserted/updated split (observed during its own
      // rewrite, zero extra passes) and the DELETE's row count —
      // hash-checked against the declaratively recomputed counts;
      // verbs without row metrics (write / restore / compact) read
      // -1 honestly. Dir bumped (_m) so pre-metrics fixtures rebuild.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_histops_m$fp"
      val ord = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      val k = col("o_orderkey")
      val v1 = ord.filter(k % 2 === 0)
      val delta = ord.filter(k % 10 === 0)
        .select(k, (col("o_totalprice") + 1.0).as("o_totalprice"))
      for (layout <- Seq("ho_snap", "ho_linked")) {
        def st = VersionedStore.open(s, s"$base/$layout", "o_orderkey")
        if (!st.versions().contains(1L))
          writeV1(s, s"$base/$layout", layout == "ho_snap", v1)
        if (!st.versions().contains(2L))
          st.mergeDelta(1L, 2L, delta, commitTs = Some(2000L)): Unit
        if (!st.versions().contains(3L))
          st.deleteWhere(2L, 3L, k % 14 === 0, commitTs = Some(3000L)): Unit
        if (!st.versions().contains(4L)) {
          if (layout == "ho_snap") st.restoreVersion(3L, 4L, commitTs = Some(4000L))
          else st.compactInto(3L, 4L, minBytes = 1L << 30, commitTs = Some(4000L)): Unit
        }
      }
      val cat = s"snapho_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      Seq("ho_snap", "ho_linked").map { t =>
        val h = s.sql(s"SELECT version, commit_ts, operation, operation_params, " +
          s"operation_metrics FROM $cat.$t.history")
        val paramsOk = h.filter(col("version") === 3L)
          .head().getString(3).contains("o_orderkey")
        def m(k: String) =
          coalesce(element_at(col("operation_metrics"), lit(k)), lit(-1L))
        h.select(lit(t).as("layout"), col("version"), col("commit_ts"),
          col("operation"), lit(paramsOk).as("params_ok"),
          m("numTargetRowsInserted").as("m_ins"),
          m("numTargetRowsUpdated").as("m_upd"),
          m("numDeletedRows").as("m_del"))
      }.reduce(_ unionByName _).orderBy("layout", "version")
    },

    "snap_sql_detail" -> { (s, d) =>
      // DESCRIBE DETAIL — the `<store>.detail` metadata table on BOTH
      // layouts: one metadata-only row (layout, recorded key, declared
      // partition spec, constraint/version counts, tip version +
      // commit ts + row total served from the version-log checkpoint —
      // zero data-file opens). Runs over snap_sql_history's 2-commit
      // fixture, so every field is declaratively derivable; tip_files
      // is physical layout and stays OUT of the hashed projection.
      queries("snap_sql_history")(s, d): Unit // lineage: both stores at v2 (eager at construction)
      val fp = Tables.fingerprint(s, d, "orders")
      val cat = s"snaphist_$fp"
      Seq("oh_snap", "oh_linked").map { t =>
        s.sql(s"SELECT layout, key_col, partitioned_by, n_constraints, " +
            s"n_versions, tip_version, tip_commit_ts, tip_rows FROM $cat.$t.detail")
          .withColumn("table_name", lit(t))
      }.reduce(_ unionByName _).orderBy("table_name")
    },

    "snap_sql_insert" -> { (s, d) =>
      // SQL `INSERT INTO` / `INSERT OVERWRITE` through the catalog on
      // BOTH layouts — the write verbs land via the V1 write fallback
      // onto each store's own mergeDelta: INSERT appends (key
      // collisions refuse — the store's key is a unique identity),
      // OVERWRITE replaces the whole table in ONE published version
      // (delta + delete set of surviving old keys). v1 (%3=0 keys),
      // v2 after INSERT (+%3=1), v3 after OVERWRITE (only %3=2,
      // repriced) all read back against declaratively rebuilt states;
      // history immutable. Warm passes skip the landed writes.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlins_$fp"
      val ord = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      val k = col("o_orderkey")
      val snap = new SnapshotStore(s, s"$base/oi_snap", "o_orderkey")
      if (!snap.versions().contains(1L))
        snap.writeRangePartitioned(ord.filter(k % 3 === 0), 1L, 8, commitTs = Some(1000L))
      val linked = new ManifestStore(s, s"$base/oi_linked", "o_orderkey")
      if (!linked.versions().contains(1L))
        linked.write(ord.filter(k % 3 === 0), 1L, 8, commitTs = Some(1000L))
      val cat = s"snapins_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      ord.filter(k % 3 === 1).createOrReplaceTempView(s"ins_src_$fp")
      ord.filter(k % 3 === 2)
        .select(k, (col("o_totalprice") + 5.0).as("o_totalprice"))
        .createOrReplaceTempView(s"ovr_src_$fp")
      for (t <- Seq("oi_snap", "oi_linked")) {
        def vs(): Seq[Long] = VersionedStore.open(s, s"$base/$t", "o_orderkey").versions()
        if (!vs().contains(2L)) s.sql(s"INSERT INTO $cat.$t SELECT * FROM ins_src_$fp")
        if (!vs().contains(3L)) s.sql(s"INSERT OVERWRITE $cat.$t SELECT * FROM ovr_src_$fp")
      }
      def agg(df: DataFrame, layout: String, ver: Long) =
        df.groupBy((col("o_orderkey") % 50).as("bucket"))
          .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
          .withColumn("layout", lit(layout)).withColumn("ver", lit(ver))
      Seq("oi_snap", "oi_linked").map { t =>
        agg(s.sql(s"SELECT * FROM $cat.$t VERSION AS OF 1"), t, 1L)
          .unionByName(agg(s.sql(s"SELECT * FROM $cat.$t VERSION AS OF 2"), t, 2L))
          .unionByName(agg(s.sql(s"SELECT * FROM $cat.$t"), t, 3L))
      }.reduce(_ unionByName _).orderBy("layout", "ver", "bucket")
    },

    "snap_sql_create" -> { (s, d) =>
      // SQL DDL through the catalog: `CREATE TABLE ... AS SELECT` on
      // BOTH layouts. CTAS plans catalog.createTable — an EMPTY
      // version 1 lands through each store's own publish protocol
      // (createEmpty: zero rows, schema recorded) — then Spark writes
      // the query result through the V1-fallback INSERT path, landing
      // version 2 via mergeDelta. The tip read back through SQL must
      // hash-match the source selection, and `VERSION AS OF 1` must
      // scan EMPTY (the created-then-loaded history, immutable) —
      // driver-checking the empty-version scan path end-to-end.
      // DROP TABLE / RENAME TO are spec-covered (destructive FS
      // verbs don't belong in an idempotent driver query). Warm
      // passes skip the landed CTAS and time the four reads.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlctas_$fp"
      val cat = s"snapctas_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        .filter(col("o_orderkey") % 3 === 0)
        .createOrReplaceTempView(s"ctas_src_$fp")
      for ((t, layout) <- Seq(("ct_snap", "snapshot"), ("ct_linked", "linked"))) {
        val exists = VersionedStore.open(s, s"$base/$t", "o_orderkey").versions().contains(2L)
        if (!exists) s.sql(
          s"""CREATE TABLE $cat.$t
             |TBLPROPERTIES('key'='o_orderkey', 'layout'='$layout')
             |AS SELECT * FROM ctas_src_$fp""".stripMargin)
      }
      def agg(df: DataFrame, layout: String, ver: Long) =
        df.groupBy((col("o_orderkey") % 50).as("bucket"))
          .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
          .withColumn("layout", lit(layout)).withColumn("ver", lit(ver))
      def emptyV1(t: String, layout: String) =
        s.sql(s"SELECT * FROM $cat.$t VERSION AS OF 1")
          .agg(count(lit(1)).as("n"))
          .select(lit(-1L).as("bucket"), col("n"), lit(0.0).as("sum_price"),
            lit(layout).as("layout"), lit(1L).as("ver"))
      Seq(("ct_snap", "snapshot"), ("ct_linked", "linked")).map { case (t, l) =>
        emptyV1(t, l).unionByName(agg(s.sql(s"SELECT * FROM $cat.$t"), l, 2L))
      }.reduce(_ unionByName _).orderBy("layout", "ver", "bucket")
    },

    "snap_sql_partition" -> { (s, d) =>
      // The FULL SQL partition lifecycle on BOTH layouts: `CREATE
      // TABLE ... PARTITIONED BY (identity) AS SELECT` (v1 empty + v2
      // data, every file holding one partition tuple), the
      // `<store>.partitions` metadata table (SHOW PARTITIONS, zero
      // data-file opens), and `CALL drop_partitions` — the retention
      // verb (v3; metadata-only on linked, survivor copies on
      // snapshot). Output: the post-drop partition listing per layout
      // plus `history_intact` pinning that the dropped partition still
      // reads at the pre-drop version (time travel over a drop). Warm
      // passes skip the DDL and time the metadata reads.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlpart_$fp"
      val cat = s"snappart_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      src.createOrReplaceTempView(s"part_src_$fp")
      val total = src.count()
      for ((t, layout) <- Seq(("pt_snap", "snapshot"), ("pt_linked", "linked"))) {
        val exists = VersionedStore.open(s, s"$base/$t", "o_orderkey").versions().contains(3L)
        if (!exists) {
          s.sql(
            s"""CREATE TABLE $cat.$t
               |PARTITIONED BY (o_orderpriority)
               |TBLPROPERTIES('key'='o_orderkey', 'layout'='$layout')
               |AS SELECT * FROM part_src_$fp""".stripMargin)
          s.sql(s"CALL $cat.drop_partitions('$t', 'o_orderpriority', '5-LOW')")
            .collect(): Unit
        }
      }
      Seq(("pt_snap", "snapshot"), ("pt_linked", "linked")).map { case (t, l) =>
        val intact =
          s.sql(s"SELECT COUNT(*) FROM $cat.$t VERSION AS OF 2").head().getLong(0) == total
        s.sql(s"SELECT o_orderpriority, n_rows FROM $cat.$t.partitions")
          .withColumn("layout", lit(l))
          .withColumn("history_intact", lit(intact))
      }.reduce(_ unionByName _)
        .select("layout", "o_orderpriority", "n_rows", "history_intact")
        .orderBy("layout", "o_orderpriority")
    },

    "snap_sql_partition_time" -> { (s, d) =>
      // TEMPORAL PARTITION TRANSFORMS on BOTH layouts — `PARTITIONED
      // BY months(o_orderdate)` (Iceberg's hidden partitioning): the
      // landing derives an identity DATE column (o_orderdate__month)
      // the one-tuple-per-file machinery clusters and prunes on,
      // hidden from SELECT * (hidden_col pins it). The PRUNE-BOUND
      // GATE is part of the hashed result: a one-month read must open
      // EXACTLY that month-partition's own files (manifest envelope on
      // linked, zone-map prunedFilesBy on snapshot). The month probed
      // is fixed (1995-06) — present at every SF. Warm passes skip
      // the landed DDL.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqltpart_$fp"
      val cat = s"snaptpart_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .createOrReplaceTempView(s"tpart_src_$fp")
      for ((t, layout) <- Seq(("tp_snap", "snapshot"), ("tp_linked", "linked"))) {
        val exists = VersionedStore.open(s, s"$base/$t", "o_orderkey").versions().nonEmpty
        if (!exists) s.sql(
          s"""CREATE TABLE $cat.$t
             |PARTITIONED BY (months(o_orderdate))
             |TBLPROPERTIES('key'='o_orderkey', 'layout'='$layout')
             |AS SELECT * FROM tpart_src_$fp""".stripMargin)
      }
      val m = java.sql.Date.valueOf("1995-06-01")
      Seq(("tp_snap", "snapshot"), ("tp_linked", "linked")).map { case (t, l) =>
        val (opened, partFiles) =
          if (l == "linked") {
            val lk = new ManifestStore(s, s"$base/$t", "o_orderkey")
            val tip = lk.versions().max
            (lk.manifest(tip).filter(col("max_o_orderdate__month") >= m &&
                col("min_o_orderdate__month") <= m).count(),
              lk.manifest(tip).filter(col("min_o_orderdate__month") === m).count())
          } else {
            val sn = new SnapshotStore(s, s"$base/$t", "o_orderkey")
            val tip = sn.versions().max
            (sn.prunedFilesBy(tip, "o_orderdate__month", m, m).get.size.toLong,
              sn.partitions(tip).filter(col("o_orderdate__month") === m)
                .head().getLong(1))
          }
        val hidden = !s.sql(s"SELECT * FROM $cat.$t").columns
          .contains("o_orderdate__month")
        s.sql(s"SELECT * FROM $cat.$t")
          .filter(col("o_orderdate") >= lit("1995-06-01") &&
            col("o_orderdate") <= lit("1995-06-30"))
          .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
          .withColumn("layout", lit(l))
          .withColumn("prune_exact", lit(opened == partFiles))
          .withColumn("hidden_col", lit(hidden))
      }.reduce(_ unionByName _).orderBy("layout")
    },

    "snap_sql_stats" -> { (s, d) =>
      // ANALYZE TABLE through the catalog on BOTH layouts: `CALL
      // analyze(tbl, exact_ndv)` computes per-column statistics (rows,
      // nulls, NDV, min/max) in one fused pass (+ one count_distinct
      // per column in exact mode — never the fused multi-distinct
      // EXPAND), persists them as the tip's `_colstats` sidecar, and
      // `<store>.stats` serves them as a metadata table. Every number
      // hash-checks against DuckDB recomputing the same statistics
      // declaratively — the optimizer-statistics contract (CBO feeds,
      // broadcast decisions) driver-verified to be EXACT. Warm passes
      // skip analyze and time the metadata read.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlstats_$fp"
      val cat = s"snapstats_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .createOrReplaceTempView(s"stats_src_$fp")
      for ((t, layout) <- Seq(("st_snap", "snapshot"), ("st_linked", "linked"))) {
        val st = VersionedStore.open(s, s"$base/$t", "o_orderkey")
        val analyzed = st.versions().contains(2L) && st.columnStats(2L).isDefined
        if (!analyzed) {
          if (st.versions().isEmpty) s.sql(
            s"""CREATE TABLE $cat.$t
               |TBLPROPERTIES('key'='o_orderkey', 'layout'='$layout')
               |AS SELECT * FROM stats_src_$fp""".stripMargin)
          s.sql(s"CALL $cat.analyze('$t', true)").collect(): Unit
        }
      }
      Seq(("st_snap", "snapshot"), ("st_linked", "linked")).map { case (t, l) =>
        s.sql(s"SELECT * FROM $cat.$t.stats").withColumn("layout", lit(l))
      }.reduce(_ unionByName _)
        .select("layout", "col_name", "n_rows", "n_nulls", "ndv",
          "min_str", "max_str")
        .orderBy("layout", "col_name")
    },

    "snap_sql_call" -> { (s, d) =>
      // SQL maintenance through the catalog: `CALL <cat>.compact` /
      // `CALL <cat>.vacuum` (the Iceberg-procedures UX via Spark's
      // own DSv2 procedure API). A linked store lands v1 as 8 small
      // fragments; CALL compact folds them into a NEW version of 2
      // files (history immutable), and CALL vacuum — run EVERY pass —
      // must reclaim exactly 0 bytes, because v1 still references
      // every original fragment: the ref-count sweep driver-checked
      // as never touching referenced files. Output pins the per-
      // version file counts (deterministic: repartitionByRange sizes)
      // the vacuum result, and the tip aggregate, all vs a
      // declarative oracle. Warm passes skip the landed compact.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlcall_$fp"
      val ord = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        .filter(col("o_orderkey") % 3 === 0)
      val store = new ManifestStore(s, s"$base/cm_linked", "o_orderkey")
      if (!store.versions().contains(1L))
        store.write(ord, 1L, 8, commitTs = Some(1000L))
      val cat = s"snapcall_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      if (!store.versions().contains(2L))
        s.sql(s"CALL $cat.compact('cm_linked', 2, ${1L << 30})")
      val reclaimed = s.sql(s"CALL $cat.vacuum('cm_linked')")
        .collect().head.getLong(1)
      val meta = store.history()
        .select(lit(-1L).as("bucket"), col("n_files").as("n"),
          lit(0.0).as("sum_price"), col("version").as("ver"))
      val vac = s.range(1).select(lit(-2L).as("bucket"), lit(reclaimed).as("n"),
        lit(0.0).as("sum_price"), lit(2L).as("ver"))
      val agg = s.sql(s"SELECT * FROM $cat.cm_linked")
        .groupBy((col("o_orderkey") % 50).as("bucket"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .withColumn("ver", lit(2L))
      meta.unionByName(vac).unionByName(agg).orderBy("ver", "bucket")
    },

    "snap_sql_optimize_where" -> { (s, d) =>
      // PARTITION-SCOPED maintenance through SQL — Delta's `OPTIMIZE t
      // WHERE part = x` (`CALL compact(tbl, n, bytes, where)`): two
      // merge-fragmented partitioned stores, one CALL folding ONLY the
      // 1-URGENT partition's fragments. Gates INSIDE the hashed
      // result: `untouched_verbatim` (every other partition's file set
      // carries bit-identical — by name on the linked manifest, by
      // name+size on the snapshot dir), `scoped_subset` (every NEW
      // file belongs to the scoped partition — the rewritten-file-set
      // ⊆ partition contract), `folded` (the scope really compacted:
      // fewer files than its fragments). Content hash-checks against
      // the declarative union. At 100 TB maintenance is O(partition),
      // never O(table).
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_optw2_$fp"
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val k = col("o_orderkey")
      // key-RANGE appends: fresh keys sit past every envelope, so each
      // merge lands pure fragment files (the nightly-append shape
      // scoped compaction exists to fold) — no rewrite collapses them.
      // Cutoffs are SCALE-RELATIVE (max-key halves), not constants:
      // the former fixed 3000/4500 bands were empty at sf0.001 (keys
      // stop at 1499), so no fragments ever landed there and the
      // hardcoded-TRUE scoped/folded oracle gates read false — a
      // fixture bug, not an engine one; the hashed content (the
      // whole-table aggregate of v1 ∪ add1 ∪ add2) is cutoff-invariant
      val kmax = ord.agg(max(k)).head().getLong(0)
      // kmax < 4 would collapse c1 == c2 (an empty append band — the
      // exact fixture bug the scale-relative cutoffs fixed); fail
      // loudly at degenerate scale instead of re-creating it
      require(kmax >= 4, s"optimize_where fixture needs max key >= 4, got $kmax")
      val (c1, c2) = (kmax / 2, kmax * 3 / 4)
      val v1 = ord.filter(k <= c1)
      val add1 = ord.filter(k > c1 && k <= c2)
      val add2 = ord.filter(k > c2)
      val cat = s"snapoptw2_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val scope = "1-URGENT"
      val lk = new ManifestStore(s, s"$base/ow_linked", "o_orderkey")
      if (!lk.versions().contains(1L))
        lk.writePartitioned(v1, 1L, Seq("o_orderpriority"), filesPerPartition = 2)
      if (!lk.versions().contains(2L))
        lk.mergeDelta(1L, 2L, add1): Unit
      if (!lk.versions().contains(3L))
        lk.mergeDelta(2L, 3L, add2): Unit
      if (!lk.versions().contains(4L))
        s.sql(s"CALL $cat.compact('ow_linked', 1, ${1L << 40}L, " +
          s""""o_orderpriority = '$scope'")""").collect(): Unit
      def lkFiles(v: Long, inScope: Boolean) = lk.manifest(v)
        .filter(if (inScope) col("min_o_orderpriority") === scope
          else col("min_o_orderpriority") =!= scope)
        .select("file").collect().map(_.getString(0)).toSet
      val lkUntouched = lkFiles(4L, inScope = false) == lkFiles(3L, inScope = false)
      val lkNew = lk.manifest(4L).select("file").collect().map(_.getString(0)).toSet
        .diff(lk.manifest(3L).select("file").collect().map(_.getString(0)).toSet)
      val lkScoped = lkNew.nonEmpty &&
        lkNew.subsetOf(lkFiles(4L, inScope = true))
      val lkFolded = lkFiles(4L, inScope = true).size < lkFiles(3L, inScope = true).size
      val sn = new SnapshotStore(s, s"$base/ow_snap", "o_orderkey")
      if (!sn.versions().contains(1L))
        sn.writePartitioned(v1, 1L, Seq("o_orderpriority"), filesPerPartition = 2)
      if (!sn.versions().contains(2L))
        sn.mergeDelta(1L, 2L, add1): Unit
      if (!sn.versions().contains(3L))
        sn.mergeDelta(2L, 3L, add2): Unit
      if (!sn.versions().contains(4L))
        s.sql(s"CALL $cat.compact('ow_snap', 1, ${1L << 40}L, " +
          s""""o_orderpriority = '$scope'")""").collect(): Unit
      def snDir(v: Long) = new java.io.File(s"$base/ow_snap/v=$v").listFiles()
        .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.length()).toMap
      def snScope(v: Long) = sn.zoneMap(v).get
        .filter(col(s"min_o_orderpriority") === scope)
        .select(regexp_extract(col("file"), "[^/]+$", 0)).collect()
        .map(_.getString(0)).toSet
      val (snD3, snD4) = (snDir(3L), snDir(4L))
      val snCarried = snD4.keySet intersect snD3.keySet
      val snUntouched = (snD3.keySet diff snScope(3L)).subsetOf(snCarried) &&
        snCarried.forall(n => snD4(n) == snD3(n))
      val snNew = snD4.keySet diff snD3.keySet
      val snScoped = snNew.nonEmpty && snNew.subsetOf(snScope(4L))
      val snFolded = snScope(4L).size < snScope(3L).size
      Seq(("ow_linked", lkUntouched, lkScoped, lkFolded),
        ("ow_snap", snUntouched, snScoped, snFolded)).map { case (t, u, sc, f) =>
        s.sql(s"SELECT * FROM $cat.$t")
          .groupBy((k % 50).as("bucket"))
          .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
          .select(lit(t).as("layout"), col("bucket"), col("n"), col("sum_price"),
            lit(u).as("untouched_verbatim"), lit(sc).as("scoped_subset"),
            lit(f).as("folded"))
      }.reduce(_ unionByName _).orderBy("layout", "bucket")
    },

    "snap_sql_zorder" -> { (s, d) =>
      // `CALL <cat>.zorder('tbl', 'c1,c2', n)` — the clustering
      // maintenance verb beside compact/vacuum/retention (Iceberg's
      // rewrite_data_files-with-sort-order UX): rewrites the tip into
      // a NEW version Morton-clustered on (key, o_custkey), manifest
      // growing per-file custkey envelopes so 2-dimension pruning
      // works straight after the CALL. Driver-checks history file
      // counts (v1 = 8 range files, v2 = 4 z-ordered files — both
      // deterministic repartitionByRange widths), the CALL's answer
      // row, and tip content invariance (clustering must move ROWS
      // BETWEEN FILES, never change them) vs a declarative oracle.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlzorder_$fp"
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") % 3 === 0)
      val store = new ManifestStore(s, s"$base/zo_linked", "o_orderkey")
      if (!store.versions().contains(1L))
        store.write(ord, 1L, 8, commitTs = Some(1000L))
      val cat = s"snapzo_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val answer =
        if (!store.versions().contains(2L))
          s.sql(s"CALL $cat.zorder('zo_linked', 'o_orderkey,o_custkey', 4)")
            .select(col("version"), col("n_files")).collect().head
        else org.apache.spark.sql.Row(2L, 4L) // landed by a prior pass
      val meta = store.history()
        .select(lit(-1L).as("bucket"), col("n_files").as("n"),
          lit(0.0).as("sum_price"), col("version").as("ver"))
      val call = s.range(1).select(lit(-2L).as("bucket"),
        lit(answer.getLong(1)).as("n"), lit(0.0).as("sum_price"),
        lit(answer.getLong(0)).as("ver"))
      val agg = s.sql(s"SELECT * FROM $cat.zo_linked")
        .groupBy((col("o_custkey") % 50).as("bucket"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .withColumn("ver", lit(2L))
      meta.unionByName(call).unionByName(agg).orderBy("ver", "bucket")
    },

    "snap_sql_files" -> { (s, d) =>
      // The `files` metadata table (`SELECT * FROM cat.store.files` —
      // Iceberg's files-table twin, served metadata-only from the tip
      // manifest + one pool listing) driver-checked as a gate: the
      // per-file layout reduces to declaratively checkable invariants
      // — file count (8, the write's range partitioning), row total,
      // the global key envelope, per-file sanity (min<=max, rows>0,
      // bytes>0), and pairwise KEY-RANGE DISJOINTNESS, the property
      // every keyed/manifest-pruned read relies on. The lag window
      // runs over |files| rows — metadata-sized, single partition by
      // construction.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlfiles_$fp"
      val ord = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        .filter(col("o_orderkey") % 3 === 0)
      val store = new ManifestStore(s, s"$base/fl_linked", "o_orderkey")
      if (!store.versions().contains(1L))
        store.write(ord, 1L, 8, commitTs = Some(1000L))
      val cat = s"snapfls_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val f = s.sql(s"SELECT * FROM $cat.fl_linked.files")
      val w = org.apache.spark.sql.expressions.Window.orderBy("min_key")
      f.withColumn("prev_max", lag(col("max_key"), 1).over(w))
        .agg(count(lit(1)).as("n_files"), sum("n_rows").as("total_rows"),
          min("min_key").as("lo"), max("max_key").as("hi"),
          bool_and(col("min_key") <= col("max_key")
            && col("n_rows") > 0 && col("bytes") > 0).as("per_file_ok"),
          bool_and(col("prev_max").isNull || col("prev_max") < col("min_key"))
            .as("disjoint"))
    },

    "snap_sql_show" -> { (s, d) =>
      // Catalog DISCOVERY through SQL — `SHOW TABLES IN cat` /
      // `SHOW NAMESPACES` / `DESCRIBE TABLE` — the UX that makes the
      // lake browsable without knowing paths. One store per layout
      // lands once (fingerprint-keyed); the three surfaces flatten to
      // (section, a, b) string rows the oracle pins as literals:
      // listTables reads the root listing, DESCRIBE serves the tip
      // schema — both metadata-only, no data scan anywhere.
      val fp = Tables.fingerprint(s, d, "region")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sqlshow_$fp"
      val cat = s"snapshow_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val src = Tables.region(s, d).select(col("r_regionkey"), col("r_name"))
      for ((t, path, layout) <- Seq(("sh_snap", "sh_snap", "snapshot"),
          ("ns1.sh_linked", "ns1/sh_linked", "linked"))) {
        val exists = VersionedStore.open(s, s"$base/$path", "r_regionkey").versions().nonEmpty
        if (!exists) {
          src.createOrReplaceTempView(s"show_src_$fp")
          s.sql(s"""CREATE TABLE $cat.$t
                   |TBLPROPERTIES('key'='r_regionkey', 'layout'='$layout')
                   |AS SELECT * FROM show_src_$fp""".stripMargin)
        }
      }
      val tables = s.sql(s"SHOW TABLES IN $cat")
        .unionByName(s.sql(s"SHOW TABLES IN $cat.ns1"))
        .select(lit("table").as("section"), col("tableName").as("a"),
          col("namespace").as("b"))
      val spaces = s.sql(s"SHOW NAMESPACES IN $cat")
        .select(lit("namespace").as("section"), col("namespace").as("a"),
          lit("").as("b"))
      val desc = s.sql(s"DESCRIBE TABLE $cat.sh_snap")
        .unionByName(s.sql(s"DESCRIBE TABLE $cat.ns1.sh_linked"))
        .filter(length(col("col_name")) > 0)
        .select(lit("column").as("section"), col("col_name").as("a"),
          col("data_type").as("b"))
      tables.unionByName(spaces).unionByName(desc)
        .groupBy("section", "a", "b").agg(count(lit(1)).as("n"))
        .orderBy("section", "a", "b")
    },

    "snap_orphan_audit" -> { (s, d) =>
      // ManifestStore.orphans driver-checked as a gate: on a healthy
      // store the audit must be EMPTY; plant a leaked pool file (the
      // crashed-writer shape vacuum exists for) and the audit must
      // surface exactly it, byte-accurately, while the tip read stays
      // intact; vacuum reclaims exactly those bytes and the audit
      // returns to empty. Reduced to booleans + the tip row count the
      // DuckDB oracle rebuilds. Fingerprint-keyed store: warm passes
      // reuse the v1 snapshot and re-run only the plant/audit/reclaim
      // round trip (metadata-sized).
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_orphan_store_${Tables.fingerprint(s, d, "orders")}"
      val store = new ManifestStore(s, base, "o_orderkey")
      if (!store.versions().contains(1L))
        store.write(Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice"), 1L, 8)
      val cleanBefore = store.orphans().isEmpty
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/files/zz-leaked-000.bin"),
        "leaked!".getBytes("UTF-8"))
      val audit = store.orphans().collect()
      val found = audit.length == 1 &&
        audit(0).getString(0) == "zz-leaked-000.bin" && audit(0).getLong(1) == 7L
      val reclaimed = store.vacuum()
      val cleanAfter = store.orphans().isEmpty
      val tipRows = store.read(1L).count()
      import s.implicits._
      Seq((tipRows, cleanBefore, found && reclaimed == 7L, cleanAfter))
        .toDF("tip_rows", "clean_before", "orphan_found", "clean_after")
    },

    "snap_merge_cow" -> { (s, d) =>
      // Copy-on-write merge end-to-end: orders range-partitioned as
      // v1; a delta (repriced keys ≡ 4 mod 13 + appended keys ≡ 7 mod
      // 29 shifted past the key envelope) and deletes (keys ≡ 11 mod
      // 31, not also updated) merge into v2 — only files whose key
      // range the delta touches rewrite, the rest byte-copy with their
      // zone-map rows carried over unscanned. The oracle rebuilds the
      // merged state declaratively; the bucket aggregate over the FULL
      // v2 read proves no row was lost, duplicated, or left stale.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_cow_store_${Tables.fingerprint(s, d, "orders")}"
      val store = new SnapshotStore(s, base, "o_orderkey")
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      if (!store.versions().contains(2L)) {
        if (!store.versions().contains(1L)) store.writeRangePartitioned(ord, 1L, 16)
        val updates = ord.filter(col("o_orderkey") % 13 === 4)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        val inserts = ord.filter(col("o_orderkey") % 29 === 7)
          .withColumn("o_orderkey", col("o_orderkey") + 20000000L)
        val dels = ord
          .filter(col("o_orderkey") % 31 === 11 && col("o_orderkey") % 13 =!= 4)
          .select("o_orderkey")
        store.mergeDelta(1L, 2L, updates.unionByName(inserts), Some(dels))
      }
      store.read(2L)
        .groupBy((col("o_orderkey") % 100).as("bucket"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .orderBy("bucket")
    },

    "snap_concurrent_merge" -> { (s, d) =>
      // Optimistic concurrency end-to-end (the Delta/Iceberg
      // multi-writer contract): writer A commits an update set at the
      // tip; writer B — whose delta was DERIVED FROM v1 (readVersion),
      // i.e. it genuinely raced A — loses the CAS on v2, re-diffs
      // v1..v2, proves its keys are disjoint from A's changes, and
      // REBASES to v3. The oracle is the serial application of both
      // commits; `serialized_ok` pins the version chain the race must
      // produce (1,2,3 — never a lost or duplicated version).
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_occ_store_${Tables.fingerprint(s, d, "orders")}"
      val store = new ManifestStore(s, base, "o_orderkey")
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      if (!store.versions().contains(3L)) {
        if (!store.versions().contains(1L)) store.write(ord, 1L, numFiles = 16)
        // writer A: reprice keys ≡ 4 mod 13
        val deltaA = ord.filter(col("o_orderkey") % 13 === 4)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        // writer B (computed against v1, BEFORE A lands): reprice keys
        // ≡ 6 mod 17 that A does NOT touch, plus fresh inserts
        val deltaB = ord
          .filter(col("o_orderkey") % 17 === 6 && col("o_orderkey") % 13 =!= 4)
          .withColumn("o_totalprice", col("o_totalprice") + 250.0)
          .unionByName(ord.filter(col("o_orderkey") % 29 === 7)
            .withColumn("o_orderkey", col("o_orderkey") + 30000000L))
        if (!store.versions().contains(2L)) store.mergeAtTip(deltaA): Unit
        // B's commit of v2 hits the CAS conflict and rebases onto v2
        store.mergeAtTip(deltaB, readVersion = Some(1L)): Unit
      }
      store.read(3L)
        .groupBy((col("o_orderkey") % 100).as("bucket"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .withColumn("serialized_ok", lit(store.versions() == Seq(1L, 2L, 3L)))
        .orderBy("bucket")
    },

    "snap_read_asof" -> { (s, d) =>
      // Time-travel read: three versions committed at explicit
      // timestamps (1s / 2s / 3s — reproducible resolution), then
      // readAsOf(2.5s) must return v2's merge state — AFTER the first
      // CoW merge, BEFORE v3's reprice. Resolution is metadata-only
      // (version listing + _commit_ts sidecars), then one
      // single-version scan; the oracle rebuilds v2 declaratively.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_asof_store_${Tables.fingerprint(s, d, "orders")}"
      val store = new SnapshotStore(s, base, "o_orderkey")
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      if (!store.versions().contains(3L)) {
        if (!store.versions().contains(1L))
          store.writeRangePartitioned(ord, 1L, 16, commitTs = Some(1000000L))
        if (!store.versions().contains(2L)) {
          val updates = ord.filter(col("o_orderkey") % 13 === 4)
            .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
          val dels = ord
            .filter(col("o_orderkey") % 31 === 11 && col("o_orderkey") % 13 =!= 4)
            .select("o_orderkey")
          store.mergeDelta(1L, 2L, updates, Some(dels), commitTs = Some(2000000L))
        }
        val reprice = store.read(2L).filter(col("o_orderkey") % 17 === 3)
          .withColumn("o_totalprice", col("o_totalprice") + 5000.0)
        store.mergeDelta(2L, 3L, reprice, None, commitTs = Some(3000000L))
      }
      store.readAsOf(2500000L)
        .groupBy((col("o_orderkey") % 100).as("bucket"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .orderBy("bucket")
    },

    "snap_delete_where" -> { (s, d) =>
      // GDPR predicate delete end-to-end: orders snapshotted
      // range-partitioned with o_totalprice zone stats, then ONE
      // copy-on-write deleteWhere erases every row matching the
      // predicate — the stats-column prune hint restricts the match
      // scan to the zone-map files overlapping the value band, and
      // only files actually holding matches rewrite (the rest
      // byte-copy). The oracle is the declarative complement of the
      // predicate over the source table.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_delw_store_${Tables.fingerprint(s, d, "orders")}"
      val store = new SnapshotStore(s, base, "o_orderkey")
      if (!store.versions().contains(2L)) {
        if (!store.versions().contains(1L))
          store.writeRangePartitioned(
            Tables.orders(s, d)
              .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"),
            1L, 16, statsCols = Seq("o_totalprice"))
        store.deleteWhere(1L, 2L,
          col("o_totalprice") > lit(150000.0) && col("o_orderstatus") =!= "F",
          pruneHint = Some(("o_totalprice", 150000.0, Double.MaxValue)))
      }
      store.read(2L).orderBy("o_orderkey")
    },

    "snap_delete_dv" -> { (s, d) =>
      // MERGE-ON-READ point delete (deletion vector): a sparse GDPR
      // erasure (keys ≡ 0 mod 5000) over a full orders snapshot with
      // ZERO data rewrite — the published version reuses every pool
      // file by reference plus a metadata-sized (file, row-position)
      // mask; reads apply it as one broadcast anti-join. This is the
      // 100 TB path snap_delete_where's copy-on-write can't take: a
      // 3-row delete there rewrites whole files. `zero_rewrite` pins
      // the economics (identical manifest file sets across the
      // delete); the oracle is the declarative complement.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_dv_store_${Tables.fingerprint(s, d, "orders")}"
      val store = new ManifestStore(s, base, "o_orderkey")
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      if (!store.versions().contains(2L)) {
        if (!store.versions().contains(1L)) store.write(ord, 1L, numFiles = 16)
        store.deleteWhere(1L, 2L, col("o_orderkey") % 5000 === 0): Unit
      }
      def fileSet(v: Long) =
        store.manifest(v).select("file").collect().map(_.getString(0)).toSet
      store.read(2L)
        .groupBy((col("o_orderkey") % 100).as("bucket"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .withColumn("zero_rewrite", lit(fileSet(2L) == fileSet(1L)))
        .orderBy("bucket")
    },

    "snap_constraints" -> { (s, d) =>
      // Write-time CHECK constraints on BOTH layouts (Delta's ALTER
      // TABLE ADD CONSTRAINT): a declared guard scans the tip once at
      // ADD, then every commit validates its new rows BEFORE anything
      // publishes. A valid merge (repricing ~1% of keys) lands as v2;
      // a violating merge (negative price) is REFUSED — `blocked`
      // pins that the store still sits at v2 after the attempt, and
      // `violations` recounts the constraint over the live tip (must
      // be 0: enforcement, re-judged declaratively). Totals
      // hash-check against the oracle's recomputed reprice.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_ck_${Tables.fingerprint(s, d, "orders")}"
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      def side(layout: String): DataFrame = {
        def tipOf(read: Long => DataFrame, versions: () => Seq[Long],
            addC: (String, String) => Unit, haveC: () => Seq[(String, String)],
            merge: (Long, Long, DataFrame) => Unit): DataFrame = {
          if (!versions().contains(2L)) {
            if (!haveC().exists(_._1 == "price_pos"))
              addC("price_pos", "o_totalprice > 0")
            val reprice = read(1L).filter(col("o_orderkey") % 97 === 0)
              .withColumn("o_totalprice", col("o_totalprice") + 1.0)
            merge(1L, 2L, reprice)
          }
          val blocked =
            try { merge(2L, 3L, read(2L).limit(1)
                .withColumn("o_totalprice", lit(-1.0))); false }
            catch { case _: ConstraintViolationException => true }
          val stillV2 = !versions().contains(3L)
          read(2L).agg(count(lit(1)).as("n"),
              moneySum(col("o_totalprice")).as("sum_price"),
              sum(when(coalesce(col("o_totalprice") > 0, lit(true)) === false, 1L)
                .otherwise(0L)).as("violations"))
            .select(lit(layout).as("layout"), col("n"), col("sum_price"),
              col("violations"), lit(blocked && stillV2).as("blocked"))
        }
        val path = s"$base/${if (layout == "linked") "lk" else "sn"}"
        if (VersionedStore.open(s, path, "o_orderkey").versions().isEmpty)
          writeV1(s, path, layout != "linked", ord, None)
        val st = VersionedStore.open(s, path, "o_orderkey")
        tipOf(st.read, st.versions, st.addConstraint, st.constraints,
          (a, b, df) => { st.mergeDelta(a, b, df): Unit })
      }
      side("linked").unionByName(side("snapshot")).orderBy("layout")
    },

    "snap_partitions" -> { (s, d) =>
      // Hive-style PARTITIONED BY on BOTH layouts: orders lands one
      // partition tuple per file (≤2 files per tuple), the partition
      // value recorded as exact min==max metadata stats, and SHOW
      // PARTITIONS costs zero data-file opens. `files_bounded` pins
      // the physical invariant the whole feature rests on (exact
      // pruning, metadata-only drops); row counts hash-check against
      // the declarative GROUP BY.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_part_${Tables.fingerprint(s, d, "orders")}"
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val lk = new ManifestStore(s, s"$base/lk", "o_orderkey")
      if (!lk.versions().contains(1L))
        lk.writePartitioned(ord, 1L, Seq("o_orderpriority"), filesPerPartition = 2)
      val sn = new SnapshotStore(s, s"$base/sn", "o_orderkey")
      if (!sn.versions().contains(1L))
        sn.writePartitioned(ord, 1L, Seq("o_orderpriority"), filesPerPartition = 2)
      lk.partitions(1L).withColumn("layout", lit("linked"))
        .unionByName(sn.partitions(1L).withColumn("layout", lit("snapshot")))
        .select(col("layout"), col("o_orderpriority"), col("n_rows"),
          (col("n_files") >= 1 && col("n_files") <= 2).as("files_bounded"))
        .orderBy("layout", "o_orderpriority")
    },

    "snap_replace_where" -> { (s, d) =>
      // DYNAMIC PARTITION OVERWRITE (Delta's replaceWhere / INSERT
      // OVERWRITE ... PARTITION) — the idempotent-backfill verb: the
      // 2-HIGH partition re-lands wholesale with repriced rows while
      // every OTHER partition carries by manifest REFERENCE
      // (`zero_copy` pins it: identical pool file sets across the
      // overwrite). Re-running a day's pipeline overwrites that day
      // and nothing else — at 100 TB the overwrite costs O(|partition|),
      // never O(table).
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_replw_${Tables.fingerprint(s, d, "orders")}"
      val st = new ManifestStore(s, s"$base/lk", "o_orderkey")
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      if (!st.versions().contains(2L)) {
        if (!st.versions().contains(1L))
          st.writePartitioned(ord, 1L, Seq("o_orderpriority"), filesPerPartition = 2)
        val backfill = ord.filter(col("o_orderpriority") === "2-HIGH")
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        st.replaceWhere(1L, 2L, backfill, filesPerPartition = 2): Unit
      }
      def files(v: Long, p: String) = st.manifest(v)
        .filter(col("min_o_orderpriority") === p)
        .select("file").collect().map(_.getString(0)).toSet
      val zeroCopy = Seq("1-URGENT", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .forall(p => files(2L, p) == files(1L, p))
      st.read(2L).groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .withColumn("zero_copy", lit(zeroCopy))
        .orderBy("o_orderpriority")
    },

    "snap_drop_partition" -> { (s, d) =>
      // METADATA-ONLY partition drop — the nightly retention verb of a
      // date-partitioned lake ("drop everything older than 90 days"):
      // the 3-MEDIUM partition leaves the manifest and NOT ONE DATA
      // BYTE moves, regardless of table size (`zero_write` pins it:
      // the published file set is a strict subset, no new files).
      // Bytes reclaim later via ref-count vacuum; pinned history keeps
      // the dropped partition readable at v1. This is the delete
      // cheaper than even a deletion vector — and the reason tables
      // partition on their retention axis.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_dropp_${Tables.fingerprint(s, d, "orders")}"
      val st = new ManifestStore(s, s"$base/lk", "o_orderkey")
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      if (!st.versions().contains(2L)) {
        if (!st.versions().contains(1L))
          st.writePartitioned(ord, 1L, Seq("o_orderpriority"), filesPerPartition = 2)
        st.dropPartitions(1L, 2L, col("o_orderpriority") === "3-MEDIUM"): Unit
      }
      def fileSet(v: Long) =
        st.manifest(v).select("file").collect().map(_.getString(0)).toSet
      val zeroWrite = fileSet(2L).subsetOf(fileSet(1L))
      st.read(2L).groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .withColumn("zero_write", lit(zeroWrite))
        .orderBy("o_orderpriority")
    },

    "snap_partition_evolve" -> { (s, d) =>
      // PARTITION SPEC EVOLUTION (Iceberg's headline feature) on BOTH
      // layouts: v1 lands month-partitioned, `set_partition_spec`
      // flips to years(o_orderdate) as ONE metadata write, v2's merge
      // lands NEW rows under the year spec while every month file
      // carries by reference untouched. The 1995 range read then
      // prunes PER FILE BY ITS OWN SPEC — months era through month
      // tuples, years era through year tuples — and `prune_ok` pins
      // the bound in-result: at most 12 month files + 1 year file
      // open, a strict subset of the version. `drop_refused` pins the
      // honesty contract: a whole-partition drop on the mixed version
      // REFUSES (a year predicate cannot select month files
      // whole-file-exactly). Content hash-checks the mixed-era rows.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_pevolve_$fp"
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
      val k = col("o_orderkey")
      val old = ord.filter(k % 3 === 0)
      // delta keys land past every old envelope: no old file rewrites
      val delta = ord.filter(k % 3 === 1)
        .withColumn("o_orderkey", k + 1000000000L)
      val lo = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1995-12-31 23:59:59")
      Seq("pe_snap", "pe_linked").map { t =>
        def st = VersionedStore.open(s, s"$base/$t", "o_orderkey")
        if (!st.versions().contains(1L)) {
          if (t == "pe_snap")
            new SnapshotStore(s, s"$base/$t", "o_orderkey")
              .writePartitioned(old, 1L, Seq("months(o_orderdate)"))
          else new ManifestStore(s, s"$base/$t", "o_orderkey")
            .writePartitioned(old, 1L, Seq("months(o_orderdate)"))
        }
        st.evolvePartitionSpec(Seq("years(o_orderdate)")): Unit
        if (!st.versions().contains(2L)) st.mergeDelta(1L, 2L, delta): Unit
        val q = st.readSourceRange(2L, "o_orderdate", lo, hi)
        val opened = q.inputFiles.length
        val total = st.read(2L).inputFiles.length
        // bound: ≤12 month files + ≤4 year files (merge's key-hash
        // salt caps files per partition tuple at numNewFiles=4; AQE
        // coalesces to 1/year at small SF), and a strict subset
        val pruneOk = opened < total && opened <= 16
        val dropRefused =
          try {
            st.dropPartitions(2L, 99L,
              col("o_orderdate__year") === to_date(lit("1995-01-01"))): Unit
            false
          } catch { case _: IllegalArgumentException => true }
        q.groupBy((k % 20).as("bucket"))
          .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
          .select(lit(t).as("layout"), col("bucket"), col("n"), col("sum_price"),
            lit(pruneOk).as("prune_ok"), lit(dropRefused).as("drop_refused"))
      }.reduce(_ unionByName _).orderBy("layout", "bucket")
    },

    "snap_partition_prune" -> { (s, d) =>
      // Partition-equality read on both layouts with the prune bound
      // ASSERTED: the file set the read opens must be EXACTLY the
      // partition's own files (manifest envelope filter on linked,
      // zone-map prunedFilesBy on snapshot) — the scan-cost contract
      // that makes partition-on-your-filter-axis the first lever of
      // 100 TB schema design. Results hash-check against the
      // declarative filter.
      queries("snap_partitions")(s, d): Unit // lineage: both stores at v1 (eager at construction)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_part_${Tables.fingerprint(s, d, "orders")}"
      val lk = new ManifestStore(s, s"$base/lk", "o_orderkey")
      val sn = new SnapshotStore(s, s"$base/sn", "o_orderkey")
      val p = "1-URGENT"
      val lkPartFiles = lk.partitions(1L)
        .filter(col("o_orderpriority") === p).head().getLong(1)
      val lkOpened = lk.manifest(1L)
        .filter(col("max_o_orderpriority") >= p && col("min_o_orderpriority") <= p)
        .count()
      val snPartFiles = sn.partitions(1L)
        .filter(col("o_orderpriority") === p).head().getLong(1)
      val snOpened = sn.prunedFilesBy(1L, "o_orderpriority", p, p).get.size.toLong
      def side(df: DataFrame, layout: String, exact: Boolean) =
        df.agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
          .select(lit(layout).as("layout"), col("n"), col("sum_price"),
            lit(exact).as("exact_prune"))
      side(lk.readWhere(1L, "o_orderpriority", p, p), "linked", lkOpened == lkPartFiles)
        .unionByName(
          side(sn.readWhere(1L, "o_orderpriority", p, p), "snapshot", snOpened == snPartFiles))
        .orderBy("layout")
    },

    "snap_zorder_part" -> { (s, d) =>
      // Z-ORDER WITHIN PARTITIONS — the real 100 TB fact-table layout
      // (Delta's OPTIMIZE ZORDER BY on a partitioned table): orders
      // partitioned by priority (v1), then re-clustered so each
      // partition's files cover contiguous (custkey, totalprice)
      // Morton ranges (v2 — the OPTIMIZE story: land, then cluster).
      // A three-way conjunction then prunes on ALL dimensions:
      // `partition_exact` pins that only the partition's own files
      // pass the manifest filter, `z_skipped` that the z envelopes
      // eliminated some of them. Result hash-checks the declarative
      // filter.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_zpart_${Tables.fingerprint(s, d, "orders")}"
      val st = new ManifestStore(s, s"$base/lk", "o_orderkey",
        statsCols = Seq("o_custkey", "o_totalprice"))
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_custkey", "o_totalprice")
      if (!st.versions().contains(2L)) {
        if (!st.versions().contains(1L))
          st.writePartitioned(ord, 1L, Seq("o_orderpriority"), filesPerPartition = 2)
        st.writeZOrdered(st.read(1L), 2L, numFiles = 40,
          zCols = Seq("o_custkey", "o_totalprice"))
      }
      val man = st.manifest(2L).materialize()
      val p = "1-URGENT"
      val partFiles = man.filter(col("min_o_orderpriority") === p).count()
      val opened = man.filter(
        col("max_o_orderpriority") >= p && col("min_o_orderpriority") <= p &&
          col("max_o_custkey") >= 100 && col("min_o_custkey") <= 500 &&
          col("max_o_totalprice") >= 50000.0 && col("min_o_totalprice") <= 150000.0)
        .count()
      st.readWhereAll(2L, Seq(("o_orderpriority", p, p),
          ("o_custkey", 100, 500), ("o_totalprice", 50000.0, 150000.0)))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .select(col("n"), col("sum_price"),
          lit(opened <= partFiles).as("partition_exact"),
          lit(opened < partFiles).as("z_skipped"))
    },

    "snap_bloom_index" -> { (s, d) =>
      // PER-FILE BLOOM INDEX (Delta's bloom filter index) on BOTH
      // layouts: a point lookup on a NON-clustered column (customer id
      // over a key-ordered orders table — the lookup key envelopes and
      // zone maps can do nothing for) opens ONLY the files whose
      // filter might contain the value; a false positive costs one
      // extra open, never a wrong row (exact re-filter on top). The
      // probed customer is picked deterministically (fewest orders,
      // min id on tie) so both engines agree; `skipped` pins that the
      // index pruned at least one of the 16 files on each layout. At
      // 100 TB this is the difference between 16 file opens and a
      // full-table scan for every id lookup.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_bloom_${Tables.fingerprint(s, d, "orders")}"
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      val target = ord.groupBy("o_custkey").agg(count(lit(1)).as("__c"))
        .orderBy(col("__c"), col("o_custkey")).limit(1)
        .head().getLong(0)
      def side(layout: String): DataFrame = {
        val path = s"$base/${if (layout == "linked") "lk" else "sn"}"
        if (!VersionedStore.open(s, path, "o_orderkey").versions().contains(1L)) {
          if (layout == "linked") {
            val st = new ManifestStore(s, path, "o_orderkey")
            st.write(ord, 1L, numFiles = 16)
            st.buildBloomIndex(1L, "o_custkey")
          } else {
            val st = new SnapshotStore(s, path, "o_orderkey")
            st.writeRangePartitioned(ord, 1L, 16)
            st.buildBloomIndex(1L, "o_custkey")
          }
        }
        val st = VersionedStore.open(s, path, "o_orderkey")
        val (df, opened) = st.readWhereEquals(1L, "o_custkey", target)
        val total = st.dataPaths(1L).size
        df.agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
          .select(lit(layout).as("layout"), col("n"), col("sum_price"),
            lit(opened < total).as("skipped"))
      }
      side("linked").unionByName(side("snapshot")).orderBy("layout")
    },

    "snap_cdc_apply" -> { (s, d) =>
      // APPLY CHANGES INTO — the downstream-sync verb: a source store
      // commits an upsert wave (inserts + updates, v2) then a GDPR
      // delete (v3); the replica, seeded at v1, reads the SQL change
      // feed `VERSION AS OF '2..3'` and applies its NET EFFECT as ONE
      // merge (per key the last change wins — N commits, one merge).
      // `sync_ok` pins full-content equality replica == source tip
      // (both directions of an EXCEPT), and the oracle recomputes the
      // final state declaratively — the change feed proven to carry
      // EXACTLY the information replication needs.
      val fp = Tables.fingerprint(s, d, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_cdcapply_$fp"
      val cat = s"snapcdca_$fp"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val src = new ManifestStore(s, s"$base/src", "o_orderkey")
      if (!src.versions().contains(3L)) {
        if (!src.versions().contains(1L))
          src.write(ord.filter(col("o_orderkey") % 2 === 0), 1L, numFiles = 8)
        if (!src.versions().contains(2L)) {
          val reprice = src.read(1L).filter(col("o_orderkey") % 30 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 10.0)
          val inserts = ord.filter(
            col("o_orderkey") % 2 === 1 && col("o_orderkey") % 5 === 0)
          src.mergeDelta(1L, 2L, reprice.unionByName(inserts)): Unit
        }
        src.deleteWhere(2L, 3L, col("o_orderkey") % 44 === 0): Unit
      }
      val dst = new ManifestStore(s, s"$base/dst", "o_orderkey")
      if (!dst.versions().contains(2L)) {
        if (!dst.versions().contains(1L)) dst.write(src.read(1L), 1L, numFiles = 8)
        val changes = s.sql(s"SELECT * FROM $cat.src.changes VERSION AS OF '2..3'")
        val (ups, dels) = applyChanges(changes, "o_orderkey")
        dst.mergeDelta(1L, 2L, ups, dels): Unit
      }
      // equality gate, SCALE-CAPPED (the md5-order-cap device): the
      // former both-directions EXCEPT over the whole replica dominated
      // the entry at sf10 (7.4×/decade for a GATE, not the apply
      // path). Now: (1) count equality from METADATA — manifest row
      // sums minus DV masks, zero data scans; (2) full-content EXCEPT
      // on a deterministic 2000-key sample served through readForKeys
      // (manifest-envelope + Bloom pruned — the keyed-restore path,
      // not a table scan). A diverging replica fails the count
      // instantly; a value-corrupting one is caught by the sampled
      // rows (deterministic keys: both engines and every rerun probe
      // the same ones).
      def logicalCount(st: ManifestStore, v: Long): Long = {
        val phys = st.manifest(v).agg(coalesce(sum("n_rows"), lit(0L)))
          .head().getLong(0)
        phys - st.dvFrame(v).map(_.count()).getOrElse(0L)
      }
      // the sample pool itself is a KEY-RANGE-PRUNED read (a fixed
      // [2, 20000] band: the whole table at tiny SF, 1-2 envelope-hit
      // files at sf10) — a global TakeOrdered over every key would
      // scan the table just to choose 2000 probes
      val sampleKeys = src.readKeyRange(3L, 2L, 20000L).select("o_orderkey")
        .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
        .limit(2000).materialize()
      val aS = src.readForKeys(3L, sampleKeys)
      val bS = dst.readForKeys(2L, sampleKeys)
      // (readForKeys on the linked layout is envelope+semi-join only —
      // no per-call Bloom build — so the 2000-key sample costs two
      // pruned scans, not an index construction)
      val syncOk = logicalCount(src, 3L) == logicalCount(dst, 2L) &&
        aS.exceptAll(bS).limit(1).count() == 0 &&
        bS.exceptAll(aS).limit(1).count() == 0
      dst.read(2L)
        .groupBy((col("o_orderkey") % 100).as("bucket"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .withColumn("sync_ok", lit(syncOk))
        .orderBy("bucket")
    },

    "snap_merge_mor" -> { (s, d) =>
      // MERGE-ON-READ MERGE (Iceberg's MoR MERGE; snap_merge_upsert's
      // physical opposite): a sparse upsert-and-delete wave lands as a
      // deletion-vector entry per superseded row plus NEW files for
      // the delta — mergeDelta would re-encode every touched file, a
      // 100-row merge into 100 touched 1 GB files paying 100 GB where
      // this pays ~nothing. `zero_rewrite` pins it (every v1 manifest
      // entry carries by reference); the read-side ledger folds at the
      // next compaction. Oracle recomputes the merge declaratively.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_mmor_${Tables.fingerprint(s, d, "orders")}"
      val store = new ManifestStore(s, base, "o_orderkey")
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      if (!store.versions().contains(2L)) {
        if (!store.versions().contains(1L)) store.write(ord, 1L, numFiles = 16)
        val reprice = store.read(1L).filter(col("o_orderkey") % 7000 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 50.0)
        val dels = store.read(1L).filter(col("o_orderkey") % 9000 === 0)
          .select("o_orderkey")
        store.mergeDeltaMor(1L, 2L, reprice, Some(dels)): Unit
      }
      def fileSet(v: Long) =
        store.manifest(v).select("file").collect().map(_.getString(0)).toSet
      store.read(2L)
        .groupBy((col("o_orderkey") % 100).as("bucket"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .withColumn("zero_rewrite", lit(fileSet(1L).subsetOf(fileSet(2L))))
        .orderBy("bucket")
    },

    "snap_update_mor" -> { (s, d) =>
      // MERGE-ON-READ point UPDATE (snap_delete_dv's update half): a
      // sparse reprice (keys ≡ 0 mod 5000) over a full orders snapshot
      // with ZERO existing-file rewrite — old positions join the
      // deletion vector, updated copies land as new pool files, ONE
      // commit. At 100 TB a 3-row update costs 3 rows of writes plus a
      // metadata mask; the CoW alternative re-encodes whole files.
      // `zero_rewrite` pins the economics (every v1 manifest entry
      // carries by reference); the oracle recomputes the reprice
      // declaratively.
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_upmor_${Tables.fingerprint(s, d, "orders")}"
      val store = new ManifestStore(s, base, "o_orderkey")
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      if (!store.versions().contains(2L)) {
        if (!store.versions().contains(1L)) store.write(ord, 1L, numFiles = 16)
        store.updateWhere(1L, 2L, col("o_orderkey") % 5000 === 0,
          Map("o_totalprice" -> (col("o_totalprice") + 100.0))): Unit
      }
      def fileSet(v: Long) =
        store.manifest(v).select("file").collect().map(_.getString(0)).toSet
      store.read(2L)
        .groupBy((col("o_orderkey") % 100).as("bucket"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .withColumn("zero_rewrite", lit(fileSet(1L).subsetOf(fileSet(2L))))
        .orderBy("bucket")
    },

    "snap_distinct_hll" -> { (s, d) =>
      // Mergeable distinct-count sketches — the manifest companion for
      // questions byte-hashes can't answer ("how many distinct orders
      // does each partition hold?"). Each partition aggregates a
      // DataSketches HLL of its keys (map-side combinable, fixed size);
      // the global count is hll_union_agg over the per-partition
      // sketches — |partitions| tiny rows shuffle, never the keys.
      // At 100 TB the per-partition sketches live in the manifest and
      // a cross-snapshot distinct estimate never rescans data.
      // Rows-only oracle: estimates are DataSketches-specific (the
      // sketch itself is deterministic; spec pins accuracy + the
      // union-of-parts == sketch-of-whole merge identity).
      val li = Tables.lineitem(s, d)
      val parts = li.groupBy("l_returnflag")
        .agg(hll_sketch_agg(col("l_orderkey")).as("sk"), count(lit(1)).as("n_rows"))
      val perPart = parts.select(col("l_returnflag"),
        col("n_rows"), hll_sketch_estimate(col("sk")).as("approx_orders"))
      val overall = parts.agg(sum(col("n_rows")).as("n_rows"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_orders"))
        .select(lit("ALL").as("l_returnflag"), col("n_rows"), col("approx_orders"))
      perPart.unionByName(overall).orderBy("l_returnflag")
    },

    "snap_hll_gate" -> { (s, d) =>
      // HASH-CHECKED accuracy gate behind snap_distinct_hll's
      // rows-only check: per partition, the DataSketches HLL estimate
      // must land within 5% of the exact distinct count (default
      // lgK=12 → rsd ≈ 1.6%, so 5% is generous headroom), AND the
      // union-of-parts estimate must equal merging the parts
      // sketch-exactly (the mergeability the 100 TB manifest design
      // rests on, here asserted through the driver gate rather than
      // only a spec).
      // sketch and exact aggregates run as SEPARATE passes joined on
      // the group key — fusing them in one groupBy plans a distinct
      // EXPAND that doubles the stream and pays HLL per expanded row
      // (the q_approx_gate lesson; this fusion measured 14.7× at the
      // 10× scale-up, 27 s → 4 s decomposed). The 3-row parts frame
      // checkpoints so the overall-union leg never re-aggregates 6M
      // rows.
      val li = Tables.lineitem(s, d)
      val sk = li.groupBy("l_returnflag").agg(hll_sketch_agg(col("l_orderkey")).as("sk"))
      val exact = li.groupBy("l_returnflag")
        .agg(count_distinct(col("l_orderkey")).as("__exact"))
      val parts = sk.join(exact, Seq("l_returnflag")).materialize()
      val per = parts.select(col("l_returnflag"),
        (abs(hll_sketch_estimate(col("sk")) - col("__exact")).cast("double")
          / col("__exact") <= 0.05).as("within_5pct"))
      val overallOk = parts.agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("__est"))
        .crossJoin(li.agg(count_distinct(col("l_orderkey")).as("__exact")))
        .select(lit("ALL").as("l_returnflag"),
          (abs(col("__est") - col("__exact")).cast("double")
            / col("__exact") <= 0.05).as("within_5pct"))
      per.unionByName(overallOk).orderBy("l_returnflag")
    },

    "snap_cdc_gate" -> { (s, d) =>
      // HASH-CHECKED dedup-value gate behind the CDC chunking entries
      // (mm_cdc_chunks / snap_chunk_dedup are rows-only — gear-hash
      // boundaries are engine-internal): yesterday's corpus is
      // modeled as a PREFIX edit of every 11th doc; content-defined
      // boundaries must RESYNCHRONIZE after the edit, so today's
      // chunk bytes must still overwhelmingly dedupe against
      // yesterday's store. A fixed-size chunker fails this gate on
      // the shifted tails; so does a broken boundary function.
      def chunksOf(mutate: DataFrame => DataFrame) = Multimodal.cdcChunks(
        mutate(Tables.documents(s, d))
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
        "doc_id", "payload")
      val have = chunksOf(df => df.withColumn("text",
        when(col("doc_id") % 11 === 0, concat(lit("edited prefix "), col("text")))
          .otherwise(col("text"))))
        .select(col("chunk_md5")).distinct()
      val today = chunksOf(identity)
      today.join(have.withColumn("__hit", lit(1)), Seq("chunk_md5"), "left")
        .agg(sum(col("chunk_bytes")).as("__total"),
          sum(when(col("__hit").isNotNull, col("chunk_bytes")).otherwise(0L)).as("__reused"))
        .select(lit(1L).as("n_rows"),
          (col("__reused").cast("double") / col("__total") >= 0.8).as("reuse_ok"))
    },

    "snap_restore_zorder" -> { (s, d) =>
      // 2-D restore through the Z-ordered layout: orders clustered on
      // (o_custkey, o_orderdate) — NEITHER is the store key — then one
      // conjunctive range restore. Each dimension's zone-map stats
      // independently prune files; the read opens only their
      // intersection (spec asserts both dims prune; the oracle proves
      // the corner read loses nothing vs a plain filtered scan).
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_store_${Tables.fingerprint(s, d, "orders")}"
      val store = new SnapshotStore(s, base, "o_orderkey")
      if (!store.versions().contains(1L))
        store.writeZOrdered(
          Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
          1L, 16, Seq("o_custkey", "o_orderdate"))
      store.readWhereAll(1L, Seq(
        ("o_custkey", 100L, 400L),
        ("o_orderdate", "1997-01-01", "1998-01-01")))
        .orderBy("o_orderkey")
    },

    "snap_validate" -> { (s, d) =>
      // Post-copy validation against a modeled damaged copy: one whole
      // (returnflag, linestatus) partition lost, row loss in the 'A'
      // partitions, value corruption in the 'N' partitions. Each
      // damage class surfaces as a distinct status.
      val src = Tables.lineitem(s, d)
      val dst = Tables.lineitem(s, d)
        .filter(!(col("l_returnflag") === "R" && col("l_linestatus") === "F"))
        .filter(!(col("l_orderkey") % 1009 === 0 && col("l_returnflag") === "A"))
        .withColumn("l_extendedprice",
          when(col("l_orderkey") % 997 === 0 && col("l_returnflag") === "N",
            (decM(col("l_extendedprice")) + lit(1).cast("decimal(4,2)")).cast(DoubleType))
            .otherwise(col("l_extendedprice")))
      val fp = (df: DataFrame) => fingerprint(
        df("l_orderkey"), df("l_linenumber"), decM(df("l_quantity")),
        decM(df("l_extendedprice")), decR(df("l_discount")))
      validateCopy(src, dst, Seq("l_returnflag", "l_linestatus"), col("l_orderkey"), fp)
        .orderBy("l_returnflag", "l_linestatus")
    }
  )

  val oracles: Map[String, String] = Map(
    "snap_fingerprint" ->
      """SELECT o_orderkey,
        |  md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
        |    o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
        |    CAST(o_orderdate AS VARCHAR), o_orderpriority)) AS fp
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "snap_incr_new" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 10 = 7 ORDER BY o_orderkey""".stripMargin,

    "snap_incr_changed" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE o_orderkey % 10 <> 7 AND o_orderkey % 13 = 0
        |ORDER BY o_orderkey""".stripMargin,

    "snap_merge_upsert" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "snap_scd2" ->
      """WITH marked AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |changes AS (
        |  SELECT user_id, event_type, ts, event_id FROM marked
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS effective_from,
        |  epoch_us(CAST(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP)) AS effective_to
        |FROM changes ORDER BY user_id, effective_from""".stripMargin,

    "snap_manifest" ->
      """WITH li AS (
        |  SELECT *, md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
        |    CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR),
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR),
        |    CAST(CAST(l_discount AS DECIMAL(4,2)) AS VARCHAR))) AS fp
        |  FROM lineitem)
        |SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price,
        |  bit_xor(CAST('0x' || substr(fp, 1, 15) AS BIGINT)) AS content_hash
        |FROM li GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "snap_restore_range" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey BETWEEN 600 AND 1100 ORDER BY o_orderkey""".stripMargin,

    "snap_linked_zorder" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
        |WHERE o_custkey BETWEEN 100 AND 400
        |  AND o_orderdate BETWEEN '1997-01-01' AND '1998-01-01'
        |ORDER BY o_orderkey""".stripMargin,

    "snap_sql_timetravel" ->
      """WITH v2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |a1 AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(1 AS BIGINT) AS ver
        |  FROM orders GROUP BY 1),
        |a2 AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(2 AS BIGINT) AS ver
        |  FROM v2 GROUP BY 1)
        |SELECT * FROM a1 UNION ALL SELECT * FROM a2 ORDER BY ver, bucket""".stripMargin,

    "snap_bucket_join" ->
      """SELECT o.o_custkey AS custkey, c.c_name AS name, o.n_orders,
        |  o.total_price, TRUE AS spj_ok
        |FROM (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS total_price
        |  FROM orders GROUP BY 1) o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY custkey""".stripMargin,

    "snap_sql_delete" ->
      """WITH a1 AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(1 AS BIGINT) AS ver
        |  FROM orders GROUP BY 1),
        |a2 AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(2 AS BIGINT) AS ver
        |  FROM orders WHERE NOT (o_totalprice > 150000.0) GROUP BY 1)
        |SELECT * FROM a1 UNION ALL SELECT * FROM a2 ORDER BY ver, bucket""".stripMargin,

    "snap_sql_merge" ->
      """WITH fin AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        |         THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000 AS o_orderkey,
        |    o_totalprice + 7 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |a1 AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(1 AS BIGINT) AS ver
        |  FROM orders GROUP BY 1),
        |a2 AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(2 AS BIGINT) AS ver
        |  FROM fin GROUP BY 1)
        |SELECT l.layout, a.bucket, a.n, a.sum_price, a.ver
        |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2) a
        |CROSS JOIN (VALUES ('om_snap'), ('om_linked')) AS l(layout)
        |ORDER BY l.layout, a.ver, a.bucket""".stripMargin,

    "snap_sql_update" ->
      """WITH fin AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 42.5
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |a1 AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(1 AS BIGINT) AS ver
        |  FROM orders GROUP BY 1),
        |a2 AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(2 AS BIGINT) AS ver
        |  FROM fin GROUP BY 1)
        |SELECT l.layout, a.bucket, a.n, a.sum_price, a.ver
        |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2) a
        |CROSS JOIN (VALUES ('ou_snap'), ('ou_linked')) AS l(layout)
        |ORDER BY l.layout, a.ver, a.bucket""".stripMargin,

    "snap_sql_alter" ->
      """SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |    AS sum_price,
        |  ROUND(CAST(SUM(CAST(2.5 AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_bonus,
        |  l.layout, CAST(2 AS BIGINT) AS v1_cols
        |FROM orders CROSS JOIN (VALUES ('oa_snap'), ('oa_linked')) AS l(layout)
        |GROUP BY 1, l.layout
        |ORDER BY l.layout, bucket""".stripMargin,

    "snap_sql_changes" ->
      """WITH c2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 7 = 0 THEN NULL
        |         ELSE o_totalprice + 10 END AS o_totalprice,
        |    CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 7 = 0 THEN 'delete'
        |         WHEN o_orderkey % 3 = 0 THEN 'update'
        |         ELSE 'insert' END AS change_type,
        |    CAST(2 AS BIGINT) AS _commit_version
        |  FROM orders
        |  WHERE (o_orderkey % 5 = 0
        |         AND NOT (o_orderkey % 3 = 0 AND o_orderkey % 7 = 0))
        |     OR (o_orderkey % 3 = 0 AND o_orderkey % 7 = 0)),
        |c3 AS (
        |  SELECT o_orderkey, o_totalprice + 3 AS o_totalprice,
        |    CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 7 = 0
        |         THEN 'insert' ELSE 'update' END AS change_type,
        |    CAST(3 AS BIGINT) AS _commit_version
        |  FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT c.o_orderkey, c.o_totalprice, c.change_type, c._commit_version,
        |  l.layout
        |FROM (SELECT * FROM c2 UNION ALL SELECT * FROM c3) c
        |CROSS JOIN (VALUES ('oc_snap'), ('oc_linked')) AS l(layout)
        |ORDER BY l.layout, c._commit_version, c.change_type, c.o_orderkey""".stripMargin,

    "snap_sql_rename" ->
      """SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |    AS sum_price,
        |  l.layout, TRUE AS zero_rewrite, TRUE AS v1_has_old
        |FROM orders CROSS JOIN (VALUES ('rn_snap'), ('rn_linked')) AS l(layout)
        |GROUP BY 1, l.layout ORDER BY l.layout, bucket""".stripMargin,

    "snap_sql_detail" ->
      """SELECT l.layout, 'o_orderkey' AS key_col, '' AS partitioned_by,
        |  CAST(0 AS BIGINT) AS n_constraints, CAST(2 AS BIGINT) AS n_versions,
        |  CAST(2 AS BIGINT) AS tip_version, CAST(2000 AS BIGINT) AS tip_commit_ts,
        |  (SELECT COUNT(*) FROM orders
        |   WHERE o_orderkey % 2 = 0 AND o_orderkey % 14 <> 0) AS tip_rows,
        |  l.t AS table_name
        |FROM (VALUES ('snapshot', 'oh_snap'), ('linked', 'oh_linked')) AS l(layout, t)
        |ORDER BY l.t""".stripMargin,

    "snap_sql_widen" ->
      """SELECT o_orderkey % 50 AS bucket,
        |  CAST(SUM(CAST(o_custkey AS INTEGER)) AS BIGINT) AS sum_cust,
        |  CAST(SUM(CAST(o_orderkey % 97 AS INTEGER)) AS BIGINT) AS sum_qty,
        |  l.layout, TRUE AS zero_rewrite, TRUE AS wide_types
        |FROM orders CROSS JOIN (VALUES ('snapshot'), ('linked')) AS l(layout)
        |GROUP BY 1, l.layout ORDER BY l.layout, bucket""".stripMargin,

    "snap_sql_changes_cdf" ->
      """WITH pre AS (
        |  SELECT o_orderkey, o_totalprice, 'update_preimage' AS change_type
        |  FROM orders
        |  WHERE o_orderkey % 5 = 0 AND o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0),
        |post AS (
        |  SELECT o_orderkey, o_totalprice + 10 AS o_totalprice,
        |    'update_postimage' AS change_type
        |  FROM orders
        |  WHERE o_orderkey % 5 = 0 AND o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0),
        |ins AS (
        |  SELECT o_orderkey, o_totalprice + 10 AS o_totalprice,
        |    'insert' AS change_type
        |  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 3 <> 0),
        |del AS (
        |  SELECT o_orderkey, o_totalprice,
        |    'delete' AS change_type
        |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 = 0)
        |SELECT c.o_orderkey, c.o_totalprice, c.change_type,
        |  CAST(2 AS BIGINT) AS _commit_version, l.layout
        |FROM (SELECT * FROM pre UNION ALL SELECT * FROM post
        |      UNION ALL SELECT * FROM ins UNION ALL SELECT * FROM del) c
        |CROSS JOIN (VALUES ('cd_snap'), ('cd_linked')) AS l(layout)
        |ORDER BY l.layout, c.change_type, c.o_orderkey""".stripMargin,

    "snap_fold_dv" ->
      """SELECT o_orderkey % 100 AS bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |    AS sum_price,
        |  TRUE AS mask_folded
        |FROM orders WHERE o_orderkey % 5000 <> 0
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    "snap_sql_restore" ->
      """SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |    AS sum_price,
        |  l.layout, CAST(3 AS BIGINT) AS ver
        |FROM orders CROSS JOIN (VALUES ('rs_snap'), ('rs_linked')) AS l(layout)
        |WHERE o_orderkey % 3 = 0
        |GROUP BY 1, l.layout ORDER BY l.layout, bucket""".stripMargin,

    "snap_sql_changes_ts" ->
      """WITH c2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 7 = 0 THEN NULL
        |         ELSE o_totalprice + 10 END AS o_totalprice,
        |    CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 7 = 0 THEN 'delete'
        |         WHEN o_orderkey % 3 = 0 THEN 'update'
        |         ELSE 'insert' END AS change_type,
        |    CAST(2 AS BIGINT) AS _commit_version
        |  FROM orders
        |  WHERE (o_orderkey % 5 = 0
        |         AND NOT (o_orderkey % 3 = 0 AND o_orderkey % 7 = 0))
        |     OR (o_orderkey % 3 = 0 AND o_orderkey % 7 = 0)),
        |c3 AS (
        |  SELECT o_orderkey, o_totalprice + 3 AS o_totalprice,
        |    CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 7 = 0
        |         THEN 'insert' ELSE 'update' END AS change_type,
        |    CAST(3 AS BIGINT) AS _commit_version
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |feeds AS (
        |  SELECT *, 'range' AS form FROM c2
        |  UNION ALL SELECT *, 'range' AS form FROM c3
        |  UNION ALL SELECT *, 'since' AS form FROM c3)
        |SELECT c.o_orderkey, c.o_totalprice, c.change_type, c._commit_version,
        |  c.form, l.layout
        |FROM feeds c
        |CROSS JOIN (VALUES ('oc_snap'), ('oc_linked')) AS l(layout)
        |ORDER BY l.layout, c.form, c._commit_version, c.change_type,
        |  c.o_orderkey""".stripMargin,

    "snap_sql_evolve" ->
      """SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(CASE WHEN o_orderkey % 5 = 0
        |    THEN o_totalprice + 7.5 ELSE o_totalprice END
        |    AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price,
        |  l.layout, CAST(3 AS BIGINT) AS v1_cols, CAST(2 AS BIGINT) AS tip_cols
        |FROM orders CROSS JOIN (VALUES ('oe_snap'), ('oe_linked')) AS l(layout)
        |GROUP BY 1, l.layout
        |ORDER BY l.layout, bucket""".stripMargin,

    "snap_sql_clone" ->
      """WITH src AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price
        |  FROM orders WHERE o_orderkey % 4 IN (0, 2) GROUP BY 1),
        |cl AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price
        |  FROM orders WHERE o_orderkey % 4 IN (0, 1) GROUP BY 1)
        |SELECT a.bucket, a.n, a.sum_price, a.layout FROM (
        |  SELECT s.*, l.layout FROM src s
        |    CROSS JOIN (VALUES ('oc_snap'), ('oc_linked')) AS l(layout)
        |  UNION ALL
        |  SELECT c.*, l.layout FROM cl c
        |    CROSS JOIN (VALUES ('cc_snap'), ('cc_linked')) AS l(layout)) a
        |ORDER BY a.layout, a.bucket""".stripMargin,

    "snap_sql_stream_write" ->
      """WITH b1 AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 60 = 0 ORDER BY o_orderkey LIMIT 2000),
        |b2b AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 60 = 30 ORDER BY o_orderkey LIMIT 2000),
        |v2 AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(2 AS BIGINT) AS ver
        |  FROM b1 GROUP BY 1),
        |tipset AS (
        |  SELECT o_orderkey, CASE WHEN o_orderkey % 120 = 0
        |    THEN o_totalprice + 3 ELSE o_totalprice END AS o_totalprice FROM b1
        |  UNION ALL SELECT o_orderkey, o_totalprice FROM b2b),
        |tip AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(3 AS BIGINT) AS ver
        |  FROM tipset GROUP BY 1)
        |SELECT a.bucket, a.n, a.sum_price, l.layout, a.ver
        |FROM (SELECT * FROM v2 UNION ALL SELECT * FROM tip) a
        |CROSS JOIN (VALUES ('sw_snap'), ('sw_linked')) AS l(layout)
        |ORDER BY l.layout, a.ver, a.bucket""".stripMargin,

    "snap_sql_history" ->
      """WITH h AS (
        |  SELECT CAST(1 AS BIGINT) AS version, CAST(1000 AS BIGINT) AS commit_ts,
        |    (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) AS n_rows
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), CAST(2000 AS BIGINT),
        |    (SELECT COUNT(*) FROM orders
        |     WHERE o_orderkey % 2 = 0 AND o_orderkey % 14 <> 0))
        |SELECT h.version, h.commit_ts, h.n_rows, l.layout
        |FROM h CROSS JOIN (VALUES ('oh_snap'), ('oh_linked')) AS l(layout)
        |ORDER BY l.layout, h.version""".stripMargin,

    "snap_sql_insert" ->
      """WITH a1 AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(1 AS BIGINT) AS ver
        |  FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1),
        |a2 AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(2 AS BIGINT) AS ver
        |  FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY 1),
        |a3 AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice + 5 AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(3 AS BIGINT) AS ver
        |  FROM orders WHERE o_orderkey % 3 = 2 GROUP BY 1)
        |SELECT l.layout, a.bucket, a.n, a.sum_price, a.ver
        |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2
        |      UNION ALL SELECT * FROM a3) a
        |CROSS JOIN (VALUES ('oi_snap'), ('oi_linked')) AS l(layout)
        |ORDER BY l.layout, a.ver, a.bucket""".stripMargin,

    "snap_sql_create" ->
      """WITH tip AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(2 AS BIGINT) AS ver
        |  FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1),
        |v1 AS (
        |  SELECT CAST(-1 AS BIGINT) AS bucket, CAST(0 AS BIGINT) AS n,
        |    CAST(0.0 AS DOUBLE) AS sum_price, CAST(1 AS BIGINT) AS ver)
        |SELECT a.bucket, a.n, a.sum_price, l.layout, a.ver
        |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM tip) a
        |CROSS JOIN (VALUES ('snapshot'), ('linked')) AS l(layout)
        |ORDER BY l.layout, a.ver, a.bucket""".stripMargin,

    "snap_sql_call" ->
      """WITH meta AS (
        |  SELECT CAST(-1 AS BIGINT) AS bucket, CAST(8 AS BIGINT) AS n,
        |    CAST(0.0 AS DOUBLE) AS sum_price, CAST(1 AS BIGINT) AS ver
        |  UNION ALL
        |  SELECT CAST(-1 AS BIGINT), CAST(2 AS BIGINT),
        |    CAST(0.0 AS DOUBLE), CAST(2 AS BIGINT)
        |  UNION ALL
        |  SELECT CAST(-2 AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(0.0 AS DOUBLE), CAST(2 AS BIGINT)),
        |agg AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(2 AS BIGINT) AS ver
        |  FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1)
        |SELECT bucket, n, sum_price, ver
        |FROM (SELECT * FROM meta UNION ALL SELECT * FROM agg) x
        |ORDER BY ver, bucket""".stripMargin,

    "snap_sql_history_ops" ->
      """WITH upd AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 10 = 0),
        |del AS (SELECT COUNT(*) AS n FROM orders
        |        WHERE o_orderkey % 2 = 0 AND o_orderkey % 14 = 0),
        |ops(layout, version, commit_ts, operation, kind) AS (VALUES
        |  ('ho_snap', CAST(1 AS BIGINT), CAST(1000 AS BIGINT), 'write', 'w'),
        |  ('ho_snap', 2, 2000, 'mergeDelta', 'm'),
        |  ('ho_snap', 3, 3000, 'deleteWhere', 'd'),
        |  ('ho_snap', 4, 4000, 'restoreVersion', 'o'),
        |  ('ho_linked', 1, 1000, 'write', 'w'),
        |  ('ho_linked', 2, 2000, 'mergeDelta', 'm'),
        |  ('ho_linked', 3, 3000, 'deleteWhere', 'd'),
        |  ('ho_linked', 4, 4000, 'compact', 'o'))
        |SELECT layout, version, commit_ts, operation, TRUE AS params_ok,
        |  CAST(CASE WHEN kind = 'm' THEN 0 ELSE -1 END AS BIGINT) AS m_ins,
        |  CAST(CASE WHEN kind = 'm' THEN (SELECT n FROM upd) ELSE -1 END
        |    AS BIGINT) AS m_upd,
        |  CAST(CASE WHEN kind = 'd' THEN (SELECT n FROM del) ELSE -1 END
        |    AS BIGINT) AS m_del
        |FROM ops ORDER BY layout, version""".stripMargin,

    "snap_maintain_agg" ->
      """WITH ev AS (
        |  SELECT o_orderkey AS k, o_custkey, o_totalprice AS p
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |final AS (
        |  SELECT o_custkey,
        |    CASE WHEN k % 12 = 0 THEN p + 7.0
        |         WHEN k % 10 = 0 THEN p + 5.0
        |         ELSE p END AS price
        |  FROM ev WHERE k % 18 <> 0
        |  UNION ALL
        |  SELECT o_custkey, o_totalprice + 3.0
        |  FROM orders WHERE o_orderkey % 6 = 0)
        |SELECT l.layout, f.o_custkey % 20 AS bucket,
        |  ROUND(SUM(f.price), 2) AS sum_price,
        |  COUNT(*) AS n_rows, TRUE AS agrees
        |FROM final f CROSS JOIN (VALUES ('ma_linked'), ('ma_snap')) AS l(layout)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "snap_sql_merge_evolve" ->
      """WITH tip AS (
        |  SELECT o_orderkey, o_totalprice + 100.0 AS p,
        |    o_totalprice + 101.0 AS disc
        |  FROM orders WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, NULL
        |  FROM orders WHERE o_orderkey % 5 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_totalprice + 7.0, o_totalprice + 8.0
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT l.layout, t.o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(t.p AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price,
        |  ROUND(CAST(SUM(CAST(t.disc AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_disc,
        |  COUNT(t.disc) AS n_disc, TRUE AS v1_narrow
        |FROM tip t CROSS JOIN (VALUES ('me_snap'), ('me_linked')) AS l(layout)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "snap_sql_optimize_where" ->
      """WITH agg AS (
        |  SELECT o_orderkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price
        |  FROM orders GROUP BY 1)
        |SELECT l.layout, a.bucket, a.n, a.sum_price,
        |  TRUE AS untouched_verbatim, TRUE AS scoped_subset, TRUE AS folded
        |FROM agg a CROSS JOIN (VALUES ('ow_linked'), ('ow_snap')) AS l(layout)
        |ORDER BY l.layout, a.bucket""".stripMargin,

    "snap_sql_zorder" ->
      """WITH meta AS (
        |  SELECT CAST(-1 AS BIGINT) AS bucket, CAST(8 AS BIGINT) AS n,
        |    CAST(0.0 AS DOUBLE) AS sum_price, CAST(1 AS BIGINT) AS ver
        |  UNION ALL
        |  SELECT CAST(-1 AS BIGINT), CAST(4 AS BIGINT),
        |    CAST(0.0 AS DOUBLE), CAST(2 AS BIGINT)
        |  UNION ALL
        |  SELECT CAST(-2 AS BIGINT), CAST(4 AS BIGINT),
        |    CAST(0.0 AS DOUBLE), CAST(2 AS BIGINT)),
        |agg AS (
        |  SELECT o_custkey % 50 AS bucket, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_price,
        |    CAST(2 AS BIGINT) AS ver
        |  FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1)
        |SELECT bucket, n, sum_price, ver
        |FROM (SELECT * FROM meta UNION ALL SELECT * FROM agg) x
        |ORDER BY ver, bucket""".stripMargin,

    "snap_sql_files" ->
      """SELECT CAST(8 AS BIGINT) AS n_files, CAST(COUNT(*) AS BIGINT) AS total_rows,
        |  MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi,
        |  TRUE AS per_file_ok, TRUE AS disjoint
        |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin,

    "snap_sql_show" ->
      """SELECT * FROM (VALUES
        |  ('column', 'r_name', 'string', CAST(2 AS BIGINT)),
        |  ('column', 'r_regionkey', 'int', CAST(2 AS BIGINT)),
        |  ('namespace', 'ns1', '', CAST(1 AS BIGINT)),
        |  ('table', 'sh_linked', 'ns1', CAST(1 AS BIGINT)),
        |  ('table', 'sh_snap', '', CAST(1 AS BIGINT))) AS t(section, a, b, n)
        |ORDER BY section, a, b""".stripMargin,

    "snap_orphan_audit" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS tip_rows, TRUE AS clean_before,
        |  TRUE AS orphan_found, TRUE AS clean_after
        |FROM orders""".stripMargin,

    "snap_pool_parity_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS repaired_ok,
        |  TRUE AS restored_ok
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin,

    "snap_pool_mirror_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS healed_ok,
        |  TRUE AS restored_ok
        |FROM documents WHERE doc_id % 2 = 1""".stripMargin,

    "snap_linked_merge" ->
      """WITH survived AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 19 = 2 THEN o_totalprice + 700
        |         WHEN o_orderkey % 17 = 5 THEN o_totalprice + 500
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 19 = 2
        |     OR NOT (o_orderkey % 23 = 9 AND o_orderkey % 17 <> 5)),
        |ins AS (
        |  SELECT o_orderkey + 30000000 AS o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 29 = 3),
        |merged AS (SELECT * FROM survived UNION ALL SELECT * FROM ins)
        |SELECT o_orderkey % 100 AS bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price
        |FROM merged GROUP BY 1 ORDER BY bucket""".stripMargin,

    "snap_linked_branch" ->
      """WITH v2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 17 = 5 THEN o_totalprice + 500
        |         ELSE o_totalprice END AS p
        |  FROM orders
        |  WHERE NOT (o_orderkey % 23 = 9 AND o_orderkey % 17 <> 5)),
        |v21 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 31 = 7 THEN p + 900.0 ELSE p END AS p
        |  FROM v2)
        |SELECT o_orderkey % 100 AS bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(p AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price
        |FROM v21 GROUP BY 1 ORDER BY bucket""".stripMargin,

    "snap_linked_diff" ->
      """SELECT o_orderkey, o_custkey, o_totalprice + 700 AS o_totalprice,
        |  CASE WHEN o_orderkey % 23 = 9 AND o_orderkey % 17 <> 5
        |    THEN 'insert' ELSE 'update' END AS change_type
        |FROM orders WHERE o_orderkey % 19 = 2
        |UNION ALL
        |SELECT o_orderkey + 30000000 AS o_orderkey, o_custkey, o_totalprice, 'insert'
        |FROM orders WHERE o_orderkey % 29 = 3
        |ORDER BY o_orderkey""".stripMargin,

    "snap_merge_cow" ->
      """WITH delta AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 13 = 4
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 29 = 7),
        |dels AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderkey % 31 = 11 AND o_orderkey % 13 <> 4),
        |merged AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
        |    AND o_orderkey NOT IN (SELECT o_orderkey FROM dels)
        |  UNION ALL
        |  SELECT * FROM delta)
        |SELECT o_orderkey % 100 AS bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price
        |FROM merged GROUP BY 1 ORDER BY bucket""".stripMargin,

    "snap_concurrent_merge" ->
      """WITH after_a AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 13 = 4 THEN o_totalprice + 1000
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |after_b AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 17 = 6 AND o_orderkey % 13 <> 4
        |         THEN o_totalprice + 250 ELSE o_totalprice END AS o_totalprice
        |  FROM after_a
        |  UNION ALL
        |  SELECT o_orderkey + 30000000, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 29 = 7)
        |SELECT o_orderkey % 100 AS bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price,
        |  TRUE AS serialized_ok
        |FROM after_b GROUP BY 1 ORDER BY bucket""".stripMargin,

    "snap_read_asof" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 13 = 4 THEN o_totalprice + 1000
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE NOT (o_orderkey % 31 = 11 AND o_orderkey % 13 <> 4))
        |SELECT o_orderkey % 100 AS bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price
        |FROM merged GROUP BY 1 ORDER BY bucket""".stripMargin,

    "snap_delete_where" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
        |WHERE NOT (o_totalprice > 150000.0 AND o_orderstatus <> 'F')
        |ORDER BY o_orderkey""".stripMargin,

    "snap_delete_dv" ->
      """SELECT o_orderkey % 100 AS bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |    AS sum_price,
        |  TRUE AS zero_rewrite
        |FROM orders WHERE o_orderkey % 5000 <> 0
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    "snap_sql_stats" ->
      """WITH s AS (
        |  SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
        |    COUNT(*) - COUNT(o_orderkey) AS n_nulls,
        |    COUNT(DISTINCT o_orderkey) AS ndv,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS min_str,
        |    CAST(MAX(o_orderkey) AS VARCHAR) AS max_str FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
        |    COUNT(DISTINCT o_custkey),
        |    CAST(MIN(o_custkey) AS VARCHAR),
        |    CAST(MAX(o_custkey) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
        |    COUNT(DISTINCT o_orderstatus),
        |    CAST(MIN(o_orderstatus) AS VARCHAR),
        |    CAST(MAX(o_orderstatus) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
        |    COUNT(DISTINCT o_orderpriority),
        |    CAST(MIN(o_orderpriority) AS VARCHAR),
        |    CAST(MAX(o_orderpriority) AS VARCHAR) FROM orders)
        |SELECT 'linked' AS layout, col_name, n_rows, n_nulls, ndv,
        |       min_str, max_str FROM s
        |UNION ALL
        |SELECT 'snapshot', col_name, n_rows, n_nulls, ndv, min_str, max_str
        |FROM s
        |ORDER BY layout, col_name""".stripMargin,

    "snap_constraints" ->
      """WITH t AS (SELECT CASE WHEN o_orderkey % 97 = 0
        |                       THEN o_totalprice + 1.0
        |                       ELSE o_totalprice END AS p FROM orders),
        |a AS (SELECT COUNT(*) AS n,
        |        ROUND(CAST(SUM(CAST(p AS DECIMAL(12,2))) AS DOUBLE), 2)
        |          AS sum_price,
        |        CAST(0 AS BIGINT) AS violations, TRUE AS blocked FROM t)
        |SELECT 'linked' AS layout, n, sum_price, violations, blocked FROM a
        |UNION ALL SELECT 'snapshot', n, sum_price, violations, blocked FROM a
        |ORDER BY layout""".stripMargin,

    "snap_sql_partition" ->
      """WITH p AS (SELECT o_orderpriority, COUNT(*) AS n_rows
        |           FROM orders WHERE o_orderpriority <> '5-LOW' GROUP BY 1)
        |SELECT 'linked' AS layout, o_orderpriority, n_rows,
        |       TRUE AS history_intact FROM p
        |UNION ALL
        |SELECT 'snapshot', o_orderpriority, n_rows, TRUE FROM p
        |ORDER BY layout, o_orderpriority""".stripMargin,

    "snap_partitions" ->
      """WITH p AS (SELECT o_orderpriority, COUNT(*) AS n_rows
        |           FROM orders GROUP BY 1)
        |SELECT 'linked' AS layout, o_orderpriority, n_rows,
        |       TRUE AS files_bounded FROM p
        |UNION ALL
        |SELECT 'snapshot', o_orderpriority, n_rows, TRUE FROM p
        |ORDER BY layout, o_orderpriority""".stripMargin,

    "snap_replace_where" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(CASE WHEN o_orderpriority = '2-HIGH'
        |                           THEN o_totalprice + 1000.0
        |                           ELSE o_totalprice END
        |                      AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price,
        |  TRUE AS zero_copy
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    "snap_drop_partition" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |    AS sum_price,
        |  TRUE AS zero_write
        |FROM orders WHERE o_orderpriority <> '3-MEDIUM'
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    "snap_partition_evolve" ->
      """WITH y95 AS (
        |  SELECT o_orderkey % 20 AS bucket, o_totalprice
        |  FROM orders
        |  WHERE (o_orderkey % 3 = 0 OR o_orderkey % 3 = 1)
        |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate <= TIMESTAMP '1995-12-31 23:59:59')
        |SELECT l.layout, bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |    AS sum_price,
        |  TRUE AS prune_ok, TRUE AS drop_refused
        |FROM y95 CROSS JOIN (VALUES ('pe_linked'), ('pe_snap')) AS l(layout)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "snap_sql_partition_time" ->
      """SELECT COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |    AS sum_price,
        |  l.layout, TRUE AS prune_exact, TRUE AS hidden_col
        |FROM orders CROSS JOIN (VALUES ('snapshot'), ('linked')) AS l(layout)
        |WHERE o_orderdate >= DATE '1995-06-01' AND o_orderdate <= DATE '1995-06-30'
        |GROUP BY l.layout ORDER BY l.layout""".stripMargin,

    "snap_partition_prune" ->
      """WITH u AS (SELECT COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |    AS sum_price
        |  FROM orders WHERE o_orderpriority = '1-URGENT')
        |SELECT 'linked' AS layout, n, sum_price, TRUE AS exact_prune FROM u
        |UNION ALL SELECT 'snapshot', n, sum_price, TRUE FROM u
        |ORDER BY layout""".stripMargin,

    "snap_zorder_part" ->
      """SELECT COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |    AS sum_price,
        |  TRUE AS partition_exact, TRUE AS z_skipped
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |  AND o_custkey BETWEEN 100 AND 500
        |  AND o_totalprice BETWEEN 50000.0 AND 150000.0""".stripMargin,

    "snap_bloom_index" ->
      """WITH t AS (SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY 1),
        |pick AS (SELECT o_custkey FROM t ORDER BY c, o_custkey LIMIT 1),
        |r AS (SELECT COUNT(*) AS n,
        |        ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |              AS DOUBLE), 2) AS sum_price
        |      FROM orders WHERE o_custkey = (SELECT o_custkey FROM pick))
        |SELECT 'linked' AS layout, n, sum_price, TRUE AS skipped FROM r
        |UNION ALL SELECT 'snapshot', n, sum_price, TRUE FROM r
        |ORDER BY layout""".stripMargin,

    "snap_cdc_apply" ->
      """WITH v1 AS (SELECT o_orderkey AS k, o_custkey AS c, o_totalprice AS p
        |            FROM orders WHERE o_orderkey % 2 = 0),
        |v2 AS (SELECT k, c, CASE WHEN k % 30 = 0 THEN p + 10.0 ELSE p END AS p
        |       FROM v1
        |       UNION ALL
        |       SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |       WHERE o_orderkey % 2 = 1 AND o_orderkey % 5 = 0),
        |v3 AS (SELECT * FROM v2 WHERE k % 44 <> 0)
        |SELECT k % 100 AS bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(p AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price,
        |  TRUE AS sync_ok
        |FROM v3 GROUP BY 1 ORDER BY bucket""".stripMargin,

    "snap_merge_mor" ->
      """SELECT o_orderkey % 100 AS bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(CASE WHEN o_orderkey % 7000 = 0
        |                           THEN o_totalprice + 50.0
        |                           ELSE o_totalprice END
        |                      AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price,
        |  TRUE AS zero_rewrite
        |FROM orders WHERE o_orderkey % 9000 <> 0
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    "snap_update_mor" ->
      """SELECT o_orderkey % 100 AS bucket, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(CASE WHEN o_orderkey % 5000 = 0
        |                           THEN o_totalprice + 100.0
        |                           ELSE o_totalprice END
        |                      AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price,
        |  TRUE AS zero_rewrite
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "snap_hll_gate" ->
      """SELECT l_returnflag, TRUE AS within_5pct FROM lineitem GROUP BY 1
        |UNION ALL SELECT 'ALL', TRUE
        |ORDER BY l_returnflag""".stripMargin,

    "snap_cdc_gate" ->
      """SELECT CAST(1 AS BIGINT) AS n_rows, TRUE AS reuse_ok""".stripMargin,

    "snap_restore_zorder" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
        |WHERE o_custkey BETWEEN 100 AND 400
        |  AND o_orderdate BETWEEN '1997-01-01' AND '1998-01-01'
        |ORDER BY o_orderkey""".stripMargin,

    "snap_retention" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY user_id, event_id""".stripMargin,

    "snap_retention_gfs" ->
      """WITH snaps AS (SELECT DISTINCT CAST(ts AS DATE) AS snap_date FROM events),
        |g AS (SELECT snap_date,
        |        CAST(date_trunc('week', snap_date) AS DATE) AS wk,
        |        CAST(date_trunc('month', snap_date) AS DATE) AS mo
        |      FROM snaps),
        |r AS (SELECT snap_date,
        |        DENSE_RANK() OVER (ORDER BY snap_date DESC) AS day_rank,
        |        (ROW_NUMBER() OVER (PARTITION BY wk ORDER BY snap_date DESC) = 1) AS wk_last,
        |        DENSE_RANK() OVER (ORDER BY wk DESC) AS wk_rank,
        |        (ROW_NUMBER() OVER (PARTITION BY mo ORDER BY snap_date DESC) = 1) AS mo_last,
        |        DENSE_RANK() OVER (ORDER BY mo DESC) AS mo_rank
        |      FROM g)
        |SELECT snap_date,
        |  (day_rank <= 7) AS keep_daily,
        |  (wk_last AND wk_rank <= 4) AS keep_weekly,
        |  (mo_last AND mo_rank <= 12) AS keep_monthly,
        |  ((day_rank <= 7) OR (wk_last AND wk_rank <= 4)
        |    OR (mo_last AND mo_rank <= 12)) AS keep
        |FROM r ORDER BY snap_date""".stripMargin,

    "snap_retention_time" ->
      """WITH tip AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderkey % 2 = 0 AND o_orderkey % 30 <> 0),
        |layouts(layout) AS (VALUES ('rt_snap'), ('rt_linked')),
        |hist(ver, commit_ts) AS (VALUES
        |  (CAST(3 AS BIGINT), CAST(3000 AS BIGINT)), (4, 4000)),
        |agg AS (
        |  SELECT l.layout, CAST(-1 AS BIGINT) AS ver,
        |    CAST(-1 AS BIGINT) AS commit_ts,
        |    o_orderkey % 10 AS bucket, COUNT(*) AS n
        |  FROM tip CROSS JOIN layouts l GROUP BY 1, 4)
        |SELECT layout, ver, commit_ts, TRUE AS refused_held,
        |  CAST(2 AS BIGINT) AS n_pruned, CAST(-1 AS BIGINT) AS bucket,
        |  CAST(0 AS BIGINT) AS n
        |FROM hist CROSS JOIN layouts
        |UNION ALL
        |SELECT layout, ver, commit_ts, TRUE, 2, bucket, n FROM agg
        |ORDER BY layout, ver, bucket""".stripMargin,

    "snap_bloom_prune" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "snap_validate" ->
      """WITH dst AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |    CASE WHEN l_orderkey % 997 = 0 AND l_returnflag = 'N'
        |      THEN CAST(CAST(l_extendedprice AS DECIMAL(12,2)) + CAST(1 AS DECIMAL(4,2)) AS DOUBLE)
        |      ELSE l_extendedprice END AS l_extendedprice,
        |    l_discount, l_returnflag, l_linestatus
        |  FROM lineitem
        |  WHERE NOT (l_returnflag = 'R' AND l_linestatus = 'F')
        |    AND NOT (l_orderkey % 1009 = 0 AND l_returnflag = 'A')),
        |fp_src AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST('0x' || substr(md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
        |      CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR),
        |      CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR),
        |      CAST(CAST(l_discount AS DECIMAL(4,2)) AS VARCHAR))), 1, 15) AS BIGINT) AS fp64
        |  FROM lineitem),
        |fp_dst AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST('0x' || substr(md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
        |      CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR),
        |      CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR),
        |      CAST(CAST(l_discount AS DECIMAL(4,2)) AS VARCHAR))), 1, 15) AS BIGINT) AS fp64
        |  FROM dst),
        |ms AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS src_rows, bit_xor(fp64) AS src_hash
        |  FROM fp_src GROUP BY 1, 2),
        |mt AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS dst_rows, bit_xor(fp64) AS dst_hash
        |  FROM fp_dst GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, src_rows, dst_rows,
        |  CASE WHEN dst_rows IS NULL THEN 'missing_in_target'
        |    WHEN src_rows IS NULL THEN 'missing_in_source'
        |    WHEN src_rows <> dst_rows THEN 'row_count_mismatch'
        |    WHEN src_hash <> dst_hash THEN 'content_mismatch'
        |    ELSE 'ok' END AS status
        |FROM ms FULL OUTER JOIN mt USING (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
  )
}
