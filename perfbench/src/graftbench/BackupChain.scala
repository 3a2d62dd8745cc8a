package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ManifestStore, SnapshotStore}
import graft.streaming.StreamOps

/** `backup_chain`: the paper's backup lifecycle on both store layouts,
  * on fresh stores, so every commit cost is paid:
  *  1. full version write (and the replica's full copy),
  *  2. K seeded incremental commits (mergeDelta, half scattered, half
  *     clustered), then one deleteWhere,
  *  3. a replica syncs from the linked source's `.changes` feed through
  *     `StreamOps.linkedMergeStream` (maxVersionsPerTrigger=1),
  *  4. validate / restoreAndValidate,
  *  5. time-travel reads of the chain on both layouts in a seeded order:
  *     full `read(v)` to the noop sink, `readKeyRange`, `diffCdf`, SQL
  *     `VERSION AS OF v` and SQL `.changes VERSION AS OF 'v..tip'`,
  *  6. compact, prune and vacuum.
  * Commit, sync and read costs are thus measured on the same stores.
  * Lifecycles repeat until the run's seconds are spent. */
object BackupChain {
  import Main.{Ctx, Outcome, median}

  /** Rows of the base table (TPC-H lineitem at sf0.01). */
  val Rows = 60000L
  /** Incremental merges per lifecycle (then one delete). */
  val Merges = 2
  /** Keys each merge touches (1% of the rows). */
  val DeltaRows = 600L
  /** Files per full version. */
  val Files = 4

  /** Expected content of one version, derived declaratively from the
    * generated frames: rows, XOR content hash, and the change rows of
    * the commit that made it (inserts, updates, deletes). */
  final case class Expected(rows: Long, hash: Long, inserts: Long, updates: Long, deletes: Long) {
    /** `diffCdf` rows by change_type. */
    def cdf: Map[String, Long] = Map("insert" -> inserts, "update_preimage" -> updates,
      "update_postimage" -> updates, "delete" -> deletes).filter(_._2 > 0)
    /** Rows of the row-state `.changes` feed for this commit. */
    def changes: Long = inserts + updates + deletes
  }

  final case class Inputs(base: DataFrame, commits: Seq[Gen.Commit]) {
    def tip: Long = commits.size + 1L
    /** The declarative content of every version: v1 = base, then each
      * commit applied in order. Materialised once, since every check
      * scans them. */
    lazy val tips: Seq[DataFrame] = commits.scanLeft(base.localCheckpoint())((cur, c) =>
      Gen.expectedTip(cur, Seq(c)).localCheckpoint())
    /** Every version's expected rows, hash and change counts. */
    lazy val versions: Map[Long, Expected] = tips.zipWithIndex.map { case (df, i) =>
      val (rows, hash) = Gen.contentHash(df, Gen.LineitemCols)
      val (ins, upd, del) = if (i == 0) (rows, 0L, 0L) else commits(i - 1) match {
        case Gen.Merge(_, d) =>
          val u = d.join(tips(i - 1).select(Gen.Key), Seq(Gen.Key)).count()
          (d.count() - u, u, 0L)
        case d: Gen.Delete => (0L, 0L, tips(i - 1).filter(d.pred).count())
      }
      (i + 1L) -> Expected(rows, hash, ins, upd, del)
    }.toMap
  }

  /** Writes the seeded inputs as parquet (an export from the source
    * system) and reads them back, so the stores receive plain frames. */
  def inputs(spark: SparkSession, seed: Long, n: Long, k: Int, deltaRows: Long,
      dir: String): Inputs = {
    Gen.lineitem(spark, seed, n).write.mode("overwrite").parquet(s"$dir/base")
    val commits = Gen.commits(spark, seed, n, k, deltaRows).map {
      case Gen.Merge(l, d) =>
        d.write.mode("overwrite").parquet(s"$dir/$l")
        Gen.Merge(l, spark.read.parquet(s"$dir/$l"))
      case del => del
    }
    Inputs(spark.read.parquet(s"$dir/base"), commits)
  }

  /** The two layouts behind one read interface. */
  final case class Layout(name: String, table: String, read: Long => DataFrame,
      readKeyRange: (Long, Long, Long) => DataFrame, diffCdf: (Long, Long) => DataFrame)

  /** One lifecycle on fresh stores under `root`. */
  def lifecycle(ctx: Ctx, in: Inputs, root: String, catalog: String): Unit = {
    val spark = ctx.spark
    val p = ctx.probe
    val rnd = new scala.util.Random(ctx.seed)
    def check(name: String)(ok: => Boolean, detail: => String): Unit =
      p.check(s"backup_chain $name")(ok, detail): Unit
    val linked = new ManifestStore(spark, s"$root/linked", Gen.Key)
    val snap = new SnapshotStore(spark, s"$root/snap", Gen.Key)
    val replica = new ManifestStore(spark, s"$root/replica", Gen.Key)
    val tip = in.tip

    // 1-2. full version, then the incremental commits
    p.op("write", "ManifestStore.write")(linked.write(in.base, 1L, Files))
    p.op("write", "SnapshotStore.write")(snap.writeRangePartitioned(in.base, 1L, Files))
    val carried = ArrayBuffer[Double]()
    in.commits.zipWithIndex.foreach { case (c, i) =>
      val (from, to) = (i + 1L, i + 2L)
      c match {
        case Gen.Merge(label, d) =>
          val kind = if (label.startsWith("scattered")) "commit_scattered" else "commit_clustered"
          p.op(kind, "ManifestStore.mergeDelta")(linked.mergeDelta(from, to, d))
            .foreach { case (shared, rewritten) =>
              if (shared + rewritten > 0) carried += shared.toDouble / (shared + rewritten) }
          p.op(kind, "SnapshotStore.mergeDelta")(snap.mergeDelta(from, to, d))
        case del: Gen.Delete =>
          p.op("commit_delete", "ManifestStore.deleteWhere")(linked.deleteWhere(from, to, del.pred))
          p.op("commit_delete", "SnapshotStore.deleteWhere")(snap.deleteWhere(from, to, del.pred))
      }
    }
    if (carried.nonEmpty)
      p.values("ManifestStore.mergeDelta.files_carried_ratio") = carried.sum / carried.size

    // 3. the replica: full copy of v1, then sync through the change feed
    p.op("write", "ManifestStore.write")(replica.write(linked.read(1L), 1L, Files))
    p.op("sync", "StreamOps.linkedMergeStream") {
      val feed = spark.readStream.option("startingVersion", "2")
        .option("maxVersionsPerTrigger", "1")
        .table(s"$catalog.linked.changes")
      val q = StreamOps.linkedMergeStream(feed, replica, Gen.Key, s"$root/_ckpt",
        seqCol = Some("_commit_version"))
      try {
        q.processAllAvailable()
        q.exception.foreach(e => throw e)
      } finally q.stop()
      val batches = q.recentProgress.filter(_.numInputRows > 0).toSeq
      def ms(b: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
        Option(b.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      p.batchSpans(q.runId, "ChangeFeed.stream.batch")
      p.record("backup.sync_version_s", batches.map(ms(_, "triggerExecution") / 1000.0))
      p.values("StreamOps.batches") = batches.size.toDouble
      Seq("batch_s" -> "triggerExecution", "query_planning_s" -> "queryPlanning",
        "wal_commit_s" -> "walCommit", "add_batch_s" -> "addBatch").foreach { case (n, k) =>
        p.values(s"ChangeFeed.stream.$n") = median(batches.map(ms(_, k) / 1000.0)) }
    }

    // 4. validation (the snapshot layout's validate verb is restoreAndValidate)
    val fp = (d: DataFrame) => graft.functions.Fx.fingerprint(Gen.LineitemCols.map(d(_)): _*)
    Seq(
      "ManifestStore.validate" -> (() => linked.validate(tip)),
      "SnapshotStore.validate" -> (() =>
        snap.restoreAndValidate(tip, s"$root/restore", Seq("l_returnflag"), fp))
    ).foreach { case (layer, report) =>
      p.op("validate", layer)(report().select("status").collect().map(_.getString(0)).toSeq)
        .foreach(st => check(s"$layer status")(st.nonEmpty && st.forall(_ == "ok"),
          s"statuses ${st.distinct}"))
    }

    // 5. time-travel reads, both layouts, layouts and kinds in a seeded
    // order. The versions are fixed: v is the tip's parent (the last
    // merge), diffCdf reads that merge and .changes the last two commits.
    // A read's cost depends on how many files and versions it covers, so
    // seeded versions would add that to the spread between seeds; the
    // key range stays seeded.
    val v = tip - 1
    val layouts = Seq(
      Layout("ManifestStore", s"$catalog.linked", linked.read, linked.readKeyRange(_, _, _),
        linked.diffCdf),
      Layout("SnapshotStore", s"$catalog.snap", snap.read, snap.readKeyRange(_, _, _),
        snap.diffCdf))
    val maxKey = in.versions(1L).rows * 2
    rnd.shuffle(layouts).foreach { l =>
      val width = maxKey / 50
      val lo = (rnd.nextDouble() * (maxKey - width)).toLong
      rnd.shuffle(ReadKinds).foreach {
        case "read.version" =>
          p.op("read.version", s"${l.name}.read")(
            l.read(v).write.format("noop").mode("overwrite").save())
        case "read.keyrange" =>
          p.op("read.keyrange", s"${l.name}.readKeyRange")(
            l.readKeyRange(v, lo, lo + width).agg(count(lit(1))).head().getLong(0))
            .foreach { got =>
              val want = in.tips((v - 1).toInt).filter(col(Gen.Key).between(lo, lo + width)).count()
              check(s"${l.name} readKeyRange v$v rows")(got == want, s"got $got, want $want")
            }
        case "read.cdf" =>
          p.op("read.cdf", s"${l.name}.diffCdf")(
            counts(l.diffCdf(v - 1, v).groupBy("change_type").count().collect()))
            .foreach(got => check(s"${l.name} diffCdf($v) rows")(got == in.versions(v).cdf,
              s"got $got, want ${in.versions(v).cdf}"))
        case "read.sql_asof" =>
          p.op("read.sql_asof", "SnapshotCatalog.sql_asof")(
            sql(ctx, s"SELECT count(*), sum(l_extendedprice) FROM ${l.table} VERSION AS OF $v"))
            .foreach(r => check(s"${l.name} SQL VERSION AS OF $v rows")(
              r.head.getLong(0) == in.versions(v).rows,
              s"got ${r.head.getLong(0)}, want ${in.versions(v).rows}"))
        case "read.sql_changes" =>
          val want = (v to tip).map(in.versions(_).changes).sum
          p.op("read.sql_changes", "SnapshotCatalog.sql_changes")(
            sql(ctx, s"SELECT change_type, count(*) FROM ${l.table}.changes " +
              s"VERSION AS OF '$v..$tip' GROUP BY change_type"))
            .foreach(r => check(s"${l.name} SQL changes $v..$tip rows")(
              r.map(_.getLong(1)).sum == want, s"got ${counts(r)}, want $want rows"))
      }
    }

    // every tip equals the declarative base ∪ upserts − deletes
    val want = in.versions(tip)
    def matches(df: => DataFrame): Boolean =
      Gen.contentHash(df, Gen.LineitemCols) == (want.rows, want.hash)
    check("linked tip content")(matches(linked.read(tip)), "hash differs from expected")
    check("snapshot tip content")(matches(snap.read(tip)), "hash differs from expected")
    check("replica tip content")(replica.latestVersion().contains(tip) && matches(replica.read(tip)),
      s"replica at ${replica.latestVersion()}, source tip $tip")

    // 6. maintenance, one operation per layout: compact the tip, keep
    // only it, reclaim the rest
    p.op("maintain", "ManifestStore.maintain") {
      p.span("ManifestStore.compact")(linked.compact(tip, tip + 1))
      p.span("ManifestStore.vacuum")(linked.prune(Seq(tip + 1))) // prune vacuums the pool
    }
    p.op("maintain", "SnapshotStore.maintain") {
      p.span("SnapshotStore.compact")(snap.compact(tip))
      p.span("SnapshotStore.vacuum") { snap.prune(1); snap.vacuum(0L) }
    }
    check("tips after maintenance")(matches(linked.read(tip + 1)) && matches(snap.read(tip)),
      "maintenance changed the tip's content")
    val plain = s"$root/plain"
    p.must("plain parquet copy of the tip")(in.tips.last.write.mode("overwrite").parquet(plain))
    p.record("backup.stored_bytes_per_user_byte", Seq(
      (du(new File(s"$root/linked")) + du(new File(s"$root/snap"))) / 2.0 / du(new File(plain))))
  }

  val ReadKinds = Seq("read.version", "read.keyrange", "read.cdf", "read.sql_asof", "read.sql_changes")

  private def counts(rows: Array[Row]): Map[String, Long] =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap

  /** A SQL read split into its two layers: planning (parse, catalog
    * resolution and optimisation, forced through `executedPlan`) and run. */
  def sql(ctx: Ctx, text: String): Array[Row] = {
    val df = ctx.probe.span("SnapshotCatalog.plan") {
      val d = ctx.spark.sql(text)
      d.queryExecution.executedPlan
      d
    }
    ctx.probe.span("SnapshotCatalog.run")(df.collect())
  }

  /** Bytes of data files under `f` (checksums excluded). */
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else if (f.getName.endsWith(".crc")) 0L else f.length()

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val root = ctx.dir("backup_chain")
    Dirs.wipe(root)
    // warm-up: a mini-chain (write, merges, delete) on throwaway stores of
    // both layouts, and one read to the noop sink. It runs first, so the
    // set-up samples are warm too.
    ctx.probe.must("warm-up") {
      val warm = inputs(spark, ctx.seed + 1, 2000L, 1, 20L, s"$root/warm_in")
      val linked = new ManifestStore(spark, s"$root/warm/linked", Gen.Key)
      val snap = new SnapshotStore(spark, s"$root/warm/snap", Gen.Key)
      linked.write(warm.base, 1L, Files)
      snap.writeRangePartitioned(warm.base, 1L, Files)
      warm.commits.zipWithIndex.foreach {
        case (Gen.Merge(_, d), i) =>
          linked.mergeDelta(i + 1L, i + 2L, d)
          snap.mergeDelta(i + 1L, i + 2L, d)
        case (del: Gen.Delete, i) =>
          linked.deleteWhere(i + 1L, i + 2L, del.pred)
          snap.deleteWhere(i + 1L, i + 2L, del.pred)
      }
      linked.read(warm.tip).write.format("noop").mode("overwrite").save()
    }
    Main.phase("warm-up")
    // set-up, three times: the seeded inputs
    val setups = (0 until 3).map { i =>
      val t = System.nanoTime()
      val in = inputs(spark, ctx.seed, Rows, Merges, DeltaRows, s"$root/in$i")
      ((System.nanoTime() - t) / 1e9, in)
    }
    val in = setups.last._2
    Main.phase("set-up")
    ctx.probe.must("expected versions")(in.versions)
    Main.phase("expectations")

    ctx.probe.startTimed()
    val rounds = Main.loopFor(ctx.seconds, 1) { r =>
      val dir = s"$root/r$r"
      catalog(spark, s"bc$r", dir)
      val before = ctx.probe.opSeconds
      lifecycle(ctx, in, dir, s"bc$r")
      ctx.probe.record("round_s", Seq(ctx.probe.opSeconds - before))
    }
    Main.phase("timed")
    ctx.probe.values("rounds") = rounds
    ctx.probe.values("backup.base_rows") = Rows.toDouble
    Outcome(setups.map(_._1))
  }

  def catalog(spark: SparkSession, name: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[org.apache.spark.sql.graft.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
  }
}

object Dirs {
  def wipe(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(): Unit
    }
    rm(new File(path))
  }
}
