package graftbench

/** Per-layer metrics of a traced run, from the span ledger. Every name
  * is always present (0 when the workload never calls that layer), so
  * both workloads report the same set. Store and catalog calls report
  * per call (median self seconds, mean counts); everything else reports
  * per round (a backup lifecycle or an analytics pass). Spark and
  * filesystem totals count only work inside timed operations; checks
  * between operations are excluded. */
object Layers {
  val Layouts = Seq("ManifestStore", "SnapshotStore")
  /** Span names are `<layout>.<verb>`. `SnapshotStore.validate` wraps
    * `restoreAndValidate`; `<layout>.vacuum` wraps prune plus vacuum. */
  val StoreVerbs = Seq("write", "mergeDelta", "deleteWhere", "compact", "validate", "vacuum",
    "read", "readKeyRange", "diffCdf")
  /** Verbs that write data files (their bytes_written is reported). */
  val WriteVerbs = Set("write", "mergeDelta", "deleteWhere", "compact")
  val Modules = Seq("Graph", "Dedup", "Similarity", "TextAnalysis", "Pipeline", "Relational", "Events")

  private def metaOps(fs: Array[Long]): Long =
    Seq("list", "status", "create", "rename", "delete").map(n => fs(CountingFs.Names.indexOf(n))).sum

  def metrics(selfs: Seq[Probe#Self], probe: Probe, rounds: Double): Map[String, Double] = {
    val byName = selfs.groupBy(_.span.name)
    def calls(n: String) = byName.getOrElse(n, Nil)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Main.median(xs)
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (layout <- Layouts; verb <- StoreVerbs) {
      val xs = calls(s"$layout.$verb")
      val k = s"$layout.$verb"
      m(s"$k.self_s") = med(xs.map(_.selfS))
      if (verb != "vacuum") m(s"$k.jobs") = mean(xs.map(_.jobs.toDouble)) // vacuum runs no jobs
      m(s"$k.fs_meta_ops") = mean(xs.map(x => metaOps(x.fs).toDouble))
      if (WriteVerbs(verb)) m(s"$k.bytes_written") = mean(xs.map(_.bytesWritten.toDouble))
    }
    val perRound = if (rounds > 0) rounds else 1.0
    def total(f: Probe#Self => Double) = selfs.map(f).sum / perRound
    def fsTotal(n: String) = total(_.fs(CountingFs.Names.indexOf(n)).toDouble)
    val lookups = fsTotal("manifest_list")
    val misses = fsTotal("manifest_open")
    m("ManifestCache.lookups") = lookups
    m("ManifestCache.miss_reads") = misses
    m("ManifestCache.hit_ratio") = if (lookups == 0) 0.0 else math.max(0.0, 1.0 - misses / lookups)
    m("SnapshotCatalog.plan_s") = med(calls("SnapshotCatalog.plan").map(_.selfS))
    m("SnapshotCatalog.run_s") = med(calls("SnapshotCatalog.run").map(_.selfS))
    m("StreamOps.linkedMergeStream.self_s") = med(calls("StreamOps.linkedMergeStream").map(_.selfS))
    // measured by the workload itself (mergeDelta's return value, the
    // streaming progress reports)
    for (n <- Seq("ManifestStore.mergeDelta.files_carried_ratio", "StreamOps.batches") ++
        Seq("batch_s", "query_planning_s", "wal_commit_s", "add_batch_s").map("ChangeFeed.stream." + _))
      m(n) = probe.values.getOrElse(n, 0.0)
    for (mod <- Modules) {
      def sum(phase: String, f: Probe#Self => Double) = calls(s"$mod.$phase").map(f).sum / perRound
      m(s"$mod.build_s") = sum("build", _.selfS)
      m(s"$mod.run_s") = sum("plan", _.selfS) + sum("run", _.selfS)
      m(s"$mod.jobs_build") = sum("build", _.jobs.toDouble)
      m(s"$mod.jobs_run") = sum("plan", _.jobs.toDouble) + sum("run", _.jobs.toDouble)
    }
    m("spark.jobs") = total(_.jobs.toDouble)
    m("spark.stages") = total(_.stages.toDouble)
    m("spark.tasks") = total(_.tasks.toDouble)
    m("spark.shuffle_read_bytes") = total(_.shuffleRead.toDouble)
    m("spark.shuffle_write_bytes") = total(_.shuffleWrite.toDouble)
    m("spark.spill_bytes") = total(_.spill.toDouble)
    for (n <- Seq("list", "open", "status", "create", "rename", "delete")) m(s"fs.$n") = fsTotal(n)
    m ++= probe.jvmCounters()
    m.toMap
  }
}
