package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Entry point of graft's benchmark (see perfbench/README.md).
  *
  * {{{
  *   Main --workload <backup_chain|lake_analytics>
  *        --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  * }}}
  * Writes one JSON result to `--out`; `perfbench/run.py` turns it into
  * the printed metrics and verdict. */
object Main {
  /** What a workload hands back besides the probe's samples. */
  final case class Outcome(setupS: Seq[Double], notes: Map[String, String] = Map.empty)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = new File(need("work")).getAbsoluteFile
    val out = new File(need("out"))
    require(Workloads.contains(workload), s"unknown workload $workload")

    val t0 = System.nanoTime()
    val spark = session(work, traced)
    val sessionS = (System.nanoTime() - t0) / 1e9
    phase("session")
    val probe = new Probe(spark, traced)
    val loadStart = loadavg()
    val outcome = Workloads(workload)(Ctx(spark, probe, seed, seconds, work))
    val loadEnd = loadavg()

    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> (if (traced) 1 else 0),
      "attempted" -> probe.attempted, "failed" -> probe.failed, "failures" -> probe.failures.toList,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_cores" -> spark.sparkContext.defaultParallelism,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd, "session_s" -> sessionS,
      "setup_samples_s" -> outcome.setupS.toList,
      "samples_s" -> probe.samples.map { case (k, v) => k -> v.toList }.toMap,
      "series" -> probe.series.map { case (k, v) => k -> v.toList }.toMap,
      "values" -> probe.values.toMap, "notes" -> outcome.notes)
    val traceResult = if (!traced) Map.empty[String, Any] else {
      val selfs = probe.selfTimes()
      val ledger = new File(work, s"ledger-$workload-seed$seed.json")
      java.nio.file.Files.writeString(ledger.toPath, toJson(probe.ledger(selfs)))
      Map("ledger" -> ledger.getPath,
        "layers" -> Layers.metrics(selfs, probe, probe.values.getOrElse("rounds", 1.0)))
    }
    java.nio.file.Files.writeString(out.toPath, toJson(result ++ traceResult))
    spark.stop()
  }

  private def toJson(x: AnyRef): String =
    org.json4s.jackson.Serialization.write(x)(org.json4s.DefaultFormats)

  final case class Ctx(spark: SparkSession, probe: Probe, seed: Long, seconds: Double, work: File) {
    def dir(name: String): String = new File(work, name).getPath
  }

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "backup_chain" -> BackupChain.run,
    "lake_analytics" -> LakeAnalytics.run)

  /** Spark cores: the host's processors, at most four (the benchmark is
    * a single closed-loop client; more threads only add scheduling). */
  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  private def session(work: File, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoints").getPath)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    spark
  }

  private val started = System.nanoTime()
  /** Progress line on stderr: a phase ended, seconds since start. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] phase $name done at ${(System.nanoTime() - started) / 1e9}%.1f s")

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(",")
    catch { case _: Throwable => "unavailable" }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Closed-loop timer: runs `step(i)` until `seconds` have elapsed
    * (always at least `minRounds` rounds). */
  def loopFor(seconds: Double, minRounds: Int)(step: Int => Unit): Int = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < minRounds || System.nanoTime() < deadline) { step(i); i += 1 }
    i
  }
}
