package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The benchmark's recorder. Every timed call into the program goes
  * through [[op]] (one end-to-end sample of a closed-loop operation) and
  * [[span]] (one layer call). Untraced, a span is just the call; traced,
  * it records name, start, end, parent and operation id in memory,
  * together with the Spark jobs, tasks, shuffle and spill bytes, and the
  * Hadoop filesystem calls made inside it. Failures are counted, never
  * dropped: a throwing operation or a failed check makes the run
  * incorrect. */
final class Probe(spark: SparkSession, val traced: Boolean) {
  // ---- end-to-end samples and failures ----------------------------------
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  /** Seconds spent inside [[op]] so far: a round's duration is the
    * difference, so checks between operations never count. */
  var opSeconds = 0.0
  /** Workload-specific named values and series (e.g. the replica's
    * per-version sync times), reported alongside the samples. */
  val values = mutable.LinkedHashMap[String, Double]()
  val series = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  def record(name: String, xs: Iterable[Double]): Unit =
    series.getOrElseUpdate(name, ArrayBuffer()) ++= xs

  private def fail(what: String, detail: String): Unit = {
    failed += 1
    failures += s"$what: $detail"
    System.err.println(s"[perfbench] FAILED $what: $detail")
  }

  /** One closed-loop operation of kind `kind`, calling the layer `layer`.
    * Returns None (and counts a failure) when it throws. */
  def op[T](kind: String, layer: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = span(layer)(body)
      val dt = (System.nanoTime() - t0) / 1e9
      samples.getOrElseUpdate(kind, ArrayBuffer()) += dt
      opSeconds += dt
      System.err.println(f"[perfbench] $kind%-18s $layer%-36s $dt%.3f s")
      Some(r)
    } catch {
      case NonFatal(e) => fail(s"$kind ($layer)", e.toString); None
    }
  }

  /** A correctness check; a false result or an exception is a failure. */
  def check(name: String)(ok: => Boolean, detail: => String): Boolean = {
    attempted += 1
    val passed = try ok catch { case NonFatal(e) => fail(name, e.toString); return false }
    if (!passed) fail(name, detail)
    passed
  }

  /** Untimed work that must still succeed (setup, warm-up, checks). */
  def must[T](what: String)(body: => T): Option[T] =
    try Some(body) catch { case NonFatal(e) => attempted += 1; fail(what, e.toString); None }

  // ---- spans ---------------------------------------------------------------
  final class Span(val id: Int, val parent: Int, val opId: Int, val name: String,
      val startNs: Long) {
    var endNs = 0L
    var fs: Array[Long] = Array.fill(CountingFs.Names.size)(0L)
    var bytesWritten = 0L
  }

  private val spans = ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val SpanProp = "graftbench.span"

  private def hadoopBytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def span[T](name: String)(body: => T): T =
    if (!traced || !timing) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size + 1, parent.map(_.id).getOrElse(0),
        parent.map(_.opId).getOrElse(spans.size + 1), name, System.nanoTime())
      spans += s
      stack.push(s)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      val fs0 = CountingFs.snapshot()
      val b0 = hadoopBytesWritten()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.fs = CountingFs.snapshot().zip(fs0).map { case (a, b) => a - b }
        s.bytesWritten = hadoopBytesWritten() - b0
        sc.setLocalProperty(SpanProp, prevProp)
        stack.pop(): Unit
      }
    }

  /** Child spans of the current span for the micro-batches (with input
    * rows) of streaming query `runId`, as the StreamingQueryListener saw
    * them: Spark's own progress report times each batch. */
  def batchSpans(runId: java.util.UUID, name: String): Unit =
    if (traced && timing) stack.headOption.foreach { p =>
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      progress.synchronized(progress.filter(b => b.runId == runId && b.numInputRows > 0).toSeq)
        .foreach { b =>
          val start = originNs +
            (java.time.Instant.parse(b.timestamp).toEpochMilli - originMs) * 1000000L
          val s = new Span(spans.size + 1, p.id, p.opId, name, start)
          s.endNs = start + b.durationMs.get("triggerExecution").longValue * 1000000L
          spans += s
        }
    }

  // ---- Spark listener (traced runs only) -------------------------------------
  final class SpanStats {
    var jobs, stages, tasks, shuffleRead, shuffleWrite, spill = 0L
  }
  private val bySpan = new ConcurrentHashMap[Int, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private def statsOf(id: Int) = bySpan.computeIfAbsent(id, _ => new SpanStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      e.stageIds.foreach(stageSpan.put(_, id))
      statsOf(id).synchronized { statsOf(id).jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val st = statsOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0))
      st.synchronized { st.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = statsOf(stageSpan.getOrDefault(e.stageId, 0))
      val m = e.taskMetrics
      st.synchronized {
        st.tasks += 1
        if (m != null) {
          st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Streaming progress reports, which become the micro-batch spans. */
  private val progress = ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (traced) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  // ---- the timed region ------------------------------------------------------
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private var gc0 = 0L
  private var timing = false

  /** Starts the timed region: spans are recorded from here on, and the
    * JVM's GC time and peak heap are measured from here. */
  def startTimed(): Unit = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    gc0 = gcMs()
    timing = true
  }

  /** jvm.gc_s and jvm.peak_heap_mb since [[startTimed]]. */
  def jvmCounters(): Map[String, Double] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Map("jvm.gc_s" -> (gcMs() - gc0) / 1000.0, "jvm.peak_heap_mb" -> heapPeak / 1048576.0)
  }

  // ---- the ledger ----------------------------------------------------------------
  /** Per-span self values: time minus the union of child intervals;
    * filesystem calls and bytes minus the children's; Spark work is
    * attributed to the innermost span directly. */
  final case class Self(span: Span, selfS: Double, jobs: Long, stages: Long, tasks: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, fs: Array[Long], bytesWritten: Long)

  def selfTimes(): Seq[Self] = {
    if (traced) org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, ArrayBuffer()).sortBy(_.startNs)
      var covered = 0L; var edge = s.startNs
      kids.foreach { k =>
        val a = math.max(k.startNs, edge); val b = math.min(k.endNs, s.endNs)
        if (b > a) { covered += b - a; edge = b }
      }
      val st = Option(bySpan.get(s.id)).getOrElse(new SpanStats)
      val kidFs = kids.map(_.fs).foldLeft(Array.fill(CountingFs.Names.size)(0L)) { (acc, f) =>
        acc.zipAll(f, 0L, 0L).map { case (a, b) => a + b } }
      Self(s, (s.endNs - s.startNs - covered) / 1e9, st.jobs, st.stages, st.tasks,
        st.shuffleRead, st.shuffleWrite, st.spill,
        s.fs.zipAll(kidFs, 0L, 0L).map { case (a, b) => a - b },
        s.bytesWritten - kids.map(_.bytesWritten).sum)
    }
  }

  /** The span ledger: one record per span. */
  def ledger(selfs: Seq[Self]): Seq[Map[String, Any]] =
    selfs.map { x =>
      val s = x.span
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.opId, "name" -> s.name,
        "start_s" -> (s.startNs - originNs) / 1e9, "end_s" -> (s.endNs - originNs) / 1e9,
        "self_s" -> x.selfS, "jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
        "shuffle_read_bytes" -> x.shuffleRead, "shuffle_write_bytes" -> x.shuffleWrite,
        "spill_bytes" -> x.spill, "bytes_written" -> x.bytesWritten,
        "fs" -> CountingFs.Names.zip(x.fs).toMap)
    }
}
