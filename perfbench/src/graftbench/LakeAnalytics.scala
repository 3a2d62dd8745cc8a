package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `lake_analytics`: a fixed list of `SparkEntry.queries` entries over a
  * generated lake, run to the noop sink: one untimed pass (which also
  * hashes every result), then timed passes until the run's seconds are
  * spent. No store I/O. The lake and the entry order are fixed: a pass's
  * time depends on its order (GC and JIT state carry over from entry to
  * entry), so a seeded order would add that dependence to every run's
  * spread; the seed is unused here. */
object LakeAnalytics {
  import Main.{Ctx, Outcome}

  /** Scale of the generated lake, in TPC-H scale factor (lineitem 30k rows). */
  val LakeSf = 0.005

  /** group -> entries. `pipe_clean` is the one `Pipeline` entry, so that
    * module has a measured call. */
  val Groups: Seq[(String, Seq[String])] = Seq(
    "graph" -> Seq("graph_hits", "graph_pagerank", "graph_components"),
    "llm" -> Seq("dedup_minhash", "dedup_embcos", "ann_ivfpq", "ann_cosine_topk",
      "text_quality", "text_tfidf", "pipe_ccnet", "pipe_clean"),
    "relational" -> Seq("q5_multijoin", "q9_profit", "q18_large", "ev_sessionize"))

  /** The graft module that defines each entry. */
  val Modules: Seq[(String, Map[String, _])] = {
    import graft.operators._
    Seq("Graph" -> Graph.queries, "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
      "TextAnalysis" -> TextAnalysis.queries, "Pipeline" -> Pipeline.queries,
      "Relational" -> Relational.queries, "Events" -> Events.queries)
  }
  def moduleOf(q: String): String =
    Modules.collectFirst { case (m, qs) if qs.contains(q) => m }.getOrElse("unknown")

  /** Float-safe canonical text of a row: doubles are narrowed to float so
    * that a different summation order cannot change the hash. */
  private def canon(df: DataFrame): Column = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => c.cast(FloatType)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => x.cast(FloatType))
      case _ => c
    }
    to_json(struct(df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType).as(f.name)): _*))
  }

  /** (rows, order-independent XOR hash) of one entry's result. */
  def resultHash(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(canon(df)).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Pinned expected results: `perfbench/expected/lake_analytics.tsv`,
    * lines of `entry<TAB>rows<TAB>hash`. */
  def pinned(path: String): Map[String, (Long, Long)] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else scala.io.Source.fromFile(f).getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2).toLong)).toMap
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val p = ctx.probe
    val lake = ctx.dir("lake_analytics/lake")
    Dirs.wipe(ctx.dir("lake_analytics"))
    val setup = (0 until 2).map { _ =>
      val t = System.nanoTime()
      Gen.writeLake(spark, lake, LakeSf)
      (System.nanoTime() - t) / 1e9
    }
    Main.phase("set-up")
    val entries = Groups.flatMap { case (g, qs) => qs.map(q => (g, q, moduleOf(q))) }

    // untimed pass: warms every plan and hashes every result (and the
    // noop sink, which the timed passes write to)
    p.must("warm-up noop sink")(spark.range(1).write.format("noop").mode("overwrite").save())
    val hashes = mutable.LinkedHashMap[String, (Long, Long)]()
    entries.foreach { case (_, q, _) =>
      p.must(s"warm-up $q")(resultHash(SparkEntry.queries(q)(spark, lake))).foreach(hashes(q) = _)
    }
    Main.phase("warm-up")
    val expectedFile = sys.props.getOrElse("perfbench.expected", "perfbench/expected/lake_analytics.tsv")
    val expected = pinned(expectedFile)
    entries.foreach { case (_, q, _) =>
      p.check(s"lake_analytics $q matches pinned result")(
        hashes.get(q).exists(h => expected.get(q).contains(h)),
        s"got ${hashes.get(q)}, pinned ${expected.get(q)} in $expectedFile")
    }

    val groupSums = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    p.startTimed()
    val passes = Main.loopFor(ctx.seconds, 1) { _ =>
      val before = p.opSeconds
      val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
      entries.foreach { case (g, q, m) =>
        val t = System.nanoTime()
        p.op(s"analytics_$g", s"lake.$q") {
          val df = p.span(s"$m.build")(SparkEntry.queries(q)(spark, lake))
          p.span(s"$m.plan")(df.queryExecution.executedPlan)
          p.span(s"$m.run")(df.write.format("noop").mode("overwrite").save())
        }
        sums(g) += (System.nanoTime() - t) / 1e9
      }
      sums.foreach { case (g, s) => groupSums.getOrElseUpdate(g, mutable.ArrayBuffer()) += s }
      p.record("round_s", Seq(p.opSeconds - before))
    }
    Main.phase("timed")
    Groups.foreach { case (g, _) =>
      p.values(s"analytics.${g}_s") = Main.median(groupSums.getOrElse(g, Nil).toSeq) }
    p.values("rounds") = passes
    Outcome(setup, Map("hashes" -> hashes.map { case (q, (n, h)) => s"$q\t$n\t$h" }.mkString("\n")))
  }
}
