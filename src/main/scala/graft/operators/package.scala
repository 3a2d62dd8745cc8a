package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Package-wide helpers shared by every operator. */
package object operators {

  /** THE materialization primitive — every operator pins intermediates
    * through this extension instead of calling `.localCheckpoint()`
    * directly, so the at-scale failure-recovery posture is a single
    * config switch rather than 150+ call-site edits.
    *
    * `spark.graft.materialize` selects the mechanism:
    *  - `local` (default): `localCheckpoint` — executor-local blocks,
    *    cheapest, lineage truncated; an executor loss in a real
    *    cluster FAILS the query instead of recomputing (acceptable in
    *    local mode, where executor == driver).
    *  - `reliable`: `checkpoint` to `spark.checkpoint.dir` — survives
    *    executor loss; the production setting for long lineages at
    *    100 TB (requires `SparkContext.setCheckpointDir`).
    *  - `persist`: MEMORY_AND_DISK cache — keeps lineage (recomputable
    *    on loss) but does NOT truncate the plan, so iterative
    *    operators pay growing optimizer time; for diagnosis, not
    *    production loops.
    *
    * `eager = false` defers the materialization to first use — the
    * construction-time-jobs fix for frames built inside DataFrame
    * factories (a plan-only consumer never pays the pin). */
  implicit final class GraftMaterializeOps[T](private val ds: Dataset[T])
      extends AnyVal {
    def materialize(eager: Boolean = true): Dataset[T] =
      // a frame that IS a bare pinned-RDD scan (the product of a prior
      // materialize) would re-pin into an identical block copy — skip;
      // composed operators stop paying a full copy per layer when an
      // already-materialized frame crosses an API boundary. A bare
      // LocalRelation (collected rows, e.g. a cached manifest) is
      // already as pinned as a frame gets: pinning it spends a job to
      // copy local rows into blocks
      if (ds.queryExecution.analyzed match {
            case _: org.apache.spark.sql.execution.LogicalRDD => true
            case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
            case _ => false
          }) ds
      else ds.sparkSession.conf.get("spark.graft.materialize", "local") match {
        case "reliable" => ds.checkpoint(eager)
        case "persist" =>
          val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
          if (eager) { p.count(): Unit }
          p
        case _ => ds.localCheckpoint(eager)
      }
  }
}
