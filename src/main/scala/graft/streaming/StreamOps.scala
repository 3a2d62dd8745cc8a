package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.GraftMaterializeOps

/** Structured Streaming operators (SURVEY §2 group 8): the streaming
  * twins of the batch Events/Snapshot operators.
  *
  * Scale notes: state is keyed by user/business key and partitioned by
  * the shuffle on `groupByKey` — state volume per executor is bounded
  * by keyspace/cluster-size, and watermarks bound retention. Both
  * operators run identically on a 1000-executor cluster; nothing below
  * assumes local mode.
  */
object StreamOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  case class SessionUpdate(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      sum_value: Double,
      closed: Boolean)

  // top-level-visible state classes (codegen instantiates them from
  // generated Java; `private` and a field named `sum` both break it)
  case class SessionState(startMs: Long, endMs: Long, n: Long, total: Double)
  case class SessionBuf(sessions: List[SessionState])

  /** Gap-based streaming sessionization via flatMapGroupsWithState:
    * a session closes after `gapMs` of event-time inactivity (driven
    * by the event-time watermark). Emits one update per closed
    * session, mirroring the batch `Events.sessionize` semantics.
    *
    * `watermarkDelayMs` (default = `gapMs`) bounds how late an event
    * may arrive and still be sessionized; it is a parameter precisely
    * because it must be reasoned about together with the gap.
    * Within a micro-batch, sessions are computed by a true interval
    * merge over {carried sessions} ∪ {batch events}, so a
    * within-watermark late event either extends a session backward OR
    * forms its own earlier session when it is more than `gapMs` away.
    *
    * A session is emitted (closed) only once the WATERMARK has passed
    * `endMs + gapMs` — not merely when a later session appears in the
    * same batch. Until then it stays in state, because an event still
    * admissible under the watermark (ts ≥ watermark) could bridge
    * into it from a later batch: with gap=10 and watermark at 90, a
    * batch {85, 100} holds sessions [85,85] and [100,100], and a
    * later event at 93 must merge all three — so [85,85] may not be
    * finalized at 90, only once the watermark passes 95. This makes
    * the operator equal to batch `Events.sessionize` over every
    * non-late event (spec-proven); events dropped by the watermark
    * itself are the only divergence. State per key is the (short)
    * list of undecided sessions — bounded by watermark delay / gap. */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long,
      watermarkDelayMs: Option[Long] = None): Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val delayMs = watermarkDelayMs.getOrElse(gapMs)

    def close(userId: Long, s: SessionState): SessionUpdate =
      SessionUpdate(userId, new Timestamp(s.startMs), new Timestamp(s.endMs),
        s.n, s.total, closed = true)

    // emit sessions whose gap has fully elapsed below the watermark;
    // keep the rest in state with the timeout armed at the EARLIEST
    // undecided session's expiry
    def settle(userId: Long, merged: List[SessionState],
        state: GroupState[SessionBuf]): Iterator[SessionUpdate] = {
      val wm = state.getCurrentWatermarkMs()
      val (done, keep) = merged.partition(s => s.endMs + gapMs <= wm)
      if (keep.isEmpty) state.remove()
      else {
        state.update(SessionBuf(keep))
        state.setTimeoutTimestamp(keep.map(_.endMs + gapMs).min)
      }
      done.map(close(userId, _)).iterator
    }

    events
      .withWatermark("ts", s"$delayMs milliseconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuf, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionBuf]) =>
          if (state.hasTimedOut) {
            settle(userId, state.get.sessions, state)
          } else {
            // Interval merge with gap tolerance over the carried
            // sessions plus every batch event (each a single-point
            // session): sorted by start, pieces within gapMs coalesce.
            val pieces = (state.getOption.map(_.sessions).getOrElse(Nil) ++
                rows.map(e => SessionState(e.ts.getTime, e.ts.getTime, 1L, e.value)))
              .sortBy(s => (s.startMs, s.endMs))
            val merged = pieces.foldLeft(List.empty[SessionState]) {
              case (cur :: done, p) if p.startMs - cur.endMs <= gapMs =>
                SessionState(cur.startMs, math.max(cur.endMs, p.endMs),
                  cur.n + p.n, cur.total + p.total) :: done
              case (acc, p) => p :: acc
            }.reverse
            settle(userId, merged, state)
          }
      }
  }

  /** Built-in session-window twin of [[sessionize]] — the boundary of
    * where the custom flatMapGroupsWithState earns its complexity:
    * count/sum per gap-session is fully expressible as a plain
    * watermarked `session_window` aggregate (this operator — prefer
    * it when it covers the need), while the custom path exists for the
    * cross-batch bridge and finality guarantees its spec pins. Window
    * end is exclusive (last event + gap), so vs [[sessionize]]:
    * start ≡ session_start, end ≡ session_end + gap (parity spec). */
  def sessionWindowCounts(events: Dataset[Event], gap: String = "30 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  case class AsofEv(tsMs: Long, eventId: Long, value: Double)
  case class AsofIn(side: Int, userId: Long, ts: Timestamp, eventId: Long, value: Double)
  case class AsofBuf(settled: List[AsofEv], rights: List[AsofEv], lefts: List[AsofEv])
  case class AsofUpdate(user_id: Long, event_id: Long, ts: Timestamp, value: Double,
      asof_ts: Option[Timestamp], asof_value: Option[Double])

  /** Streaming point-in-time join — the streaming twin of
    * [[graft.operators.AsofJoin.asofJoin]] (backward, inclusive,
    * optional tolerance): each left event emits exactly ONCE, carrying
    * the latest right event of the same key at-or-before its
    * timestamp, the moment the watermark makes that FINAL — once
    * wm ≥ left ts, any still-admissible right arrival has
    * rts > wm ≥ lts and cannot displace a backward match. Parity with
    * the batch operator over all within-watermark arrivals is
    * spec-proven; a tie on right ts breaks by event_id (the batch
    * window leaves order within equal (ts, side) engine-chosen — the
    * stream pins it, and the parity spec uses tie-free rights).
    *
    * BOUNDED state per key — the reason this is not a generic
    * stream-stream outer join: pending lefts above the watermark,
    * rights above the watermark, and ONE settled right (`settled`,
    * a ≤1-element list — Option[case class] trips Spark's encoder
    * derivation inside GroupState) — the latest right at-or-below the
    * watermark, which dominates every older right for every future
    * probe (any future left has lts > wm ≥ settled rts, so the max
    * settled right is always the best sub-watermark candidate). State
    * volume scales with watermark delay × arrival rate per key, never
    * with stream length — but the settled element is PER KEY and
    * permanent by default, so a query over an unbounded key space
    * grows state with distinct-key cardinality for its lifetime.
    * `idleKeyTtlMs` bounds that: once the watermark passes a quiet
    * key's settled right by the TTL with nothing pending, the key's
    * state drops entirely — a left arriving later than TTL after the
    * key's newest right then reads a null match instead of the
    * historical one (the documented trade; leave it None to keep
    * exact backward semantics over bounded key spaces). Event-time
    * timeouts drain pending lefts for keys whose stream goes quiet. */
  def asofStream(leftEvents: Dataset[Event], rightEvents: Dataset[Event],
      toleranceMs: Option[Long] = None,
      watermarkDelay: String = "30 minutes",
      idleKeyTtlMs: Option[Long] = None): Dataset[AsofUpdate] = {
    val spark = leftEvents.sparkSession
    import spark.implicits._
    // column-level projection (not .map): the event-time watermark tag
    // lives on the `ts` ATTRIBUTE and must survive into the stateful
    // operator's input — MapElements would rebuild the schema and lose
    // it ("Event-time timeout not supported without watermark")
    def prep(ds: Dataset[Event], side: Int): Dataset[AsofIn] =
      ds.withWatermark("ts", watermarkDelay)
        .select(lit(side).as("side"), col("user_id").as("userId"), col("ts"),
          col("event_id").as("eventId"), col("value"))
        .as[AsofIn]

    def emit(l: AsofEv, m: Option[AsofEv]): AsofUpdate = {
      val ok = m.exists(r => toleranceMs.forall(tol => l.tsMs - r.tsMs <= tol))
      AsofUpdate(0L, l.eventId, new Timestamp(l.tsMs), l.value,
        if (ok) Some(new Timestamp(m.get.tsMs)) else None,
        if (ok) Some(m.get.value) else None)
    }

    // settle everything the watermark has finalized; re-arm the
    // timeout at the earliest still-pending left
    def settle(userId: Long, buf: AsofBuf,
        state: GroupState[AsofBuf]): Iterator[AsofUpdate] = {
      val wm = state.getCurrentWatermarkMs()
      val (doneL, pendL) = buf.lefts.partition(_.tsMs <= wm)
      val candidates = buf.settled ++ buf.rights
      val out = doneL.sortBy(l => (l.tsMs, l.eventId)).map { l =>
        emit(l, candidates.filter(r => r.tsMs <= l.tsMs)
          .sortBy(r => (r.tsMs, r.eventId)).lastOption)
          .copy(user_id = userId)
      }
      val (settledR, pendR) = buf.rights.partition(_.tsMs <= wm)
      val newSettled = (buf.settled ++ settledR)
        .sortBy(r => (r.tsMs, r.eventId)).lastOption.toList
      val ttlExpired = pendL.isEmpty && pendR.isEmpty &&
        idleKeyTtlMs.exists(ttl => newSettled.forall(_.tsMs + ttl <= wm))
      if (pendL.isEmpty && pendR.isEmpty && newSettled.isEmpty) state.remove()
      else if (ttlExpired) state.remove() // idle key reclaimed (see doc)
      else {
        state.update(AsofBuf(newSettled, pendR, pendL))
        // arm even with NO pending left: a key whose stream goes quiet
        // must still re-fire once the watermark passes its newest
        // pending right, so the rights buffer compacts to the single
        // settled element instead of freezing at arrival size (the
        // settled element itself is kept — backward semantics need the
        // latest historical right for any future probe); with an idle
        // TTL the fully-settled key re-arms once more, at expiry, so
        // the state actually drops instead of waiting for traffic
        if (pendL.nonEmpty) state.setTimeoutTimestamp(pendL.map(_.tsMs).min)
        else if (pendR.nonEmpty) state.setTimeoutTimestamp(pendR.map(_.tsMs).max)
        else idleKeyTtlMs.foreach(ttl =>
          newSettled.foreach(s0 => state.setTimeoutTimestamp(s0.tsMs + ttl)))
      }
      out.iterator
    }

    prep(leftEvents, 1).union(prep(rightEvents, 0))
      .groupByKey(_.userId)
      .flatMapGroupsWithState[AsofBuf, AsofUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[AsofBuf]) =>
          val buf = state.getOption.getOrElse(AsofBuf(Nil, Nil, Nil))
          val merged =
            if (state.hasTimedOut) buf
            else {
              val (ls, rs) = rows.toList.partition(_.side == 1)
              AsofBuf(buf.settled,
                buf.rights ++ rs.map(r => AsofEv(r.ts.getTime, r.eventId, r.value)),
                buf.lefts ++ ls.map(l => AsofEv(l.ts.getTime, l.eventId, l.value)))
            }
          settle(userId, merged, state)
      }
  }

  case class AsofFwdBuf(rights: List[AsofEv], lefts: List[AsofEv])

  /** FORWARD streaming as-of join — [[asofStream]]'s mirror
    * ([[graft.operators.AsofJoin.asofJoin]] with `forward = true`):
    * each left event attaches the EARLIEST same-key right at-or-after
    * its timestamp, within `toleranceMs`. Tolerance is MANDATORY here
    * and that is semantics, not API convenience: an unmatched forward
    * probe is only provably final once the watermark passes
    * `lts + tol` (any admissible right would land beyond tolerance) —
    * without a bound it could wait forever and its state never drain.
    * A MATCHED probe finalizes earlier, at wm ≥ candidate rts: a
    * still-admissible right has rts > wm and cannot undercut the
    * current earliest. Ties on right ts break by event_id (pinned,
    * where the batch window leaves equal-key order engine-chosen).
    *
    * Bounded state per key: rights retained only while they could
    * still serve someone — rts > wm (future lefts) or rts ≥ the
    * earliest pending left (pending probes); everything older serves
    * nobody (a future left has lts > wm ≥ rts, a pending one has
    * lts > rts) and drops. No settled-right carry — forward never
    * looks back. */
  def asofStreamForward(leftEvents: Dataset[Event], rightEvents: Dataset[Event],
      toleranceMs: Long,
      watermarkDelay: String = "30 minutes"): Dataset[AsofUpdate] = {
    require(toleranceMs > 0, "forward as-of needs a positive tolerance (finality bound)")
    val spark = leftEvents.sparkSession
    import spark.implicits._
    def prep(ds: Dataset[Event], side: Int): Dataset[AsofIn] =
      ds.withWatermark("ts", watermarkDelay)
        .select(lit(side).as("side"), col("user_id").as("userId"), col("ts"),
          col("event_id").as("eventId"), col("value"))
        .as[AsofIn]

    def bestFor(l: AsofEv, rights: List[AsofEv]): Option[AsofEv] =
      rights.filter(r => r.tsMs >= l.tsMs && r.tsMs <= l.tsMs + toleranceMs)
        .sortBy(r => (r.tsMs, r.eventId)).headOption

    def settle(userId: Long, buf: AsofFwdBuf,
        state: GroupState[AsofFwdBuf]): Iterator[AsofUpdate] = {
      val wm = state.getCurrentWatermarkMs()
      val (done, pend) = buf.lefts.partition { l =>
        bestFor(l, buf.rights).exists(_.tsMs <= wm) || wm >= l.tsMs + toleranceMs
      }
      val out = done.sortBy(l => (l.tsMs, l.eventId)).map { l =>
        val m = bestFor(l, buf.rights).filter(_.tsMs <= wm)
        AsofUpdate(userId, l.eventId, new Timestamp(l.tsMs), l.value,
          m.map(r => new Timestamp(r.tsMs)), m.map(_.value))
      }
      val minPend = pend.map(_.tsMs).minOption
      val keepR = buf.rights.filter(r =>
        r.tsMs > wm || minPend.exists(r.tsMs >= _))
      if (pend.isEmpty && keepR.isEmpty) state.remove()
      else {
        state.update(AsofFwdBuf(keepR, pend))
        if (pend.nonEmpty)
          state.setTimeoutTimestamp(pend.map(l =>
            bestFor(l, keepR).map(_.tsMs).getOrElse(l.tsMs + toleranceMs)).min)
        else
          // quiet key holding only rights: re-fire once the watermark
          // passes the newest one — every retained right then fails
          // both keep conditions and the state REMOVES (forward keeps
          // no history, so quiet keys fully self-clean)
          state.setTimeoutTimestamp(keepR.map(_.tsMs).max)
      }
      out.iterator
    }

    prep(leftEvents, 1).union(prep(rightEvents, 0))
      .groupByKey(_.userId)
      .flatMapGroupsWithState[AsofFwdBuf, AsofUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[AsofFwdBuf]) =>
          val buf = state.getOption.getOrElse(AsofFwdBuf(Nil, Nil))
          val merged =
            if (state.hasTimedOut) buf
            else {
              val (ls, rs) = rows.toList.partition(_.side == 1)
              AsofFwdBuf(
                buf.rights ++ rs.map(r => AsofEv(r.ts.getTime, r.eventId, r.value)),
                buf.lefts ++ ls.map(l => AsofEv(l.ts.getTime, l.eventId, l.value)))
            }
          settle(userId, merged, state)
      }
  }

  case class PathEv(tsMs: Long, eventId: Long, eventType: String)
  case class PathState(done: Boolean, evs: List[PathEv])
  case class UserPath(user_id: Long, path: String, n_steps: Int)

  /** Streaming twin of [[graft.operators.Events.userPaths]]' per-user
    * opening-journey extraction: each user's first `steps` event types
    * in (ts, event_id) order, emitted as one final path string the
    * moment it can no longer change — when the WATERMARK passes the
    * `steps`-th smallest event's timestamp (an event that could still
    * displace a prefix member would have ts ≤ that, i.e. be
    * late-dropped; an admissible event has ts > watermark > Nth ts and
    * sorts after every member). Cross-batch and out-of-order arrivals
    * within the watermark reorder the prefix freely until that point
    * (spec-proven, incl. a ts tie broken by event_id).
    *
    * Only paths that REACH `steps` events emit: a shorter history
    * could always still grow, so the batch view of short-history
    * users is inherently not stream-final — the one documented
    * divergence from the batch operator (whose top-k counting is a
    * downstream batch aggregate over these rows either way).
    *
    * State per user: ≤ `steps` (ts, id, type) triples while open, one
    * done-marker afterwards (so a straggler can't re-emit a second
    * path) — bounded by the user count like any per-user aggregate,
    * never by stream length. */
  def userPathStream(events: Dataset[Event], steps: Int,
      watermarkDelay: String = "30 minutes"): Dataset[UserPath] = {
    require(steps >= 1, s"steps=$steps must be >= 1")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PathState, UserPath](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[PathState]) =>
          val st = state.getOption.getOrElse(PathState(done = false, Nil))
          if (st.done) {
            Iterator.empty
          } else if (state.hasTimedOut) {
            // watermark passed the Nth event's ts → the prefix is final
            state.update(PathState(done = true, Nil))
            val evs = st.evs.sortBy(e => (e.tsMs, e.eventId))
            Iterator.single(
              UserPath(userId, evs.map(_.eventType).mkString(">"), evs.length))
          } else {
            val merged =
              (st.evs ++ rows.map(e => PathEv(e.ts.getTime, e.event_id, e.event_type)))
                .sortBy(e => (e.tsMs, e.eventId)).take(steps)
            state.update(PathState(done = false, merged))
            if (merged.length == steps)
              // a timeout ts must sit strictly above the watermark; if
              // the Nth ts already equals it, finalizing one tick
              // later is equivalent (finality needs wm > Nth ts)
              state.setTimeoutTimestamp(
                math.max(merged.last.tsMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Streaming incremental-snapshot ingest: watermarked dedup by
    * business key (first-writer-wins within the watermark horizon),
    * then append — the readStream→dedup→sink shape of a continuous
    * backup pipeline. */
  def incrementalSnapshot(updates: DataFrame, keyCol: String, tsCol: String): DataFrame =
    updates
      .withWatermark(tsCol, "10 minutes")
      .dropDuplicatesWithinWatermark(keyCol)

  case class MgState(counters: Map[String, Long])
  case class TopTokens(lang: String, tokens: Seq[String], min_counts: Seq[Long])

  /** Streaming heavy hitters per language — the streaming twin of
    * `text_topterms` under BOUNDED state: a Misra–Gries summary of
    * `capacity` counters per key (the space-saving sketch family).
    * When a new token arrives at a full summary, every counter
    * decrements instead (the classic step), which buys the guarantee:
    * a reported count undercounts the true count by at most
    * N/capacity, and any token with true frequency above N/capacity
    * IS in the summary — so the top of the stream can't be missed,
    * with state O(capacity) per key regardless of vocabulary size.
    * Emits the current top-k per key each batch (Update mode). */
  def streamingTopTokens(docs: DataFrame, capacity: Int, k: Int): Dataset[TopTokens] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("lang"), col("text")).as[(String, String)]
      .flatMap { case (lang, text) =>
        text.trim.replaceAll("\\s+", " ").toLowerCase(java.util.Locale.ROOT)
          .split(" ").iterator.map(t => (lang, t))
      }
      .groupByKey(_._1)
      .mapGroupsWithState[MgState, TopTokens](GroupStateTimeout.NoTimeout) {
        case (lang, rows, state: GroupState[MgState]) =>
          var m = state.getOption.map(_.counters).getOrElse(Map.empty[String, Long])
          rows.foreach { case (_, t) =>
            if (m.contains(t)) m = m.updated(t, m(t) + 1)
            else if (m.size < capacity) m = m.updated(t, 1L)
            else m = m.view.mapValues(_ - 1L).filter(_._2 > 0L).toMap
          }
          state.update(MgState(m))
          val top = m.toSeq.sortBy { case (t, c) => (-c, t) }.take(k)
          TopTokens(lang, top.map(_._1), top.map(_._2))
      }
  }

  /** Ingest-time benchmark-decontamination gate — streaming twin of
    * `Pipeline.decontaminate`: the benchmark shingle SET is tiny and
    * static, so it broadcasts once and each arriving doc is gated by a
    * STATELESS narrow map — no state, no shuffle, no watermark; the
    * cheapest possible streaming operator, and the shingling kernel is
    * shared with the batch path (`Dedup.shingleSeq`) so the gate and a
    * batch audit agree doc-for-doc. Returns surviving docs with their
    * (sub-threshold) overlap evidence count. */
  def decontaminateStream(docs: DataFrame, benchShingles: Set[String],
      k: Int, minOverlap: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(benchShingles)
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        (id, text, graft.operators.Dedup.shingleSeq(text, k).count(bc.value).toLong)
      }
      .toDF("doc_id", "text", "n_overlap")
      .filter(col("n_overlap") < minOverlap)
  }

  /** Perplexity ingest guard — the streaming twin of
    * [[graft.operators.TextAnalysis.perplexityWith]]: every arriving
    * document scores against a FROZEN broadcast
    * [[graft.operators.CompactBigramLm]] (trained once on a curated
    * reference, pruned to its caps), and documents over `maxPpl` drop
    * — the CCNet-style fluency filter at the ingest edge. One narrow
    * per-row map: no shuffle, no watermark, no state — the model IS
    * the bounded state, and it never grows with the stream. Documents
    * with fewer than two tokens carry a null ppl and are KEPT (no
    * evidence either way — dropping unscorable docs silently would
    * bias the corpus; a later batch pass can decide). */
  def perplexityFilter(docs: DataFrame,
      model: graft.operators.CompactBigramLm, maxPpl: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        bc.value.score(graft.operators.CompactBigramLm.normTokens(text)) match {
          case Some((n, _, ppl)) => (id, text, n, math.rint(ppl * 1e4) / 1e4)
          case None => (id, text, 0L, Double.NaN)
        }
      }
      .toDF("doc_id", "text", "n_bigrams", "ppl")
      .select(col("doc_id"), col("text"), col("n_bigrams"),
        when(col("ppl").isNaN, lit(null)).otherwise(col("ppl")).as("ppl"))
      .filter(col("ppl").isNull || col("ppl") <= maxPpl)
  }

  /** Continuous backup maintenance — the streaming twin of
    * [[graft.operators.SnapshotStore.mergeDelta]]: every micro-batch of
    * CDC rows (`change_type` ∈ insert/update/delete, full row content)
    * merges COPY-ON-WRITE into the store, publishing one snapshot
    * version per batch. Only the files the batch's keys touch are
    * rewritten; untouched files byte-copy with their zone-map rows
    * carried — a steady CDC trickle costs O(touched + batch) per
    * batch, never O(base), with the same atomic-rename publish as the
    * batch path.
    *
    * Version ids are `initialBase + batchId + 1`, where `initialBase`
    * is recorded ONCE (write-once marker beside the checkpoint, via
    * tmp+rename) the first time a query starts on this checkpoint.
    * batchIds resume from the checkpoint after a restart, so the base
    * must too: re-deriving it from `store.latestVersion()` at each
    * start (which already includes previously merged batches) would
    * shift every subsequent version onto a parent that does not exist
    * and wedge the stream. A REPLAYED batch (foreachBatch re-delivers
    * the last batch after failure or restart) whose version already
    * committed is skipped — the merge published atomically, so an
    * existing `v=to` is complete by construction.
    *
    * Multi-change batches: with `seqCol` set (a CDC sequence/offset
    * column, monotone per key), the batch collapses to the LAST change
    * per key before splitting into upserts/deletes — two updates keep
    * the newer row, delete-then-reinsert keeps the reinsert,
    * insert-then-delete deletes; sequential application semantics,
    * exactly what `mergeDelta` (replace-by-key, no internal dedup)
    * needs. Without `seqCol` there is no order to collapse by, so the
    * batch is REQUIRED to hold at most one change per key (fail-fast —
    * a duplicate key would otherwise land twice in the new version).
    * The store must already hold `initialBase` (on the snapshot layout
    * written range-partitioned: the zone map drives touched-file
    * detection). Either layout: [[linkedMergeStream]] is this verb
    * under the name the linked layout's callers use.
    * Returns the started query. */
  def continuousMerge(changes: DataFrame, store: graft.operators.VersionedStore,
      keyCol: String, checkpointDir: String,
      changeTypeCol: String = "change_type",
      seqCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    mergeStream(changes, store, checkpointDir) { (batch, from, to) =>
      val lastPerKey = collapseLastPerKey(batch, keyCol, seqCol)
      val ups = lastPerKey.filter(col(changeTypeCol).isin("insert", "update"))
        .drop(changeTypeCol)
      val dels = lastPerKey.filter(col(changeTypeCol) === "delete").select(keyCol)
      store.mergeDelta(from, to, ups, Some(dels))
      ()
    }

  /** [[continuousMerge]]'s twin over the LINKED store: one
    * ManifestStore version per CDC micro-batch, untouched pool files
    * carried by reference — the continuous-ingest shape where a
    * per-batch byte-copy of the snapshot would be fatal (a 1-minute
    * trigger re-copying 100 TB). Same restart contract: base version
    * recorded once beside the checkpoint, batch → version mapping
    * deterministic, committed versions skipped on replay (manifest
    * publication is atomic, so an existing version is complete). */
  def linkedMergeStream(changes: DataFrame, store: graft.operators.ManifestStore,
      keyCol: String, checkpointDir: String,
      changeTypeCol: String = "change_type",
      seqCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    continuousMerge(changes, store, keyCol, checkpointDir, changeTypeCol, seqCol)

  /** STREAMING MATERIALIZED VIEW — [[graft.operators.Snapshot
    * .maintainAggregate]] run continuously: consume a CDF feed stream
    * (`readStream.table(t.changes_cdf)` — preimage/postimage pairs +
    * valued deletes) and maintain a keyed SUM/COUNT aggregate STORE,
    * one published version per micro-batch, each costing
    * O(|batch| + touched groups) — never a base-table rescan. Per
    * batch: the batch's groups point-read from the aggregate tip
    * (manifest-pruned [[graft.operators.ManifestStore.readForKeys]]),
    * signed contributions fold in, groups whose count survives upsert,
    * groups that empty DELETE. The aggregate store must be SEEDED with
    * the base aggregate as of the stream's starting point (v1 — the
    * same contract [[linkedMergeStream]] has). Restart-safe through
    * the version-chain harness: a replayed batch's version already
    * exists and skips. */
  def maintainAggregateStream(changes: DataFrame,
      store: graft.operators.ManifestStore, groupCol: String,
      sums: Map[String, String], checkpointDir: String,
      countCol: String = "n_rows")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // readForKeys renames the touched-groups frame to the store's key
    // column and mergeDelta merges on it — a store keyed on anything
    // else would silently maintain WRONG aggregates; fail at
    // construction instead (the seed-version precondition's twin)
    require(store.keyCol == groupCol,
      s"maintainAggregateStream: the aggregate store is keyed on " +
        s"'${store.keyCol}' but the stream groups on '$groupCol' — the " +
        "store key must BE the group column")
    versionChainStream(changes, checkpointDir, () =>
      store.latestVersion().getOrElse(throw new IllegalStateException(
        "maintainAggregateStream needs the SEED aggregate (ManifestStore.write " +
          "of the base aggregate) in the store"))
    ) { (batch, from, to) =>
      // empty batches still publish (a carry version) — the version
      // chain must stay contiguous for the harness's replay skip
      if (!store.versions().contains(to)) {
        val groups = batch.select(col(groupCol)).distinct().materialize()
        // aggregate rows for exactly the touched groups — the tip
        // point-read is manifest-pruned, O(touched), not O(groups)
        val baseRows = store.readForKeys(from, groups)
        val updated = graft.operators.Snapshot.maintainAggregate(
          baseRows, batch, Seq(groupCol), sums, countCol).materialize()
        // groups the batch touched but whose count reached zero DROP;
        // left_anti against the survivors keeps never-existed groups
        // out of the delete set only incidentally (deleting an absent
        // key is a no-op upsert-wise, but the anti-join keeps the
        // delete frame honest)
        val dels = groups.join(updated.select(col(groupCol)),
          Seq(groupCol), "left_anti")
        store.mergeDelta(from, to, updated,
          if (dels.limit(1).count() == 0) None else Some(dels))
        ()
      }
    }
  }

  /** The restart-safe version-chain harness shared by [[continuousMerge]]
    * and [[encryptedChunkIngest]]: records the store's base version ONCE
    * in a write-once marker beside the checkpoint (tmp+rename; losing a
    * creation race just means reading the value that won), maps every
    * micro-batch to `to = initialBase + batchId + 1`, skips batches whose
    * version already committed (replay after restart — publish was
    * atomic, so an existing version is complete), and hands
    * `(batch, to-1, to)` to the merge body. */
  private def mergeStream(changes: DataFrame, store: graft.operators.VersionedStore,
      checkpointDir: String, skipCommitted: Boolean = true)(
      mergeBatch: (Dataset[org.apache.spark.sql.Row], Long, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    versionChainStream(changes, checkpointDir, () =>
      store.latestVersion().getOrElse(throw new IllegalStateException(
        s"the merge stream needs a base version in the store at ${store.basePath}"))
    ) { (batch, from, to) =>
      if (!skipCommitted || !store.versions().contains(to)) mergeBatch(batch, from, to)
    }

  /** The base-version bookkeeping under [[mergeStream]] and
    * [[lakeMergeStream]]: record `computeBase()` ONCE in a write-once
    * marker beside the checkpoint (tmp+rename; losing a creation race
    * just means reading the value that won), then hand every
    * micro-batch `(batch, to-1, to)` with `to = base + batchId + 1`. */
  private def versionChainStream(changes: DataFrame, checkpointDir: String,
      computeBase: () => Long)(
      mergeBatch: (Dataset[org.apache.spark.sql.Row], Long, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val hconf = changes.sparkSession.sparkContext.hadoopConfiguration
    val markerPath = new org.apache.hadoop.fs.Path(s"$checkpointDir/_graft_base_version")
    val fs = markerPath.getFileSystem(hconf)
    def readMarker(): Long = {
      val in = fs.open(markerPath)
      try in.readUTF().toLong finally in.close()
    }
    val base: Long =
      if (fs.exists(markerPath)) readMarker()
      else {
        val b = computeBase()
        val tmp = new org.apache.hadoop.fs.Path(
          s"$checkpointDir/.tmp-base-${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, true)
        try out.writeUTF(b.toString) finally out.close()
        if (fs.rename(tmp, markerPath)) b
        else { fs.delete(tmp, false); readMarker() }
      }
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val to = base + batchId + 1
        mergeBatch(batch, to - 1, to)
        ()
      }
      .start()
  }

  /** Multi-table CONSISTENT continuous backup — [[continuousMerge]]
    * composed with [[graft.operators.LakeSnapshot]]'s group commit,
    * closing the gap between them: a multi-table CDC stream used to
    * have no cross-table atomic version, so a streaming restore could
    * mix table states (orders at batch N, lineitem at N−1) — exactly
    * the failure class LakeSnapshot removes for batch backups.
    *
    * The stream carries a `tableCol` naming each change's table. Per
    * micro-batch, every table's slice merges copy-on-write into ITS
    * OWN [[graft.operators.SnapshotStore]] at the SAME target version
    * (all stores must share a base version — checked once, recorded
    * write-once beside the checkpoint), projected to that table's own
    * schema (so one union-schema feed serves heterogeneous tables);
    * then ONE group marker publishes atomically under
    * `groupCommitDir`. [[groupVersions]]/[[restoreGroup]] read ONLY
    * marker'd versions: a crash between table merges leaves the
    * version invisible to group readers, and the replayed batch
    * completes it — tables already at the target version skip
    * (per-component skip, as [[annIndexStream]] does), the rest merge,
    * the marker lands. A batch with no rows for some table still
    * advances that table (CoW carry of every file), so a committed
    * group version always has every table present. Either layout:
    * [[lakeLinkedMergeStream]] is this verb under the linked layout's
    * name. */
  def lakeMergeStream(changes: DataFrame,
      stores: Map[String, graft.operators.VersionedStore],
      groupCommitDir: String, keyCol: String, checkpointDir: String,
      tableCol: String = "table", changeTypeCol: String = "change_type",
      seqCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    require(stores.nonEmpty, "empty table group")
    val hconf = changes.sparkSession.sparkContext.hadoopConfiguration
    val names = stores.keys.toSeq.sorted
    versionChainStream(changes, checkpointDir, () => {
      val bases = stores.map { case (n, st) =>
        n -> st.latestVersion().getOrElse(throw new IllegalStateException(
          s"table '$n' needs a base version in its store"))
      }
      require(bases.values.toSet.size == 1,
        s"all stores must share a base version, got $bases")
      val b = bases.values.head
      // the base itself is a consistent group: marker it so restores
      // can target the pre-stream state too
      writeGroupMarker(hconf, groupCommitDir, b, names)
      b
    }) { (batch, from, to) =>
      names.foreach { name =>
        val store = stores(name)
        if (!store.versions().contains(to)) {
          val slice = collapseLastPerKey(
            batch.filter(col(tableCol) === name).drop(tableCol), keyCol, seqCol)
          // project the union-schema feed down to THIS table's columns
          // (its evolved schema if a sidecar exists)
          val cols = store.read(from).schema.fieldNames.toSet
          val ups = slice.filter(col(changeTypeCol).isin("insert", "update"))
            .select(slice.columns.filter(cols.contains).toIndexedSeq.map(col): _*)
          val dels = slice.filter(col(changeTypeCol) === "delete").select(keyCol)
          store.mergeDelta(from, to, ups, Some(dels))
        }
      }
      // every table is at `to` — publish the one atomic group marker
      writeGroupMarker(hconf, groupCommitDir, to, names)
    }
  }

  /** [[lakeMergeStream]]'s twin over LINKED stores: multi-table
    * consistent continuous backup where every table's per-batch merge
    * carries untouched pool files by REFERENCE (ManifestStore) — the
    * lake shape where per-batch byte-copies across N tables would
    * multiply the fatal cost. Same group contract: every table merges
    * to the SAME target version per micro-batch, then ONE atomic group
    * marker publishes; group readers see only marker'd versions, so a
    * crash between table merges stays invisible and the replayed batch
    * completes it (per-table committed-version skip). */
  def lakeLinkedMergeStream(changes: DataFrame,
      stores: Map[String, graft.operators.ManifestStore],
      groupCommitDir: String, keyCol: String, checkpointDir: String,
      tableCol: String = "table", changeTypeCol: String = "change_type",
      seqCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    lakeMergeStream(changes, stores, groupCommitDir, keyCol, checkpointDir,
      tableCol, changeTypeCol, seqCol)

  /** [[restoreGroup]] for a linked-store lake. */
  def restoreLinkedGroup(spark: SparkSession, groupCommitDir: String,
      stores: Map[String, graft.operators.ManifestStore],
      version: Long): Map[String, DataFrame] =
    restoreGroup(spark, groupCommitDir, stores, version)

  /** Continuous encrypted dedup backup into the content-addressed
    * repository — [[graft.operators.ChunkStore]] fed by a CDC stream
    * of (id, payload, change_type). Where [[encryptedChunkIngest]]
    * keeps whole chunk-row versions copy-on-write in a SnapshotStore
    * (per-version file copies — O(versions × corpus) storage), the
    * repository model stores each chunk ONCE and a version is a
    * manifest of references: per micro-batch,
    * [[graft.operators.ChunkStore.backupDelta]] chunk-encrypts ONLY
    * the delta payloads, appends only refs the repository lacks, and
    * publishes version `to = base + batchId + 1`'s manifest atomically
    * (the commit point — a crash before it leaves orphan chunks the
    * next [[graft.operators.ChunkStore.pruneChunks]] sweeps). Replayed
    * batches skip on the committed version; out-of-band `pruneChunks`
    * against retired versions reclaims exactly their exclusive bytes
    * while every surviving version keeps restoring byte-identical. */
  def chunkBackupStream(changes: DataFrame, store: graft.operators.ChunkStore,
      checkpointDir: String, idCol: String = "id", payloadCol: String = "payload",
      changeTypeCol: String = "change_type",
      seqCol: Option[String] = None,
      autoCompactMaxFiles: Option[Int] = None,
      autoParity: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    versionChainStream(changes, checkpointDir, () =>
      store.versions().lastOption.getOrElse(throw new IllegalStateException(
        "chunkBackupStream needs a base version (ChunkStore.backup) in the store"))
    ) { (batch, from, to) =>
      if (!store.versions().contains(to)) {
        val b = collapseLastPerKey(batch, idCol, seqCol)
        val changed = b.filter(col(changeTypeCol).isin("insert", "update"))
          .select(col(idCol).cast("long").as(idCol), col(payloadCol))
        val removed = b.filter(col(changeTypeCol) === "delete")
          .select(col(idCol).cast("long").as(idCol))
        store.backupDelta(from, to, changed, removed, idCol, payloadCol): Unit
      }
      // the stream that creates the per-batch small files also folds
      // them: after the batch's manifest is committed this point is
      // "between micro-batches" for the repository (single writer), so
      // the journaled swap's non-concurrency contract holds. The
      // threshold gate makes the steady-state cost one directory
      // listing per batch.
      autoCompactMaxFiles.foreach(n => store.maybeCompactChunkBuckets(n): Unit)
      // keep parity CURRENT with the stream that staled it: per batch,
      // updateParity folds exactly the batch's appended blob files
      // (O(|new files|) — the incremental XOR path); after a compaction
      // swap the affected buckets rebuild via its fallback. Ordering
      // matters: after compaction, so a swap never immediately stales
      // the sidecar this same batch just wrote.
      if (autoParity) store.updateParity(): Unit
    }

  /** Lake-wide CONSISTENT encrypted backup — [[chunkBackupStream]]
    * composed with the [[lakeMergeStream]] group commit, closing the
    * last consistency gap: multiple encrypted chunk REPOSITORIES fed
    * by one multi-table CDC stream used to have no cross-repository
    * atomic version, so a multi-table encrypted restore could mix
    * states (orders' payloads at batch N, lineitem's at N−1).
    *
    * Per micro-batch, every table's slice [[graft.operators.ChunkStore.backupDelta]]s
    * into ITS OWN repository at the SAME target version (all
    * repositories must share a base version — checked once, recorded
    * write-once beside the checkpoint), then ONE group marker
    * publishes atomically under `groupCommitDir`.
    * [[groupVersions]]/[[restoreChunkGroup]] read ONLY marker'd
    * versions: a crash between per-table repository commits leaves the
    * version invisible to group readers, and the replayed batch
    * completes it — repositories already at the target version skip
    * (manifest-publish idempotence), the rest backup, the marker
    * lands; a failed marker publish fails the batch (same fail-fast as
    * [[lakeMergeStream]] — swallowing it would strand the version
    * permanently uncommitted). A batch with no rows for some table
    * still advances that table's repository (manifest rows carry via
    * the delta's empty anti-join), so a committed group version always
    * has every repository present. */
  def lakeChunkBackupStream(changes: DataFrame,
      stores: Map[String, graft.operators.ChunkStore],
      groupCommitDir: String, checkpointDir: String,
      idCol: String = "id", payloadCol: String = "payload",
      tableCol: String = "table", changeTypeCol: String = "change_type",
      seqCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    require(stores.nonEmpty, "empty table group")
    val hconf = changes.sparkSession.sparkContext.hadoopConfiguration
    val names = stores.keys.toSeq.sorted
    versionChainStream(changes, checkpointDir, () => {
      val bases = stores.map { case (n, st) =>
        n -> st.versions().lastOption.getOrElse(throw new IllegalStateException(
          s"table '$n' needs a base version (ChunkStore.backup) in its repository"))
      }
      require(bases.values.toSet.size == 1,
        s"all repositories must share a base version, got $bases")
      val b = bases.values.head
      writeGroupMarker(hconf, groupCommitDir, b, names)
      b
    }) { (batch, from, to) =>
      names.foreach { name =>
        val store = stores(name)
        if (!store.versions().contains(to)) {
          val slice = collapseLastPerKey(
            batch.filter(col(tableCol) === name).drop(tableCol), idCol, seqCol)
          val changed = slice.filter(col(changeTypeCol).isin("insert", "update"))
            .select(col(idCol).cast("long").as(idCol), col(payloadCol))
          val removed = slice.filter(col(changeTypeCol) === "delete")
            .select(col(idCol).cast("long").as(idCol))
          store.backupDelta(from, to, changed, removed, idCol, payloadCol): Unit
        }
      }
      writeGroupMarker(hconf, groupCommitDir, to, names)
    }
  }

  /** Group-consistent restore across encrypted repositories: every
    * table's corpus at one marker'd version — [[restoreGroup]]'s
    * repository twin. Fails fast on an uncommitted version (a crash
    * mid-group must stay invisible, never restore mixed states). */
  def restoreChunkGroup(spark: SparkSession, groupCommitDir: String,
      stores: Map[String, graft.operators.ChunkStore],
      version: Long): Map[String, DataFrame] = {
    require(groupVersions(spark, groupCommitDir).contains(version),
      s"group version $version is not committed")
    stores.map { case (n, st) => n -> st.restore(version) }
  }

  /** Continuous GDPR erasure queue — [[graft.operators.ChunkStore.redact]]
    * fed by a stream of erasure requests (one `id` column): each
    * micro-batch erases its payload ids from EVERY version of every
    * given repository and sweeps their exclusive chunks. The id list
    * is collected per batch — erasure requests are human-scale
    * (hundreds, not billions; the 30-day-SLA queue shape), and redact
    * needs the concrete list to rewrite manifests. Replay-safe by
    * redact's own idempotence: a replayed batch finds the ids already
    * absent, rewrites nothing, and skips the sweep entirely. */
  def redactStream(requests: DataFrame,
      stores: Seq[graft.operators.ChunkStore], checkpointDir: String,
      idCol: String = "id",
      maxIdsPerBatch: Int = 100000): org.apache.spark.sql.streaming.StreamingQuery =
    requests.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val ids = batch.select(col(idCol).cast("long")).distinct()
          .limit(maxIdsPerBatch + 1)
          .collect().map(_.getLong(0)).toSeq
        require(ids.size <= maxIdsPerBatch,
          s"erasure batch exceeds maxIdsPerBatch=$maxIdsPerBatch — erasure " +
            "requests are human-scale; a larger batch suggests a wiring error")
        if (ids.nonEmpty) stores.foreach(_.redact(ids): Unit)
        ()
      }
      .start()

  /** Group-wide retention for a [[lakeChunkBackupStream]] lake: drop
    * every group version NOT in `keep` from ALL repositories, keeping
    * the group view consistent through every crash window. Ordering:
    * the retired versions' MARKERS delete FIRST — group readers stop
    * seeing a version before any of its chunks are swept, so a crash
    * mid-prune can never leave a marker'd version that some
    * repository has already garbage-collected (the restore-mixes-
    * states failure again, via GC). Then each repository runs its own
    * [[graft.operators.ChunkStore.pruneChunks]] — per-repo
    * mark-and-sweep, reclaiming exactly the exclusive bytes; a crash
    * between repositories leaves the stragglers' dead chunks for the
    * next prune (garbage, never damage). Returns per-table
    * (prunedVersions, refsDeleted, bytesReclaimed). */
  def pruneChunkGroup(spark: SparkSession, groupCommitDir: String,
      stores: Map[String, graft.operators.ChunkStore],
      keep: Seq[Long]): Map[String, (Seq[Long], Long, Long)] = {
    val dir = new org.apache.hadoop.fs.Path(groupCommitDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    groupVersions(spark, groupCommitDir).filterNot(keep.contains).foreach { v =>
      if (!fs.delete(new org.apache.hadoop.fs.Path(dir, v.toString), false))
        throw new java.io.IOException(s"could not retire group marker $v")
    }
    stores.map { case (n, st) => n -> st.pruneChunks(keep) }
  }

  /** Atomic (tmp+rename) group-commit marker, [[graft.operators.LakeSnapshot]]'s
    * `_commits` format: file named by the version, content = sorted
    * ','-joined table names. Idempotent — an existing marker stands. */
  private def writeGroupMarker(hconf: org.apache.hadoop.conf.Configuration,
      groupCommitDir: String, version: Long, tables: Seq[String]): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$groupCommitDir/$version")
    val fs = marker.getFileSystem(hconf)
    if (!fs.exists(marker)) {
      fs.mkdirs(marker.getParent)
      val tmp = new org.apache.hadoop.fs.Path(
        s"$groupCommitDir/.tmp-$version-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.writeUTF(tables.sorted.mkString(",")) finally out.close()
      if (!fs.rename(tmp, marker)) {
        fs.delete(tmp, false)
        // a lost creation race (marker appeared concurrently) is fine;
        // a genuine publish failure must FAIL THE BATCH — swallowing it
        // would let the checkpoint commit with the group version
        // permanently uncommitted (no replay would ever re-publish)
        if (!fs.exists(marker))
          throw new java.io.IOException(s"group marker publish failed: $marker")
      }
    }
  }

  /** Group-committed versions of a [[lakeMergeStream]] — versions every
    * table reached TOGETHER. Digit-only filter keeps crash-leftover
    * `.tmp-` files out (as LakeSnapshot.versions does). */
  def groupVersions(spark: SparkSession, groupCommitDir: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(groupCommitDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted
  }

  /** Restore the whole table group at one group-committed version —
    * the only restore shape that cannot mix table states. Fails fast
    * on a version no marker covers (e.g. the crash window between a
    * partial merge and its completing replay). */
  def restoreGroup(spark: SparkSession, groupCommitDir: String,
      stores: Map[String, graft.operators.VersionedStore],
      version: Long): Map[String, DataFrame] = {
    require(groupVersions(spark, groupCommitDir).contains(version),
      s"group version $version is not committed")
    stores.map { case (n, st) => n -> st.read(version) }
  }

  /** Last change per key under `seqCol` ordering; without a sequence
    * column there is no order to collapse by, so the batch must hold
    * at most one change per key (fail-fast). */
  private def collapseLastPerKey(batch: Dataset[org.apache.spark.sql.Row],
      keyCol: String, seqCol: Option[String]): DataFrame = seqCol match {
    case Some(s) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(keyCol)).orderBy(col(s).desc)
      batch.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn", s)
    case None =>
      val r = batch.agg(count(lit(1)), count_distinct(col(keyCol))).head()
      val (n, nKeys) = (r.getLong(0), r.getLong(1))
      if (n != nKeys) throw new IllegalArgumentException(
        s"merge stream batch has $n changes over $nKeys keys; " +
          "pass seqCol to collapse multi-change batches to the last change per key")
      batch.toDF()
  }

  /** Continuous ENCRYPTED backup — the reference's backup loop
    * end-to-end as ONE stream: every CDC micro-batch of payload rows
    * (`change_type` ∈ insert/update/delete, opaque binary payload)
    * content-defined-chunks and convergent-encrypts the upserted
    * payloads ([[graft.operators.ChunkCrypto.encryptedChunks]] — one
    * narrow pass), then COPY-ON-WRITE merges the chunk rows into a
    * versioned chunk store keyed by `chunk_key = id·M + chunk_idx`.
    * Identical plaintext chunks encrypt to identical ciphertext, so
    * chunk-level dedup/GC keep working on `ref_hex` without ever
    * decrypting, and [[graft.operators.ChunkCrypto.reassemble]] over
    * any store version restores the payloads live at that version —
    * time travel included via `readAsOf`.
    *
    * Stale-chunk hygiene: an update can SHRINK a payload's chunk
    * count, so replace-by-key alone would leave orphaned high-index
    * chunks. Each batch therefore reads the touched ids' CURRENT chunk
    * keys through the zone map (one pruned range read over the batch's
    * id envelope + semi-join — O(touched files), never O(store)) and
    * deletes the ones the new encoding no longer produces.
    *
    * Restart semantics, replay idempotence, and the
    * one-change-per-key-per-batch requirement are [[mergeStream]]'s —
    * the same guarantees as [[continuousMerge]], spec-proven there.
    * The store must hold a base version (the initial full backup —
    * [[writeEncryptedChunkBase]]). */
  def encryptedChunkIngest(changes: DataFrame, store: graft.operators.SnapshotStore,
      idCol: String, payloadCol: String, master: Array[Byte], checkpointDir: String,
      changeTypeCol: String = "change_type",
      maxChunksPerPayload: Long = 1L << 20): org.apache.spark.sql.streaming.StreamingQuery =
    mergeStream(changes, store, checkpointDir) { (batch, from, to) =>
      val b = collapseLastPerKey(batch, idCol, None)
      val ups = b.filter(col(changeTypeCol).isin("insert", "update"))
        .select(col(idCol).cast("long").as(idCol), col(payloadCol))
      val delIds = b.filter(col(changeTypeCol) === "delete")
        .select(col(idCol).cast("long").as(idCol))
      val newChunks = keyedEncryptedChunks(
        ups, idCol, payloadCol, master, maxChunksPerPayload).materialize()
      val touched = ups.select(col(idCol)).unionByName(delIds).distinct().materialize()
      val bounds = touched.agg(min(col(idCol)), max(col(idCol))).head()
      val dels =
        if (bounds.isNullAt(0)) None
        else {
          // the touched ids' chunk keys live in [minId·M, maxId·M+M):
          // zone-map-pruned range read, exact ids via one semi-join,
          // minus the keys the new encoding re-occupies
          val m = maxChunksPerPayload
          val oldRows = store.readKeyRange(from,
            bounds.getLong(0) * m, bounds.getLong(1) * m + (m - 1))
          Some(oldRows.join(touched, Seq(idCol), "left_semi")
            .select("chunk_key")
            .join(newChunks.select("chunk_key"), Seq("chunk_key"), "left_anti"))
        }
      store.mergeDelta(from, to, newChunks, dels)
      ()
    }

  /** Continuous ANN-index maintenance — the IVFPQ twin of
    * [[bm25IndexStream]]: every CDC micro-batch of embedding changes
    * CoW-merges into the vector store ([[continuousMerge]] semantics)
    * AND the persisted IVFPQ index advances incrementally with it
    * ([[graft.operators.Similarity.updateIvfpqIndex]] — codes carry
    * for untouched files, only rewritten files' vectors re-encode
    * under the frozen quantizer). Index version v lives at
    * `indexBase/v=<v>`; the stream needs the base version's index
    * built once with `writeIvfpqIndex`. Crash safety is per component:
    * the merge skips when its store version already exists and the
    * index step skips on its codes `_SUCCESS` marker (codes are the
    * LAST of the index's three writes), so a crash between the two
    * replays only the missing half. */
  def annIndexStream(changes: DataFrame, store: graft.operators.SnapshotStore,
      indexBase: String, checkpointDir: String,
      keyCol: String = "vec_id", changeTypeCol: String = "change_type",
      seqCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = changes.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    mergeStream(changes, store, checkpointDir, skipCommitted = false) { (batch, from, to) =>
      if (!store.versions().contains(to)) {
        val lastPerKey = collapseLastPerKey(batch, keyCol, seqCol)
        val ups = lastPerKey.filter(col(changeTypeCol).isin("insert", "update"))
          .drop(changeTypeCol)
        val dels = lastPerKey.filter(col(changeTypeCol) === "delete").select(keyCol)
        store.mergeDelta(from, to, ups, Some(dels))
      }
      val done = new org.apache.hadoop.fs.Path(s"$indexBase/v=$to/codes/_SUCCESS")
      if (!done.getFileSystem(hconf).exists(done))
        graft.operators.Similarity.updateIvfpqIndex(spark, store, from, to,
          s"$indexBase/v=$from", s"$indexBase/v=$to")
      ()
    }
  }

  /** Continuous search-index maintenance: every CDC micro-batch of
    * document changes lands as ONE segment of the segmented BM25 index
    * ([[graft.operators.TextAnalysis.appendBm25Segment]]) — inserts
    * and updates re-post, updates and deletes tombstone, exactly the
    * batch [[graft.operators.TextAnalysis.updateBm25Index]] semantics
    * but fed by the stream. Segment ids are allocated FROM THE INDEX
    * (max over existing `seg=` dirs and recorded allocations, + 1) and
    * the batch→segment assignment is persisted under `_batches/`
    * BEFORE the segment lands (tmp+rename atomic) — so a replayed
    * batch rewrites its OWN recorded segment (mode=overwrite,
    * idempotent) instead of deriving `batchId + 1`, which an
    * out-of-band compaction
    * ([[graft.operators.TextAnalysis.compactBm25Index]]) would
    * collide with: a compacted segment at the batch-derived id would
    * make the stream silently skip that CDC batch, or rank every later
    * delta beneath the compacted segment. With index-allocated ids,
    * compaction between micro-batches is safe — the next batch
    * allocates above the compacted segment. (Compaction must still not
    * run CONCURRENTLY with a landing batch; the allocation scan and
    * the compactor's directory swap are not mutually atomic.)
    * A replayed batch whose segment fully landed is skipped — the
    * tombstones _SUCCESS marker belongs to the LAST of the segment's
    * three writes, so its presence means the segment is complete.
    * Multi-change batches collapse to the last change per key first
    * ([[continuousMerge]]'s contract). Tombstone ids stay a DataFrame
    * end-to-end (executor→parquet, never collected). */
  /** Continuous graph-rank maintenance: each CDC micro-batch of edge
    * changes (edge_id, src, dst, change_type) lands as a CoW merge of
    * the edge store, then the NEW version's PageRank recomputes via
    * [[graft.operators.Graph.pagerank]] and lands under
    * `ranksBase/v=<to>` (_SUCCESS-gated overwrite — a replayed batch
    * rewrites its own version, idempotent). PageRank is a GLOBAL
    * fixpoint — one changed edge can move every rank — so
    * "incremental" here means incremental EDGE-SET maintenance plus a
    * bounded recompute per committed version (the [[annIndexStream]]
    * division of labor), not a per-key state update: there is no
    * sound per-key delta for a fixed-round power iteration. Stored
    * edges are canonical (one row per undirected edge); the symmetric
    * expansion happens at compute so deletes stay single-key. */
  def pagerankStream(changes: DataFrame, store: graft.operators.SnapshotStore,
      ranksBase: String, checkpointDir: String,
      iters: Int = 5, scale: Long = 1000000000000L,
      seqCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = changes.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    mergeStream(changes, store, checkpointDir, skipCommitted = false) { (batch, from, to) =>
      if (!store.versions().contains(to)) {
        val lastPerKey = collapseLastPerKey(batch, "edge_id", seqCol)
        val ups = lastPerKey.filter(col("change_type").isin("insert", "update"))
          .drop("change_type")
        val dels = lastPerKey.filter(col("change_type") === "delete").select("edge_id")
        store.mergeDelta(from, to, ups, Some(dels))
      }
      val done = new org.apache.hadoop.fs.Path(s"$ranksBase/v=$to/_SUCCESS")
      if (!done.getFileSystem(hconf).exists(done)) {
        val e = store.read(to).select("src", "dst")
        val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.Graph.pagerank(sym, iters, scale)
          .write.mode("overwrite").parquet(s"$ranksBase/v=$to")
      }
      ()
    }
  }

  def bm25IndexStream(changes: DataFrame, path: String, checkpointDir: String,
      changeTypeCol: String = "change_type",
      seqCol: Option[String] = None,
      nBuckets: Int = 64,
      autoCompactMaxSegments: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val hconf = changes.sparkSession.sparkContext.hadoopConfiguration
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
        val segId = allocateBm25Segment(fs, path, batchId)
        val done = new org.apache.hadoop.fs.Path(s"$path/seg=$segId/tombstones/_SUCCESS")
        if (!fs.exists(done)) {
          val b = collapseLastPerKey(batch, "doc_id", seqCol)
          val posted = b.filter(col(changeTypeCol).isin("insert", "update"))
            .select(col("doc_id").cast("long").as("doc_id"), col("text"))
          val removed = b.filter(col(changeTypeCol).isin("update", "delete"))
            .select(col("doc_id").cast("long").as("doc_id"))
          graft.operators.TextAnalysis.appendBm25Segment(
            posted, removed, path, segId, nBuckets)
        }
        // In-stream compaction AFTER the batch's segment is complete —
        // this point is "between micro-batches" for the index, so the
        // compactor's non-concurrency contract holds without an
        // out-of-band scheduler. Read amplification stays bounded:
        // every search unions every segment's postings, so an
        // uncompacted year-long stream would union thousands.
        autoCompactMaxSegments.foreach { n =>
          graft.operators.TextAnalysis.maybeCompactBm25Index(
            batch.sparkSession, path, n): Unit
        }
        ()
      }
      .start()
  }

  /** Segment-id allocation for [[bm25IndexStream]]: if `_batches/
    * batch-<id>` exists the batch is a replay → reuse its recorded
    * segment; otherwise take max(existing `seg=` dirs, `_batches/_max`)
    * + 1, advance `_max`, record the batch→segment marker
    * tmp+rename-atomically, and return it.
    *
    * O(1) metadata per micro-batch: ONE `_max` read
    * ([[graft.operators.TextAnalysis.readAllocMax]] — full marker scan
    * only on `_max`-absent bootstrap, skipping hidden files and
    * tolerating unparseable content) + one bounded directory listing
    * (markers are pruned below, `seg=` names are listing-only). The
    * old shape opened EVERY marker file with a bare `.toLong` —
    * O(markers) opens per batch growing forever, and one
    * crash-leftover empty `.batch-<id>.tmp` wedged the stream with
    * NumberFormatException on every subsequent batch.
    *
    * Ordering: `_max` advances BEFORE the marker publishes. A crash
    * between the two burns the id (never reused — compaction's
    * `newId = max(…, _max)+1` clears it) and the replay allocates
    * fresh; the reverse order would reopen the silent-batch-drop
    * window where compaction lands on an allocated-but-unpublished id
    * and the replay skips on its _SUCCESS. Markers are pruned past the
    * newest 100 on every allocation, so `_batches/` stays bounded
    * without requiring out-of-band compaction. */
  private def allocateBm25Segment(fs: org.apache.hadoop.fs.FileSystem,
      path: String, batchId: Long): Long = {
    import graft.operators.TextAnalysis
    val marker = new org.apache.hadoop.fs.Path(s"$path/_batches/batch-$batchId")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val recorded =
        try scala.util.Try(
          scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong).toOption
        finally in.close()
      recorded.getOrElse(throw new IllegalStateException(
        s"batch marker $marker exists but is unparseable — cannot locate the " +
          "replayed batch's segment; repair or remove the marker"))
    } else {
      val segMax = fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("seg=") =>
          n.stripPrefix("seg=").toLong }
        .foldLeft(0L)(math.max)
      val segId = math.max(segMax, TextAnalysis.readAllocMax(fs, path)) + 1
      TextAnalysis.writeAllocMax(fs, path, segId)
      val tmp = new org.apache.hadoop.fs.Path(s"$path/_batches/.batch-$batchId.tmp")
      val out = fs.create(tmp, true)
      try out.write(segId.toString.getBytes("UTF-8")) finally out.close()
      require(fs.rename(tmp, marker), s"could not publish batch marker $marker")
      TextAnalysis.pruneBatchMarkers(fs, path)
      segId
    }
  }

  /** [[graft.operators.ChunkCrypto.encryptedChunks]] keyed for the
    * chunk store: `chunk_key = id·M + chunk_idx` (unique per chunk,
    * range-clustered per payload so one payload's chunks share files).
    * `assert_true` fail-fasts a payload that chunks past M. */
  private def keyedEncryptedChunks(payloads: DataFrame, idCol: String,
      payloadCol: String, master: Array[Byte], m: Long): DataFrame =
    graft.operators.ChunkCrypto.encryptedChunks(payloads, idCol, payloadCol, master)
      .withColumn("chunk_key",
        when(assert_true(col("chunk_idx") < lit(m),
            lit(s"payload chunked past maxChunksPerPayload=$m")).isNull,
          col(idCol) * lit(m) + col("chunk_idx")))
      .select("chunk_key", idCol, "chunk_idx", "ref_hex", "blob")

  /** The initial full backup of the chunk store [[encryptedChunkIngest]]
    * maintains: chunk + encrypt every payload and land the chunk rows
    * range-partitioned by `chunk_key` (the zone map the incremental
    * merges prune by). The store must be keyed by "chunk_key". */
  def writeEncryptedChunkBase(payloads: DataFrame, store: graft.operators.SnapshotStore,
      idCol: String, payloadCol: String, master: Array[Byte],
      version: Long = 1L, numFiles: Int = 8,
      maxChunksPerPayload: Long = 1L << 20): Unit =
    store.writeRangePartitioned(
      keyedEncryptedChunks(payloads.select(col(idCol).cast("long").as(idCol),
        col(payloadCol)), idCol, payloadCol, master, maxChunksPerPayload),
      version, numFiles)

  /** Tumbling event-time window aggregate — streaming twin of
    * `ev_tumbling` (1-day windows, per event type). */
  def tumblingCounts(events: DataFrame, window_ : String = "1 day"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming SOURCE-MIX drift monitor — the ingest-time guard on
    * Pipeline.sourceMix's invariant: per tumbling window, each
    * source's share of arriving docs vs a broadcast BASELINE mixture,
    * flagged when |share − baseline| exceeds `tol` (a crawl source
    * going dark or flooding shifts the training mixture before any
    * batch job would notice). Two CHAINED time-window aggregates (the
    * window_time pattern): counts per (window, source) — the wide
    * stateful op, keyed fine — then the per-window mix assembled over
    * |sources| pre-aggregated rows, never raw docs, so the
    * window-global stage is metadata-sized at any ingest rate.
    * Unknown sources carry baseline 0 → any meaningful share flags. */
  def mixtureMonitor(docs: DataFrame, baseline: Map[String, Double],
      window_ : String = "1 hour", watermarkDelay: String = "10 minutes",
      tol: Double = 0.1): DataFrame = {
    val bSum = baseline.values.sum
    require(bSum > 0, "baseline must sum positive")
    val bCol = baseline.foldLeft(lit(0.0)) { case (acc, (s, w)) =>
      when(col("source") === s, lit(w / bSum)).otherwise(acc)
    }
    val perSource = docs
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), window_).as("w"), col("source"))
      .agg(count(lit(1)).as("n"))
    perSource
      .groupBy(window(window_time(col("w")), window_).as("w2"))
      .agg(collect_list(struct(col("source"), col("n"))).as("mix"),
        sum(col("n")).as("total"))
      .select(col("w2.start").as("window_start"),
        explode(col("mix")).as("e"), col("total"))
      .select(col("window_start"), col("e.source").as("source"),
        col("e.n").as("n"), col("total"))
      .withColumn("share", round(col("n").cast("double") / col("total"), 6))
      .withColumn("baseline_share", round(bCol, 6))
      .withColumn("drifted", abs(col("share") - col("baseline_share")) > tol)
  }

  /** Streaming distribution-drift monitor — `dq_ks`'s continuous
    * twin: per event-time window, the BINNED two-sample KS distance
    * between the window's `value` distribution and a fixed reference
    * CDF sampled at `cuts` (refCdf(i) = baseline P(value ≤ cuts(i)),
    * e.g. from a dq_ks/exactQuantiles pass over yesterday's
    * snapshot). The binned D̂ under-reads the exact D by at most the
    * reference's widest bin mass — the histogram-sketch trade every
    * streaming drift detector makes, controlled by cut placement —
    * in exchange for BOUNDED state: one row per (window, bin),
    * |bins| = |cuts|+1 regardless of event rate. Two chained
    * stateful stages like [[mixtureMonitor]]; the CDF fold runs over
    * the collected ≤|bins| rows per window, driver-free. */
  def ksMonitor(events: DataFrame, cuts: Seq[Double], refCdf: Seq[Double],
      window_ : String = "1 hour", watermarkDelay: String = "10 minutes",
      tol: Double = 0.25): DataFrame = {
    require(cuts.nonEmpty && refCdf.length == cuts.length,
      "refCdf must give the reference CDF at each cut")
    require(cuts == cuts.sorted && refCdf == refCdf.sorted,
      "cuts and refCdf must be nondecreasing")
    val bin = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col("value") > c, 1).otherwise(0)
    }
    val perBin = events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), window_).as("w"), bin.as("bin"))
      .agg(count(lit(1)).as("n"))
    val folded = perBin
      .groupBy(window(window_time(col("w")), window_).as("w2"))
      .agg(collect_list(struct(col("bin"), col("n"))).as("bins"),
        sum(col("n")).as("total"))
    val dExpr = cuts.indices.map { i =>
      abs(
        aggregate(filter(col("bins"), b => b.getField("bin") <= i),
          lit(0L), (acc, b) => acc + b.getField("n")).cast("double")
          / col("total") - lit(refCdf(i)))
    }.reduce((a, b) => greatest(a, b))
    folded.select(col("w2.start").as("window_start"), col("total").as("n"),
        round(dExpr, 6).as("d_stat"))
      .withColumn("drifted", col("d_stat") > tol)
  }

  /** Streaming burst monitor — `ev_burst`'s continuous counterpart:
    * per (hour, type), the PEAK per-minute event count and the hour's
    * total, emitted as hours finalize. Same chained-window shape as
    * [[mixtureMonitor]]: the wide stateful op keys on (minute, type);
    * the hour stage maxes over ≤60 pre-aggregated rows per key —
    * metadata-sized at any event rate. The capacity-planning feed a
    * rate limiter tails. */
  def burstMonitor(events: DataFrame, bucket: String = "1 minute",
      window_ : String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val perBucket = events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), bucket).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    perBucket
      .groupBy(window(window_time(col("w")), window_).as("w2"), col("event_type"))
      .agg(max(col("n")).as("peak_n"), sum(col("n")).as("n_total"))
      .select(col("w2.start").as("window_start"), col("event_type"),
        col("peak_n"), col("n_total"))
  }

  /** HOPPING-window twin of `ev_hopping` (and the sliding counterpart
    * of [[tumblingCounts]]): overlapping event-time windows — each
    * event fans out to window/slide windows before the partial
    * aggregate, state is per (window, type) and closes when the
    * watermark passes the window end. Batch parity is spec-proven. */
  def hoppingCounts(events: DataFrame, window_ : String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  case class DayBar(event_type: String, day: Timestamp, n: Long,
      sum_value: Double, filled: Boolean)
  case class DayAgg(day: Long, n: Long, total: Double)
  case class DailyState(lastFinal: Long, open: List[DayAgg])

  /** Streaming twin of `Events.dailyFilled`: per event_type, one bar
    * per CALENDAR day — including explicit zero bars for days with no
    * events (`filled = true`), which a plain windowed aggregate can
    * never emit (no row, no window). A monitoring pipeline alarms on
    * "ingest went silent"; silence must be a row.
    *
    * A day's bar is final once the WATERMARK passes the day's end; the
    * operator then emits every day from the last finalized one forward
    * (zeros where state holds nothing), so bars arrive in order with
    * no calendar holes, starting at the key's first observed day. An
    * event-time timer re-fires at the next day boundary, so zero bars
    * keep flowing while the watermark advances even if this key never
    * sees another event. State per key = the open (within-watermark)
    * days only — bounded by watermark delay / 1 day. */
  def dailyBars(events: Dataset[Event],
      watermarkDelay: String = "1 hour"): Dataset[DayBar] = {
    val spark = events.sparkSession
    import spark.implicits._
    val dayMs = 86400000L
    def dayOf(ms: Long): Long = Math.floorDiv(ms, dayMs)
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[DailyState, DayBar](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (typ, rows, state: GroupState[DailyState]) =>
          var st = state.getOption.getOrElse(DailyState(Long.MinValue, Nil))
          val byDay = scala.collection.mutable.Map.empty[Long, DayAgg]
          st.open.foreach(a => byDay(a.day) = a)
          rows.foreach { e =>
            val d = dayOf(e.ts.getTime)
            // a day at or before lastFinal was already emitted — only a
            // beyond-watermark straggler can land there; drop it, same
            // as every watermarked operator
            if (st.lastFinal == Long.MinValue || d > st.lastFinal) {
              val cur = byDay.getOrElse(d, DayAgg(d, 0L, 0.0))
              byDay(d) = DayAgg(d, cur.n + 1, cur.total + e.value)
            }
          }
          if (st.lastFinal == Long.MinValue && byDay.nonEmpty)
            st = st.copy(lastFinal = byDay.keys.min - 1)
          // day D is final once the watermark passes (D+1)·dayMs
          val finalUpTo = dayOf(state.getCurrentWatermarkMs()) - 1
          val out = List.newBuilder[DayBar]
          if (st.lastFinal != Long.MinValue) {
            var d = st.lastFinal + 1
            while (d <= finalUpTo) {
              val a = byDay.remove(d).getOrElse(DayAgg(d, 0L, 0.0))
              out += DayBar(typ, new Timestamp(d * dayMs), a.n, a.total, a.n == 0L)
              d += 1
            }
            st = DailyState(math.max(st.lastFinal, finalUpTo),
              byDay.values.toList.sortBy(_.day))
            state.update(st)
            state.setTimeoutTimestamp((st.lastFinal + 2) * dayMs)
          } else {
            state.update(st.copy(open = byDay.values.toList.sortBy(_.day)))
          }
          out.result().iterator
      }
  }

  case class WmaPoint(event_type: String, day: Timestamp, n: Long,
      sum_value: Double, wma: Double)
  case class WmaDayAgg(day: Long, n: Long, sv: Long) // sv scaled ×10⁴ (exact)
  case class WmaState(lastFinal: Long, open: List[WmaDayAgg], trail: List[WmaDayAgg])

  /** Streaming twin of `ev_wma`: per event_type, the 30-day
    * linear-weighted moving average emitted as each calendar day
    * FINALIZES (watermark passes the day's end), including gap days as
    * zero rows — the dailyBars finalization machinery with a trailing
    * window attached. State per key = open days + the last ≤29
    * finalized (day, sum) points, all sums as ×10⁴-scaled LONGS: value
    * has ≤4 decimals (the `decV` contract), so the scaled-long sum is
    * EXACT and the emitted wma matches the batch decimal-sum
    * formulation over the same non-late events bit-for-bit
    * (spec-proven) — a double accumulator would drift with fold order.
    * The weight algebra is the batch decomposition verbatim:
    * wma = ((30 − d)·Σsv + Σ(sv·d)) / (30m − m(m−1)/2). */
  def streamingWma(events: Dataset[Event],
      watermarkDelay: String = "1 hour"): Dataset[WmaPoint] = {
    val spark = events.sparkSession
    import spark.implicits._
    val dayMs = 86400000L
    def dayOf(ms: Long): Long = Math.floorDiv(ms, dayMs)
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[WmaState, WmaPoint](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (typ, rows, state: GroupState[WmaState]) =>
          var st = state.getOption.getOrElse(WmaState(Long.MinValue, Nil, Nil))
          val byDay = scala.collection.mutable.Map.empty[Long, WmaDayAgg]
          st.open.foreach(a => byDay(a.day) = a)
          rows.foreach { e =>
            val d = dayOf(e.ts.getTime)
            if (st.lastFinal == Long.MinValue || d > st.lastFinal) {
              val cur = byDay.getOrElse(d, WmaDayAgg(d, 0L, 0L))
              byDay(d) = WmaDayAgg(d, cur.n + 1, cur.sv + math.round(e.value * 10000.0))
            }
          }
          if (st.lastFinal == Long.MinValue && byDay.nonEmpty)
            st = st.copy(lastFinal = byDay.keys.min - 1)
          val finalUpTo = dayOf(state.getCurrentWatermarkMs()) - 1
          val out = List.newBuilder[WmaPoint]
          if (st.lastFinal != Long.MinValue) {
            var trail = st.trail
            var d = st.lastFinal + 1
            while (d <= finalUpTo) {
              val a = byDay.remove(d).getOrElse(WmaDayAgg(d, 0L, 0L))
              val win = trail :+ a // consecutive finalized days ending at d
              val m = win.size
              var s1 = 0L; var s2 = 0L
              win.foreach { p => s1 += p.sv; s2 += p.sv * p.day }
              val den = 30L * m - m.toLong * (m - 1) / 2
              val wma = BigDecimal(((30L - d) * s1 + s2).toDouble / 10000.0 / den)
                .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
              out += WmaPoint(typ, new Timestamp(d * dayMs), a.n,
                BigDecimal(a.sv.toDouble / 10000.0)
                  .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, wma)
              trail = win.takeRight(29)
              d += 1
            }
            st = WmaState(math.max(st.lastFinal, finalUpTo),
              byDay.values.toList.sortBy(_.day), trail)
            state.update(st)
            state.setTimeoutTimestamp((st.lastFinal + 2) * dayMs)
          } else {
            state.update(st.copy(open = byDay.values.toList.sortBy(_.day)))
          }
          out.result().iterator
      }
  }

  case class HoltPoint(event_type: String, day: Timestamp, n: Long,
      sum_value: Double, holt_next: Double)
  case class HoltState(lastFinal: Long, open: List[WmaDayAgg], trail: List[WmaDayAgg])

  /** Streaming twin of `ev_holt` — the 16-tap truncated Holt
    * one-step-ahead forecast emitted as each calendar day finalizes
    * (the [[streamingWma]] finalization machinery with a 15-day trail):
    * gap days enter as zero rows exactly like the batch gap-filled
    * frame, and a point is withheld until the tap window is FULL — the
    * batch warm-row contract, so streamed points are a prefix-free
    * subset match of `Events.holtDaily`. Tap products accumulate in
    * BigInt over the ×10⁴-scaled exact longs, and the emission
    * boundary replays the batch plan's exact sequence — decimal→double
    * cast, one division, HALF_UP round to 6 — bit-for-bit
    * (parity spec). State per type: ≤15 finalized (day,n,sv) triples
    * plus open days inside the watermark — bounded O(|types|). */
  def streamingHolt(events: Dataset[Event],
      watermarkDelay: String = "1 hour"): Dataset[HoltPoint] = {
    val spark = events.sparkSession
    import spark.implicits._
    val dayMs = 86400000L
    def dayOf(ms: Long): Long = Math.floorDiv(ms, dayMs)
    val taps = graft.operators.Events.holtWeights(16) // lag 0 (today) .. 15
    val den = taps.sum
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HoltState, HoltPoint](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (typ, rows, state: GroupState[HoltState]) =>
          var st = state.getOption.getOrElse(HoltState(Long.MinValue, Nil, Nil))
          val byDay = scala.collection.mutable.Map.empty[Long, WmaDayAgg]
          st.open.foreach(a => byDay(a.day) = a)
          rows.foreach { e =>
            val d = dayOf(e.ts.getTime)
            if (st.lastFinal == Long.MinValue || d > st.lastFinal) {
              val cur = byDay.getOrElse(d, WmaDayAgg(d, 0L, 0L))
              byDay(d) = WmaDayAgg(d, cur.n + 1, cur.sv + math.round(e.value * 10000.0))
            }
          }
          if (st.lastFinal == Long.MinValue && byDay.nonEmpty)
            st = st.copy(lastFinal = byDay.keys.min - 1)
          val finalUpTo = dayOf(state.getCurrentWatermarkMs()) - 1
          val out = List.newBuilder[HoltPoint]
          if (st.lastFinal != Long.MinValue) {
            var trail = st.trail
            var d = st.lastFinal + 1
            while (d <= finalUpTo) {
              val a = byDay.remove(d).getOrElse(WmaDayAgg(d, 0L, 0L))
              val win = trail :+ a // consecutive finalized days ending at d
              if (win.size == 16) {
                var num = BigInt(0)
                var i = 0
                while (i < 16) { num += BigInt(taps(15 - i)) * win(i).sv; i += 1 }
                val x = BigDecimal(num, 4).doubleValue / den.toDouble
                out += HoltPoint(typ, new Timestamp(d * dayMs), a.n,
                  BigDecimal(a.sv.toDouble / 10000.0)
                    .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
                  BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
              }
              trail = win.takeRight(15)
              d += 1
            }
            st = HoltState(math.max(st.lastFinal, finalUpTo),
              byDay.values.toList.sortBy(_.day), trail)
            state.update(st)
            state.setTimeoutTimestamp((st.lastFinal + 2) * dayMs)
          } else {
            state.update(st.copy(open = byDay.values.toList.sortBy(_.day)))
          }
          out.result().iterator
      }
  }

  case class AnomalyFlag(event_id: Long, event_type: String, ts: Timestamp,
      value: Double, n_baseline: Long, mean: Double, variance: Double)
  case class Baseline(n: Long, mean: Double, m2: Double)

  /** Streaming ingest-volume/value anomaly monitor — the streaming twin
    * of `ev_anomaly`, but with a RUNNING baseline instead of a trailing
    * window: per event_type, a Welford fold (count, mean, M2) over every
    * value seen so far; an event is flagged when its deviation from the
    * baseline BEFORE it exceeds `sigmas`·σ (an anomaly must not drag
    * its own mean) and the baseline holds at least `minBaseline`
    * observations.
    *
    * Determinism: events fold in (ts, event_id) order within each
    * batch, and each flag depends only on the fold-prefix before the
    * event — so any batch SPLIT of an event-time-ordered feed produces
    * identical flags (spec-proven: 1-batch vs 3-batch parity). Late
    * out-of-order arrivals fold where they land in the sequence; a
    * monitor is about the observed sequence, not a reordered ideal.
    *
    * Scale: state is one 24-byte triple per event_type — O(|keys|),
    * needs no TTL/watermark; the shuffle carries events partitioned by
    * type once. */
  case class HllState(bytes: Array[Byte], n: Long)
  case class DistinctEstimate(event_type: String, n_events: Long, approx_distinct: Long)

  /** CUMULATIVE distinct-count monitor — "how many unique users has
    * this stream EVER seen, per type": an exact answer needs O(users)
    * state; this keeps one DataSketches HLL sketch per key instead
    * (~2^lgK bytes, fixed forever, mergeable — the same sketch family
    * as the batch `snap_distinct_hll`, whose accuracy the
    * snap_hll_gate pins at ≤5%). Windowed distincts don't need this
    * (Spark's windowed approx_count_distinct ages its state out with
    * the watermark); the ALL-TIME estimate is exactly the case where
    * watermarks can't help and a sketch is the only bounded answer.
    * Update mode: each batch emits the refreshed running estimate per
    * touched key. */
  def cumulativeDistinct(events: Dataset[Event], lgK: Int = 12): Dataset[DistinctEstimate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HllState, DistinctEstimate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (typ, rows, state: GroupState[HllState]) =>
          val prev = state.getOption
          val sk = prev.map(s => org.apache.datasketches.hll.HllSketch.heapify(s.bytes))
            .getOrElse(new org.apache.datasketches.hll.HllSketch(lgK))
          var n = prev.map(_.n).getOrElse(0L)
          rows.foreach { e => sk.update(e.user_id); n += 1 }
          state.update(HllState(sk.toUpdatableByteArray, n))
          Iterator.single(DistinctEstimate(typ, n, Math.round(sk.getEstimate)))
      }
  }

  case class SampleState(items: List[(String, Long)]) // (md5, id), sorted asc by (md5, id)

  /** Streaming DETERMINISTIC bottom-k sample — `pipe_sample_k`'s
    * continuous twin: keep the k ids with the smallest portable md5
    * rank per stratum. Hash-priority bottom-k is ORDER-INDEPENDENT (a
    * min-set over an associative order), so the maintained sample
    * equals the batch sample over everything seen — under any batch
    * split, arrival order, or restart — with O(k) state per stratum
    * and no RNG. Emits each stratum's refreshed sample membership as
    * a row per batch it changed in (Update mode). */
  def sampleKStream(ids: DataFrame, stratumCol: String, idCol: String,
      k: Int): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(stratumCol).cast("string").as("s"), col(idCol).cast("long").as("id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SampleState, (String, Seq[Long])](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (stratum, rows, state: GroupState[SampleState]) =>
          val prev = state.getOption.map(_.items).getOrElse(Nil)
          val md = java.security.MessageDigest.getInstance("MD5")
          val fresh = rows.map { case (_, id) =>
            md.reset()
            (md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString, id)
          }.toList
          val next = (prev ++ fresh).distinct.sorted.take(k)
          if (next == prev) Iterator.empty
          else {
            state.update(SampleState(next))
            Iterator.single((stratum, next.map(_._2)))
          }
      }
      .toDF("stratum", "sample_ids")
  }

  case class DayClass(user_id: Long, day_ts: Timestamp, cls: String)
  case class GrowthState(firstDay: Int, lastDay: Int)

  /** Per-user activity classification stream — the stateful half of
    * [[growthMonitor]]: each user-day emits exactly one class row
    * (first day ever → new; the day after the last active day →
    * retained; any later day → resurrected) keyed by the user's
    * 8-byte (firstDay, lastDay) state. Observed-sequence semantics
    * like [[runningAnomaly]]: within a batch events process in
    * (ts, event_id) order, and a day at-or-before the user's last
    * active day emits nothing (it was classified when observed — a
    * late event cannot retroactively reclassify). Churn is
    * deliberately absent here: absence is not an event; the batch
    * `Events.growthAccounting` derives it from the dau(d−1) −
    * retained(d) identity. */
  def growthClassify(events: Dataset[Event]): Dataset[DayClass] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GrowthState, DayClass](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[GrowthState]) =>
          var st = state.getOption.orNull
          val out = List.newBuilder[DayClass]
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val day = Math.floorDiv(e.ts.getTime, 86400000L).toInt
            if (st == null) {
              out += DayClass(uid, new Timestamp(day * 86400000L), "new")
              st = GrowthState(day, day)
            } else if (day > st.lastDay) {
              out += DayClass(uid, new Timestamp(day * 86400000L),
                if (day == st.lastDay + 1) "retained" else "resurrected")
              st = GrowthState(st.firstDay, day)
            }
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  /** Continuous growth accounting — `Events.growthAccounting`'s
    * streaming face: [[growthClassify]]'s per-user class rows fold
    * into per-(day, class) counts that finalize as the watermark
    * passes each day (append mode — a day's growth row publishes
    * once, complete). State: O(|users|) pairs upstream + one count
    * per open (day, class) downstream. */
  def growthMonitor(events: Dataset[Event],
      watermarkDelay: String = "1 day"): DataFrame = {
    growthClassify(events).toDF()
      .withWatermark("day_ts", watermarkDelay)
      .groupBy(window(col("day_ts"), "1 day").as("w"), col("cls"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("day"), col("cls"), col("n"))
  }

  case class FeatState(n: Long, counts: Map[String, Long], days: Set[Int], sumScaled: Long)
  case class FeatRow(user_id: Long, n_events: Long, n_active_days: Long, span_days: Long,
      sum_value: Double, type_counts: Map[String, Long], error_share: Double)

  /** Continuously-maintained per-user FEATURE STORE —
    * `Events.userFeatures`' streaming twin: every micro-batch emits
    * the refreshed feature row of each user it touched (Update mode —
    * a feature store upserts, it never replays history). State per
    * user: event count, per-type counts (|types| entries), the
    * active-day set (O(span_days) ints — exact breadth under any
    * arrival order; a years-long span is still ~KB), and the value
    * sum as a ×10⁴-scaled LONG (exact under the ≤4-decimal `decV`
    * contract, the streamingWma discipline — a running double sum
    * would drift from the batch decimal sum). No timeout: entities
    * outlive any window by design. Emitted rows equal the batch
    * computation over all events seen so far (parity spec, incl. a
    * cross-batch split). */
  def featureStream(events: Dataset[Event]): Dataset[FeatRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FeatState, FeatRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[FeatState]) =>
          var st = state.getOption.getOrElse(FeatState(0L, Map.empty, Set.empty, 0L))
          rows.foreach { e =>
            val day = Math.floorDiv(e.ts.getTime, 86400000L).toInt
            st = FeatState(
              st.n + 1,
              st.counts.updated(e.event_type, st.counts.getOrElse(e.event_type, 0L) + 1L),
              st.days + day,
              st.sumScaled + Math.round(e.value * 10000.0))
          }
          state.update(st)
          if (st.n == 0L) Iterator.empty
          else Iterator.single(FeatRow(uid, st.n, st.days.size.toLong,
            (st.days.max - st.days.min).toLong, st.sumScaled / 10000.0,
            st.counts, st.counts.getOrElse("error", 0L).toDouble / st.n))
      }
  }

  def runningAnomaly(events: Dataset[Event], sigmas: Double = 3.0,
      minBaseline: Long = 10L): Dataset[AnomalyFlag] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[Baseline, AnomalyFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (typ, rows, state: GroupState[Baseline]) =>
          var st = state.getOption.getOrElse(Baseline(0L, 0.0, 0.0))
          val out = List.newBuilder[AnomalyFlag]
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            if (st.n >= minBaseline) {
              val variance = st.m2 / st.n
              val dev = e.value - st.mean
              if (dev * dev > sigmas * sigmas * variance)
                out += AnomalyFlag(e.event_id, typ, e.ts, e.value, st.n, st.mean, variance)
            }
            val n1 = st.n + 1
            val d = e.value - st.mean
            val mean1 = st.mean + d / n1
            st = Baseline(n1, mean1, st.m2 + d * (e.value - mean1))
          }
          state.update(st)
          out.result().iterator
      }
  }

  // ---- streaming MinHash near-dup suppression ----

  case class StreamDoc(doc_id: Long, ts: Timestamp, text: String)
  case class BandHit(doc_id: Long, ts: Timestamp, band: Int, band_hash: Int)
  /** One per (doc, band): `dup_of` names the bucket's first owner when
    * the doc collided with an earlier one, None when the doc claimed
    * the bucket itself. */
  case class BandVerdict(doc_id: Long, band: Int, band_hash: Int, dup_of: Option[Long])
  case class BucketOwner(docId: Long, lastSeenMs: Long)

  /** Streaming MinHash+LSH near-dup suppression — the ingest-time twin
    * of the batch `Dedup.minhashSignatures`/`lshBuckets` pipeline.
    *
    * Per document, signature + band keys are computed in a NARROW
    * flatMap ([[graft.operators.Dedup.minhashBandKeys]] — bit-exact
    * with the batch hash family, so streamed docs land in the same
    * buckets as a batch backfill). The only shuffle keys by (band,
    * band_hash); per-bucket state is one owner id — first writer wins,
    * later colliders are flagged with `dup_of`. State is bounded: the
    * event-time timeout expires buckets `ttlMs` after their last hit.
    *
    * A doc is a near-dup iff ANY of its bands collided — fold the
    * per-band verdicts with [[collapseVerdicts]] (in `foreachBatch`,
    * or on the sink table).
    *
    * Scale: bucket keyspace ≈ corpus size × bands, spread uniformly by
    * the band hash — no hot keys; state per bucket is 16 bytes. */
  def minhashDedup(
      docs: Dataset[StreamDoc],
      k: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 24L * 3600 * 1000): Dataset[BandVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .flatMap(doc => graft.operators.Dedup.minhashBandKeys(doc.text, k, numHashes, bands)
        .map { case (band, bh) => BandHit(doc.doc_id, doc.ts, band, bh) })
      .withWatermark("ts", watermarkDelay)
      .groupByKey(h => (h.band, h.band_hash))
      .flatMapGroupsWithState[BucketOwner, BandVerdict](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((band, bh), rows, state: GroupState[BucketOwner]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // deterministic within-batch order: earliest (ts, doc_id)
            // claims a fresh bucket
            val sorted = rows.toList.sortBy(h => (h.ts.getTime, h.doc_id))
            var owner = state.getOption
            val out = sorted.map { h =>
              owner match {
                case Some(o) if o.docId != h.doc_id =>
                  BandVerdict(h.doc_id, band, bh, Some(o.docId))
                case Some(_) =>
                  BandVerdict(h.doc_id, band, bh, None)
                case None =>
                  owner = Some(BucketOwner(h.doc_id, h.ts.getTime))
                  BandVerdict(h.doc_id, band, bh, None)
              }
            }
            val last = math.max(owner.get.lastSeenMs, sorted.last.ts.getTime)
            state.update(BucketOwner(owner.get.docId, last))
            state.setTimeoutTimestamp(last + ttlMs)
            out.iterator
          }
      }
  }

  /** Stream-stream funnel join — the streaming twin of the batch
    * `ev_funnel` range join: each purchase is paired with the same
    * user's clicks in the trailing `windowDuration`. A genuine
    * stream-stream inner join: both sides are watermarked, the
    * equi-key (user) carries the shuffle, and the time-range
    * condition lets Spark expire join state once the watermark passes
    * the window — state is bounded by (watermark delay + window), not
    * by the stream's length. Expects `ts`/`event_id`/`user_id`
    * columns on both inputs (e.g. one event stream filtered twice). */
  def funnelJoin(clicks: DataFrame, purchases: DataFrame,
      windowDuration: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    p.join(c,
        col("user_id") === col("c_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowDuration"))
      .select("user_id", "purchase_id", "purchase_ts", "click_id", "click_ts")
  }

  /** LEFT-OUTER twin of [[funnelJoin]] — the attribution report needs
    * the organic purchases too, and in streaming an outer join is a
    * different semantics class: a purchase with no in-window click can
    * only be emitted once the WATERMARK proves no matching click can
    * still arrive (its join state expires), so null-click rows trail
    * live by the watermark delay instead of appearing immediately.
    * Both sides stay watermarked and the range condition bounds state
    * by delay + window, exactly as the inner form; the engine emits
    * the null-padded row at state expiry (spec: matched rows arrive
    * with the batch, unmatched arrive after the watermark passes). */
  def funnelJoinOuter(clicks: DataFrame, purchases: DataFrame,
      windowDuration: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    p.join(c,
        col("user_id") === col("c_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowDuration"),
        "left_outer")
      .select("user_id", "purchase_id", "purchase_ts", "click_id", "click_ts")
  }

  // ---- streaming embedding near-dup suppression ----

  case class StreamVec(vec_id: Long, ts: Timestamp, embedding: Array[Float])
  case class VecBandHit(vec_id: Long, ts: Timestamp, band: Int, band_hash: Long)
  /** One per (vector, band): `dup_of` names the bucket's first owner
    * when the vector collided with an earlier one. */
  case class VecBandVerdict(vec_id: Long, band: Int, band_hash: Long, dup_of: Option[Long])

  /** Streaming embedding near-dup suppression — the ingest-time twin
    * of the batch `Dedup.embCosPairsBucketed` scale path, structurally
    * identical to [[minhashDedup]] but keyed by banded random-
    * hyperplane signatures over the embedding column.
    *
    * Band keys come from the SAME JVM kernel the batch path uses
    * ([[Similarity.hyperplaneBandKeys]] — spec-proven bit-exact with
    * the batch `shiftright`/`bitwiseAND` slicing), so a streamed
    * vector lands in exactly the buckets a batch backfill would put
    * it in: a corpus can be deduped by batch once and then guarded at
    * ingest without re-bucketing anything.
    *
    * Scale: the flatMap is narrow (bands rows per vector, embedding
    * itself NOT carried past the flatMap — only the 16-byte key);
    * the one shuffle keys by (band, band_hash); state per bucket is
    * one owner id with an event-time TTL. Verdicts collapse per
    * vector with [[collapseVerdicts]]`(_, "vec_id")`. */
  def embDedup(
      vecs: Dataset[StreamVec],
      planes: Int = 16,
      bands: Int = 4,
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 24L * 3600 * 1000): Dataset[VecBandVerdict] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs
      .flatMap(v => graft.operators.Similarity.hyperplaneBandKeys(v.embedding, planes, bands)
        .map { case (band, bh) => VecBandHit(v.vec_id, v.ts, band, bh) })
      .withWatermark("ts", watermarkDelay)
      .groupByKey(h => (h.band, h.band_hash))
      .flatMapGroupsWithState[BucketOwner, VecBandVerdict](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((band, bh), rows, state: GroupState[BucketOwner]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // deterministic within-batch order: earliest (ts, vec_id)
            // claims a fresh bucket
            val sorted = rows.toList.sortBy(h => (h.ts.getTime, h.vec_id))
            var owner = state.getOption
            val out = sorted.map { h =>
              owner match {
                case Some(o) if o.docId != h.vec_id =>
                  VecBandVerdict(h.vec_id, band, bh, Some(o.docId))
                case Some(_) =>
                  VecBandVerdict(h.vec_id, band, bh, None)
                case None =>
                  owner = Some(BucketOwner(h.vec_id, h.ts.getTime))
                  VecBandVerdict(h.vec_id, band, bh, None)
              }
            }
            val last = math.max(owner.get.lastSeenMs, sorted.last.ts.getTime)
            state.update(BucketOwner(owner.get.docId, last))
            state.setTimeoutTimestamp(last + ttlMs)
            out.iterator
          }
      }
  }

  /** One backup-changelog record: `op` ∈ {"add", "remove"}; `fp` is
    * the row's 64-bit content fingerprint (Fx.fastFingerprint). */
  case class ManifestChange(part: String, k: Long, fp: Long, op: String)

  /** Continuous backup-manifest maintenance over a change stream — the
    * streaming twin of `Snapshot.updateManifest` (SURVEY §7.9's
    * "streaming validateCopy").
    *
    * Input: a changelog with partition columns, a business key, a
    * 64-bit row fingerprint, and `opCol` ∈ {"add", "remove"}. The
    * running aggregate keeps, per partition: live row count
    * (adds − removes), XOR content hash (XOR is self-inverse, so a
    * remove cancels the add it mirrors — exactly the batch
    * updateManifest algebra), and the envelope key bounds (bounds only
    * widen; same limitation as the batch path).
    *
    * State is one row per table partition — bounded by |partitions|,
    * not |rows|, so no watermark is required; run the sink in Update
    * (or Complete) mode. Validation against a target is composition:
    * in `foreachBatch`, join the current manifest to the target's via
    * `Snapshot.validateManifests`. Spec proves the final state equals
    * the batch `Snapshot.manifest` of base ∪ adds ∖ removes on count
    * and hash. */
  def streamingManifest(
      changes: DataFrame, partCols: Seq[String],
      keyCol: String, fpCol: String, opCol: String): DataFrame = {
    val isAdd = col(opCol) === "add"
    changes.groupBy(partCols.map(col): _*)
      .agg(
        sum(when(isAdd, 1L).otherwise(-1L)).as("n_rows"),
        min(when(isAdd, col(keyCol))).as("min_key"),
        max(when(isAdd, col(keyCol))).as("max_key"),
        bit_xor(col(fpCol)).as("content_hash"))
  }

  /** Fold per-band verdicts to one row per doc/vector: `is_dup` iff
    * any band collided; `dup_of` is the smallest colliding owner.
    * Batch-side (run in `foreachBatch` or over the sink table). */
  def collapseVerdicts(verdicts: DataFrame, idCol: String = "doc_id"): DataFrame =
    verdicts.groupBy(idCol)
      .agg(min(col("dup_of")).as("dup_of"))
      .withColumn("is_dup", col("dup_of").isNotNull)
}
