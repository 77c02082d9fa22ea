package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the events schema.
  *
  * The reference has no streaming at all (SURVEY §2.9) — this is the
  * green-field extension §7.4 plans: the same event analytics EventOps
  * runs in batch, expressed as unbounded plans with watermarks, plus a
  * stateful sessionizer. Batch and stream share semantics: the
  * EventStreamsSpec asserts the streaming windowed counts equal the batch
  * groupBy on the same data.
  *
  * Scale notes: watermark + append output bounds state; the sessionizer
  * keys state by user_id so it shards across executors, and its state per
  * key is O(1) (running aggregates, not buffered events).
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)

  final case class SessionState(start_us: Long, last_us: Long, n: Long) {
    def asSession(userId: Long): Session =
      Session(userId, start_us, last_us, n, complete = true)
  }

  object SessionState {
    /** The gap fold both sessionizers share: one micro-batch of a user's
      * events, sorted by (ts, event_id), folded into the `open` session.
      * Returns the sessions an idle gap longer than `gapUs` closed and the
      * session left open. It lives on this companion, not on
      * [[EventStreams]], so a sessionizer's `update` closure does not
      * capture the (non-serializable) enclosing object. */
    def fold(userId: Long, events: Iterator[Event], open: Option[SessionState],
        gapUs: Long): (Seq[Session], Option[SessionState]) = {
      val closed = Seq.newBuilder[Session]
      val last = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        .foldLeft(open) { (cur, e) =>
          val us = e.ts.getTime * 1000L
          cur match {
            case Some(s) if us - s.last_us > gapUs =>
              closed += s.asSession(userId)
              Some(SessionState(us, us, 1))
            case Some(s) =>
              Some(s.copy(last_us = math.max(s.last_us, us), n = s.n + 1))
            case None =>
              Some(SessionState(us, us, 1))
          }
        }
      (closed.result(), last)
    }
  }

  final case class Session(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, complete: Boolean)

  final case class FunnelState(depth: Int, last_us: Long)

  final case class FunnelHit(user_id: Long, step_idx: Int, step: String,
      us: Long)

  /** Tumbling-window counts with a watermark for late data. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sessionization via the NATIVE `session_window` aggregate under a
    * watermark — the same expression as batch e09, unchanged; Spark
    * keeps per-key session state and emits a session once the watermark
    * passes its close (append mode). The state-explicit
    * [[sessionize]]/[[sessionizeWithTimeout]] below remain for custom
    * semantics (emit-on-gap, timeout policies) that the declarative form
    * can't express. */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("sess_start"),
        col("sw.end").as("sess_end"), col("n_events"))

  /** EXACT distinct active users per tumbling day, streaming — the
    * incremental twin of the e13 presence dedup. COUNT(DISTINCT) does
    * not exist as a streaming aggregate; the exact pattern is two
    * chained stateful operators (Spark 3.4+ multi-stateful, append
    * mode): windowed dropDuplicates first — state bounded by
    * (days inside the watermark) × active users, evicted as the
    * watermark passes each window — then a plain count over the
    * dedup'd presence rows. A window only emits once the watermark
    * closes it, so each day's count is final on arrival. */
  def dailyDistinctActives(events: DataFrame,
      watermark: String = "2 days"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), "1 day").as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("active_users"))
      .select(col("w.start").as("day_start"), col("active_users"))

  /** Approximate daily distinct actives via a mergeable HLL sketch — the
    * e17 rollup primitive running incrementally. The sketch's partial
    * buffer IS the streaming state value, so state per window is a few
    * KB regardless of user cardinality; [[dailyDistinctActives]]' exact
    * dedup state grows with users × days inside the watermark, which at
    * 100 TB event rates is the difference between a state store that
    * fits and one that doesn't. Union-by-register-max makes the
    * micro-batch merge order irrelevant: the streaming estimate is
    * BIT-IDENTICAL to a batch sketch over the same rows (pinned in
    * EventStreamsSpec). */
  def dailyDistinctSketch(events: DataFrame,
      watermark: String = "2 days"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))")
        .as("approx_users"))
      .select(col("w.start").as("day_start"), col("approx_users"))

  /** Per-day heavy-hitter CANDIDATES under a watermark — the streaming
    * twin of t24's Misra–Gries pass 1. The MG counter table is the
    * state-store value, so per-window state is O(k) regardless of key
    * cardinality (a naive per-key count would grow state with the key
    * space); each micro-batch folds in via the aggregate's merge path.
    * Unlike the HLL sketch, an MG summary below the n/(k+1) threshold IS
    * merge-order-sensitive, so the streaming contract is the guarantee,
    * not bit-equality: every key with in-window frequency > total/(k+1)
    * appears among the ≤ k candidates, and `total` is exact. A batch
    * second pass over the closed window turns candidates into exact
    * counts, as in t24. */
  def dailyHeavyHitterSketch(events: DataFrame, k: Int = 8,
      watermark: String = "2 days"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(expr(s"mg_sketch(event_type, $k)").as("sk"))
      .select(col("w.start").as("day_start"),
        col("sk.total").as("total"), col("sk.keys").as("candidates"))

  /** Per-day value-distribution sketch under a watermark — the KLL
    * sibling of [[dailyDistinctSketch]]: the sketch buffer is the
    * state-store value (log-n bytes per window), micro-batches fold in
    * via the aggregate's merge path, and the emitted row answers any
    * later quantile question from the blob. Below k retained values the
    * sketch is exact, so small windows are deterministically equal to
    * batch; beyond that the published rank-error bound is the contract
    * (KllAgg scaladoc). */
  def dailyQuantileSketch(events: DataFrame, k: Int = 200,
      watermark: String = "2 days"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(expr(s"kll_agg(value, $k)").as("sk"))
      .select(col("w.start").as("day_start"),
        expr("kll_quantile(sk, 0.5d)").as("p50"),
        expr("kll_quantile(sk, 0.95d)").as("p95"),
        // the blob itself rides along so closed windows can be rolled up
        // (kll_union_agg) or asked new quantiles later, as documented
        col("sk"))

  /** Gap-based sessionization with explicit state (30-minute idle gap):
    * mirrors EventOps.e02 semantics, but incremental. Emits a session
    * whenever a gap closes it; the open session stays in state. */
  def sessionize(events: Dataset[Event], gapMinutes: Long = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def update(userId: Long, it: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      val (closed, open) = SessionState.fold(userId, it, state.getOption, gapUs)
      open.foreach(state.update)
      closed.iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Watermark-driven sessionization: like [[sessionize]], but sessions
    * also close when the event-time watermark passes their gap deadline —
    * no successor event needed. This is the production shape: state for
    * idle users is evicted by time, so it cannot grow without bound.
    * Requires `withWatermark("ts", ...)` on the input. */
  def sessionizeWithTimeout(events: Dataset[Event], gapMinutes: Long = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def update(userId: Long, it: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      if (it.isEmpty && state.hasTimedOut) {
        // watermark passed the gap deadline → close and evict
        val s = state.get
        state.remove()
        return Iterator.single(s.asSession(userId))
      }
      val (closed, open) = SessionState.fold(userId, it, state.getOption, gapUs)
      // close when event time reaches last_us + gap. flatMapGroupsWithState
      // does NOT drop late rows, so a batch of events already more than
      // `gap` behind the watermark would yield a deadline <= watermark,
      // which Spark rejects (IllegalArgumentException kills the query).
      // Such a session is already over in event time: emit it now instead
      // of registering an un-settable timeout.
      open.fold(closed) { s =>
        val deadlineMs = s.last_us / 1000L + gapMinutes * 60L * 1000L
        if (deadlineMs <= state.getCurrentWatermarkMs()) {
          state.remove()
          closed :+ s.asSession(userId)
        } else {
          state.update(s)
          state.setTimeoutTimestamp(deadlineMs)
          closed
        }
      }.iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Stream-stream inner join: each purchase joined to the same user's
    * clicks in the trailing `windowMinutes`. Both sides carry watermarks
    * AND the join has a time-range condition — the two facts Spark needs
    * to evict buffered state: a click older than
    * `watermark − windowMinutes` can never match a future purchase, so
    * per-side state is bounded by (rate × window), not by stream length.
    * That bound is what makes the operator runnable indefinitely at scale. */
  def clickPurchaseJoin(events: DataFrame,
      windowMinutes: Long = 30, watermark: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermark)
    purchases.join(clicks,
      expr(s"p_user = c_user AND c_ts BETWEEN " +
        s"p_ts - INTERVAL $windowMinutes MINUTES AND p_ts"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("p_ts"), col("click_id"), col("c_ts"))
  }

  /** Stream-STATIC enrichment join: each streaming event picks up its
    * user's dimension row. The static side is a bounded batch DataFrame,
    * so Spark broadcasts it to every micro-batch task — no watermark, no
    * join state, no shuffle of the stream; the dimension is re-resolved
    * per micro-batch, so a refreshed dim table is picked up without
    * restarting the query. This is the third join shape next to
    * stream-stream ([[clickPurchaseJoin]]) and batch-batch (catalog):
    * the fact-to-dimension lookup a 100 TB/day event feed does
    * constantly. Inner by default; `left_outer` keeps unmatched events
    * (allowed because only the STREAM side may have unmatched rows). */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String = "user_id",
      joinType: String = "inner"): DataFrame =
    events.join(broadcast(dim), Seq(key), joinType)

  /** Streaming exact deduplication: emit the first occurrence of each
    * content digest, dropping repeats that arrive within the watermark
    * horizon — the streaming counterpart of the batch d01 operator, i.e.
    * the "don't ingest the same document twice" gate of a continuously
    * fed training-data pipeline.
    *
    * `dropDuplicatesWithinWatermark` keys state by digest and EVICTS each
    * key once the watermark passes its first-seen event time, so state is
    * bounded by (ingest rate × watermark horizon) instead of growing with
    * the all-time distinct count — the property that lets the query run
    * forever. Exact-once suppression therefore only holds for dupes
    * closer together than the horizon; a late twin beyond it re-emits,
    * and the downstream batch d01 pass is the idempotent backstop. */
  def dedupStream(docs: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "text", tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", md5(col(payloadCol).cast("binary")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col(idCol), col("content_hash"), col(tsCol))

  /** Streaming N-step conversion funnel — the incremental twin of batch
    * e14. State per user is O(1): struct(depth reached, micros of the
    * event that reached it). Each micro-batch sorts its own slice by
    * (ts, event_id) and advances the greedy recurrence; a FunnelHit is
    * emitted the moment a step is reached, so downstream per-step counts
    * are a plain streaming aggregate over the hits.
    *
    * Exactness: equal to the batch fold when events arrive in order
    * ACROSS micro-batches (within a batch any order is fine — the slice
    * is sorted). Cross-batch stragglers are the same trade-off
    * [[sessionize]] documents; the batch e14 pass is the idempotent
    * backstop. NoTimeout keeps the mirror exact (e14 is single-attempt
    * per user, so a completed-or-frozen user's state must persist as a
    * tombstone); the production eviction variant — drop state once the
    * watermark passes last_us + window, accepting funnel RESTART
    * semantics for users who return later — is the
    * [[sessionizeWithTimeout]] pattern applied here. */
  def funnelStream(events: Dataset[Event],
      steps: Seq[String] = Seq("signup", "view", "click", "purchase"),
      windowHours: Long = 24): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    val wUs = windowHours * 3600L * 1000000L

    def update(userId: Long, it: Iterator[Event],
        state: GroupState[FunnelState]): Iterator[FunnelHit] = {
      val sorted = it.toSeq.filter(e => steps.contains(e.event_type))
        .sortBy(e => (e.ts.getTime, e.event_id))
      var st = state.getOption.getOrElse(FunnelState(0, 0L))
      val hits = scala.collection.mutable.ArrayBuffer[FunnelHit]()
      sorted.foreach { e =>
        val us = e.ts.getTime * 1000L
        if (st.depth < steps.length && e.event_type == steps(st.depth) &&
            (st.depth == 0 || us - st.last_us <= wUs)) {
          st = FunnelState(st.depth + 1, us)
          hits += FunnelHit(userId, st.depth, steps(st.depth - 1), us)
        }
      }
      state.update(st)
      hits.iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming parquet sink: append-mode exactly-once file output (the
    * checkpoint + file-manifest commit protocol is what makes re-runs
    * idempotent — the distributed replacement for the reference's
    * single-file driver sinks). */
  def writeParquetStream(df: DataFrame, path: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .start()

  /** Streaming upsert sink: every micro-batch is MERGEd into the parquet
    * snapshot at `tablePath` via [[graft.operators.MergeOps.upsert]] —
    * late corrections replace their key's row, new keys append, the rest
    * carries forward. The swap is write-staging-then-rename, the portable
    * single-writer core of what lakehouse table formats do with a commit
    * log (which is the upgrade path for multi-writer or crash-between-
    * rename atomicity). State lives entirely in the snapshot: the stream
    * itself keeps none, so the query restarts from its checkpoint without
    * rebuilding anything. */
  def upsertStream(updates: DataFrame, key: String, tablePath: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (rawBatch: DataFrame, _: Long) =>
        // one row per key per batch: duplicate keys would each survive the
        // full-outer merge and corrupt the keyed snapshot forever (which
        // row wins an intra-batch tie is arbitrary — callers needing
        // last-wins pre-aggregate on an ordering column first)
        val batch = rawBatch.dropDuplicates(key)
        swapSnapshot(rawBatch.sparkSession, tablePath) {
          case Some(snapshot) =>
            graft.operators.MergeOps.upsert(snapshot, batch, key)
          case None => batch
        }
      }
      .start()

  /** Streaming incremental materialized view — e22's streaming twin: each
    * micro-batch reduces to per-(type, day) MERGEABLE partial state
    * (count/sum/min/max + HLL user sketch), which folds into the parquet
    * view by state algebra (+ / min / max / register-max union). History
    * is never rescanned: each commit costs the view's cardinality plus
    * the batch, regardless of how much data the view already summarizes.
    * Same staged-swap commit as [[upsertStream]] — with the batchId
    * passed through, because unlike upsert this merge is ADDITIVE and
    * therefore not replay-idempotent: foreachBatch re-delivers a batch
    * if the query dies between the snapshot swap and the checkpoint
    * commit, and folding the same delta twice would silently double cnt
    * and total forever (lo/hi/sketch-union would mask it by staying
    * right). The snapshot carries the last committed batchId; a replayed
    * batch is recognized and skipped. */
  def rollupStream(events: DataFrame, tablePath: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        val delta = rawBatch
          .select(col("event_type"), to_date(col("ts")).as("day"),
            col("value"), col("user_id"))
          .groupBy("event_type", "day")
          .agg(count(lit(1)).as("cnt"), sum("value").as("total"),
            min("value").as("lo"), max("value").as("hi"),
            expr("hll_sketch_agg(user_id, 12)").as("sk"))
        swapSnapshot(rawBatch.sparkSession, tablePath, Some(batchId)) {
          case Some(view) => view.unionByName(delta)
            .groupBy("event_type", "day")
            .agg(sum("cnt").as("cnt"), sum("total").as("total"),
              min("lo").as("lo"), max("hi").as("hi"),
              expr("hll_union_agg(sk, false)").as("sk"))
          case None => delta
        }
      }
      .start()

  /** Staged-swap snapshot commit: `merge` receives the current snapshot
    * (None on first commit) and returns the next one, which materializes
    * to `<tablePath>.staging` BEFORE the delete-and-rename swap. The
    * portable single-writer core of a lakehouse commit; a commit log is
    * the multi-writer / crash-between-rename upgrade path.
    *
    * `batchId` makes a NON-idempotent merge replay-safe: the id is
    * written as an underscore-prefixed marker file INSIDE the staging
    * snapshot (parquet readers ignore `_` files, and the rename carries
    * data + marker atomically), and a commit whose id is ≤ the marker
    * already in the target is a completed replay — skipped. Idempotent
    * merges (key upsert) may pass None and tolerate replays by
    * construction. */
  private[graft] def swapSnapshot(spark: SparkSession, tablePath: String,
      batchId: Option[Long] = None)(
      merge: Option[DataFrame] => DataFrame): Unit = {
    // FileSystem API, not java.io.File: tablePath may be hdfs://,
    // s3a://, or file:/ URI form — java.io would silently report
    // exists()=false and skip merging an existing snapshot
    val target = new org.apache.hadoop.fs.Path(tablePath)
    val staging = new org.apache.hadoop.fs.Path(tablePath + ".staging")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery: staging-without-target means a previous run died
    // between delete and rename, and staging holds the complete merged
    // snapshot — finish its swap instead of silently restarting empty
    if (fs.exists(staging) && !fs.exists(target)) fs.rename(staging, target)
    else if (fs.exists(staging)) fs.delete(staging, true)
    def committedId(dir: org.apache.hadoop.fs.Path): Option[Long] = {
      val m = new org.apache.hadoop.fs.Path(dir, "_graft_batchid")
      if (!fs.exists(m)) None
      else {
        val in = fs.open(m)
        try Some(in.readLong()) finally in.close()
      }
    }
    // A legitimate foreachBatch replay can only be of the LAST committed
    // batch (the marker id): the engine re-delivers a batch only when it
    // failed after the sink committed but before the checkpoint advanced.
    // An id STRICTLY BELOW the marker means the stream's checkpoint was
    // wiped/recreated (batch ids restarted) while the view parquet was
    // kept — silently skipping would drop every early batch, so fail
    // loudly instead: checkpoint and view must be deleted together.
    batchId.foreach { id =>
      if (fs.exists(target)) committedId(target).foreach { marker =>
        require(id >= marker,
          s"swapSnapshot: batch $id is below the committed marker $marker " +
            s"in $tablePath — the streaming checkpoint appears to have been " +
            "reset while the snapshot was kept. Delete the snapshot " +
            "directory and the checkpoint together, then restart.")
      }
    }
    val replayed = batchId.exists(id =>
      fs.exists(target) && committedId(target).exists(id <= _))
    if (!replayed) {
      val merged = merge(
        if (fs.exists(target)) Some(spark.read.parquet(tablePath)) else None)
      merged.write.mode("overwrite").parquet(staging.toString) // materializes BEFORE the swap
      batchId.foreach { id =>
        val out = fs.create(
          new org.apache.hadoop.fs.Path(staging, "_graft_batchid"), true)
        try out.writeLong(id) finally out.close()
      }
      if (fs.exists(target)) fs.delete(target, true)
      require(fs.rename(staging, target),
        s"swapSnapshot: rename failed for $tablePath")
    }
  }
}
