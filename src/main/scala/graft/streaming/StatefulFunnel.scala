package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful lifecycle funnel via `flatMapGroupsWithState` — the
  * custom-state form of the reference's order-lifecycle tracking
  * (SURVEY §2.10: `lifecycle_step` 1–4 per key; the reference recomputes
  * from scratch, we keep per-key state across micro-batches).
  *
  * State per user: furthest funnel stage reached + how many funnel
  * events contributed. Each micro-batch folds its events into the state
  * and emits the updated snapshot (update-style append). In production
  * the same function runs with `EventTimeTimeout` to emit "abandoned at
  * stage k" tombstones for keys that stall — the timeout wiring is here,
  * behind a flag, but the drain-style verification uses NoTimeout
  * (AvailableNow processes all input as one batch, so nothing can time
  * out meaningfully).
  *
  * Scale: state is 16 bytes per live key in the state store; the
  * watermark bounds how long abandoned keys linger. Input shuffles once
  * on the grouping key, exactly like the batch groupBy.
  */
object StatefulFunnel {

  val stageRank: Map[String, Int] =
    Map("signup" -> 1, "view" -> 2, "click" -> 3, "purchase" -> 4)

  case class Ev(user_id: Long, event_type: String)
  case class FunnelState(maxStage: Int, nFunnelEvents: Long)
  case class FunnelProgress(user_id: Long, max_stage: Int,
      n_funnel_events: Long, completed: Boolean)

  def update(userId: Long, events: Iterator[Ev],
      state: GroupState[FunnelState]): Iterator[FunnelProgress] = {
    var s = state.getOption.getOrElse(FunnelState(0, 0L))
    events.foreach { e =>
      stageRank.get(e.event_type).foreach { r =>
        s = FunnelState(math.max(s.maxStage, r), s.nFunnelEvents + 1)
      }
    }
    state.update(s)
    Iterator.single(
      FunnelProgress(userId, s.maxStage, s.nFunnelEvents, s.maxStage == 4))
  }

  // ---- abandoned-funnel detection (EventTimeTimeout) -----------------

  case class TimedEv(user_id: Long, event_type: String,
      ts: java.sql.Timestamp)
  case class Outcome(user_id: Long, max_stage: Int, abandoned: Boolean)

  /** Abandonment window: a key with no funnel activity for this long
    * (in event time, i.e. watermark time) is declared abandoned. */
  val AbandonAfterMs: Long = 2 * 3600 * 1000L

  /** State function with a real event-time timeout: each batch folds
    * events and re-arms the timeout at (latest event time + window);
    * when the WATERMARK passes that point with no new events, Spark
    * calls back with `hasTimedOut` and we emit the abandonment tombstone
    * and drop the state — the "hard part (e)" semantics SURVEY §7.3
    * flags: the reference recomputes snapshots and has no concept of a
    * key going quiet. Completed funnels (purchase seen) emit immediately
    * and clear state — no timeout needed, state stays minimal. */
  def updateWithTimeout(userId: Long, events: Iterator[TimedEv],
      state: GroupState[FunnelState]): Iterator[Outcome] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator.single(Outcome(userId, s.maxStage, abandoned = true))
    } else {
      var s = state.getOption.getOrElse(FunnelState(0, 0L))
      var latest = Long.MinValue
      events.foreach { e =>
        stageRank.get(e.event_type).foreach { r =>
          s = FunnelState(math.max(s.maxStage, r), s.nFunnelEvents + 1)
        }
        latest = math.max(latest, e.ts.getTime)
      }
      if (s.maxStage >= 4) {
        state.remove()
        Iterator.single(Outcome(userId, s.maxStage, abandoned = false))
      } else {
        state.update(s)
        if (latest != Long.MinValue)
          state.setTimeoutTimestamp(latest + AbandonAfterMs)
        Iterator.empty
      }
    }
  }

  /** Wire [[updateWithTimeout]] over any watermarked [[TimedEv]] stream
    * (production: the events source; specs: a MemoryStream driving the
    * watermark through multiple batches). */
  def outcomes(evs: org.apache.spark.sql.Dataset[TimedEv])
      : org.apache.spark.sql.Dataset[Outcome] = {
    import evs.sparkSession.implicits._
    evs.withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(updateWithTimeout)
  }

  /** Drain the events stream once (AvailableNow) and return the final
    * per-user funnel progress. */
  def progress(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = StreamingFunnel.eventsStream(spark, dir)
      .select(col("user_id"), col("event_type")).as[Ev]

    val out = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)

    // several snapshots per key if the drain ran >1 micro-batch: keep latest
    Drain.toMemory(out, "append", "stateful_funnel_sink")
      .groupBy("user_id")
      .agg(max(col("max_stage")).cast("int").as("max_stage"),
        max(col("n_funnel_events")).as("n_funnel_events"),
        (max(col("max_stage")) === 4).as("completed"))
      .orderBy("user_id")
  }
}
