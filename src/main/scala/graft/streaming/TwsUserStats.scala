package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** Per-user running stats on Spark 4's `transformWithState` — the
  * successor API to `flatMapGroupsWithState` (q42): typed state
  * variables behind a handle, per-variable TTL, multiple column
  * families in the store, timers decoupled from state. This is the
  * operator a production lifecycle tracker would use today; q42 keeps
  * the legacy API alongside so both state surfaces stay covered.
  *
  * State per user: event count, exact value cents (integer — the
  * Portable money discipline applies to state too), furthest funnel
  * stage. Each micro-batch folds its rows and emits the updated
  * snapshot; the drain keeps the last snapshot per key, which equals
  * the batch aggregate — the oracle states exactly that.
  *
  * Scale: transformWithState requires the RocksDB state store —
  * incremental checkpointing + changelog, unbounded-ish key cardinality
  * spilling to disk instead of executor heap; the conf flips here and
  * back so the sibling streaming queries keep their default store.
  */
object TwsUserStats {

  case class Ev(user_id: Long, event_type: String, value_c: Long)
  case class Stats(nEvents: Long, valueCents: Long, maxStage: Int)
  case class Out(user_id: Long, n_events: Long, total_value: Double,
      max_stage: Int)

  class Proc extends StatefulProcessor[Long, Ev, Out] {
    @transient private var st: ValueState[Stats] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Stats]("stats",
        Encoders.product[Stats], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[Out] = {
      var s = if (st.exists()) st.get() else Stats(0L, 0L, 0)
      rows.foreach { e =>
        val r = StatefulFunnel.stageRank.getOrElse(e.event_type, 0)
        s = Stats(s.nEvents + 1, s.valueCents + e.value_c,
          math.max(s.maxStage, r))
      }
      st.update(s)
      Iterator.single(
        Out(key, s.nEvents, s.valueCents.toDouble / 100.0, s.maxStage))
    }
  }

  def userStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = StreamingFunnel.eventsStream(spark, dir)
        .select(col("user_id"), col("event_type"),
          // exact cents BEFORE state entry (Portable.cents2 inline —
          // floor(x*100+0.5) — so state arithmetic is pure integer)
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
            .as("value_c"))
        .as[Ev]

      val out = evs.groupByKey(_.user_id)
        .transformWithState(new Proc, TimeMode.None(), OutputMode.Update())

      // last snapshot per key == the batch aggregate; n_events strictly
      // increases per touched batch, so the struct max IS the last one
      Drain.toMemory(out, "update", "tws_user_stats_sink")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("total_value"),
          col("max_stage"))).as("s"))
        .select(col("user_id"), col("s.n_events").as("n_events"),
          col("s.total_value").as("total_value"),
          col("s.max_stage").cast("int").as("max_stage"))
        .orderBy("user_id")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
