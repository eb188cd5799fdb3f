package graft.stream

import graft.core.{Decision, JoinedDecision, Reward}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The contextual-bandit delayed join (reference: join-service/app/main.py:
  * 59-96; spec README.md:14-27): a decision joins every reward with the same
  * key arriving in [d.ts, d.ts + Δ], the result is emitted once the
  * decision's window closes (≥ d.ts + Δ), and a decision with no reward
  * emits exactly one row with reward = 0.0.
  *
  * The window is one-sided by the reference's construction: the service
  * emits at t = d.insert_ms + Δ, when rewards_window holds exactly the
  * rewards with t BETWEEN r.insert_ms AND r.insert_ms + Δ, i.e.
  * r.insert_ms ∈ [d.insert_ms, d.insert_ms + Δ]. A reward logged before its
  * decision never matches (reward_delta_ms ≥ 0 always).
  *
  * Streaming implementation: union both streams keyed by `key`, buffer in
  * `flatMapGroupsWithState` with an event-time timeout at the earliest
  * pending decision's deadline. This is the semantically faithful form —
  * a stream-stream outer join would emit on watermark close of *both* sides
  * rather than exactly per-decision, and cannot express the override
  * tombstones (J7) or last-reward-wins (J6) variants.
  *
  * Scale: state is partitioned by key across executors; per-key state holds
  * only the [0, Δ] window of events, and the timeout GC's it — bounded memory
  * regardless of stream length.
  */
object DelayedJoin {

  val DefaultDeltaMs: Long = 10000L // EXP_UNIT_MS (reference main.py:22)

  /** Union-stream element. kind: 0 = decision, 1 = reward, 2 = override.
    * `ts` is the event-time column (derived from insert_ms inside
    * [[joined]]); it must be a field of the grouped type so the watermark
    * attribute survives into flatMapGroupsWithState.
    */
  final case class In(key: String, kind: Int, context: String, action: String,
      probability: Double, reward: Double, insert_ms: Long,
      ts: java.sql.Timestamp = null)

  final case class State(
      decisions: List[In], rewards: List[In], overridden: Boolean)

  object In {
    def apply(d: Decision): In =
      In(d.key, 0, d.context, d.action, d.probability, 0.0, d.insert_ms)
    def apply(r: Reward): In = In(r.key, 1, "", "", 0.0, r.reward, r.insert_ms)
    def overrideKey(key: String, ms: Long): In = In(key, 2, "", "", 0.0, 0.0, ms)
  }

  final case class Config(
      deltaMs: Long = DefaultDeltaMs,
      lastRewardWins: Boolean = false, // J6 exercise variant
      honorOverrides: Boolean = false) // J7 exercise variant

  /** The pure per-key state transition behind [[joined]]. Folds
    * `incoming` into `prev` at event-time watermark `wm` and returns
    * (emitted rows, next state — None means the key's state is empty and can
    * be removed, next wake-up timestamp). Decisions with deadline
    * (insert_ms + Δ) ≤ wm are emitted and dropped; the wake-up is the
    * earliest pending deadline (or wm + Δ for reward-only/override state,
    * which needs one more visit to GC), clamped above the watermark.
    *
    * NULL keys follow [[batch]] and [[withoutOverridden]], where an
    * equi-join never matches NULL: `groupByKey` still gathers every
    * null-key event into one group, so a null-key reward is dropped here
    * (it never matches, never buffers) and a null-key override never
    * suppresses. A null-key decision emits its reward-0.0 row.
    */
  private[stream] def advance(cfg: Config, prev: State, incoming: List[In],
      wm: Long): (List[JoinedDecision], Option[State], Long) = {
    val overridden = prev.overridden ||
      (cfg.honorOverrides && incoming.exists(e => e.kind == 2 && e.key != null))
    val decisions = prev.decisions ++ incoming.filter(_.kind == 0)
    val rewards = prev.rewards ++
      incoming.filter(e => e.kind == 1 && e.key != null)

    val (due, pending) = decisions.partition(_.insert_ms + cfg.deltaMs <= wm)
    val out: List[JoinedDecision] =
      if (overridden) Nil
      else due.flatMap { d =>
        val matched = rewards
          .filter(r => r.insert_ms >= d.insert_ms &&
            r.insert_ms - d.insert_ms <= cfg.deltaMs)
          .sortBy(r => (r.insert_ms, r.reward))
        val chosen = if (cfg.lastRewardWins) matched.takeRight(1) else matched
        if (chosen.isEmpty)
          List(JoinedDecision(d.key, d.context, d.action, d.probability,
            0.0, d.insert_ms, None)) // J3 coalesce default
        else chosen.map(r =>
          JoinedDecision(d.key, d.context, d.action, d.probability,
            r.reward, d.insert_ms, Some(r.insert_ms - d.insert_ms))) // J4
      }

    // GC: with the one-sided window a reward matches decisions with
    // d.insert_ms ∈ [r.insert_ms − Δ, r.insert_ms]; every pending decision
    // has d.insert_ms > wm − Δ, so once r.insert_ms + Δ ≤ wm the reward
    // precedes every pending (and any non-late future) decision and can be
    // dropped. This bound is exact: r.insert_ms + Δ is also the deadline of
    // the latest decision the reward could match — a reward is never GC'd
    // before a decision it matches is emitted, however many same-key steps
    // run in between.
    val liveRewards = rewards.filter(_.insert_ms + cfg.deltaMs > wm)
    if (pending.isEmpty && liveRewards.isEmpty && !overridden)
      (out, None, 0L)
    else {
      val nextDeadline =
        if (pending.nonEmpty) pending.map(_.insert_ms + cfg.deltaMs).min
        else wm + cfg.deltaMs // reward-only/override state: revisit to GC
      (out, Some(State(pending, liveRewards, overridden)),
        math.max(nextDeadline, wm + 1))
    }
  }

  /** flatMapGroupsWithState wiring of [[advance]]. */
  private def step(cfg: Config)(key: String, in: Iterator[In],
      state: GroupState[State]): Iterator[JoinedDecision] = {
    val prev = state.getOption.getOrElse(State(Nil, Nil, overridden = false))
    val (out, next, wakeUp) =
      advance(cfg, prev, in.toList, state.getCurrentWatermarkMs())
    next match {
      case None => state.remove()
      case Some(st) =>
        state.update(st)
        state.setTimeoutTimestamp(wakeUp)
    }
    out.iterator
  }

  /** Streaming delayed join over a pre-unioned input stream carrying an
    * event-time column `ts` (TimestampType, = insert_ms). Callers build the
    * union with [[unionStreams]].
    */
  def joined(spark: SparkSession, input: Dataset[In], cfg: Config = Config())
      : Dataset[JoinedDecision] = {
    import spark.implicits._
    input
      .withColumn("ts", timestamp_millis(col("insert_ms")))
      .as[In]
      .withWatermark("ts", s"${cfg.deltaMs} milliseconds")
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        step(cfg))
  }

  def unionStreams(spark: SparkSession, decisions: Dataset[Decision],
                   rewards: Dataset[Reward]): Dataset[In] = {
    import spark.implicits._
    decisions.map(In(_): In).union(rewards.map(In(_): In))
  }

  /** Materialize-TAIL-parity changefeed over [[joined]] — each joined row
    * becomes `(timestamp, diff, *cols)` delta events (reference:
    * join-service/app/main.py:114-120 consumes exactly this shape and
    * drops `diff <= 0`).
    *
    * The timestamps are DETERMINISTIC from the view algebra, not from
    * processing time: the reference's joined_decisions row for decision d
    * satisfies both `t BETWEEN d.insert_ms AND d.insert_ms + Δ`
    * (decisions_window, main.py:60-65) and `t >= d.insert_ms + Δ` (the
    * join filter) — i.e. it EXISTS for exactly one logical instant,
    * t = d.insert_ms + Δ. TAIL therefore emits the insertion (+1) at that
    * instant and the retraction (−1) one logical tick later, when the
    * decision leaves its window. Both deltas are fully determined at
    * emission time, so the changefeed is a STATELESS per-row expansion of
    * the joined stream (legal after flatMapGroupsWithState in append
    * mode).
    */
  def changefeed(joined: Dataset[_],
                 deltaMs: Long = DefaultDeltaMs): DataFrame = {
    val deadline = col("decision_insert_ms") + deltaMs
    val cols = joined.columns.map(col).toSeq
    joined
      .select(explode(array(
        struct((Seq(deadline.as("timestamp"), lit(1).as("diff")) ++ cols): _*),
        struct((Seq((deadline + 1).as("timestamp"), lit(-1).as("diff")) ++
          cols): _*))).as("_e"))
      .select(col("_e.*"))
  }

  // ------------------------------------------------------------------
  // Batch analogs (the oracle-checkable semantics of J2–J7)
  // ------------------------------------------------------------------

  /** J2–J5 batch analog: LEFT join decisions→rewards on key with
    * r.insert_ms ∈ [d.insert_ms, d.insert_ms + Δ] (the reference's one-sided
    * window), multi-reward fan-out, reward defaulted to 0.0 and delta NULL
    * on miss. Expects `decisions(key, insert_ms, …payload)` and
    * `rewards(key, reward, insert_ms)`; payload columns pass through.
    */
  def batch(decisions: DataFrame, rewards: DataFrame,
            deltaMs: Long = DefaultDeltaMs): DataFrame = {
    val payload = decisions.columns.filterNot(Set("key", "insert_ms")).toSeq
    val d = decisions.alias("d")
    val r = rewards
      .select(col("key"), col("reward"), col("insert_ms").as("r_insert_ms"))
      .alias("r")
    d.join(r,
        col("d.key") === col("r.key") &&
          col("r.r_insert_ms").between(
            col("d.insert_ms"), col("d.insert_ms") + deltaMs),
        "left")
      .select(
        (col("d.key").as("key") +:
          payload.map(c => col(s"d.$c").as(c))) ++ Seq(
          coalesce(col("r.reward"), lit(0.0)).as("reward"),
          col("d.insert_ms").as("decision_insert_ms"),
          (col("r.r_insert_ms") - col("d.insert_ms")).as("reward_delta_ms")): _*)
  }

  /** J6 batch analog: exactly one row per decision, keeping the reward with
    * the greatest insert_ms (ties by reward value); reward 0.0 on miss.
    */
  def lastRewardWins(joined: DataFrame, decisionIdCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(decisionIdCols.map(col): _*)
      .orderBy(col("reward_delta_ms").desc_nulls_last, col("reward").desc)
    joined.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
  }

  /** J7 batch analog: suppress decisions whose key appears in `overrides`. */
  def withoutOverridden(decisions: DataFrame, overrides: DataFrame,
                        keyCol: String = "key"): DataFrame =
    decisions.join(overrides.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
}
