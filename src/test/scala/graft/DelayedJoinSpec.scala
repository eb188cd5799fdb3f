package graft

import graft.stream.DelayedJoin
import graft.stream.DelayedJoin.{Config, In}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** J1–J7 streaming semantics (fixture scenarios from FIXTURES.md §2 /
  * reference join-service/README.md:14-27,108-124). Δ = 10 000 ms.
  * A far-future reward on a throwaway key pushes the watermark so the
  * event-time timeouts fire deterministically.
  */
/** Cross-restart sink buffer for the checkpoint-recovery test (foreachBatch
  * closures must reference a stable JVM-global, not a test-local that a
  * restarted query would re-capture).
  */
object RecoveredRows {
  val buf = scala.collection.mutable.ArrayBuffer[(String, Double)]()
}

class DelayedJoinSpec extends SparkSpec {
  import spark.implicits._

  private val T0 = 1000000L
  private val Delta = 10000L

  private def run(cfg: Config, events: Seq[In], name: String): Seq[(String, Double, Option[Long])] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[In]
    val q: StreamingQuery = DelayedJoin.joined(spark, input.toDS(), cfg)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      input.addData(In.apply(graft.core.Reward("_wm", 0.0, T0 + 30 * Delta)))
      q.processAllAvailable()
      // one more empty-ish batch so timeouts set in the previous batch fire
      input.addData(In.apply(graft.core.Reward("_wm", 0.0, T0 + 31 * Delta)))
      q.processAllAvailable()
      sortedRows(spark.table(name))
    } finally q.stop()
  }

  /** (key, reward, reward_delta_ms) rows in a fixed order; a NULL key
    * sorts first.
    */
  private def sortedRows(df: org.apache.spark.sql.DataFrame)
      : Seq[(String, Double, Option[Long])] =
    df.select("key", "reward", "reward_delta_ms")
      .as[(String, Double, Option[Long])].collect().toSeq
      .sortBy(t => (Option(t._1), t._2, t._3))

  private def d(key: String, ms: Long) =
    In(graft.core.Decision(key, "ctx", "act", 0.5, ms))
  private def r(key: String, ms: Long, v: Double) =
    In(graft.core.Reward(key, v, ms))

  test("delayed join core semantics J1-J5") {
    val out = run(Config(deltaMs = Delta), Seq(
      d("k1", T0), r("k1", T0 + 3000, 5.0),          // reward in window
      d("k2", T0),                                    // no reward -> 0.0
      d("k3", T0), r("k3", T0 + 1000, 1.0), r("k3", T0 + 2000, 2.0), // fan-out
      r("k4", T0, 1.0), d("k4", T0 + 2000),           // reward BEFORE decision
      d("k5", T0), r("k5", T0 + 11000, 9.0)           // reward after window
    ), "dj_core")
    assert(out == Seq(
      ("k1", 5.0, Some(3000L)),
      ("k2", 0.0, None),
      ("k3", 1.0, Some(1000L)),
      ("k3", 2.0, Some(2000L)),
      // the reference window is one-sided [d, d+Δ]: a reward logged before
      // its decision never matches (join-service main.py:62-96 emits at
      // t = d+Δ, when rewards_window requires r.insert_ms ≥ d.insert_ms)
      ("k4", 0.0, None),
      ("k5", 0.0, None)))
  }

  test("reward survives interleaved same-key steps until the decision deadline") {
    // A same-key event lands while wm sits between the reward's arrival and
    // the decision's deadline — the step must NOT GC the pending reward
    // (ADVICE r1: retention bound r.insert_ms + Δ > wm is exact for the
    // one-sided window; this pins it).
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[In]
    val q = DelayedJoin.joined(spark, input.toDS(), Config(deltaMs = Delta))
      .writeStream.format("memory").queryName("dj_gc").outputMode("append").start()
    try {
      input.addData(d("g1", T0), r("g1", T0 + 3000, 5.0))
      q.processAllAvailable()
      // a second same-key reward forces a step for g1 while the decision is
      // still pending; the buffered T0+3000 reward must stay in state
      input.addData(r("g1", T0 + 7000, 9.9), r("_wm", T0 + 7000, 0.0))
      q.processAllAvailable()
      // push wm past the deadline → emit
      input.addData(r("_wm", T0 + 30 * Delta, 0.0))
      q.processAllAvailable()
      input.addData(r("_wm", T0 + 31 * Delta, 0.0))
      q.processAllAvailable()
      val out = spark.table("dj_gc").where($"key" === "g1")
        .select("key", "reward", "reward_delta_ms")
        .as[(String, Double, Option[Long])].collect().toSeq.sorted
      assert(out == Seq(("g1", 5.0, Some(3000L)), ("g1", 9.9, Some(7000L))))
    } finally q.stop()
  }

  test("last-reward-wins variant J6 emits exactly one row per decision") {
    val out = run(Config(deltaMs = Delta, lastRewardWins = true), Seq(
      d("k3", T0), r("k3", T0 + 1000, 1.0), r("k3", T0 + 2000, 2.0),
      d("k2", T0)
    ), "dj_lastwins")
    assert(out == Seq(("k2", 0.0, None), ("k3", 2.0, Some(2000L))))
  }

  test("override tombstone J7 suppresses the decision") {
    val out = run(Config(deltaMs = Delta, honorOverrides = true), Seq(
      d("k6", T0), In.overrideKey("k6", T0 + 1000),
      d("k7", T0) // not overridden, still emits
    ), "dj_override")
    assert(out == Seq(("k7", 0.0, None)))
  }

  test("as-of join picks the latest at-or-before value within tolerance") {
    val left = Seq((1L, 1000L, 10L), (1L, 5000L, 11L), (2L, 1000L, 12L))
      .toDF("key", "ts", "decision_id")
    val right = Seq((1L, 500L, 1.0), (1L, 900L, 2.0), (1L, 4000L, 3.0),
      (2L, 990L, 4.0), (1L, 6000L, 9.0)).toDF("key", "ts", "value")
    val out = graft.analytics.AsOfJoin.asOf(left, right, toleranceMs = 2000L)
      .select("decision_id", "value", "age_ms")
      .as[(Long, Double, Long)].collect().toSeq.sorted
    // d10@1000: latest ≤1000 is 2.0@900 (age 100); d11@5000: 3.0@4000 (age
    // 1000, the 6000 reward is in the future); d12@1000: 4.0@990 (age 10)
    assert(out == Seq((10L, 2.0, 100L), (11L, 3.0, 1000L), (12L, 4.0, 10L)))
    // tolerance drops stale matches; keepUnmatched surfaces them as NULLs
    val strict = graft.analytics.AsOfJoin.asOf(left, right, toleranceMs = 50L,
      keepUnmatched = true)
    assert(strict.count() == 3 && strict.where($"value".isNotNull).count() == 1)
  }

  test("range join by bucket matches the naive range predicate, duplicate-free") {
    import graft.analytics.RangeJoin
    val points = Seq(5L, 100L, 250L, 999L, 1000L, 2500L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("pid", "t")
    // intervals spanning 0, 1 and many buckets at width 100
    val ivs = Seq((10L, 0L, 50L), (11L, 90L, 110L), (12L, 200L, 1000L),
      (13L, 3000L, 3100L)).toDF("iid", "s", "e")
    val bucketed = RangeJoin.byBucket(points, "t", ivs, "s", "e", bucketWidth = 100L)
      .select("pid", "iid").as[(Long, Long)].collect().toSeq.sorted
    val naive = points.join(ivs, $"t" >= $"s" && $"t" < $"e")
      .select("pid", "iid").as[(Long, Long)].collect().toSeq.sorted
    assert(bucketed == naive)
    // end-exclusive: t=1000 must NOT match [200,1000); one row per pair
    assert(!bucketed.contains((4L, 12L)) && bucketed.distinct == bucketed)
    // left_outer keeps unmatched points with NULL interval columns
    val outer = RangeJoin.byBucket(points, "t", ivs, "s", "e", 100L, "left_outer")
    assert(outer.where($"iid".isNull).select("pid").as[Long].collect().toSet ==
      Set(4L, 5L))
  }

  test("changefeed sink: foreachBatch receives only inserts (diff>0 analog)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[In]
    val received = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val q = DelayedJoin.joined(spark, input.toDS(), Config(deltaMs = Delta))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.core.JoinedDecision], _: Long) =>
        val rows = batch.collect().map(j => (j.key, j.reward))
        received.synchronized { received ++= rows }
        ()
      }.start()
    try {
      input.addData(d("c1", T0), r("c1", T0 + 1000, 7.0))
      q.processAllAvailable()
      input.addData(r("_wm", T0 + 30 * Delta, 0.0))
      q.processAllAvailable()
      input.addData(r("_wm", T0 + 31 * Delta, 0.0))
      q.processAllAvailable()
      assert(received.synchronized(received.toSeq) == Seq(("c1", 7.0)))
    } finally q.stop()
  }

  test("CDC changefeed: (timestamp, diff) delta stream, event-for-event") {
    // Materialize-TAIL parity (reference join-service/app/main.py:114-120):
    // every joined row yields +1 at its logical instant t = insert_ms + Δ
    // (the only timestamp satisfying both the window and the join filter)
    // and −1 one tick later, when the decision exits its window.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[In]
    val q = DelayedJoin.changefeed(
        DelayedJoin.joined(spark, input.toDS(), Config(deltaMs = Delta)), Delta)
      .writeStream.format("memory").queryName("dj_cdc").outputMode("append").start()
    val events = try {
      input.addData(
        d("k1", T0), r("k1", T0 + 3000, 5.0), // matched
        d("k2", T0 + 500),                    // miss -> reward 0.0
        d("k3", T0), r("k3", T0 + 1000, 1.0), r("k3", T0 + 2000, 2.0)) // fan-out
      q.processAllAvailable()
      input.addData(r("_wm", T0 + 30 * Delta, 0.0))
      q.processAllAvailable()
      input.addData(r("_wm", T0 + 31 * Delta, 0.0))
      q.processAllAvailable()
      spark.table("dj_cdc").select("timestamp", "diff", "key", "reward")
        .as[(Long, Int, String, Double)].collect().toSeq.sorted
    } finally q.stop()
    // the consumer's view: inserts only, the reference's diff > 0 filter
    assert(events.filter(_._2 > 0).map(e => (e._3, e._4)).sorted == Seq(
      ("k1", 5.0), ("k2", 0.0), ("k3", 1.0), ("k3", 2.0)))
    // every insert at t = insert_ms + Δ has its retraction at t + 1
    val inserts = events.filter(_._2 > 0)
    val retractions = events.filter(_._2 < 0)
    assert(inserts.map(e => (e._1 + 1, -1, e._3, e._4)).sorted == retractions)
    assert(inserts.forall(e => e._1 == (if (e._3 == "k2") T0 + 500 else T0) + Delta))
  }

  test("null keys: the stream agrees with the batch analogs (NULL never matches)") {
    // groupByKey gathers every null-key event into one group, but the
    // batch analogs are equi-joins, where NULL matches nothing: a null-key
    // reward never joins and a null-key override never suppresses
    val events = Seq(
      d(null, T0), r(null, T0 + 1000, 5.0), In.overrideKey(null, T0 + 2000),
      d("k1", T0), r("k1", T0 + 3000, 7.0))
    val stream = run(Config(deltaMs = Delta, honorOverrides = true), events,
      "dj_nullkey")
    val evDf = events.toDF()
    val batch = sortedRows(DelayedJoin.batch(
      DelayedJoin.withoutOverridden(
        evDf.where($"kind" === 0).select("key", "insert_ms"),
        evDf.where($"kind" === 2)),
      evDf.where($"kind" === 1).select("key", "reward", "insert_ms"), Delta))
    assert(stream == batch)
    assert(stream == Seq((null, 0.0, None), ("k1", 7.0, Some(3000L))))
  }

  test("state machine handles volume: 500 keys x 20 events, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[In]
    val q = DelayedJoin.joined(spark, input.toDS(), Config(deltaMs = Delta))
      .writeStream.format("memory").queryName("dj_volume").outputMode("append").start()
    try {
      // per key: one decision + 19 rewards, only one (+7000) inside [0, Δ]
      val events = (0 until 500).flatMap { k =>
        d(s"u$k", T0) +: (1 to 19).map(i =>
          r(s"u$k", T0 + i * 7000L, i.toDouble))
      }
      events.grouped(2000).foreach { chunk => input.addData(chunk: _*) }
      q.processAllAvailable()
      input.addData(r("_wm", T0 + 100 * Delta, 0.0))
      q.processAllAvailable()
      input.addData(r("_wm", T0 + 101 * Delta, 0.0))
      q.processAllAvailable()
      val out = spark.table("dj_volume")
      // rewards at +7000 only (14000, 21000… are outside +Δ=10000): 1 match/key
      assert(out.where($"key" =!= "_wm").count() == 500)
      assert(out.where($"reward" === 1.0).count() === 500)
    } finally q.stop()
  }

  test("two separate decision/reward streams union into the join") {
    implicit val sqlCtx = spark.sqlContext
    val decIn = MemoryStream[graft.core.Decision]
    val rewIn = MemoryStream[graft.core.Reward]
    val unioned = DelayedJoin.unionStreams(spark, decIn.toDS(), rewIn.toDS())
    val q = DelayedJoin.joined(spark, unioned, Config(deltaMs = Delta))
      .writeStream.format("memory").queryName("dj_union").outputMode("append").start()
    try {
      decIn.addData(graft.core.Decision("u1", "ctx", "act", 0.9, T0))
      rewIn.addData(graft.core.Reward("u1", 4.5, T0 + 2000))
      q.processAllAvailable()
      rewIn.addData(graft.core.Reward("_wm", 0.0, T0 + 30 * Delta))
      q.processAllAvailable()
      rewIn.addData(graft.core.Reward("_wm", 0.0, T0 + 31 * Delta))
      q.processAllAvailable()
      val out = spark.table("dj_union")
        .select("key", "reward", "probability").as[(String, Double, Double)].collect().toSeq
      assert(out == Seq(("u1", 4.5, 0.9)))
    } finally q.stop()
  }

  test("state survives a query restart from checkpoint (file source)") {
    import org.apache.spark.sql.types._
    val srcDir = tmpDir("djsrc")
    val ckpt = tmpDir("djckpt")
    val schema = org.apache.spark.sql.Encoders.product[In].schema
    def writeBatch(name: String, events: Seq[In]): Unit =
      events.toDF().coalesce(1).write.mode("append").parquet(srcDir)
    def startQuery() = DelayedJoin.joined(spark,
        spark.readStream.schema(schema).parquet(srcDir).as[In],
        Config(deltaMs = Delta))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.core.JoinedDecision], _: Long) =>
        val rows = batch.collect().map(j => (j.key, j.reward))
        RecoveredRows.synchronized { RecoveredRows.buf ++= rows }
        ()
      }.start()

    // run 1: buffer a decision+reward, stop BEFORE the window closes
    writeBatch("b1", Seq(d("rk1", T0), r("rk1", T0 + 2000, 3.5)))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(RecoveredRows.synchronized(RecoveredRows.buf.isEmpty)) // not yet due

    // run 2: fresh query from the same checkpoint; watermark push triggers
    // the emission — proving the buffered decision lived in the state store
    writeBatch("b2", Seq(r("_wm", T0 + 30 * Delta, 0.0)))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      writeBatch("b3", Seq(r("_wm", T0 + 31 * Delta, 0.0)))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(RecoveredRows.synchronized(RecoveredRows.buf.toSet) == Set(("rk1", 3.5)))
  }

  test("batch analog fans out and defaults like the stream") {
    val dec = Seq(("a", 1L, 100000L), ("b", 2L, 100000L))
      .toDF("key", "decision_id", "insert_ms")
    val rew = Seq(("a", 1.5, 103000L), ("a", 2.5, 104000L))
      .toDF("key", "reward", "insert_ms")
    val j = DelayedJoin.batch(dec, rew, 10000L)
      .select("decision_id", "reward", "reward_delta_ms")
      .as[(Long, Double, Option[Long])].collect().toSeq.sorted
    assert(j == Seq((1L, 1.5, Some(3000L)), (1L, 2.5, Some(4000L)), (2L, 0.0, None)))
    val last = DelayedJoin.lastRewardWins(
        DelayedJoin.batch(dec, rew, 10000L), Seq("decision_id"))
      .select("decision_id", "reward").as[(Long, Double)].collect().toSeq.sorted
    assert(last == Seq((1L, 2.5), (2L, 0.0)))
  }
}
