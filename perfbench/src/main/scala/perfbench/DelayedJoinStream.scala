package perfbench

import graft.core.{Decision, JoinedDecision, Reward}
import graft.stream.DelayedJoin
import graft.stream.DelayedJoin.In
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._
import scala.collection.mutable

/** One scheduled event: `atMs` after the generator starts. Rewards name
  * their decision's key; `late` rewards are stamped behind the watermark.
  */
final case class StreamEvent(atMs: Long, decision: Boolean, key: String,
    context: String, action: String, value: Double, late: Boolean)

/** Seeded open-loop schedule for `delayed-join-stream`: decisions at a
  * fixed rate on Zipf-skewed keys; per decision a reward inside the
  * window, after it, or none; plus a share of rewards stamped so far in
  * the past that the watermark drops them. Late rewards use keys no
  * decision has, so dropping them changes no join result.
  */
object StreamInputs {
  val Keys = 50000
  val ZipfS = 0.8
  val InWindowP = 0.5
  val AfterWindowP = 0.2
  val LateP = 0.1

  def generate(seed: Long, rate: Double, seconds: Double, deltaMs: Long): Vector[StreamEvent] = {
    val rnd = new scala.util.Random(seed)
    val cdf = {
      val w = (1 to Keys).map(k => 1.0 / math.pow(k, ZipfS))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def key(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      "k" + (if (i >= 0) i else -i - 1)
    }
    val n = (rate * seconds).toInt
    val out = Vector.newBuilder[StreamEvent]
    (0 until n).foreach { i =>
      val at = (i * 1000.0 / rate).toLong
      val k = key()
      out += StreamEvent(at, decision = true, k, s"c$i", s"a${rnd.nextInt(8)}",
        rnd.nextDouble(), late = false)
      val u = rnd.nextDouble()
      if (u < InWindowP)
        out += StreamEvent(at + (rnd.nextDouble() * deltaMs).toLong, decision = false, k,
          "", "", rnd.nextInt(100) / 10.0, late = false)
      else if (u < InWindowP + AfterWindowP)
        out += StreamEvent(at + deltaMs + 1 + rnd.nextInt(5000), decision = false, k,
          "", "", rnd.nextInt(100) / 10.0, late = false)
      if (rnd.nextDouble() < LateP)
        out += StreamEvent(at, decision = false, "late-" + k, "", "",
          rnd.nextInt(100) / 10.0, late = true)
    }
    out.result().sortBy(_.atMs)
  }

  def fingerprint(es: Seq[StreamEvent]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    es.foreach(e => md.update(e.toString.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Per-decision digest of joined rows: the rows emitted for one decision
  * context, as a [[Digest]] over the `JoinedDecision` columns. The sink
  * and the expected side both keep only these, so the check holds one
  * small record per decision however many rows the reward fan-out gives.
  */
object JoinedDigest {
  private val cols = Seq("key" -> StringType, "context" -> StringType,
    "action" -> StringType, "probability" -> DoubleType, "reward" -> DoubleType,
    "decision_insert_ms" -> LongType, "reward_delta_ms" -> LongType)

  def byContext(df: DataFrame): Map[String, Digest] = {
    val canon = df.select(cols.map { case (c, t) => col(c).cast(t).as(c) }: _*)
    val all = cols.map(c => col(c._1))
    canon.groupBy("context").agg(
      count(lit(1)),
      coalesce(sum(hash(all: _*).cast("long")), lit(0L)),
      coalesce(sum(pmod(xxhash64(all: _*), lit(2147483647L))), lit(0L)))
      .collect().map(r => r.getString(0) -> Digest(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }
}

/** `delayed-join-stream`: open loop into `DelayedJoin.joined` with its
  * default `Config` (Δ = 10 s, watermark delay Δ). A generator thread adds
  * the seeded schedule to a memory source every tick, stamping each
  * event's creation time as its event time; a `foreachBatch` sink stamps
  * emission and keeps a [[JoinedDigest]] per decision. The first 2Δ fill
  * the window and state and count as set-up; the timed window follows;
  * then the query drains and every decision due before the stop is
  * checked against `DelayedJoin.batch`.
  */
object DelayedJoinStream {
  val TailPct = 90.0
  val TickMs = 10L
  val QuietMs = 2000L

  /** Generator: emits due events each tick; records creation stamps. */
  final class Generator(input: MemoryStream[In], events: Vector[StreamEvent],
      deltaMs: Long) extends Thread("perfbench-generator") {
    @volatile var halt = false
    @volatile var startMs = 0L
    val stamped = mutable.ArrayBuffer.empty[(StreamEvent, Long)]
    /** (creation ms, events so far) per addData call, in call order. */
    val chunks = mutable.ArrayBuffer.empty[(Long, Int)]
    var lateMs = 0.0
    var genNs = 0L
    setDaemon(true)

    override def run(): Unit = {
      startMs = System.currentTimeMillis()
      var i = 0
      while (!halt && i < events.size) {
        val now = System.currentTimeMillis()
        val due = mutable.ArrayBuffer.empty[In]
        while (i < events.size && startMs + events(i).atMs <= now) {
          val e = events(i)
          lateMs += now - (startMs + e.atMs)
          val ts = if (e.late) now - 3 * deltaMs else now
          due += (if (e.decision) In(Decision(e.key, e.context, e.action, e.value, ts))
            else In(Reward(e.key, e.value, ts)))
          stamped.synchronized { stamped += ((e, ts)) }
          i += 1
        }
        if (due.nonEmpty) {
          val g0 = System.nanoTime()
          input.addData(due.toSeq)
          genNs += System.nanoTime() - g0
          chunks.synchronized { chunks += ((now, i)) }
        }
        Thread.sleep(math.max(1L, startMs + (if (i < events.size) events(i).atMs else 0L) -
          System.currentTimeMillis()).min(TickMs))
      }
    }
  }

  def run(spark: SparkSession, o: Opts, tr: Option[LiveTrace]): Outcome = {
    import spark.implicits._
    val cfg = DelayedJoin.Config()
    val delta = cfg.deltaMs
    val fillS = 2 * delta / 1e3
    // the schedule runs past the window: the load stays on until every
    // decision due inside the window has been emitted (see below)
    val events = StreamInputs.generate(o.seed, o.rate, fillS + o.seconds + 10, delta)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one input partition per core per micro-batch, however many ticks
    // the batch spans (the memory source otherwise makes one per tick)
    val input = MemoryStream[In](spark.sparkContext.defaultParallelism)
    // context -> (digest of its rows so far, first emission ms, batches it came in)
    val emitted = mutable.Map.empty[String, (Digest, Long, Int)]
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val query = DelayedJoin.joined(spark, input.toDS(), cfg).writeStream
      .option("checkpointLocation", o.work.resolve("checkpoint").toString)
      .foreachBatch { (ds: Dataset[JoinedDecision], _: Long) =>
        val got = JoinedDigest.byContext(ds.toDF())
        val at = System.currentTimeMillis()
        emitted.synchronized {
          got.foreach { case (c, d) =>
            emitted(c) = emitted.get(c) match {
              case None => (d, at, 1)
              case Some((p, first, n)) => (Digest(p.rows + d.rows, p.h1 + d.h1, p.h2 + d.h2), first, n + 1)
            }
          }
        }
      }.start()
    val gen = new Generator(input, events, delta)
    gen.start()
    while (gen.startMs == 0L) Thread.sleep(1)
    val windowStart = gen.startMs + (fillS * 1000).toLong
    Thread.sleep(math.max(0L, windowStart - System.currentTimeMillis()))
    val windowAcc = new Acc
    tr.foreach(_.chargeTo(windowAcc))
    val setupS = Main.sinceJvmStart()

    // backlog: how long the oldest unprocessed chunk has waited, sampled
    // from the query's own progress
    val backlog = mutable.ArrayBuffer.empty[(Long, Double)]
    val windowEnd = windowStart + (o.seconds * 1000).toLong
    while (System.currentTimeMillis() < windowEnd) {
      Thread.sleep(200)
      Option(query.lastProgress).foreach { p =>
        val done = chunksDone(p)
        val now = System.currentTimeMillis()
        val waiting = gen.chunks.synchronized(gen.chunks.drop(done).headOption)
        backlog += ((now, waiting.map(c => (now - c._1) / 1e3).getOrElse(0.0)))
      }
    }
    tr.foreach(_.chargeTo(new Acc))
    // keep the load on until every decision due inside the window is out,
    // so each timed emission happens at the same input rate and before the
    // check's own Spark jobs start
    val dueInWindow = gen.stamped.synchronized(gen.stamped.collect {
      case (e, ts) if e.decision && ts + 2 * delta <= windowEnd => e.context
    })
    val loadDeadline = System.currentTimeMillis() + 30000
    while (emitted.synchronized(dueInWindow.exists(c => !emitted.contains(c))) &&
        System.currentTimeMillis() < loadDeadline) Thread.sleep(50)
    gen.halt = true
    gen.join()
    // the live heap is read with the query idle: every chunk taken, and no
    // batch finished for QuietMs (a micro-batch in flight holds one more
    // copy of the state)
    val chunkCount = gen.chunks.synchronized(gen.chunks.size)
    val idleDeadline = System.currentTimeMillis() + 30000
    var lastBatch = -2L
    var since = System.currentTimeMillis()
    while (System.currentTimeMillis() < idleDeadline &&
        (System.currentTimeMillis() - since < QuietMs ||
          Option(query.lastProgress).forall(chunksDone(_) < chunkCount))) {
      val id = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
      if (id != lastBatch) { lastBatch = id; since = System.currentTimeMillis() }
      Thread.sleep(50)
    }
    val memory = Memory.now()
    System.err.println(f"[perfbench] timed window done at ${Main.sinceJvmStart()}%.1f s")
    val generated = gen.stamped.synchronized(gen.stamped.toVector)

    // The check covers every decision due before the stop: with the input
    // stamped up to stopTs, the watermark reaches stopTs − Δ, which is past
    // the deadline of each decision created before stopTs − 2Δ. A decision
    // due exactly at stopTs may or may not fire (a timeout fires once the
    // watermark is strictly past it); one due later must not.
    val stopTs = generated.map(_._2).max
    val allDecisions = generated.filter(_._1.decision)
    val decisions = allDecisions.filter(_._2 + 2 * delta < stopTs)
    val mayEmit = allDecisions.filter(_._2 + 2 * delta <= stopTs).map(_._1.context).toSet
    // drain: process what was added, then run batches (an event on a key
    // no decision has, stamped at stopTs) until every due decision is out
    val deadline = System.currentTimeMillis() + 60000
    def pending = emitted.synchronized(decisions.count(d => !emitted.contains(d._1.context)))
    while (pending > 0 && System.currentTimeMillis() < deadline) {
      input.addData(In(Reward("drain", 0.0, stopTs)))
      query.processAllAvailable()
      Thread.sleep(100)
    }
    query.stop()
    System.err.println(f"[perfbench] drained at ${Main.sinceJvmStart()}%.1f s")
    val rows = spark.createDataset(decisions.map { case (e, ts) =>
      Decision(e.key, e.context, e.action, e.value, ts) }).toDF()
    val rewards = spark.createDataset(generated.filter(g => !g._1.decision).map { case (e, ts) =>
      Reward(e.key, e.value, ts) }).toDF()
    val expected = JoinedDigest.byContext(DelayedJoin.batch(rows, rewards, delta))

    val out = emitted.synchronized(emitted.toMap)
    val failures = Seq.newBuilder[String]
    var failed = 0L
    decisions.foreach { case (e, _) =>
      val want = expected.get(e.context)
      out.get(e.context) match {
        case Some((got, _, 1)) if want.contains(got) => ()
        case Some((got, _, n)) =>
          failed += 1
          failures += s"decision ${e.context}: emitted $got in $n batches, expected $want"
        case None =>
          failed += 1
          failures += s"decision ${e.context}: not emitted, expected $want"
      }
    }
    val early = out.keySet -- mayEmit
    if (early.nonEmpty) { failed += 1; failures += s"rows for decisions not due or unknown: ${early.take(5)}" }
    // a backlog that keeps growing means the rate is above what the job
    // sustains. It is read once per micro-batch, when the batch starts: how
    // long its oldest input has waited. Samples at a fixed period would
    // fall anywhere on the saw-tooth between one and two batch times, which
    // alone moves a third's median by up to half a batch time.
    val chunks = gen.chunks.synchronized(gen.chunks.toVector)
    val lags = query.recentProgress.toSeq.filter(p => inWindow(p, windowStart, windowEnd))
      .flatMap(p => inputLag(p, chunks))
    val thirds = lags.grouped(math.max(1, lags.size / 3)).toSeq
    val backlogGrows = thirds.size >= 3 &&
      Stats.median(thirds.last) > Stats.median(thirds.head) + 1.0
    if (backlogGrows) { failed += 1; failures += s"backlog grows: ${thirds.map(t => Stats.median(t))}" }

    // emission wait for decisions that fell due inside the timed window
    val waits = decisions.flatMap { case (e, ts) =>
      val due = ts + 2 * delta
      out.get(e.context).collect {
        case (_, at, _) if due >= windowStart && due <= windowEnd => (at - due) / 1e3
      }
    }
    // throughput: input events the query processed per second of
    // micro-batch execution, over the batches that started in the window
    val busy = query.recentProgress.toSeq.filter(p => inWindow(p, windowStart, windowEnd))
    val busyS = busy.map(p => duration(p, "triggerExecution")).sum
    val processed = busy.map(_.numInputRows).sum
    val extra = Map(
      "decisions" -> decisions.size.toDouble,
      "emitted_rows" -> out.values.map(_._1.rows).sum.toDouble,
      "window_batches" -> busy.size.toDouble,
      "window_busy_s" -> busyS,
      "rate_per_s" -> o.rate,
      "backlog_p50_s" -> (if (backlog.isEmpty) 0.0 else Stats.median(backlog.map(_._2).toSeq)),
      "input_lag_first_third_s" -> thirds.headOption.map(t => Stats.median(t)).getOrElse(0.0),
      "input_lag_last_third_s" -> thirds.lastOption.map(t => Stats.median(t)).getOrElse(0.0))
    val layers = tr.map(lt => traced(lt, lt.progress.toSeq.map(_.progress), windowAcc, gen,
      backlog.toSeq, windowStart, windowEnd)).getOrElse(Map.empty)
    Outcome(setupS, memory, waits, TailPct, processed / math.max(busyS, 1e-3), decisions.size.toLong, failed,
      failures.result(), extra, layers,
      tr.map(lt => Map[String, Any]("spans" -> lt.spanDump(),
        "progress" -> lt.progress.toSeq.map(p => Json.read(p.progress.json)))).getOrElse(Map.empty))
  }

  /** Input chunks a micro-batch's progress shows as taken, counting it. */
  private def chunksDone(p: StreamingQueryProgress): Int =
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .map(_.replaceAll("[^0-9]", "")).filter(_.nonEmpty).map(_.toInt + 1).getOrElse(0)

  /** Seconds from the creation of a micro-batch's oldest input chunk to
    * the batch's start; None for a batch without input. A memory source's
    * offset counts `addData` calls, so offset k is the k-th chunk.
    */
  private def inputLag(p: StreamingQueryProgress, chunks: Seq[(Long, Int)]): Option[Double] =
    p.sources.headOption.filter(_ => p.numInputRows > 0).flatMap { s =>
      val first = Option(s.startOffset).map(_.replaceAll("[^0-9]", "")).filter(_.nonEmpty)
        .map(_.toInt + 1).getOrElse(0)
      chunks.lift(first).map(c =>
        (java.time.Instant.parse(p.timestamp).toEpochMilli - c._1) / 1e3)
    }

  private def inWindow(p: StreamingQueryProgress, windowStart: Long, windowEnd: Long): Boolean = {
    val t = java.time.Instant.parse(p.timestamp).toEpochMilli
    t >= windowStart && t <= windowEnd
  }

  private def duration(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)

  private def traced(lt: LiveTrace, progress: Seq[StreamingQueryProgress],
      acc: Acc, gen: Generator, backlog: Seq[(Long, Double)],
      windowStart: Long, windowEnd: Long): Map[String, Double] = {
    val ps = progress.filter(inWindow(_, windowStart, windowEnd))
    val n = math.max(ps.size, 1).toDouble
    def d(p: StreamingQueryProgress, k: String): Double = duration(p, k)
    def mean(f: StreamingQueryProgress => Double) = ps.map(f).sum / n
    val wallS = (windowEnd - windowStart) / 1e3
    val gapS = lt.gapMs(windowStart, windowEnd) / 1e3
    lt.sparkLayers(Seq(acc), wallS, gapS, n) ++ Map(
      "stream.batch_s" -> mean(d(_, "triggerExecution")),
      "stream.planning_s" -> mean(d(_, "queryPlanning")),
      "stream.add_batch_s" -> mean(d(_, "addBatch")),
      "stream.commit_s" -> mean(p => d(p, "walCommit") + d(p, "commitOffsets")),
      "stream.batches" -> ps.size.toDouble,
      "stream.state_rows" -> mean(_.stateOperators.map(_.numRowsTotal).sum.toDouble),
      "stream.state_bytes" -> mean(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble),
      "stream.late_dropped_rows" -> ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble,
      "stream.watermark_lag_s" -> mean { p =>
        Option(p.eventTime.get("watermark")).map(w =>
          (java.time.Instant.parse(p.timestamp).toEpochMilli -
            java.time.Instant.parse(w).toEpochMilli) / 1e3).getOrElse(0.0)
      },
      "stream.backlog_s" -> (if (backlog.isEmpty) 0.0 else backlog.map(_._2).sum / backlog.size),
      "harness.generator_late_s" -> gen.lateMs / 1e3 / math.max(gen.stamped.size, 1),
      "harness.gen_s" -> gen.genNs / 1e9 / n)
  }
}
