package perfbench

import org.apache.spark.perfbenchbridge.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spans around the harness's calls into graft, plus listener counts tied
  * to them. Untraced runs use [[NoTrace]], which only runs the body, so
  * end-to-end numbers carry no tracing cost.
  */
trait Tracer {
  /** One operation of the workload (a query, a batch). Listener events
    * that arrive while it runs are charged to it.
    */
  def op[T](name: String)(body: => T): T
  /** A named call inside the current operation. */
  def span[T](name: String)(body: => T): T
}

object NoTrace extends Tracer {
  def op[T](name: String)(body: => T): T = body
  def span[T](name: String)(body: => T): T = body
}

/** Counters charged to one operation (or, for the stream, one window). */
final class Acc {
  private val m = mutable.Map.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def get(k: String): Double = synchronized(m.getOrElse(k, 0.0))
  def snapshot: Map[String, Double] = synchronized(m.toMap)
}

final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Long, endMs: Long, durNs: Long)

final case class OpRecord(id: Long, name: String, startMs: Long, endMs: Long,
    durNs: Long, acc: Acc)

final case class JobRecord(id: Int, span: Long, startMs: Long, var endMs: Long)

final class LiveTrace(spark: SparkSession) extends Tracer {
  private val sc = spark.sparkContext
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val SpanProp = "perfbench.span"

  @volatile private var current: Acc = new Acc
  @volatile private var currentOp: Long = 0L
  private val openSpans = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  /** Physical operator counts of the executed plans, by op. */
  val operators = mutable.Map.empty[Long, mutable.Map[String, Int]]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  def op[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val acc = new Acc
    Bus.drain(sc)
    current = acc; currentOp = id
    val (s0, n0) = (System.currentTimeMillis(), System.nanoTime())
    try withSpanProp(id)(body)
    finally {
      val (s1, n1) = (System.currentTimeMillis(), System.nanoTime())
      Bus.drain(sc)
      synchronized { ops += OpRecord(id, name, s0, s1, n1 - n0, acc) }
      current = new Acc; currentOp = 0L
    }
  }

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = openSpans.get.headOption.getOrElse(currentOp)
    val (s0, n0) = (System.currentTimeMillis(), System.nanoTime())
    openSpans.set(id :: openSpans.get)
    try withSpanProp(id)(body)
    finally {
      openSpans.set(openSpans.get.tail)
      val (s1, n1) = (System.currentTimeMillis(), System.nanoTime())
      synchronized { spans += Span(id, parent, currentOp, name, s0, s1, n1 - n0) }
    }
  }

  private def withSpanProp[T](id: Long)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    try body finally sc.setLocalProperty(SpanProp, prev)
  }

  /** Charge everything from now on to `acc` (the stream's timed window). */
  def chargeTo(acc: Acc): Unit = { Bus.drain(sc); current = acc }

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = LiveTrace.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      jobs(e.jobId) = JobRecord(e.jobId, span, e.time, -1L)
      current.add("scheduling.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = LiveTrace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      current.add("scheduling.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = current
      a.add("scheduling.tasks", 1)
      if (e.taskInfo != null && e.taskInfo.failed) a.add("scheduling.tasks_failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        a.add("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
        a.add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
        a.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        a.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        a.add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        a.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        a.add("compute.run_s", m.executorRunTime / 1e3)
        a.add("compute.cpu_s", m.executorCpuTime / 1e9)
        a.add("compute.gc_s", m.jvmGCTime / 1e3)
        a.add("output.bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => current.add("planning.aqe_replans", 1)
      case _ =>
    }
  }

  private object Plans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    private def record(qe: QueryExecution): Unit = {
      val a = current
      val phases = qe.tracker.phases
      def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      a.add("planning.analysis_s", ms("analysis") / 1e3)
      a.add("planning.optimization_s", ms("optimization") / 1e3)
      a.add("planning.physical_s", ms("planning") / 1e3)
      val counts = LiveTrace.this.synchronized(
        operators.getOrElseUpdate(currentOp, mutable.Map.empty))
      foreach(qe.executedPlan) { node =>
        // the class, not nodeName: a scan's nodeName embeds its table path
        val op = node.getClass.getSimpleName
        LiveTrace.this.synchronized { counts(op) = counts.getOrElse(op, 0) + 1 }
        node match {
          case s: FileSourceScanExec =>
            s.metrics.get("scanTime").foreach(m => a.add("scan.time_s", m.value / 1e3))
          case _ =>
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      LiveTrace.this.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(Jobs)
  spark.listenerManager.register(Plans)
  spark.streams.addListener(Streams)

  def detach(): Unit = {
    Bus.drain(sc)
    sc.removeSparkListener(Jobs)
    spark.listenerManager.unregister(Plans)
    spark.streams.removeListener(Streams)
  }

  // ---- derived numbers --------------------------------------------------

  /** Milliseconds of [s, e] during which no job ran. */
  def gapMs(s: Long, e: Long): Long = synchronized {
    val iv = jobs.values.iterator
      .map(j => (math.max(j.startMs, s), math.min(if (j.endMs < 0) e else j.endMs, e)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    (e - s) - covered
  }

  /** Jobs started inside span `id` or any span below it. */
  def jobsUnder(id: Long): Int = synchronized {
    val children = spans.groupBy(_.parent)
    def all(x: Long): Set[Long] = Set(x) ++ children.getOrElse(x, Nil).flatMap(s => all(s.id))
    val set = all(id)
    jobs.values.count(j => set(j.span))
  }

  /** The Spark-layer metrics, summed over `recs` and divided by `n` ops. */
  def sparkLayers(accs: Seq[Acc], wallS: Double, gapS: Double, n: Double): Map[String, Double] = {
    val keys = Seq("planning.analysis_s", "planning.optimization_s", "planning.physical_s",
      "planning.aqe_replans", "scheduling.jobs", "scheduling.stages", "scheduling.tasks",
      "scheduling.tasks_failed", "scan.input_bytes", "scan.input_rows", "scan.time_s",
      "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
      "shuffle.fetch_wait_s", "compute.run_s", "compute.cpu_s", "compute.gc_s")
    val sums = keys.map(k => k -> accs.map(_.get(k)).sum).toMap
    val cores = sc.defaultParallelism.toDouble
    sums.map { case (k, v) => k -> v / n } ++ Map(
      "scheduling.driver_gap_s" -> gapS / n,
      "compute.core_util" -> sums("compute.cpu_s") / (wallS * cores))
  }

  /** Spans with self time (duration minus the part child spans and jobs
    * cover), for the trace file.
    */
  def spanDump(): Seq[Map[String, Any]] = synchronized {
    val jobSpans = jobs.values.toSeq.map(j =>
      Span(-j.id.toLong - 1, j.span, 0L, s"job ${j.id}", j.startMs,
        if (j.endMs < 0) j.startMs else j.endMs, 0L))
    val opSpans = ops.toSeq.map(o => Span(o.id, 0L, o.id, o.name, o.startMs, o.endMs, o.durNs))
    val all = opSpans ++ spans.toSeq ++ jobSpans
    val byParent = all.groupBy(_.parent)
    all.sortBy(s => (s.startMs, s.id)).map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      kids.foreach { case (a0, b0) =>
        val (a, b) = (math.max(a0, s.startMs), math.min(b0, s.endMs))
        if (b > a) {
          if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
          else ce = math.max(ce, b)
        }
      }
      if (ce > cs) covered += ce - cs
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> ((s.endMs - s.startMs) - covered))
    }
  }
}
