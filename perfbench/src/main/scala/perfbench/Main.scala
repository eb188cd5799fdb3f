package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run; see `perfbench/README.md`. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, root: Path, work: Path, traceOut: Option[Path], rate: Double,
    allQueries: Boolean = false) {
  def data: String = root.resolve("perfbench/data/sf0.01").toString
  def golden: Path = root.resolve("perfbench/golden")
}

object Opts {
  def parse(args: Seq[String]): Opts = {
    val kv = args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Path.of(need("root")).toAbsolutePath,
      Path.of(need("work")).toAbsolutePath, kv.get("trace-out").map(Path.of(_)),
      kv.get("stream-rate").map(_.toDouble).getOrElse(0.0),
      kv.get("queries").contains("all"))
  }
}

/** What a workload hands back: the end-to-end numbers of an untraced run
  * and, in a traced run, its per-layer numbers. `memory` is read when the
  * timed region ends, before the output checks that follow it.
  */
final case class Outcome(
    setupS: Double,
    memory: Memory,
    opLatencies: Seq[Double],
    tailPct: Double,
    throughput: Double,
    attempted: Long,
    failed: Long,
    failures: Seq[String],
    extra: Map[String, Double],
    layers: Map[String, Double],
    record: Map[String, Any])

object Main {
  val Workloads = Seq("suite-cold", "ingest-snapshot", "delayed-join-stream")

  /** Milliseconds since this JVM started, as seconds. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def session(o: Opts): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.local.dir", o.work.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation", o.work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("digest") => digest(args.toSeq.tail)
    case Some("prime") => prime(args.toSeq.tail)
    case _ => bench(args.toSeq)
  }

  /** `prime --root <dir> --work <dir>`: see [[Prime]]. */
  private def prime(args: Seq[String]): Unit = {
    val o = Opts.parse(Seq("--workload", "prime", "--seed", "1", "--seconds", "0",
      "--trace", "0") ++ args)
    Files.createDirectories(o.work)
    val spark = session(o)
    try Prime.run(spark, o) finally spark.stop()
  }

  /** `digest <verifyDumpDir> <out.json> <workDir>`: golden digests. */
  private def digest(args: Seq[String]): Unit = {
    val Seq(dump, out, work) = args
    val o = Opts("digest", 0L, 0, trace = false, Path.of("."), Path.of(work).toAbsolutePath,
      None, 0)
    val spark = session(o)
    try SuiteCold.digestDump(spark, dump, Path.of(out)) finally spark.stop()
  }

  private def bench(args: Seq[String]): Unit = {
    val o = Opts.parse(args)
    Heap.watch()
    require(Workloads.contains(o.workload),
      s"unknown workload '${o.workload}' (known: ${Workloads.mkString(", ")})")
    require(o.workload != "delayed-join-stream" || o.rate > 0, "--stream-rate must be > 0")
    Files.createDirectories(o.work)
    val spark = session(o)
    System.err.println(f"[perfbench] session ready at ${sinceJvmStart()}%.1f s")
    val tracer = if (o.trace) Some(new LiveTrace(spark)) else None
    val out = try o.workload match {
      case "suite-cold" => SuiteCold.run(spark, o, tracer)
      case "ingest-snapshot" => IngestSnapshot.run(spark, o, tracer)
      case "delayed-join-stream" => DelayedJoinStream.run(spark, o, tracer)
    } finally {
      tracer.foreach(_.detach())
    }
    System.err.println(f"[perfbench] workload done at ${sinceJvmStart()}%.1f s")
    spark.stop()
    val e2e = Map(
      "setup_s" -> (out.setupS, "s"),
      "op_p50_s" -> (Stats.median(out.opLatencies), "s"),
      "op_tail_s" -> (Stats.pct(out.opLatencies, out.tailPct), "s"),
      "throughput_per_s" -> (out.throughput, "1/s"),
      "live_heap_mb" -> (out.memory.liveHeapMb, "MB"))
    val correct = out.failed == 0
    out.failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    val metrics =
      if (o.trace)
        Layers.names.map(k => k -> Map("value" -> out.layers.getOrElse(k, 0.0), "unit" -> Units.of(k)))
      else e2e.toSeq.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    o.traceOut.foreach { p =>
      Json.save(p, Map(
        "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
        "traced" -> o.trace, "cores" -> Runtime.getRuntime.availableProcessors,
        "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
        "failures" -> out.failures,
        "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "tail_percentile" -> out.tailPct,
        "tail_samples_beyond" -> Stats.beyond(out.opLatencies.size, out.tailPct),
        "samples" -> out.opLatencies.size,
        "extra" -> (out.extra + ("peak_rss_mb" -> out.memory.rssMb) +
          ("peak_heap_after_gc_mb" -> out.memory.peakHeapMb)),
        "per_layer" -> out.layers) ++ out.record)
    }
    println(Json.write(Map(
      "correct" -> correct,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> metrics.toMap)))
  }
}

/** The per-layer metrics `BENCHMARK.json` lists, in its order. A traced
  * run prints all of them; a layer its workload does not exercise reads 0.
  */
object Layers {
  val modules = Seq("graft.core", "graft.etl", "graft.profile", "graft.analytics",
    "graft.stream", "graft.llm", "sql")
  val names: Seq[String] = Seq(
    "planning.analysis_s", "planning.optimization_s", "planning.physical_s",
    "planning.aqe_replans",
    "scheduling.jobs", "scheduling.stages", "scheduling.tasks", "scheduling.tasks_failed",
    "scheduling.driver_gap_s",
    "scan.input_bytes", "scan.input_rows", "scan.time_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes", "shuffle.fetch_wait_s",
    "compute.run_s", "compute.cpu_s", "compute.gc_s", "compute.core_util",
    "SparkEntry.build_s", "SparkEntry.build_jobs") ++
    modules.flatMap(m => Seq(s"$m.exec_s", s"$m.cpu_s", s"$m.jobs", s"$m.shuffle_bytes")) ++ Seq(
    "stream.batch_s", "stream.planning_s", "stream.add_batch_s", "stream.commit_s",
    "stream.batches", "stream.state_rows", "stream.state_bytes", "stream.late_dropped_rows",
    "stream.watermark_lag_s", "stream.backlog_s",
    "harness.generator_late_s", "harness.gen_s",
    "graft.etl.Etl.run_s", "graft.etl.Migrate.evolve_s",
    "graft.core.Snapshot.append_s", "graft.core.Snapshot.merge_s",
    "graft.core.Snapshot.compact_s", "graft.core.Snapshot.commit_gap_s",
    "graft.core.Snapshot.manifest_files", "graft.core.Snapshot.versions",
    "graft.core.Snapshot.write_amp", "graft.core.Snapshot.space_amp",
    "graft.core.Snapshot.changes_s", "graft.core.Snapshot.lookup_s",
    "graft.profile.Profile.summarize_s", "graft.profile.Profile.summarize_jobs")
}

/** Units of the per-layer metrics, by name suffix. */
object Units {
  def of(name: String): String = name match {
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_bytes") => "bytes"
    case n if n.endsWith("_rows") || n.endsWith(".rows") => "rows"
    case n if n.endsWith("core_util") || n.endsWith("_amp") => "ratio"
    case _ => "count"
  }
}
