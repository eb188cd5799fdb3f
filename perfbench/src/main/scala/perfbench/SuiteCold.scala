package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Order-independent digest of a query result: row count plus two sums of
  * per-row hashes. Equal results give equal digests whatever the row order.
  */
final case class Digest(rows: Long, h1: Long, h2: Long)

object Digest {
  val exprs: Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    coalesce(sum(hash(col("*")).cast("long")), lit(0L)).as("h1"),
    coalesce(sum(pmod(xxhash64(col("*")), lit(2147483647L))), lit(0L)).as("h2"))

  def of(df: DataFrame): Digest = {
    val r = df.agg(exprs.head, exprs.tail: _*).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def fromMap(m: Map[String, Any]): Digest =
    Digest(m("rows").asInstanceOf[Long], m("h1").asInstanceOf[Long], m("h2").asInstanceOf[Long])

  def load(o: Opts): Map[String, Digest] = {
    val root = Json.load(o.golden.resolve("digests.json"))
    root.properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Digest(v.get("rows").asLong, v.get("h1").asLong, v.get("h2").asLong)
    }.toMap
  }
}

/** `suite-cold`: every `SparkEntry.queries` entry over the bundled sf0.01
  * tables with the table cache off, so parquet is decoded on every query.
  * An untimed warm-up pass builds the session memos and checks each result
  * against its golden digest; the timed passes run each query through the
  * `noop` sink in an order drawn from the seed.
  */
object SuiteCold {
  /** 10 queries × 6 passes: the 75th percentile has 15 samples beyond it. */
  val TailPct = 75.0
  /** The timed sample: the `SampleOffset`-th of every `SampleEvery`
    * queries of each module in name order, so every module keeps its
    * share (one query each, four of `graft.llm`'s 143). The size keeps a
    * run within the per-run budget, since each query's first run (kernel
    * JIT, session memos: 0.5–9 s) falls in the warm-up. The offset avoids
    * the session's heaviest memos (near-dup pairs, the anchor index;
    * 8–23 s of first runs at offset 0) — those builds are never timed.
    * `--queries all` runs the whole suite instead.
    */
  val SampleEvery = 40
  val SampleOffset = 6
  val MinPasses = 6

  def sample(names: Seq[String], modules: Map[String, String]): Seq[String] =
    names.groupBy(modules).values.flatMap { ms =>
      ms.sorted.zipWithIndex.collect {
        case (n, i) if i % SampleEvery == SampleOffset % math.min(SampleEvery, ms.size) => n
      }
    }.toSeq.sorted

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, o: Opts, tr: Option[LiveTrace]): Outcome = {
    spark.conf.set("spark.graft.cacheTables", "false")
    val queries = graft.SparkEntry.queries
    val golden = Digest.load(o)
    val modules = Json.load(o.golden.resolve("modules.json")).properties().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    val everyQuery = queries.keys.toSeq.sorted
    val uncovered = everyQuery.filterNot(modules.contains) ++ everyQuery.filterNot(golden.contains)
    require(uncovered.isEmpty,
      s"queries without a golden digest or module: ${uncovered.distinct.mkString(", ")}")
    val names = if (o.allQueries) everyQuery else sample(everyQuery, modules)

    val failures = Seq.newBuilder[String]
    var attempted = 0L
    var failed = 0L
    names.foreach { n =>
      attempted += 1
      val w0 = System.nanoTime()
      try {
        val ob = Observation(s"digest_$n")
        noop(queries(n)(spark, o.data).observe(ob, Digest.exprs.head, Digest.exprs.tail: _*))
        val got = Digest.fromMap(ob.get)
        if (got != golden(n)) {
          failed += 1; failures += s"$n: digest $got, expected ${golden(n)}"
        }
      } catch { case e: Throwable =>
        failed += 1; failures += s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      System.err.println(f"[perfbench] warm-up $n ${(System.nanoTime() - w0) / 1e9}%.2f s")
    }
    // a second, plain pass: right after the digest pass the JIT is still
    // compiling, and passes timed from there got steadily faster (6.3 s,
    // 5.9 s, 4.7 s for the same queries in one run)
    names.foreach(n => try noop(queries(n)(spark, o.data)) catch { case _: Throwable => () })
    val setupS = Main.sinceJvmStart()
    System.err.println(f"[perfbench] warm-up pass done at $setupS%.1f s")

    val t = tr.getOrElse(NoTrace)
    val lat = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < MinPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val order = new scala.util.Random(o.seed * 1000003L + passes).shuffle(names)
      order.foreach { n =>
        attempted += 1
        val q0 = System.nanoTime()
        try {
          t.op(n) {
            val df = t.span("SparkEntry.build")(queries(n)(spark, o.data))
            t.span("exec")(noop(df))
          }
          lat(n) = lat.getOrElse(n, Vector.empty) :+ (System.nanoTime() - q0) / 1e9
        } catch { case e: Throwable =>
          failed += 1; failures += s"$n (timed): ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      }
      passes += 1
      System.err.println(f"[perfbench] timed pass $passes done at ${Main.sinceJvmStart()}%.1f s")
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val memory = Memory.now()
    val all = lat.values.flatten.toSeq
    val extra = Map(
      "suite_total_s" -> lat.values.map(v => Stats.median(v)).sum,
      "passes" -> passes.toDouble,
      "timed_wall_s" -> wallS)
    val (layers, record) = tr match {
      case Some(lt) => traced(lt, modules, passes, wallS)
      case None => (Map.empty[String, Double], Map.empty[String, Any])
    }
    val medians = Map("query_median_s" -> lat.toSeq.sortBy(_._1).map { case (k, v) => k -> Stats.median(v) }.toMap)
    Outcome(setupS, memory, all, TailPct, all.size / wallS, attempted, failed,
      failures.result(), extra, layers, record ++ medians)
  }

  private def traced(lt: LiveTrace, modules: Map[String, String], passes: Int,
      wallS: Double): (Map[String, Double], Map[String, Any]) = {
    val ops = lt.ops.toSeq
    val n = ops.size.toDouble
    val spansByOp = lt.spans.toSeq.groupBy(_.op)
    def spanOf(op: Long, name: String) = spansByOp.getOrElse(op, Nil).filter(_.name == name)
    val gap = ops.map(r => lt.gapMs(r.startMs, r.endMs) / 1e3).sum
    val base = lt.sparkLayers(ops.map(_.acc), ops.map(_.durNs / 1e9).sum, gap, n)
    val builds = ops.flatMap(r => spanOf(r.id, "SparkEntry.build"))
    val perQuery = ops.map { r =>
      val b = spanOf(r.id, "SparkEntry.build")
      val x = spanOf(r.id, "exec")
      Map(
        "query" -> r.name, "module" -> modules(r.name),
        "latency_s" -> r.durNs / 1e9,
        "build_s" -> b.map(_.durNs / 1e9).sum,
        "build_jobs" -> b.map(s => lt.jobsUnder(s.id)).sum,
        "exec_s" -> x.map(_.durNs / 1e9).sum,
        "driver_gap_s" -> lt.gapMs(r.startMs, r.endMs) / 1e3,
        "counts" -> r.acc.snapshot,
        "operators" -> lt.operators.getOrElse(r.id, Map.empty).toMap)
    }
    val byModule = ops.groupBy(r => modules(r.name)).toSeq.flatMap { case (m, rs) =>
      Seq(
        s"$m.exec_s" -> rs.flatMap(r => spanOf(r.id, "exec")).map(_.durNs / 1e9).sum / passes,
        s"$m.cpu_s" -> rs.map(_.acc.get("compute.cpu_s")).sum / passes,
        s"$m.jobs" -> rs.map(_.acc.get("scheduling.jobs")).sum / passes,
        s"$m.shuffle_bytes" -> rs.map(_.acc.get("shuffle.write_bytes")).sum / passes)
    }
    val layers = base ++ byModule ++ Map(
      "SparkEntry.build_s" -> builds.map(_.durNs / 1e9).sum / n,
      "SparkEntry.build_jobs" -> builds.map(s => lt.jobsUnder(s.id)).sum / n)
    (layers, Map("queries" -> perQuery, "spans" -> lt.spanDump()))
  }

  /** Golden digests from a `graft.Verify` dump (one parquet directory per
    * query): `Main digest <dumpDir> <out.json>`.
    */
  def digestDump(spark: SparkSession, dump: String, out: java.nio.file.Path): Unit = {
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val digests = names.map { n =>
      val d = Digest.of(spark.read.parquet(s"$dump/$n"))
      n -> Map("rows" -> d.rows, "h1" -> d.h1, "h2" -> d.h2)
    }
    Json.save(out, scala.collection.immutable.ListMap(digests: _*))
  }
}
