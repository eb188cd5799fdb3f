package graft

import org.apache.spark.sql.SparkSession

/** Perf scratch harness — times individual SparkEntry queries with
  * per-job timelines (job count, start offset, duration). Not part of the
  * library surface; edit the query list below while iterating. Run with
  * `runMain graft.Scratch [queries...]` (honors SPARK_GRAFT_SF_DIR), or
  * `runMain graft.Scratch scale` for the sf-scaling probe: the most
  * expensive queries timed at sf0.001/0.01/0.1 with the growth ratio per
  * decade of data — a hidden super-linear stage shows up as a ratio well
  * beyond the data ratio (10×), while the usual toy-scale pattern is
  * SUB-linear growth (fixed scheduling floor amortizing). The probe exits
  * non-zero if any query grows super-linearly with margin (ratio > 15).
  */
object Scratch {

  /** The steady top by committed bench cost (BENCH_full.json), the
    * scaling watch-list — rotated round 14: the standing watch items
    * stay (containment re-probed per the round-13 verdict — it trended
    * 2.5×→3.5×/decade; the WARC pair now exercises the STREAMING record
    * walk), and the round's new families enter so their growth is probed
    * from day one — the deletion-vector masked scan and the typed-CDF
    * key-diff replay. */
  val ScaleQueries: Seq[String] = Seq(
    "dedup_containment", "scan_warc",
    "scan_warc_gz", "anchor_terms",
    "snapshot_merge", "snapshot_count", "snapshot_lookup",
    "snapshot_dv_delete", "snapshot_cdf_typed",
    "snapshot_evolve", "snapshot_scan_multi",
    "tfidf_top_terms", "dedup_winnow",
    "html_links", "link_pagerank", "snapshot_scan")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.graft.cacheTables", "true")
    graft.core.Tables.all.foreach(n => graft.core.Tables(spark, sfDir, n).count())

    var jobs = 0
    val jobLog = new scala.collection.mutable.ArrayBuffer[(Int, Long, Long, String)]
    val jobStart = new scala.collection.mutable.HashMap[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs += 1
        jobStart.synchronized {
          jobStart(j.jobId) = (System.nanoTime(),
            (Option(j.properties.getProperty("callSite.short")) orElse
              Option(j.properties.getProperty("spark.job.description")) orElse
              j.stageInfos.headOption.map(si =>
                s"${si.name.take(60)} tasks=${j.stageInfos.map(_.numTasks).sum}"))
              .getOrElse("?").take(80))
        }
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobStart.synchronized {
          jobStart.remove(j.jobId).foreach { case (t0, d) =>
            jobLog += ((j.jobId, t0, System.nanoTime(), d))
          }
        }
    })

    def time(name: String)(f: => Unit): Unit = {
      // warmup, then best-of-3 (box stalls attach to arbitrary runs; the
      // min is the steady-state read, same protocol as Bench). The job
      // timeline shown is the best run's.
      f
      var best = Double.MaxValue
      var bestLog: Seq[(Int, Long, Long, String)] = Nil
      var bestT0 = 0L
      var bestJobs = 0
      for (_ <- 1 to 3) {
        Thread.sleep(200)
        val j0 = jobs
        jobLog.clear()
        val t0 = System.nanoTime()
        f
        val dt = (System.nanoTime() - t0) / 1e9
        if (dt < best) {
          best = dt; bestLog = jobLog.toSeq; bestT0 = t0; bestJobs = jobs - j0
        }
      }
      println(f"[scratch] $name%-30s ${best}%8.3f s  jobs=$bestJobs")
      bestLog.sortBy(_._2).foreach { case (id, s, e, d) =>
        println(f"[scratch]   job $id%3d  +${(s - bestT0) / 1e6}%7.1f ms  ${(e - s) / 1e6}%7.1f ms  $d")
      }
    }

    def runOnce(q: String, dir: String): Unit =
      SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()

    if (args.headOption.contains("scale")) {
      // ---- sf-scaling probe ----
      val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
      sfs.foreach(d => graft.core.Tables.all.foreach(n =>
        graft.core.Tables(spark, d, n).count()))
      // best-of-3, same stall rationale as Bench: a host stall window can
      // cover both timings of best-of-2 (observed: quality_train 6.0 s in a
      // probe vs 1.3 s re-timed seconds later)
      def bestOf(q: String, dir: String, reps: Int = 3): Double = {
        runOnce(q, dir) // warmup: codegen + table cache for this (q, dir)
        (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          runOnce(q, dir)
          (System.nanoTime() - t0) / 1e9
        }.min
      }
      println("| query | sf0.001 | sf0.01 | sf0.1 | ×/decade (0.001→0.01) | ×/decade (0.01→0.1) |")
      println("|---|---|---|---|---|---|")
      var superLinear = List.empty[String]
      for (q <- ScaleQueries) {
        val ts = sfs.map(bestOf(q, _))
        val r01 = ts(1) / ts(0)
        val r1 = ts(2) / ts(1)
        // data grows 10× per step; a ratio well beyond it means some stage
        // does super-linear work (the margin absorbs timing noise)
        if (r1 > 15.0) superLinear ::= q
        println(f"| $q | ${ts(0)}%.3f s | ${ts(1)}%.3f s | ${ts(2)}%.3f s | ${r01}%.1f× | ${r1}%.1f× |")
      }
      spark.stop()
      if (superLinear.nonEmpty) {
        Console.err.println(s"[scratch] SUPER-LINEAR growth: ${superLinear.mkString(", ")}")
        sys.exit(1)
      }
    } else if (args.headOption.contains("spread")) {
      // ---- timing-spread probe (host-noise attribution) ----
      // `runMain graft.Scratch spread <query> [reps]`: one warmup, then
      // `reps` timed runs of the SAME query with min/median/max — the
      // tool for deciding whether a bench outlier is the PLAN (spread
      // tight, level high) or the HOST (spread wide around a low min).
      val q = args(1)
      val reps = args.lift(2).map(_.toInt).getOrElse(7)
      runOnce(q, sfDir)
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        runOnce(q, sfDir)
        (System.nanoTime() - t0) / 1e9
      }
      val sorted = ts.sorted
      println(f"[scratch] spread $q%s reps=$reps min=${sorted.head}%.3f s " +
        f"med=${sorted(reps / 2)}%.3f s max=${sorted.last}%.3f s " +
        s"all=[${ts.map(t => f"$t%.2f").mkString(", ")}]")
      spark.stop()
    } else {
      val list = if (args.nonEmpty) args.toSeq else Seq("lm_score", "lm_score_tri")
      for (q <- list) time(q) { runOnce(q, sfDir) }
      spark.stop()
    }
  }
}
