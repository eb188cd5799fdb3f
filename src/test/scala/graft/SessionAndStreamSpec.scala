package graft

import graft.core.GraftSession
import graft.stream.DqAlerts
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class SessionAndStreamSpec extends SparkSpec {
  import spark.implicits._

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** State-v2 operators require the RocksDB provider; scope it to the
    * queries a test starts and restore the session default after.
    */
  private def withRocksDb[A](body: => A): A = {
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None => spark.conf.unset(ProviderKey)
    }
  }

  test("graft_* SQL functions are usable from spark.sql") {
    GraftSession.registerFunctions(spark)
    val r = spark.sql(
      "SELECT graft_simhash60(array('a','b')) AS sh, " +
        "size(graft_minhash_sig(array('a','b'), 8)) AS mh, " +
        "graft_word_shingles(array('a','b','c'), 2) AS ws, " +
        "graft_dotd(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp, " +
        "graft_jaccard(array('a','b'), array('b','c')) AS jc, " +
        "graft_lsh_key(array(1.0d, -2.0d), 4) AS lk").collect().head
    assert(r.getAs[Long]("sh") != 0L)
    assert(r.getAs[Int]("mh") == 8)
    assert(r.getAs[scala.collection.Seq[String]]("ws").toSet == Set("a b", "b c"))
    assert(r.getAs[Double]("dp") == 11.0)
    assert(r.getAs[Double]("jc") == 1.0 / 3.0)
    assert(r.getAs[Long]("lk") >= 0L && r.getAs[Long]("lk") < 16L)
    val q = spark.sql(
      "SELECT graft_int8_quant(array(1.0d, -0.5d, 0.25d)) AS qv, " +
        "graft_int8_scale(array(1.0d, -0.5d, 0.25d)) AS sc").collect().head
    assert(q.getAs[scala.collection.Seq[Int]]("qv") == Seq(127, -64, 32))
    assert(math.abs(q.getAs[Double]("sc") - 1.0 / 127.0) < 1e-15)
    // the aggregate kernels register too: a bloom round-trips its own
    // inserts, and KMV on 3 distinct ids reports exactly 3 (below-k path)
    Seq(("x", Seq("a", "b")), ("x", Seq("c"))).toDF("g", "sh")
      .createOrReplaceTempView("bloom_in")
    val bl = spark.sql(
      "WITH f AS (SELECT graft_bloom_bits(sh, 64, 2) AS bits FROM bloom_in) " +
        "SELECT graft_bloom_count_hits(bits, array('a', 'c'), 64, 2) AS hits FROM f")
      .collect().head
    assert(bl.getAs[Int]("hits") == 2)
    Seq(1L, 2L, 2L, 3L).toDF("id").createOrReplaceTempView("kmv_in")
    val kv = spark.sql(
      "SELECT graft_kmv_distinct(id, 8) AS est FROM kmv_in").collect().head
    assert(kv.getAs[Double]("est") == 3.0)
  }

  test("grouped profile yields one SUMMARIZE row per group") {
    import graft.profile.Profile
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0), ("b", 10.0), ("b", 40.0))
      .toDF("g", "v")
    val rows = Profile.summarizeBy(df, "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("a", "b"))
    val a = rows("a")
    assert(a.getDouble(a.fieldIndex("col_min")) == 1.0 &&
      a.getDouble(a.fieldIndex("col_avg")) == 2.0 &&
      a.getDouble(a.fieldIndex("q50")) == 2.0)
    val b = rows("b")
    assert(b.getDouble(b.fieldIndex("q50")) == 10.0 &&
      b.getLong(b.fieldIndex("n_distinct")) == 2L)
  }

  test("grouped profile is declarative in group cardinality (10k groups)") {
    import graft.profile.Profile
    // 10k groups, values per group g: {g, g+1, g+2}
    val g10k = spark.range(30000).select(
      (col("id") % 10000).cast("string").as("g"),
      (col("id") % 10000 + expr("id div 10000")).cast("double").as("v"))
    val out = Profile.summarizeBy(g10k, "g", "v")
    assert(out.count() == 10000L)
    val r = out.where(col("column_name") === "42").collect().head
    assert(r.getDouble(r.fieldIndex("col_min")) == 42.0 &&
      r.getDouble(r.fieldIndex("col_max")) == 44.0 &&
      r.getDouble(r.fieldIndex("q50")) == 43.0 &&
      r.getLong(r.fieldIndex("n_distinct")) == 3L)
    // The grouped-quantile PLAN must not grow with group cardinality — a
    // driver-side per-group literal chain would. Same machinery profileKeyed
    // routes its quartile pass through.
    def planSize(n: Int): Int = {
      val df = spark.range(3L * n).select(
        (col("id") % n).cast("string").as("g"),
        (col("id") % n + expr(s"id div $n")).cast("double").as("v"))
      // exprIds (#1234) come from a JVM-global counter whose digit count
      // drifts with suite order — strip them so only plan SHAPE is measured
      graft.analytics.Quantiles.quantileContBy(df, "g", "v", Seq(0.5))
        .queryExecution.analyzed.toString.replaceAll("#\\d+", "#").length
    }
    assert(math.abs(planSize(10000) - planSize(10)) < 200)
  }

  test("pinned column profile: fused bucket path matches a local reference") {
    import graft.profile.Profile
    // wide near-unique column (multi-value prefix buckets → ranking job),
    // tiny-domain column (single-value buckets → no ranking), negatives,
    // and a column with nulls — exercises every fused-path branch
    val rng = new scala.util.Random(7)
    val rows = (1 to 4000).map { i =>
      (rng.nextDouble() * 2e5 - 1e5,
        (i % 9).toDouble,
        if (i % 10 == 0) None else Some((i % 23).toDouble - 11))
    }
    val df = rows.toDF("wide", "tiny", "holey")
    def ref(vs: Seq[Double], q: Double): Double = {
      val s = vs.sorted; val t = q * (s.length - 1)
      val lo = math.floor(t).toInt; val hi = math.ceil(t).toInt
      s(lo) + (t - lo) * (s(hi) - s(lo))
    }
    def dr4(x: Double): Double =
      if (x >= 0) math.floor(x * 1e4 + 0.5) / 1e4 else -(math.floor(-x * 1e4 + 0.5) / 1e4)
    val got = Profile.summarize(df, Seq("wide", "tiny", "holey"), exact = true)
      .collect().map(r => r.getString(0) -> r).toMap
    val cols = Map[String, Seq[Double]](
      "wide" -> rows.map(_._1), "tiny" -> rows.map(_._2),
      "holey" -> rows.flatMap(_._3))
    for ((name, vs) <- cols) {
      val r = got(name)
      assert(r.getDouble(r.fieldIndex("col_min")) == vs.min, name)
      assert(r.getDouble(r.fieldIndex("col_max")) == vs.max, name)
      for ((q, f) <- Seq(0.25 -> "q25", 0.5 -> "q50", 0.75 -> "q75"))
        assert(math.abs(r.getDouble(r.fieldIndex(f)) - dr4(ref(vs, q))) <= 1e-4,
          s"$name $f: got ${r.getDouble(r.fieldIndex(f))} want ${dr4(ref(vs, q))}")
      assert(r.getLong(r.fieldIndex("col_cnt")) == vs.size, name)
      assert(r.getLong(r.fieldIndex("n_distinct")) == vs.distinct.size, name)
    }
    assert(got("holey").getLong(got("holey").fieldIndex("null_cnt")) == 400L)
    // an absent (all-null) pinned column still yields its row
    val empty = Seq((Option.empty[Double], 1.0)).toDF("e", "x")
    val er = Profile.summarize(empty, Seq("e"), exact = true).collect().head
    assert(er.isNullAt(er.fieldIndex("col_min")) &&
      er.getLong(er.fieldIndex("null_cnt")) == 1L &&
      er.getLong(er.fieldIndex("col_cnt")) == 0L)
  }

  test("grouped profile at 100k groups: distributed assembly, no output collect") {
    import graft.profile.Profile
    // 100k groups, 3 values per group — far beyond MaxDriverKeys, so the
    // declarative path must assemble stats + quartiles with keyed joins
    val big = spark.range(300000).select(
      (col("id") % 100000).cast("string").as("g"),
      (col("id") % 100000 + expr("id div 100000") * 2).cast("double").as("v"))
    val out = Profile.summarizeBy(big, "g", "v")
    // the output relation is a distributed materialization (localCheckpoint
    // → LogicalRDD), NOT a driver-built LocalRelation: the whole result
    // never funnels through a collect
    val logical = out.queryExecution.logical
    assert(logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      s"expected LogicalRDD, got ${logical.getClass}")
    assert(out.count() == 100000L)
    val r = out.where(col("column_name") === "777").collect().head
    // group 777: values {777, 779, 781} → q50 = 779, q25 = 778, avg = 779
    assert(r.getDouble(r.fieldIndex("col_min")) == 777.0 &&
      r.getDouble(r.fieldIndex("col_max")) == 781.0 &&
      r.getDouble(r.fieldIndex("q25")) == 778.0 &&
      r.getDouble(r.fieldIndex("q50")) == 779.0 &&
      r.getDouble(r.fieldIndex("col_avg")) == 779.0 &&
      r.getLong(r.fieldIndex("n_distinct")) == 3L)
  }

  test("eager grouped quantiles scan the source exactly once") {
    import graft.analytics.Quantiles
    val dir = tmpDir("eagerq")
    // big enough that data pages dwarf footer/metadata re-reads in the
    // filesystem byte accounting below
    spark.range(200000).select(
      (col("id") % 100).cast("string").as("g"),
      (col("id") % 1000).cast("double").as("v"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    // Count FileSourceScanExec nodes actually EXECUTED, descending through
    // AQE wrappers but NOT into InMemoryTableScan (whose cached-plan recipe
    // is stored, never re-run) — plan-string grepping would count recipe
    // text and Initial Plan sections.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def fileScans(p: SparkPlan): Int = {
      val self = if (p.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]) 1 else 0
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self + kids.map(fileScans).sum
    }
    val counts = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Integer]())
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    durationNs: Long): Unit = counts.add(fileScans(qe.executedPlan))
      def onFailure(funcName: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val got = Quantiles.quantileContByEager(df, "g", "v", Seq(0.5))
        .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
      // group "42": values 42,142,…,942 each ×200 → median interpolates
      // between ranks 999 (442) and 1000 (542) = 492
      assert(got.size == 100 && got("42") == 492.0)
      // listener delivery is async: wait for the two executions
      // (materialize the counts cache + compute the result from it)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (counts.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      val seen = scala.jdk.CollectionConverters.ListHasAsScala(counts).asScala
      assert(seen.size >= 2, s"expected 2 executions, saw ${seen.size}")
      // Every eager execution reads the file ONLY through the one cache
      // materialization (which lives inside InMemoryRelation, not as an
      // executed FileSourceScan): zero direct file scans.
      assert(seen.map(_.intValue).sum == 0,
        s"result pass re-read the source (per execution: $seen)")
    } finally spark.listenerManager.unregister(l)
    // Sanity that the counter isn't blind: the LAZY composite's single
    // execution reads the file directly (≥1 executed FileSourceScan).
    val lazyQe = Quantiles.quantileContBy(df, "g", "v", Seq(0.5))
    lazyQe.collect()
    assert(fileScans(lazyQe.queryExecution.executedPlan) >= 1)
  }

  test("bounded-keys fast path matches the declarative quantile plan") {
    import graft.analytics.Quantiles
    // Few groups → quantileContByEager takes the driver-planned two-job
    // path; the lazy composite is the fully-declarative plan. Identical
    // interpolation arithmetic must give identical doubles, including on a
    // constant group (_mx === _mn → single bucket), heavy ties, a
    // single-value group, and negative values.
    val rows = Seq.tabulate(5000)(i => ("g" + (i % 7), (i % 97).toDouble - 13)) ++
      Seq.fill(50)(("const", 5.0)) ++ Seq(("single", -2.5))
    val df = rows.toDF("g", "v")
    val qs = Seq(0.25, 0.5, 0.75)
    val fast = Quantiles.quantileContByEager(df, "g", "v", qs)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val decl = Quantiles.quantileContBy(df, "g", "v", qs)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(fast.keySet == decl.keySet && fast.keySet.size == 9 * 3)
    fast.foreach { case (k, v) =>
      assert(java.lang.Double.compare(v, decl(k)) == 0, s"$k: fast=$v decl=${decl(k)}")
    }
    assert(fast(("const", 0.5)) == 5.0 && fast(("single", 0.25)) == -2.5)
  }

  test("z-score outliers flag extreme rows and skip zero-variance groups") {
    import graft.profile.Profile
    val df = Seq(
      ("a", 10.0), ("a", 10.0), ("a", 10.0), // zero variance: no rows
      ("b", 1.0), ("b", 2.0), ("b", 3.0), ("b", 100.0))
      .toDF("g", "v")
    val got = Profile.zscoreOutliers(df, "v", "g", 1.4)
      .select("g", "v", "z").as[(String, Double, Double)].collect()
    assert(got.length == 1 && got.head._1 == "b" && got.head._2 == 100.0 &&
      got.head._3 > 1.4)
  }

  test("late data beyond the watermark is dropped from closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = input.toDF().toDF("ts", "loc")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 minute"), col("loc"))
      .agg(count(lit(1)).as("n"))
      .select(col("loc"), col("n"))
      .writeStream.format("memory").queryName("late_stream").outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((ts("2024-01-01 00:00:10"), "a"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:30:00"), "wm")) // watermark → 00:29
      q.processAllAvailable()
      // this event's window (00:00) closed long ago: must be dropped
      input.addData((ts("2024-01-01 00:00:20"), "a"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 01:00:00"), "wm2"))
      q.processAllAvailable()
      val aRows = spark.table("late_stream").where($"loc" === "a")
        .as[(String, Long)].collect().toSeq
      assert(aRows == Seq(("a", 1L))) // late duplicate never counted
    } finally q.stop()
  }

  test("streaming DQ alert counts emit per closed window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, String)]
    val viol = input.toDF().toDF("ts", "loc", "type")
    val q = DqAlerts.alertCounts(viol, "1 minute", watermark = Some("1 minute"))
      .writeStream.format("memory").queryName("dq_stream").outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((ts("2024-01-01 00:00:10"), "f1", "range"),
        (ts("2024-01-01 00:00:40"), "f1", "range"),
        (ts("2024-01-01 00:01:10"), "f2", "range"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:10:00"), "f9", "range")) // push watermark
      q.processAllAvailable()
      val rows = spark.table("dq_stream")
        .select("loc", "n").as[(String, Long)].collect().toSet
      assert(rows.contains(("f1", 2L)) && rows.contains(("f2", 1L)))
    } finally q.stop()
  }

  test("bronze JSON-lines file stream drives continuous ETL ingestion") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("bronzestream")
    def writeLog(name: String, rows: Seq[(Long, String)]): Unit =
      Files.writeString(Paths.get(dir, name),
        rows.map { case (ts, doc) =>
          s"""{"ts": $ts, "data": ${new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(doc)}}"""
        }.mkString("", "\n", "\n"))
    writeLog("b1.jsonl", Seq((1L, """{"query_id":"q1","document_id":1}""")))
    val bronze = graft.etl.Sources.bronzeJsonStream(spark, dir)
    val flat = graft.etl.Etl.flatten(
      graft.etl.Etl.parse(bronze, graft.core.Contracts.clicks), graft.core.Contracts.clicks)
    val q = flat.writeStream.format("memory").queryName("bronze_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      writeLog("b2.jsonl", Seq((2L, """{"query_id":"q2","document_id":2}"""))) // new file = new batch
      q.processAllAvailable()
      val got = spark.table("bronze_stream").select("query_id")
        .as[String].collect().toSet
      assert(got == Set("q1", "q2"))
    } finally q.stop()
  }

  test("bronze JSON log can be ingested as a stream through the same ETL") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val bronze = input.toDF().toDF("ts", "data")
    val parsed = graft.etl.Etl.parse(bronze, graft.core.Contracts.clicks)
    val flat = graft.etl.Etl.flatten(parsed, graft.core.Contracts.clicks)
    val q = flat.writeStream.format("memory").queryName("etl_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, """{"query_id":"q1","document_id":42}"""))
      q.processAllAvailable()
      val rows = spark.table("etl_stream")
        .select("query_id", "document_id").as[(String, Long)].collect().toSeq
      assert(rows == Seq(("q1", 42L)))
    } finally q.stop()
  }

  test("streaming drift monitor: windowed profile + bounds alerts on the drifted window") {
    import graft.core.FieldBounds
    import graft.stream.Drift
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val prof = Drift.windowedProfile(input.toDF().toDF("ts", "value"), Seq("value"))
    val q = prof.writeStream.format("memory").queryName("drift_stream")
      .outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // window 1: in-bounds; window 2: drifted high
      input.addData((ts("2024-01-01 00:00:10"), 5.0), (ts("2024-01-01 00:00:40"), 7.0),
        (ts("2024-01-01 00:01:10"), 55.0), (ts("2024-01-01 00:01:30"), 6.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:10:00"), 5.0)) // close both windows
      q.processAllAvailable()
      val windows = spark.table("drift_stream")
      assert(windows.count() >= 2)
      val alerts = Drift.alerts(windows,
        Map("value" -> FieldBounds(Some(0.0), Some(10.0))))
        .select("column_name", "kind", "observed")
        .as[(String, String, Double)].collect().toSet
      assert(alerts == Set(("value", "drift_high", 55.0)))
      // tolerance widens the accepted band
      val tolerant = Drift.alerts(windows,
        Map("value" -> FieldBounds(Some(0.0), Some(10.0))), tolerance = 5.0)
      assert(tolerant.count() == 0)
    } finally q.stop()
  }

  test("streaming PSI: per-window drift vs fixed baseline, batch-parity arithmetic") {
    import graft.profile.Psi
    import graft.stream.Drift
    implicit val sqlCtx = spark.sqlContext
    // baseline: uniform over [0, 100) in 10 bins
    val base = (0 until 1000).map(i => (i.toLong, (i % 100).toDouble)).toDF("id", "v")
    val baseCounts = Psi.binnedCounts(base, col("v"), 0.0, 100.0, 10)
      .orderBy("bin").as[(Long, Long)].collect().map(_._2).toSeq
    assert(baseCounts == Seq.fill(10)(100L))
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val psi = Drift.psiWindows(input.toDF().toDF("ts", "value"), "value",
      baseCounts, 0.0, 100.0)
    val q = psi.writeStream.format("memory").queryName("psi_stream")
      .outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // window 1: spread like the baseline; window 2: all mass in one bin
      val w1 = (0 until 100).map(i => (ts("2024-01-01 00:00:10"), i.toDouble))
      val w2 = (0 until 100).map(_ => (ts("2024-01-01 00:01:10"), 5.0))
      input.addData(w1 ++ w2: _*)
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:10:00"), 1.0)) // close both windows
      q.processAllAvailable()
      val rows = spark.table("psi_stream")
        .orderBy("window_start")
        .select("psi", "n").as[(Double, Long)].collect().toSeq
      assert(rows.size >= 2)
      val (psiSame, nSame) = rows(0)
      val (psiDrift, nDrift) = rows(1)
      assert(nSame == 100L && nDrift == 100L)
      assert(psiSame == 0.0) // 10/bin everywhere: q == p exactly per bin
      assert(psiDrift > 1.0, s"concentrated window psi=$psiDrift")
      // batch parity: the streaming window arithmetic IS Psi.psi's
      val batchPsi = Psi.psi(base,
        (0 until 100).map(i => (i.toLong, 5.0)).toDF("id", "v"),
        col("v"), 0.0, 100.0, 10).select("psi").as[Double].collect().head
      assert(psiDrift == batchPsi)
    } finally q.stop()
  }

  test("streaming corpus scoring: BPE counts, quality model, and LM scores on a doc stream") {
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.{Bpe, NgramLm, QualityModel}
    // a static model trained offline + a stream of new documents — the
    // production shape: scoring expressions are stateless per-row maps
    // (bpe/quality) or stream-static joins (LM), so they run unchanged in
    // a readStream pipeline
    val history = Seq((1L, "the cat sat on the mat"), (2L, "the cat ate"))
      .toDF("doc_id", "text")
    val lm = NgramLm.train(history, n = 2).localCheckpoint()
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val scored = docs.select(col("doc_id"),
      graft.functions.native.bpeCount(col("text"), Bpe.CoreEnglishMerges)
        .as("n_bpe"),
      QualityModel.score(col("text"), QualityModel.CoreDemoModel)
        .as("q_model"))
    val q = scored.writeStream.format("memory").queryName("scored_stream")
      .outputMode("append").start()
    try {
      input.addData((10L, "the cat sat"), (11L, ""))
      q.processAllAvailable()
      val got = spark.table("scored_stream").as[(Long, Long, Double)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      // batch parity: identical values from the same expressions on a batch
      val want = Seq((10L, "the cat sat"), (11L, "")).map { case (id, t) =>
        id -> ((Bpe.countTokens(t, Bpe.CoreEnglishMerges),
          QualityModel.scoreText(t, QualityModel.CoreDemoModel)))
      }.toMap
      assert(got == want)
    } finally q.stop()
    // LM scoring of a micro-batch against the static model (foreachBatch
    // shape: per-batch stream-static joins + a batch-local aggregate)
    val batch = Seq((20L, "the cat sat"), (21L, "zz qq")).toDF("doc_id", "text")
    val scores = NgramLm.score(batch, lm, n = 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(scores(20L) < scores(21L), s"fluent < gibberish: $scores")
  }

  test("streaming exact dedup: duplicates dropped, state GC'd past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = graft.stream.StreamDedup.exact(
        input.toDF().toDF("ts", "text"), watermark = "1 minute")
      .select("text")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((ts("2024-01-01 00:00:00"), "doc-a"),
        (ts("2024-01-01 00:00:10"), "doc-a"), // dup within watermark: dropped
        (ts("2024-01-01 00:00:20"), "doc-b"))
      q.processAllAvailable()
      assert(spark.table("dedup_stream").as[String].collect().toSeq.sorted ==
        Seq("doc-a", "doc-b"))
      // push the watermark far past doc-a's window: its state is GC'd, so a
      // re-arrival is a NEW document (bounded state, not forever-dedup)
      input.addData((ts("2024-01-01 01:00:00"), "doc-c"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 01:00:30"), "doc-a"))
      q.processAllAvailable()
      val all = spark.table("dedup_stream").as[String].collect().toSeq
      assert(all.count(_ == "doc-a") == 2)
    } finally q.stop()
  }

  test("streaming front door: html strips, url refetch drops, chained content dedup holds") {
    implicit val sqlCtx = spark.sqlContext
    import graft.stream.StreamPipeline
    val input = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def words(tag: String) = (1 to 60).map(j => s"${tag}w$j").mkString(" ")
    val q = StreamPipeline.curate(
        input.toDF().toDF("doc_id", "ts", "text", "source", "url"),
        watermark = "1 minute", htmlInput = true, urlCol = Some("url"))
      .writeStream.format("memory").queryName("frontdoor_stream")
      .outputMode("append").start()
    try {
      input.addData(
        // 1 and 2: same canonical URL (refetch) — 2 drops at the URL stage
        (1L, ts("2024-01-01 00:00:00"), s"<p>${words("a")}</p>", "s1",
          "http://www.A.com/p?id=1&utm_source=x"),
        (2L, ts("2024-01-01 00:00:05"), s"<div>${words("a2")}</div>", "s1",
          "HTTP://a.com:80/p?id=1"),
        // 3: distinct URL, but its MARKUP-STRIPPED text equals doc 1's —
        // the chained content dedup must drop it
        (3L, ts("2024-01-01 00:00:10"), s"<b>${words("a")}</b>", "s2",
          "http://b.org/q"),
        // 4: genuinely new
        (4L, ts("2024-01-01 00:00:15"), s"<p>${words("z")}</p>", "s3",
          "http://c.net/r"))
      q.processAllAvailable()
      // doc 2 proves URL dedup (different markup text, same canonical
      // URL); doc 3 proves content dedup runs on the STRIPPED text (raw
      // markup differs from doc 1's, visible text is identical)
      val out = spark.table("frontdoor_stream")
        .select("doc_id").as[Long].collect().toSet
      assert(out == Set(1L, 4L), s"front door kept $out")
    } finally q.stop()
  }

  test("streaming front door: c4 line stage rewrites before dedup state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.stream.StreamPipeline
    val input = MemoryStream[(Long, java.sql.Timestamp, String, String)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def sentence(tag: String) =
      (1 to 60).map(j => s"${tag}w$j").mkString(" ") + "."
    val body = Seq(sentence("a"), sentence("b"), sentence("c"))
    val q = StreamPipeline.curate(
        input.toDF().toDF("doc_id", "ts", "text", "source"),
        watermark = "1 minute", c4MinKeptLines = Some(3))
      .writeStream.format("memory").queryName("c4_stream")
      .outputMode("append").start()
    try {
      input.addData(
        // 1 and 2: identical after the boilerplate line is cut —
        // content dedup must see them as EQUAL (c4 runs before state)
        (1L, ts("2024-01-01 00:00:00"), body.mkString("\n"), "s1"),
        (2L, ts("2024-01-01 00:00:05"),
          (body :+ "cookie banner boilerplate").mkString("\n"), "s1"),
        // 3: only two surviving lines → drops at the line gate
        (3L, ts("2024-01-01 00:00:10"),
          Seq(sentence("x"), sentence("y"), "no punct tail").mkString("\n"),
          "s2"))
      q.processAllAvailable()
      val out = spark.table("c4_stream")
        .select("doc_id").as[Long].collect().toSet
      assert(out == Set(1L), s"c4 stream kept $out")
    } finally q.stop()
  }

  test("streaming front door: null-url docs bypass url dedup on a per-doc key") {
    implicit val sqlCtx = spark.sqlContext
    import graft.stream.StreamPipeline
    val input = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def words(tag: String) = (1 to 60).map(j => s"${tag}w$j").mkString(" ")
    val q = StreamPipeline.curate(
        input.toDF().toDF("doc_id", "ts", "text", "source", "url"),
        watermark = "1 minute", urlCol = Some("url"))
      .writeStream.format("memory").queryName("nullurl_stream")
      .outputMode("append").start()
    try {
      input.addData(
        // 1 and 2: DISTINCT docs, both with no URL — sha2(null) pools to
        // one null state key unless the stage substitutes a per-doc key,
        // which would silently collapse 2 into 1
        (1L, ts("2024-01-01 00:00:00"), words("a"), "s1", null: String),
        (2L, ts("2024-01-01 00:00:05"), words("b"), "s1", null: String),
        // 3: null URL but SAME text as 1 — the chained content stage must
        // still catch it (the bypass defers judgment, not skips it)
        (3L, ts("2024-01-01 00:00:10"), words("a"), "s2", null: String),
        // 4: blank URL is as unusable as null
        (4L, ts("2024-01-01 00:00:15"), words("c"), "s3", ""))
      q.processAllAvailable()
      val out = spark.table("nullurl_stream")
        .select("doc_id").as[Long].collect().toSet
      assert(out == Set(1L, 2L, 4L), s"null-url front door kept $out")
    } finally q.stop()
  }

  test("streaming near-dup: LSH owner match, exact copy always caught, state GC'd at horizon") {
    implicit val sqlCtx = spark.sqlContext
    import graft.stream.StreamDedupNear
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again because repetition makes shingles overlap heavily indeed"
    val near = base.replace("lazy", "sleepy") // one-word edit: high Jaccard
    val other = "completely unrelated text about tax law filings in " +
      "autumn with no overlapping phrases whatsoever to speak of here"
    val q = StreamDedupNear.matches(
        input.toDF().toDF("doc_id", "ts", "text"), watermark = "1 minute")
      .toDF()
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    def verdictMap() = graft.stream.StreamDedupNear.verdictsOf(
        spark.table("neardup_stream"))
      .select("doc_id", "keep_id").as[(Long, Long)].collect().toMap
    try {
      // batch 1: original + exact copy + near-dup + unrelated
      input.addData(
        (1L, ts("2024-01-01 00:00:00"), base),
        (2L, ts("2024-01-01 00:00:05"), base),   // exact copy: MUST match
        (3L, ts("2024-01-01 00:00:10"), near),   // near-dup: should match
        (4L, ts("2024-01-01 00:00:15"), other),  // novel: no verdict row
        // two TOKEN-LESS docs (empty / whitespace-only): both have an
        // empty shingle set, hence identical all-sentinel signatures —
        // they must NOT sentinel-match each other (short-but-nonempty
        // docs are safe: WordShingles pads them to one whole-doc shingle)
        (7L, ts("2024-01-01 00:00:16"), ""),
        (8L, ts("2024-01-01 00:00:17"), "   "))
      q.processAllAvailable()
      val v1 = verdictMap()
      assert(v1.get(2L).contains(1L), s"exact copy missed: $v1")
      assert(v1.get(3L).contains(1L), s"near-dup missed: $v1")
      assert(!v1.contains(1L) && !v1.contains(4L), s"false positive: $v1")
      assert(!v1.contains(7L) && !v1.contains(8L),
        s"shingle-less docs sentinel-matched: $v1")
      // exact copy agrees in EVERY band; the near-dup in at least one
      val bands = spark.table("neardup_stream")
        .groupBy("id").count().as[(Long, Long)].collect().toMap
      assert(bands(2L) == 8L && bands(3L) >= 1L, bands.toString)
      // push the watermark past the horizon: owner state is GC'd, so a
      // re-arrival of the SAME text is novel again (bounded state, the
      // StreamDedup contract)
      input.addData((90L, ts("2024-01-01 00:05:00"), "horizon closer one"))
      q.processAllAvailable()
      input.addData((5L, ts("2024-01-01 00:10:00"), base))
      q.processAllAvailable()
      val v2 = verdictMap()
      assert(!v2.contains(5L), s"GC'd owner still matched: $v2")
      // ...and a copy of the RE-ARRIVED doc matches the new owner
      input.addData((6L, ts("2024-01-01 00:10:10"), base))
      q.processAllAvailable()
      val v3 = verdictMap()
      assert(v3.get(6L).contains(5L), s"new-owner copy missed: $v3")
    } finally q.stop()
    // the foreachBatch verdict sink: per-batch parquet, idempotent layout
    val input2 = MemoryStream[(Long, java.sql.Timestamp, String)]
    val vDir = tmpDir("neardup_verdicts")
    val q2 = StreamDedupNear.verdictStream(vDir,
        input2.toDF().toDF("doc_id", "ts", "text"), watermark = "1 minute")
      .option("checkpointLocation", tmpDir("neardup_ckpt"))
      .start()
    try {
      input2.addData(
        (11L, ts("2024-01-01 00:00:00"), base),
        (12L, ts("2024-01-01 00:00:05"), base))
      q2.processAllAvailable()
      val got = spark.read.option("recursiveFileLookup", "true").parquet(vDir)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((12L, 11L, 8L)), got.toString)
    } finally q2.stop()
  }

  test("streaming ingest scores documents: BPE + quality model compose with stream dedup") {
    // the round-7 scoring surface is stateless columnar expressions, so it
    // drops straight into a streaming ingest: dedup state stays 32 bytes
    // per doc, scoring adds NO state, and per-row results are identical to
    // the batch twins
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.{Bpe, QualityModel}
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val m = QualityModel.CoreDemoModel
    val scored = graft.stream.StreamDedup.exact(
        input.toDF().toDF("ts", "text"), watermark = "1 minute")
      .select(col("text"),
        graft.functions.native.bpeCount(col("text"), Bpe.CoreEnglishMerges).as("n_bpe"),
        QualityModel.score(col("text"), m).as("q_model"))
    val q = scored.writeStream.format("memory").queryName("scored_stream")
      .outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((ts("2024-01-01 00:00:00"), "the cat sat on the mat"),
        (ts("2024-01-01 00:00:05"), "the cat sat on the mat"), // dup: scored once
        (ts("2024-01-01 00:00:10"), "buy cheap pills"))
      q.processAllAvailable()
      val rows = spark.table("scored_stream").as[(String, Long, Double)]
        .collect().toSeq
      assert(rows.size == 2, s"dup must be dropped before scoring: $rows")
      rows.foreach { case (t, nb, qm) =>
        assert(nb == Bpe.countTokens(t, Bpe.CoreEnglishMerges))
        assert(qm == QualityModel.scoreText(t, m))
      }
    } finally q.stop()
  }

  test("observe-based DQ counters accumulate without extra scans") {
    import graft.core.{FieldBounds, Validation}
    import graft.stream.DqCounters
    val listener = new DqCounters.Listener("dq")
    spark.listenerManager.register(listener)
    try {
      val df = Seq(0.5, 1.5, 2.5, 0.9).toDF("probability")
      val rules = Validation.boundsRules(
        Map("probability" -> FieldBounds(Some(0.0), Some(1.0))))
      DqCounters.observed(df, rules).collect()
      // listener delivery is async; poll briefly
      val deadline = System.nanoTime() + 10_000_000_000L
      var snap = listener.snapshot
      while (!snap.contains("probability:range") && System.nanoTime() < deadline) {
        Thread.sleep(50); snap = listener.snapshot
      }
      assert(snap.get("probability:range").contains(2L))
      assert(snap.get("rows:total").contains(4L))
      val prom = listener.renderPrometheus()
      assert(prom.contains("""graft_validation_checks_total{loc="probability",type="range"} 2"""))
      assert(prom.startsWith("# TYPE graft_validation_checks_total counter"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("streaming sessionization: session_window + watermark emits closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val q = input.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "1 minute")
      .groupBy(col("user_id"), session_window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"))
      .writeStream.format("memory").queryName("sess_stream").outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:00:30"), 1L),
        (ts("2024-01-01 00:05:00"), 1L)) // third event: separate session
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:30:00"), 9L)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sess_stream").as[(Long, Long)].collect().toSet
      assert(rows.contains((1L, 2L)) && rows.contains((1L, 1L)))
    } finally q.stop()
  }

  test("streaming near-dup curation: store-backed foreachBatch drops cross-batch near-copies") {
    implicit val sqlCtx = spark.sqlContext
    import graft.stream.StreamPipeline
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def good(tag: String) = (1 to 60).map(j => s"${tag}word$j").mkString(" ")
    val nearA = good("a").replace("aword30", "changed30") // one-word edit
    val nearA2 = good("a").replace("aword31", "other31")
    val input = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val outDir = tmpDir("nearcur_out"); val storeDir = tmpDir("nearcur_store")
    val q = StreamPipeline.curateNearStream(outDir, storeDir,
        input.toDF().toDF("doc_id", "text", "source", "ts"))
      .option("checkpointLocation", tmpDir("nearcur_ck"))
      .start()
    try {
      // batch 1: original + in-batch near-copy + short junk
      input.addData(
        (1L, good("a"), "s1", ts("2024-01-01 00:00:00")),
        (2L, nearA, "s1", ts("2024-01-01 00:00:05")),
        (3L, "too short", "s2", ts("2024-01-01 00:00:10")))
      q.processAllAvailable()
      // batch 2: ANOTHER near-copy of doc 1 (must resolve via the STORE —
      // no horizon, full history) + a fresh good doc
      input.addData(
        (4L, nearA2, "s3", ts("2024-01-01 01:00:00")),
        (5L, good("b"), "s3", ts("2024-01-01 01:00:10")))
      q.processAllAvailable()
      val kept = spark.read.option("recursiveFileLookup", "true")
        .parquet(outDir).select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 5L), s"kept = $kept")
    } finally q.stop()
  }

  test("streaming domain quota: per-site admission cap, null-url bypass, cross-batch state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.stream.StreamDomainQuota
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Long, String)]
    val q = StreamDomainQuota.route(
        input.toDF().toDF("doc_id", "url"), quota = 2)
      .toDF()
      .writeStream.format("memory").queryName("quota_stream")
      .outputMode("append").start()
    try {
      // batch 0: three a.com docs (ids out of order — intra-batch rank is
      // BY ID), one www/port alias of a.com, two URL-less docs
      input.addData(
        (3L, "http://a.com/3"), (1L, "http://a.com/1"),
        (2L, "https://www.A.com:443/2"),
        (7L, null: String), (8L, ""))
      q.processAllAvailable()
      def verdicts() = spark.table("quota_stream")
        .as[(Long, String, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val v0 = verdicts()
      assert(v0(1L) == (("a.com", 1L, true)) && v0(2L) == (("a.com", 2L, true)))
      assert(v0(3L) == (("a.com", 3L, false)), v0.toString) // id-ranked
      assert(v0(7L) == ((null, 1L, true)) && v0(8L) == ((null, 1L, true)))
      // batch 1: the a.com counter PERSISTS (drops), a fresh site admits
      input.addData((9L, "http://a.com/9"), (10L, "http://b.org/x"))
      q.processAllAvailable()
      val v1 = verdicts()
      assert(v1(9L) == (("a.com", 4L, false)) && v1(10L) == (("b.org", 1L, true)))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming heavy hitters: promotion at threshold, milestone cadence") {
    import graft.stream.{HeavyHit, StreamHeavyHitters}
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[String]
      val q = StreamHeavyHitters.hits(input.toDS(), threshold = 3L, every = 2L)
        .writeStream.format("memory").queryName("shh")
        .outputMode("append").start()
      try {
        // batch 1: a×2, b×1 — nobody reaches the threshold
        input.addData("a", "b", "a")
        q.processAllAvailable()
        assert(spark.table("shh").as[HeavyHit].collect().isEmpty)
        // batch 2: a crosses 3 (promoted), then milestones at 5;
        // b stays cold at 2
        input.addData("a", "a", "a", "b")
        q.processAllAvailable()
        assert(spark.table("shh").as[HeavyHit].collect().toSet ==
          Set(HeavyHit("a", 3L), HeavyHit("a", 5L)))
        // batch 3: counter state persists across batches — a hits the
        // 7-milestone with two more events; b finally promotes at 3
        input.addData("a", "a", "b")
        q.processAllAvailable()
        assert(spark.table("shh").as[HeavyHit].collect().toSet ==
          Set(HeavyHit("a", 3L), HeavyHit("a", 5L), HeavyHit("a", 7L),
            HeavyHit("b", 3L)))
      } finally q.stop()
    }
  }

  test("streaming cdc ledger: cross-batch duplicated bytes via the store, replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.stream.StreamPipeline
    def words(tag: String, from: Int, to: Int) =
      (from to to).map(j => s"$tag$j").mkString(" ")
    val xs = words("x", 1, 80) // ~10 CDC chunks
    val input = MemoryStream[(Long, String)]
    val outDir = tmpDir("cdcs_out"); val storeDir = tmpDir("cdcs_store")
    val q = StreamPipeline.cdcLedgerStream(outDir, storeDir,
        input.toDF().toDF("doc_id", "text"))
      .option("checkpointLocation", tmpDir("cdcs_ck"))
      .start()
    try {
      input.addData((1L, xs), (2L, words("y", 1, 60)))
      q.processAllAvailable()
      // batch 1: doc 3 = exact refetch of doc 1 (all bytes dup via the
      // STORE), doc 4 = half of doc 1 + new tail (partial), doc 5 = fresh
      input.addData((3L, xs),
        (4L, words("x", 1, 40) + " " + words("z", 1, 40)),
        (5L, words("w", 1, 60)))
      q.processAllAvailable()
      def led(b: Int) = spark.read.parquet(s"$outDir/b$b")
        .select("doc_id", "dup_chars", "n_chars", "dup_ratio")
        .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
      val b0 = led(0); val b1 = led(1)
      assert(b0(1L)._2 == 0L && b0(2L)._2 == 0L, b0.toString)
      assert(b1(3L)._4 == 1.0, s"exact refetch must be all-dup: ${b1(3L)}")
      assert(b1(4L)._2 > 0L && b1(4L)._2 < b1(4L)._3, b1(4L).toString)
      assert(b1(5L)._2 == 0L, b1(5L).toString)
      // REPLAY batch 1 (the recovery path): ledger identical, store
      // contents identical — own subdirectory excluded from history and
      // overwritten, never matched against itself
      def storeKeySet() = spark.read.option("recursiveFileLookup", "true")
        .parquet(storeDir).select("hash", "len")
        .as[(Long, Int)].collect().toSet
      val keysBefore = storeKeySet()
      val replay = graft.llm.Cdc.ingestBatch(spark, storeDir,
          Seq((3L, xs), (4L, words("x", 1, 40) + " " + words("z", 1, 40)),
            (5L, words("w", 1, 60))).toDF("doc_id", "text"), batchId = 1L)
        .select("doc_id", "dup_chars", "n_chars", "dup_ratio")
        .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
      assert(replay == b1, s"replayed ledger diverged: $replay vs $b1")
      assert(storeKeySet() == keysBefore, "replay must not grow the store")
    } finally q.stop()
  }

  test("streaming e2e curation: dedup→gopher→silver/hitters/alerts survive a checkpoint restart (RocksDB)") {
    import graft.stream.{HeavyHit, StreamPipeline}
    import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val srcDir = tmpDir("e2esrc")
    val silverDir = tmpDir("e2esilver"); val hitsDir = tmpDir("e2ehits")
    val alertsDir = tmpDir("e2ealerts")
    val ck = Map("silver" -> tmpDir("e2eck1"), "hits" -> tmpDir("e2eck2"),
      "alerts" -> tmpDir("e2eck3"))
    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
      .add("source", StringType).add("ts", TimestampType)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // good: 60 distinct letter-words (every gopher rule passes);
    // junk: 10 distinct 6-letter words (ONLY the word-count rule fires →
    // rules_failed = 1, a stable alert type)
    def good(tag: String) = // 60 DISTINCT words: every gopher rule passes
      (1 to 60).map(j => s"${tag}word$j").mkString(" ")
    def junk(tag: String) = // 10 distinct words: only word-count fires (=1)
      (1 to 10).map(j => s"${tag}junky$j").mkString(" ")
    def writeBatch(rows: Seq[(Long, String, String, java.sql.Timestamp)]): Unit =
      rows.toDF("doc_id", "text", "source", "ts")
        .coalesce(1).write.mode("append").parquet(srcDir)
    def startAll() = {
      val cur = StreamPipeline.curate(
        spark.readStream.schema(schema).parquet(srcDir))
      Seq(
        cur.writeStream.option("checkpointLocation", ck("silver"))
          .outputMode("append").format("parquet").start(silverDir),
        StreamPipeline.junkSources(cur, threshold = 3L, every = 2L)
          .writeStream.option("checkpointLocation", ck("hits"))
          .outputMode("append").format("parquet").start(hitsDir),
        StreamPipeline.dropAlerts(cur)
          .writeStream.option("checkpointLocation", ck("alerts"))
          .outputMode("append").format("parquet").start(alertsDir))
    }
    try {
      // run 1: one good doc (+ an in-batch duplicate), three junk docs
      // from the flooding source srcJ (counter reaches the threshold)
      writeBatch(Seq(
        (1L, good("a"), "srcA", ts("2024-01-01 00:00:00")),
        (2L, good("a"), "srcA", ts("2024-01-01 00:00:05")), // dup: dropped
        (3L, junk("p"), "srcJ", ts("2024-01-01 00:00:10")),
        (4L, junk("q"), "srcJ", ts("2024-01-01 00:00:15")),
        (5L, junk("r"), "srcJ", ts("2024-01-01 00:00:20"))))
      val qs1 = startAll()
      try qs1.foreach(_.processAllAvailable()) finally qs1.foreach(_.stop())
      // run 2, SAME checkpoints: a text-duplicate of doc 1 (dropped only
      // if the dedup state came back), a fresh good doc, two more srcJ
      // junk docs (counter must resume 3 → milestone 5), and a far-future
      // row to advance the watermark
      writeBatch(Seq(
        (6L, good("a"), "srcB", ts("2024-01-01 00:01:00")),
        (7L, good("b"), "srcB", ts("2024-01-01 00:01:10")),
        (8L, junk("s"), "srcJ", ts("2024-01-01 00:01:20")),
        (9L, junk("t"), "srcJ", ts("2024-01-01 00:01:30")),
        (10L, good("z"), "srcOK", ts("2024-01-01 00:20:00"))))
      val qs2 = startAll()
      try {
        qs2.foreach(_.processAllAvailable())
        // one more batch so the advanced watermark closes the 00:00/00:01
        // alert windows
        writeBatch(Seq((11L, good("y"), "srcOK", ts("2024-01-01 00:40:00"))))
        qs2.foreach(_.processAllAvailable())
      } finally qs2.foreach(_.stop())
      val silver = spark.read.parquet(silverDir)
      val keptIds = silver.where(col("kept") === 1)
        .select("doc_id").as[Long].collect().toSet
      val allIds = silver.select("doc_id").as[Long].collect().toSeq
      // doc 2 (in-batch dup) and doc 6 (CROSS-RESTART dup) never surface;
      // junk docs surface with kept = 0
      assert(keptIds == Set(1L, 7L, 10L, 11L), s"kept = $keptIds")
      assert(!allIds.contains(6L), "cross-restart duplicate leaked — dedup state lost")
      assert(allIds.size == allIds.toSet.size, "replay duplicated a doc")
      assert(silver.where(col("kept") === 0).select("doc_id").as[Long]
        .collect().toSet == Set(3L, 4L, 5L, 8L, 9L))
      // heavy hitters: threshold hit in run 1, milestone 5 in run 2 —
      // 5 = 3 + 2 proves the RocksDB counter survived the restart
      val hits = spark.read.parquet(hitsDir).as[HeavyHit].collect().toSet
      assert(hits == Set(HeavyHit("srcJ", 3L), HeavyHit("srcJ", 5L)), s"hits = $hits")
      // alerts: the junk drops aggregate per closed window under the
      // stable rule type; the two srcJ windows carry 3 + 2 drops
      val alerts = spark.read.parquet(alertsDir)
        .select("loc", "type", "n").as[(String, String, Long)].collect().toSet
      assert(alerts == Set(("srcJ", "gopher_rules_1", 3L),
        ("srcJ", "gopher_rules_1", 2L)), s"alerts = $alerts")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming novelty: repeated content stops counting, new content counts once") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = graft.stream.StreamNovelty.newShingleCounts(
        input.toDF().toDF("ts", "text"), watermark = "2 minutes")
      .writeStream.format("memory").queryName("novelty_stream")
      .outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // doc A: 10 tokens → 6 distinct 5-gram shingles, all new
      val a = (1 to 10).map("aw" + _).mkString(" ")
      // doc B shares A's trailing 5 tokens: its 6 shingles overlap A in 1
      val b = ((6 to 10).map("aw" + _) ++ (1 to 5).map("bw" + _)).mkString(" ")
      input.addData((ts("2024-01-01 00:00:10"), a))
      q.processAllAvailable()
      input.addData(
        (ts("2024-01-01 00:01:10"), a), // full repeat: zero new
        (ts("2024-01-01 00:01:20"), b)) // 5 new, 1 already seen
      q.processAllAvailable()
      // advance the watermark far enough to close both windows
      input.addData((ts("2024-01-01 00:30:00"), "closer xx yy zz ww vv"))
      q.processAllAvailable()
      val got = spark.table("novelty_stream")
        .as[(java.sql.Timestamp, Long)].collect().toMap
      assert(got(ts("2024-01-01 00:00:00")) == 6L, got.toString)
      assert(got(ts("2024-01-01 00:01:00")) == 5L, got.toString)
    } finally q.stop()
  }

  test("streaming novelty equals batch vocab_growth on the same corpus replay") {
    // The two implementations compute the same statistic (distinct
    // 5-gram shingles by FIRST appearance) over different axes — corpus
    // decile (batch gate query) vs event-time window (stream). Replaying
    // each doc as its own micro-batch, in doc_id order, with doc i's
    // timestamp inside minute i, makes the axes coincide: window minute
    // == corpus decile. The watermark horizon covers the whole replay, so
    // stream-side "first within horizon" == batch-side global first.
    implicit val sqlCtx = spark.sqlContext
    // token windows overlap across docs (i*7+j mod 23) → nontrivial
    // cross-doc shingle sharing the test does not need to precompute:
    // agreement IS the assertion
    def text(i: Int) = (0 until 10).map(j => s"w${(i * 7 + j) % 23}").mkString(" ")
    val docs = (0L until 10L).map(i => (i, text(i.toInt)))
    val dir = tmpDir("novelparity")
    docs.toDF("doc_id", "text").write.parquet(dir + "/documents.parquet")
    val batch = SparkEntry.queries("vocab_growth")(spark, dir)
      .as[(Long, Long)].collect().toMap

    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = graft.stream.StreamNovelty.newShingleCounts(
        input.toDF().toDF("ts", "text"), watermark = "20 minutes")
      .writeStream.format("memory").queryName("novelty_parity")
      .outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      docs.foreach { case (i, t) =>
        input.addData((ts(f"2024-01-01 00:$i%02d:10"), t))
        q.processAllAvailable() // one micro-batch per doc: arrival order = doc_id order
      }
      input.addData((ts("2024-01-01 01:00:00"), "closer xx yy zz ww vv"))
      q.processAllAvailable()
      val stream = spark.table("novelty_parity")
        .as[(java.sql.Timestamp, Long)].collect()
        .map { case (w, n) => (w.toLocalDateTime.getMinute.toLong, n) }.toMap
      assert(stream == batch, s"stream=$stream batch=$batch")
      // the agreement is non-vacuous: several deciles, not all trivial
      assert(batch.size >= 3 && batch.values.sum > batch(0L), batch.toString)
    } finally q.stop()
  }

  test("streaming quantile registers equal the one-shot batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    // values spanning clamps (below lo, above hi) and two groups
    val rows = (0 until 200).map(i =>
      (if (i % 2 == 0) "a" else "b", (i * 7 % 230) - 5.0))
    val (lo, hi, nBins) = (0.0, 200.0, 16)
    val input = MemoryStream[(String, Double)]
    val q = graft.stream.StreamQuantiles.registers(
        input.toDF().toDF("g", "v"), "g", col("v"), lo, hi, nBins)
      .writeStream.format("memory").queryName("squant")
      .outputMode("complete").start()
    try {
      val (b1, b2) = rows.splitAt(80)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val stream = spark.table("squant")
        .as[(String, Long, Long)].collect().toSeq.sorted
      val batch = graft.analytics.Sketches.quantileRegisters(
          rows.toDF("g", "v"), "g", col("v"), lo, hi, nBins)
        .as[(String, Long, Long)].collect().toSeq.sorted
      assert(stream == batch)
      // and therefore every readout agrees too
      val sq = graft.analytics.Sketches.quantileEstimate(
          spark.table("squant"), "g", Seq(0.5, 0.9), lo, hi, nBins)
        .as[(String, Double, Double, Long)].collect().toSeq.sorted
      val bq = graft.analytics.Sketches.quantileEstimate(
          graft.analytics.Sketches.quantileRegisters(
            rows.toDF("g", "v"), "g", col("v"), lo, hi, nBins),
          "g", Seq(0.5, 0.9), lo, hi, nBins)
        .as[(String, Double, Double, Long)].collect().toSeq.sorted
      assert(sq == bq && sq.size == 4)
    } finally q.stop()
  }

  test("salted join matches the unsalted join exactly") {
    import graft.core.Skew
    val left = (1 to 1000).map(i => (i % 7, i)).toDF("k", "v")
    val right = Seq((0, "a"), (1, "b"), (2, "c"), (99, "z")).toDF("k", "name")
    for (jt <- Seq("inner", "left")) {
      val plain = left.join(right, Seq("k"), jt)
        .select("k", "v", "name").as[(Int, Int, Option[String])].collect().toSeq.sorted
      val salted = Skew.saltedJoin(left, right, "k", salt = 8, joinType = jt)
        .select("k", "v", "name").as[(Int, Int, Option[String])].collect().toSeq.sorted
      assert(salted == plain, s"joinType=$jt")
      // salt assignment is position-stable, so the result is invariant under
      // repartition (rand()-based salting was not: a task retry could
      // re-draw salts and double- or drop-count rows)
      val reparted = Skew.saltedJoin(left.repartition(13), right, "k", salt = 8,
          joinType = jt)
        .select("k", "v", "name").as[(Int, Int, Option[String])].collect().toSeq.sorted
      assert(reparted == plain, s"joinType=$jt repartitioned")
    }
    val hh = Skew.heavyHitters(left, col("k"), 3).collect()
    assert(hh.length == 3 && hh.head.getLong(1) >= hh.last.getLong(1))
    // map-typed columns join fine (a column-hash salt failed analysis here)
    val mapLeft = (1 to 100).map(i => (1, Map("a" -> i))).toDF("k", "m")
    val mapped = Skew.saltedJoin(mapLeft, right, "k", salt = 4)
    assert(mapped.count() == 100)
    // fully-duplicate hot-key rows spread over the salt space instead of
    // collapsing onto one sub-key (the case salting exists for)
    val dupLeft = (1 to 100).map(_ => (1, 42)).toDF("k", "v").repartition(2)
    val spread = dupLeft
      .withColumn("_salt", pmod(monotonically_increasing_id(), lit(4)).cast("int"))
      .select("_salt").distinct().count()
    assert(spread == 4L)
  }

  test("exactNtile matches built-in NTILE without the global window") {
    import org.apache.spark.sql.expressions.Window
    import graft.analytics.Quantiles
    // 103 rows (not divisible by buckets), heavy ties on value
    val df = (1 to 103).map(i => ((i * 37 % 11).toDouble, i.toLong)).toDF("v", "id")
    val expected = df.withColumn("b",
        ntile(10).over(Window.orderBy(col("v"), col("id"))).cast("long"))
      .select("id", "b").as[(Long, Long)].collect().toSeq.sorted
    val got = Quantiles.exactNtile(df, "v", "id", 10, coarseWidth = 3.0, "b")
      .select("id", "b").as[(Long, Long)].collect().toSeq.sorted
    assert(got == expected)
    // N < buckets degenerate case (q = 0): buckets 1..N, one row each
    val tiny = Seq((5.0, 1L), (1.0, 2L), (3.0, 3L)).toDF("v", "id")
    val tinyGot = Quantiles.exactNtile(tiny, "v", "id", 10, 100.0, "b")
      .select("id", "b").as[(Long, Long)].collect().toSeq.sorted
    assert(tinyGot == Seq((1L, 3L), (2L, 1L), (3L, 2L)))
    // NULL values: kept, bucketed first — exactly like built-in NTILE
    val withNulls = ((1 to 40).map(i => (Some((i % 5).toDouble), i.toLong)) ++
      Seq((None, 100L), (None, 101L), (None, 102L))).toDF("v", "id")
    val nExpected = withNulls.withColumn("b",
        ntile(4).over(Window.orderBy(col("v"), col("id"))).cast("long"))
      .select("id", "b").as[(Long, Long)].collect().toSeq.sorted
    val nGot = Quantiles.exactNtile(withNulls, "v", "id", 4, 2.0, "b")
      .select("id", "b").as[(Long, Long)].collect().toSeq.sorted
    assert(nGot == nExpected)
    // scale posture: every window in the plan is keyed — nothing requires
    // "all rows in one partition" (the scalar count's one-row exchange is
    // fine; an unpartitioned WindowExec is not)
    val exec = Quantiles.exactNtile(df, "v", "id", 10, 3.0, "b")
      .queryExecution.executedPlan
    val unkeyed = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unkeyed.isEmpty, exec.toString)
  }

  test("quantileCont matches percentile_cont semantics, ignores NULLs, keyed plan") {
    import graft.analytics.Quantiles
    val rng = new scala.util.Random(42)
    // duplicates (i%97) + nulls, two columns with different domains
    val rows = (1 to 5000).map { i =>
      (if (i % 50 == 0) None else Some((i % 97).toDouble / 3.0),
        Some(rng.nextDouble() * 1e6 - 5e5))
    }
    val df = rows.toDF("a", "b")
    val qs = Seq(0.25, 0.5, 0.75)
    def expected(vs: Seq[Double], q: Double): Double = {
      val s = vs.sorted; val t = q * (s.length - 1)
      val lo = math.floor(t).toInt; val hi = math.ceil(t).toInt
      s(lo) + (t - lo) * (s(hi) - s(lo))
    }
    val got = Quantiles.quantileCont(df, Seq("a", "b"), qs, buckets = 64)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    for (q <- qs) {
      assert(math.abs(got(("a", q)) - expected(rows.flatMap(_._1), q)) < 1e-9)
      assert(math.abs(got(("b", q)) - expected(rows.flatMap(_._2), q)) < 1e-6)
    }
    // scale posture: no unkeyed window anywhere in the plan
    val exec = Quantiles.quantileCont(df, Seq("a", "b"), qs, buckets = 64)
      .queryExecution.executedPlan
    val unkeyed = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unkeyed.isEmpty, exec.toString)
    // all-equal column (zero-width histogram) and single row
    val const = Seq(7.0, 7.0, 7.0).toDF("c")
    assert(Quantiles.quantileCont(const, Seq("c"), Seq(0.5))
      .collect().head.getDouble(2) == 7.0)
    // grouped variant: per-group medians, keyed by the group value
    val grouped = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0), ("b", 20.0), ("b", 30.0))
      .toDF("g", "v")
    val gm = Quantiles.quantileContBy(grouped, "g", "v", Seq(0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(gm == Map("a" -> 2.0, "b" -> 20.0))
  }

  test("quantileCont matches the sorted-array definition on random value sets") {
    import graft.analytics.Quantiles
    val qs = Seq(0.1, 0.25, 0.5, 0.9)
    def ref(vs: Seq[Double], q: Double): Double = {
      val s = vs.sorted; val t = q * (s.length - 1)
      val lo = math.floor(t).toInt; val hi = math.ceil(t).toInt
      s(lo) + (t - lo) * (s(hi) - s(lo))
    }
    // half-unit grid forces heavy ties; sizes hit the hi==lo edge (n=1)
    val genVals = Gen.chooseNum(1, 80).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-60, 60).map(_.toDouble * 0.5)))
    (0 until 8).foreach { i =>
      val vs = genVals.apply(Gen.Parameters.default, Seed(1000L + i)).get
      val got = Quantiles.quantileCont(vs.toDF("x"), Seq("x"), qs, buckets = 16)
        .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
      qs.foreach(q =>
        assert(math.abs(got(q) - ref(vs, q)) < 1e-9, s"seed $i q=$q n=${vs.size}"))
    }
  }

  test("KMV overlap: exact below k, theta estimates above, union identity") {
    import graft.analytics.Sketches
    // exact path: both sides under k -> every estimate is the exact count
    val a = (0 until 30).map(i => i.toLong).toDF("id")
    val b = (20 until 50).map(i => i.toLong).toDF("id")
    val ex = Sketches.kmvOverlap(a, b, "id", k = 64)
      .as[(Double, Double, Double, Double)].collect().head
    assert(ex == ((30.0, 30.0, 10.0, 50.0)))

    // estimate path: 5000 ids vs its 2500-id suffix — intersection truth
    // 2500, union truth 5000; 3-SE tolerance at k=256 (deterministic)
    val big = (0 until 5000).map(_.toLong).toDF("id")
    val half = (2500 until 5000).map(_.toLong).toDF("id")
    val (ea, eb, ei, eu) = Sketches.kmvOverlap(big, half, "id", k = 256)
      .as[(Double, Double, Double, Double)].collect().head
    assert(math.abs(ea - 5000) / 5000.0 < 0.19, s"ea=$ea")
    assert(math.abs(eb - 2500) / 2500.0 < 0.19, s"eb=$eb")
    assert(math.abs(ei - 2500) / 2500.0 < 0.30, s"ei=$ei") // intersection SE is wider
    assert(math.abs(eu - (ea + eb - ei)) < 1e-9) // the identity holds exactly
    // partition invariance: bit-identical estimates
    val again = Sketches.kmvOverlap(big.repartition(9), half.repartition(5),
      "id", k = 256).as[(Double, Double, Double, Double)].collect().head
    assert(again == ((ea, eb, ei, eu)))
  }

  test("MAD outliers: robust to the contamination that drags a z-gate") {
    import graft.profile.Profile
    // 20 inliers around 10 plus two huge outliers: the outliers inflate the
    // mean/stddev enough that a z-gate at 1.5 misses one of them, while
    // median/MAD don't move
    val vals = (0 until 20).map(i => 9.0 + (i % 3)) ++ Seq(1000.0, 1200.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, "g", v) }
      .toDF("id", "grp", "v")
    val mad = Profile.madOutliers(df, "v", "grp", 3.5)
      .select("id").as[Long].collect().toSet
    assert(mad == Set(20L, 21L)) // exactly the planted outliers
    // inliers never flag, even at the extremes of the inlier spread
    assert(!mad.exists(_ < 20L))
    // zero-MAD group (constant values + one outlier would have mad>0; fully
    // constant group has mad=0) yields no rows instead of dividing by zero
    val const = (0 until 9).map(i => (i.toLong, "c", 5.0)).toDF("id", "grp", "v")
    assert(Profile.madOutliers(const, "v", "grp", 1.0).count() == 0)
  }

  test("rolling outliers: spike vs own trailing baseline, min-window gate") {
    import graft.profile.Profile
    // user 1: ten quiet observations, then a spike — only the spike flags,
    // and only once the trailing window holds minN observations
    val vals = Seq(9.0, 10.0, 11.0, 9.0, 10.0, 11.0, 9.0, 10.0, 11.0, 10.0, 100.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, 1L, i.toLong, v) }
      .toDF("event_id", "user_id", "ts", "value")
    val r = Profile.rollingOutliers(df, "value", "user_id", "ts", "event_id")
      .as[(Long, Long, Double, Long, Double)].collect()
    assert(r.map(_._1).toSeq == Seq(10L)) // exactly the spike
    assert(r.head._4 == 10L && r.head._5 > 3.0)
    // with fewer than minN prior observations, nothing can flag
    val short = vals.take(5) :+ 100.0
    val dfs = short.zipWithIndex.map { case (v, i) => (i.toLong, 1L, i.toLong, v) }
      .toDF("event_id", "user_id", "ts", "value")
    assert(Profile.rollingOutliers(dfs, "value", "user_id", "ts", "event_id")
      .count() == 0)
  }

  test("string profile: counts, collation min/max, modal tiebreak") {
    import graft.profile.Profile
    val df = Seq(
      (Option("b"), Option("x")), (Option("a"), Option("x")),
      (Option("a"), Option.empty[String]), (Option.empty[String], Option("y")),
      (Option("c"), Option("y"))
    ).toDF("l", "s")
    val r = Profile.summarizeStrings(df, Seq("l", "s"))
      .as[(String, Long, Long, Long, String, String, String, Long)]
      .collect().sortBy(_._1)
    // l: a,a,b,c + 1 null → modal a (count 2)
    assert(r(0) == (("l", 4L, 1L, 3L, "a", "c", "a", 2L)))
    // s: x,x,y,y + 1 null → 2–2 tie broken toward the LARGER value
    assert(r(1) == (("s", 4L, 1L, 2L, "x", "y", "y", 2L)))
  }

  test("winsorized mean: clamps tails, hand-computed band and mean") {
    import graft.profile.Profile
    // n=5: quantile_cont ranks 0.05·4 = 0.2 and 0.95·4 = 3.8 →
    // lo = 0 + 0.2·(1−0) = 0.2, hi = 3 + 0.8·(100−3) = 80.6;
    // clamped sum = 0.2 + 1 + 2 + 3 + 80.6 = 86.8 → mean 17.36
    val df = Seq(0.0, 1.0, 2.0, 3.0, 100.0).map(("a", _)).toDF("grp", "v")
    val r = Profile.winsorizedMean(df, "v", "grp")
      .as[(String, Long, Double, Double, Double)].collect().head
    assert(r == (("a", 5L, 0.2, 80.6, 17.36)))
    // a spread with no tail: clamping is the identity, mean unchanged
    val flat = Seq.tabulate(11)(i => ("b", i.toDouble)).toDF("grp", "v")
    val rf = Profile.winsorizedMean(flat, "v", "grp")
      .as[(String, Long, Double, Double, Double)].collect().head
    assert(rf._2 == 11L && rf._5 == 5.0)
  }

  test("PSI drift: zero on identical, positive on shifted, bounded and partition-invariant") {
    import graft.profile.Psi
    val base = (0 until 1000).map(i => (i.toLong, (i % 100).toDouble)).toDF("id", "v")
    // identical distribution → every per-bin term is 0 → psi exactly 0
    val same = Psi.psi(base, base, col("v"), 0.0, 100.0, 10)
      .as[(Double, Long, Long)].collect().head
    assert(same == ((0.0, 1000L, 1000L)))
    // shifted distribution → strictly positive
    val shifted = base.select(col("id"), (col("v") + 50.0).as("v"))
    val drift = Psi.psi(base, shifted, col("v"), 0.0, 100.0, 10)
      .as[(Double, Long, Long)].collect().head
    assert(drift._1 > 0.1, s"psi=${drift._1}")
    // out-of-range values clamp into the edge bins instead of vanishing
    assert(drift._2 == 1000L && drift._3 == 1000L)
    // binned counts: exactly nBins rows, zero-filled where empty
    val bins = Psi.binnedCounts(base.where(col("v") < 10.0), col("v"), 0.0, 100.0, 10)
      .as[(Long, Long)].collect().toMap
    assert(bins.size == 10 && bins(0L) == 100L && (1L to 9L).forall(bins(_) == 0L))
    // partition invariance: integer-summed micro-terms, bit-identical
    val again = Psi.psi(base.repartition(7), shifted.repartition(3),
      col("v"), 0.0, 100.0, 10).as[(Double, Long, Long)].collect().head
    assert(again == drift)
    // NULL values are excluded EXPLICITLY: n_base/n_cur count non-null
    // values (not rows), and psi over padded-with-nulls inputs is
    // bit-identical to psi over the clean inputs
    val baseN = base.unionByName((0 until 50).map(i => (9000L + i,
      Option.empty[Double])).toDF("id", "v"))
    val withNulls = Psi.psi(baseN, shifted, col("v"), 0.0, 100.0, 10)
      .as[(Double, Long, Long)].collect().head
    assert(withNulls == drift, "nulls must not shift totals or terms")
  }

  test("KMV distinct sketch: exact below k, accurate above, partition-invariant") {
    import graft.analytics.Sketches
    // exact path: 40 distinct ids < k=64 -> the sketch IS the set
    val small = (0 until 200).map(i => ("a", (i % 40).toLong)).toDF("g", "id")
    val exactRes = Sketches.kmvDistinctBy(small, "g", "id", k = 64)
      .as[(String, Double)].collect().toMap
    assert(exactRes("a") == 40.0)

    // estimate path: 5000 distinct ids, k=256 -> SE ~ 1/sqrt(254) ~ 6.3%;
    // assert within 3 SE (deterministic, so this either always passes or
    // never does — no flake)
    val big = (0 until 5000).map(i => ("b", i.toLong)).toDF("g", "id")
    val est = Sketches.kmvDistinctBy(big, "g", "id", k = 256)
      .as[(String, Double)].collect().toMap.apply("b")
    assert(math.abs(est - 5000.0) / 5000.0 < 0.19, s"est=$est")

    // merge path: the estimate is BIT-identical however the input is
    // partitioned (k-minima union is order-free)
    val est7 = Sketches.kmvDistinctBy(big.repartition(7), "g", "id", k = 256)
      .as[(String, Double)].collect().toMap.apply("b")
    assert(est7 == est)

    // nulls are ignored; a group of only nulls reports 0
    val withNulls = Seq(("c", Some(1L)), ("c", None), ("d", None))
      .toDF("g", "id")
    val nres = Sketches.kmvDistinctBy(withNulls, "g", "id", k = 8)
      .as[(String, Double)].collect().toMap
    assert(nres == Map("c" -> 1.0, "d" -> 0.0))
  }

  test("Count-Min sketch: conservative estimates, bounded size, mergeable, partition-invariant") {
    import graft.analytics.Sketches
    // skewed keys: key 0 is hot (500), keys 1..99 carry 10 each
    val rows = (0 until 500).map(_ => 0L) ++
      (1 until 100).flatMap(k => Seq.fill(10)(k.toLong))
    val df = rows.toDF("key")
    val sketch = Sketches.cmSketch(df, col("key"), depth = 4, width = 256)
    // bounded: at most depth x width rows regardless of cardinality, and
    // total mass per depth row equals the input size
    val skRows = sketch.collect()
    assert(skRows.length <= 4 * 256)
    assert(skRows.filter(_.getInt(0) == 0).map(_.getLong(2)).sum == rows.size)
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val keys = truth.keys.toSeq.toDF("key")
    val est = Sketches.cmEstimate(sketch, keys, "key", depth = 4, width = 256)
      .as[(Long, Long)].collect().toMap
    // conservative on EVERY key, exact on the hot one (collisions can only
    // inflate), and tight at this load factor (100 keys into 256 buckets)
    truth.foreach { case (k, n) =>
      assert(est(k) >= n, s"key $k: est ${est(k)} < true $n")
    }
    assert(est(0L) >= 500L && est(0L) <= 520L)
    // partition-invariant (integer sums) and mergeable: the sketch of the
    // whole equals the re-summed union of the halves' sketches
    val sk7 = Sketches.cmSketch(df.repartition(7), col("key"),
      depth = 4, width = 256).as[(Int, Long, Long)].collect().toSet
    assert(sk7 == skRows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet)
    val half1 = Sketches.cmSketch(rows.take(700).toDF("key"), col("key"),
      depth = 4, width = 256)
    val half2 = Sketches.cmSketch(rows.drop(700).toDF("key"), col("key"),
      depth = 4, width = 256)
    val merged = half1.unionByName(half2).groupBy("j", "bucket")
      .agg(sum("cnt").as("cnt")).as[(Int, Long, Long)].collect().toSet
    assert(merged == sk7)
    // a key the sketch never saw estimates 0 via the absent-bucket path
    // (unless it collides — pick one that doesn't at this width)
    val unseen = Sketches.cmEstimate(sketch, Seq(100000L).toDF("key"), "key",
      depth = 4, width = 256).as[(Long, Long)].collect().head._2
    assert(unseen >= 0L)

    // typed handle: carries (depth,width,seed) with the relation, so a
    // probe can't silently mismatch the draw; estimates equal the raw API's
    val h1 = Sketches.buildCmSketch(rows.take(700).toDF("key"), col("key"),
      depth = 4, width = 256)
    val h2 = Sketches.buildCmSketch(rows.drop(700).toDF("key"), col("key"),
      depth = 4, width = 256)
    val hEst = h1.merge(h2).estimate(keys, "key")
      .as[(Long, Long)].collect().toMap
    assert(hEst == est)
    // config mismatch is unrepresentable as a silent wrong answer: merging
    // sketches built under different shapes/seeds throws
    val other = Sketches.buildCmSketch(df, col("key"), depth = 4, width = 128)
    intercept[IllegalArgumentException] { h1.merge(other) }
    val otherSeed = Sketches.buildCmSketch(df, col("key"), depth = 4,
      width = 256, seed = 7L)
    intercept[IllegalArgumentException] { h1.merge(otherSeed) }
  }

  test("streaming Count-Min: config-bounded sketch state over an unbounded key stream") {
    // the sketch aggregate runs unchanged as streaming state: at most
    // depth x width rows no matter how many distinct keys arrive — the
    // bounded-memory heavy-hitter monitor for continuous ingest
    implicit val sqlCtx = spark.sqlContext
    import graft.analytics.Sketches
    val input = MemoryStream[Long]
    val q = Sketches.cmSketch(input.toDF().toDF("key"), col("key"),
        depth = 4, width = 64)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    try {
      input.addData((0 until 300).map(_ => 7L) ++ (0 until 500).map(_.toLong): _*)
      q.processAllAvailable()
      def snapshot = spark.table("cms_stream")
      assert(snapshot.count() <= 4 * 64)
      def estOf(key: Long): Long =
        Sketches.cmEstimate(snapshot, Seq(key).toDF("key"), "key",
          depth = 4, width = 64).as[(Long, Long)].collect().head._2
      val e1 = estOf(7L)
      assert(e1 >= 301L, s"hot-key estimate $e1 under true count") // 300 + key 7 itself
      // more arrivals only grow the estimate (counters are monotone)
      input.addData((0 until 100).map(_ => 7L): _*)
      q.processAllAvailable()
      val e2 = estOf(7L)
      assert(e2 >= e1 + 100L && snapshot.count() <= 4 * 64)
    } finally q.stop()
  }

  test("fixed-width histogram buckets match a hand count") {
    import graft.profile.Profile
    // values 0..99: 10 buckets of width 9.9 — value 99 lands in the closed
    // last bucket; bucket b = min(floor(v/9.9), 9)
    val df = (0 until 100).map(_.toDouble).toDF("v")
    val got = Profile.histogram(df, "v", buckets = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (0 until 100).groupBy(v =>
      math.min(math.floor(v / 9.9).toLong, 9L)).map { case (b, vs) => b -> vs.size.toLong }
    assert(got == expected)
  }

  test("exact summarize matches quantile_cont on ties and handles all-null columns") {
    import graft.profile.Profile
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, null), (1.0, null), (2.0, null), (10.0, null))
      .toDF("v", "allnull")
    val out = Profile.summarize(df, Seq("v", "allnull"), exact = true)
      .collect().map(r => r.getString(0) -> r).toMap
    val v = out("v")
    // quantile_cont over [1,1,2,10]: q25 = 1, q50 = 1.5, q75 = 4
    assert(v.getDouble(v.fieldIndex("q25")) == 1.0)
    assert(v.getDouble(v.fieldIndex("q50")) == 1.5)
    assert(v.getDouble(v.fieldIndex("q75")) == 4.0)
    assert(v.getLong(v.fieldIndex("n_distinct")) == 3L)
    val an = out("allnull")
    assert(an.isNullAt(an.fieldIndex("q50")) && an.getLong(an.fieldIndex("n_distinct")) == 0L)
    assert(an.getLong(an.fieldIndex("null_cnt")) == 4L)
    // empty input: one all-default row per requested column, no exception
    val empty = Profile.summarize(df.where(lit(false)), Seq("v"), exact = true).collect()
    assert(empty.length == 1 && empty(0).getString(0) == "v" &&
      empty(0).getLong(empty(0).fieldIndex("col_cnt")) == 0L &&
      empty(0).isNullAt(empty(0).fieldIndex("col_min")))
  }

  test("approx summarize (the at-scale default): schema, exact fields, sketch tolerance") {
    import graft.profile.Profile
    // summarize's DEFAULT is the one-scan approx path (HLL distinct +
    // percentile_approx) — pin its contract: same output schema as exact
    // mode, count/null%/min/max/avg EXACT (they are plain aggregates in
    // both modes), quantiles and n_distinct within sketch tolerance.
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, null), (1.0, null), (2.0, null), (10.0, null))
      .toDF("v", "allnull")
    val approx = Profile.summarize(df, Seq("v", "allnull")) // exact=false
    val exact = Profile.summarize(df, Seq("v", "allnull"), exact = true)
    assert(approx.schema.map(f => (f.name, f.dataType)) ==
      exact.schema.map(f => (f.name, f.dataType)))
    val out = approx.collect().map(r => r.getString(0) -> r).toMap
    val v = out("v")
    assert(v.getDouble(v.fieldIndex("col_min")) == 1.0)
    assert(v.getDouble(v.fieldIndex("col_max")) == 10.0)
    assert(v.getDouble(v.fieldIndex("col_avg")) == 3.5)
    assert(v.getLong(v.fieldIndex("col_cnt")) == 4L)
    assert(v.getLong(v.fieldIndex("null_cnt")) == 0L)
    // HLL ±5% at this cardinality is exact in practice; allow ±1
    assert(math.abs(v.getLong(v.fieldIndex("n_distinct")) - 3L) <= 1L)
    // percentile_approx picks OBSERVED values (no interpolation): each
    // quartile must be a member of the column, in quartile order
    val qs = Seq("q25", "q50", "q75").map(q => v.getDouble(v.fieldIndex(q)))
    assert(qs.forall(Set(1.0, 2.0, 10.0)) && qs == qs.sorted)
    // all-null column: null quantiles, zero distinct, full null count
    val an = out("allnull")
    assert(an.isNullAt(an.fieldIndex("q50")) &&
      an.getLong(an.fieldIndex("n_distinct")) == 0L &&
      an.getLong(an.fieldIndex("null_cnt")) == 4L)
    // empty relation: one all-default row per requested column
    val empty = Profile.summarize(df.where(lit(false)), Seq("v")).collect()
    assert(empty.length == 1 && empty(0).getString(0) == "v" &&
      empty(0).getLong(empty(0).fieldIndex("col_cnt")) == 0L &&
      empty(0).isNullAt(empty(0).fieldIndex("col_min")))
  }

  test("exact summarize beyond HitValueCap: distributed ranking path, same arithmetic") {
    import graft.profile.Profile
    // 300001 distinct values packed into ONE 1/16-binade bit-bucket
    // (1e9 + k all share the top 16 sortable bits), so hit-bucket nd >
    // HitValueCap (2^18) and the keyed-window ranking runs instead of the
    // driver-values terminal. The uniform grid makes every quartile exact:
    // t = q·(n−1) is an integer, value = 1e9 + t.
    val n = 300001
    val df = spark.range(n).select((lit(1e9) + col("id").cast("double")).as("v"))
    val r = Profile.summarize(df, Seq("v"), exact = true).collect().head
    assert(r.getDouble(r.fieldIndex("q25")) == 1e9 + 75000.0)
    assert(r.getDouble(r.fieldIndex("q50")) == 1e9 + 150000.0)
    assert(r.getDouble(r.fieldIndex("q75")) == 1e9 + 225000.0)
    assert(r.getDouble(r.fieldIndex("col_min")) == 1e9 &&
      r.getDouble(r.fieldIndex("col_max")) == 1e9 + 300000.0)
    assert(r.getLong(r.fieldIndex("n_distinct")) == n.toLong &&
      r.getLong(r.fieldIndex("col_cnt")) == n.toLong)
  }

  test("bounds generate the Prometheus alert-rules artifact") {
    import graft.core.FieldBounds
    import graft.stream.DqRules
    val bounds = Seq(
      "probability" -> FieldBounds(Some(0.0), Some(1.0)),
      "salary" -> FieldBounds(None, Some(9.0)),
      "note" -> FieldBounds(None, None)) // unbounded: no alert rule
    val yml = DqRules.alertRulesYaml("AgrawalRequest", bounds)
    assert(yml ==
      """groups:
        |- name: agrawalrequest
        |  rules:
        |  - alert: AgrawalRequest_probability
        |    expr: increase(graft_validation_checks_total{loc="probability"}[1m]) > 0
        |    for: 0m
        |    labels:
        |      severity: warning
        |    annotations:
        |      summary: DQ Violation probability
        |      description: Data quality rule violation for probability
        |  - alert: AgrawalRequest_salary
        |    expr: increase(graft_validation_checks_total{loc="salary"}[1m]) > 0
        |    for: 0m
        |    labels:
        |      severity: warning
        |    annotations:
        |      summary: DQ Violation salary
        |      description: Data quality rule violation for salary
        |""".stripMargin)
    // closes the loop from a real profile, and round-trips through disk
    val prof = graft.profile.Profile.summarize(
      (1 to 50).map(i => 50.0 + (i % 10)).toDF("salary"), Seq("salary"), exact = true)
    val (profBounds, _) = graft.profile.Profile.toBounds(prof)
    val path = tmpDir("dqrules") + "/data_quality_rules.yml"
    DqRules.save(spark, path, "Salaries", profBounds.toSeq)
    val onDisk = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    assert(onDisk.contains("Salaries_salary") &&
      onDisk.contains("""loc="salary"""") && onDisk.startsWith("groups:"))
  }

  test("DQ closed loop: profile -> bounds -> validation -> alert counts") {
    import graft.core.Validation
    import graft.profile.Profile
    // 1. profile the "good" corpus
    val good = (1 to 100).map(i => 50.0 + (i % 10)).toDF("salary")
    val (bounds, required) = Profile.toBounds(Profile.summarize(good, Seq("salary"), exact = true))
    assert(required == Seq("salary"))
    // 2. generated bounds become validation rules on the next batch
    val rules = Validation.boundsRules(bounds) ++
      required.map(f => Validation.Rule(f, "missing", col(f).isNull))
    val next = Seq(Some(55.0), Some(200.0), None, Some(51.0)).toDF("salary")
      .withColumn("ts", expr("timestamp'2024-01-01 00:00:30'"))
    val (valid, invalid) = Validation.split(next, rules)
    assert(valid.count() == 2 && invalid.count() == 2)
    // 3. violations feed the windowed alert stream (batch analog here)
    val viol = invalid.select(col("ts"), explode(col("_violations")).as("v"))
      .select(col("ts"), col("v.loc"), col("v.type"))
    val alerts = graft.stream.DqAlerts.alertCounts(viol)
      .select("loc", "type", "n").as[(String, String, Long)].collect().toSet
    assert(alerts == Set(("salary", "range", 1L), ("salary", "missing", 1L)))
  }

  private val fieldName = Gen.choose(1, 3).flatMap(n =>
    Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  test("property: flatten paths are unique, ordered, and lossless") {
    import org.apache.spark.sql.types._
    val leaf: Gen[DataType] = Gen.oneOf(LongType, StringType, DoubleType)
    def genType(depth: Int): Gen[DataType] =
      if (depth == 0) leaf
      else Gen.frequency(
        3 -> leaf,
        2 -> Gen.lzy(genStruct(depth - 1)),
        1 -> Gen.lzy(genType(depth - 1).map(ArrayType(_))))
    def genStruct(depth: Int): Gen[StructType] =
      Gen.choose(1, 4).flatMap { n =>
        Gen.listOfN(n, fieldName).flatMap { names =>
          Gen.sequence[List[DataType], DataType](
            names.indices.map(_ => genType(depth)).toList).map { types =>
            StructType(names.distinct.zip(types).map { case (nm, t) => StructField(nm, t) })
          }
        }
      }
    // raw ScalaCheck sampling (no scalatest bridge in the offline cache)
    val schemas = (0 until 50).flatMap(i =>
      genStruct(3).apply(Gen.Parameters.default, Seed(i.toLong)))
    assert(schemas.size >= 40)
    schemas.foreach { schema =>
      val paths = graft.etl.Flatten.columnPaths(schema)
      assert(paths.distinct == paths)          // unique
      // stable: recomputing yields the same ordered list
      assert(graft.etl.Flatten.columnPaths(schema) == paths)
      // append-only under extension: adding a field only appends or inserts
      // *new* names; existing relative order is preserved
      val extended = StructType(schema.fields :+ StructField("zzz_new", LongType))
      val extPaths = graft.etl.Flatten.columnPaths(extended)
      assert(extPaths.filter(paths.contains) == paths)
      // migration accepts the extension and keeps the stored prefix
      val evolved = graft.etl.Migrate.evolve(paths, extended)
      assert(evolved.take(paths.size) == paths)
    }
  }
}
