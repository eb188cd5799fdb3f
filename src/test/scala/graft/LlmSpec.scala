package graft

import graft.llm.{Dedup, Multimodal, Similarity, TextStats}
import org.apache.spark.sql.functions._

class LlmSpec extends SparkSpec {
  import spark.implicits._

  // Shared prefix (the ngram blocker keys on the first 40 chars); the
  // near-dup differs in a single tail token, so shingle jaccard ≈ 0.87 and
  // every LSH configuration in use collides with probability ≈ 1.
  private val prefix = (1 to 60).map("w" + _).mkString(" ")
  private val base = prefix + " t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
  private val nearDup = prefix + " t1 t2 t3 zz t5 t6 t7 t8 t9 t10"
  private lazy val docs = Seq(
    (1L, base), (2L, base), (3L, nearDup),
    (4L, "completely different words entirely another planet qq rr ss tt uu vv " * 5)
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val groups = Dedup.exact(docs).orderBy("keep_id")
      .as[(Long, Long)].collect().toSeq
    assert(groups == Seq((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("paragraph dedup drops repeats corpus-wide, keeps first occurrence") {
    import graft.llm.Dedup
    // 2-word paragraphs; "x y" is boilerplate shared by all three docs
    val docs = Seq(
      (1L, "x y a b"),        // first occurrence of "x y" and "a b"
      (2L, "c d x y"),        // repeats "x y" → keeps only "c d"
      (3L, "x y x y"))        // BOTH paragraphs are repeats → doc vanishes
      .toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, words = 2)
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "x y a b", 2L -> "c d"))
    // intra-doc repeat: the SAME doc repeating a paragraph keeps only the
    // first copy, and reassembly preserves paragraph order
    val intra = Seq((7L, "p q p q r s")).toDF("doc_id", "text")
    assert(Dedup.dedupParagraphs(intra, words = 2)
      .as[(Long, String)].collect().toMap == Map(7L -> "p q r s"))
    // short tail window survives as its own paragraph
    val tail = Seq((9L, "u v w")).toDF("doc_id", "text")
    assert(Dedup.dedupParagraphs(tail, words = 2)
      .as[(Long, String)].collect().toMap == Map(9L -> "u v w"))
  }

  test("duplicated spans: copied passage caught at any alignment") {
    val passage = (1 to 10).map("p" + _).mkString(" ")
    val docs = Seq(
      // the 10-token passage is embedded at DIFFERENT offsets inside
      // otherwise-unrelated docs — doc-level similarity would miss it
      (1L, "a1 a2 a3 " + passage + " a4 a5"),
      (2L, passage + " b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"),
      (3L, (1 to 20).map("c" + _).mkString(" ")), // unique → unflagged
      (4L, "d1 " + passage + " d2 " + passage))   // intra-doc repeat
      .toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, k = 10)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out.keySet == Set(1L, 2L, 4L))
    assert(out(1L) == ((1L, 4L)))  // one dup window, starts at token 4
    assert(out(2L) == ((1L, 1L)))
    // doc 4 holds the passage twice: both occurrences are dup windows
    assert(out(4L)._1 == 2L && out(4L)._2 == 2L)
    // docs shorter than k compare as whole-doc windows
    val shorts = Seq((7L, "x y z"), (8L, "x y z"), (9L, "q r s"))
      .toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(shorts, k = 10)
      .select("doc_id").as[Long].collect().toSet == Set(7L, 8L))
  }

  test("signature store: incremental ingest resolves across batches, kept set matches one-shot") {
    import graft.llm.SignatureStore
    val A = "alpha beta gamma delta epsilon zeta eta theta"
    val B = "one two three four five six seven eight nine"
    val C = "red orange yellow green blue indigo violet ultraviolet"
    val store = tmpDir("sigstore")
    // batch 1: 12 duplicates 10; 14 unique
    val r1 = SignatureStore.build(spark, store,
      Seq((10L, A), (12L, A), (14L, B)).toDF("doc_id", "text"))
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r1 == Map(10L -> (10L, false), 12L -> (10L, true), 14L -> (14L, false)))
    // batch 2: 21 matches batch-1 docs (incl. the DROPPED 12 → still
    // resolves to keeper 10); 25 matches 14; 23/27 are an intra-batch pair
    val r2 = SignatureStore.ingest(spark, store,
      Seq((21L, A), (23L, C), (25L, B), (27L, C)).toDF("doc_id", "text"))
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r2 == Map(21L -> (10L, true), 23L -> (23L, false),
      25L -> (14L, true), 27L -> (23L, true)))
    // kept set across both ingests == one-shot component keepers
    assert((r1 ++ r2).collect { case (id, (_, false)) => id }.toSet == Set(10L, 14L, 23L))
    // a third batch matching only batch-2 members still lands on the
    // original keeper through the stored canonicals
    val r3 = SignatureStore.ingest(spark, store,
      Seq((31L, A)).toDF("doc_id", "text"))
      .as[(Long, Long, Boolean)].collect()
    assert(r3.toSeq == Seq((31L, 10L, true)))
    // probe is read-only: same result twice, store row count unchanged
    val before = SignatureStore.sigs(spark, store).count()
    val p1 = SignatureStore.probe(spark, store,
      Seq((99L, B)).toDF("doc_id", "text")).collect().toSeq
    val p2 = SignatureStore.probe(spark, store,
      Seq((99L, B)).toDF("doc_id", "text")).collect().toSeq
    assert(p1 == p2 && p1.head.getLong(1) == 14L)
    assert(SignatureStore.sigs(spark, store).count() == before)
  }

  test("signature store: streaming ingest matches sequential batch ingest and replays idempotently") {
    import graft.llm.SignatureStore
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val A = "alpha beta gamma delta epsilon zeta eta theta"
    val B = "one two three four five six seven eight nine"
    val b1 = Seq((10L, A), (12L, A), (14L, B))
    val b2 = Seq((21L, A), (25L, B))
    // reference: sequential batch-mode ingests
    val ref = tmpDir("seqstore")
    SignatureStore.build(spark, ref, b1.toDF("doc_id", "text"))
    SignatureStore.ingest(spark, ref, b2.toDF("doc_id", "text"))
    val want = SignatureStore.sigs(spark, ref)
      .select("id", "canonical").as[(Long, Long)].collect().toSet
    // streaming: same two batches through foreachBatch
    val sPath = tmpDir("streamstore") + "/store"
    val in = MemoryStream[(Long, String)]
    val q = SignatureStore
      .ingestStream(sPath, in.toDF().toDF("doc_id", "text"))
      .option("checkpointLocation", tmpDir("streamckpt"))
      .start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = SignatureStore.sigs(spark, sPath)
      .select("id", "canonical").as[(Long, Long)].collect().toSet
    assert(got == want, s"streaming store $got != sequential $want")
    // verdicts artifact exists per batch
    val v1 = spark.read.parquet(s"$sPath/verdicts/b1")
      .select("id", "canonical").as[(Long, Long)].collect().toSet
    assert(v1 == Set((21L, 10L), (25L, 14L)))
    // replaying a batch id overwrites its subdir instead of double-appending,
    // and the replayed batch does not match its own prior attempt
    val before = SignatureStore.sigs(spark, sPath).count()
    val r = SignatureStore.ingest(spark, sPath, b2.toDF("doc_id", "text"),
      batchId = Some(1L))
    assert(SignatureStore.sigs(spark, sPath).count() == before)
    assert(r.select("id", "canonical").as[(Long, Long)].collect().toSet ==
      Set((21L, 10L), (25L, 14L)))
  }

  test("signature store: streaming crash-replay converges to the clean-run store (RocksDB)") {
    import graft.llm.SignatureStore
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val A = "alpha beta gamma delta epsilon zeta eta theta"
    val B = "one two three four five six seven eight nine"
    val b0 = Seq((10L, A), (12L, A), (14L, B))
    val b1 = Seq((21L, A), (25L, B))
    // clean reference: the same two batches with no interruption
    val ref = tmpDir("crashref") + "/store"
    val wantV0 = SignatureStore.ingest(spark, ref, b0.toDF("doc_id", "text"),
      batchId = Some(0L)).select("id", "canonical").as[(Long, Long)].collect().toSet
    val wantV1 = SignatureStore.ingest(spark, ref, b1.toDF("doc_id", "text"),
      batchId = Some(1L)).select("id", "canonical").as[(Long, Long)].collect().toSet
    val want = SignatureStore.sigs(spark, ref)
      .select("id", "canonical").as[(Long, Long)].collect().toSet

    val srcDir = tmpDir("crashsrc")
    val ckpt = tmpDir("crashckpt")
    val store = tmpDir("crashstore") + "/store"
    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    def writeBatch(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
    def startQ() = SignatureStore
      .ingestStream(store, spark.readStream.schema(schema).parquet(srcDir))
      .option("checkpointLocation", ckpt).start()
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // run 1 processes batch 0 fully, then we rewind to mid-crash state:
      // the WAL commit marker is gone (batch 0 will replay) and only the
      // sigs write survived — buckets/ and counts/ never happened
      writeBatch(b0)
      val q1 = startQ()
      try q1.processAllAvailable() finally q1.stop()
      def rm(f: java.io.File): Unit = {
        import scala.reflect.io.Directory
        if (f.isDirectory) { new Directory(f).deleteRecursively(); () }
        else { java.nio.file.Files.deleteIfExists(f.toPath); () }
      }
      rm(new java.io.File(ckpt, "commits/0"))
      rm(new java.io.File(ckpt, "commits/.0.crc")) // checksum shadow, else
      // the local fs fails the replayed commit's atomic rename
      rm(new java.io.File(store, "buckets"))
      rm(new java.io.File(store, "counts"))
      assert(!new java.io.File(ckpt, "commits/0").exists)
      // restart from the checkpoint: batch 0 re-executes against its own
      // half-write (must not wedge, must not self-match), then batch 1
      writeBatch(b1)
      val q2 = startQ()
      try q2.processAllAvailable() finally q2.stop()
    } finally prevProvider match {
      case Some(p) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
    assert(SignatureStore.sigs(spark, store)
      .select("id", "canonical").as[(Long, Long)].collect().toSet == want)
    assert(spark.read.parquet(store + "/verdicts/b0")
      .select("id", "canonical").as[(Long, Long)].collect().toSet == wantV0)
    assert(spark.read.parquet(store + "/verdicts/b1")
      .select("id", "canonical").as[(Long, Long)].collect().toSet == wantV1)
    assert(SignatureStore.bucketCounts(spark, store).count() ==
      SignatureStore.bucketCounts(spark, ref).count())
  }

  test("signature store: a half-written first batch self-heals on replay") {
    import graft.llm.SignatureStore
    val A = "alpha beta gamma delta epsilon zeta eta theta"
    val B = "one two three four five six seven eight nine"
    val b0 = Seq((10L, A), (12L, A), (14L, B)).toDF("doc_id", "text")
    // clean run: batch 0 straight through
    val clean = tmpDir("cleanstore") + "/store"
    val wantV = SignatureStore.ingest(spark, clean, b0, batchId = Some(0L))
      .select("id", "canonical").as[(Long, Long)].collect().toSet
    val wantS = SignatureStore.sigs(spark, clean)
      .select("id", "canonical").as[(Long, Long)].collect().toSet
    // wedge run: batch 0 "crashes" after the sigs write — buckets/ and
    // counts/ never come into existence
    val wedged = tmpDir("wedgestore") + "/store"
    SignatureStore.ingest(spark, wedged, b0, batchId = Some(0L))
    def rm(sub: String): Unit = {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(wedged, sub)).deleteRecursively(); ()
    }
    rm("buckets"); rm("counts")
    // an uncommitted store matches nothing (and does not throw)
    assert(SignatureStore.probe(spark, wedged,
      Seq((99L, A)).toDF("doc_id", "text")).collect().isEmpty)
    // replaying batch 0 must not wedge on the missing relations, must not
    // match its own prior half-write, and must leave the clean-run store
    val gotV = SignatureStore.ingest(spark, wedged, b0, batchId = Some(0L))
      .select("id", "canonical").as[(Long, Long)].collect().toSet
    assert(gotV == wantV)
    assert(SignatureStore.sigs(spark, wedged)
      .select("id", "canonical").as[(Long, Long)].collect().toSet == wantS)
    assert(SignatureStore.bucketCounts(spark, wedged).count() ==
      SignatureStore.bucketCounts(spark, clean).count())
    // a LATER batch crashing just before its counts write (sigs + buckets
    // of b1 on disk, counts/b1 missing) also replays to the clean result
    val b1 = Seq((21L, A), (25L, B)).toDF("doc_id", "text")
    val wantV1 = SignatureStore.ingest(spark, clean, b1, batchId = Some(1L))
      .select("id", "canonical").as[(Long, Long)].collect().toSet
    SignatureStore.ingest(spark, wedged, b1, batchId = Some(1L))
    rm("counts/b1")
    val gotV1 = SignatureStore.ingest(spark, wedged, b1, batchId = Some(1L))
      .select("id", "canonical").as[(Long, Long)].collect().toSet
    assert(gotV1 == wantV1 && gotV1 == Set((21L, 10L), (25L, 14L)))
    assert(SignatureStore.sigs(spark, wedged)
      .select("id", "canonical").as[(Long, Long)].collect().toSet ==
      SignatureStore.sigs(spark, clean)
        .select("id", "canonical").as[(Long, Long)].collect().toSet)
  }

  test("signature store: compaction closes transitive chains split across batches") {
    import graft.llm.SignatureStore
    // token-level shingles so jaccard is exact over word sets: C shares 7
    // of its 14 words with A and the other 7 with B (J ≈ 0.47 each) while
    // A and B share nothing. 16 one-row bands make a band collision at
    // J ≈ 0.47 effectively certain (each agreeing signature position IS a
    // colliding band), so the test never depends on a lucky 2-row band.
    val cfg = SignatureStore.Config(shingleLen = 1, bands = 16,
      rowsPerBand = 1, threshold = 0.3)
    val tA = (1 to 8).map("p" + _).mkString(" ")
    val tB = (1 to 8).map("q" + _).mkString(" ")
    val tC = ((1 to 7).map("p" + _) ++ (1 to 7).map("q" + _)).mkString(" ")
    val store = tmpDir("compactstore") + "/store"
    val r1 = SignatureStore.build(spark, store,
      Seq((10L, tA)).toDF("doc_id", "text"), cfg = cfg)
    assert(r1.select("canonical").as[Long].collect().toSeq == Seq(10L))
    // batch 2: B matches nothing stored → its own keeper; 40 is unique
    val r2 = SignatureStore.ingest(spark, store,
      Seq((20L, tB), (40L, "unrelated words entirely separate domain"))
        .toDF("doc_id", "text"), cfg = cfg)
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> t._2).toMap
    assert(r2 == Map(20L -> 20L, 40L -> 40L))
    // batch 3: C matches BOTH → resolves to min keeper 10, but B's stored
    // canonical stays 20 — the documented batch-local gap
    val r3 = SignatureStore.ingest(spark, store,
      Seq((30L, tC)).toDF("doc_id", "text"), cfg = cfg)
      .as[(Long, Long, Boolean)].collect()
    assert(r3.toSeq == Seq((30L, 10L, true)))
    val before = SignatureStore.sigs(spark, store)
      .select("id", "canonical").as[(Long, Long)].collect().toMap
    assert(before == Map(10L -> 10L, 20L -> 20L, 30L -> 10L, 40L -> 40L))
    // offline compaction re-canonicalizes the chain to ONE keeper and
    // leaves the unique doc alone
    SignatureStore.compact(spark, store, cfg)
    val after = SignatureStore.sigs(spark, store)
      .select("id", "canonical").as[(Long, Long)].collect().toMap
    assert(after == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 40L))
    // compaction is idempotent and preserves row count + batch tags
    SignatureStore.compact(spark, store, cfg)
    assert(SignatureStore.sigs(spark, store)
      .select("id", "canonical").as[(Long, Long)].collect().toMap == after)
    assert(SignatureStore.sigs(spark, store).columns.toSet ==
      Set("id", "sig", "canonical", "_b"))
    // a post-compaction ingest matching the ex-keeper B now resolves to 10
    val r4 = SignatureStore.ingest(spark, store,
      Seq((50L, tB)).toDF("doc_id", "text"), cfg = cfg)
      .as[(Long, Long, Boolean)].collect()
    assert(r4.toSeq == Seq((50L, 10L, true)))
  }

  test("signature store: hot buckets fall back to exact-signature matching") {
    import graft.llm.SignatureStore
    val boiler = (1 to 40).map(i => "boil" + i).mkString(" ")
    // 100 exact near-copies → every band bucket of `boiler` exceeds
    // maxBucket = 5; plus one cold unique doc
    val history = ((0 until 100).map(i => (i.toLong, boiler)) :+
      (500L, "totally different content nothing shared here at all ok")).toDF("doc_id", "text")
    val store = tmpDir("hotstore")
    val cfgHot = SignatureStore.Config(maxBucket = 5)
    SignatureStore.build(spark, store, history, cfg = cfgHot)
    // an exact copy of the boilerplate matches THROUGH the hot buckets
    // (skey equality) and resolves to the canonical keeper 0
    val exactHit = SignatureStore.probe(spark, store,
      Seq((900L, boiler)).toDF("doc_id", "text"), cfg = cfgHot).collect()
    assert(exactHit.length == 1 && exactHit.head.getLong(1) == 0L)
    // a NEAR-dup (different signature) is the traded recall: its agreeing
    // bands are exactly the hot buckets (excluded), its disagreeing bands
    // have no store occupancy — so no match under the guard...
    val near = boiler.replace("boil40", "zzzz")
    val nearHit = SignatureStore.probe(spark, store,
      Seq((901L, near)).toDF("doc_id", "text"), cfg = cfgHot).collect()
    assert(nearHit.isEmpty)
    // ...while an UNGUARDED config (default maxBucket) still matches it —
    // the guard is a deliberate occupancy/recall trade, not a bug
    val nearDefault = SignatureStore.probe(spark, store,
      Seq((901L, near)).toDF("doc_id", "text")).collect()
    assert(nearDefault.length == 1 && nearDefault.head.getLong(1) == 0L)
    // cold docs are untouched by the guard
    val coldHit = SignatureStore.probe(spark, store,
      Seq((902L, "totally different content nothing shared here at all ok"))
        .toDF("doc_id", "text"), cfg = cfgHot).collect()
    assert(coldHit.length == 1 && coldHit.head.getLong(1) == 500L)
    // occupancy is pre-aggregated: counts rows ≤ distinct buckets, and the
    // hot set is tiny (one ingest → one row per distinct bucket)
    val counts = SignatureStore.bucketCounts(spark, store)
    assert(counts.count() == counts.select("band", "bucket").distinct().count())
  }

  test("minhash LSH surfaces the planted near-dup pair") {
    val pairs = Dedup.minhash(docs, threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical docs always collide
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near-dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated doc clean
  }

  test("simhash finds near-dups by hamming distance") {
    // maxHamming 10 needs blocks > 10 for the pigeonhole bound (the old
    // 4-chunk scheme only guaranteed recall to hamming 3)
    val pairs = Dedup.simhash(docs, maxHamming = 10, blocks = 12)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash blocking scales with `blocks` while pairs stay identical") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(b: Int) = Dedup.simhash(real, blocks = b)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val classic = run(4) // the 4×15-bit scheme the oracle replays
    // generalized pigeonhole: wider key tables, exact same verified pairs
    assert(run(6) == classic)
    assert(run(10) == classic)
    // recall bound requires blocks > maxHamming and an even 60-bit split
    intercept[IllegalArgumentException](Dedup.simhash(real, blocks = 3))
    intercept[IllegalArgumentException](Dedup.simhash(real, blocks = 7))
  }

  test("ngram jaccard verifies exact similarity on blocked candidates") {
    val pairs = Dedup.ngramJaccard(docs, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.head._3 == 1.0) // identical docs: jaccard exactly 1
  }

  test("hot prefix block is sub-bucketed: pair join stays bounded, dups still found") {
    // A boilerplate corpus: EVERY doc shares the 40-char prefix (one hot
    // block of 120 docs), tails are distinct except three planted pairs of
    // exact duplicates. Unguarded all-pairs would compare 120·119/2 = 7140
    // pairs; with maxBlock = 10 the block must split by the minhash sub-key.
    val hot = (0 until 120).map { i =>
      val tail =
        if (i >= 100 && i < 103) s"planted dup tail x${i - 100} y z"
        else (1 to 8).map(j => s"u${i}n$j").mkString(" ")
      (i.toLong, prefix + " " + tail)
    }.toDF("doc_id", "text") // ids 100/0? planted pairs below
      .union(Seq(
        (200L, prefix + " planted dup tail x0 y z"),
        (201L, prefix + " planted dup tail x1 y z"),
        (202L, prefix + " planted dup tail x2 y z")).toDF("doc_id", "text"))
    val blocks = Dedup.ngramBlocks(hot, "text", "doc_id", 5, 40,
      maxBlock = 10, subRows = 7, subBands = 2)
    val sizes = blocks.groupBy("blk", "band", "sk").count()
      .select("count").as[Long].collect()
    // the hot block actually split, and no sub-bucket holds a quadratic share
    assert(sizes.length > 5, "hot block was not sub-bucketed")
    assert(sizes.max < 70, s"largest sub-bucket ${sizes.max} of 123 docs")
    // exact duplicates hash to the same sub-key by construction → all three
    // planted pairs survive the guard with jaccard 1.0
    val pairs = Dedup.ngramJaccard(hot, threshold = 0.9, maxBlock = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(Set((100L, 200L), (101L, 201L), (102L, 202L)).subsetOf(pairs), pairs.toString)
    // and the unguarded default (maxBlock above corpus size) finds the same
    // pairs here — the guard only re-buckets, never invents pairs
    val unguarded = Dedup.ngramJaccard(hot, threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.subsetOf(unguarded))
    // the pair-join inputs carry KEY rows only: the shingle arrays must not
    // ride the (blk, band, sk) exchange — they join back by id afterwards
    val lp = Dedup.ngramJaccard(hot, threshold = 0.9, maxBlock = 10)
      .queryExecution.optimizedPlan
    val pairJoins = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "sk")) => j
    }
    assert(pairJoins.nonEmpty, "pair join not found in plan")
    pairJoins.foreach { j =>
      val carried = j.children.flatMap(_.output.map(_.name)).filter(_.startsWith("sh"))
      assert(carried.isEmpty, s"pair join still carries $carried")
    }
  }

  test("cosine top-k returns exact neighbours in order") {
    val embs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.9f, 0.1f)), (4L, Seq(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Seq(1.0f, 0.0f))).toDF("qvec")
    val top = Similarity.topK(embs, q, 3).as[(Long, Double)].collect().toSeq
    assert(top.map(_._1) == Seq(1L, 3L, 2L))
    assert(top.head._2 == 1.0)
  }

  test("LSH ANN finds the exact match and respects k") {
    val embs = spark.range(100).select(col("id").as("vec_id"),
      array((0 until 8).map(i => (sin(col("id") * (i + 1)) * 10).cast("float")): _*)
        .as("embedding"))
    val q = embs.where(col("vec_id") === 42).select(col("embedding").as("qvec"))
    val ann = Similarity.annTopK(embs, q, 5).as[(Long, Double)].collect().toSeq
    assert(ann.nonEmpty && ann.size <= 5)
    assert(ann.head._1 == 42L && ann.head._2 == 1.0) // query itself retrieved
  }

  test("IVF index clusters planted structure and ivfTopK finds true neighbours") {
    // 4 well-separated clusters in 8 dims: center c has 1.0 in dims {2c, 2c+1}
    val vecs = for (c <- 0 until 4; i <- 0 until 25) yield {
      val id = c * 25 + i
      val v = Array.tabulate(8)(d => 0.01f * ((id * 7 + d) % 13))
      v(2 * c) = 1.0f; v(2 * c + 1) = 0.8f
      (id.toLong, v.toSeq)
    }
    val embs = vecs.toDF("vec_id", "embedding")
    val (assign, centroids) = Similarity.ivfIndex(embs, kClusters = 4, iters = 2)
    assert(centroids.count() == 4)
    // members of one planted cluster end up co-assigned
    val clustersOfPlanted = assign.where(col("id") < 25)
      .select("cluster").distinct().count()
    assert(clustersOfPlanted <= 2)
    val q = embs.where(col("vec_id") === 10).select(col("embedding").as("qvec"))
    val ivf = Similarity.ivfTopK(embs, q, 10, kClusters = 4, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    val brute = Similarity.topK(embs, q, 10).as[(Long, Double)].collect().toSeq
    assert(ivf.head._1 == 10L && ivf.head._2 == 1.0)
    // recall@10 vs brute force on separable data
    assert(ivf.map(_._1).toSet.intersect(brute.map(_._1).toSet).size >= 6)
  }

  test("NSW graph ANN: greedy walk beats IVF recall at equal probe budget, deterministic, save/load") {
    import graft.llm.Nsw
    // same planted geometry as the IVF gate: 4 separable clusters in 8
    // dims — plus low-level noise so within-cluster ranking is nontrivial
    val vecs = for (c <- 0 until 4; i <- 0 until 25) yield {
      val id = c * 25 + i
      val v = Array.tabulate(8)(d => 0.01f * ((id * 7 + d) % 13))
      v(2 * c) = 1.0f; v(2 * c + 1) = 0.8f
      (id.toLong, v.toSeq)
    }
    val embs = vecs.toDF("vec_id", "embedding")
    val idx = Nsw.build(embs, kClusters = 4, degree = 5)
    // bounded degree: symmetrized kNN ≤ 2·degree out-edges per node
    val maxDeg = idx.edges.groupBy("src").count()
      .agg(max(col("count"))).as[Long].head()
    assert(maxDeg <= 10L, s"degree bound violated: $maxDeg")
    val q = embs.where(col("vec_id") === 10)
      .select(col("embedding").as("qvec"))
    val brute = graft.llm.Similarity.topK(embs, q, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val nsw = Nsw.topK(idx, q, k = 10, nprobe = 2, ef = 16, rounds = 3)
      .as[(Long, Double)].collect().toSeq
    val ivf = graft.llm.Similarity
      .ivfTopK(embs, q, 10, kClusters = 4, nprobe = 2)
      .as[(Long, Double)].collect().map(_._1).toSet
    val nswRecall = nsw.map(_._1).toSet.intersect(brute).size
    val ivfRecall = ivf.intersect(brute).size
    // the self-match tops the list; the walk's recall floor holds and
    // matches-or-beats IVF at the same nprobe budget
    assert(nsw.head._1 == 10L && nsw.head._2 == 1.0)
    assert(nswRecall >= 7, s"nsw recall@10 = $nswRecall")
    assert(nswRecall >= ivfRecall,
      s"nsw $nswRecall < ivf $ivfRecall at equal probe budget")
    // deterministic: the rounded-score + id tie-break walk replays
    val again = Nsw.topK(idx, q, k = 10, nprobe = 2, ef = 16, rounds = 3)
      .as[(Long, Double)].collect().toSeq
    assert(again == nsw)
    // save/load probes from storage with the same answer
    val dir = tmpDir("nswidx")
    idx.save(dir)
    val viaDisk = Nsw.topK(Nsw.load(spark, dir), q, k = 10, nprobe = 2,
      ef = 16, rounds = 3).as[(Long, Double)].collect().toSeq
    assert(viaDisk == nsw)
  }

  test("HNSW layered ANN: descent matches-or-beats flat NSW at equal layer-0 budget, deterministic, save/load") {
    import graft.llm.{Hnsw, Nsw}
    // the planted 4-cluster geometry again, bigger so the geometric
    // layer law yields a real stack (m=4 → ~1/4 of ids per layer up)
    val vecs = for (c <- 0 until 4; i <- 0 until 50) yield {
      val id = c * 50 + i
      val v = Array.tabulate(8)(d => 0.01f * ((id * 7 + d) % 13))
      v(2 * c) = 1.0f; v(2 * c + 1) = 0.8f
      (id.toLong, v.toSeq)
    }
    val embs = vecs.toDF("vec_id", "embedding")
    val idx = Hnsw.build(embs, kClusters = 4, degree = 5, m = 4)
    // a real hierarchy: >= 2 layers, geometrically shrinking, degree
    // bound respected on every layer
    assert(idx.layers.size >= 2, s"only ${idx.layers.size} layer(s)")
    val sizes = idx.layers.map(_.select("src").distinct().count())
    assert(sizes.head == sizes.max, s"layer sizes not decreasing: $sizes")
    idx.layers.foreach { e =>
      val maxDeg = e.groupBy("src").count().agg(max(col("count")))
        .as[Long].head()
      assert(maxDeg <= 10L, s"degree bound violated: $maxDeg")
    }
    val q = embs.where(col("vec_id") === 10)
      .select(col("embedding").as("qvec"))
    val brute = graft.llm.Similarity.topK(embs, q, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val hnsw = Hnsw.topK(idx, q, k = 10, nprobe = 2, ef = 16, rounds = 2)
      .as[(Long, Double)].collect().toSeq
    // flat NSW at the SAME layer-0 probe budget (ef, rounds): the
    // descent's positioning must not lose recall
    val flat = Nsw.build(embs, kClusters = 4, degree = 5)
    val nsw = Nsw.topK(flat, q, k = 10, nprobe = 2, ef = 16, rounds = 2)
      .as[(Long, Double)].collect().toSeq
    val hnswRecall = hnsw.map(_._1).toSet.intersect(brute).size
    val nswRecall = nsw.map(_._1).toSet.intersect(brute).size
    assert(hnsw.head._1 == 10L && hnsw.head._2 == 1.0)
    assert(hnswRecall >= 7, s"hnsw recall@10 = $hnswRecall")
    assert(hnswRecall >= nswRecall,
      s"hnsw $hnswRecall < nsw $nswRecall at equal layer-0 budget")
    // deterministic replay
    val again = Hnsw.topK(idx, q, k = 10, nprobe = 2, ef = 16, rounds = 2)
      .as[(Long, Double)].collect().toSeq
    assert(again == hnsw)
    // save/load probes from storage with the same answer
    val dir = tmpDir("hnswidx")
    idx.save(dir)
    val viaDisk = Hnsw.topK(Hnsw.load(spark, dir), q, k = 10, nprobe = 2,
      ef = 16, rounds = 2).as[(Long, Double)].collect().toSeq
    assert(viaDisk == hnsw)
  }

  test("prebuilt IVF index is reused: probe plan has no k-means pass") {
    val vecs = (0 until 100).map { id =>
      (id.toLong, Array.tabulate(8)(d => 0.01f * ((id * 7 + d) % 13)).toSeq)
    }
    val embs = vecs.toDF("vec_id", "embedding")
    val idx = Similarity.buildIvfIndex(embs, kClusters = 4)
    try {
      val q = embs.where(col("vec_id") === 10).select(col("embedding").as("qvec"))
      val viaIndex = Similarity.ivfTopK(idx, embs, q, 10, nprobe = 2,
        "vec_id", "embedding", 6)
      // the probe reads the cached index: no aggregate (k-means centroid
      // update) anywhere in the plan, and the cache is actually hit
      // the probe executes joins against InMemoryTableScans; the k-means
      // aggregates appear only INSIDE InMemoryRelation (the cache's stored
      // build recipe, never re-executed) — so the plan above the first cache
      // boundary must be aggregate-free
      val plan = viaIndex.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"), plan)
      val aboveCache = plan.split("InMemoryRelation", 2)(0)
      assert(!aboveCache.contains("Aggregate"),
        s"probe plan recomputes the index:\n$plan")
      // identical results to the one-shot path
      val oneShot = Similarity.ivfTopK(embs, q, 10, kClusters = 4, nprobe = 2)
        .as[(Long, Double)].collect().toSeq
      assert(viaIndex.as[(Long, Double)].collect().toSeq == oneShot)
      // save/load round-trip probes from storage, same answer
      val dir = tmpDir("ivfidx")
      idx.save(dir)
      val loaded = Similarity.loadIvfIndex(spark, dir)
      val viaDisk = Similarity.ivfTopK(loaded, embs, q, 10, nprobe = 2,
        "vec_id", "embedding", 6).as[(Long, Double)].collect().toSeq
      assert(viaDisk == oneShot)
    } finally idx.unpersist()
  }

  test("IVF append: new batch lands by frozen centroids, probe finds it, O(batch)") {
    // same planted geometry: 4 separable clusters, but the index is built
    // from the EVEN ids only (the "history") and the odd ids arrive later
    // (the "new crawl")
    val vecs = for (c <- 0 until 4; i <- 0 until 25) yield {
      val id = c * 25 + i
      val v = Array.tabulate(8)(d => 0.01f * ((id * 7 + d) % 13))
      v(2 * c) = 1.0f; v(2 * c + 1) = 0.8f
      (id.toLong, v.toSeq)
    }
    val embs = vecs.toDF("vec_id", "embedding")
    val history = embs.where(col("vec_id") % 2 === 0)
    val batch = embs.where(col("vec_id") % 2 === 1)
    val dir = tmpDir("ivfappend")
    val idx = Similarity.buildClusteredIvfIndex(history, kClusters = 4,
      path = dir, iters = 2)
    try {
      val idx2 = Similarity.appendToIvfIndex(idx, dir, batch)
      // every vector is now indexed, centroids untouched
      assert(idx2.assignments.count() == 100L)
      assert(idx2.centroids.collect().toSet == idx.centroids.collect().toSet)
      // the appended batch landed exactly where a fresh assignment against
      // the same frozen centroids puts it
      val expect = Similarity.assignToCentroids(batch, idx.centroids)
        .as[(Long, Int)].collect().toMap
      val stored = idx2.assignments.where(col("id") % 2 === 1)
        .as[(Long, Int)].collect().toMap
      assert(stored == expect)
      // a probe for an APPENDED vector finds it as its own nearest
      // neighbour through the refreshed clustered layout
      val q = embs.where(col("vec_id") === 11).select(col("embedding").as("qvec"))
      val got = Similarity.ivfTopK(idx2, embs, q, 3, nprobe = 2,
        "vec_id", "embedding", 6).as[(Long, Double)].collect()
      assert(got.head._1 == 11L && got.head._2 == 1.0)
    } finally idx.unpersist()
  }

  test("clustered IVF layout: probe scan partition-prunes to nprobe clusters") {
    // same planted geometry as the ivfTopK test: 4 separable clusters
    val vecs = for (c <- 0 until 4; i <- 0 until 25) yield {
      val id = c * 25 + i
      val v = Array.tabulate(8)(d => 0.01f * ((id * 7 + d) % 13))
      v(2 * c) = 1.0f; v(2 * c + 1) = 0.8f
      (id.toLong, v.toSeq)
    }
    val embs = vecs.toDF("vec_id", "embedding")
    val dir = tmpDir("ivfclustered")
    val idx = Similarity.buildClusteredIvfIndex(embs, kClusters = 4,
      path = dir, iters = 2)
    try {
      assert(idx.clusteredVectors.isDefined)
      val q = embs.where(col("vec_id") === 10).select(col("embedding").as("qvec"))
      // keep ONE Dataset (and so one QueryExecution) for both the result
      // and the plan/metrics inspection — .as[...] would re-plan
      val pruned = Similarity.ivfTopK(idx, embs, q, 10, nprobe = 2,
        "vec_id", "embedding", 6).as[(Long, Double)]
      val got = pruned.collect().toSeq
      // identical answer to the assignments-join fallback (same probe set,
      // same arithmetic — only the I/O shape differs)
      val fallback = Similarity.ivfTopK(idx.copy(clusteredVectors = None),
          embs, q, 10, nprobe = 2, "vec_id", "embedding", 6)
        .as[(Long, Double)].collect().toSeq
      assert(got == fallback && got.head._1 == 10L)
      // the probe's ONLY corpus-sized input is the vectors scan, it carries
      // a cluster partition filter, and it READ fewer files than the layout
      // holds (nprobe of kClusters partitions)
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
        val self = p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case qs: QueryStageExec => Seq(qs.plan)
          case other => other.children
        }
        self ++ kids.flatMap(scans)
      }
      val vecScans = scans(pruned.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("vectors")))
      assert(vecScans.nonEmpty, pruned.queryExecution.executedPlan.toString)
      assert(vecScans.forall(_.partitionFilters.nonEmpty),
        s"no partition filter on the vectors scan:\n${pruned.queryExecution.executedPlan}")
      val filesRead = vecScans.map(_.metrics("numFiles").value).sum
      val totalFiles = new java.io.File(dir + "/vectors").listFiles()
        .filter(_.getName.startsWith("cluster="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
      assert(filesRead > 0 && filesRead < totalFiles,
        s"probe read $filesRead of $totalFiles files — no pruning")
      // load restores the clustered layout
      val loaded = Similarity.loadIvfIndex(spark, dir)
      assert(loaded.clusteredVectors.isDefined)
      val viaDisk = Similarity.ivfTopK(loaded, embs, q, 10, nprobe = 2,
        "vec_id", "embedding", 6).as[(Long, Double)].collect().toSeq
      assert(viaDisk == got)
    } finally idx.unpersist()
  }

  test("incremental curation: per-batch dedup against history, quality and decontam stages") {
    import graft.llm.Curation
    def words(tag: String, n: Int) = (1 to n).map(j => s"${tag}w$j").mkString(" ")
    val store = tmpDir("inccur") + "/store"
    val bench = Seq((9000L, words("bench", 60))).toDF("doc_id", "text")
    // batch 1: two good docs + a short one
    val (out1, rep1) = Curation.runIncremental(Seq(
        (1L, words("a", 60)), (2L, words("b", 60)), (3L, "too short"))
      .toDF("doc_id", "text"), store, evalSet = Some(bench))
    assert(rep1 == Curation.IncReport(3, 3, 2, 2))
    assert(out1.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // batch 2: an exact copy of doc 1 and a near-copy of doc 2 resolve
    // against the STORE (history never rescanned); a benchmark copy is
    // decontaminated; one genuinely new doc survives
    val (out2, rep2) = Curation.runIncremental(Seq(
        (11L, words("a", 60)),                       // exact copy of 1
        (12L, words("b", 59) + " bzz"),              // near-copy of 2
        (13L, words("bench", 60)),                   // benchmark text
        (14L, words("c", 60)))                       // new
      .toDF("doc_id", "text"), store, evalSet = Some(bench))
    assert(rep2 == Curation.IncReport(4, 2, 2, 1), rep2.toString)
    assert(out2.select("doc_id").as[Long].collect().toSet == Set(14L))
  }

  test("snapshot diff: added/removed/changed/unchanged by id and content hash") {
    import graft.llm.Corpus
    val prev = Seq((1L, "same text"), (2L, "old text"), (3L, "gone"))
      .toDF("doc_id", "text")
    val cur = Seq((1L, "same text"), (2L, "new text"), (4L, "fresh"))
      .toDF("doc_id", "text")
    val got = Corpus.snapshotDiff(prev, cur)
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"), got.toString)
    // degenerate sides: everything added / everything removed
    assert(Corpus.snapshotDiff(prev.limit(0), cur).as[(Long, String)]
      .collect().forall(_._2 == "added"))
    assert(Corpus.snapshotDiff(prev, cur.limit(0)).as[(Long, String)]
      .collect().forall(_._2 == "removed"))
    // NULL text is still PRESENCE: null→text is changed (not added),
    // text→null is changed (not removed), null→null is unchanged
    val pN = Seq((1L, null: String), (2L, "was text"), (3L, null: String))
      .toDF("doc_id", "text")
    val cN = Seq((1L, "now fetched"), (2L, null: String), (3L, null: String))
      .toDF("doc_id", "text")
    val gotN = Corpus.snapshotDiff(pN, cN).as[(Long, String)].collect().toMap
    assert(gotN == Map(1L -> "changed", 2L -> "changed", 3L -> "unchanged"),
      gotN.toString)
  }

  test("hybrid RRF fusion: both-leg docs outrank single-leg, missing leg contributes zero") {
    import graft.llm.Search
    // doc 1 matches the terms AND is the dense neighbour; doc 2 lexical
    // only; vec 3 dense only; doc 4 neither
    val docs = Seq(
      (1L, "spark window agg spark"),
      (2L, "spark window plain words here"),
      (4L, "nothing relevant at all")).toDF("doc_id", "text")
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f)),  // the query vector (vec 0)
      (1L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.8f, 0.2f)),
      (4L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = embs.orderBy("vec_id").limit(1).select(col("embedding").as("qvec"))
    val out = Search.hybridTopK(docs, embs, Seq("spark", "window", "agg"),
        q, k = 10, legK = 3)
      .as[(Long, Double, Option[Int], Option[Int])].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    // vec 0 IS the query: it ranks 1 dense; doc 1 is in BOTH legs
    assert(byId(1L)._3.isDefined && byId(1L)._4.isDefined)
    assert(byId(2L)._3.isDefined && byId(2L)._4.isEmpty)
    assert(byId(3L)._3.isEmpty && byId(3L)._4.isDefined)
    // rrf arithmetic: doc 1 = 1/(60+lex) + 1/(60+dense)
    val d1 = byId(1L)
    val want = 1.0 / (60 + d1._3.get) + 1.0 / (60 + d1._4.get)
    assert(math.abs(d1._2 - want) < 1e-6, s"${d1._2} vs $want")
    // a doc present in both legs beats every single-leg doc here (its
    // two terms each exceed any single term at these ranks)
    assert(out.head._1 == 1L, out.toString)
    // doc 4 appears dense-only (every embedding is in the dense top-3
    // candidate pool of size legK=3... it is rank-4 of 4 → absent)
    assert(!byId.contains(4L) || byId(4L)._3.isEmpty)
  }

  test("BM25 index: probe prunes to the query terms' buckets, parity with direct") {
    import graft.llm.Search
    // 30 docs over a 20-term vocabulary spread across many buckets
    val docs = (0 until 30).map { i =>
      (i.toLong, (0 until 12).map(j => "w" + ((i * 5 + j * 3) % 20)).mkString(" "))
    }.toDF("doc_id", "text")
    val qs = Seq((1L, "w3 w7"), (2L, "w11")).toDF("query_id", "qtext")
    val dir = tmpDir("bm25idx")
    val idx = Search.buildBm25Index(docs, dir, nBuckets = 8)
    val probe = Search.bm25Probe(idx, qs, k = 3)
    val got = probe.collect().toSeq
    // identical output to the direct corpus-scan form (same arithmetic;
    // only the I/O shape differs)
    val direct = Search.bm25ForQueries(docs, qs, k = 3).collect().toSeq
    assert(got == direct && got.nonEmpty)
    // the postings scan carries a bucket partition filter and read fewer
    // files than the layout holds
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val self = p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs2: QueryStageExec => Seq(qs2.plan)
        case other => other.children
      }
      self ++ kids.flatMap(scans)
    }
    // the probe's corpus-sided input (bm25Probe checkpoints it, which
    // moves the file scan into the checkpoint job — audit the relation
    // the probe actually reads)
    val pruned = Search.probedPostings(idx, qs)
    pruned.collect()
    val pScans = scans(pruned.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("postings")))
    assert(pScans.nonEmpty, pruned.queryExecution.executedPlan.toString)
    assert(pScans.forall(_.partitionFilters.nonEmpty),
      s"no partition filter on the postings scan:\n${pruned.queryExecution.executedPlan}")
    val filesRead = pScans.map(_.metrics("numFiles").value).sum
    val totalFiles = new java.io.File(dir + "/postings").listFiles()
      .filter(_.getName.startsWith("tb="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    assert(filesRead > 0 && filesRead < totalFiles,
      s"probe read $filesRead of $totalFiles files — no pruning")
    // load round-trips the layout and the corpus scalars
    val loaded = Search.loadBm25Index(spark, dir)
    assert(loaded.nDocs == idx.nDocs && loaded.sumDl == idx.sumDl &&
      loaded.nBuckets == idx.nBuckets)
    assert(Search.bm25Probe(loaded, qs, k = 3).collect().toSeq == got)
    // INCREMENTAL maintenance: build on half the corpus, append the rest —
    // the probe must equal the full-corpus build exactly (postings layer,
    // scalars add), and a replayed batch id overwrites itself
    val dirInc = tmpDir("bm25inc")
    val half = Search.buildBm25Index(docs.where(col("doc_id") % 2 === 0),
      dirInc, nBuckets = 8)
    val grown = Search.appendToBm25Index(half,
      docs.where(col("doc_id") % 2 =!= 0), batchId = 1L)
    assert(grown.nDocs == idx.nDocs && grown.sumDl == idx.sumDl)
    assert(Search.bm25Probe(grown, qs, k = 3).collect().toSeq == got)
    val replayed = Search.appendToBm25Index(half,
      docs.where(col("doc_id") % 2 =!= 0), batchId = 1L)
    assert(Search.bm25Probe(replayed, qs, k = 3).collect().toSeq == got)
    // a second increment stacks; loadBm25Index sees every layer
    val grown2 = Search.appendToBm25Index(replayed,
      Seq((100L, "w3 w3 w3")).toDF("doc_id", "text"), batchId = 2L)
    val expect2 = Search.bm25ForQueries(
      docs.unionByName(Seq((100L, "w3 w3 w3")).toDF("doc_id", "text")),
      qs, k = 3).collect().toSeq
    assert(Search.bm25Probe(grown2, qs, k = 3).collect().toSeq == expect2)
    assert(Search.bm25Probe(Search.loadBm25Index(spark, dirInc), qs, k = 3)
      .collect().toSeq == expect2)
  }

  test("int8 quantized search: high recall vs exact cosine, self-retrieval, zero-vector safe") {
    val vecs = (0 until 300).map { id =>
      (id.toLong, Array.tabulate(8)(d2 =>
        0.01f * ((id * 7 + d2 * 13) % 97) - 0.4f).toSeq)
    } :+ (300L, Seq.fill(8)(0.0f)) // a zero vector must not NaN the scores
    val embs = vecs.toDF("vec_id", "embedding")
    val q = embs.where(col("vec_id") === 5).select(
      graft.functions.native.int8quant(col("embedding")).as("qq"))
    val got = Similarity.topKInt8(Similarity.quantizeInt8(embs), q, 10)
      .as[(Long, Double)].collect().toSeq
    assert(got.head._1 == 5L && got.size == 10)
    assert(got.map(_._2) == got.map(_._2).sorted.reverse)
    // quantization noise barely moves cosine ranks: recall@10 vs exact
    // (the exact path divides by the norm — zero vector excluded there;
    // the int8 path's +1e-12 guard scores it 0 and it never ranks)
    val qf = embs.where(col("vec_id") === 5).select(col("embedding").as("qvec"))
    val exact = Similarity.topK(embs.where(col("vec_id") =!= 300L), qf, 10)
      .as[(Long, Double)].collect()
    assert(got.map(_._1).toSet.intersect(exact.map(_._1).toSet).size >= 8,
      s"int8=${got.map(_._1)} exact=${exact.map(_._1).toSeq}")
  }

  test("IVF-PQ composition: probe prunes code partitions and reads no raw vectors") {
    val vecs = for (c <- 0 until 4; i <- 0 until 25) yield {
      val id = c * 25 + i
      val v = Array.tabulate(8)(d => 0.01f * ((id * 7 + d) % 13))
      v(2 * c) = 1.0f; v(2 * c + 1) = 0.8f
      (id.toLong, v.toSeq)
    }
    val embs = vecs.toDF("vec_id", "embedding")
    val dir = tmpDir("ivfpq")
    val idx = Similarity.buildIvfPqIndex(embs, kClusters = 4, m = 4,
      kCodes = 4, path = dir)
    try {
      val q = embs.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val res = Similarity.ivfPqTopK(idx, q, 10, nprobe = 2).as[(Long, Double)]
      val got = res.collect().toSeq
      assert(got.size == 10 && got.map(_._2) == got.map(_._2).sorted)
      // ADC distance of the query to its own cell is the minimum; id 0 wins ties
      assert(got.head._1 == 0L)
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
        val self = p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case qs: QueryStageExec => Seq(qs.plan)
          case other => other.children
        }
        self ++ kids.flatMap(scans)
      }
      val allScans = scans(res.queryExecution.executedPlan)
      // the probe plan's ONLY file input is the codes layout — the raw
      // embedding corpus is nowhere in it
      assert(allScans.nonEmpty &&
        allScans.forall(_.relation.location.rootPaths.exists(_.toString.contains("codes"))),
        res.queryExecution.executedPlan.toString)
      assert(allScans.forall(_.partitionFilters.nonEmpty),
        s"no partition filter on the codes scan:\n${res.queryExecution.executedPlan}")
      val filesRead = allScans.map(_.metrics("numFiles").value).sum
      val totalFiles = new java.io.File(dir + "/codes").listFiles()
        .filter(_.getName.startsWith("cluster="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
      assert(filesRead > 0 && filesRead < totalFiles,
        s"probe read $filesRead of $totalFiles code files — no pruning")
      // reload round-trip answers identically
      val loaded = Similarity.loadIvfPqIndex(spark, dir)
      assert(Similarity.ivfPqTopK(loaded, q, 10, nprobe = 2)
        .as[(Long, Double)].collect().toSeq == got)
    } finally idx.unpersist()
  }

  test("hot label blocks are LSH-sub-bucketed: pair fan-out stays bounded") {
    // one hot label (600 vectors) + one small label (10); guard at 100
    val vecs = (0 until 610).map { id =>
      val label = if (id < 600) 0 else 1
      (id.toLong, Array.tabulate(8)(d => 0.01f * ((id * 31 + d * 7) % 97) - 0.3f).toSeq, label)
    }
    val embs = vecs.toDF("vec_id", "embedding", "label")
    // count the candidate pairs actually compared (before the sim filter):
    // sub-bucketing must cut the hot label's 600*599/2 pair space hard
    def pairCount(maxBlock: Int): Long = {
      val nn = Similarity.nearDupPairs(embs, threshold = -1.0, maxBlock = maxBlock)
      nn.count()
    }
    val unguarded = pairCount(maxBlock = 1000000)
    val guarded = pairCount(maxBlock = 100)
    assert(unguarded == 600L * 599 / 2 + 10L * 9 / 2)
    assert(guarded < unguarded / 4, s"guarded=$guarded unguarded=$unguarded")
    // small blocks stay exact: identical pairs for the small label
    val small = Similarity.nearDupPairs(embs, threshold = -1.0, maxBlock = 100)
      .where(col("vec_a") >= 600).as[(Long, Long, Double)].collect().toSet
    val smallRef = Similarity.nearDupPairs(embs, threshold = -1.0, maxBlock = 1000000)
      .where(col("vec_a") >= 600).as[(Long, Long, Double)].collect().toSet
    assert(small == smallRef && small.size == 45)
    // nnWithinPartition under the guard: every emitted neighbour is from the
    // same label, and the small label is exact
    val nnG = Similarity.nnWithinPartition(embs, maxBlock = 100)
      .as[(Long, Long, Double)].collect()
    val nnRef = Similarity.nnWithinPartition(embs, maxBlock = 1000000)
      .as[(Long, Long, Double)].collect()
    assert(nnG.filter(_._1 >= 600).toSet == nnRef.filter(_._1 >= 600).toSet)
  }

  test("int8 quantization: bounded range, zero-vector safe, dequantize error within half-step") {
    val vecs = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector: scale 0, all q 0
      (3L, Seq(-2.0f, 2.0f, 1.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs)
      .as[(Long, Seq[Int], Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1)._1 == Seq(127, -64, 32, 0) && out(1)._2 == 1.0 / 127)
    assert(out(2)._1 == Seq(0, 0, 0, 0) && out(2)._2 == 0.0)
    assert(out(3)._1.forall(q => q >= -127 && q <= 127))
    // dequantization error bounded by half a quantization step
    for ((id, (qs, scale)) <- out if scale > 0) {
      val orig = vecs.where(col("vec_id") === id)
        .select("embedding").as[Seq[Float]].collect().head
      qs.zip(orig).foreach { case (q, x) =>
        assert(math.abs(q * scale - x) <= scale / 2 + 1e-12)
      }
    }
  }

  test("corpus assembly: hash sampling is reproducible, mixing weighted, packing bounded") {
    import graft.llm.Corpus
    val docs = (0 until 1000).map(i =>
      (i.toLong, s"src${i % 4}", "en", ("tok " * (1 + i % 9)).trim))
      .toDF("doc_id", "source", "lang", "text")
    // reproducible + partition-invariant (the rand() sampler is neither)
    val s1 = Corpus.sampleHash(docs, 0.2).select("doc_id").as[Long].collect().toSet
    val s2 = Corpus.sampleHash(docs.repartition(7), 0.2)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2 && s1.size > 100 && s1.size < 300)
    // sample composes: the 10% sample is a subset of the 20% sample
    val s3 = Corpus.sampleHash(docs, 0.1).select("doc_id").as[Long].collect().toSet
    assert(s3.subsetOf(s1))
    // weighted mix: absent sources drop, rates roughly honoured
    val mix = Corpus.mixWeighted(docs, Map("src0" -> 1.0, "src1" -> 0.5))
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(mix.keySet == Set("src0", "src1"))
    assert(mix("src0") == 250L && mix("src1") > 75L && mix("src1") < 175L)
    // packing: per-group bins, budget respected for the bin PREFIX (a doc
    // never starts once the budget is consumed), exact vs a local replay of
    // the (shard, id)-order prefix the two-level plan decomposes
    val packedDf = Corpus.packSequences(docs, budget = 64)
    val packed = packedDf
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(packed.map(_._1).toSeq == (0L until 1000L))
    def mix32L(id: Long): Long = {
      var x = id % Corpus.M32
      x = ((x ^ (x >>> 16)) * Corpus.MixK) % Corpus.M32
      x = ((x ^ (x >>> 16)) * Corpus.MixK) % Corpus.M32
      x ^ (x >>> 16)
    }
    val inOrder = packed.sortBy(p => (mix32L(p._1) % 64, p._1))
    val expBins = inOrder.scanLeft(0L)(_ + _._4).dropRight(1)
      .map(_ / 64).zip(inOrder.map(_._1)).map(_.swap).toMap
    packed.foreach { p => assert(p._3 == expBins(p._1)) }
    // bins sorted in (shard, id) order respect the budget prefix invariant
    inOrder.groupBy(_._3).values.foreach { ds =>
      assert(ds.dropRight(1).map(_._4).sum <= 64)
    }
    // skew-proof: this is a SINGLE-language corpus, yet no window partition
    // holds more than a shard's worth of it (the round-6 plan sorted all
    // 1000 docs in one `lang` partition)
    val shardSizes = packed.groupBy(p => mix32L(p._1) % 64).values.map(_.size)
    assert(shardSizes.max <= 3 * 1000 / 64,
      s"worst shard ${shardSizes.max} rows — sharding not balancing")
    // and the physical windows really are keyed by (lang, _shard)
    val plan = packedDf.queryExecution.executedPlan.toString
    assert(plan.contains("_shard"), "window not sharded:\n" + plan)
  }

  test("weighted sampling: keep rate tracks the weight, composes, clamps") {
    import graft.llm.Corpus
    val docs = (0 until 2000).map(i => (i.toLong, (i % 2).toDouble))
      .toDF("doc_id", "w")
    // weight 0 keeps nothing, weight 1 keeps everything (clamped beyond)
    assert(Corpus.sampleWeighted(docs, lit(0.0)).count() == 0L)
    assert(Corpus.sampleWeighted(docs, lit(5.0)).count() == 2000L)
    assert(Corpus.sampleWeighted(docs, lit(-3.0)).count() == 0L)
    // per-row weights: the w=1 half all kept, the w=0 half all dropped
    val kept = Corpus.sampleWeighted(docs, col("w"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept.size == 1000 && kept.forall(_ % 2 == 1))
    // composes with the unweighted sampler: half-weight sample ⊆ full
    val half = Corpus.sampleWeighted(docs, col("w") * 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(half.subsetOf(kept) && half.size > 300 && half.size < 700)
  }

  test("budget cut: matches the global-order reference without a global window") {
    import graft.llm.Corpus
    // score has heavy ties (i % 7) so the per-score-bucket decomposition
    // and its id tie-break are both exercised
    val docs = (0 until 500).map(i => (i.toLong, (i % 7).toDouble, 10L + i % 5))
      .toDF("doc_id", "s", "tok")
    val got = Corpus.selectBudget(docs, budget = 1000L, score = col("s"),
      tokens = col("tok")).as[(Long, Double, Long, Long, Boolean)]
      .collect().sortBy(_._1)
    // driver-side reference: one global (score DESC, id ASC) scan
    val ref = docs.as[(Long, Double, Long)].collect()
      .sortBy { case (id, s, _) => (-s, id) }
      .scanLeft((0L, 0L, 0.0, 0L)) { case ((_, cum, _, _), (id, s, tok)) =>
        (id, cum + tok, s, tok)
      }.drop(1)
      .map { case (id, cumAfter, s, tok) =>
        id -> ((cumAfter - tok, cumAfter - tok < 1000L))
      }.toMap
    got.foreach { case (id, _, _, cumBefore, keep) =>
      assert(ref(id) == ((cumBefore, keep)), s"doc $id")
    }
    // partition invariance
    val again = Corpus.selectBudget(docs.repartition(7), budget = 1000L,
      score = col("s"), tokens = col("tok"))
      .as[(Long, Double, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(again.toSeq == got.toSeq)
    // scale shape: the corpus-sized window is KEYED by the score bucket —
    // no unpartitioned window ever sees the base relation. The only
    // single-partition stage is the prefix over the score-DISTINCT
    // relation (bounded by score granularity, not data).
    val plan = Corpus.selectBudget(docs, 1000L, col("s"), col("tok"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(score"),
      "within-score window must be keyed by the score bucket")
    // a CONTINUOUS score cannot blow up the score-distinct relation: the
    // internal dround caps it at the configured granularity (here 1 dp →
    // ≤11 buckets for scores in [0,1]), instead of one bucket per row
    val cont = (0 until 500).map(i => (i.toLong, i / 499.0, 10L))
      .toDF("doc_id", "s", "tok")
    val bucketed = Corpus.selectBudget(cont, 1000L, col("s"), col("tok"),
      scoreScale = 1)
    assert(bucketed.select("score").distinct().count() <= 11L)
    // and the verdict still matches the (rounded score DESC, id) reference
    val gotC = bucketed.as[(Long, Double, Long, Long, Boolean)]
      .collect().sortBy(_._1)
    val refC = cont.as[(Long, Double, Long)].collect()
      .map { case (id, s, tok) => (id, math.floor(s * 10 + 0.5) / 10, tok) }
      .sortBy { case (id, s, _) => (-s, id) }
      .scanLeft((0L, 0L)) { case ((_, cum), (id, _, tok)) => (id, cum + tok) }
      .drop(1).map { case (id, cumAfter) =>
        id -> ((cumAfter - 10L, cumAfter - 10L < 1000L)) }.toMap
    gotC.foreach { case (id, _, _, cumBefore, keep) =>
      assert(refC(id) == ((cumBefore, keep)), s"doc $id") }
  }

  test("BPE: merge semantics, training determinism, artifact round-trip, expression parity") {
    import graft.llm.Bpe
    // a rank is ONE leftmost greedy non-overlapping pass
    assert(Bpe.mergePass(Array("a", "a", "a", "a", "a"), "a", "a").toSeq ==
      Seq("aa", "aa", "a"))
    // ranks apply in order; later ranks consume earlier ranks' symbols
    assert(Bpe.applyMerges("the", Seq(("t", "h"), ("th", "e"))).toSeq ==
      Seq("the"))
    assert(Bpe.applyMerges("ttht", Seq(("t", "h"), ("th", "e"))).toSeq ==
      Seq("t", "th", "t"))
    // training: most frequent pair wins, count-weighted, deterministic
    val docs = Seq((1L, "abab abab cd"), (2L, "abab ab cd"))
      .toDF("doc_id", "text")
    val merges = Bpe.train(docs, numMerges = 3)
    assert(merges == Seq(("a", "b"), ("ab", "ab"), ("c", "d")))
    // partition-invariant (the merge loop sees the same ordered vocab)
    assert(Bpe.train(docs.repartition(5), numMerges = 3) == merges)
    // the artifact round-trips
    val dir = tmpDir("bpe") + "/merges"
    Bpe.save(spark, merges, dir)
    assert(Bpe.load(spark, dir) == merges)
    // the native expression IS the driver twin (shared implementation)
    val got = docs.select(col("doc_id"),
        graft.functions.native.bpeCount(col("text"), merges).as("n"))
      .as[(Long, Long)].collect().toMap
    val want = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> Bpe.countTokens(t, merges) }.toMap
    assert(got == want && got(1L) == 3L && got(2L) == 3L)
    // trained merges compress: counts strictly between words and chars
    val full = Seq((1L, "the theatre then"))
      .toDF("doc_id", "text")
      .select(graft.functions.native.bpeCount(col("text"),
        Bpe.CoreEnglishMerges).as("n")).as[Long].collect().head
    assert(full > 3L && full < 14L, s"n_bpe=$full")
    // the encode surface: full symbol sequence in document order, length
    // consistent with the count, expression == driver twin
    assert(Bpe.encodeTokens("ttht the", Seq(("t", "h"), ("th", "e"))).toSeq ==
      Seq("t", "th", "t", "the"))
    assert(Bpe.encodeTokens("", merges).isEmpty)
    val seqs = docs.select(col("doc_id"),
        graft.functions.native.bpeTokens(col("text"), merges).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    docs.as[(Long, String)].collect().foreach { case (id, t) =>
      assert(seqs(id) == Bpe.encodeTokens(t, merges).toSeq)
      assert(seqs(id).size.toLong == Bpe.countTokens(t, merges))
    }
  }

  test("PQ index: ADC top-k ranks the planted class, probe never reads vectors") {
    import graft.llm.Similarity
    // two well-separated classes with small within-class jitter
    val vecs = (0 until 200).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array.tabulate(16)(j =>
        base * (1.0f + (j % 3)) + (i % 7) * 0.01f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val idx = Similarity.buildPqIndex(df, m = 4, kCodes = 4)
    assert(idx.codes.count() == 800L && idx.codebooks.count() == 16L)
    // a literal query from class 0 (not derived from the corpus relation,
    // so the probe plan assertion below is meaningful)
    val q = Seq(Tuple1(vecs.head._2)).toDF("qvec")
    val top = Similarity.pqTopK(idx, q, 20).as[(Long, Double)].collect()
    assert(top.length == 20)
    assert(top.map(_._2).toSeq == top.map(_._2).sorted.toSeq) // ascending
    // the planted class dominates: ADC under 4x4 codebooks separates the
    // two far-apart classes even with within-class jitter
    assert(top.count(_._1 % 2 == 0) == 20, top.map(_._1).toSeq.toString)
    // THE PQ property: the probe plan reads codes + codebooks only — the
    // raw embedding column appears nowhere
    val plan = Similarity.pqTopK(idx, q, 5).queryExecution.optimizedPlan.toString
    assert(!plan.contains("embedding"), "ADC probe must not read raw vectors")
    // deterministic under repartitioning (6-dp codebooks, tie-broken codes)
    val idx2 = Similarity.buildPqIndex(df.repartition(7), m = 4, kCodes = 4)
    assert(idx2.codes.as[(Long, Int, Int)].collect().toSet ==
      idx.codes.as[(Long, Int, Int)].collect().toSet)
    // artifact round-trip
    val dir = tmpDir("pq") + "/idx"
    idx.save(dir)
    val l = Similarity.loadPqIndex(spark, dir)
    assert(Similarity.pqTopK(l, q, 20).as[(Long, Double)].collect().toSeq ==
      top.toSeq)
    idx.unpersist(); idx2.unpersist()
  }

  test("quality model: training separates, deterministic, artifact round-trips, parity") {
    import graft.llm.QualityModel
    // separable corpus: two disjoint vocabularies
    val good = (0 until 40).map(i =>
      (i.toLong, s"insightful analysis of topic$i with careful methods", 1.0))
    val bad = (40 until 80).map(i =>
      (i.toLong, s"buy cheap pills now click here winner$i", 0.0))
    val df = (good ++ bad).toDF("doc_id", "text", "label")
    val m = QualityModel.trainDistributed(df, dim = 256, epochs = 40, lr = 2.0)
    // held-out docs from each vocabulary land on the right side
    val sGood = QualityModel.scoreText("careful insightful analysis of methods", m)
    val sBad = QualityModel.scoreText("click here buy cheap pills now", m)
    assert(sGood > 0.7 && sBad < 0.3, s"good=$sGood bad=$sBad")
    // deterministic: identical weights from a repartitioned input
    val m2 = QualityModel.trainDistributed(df.repartition(7), dim = 256,
      epochs = 40, lr = 2.0)
    assert(m2.weights.toSeq == m.weights.toSeq && m2.bias == m.bias)
    // the artifact round-trips exactly
    val dir = tmpDir("qmodel") + "/m"
    QualityModel.save(spark, m, dir)
    val l = QualityModel.load(spark, dir)
    assert(l.weights.toSeq == m.weights.toSeq && l.bias == m.bias)
    // native expression IS the driver twin; empty text scores sigmoid(bias)
    val docs = Seq((1L, "careful insightful analysis"), (2L, ""),
      (3L, "buy pills  now")).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        QualityModel.score(col("text"), m).as("s"))
      .as[(Long, Double)].collect().toMap
    val want = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> QualityModel.scoreText(t, m) }.toMap
    assert(got == want)
  }

  test("document chunking: window/stride arithmetic, full coverage, no redundant tail") {
    import graft.llm.Corpus
    def words(n: Int) = (0 until n).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, words(3)), (2L, words(8)), (3L, words(9)),
      (4L, ""), (5L, words(20))).toDF("doc_id", "text")
    val got = Corpus.chunkDocuments(docs, window = 8, stride = 4)
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // short doc: one (short) chunk; exact-window doc: ONE chunk (no
    // all-overlap tail); window+1: two
    assert(got(1L).map(c => (c._3, c._4)).toSeq == Seq((3L, "w0 w1 w2")))
    assert(got(2L).size == 1 && got(2L).head._3 == 8L)
    assert(got(3L).map(_._3).toSeq == Seq(8L, 5L) &&
      got(3L)(1)._4 == "w4 w5 w6 w7 w8")
    assert(!got.contains(4L)) // empty doc yields nothing
    // 20 tokens, w=8, s=4 -> 1 + ceil(12/4) = 4 chunks; consecutive chunks
    // overlap by 4 and together cover every token exactly
    val c5 = got(5L)
    assert(c5.size == 4 && c5.map(_._3).toSeq == Seq(8L, 8L, 8L, 8L))
    val covered = c5.flatMap(_._4.split(" ")).toSet
    assert(covered == (0 until 20).map(i => s"w$i").toSet)
    assert(c5(0)._4.split(" ").takeRight(4).toSeq ==
      c5(1)._4.split(" ").take(4).toSeq)
  }

  test("unkeyed windows run only over config-bounded relations (audit of the WindowExec warning)") {
    // Verify's "No Partition Defined for Window" warnings come from exactly
    // two queries — corpus_mix_rates and corpus_budget (checked per-query).
    // Both windows are over per-KEY aggregates whose cardinality is a
    // config property (source count / enforced score granularity), never
    // corpus size. This spec pins that: the rows actually ENTERING each
    // unkeyed WindowExec (first descendant numOutputRows metric) stay at
    // the bound while the corpus grows 10×.
    import graft.llm.Corpus
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def descend(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(descend)
    }
    def unkeyedWindowInputs(p: SparkPlan): Seq[Long] =
      descend(p).collect { case w: WindowExec if w.partitionSpec.isEmpty =>
        descend(w.child)
          .find(_.metrics.contains("numOutputRows"))
          .map(_.metrics("numOutputRows").value)
          .getOrElse(-1L)
      }
    def docs(n: Int) = (0 until n).map(i =>
      (i.toLong, ("w " * (i % 7 + 1)).trim, s"src${i % 13}"))
      .toDF("doc_id", "text", "source")
    for (n <- Seq(500, 5000)) {
      val rates = Corpus.mixRates(docs(n),
        tokens = TextStats.tokenCount(col("text")), budget = 1000L)
      rates.collect()
      val mrIn = unkeyedWindowInputs(rates.queryExecution.executedPlan)
      assert(mrIn.nonEmpty && mrIn.forall(_ == 13L),
        s"mixRates window input at n=$n: $mrIn (want 13 = source count)")
      val cut = Corpus.selectBudget(docs(n), budget = 1000L,
        score = col("doc_id") / lit(n.toDouble), // n distinct raw scores
        tokens = TextStats.tokenCount(col("text")), scoreScale = 2)
      cut.collect()
      val sbIn = unkeyedWindowInputs(cut.queryExecution.executedPlan)
      // enforced 2-dp rounding caps the score-distinct relation at 101
      // values in [0,1] no matter how many raw scores exist
      assert(sbIn.nonEmpty && sbIn.forall(v => v > 0 && v <= 101),
        s"selectBudget window input at n=$n: $sbIn (bound 101)")
    }
  }

  test("distributed quality trainer: separates, partition-invariant, text never collected") {
    import graft.llm.QualityModel
    val good = (0 until 40).map(i =>
      (i.toLong, s"insightful analysis of topic$i with careful methods", 1.0))
    val bad = (40 until 80).map(i =>
      (i.toLong, s"buy cheap pills now click here winner$i", 0.0))
    val df = (good ++ bad).toDF("doc_id", "text", "label")
    // record the OUTPUT SCHEMA of every plan executed during training: the
    // "no corpus-text collect" claim means no collected result carries the
    // text column — only counts and (idx, gm) gradient aggregates
    val schemas = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    d: Long): Unit =
        schemas.add(qe.executedPlan.schema.fieldNames.mkString(","))
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val m = try {
      val m0 = QualityModel.trainDistributed(df, dim = 256, epochs = 40, lr = 2.0)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (schemas.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      m0
    } finally spark.listenerManager.unregister(l)
    val seen = scala.jdk.CollectionConverters.ListHasAsScala(schemas).asScala.toSeq
    assert(seen.nonEmpty && seen.forall(s => !s.contains("_t") && !s.contains("text")),
      s"a training execution returned text to the driver: $seen")
    // held-out separation under the distributed trainer
    val sGood = QualityModel.scoreText("careful insightful analysis of methods", m)
    val sBad = QualityModel.scoreText("click here buy cheap pills now", m)
    assert(sGood > 0.7 && sBad < 0.3, s"good=$sGood bad=$sBad")
    // micro-unit gradient sums make the weights partition-invariant
    val m2 = QualityModel.trainDistributed(df.repartition(7), dim = 256,
      epochs = 40, lr = 2.0)
    assert(m2.weights.toSeq == m.weights.toSeq && m2.bias == m.bias)
    // and empty input yields the zero model
    val empty = Seq.empty[(Long, String, Double)].toDF("doc_id", "text", "label")
    val mE = QualityModel.trainDistributed(empty, dim = 16)
    assert(mE.weights.forall(_ == 0.0) && mE.bias == 0.0)
  }

  test("quality trainer: a binding sampleCap still draws the (hashUnit, id)-ordered head") {
    val docs = (1L to 40L).map(i =>
      (i, s"tok$i quality sample text ${i % 7}", (i % 2).toDouble))
      .toDF("doc_id", "text", "label")
    // capped run == training on the pre-limited deterministic sample (the
    // corpus-fits-under-cap fast path must not have changed the draw)
    val mCap = graft.llm.QualityModel.trainDistributed(docs, dim = 64,
      epochs = 3, lr = 0.5, sampleCap = 17)
    val pre = docs
      .orderBy(graft.llm.Corpus.hashUnit(col("doc_id"), 42L), col("doc_id"))
      .limit(17)
    val mRef = graft.llm.QualityModel.trainDistributed(pre, dim = 64,
      epochs = 3, lr = 0.5, sampleCap = 1000)
    assert(mCap.weights.toSeq == mRef.weights.toSeq && mCap.bias == mRef.bias)
  }

  test("ngram LM: training counts, backoff scoring vs reference, partition invariance") {
    import graft.llm.NgramLm
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ate the fish"),
      (3L, "zyx wvu tsr")).toDF("doc_id", "text")
    // model counts are exact
    val m = NgramLm.train(docs, n = 2)
    val counts = m.as[(String, Int, Long)].collect()
      .map { case (g, k, c) => (g, k) -> c }.toMap
    assert(counts(("the", 1)) == 4L && counts(("cat", 1)) == 2L &&
      counts(("the cat", 2)) == 2L && counts(("", 0)) == 14L)
    // driver-side reference of the pinned semantics
    val all = Seq((1L, "the cat sat on the mat"), (2L, "the cat ate the fish"),
      (3L, "zyx wvu tsr"))
    val toks = all.flatMap(_._2.split(" ").filter(_.nonEmpty))
    val nTot = toks.size
    val uni = toks.groupBy(identity).view.mapValues(_.size).toMap
    val big = all.flatMap(_._2.split(" ").filter(_.nonEmpty).sliding(2)
        .filter(_.length == 2).map(_.mkString(" ")))
      .groupBy(identity).view.mapValues(_.size).toMap
    def ref(text: String): (Long, Double) = {
      val tk = text.split(" ").filter(_.nonEmpty)
      val terms = tk.indices.map { i =>
        val s =
          if (i >= 1 && big.contains(tk(i - 1) + " " + tk(i)))
            big(tk(i - 1) + " " + tk(i)).toDouble / uni(tk(i - 1))
          else {
            val base = uni.get(tk(i)).map(_.toDouble / nTot)
              .getOrElse(1.0 / nTot)
            base * (if (i >= 1) 0.4 else 1.0)
          }
        val t = math.log(s) / math.log(10) * 1e6
        if (t >= 0) math.floor(t + 0.5).toLong
        else -math.floor(-t + 0.5).toLong
      }
      val sc = -terms.sum.toDouble / (tk.length * 1e6)
      (tk.length.toLong, math.floor(sc * 1e6 + 0.5) / 1e6)
    }
    val want = all.map { case (id, t2) => id -> ref(t2) }.toMap
    val got = NgramLm.score(docs, m, n = 2)
      .as[(Long, Long, Double)].collect()
      .map { case (id, n2, s2) => id -> ((n2, s2)) }.toMap
    assert(got == want, s"got=$got want=$want")
    // fluent text (seen bigrams) scores lower than the gibberish-vocab doc
    assert(got(1L)._2 < got(3L)._2 && got(2L)._2 < got(3L)._2)
    // partition invariance (integer micro-terms)
    val again = NgramLm.score(docs.repartition(7),
        NgramLm.train(docs.repartition(3), n = 2), n = 2)
      .as[(Long, Long, Double)].collect()
      .map { case (id, n2, s2) => id -> ((n2, s2)) }.toMap
    assert(again == got)
    // the model artifact round-trips
    val dir = tmpDir("ngramlm") + "/m"
    NgramLm.save(m, dir)
    val l = NgramLm.load(spark, dir)
    assert(l.as[(String, Int, Long)].collect().sorted.toSeq ==
      m.as[(String, Int, Long)].collect().sorted.toSeq)
  }

  test("DSIR weights: target-like docs score positive, background negative, empty target empties") {
    import graft.llm.NgramLm
    // target domain = the "en"-tagged slice; doc 10 is pure target
    // phrasing, doc 11 pure background, doc 12 mixed
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog sat too", "en"),
      (2L, "the dog ran to the cat and sat on the mat", "en"),
      (3L, "uno dos tres cuatro cinco seis siete ocho nueve", "es"),
      (4L, "uno dos tres catorce quince uno dos tres cuatro", "es"),
      (10L, "the cat sat on the mat", "und"),
      (11L, "uno dos tres cuatro cinco", "und"),
      (12L, "the cat uno dos", "und")).toDF("doc_id", "text", "lang")
    val target = NgramLm.train(docs.where(col("lang") === "en"), n = 2)
    val raw = NgramLm.train(docs, n = 2)
    val w = NgramLm.dsirWeights(docs, target, raw)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(w.keySet == Set(1L, 2L, 3L, 4L, 10L, 11L, 12L))
    // pure-target doc looks MORE probable under the target model than the
    // background mix; pure-background looks less; ordering holds
    assert(w(10L) > 0, s"target doc not up-weighted: $w")
    assert(w(11L) < 0, s"background doc not down-weighted: $w")
    assert(w(10L) > w(12L) && w(12L) > w(11L), s"ordering: $w")
    // empty target slice → no distribution → empty relation, never 1/0
    val none = NgramLm.dsirWeights(docs,
      NgramLm.train(docs.where(col("lang") === "xx"), n = 2), raw)
    assert(none.collect().isEmpty)
    assert(none.columns.toSeq == Seq("doc_id", "n_tok", "dsir_logratio"))
  }

  test("ngram LM: scoring plan reads the corpus ONCE at n=3 (folded boundary legs)") {
    import graft.llm.NgramLm
    val dir = tmpDir("lmscan")
    Seq((1L, "a b c d e a b c"), (2L, "a b"), (3L, "c"), (4L, ""))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir + "/docs")
    val docs = spark.read.parquet(dir + "/docs")
    // train eagerly (score localCheckpoints the model, so no training scan
    // survives into the scoring plan)
    val scored = NgramLm.score(docs, NgramLm.train(docs, n = 3), n = 3)
    val rows = scored.as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // semantics spot-check at n=3: every position of every non-empty doc
    // scores (doc 2 has 2 tokens — boundary-only; doc 4 is dropped)
    assert(rows.keySet == Set(1L, 2L, 3L) && rows(1L)._1 == 8L && rows(2L)._1 == 2L)
    // a doc made of seen trigrams scores as more fluent than a 1-token doc
    assert(rows(1L)._2 < rows(3L)._2)
    // the position relation is ONE corpus scan: boundary prefixes ride the
    // same exploded array as the order-n grams (pre-fold: n scans at order n)
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
    assert(fileScans(scored.queryExecution.executedPlan) == 1,
      scored.queryExecution.executedPlan.toString)
    // training too: all n orders share one explode + one keyed aggregate,
    // and the total-token leg re-reads that exchange (ReuseExchange) —
    // one corpus scan at any order, where the per-order union form paid n
    val model = NgramLm.train(docs, n = 3)
    model.collect()
    assert(fileScans(model.queryExecution.executedPlan) == 1,
      model.queryExecution.executedPlan.toString)
    // the model joins broadcast DISJOINT per-order slices — n exchanges
    // whose hash tables sum to one model copy — and every broadcast is
    // fed by the CHECKPOINT scan: no file scan (i.e. no re-run of
    // training) hides inside any broadcast subtree.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def broadcasts(p: SparkPlan): Seq[BroadcastExchangeExec] = {
      val self = p match {
        case b: BroadcastExchangeExec => Seq(b)
        case _ => Seq.empty
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self ++ kids.flatMap(broadcasts)
    }
    val bx = broadcasts(scored.queryExecution.executedPlan)
    assert(bx.size == 3, // one per order at n = 3
      s"expected 3 per-order broadcasts:\n${scored.queryExecution.executedPlan}")
    bx.foreach(b => assert(fileScans(b) == 0,
      s"a broadcast subtree re-scans files (training re-run):\n$b"))
  }

  test("temperature mixing rates: tau endpoints, budget calibration, feeds mixWeighted") {
    import graft.llm.Corpus
    // three sources with 10:3:1 token volumes
    val docs = ((0 until 1000).map(i => (i.toLong, "a b c d e", "big")) ++
      (1000 until 1300).map(i => (i.toLong, "a b c d e", "mid")) ++
      (1300 until 1400).map(i => (i.toLong, "a b c d e", "small")))
      .toDF("doc_id", "text", "source")
    val tok = org.apache.spark.sql.functions.size(split(col("text"), " "))
    // tau = 1: natural proportions → every source gets the SAME rate
    val r1 = Corpus.mixRates(docs, tok, budget = 3500L, "source", 1.0)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(r1.values.toSet.size == 1 && math.abs(r1("big") - 0.5) < 1e-6, r1.toString)
    // tau = 0: uniform weights → rate inversely proportional to volume
    val r0 = Corpus.mixRates(docs, tok, budget = 1500L, "source", 0.0)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(math.abs(r0("big") * 5000 - 500.0) < 1e-2 &&
      math.abs(r0("small") * 500 - 500.0) < 1e-2, r0.toString)
    // small sources cap at 1.0 — never over-sampled
    assert(r0("small") == 1.0)
    // 0 < tau < 1 lands between: big downsampled less than uniform, small
    // boosted relative to natural
    val r7 = Corpus.mixRates(docs, tok, budget = 3500L, "source", 0.7)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(r7("small") > r7("mid") && r7("mid") > r7("big"), r7.toString)
    // expected sampled volume ≈ budget (within capping error)
    val exp = Seq("big" -> 5000L, "mid" -> 1500L, "small" -> 500L)
      .map { case (s, n) => r7(s) * n }.sum
    assert(math.abs(exp - 3500.0) < 40.0, s"expected tokens $exp")
    // the rates table drives mixWeighted end to end
    val kept = Corpus.mixWeighted(docs, r7).count()
    assert(kept > 500 && kept < 900, s"kept $kept docs")
  }

  test("trainers degrade gracefully on an empty corpus") {
    import graft.llm.{Bpe, NgramLm, QualityModel}
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // BPE: no words → no merges (not an exception or a junk merge)
    assert(Bpe.train(empty, numMerges = 10) == Seq.empty)
    // LM: the model is just the N=0 total row; no gram rows
    val m = NgramLm.train(empty, n = 2).as[(String, Int, Long)].collect()
    assert(m.toSeq == Seq(("", 0, 0L)))
    // classifier: zero updates → zero weights, bias 0 → every score 0.5
    val qm = QualityModel.trainDistributed(
      empty.withColumn("label", lit(1.0)), dim = 16, epochs = 2)
    assert(qm.weights.forall(_ == 0.0) && qm.bias == 0.0)
    assert(QualityModel.scoreText("anything at all", qm) == 0.5)
    // scoring an empty doc relation under any model yields an empty result
    assert(NgramLm.score(empty, NgramLm.train(
      Seq((1L, "a b")).toDF("doc_id", "text"), n = 2), n = 2).count() == 0L)
  }

  test("hash draws scatter sequential ids — no arithmetic-progression stride") {
    import graft.llm.Corpus
    val draws = spark.range(1000)
      .select(Corpus.hashUnit(col("id"), 42L).as("u")).as[Double].collect()
    assert(math.abs(draws.sum / 1000 - 0.5) < 0.05) // roughly uniform
    // a bare affine map gives consecutive ids a CONSTANT stride mod 1 (one
    // or two distinct gap values over the whole range); the mix32 round
    // must scatter them
    val gaps = draws.sliding(2)
      .map { p => val g = p(1) - p(0); if (g < 0) g + 1 else g }
      .map(g => math.round(g * 1e9)).toSet
    assert(gaps.size > 900, s"only ${gaps.size} distinct strides in 999 gaps")
  }

  test("stratified sampling caps every stratum, is partition-invariant, and plans a group limit") {
    import graft.llm.Corpus
    val docs = (0 until 1000).map(i =>
      (i.toLong, s"src${i % 4}", if (i % 10 == 0) "fr" else "en", "txt"))
      .toDF("doc_id", "source", "lang", "text")
    val got = Corpus.sampleStratified(docs, n = 30, strataCol = "lang")
    val counts = got.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts == Map("en" -> 30L, "fr" -> 30L))
    val a = got.select("doc_id").as[Long].collect().toSet
    val b = Corpus.sampleStratified(docs.repartition(7), n = 30, strataCol = "lang")
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
    // the rank filter must reach the planner as a WindowGroupLimit: each
    // task keeps its local top-n per stratum BEFORE the exchange, so the
    // shuffle never carries the corpus
    assert(got.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("PII redaction scrubs emails, IPs, and phone runs with typed placeholders") {
    val rows = Seq(
      "contact alice.smith+dev@example.co.uk or bob@test.org today",
      "server at 192.168.1.254 responded",
      "call +1 415 555 0137 or (020) 7946-0958 now",
      "clean text stays clean 42")
      .toDF("text")
    val got = rows.select(TextStats.redactPii(col("text")).as("t"))
      .as[String].collect().toSeq
    assert(got(0) == "contact <EMAIL> or <EMAIL> today")
    assert(got(1) == "server at <IP> responded")
    assert(got(2).contains("<PHONE>") && !got(2).exists(_.isDigit))
    assert(got(3) == "clean text stays clean 42")
  }

  test("decontamination flags benchmark n-gram overlap via a broadcast probe") {
    val evalSet = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val train = Seq(
      (10L, "announcement the quick brown fox jumps over a fence today"), // 5-gram overlap
      (11L, "completely unrelated text about spark shuffles and joins"),
      (12L, "the quick brown fox jumps over the lazy dog verbatim copy")) // many overlaps
      .toDF("doc_id", "text")
    val flagged = Dedup.decontaminate(train, evalSet)
      .as[(Long, Long)].collect().toMap
    assert(flagged.keySet == Set(10L, 12L))
    assert(flagged(12L) > flagged(10L)) // verbatim copy overlaps more shingles
    // the eval side must be the broadcast build side — the training corpus
    // never shuffles for this operator
    val plan = Dedup.decontaminate(train, evalSet)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("bloom decontamination: no false negatives, deterministic false positives") {
    val evalSet = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val train = Seq(
      (10L, "announcement the quick brown fox jumps over a fence today"),
      (11L, "completely unrelated text about spark shuffles and joins"),
      (12L, "the quick brown fox jumps over the lazy dog verbatim copy"),
      (13L, "more filler prose that shares nothing with the benchmark suite"))
      .toDF("doc_id", "text")

    // at a roomy m the bloom agrees with the exact set — including counts
    val exact = Dedup.decontaminate(train, evalSet)
      .as[(Long, Long)].collect().toMap
    val bloom = Dedup.decontaminateBloom(train, evalSet)
      .as[(Long, Long)].collect().toMap
    assert(bloom == exact)

    // a deliberately tiny filter (64 bits, every probe collides) must still
    // contain every exact hit — bloom misses are impossible by construction
    val tiny = Dedup.decontaminateBloom(train, evalSet, mBits = 64, k = 2)
      .as[(Long, Long)].collect().toMap
    assert(exact.keySet.subsetOf(tiny.keySet))
    exact.foreach { case (id, n) => assert(tiny(id) >= n) } // fp only inflate

    // determinism: the OR-fold is partition-order independent — the same
    // tiny filter (false positives included) from a repartitioned eval side
    val tinyShuffled = Dedup.decontaminateBloom(train, evalSet.repartition(7),
      mBits = 64, k = 2).as[(Long, Long)].collect().toMap
    assert(tinyShuffled == tiny)

    // the probe side stays shuffle-free: single-row bitmap is broadcast
    val plan = Dedup.decontaminateBloom(train, evalSet)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("connected components resolve near-dup chains into clusters") {
    // path graph 1-2-3-4 (diameter 3: needs >1 propagation round),
    // pair 10-11, triangle-ish 20-21-22
    val edges = Seq((2L, 3L), (1L, 2L), (10L, 11L), (20L, 21L), (21L, 22L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // keeper-per-component composes with exact stats: one keep per cluster
    val keepers = Dedup.connectedComponents(edges)
      .groupBy("component").agg(min("id").as("keep_id"))
      .as[(Long, Long)].collect().toMap
    assert(keepers == Map(1L -> 1L, 10L -> 10L, 20L -> 20L))
  }

  test("pairs index: one kernel build, bucket probe prunes partitions, load round-trips") {
    // 20 identical docs (one near-dup clique) + 2 unrelated: the pair
    // relation spans many doc_a % 16 buckets, so a one-bucket probe must
    // read STRICTLY fewer partition files than the layout holds.
    val corpus = ((0 until 20).map(i => (i.toLong, base)) :+
      (100L, "unrelated words entirely " * 10) :+
      (101L, "другой corpus altogether distinct " * 10)).toDF("doc_id", "text")
    val dir = tmpDir("pairsidx")
    val idx = graft.llm.PairsIndex.build(corpus, dir, nBuckets = 16)
    // layout parity: the persisted relation IS the direct kernel's
    val direct = Dedup.ngramJaccard(corpus)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val stored = idx.pairs(spark)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(stored == direct && stored.nonEmpty)
    // bucket probe: same rows as filtering the full relation... (collect
    // through the SAME Dataset — .as[...] would re-plan and zero metrics)
    val probed = idx.probeBucket(spark, 3L)
    val got = probed.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(got == direct.filter(_._1 % 16 == 3) && got.nonEmpty)
    // ...via a partition filter that reads fewer files than the layout
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val self = p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case other => other.children
      }
      self ++ kids.flatMap(scans)
    }
    val pScans = scans(probed.queryExecution.executedPlan)
    assert(pScans.nonEmpty && pScans.forall(_.partitionFilters.nonEmpty),
      s"no partition filter on the pairs scan:\n${probed.queryExecution.executedPlan}")
    val filesRead = pScans.map(_.metrics("numFiles").value).sum
    val totalFiles = new java.io.File(dir + "/pairs").listFiles()
      .filter(_.getName.startsWith("pb="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    assert(filesRead > 0 && filesRead < totalFiles,
      s"probe read $filesRead of $totalFiles files — no pruning")
    // components persisted at build = direct propagation over the pairs
    val ccDirect = Dedup.connectedComponents(
      idx.pairs(spark)).as[(Long, Long)].collect().toMap
    val loaded = graft.llm.PairsIndex.load(spark, dir)
    assert(loaded.nBuckets == 16)
    val ccStored = loaded.components(spark).as[(Long, Long)].collect().toMap
    assert(ccStored == ccDirect && ccStored.values.toSet == Set(0L))
  }

  test("pairs index append: increment equals rebuild, idempotent, components re-resolve") {
    import graft.llm.PairsIndex
    // shared 40-char block prefixes so docs co-block; distinct word tails
    // so Jaccard varies. A = history, B and C = two later crawls; B5001 is
    // a near-copy of history doc 1 (cross-batch pair), B5002 of B5001
    // (intra-batch pair), C6001 of B5001 (increment-to-increment pair —
    // found through the APPENDED sigs, proving increments join history).
    val pre = "shared prefix block for the append test pad "
    def doc(words: String) = pre + words
    val a = Seq(
      (1L, doc("alpha beta gamma delta epsilon zeta eta theta iota kappa")),
      (2L, doc("alpha beta gamma delta epsilon zeta eta theta iota QQQ")),
      (3L, doc("totally different words one two three four five six seven")),
      (4L, doc("mars venus jupiter saturn neptune uranus mercury pluto moon sun")))
      .toDF("doc_id", "text")
    val b = Seq(
      (5001L, doc("alpha beta gamma delta epsilon zeta eta theta iota kapZa")),
      (5002L, doc("alpha beta gamma delta epsilon zeta eta theta iota kapZa")),
      (5003L, doc("nothing in common with anything else here at all really")))
      .toDF("doc_id", "text")
    val c = Seq(
      (6001L, doc("alpha beta gamma delta epsilon zeta eta theta iota kapZa")))
      .toDF("doc_id", "text")
    val dir = tmpDir("pairsinc")
    val idx = PairsIndex.build(a, dir, nBuckets = 8)
    PairsIndex.append(idx, b, batchId = 1L)
    def pairSet(i: PairsIndex.Index) =
      i.pairs(spark).as[(Long, Long, Double)].collect().toSet
    def compMap(i: PairsIndex.Index) =
      i.components(spark).as[(Long, Long)].collect().toMap
    val fullAb = PairsIndex.build(a.unionByName(b), tmpDir("pairsfull"), nBuckets = 8)
    assert(pairSet(idx) == pairSet(fullAb) && pairSet(idx).nonEmpty,
      s"append != rebuild: ${pairSet(idx)} vs ${pairSet(fullAb)}")
    assert(compMap(idx) == compMap(fullAb))
    // cross-batch, intra-batch, and far-pair structure all present
    val ids = pairSet(idx).map(p => (p._1, p._2))
    assert(ids.contains((1L, 5001L)) && ids.contains((5001L, 5002L)))
    // idempotent: a crashed-and-replayed batch overwrites itself
    PairsIndex.append(idx, b, batchId = 1L)
    assert(pairSet(idx) == pairSet(fullAb))
    // a second increment pairs against BOTH history and increment 1
    PairsIndex.append(idx, c, batchId = 2L)
    val fullAbc = PairsIndex.build(a.unionByName(b).unionByName(c),
      tmpDir("pairsfull2"), nBuckets = 8)
    assert(pairSet(idx) == pairSet(fullAbc))
    assert(compMap(idx) == compMap(fullAbc))
    assert(pairSet(idx).map(p => (p._1, p._2)).contains((5001L, 6001L)))
    // probeBucket unions increments with the same pb partition semantics
    val probed = idx.probeBucket(spark, 5001L % 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(probed == pairSet(idx).filter(_._1 % 8 == 5001L % 8) && probed.nonEmpty)
    // reuse loader still works and Curation-style load sees the increments
    val reloaded = PairsIndex.loadIfPresent(spark, dir).get
    assert(pairSet(reloaded) == pairSet(fullAbc))
    // hot-block guard: with maxBlock=2 the shared-prefix block goes hot on
    // append; an EXACT copy still pairs (identical hashed sets band
    // identically, the pigeonhole the banded path guarantees)
    val dirHot = tmpDir("pairshot")
    val hotIdx = PairsIndex.build(a, dirHot, nBuckets = 8, maxBlock = 2)
    PairsIndex.append(hotIdx, b, batchId = 1L)
    val hotIds = pairSet(hotIdx).map(p => (p._1, p._2))
    assert(hotIds.contains((5001L, 5002L)), s"hot-block exact pair lost: $hotIds")
    // compaction folds both increments into the base: same relation, the
    // increment dirs gone, and a fresh append still works afterwards
    val before = pairSet(idx)
    PairsIndex.compact(idx)
    assert(pairSet(idx) == before)
    assert(!new java.io.File(dir + "/pairs_inc").exists &&
      !new java.io.File(dir + "/sigs_inc").exists)
    assert(pairSet(PairsIndex.load(spark, dir)) == before)
    // compact is idempotent, and recover on a healthy index is a no-op
    PairsIndex.compact(idx)
    assert(pairSet(idx) == before)
    assert(!PairsIndex.recover(spark, dir))
    // post-compact append: increments stack on the compacted base
    PairsIndex.append(idx, Seq(
        (7001L, doc("alpha beta gamma delta epsilon zeta eta theta iota kapZa")))
      .toDF("doc_id", "text"), batchId = 3L)
    assert(pairSet(idx).map(p => (p._1, p._2)).contains((6001L, 7001L)))
    // crash healing: simulate a crash AFTER the pairs swap but BEFORE the
    // increment delete by re-creating a duplicate increment of the base's
    // own rows — a re-run of compact collapses the double-count
    val healthy = pairSet(idx)
    val dup = idx.pairs(spark).limit(2).localCheckpoint()
    graft.core.Layouts.writePartitioned(
      dup.withColumn("pb", org.apache.spark.sql.functions.pmod(
        col("doc_a"), lit(8L))), dir + "/pairs_inc/b99", "pb")
    PairsIndex.compact(idx)
    assert(pairSet(idx) == healthy &&
      pairSet(PairsIndex.load(spark, dir)) == healthy)
  }

  test("pairs index rebuild-over-existing: crash-safe swap, recover restores every interrupted state") {
    import java.io.File
    import graft.llm.PairsIndex
    def mv(a: String, b: String) = assert(new File(a).renameTo(new File(b)))
    val docs = ((0 until 6).map(i => (i.toLong, base)) :+
      (50L, "wholly unrelated corpus text " * 10)).toDF("doc_id", "text")
    val dir = tmpDir("pairsswap") + "/idx"
    val idx = PairsIndex.build(docs, dir, nBuckets = 4)
    def pairSet(i: PairsIndex.Index) =
      i.pairs(spark).as[(Long, Long, Double)].collect().toSet
    val v1 = pairSet(idx)
    // rebuild over the existing layout: same relation, no leftover siblings
    val v2 = pairSet(PairsIndex.build(docs, dir, nBuckets = 4))
    assert(v2 == v1)
    assert(!new File(dir + "_rebuilding").exists && !new File(dir + "_prebuild").exists)
    // crash state A: died between rename(root->aside) and rename(tmp->root)
    // — root gone, old index parked at _prebuild. recover restores the OLD
    // index (conservative: the interrupted rebuild is simply discarded).
    mv(dir, dir + "_prebuild")
    assert(PairsIndex.loadIfPresent(spark, dir).isEmpty) // mid-crash: absent, a reuse caller would rebuild
    assert(PairsIndex.recover(spark, dir))
    assert(pairSet(PairsIndex.load(spark, dir)) == v1)
    assert(!new File(dir + "_prebuild").exists)
    // crash state B: root gone, no aside, COMPLETE sibling (meta present)
    // — recover promotes the finished rebuild
    mv(dir, dir + "_rebuilding")
    assert(PairsIndex.recover(spark, dir))
    assert(pairSet(PairsIndex.load(spark, dir)) == v1)
    // crash state C: healthy root plus a stale INCOMPLETE sibling (no
    // meta — died mid-write) — recover clears the litter, root untouched
    val stale = new File(dir + "_rebuilding")
    assert(stale.mkdirs())
    assert(PairsIndex.recover(spark, dir))
    assert(!stale.exists && pairSet(PairsIndex.load(spark, dir)) == v1)
    // healthy layout: recover is a no-op
    assert(!PairsIndex.recover(spark, dir))
  }

  test("PCA: planted direction recovered, orthonormal components, eigen residual tiny") {
    // planted anisotropy in 8 dims: variance ~9 along u = e0+e1 (normalized),
    // ~1 along e2, ~0.01 elsewhere — deterministic pseudo-noise
    val invSqrt2 = 1.0 / math.sqrt(2)
    val vecs = (0 until 400).map { i =>
      def n(k: Int) = (((i * 2654435761L + k * 40503L) % 2001) - 1000) / 1000.0
      val a = 3.0 * n(1); val b = 1.0 * n(2)
      val v = Array.tabulate(8)(d => 0.1 * n(3 + d))
      v(0) += a * invSqrt2; v(1) += a * invSqrt2; v(2) += b
      (i.toLong, v.toSeq)
    }
    val embs = vecs.toDF("vec_id", "embedding")
    val m = Similarity.pca(embs, k = 3)
    assert(m.eigenvalues.length == 3 && m.components.length == 3)
    // eigenvalues descending and separated as planted
    assert(m.eigenvalues(0) > m.eigenvalues(1) &&
      m.eigenvalues(1) > m.eigenvalues(2))
    assert(m.eigenvalues(0) > 4 * m.eigenvalues(1), m.eigenvalues.toSeq.toString)
    // first component aligns with the planted direction
    val c0 = m.components(0)
    val align = math.abs(c0(0) * invSqrt2 + c0(1) * invSqrt2)
    assert(align > 0.99, s"PC1 misaligned: $align ${c0.toSeq}")
    // orthonormality
    for (a <- 0 until 3; b <- a until 3) {
      val dot = (0 until 8).map(i => m.components(a)(i) * m.components(b)(i)).sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"<$a,$b> = $dot")
    }
    // C v = lambda v within tolerance, against the exact covariance
    val cov = Array.ofDim[Double](8, 8)
    Similarity.covariance(embs).collect().foreach { r =>
      cov(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getDouble(2)
      cov(r.getLong(1).toInt)(r.getLong(0).toInt) = r.getDouble(2)
    }
    for (e <- 0 until 3) {
      val v = m.components(e)
      val cv = (0 until 8).map(i => (0 until 8).map(j => cov(i)(j) * v(j)).sum)
      val resid = math.sqrt((0 until 8).map(i =>
        math.pow(cv(i) - m.eigenvalues(e) * v(i), 2)).sum)
      assert(resid < 1e-6, s"eigen residual $e: $resid")
    }
    // projection: one value per (vector, component); PC1 variance dominates
    val proj = Similarity.pcaProject(embs, m)
      .as[(Long, Long, Double)].collect()
    assert(proj.length == 400 * 3)
    def varOf(pc: Long) = {
      val xs = proj.filter(_._2 == pc).map(_._3)
      val mu = xs.sum / xs.length
      xs.map(x => (x - mu) * (x - mu)).sum / xs.length
    }
    assert(varOf(0) > 4 * varOf(1) && varOf(1) > varOf(2),
      s"projected variances ${varOf(0)} ${varOf(1)} ${varOf(2)}")
  }

  test("Mahalanobis outliers: low-variance-direction vector flagged, big on-axis vector not") {
    val invSqrt2 = 1.0 / math.sqrt(2)
    // bulk cloud: big variance along e0+e1, tiny (0.03-scale noise) elsewhere
    val bulk = (0 until 300).map { i =>
      def nz(k: Int) = (((i * 2654435761L + k * 40503L) % 2001) - 1000) / 1000.0
      val a = 3.0 * nz(1)
      val v = Array.tabulate(8)(d => 0.03 * nz(2 + d))
      v(0) += a * invSqrt2; v(1) += a * invSqrt2
      (i.toLong, v.toSeq)
    }
    // 900: HUGE along the dominant direction — ordinary in whitened space;
    // 901: modest norm 0.6 along e5 (a ~0.017-sigma direction) — way out
    val onAxis = (900L, Array.tabulate(8)(d =>
      if (d <= 1) 4.0 * invSqrt2 else 0.0).toSeq)
    val offAxis = (901L, Array.tabulate(8)(d =>
      if (d == 5) 0.6 else 0.0).toSeq)
    val embs = (bulk :+ onAxis :+ offAxis).toDF("vec_id", "embedding")
    val flagged = Similarity.mahalanobisOutliers(embs, k = 8, threshold = 6.0)
      .as[(Long, Double)].collect().toMap
    assert(flagged.contains(901L), s"off-axis outlier missed: $flagged")
    assert(!flagged.contains(900L), s"on-axis vector wrongly flagged: $flagged")
    // and the euclidean norms ORDER THE OTHER WAY — the point of whitening
    assert(math.sqrt(4.0 * 4.0) > 0.6)
    // bulk false-positive rate stays low
    assert(flagged.keySet.count(_ < 300L) < 15, flagged.keySet.toString)
  }

  test("generalizeUntilK walks the ladder to the first satisfying level") {
    import graft.analytics.Privacy
    import graft.analytics.Privacy.GenLevel
    def levels = Seq(
      GenLevel(0, Seq("a" -> col("a"), "b" -> col("b"))),
      GenLevel(1, Seq("a" -> col("a"), "b" -> lit("*"))),
      GenLevel(2, Seq("a" -> lit("*"), "b" -> lit("*"))))
    // (a, b) has a singleton cell; (a, *) gives 3 + 3 — k = 3 picks level 1
    val df = Seq(("x", "p"), ("x", "p"), ("x", "q"),
      ("y", "p"), ("y", "p"), ("y", "p")).toDF("a", "b")
    val r1 = Privacy.generalizeUntilK(df, levels, k = 3)
      .as[(Int, String, String, Long)].collect().toSet
    assert(r1 == Set((1, "x", "*", 3L), (1, "y", "*", 3L)), r1.toString)
    // k = 2: level 0 still violates (the 'x q' singleton); k = 1 stops at 0
    val r0 = Privacy.generalizeUntilK(df, levels, k = 2)
      .select("level").distinct().as[Int].collect().toSeq
    assert(r0 == Seq(1))
    // k beyond any lang group forces full suppression (one total-count row)
    val r2 = Privacy.generalizeUntilK(df, levels, k = 5)
      .as[(Int, String, String, Long)].collect().toSet
    assert(r2 == Set((2, "*", "*", 6L)), r2.toString)
    // empty extract: trivially anonymous at the FIRST level, zero rows
    val r3 = Privacy.generalizeUntilK(df.limit(0), levels, k = 3)
    assert(r3.select("level").distinct().as[Int].collect().isEmpty &&
      r3.columns.toSeq == Seq("level", "a", "b", "n"))
  }

  test("dp top-k: peeling selection is deterministic, distinct, count-responsive") {
    import graft.analytics.Privacy
    // one dominant item: with eps high enough the utility term must win
    // round 1 regardless of the Gumbel draws (score gap > any realized
    // noise), and the k winners are distinct by construction
    val df = (Seq.fill(500)("big") ++ Seq.fill(3)("s1") ++
      Seq.fill(2)("s2") ++ Seq.fill(1)("s3")).toDF("item")
    val out = Privacy.dpTopK(df, "item", k = 3, eps = 6.0)
      .as[(Int, String)].collect().toSeq.sortBy(_._1)
    assert(out.map(_._1) == Seq(1, 2, 3))
    assert(out.map(_._2).distinct.size == 3)
    assert(out.head._2 == "big") // ε/(2k)·500 = 500 dominates any Gumbel
    // replay determinism: same seed, same release
    val again = Privacy.dpTopK(df, "item", k = 3, eps = 6.0)
      .as[(Int, String)].collect().toSeq.sortBy(_._1)
    assert(again == out)
    // fewer items than k: release every item, then stop
    val tiny = Seq("a", "a", "b").toDF("item")
    assert(Privacy.dpTopK(tiny, "item", k = 5).count() == 2L)
  }

  test("t-closeness: total-variation distance per group, absent values folded") {
    import graft.analytics.Privacy
    // group A (4 rows): en 1, fr 3 → p=(.25,.75) vs global (.6,.4) → d=.35
    // group B (6 rows): en 5, fr 1 → p=(5/6,1/6)             → d=.233333
    val df = (Seq.fill(1)(("A", "en")) ++ Seq.fill(3)(("A", "fr")) ++
      Seq.fill(5)(("B", "en")) ++ Seq.fill(1)(("B", "fr")))
      .toDF("source", "lang")
    val out = Privacy.tCloseness(df, Seq("source"), "lang", t = 0.3)
      .as[(Long, Long, Double)].collect().head
    assert(out == ((2L, 1L, 0.35)))
    // a group missing a global value entirely: the closed-form fold
    // (c_v·N_g term) must count it — C holds only "de"
    val df2 = df.union(Seq.fill(2)(("C", "de")).toDF("source", "lang"))
    // global now en 6/12, fr 4/12, de 2/12; C p=(0,0,1) → d = ½(6+4+10)/12
    val out2 = Privacy.tCloseness(df2, Seq("source"), "lang", t = 0.9)
      .as[(Long, Long, Double)].collect().head
    assert(out2._1 == 3L &&
      out2._3 == math.floor(10.0 / 12 * 1e6 + 0.5) / 1e6)
  }

  test("t-closeness: NULL sensitive values and NULL quasi keys are real groups") {
    import graft.analytics.Privacy
    // NULL is a sensitive VALUE here (e.g. a masked lang): group A is all
    // NULL-lang, group B is all en. N=4, global p = (null: .5, en: .5);
    // each group is (1, 0) → d = 0.5 for BOTH. An equi-join would drop
    // the null rows from A's sum and report d(A) wrong.
    val df = (Seq.fill(2)(("A", null: String)) ++ Seq.fill(2)(("B", "en")))
      .toDF("source", "lang")
    val out = Privacy.tCloseness(df, Seq("source"), "lang", t = 0.4)
      .as[(Long, Long, Double)].collect().head
    assert(out == ((2L, 2L, 0.5)))
    // NULL quasi key: its rows form their own group (groupBy semantics)
    // and must survive the null-safe ng join — same distances as above
    // with a third all-"fr" null-keyed group. N=6, global (null:2, en:2,
    // fr:2)/6; each group (1,0,0) vs (1/3,1/3,1/3) → d = 2/3 everywhere.
    val df2 = df.union(Seq.fill(2)((null: String, "fr")).toDF("source", "lang"))
    val out2 = Privacy.tCloseness(df2, Seq("source"), "lang", t = 0.7)
      .as[(Long, Long, Double)].collect().head
    assert(out2._1 == 3L && out2._2 == 0L &&
      out2._3 == math.floor(2.0 / 3 * 1e6 + 0.5) / 1e6)
  }

  test("Curation.run front door: html extraction feeds the stages, url dedup drops refetches") {
    import graft.llm.Curation
    def words(tag: String, n: Int) = (1 to n).map(j => s"${tag}w$j").mkString(" ")
    // docs 1 and 2: the SAME page under two raw URLs (url dedup territory);
    // doc 3: distinct page whose text passes minWords ONLY after markup
    // strips (tags are not words)
    val corpus = Seq(
      (1L, s"<html><body><p>${words("a", 60)}</p></body></html>",
        "http://www.X.com:80/p?utm_source=s&id=1"),
      (2L, s"<html><body><p>${words("zz", 60)}</p></body></html>",
        "http://x.com/p?id=1"),
      (3L, s"<script>junk()</script><p>${words("b", 60)}</p>",
        "https://y.org/q")
    ).toDF("doc_id", "text", "url")
    val (out, rep) = Curation.run(corpus, tmpDir("cururl") + "/idx",
      htmlInput = true, urlCol = Some("url"))
    val byId = out.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rep.nAfterUrl == 2, rep.toString)      // refetch dropped FIRST
    assert(!byId.contains(2L) && byId.keySet == Set(1L, 3L))
    assert(byId(1L) == words("a", 60), byId(1L))  // markup gone from output
    assert(byId(3L) == words("b", 60))            // script never counted as words
    // front door OFF: the url refetch reaches the content stages
    // (different markup = different text, so exact dedup keeps all three)
    val (_, rep0) = Curation.run(corpus, tmpDir("cururl0") + "/idx")
    assert(rep0.nAfterUrl == -1L && rep0.nAfterExact == 3, rep0.toString)
  }

  test("Curation.run line filter: boilerplate-only differences hash away before exact dedup") {
    import graft.llm.Curation
    def sentence(tag: String) =
      (1 to 60).map(j => s"${tag}w$j").mkString(" ") + "."
    // docs 1 and 2: identical content except a no-punctuation boilerplate
    // line — the C4 stage cuts it, THEN exact dedup collapses the pair.
    // doc 3: only two surviving lines → drops at the line gate.
    val body = Seq(sentence("a"), sentence("b"), sentence("c"))
    val corpus = Seq(
      (1L, body.mkString("\n")),
      (2L, (body :+ "cookie banner boilerplate").mkString("\n")),
      (3L, Seq(sentence("x"), sentence("y"), "no punct tail").mkString("\n"))
    ).toDF("doc_id", "text")
    val (out, rep) = Curation.run(corpus, tmpDir("curc4") + "/idx",
      c4MinKeptLines = Some(3), minWords = 50)
    assert(rep.nAfterLines == 2, rep.toString)  // doc 3 under the line gate
    assert(rep.nAfterExact == 1, rep.toString)  // 1 and 2 now hash-equal
    val kept = out.select("doc_id", "text").as[(Long, String)].collect()
    assert(kept.toSeq == Seq((1L, body.mkString("\n"))))
    // gate OFF: the boilerplate line keeps the pair distinct
    val (_, rep0) = Curation.run(corpus, tmpDir("curc40") + "/idx",
      minWords = 50)
    assert(rep0.nAfterLines == -1L && rep0.nAfterExact == 3, rep0.toString)
  }

  test("Curation.run url dedup: null and blank URLs bypass the stage per-doc") {
    import graft.llm.Curation
    def words(tag: String, n: Int) = (1 to n).map(j => s"${tag}w$j").mkString(" ")
    // three DISTINCT pages with no usable URL (null, null, blank) plus one
    // genuine refetch pair — ONLY the refetch may drop at the URL stage
    // (pooling the URL-less docs into one window partition would silently
    // keep just the lowest id)
    val corpus = Seq(
      (1L, words("a", 60), null: String),
      (2L, words("b", 60), null: String),
      (3L, words("c", 60), ""),
      (4L, words("d", 60), "http://x.com/p?id=1"),
      (5L, words("e", 60), "HTTP://X.com:80/p?id=1")).toDF("doc_id", "text", "url")
    val (out, rep) = Curation.run(corpus, tmpDir("curnullurl") + "/idx",
      urlCol = Some("url"))
    assert(rep.nAfterUrl == 4, rep.toString)
    assert(out.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L))
  }

  test("Curation.run optional stages: span cut edits text in place, blocklist drops matchers") {
    import graft.llm.Curation
    def words(tag: String, n: Int) = (1 to n).map(j => s"${tag}w$j").mkString(" ")
    val t1 = words("a", 60)
    val span = (1 to 20).map(j => s"aw$j").mkString(" ")
    val t2 = words("b", 60) + " " + span // doc 1's first 20 words appended: below near-dup threshold, above the span window
    val t3 = words("c", 60) + " blocked"
    val corpus = Seq((1L, t1), (2L, t2), (3L, t3), (4L, words("d", 60)))
      .toDF("doc_id", "text")
    val (out, rep) = Curation.run(corpus, tmpDir("curopt") + "/idx",
      spanDedupK = Some(10), blocklist = Seq("blocked"))
    val byId = out.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rep.nAfterExact == 4 && rep.nAfterNearDup == 4, rep.toString)
    assert(byId(1L) == t1)                        // canonical text untouched
    assert(byId(2L) == words("b", 60), byId(2L))  // the copied span cut in place
    assert(rep.nSpanTokensCut == 20L, rep.toString)
    assert(!byId.contains(3L), byId.keySet)       // blocklist drop
    assert(rep.nAfterQuality == 4 && rep.nAfterBlocklist == 3, rep.toString)
    assert(byId(4L) == words("d", 60) && rep.nFinal == 3)
    // stages default OFF: same corpus, no span cut, doc 3 survives
    val (out0, rep0) = Curation.run(corpus, tmpDir("curopt0") + "/idx")
    assert(rep0.nSpanTokensCut == 0L && rep0.nAfterBlocklist == rep0.nAfterQuality)
    assert(out0.select("doc_id").as[Long].collect().toSet.contains(3L))
    assert(out0.where(col("doc_id") === 2L).select("text").as[String].head == t2)
  }

  test("Curation.run: every stage drops exactly its targets, report counts match") {
    import graft.llm.Curation
    def words(tag: String, n: Int) = (1 to n).map(j => s"${tag}w$j").mkString(" ")
    val bench = Seq((9000L, words("bench", 60))).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, words("a", 60)),               // survives everything
      (2L, words("a", 60)),               // EXACT dup of 1 → dropped at stage 1
      (3L, words("a", 59) + " azz"),      // NEAR dup of 1; 1 wins on quality tie rules
      (4L, words("b", 10)),               // too short → gopher drop
      (5L, words("bench", 60)),           // benchmark copy → decontaminated
      (6L, words("c", 60))                // survives everything
    ).toDF("doc_id", "text")
    val idxPath = tmpDir("curidx") + "/pairs_idx"
    val (out, rep) = Curation.run(corpus, idxPath, evalSet = Some(bench))
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(rep.nInput == 6 && rep.nAfterExact == 5)
    // near-dup stage drops ONE of {1, 3} (quality-ranked keeper)
    assert(rep.nAfterNearDup == 4)
    assert(rep.nAfterQuality == 3, rep.toString) // doc 4 fails word count
    assert(rep.nAfterDecontam == 2 && rep.nFinal == 2)
    assert(ids.contains(6L) && !ids.contains(2L) && !ids.contains(4L) &&
      !ids.contains(5L), ids.toString)
    assert((ids - 6L).subsetOf(Set(1L, 3L)) && (ids - 6L).size == 1)
    // with a token budget, the cut keeps the best-quality docs only
    val (out2, rep2) = Curation.run(corpus, tmpDir("curidx2") + "/pairs_idx",
      evalSet = Some(bench), tokenBudget = Some(60L))
    assert(rep2.nFinal >= 1 && rep2.nFinal <= 2 &&
      out2.count() == rep2.nFinal)
    // build-once/read-many: a SECOND run against the same pairs path must
    // REUSE the persisted index, not re-run the pair kernel — the meta
    // parquet (written last by the build) is untouched by run 2
    val metaDir = new java.io.File(idxPath + "/meta")
    def metaState() = metaDir.listFiles().map(f => (f.getName, f.lastModified))
      .toSeq.sortBy(_._1)
    val before = metaState()
    val (_, repAgain) = Curation.run(corpus, idxPath, evalSet = Some(bench))
    assert(metaState() == before, "pairs index was rebuilt on reuse")
    assert(repAgain.nFinal == rep.nFinal)
    // ...but a STALE index must NOT be reused: grow the corpus with a
    // fresh near-dup pair — the fingerprint mismatch forces a rebuild and
    // the new pair is resolved (one of docs 7/8 dropped at the near-dup
    // stage), instead of both sailing through on the old components
    val grown = corpus.unionByName(Seq(
      (7L, words("g", 60)),
      (8L, words("g", 59) + " gzz")).toDF("doc_id", "text"))
    val (outG, repG) = Curation.run(grown, idxPath, evalSet = Some(bench))
    assert(metaState() != before, "stale pairs index reused for a grown corpus")
    val gIds = outG.select("doc_id").as[Long].collect().toSet
    assert((gIds & Set(7L, 8L)).size == 1, s"new near-dup pair unresolved: $gIds")
    assert(repG.nAfterNearDup == repG.nAfterExact - 2) // 1-3 pair + 7-8 pair
    // an IN-PLACE content change (same ids, same count — one doc
    // re-fetched with different text) must also invalidate the index:
    // the fingerprint XORs content hashes, not just ids
    val changedState = metaState()
    val refetched = grown.withColumn("text",
      when(col("doc_id") === 6L, lit(words("q", 60))).otherwise(col("text")))
    Curation.run(refetched, idxPath, evalSet = Some(bench))
    assert(metaState() != changedState,
      "stale pairs index reused after an in-place content change")
  }

  test("VectorSumD aggregates elementwise with partial merge") {
    val df = Seq((1, Seq(1.0, 2.0)), (1, Seq(3.0, 4.0)), (2, Seq(10.0, 20.0)))
      .toDF("g", "v").repartition(3) // force partial buffers + merge
    val out = df.groupBy("g").agg(graft.functions.native.vecsum(col("v")).as("s"))
      .orderBy("g").as[(Int, Seq[Double])].collect().toSeq
    assert(out == Seq((1, Seq(4.0, 6.0)), (2, Seq(10.0, 20.0))))
    // empty group input → null, not a crash
    val empty = Seq.empty[(Int, Seq[Double])].toDF("g", "v")
      .groupBy("g").agg(graft.functions.native.vecsum(col("v")))
    assert(empty.count() == 0)
  }

  test("registerAll exposes tables to spark.sql") {
    graft.core.Tables.registerAll(spark, "/root/testdata/sf0.001")
    assert(spark.sql("SELECT count(*) FROM region").collect().head.getLong(0) == 5L)
    assert(spark.sql("SELECT count(*) FROM events WHERE value > 0").collect().head.getLong(0) > 0L)
  }

  test("language id and quality score behave on obvious inputs") {
    val d = Seq((1L, "the cat sat of the mat and a dog is"),
      (2L, "xyz qqq zzz")).toDF("doc_id", "text")
    val pred = d.select(col("doc_id"), TextStats.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(pred(1L) == "en" && pred(2L) == "und")
    val q = d.select(TextStats.qualityScore(col("text"))).as[Double].collect()
    assert(q.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("html extraction: element strip, entity decode order, whitespace collapse") {
    import graft.llm.Html
    val cases = Seq(
      // nested '<' inside script; unclosed attr quote styles; CRLF collapse
      ("<body><script>if (a<b && c>d) {}</script>one\r\n\t two</body>", "one two"),
      // style with braces + a tag-looking string inside
      ("<style>p::before { content: \"</div>\"; }</style>x<b>y</b>z", "x y z"),
      // comments spanning lines; entity zoo; &amp; decodes last
      ("<!-- a\nb --><p>5 &lt; 6 &amp; 7 &gt; 4, &quot;q&quot; &#39;s&#39; &amp;amp;</p>",
        "5 < 6 & 7 > 4, \"q\" 's' &amp;"),
      // no title tag -> empty title; bare text passes through
      ("plain text, no markup", "plain text, no markup")
    ).toDF("html", "expected")
    cases.select(Html.extractText(col("html")).as("got"), col("expected"))
      .as[(String, String)].collect()
      .foreach { case (got, exp) => assert(got == exp, s"[$got] != [$exp]") }
    val titles = Seq(
      ("<html><head><TITLE lang=en>A &amp; B</TITLE></head></html>", "A & B"),
      ("no title here", "")).toDF("html", "expected")
    titles.select(Html.title(col("html")).as("got"), col("expected"))
      .as[(String, String)].collect()
      .foreach { case (got, exp) => assert(got == exp, s"[$got] != [$exp]") }
  }

  test("url canonicalization: rules hold on edge cases beyond the gate corpus") {
    import graft.llm.Urls
    val cases = Seq(
      // https default port + multi-param sort + tracking drop
      "HTTPS://Shop.COM:443/Cart?zz=1&utm_medium=m&aa=2&fbclid=x" ->
        "https://shop.com/Cart?aa=2&zz=1",
      // non-default port kept; path case preserved
      "http://Host.net:8080/API//v2/" -> "http://host.net:8080/API/v2",
      // empty path -> root; all-tracking query drops the '?'
      "http://www.a.com?gclid=1&ref=x" -> "http://a.com/",
      // root slash stays; fragment dropped
      "https://b.org/#top" -> "https://b.org/",
      // param without '=' sorts too; 'referrer' is NOT the 'ref' tracker
      "http://c.io/p?b&a=1&referrer=keep" -> "http://c.io/p?a=1&b&referrer=keep",
      // non-URLs pass through unchanged — never manufacture a URL
      "relative/path?x=1" -> "relative/path?x=1",
      "" -> ""
    ).toDF("url", "expected")
    val out = cases.select(Urls.canonicalize(col("url")).as("got"),
      col("expected")).as[(String, String)].collect()
    out.foreach { case (got, exp) => assert(got == exp, s"$got != $exp") }
    // idempotence: canonicalizing a canonical form is a no-op
    val twice = cases.select(Urls.canonicalize(Urls.canonicalize(col("url")))
      .as("g2"), col("expected")).as[(String, String)].collect()
    twice.foreach { case (got, exp) => assert(got == exp) }
  }

  test("adpcm dedup ground truth: exhaustive (variant, block) decoded-content distinctness") {
    import graft.functions.SyntheticWavAdpcm
    // The dedup_audio_adpcm oracle states n_shared = min(block counts),
    // which requires (a) same-variant clips decode identical shared
    // blocks and (b) NO two distinct (variant, block) positions decode to
    // the same content. Prove both over the gate's ENTIRE parameter
    // space: all 1024 variants at the maximum length, every full block.
    val spb = graft.llm.Adpcm.samplesPerBlock(256)
    def blockHashes(n: Int, v: Int): Seq[Long] = {
      val wav = Multimodal.encodeWavAdpcm(16000, SyntheticWavAdpcm.samples(n, v))
      val a = Multimodal.decodeWav(wav).get
      (0 until a.samples.length / spb).map { w =>
        var h = 0L
        var i = w * spb
        while (i < (w + 1) * spb) {
          h = (h * 31 + (a.samples(i) + 32768L)) % 1000000007L
          i += 1
        }
        h
      }
    }
    val seen = scala.collection.mutable.HashMap.empty[Long, (Int, Int)]
    for (v <- 0 until 1024) {
      val hs = blockHashes(17 + 505 * 4, v)
      assert(hs.size == 4)
      for ((h, k) <- hs.zipWithIndex) {
        seen.get(h).foreach { prev =>
          fail(s"decoded-content collision: (v=$v, k=$k) vs $prev")
        }
        seen(h) = (v, k)
      }
      // (a) the shorter same-variant clip's blocks ARE the prefix
      assert(blockHashes(17 + 505 * 2, v) == hs.take(2))
    }
  }

  test("audio dedup: shared decoded windows pair clips, loops count once, junk drops") {
    def wav(n: Int, f: Int => Int): Array[Byte] =
      Multimodal.encodeWav(16000, 1, Array.tabulate(n)(i => f(i).toShort))
    val tone = (i: Int) => (i * 37) % 20000 - 10000
    val d = Seq(
      (1L, wav(512, tone)),                  // 2 windows
      (2L, wav(768, tone)),                  // 3 windows, first 2 shared with 1
      (3L, wav(512, i => tone(i) + 1)),      // same length, different samples
      (4L, wav(512, i => tone(i % 256))),    // window 0 looped twice = clip 1's w0
      (9L, Array[Byte](1, 2, 3))             // undecodable
    ).toDF("media_id", "content")
    val pairs = Multimodal.audioDupPairs(d)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 2L)) == 2L, s"full shared prefix: $pairs")
    // the loop clip's repeated window content counts ONCE per pair
    assert(pairs((1L, 4L)) == 1L && pairs((2L, 4L)) == 1L)
    assert(!pairs.contains((1L, 3L)) && !pairs.keys.exists(p => p._1 == 9L || p._2 == 9L))
  }

  test("perceptual image hash: brightness-invariant, separates unrelated images") {
    import graft.functions.native
    val d = Seq(
      (1L, 3, 5, 0),   // base gradient
      (2L, 3, 5, 40),  // same gradient, +40 brightness → SAME aHash
      (3L, 57, 23, 0), // unrelated gradient
      (4L, 3, 5, 0)    // byte-identical re-upload of 1
    ).toDF("media_id", "a", "b", "sh")
      .select(col("media_id"), native.syntheticPngGrad(32, 32,
        col("a"), col("b"), col("sh")).as("content"))
    val ph = d.select(col("media_id"), native.imageAHash64(col("content")).as("ph"))
      .as[(Long, Long)].collect().toMap
    assert(ph(1L) == ph(2L), "aHash must be brightness-shift invariant")
    assert(ph(1L) == ph(4L))
    assert(java.lang.Long.bitCount(ph(1L) ^ ph(3L)) > 6,
      "unrelated gradients must exceed the pairing radius")
    val pairs = graft.llm.Multimodal.imageDupPairs(d)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 2L, 0), (1L, 4L, 0), (2L, 4L, 0)))
    // undecodable payloads drop out instead of pairing
    val junk = Seq((9L, Array[Byte](1, 2, 3))).toDF("media_id", "content")
    assert(graft.llm.Multimodal.imageDupPairs(junk).count() == 0)
  }

  test("cross-format perceptual dedup: a PNG and its JPEG re-encode collide") {
    import graft.functions.native
    // same checkerboard group as PNG and as a real JDK-encoded JPEG; a
    // different group as the non-dup control
    val d = Seq((1L, 7L, false), (2L, 7L, true), (3L, 8L, false))
      .toDF("media_id", "g", "jpeg")
      .select(col("media_id"),
        native.syntheticImageCheck(32, 32, col("g"), col("jpeg")).as("content"))
    val ph = d.select(col("media_id"), native.imageAHash64(col("content")).as("ph"))
      .as[(Long, Long)].collect().toMap
    assert(ph(1L) == ph(2L),
      "JPEG quantization must not cross the 80-level margin")
    assert(java.lang.Long.bitCount(ph(1L) ^ ph(3L)) > 6)
    val pairs = graft.llm.Multimodal.imageDupPairs(d)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 2L, 0)))
  }

  test("cdc chunking: partitions text, survives a prepended edit, ledgers dup bytes") {
    import graft.llm.Cdc
    val text = (1 to 400).map(i => ((i * 2654435761L) % 997).toString).mkString(" ")
    val d = Seq((1L, text), (2L, "PREPENDED BOILERPLATE " + text),
      (3L, text), (4L, "entirely unrelated content qq ww ee rr")).toDF("doc_id", "text")
    val ch = Cdc.chunks(d, "text", "doc_id")
      .as[(Long, Int, Int, Int, Long)].collect().groupBy(_._1)
    // chunks partition each doc exactly: contiguous starts, lens sum to n
    for ((id, cs) <- ch) {
      val sorted = cs.sortBy(_._2)
      assert(sorted.head._3 == 1)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 == a._3 + a._4); case _ => ()
      }
      val n = d.where($"doc_id" === id).select(length($"text")).as[Int].head
      assert(sorted.map(_._4).sum == n)
    }
    // content-defined: the prepended doc re-synchronizes — its chunk hash
    // set shares all but the head chunk(s) with the original
    val h1 = ch(1L).map(_._5).toSet
    val h2 = ch(2L).map(_._5).toSet
    assert((h1 intersect h2).size >= h1.size - 2,
      s"CDC should resync after an edit: ${h1.size} vs shared ${(h1 intersect h2).size}")
    // dup ledger: doc 3 (identical to doc 1) is fully duplicate bytes
    val st = Cdc.dedupStats(d).as[(Long, Long, Long, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(st(1L)._4 == 0L)
    assert(st(3L)._4 == st(3L)._3 && st(3L)._5 == 1.0)
    assert(st(4L)._4 == 0L)
  }

  test("dp quantile: concentrates near the true median, deterministic, empty-safe") {
    import graft.analytics.Privacy
    // uniform values over [0, 500): sharp utility peak at the median bin,
    // so at eps=1, n=1000 the mechanism lands within a few bins w.h.p. —
    // and the draw is seeded, so "w.h.p." is a FIXED deterministic outcome
    val df = (1 to 1000).map(i => ("a", (i % 500).toDouble)) ++
      (1 to 1000).map(i => ("b", ((i * 7) % 100).toDouble)) // median ~50
    val d = df.toDF("g", "value")
    val rel = Privacy.dpQuantile(d, "g", col("value"), q = 0.5,
        lo = 0.0, hi = 500.0)
      .as[(String, Double)].collect().toMap
    assert(math.abs(rel("a") - 250.0) <= 25.0, s"group a: ${rel("a")}")
    assert(math.abs(rel("b") - 50.0) <= 25.0, s"group b: ${rel("b")}")
    // deterministic: the release is a pure function of (data, seed, eps)
    val rel2 = Privacy.dpQuantile(d, "g", col("value"), q = 0.5,
        lo = 0.0, hi = 500.0).as[(String, Double)].collect().toMap
    assert(rel2 == rel)
    // empty input releases nothing (no group to key a draw on)
    assert(Privacy.dpQuantile(d.limit(0), "g", col("value"), q = 0.5,
      lo = 0.0, hi = 500.0).count() == 0)
    // guards: a zero-width candidate range and a bin count that would
    // collide the (group, bin) draw key are rejected up front
    intercept[IllegalArgumentException] {
      Privacy.dpQuantile(d, "g", col("value"), q = 0.5, lo = 5.0, hi = 5.0) }
    intercept[IllegalArgumentException] {
      Privacy.dpQuantile(d, "g", col("value"), q = 0.5, lo = 0.0, hi = 1.0,
        nBins = 1001) }
  }

  test("hll sketch: linear-counting and raw regimes bracket the truth, deterministic") {
    import graft.analytics.Sketches
    val small = (1 to 20).map(i => ("a", i.toLong)) // linear-counting regime
    val big = (1 to 5000).map(i => ("b", (i * 7919).toLong)) // raw regime
    val df = (small ++ big).toDF("g", "id")
    val est = Sketches.hllDistinctBy(df, "g", "id")
      .as[(String, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(est("a")._3 == 20L && est("b")._3 == 5000L)
    // LC at n<<m is tight; raw HLL at m=64 has sigma ~13% — allow 3 sigma
    assert(math.abs(est("a")._2 - 20.0) <= 4.0, s"LC regime: ${est("a")}")
    assert(math.abs(est("b")._2 - 5000.0) / 5000.0 <= 0.4, s"raw: ${est("b")}")
    // deterministic: same draw, same estimate, duplicates don't move it
    val est2 = Sketches.hllDistinctBy(df.union(df), "g", "id")
      .as[(String, Double, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(est2("a") == est("a")._2 && est2("b") == est("b")._2)
  }

  test("hll store: max-merge of any split lands bit-exactly on the one-shot estimate") {
    import graft.analytics.Sketches
    val df = (1 to 3000).map(i => (s"g${i % 3}", (i * 104729).toLong))
      .toDF("g", "id")
    val oneShot = Sketches.hllDistinctBy(df, "g", "id")
      .select("g", "est_hll").as[(String, Double)].collect().toMap
    val dir = java.nio.file.Files.createTempDirectory("hllstore").toString
    // history = ids % 3 == 0, batch = the rest (an arbitrary uneven split)
    Sketches.buildHllStore(spark, s"$dir/s", df.where($"id" % 3 === 0), "g", "id")
    val merged = Sketches.hllMergeProbe(spark, s"$dir/s",
        df.where($"id" % 3 =!= 0), "g", "id")
      .as[(String, Double)].collect().toMap
    assert(merged == oneShot, s"$merged vs $oneShot")
    // absent store: probe degrades to the batch's own one-shot estimate
    val cold = Sketches.hllMergeProbe(spark, s"$dir/nowhere", df, "g", "id")
      .as[(String, Double)].collect().toMap
    assert(cold == oneShot)
  }

  test("cdc store: history probe, append == rebuild, idempotent, absent-store fallback") {
    import graft.llm.Cdc
    val textA = (1 to 300).map(i => ((i * 48271L) % 1009).toString).mkString(" ")
    val textC = (1 to 300).map(i => ((i * 16807L) % 2003).toString).mkString(" ")
    val crawl1 = Seq((1L, textA), (2L, textC + " tail one")).toDF("doc_id", "text")
    val crawl2 = Seq((3L, textA), (4L, "fresh " + textC.reverse)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("cdcstore").toString
    val p1 = s"$dir/s1"
    Cdc.buildStore(spark, p1, crawl1)
    def probe() = Cdc.probeStats(spark, p1, crawl2)
      .as[(Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val st = probe()
    assert(st(3L)._5 == 1.0, s"re-crawled doc must be all dup bytes: $st")
    assert(st(4L)._4 < st(4L)._3, "fresh doc must keep novel bytes")
    assert(probe() == st, "read-only probe must be idempotent")
    // append == rebuild on the union, and re-append adds nothing
    Cdc.appendToStore(spark, p1, crawl2)
    def keys(p: String) = graft.core.Layouts.read(spark, p)
      .select("hash", "len").as[(Long, Int)].collect().toSet
    val p2 = s"$dir/s2"
    Cdc.buildStore(spark, p2, crawl1.union(crawl2))
    assert(keys(p1) == keys(p2), "incremental store must equal the rebuild")
    Cdc.appendToStore(spark, p1, crawl2)
    assert(keys(p1) == keys(p2), "re-appending a seen batch must be a no-op")
    // absent store: only within-batch duplication counts
    val cold = Cdc.probeStats(spark, s"$dir/nowhere", crawl2)
      .as[(Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(cold(3L)._4 == 0L && cold(4L)._4 == 0L)
  }

  test("naive bayes language model: trains, generalizes, tiebreaks by label order") {
    import graft.llm.NaiveBayes
    val train = Seq(
      (0L, "le chat et le chien", "fr"), (2L, "le pain et la vie", "fr"),
      (4L, "the cat and the dog", "en"), (6L, "the bread and a life", "en"))
      .toDF("doc_id", "text", "lang")
    val model = NaiveBayes.train(train, "text", "lang")
    // held-out docs with overlapping + OOV words route to the right label
    val test = Seq((1L, "the dog and a cat"), (3L, "le chien et la chat"),
      (5L, "zz qq ww")).toDF("doc_id", "text")
    val pred = NaiveBayes.predict(test, model, "text", "doc_id")
      .as[(Long, String)].collect().toMap
    assert(pred(1L) == "en" && pred(3L) == "fr")
    // all-OOV doc: symmetric corpus (same tot, same prior) → exact score
    // tie → label code order wins
    assert(pred(5L) == "en")
    // confusion over the gate corpus. The synthetic corpus's lang label is
    // INDEPENDENT of its text (one shared vocab), so accuracy here is
    // prior-dominated — assert structure, not skill: every doc lands in
    // the matrix, predictions come from trained labels, and NB does at
    // least as well as the majority-class baseline it degenerates to.
    val d = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val cm = NaiveBayes.confusion(d).as[(String, String, Long)].collect()
    val total = cm.map(_._3).sum
    assert(total == d.count())
    val trained = d.where($"doc_id" % 2 === 0).select("lang").distinct()
      .as[String].collect().toSet
    assert(cm.map(_._2).toSet.subsetOf(trained))
    val diag = cm.filter(r => r._1 == r._2).map(_._3).sum.toDouble
    val majority = d.groupBy("lang").count().agg(max("count")).as[Long].head
    assert(diag >= 0.9 * majority,
      s"NB diag $diag should approach the majority baseline $majority")
  }

  test("naive bayes: a label whose train docs are all token-less survives training") {
    import graft.llm.NaiveBayes
    // "und" docs carry NULL text: tokens(null) explodes to nothing, so the
    // label has a prior but zero token counts — it must still be in the
    // model and winnable at predict time (prior-dominated OOV scoring)
    val train = Seq(
      (0L, "the cat", "en"), (2L, "the dog", "en"),
      (4L, null: String, "und"), (6L, null: String, "und"),
      (8L, null: String, "und")).toDF("doc_id", "text", "lang")
    val model = NaiveBayes.train(train, "text", "lang")
    assert(model.labels.select("label").as[String].collect().toSet ==
      Set("en", "und"))
    // all-OOV doc: score = prior + 1·oov. With V=3: en = log(2/5·1/7),
    // und = log(3/5·1/3) — und wins on both prior AND smoothing floor
    val pred = NaiveBayes.predict(Seq((1L, "zz")).toDF("doc_id", "text"),
      model, "text", "doc_id").as[(Long, String)].collect().toMap
    assert(pred(1L) == "und", pred.toString)
  }

  test("warc round-trip: byte-counted framing survives newlines and header-lookalike payloads") {
    import graft.etl.Sources
    val dir = tmpDir("warc") + "/w"
    // a payload that LOOKS like a WARC record: only Content-Length byte
    // framing survives it — any line-oriented reader desyncs
    val evil = "line1\nWARC/1.0\nContent-Length: 999\n\nline2"
    val docs = Seq((1L, "http://a.com/x", "plain"),
      (2L, null: String, evil),
      (3L, "http://b.org/y", "")).toDF("doc_id", "url", "text")
    Sources.writeWarc(docs, dir)
    val back = Sources.readWarc(spark, dir).as[(Long, String, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(back.keySet == Set(1L, 2L, 3L))
    assert(back(1L) == (("http://a.com/x", "plain")))
    assert(back(2L) == ((null, evil)))
    assert(back(3L) == (("http://b.org/y", "")))
    // tolerant walk: non-response records and truncated tails are skipped
    val mixed = ("WARC/1.0\r\nWARC-Type: request\r\n" +
      "WARC-Record-ID: <urn:graft:9>\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n")
      .getBytes("UTF-8") ++ "WARC/1.0\r\ntruncated".getBytes("UTF-8")
    assert(Sources.parseWarc(mixed).toList == Nil)
  }

  test("warc.gz round-trip: gzip sink, http payload skip, member resync") {
    import graft.etl.Sources
    val dir = tmpDir("warcgz") + "/w"
    // body containing an HTTP-header lookalike blank-line sequence: only
    // the FIRST blank line ends the header block
    val tricky = "para1\r\n\r\npara2 reads like a second header end"
    val docs = Seq((1L, "http://a.com/x", "plain body"),
      (2L, null: String, tricky),
      (3L, "http://b.org/y", "")).toDF("doc_id", "url", "text")
    Sources.writeWarcGz(docs, dir, http = true)
    val back = Sources.readWarc(spark, dir).as[(Long, String, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(back.keySet == Set(1L, 2L, 3L))
    assert(back(1L) == (("http://a.com/x", "plain body")))
    assert(back(2L) == ((null, tricky)))
    assert(back(3L) == (("http://b.org/y", "")))
  }

  test("warc.gz member resync: one gzip member PER RECORD (Common Crawl layout)") {
    import graft.etl.Sources
    // Build a per-record-member archive by hand: each record is its own
    // gzip member, members back-to-back in one file — a reader that
    // stopped at the first member trailer would see one record.
    def rec(id: Long, body: String): Array[Byte] = {
      val http = s"HTTP/1.1 200 OK\r\nServer: x\r\n\r\n$body"
      val s = s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Record-ID: <urn:graft:$id>\r\n" +
        s"WARC-Target-URI: http://h$id.com/\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.getBytes("UTF-8").length}\r\n\r\n$http\r\n\r\n"
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s.getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    val archive = rec(10L, "first body") ++ rec(11L, "second body\nwith nl") ++
      rec(12L, "third")
    val dir = java.nio.file.Files.createTempDirectory("warcmm").toFile
    java.nio.file.Files.write(
      new java.io.File(dir, "part-0.txt.gz").toPath, archive)
    val back = Sources.readWarc(spark, dir.getAbsolutePath)
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(back.toSeq == Seq(
      (10L, "http://h10.com/", "first body"),
      (11L, "http://h11.com/", "second body\nwith nl"),
      (12L, "http://h12.com/", "third")))
  }

  test("warc streaming walk: a multi-hundred-MB archive reads in O(record) memory") {
    import graft.etl.Sources
    // Synthesize one ~384 MB-inflated archive (6000 records x 64 KB),
    // one gzip member per record (the Common Crawl layout), WITHOUT ever
    // holding the archive in memory — and read it back the same way.
    // The old materialize-then-parse reader allocated inflated-size*4
    // buffers per task; the streaming walk's peak is one 64 KB record.
    val dir = java.nio.file.Files.createTempDirectory("warcbig").toFile
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(new java.io.File(dir, "part-0.txt.gz")),
      1 << 16)
    val unit = "abcdefghijklmnopqrstuvwxyz0123456789\n"
    val body = unit * (65536 / unit.length)
    val bodyBytes = body.getBytes("UTF-8")
    var checksum = 0L
    (0 until 6000).foreach { i =>
      val head = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Record-ID: <urn:graft:$i>\r\n" +
        s"WARC-Target-URI: http://h$i.example/\r\n" +
        s"Content-Length: ${bodyBytes.length}\r\n\r\n").getBytes("UTF-8")
      val gz = new java.util.zip.GZIPOutputStream(out, 1 << 14)
      gz.write(head); gz.write(bodyBytes)
      gz.write("\r\n\r\n".getBytes("UTF-8"))
      gz.finish() // one member per record; stream stays open
      checksum += i
    }
    out.close()
    val got = Sources.readWarc(spark, dir.getAbsolutePath)
      .select(org.apache.spark.sql.functions.count("*"),
        org.apache.spark.sql.functions.sum("doc_id"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length($"text")))
      .as[(Long, Long, Long)].head()
    assert(got == ((6000L, checksum, 6000L * body.length)))
    // spot-check one record end-to-end
    val one = Sources.readWarc(spark, dir.getAbsolutePath)
      .where($"doc_id" === 4321L).as[(Long, String, String)].head()
    assert(one._2 == "http://h4321.example/" && one._3 == body)
  }

  test("robots: star-group parse, longest match with allow ties, tolerant reader") {
    import graft.llm.Robots
    val robots = Seq("User-agent: bot", "Disallow: /", "",
      "User-agent: crawler", "User-agent: *",
      "Disallow: /private # drafts stay out",
      "Allow: /private/ok", "Disallow: /tmp",
      "Junk line without a colon", "Crawl-delay: 10", "Disallow:")
      .mkString("\n")
    val rulesDf = Robots.parseRobots(Seq(("a.com", robots))
      .toDF("domain", "robots"))
    val rules = rulesDf.as[(String, String, Boolean)].collect().toSet
    // the bot group's Disallow:/ must NOT leak into *; the empty
    // Disallow and unknown directives contribute nothing
    assert(rules == Set(("a.com", "/private", false),
      ("a.com", "/private/ok", true), ("a.com", "/tmp", false)), rules)
    val urls = Seq((1L, "http://a.com/"), (2L, "http://www.a.com/private/x"),
      (3L, "http://a.com/private/ok/y"), (4L, "http://a.com/tmp"),
      (5L, "http://other.net/anything"), (6L, null: String))
      .toDF("doc_id", "url")
    val got = Robots.decide(urls, rulesDf)
      .select("doc_id", "allowed").as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false,
      5L -> true, 6L -> true), got.toString)
  }

  test("robots decide: multiset in, multiset out — duplicate URL rows survive") {
    // the one-pass decide (r14 optimization) groups per input ROW, not per
    // (domain, path): exact duplicate rows must come out with their
    // multiplicity, each with the same verdict
    import graft.llm.Robots
    val rulesDf = Robots.parseRobots(Seq(
      ("a.com", "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"))
      .toDF("domain", "robots"))
    val urls = Seq("http://a.com/private/x", "http://a.com/private/x",
      "http://a.com/private/ok/y", "http://a.com/free",
      "http://a.com/free").toDF("url")
    val got = Robots.decide(urls, rulesDf)
      .select("url", "allowed").as[(String, Boolean)].collect().toSeq
      .sorted
    assert(got == Seq(("http://a.com/free", true), ("http://a.com/free", true),
      ("http://a.com/private/ok/y", true),
      ("http://a.com/private/x", false), ("http://a.com/private/x", false)),
      got.toString)
  }

  test("quantile sketch: merge equals one-shot bit-exactly, error within one bin") {
    import graft.analytics.Sketches
    val d = (1 to 1000).map(i => ("a", (i % 700).toDouble)) ++
      (1 to 500).map(i => ("b", ((i * 3) % 200).toDouble))
    val df = d.toDF("g", "v")
    val qs = Seq(0.5, 0.9, 0.99)
    val one = Sketches.quantileSketchBy(df, "g", col("v"), 0.0, 1024.0, 256, qs)
      .as[(String, Double, Double, Long)].collect().toSet
    // split arbitrarily, build a store on one half, merge-probe the other:
    // count addition makes the readout EQUAL, not approximately equal
    val store = tmpDir("qsketch") + "/s"
    val (h, b) = (df.where($"v" < 300), df.where($"v" >= 300))
    Sketches.buildQuantileStore(spark, store, h, "g", col("v"), 0.0, 1024.0, 256)
    val merged = Sketches.quantileMergeProbe(spark, store, b, "g", col("v"),
        0.0, 1024.0, 256, qs)
      .as[(String, Double, Double, Long)].collect().toSet
    assert(merged == one, s"merge must equal one-shot: $merged vs $one")
    // error bound: within one bin width (4.0) of the exact percentile
    val exact = df.stat.approxQuantile("v", Array(0.5), 0.0).head
    val est = one.find(r => r._1 == "a" && r._2 == 0.5).get._3
    val exactA = df.where($"g" === "a").stat.approxQuantile("v", Array(0.5), 0.0).head
    assert(math.abs(est - exactA) <= 4.0, s"est $est vs exact $exactA")
    // absent store: probe = batch-only readout (the v>=300 batch holds
    // only group "a" rows → 1 group × 3 qs); empty input releases nothing
    val cold = Sketches.quantileMergeProbe(spark, tmpDir("qsketch") + "/none",
      b, "g", col("v"), 0.0, 1024.0, 256, qs)
    assert(cold.count() == 3)
    assert(Sketches.quantileSketchBy(df.limit(0), "g", col("v"),
      0.0, 1024.0, 256, qs).count() == 0)
  }

  test("WavSpectralHashes: exact gain invariance, content-hash blindness, spectral pairs") {
    import graft.functions.native
    // one waveform at four integer gains: every PCM byte differs, the
    // spectral fingerprint is IDENTICAL (mag² scales by m², argmax holds)
    val fps = Seq(1, 2, 3, 4).toDF("g")
      .select(native.wavSpectralHashes(
        native.syntheticWavGain(lit(512), lit(7L), col("g"))).as("fp"))
      .as[Seq[Long]].collect()
    assert(fps.forall(_ == fps.head) && fps.head.nonEmpty, fps.toString)
    // ...while the byte-exact content leg shares NOTHING across gains
    val ch = Seq(1, 2).toDF("g")
      .select(native.wavWindowHashes(
        native.syntheticWavGain(lit(512), lit(7L), col("g")), 256).as("h"))
      .as[Seq[Long]].collect()
    assert(ch(0).toSet.intersect(ch(1).toSet).isEmpty)
    // a different variant lands different landmarks (mix32 scatter)
    val other = spark.range(1).select(native.wavSpectralHashes(
        native.syntheticWavGain(lit(512), lit(8L), lit(1))))
      .as[Seq[Long]].head
    assert(other.toSet.intersect(fps.head.toSet).isEmpty)
    // undecodable bytes are NULL
    assert(Seq(Array[Byte](9, 9)).toDF("b")
      .select(native.wavSpectralHashes(col("b"))).collect().head.isNullAt(0))
    // the pair kernel: gains of one variant pair fully (shared = the
    // shorter clip's shingle count), the foreign variant pairs with none
    val media = Seq((1L, 7L, 1, 512), (2L, 7L, 2, 384), (3L, 7L, 3, 512),
        (4L, 8L, 1, 512)).toDF("media_id", "v", "g", "n")
      .select(col("media_id"), native.syntheticWavGain(col("n"), col("v"),
        col("g")).as("content"))
    val pairs = graft.llm.Multimodal.audioDupPairsSpectral(media)
      .as[(Long, Long, Long)].collect().toSet
    // 512 samples = 8 windows = 5 shingles; 384 = 6 windows = 3 shingles
    assert(pairs == Set((1L, 2L, 3L), (1L, 3L, 5L), (2L, 3L, 3L)),
      pairs.toString)
  }

  test("ClipFrameDctHashes: re-exposed clips collide frame-for-frame, exact leg blind") {
    import graft.functions.native
    // one animation at three exposures: per-frame DCT hashes identical,
    // per-frame exact content hashes all different
    val clips = Seq((1L, 0), (2L, 17), (3L, 51)).toDF("media_id", "sh")
      .select(col("media_id"),
        native.syntheticApngGrad(32, 32, lit(4), lit(5L), col("sh"))
          .as("content"))
    val dct = clips.select(col("media_id"),
        native.clipFrameDctHashes(col("content"), 2).as("f"))
      .select(col("media_id"), col("f.fhash").as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(dct(1L) == dct(2L) && dct(2L) == dct(3L) && dct(1L).size == 2)
    val exact = clips.select(col("media_id"),
        native.clipFrameHashes(col("content"), 2).as("f"))
      .select(col("media_id"), col("f.fhash").as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(exact(1L).toSet.intersect(exact(2L).toSet).isEmpty)
    // another group's frames don't collide; undecodable bytes are NULL
    val foreign = spark.range(1).select(
        native.clipFrameDctHashes(native.syntheticApngGrad(32, 32, lit(4),
          lit(6L), lit(0)), 2).getField("fhash"))
      .as[Seq[Long]].head
    assert(foreign.toSet.intersect(dct(1L).toSet).isEmpty)
    assert(Seq(Array[Byte](1)).toDF("b")
      .select(native.clipFrameDctHashes(col("b"), 2)).collect().head.isNullAt(0))
    // the pair kernel: shared frames = min sampled count within the group
    val media = Seq((1L, 5L, 0, 5), (2L, 5L, 34, 3), (3L, 6L, 0, 5))
      .toDF("media_id", "g", "sh", "nf")
      .select(col("media_id"), native.syntheticApngGrad(32, 32, col("nf"),
        col("g"), col("sh")).as("content"))
    val pairs = graft.llm.Multimodal.clipDupPairsDct(media)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 2L)), pairs.toString) // 5f→3 sampled, 3f→2
  }

  test("registrable domain: suffix rules, deep hosts, ip and non-url; quota caps per site") {
    import graft.llm.{Corpus, Urls}
    val cases = Seq(
      ("http://www.Site.COM/a", "site.com"),
      ("https://u:p@blog.example.co.uk:443/p", "example.co.uk"),
      ("http://cdn.static.news.org/x", "news.org"),
      ("http://192.168.0.1:8080/q", "192.168.0.1"),
      ("http://localhost/", "localhost"),
      ("not a url", null))
    val got = cases.map(_._1).toDF("u")
      .select(col("u"), Urls.registrableDomain(col("u")).as("d"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (u, e) => assert(got(u) == e, s"$u -> ${got(u)}") }
    // quota 2 over one 4-doc site: best two by score stay (ties by id are
    // exercised in the gate); URL-less docs bypass the cap per-doc
    val docs = Seq(
      (1L, "http://a.com/1", 0.9), (2L, "http://www.a.com/2", 0.8),
      (3L, "http://a.com:80/3", 0.7), (4L, "http://a.com/4", 0.95),
      (5L, null: String, 0.1), (6L, null: String, 0.2))
      .toDF("doc_id", "url", "sc")
    val kept = Corpus.domainQuota(docs, quota = 2, score = col("sc"))
    val m = kept.as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m.keySet == Set(1L, 4L, 5L, 6L), m.toString)
    assert(m(4L) == (("a.com", 1L)) && m(1L) == (("a.com", 2L)))
    assert(m(5L)._1 == null && m(5L)._2 == 1L && m(6L)._2 == 1L)
    // the rank filter must keep planning as a group-limit (local top-k
    // per domain before the exchange — the mega-domain skew posture)
    assert(kept.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("ImageDctHash64: exact brightness invariance, structural separation, banded pairs") {
    import graft.functions.native
    // the same gradient at four brightness offsets hashes IDENTICALLY —
    // not within-margin: the fixed-point basis's AC rows sum to exactly
    // zero, so a uniform shift moves no coefficient at all
    val shifted = Seq(0, 17, 34, 51).toDF("sh")
      .select(native.imageDctHash64(
        native.syntheticPngGrad(32, 32, lit(3), lit(5), col("sh"))).as("ph"))
      .as[Long].collect().toSet
    assert(shifted.size == 1, s"brightness must not move the DCT hash: $shifted")
    // a different slope family redistributes low-frequency energy: far hash
    val other = spark.range(1).select(native.imageDctHash64(
        native.syntheticPngGrad(32, 32, lit(11), lit(2), lit(0))))
      .as[Long].head
    assert(java.lang.Long.bitCount(shifted.head ^ other) > 6)
    // undecodable bytes are NULL, and never reach the pair kernel
    assert(Seq(Array[Byte](1, 2, 3)).toDF("b")
      .select(native.imageDctHash64(col("b"))).collect().head.isNullAt(0))
    // the banded kernel pairs within a brightness group, never across slopes
    val media = Seq(
      (1L, 3, 5, 0), (2L, 3, 5, 20), (3L, 3, 5, 40),
      (4L, 11, 2, 0), (5L, 11, 2, 30)).toDF("media_id", "a", "b", "sh")
      .select(col("media_id"), native.syntheticPngGrad(32, 32, col("a"),
        col("b"), col("sh")).as("content"))
    val pairs = graft.llm.Multimodal.imageDupPairsDct(media)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0), (4L, 5L, 0)),
      pairs.toString)
  }

  test("JaccardSim rejects mismatched array element types at analysis") {
    val df = Seq((Seq("a", "b"), Seq(1L, 2L))).toDF("s", "l")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.functions.native.jaccardSim(col("s"), col("l")))
        .collect()
    }
    assert(ex.getMessage.contains("jaccard_sim"), ex.getMessage)
    // the homogeneous bigint path still analyzes and evaluates
    val ok = Seq((Seq(1L, 2L), Seq(2L, 3L))).toDF("a", "b")
      .select(graft.functions.native.jaccardSim(col("a"), col("b")))
      .as[Double].head
    assert(ok == 1.0 / 3.0)
  }

  test("text ops handle degenerate inputs (single token, short text)") {
    val d = Seq((1L, "x"), (2L, "ab cd")).toDF("doc_id", "text")
    // shingles of a too-short token array: one windowed shingle, no crash
    val sh = d.select(Dedup.shingles(TextStats.tokens(col("text")), 5))
      .as[Seq[String]].collect()
    assert(sh(0) == Seq("x") && sh(1) == Seq("ab cd"))
    // fingerprint of text shorter than maxLen
    val fp = d.select(TextStats.fingerprint("text")).as[Long].collect()
    assert(fp(0) == 'x'.toLong % 1000000007)
    // quality/token stats defined and finite
    val q = d.select(TextStats.qualityScore(col("text")),
      TextStats.tokenCount(col("text")), TextStats.bpeEstimate(col("text"))).collect()
    assert(q.forall(r => !r.anyNull))
  }

  test("JaccardSim matches the declarative form; FuseJaccard rewrites it") {
    val d = Seq(
      (Seq("a", "b", "b", "c"), Seq("b", "c", "d")),
      (Seq("x"), Seq("y"))).toDF("a", "b")
    val declarative = size(array_intersect($"a", $"b")) /
      size(array_union($"a", $"b")).cast("double")
    val both = d.select(declarative.as("hof"),
      graft.functions.native.jaccardSim($"a", $"b").as("fused")).collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))
    // empty union: ANSI divide throws on the declarative form; the fused
    // expression yields NULL (the non-ANSI semantics)
    val empty = Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
      .select(graft.functions.native.jaccardSim($"a", $"b")).collect().head
    assert(empty.isNullAt(0))
    // NULL elements count as one distinct value per side, exactly like
    // array_intersect/array_union — so the rewrite is safe on containsNull
    // arrays (([null],[null]) → 1/1; ([null,"a"],["a"]) → 1/2)
    val withNulls = Seq(
      (Seq[String](null), Seq[String](null)),
      (Seq[String](null, "a"), Seq("a"))).toDF("a", "b")
    val nj = withNulls.select(
      (size(array_intersect($"a", $"b")) /
        size(array_union($"a", $"b")).cast("double")).as("hof"),
      graft.functions.native.jaccardSim($"a", $"b").as("fused")).collect()
    nj.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))
    // the optimizer rule rewrites the declarative form into JaccardSim
    // (file-backed source so constant folding can't collapse the plan first)
    val dir = tmpDir("fusejacc") + "/t"
    d.write.parquet(dir)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Seq(graft.functions.FuseJaccard)
    try {
      val fromFile = spark.read.parquet(dir)
      val plan = fromFile.select((size(array_intersect(col("a"), col("b"))) /
        size(array_union(col("a"), col("b"))).cast("double")).as("j"))
        .queryExecution.optimizedPlan
      assert(plan.toString.contains("jaccardsim"), plan.toString)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("dedup operators respect custom column names") {
    val d = Seq((10L, "a b c d e f g"), (11L, "a b c d e f g"))
      .toDF("id2", "body")
    val ex = Dedup.exact(d, textCol = "body", idCol = "id2")
      .as[(Long, Long)].collect().toSeq
    assert(ex == Seq((10L, 2L)))
    val mh = Dedup.minhash(d, textCol = "body", idCol = "id2")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
    assert(mh == Seq((10L, 11L)))
  }

  test("fingerprint matches the reference formula") {
    val fp = Seq(Tuple1("ab")).toDF("text")
      .select(TextStats.fingerprint("text")).as[Long].collect().head
    assert(fp == (97L * 31 + 98) % 1000000007) // ascii('a')=97 then 'b'
  }

  test("decode repartition sizes by payload volume and preserves rows") {
    val media = Multimodal.asBinary(
      (1 to 50).map(i => (i.toLong, "x" * 10000)).toDF("doc_id", "text"))
    val sized = Multimodal.repartitionForDecode(media, targetBytesPerPartition = 100000)
    assert(sized.rdd.getNumPartitions == 5) // 500k bytes / 100k target
    assert(sized.count() == 50)
    // empty input: no crash, one partition
    val empty = Multimodal.repartitionForDecode(
      Multimodal.asBinary(Seq.empty[(Long, String)].toDF("doc_id", "text")))
    assert(empty.rdd.getNumPartitions == 1 && empty.count() == 0)
  }

  test("multimodal decode plumbing produces frames from binary payloads") {
    val media = Multimodal.asBinary(
      Seq((7L, "x" * 2500)).toDF("doc_id", "text"))
    val meta = Multimodal.decodeMeta(media).collect().head
    assert(meta.getAs[Long]("n_bytes") == 2500L)
    assert(meta.getAs[Int]("n_frames") == 3)
    val frames = Multimodal.decodeFrames(spark, media, Multimodal.fakeFrameDecoder)
    val rows = frames.as[(Long, Int, Seq[Float])].collect().toSeq
    assert(rows.map(_._2) == Seq(0, 1, 2))
    assert(rows.forall(_._3.length == 8))
  }

  test("PNG codec: decode∘encode identity, ImageIO cross-parity both ways, rejects damage") {
    def pattern(v: Int)(x: Int, y: Int, c: Int): Int = (7 * x + 13 * y + v + 101 * c) % 256
    // identity through our own encoder (all five filters cycle over 15 rows)
    val bytes = Multimodal.encodePng(23, 15, 3, pattern(9))
    val img = Multimodal.decodePng(bytes).get
    assert(img.width == 23 && img.height == 15 && img.channels == 3)
    for (y <- 0 until 15; x <- 0 until 23; c <- 0 until 3)
      assert((img.pixels((y * 23 + x) * 3 + c) & 0xFF) == pattern(9)(x, y, c),
        s"pixel ($x,$y,$c)")
    // the bytes are REAL PNG: the JDK's own reader decodes the same raster
    val io = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(io.getWidth == 23 && io.getHeight == 15)
    for (y <- 0 until 15; x <- 0 until 23) {
      val rgb = io.getRGB(x, y)
      assert(((rgb >> 16) & 0xFF) == pattern(9)(x, y, 0))
      assert(((rgb >> 8) & 0xFF) == pattern(9)(x, y, 1))
      assert((rgb & 0xFF) == pattern(9)(x, y, 2))
    }
    // ...and our decoder reads a PNG the JDK WROTE (foreign filter choices)
    val bi = new java.awt.image.BufferedImage(9, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 7; x <- 0 until 9)
      bi.setRGB(x, y, (pattern(3)(x, y, 0) << 16) | (pattern(3)(x, y, 1) << 8) | pattern(3)(x, y, 2))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", baos)
    Multimodal.decodePng(baos.toByteArray).foreach { ours =>
      // the JDK may write RGB as color type 2 (3ch); if it chose a layout
      // we support, the raster must match exactly
      for (y <- 0 until 7; x <- 0 until 9; c <- 0 until 3)
        assert((ours.pixels((y * 9 + x) * ours.channels + c) & 0xFF) == pattern(3)(x, y, c))
    }
    // RGBA round-trips through our codec
    val rgba = Multimodal.decodePng(Multimodal.encodePng(5, 4, 4, pattern(1))).get
    assert(rgba.channels == 4)
    for (y <- 0 until 4; x <- 0 until 5; c <- 0 until 4)
      assert((rgba.pixels((y * 5 + x) * 4 + c) & 0xFF) == pattern(1)(x, y, c))
    // damage is rejected, never mis-decoded: truncation and a flipped byte
    assert(Multimodal.decodePng(bytes.take(bytes.length - 9)).isEmpty)
    val corrupt = bytes.clone(); corrupt(40) = (corrupt(40) ^ 0x5A).toByte
    assert(Multimodal.decodePng(corrupt).isEmpty) // CRC catches it
    assert(Multimodal.decodePng("not a png".getBytes).isEmpty)
  }

  test("GIF codec: LZW identity across code widths, ImageIO cross-parity, rejects damage") {
    import graft.llm.Gif
    val palette = Array.tabulate(256)(i =>
      (i << 16) | (((i + 101) % 256) << 8) | ((i + 202) % 256))
    def pat(v: Int)(x: Int, y: Int): Int = (7 * x + 13 * y + v) % 256
    // identity through our own codec on a small raster
    val bytes = Gif.encode(31, 15, palette, pat(9))
    val img = Gif.decode(bytes).get
    assert(img.width == 31 && img.height == 15)
    for (y <- 0 until 15; x <- 0 until 31)
      assert((img.indices(y * 31 + x) & 0xFF) == pat(9)(x, y), s"($x,$y)")
    // the bytes are REAL GIF: the JDK's own reader decodes the same raster
    val io = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(io.getWidth == 31 && io.getHeight == 15)
    for (y <- 0 until 15; x <- 0 until 31) {
      val want = palette(pat(9)(x, y))
      assert((io.getRGB(x, y) & 0xFFFFFF) == want, s"($x,$y)")
    }
    // a large noisy raster crosses 9->10->11->12-bit codes AND the
    // 4096-entry dictionary reset; identity and ImageIO parity must hold
    def noisy(x: Int, y: Int): Int = (x * 31 + y * 17 + (x * y) % 97) % 256
    val big = Gif.encode(120, 90, palette, noisy)
    val bimg = Gif.decode(big).get
    for (y <- 0 until 90; x <- 0 until 120)
      assert((bimg.indices(y * 120 + x) & 0xFF) == noisy(x, y), s"($x,$y)")
    val bio = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(big))
    for (y <- 0 until 90; x <- 0 until 120)
      assert((bio.getRGB(x, y) & 0xFFFFFF) == palette(noisy(x, y)), s"($x,$y)")
    // ...and our decoder reads a GIF the JDK WROTE (foreign LZW choices)
    val bi = new java.awt.image.BufferedImage(33, 21,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until 21; x <- 0 until 33)
      bi.setRGB(x, y, palette(pat(3)(x, y)))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "gif", baos)
    val theirs = Gif.decode(baos.toByteArray).get
    for (y <- 0 until 21; x <- 0 until 33)
      assert(theirs.rgb(y * 33 + x) == (bi.getRGB(x, y) & 0xFFFFFF), s"($x,$y)")
    // damage is rejected, never mis-decoded
    assert(Gif.decode(bytes.take(bytes.length - 5)).isEmpty)
    assert(Gif.decode("definitely not a gif".getBytes).isEmpty)
    assert(Gif.decode(Array[Byte]()).isEmpty)
  }

  test("GIF LZW: random and degenerate rasters round-trip exactly") {
    import graft.llm.Gif
    val pal = Array.tabulate(256)(i => (i << 16) | (i << 8) | i)
    // deterministic LCG pixels per trial — includes long runs (LZW's
    // best case) and near-noise (its worst), plus degenerate dims
    val dims = Seq((1, 1), (1, 7), (7, 1), (255, 1), (2, 2), (13, 29),
      (64, 3), (40, 40))
    for (((w, h), t) <- dims.zipWithIndex) {
      var s = 12345L + t
      def next(): Int = { s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 33) % (if (t % 2 == 0) 256 else 4)).toInt } // noisy / runny
      val px = Array.fill(h, w)(next())
      val bytes = Gif.encode(w, h, pal, (x, y) => px(y)(x))
      val img = Gif.decode(bytes).getOrElse(fail(s"decode failed at $w x $h"))
      assert(img.width == w && img.height == h)
      for (y <- 0 until h; x <- 0 until w)
        assert((img.indices(y * w + x) & 0xFF) == px(y)(x),
          s"($w x $h) pixel ($x,$y)")
    }
  }

  test("cross-codec raster identity: the same image through GIF and PNG decodes equal") {
    import graft.llm.Gif
    // a gray raster both codecs can express exactly
    val grayPal = Array.tabulate(256)(i => (i << 16) | (i << 8) | i)
    def pat(x: Int, y: Int): Int = (x * 5 + y * 3) % 200 + 20
    val png = Multimodal.encodePng(32, 24, 3, (x, y, _) => pat(x, y))
    val gif = Gif.encode(32, 24, grayPal, pat)
    val (a, b) = (Multimodal.decodeImage(png).get, Multimodal.decodeImage(gif).get)
    assert(a.width == b.width && a.height == b.height && a.channels == b.channels)
    assert(java.util.Arrays.equals(a.pixels, b.pixels))
    // so the perceptual hash cannot tell the codecs apart
    val hashes = Seq(Tuple1(png), Tuple1(gif)).toDF("payload")
      .select(graft.functions.native.imageAHash64(col("payload")).as("h"))
      .as[Long].collect()
    assert(hashes(0) == hashes(1))
  }

  test("animated GIF: per-frame identity, sampling, clip dispatch by magic") {
    import graft.llm.Gif
    val pal = Array.tabulate(256)(i => (i << 16) | (i << 8) | i)
    def pat(f: Int)(x: Int, y: Int): Int = (x + 2 * y + 5 * f) % 256
    val bytes = Gif.encodeAnimated(20, 10, 3, pal, f => pat(f))
    val frames = Gif.decodeFrames(bytes).get
    assert(frames.size == 3)
    for (f <- 0 until 3; y <- 0 until 10; x <- 0 until 20)
      assert((frames(f).indices(y * 20 + x) & 0xFF) == pat(f)(x, y),
        s"($f,$x,$y)")
    // every-2nd sampling keeps frames 0 and 2
    val sampled = Multimodal.gifFrameDecoder(2)(bytes).toSeq
    assert(sampled.map(_(0)) == Seq(0f, 2f))
    // the clip dispatcher routes GIF payloads by magic
    val viaClip = Multimodal.clipFrameDecoder(2)(bytes).toSeq
    assert(viaClip.map(_(0)) == Seq(0f, 2f) && viaClip.head(3) == 3f)
  }

  test("APNG codec: per-frame identity, frame sampling, ImageIO reads frame 0, rejects damage") {
    def pattern(f: Int, x: Int, y: Int, c: Int): Int = (7 * x + 13 * y + 23 * f + 9 + 101 * c) % 256
    val bytes = Multimodal.encodeApng(11, 7, 3, 5, pattern)
    // every frame decodes to its own pattern through the animation walk
    val frames = Multimodal.decodeApngFrames(bytes).get
    assert(frames.size == 5)
    for (f <- 0 until 5; y <- 0 until 7; x <- 0 until 11; c <- 0 until 3)
      assert((frames(f).pixels((y * 11 + x) * 3 + c) & 0xFF) == pattern(f, x, y, c),
        s"frame $f pixel ($x,$y,$c)")
    // the bytes are REAL PNG to a non-animated reader: the JDK's ImageIO
    // ignores the animation chunks and decodes frame 0 (the IDAT image)
    val io = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(io.getWidth == 11 && io.getHeight == 7)
    for (y <- 0 until 7; x <- 0 until 11)
      assert(((io.getRGB(x, y) >> 16) & 0xFF) == pattern(0, x, y, 0))
    // frame SAMPLING through the decodeFrames boundary: every 2nd frame
    val media = Seq((3L, bytes)).toDF("media_id", "content")
    val rows = Multimodal.decodeFrames(spark, media,
        Multimodal.apngFrameDecoder(2))
      .as[(Long, Int, Seq[Float])].collect().toSeq.sortBy(_._2)
    // decodeFrames re-indexes the emitted rows 0..n; the ORIGINAL frame
    // index rides in feature slot 0
    assert(rows.map(_._2) == Seq(0, 1, 2) &&
      rows.map(_._3(0)) == Seq(0f, 2f, 4f), "sampled frames 0/2/4")
    val mean0r = (for (y <- 0 until 7; x <- 0 until 11) yield pattern(0, x, y, 0)).sum.toFloat / 77
    assert(rows(0)._3(1) == 11f && rows(0)._3(2) == 7f && rows(0)._3(3) == 3f)
    assert(math.abs(rows(0)._3(4) - mean0r) < 1e-3)
    // a PLAIN png is not an animation; damage and seq reorder are rejected
    assert(Multimodal.decodeApngFrames(
      Multimodal.encodePng(5, 5, 3, pattern(0, _, _, _))).isEmpty)
    assert(Multimodal.decodeApngFrames(bytes.take(bytes.length - 20)).isEmpty)
    val corrupt = bytes.clone(); corrupt(60) = (corrupt(60) ^ 0x11).toByte
    assert(Multimodal.decodeApngFrames(corrupt).isEmpty)
  }

  test("codec property sweep: random rasters/clips/PCM round-trip bit-exact") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // 40 random PNGs: dims 1..33, RGB and RGBA, arbitrary pixel bytes —
    // every (filter type × edge geometry) combination gets exercised
    for (i <- 0 until 40) {
      val p = Gen.Parameters.default
      def draw(g: Gen[Int], k: Long) = g.apply(p, Seed(9000L + 31 * i + k)).get
      val w = draw(Gen.chooseNum(1, 33), 1)
      val h = draw(Gen.chooseNum(1, 17), 2)
      val ch = draw(Gen.oneOf(3, 4), 3)
      val seed = draw(Gen.chooseNum(0, 1 << 20), 4)
      def pix(x: Int, y: Int, c: Int): Int =
        (x * 2654435761L + y * 40503L + c * 997L + seed).toInt & 0xFF
      val img = Multimodal.decodePng(Multimodal.encodePng(w, h, ch, pix)).get
      assert(img.width == w && img.height == h && img.channels == ch, s"case $i")
      var ok = true
      for (y <- 0 until h; x <- 0 until w; c <- 0 until ch)
        ok &&= (img.pixels((y * w + x) * ch + c) & 0xFF) == pix(x, y, c)
      assert(ok, s"PNG case $i ($w x $h x $ch seed $seed)")
    }
    // 25 random WAV clips: lengths incl. 0 and 1, mono/stereo
    for (i <- 0 until 25) {
      val p = Gen.Parameters.default
      def draw(g: Gen[Int], k: Long) = g.apply(p, Seed(7700L + 31 * i + k)).get
      val ch = draw(Gen.oneOf(1, 2), 1)
      val n = draw(Gen.chooseNum(0, 400), 2) / ch * ch
      val seed = draw(Gen.chooseNum(0, 1 << 20), 3)
      val samples = Array.tabulate(n)(j =>
        ((j * 2654435761L + seed) & 0xFFFF).toInt.toShort)
      val a = Multimodal.decodeWav(Multimodal.encodeWav(44100, ch, samples)).get
      assert(a.channels == ch && a.samples.toSeq == samples.toSeq, s"WAV case $i")
    }
    // 12 random JPEGs via the JDK writer: random dims (partial MCUs),
    // qualities, gray/color — our baseline decoder must stay inside the
    // T.81 conformance tolerance vs ImageIO's own decode
    for (i <- 0 until 12) {
      val p = Gen.Parameters.default
      def draw(g: Gen[Int], k: Long) = g.apply(p, Seed(3300L + 31 * i + k)).get
      val w = draw(Gen.chooseNum(8, 50), 1)
      val h = draw(Gen.chooseNum(8, 40), 2)
      val gray = draw(Gen.oneOf(0, 1), 3) == 1
      val q = draw(Gen.chooseNum(70, 97), 4) / 100f
      val seed = draw(Gen.chooseNum(0, 1 << 16), 5)
      val img = new java.awt.image.BufferedImage(w, h,
        if (gray) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
        else java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        // smooth NON-WRAPPING ramps + mild texture: a mod-256 wrap is a
        // sharp chroma edge where the (spec-unspecified) upsampling
        // filters of two conforming decoders legitimately diverge — the
        // tolerance bound is only meaningful away from such edges
        def ch(o: Int) =
          30 + o + ((2 * x + 3 * y) * 140) / (2 * w + 3 * h) + ((x + y + seed) % 7)
        if (gray) img.getRaster.setSample(x, y, 0, ch(0))
        else img.setRGB(x, y, (ch(0) << 16) | (ch(25) << 8) | ch(50))
      }
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val wp = wr.getDefaultWriteParam
      wp.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      wp.setCompressionQuality(q)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      wr.setOutput(ios)
      wr.write(null, new javax.imageio.IIOImage(img, null, null), wp)
      ios.close(); wr.dispose()
      val bytes = bos.toByteArray
      val got = graft.llm.Jpeg.decode(bytes).get
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(got.width == w && got.height == h, s"JPEG case $i dims")
      var worst = 0
      for (y <- 0 until h; x <- 0 until w; c <- 0 until got.channels) {
        val want =
          if (gray) ref.getRaster.getSample(x, y, 0)
          else (ref.getRGB(x, y) >> (16 - 8 * c)) & 0xFF
        worst = math.max(worst,
          math.abs(want - (got.pixels((y * w + x) * got.channels + c) & 0xFF)))
      }
      val bound = if (gray) 2 else 8
      assert(worst <= bound, s"JPEG case $i ($w x $h gray=$gray q=$q): max diff $worst")
    }
    // 15 random APNG clips: 1..6 frames, random dims — per-frame identity
    for (i <- 0 until 15) {
      val p = Gen.Parameters.default
      def draw(g: Gen[Int], k: Long) = g.apply(p, Seed(5500L + 31 * i + k)).get
      val w = draw(Gen.chooseNum(1, 19), 1)
      val h = draw(Gen.chooseNum(1, 11), 2)
      val nf = draw(Gen.chooseNum(1, 6), 3)
      val seed = draw(Gen.chooseNum(0, 1 << 20), 4)
      def pix(f: Int, x: Int, y: Int, c: Int): Int =
        (f * 7919 + x * 2654435761L + y * 40503L + c * 997L + seed).toInt & 0xFF
      val frames = Multimodal.decodeApngFrames(
        Multimodal.encodeApng(w, h, 3, nf, pix)).get
      assert(frames.size == nf, s"APNG case $i")
      var ok = true
      for (f <- 0 until nf; y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        ok &&= (frames(f).pixels((y * w + x) * 3 + c) & 0xFF) == pix(f, x, y, c)
      assert(ok, s"APNG case $i ($w x $h x$nf seed $seed)")
    }
  }

  test("clip dedup: re-upload found by frame hash, ubiquitous frames df-capped") {
    def clip(v: Int, nf: Int) = Multimodal.encodeApng(6, 4, 3, nf,
      (f, x, y, c) => (7 * x + 13 * y + 23 * f + v + 101 * c) % 256)
    // clips 1 and 2 are the same cut (identical frames); 3 overlaps them
    // in ONE frame (phase 23·2+10 = 56 = 23·0+56); 4 is unrelated
    val media = Seq(
      (1L, clip(10, 4)), (2L, clip(10, 4)), (3L, clip(56, 2)),
      (4L, clip(99, 4))).toDF("media_id", "content")
    val pairs = Multimodal.clipDupPairs(media)
      .as[(Long, Long, Long)].collect().toSet
    // 1-2 share both sampled frames (f=0,2); 3's f=0 matches their f=2
    assert(pairs == Set((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)), pairs.toString)
    // a frame content present in EVERY clip is dropped by the df cap
    // before pairing: with maxDf = 2 the 1/2/3-shared frame vanishes and
    // only the exclusive 1-2 frame survives
    val capped = Multimodal.clipDupPairs(media, maxDf = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L, 1L)), capped.toString)
    // a clip INTERNALLY repeating a raster (held stills, black frames)
    // counts each shared content ONCE: two clips that are 6 copies of the
    // same frame share n_shared = 1, not 3 x 3
    def still(v: Int) = Multimodal.encodeApng(6, 4, 3, 6,
      (_, x, y, c) => (7 * x + 13 * y + v + 101 * c) % 256)
    val stills = Seq((1L, still(5)), (2L, still(5))).toDF("media_id", "content")
    val rep = Multimodal.clipDupPairs(stills)
      .as[(Long, Long, Long)].collect().toSet
    assert(rep == Set((1L, 2L, 1L)), rep.toString)
  }

  test("JPEG baseline decoder: tolerance parity with ImageIO on gray and color, rejects non-baseline") {
    import java.awt.image.BufferedImage
    def writeJpeg(img: BufferedImage, quality: Float): Array[Byte] = {
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = w.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), p)
      ios.close(); w.dispose()
      bos.toByteArray
    }
    // GRAYSCALE: smooth gradient + texture, 37x23 (partial edge MCUs)
    val g = new BufferedImage(37, 23, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 23; x <- 0 until 37) {
      val v = (96 + 3 * x + 2 * y + ((x * y) % 5)) % 256
      g.getRaster.setSample(x, y, 0, v)
    }
    val gBytes = writeJpeg(g, 0.9f)
    val ours = Multimodal.decodePng(gBytes) // sanity: NOT a png
    assert(ours.isEmpty)
    val gd = graft.llm.Jpeg.decode(gBytes).get
    assert(gd.width == 37 && gd.height == 23 && gd.channels == 1)
    val gRef = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gBytes))
    var gMax = 0
    for (y <- 0 until 23; x <- 0 until 37) {
      val want = gRef.getRaster.getSample(x, y, 0)
      val got = gd.pixels(y * 37 + x) & 0xFF
      gMax = math.max(gMax, math.abs(want - got))
    }
    // the JPEG spec does not mandate a bit-exact IDCT: conforming
    // decoders may differ by ±1 per sample
    assert(gMax <= 2, s"gray max diff $gMax")
    // COLOR: smooth gradients so unspecified chroma upsampling filters
    // nearly agree; 41x19, default (possibly subsampled) writer settings
    val c = new BufferedImage(41, 19, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 19; x <- 0 until 41)
      c.setRGB(x, y, ((40 + 4 * x) << 16) | ((60 + 5 * y) << 8) | (200 - 3 * x))
    val cBytes = writeJpeg(c, 0.92f)
    val cd = graft.llm.Jpeg.decode(cBytes).get
    assert(cd.width == 41 && cd.height == 19 && cd.channels == 3)
    val cRef = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(cBytes))
    var cMax = 0; var cSum = 0L
    for (y <- 0 until 19; x <- 0 until 41; ch <- 0 until 3) {
      val want = (cRef.getRGB(x, y) >> (16 - 8 * ch)) & 0xFF
      val got = cd.pixels((y * 41 + x) * 3 + ch) & 0xFF
      cMax = math.max(cMax, math.abs(want - got))
      cSum += math.abs(want - got)
    }
    val cMean = cSum.toDouble / (19 * 41 * 3)
    assert(cMax <= 8 && cMean <= 1.5, s"color max $cMax mean $cMean")
    // header parse agrees with the dedicated meta walk
    assert(Multimodal.decodeImageMeta(cBytes).contains(("jpeg", 41, 19)))
    // damage / unsupported: truncation and a PNG payload are rejected
    assert(graft.llm.Jpeg.decode(cBytes.take(60)).isEmpty)
    assert(graft.llm.Jpeg.decode(
      Multimodal.encodePng(4, 4, 3, (_, _, _) => 7)).isEmpty)
    // the dispatching image frame decoder routes BOTH formats through the
    // decodeFrames boundary: one row per pixel row, real means
    val media = Seq(
      (1L, gBytes),
      (2L, Multimodal.encodePng(6, 4, 3, (x, y, c) => (x + y + c) % 256)))
      .toDF("media_id", "content")
    val rows = Multimodal.decodeFrames(spark, media, Multimodal.imageFrameDecoder)
      .as[(Long, Int, Seq[Float])].collect().toSeq
    assert(rows.count(_._1 == 1L) == 23 && rows.count(_._1 == 2L) == 4)
    val j0 = rows.filter(r => r._1 == 1L && r._2 == 0).head._3
    val refMean = (0 until 37).map(x => gRef.getRaster.getSample(x, 0, 0)).sum.toFloat / 37
    assert(math.abs(j0(3) - refMean) <= 2.0f, s"jpeg row-0 mean ${j0(3)} vs $refMean")
  }

  test("MJPEG container: marker-walk split, real per-frame decode, clip dedup dispatch") {
    def pix(f: Int, x: Int, y: Int, c: Int) =
      (7 * x + 13 * y + 101 * c + 16 * ((23 * f + 5) % 16)) % 256
    val clip = Multimodal.encodeMjpeg(20, 12, 4, pix)
    // the split finds exactly 4 frames, each decoding to the right dims
    val ranges = Multimodal.mjpegFrameRanges(clip).get
    assert(ranges.size == 4 && ranges.head._1 == 0 && ranges.last._2 == clip.length)
    assert(ranges.sliding(2).forall { case Seq(a, b) => a._2 == b._1; case _ => true })
    val frames = Multimodal.decodeMjpegFrames(clip).get
    assert(frames.size == 4 && frames.forall(f => f.width == 20 && f.height == 12))
    // per-frame parity with ImageIO's own decode on a SMOOTH clip (the
    // wrap-mod-256 pattern has sharp chroma edges where two conforming
    // decoders legitimately diverge — same caveat as the random sweep)
    val smooth = Multimodal.encodeMjpeg(20, 12, 3,
      (f, x, y, c) => 40 + 10 * f + 4 * x + 6 * y + 20 * c)
    val sRanges = Multimodal.mjpegFrameRanges(smooth).get
    val sFrames = Multimodal.decodeMjpegFrames(smooth).get
    for (((s0, e0), fi) <- sRanges.zipWithIndex) {
      val fb = java.util.Arrays.copyOfRange(smooth, s0, e0)
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fb))
      assert(ref.getWidth == 20 && ref.getHeight == 12)
      var worst = 0
      for (y <- 0 until 12; x <- 0 until 20; c <- 0 until 3)
        worst = math.max(worst,
          math.abs(((ref.getRGB(x, y) >> (16 - 8 * c)) & 0xFF) -
            (sFrames(fi).pixels((y * 20 + x) * 3 + c) & 0xFF)))
      assert(worst <= 8, s"frame $fi diverged from ImageIO: $worst")
    }
    // an FFD9 byte pair INSIDE a segment payload must not split a frame:
    // splice a COM segment whose body contains FF D9 right after SOI
    val com = Array(0xFF, 0xFE, 0x00, 0x06, 0xFF, 0xD9, 0x41, 0x42).map(_.toByte)
    val single = java.util.Arrays.copyOfRange(clip, ranges(0)._1, ranges(0)._2)
    val spliced = single.take(2) ++ com ++ single.drop(2)
    val r2 = Multimodal.mjpegFrameRanges(spliced).get
    assert(r2.size == 1 && r2.head == (0, spliced.length),
      s"COM payload FFD9 split the frame: $r2")
    assert(Multimodal.decodeMjpegFrames(spliced).get.size == 1)
    // truncation / garbage rejected, never thrown
    assert(Multimodal.decodeMjpegFrames(clip.take(clip.length - 3)).isEmpty)
    assert(Multimodal.decodeMjpegFrames("nonsense".getBytes).isEmpty)
    for (n <- 0 until clip.length by 7) Multimodal.decodeMjpegFrames(clip.take(n))
    // sampled decode through the typed decodeFrames boundary
    val media = Seq((1L, clip)).toDF("media_id", "content")
    val rows = Multimodal.decodeFrames(spark, media, Multimodal.mjpegFrameDecoder(2))
      .as[(Long, Int, Seq[Float])].collect().toSeq.sortBy(_._2)
    assert(rows.map(_._3.head.toInt) == Seq(0, 2)) // sampled frame ids
    assert(rows.forall(r => r._3(1) == 20f && r._3(2) == 12f && r._3(3) == 3f))
    // the dispatching clip decoder routes BOTH containers through one
    // decodeFrames boundary
    val both = Seq(
      (1L, clip),
      (2L, Multimodal.encodeApng(6, 4, 3, 4, (f, x, y, c) => (x + y + f + c) % 256)))
      .toDF("media_id", "content")
    val bothRows = Multimodal.decodeFrames(spark, both, Multimodal.clipFrameDecoder(2))
      .as[(Long, Int, Seq[Float])].collect().toSeq
    assert(bothRows.count(_._1 == 1L) == 2 && bothRows.count(_._1 == 2L) == 2)
    assert(bothRows.filter(_._1 == 1L).forall(_._3(1) == 20f)) // mjpeg width
    assert(bothRows.filter(_._1 == 2L).forall(_._3(1) == 6f))  // apng width
    // clip dedup dispatches on container magic: two identical MJPEG clips
    // pair; a same-pattern APNG never collides with a JPEG raster (lossy
    // vs lossless decode differ), but two identical APNGs still pair
    def apng(v: Int) = Multimodal.encodeApng(20, 12, 3, 4,
      (f, x, y, c) => (7 * x + 13 * y + 101 * c + 16 * ((23 * f + v) % 16)) % 256)
    val mixed = Seq(
      (1L, clip), (2L, clip.clone()), (3L, apng(5)), (4L, apng(5)),
      (5L, Multimodal.encodeMjpeg(20, 12, 4, (f, x, y, c) => pix(f + 1, x, y, c))))
      .toDF("media_id", "content")
    val pairs = Multimodal.clipDupPairs(mixed)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L, 2L)) && pairs.contains((3L, 4L, 2L)),
      pairs.toString)
    assert(!pairs.exists(p => Set(p._1, p._2) == Set(1L, 3L)), pairs.toString)
    // clip 5 shares frame CONTENTS with 1/2 where the phase cycle
    // overlaps: phases of 5 at sampled f∈{0,2} are (23·1+5)%16, (23·3+5)%16
    // = {12, 10}; clip 1 sampled phases {5%16, (46+5)%16} = {5, 3} — no
    // overlap, so no pair with 5 at all
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), pairs.toString)
  }

  test("JPEG decoder: hostile streams return None, never throw") {
    import graft.llm.Jpeg
    def bs(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // a DQT whose declared length can't hold the 64 quantizer bytes
    assert(Jpeg.decode(bs(0xFF, 0xD8, 0xFF, 0xDB, 0x00, 0x03, 0x00)).isEmpty)
    // a DHT with room for the id byte but not the 16 count bytes
    assert(Jpeg.decode(bs(0xFF, 0xD8, 0xFF, 0xC4, 0x00, 0x04, 0x00, 0x01)).isEmpty)
    // a DHT whose counts claim more values than the segment carries
    assert(Jpeg.decode(bs(Seq(0xFF, 0xD8, 0xFF, 0xC4, 0x00, 0x13, 0x00) ++
      Seq.fill(16)(0x02): _*)).isEmpty)
    // SOF0 with a truncated component list
    assert(Jpeg.decode(bs(0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x0B, 0x08,
      0x00, 0x10, 0x00, 0x10, 0x03, 0x01, 0x22, 0x00)).isEmpty)
    // decompression bomb: 65535 x 65535 x 3 from a 25-byte stream must be
    // rejected before any allocation
    assert(Jpeg.decode(bs(0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x11, 0x08,
      0xFF, 0xFF, 0xFF, 0xFF, 0x03,
      0x01, 0x22, 0x00, 0x02, 0x11, 0x00, 0x03, 0x11, 0x00)).isEmpty)
    // truncations of a real JPEG at EVERY prefix length: None or a decoded
    // raster, never an exception escaping decode
    val img = new java.awt.image.BufferedImage(24, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 24)
      img.setRGB(x, y, ((10 * x) << 16) | ((7 * y) << 8) | (x + y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    val full = bos.toByteArray
    for (n <- 0 to full.length) Jpeg.decode(full.take(n)) // must not throw
    // random single-byte corruptions: same no-throw contract
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 200) {
      val mut = full.clone()
      mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
      Jpeg.decode(mut)
    }
    // bomb with a COMPLETE header: patch the real stream's SOF dims to
    // 65535 x 65535 — valid tables and scan follow, so the decode reaches
    // the allocation point and the raster cap must reject it (the
    // unguarded path would demand a multi-GB plane)
    var sof = -1
    var i = 2
    while (sof < 0 && i + 1 < full.length) {
      if ((full(i) & 0xFF) == 0xFF && (full(i + 1) & 0xFF) == 0xC0) sof = i
      else i += 1
    }
    assert(sof > 0)
    val bomb = full.clone()
    for (k <- 0 until 4) bomb(sof + 5 + k) = 0xFF.toByte // height, width
    assert(Jpeg.decode(bomb).isEmpty)
  }

  test("JPEG decoder: chroma components selected by id, not SOF position") {
    // A conforming stream whose FRAME header lists components as 1,3,2
    // (T.81 allows any order; the scan header and entropy stream keep the
    // JFIF 1,2,3 interleave): byte-swap the Cb/Cr SOF entries of a JDK
    // JPEG. A position-based decoder swaps the chroma channels; an
    // id-based one must still match ImageIO on the ORIGINAL bytes.
    val img = new java.awt.image.BufferedImage(20, 12,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 12; x <- 0 until 20)
      img.setRGB(x, y, ((40 + 9 * x) << 16) | ((30 + 5 * y) << 8) | (60 + 3 * (x + y)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    val orig = bos.toByteArray
    // locate SOF0 and swap the 3-byte entries of components 2 and 3
    var sof = -1
    var i = 2
    while (sof < 0 && i + 1 < orig.length) {
      if ((orig(i) & 0xFF) == 0xFF && (orig(i + 1) & 0xFF) == 0xC0) sof = i
      else i += 1
    }
    assert(sof > 0, "no SOF0 in JDK jpeg")
    val seg = sof + 4 // past marker + length
    assert((orig(seg + 6) & 0xFF) == 1 && (orig(seg + 9) & 0xFF) == 2 &&
      (orig(seg + 12) & 0xFF) == 3, "unexpected JFIF component layout")
    val mut = orig.clone()
    for (k <- 0 until 3) {
      mut(seg + 9 + k) = orig(seg + 12 + k)
      mut(seg + 12 + k) = orig(seg + 9 + k)
    }
    val got = graft.llm.Jpeg.decode(mut).get
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(orig))
    var worst = 0
    for (y <- 0 until 12; x <- 0 until 20; c <- 0 until 3)
      worst = math.max(worst, math.abs(((ref.getRGB(x, y) >> (16 - 8 * c)) & 0xFF) -
        (got.pixels((y * 20 + x) * 3 + c) & 0xFF)))
    assert(worst <= 8, s"reordered-SOF decode diverged: max diff $worst")
  }

  test("WAV codec: decode∘encode identity, javax.sound cross-parity both ways, rejects damage") {
    def sample(i: Int): Short = (((31L * i * i + 17L * i + 97L * 5) % 65536L) - 32768L).toShort
    val samples = Array.tabulate(300)(sample)
    val bytes = Multimodal.encodeWav(16000, 1, samples)
    // identity through our own codec
    val a = Multimodal.decodeWav(bytes).get
    assert(a.sampleRate == 16000 && a.channels == 1)
    assert(a.samples.toSeq == samples.toSeq)
    // the bytes are REAL WAV: the JDK's own audio reader agrees on format
    // and raw PCM content
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    assert(fmt.getSampleRate == 16000f && fmt.getChannels == 1 &&
      fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian)
    val pcm = ais.readAllBytes()
    val fromJdk = java.nio.ByteBuffer.wrap(pcm)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
    assert((0 until 300).forall(i => fromJdk.get(i) == samples(i)))
    // ...and our decoder reads a WAV the JDK WROTE
    val jdkOut = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 300),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, jdkOut)
    val back = Multimodal.decodeWav(jdkOut.toByteArray).get
    assert(back.samples.toSeq == samples.toSeq && back.sampleRate == 16000)
    // stereo round-trips (interleaved samples preserved in order)
    val st = Multimodal.decodeWav(
      Multimodal.encodeWav(8000, 2, samples.take(60))).get
    assert(st.channels == 2 && st.samples.toSeq == samples.take(60).toSeq)
    // damage rejected: truncation, non-PCM format tag, garbage
    assert(Multimodal.decodeWav(bytes.take(50)).isEmpty)
    val nonPcm = bytes.clone(); nonPcm(20) = 3 // IEEE-float tag
    assert(Multimodal.decodeWav(nonPcm).isEmpty)
    assert(Multimodal.decodeWav("RIFFnope".getBytes).isEmpty)
  }

  test("IMA ADPCM: step tracking, header-exact resync, fact-truncated container round-trip") {
    import graft.llm.Adpcm
    // constant signal: the header carries sample 0 verbatim and the step
    // floor (7 >> 3 = 0) holds the rest exactly
    val const = Array.fill[Short](1200)(1234)
    val cd = Adpcm.decodeBlocks(Adpcm.encodeBlocks(const, 256), 256, 1200).get
    assert(cd.length == 1200 && cd.forall(_ == 1234), cd.take(8).toSeq.toString)
    // triangle wave with ±256 slopes: the adapted step tracks it tightly
    val p = 100
    def tri(i: Int): Short = {
      val ph = i % (2 * p); (256 * (p - math.abs(ph - p)) - 128 * p).toShort
    }
    val t0 = Array.tabulate(2000)(tri)
    val td = Adpcm.decodeBlocks(Adpcm.encodeBlocks(t0, 256), 256, 2000).get
    val errs = td.zip(t0).map { case (a, b) => math.abs(a - b) }
    assert(errs.max <= 1024, s"tracking error ${errs.max}")
    // every block boundary is header-exact (505 samples per 256-byte block)
    val spb = Adpcm.samplesPerBlock(256)
    assert(spb == 505)
    (0 until 2000 by spb).foreach(i => assert(td(i) == t0(i), s"head $i"))
    // resync: trash block 1's payload — blocks 0 and 2+ stay header-exact
    val enc = Adpcm.encodeBlocks(t0, 256)
    val hurt = enc.clone()
    for (i <- 260 until 510) hurt(i) = 0x55
    val hd = Adpcm.decodeBlocks(hurt, 256, 2000).get
    assert(hd(0) == t0(0) && hd(2 * spb) == t0(2 * spb) && hd(3 * spb) == t0(3 * spb))
    // white-noise-ish garbage still decodes deterministically (no throw),
    // and malformed blocks are rejected: short payload, bad reserved byte,
    // out-of-range step index
    assert(Adpcm.decodeBlocks(enc.take(100), 256, 10).isEmpty)
    val badRes = enc.clone(); badRes(3) = 1
    assert(Adpcm.decodeBlocks(badRes, 256, 2000).isEmpty)
    val badIdx = enc.clone(); badIdx(2) = 120.toByte
    assert(Adpcm.decodeBlocks(badIdx, 256, 2000).isEmpty)
    // container round-trip: ADPCM WAV with a PARTIAL final block — the
    // fact chunk preserves the true count; format fields survive
    val n = 700 // 2 blocks, second only partly filled
    val samples = Array.tabulate(n)(tri)
    val wav = Multimodal.encodeWavAdpcm(8000, samples)
    val a = Multimodal.decodeWav(wav).get
    assert(a.sampleRate == 8000 && a.channels == 1 && a.samples.length == n)
    assert(a.samples(0) == samples(0) && a.samples(505) == samples(505))
    assert(a.samples.zip(samples).map(x => math.abs(x._1 - x._2)).max <= 1024)
    // decode∘encode∘decode idempotence: re-encoding the DECODED signal and
    // decoding again reproduces it less residual quantization — and the
    // integer determinism means equal inputs give equal bytes
    assert(Multimodal.encodeWavAdpcm(8000, samples).toSeq == wav.toSeq)
    // damage rejected: truncation and a stereo ADPCM claim
    assert(Multimodal.decodeWav(wav.take(60)).isEmpty)
    val stereo = wav.clone(); stereo(22) = 2
    assert(Multimodal.decodeWav(stereo).isEmpty)
    // the compressed stream is well under half the s16 PCM bytes (block
    // padding costs a bit on a 2-block clip; full blocks approach 4:1)
    assert(wav.length < n, s"${wav.length} vs ${n * 2}")
    // ...and the windowed frame decoder runs on the ADPCM container
    // through the same typed boundary as PCM
    val media = Seq((1L, wav)).toDF("media_id", "content")
    val rows = Multimodal.decodeFrames(spark, media, Multimodal.wavFrameDecoder(256))
      .as[(Long, Int, Seq[Float])].collect()
    assert(rows.length == (n + 255) / 256 && rows.map(_._3(1).toInt).sum == n)
    // pinned regression vector: first nibbles of a fixed ramp encode (a
    // silent table/step change would shift these)
    val ramp = Array.tabulate[Short](16)(i => (i * 300).toShort)
    val rb = Adpcm.encodeBlocks(ramp, 256)
    assert(rb(0) == 0 && rb(1) == 0 && rb(2) == 0 && rb(3) == 0)
    val rd = Adpcm.decodeBlocks(rb, 256, 16).get
    assert(rd(0) == 0 && rd.zip(ramp).map(x => math.abs(x._1 - x._2)).max <= 1024)
  }

  test("WAV frame decoder: windowed RMS/ZCR through the decodeFrames boundary") {
    val samples = Array.tabulate(2500)(i =>
      (((31L * i * i + 17L * i) % 65536L) - 32768L).toShort)
    val media = Seq((9L, Multimodal.encodeWav(16000, 1, samples)))
      .toDF("media_id", "content")
    val rows = Multimodal.decodeFrames(spark, media,
        Multimodal.wavFrameDecoder(1024))
      .as[(Long, Int, Seq[Float])].collect().toSeq.sortBy(_._2)
    assert(rows.map(_._2) == Seq(0, 1, 2), "three windows incl. short tail")
    assert(rows(0)._3(1) == 1024f && rows(2)._3(1) == 452f)
    // window-0 RMS replayed directly from the formula
    val ss = samples.take(1024).map(s => s.toLong * s).sum
    assert(math.abs(rows(0)._3(2) - math.sqrt(ss.toDouble / 1024)) < 1e-2)
    val bad = Seq((1L, "not audio".getBytes)).toDF("media_id", "content")
    assert(Multimodal.decodeFrames(spark, bad,
      Multimodal.wavFrameDecoder(1024)).count() == 0)
  }

  test("real PNG frame decoder: per-row means through the decodeFrames boundary") {
    def pattern(x: Int, y: Int, c: Int): Int = (7 * x + 13 * y + 5 + 101 * c) % 256
    val payload = Multimodal.encodePng(8, 6, 3, pattern)
    val media = Seq((42L, payload)).toDF("media_id", "content")
    val rows = Multimodal.decodeFrames(spark, media, Multimodal.pngFrameDecoder)
      .as[(Long, Int, Seq[Float])].collect().toSeq.sortBy(_._2)
    assert(rows.map(_._2) == (0 until 6), "one frame per pixel row")
    rows.foreach { case (_, y, feat) =>
      assert(feat(0) == y.toFloat && feat(1) == 8.0f && feat(2) == 3.0f)
      for (c <- 0 until 3) {
        val mean = (0 until 8).map(x => pattern(x, y, c)).sum.toFloat / 8
        assert(math.abs(feat(3 + c) - mean) < 1e-4, s"row $y ch $c")
      }
    }
    // an undecodable payload yields NO frames (scrub, don't invent)
    val bad = Seq((1L, "junk".getBytes)).toDF("media_id", "content")
    assert(Multimodal.decodeFrames(spark, bad, Multimodal.pngFrameDecoder).count() == 0)
  }

  test("image header parse: PNG IHDR offsets, JPEG marker walk, rejects garbage") {
    def hexBytes(h: String): Array[Byte] =
      h.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def be32(v: Int) = f"$v%08X"
    def be16(v: Int) = f"$v%04X"
    def png(w: Int, h: Int): Array[Byte] =
      hexBytes("89504E470D0A1A0A 0000000D 49484452 " + be32(w) + be32(h) + "0806000000")
    // JPEG with two variable-length segments BEFORE the SOF (APP0 + COM) so
    // the walk must really skip by the big-endian length fields, plus a
    // fill byte 0xFF before the SOF marker
    def jpeg(w: Int, h: Int, pad: Int): Array[Byte] =
      hexBytes("FFD8" +
        "FFE0" + be16(8) + "4A4649460001" + // APP0, 6 payload bytes
        "FFFE" + be16(pad + 2) + "00" * pad + // COM, pad payload bytes
        "FF" + // fill byte
        "FFC2" + be16(17) + "08" + be16(h) + be16(w) + // progressive SOF2
        "03011100021101031101" + "FFD9")
    assert(Multimodal.decodeImageMeta(png(575, 303)).contains(("png", 575, 303)))
    assert(Multimodal.decodeImageMeta(png(1, 1)).contains(("png", 1, 1)))
    assert(Multimodal.decodeImageMeta(jpeg(575, 303, 0)).contains(("jpeg", 575, 303)))
    assert(Multimodal.decodeImageMeta(jpeg(2, 9, 31)).contains(("jpeg", 2, 9)))
    // rejections: garbage, truncation, marker desync, missing SOF
    assert(Multimodal.decodeImageMeta("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImageMeta(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeImageMeta(png(5, 5).take(20)).isEmpty)
    assert(Multimodal.decodeImageMeta(jpeg(5, 5, 2).take(6)).isEmpty)
    assert(Multimodal.decodeImageMeta(hexBytes("FFD8" + "FFFE0004" + "0000" + "12345678")).isEmpty)
    assert(Multimodal.decodeImageMeta(hexBytes("FFD8FFD9")).isEmpty)
    // the native expression is the same parse (parity incl. NULL row)
    val df = Seq((1L, png(640, 480)), (2L, jpeg(123, 45, 3)),
      (3L, "junk".getBytes)).toDF("id", "content")
    val got = df.select(col("id"),
        graft.functions.native.imageMeta(col("content")).as("m"))
      .select(col("id"), col("m.format"), col("m.width"), col("m.height"))
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)), if (r.isNullAt(2)) -1 else r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3))).toSet
    assert(got == Set((1L, Some("png"), 640, 480),
      (2L, Some("jpeg"), 123, 45), (3L, None, -1, -1)))
  }

  test("repetition stats: top-ngram and duplicated-5gram char fractions") {
    // "a b a b a b": 2-grams = [a b, b a, a b, b a, a b] → top "a b" ×3,
    // text length 11 → top2 = 3*3/11. 5-grams: [a b a b a, b a b a b] —
    // both unique → dup5 = 0.
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "x y z"),          // no repeats at all: top fracs from cnt=1 grams
      (3L, "q"),              // single token: no n-grams → absent from output
      (4L, "c c c c c c")     // every 5-gram identical: dup5 = 2*9/11
    ).toDF("doc_id", "text")
    val out = TextStats.repetitionStats(docs)
      .as[(Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(!out.contains(3L))
    val d = (x: Double) => math.floor(x * 1e4 + 0.5) / 1e4
    // doc 1: top3 ties at cnt=2 ("a b a" vs "b a b") → largest gram "b a b"
    // (2×5/11); top4 "a b a b" ×2 (2×7/11)
    assert(out(1L) == ((d(9.0 / 11), d(10.0 / 11), d(14.0 / 11), 0.0)))
    // doc 2: all grams unique, argmax = lexicographically largest gram
    // ("y z" for k=2, len 3 → 3/5); no 4/5-grams (3 tokens) → 0
    assert(out(2L) == ((d(3.0 / 5), d(5.0 / 5), 0.0, 0.0)))
    // doc 4 ("c c c c c c", len 11): 2-gram "c c" ×5 → 15/11 (>1 — pinned
    // all-occurrence counting); 5-gram "c c c c c" ×2 → dup5 = 18/11
    assert(out(4L) == ((d(15.0 / 11), d(20.0 / 11), d(21.0 / 11), d(18.0 / 11))))
  }

  test("gopher filter: rule bitmask and keep decision per document") {
    val clean = (1 to 60).map(i => f"word$i%02d").mkString(" ") // 60×len-6 words
    val spammy = Seq.fill(60)("spam").mkString(" ")
    val junk = "a b! c@"
    val docs = Seq((1L, clean), (2L, spammy), (3L, junk)).toDF("doc_id", "text")
    val out = TextStats.gopherFilter(docs)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((60L, 0L, 1L))) // passes every rule
    // spam: top2 "spam spam"×59×9/299 and dup5 56×24/299 both over → 8+16
    assert(out(2L) == ((60L, 24L, 0L)))
    // junk: 3 words (<50 → 1), mwl 1.67 (<3 → 2), sym 2/7 (>0.1 → 4),
    // top2 "b! c@" 5/7 (>0.2 → 8); no 5-grams → dup5 passes
    assert(out(3L) == ((3L, 15L, 0L)))
  }

  test("c4 filter: per-line rules and the min-kept-lines document gate") {
    val doc1 = Seq( // 4 lines, 3 survive → kept
      "this line ends with terminal punctuation properly.",
      "so does this one and it is long enough!",
      "does this question line also survive the filter?",
      "no terminal punctuation so this line dies").mkString("\n")
    val doc2 = Seq( // brace, lorem, short → only 1 survives → dropped
      "function f() { return 1; }",
      "lorem ipsum dolor sit amet padding words here.",
      "too short.",
      "the single surviving line of this document stands alone.")
      .mkString("\n")
    val docs = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    val out = TextStats.c4Filter(docs)
      .as[(Long, Long, Long, Boolean, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((4L, 3L, true)))
    assert(out(2L) == ((4L, 1L, false)))
    // clean_text reassembles survivors in order
    val clean = TextStats.c4Filter(docs).where(col("doc_id") === 1)
      .select("clean_text").as[String].head()
    assert(clean == doc1.split("\n").take(3).mkString("\n"))
  }

  test("html link extraction: quoted hrefs in document order") {
    val html = "<html><body><a class=\"x\" href=\"http://a.com/1\">one</a>" +
      "<A HREF=\"http://b.com/2\">two</A><a href='unquoted'>skip</a>" +
      "<a data-href=\"http://decoy.com\" href=\"/rel\">rel</a></body></html>"
    val out = Seq(Tuple1(html)).toDF("html")
      .select(graft.llm.Html.links(col("html")).as("l"))
      .as[Seq[String]].head()
    assert(out == Seq("http://a.com/1", "http://b.com/2", "/rel"))
  }

  test("html anchor pairs: one-pass (href, term) stays aligned on mixed markup") {
    // The misalignment trap: an href-less anchor and a single-quoted-href
    // anchor sit BETWEEN two well-formed ones. Zipping links() with
    // anchorTexts() would pair "http://a.com" with "no-href" here; the
    // one-pass extraction pairs by element, so each term stays with its
    // own href (missing/unquoted hrefs surface as '').
    val html = "<p><a href=\"http://a.com\">alpha</a>" +
      "<a name=\"x\">no-href</a><a href='http://q.com'>quoted</a>" +
      "<a class=\"y\" href=\"http://b.com\">beta</a></p>"
    val out = Seq(Tuple1(html)).toDF("html")
      .select(graft.llm.Html.anchorPairs(col("html")).as("p"))
      .select(explode(col("p")).as("a"))
      .select(col("a.href"), col("a.term"))
      .as[(String, String)].collect().toSeq
    assert(out == Seq("http://a.com" -> "alpha", "" -> "no-href",
      "" -> "quoted", "http://b.com" -> "beta"))
  }

  test("script mix: per-range counts, dominance argmax, tie and none cases") {
    val docs = Seq(
      (1L, "hello world"),          // latin only
      (2L, "яяяя hi"),              // cyrillic 4 > latin 2
      (3L, "中中 яя هه xx"),          // four-way tie at 2 → name order: arabic
      (4L, "12345 !!!")             // no script chars at all
    ).toDF("doc_id", "text")
    val out = TextStats.scriptMix(docs)
      .as[(Long, Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 0L, 0L, 0L, 10L, "latin")))
    assert(out(2L) == ((2L, 0L, 4L, 0L, 2L, "cyrillic")))
    assert(out(3L) == ((3L, 2L, 2L, 2L, 2L, "arabic")))
    assert(out(4L) == ((4L, 0L, 0L, 0L, 0L, "none")))
  }

  test("repetition stats: random docs match an in-memory reference") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // tiny vocab → dense gram collisions; lengths straddle every k boundary
    val genDoc = Gen.chooseNum(0, 14).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "bb", "ccc", "a")).map(_.mkString(" ")))
    val docs = (0 until 120).map { i =>
      (i.toLong, genDoc.apply(Gen.Parameters.default, Seed(7000L + i)).get)
    }
    def ref(text: String): Option[(Double, Double, Double, Double)] = {
      val w = text.split(" ", -1) // keep empties: string_split semantics
      val tl = math.max(text.length, 1)
      val byK = (2 to 5).map { k =>
        k -> (0 to w.length - k).map(i => w.slice(i, i + k).mkString(" "))
      }.toMap
      if (byK.values.forall(_.isEmpty)) None
      else {
        def top(k: Int): Long = {
          val c = byK(k).groupBy(identity).view.mapValues(_.size.toLong)
          if (c.isEmpty) 0L
          else {
            val (g, n) = c.maxBy { case (g, n) => (n, g) } // count, then gram
            n * g.length
          }
        }
        val dup5 = byK(5).groupBy(identity).collect {
          case (g, os) if os.size >= 2 => os.size.toLong * g.length
        }.sum
        def r(x: Long) = math.floor(x.toDouble / tl * 1e4 + 0.5) / 1e4
        Some((r(top(2)), r(top(3)), r(top(4)), r(dup5)))
      }
    }
    val got = TextStats.repetitionStats(docs.toDF("doc_id", "text"))
      .as[(Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val expected = docs.flatMap { case (id, t) => ref(t).map(id -> _) }.toMap
    assert(got.keySet == expected.keySet)
    for ((id, e) <- expected)
      assert(got(id) == e, s"doc $id '${docs(id.toInt)._2}'")
  }

  test("winnowing: kernel matches a plain reference; overlap guarantee holds") {
    import graft.functions.PolyHash
    def ref(text: String, k: Int = 3, w: Int = 4): Set[Long] = {
      val toks = text.split(" ", -1)
      val grams = (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" "))
      if (grams.isEmpty) Set.empty
      else {
        val hs = grams.map(PolyHash.h1)
        val starts = math.max(hs.length - w, 0)
        (0 to starts).map(s => hs.slice(s, s + w).min).toSet
      }
    }
    // random docs over a tiny vocab (dense collisions) + degenerate sizes
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "bb", "ccc", "dd")
    val texts = (0 until 80).map(i =>
      (0 until rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(4))).mkString(" "))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(docs)
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val expected = texts.zipWithIndex
      .map { case (t, i) => i.toLong -> ref(t) }.filter(_._2.nonEmpty).toMap
    assert(got == expected)
    // the winnowing guarantee: a shared run of k + w - 1 = 6 tokens yields
    // at least one shared fingerprint between otherwise-disjoint docs
    val run = "p q r s t u"
    val pair = Seq((100L, s"x1 x2 x3 $run x4 x5"), (200L, s"y1 $run y2 y3 y4"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(pair).as[(Long, Long)].collect()
    val shared = fps.filter(_._1 == 100L).map(_._2).toSet
      .intersect(fps.filter(_._1 == 200L).map(_._2).toSet)
    assert(shared.nonEmpty)
    // winnowOverlap reports that pair; the boilerplate guard (maxDf) drops
    // a fingerprint shared by every doc when the cap is below corpus size
    val ov = Dedup.winnowOverlap(pair, minShared = 1)
      .as[(Long, Long, Long)].collect()
    assert(ov.exists(r => r._1 == 100L && r._2 == 200L && r._3 >= 1))
    val many = (1 to 20).map(i => (i.toLong, s"c1 c2 c3 c4 c5 c6 extra$i"))
      .toDF("doc_id", "text")
    assert(Dedup.winnowOverlap(many, minShared = 1, maxDf = 10).count() == 0)
  }

  test("knn graph: exact within blocks, ranked, directional; 1-NN delegates") {
    // two labels: 0 → ids 1-4 on distinct directions, 1 → ids 10-11
    val embs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f), 0),
      (2L, Seq(0.9f, 0.1f, 0.0f), 0),
      (3L, Seq(0.0f, 1.0f, 0.0f), 0),
      (4L, Seq(0.0f, 0.0f, 1.0f), 0),
      (10L, Seq(1.0f, 1.0f, 0.0f), 1),
      (11L, Seq(1.0f, 0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val g = Similarity.knnGraph(embs, k = 2)
      .as[(Long, Long, Long, Double)].collect()
    val byS = g.groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    // every neighbour stays inside the label block, ranks are 1..k dense
    assert(byS(1L) == Seq(2L, 3L) || byS(1L) == Seq(2L, 4L)) // 3 vs 4 tie → id
    assert(byS(1L) == Seq(2L, 3L))
    assert(byS(10L) == Seq(11L) && byS(11L) == Seq(10L)) // block of 2: only 1 nbr
    assert(g.forall(r => r._3 >= 1 && r._3 <= 2))
    // sims are rounded cosines in [-1, 1], descending within a source
    g.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._3).map(_._4).toSeq
      assert(sorted == sorted.sorted.reverse)
    }
    // k=1 graph == nnWithinPartition output exactly
    val nn = Similarity.nnWithinPartition(embs)
      .as[(Long, Long, Double)].collect().toSet
    val g1 = Similarity.knnGraph(embs, k = 1)
      .as[(Long, Long, Long, Double)].collect().map(r => (r._1, r._2, r._4)).toSet
    assert(nn == g1)
  }

  test("token entropy: exact bits on known distributions, shuffle-free plan") {
    val d = Seq(
      (1L, "a a a a"), // one symbol: H = 0
      (2L, "a b c d"), // uniform over 4: H = 2
      (3L, "a a b b") // uniform over 2: H = 1
    ).toDF("doc_id", "text")
    val r = TextStats.tokenEntropy(d).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r == Seq((1L, 4L, 1L, 0.0), (2L, 4L, 4L, 2.0), (3L, 4L, 2L, 1.0)))
    // doc-local statistic: no Exchange anywhere in the plan
    val plan = TextStats.tokenEntropy(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("fuzzy record linkage: blocked levenshtein pairs, blocks respected") {
    val recs = Seq(
      (1L, "alpha corp", "A"), (2L, "alpha corq", "A"), // dist 1, same block
      (3L, "alpha corp", "B"), // identical to 1 but blocked apart: no pair
      (4L, "zzzz zzzz", "A") // dist > 2 from everything
    ).toDF("k", "name", "blk")
    val pairs = Dedup.fuzzyPairs(recs, "k", "name", Seq("blk"), maxDist = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1L)))
  }

  test("fuzzy record linkage: hot blocks route to deletion candidates, identical pairs") {
    // a block beyond FuzzyDeletionBlockThreshold forces the deletion-
    // neighborhood route; short strings over {a,b} make dist-0/1/2 AND
    // shift pairs common (the case a positional-Hamming prefilter loses)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { i =>
      val len = 6 + rnd.nextInt(3)
      (i.toLong,
        (0 until len).map(_ => if (rnd.nextBoolean()) 'a' else 'b').mkString,
        "B")
    } ++ Seq(
      (1000L, "ababab", "B"), (1000L, "ababab", "B"), // duplicate key: multiset
      (1001L, "bababa", "B"), // pure shift of ababab — lev 2, Hamming 6
      (2000L, "ababab", "S")) // other block: must never pair with B
    val recs = rows.toDF("k", "name", "blk")
    val got = Dedup.fuzzyPairs(recs, "k", "name", Seq("blk"), maxDist = 2)
    assert(got.queryExecution.analyzed.toString
      .toLowerCase.contains("deletionneighborhood"),
      "expected the hot block to engage the deletion-neighborhood kernel")
    // the deletion route pairs variant rows through a self equi-join: no
    // aggregation buffer holds a whole (block, variant) group
    val optimized = got.queryExecution.optimizedPlan.toString
    assert(!optimized.toLowerCase.contains("collect_list"), optimized)
    // reference: the strict key_a < key_b row-pair product + levenshtein
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      i <- rows.indices; j <- rows.indices
      if i < j && rows(i)._3 == rows(j)._3 && rows(i)._1 != rows(j)._1
      d = lev(rows(i)._2, rows(j)._2) if d <= 2
    } yield {
      if (rows(i)._1 < rows(j)._1) (rows(i)._1, rows(j)._1, d.toLong)
      else (rows(j)._1, rows(i)._1, d.toLong)
    }).sorted
    val gotPairs = got.as[(Long, Long, Long)].collect().toSeq.sorted
    assert(gotPairs == expected,
      s"got ${gotPairs.size} pairs, expected ${expected.size}")
    // the duplicate-key rows each pair with the shift partner: multiset kept
    assert(gotPairs.count(_ == (1000L, 1001L, 2L)) == 2)
  }

  test("deletion neighborhood kernel: exactly the distinct ≤2-deletion variants") {
    val strs = Seq("", "a", "aa", "aaaa", "héllo", "abcde")
    val got = strs.toDF("s")
      .select(col("s"),
        graft.functions.native.deletionNeighborhood(col("s"), 2).as("v"))
      .as[(String, Seq[String])].collect().toMap
    def ref(s: String): Set[String] = {
      val d1 = (0 until s.length).map(i => s.take(i) + s.drop(i + 1))
      val d2 = for {
        i <- 0 until s.length; j <- i + 1 until s.length
      } yield s.take(i) + s.substring(i + 1, j) + s.drop(j + 1)
      (Seq(s) ++ d1 ++ d2).toSet
    }
    strs.foreach { s =>
      assert(got(s).toSet == ref(s), s"variants of '$s'")
      assert(got(s).distinct == got(s), s"duplicate variants emitted for '$s'")
    }
  }

  test("perplexity buckets: SQL-ntile division, head = cleanest, pinned ties") {
    import graft.llm.NgramLm
    val scored = Seq(
      (1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0), (5L, 5.0), (6L, 6.0)
    ).toDF("doc_id", "lm_score")
    val b = NgramLm.perplexityBuckets(scored).orderBy("doc_id")
      .as[(Long, Double, String)].collect().toSeq.map(r => (r._1, r._3))
    assert(b == Seq(1L -> "head", 2L -> "head", 3L -> "middle",
      4L -> "middle", 5L -> "tail", 6L -> "tail"))
    // 7 rows: ntile gives the EXTRA row to bucket 1 (first total%n buckets)
    val scored7 = scored.union(Seq((7L, 0.5)).toDF("doc_id", "lm_score"))
    val b7 = NgramLm.perplexityBuckets(scored7)
      .as[(Long, Double, String)].collect()
      .map(r => (r._1, r._3)).toMap
    assert(b7(7L) == "head" && b7(2L) == "head" && b7(1L) == "head")
    assert(b7(3L) == "middle" && b7(5L) == "tail")
    // ties fall back to doc_id order (the pinned cross-engine tiebreak)
    val tied = Seq((10L, 1.0), (11L, 1.0), (12L, 1.0)).toDF("doc_id", "lm_score")
    val bt = NgramLm.perplexityBuckets(tied)
      .as[(Long, Double, String)].collect().map(r => (r._1, r._3)).toMap
    assert(bt == Map(10L -> "head", 11L -> "middle", 12L -> "tail"))
  }

  test("inverted index + BM25: postings exact, rare term outranks common") {
    import graft.llm.Search
    val d = Seq(
      (1L, "spark spark spark common"), // heavy tf on 'spark'
      (2L, "rare common x y"), // sole holder of 'rare'
      (3L, "spark common z w"),
      (4L, "common only here pad")
    ).toDF("doc_id", "text")
    val idx = Search.invertedIndex(d).orderBy("term")
      .as[(String, Long, Seq[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(idx("spark") == ((2L, Seq(1L, 3L))))
    assert(idx("rare") == ((1L, Seq(2L))))
    assert(idx("common") == ((4L, Seq(1L, 2L, 3L, 4L))))
    // df counts DOCS, not occurrences (doc 1 has 3 'spark's)
    val bm = Search.bm25TopK(d, Seq("rare", "spark"), k = 4)
      .as[(Long, Double)].collect().toSeq
    // doc 2 holds the df=1 term: highest idf wins over tf-heavy doc 1
    assert(bm.head._1 == 2L)
    assert(bm.map(_._1).toSet == Set(1L, 2L, 3L)) // doc 4 matches nothing
    // scores strictly ordered desc, doc_id tiebreak
    assert(bm.map(-_._2) == bm.map(-_._2).sorted)
  }

  test("batch BM25: per-query top-k, query-local ranking, integer-sum ties") {
    import graft.llm.Search
    val d = Seq(
      (1L, "spark spark spark common"),
      (2L, "rare common x y"),
      (3L, "spark common z w"),
      (4L, "common only here pad")
    ).toDF("doc_id", "text")
    val qs = Seq((10L, "rare"), (20L, "spark common")).toDF("query_id", "qtext")
    val r = Search.bm25ForQueries(d, qs, k = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val byQ = r.groupBy(_._1).view.mapValues(_.sortBy(_._3)).toMap
    // query 10 matches only doc 2
    assert(byQ(10L).map(_._2) == Seq(2L))
    // query 20 matches all 4 docs, top-3 kept, ranks dense from 1
    assert(byQ(20L).map(_._3) == Seq(1L, 2L, 3L))
    // per-query scores descend
    byQ.values.foreach { rs =>
      val sc = rs.map(_._4)
      assert(sc == sc.sorted.reverse)
    }
  }

  test("hard negatives: full matches excluded, partial matches ranked, zero matches absent") {
    import graft.llm.Search
    val d = Seq(
      (1L, "spark window agg pad"),   // matches ALL of query 10 → presumed positive, excluded
      (2L, "spark window miss pad"),  // 2 of 3 → hard negative
      (3L, "spark other stuff pad"),  // 1 of 3 → hard negative
      (4L, "wholly unrelated here"),  // 0 of 3 → never scored
      (5L, "spark window agg agg")    // all 3 again → excluded
    ).toDF("doc_id", "text")
    val qs = Seq((10L, "spark window agg")).toDF("query_id", "qtext")
    val r = Search.bm25HardNegatives(d, qs, k = 5)
      .as[(Long, Long, Long, Double, Long)].collect().toSeq.sortBy(_._3)
    assert(r.map(_._2) == Seq(2L, 3L), r.toString) // ranked by score: 2 terms > 1 term
    assert(r.map(_._5) == Seq(2L, 1L))
    assert(r.map(_._3) == Seq(1L, 2L)) // ranks dense from 1 after exclusion
    // the excluded full matches top the UNfiltered ranking (they are the
    // positives the negatives are hard relative to)
    val full = Search.bm25ForQueries(d, qs, k = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._3)
    assert(Set(1L, 5L).contains(full.head._2))
    // a duplicated query term counts ONCE toward the full-match bar
    val qd = Seq((11L, "spark spark window")).toDF("query_id", "qtext")
    val rd = Search.bm25HardNegatives(d, qd, k = 5)
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    assert(!rd.map(_._2).contains(2L), // doc 2 has both distinct terms → full match now
      s"doc with every distinct term not excluded: $rd")
    assert(rd.map(_._2).toSet == Set(3L), rd.toString)
  }

  test("doc novelty: exact copy scores zero, fresh doc scores one, overlap in between") {
    import graft.llm.Corpus
    def words(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
    val d = Seq(
      (1L, words("a", 12)),                       // 8 shingles, all first here
      (2L, words("a", 12)),                       // exact copy → 0 novel
      (3L, words("a", 8) + " " + words("b", 8)),  // prefix shared with doc 1
      (4L, words("c", 12)),                       // disjoint → novelty 1
      (5L, "tiny doc")                            // <5 tokens → 1 padded whole-doc shingle
    ).toDF("doc_id", "text")
    val r = Corpus.docNovelty(d)
      .as[(Long, Long, Long, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    assert(r(1L) == ((8L, 8L, 1.0)), r.toString)
    assert(r(2L) == ((8L, 0L, 0.0)), r.toString)
    assert(r(4L) == ((8L, 8L, 1.0)), r.toString)
    assert(r(5L) == ((1L, 1L, 1.0)), r.toString)
    // doc 3: 12 shingles, the first 4 (within words("a",8)) already seen
    // in doc 1, the rest cross into b-words → novel
    assert(r(3L)._1 == 12L && r(3L)._2 == 8L, r.toString)
    assert(math.abs(r(3L)._3 - 8.0 / 12.0) < 1e-6, r.toString)
  }

  test("blocklist: Aho-Corasick counts equal naive scan, overlaps and nested patterns counted") {
    import graft.llm.Blocklist
    // classic AC corpus: 'hers' triggers he+hers, 'she' triggers she+he
    val pats = Seq("he", "she", "his", "hers")
    val ac = Blocklist.compile(pats)
    assert(Blocklist.countMatches("ushers", ac) == 3L)   // she, he, hers
    assert(Blocklist.countMatches("hishers", ac) == 4L)  // his, she, he, hers
    assert(Blocklist.countMatches("xyz", ac) == 0L)
    // overlapping self-matches
    val ac2 = Blocklist.compile(Seq("aa"))
    assert(Blocklist.countMatches("aaaa", ac2) == 3L)
    // randomized parity vs the naive per-pattern scan
    val rnd = new scala.util.Random(7)
    val alpha = "abch es"
    (1 to 200).foreach { _ =>
      val text = (1 to rnd.nextInt(60)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      assert(Blocklist.countMatches(text, ac) == Blocklist.countNaive(text, pats), text)
    }
    // the operator: phrase crossing a word boundary, budget flag
    val docs = Seq(
      (1L, "clean words only here"),
      (2L, "merge slow path taken"),   // phrase 'merge slow' + 'slow' + 'low'
      (3L, "slow slow glow")           // slow x2, low x3
    ).toDF("doc_id", "text")
    val r = Blocklist.filter(docs,
        Seq("slow", "low", "merge slow", "dup", "slow small"))
      .as[(Long, Long, Boolean)].collect().map(x => x._1 -> ((x._2, x._3))).toMap
    assert(r(1L) == ((0L, true)), r.toString)
    assert(r(2L) == ((3L, false)), r.toString)
    assert(r(3L) == ((5L, false)), r.toString)
  }

  test("span removal: canonical survives, exact copy fully cut, shared span cut from the later doc") {
    import graft.llm.Dedup
    def ws(p: String, a: Int, b: Int) = (a to b).map(p + _).mkString(" ")
    val t1 = ws("c", 1, 15)
    val t3 = ws("x", 1, 5) + " " + ws("c", 3, 12) + " " + ws("y", 1, 5)
    val docs = Seq((1L, t1), (2L, t1), (3L, t3), (4L, ws("z", 1, 12)))
      .toDF("doc_id", "text")
    val r = Dedup.removeDuplicatedSpans(docs, k = 10)
      .as[(Long, String, Long)].collect().map(x => x._1 -> ((x._2, x._3))).toMap
    assert(r(1L) == ((t1, 0L)), r(1L))   // global-first occurrences: untouched
    assert(r(2L) == (("", 15L)), r(2L))  // exact copy: every window dup → fully cut
    assert(r(4L) == ((ws("z", 1, 12), 0L))) // unique doc untouched
    // doc 3's middle span c3..c12 duplicates doc 1's window at pos 3
    // (canonical by (doc, pos)) → its 10 tokens cut, flanks survive
    assert(r(3L) == ((ws("x", 1, 5) + " " + ws("y", 1, 5), 10L)), r(3L))
    // token conservation on every row
    val orig = Map(1L -> t1, 2L -> t1, 3L -> t3, 4L -> ws("z", 1, 12))
    r.foreach { case (id, (clean, removed)) =>
      val kept = clean.split(" ").count(_.nonEmpty)
      assert(kept + removed == orig(id).split(" ").length, id)
    }
  }

  test("unigram tokenizer: Viterbi equals brute force, pieces round-trip, hard-EM loss non-increasing") {
    import graft.llm.Unigram
    val docs = Seq(
      (1L, "abab abab abab cd"), (2L, "abab ab cd cd"),
      (3L, "abcd abab ab"), (4L, "dcba abab abab")).toDF("doc_id", "text")
    val v = Unigram.seed(docs, topK = 6, maxLen = 4)
    // character coverage is unconditional; the dominant substring is a piece
    assert(Set("a", "b", "c", "d").subsetOf(v.costs.keySet), v.costs.keySet)
    assert(v.costs.contains("abab"))
    assert(Unigram.segment("abab", v).toSeq == Seq("abab"))
    // pieces concatenate back to the word (incl. an OOV char via unkCost)
    for (w <- Seq("abab", "ab", "cd", "abcd", "dcba", "axb"))
      assert(Unigram.segment(w, v).mkString == w, w)
    // Viterbi == exhaustive minimum of the combined objective
    def brute(word: String): Long = {
      def go(i: Int): Long =
        if (i == word.length) 0L
        else (1 to math.min(v.maxLen, word.length - i)).flatMap { l =>
          val p = word.substring(i, i + l)
          val c = v.costs.get(p).orElse(if (l == 1) Some(v.unkCost) else None)
          c.flatMap { cc =>
            val rest = go(i + l)
            if (rest == Long.MaxValue) None
            else Some(cc * Unigram.Scale + 1L + rest)
          }
        }.minOption.getOrElse(Long.MaxValue)
      go(0)
    }
    for (w <- Seq("abab", "abcd", "dcba", "ababab", "aaaa", "axb"))
      assert(Unigram.wordObj(w, v) == brute(w), w)
    // encodeStats agrees with the concatenated segment stream, and the
    // native expression agrees with the driver twin
    val text = "abab ab  cd abcd"
    val (np, cost) = Unigram.encodeStats(text, v)
    val segs = Unigram.encodePieces(text, v)
    assert(np == segs.length && segs.mkString == text.replace(" ", ""))
    val exprRow = Seq(Tuple1(text)).toDF("text")
      .select(graft.functions.native.unigramStats(col("text"), v).as("u"))
      .select("u.n_pieces", "u.cost").as[(Long, Long)].collect().head
    assert(exprRow == ((np, cost)))
    // seed is partitioning-invariant
    val v2 = Unigram.seed(docs.repartition(7), topK = 6, maxLen = 4)
    assert(v2.costs == v.costs && v2.total == v.total)
    // hard-EM: loss measured entering each epoch; after the first prune
    // (epoch-0 loss is under the 4x-oversized seed) it never increases
    val (tv, losses) = Unigram.train(docs, vocabSize = 16, maxLen = 4, epochs = 4)
    assert(losses.length == 4)
    assert(losses.drop(1).sliding(2).forall(p => p.length < 2 || p(1) <= p(0)),
      losses.toString)
    assert(Set("a", "b", "c", "d").subsetOf(tv.costs.keySet))
    assert(tv.costs.size <= 16)
    // the trained model still segments the dominant word as one piece
    assert(Unigram.segment("abab", tv).toSeq == Seq("abab"))
    // artifact round-trip: save/load preserves the exact model
    val vp = tmpDir("unigramvocab") + "/v"
    Unigram.save(spark, tv, vp)
    val lv = Unigram.load(spark, vp)
    assert(lv.costs == tv.costs && lv.total == tv.total &&
      lv.maxLen == tv.maxLen && lv.unkCost == tv.unkCost)
  }

  test("pagerank: exact integer fixpoints, hub outranks leaves, deterministic") {
    import graft.analytics.Graph
    // 2-cycle: perfectly symmetric — the integer recurrence is a fixpoint
    // at UNIT/2 (base 75e9 + 85%·500e9 = 500e9 exactly)
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val rc = Graph.pagerank(cyc, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(rc == Map(1L -> 500000000000L, 2L -> 500000000000L))
    // star: all leaves point at the hub, hub points back at one leaf
    val star = Seq((1L, 9L), (2L, 9L), (3L, 9L), (9L, 1L)).toDF("src", "dst")
    val rs = Graph.pagerank(star, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(rs(9L) > rs(1L) && rs(1L) > rs(2L)) // hub ≫ linked leaf > others
    assert(rs(2L) == rs(3L)) // symmetric leaves tie exactly
    // bit-deterministic across evaluations
    val again = Graph.pagerank(star, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(again == rs)
    // total mass never exceeds UNIT (truncation only drains)
    assert(rs.values.sum <= Graph.RankUnit)
  }

  test("compression ratio: repetitive low, noisy high, deterministic") {
    val rep = ("lorem ipsum " * 500).trim            // highly compressible
    val noise = (1 to 3000).map(i =>                  // hash hex chars — near-incompressible
      Integer.toHexString(graft.llm.Corpus.mix32L(i.toLong).toInt & 0xffff)).mkString
    val docs = Seq((1L, rep), (2L, noise), (3L, "")).toDF("doc_id", "text")
    val r = docs.select(col("doc_id"),
        TextStats.compressionRatio(col("text")).as("cr"))
      .as[(Long, Double)].collect().toMap
    assert(r(1L) < 0.05)            // template collapses
    assert(r(2L) > 0.5)             // noise barely compresses
    assert(r(3L) == 1.0)            // empty-text guard
    // deterministic across evaluations
    val again = docs.select(col("doc_id"),
        TextStats.compressionRatio(col("text")).as("cr"))
      .as[(Long, Double)].collect().toMap
    assert(again == r)
  }

  test("target encoding: shrinkage endpoints and exact smoothed means") {
    import graft.analytics.Features
    // cat a: two targets mean 2.0; cat b: one target 8.0; global mean 4.0
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 8.0)).toDF("cat", "t")
    // m = 0: raw category means
    val raw = Features.targetEncode(df, "cat", col("t"), m = 0)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(raw == Map("a" -> 2.0, "b" -> 8.0))
    // m = 1: enc_a = (4 + 4)/3, enc_b = (8 + 4)/2
    val sm = Features.targetEncode(df, "cat", col("t"), m = 1)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(sm("a") == math.floor((8.0 / 3) * 1e6 + 0.5) / 1e6 && sm("b") == 6.0)
    // m → ∞: every category collapses to the global mean
    val inf = Features.targetEncode(df, "cat", col("t"), m = 1000000)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(inf.values.forall(v => math.abs(v - 4.0) < 1e-4))
  }

  test("KS statistic: endpoints, exact value, two-level prefix invariance") {
    import graft.profile.Psi
    val a = Seq(1L, 2L, 3L, 4L).toDF("v")
    // identical samples → KS 0 (gap ties everywhere; smallest value wins)
    assert(Psi.ksStatistic(a, a, col("v")).as[(Double, Long)].head() ==
      ((0.0, 1L)))
    // disjoint supports → KS 1 at the lower sample's max
    val b = Seq(10L, 11L).toDF("v")
    assert(Psi.ksStatistic(a, b, col("v")).as[(Double, Long)].head() ==
      ((1.0, 4L)))
    // hand-computed gap: a={1,2,3,4}, c={3,4,4,4} → max |F_a−F_c| at v=2
    // (2/4 − 0) = 0.5
    val c = Seq(3L, 4L, 4L, 4L).toDF("v")
    assert(Psi.ksStatistic(a, c, col("v")).as[(Double, Long)].head() ==
      ((0.5, 2L)))
    // bucketWidth must not change the statistic (two-level prefix ==
    // global prefix): force many tiny buckets
    assert(Psi.ksStatistic(a, c, col("v"), bucketWidth = 2)
      .as[(Double, Long)].head() == ((0.5, 2L)))
  }

  test("DP counts: deterministic, clamped, exact at huge epsilon") {
    import graft.analytics.Privacy
    val docs = (1 to 40).map(i => (i.toLong, "s" + (i % 4))).toDF("doc_id", "source")
    val r1 = Privacy.dpCounts(docs, "source").as[(String, Long)].collect().toMap
    val r2 = Privacy.dpCounts(docs, "source").as[(String, Long)].collect().toMap
    assert(r1 == r2) // seeded draw: release is reproducible
    assert(r1.keySet == Set("s0", "s1", "s2", "s3"))
    assert(r1.values.forall(_ >= 0L)) // post-processing clamp
    // ε → ∞ degenerates to the exact counts (noise magnitude → 0)
    val exact = Privacy.dpCounts(docs, "source", eps = 1e9)
      .as[(String, Long)].collect().toMap
    assert(exact == Map("s0" -> 10L, "s1" -> 10L, "s2" -> 10L, "s3" -> 10L))
    // a different seed draws different noise somewhere (ε=0.2, wide noise)
    val n1 = Privacy.dpCounts(docs, "source", eps = 0.2, seed = 7L)
      .as[(String, Long)].collect().toMap
    val n2 = Privacy.dpCounts(docs, "source", eps = 0.2, seed = 99L)
      .as[(String, Long)].collect().toMap
    assert(n1 != n2)
  }

  test("DP mean: clamped, reproducible, exact at huge epsilon") {
    import graft.analytics.Privacy
    // the outlier clamps to hi=10: clamped mean = (1 + 2 + 10) / 3
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 1000.0)).toDF("g", "v")
    val exact = Privacy.dpMean(df, col("v"), "g", 0.0, 10.0, eps = 1e9)
      .as[(String, Long, Double)].head()
    assert(exact == (("a", 3L, math.floor(13.0 / 3 * 1e6 + 0.5) / 1e6)))
    // seeded: reproducible; a different seed draws different noise at
    // small epsilon
    val n1 = Privacy.dpMean(df, col("v"), "g", 0.0, 10.0, eps = 0.05)
      .as[(String, Long, Double)].head()
    val n2 = Privacy.dpMean(df, col("v"), "g", 0.0, 10.0, eps = 0.05)
      .as[(String, Long, Double)].head()
    assert(n1 == n2)
    val n3 = Privacy.dpMean(df, col("v"), "g", 0.0, 10.0, eps = 0.05, seed = 99L)
      .as[(String, Long, Double)].head()
    assert(n1 != n3)
    assert(n1._2 >= 1L) // released count is clamped positive
  }

  test("l-diversity: homogeneous group flagged, diverse release passes") {
    import graft.analytics.Privacy
    // group a carries 2 distinct sensitive values, group b only 1
    val df = Seq(("a", "x"), ("a", "y"), ("a", "x"), ("b", "x"), ("b", "x"))
      .toDF("q", "s")
    val r = Privacy.lDiversity(df, Seq("q"), "s", l = 2)
      .as[(Long, Long, Long)].head()
    assert(r == ((2L, 1L, 1L)))
    // at l = 2 with b removed, the release passes
    val ok = Privacy.lDiversity(df.where(col("q") =!= "b"), Seq("q"), "s", l = 2)
      .as[(Long, Long, Long)].head()
    assert(ok == ((1L, 0L, 2L)))
  }

  test("k-anonymity: violating groups counted, anonymous release passes") {
    import graft.analytics.Privacy
    // groups: (a,x)×3, (a,y)×1, (b,x)×2 — at k=2 the singleton violates
    val df = Seq(("a", "x"), ("a", "x"), ("a", "x"), ("a", "y"),
      ("b", "x"), ("b", "x")).toDF("q1", "q2")
    val r = Privacy.kAnonymity(df, Seq("q1", "q2"), k = 2)
      .as[(Long, Long, Long, Long)].head()
    assert(r == ((3L, 1L, 1L, 1L)))
    // k = 4: every group (3, 1, 2) is below k — all rows at risk
    val r4 = Privacy.kAnonymity(df, Seq("q1", "q2"), k = 4)
      .as[(Long, Long, Long, Long)].head()
    assert(r4 == ((3L, 3L, 6L, 1L)))
  }

  test("chi2 drift: hand-computed statistic, dof, identical-sides zero") {
    import graft.profile.Psi
    // integer values with unit bins so the binning is the identity
    val base = Seq(0L, 0L, 1L, 1L).toDF("v")
    val cur = Seq(1L, 2L, 2L, 2L).toDF("v")
    // bins: (b,c) = (2,0),(2,1),(0,3),(0,0); N1=N2=4
    // terms: 2.0, 1/3 (micro-rounded 0.333333), 3.0; dof = 3−1 = 2
    val r = Psi.chi2(base, cur, col("v"), 0.0, 4.0, 4)
      .as[(Double, Long, Long, Long)].head()
    assert(r == ((5.333333, 2L, 4L, 4L)))
    // identical sides: every term 0, dof = nonempty − 1
    val z = Psi.chi2(base, base, col("v"), 0.0, 4.0, 4)
      .as[(Double, Long, Long, Long)].head()
    assert(z == ((0.0, 1L, 4L, 4L)))
  }

  test("DP histogram: full spine, reproducible, exact at huge epsilon") {
    import graft.analytics.Privacy
    val df = Seq(0.5, 1.5, 1.5, 3.5).toDF("x")
    val r1 = Privacy.dpHistogram(df, col("x"), 0.0, 4.0, 4)
      .as[(Long, Long)].collect().toMap
    val r2 = Privacy.dpHistogram(df, col("x"), 0.0, 4.0, 4)
      .as[(Long, Long)].collect().toMap
    assert(r1 == r2) // seeded draw: release is reproducible
    // EVERY bin is released — including the empty bin 2 (suppressing
    // empties leaks emptiness)
    assert(r1.keySet == Set(0L, 1L, 2L, 3L))
    assert(r1.values.forall(_ >= 0L))
    // ε → ∞ degenerates to the exact histogram
    val exact = Privacy.dpHistogram(df, col("x"), 0.0, 4.0, 4, eps = 1e9)
      .as[(Long, Long)].collect().toMap
    assert(exact == Map(0L -> 1L, 1L -> 2L, 2L -> 0L, 3L -> 1L))
  }

  test("Welch t-test: identical arms, known shift, reference arithmetic") {
    import graft.analytics.Stats
    val a = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    // identical arms: t = 0; se1 = se2 → Welch dof = 2(n−1) = 6
    val same = Stats.welchTTest(a, a, col("v"))
      .as[(Long, Long, Double, Double, Double, Double)].head()
    assert(same == ((4L, 4L, 2.5, 2.5, 0.0, 6.0)))
    // shifted arm: same variance, mean gap −1 ⇒ t = −1/sqrt(2·v/n) with
    // v = 5/3 cents²·10⁴ — reference formulas inline (cent units)
    val b = Seq(2.0, 3.0, 4.0, 5.0).toDF("v")
    val shifted = Stats.welchTTest(a, b, col("v"))
      .as[(Long, Long, Double, Double, Double, Double)].head()
    val v = (100.0 * 100 + 200 * 200 + 300 * 300 + 400 * 400 - 1000.0 * 1000 / 4) / 3
    val tRef = math.floor(-100.0 / math.sqrt(2 * v / 4) * 1e4 + 0.5) / 1e4
    assert(shifted._5 == tRef && shifted._6 == 6.0)
    assert(shifted._3 == 2.5 && shifted._4 == 3.5)
  }

  test("proportion z-test: identical arms zero, hand-computed split") {
    import graft.analytics.Stats
    val a = Seq(1.0, 1.0, 1.0, 0.0).toDF("v")
    val same = Stats.proportionZTest(a, a, col("v") > 0.5)
      .as[(Long, Long, Long, Long, Double, Double, Double)].head()
    assert(same == ((4L, 3L, 4L, 3L, 0.75, 0.75, 0.0)))
    // 3/4 vs 1/4: pooled p = .5 → z = .5 / sqrt(.5·.5·(¼+¼)) = √2
    val b = Seq(1.0, 0.0, 0.0, 0.0).toDF("v")
    val r = Stats.proportionZTest(a, b, col("v") > 0.5)
      .as[(Long, Long, Long, Long, Double, Double, Double)].head()
    val zRef = math.floor(0.5 / math.sqrt(0.5 * 0.5 * 0.5) * 1e4 + 0.5) / 1e4
    assert(r == ((4L, 3L, 4L, 1L, 0.75, 0.25, zRef)))
  }

  test("contamination fraction: graded per-doc overlap, zero for clean docs") {
    val evalSet = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val train = Seq(
      (10L, "a b c d e x y z w q"), // 6 shingles, 1 shared ("a b c d e")
      (11L, "p q r s t u")          // 2 shingles, 0 shared
    ).toDF("doc_id", "text")
    val r = Dedup.contaminationFrac(train, evalSet)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(r(0) == ((10L, 6L, 1L, math.floor(1.0 / 6 * 1e6 + 0.5) / 1e6)))
    assert(r(1) == ((11L, 2L, 0L, 0.0)))
  }

  test("model eval: hand-computed ties-half AUC, accuracy, log-loss") {
    import graft.llm.QualityModel
    // pairs (pos vs neg): .9>.8 ✓, .9>.2 ✓, .8=.8 ½, .8>.2 ✓ → AUC 3.5/4
    val df = Seq((0.9, 1L), (0.8, 0L), (0.8, 1L), (0.2, 0L)).toDF("s", "y")
    val r = QualityModel.evaluate(df, col("s"), col("y"))
      .as[(Long, Double, Double, Double)].head()
    def tm(p: Double) = math.floor(-math.log(p) * 1e6 + 0.5).toLong
    val llRef = math.floor(
      (tm(0.9) + tm(0.2) + tm(0.8) + tm(0.8)).toDouble / 1e6 / 4 * 1e6 + 0.5) / 1e6
    assert(r == ((4L, 0.75, llRef, 0.875)))
    // perfectly separated → AUC exactly 1
    val sep = Seq((0.9, 1L), (0.1, 0L)).toDF("s", "y")
    assert(QualityModel.evaluate(sep, col("s"), col("y"))
      .as[(Long, Double, Double, Double)].head()._4 == 1.0)
  }

  test("centroid drift: identity and inversion endpoints") {
    import graft.llm.Similarity
    val a = Seq((1L, "x", Seq(1.0f, 0.0f)), (2L, "x", Seq(0.0f, 1.0f)),
      (3L, "y", Seq(1.0f, 1.0f))).toDF("vec_id", "label", "embedding")
    // same snapshot on both sides → cos = 1 for every label
    val self = Similarity.centroidDrift(a, a)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(self == Set(("x", 2L, 2L, 1.0), ("y", 1L, 1L, 1.0)))
    // negated snapshot → cos = −1
    val neg = a.select(col("vec_id"), col("label"),
      transform(col("embedding"), x => -x).as("embedding"))
    val inv = Similarity.centroidDrift(a, neg)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(inv == Set(("x", 2L, 2L, -1.0), ("y", 1L, 1L, -1.0)))
  }

  test("containment pairs: excerpt inside a larger doc, invisible to jaccard") {
    // shared 40-char blocking prefix, then the small doc IS a prefix slice
    // of the big doc's body: containment ≈ 1, jaccard ≈ |small|/|big| ≈ 0.1
    val pfx = (1 to 8).map("pp" + _).mkString(" ") // > 40 chars
    val body = (1 to 200).map("w" + _).mkString(" ")
    val excerpt = (1 to 24).map("w" + _).mkString(" ")
    val docs = Seq(
      (1L, pfx + " " + body),
      (2L, pfx + " " + excerpt),
      (3L, "unrelated " + (1 to 50).map("z" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val cp = Dedup.containmentPairs(docs, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(cp.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    assert(cp.head._3 >= 0.9)
    // the same pair is BELOW any practical jaccard threshold
    val jc = Dedup.ngramJaccard(docs, threshold = 0.4)
      .as[(Long, Long, Double)].collect()
    assert(!jc.map(r => (r._1, r._2)).contains((1L, 2L)))
  }

  test("containment hot block: planted excerpt survives the size guard, fan-out bounded") {
    // 120 boilerplate docs share the 40-char prefix (one hot block) with
    // distinct long tails; doc 500 is a SMALL excerpt of doc 7's tail.
    // Jaccard(7, 500) is tiny (sizes differ ~8×) — a full-signature
    // minhash band almost never collides for this pair, which is exactly
    // the recall hole the winnow-fingerprint fallback closes.
    val hot = (0 until 120).map { i =>
      val tail = (1 to 80).map(j => s"u${i}w$j").mkString(" ")
      (i.toLong, prefix + " " + tail)
    }.toDF("doc_id", "text")
      .union(Seq((500L,
        prefix + " " + (10 to 19).map(j => s"u7w$j").mkString(" ")))
        .toDF("doc_id", "text"))
    val got = Dedup.containmentPairs(hot, threshold = 0.5, maxBlock = 10)
      .as[(Long, Long, Double)].collect()
    assert(got.exists(p => p._1 == 7L && p._2 == 500L && p._3 >= 0.5),
      s"planted excerpt pair lost in the hot block: ${got.toSeq}")
    // the guard still bounds the bucket fan-out: no (blk, band, sk)
    // sub-bucket holds more than maxFpDf docs
    val keys = Dedup.containmentBlocks(hot, "text", "doc_id", 5, 40,
      maxBlock = 10, winK = 3, winW = 4, maxFpDf = 30)
    val bucketSizes = keys.groupBy("blk", "band", "sk").count()
      .select("count").as[Long].collect()
    assert(bucketSizes.max <= 30, s"bucket of ${bucketSizes.max} docs")
    // and with the df cap in force the planted pair STILL collides (its
    // shared windows are doc-7-specific, df = 2, far under any cap)
    val capped = Dedup.containmentPairs(hot, threshold = 0.5,
        maxBlock = 10, maxFpDf = 30)
      .as[(Long, Long, Double)].collect()
    assert(capped.exists(p => p._1 == 7L && p._2 == 500L))
  }

  test("triangle census: counts, degrees, clustering on a known graph") {
    import graft.analytics.Graph
    // K4 minus edge 1-4: triangles {1,2,3} and {2,3,4}
    val ue = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val out = Graph.triangleCounts(ue.toDF("src", "dst"))
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out == Map(
      1L -> ((1L, 2L, 1.0)), 2L -> ((2L, 3L, 0.666667)),
      3L -> ((2L, 3L, 0.666667)), 4L -> ((1L, 2L, 1.0))))
    // symmetrized + dedup'd input (both directions, repeats, self loop)
    // resolves to the same undirected simple graph
    val messy = (ue ++ ue.map(_.swap) ++ Seq((1L, 2L), (3L, 3L)))
      .toDF("src", "dst")
    assert(Graph.triangleCounts(messy)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap == out)
    // triangle-free star: zero triangles, zero clustering everywhere
    val star = Graph.triangleCounts(
      Seq((9L, 1L), (9L, 2L), (9L, 3L)).toDF("src", "dst"))
      .as[(Long, Long, Long, Double)].collect()
    assert(star.forall(r => r._2 == 0L && r._4 == 0.0))
    assert(star.find(_._1 == 9L).get._3 == 3L)
  }

  test("repeated-line removal: threshold drops boilerplate everywhere") {
    // "x y" occurs 3 times corpus-wide (>= minCount) → dropped from ALL
    // docs, including the first; "a b" occurs twice → kept in both
    val docs = Seq(
      (1L, "x y a b"),
      (2L, "a b x y"),
      (3L, "x y x y")) // every line boilerplate (the pair counts 2 more) → vanishes
      .toDF("doc_id", "text")
    val out = Dedup.dropRepeatedLines(docs, words = 2, minCount = 3)
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a b", 2L -> "a b"))
    // under the threshold nothing is dropped, reassembly preserves order
    val two = Seq((1L, "p q r s"), (2L, "p q t u")).toDF("doc_id", "text")
    assert(Dedup.dropRepeatedLines(two, words = 2, minCount = 3)
      .as[(Long, String)].collect().toMap ==
      Map(1L -> "p q r s", 2L -> "p q t u"))
  }

  test("corpus split: deterministic pure-function labels, sane balance") {
    import graft.llm.Corpus
    val fr = Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05)
    val ids = (0L until 2000L).toDF("doc_id")
    val s1 = Corpus.splitAssign(ids, fr).as[(Long, String)].collect().toMap
    assert(s1.values.toSet.subsetOf(Set("train", "valid", "test")))
    // label is a pure function of the id: a rerun and a SUBSET corpus
    // (growth simulation) assign identically — eval docs never drift
    val s2 = Corpus.splitAssign(ids, fr).as[(Long, String)].collect().toMap
    assert(s2 == s1)
    val sub = Corpus.splitAssign(ids.where(col("doc_id") < 500), fr)
      .as[(Long, String)].collect().toMap
    assert(sub.forall { case (id, sp) => s1(id) == sp })
    // fractions roughly hold at n=2000
    val n = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(n("train") - 1800) < 120)
    assert(n.getOrElse("valid", 0) > 30 && n.getOrElse("test", 0) > 30)
    intercept[IllegalArgumentException] {
      Corpus.splitAssign(ids, Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("bigram PMI: exact counts and scores on a pinned corpus") {
    val docs = Seq((1L, "a b a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val out = TextStats.pmiPairs(docs, minCount = 2, topN = 10)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // bigrams: (a,b)×4 [3 in doc1, 1 in doc2], (b,a)×2; N=9 tokens,
    // n(a)=4, n(b)=4, n(c)=1 → pmi(a,b)=ln(4·9/16), pmi(b,a)=ln(2·9/16)
    assert(out.keySet == Set(("a", "b"), ("b", "a")))
    assert(out(("a", "b"))._1 == 4L && out(("b", "a"))._1 == 2L)
    // the binary-value rounding dround applies (floor(x·10⁶ + 0.5)/10⁶)
    def dr6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    assert(out(("a", "b"))._2 == dr6(math.log((4.0 * 9.0) / (4.0 * 4.0))))
    assert(out(("b", "a"))._2 == dr6(math.log((2.0 * 9.0) / (4.0 * 4.0))))
  }

  test("random-sign projection: deterministic, linear, zero shuffle") {
    val v1 = Array(1.0f, -2.0f, 0.5f, 3.25f)
    val embs = Seq(
      (1L, v1.toSeq), (2L, v1.map(_ * 2.0f).toSeq), (3L, Array(0.0f, 0.0f, 0.0f, 0.0f).toSeq)
    ).toDF("vec_id", "embedding")
    val rows = Similarity.randomProject(embs, outDim = 4)
      .as[(Long, Long, Double)].collect().toSeq
    assert(rows.length == 12) // 3 vectors × 4 dims
    val p = rows.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // micro-rounding is exact for these values, so proj(2v) = 2·proj(v)
    assert(p(2L) == p(1L).map(_ * 2.0))
    assert(p(3L) == Seq(0.0, 0.0, 0.0, 0.0))
    // deterministic scatter: a second evaluation is identical
    val again = Similarity.randomProject(embs, outDim = 4)
      .as[(Long, Long, Double)].collect().toSeq.toSet
    assert(again == rows.toSet)
    val plan = Similarity.randomProject(embs, outDim = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
