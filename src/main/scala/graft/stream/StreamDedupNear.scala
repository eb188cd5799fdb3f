package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming NEAR-duplicate detection for continuous corpus ingest — the
  * stream-shaped twin of [[graft.llm.Dedup.minhash]] and the missing leg
  * between [[StreamDedup]] (exact only: a one-word edit slips through) and
  * the offline [[graft.llm.SignatureStore]] (incremental but batch).
  *
  * Shape: each document computes its minhash signature ONCE (doc-local,
  * rides the stream projection), explodes into `bands` LSH bucket keys,
  * and every (band, bucket) group runs a tiny keyed state machine: the
  * bucket's FIRST-ARRIVING document becomes its OWNER (id + signature,
  * ~16 longs — the text never enters the state store); every later
  * arrival estimates Jaccard against the owner signature (agreeing
  * positions / k, the same statistic every minhash path uses) and emits a
  * match row when it clears `threshold`. [[verdicts]] then folds a
  * document's per-band match rows into one per-window verdict
  * (`keep_id` = minimum matched owner).
  *
  * State is bounded two ways, which is what makes the shape hold on an
  * unbounded stream: one owner per OCCUPIED bucket (a signature + a long,
  * never a member list), and every bucket GC'd by event-time timeout once
  * the watermark passes its last arrival + the dedup horizon — state ∝
  * distinct buckets per horizon, never per history.
  *
  * Recall contract (the documented trade for bounded state): a document
  * is compared against each bucket's owner only, not against every
  * member — an EXACT copy of any seen-within-horizon doc always matches
  * (identical signatures band identically, estimate 1), and a near-dup of
  * an owner matches at the usual 1−(1−J^r)^b LSH probability; a near-dup
  * of a non-owner member can be missed, the same per-pair (not per-chain)
  * recall batch-local ingest accepts in [[graft.llm.SignatureStore]].
  */
object StreamDedupNear {

  final case class Config(shingleLen: Int = 5, bands: Int = 8,
                          rowsPerBand: Int = 2, threshold: Double = 0.5) {
    def numHashes: Int = bands * rowsPerBand
  }

  /** A document's presence in one LSH bucket. `ts` must be the stream's
    * event-time (watermarked) column so the attribute survives into
    * flatMapGroupsWithState.
    */
  final case class Keyed(band: Int, bucket: Long, id: Long, sig: Seq[Long],
                         ts: java.sql.Timestamp)

  /** Bucket state: the first-arriving doc and when the bucket was last
    * touched (drives the GC timeout).
    */
  final case class Owner(id: Long, sig: Seq[Long], lastMs: Long)

  /** One per-band match: `id` cleared `threshold` against `keep_id`'s
    * stored signature in band `band` (`est` is the agreement estimate).
    */
  final case class Match(id: Long, ts: java.sql.Timestamp, band: Int,
                         keep_id: Long, est: Double)

  /** The pure per-bucket transition behind [[matches]]: fold `incoming`
    * into the bucket's owner state, earliest (ts, id) claiming a fresh
    * bucket, later docs estimate-matched against the owner signature.
    */
  private[stream] def fold(cfg: Config, prev: Option[Owner],
      incoming: List[Keyed]): (List[Match], Option[Owner]) = {
    val docs = incoming.sortBy(d => (d.ts.getTime, d.id))
    var owner = prev
    val out = List.newBuilder[Match]
    docs.foreach { d =>
      owner match {
        case None => owner = Some(Owner(d.id, d.sig, d.ts.getTime))
        case Some(o) =>
          var agree = 0
          var i = 0
          val k = math.min(o.sig.length, d.sig.length)
          while (i < k) { if (o.sig(i) == d.sig(i)) agree += 1; i += 1 }
          val est = if (k == 0) 0.0 else agree.toDouble / k
          if (est >= cfg.threshold) out += Match(d.id, d.ts, d.band, o.id, est)
          owner = Some(o.copy(lastMs = math.max(o.lastMs, d.ts.getTime)))
      }
    }
    (out.result(), owner)
  }

  private def step(cfg: Config, horizonMs: Long)(
      key: (Int, Long), in: Iterator[Keyed],
      state: GroupState[Owner]): Iterator[Match] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val docs = in.toList
    if (docs.isEmpty) return Iterator.empty
    val (out, owner) = fold(cfg, state.getOption, docs)
    val o = owner.get
    state.update(o)
    // GC once no arrival inside the horizon can still be a duplicate of
    // this bucket's owner; clamp above the watermark (a timeout in the
    // past fires immediately and would thrash)
    state.setTimeoutTimestamp(
      math.max(o.lastMs + horizonMs, state.getCurrentWatermarkMs() + 1))
    out.iterator
  }

  private def horizonMsOf(watermark: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(watermark))
    require(iv.months == 0, s"calendar-month horizons are ambiguous: $watermark")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** The watermarked, banded [[Keyed]] stream [[matches]] groups. */
  private def keyedStream(docs: DataFrame, textCol: String,
      idCol: String, tsCol: String, watermark: String,
      cfg: Config): Dataset[Keyed] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = docs.select(
        col(idCol).as("id"), col(tsCol).as("ts"),
        graft.llm.Dedup.shingles(
          graft.llm.TextStats.tokens(col(textCol)), cfg.shingleLen).as("_sh"))
      // a doc with NO tokens (empty/whitespace-only text) has an empty
      // shingle set (WordShingles pads any 1..n-1-token doc to one
      // whole-doc shingle, so only zero-token text is empty) — the
      // minhash sentinel signature would make every such doc "match"
      // every other (est 1.0 on identical all-sentinel signatures). The
      // batch twin's exact-Jaccard verify yields no pair for
      // empty-vs-empty, so the stream mirrors it: token-less docs pass
      // through as novel.
      .where(size(col("_sh")) > 0)
      .select(col("id"), col("ts"),
        graft.llm.Dedup.minhashSignature(col("_sh"), cfg.numHashes).as("sig"))
    sig.select(col("id"), col("ts"), col("sig"),
        explode(transform(sequence(lit(0), lit(cfg.bands - 1)), b =>
          struct(b.as("band"),
            aggregate(
              slice(col("sig"), b * lit(cfg.rowsPerBand) + lit(1),
                lit(cfg.rowsPerBand)),
              lit(0L), (acc, x) => (acc * 31 + x) % lit(graft.functions.PolyHash.P1))
              .as("bucket")))).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("id"), col("sig"), col("ts"))
      .withWatermark("ts", watermark)
      .as[Keyed]
  }

  /** Per-band match stream: one row per (document, matching band). The
    * input must carry `idCol` (long), `textCol`, and event-time `tsCol`;
    * `watermark` doubles as the dedup horizon (how long a bucket owner is
    * retained — the [[StreamDedup]] contract).
    */
  def matches(docs: DataFrame, textCol: String = "text",
              idCol: String = "doc_id", tsCol: String = "ts",
              watermark: String = "10 minutes",
              cfg: Config = Config()): Dataset[Match] =
    keyedStream(docs, textCol, idCol, tsCol, watermark, cfg)
      .groupByKey(k => (k.band, k.bucket))(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaInt,
          org.apache.spark.sql.Encoders.scalaLong))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(step(cfg, horizonMsOf(watermark)))(
        org.apache.spark.sql.Encoders.product[Owner],
        org.apache.spark.sql.Encoders.product[Match])

  /** Fold a micro-batch of [[Match]] rows into per-document verdicts:
    * `(doc_id, keep_id, n_bands)` with `keep_id` = minimum matched owner
    * (the deterministic keeper) and `n_bands` = how many bands agreed.
    * EXACT as a batch-local fold: a document's match rows are all emitted
    * in the micro-batch it arrives in (matches emit on arrival, never on
    * timeout), so no per-doc state can span batches. Kept separate from
    * the stream wiring because a windowed aggregate downstream of
    * flatMapGroupsWithState trips Spark's chained-stateful correctness
    * check — the foreachBatch fold is the sanctioned shape (and the one
    * [[graft.llm.SignatureStore.ingestStream]] uses).
    */
  def verdictsOf(matchBatch: DataFrame): DataFrame =
    matchBatch.groupBy("id")
      .agg(min("keep_id").as("keep_id"), count(lit(1)).as("n_bands"))
      .select(col("id").as("doc_id"), col("keep_id"), col("n_bands"))

  /** Streaming per-document verdict sink: each micro-batch's matches fold
    * through [[verdictsOf]] and land in `<path>/b<batchId>` (overwrite —
    * idempotent under recovery, the SignatureStore verdict scheme). The
    * caller starts the returned writer (checkpointLocation, trigger, ...).
    */
  def verdictStream(path: String, docs: DataFrame,
                    textCol: String = "text", idCol: String = "doc_id",
                    tsCol: String = "ts", watermark: String = "10 minutes",
                    cfg: Config = Config())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    matches(docs, textCol, idCol, tsCol, watermark, cfg).toDF()
      .writeStream.outputMode("append")
      .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], id: Long) =>
        verdictsOf(df.toDF()).write.mode("overwrite").parquet(path + "/b" + id)
        ()
      }
}
