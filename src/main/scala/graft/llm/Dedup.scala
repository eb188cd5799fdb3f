package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash-groupBy),
  * MinHash-LSH near-dup, SimHash near-dup, and n-gram Jaccard with cheap
  * blocking. All are shuffle-on-key designs — no O(n²) cross join ever
  * materialises; candidate generation is always a hash-bucket equi-join,
  * which is the only shape that survives 100 TB.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the lowest id as the canonical
    * representative. Hashing first (sha2-256) means the shuffle key is 32
    * bytes regardless of document size — group-by-text would shuffle the
    * full corpus text.
    */
  def exact(docs: DataFrame, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .drop("content_hash")

  /** Fixed-width paragraph split: `(id, pidx, para)` with `para` =
    * `words`-word windows of the whitespace-tokenized text (the last window
    * may be shorter). Real corpora split on newlines; the synthetic tables
    * carry single-space word streams, so the fixed window IS the paragraph
    * structure. One shuffle-free generate stage.
    */
  def splitFixedParagraphs(docs: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id", words: Int = 10): DataFrame = {
    val nPara = ceil(size(col("_ws")) / lit(words.toDouble)).cast("int")
    docs
      .select(col(idCol), split(col(textCol), " ").as("_ws"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), greatest(nPara, lit(1)) - 1),
          i => array_join(slice(col("_ws"), i * words + 1, lit(words)), " "))))
      .select(col(idCol), col("pos").cast("long").as("pidx"),
        col("col").as("para"))
  }

  /** Paragraph-level exact dedup (the CCNet move): across the WHOLE corpus,
    * keep only the globally-first occurrence of every distinct paragraph —
    * first = smallest `(id, pidx)` — and drop the rest, so boilerplate
    * (headers, license blocks, navigation chrome) is removed from every
    * document that repeats it while the earliest document keeps it.
    *
    * Shuffle posture: the winner per paragraph is a MIN WINDOW over the
    * sha2-keyed relation, not a groupBy + join-back — the join form
    * references the tagged relation from two branches, and identical
    * exchanges in two branches of one plan are not reliably deduplicated
    * at runtime (the split + hash of the whole corpus ran twice; the same
    * lesson as [[substringDedup]]'s window, measured 2.4× there). One
    * exchange keyed on the 32-byte hash, window partitions bounded by the
    * duplication factor of a single paragraph. No driver state.
    */
  def paragraphDedup(paras: DataFrame, idCol: String = "doc_id",
                     idxCol: String = "pidx", paraCol: String = "para"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("_h")
    paras.withColumn("_h", sha2(col(paraCol), 256))
      .withColumn("_w", min(struct(col(idCol), col(idxCol))).over(w))
      .where(col(idCol) === col(s"_w.$idCol") && col(idxCol) === col(s"_w.$idxCol"))
      .drop("_h", "_w")
  }

  /** Reassemble a paragraph relation back into `(id, text)`, paragraphs in
    * `idxCol` order. The per-doc sort happens inside `array_sort` on the
    * collected list — no window, one keyed aggregate; `idxCol` is unique
    * per doc so the order is total.
    */
  def reassembleParagraphs(paras: DataFrame, idCol: String = "doc_id",
                           idxCol: String = "pidx", paraCol: String = "para",
                           outCol: String = "text"): DataFrame =
    paras.groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col(idxCol), col(paraCol)))),
          x => x(paraCol)), " ").as(outCol))

  /** End-to-end paragraph dedup over documents: split → global winner
    * filter → reassemble. Documents whose every paragraph was dropped
    * vanish (CCNet semantics).
    */
  def dedupParagraphs(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", words: Int = 10): DataFrame =
    reassembleParagraphs(
      paragraphDedup(splitFixedParagraphs(docs, textCol, idCol, words), idCol),
      idCol, outCol = textCol)

  /** Frequency-threshold boilerplate removal (the C4/RefinedWeb line rule,
    * complementing [[paragraphDedup]]'s keep-first semantics): drop EVERY
    * occurrence of a line that appears ≥ `minCount` times corpus-wide —
    * navigation chrome, cookie banners and license blocks repeated across a
    * site should survive in no document at all, not just lose their
    * repeats. Documents whose every line is boilerplate vanish.
    *
    * Same shuffle posture as [[paragraphDedup]]: the corpus-wide occurrence
    * count is a COUNT WINDOW over the sha2-keyed line relation (one
    * exchange on the 32-byte hash; the aggregate+join-back form would build
    * and shuffle the split relation twice), then [[reassembleParagraphs]]'
    * keyed aggregate puts surviving lines back in order. Window partitions
    * are bounded by a single line's duplication factor and carry only
    * (id, idx, line); no driver state.
    */
  def dropRepeatedLines(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", words: Int = 10,
                        minCount: Int = 3): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("_h")
    val lines = splitFixedParagraphs(docs, textCol, idCol, words)
    reassembleParagraphs(
      lines.withColumn("_h", sha2(col("para"), 256))
        .withColumn("_c", count(lit(1)).over(w))
        .where(col("_c") < minCount)
        .drop("_h", "_c"),
      idCol, outCol = textCol)
  }

  /** Exact duplicated-substring detection (the windowed distributed form of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", §3 ExactSubstr): every k-token SLIDING window occurring ≥ 2
    * times corpus-wide marks duplicated text — catching a copied passage at
    * any alignment inside otherwise-unrelated documents, which doc-level
    * jaccard/minhash miss by construction. (The paper's suffix array is a
    * single-machine structure; fixed-k sliding windows are the standard
    * distributed approximation — duplication of any span ≥ k tokens is
    * caught because it contains a duplicated k-window.)
    *
    * Returns `(id, n_dup_windows, first_pos)` per affected document
    * (1-based token position). Shuffle posture: windows travel as sha2-256
    * hashes with (id, pos) — window TEXT never enters an exchange. The
    * occurrence count is a `count over (partition by hash)` window, so the
    * corpus-token-sized relation is built, hashed and shuffled ONCE (the
    * aggregate+join-back form computes that whole subtree twice — measured
    * 2.4× slower); the per-task sort behind the window is on the exchange
    * output, partition-local, and each window partition holds one hash's
    * occurrences. sha2-256 over 64-bit hashing is deliberate: at 10^12
    * windows a 64-bit key WOULD birthday-collide and flag false pairs.
    */
  def duplicatedSpans(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", k: Int = 10): DataFrame = {
    require(k >= 2, s"window must cover at least 2 tokens: $k")
    val wins = docs
      .select(col(idCol), split(col(textCol), " ").as("_ws"))
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(1), greatest(size(col("_ws")) - (k - 1), lit(1))),
          i => array_join(slice(col("_ws"), i, lit(k)), " "))))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
        sha2(col("col"), 256).as("_h"))
    wins
      .withColumn("_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("_h")))
      .where(col("_n") > 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_windows"), min("pos").as("first_pos"))
  }

  /** Exact-substring dedup as a TRANSFORM (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" cut, in
    * window form): remove from every document each k-token span whose
    * window content occurs more than once in the corpus, keeping only the
    * CANONICAL occurrence (global min (doc, pos) per window content) —
    * [[duplicatedSpans]] detects; this edits. A token is cut iff covered
    * by ≥1 non-canonical duplicated-window occurrence; canonical
    * occurrences protect nothing beyond their own window.
    *
    * Returns `(idCol, clean_text, n_removed)` for EVERY input doc
    * (clean_text may be empty for a fully-duplicated doc).
    *
    * Scale shape: window hashes shuffle ONCE (count + first-occurrence
    * rank in two window ops over the same exchange — 32-byte keys, text
    * never shuffles); cut starts fly back doc-keyed (duplicate-volume
    * sized, not corpus sized); the edit itself is a doc-local two-pointer
    * native kernel riding a doc ⋈ doc join. Ubiquitous windows (the
    * boilerplate this op exists to cut) skew their hash partition — the
    * same posture as [[duplicatedSpans]]; the per-row payload is 40
    * bytes, so even a million-occurrence window is a ~40 MB partition.
    */
  def removeDuplicatedSpans(docs: DataFrame, textCol: String = "text",
                            idCol: String = "doc_id", k: Int = 10): DataFrame = {
    require(k >= 2, s"window must cover at least 2 tokens: $k")
    val wins = docs
      .select(col(idCol), split(col(textCol), " ").as("_ws"))
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(1), greatest(size(col("_ws")) - (k - 1), lit(1))),
          i => array_join(slice(col("_ws"), i, lit(k)), " "))))
      .select(col(idCol), (col("pos") + 1).cast("long").as("p"),
        sha2(col("col"), 256).as("_h"))
    val byH = org.apache.spark.sql.expressions.Window.partitionBy("_h")
    val cuts = wins
      .withColumn("_rn", row_number().over(byH.orderBy(col(idCol), col("p"))))
      .withColumn("_n", count(lit(1)).over(byH))
      .where(col("_n") > 1 && col("_rn") > 1)
      .groupBy(idCol).agg(sort_array(collect_list("p")).as("_cuts"))
    docs
      .join(cuts, Seq(idCol), "left")
      .select(col(idCol),
        graft.functions.native.removeCoveredSpans(
          split(col(textCol), " "),
          coalesce(col("_cuts"), array().cast("array<long>")), k).as("_c"))
      .select(col(idCol), col("_c.clean_text").as("clean_text"),
        col("_c.n_removed").as("n_removed"))
  }

  /** Distinct word n-gram shingles of a token array (native expression; the
    * set semantics match `list_distinct(list_transform(...))` in the oracle —
    * only intersection/union sizes are consumed downstream, so element order
    * is irrelevant).
    */
  def shingles(toks: Column, n: Int): Column =
    graft.functions.native.wordShingles(toks, n)

  /** MinHash signature: k min-wise hashes over the shingle set, computed by
    * the native [[graft.functions.MinHashSig]] expression — one pass, one
    * polynomial hash per shingle plus k affine variants mod 1e9+7. (A
    * transform/array_min HOF composition computes the same thing ~8× slower:
    * interpreted lambdas.)
    */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    graft.functions.native.minhashSig(sh, numHashes)

  /** Jaccard similarity of two arrays, distinct-count semantics (native
    * one-pass expression; the declarative size(intersect)/size(union) form
    * is also rewritten to it by the FuseJaccard optimizer rule).
    */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.native.jaccardSim(a, b)

  /** MinHash + LSH near-duplicate pairs.
    *
    * shingle → minhash signature (bands×rowsPerBand hashes) → per-band
    * bucket key → equi-join on (band, bucket) for candidates → exact
    * Jaccard verification ≥ `threshold`.
    *
    * The candidate join is on a (band, 64-bit bucket) key: at scale the only
    * shuffle is by bucket, and bucket sizes are bounded by collision rate,
    * not corpus size.
    */
  def minhash(docs: DataFrame, textCol: String = "text",
              idCol: String = "doc_id", shingleLen: Int = 5,
              bands: Int = 8, rowsPerBand: Int = 2,
              threshold: Double = 0.4): DataFrame = {
    val (sh, _, cand) = minhashCandidates(docs, textCol, idCol, shingleLen,
      bands, rowsPerBand)
    cand
      .join(sh.select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.Rounding.dround(jaccard(col("sh_a"), col("sh_b")), 4).as("jacc"))
      .where(col("jacc") >= threshold)
  }

  /** Sketch-quality calibration of the MinHash estimate against exact
    * shingle Jaccard over the SAME LSH candidate pairs — the
    * `ann_recall_eval` convention applied to the dedup sketch: the one-row
    * readout a pipeline checks before trusting the cheap estimate as its
    * pre-verify threshold. Per-pair error goes to half-up integer
    * micro-units BEFORE aggregation (the engine-portable-sum convention),
    * so mean/max replay bit-for-bit. Returns
    * `(n_pairs, mean_abs_err, max_abs_err, n_over_10pct)`.
    */
  def minhashCalibration(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleLen: Int = 5, bands: Int = 8,
      rowsPerBand: Int = 2): DataFrame = {
    // ONE corpus pass and ONE candidate join for both readings: the old
    // shape ran minhash() and minhashEstimate() independently — two full
    // shingle+signature passes, two banded self-joins, four per-doc
    // feature joins, then a pair-pair join to line the two readings up.
    // Exact Jaccard and the signature-agreement estimate are both
    // per-pair projections of the SAME (sh, sig) features, so compute
    // the features once (lazy checkpoint: feeds the candidate build and
    // both join legs), pair once, and read both numbers off each pair
    // row. Formulas are verbatim from minhash()/minhashEstimate().
    val numHashes = bands * rowsPerBand
    val feats = docs.select(
        col(idCol).as("id"),
        shingles(TextStats.tokens(col(textCol)), shingleLen).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .localCheckpoint(false)
    val banded = bandedOf(feats.select(col("id"), col("sig")), bands,
      rowsPerBand)
    val cand = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    val paired = cand
      .join(feats.select(col("id").as("doc_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a")), "doc_a")
      .join(feats.select(col("id").as("doc_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b")), "doc_b")
      .select(
        graft.functions.Rounding.dround(jaccard(col("sh_a"), col("sh_b")), 4)
          .as("jacc"),
        (aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x) / lit(numHashes.toDouble))
          .as("est_jacc"))
      .where(col("jacc") >= 0.0)
    val e = abs(col("est_jacc") - col("jacc")) * 1e6
    val em = when(e >= 0, floor(e + 0.5)).otherwise(-floor(-e + 0.5))
      .cast("long")
    paired
      .select(em.as("em"))
      .agg(count(lit(1)).as("n_pairs"),
        graft.functions.Rounding.dround(
          sum("em").cast("double") / (count(lit(1)) * 1e6), 6)
          .as("mean_abs_err"),
        graft.functions.Rounding.dround(max("em").cast("double") / 1e6, 6)
          .as("max_abs_err"),
        sum(when(col("em") > 100000L, 1L).otherwise(0L)).as("n_over_10pct"))
  }

  /** MinHash Jaccard ESTIMATE for the LSH candidate pairs: the fraction of
    * agreeing signature positions (E[estimate] = J). This is the cheap
    * threshold a pipeline applies BEFORE exact verification — the estimate
    * join touches only the k-long signatures, never the shingle sets, so
    * its shuffle width is constant per document regardless of document
    * size. Integer agreement count / k is float-exact, so the estimate is
    * bit-identical across engines.
    */
  def minhashEstimate(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", shingleLen: Int = 5,
                      bands: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val numHashes = bands * rowsPerBand
    val (_, sig, cand) = minhashCandidates(docs, textCol, idCol, shingleLen,
      bands, rowsPerBand)
    cand
      .join(sig.select(col("id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sig.select(col("id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x) / lit(numHashes.toDouble)).as("est_jacc"))
  }

  /** Shared shingle → signature → banded-bucket → candidate-pair pipeline of
    * [[minhash]] and [[minhashEstimate]]: returns (shingles, signatures,
    * candidate pairs). Candidate generation shuffles only (id, band, bucket)
    * — the shingle arrays stay out of the exchange; they are joined back by
    * id only for the (few) candidate pairs. The band bucket is a polynomial
    * fold of the band's signature rows mod 1e9+7 (all values < 2^30, so the
    * fold stays in BIGINT range in any engine) — the oracle replays it with
    * list_reduce.
    */
  /** `(id, sig)` MinHash signatures for a document relation — the reusable
    * first stage of [[minhash]] and of the incremental
    * [[SignatureStore]].
    */
  private[llm] def signatureOf(docs: DataFrame, textCol: String,
      idCol: String, shingleLen: Int, numHashes: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      minhashSignature(
        shingles(TextStats.tokens(col(textCol)), shingleLen), numHashes)
        .as("sig"))

  /** `(id, band, bucket)` banded LSH bucket keys from an `(id, sig)`
    * relation: per band, a polynomial fold of that band's signature rows
    * mod 1e9+7 (all values < 2^30, so the fold stays in BIGINT range in
    * any engine).
    */
  private[llm] def bandedOf(sig: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    sig.select(
      col("id"),
      explode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => struct(
            b.as("band"),
            aggregate(
              slice(col("sig"), b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)),
              lit(0L), (acc, x) => (acc * 31 + x) % lit(graft.functions.PolyHash.P1))
              .as("bucket"))))
        .as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))

  private def minhashCandidates(docs: DataFrame, textCol: String,
      idCol: String, shingleLen: Int, bands: Int, rowsPerBand: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val numHashes = bands * rowsPerBand
    // one corpus tokenize+shingle+sign pass shared by the candidate build
    // and the callers' two feature joins (lazy checkpoint) — without it
    // the shingle subtree re-runs once per consumer (three times in
    // minhash(): banding + both exact-verify join legs)
    val feats = docs.select(
        col(idCol).as("id"),
        shingles(TextStats.tokens(col(textCol)), shingleLen).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .localCheckpoint(false)
    val sh = feats.select(col("id"), col("sh"))
    val sig = feats.select(col("id"), col("sig"))
    val banded = bandedOf(sig, bands, rowsPerBand)
    val cand = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    (sh, sig, cand)
  }

  /** 60-bit SimHash of a token array via the native
    * [[graft.functions.SimHash60]] expression (60 counters in one tight
    * loop; the HOF formulation was the single slowest query at sf0.1).
    */
  def simhashSignature(toks: Column): Column =
    graft.functions.native.simhash60(toks)

  /** SimHash near-dup pairs with CORPUS-SCALABLE blocking (generalized
    * pigeonhole): the 60-bit signature splits into `blocks` equal chunks; a
    * pair at hamming distance ≤ `maxHamming` differs in at most `maxHamming`
    * chunks, so it AGREES on some (blocks − maxHamming)-sized chunk subset —
    * every such subset's concatenation is a candidate key, giving exact
    * recall with C(blocks, blocks−maxHamming) key tables of width
    * 60·(blocks−maxHamming)/blocks bits. Candidates are verified with an
    * exact popcount of the XOR, so `blocks` trades candidate volume against
    * key rows, never correctness.
    *
    * `blocks = 4` (default, the minimum for maxHamming = 3) is the classic
    * 4×15-bit scheme: 2^15 buckets per table, enough while corpus/2^15 stays
    * small. At 100 TB (~10^10 docs) a fixed 15-bit key puts ~300 k docs in
    * every bucket — quadratic candidates. `blocks = 6` gives 20 tables of
    * 30-bit keys (10^9 buckets), `blocks = 10` gives 120 tables of 42-bit
    * keys: occupancy n/2^width stays ≪ 1, so candidates stay ∝ true
    * near-dups (see SCALE.md). Key rows per doc grow as C(blocks,
    * blocks−maxHamming) — linear cost, the price of keeping the join sparse.
    *
    * Features are word shingles, not unigrams: bag-of-words simhash calls
    * any two documents over the same small vocabulary near-identical, which
    * both misses the point of near-dup detection and explodes the candidate
    * join (measured 1.5M candidates over 5k docs on a 41-word vocabulary;
    * shingles cut it to the true near-dup neighbourhood).
    */
  def simhash(docs: DataFrame, textCol: String = "text",
              idCol: String = "doc_id", maxHamming: Int = 3,
              shingleLen: Int = 5, blocks: Int = 4): DataFrame = {
    require(blocks > maxHamming,
      s"pigeonhole recall needs blocks > maxHamming ($blocks <= $maxHamming)")
    require(60 % blocks == 0, s"blocks must divide the 60-bit signature: $blocks")
    val width = 60 / blocks
    val mask = (1L << width) - 1
    def chunk(c: Int): Column =
      shiftrightunsigned(col("sig"), c * width).bitwiseAND(lit(mask))
    // all (blocks − maxHamming)-subsets; blocks = 4, maxHamming = 3 yields
    // the four single 15-bit chunks — bit-identical to the classic scheme
    val keySets = (0 until blocks).combinations(blocks - maxHamming).toSeq
    val keys = keySets.zipWithIndex.map { case (set, i) =>
      struct(lit(i).as("chunk"),
        set.foldLeft(lit(0L))((acc, c) =>
          shiftleft(acc, width).bitwiseOR(chunk(c))).as("ckey"))
    }
    val sig = docs.select(col(idCol).as("id"),
      simhashSignature(shingles(TextStats.tokens(col(textCol)), shingleLen)).as("sig"))
    val chunked = sig.select(col("id"), col("sig"),
      explode(array(keys: _*)).as("cc"))
      .select(col("id"), col("sig"), col("cc.chunk"), col("cc.ckey"))
    val a = chunked.alias("a")
    val b = chunked.alias("b")
    a.join(b,
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Decontamination: flag training documents that share at least
    * `minOverlap` distinct word shingles with ANY document of an evaluation
    * set — the benchmark-leakage scrub every pretraining pipeline runs.
    *
    * The eval side is collapsed to its DISTINCT shingle set and broadcast
    * (benchmarks are small by construction — the 100 TB side never
    * shuffles); the training side explodes its per-doc distinct shingles and
    * probes the broadcast, so the whole operator is one scan + one keyed
    * aggregate per training doc. Returns `(id, n_overlap)` for flagged docs.
    */
  /** MOSS-style winnowing fingerprints, one `(idCol, fp)` row per distinct
    * selected hash ([[graft.functions.WinnowFingerprints]]): any shared
    * token run of length ≥ k + w − 1 is guaranteed a shared fingerprint —
    * the PARTIAL-OVERLAP primitive minhash/simhash dilute away. Map-only:
    * the whole selection is a per-document native kernel; the explode adds
    * no shuffle. Documents shorter than `k` tokens emit no rows.
    */
  def winnowFingerprints(docs: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id", k: Int = 3,
                         w: Int = 4): DataFrame =
    docs.select(col(idCol),
      explode(graft.functions.native.winnowFps(
        split(col(textCol), " "), k, w)).as("fp"))

  /** Document pairs sharing at least `minShared` winnowing fingerprints,
    * with the shared count — candidate pairs for partial-overlap review.
    * Fingerprints present in more than `maxDf` documents are dropped
    * BEFORE pairing (corpus boilerplate — a ubiquitous fingerprint would
    * otherwise make its bucket quadratic, the same hot-key guard as the
    * minhash band join); the pair exchange carries (fp, id) rows only.
    */
  def winnowOverlap(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", k: Int = 3, w: Int = 4,
                    minShared: Int = 2, maxDf: Int = 1000): DataFrame = {
    // the fingerprint relation feeds the df filter AND both pair-join
    // sides — a lazy localCheckpoint runs the kernel once and lets the
    // three consumers read the materialized blocks (which the context
    // cleaner frees when the plan is collected), instead of four corpus
    // scans + kernel passes
    val fps = winnowFingerprints(docs, textCol, idCol, k, w)
      .localCheckpoint(false)
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("_df"))
      .where(col("_df") <= maxDf).select("fp")
    val kept = fps.join(rare, "fp")
    val a = kept.select(col("fp"), col(idCol).as("doc_a"))
    val b = kept.select(col("fp"), col(idCol).as("doc_b"))
    a.join(b, Seq("fp")).where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  def decontaminate(train: DataFrame, evalSet: DataFrame,
                    textCol: String = "text", idCol: String = "doc_id",
                    shingleLen: Int = 5, minOverlap: Int = 1): DataFrame = {
    def shingled(df: DataFrame) = df.select(
      col(idCol).as("id"),
      explode(shingles(TextStats.tokens(col(textCol)), shingleLen)).as("sh"))
    val evalShingles = shingled(evalSet).select("sh").distinct()
    shingled(train) // per-doc shingles are already distinct (WordShingles)
      .join(broadcast(evalShingles), "sh")
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
      .where(col("n_overlap") >= minOverlap)
  }

  /** Per-document contamination FRACTION against an eval set — the graded
    * readout behind [[decontaminate]]'s boolean scrub (GPT-3's appendix-C
    * overlap metric: what share of a training doc's distinct n-grams appear
    * anywhere in the benchmark suite). Returns `(idCol, n_grams, n_hit,
    * frac)` for every training doc WITH AT LEAST ONE SHINGLE — a doc
    * shorter than `shingleLen` tokens produces no shingle rows and is
    * absent from the output (it cannot be n-gram-contaminated; left-join
    * the training ids back with n_grams = 0 if a dense relation is
    * needed). Thresholds tune downstream instead of being baked in.
    *
    * Same scale shape as [[decontaminate]]: the eval side collapses to its
    * distinct shingle set and broadcasts; the training side explodes its
    * per-doc distinct shingles, LEFT-probes the broadcast, and folds into
    * one keyed aggregate — the 100 TB side never shuffles text, and the
    * per-doc group carries two longs.
    */
  def contaminationFrac(train: DataFrame, evalSet: DataFrame,
                        textCol: String = "text", idCol: String = "doc_id",
                        shingleLen: Int = 5): DataFrame = {
    def shingled(df: DataFrame) = df.select(
      col(idCol),
      explode(shingles(TextStats.tokens(col(textCol)), shingleLen)).as("sh"))
    val evalShingles = evalSet.select(
        explode(shingles(TextStats.tokens(col(textCol)), shingleLen)).as("sh"))
      .distinct().withColumn("_hit", lit(1))
    shingled(train)
      .join(broadcast(evalShingles), Seq("sh"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_hit"))
      .select(col(idCol), col("n_grams"), col("n_hit"),
        graft.functions.Rounding.dround(
          col("n_hit").cast("double") / col("n_grams"), 6).as("frac"))
  }

  /** Bloom-filter decontamination — [[decontaminate]]'s shape at the scale
    * where even the eval set's DISTINCT shingle strings are too wide to
    * broadcast: a 10 M-shingle benchmark suite is ~500 MB of strings but a
    * 2^27-bit bloom of it is 16 MB, constant in the shingle count. The eval
    * side OR-folds into the bitmap with one map-side-combined aggregate
    * ([[graft.functions.BloomBitsAgg]] — the shuffle carries one fixed-size
    * bitmap per task); the train side cross-joins the single-row bitmap
    * (broadcast, the 100 TB side never shuffles) and counts per-doc shingle
    * hits in one native probe loop.
    *
    * Trade-off vs the exact set: false positives at the classic
    * (1 − e^(−kn/m))^k rate — docs can be flagged that share nothing with
    * the eval set, but never the reverse (no false negatives: every truly
    * shared shingle probes bits the eval side set). Deterministic by
    * construction (the bitmap is an OR-fold over [[graft.functions.PolyHash]]
    * double hashing), so the SAME false positives reproduce in any engine —
    * the oracle replays the bit set in SQL.
    */
  def decontaminateBloom(train: DataFrame, evalSet: DataFrame,
                         textCol: String = "text", idCol: String = "doc_id",
                         shingleLen: Int = 5, minOverlap: Int = 1,
                         mBits: Int = 1 << 20, k: Int = 3): DataFrame = {
    val filter = evalSet
      .select(shingles(TextStats.tokens(col(textCol)), shingleLen).as("sh"))
      .agg(graft.functions.native.bloomBits(col("sh"), mBits, k).as("_bloom"))
    train
      .select(col(idCol).as("id"),
        shingles(TextStats.tokens(col(textCol)), shingleLen).as("sh"))
      .crossJoin(broadcast(filter))
      .select(col("id"),
        graft.functions.native.bloomCountHits(col("_bloom"), col("sh"), mBits, k)
          .cast("long").as("n_overlap")) // long like decontaminate's count
      .where(col("n_overlap") >= minOverlap)
  }

  /** Connected components over a near-duplicate pair graph — the cluster
    * resolution step every corpus dedup needs after candidate pairs: a
    * near-dup CHAIN (a≈b, b≈c) is one cluster even when a and c were never
    * compared, and the keeper is chosen per component, not per pair.
    *
    * Iterative min-label propagation: every node starts as its own label;
    * each round takes the min over its neighbours' labels; converged when a
    * round changes nothing (≤ graph diameter rounds — near-dup components
    * are shallow). Each round is one keyed join + keyed aggregate; the
    * (id, label) relation is cached and materialized per round
    * (two longs per node), previous round unpersisted — no driver-side
    * graph, no unbounded lineage.
    *
    * Returns `(id, component)` for every node that appears in `edges`,
    * where `component` is the minimum node id reachable from `id`.
    */
  def connectedComponents(edges: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b", maxIters: Int = 20): DataFrame = {
    // The edge relation is referenced by EVERY round's join — cache it, or
    // each round re-runs the whole upstream candidate/verify pipeline
    // (measured ~6× the pair-generation cost on the ngram gate query).
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .cache()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .cache() // materialized by round 1's single action — no separate job
    var prev: DataFrame = labels
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nbrMin = sym.join(labels.select(col("id").as("dst"), col("lbl").as("nlbl")), "dst")
        .groupBy(col("src").as("id")).agg(min("nlbl").as("minNbr"))
      // carry the previous label through, so convergence is a filter on the
      // SAME materialization — no extra per-round join
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("minNbr"), col("lbl"))).as("lbl"),
          col("lbl").as("_old"))
        .cache()
      val changed = next.where(col("lbl") =!= col("_old")).count()
      prev.unpersist()
      prev = next
      labels = next.drop("_old")
      converged = changed == 0
      it += 1
    }
    // Truncate the iterative lineage. The loop's logical plan nests every
    // round's join — consumers would re-optimize and re-canonicalize that
    // whole history on EVERY action (measured ~1.9 s of pure driver
    // planning per downstream query at 477 output rows). localCheckpoint
    // materializes the (id, component) relation as stored blocks behind a
    // flat LogicalRDD, so downstream plans see a leaf. At cluster scale
    // prefer `checkpoint()` (or a parquet round-trip) for executor-loss
    // tolerance; the truncation itself is mandatory either way for an
    // iterative operator.
    val out = labels.select(col("id"), col("lbl").as("component"))
      .localCheckpoint()
    sym.unpersist(blocking = false)
    prev.unpersist(blocking = false) // the last round's cache
    out
  }

  /** Minhash-band rows per sub-key for [[ngramBlocks]]' threshold-tuned
    * guard: `subRows` minhashes folded per band. A pair at Jaccard J shares
    * a band key with probability J^subRows — picking subRows ≈
    * log(1/2)/log(threshold) puts the probability knee AT the verification
    * threshold, so supra-threshold pairs mostly stay together while the
    * merely-similar bulk of a hot block splits apart. A single minhash
    * (subRows = 1) would NOT split a boilerplate block: the min over the
    * shingle set is dominated by the shared boilerplate shingles.
    */
  private[llm] def deriveSubRows(threshold: Double): Int =
    if (threshold >= 0.95) 8
    else math.max(1, math.ceil(math.log(0.5) / math.log(math.max(threshold, 0.05))).toInt)

  /** `(id, blk, band, sk)` blocked KEY rows for [[ngramJaccard]]'s pair join
    * — the size-guard core, shared with the hot-block spec. Shingle sets are
    * consumed internally (for the hot-block minhash sub-keys) but never
    * emitted: the pair join exchanges ~40 bytes per row, and the shingle
    * arrays join back by id only for the deduplicated candidate pairs (the
    * [[minhash]] pattern). The pair key is
    * (blk, band, sk): for prefix blocks of at most `maxBlock` documents a
    * single (0, 0) sub-key (exact all-pairs within the block); larger blocks
    * explode into `subBands` minhash-band keys of `subRows` rows each
    * ([[deriveSubRows]]), so a hot block (every doc of a boilerplate corpus
    * sharing the same header) can never drive an unbounded n² pair join.
    * Beyond the bound the comparison is LSH-approximate: a pair at Jaccard J
    * is compared with probability 1−(1−J^subRows)^subBands — near-identical
    * documents almost surely, exact duplicates always (identical shingle
    * sets band identically; an all-exact-dup block stays together by
    * construction, but there the n² PAIR OUTPUT is the true answer — run
    * [[exact]] first, as any pipeline does). The per-block size relation is
    * joined by key, NOT broadcast: distinct prefixes grow with the corpus.
    */
  private[graft] def ngramBlocks(docs: DataFrame, textCol: String,
                               idCol: String, shingleLen: Int,
                               blockPrefix: Int, maxBlock: Int,
                               subRows: Int, subBands: Int): DataFrame = {
    val sh = docs.select(
      col(idCol).as("id"),
      substring(col(textCol), 1, blockPrefix).as("blk"),
      shingles(TextStats.tokens(col(textCol)), shingleLen).as("sh"))
    val sizes = sh.groupBy("blk").agg(count(lit(1)).as("_bn"))
    val joined = sh.join(sizes, "blk")
    val hot = joined.where(col("_bn") > maxBlock)
      .select(col("id"), col("blk"), col("sh"),
        explode(transform(sequence(lit(0), lit(subBands - 1)), b =>
          struct(b.as("band"),
            aggregate(
              slice(minhashSignature(col("sh"), subRows * subBands),
                b * lit(subRows) + lit(1), lit(subRows)),
              lit(0L), (acc, x) => (acc * 31 + x) % lit(graft.functions.PolyHash.P1))
              .as("sk")))).as("bs"))
      .select(col("id"), col("blk"), col("bs.band"), col("bs.sk"))
    val cold = joined.where(col("_bn") <= maxBlock)
      .select(col("id"), col("blk"), lit(0).as("band"), lit(0L).as("sk"))
    cold.unionByName(hot)
  }

  /** Exact n-gram (shingle) Jaccard near-dup with prefix blocking: only
    * documents sharing the same leading-characters block are compared. The
    * block key bounds the join fan-out; blocks larger than `maxBlock` are
    * sub-bucketed by threshold-tuned minhash band keys ([[ngramBlocks]]) so
    * a shared-boilerplate corpus can't make one block quadratic — the same
    * size guard Similarity.guardedBlocks applies to embedding blocks. The
    * pair join carries KEY rows only (ids join their shingle sets back
    * after the multi-band candidates deduplicate — jacc is a pure function
    * of the pair, so the relation is identical). At scale
    * replace the prefix with any cheap locality key (URL host, minhash
    * band, …). `subRows = 0` derives the band depth from `threshold`.
    */
  def ngramJaccard(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", shingleLen: Int = 5,
                   blockPrefix: Int = 40, threshold: Double = 0.4,
                   maxBlock: Int = 10000, subRows: Int = 0,
                   subBands: Int = 2): DataFrame = {
    val r = if (subRows > 0) subRows else deriveSubRows(threshold)
    val keyed = ngramBlocks(docs, textCol, idCol, shingleLen, blockPrefix,
      maxBlock, r, subBands)
    val a = keyed.alias("a")
    val b = keyed.alias("b")
    // The pair join exchanges key rows only; multi-band duplicates collapse
    // BEFORE the shingle arrays join back by id (jacc is a pure function of
    // the pair, so deduplicating candidates first computes the identical
    // relation with a fraction of the shuffle bytes).
    val cand = a.join(b,
        col("a.blk") === col("b.blk") && col("a.band") === col("b.band") &&
        col("a.sk") === col("b.sk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    val shd = docs.select(col(idCol).as("id"),
      shingles(TextStats.tokens(col(textCol)), shingleLen).as("sh"))
    cand
      .join(shd.select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shd.select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.Rounding.dround(jaccard(col("sh_a"), col("sh_b")), 4).as("jacc"))
      .where(col("jacc") >= threshold)
  }

  /** Containment-safe blocked KEY rows: cold blocks (≤ `maxBlock` docs)
    * keep the exact all-pairs (blk, 0, 0) key; HOT blocks sub-bucket by
    * WINNOWING FINGERPRINTS instead of full-signature minhash bands. The
    * distinction matters for asymmetric (small-inside-big) pairs: a
    * minhash band over the FULL shingle set is dominated by the big doc's
    * own content, so an excerpt pair rarely collides — but winnow
    * fingerprints are LOCAL (any shared token run of length ≥ k + w − 1
    * guarantees a shared selected hash, MOSS's guarantee), so the excerpt
    * and its host share sub-keys regardless of the size ratio. Hot-block
    * fan-out stays bounded two ways: a fingerprint appearing in more than
    * `maxFpDf` of the block's docs is dropped (within-block boilerplate —
    * the winnowOverlap df guard; the shared PREFIX itself is ubiquitous
    * and must not recreate the quadratic bucket), and each surviving
    * (blk, fp) bucket is at most `maxFpDf` docs, the same per-bucket
    * bound a cold block has.
    */
  private[graft] def containmentBlocks(docs: DataFrame, textCol: String,
                                       idCol: String, shingleLen: Int,
                                       blockPrefix: Int, maxBlock: Int,
                                       winK: Int, winW: Int,
                                       maxFpDf: Int): DataFrame = {
    val sh = docs.select(
      col(idCol).as("id"),
      substring(col(textCol), 1, blockPrefix).as("blk"),
      TextStats.tokens(col(textCol)).as("_toks"))
    val sizes = sh.groupBy("blk").agg(count(lit(1)).as("_bn"))
    val joined = sh.join(sizes, "blk")
    val cold = joined.where(col("_bn") <= maxBlock)
      .select(col("id"), col("blk"), lit(0).as("band"), lit(0L).as("sk"))
    val hotFps = joined.where(col("_bn") > maxBlock)
      .select(col("id"), col("blk"),
        explode(graft.functions.native.winnowFps(col("_toks"), winK, winW))
          .as("sk"))
      .distinct()
    val fpDf = hotFps.groupBy("blk", "sk").agg(count(lit(1)).as("_df"))
      .where(col("_df") <= maxFpDf).select("blk", "sk")
    val hot = hotFps.join(fpDf, Seq("blk", "sk"))
      .select(col("id"), col("blk"), lit(1).as("band"), col("sk"))
    cold.unionByName(hot)
  }

  /** Shingle-set CONTAINMENT pairs — near-SUBSET detection (a quoted
    * excerpt, a doc embedded in a digest, a page wrapping another page's
    * body): `containment = |A∩B| / min(|A|,|B|)`, which stays high when
    * Jaccard collapses because the sizes differ (|A∩B|/|A∪B| of a 100-gram
    * doc inside a 10 000-gram doc is < 0.01 while containment is 1.0).
    *
    * Candidates come from [[containmentBlocks]]: prefix blocking with
    * exact all-pairs within blocks up to `maxBlock`, and winnowing-
    * fingerprint sub-buckets beyond — alignment-robust for asymmetric
    * pairs where a Jaccard-tuned minhash band would miss the excerpt
    * (spec-pinned on a synthesized hot block with a planted excerpt).
    * Cold-path semantics (what the oracle pins) are exact.
    */
  def containmentPairs(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id", shingleLen: Int = 5,
                       blockPrefix: Int = 40, threshold: Double = 0.8,
                       maxBlock: Int = 10000, winK: Int = 3, winW: Int = 4,
                       maxFpDf: Int = 1000): DataFrame = {
    // the block-key relation feeds BOTH self-join legs, and the shingle
    // relation BOTH verify legs — lazy checkpoints (the hash64DupPairs
    // convention) or each leg re-executes the whole blocking pipeline
    // (prefix sizes + hot-block winnowing + df guard) / the corpus
    // tokenize+shingle pass
    val keyed = containmentBlocks(docs, textCol, idCol, shingleLen,
      blockPrefix, maxBlock, winK, winW, maxFpDf)
      .localCheckpoint(false)
    val a = keyed.alias("a")
    val b = keyed.alias("b")
    val cand = a.join(b,
        col("a.blk") === col("b.blk") && col("a.band") === col("b.band") &&
        col("a.sk") === col("b.sk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    val shd = docs.select(col(idCol).as("id"),
      shingles(TextStats.tokens(col(textCol)), shingleLen).as("sh"))
      .localCheckpoint(false)
    cand
      .join(shd.select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shd.select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.Rounding.dround(
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            least(size(col("sh_a")), size(col("sh_b"))), 4).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Blocked fuzzy record linkage — entity resolution over STRUCTURED
    * records (the classic warehouse dedup: same customer under two
    * spellings), complementing the document-text family above. Candidate
    * pairs come from an EQUI-join on the blocking columns — never
    * all-pairs — then are scored with the built-in integer `levenshtein`
    * (codegen'd, exact in every engine; no float similarity to pin) and
    * kept under `maxDist`. Block sizing is the caller's contract, as
    * everywhere in this family: blocks are quadratic WITHIN and linear
    * ACROSS, so pick blocking columns with bounded groups (e.g.
    * nation × segment) and tighten with more columns as the table grows.
    *
    * HOT-BLOCK SPLIT (guide §2.5 applied to the block product): when the
    * largest block outgrows [[FuzzyDeletionBlockThreshold]] — known from
    * one block-cardinality-sized count probe — oversized blocks leave the
    * quadratic pair join for [[fuzzyPairsByDeletion]]'s linear
    * deletion-neighborhood candidate generator (maxDist ≤ 2 only; wider
    * bands have no bounded neighborhood and stay on the pair join).
    * Below the threshold the probe is the only extra work: both routes
    * were measured at sf0.1 (~120-row blocks) and the quadratic join wins
    * 1.1 s vs 2.9 s at 4 cores there — candidate generation only pays for
    * itself once a block's pair count dwarfs its variant count (~256 rows
    * at the measured per-pair and per-variant costs). Every pair stays in
    * exactly one route (a pair shares all block columns, and each block
    * routes whole), so the union is the same multiset as the one-route
    * plans.
    *
    * EAGER PROBE: calling this method (for `maxDist ≤ 2`) runs one Spark
    * job, the map-only upper bound on the largest block. When that bound
    * exceeds [[FuzzyDeletionBlockThreshold]], a second job computes the
    * exact largest block. Both jobs run at call time, even if the returned
    * DataFrame is never executed.
    */
  def fuzzyPairs(records: DataFrame, keyCol: String, strCol: String,
                 blockCols: Seq[String], maxDist: Int = 2): DataFrame = {
    // rows with a NULL block column can never pair (the pair join's
    // equality would reject them) and a NULL string scores a NULL
    // distance (filtered): drop both up front so neither route nor the
    // block-size probe carries dead rows
    val base = records.select(
      Seq(col(keyCol).as("_k"), col(strCol).as("_s")) ++ blockCols.map(col): _*)
      .where(blockCols.map(col(_).isNotNull).fold(col("_s").isNotNull)(_ && _))
    if (maxDist > 2) return fuzzyPairsByJoin(base, blockCols, maxDist)
    // The route decision never changes RESULTS (both routes emit the same
    // pair multiset), only cost — so it runs on the cheapest statistic
    // that is safe: one map-only pass computes Σ over partitions of the
    // per-partition max block count, an UPPER bound on the true max block
    // (a block's rows are spread over partitions, each counted under its
    // partition's max; separator-joined keys can only merge counts
    // upward). Under the threshold the quadratic route is proven safe for
    // one job with no exchange; only when the bound trips — real hot
    // blocks, or far more partitions than block skew — does the exact
    // block-count probe run.
    val maxBlockUb = base.select(blockCols.map(col): _*).rdd
      .mapPartitions { it =>
        val m = new java.util.HashMap[String, Long]()
        var mx = 0L
        it.foreach { row =>
          val k = row.toSeq.mkString(" ")
          val c = m.merge(k, 1L, (a, b) => a + b)
          if (c > mx) mx = c
        }
        Iterator.single(mx)
      }.fold(0L)(_ + _)
    val maxBlock =
      if (maxBlockUb <= FuzzyDeletionBlockThreshold) maxBlockUb
      else base.groupBy(blockCols.map(col): _*)
        .agg(count(lit(1)).as("_bn")).agg(max("_bn")).collect()
        .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
        .getOrElse(0L)
    if (maxBlock <= FuzzyDeletionBlockThreshold)
      fuzzyPairsByJoin(base, blockCols, maxDist)
    else {
      // block-cardinality-sized count relation, checkpointed lazily so the
      // two route filters share one probe execution
      val cnt = base.groupBy(blockCols.map(col): _*)
        .agg(count(lit(1)).as("_bn")).localCheckpoint(false)
      def route(pred: Column): DataFrame =
        base.join(cnt.where(pred).drop("_bn"), blockCols, "leftsemi")
      fuzzyPairsByJoin(route(col("_bn") <= FuzzyDeletionBlockThreshold),
          blockCols, maxDist)
        .unionByName(fuzzyPairsByDeletion(
          route(col("_bn") > FuzzyDeletionBlockThreshold), blockCols, maxDist))
    }
  }

  /** Blocks at or under this row count keep the quadratic pair join;
    * bigger blocks switch to deletion-neighborhood candidates. Breakeven
    * measured at sf0.1: a verified pair costs ~5 µs (banded levenshtein +
    * join machinery), a variant row ~4 µs (kernel + exchange + grouping),
    * and a record contributes B/2 pairs vs ~L²/2 ≈ 150 variants, so the
    * quadratic route loses once B ≳ 2·150·(4/5) ≈ 250.
    */
  private[graft] val FuzzyDeletionBlockThreshold: Long = 256L

  /** The quadratic-within-block pair join — optimal while blocks stay
    * small (see [[fuzzyPairs]]).
    */
  private def fuzzyPairsByJoin(base: DataFrame, blockCols: Seq[String],
                               maxDist: Int): DataFrame = {
    val l = base.toDF(Seq("key_a", "_sa") ++ blockCols: _*)
    val r = base.toDF(Seq("key_b", "_sb") ++ blockCols.map(_ + "__b"): _*)
    val cond = blockCols.map(c => l(c) === r(c + "__b")).reduce(_ && _) &&
      l("key_a") < r("key_b")
    // the threshold (banded) variant runs O(maxDist·len) per pair instead
    // of the full O(len²) DP and returns -1 above the bound — exact within
    // it, so results match the oracle's plain levenshtein + predicate
    l.join(r, cond)
      .withColumn("dist",
        levenshtein(col("_sa"), col("_sb"), maxDist).cast("long"))
      .where(col("dist") >= 0)
      .select(col("key_a"), col("key_b"), col("dist"))
  }

  /** The `maxDist ≤ 2` candidate generator for [[fuzzyPairs]]: instead of
    * forcing every within-block pair through the levenshtein kernel
    * (quadratic in BLOCK size — the irreducible cost of the equi-join
    * shape), explode each record into its ≤ maxDist deletion neighborhood
    * (the SymSpell construction,
    * [[graft.functions.DeletionNeighborhood]]) and equi-join the variant
    * rows with themselves on `(block, variant)`: records sharing a variant
    * are candidate pairs.
    *
    * SOUND for edit distance: take any optimal alignment of
    * lev(a,b) = k ≤ maxDist edits and delete, on each side, the character
    * that side contributes to each edit (substitution: one char from both;
    * insert/delete: one char from the longer side) — the ≤ k-deletion
    * remnants are EQUAL, so every true pair shares a variant. (A
    * positional-Hamming prefilter has no such guarantee: one shift flips
    * every position while lev stays 1 — the r14-rejected shortcut.) False
    * candidates are killed by the same banded levenshtein verify as
    * before, so the output relation is IDENTICAL — the quadratic block
    * product just never materializes.
    *
    * Shapes and bounds: the exchanges carry the variant rows (record
    * count × neighborhood size — linear in the data, vs the join shape's
    * quadratic pair relation); a candidate pair can share many variants,
    * so pairs are deduplicated on per-row ids before scoring (ids, not
    * keys: duplicate keys keep their multiset semantics — exactly the
    * row-pairs the strict `key_a < key_b` product emitted, each once).
    * A pair's `_ra` comes from the left side of the self-join and its `_rb`
    * from the right, so the ids need only be unique within each side's
    * execution: the two sides need not number rows alike, and
    * monotonically_increasing_id needs no freezing checkpoint. A hot
    * `(block, variant)` group goes through the join's buffered side, which
    * spills, instead of one aggregation buffer holding the whole group.
    * Neighborhood size is quadratic in string LENGTH, which is why this
    * path is gated to short-string linkage (maxDist ≤ 2 entity keys),
    * never document text.
    */
  private def fuzzyPairsByDeletion(base: DataFrame, blockCols: Seq[String],
                                   maxDist: Int): DataFrame = {
    val dels = base.withColumn("_rid", monotonically_increasing_id())
      .withColumn("_v", explode(
        graft.functions.native.deletionNeighborhood(col("_s"), maxDist)))
    val cond = (blockCols :+ "_v").map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a._k") < col("b._k")
    dels.as("a").join(dels.as("b"), cond)
      .select(col("a._rid").as("_ra"), col("b._rid").as("_rb"),
        col("a._k").as("key_a"), col("a._s").as("_sa"),
        col("b._k").as("key_b"), col("b._s").as("_sb"))
      .distinct()
      .withColumn("dist",
        levenshtein(col("_sa"), col("_sb"), maxDist).cast("long"))
      .where(col("dist") >= 0)
      .select(col("key_a"), col("key_b"), col("dist"))
  }
}
