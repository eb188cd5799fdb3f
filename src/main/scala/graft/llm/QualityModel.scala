package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based quality scoring: a hashed bag-of-words logistic classifier
  * over documents — the modern counterpart of the heuristic
  * [[TextStats.qualityScore]] (quality-classifier filtering per the
  * DCLM / fineweb-edu recipe, public work; the reference has no model
  * scoring at all). The MODEL is a config-sized artifact (weights +
  * bias); SCORING is a pure per-row columnar map. That split is the 100 TB
  * design: training touches a bounded sample, scoring touches the corpus
  * with no shuffle and no state.
  *
  * Scoring semantics, pinned for cross-engine replay (the `quality_model`
  * oracle re-computes them exactly in SQL):
  *
  *  - tokens are the non-empty whitespace tokens, in document order;
  *  - feature index of token t = `PolyHash.h1(t) % dim` (the base-31
  *    polynomial hash every signature oracle already replays);
  *  - raw = bias + (Σ_t w[idx(t)]) / n_tok, the sum folded in token
  *    order (deterministic on both engines; no-token docs use raw = bias);
  *  - score = round(sigmoid(raw), 6) — the one edge rounding, binary-value
  *    formula ([[graft.functions.Rounding]]), absorbing exp()'s cross-libm
  *    ulp like PSI's ln terms.
  */
object QualityModel {

  final case class Model(weights: Array[Double], bias: Double) {
    def dim: Int = weights.length
  }

  /** Driver twin of the native scoring expression — ONE implementation of
    * the fold (the expression delegates here; specs assert parity).
    */
  def scoreText(text: String, m: Model): Double = {
    var sum = 0.0
    var n = 0L
    text.split(" ", -1).foreach { w =>
      if (w.nonEmpty) {
        sum += m.weights((graft.functions.PolyHash.h1(w) % m.dim).toInt)
        n += 1L
      }
    }
    val raw = m.bias + (if (n == 0L) 0.0 else sum / n)
    val s = 1.0 / (1.0 + math.exp(-raw))
    math.floor(s * 1e6 + 0.5) / 1e6
  }

  /** Scoring column (native expression: one tight loop per row). */
  def score(text: Column, m: Model): Column =
    graft.functions.native.qualityModelScore(text, m)

  /** Hashed token counts of one document: sorted `(featureIdx, count)`
    * pairs + the token count, for [[gradContribs]].
    */
  private[graft] def hashedCounts(text: String,
                                  dim: Int): (Array[(Int, Double)], Long) = {
    val idx = scala.collection.mutable.HashMap.empty[Int, Double]
    var n = 0L
    text.split(" ", -1).foreach { w =>
      if (w.nonEmpty) {
        val i = (graft.functions.PolyHash.h1(w) % dim).toInt
        idx.update(i, idx.getOrElse(i, 0.0) + 1.0)
        n += 1L
      }
    }
    (idx.toArray.sortBy(_._1), n)
  }

  /** One document's micro-unit (1e-6) gradient contributions under the
    * CURRENT model — `(featureIdx, micros)` pairs plus the bias term at
    * idx −1. Rounding each contribution to integer micros makes the
    * epoch-gradient SUM associative, hence identical under any
    * partitioning — the PSI trick applied to model training. The 1e-6
    * step also absorbs sigmoid's cross-libm exp() ulp (≈1e-17) with
    * ~2e-11 boundary probability per contribution, which is what lets the
    * `quality_train` oracle replay WHOLE TRAINING RUNS cross-engine.
    * Driver twin of the QualityGrad native expression.
    */
  private[graft] def gradContribs(text: String, y: Double,
                                  m: Model): Array[(Int, Long)] = {
    val (x0, n) = hashedCounts(text, m.dim)
    def micro(d: Double): Long = {
      val t = d * 1e6
      (if (t >= 0) math.floor(t + 0.5) else -math.floor(-t + 0.5)).toLong
    }
    var raw = m.bias
    if (n > 0L) x0.foreach { case (i, c) => raw += m.weights(i) * (c / n) }
    val g = 1.0 / (1.0 + math.exp(-raw)) - y
    val out = new Array[(Int, Long)](x0.length + 1)
    var j = 0
    while (j < x0.length) {
      out(j) = (x0(j)._1, micro(g * (x0(j)._2 / n))); j += 1
    }
    out(j) = (-1, micro(g))
    out
  }

  /** Train by DISTRIBUTED full-batch logistic regression on a
    * DETERMINISTIC bounded sample: rows are drawn by their
    * [[Corpus.hashUnit]] order (id-keyed, partition invariant), capped at
    * `sampleCap`. Labels must be 0/1. Driver memory is bounded by the
    * MODEL, not the sample: each epoch is one Spark job (per-doc gradient
    * contributions from the QualityGrad native expression under the
    * current broadcast weights → keyed SUM, map-side combined) and the
    * only collect is the aggregated gradient, at most dim+1
    * `(idx, micros)` rows — document text NEVER leaves the executors
    * (spec-asserted via the executed plans' output schemas). Contributions
    * are micro-unit longs, so the epoch gradient — and every learned
    * weight — is bit-identical under any partitioning. The sample is
    * cached across epochs in executor memory; empty input yields the zero
    * model.
    */
  def trainDistributed(df: DataFrame, textCol: String = "text",
                       labelCol: String = "label", idCol: String = "doc_id",
                       dim: Int = 1 << 12, epochs: Int = 5, lr: Double = 0.5,
                       sampleCap: Int = 100000): Model = {
    val keyed = df
      .select(col(idCol), col(textCol).cast("string").as("_t"),
        col(labelCol).cast("double").as("_y"))
    // The deterministic draw is "the first sampleCap rows in (hashUnit,
    // id) order" — but when the corpus is NOT larger than the cap that is
    // every row, and the epoch gradient is partition- and order-invariant
    // by construction (micro-unit integer contributions, keyed sum), so
    // the global sort adds nothing and is skipped. It is also actively
    // dangerous at high core counts: ORDER BY + LIMIT k plans as
    // TakeOrderedAndProject, whose per-TASK top-k buffer is O(k) — with a
    // corpus-sized cap that is hundreds of MB of allocation per task,
    // multiplied by every concurrent task, a reproducible GC collapse at
    // local[32] (driver artifacts showed 9.8 s there vs 0.74 s at 8
    // cores for the identical query). The one count() job that decides
    // the branch doubles as the model-normalization denominator.
    val total = keyed.count()
    val sample = (if (total <= sampleCap) keyed
      else keyed.orderBy(Corpus.hashUnit(col(idCol), 42L), col(idCol))
        .limit(sampleCap))
      .select(col("_t"), col("_y"))
      .cache()
    val nSample = math.min(total, sampleCap.toLong)
    val w = new Array[Double](dim)
    var b = 0.0
    try {
      if (nSample == 0L) return Model(w, b)
      var e = 0
      while (e < epochs) {
        val grads = sample
          .select(explode(graft.functions.native.qualityGrad(
            col("_t"), col("_y"), Model(w.clone(), b))).as("g"))
          .groupBy(col("g.idx")).agg(sum(col("g.gm")).as("gm"))
          .collect()
        grads.foreach { r =>
          val i = r.getInt(0)
          val g = r.getLong(1) / 1e6 / nSample
          if (i < 0) b -= lr * g else w(i) -= lr * g
        }
        e += 1
      }
      Model(w, b)
    } finally { sample.unpersist(); () }
  }

  /** Persist the model as `(idx, w)` rows plus a bias row (idx = -1) —
    * reloadable across sessions like the BPE merge table and IVF index.
    */
  def save(spark: SparkSession, m: Model, path: String): Unit = {
    import spark.implicits._
    (m.weights.zipWithIndex.map { case (w, i) => (i, w) } :+ ((-1, m.bias)))
      .toSeq.toDF("idx", "w")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: SparkSession, path: String): Model = {
    val rows = spark.read.parquet(path).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toMap
    Model(Array.tabulate(rows.size - 1)(rows(_)), rows(-1))
  }

  /** Fixed literal demo weights for the oracle-checked gate query
    * (config-as-data, like the BPE merge table): dim 32, splitmix-derived
    * values in [-1, 1], bias 0.
    */
  lazy val CoreDemoModel: Model = Model(
    Array.tabulate(32) { i =>
      val z = graft.functions.PolyHash.splitmix(1000L + i)
      (Math.floorMod(z, 2000001L) - 1000000L) / 1000000.0
    }, 0.0)

  /** Classifier EVALUATION — one row `(n, accuracy, log_loss, auc)` for a
    * scored relation with binary labels: threshold-0.5 accuracy, clamped
    * log-loss, and the EXACT ties-half AUC (the probability a random
    * positive outscores a random negative, ties counting ½ — the
    * Mann–Whitney U form, no sampling, no approximation).
    *
    * Determinism: scores arrive 6-dp edge-rounded ([[score]]'s contract),
    * so the micro-unit score is an exact integer key. Log-loss rounds each
    * distinct score's −ln term to micro-units (the PSI convention for
    * ln-bearing terms) and folds `n·term` products as exact longs. AUC is
    * exact integer arithmetic throughout: `U·2 = Σ_q n1(q)·(2·cumn0(<q) +
    * n0(q))`, divided once at the edge.
    *
    * Scale shape: the corpus collapses to per-DISTINCT-SCORE label counts
    * first (map-side combined; the relation entering the window is
    * score-granularity-bounded — ≤ 10⁶+1 rows at 6 dp, a property of the
    * rounding config, never the corpus; the same bound `corpus_budget`'s
    * prefix relation pins), then one window and one final aggregate.
    */
  def evaluate(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = df
      .select(floor(scoreCol * 1000000 + lit(0.5)).cast("long").as("_q"),
        labelCol.cast("long").as("_y"))
      .groupBy("_q")
      .agg(sum(col("_y")).as("_n1"), sum(lit(1L) - col("_y")).as("_n0"))
    // clamped micro-probability, shared by both log-loss terms
    val p = greatest(lit(1e-6), least(lit(1.0 - 1e-6),
      col("_q").cast("double") / 1000000))
    val w = Window.orderBy("_q")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = byScore.select(col("_q"), col("_n1"), col("_n0"),
      coalesce(sum(col("_n0")).over(w), lit(0L)).as("_cum0"),
      (col("_n1") * floor(-log(p) * 1000000 + lit(0.5)).cast("long") +
        col("_n0") * floor(-log(lit(1.0) - p) * 1000000 + lit(0.5)).cast("long"))
        .as("_ll"),
      when(col("_q") >= 500000, col("_n1")).otherwise(col("_n0")).as("_ok"))
    cum.agg(
        sum(col("_n1") + col("_n0")).as("_n"),
        sum("_n1").as("_t1"), sum("_n0").as("_t0"),
        sum("_ok").as("_okt"), sum("_ll").as("_llt"),
        sum(col("_n1") * (lit(2L) * col("_cum0") + col("_n0"))).as("_u2"))
      .select(col("_n").as("n"),
        graft.functions.Rounding.dround(
          col("_okt").cast("double") / col("_n"), 6).as("accuracy"),
        graft.functions.Rounding.dround(
          col("_llt").cast("double") / 1000000 / col("_n"), 6).as("log_loss"),
        // AUC is undefined when either class is absent (the ranking has
        // nothing to compare) — release NULL, not a division crash
        when(col("_t1") > 0 && col("_t0") > 0,
          graft.functions.Rounding.dround(
            col("_u2").cast("double") / (lit(2.0) * col("_t1") * col("_t0")), 6))
          .as("auc"))
  }
}
