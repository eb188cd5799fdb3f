package perfbench

import graft.core.{Contract, Contracts, FieldBounds, Snapshot, Validation}
import graft.etl.{Etl, Migrate}
import graft.profile.Profile
import graft.stream.{DqCounters, DqRules}
import java.nio.file.{Files, Path}
import org.apache.spark.perfbenchbridge.Bus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** One pre-generated bronze batch and what the generator planted in it. */
final case class IngestBatch(
    index: Int,
    rows: Vector[(Long, String)],
    validIds: Vector[Long],
    planted: Map[String, Long],
    merge: Boolean)

/** Seeded bronze input for `ingest-snapshot`: Agrawal records from
  * `graft.etl.Synthetic`, serialised as `(ts, data JSON)` log rows, with a
  * planted share of malformed documents, missing fields and out-of-bounds
  * values. The planted `(field:kind)` counts are what `DqCounters` must
  * report.
  */
object IngestInputs {
  val RowsPerBatch = 500
  val MergeEvery = 4
  val MalformedP = 0.02
  val MissingP = 0.03
  val OutOfBoundsP = 0.03

  /** Agrawal field domains; a value outside them is a planted defect. */
  val Bounds: Map[String, FieldBounds] = Map(
    "salary" -> FieldBounds(Some(20000.0), Some(150000.0)),
    "age" -> FieldBounds(Some(20.0), Some(80.0)),
    "elevel" -> FieldBounds(Some(0.0), Some(4.0)),
    "car" -> FieldBounds(Some(1.0), Some(20.0)),
    "zipcode" -> FieldBounds(Some(0.0), Some(8.0)),
    "hyears" -> FieldBounds(Some(1.0), Some(30.0)),
    "loan" -> FieldBounds(Some(0.0), Some(500000.0)))
  private val OutOfBounds: Map[String, String] = Map(
    "salary" -> "9.0E7", "age" -> "150", "elevel" -> "9", "car" -> "42",
    "zipcode" -> "12", "hyears" -> "99", "loan" -> "-1.0")

  val contract: Contract = Contract(
    table = "agrawal",
    schema = StructType(StructField("id", LongType) +: Contracts.agrawal.schema.fields),
    required = "id" +: Contracts.agrawal.required,
    bounds = Bounds)
  /** The append-only evolution the run applies midway. */
  val added: StructField = StructField("region", StringType)
  val evolved: Contract = contract.copy(schema = contract.schema.add(added))

  /** Every `MergeEvery`-th batch is a merge. */
  def mergeEvery(b: Int): Boolean = b % MergeEvery == MergeEvery - 1

  def generate(spark: SparkSession, seed: Long, batches: Int): Vector[IngestBatch] =
    build(records(spark, seed, batches), seed, mergeEvery)

  /** Agrawal records for `batches` batches, in id order (the generator
    * is a `range`, whose partitions collect in id order).
    */
  def records(spark: SparkSession, seed: Long, batches: Int): Seq[Row] = {
    val recs = graft.etl.Synthetic.agrawal(spark, RowsPerBatch.toLong * batches, seed)
      .collect().toSeq
    require(recs.indices.forall(i => recs(i).getLong(0) == i), "Agrawal ids out of order")
    recs
  }

  /** Bronze batches over `recs`; `mergeAt(b)` says which batches re-key. */
  def build(recs: Seq[Row], seed: Long, mergeAt: Int => Boolean): Vector[IngestBatch] = {
    val batches = recs.size / RowsPerBatch
    val fields = contract.schema.fieldNames.toSeq
    val rnd = new scala.util.Random(seed)
    val live = mutable.ArrayBuffer.empty[Long]
    (0 until batches).toVector.map { b =>
      val merge = mergeAt(b)
      val slice = recs.slice(b * RowsPerBatch, (b + 1) * RowsPerBatch)
      // a merge batch re-keys half its rows onto distinct live ids
      val reused = if (merge) rnd.shuffle(live).take(RowsPerBatch / 2).toVector else Vector.empty
      val planted = mutable.Map.empty[String, Long].withDefaultValue(0L)
      val valid = Vector.newBuilder[Long]
      val rows = slice.toVector.zipWithIndex.map { case (r, i) =>
        val id = if (i < reused.size) reused(i) else r.getLong(0)
        val values = mutable.LinkedHashMap(fields.map { f =>
          f -> (if (f == "id") id.toString else r.getAs[Any](f).toString)
        }: _*)
        // producers log the new field before the contract adopts it
        values("region") = "\"r" + (id % 7) + "\""
        val u = rnd.nextDouble()
        val data =
          if (u < MalformedP) {
            contract.required.foreach(f => planted(s"$f:missing") += 1)
            s"#corrupt#$id"
          } else {
            if (u < MalformedP + MissingP) {
              val f = contract.required(rnd.nextInt(contract.required.size))
              values.remove(f); planted(s"$f:missing") += 1
            } else if (u < MalformedP + MissingP + OutOfBoundsP) {
              val f = Bounds.keys.toSeq.sorted.apply(rnd.nextInt(Bounds.size))
              values(f) = OutOfBounds(f); planted(s"$f:range") += 1
            } else valid += id
            values.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
          }
        (b * 1000000L + i, data)
      }
      val v = valid.result()
      live ++= v.filterNot(reused.toSet)
      IngestBatch(b, rows, v, planted.toMap, merge)
    }
  }

  /** SHA-256 of the serialised batches, for the determinism check. */
  def fingerprint(bs: Seq[IngestBatch]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    bs.foreach(b => b.rows.foreach { case (ts, d) =>
      md.update(s"$ts\t$d\n".getBytes("UTF-8"))
    })
    md.digest().map("%02x".format(_)).mkString
  }
}

/** `ingest-snapshot`: the logging-service and dataops loop, writes beside
  * reads. Per batch: ETL with DQ counters into a quarantine and a snapshot
  * commit (append, or a key-replace merge every 4th batch; compaction every
  * 6th; one ADD COLUMN with the first merge); then a reader takes the new version's
  * change feed and one point lookup. The run ends by profiling the table
  * into bounds and alert rules.
  */
object IngestSnapshot {
  val TailPct = 90.0
  val CompactEvery = 6
  val MaxBatches = 30
  /** Warm-up batches: an append, then a merge with the ADD COLUMN and a
    * compaction, so every call the timed loop makes has run once.
    */
  val WarmBatches = 2

  /** Quarantine-side DQ rules: one per contract rule, read off the
    * `_violations` array that `Etl.run` attaches to invalid rows.
    */
  private def quarantineRules(c: Contract): Seq[Validation.Rule] =
    Validation.rules(c).map(r => Validation.Rule(r.loc, r.kind,
      exists(col("_violations"), v => v("loc") === r.loc && v("type") === r.kind)))

  final class Table(val spark: SparkSession, dir: Path, tr: Tracer) {
    val path = dir.resolve("table").toString
    val quarantine = dir.resolve("quarantine").toString
    val schemaDir = dir.resolve("schema").toString
    var contract = IngestInputs.contract
    var paths: Seq[String] = Migrate.migrateFromDisk(spark, schemaDir, contract.schema)._2
    Snapshot.create(spark, path, contract.schema, "id", bloomCol = Some("id"))

    def version: Int = Snapshot.current(spark, path)

    /** Commit one batch; returns the version it produced. */
    def commit(b: IngestBatch, evolve: Boolean, compact: Boolean): Int = {
      if (evolve) tr.span("graft.etl.Migrate.evolve") {
        contract = IngestInputs.evolved
        paths = Migrate.migrateFromDisk(spark, schemaDir, contract.schema)._2
        Snapshot.addColumns(spark, path, Seq(IngestInputs.added))
      }
      import spark.implicits._
      val bronze = b.rows.toDF("ts", "data")
      val silver = tr.span("graft.etl.Etl.run") {
        val (silver, invalid) = Etl.run(bronze, contract, Some(paths))
        DqCounters.observed(invalid, quarantineRules(contract))
          .write.mode("append").parquet(quarantine)
        silver
      }
      if (b.merge) tr.span("graft.core.Snapshot.merge")(Snapshot.merge(silver, path, "id", 2))
      else tr.span("graft.core.Snapshot.append")(Snapshot.append(silver, path, "id", 2))
      if (compact) tr.span("graft.core.Snapshot.compact")(Snapshot.compact(spark, path, "id", 4))
      version
    }

    /** The reader: change feed of (from, to] and a point lookup. */
    def read(from: Int, to: Int, probe: Long): (Long, Long) = {
      val cdf = tr.span("graft.core.Snapshot.changes")(Snapshot.changes(spark, path, from, to).count())
      val hit = tr.span("graft.core.Snapshot.lookup")(
        Snapshot.lookupEq(spark, path, probe.toString).count())
      (cdf, hit)
    }
  }

  def run(spark: SparkSession, o: Opts, tr: Option[LiveTrace]): Outcome = {
    val genS0 = System.nanoTime()
    val recs = IngestInputs.records(spark, o.seed, WarmBatches + MaxBatches)
    System.err.println(f"[perfbench] records at ${Main.sinceJvmStart()}%.1f s")
    val (warmRecs, timedRecs) = recs.splitAt(WarmBatches * IngestInputs.RowsPerBatch)
    val warmInputs = IngestInputs.build(warmRecs, o.seed + 1, _ == 1)
    val inputs = IngestInputs.build(timedRecs, o.seed, IngestInputs.mergeEvery)
    val genS = (System.nanoTime() - genS0) / 1e9
    System.err.println(f"[perfbench] inputs generated at ${Main.sinceJvmStart()}%.1f s")

    // warm-up on a table of its own: every code path the timed loop takes
    val warm = new Table(spark, o.work.resolve("warm"), NoTrace)
    warmInputs.foreach { b =>
      val from = warm.version
      val to = warm.commit(b, evolve = b.index == 1, compact = b.index == 1)
      warm.read(from, to, b.validIds.head)
      System.err.println(f"[perfbench] warm-up batch ${b.index} done at ${Main.sinceJvmStart()}%.1f s")
    }
    Profile.summarize(Snapshot.scan(spark, warm.path, "id", Long.MinValue, Long.MaxValue),
      Seq("salary", "age"), exact = true).collect()
    Bus.drain(spark.sparkContext)
    val dq = new DqCounters.Listener("dq")
    spark.listenerManager.register(dq)

    val t = tr.getOrElse(NoTrace)
    val table = new Table(spark, o.work.resolve("timed"), t)
    val setupS = Main.sinceJvmStart() - genS
    System.err.println(f"[perfbench] set up at ${Main.sinceJvmStart()}%.1f s")

    val failures = Seq.newBuilder[String]
    var failed = 0L
    def check(ok: Boolean, what: => String): Unit =
      if (!ok) { failed += 1; failures += what }
    val commitLat = mutable.ArrayBuffer.empty[Double]
    val readLat = mutable.ArrayBuffer.empty[Double]
    val live = mutable.Set.empty[Long]
    val appendVersions = mutable.ArrayBuffer.empty[Int]
    val planted = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var quarantined = 0L
    var committedRows = 0L
    // the ADD COLUMN rides on the merge batch, so the median falls among
    // the plain appends
    val evolveAt = IngestInputs.MergeEvery - 1
    val t0 = System.nanoTime()
    var b = 0
    while (b < inputs.size && (b < CompactEvery || (System.nanoTime() - t0) / 1e9 < o.seconds)) {
      val batch = inputs(b)
      val compact = b % CompactEvery == CompactEvery - 1
      val from = table.version
      try {
        val c0 = System.nanoTime()
        val to = t.op(s"commit $b")(table.commit(batch, b == evolveAt, compact))
        commitLat += (System.nanoTime() - c0) / 1e9
        if (!batch.merge) appendVersions += from + (if (b == evolveAt) 2 else 1)
        live ++= batch.validIds
        batch.planted.foreach { case (k, v) => planted(k) += v }
        quarantined += batch.rows.size - batch.validIds.size
        committedRows += batch.validIds.size
        val probe = batch.validIds(batch.index % batch.validIds.size)
        val r0 = System.nanoTime()
        val (cdf, hit) = t.op(s"read $b")(table.read(from, to, probe))
        readLat += (System.nanoTime() - r0) / 1e9
        val expectCdf = if (compact) live.size.toLong else batch.validIds.size.toLong
        if (batch.merge && !compact)
          check(cdf >= expectCdf, s"batch $b: merge change feed $cdf rows < batch $expectCdf")
        else check(cdf == expectCdf, s"batch $b: change feed $cdf rows, expected $expectCdf")
        check(hit == 1, s"batch $b: lookupEq($probe) found $hit rows, expected 1")
      } catch { case e: Throwable =>
        failed += 1; failures += s"batch $b: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      System.err.println(f"[perfbench] batch $b done at ${Main.sinceJvmStart()}%.1f s" +
        f" (commit ${commitLat.lastOption.getOrElse(0.0)}%.2f s)")
      b += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9

    // end of run: profile → bounds → alert rules, and the whole-table checks
    val (profileS, rulesYaml) = t.op("profile") {
      val p0 = System.nanoTime()
      val cols = IngestInputs.Bounds.keys.toSeq.sorted
      val prof = t.span("graft.profile.Profile.summarize")(Profile.summarize(
        Snapshot.scan(spark, table.path, "id", Long.MinValue, Long.MaxValue), cols, exact = true))
      val (bounds, required) = Profile.toBounds(prof)
      IngestInputs.Bounds.foreach { case (f, dom) =>
        val got = bounds(f)
        check(got.min.get >= dom.min.get && got.max.get <= dom.max.get,
          s"profile: $f bounds $got outside the domain $dom")
      }
      check(required.toSet == cols.toSet, s"profile: required ${required.sorted} != $cols")
      ((System.nanoTime() - p0) / 1e9, DqRules.alertRulesYaml("Agrawal", bounds))
    }
    val memory = Memory.now()
    check(rulesYaml.split("- alert:").length - 1 == IngestInputs.Bounds.size,
      "alert rules: one rule per bounded field expected")
    val liveRows = Snapshot.countRange(spark, table.path, "id", Long.MinValue, Long.MaxValue)
      .head().getLong(0)
    check(liveRows == live.size, s"live rows $liveRows, expected ${live.size}")
    val qRows = spark.read.parquet(table.quarantine).count()
    check(qRows == quarantined, s"quarantined rows $qRows, expected $quarantined")
    Bus.drain(spark.sparkContext)
    val counters = dq.snapshot.filter(_._2 > 0) - "rows:total"
    check(counters == planted.toMap,
      s"DqCounters ${counters.toSeq.sorted} != planted ${planted.toSeq.sorted}")
    spark.listenerManager.unregister(dq)

    val manifest = Snapshot.manifest(spark, table.path)
    val extra = Map(
      "read_p50_s" -> Stats.median(readLat.toSeq),
      "read_p90_s" -> Stats.pct(readLat.toSeq, TailPct),
      "batches" -> b.toDouble, "profile_s" -> profileS, "input_gen_s" -> genS)
    val layers = tr.map(lt => traced(lt, table, appendVersions.toSet, manifest)).getOrElse(Map.empty)
    Outcome(setupS, memory, commitLat.toSeq, TailPct, committedRows / wallS,
      attempted = b.toLong, failed, failures.result(), extra, layers,
      tr.map(lt => Map[String, Any]("spans" -> lt.spanDump())).getOrElse(Map.empty))
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  private def traced(lt: LiveTrace, table: Table, appendVersions: Set[Int],
      manifest: Seq[Snapshot.FileStat]): Map[String, Double] = {
    val spark = table.spark
    val ops = lt.ops.toSeq.filter(_.name.startsWith("commit"))
    val n = ops.size.toDouble
    def named(s: String) = lt.spans.toSeq.filter(_.name == s)
    def sumS(s: String) = named(s).map(_.durNs / 1e9).sum
    val snapshotCalls =
      Seq("append", "merge", "compact").flatMap(c => named(s"graft.core.Snapshot.$c"))
    val gap = ops.map(r => lt.gapMs(r.startMs, r.endMs) / 1e3).sum
    // data files are immutable: each enters the manifest once, at the
    // version that wrote it; appends write each row for the first time
    def size(f: String) = Files.size(Path.of(java.net.URI.create(f)))
    val cur = Snapshot.current(spark, table.path)
    val files = (0 to cur).map(v =>
      if (v == 0) Set.empty[String] else Snapshot.manifest(spark, table.path, Some(v)).map(_.file).toSet)
    val added = (1 to cur).map(v => v -> (files(v) -- files(v - 1)).toSeq.map(size).sum).toMap
    val userBytes = added.filter(kv => appendVersions(kv._1)).values.sum.toDouble
    val liveBytes = manifest.map(f => size(f.file)).sum.toDouble
    val profile = named("graft.profile.Profile.summarize")
    lt.sparkLayers(ops.map(_.acc), ops.map(_.durNs / 1e9).sum, gap, n) ++ Map(
      "graft.etl.Etl.run_s" -> sumS("graft.etl.Etl.run") / n,
      "graft.etl.Migrate.evolve_s" -> sumS("graft.etl.Migrate.evolve") / n,
      "graft.core.Snapshot.append_s" -> sumS("graft.core.Snapshot.append") / n,
      "graft.core.Snapshot.merge_s" -> sumS("graft.core.Snapshot.merge") / n,
      "graft.core.Snapshot.compact_s" -> sumS("graft.core.Snapshot.compact") / n,
      "graft.core.Snapshot.commit_gap_s" ->
        snapshotCalls.map(s => lt.gapMs(s.startMs, s.endMs) / 1e3).sum / n,
      "graft.core.Snapshot.manifest_files" -> manifest.size.toDouble,
      "graft.core.Snapshot.versions" -> cur.toDouble,
      "graft.core.Snapshot.write_amp" -> added.values.sum / math.max(userBytes, 1.0),
      "graft.core.Snapshot.space_amp" -> dirBytes(Path.of(table.path)) / math.max(liveBytes, 1.0),
      "graft.core.Snapshot.changes_s" -> sumS("graft.core.Snapshot.changes") / n,
      "graft.core.Snapshot.lookup_s" -> sumS("graft.core.Snapshot.lookup") / n,
      "graft.profile.Profile.summarize_s" -> profile.map(_.durNs / 1e9).sum,
      "graft.profile.Profile.summarize_jobs" -> profile.map(s => lt.jobsUnder(s.id)).sum.toDouble)
  }
}
