package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical loaders for the warehouse tables (see /root/repo/TESTDATA.md).
  *
  * `events.ts` has shipped in two parquet encodings across testdata
  * generations: TIMESTAMP(NANOS) (which Spark's reader rejects outright —
  * [PARQUET_TYPE_ILLEGAL] — so it is read as a raw nanosecond LONG via
  * `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP(MICROS,
  * isAdjustedToUTC=false) (which reads as TIMESTAMP_NTZ). The loader
  * normalises BY THE TYPE IT ACTUALLY READ, so all engine code sees plain
  * microsecond TimestampType either way: `ts div 1000` on the nano long
  * truncates exactly like DuckDB's TIMESTAMP_NS→TIMESTAMP cast, and the
  * NTZ→Timestamp cast is exact because every entry point pins the session
  * timezone to UTC — keeping oracle comparisons bit-identical.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables whose single test-scale parquet file is below this size keep
    * their scan partitioning even under the warm cache — fanning a
    * kilobyte dim table out to every core costs more scheduling than it
    * buys parallelism.
    */
  private val RepartitionMinBytes: Long = 256L * 1024

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Required by the parquet reader for TIMESTAMP(NANOS) columns. Set
    // unconditionally (idempotent map put) rather than as a surprising side
    // effect of the first memo miss.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val caching =
      spark.conf.getOption("spark.graft.cacheTables").contains("true")
    // Resolved-plan memo: `spark.read.parquet` re-lists the directory and
    // re-reads a footer for schema EVERY call — pure metadata overhead
    // repeated at each of the ~150 loader call sites in a full query-suite
    // run. The resolved LogicalRelation is immutable, so one resolution per
    // session serves every query.
    val df = SessionMemo(spark, dir, s"table/$name/$caching") {
      val raw0 = spark.read.parquet(s"$dir/$name.parquet")
      val raw = if (name == "events") raw0.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) read as nano long
          raw0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType => // TIMESTAMP(MICROS) unadjusted
          raw0.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw0 // already a plain TimestampType
      }
      else raw0
      // Test-scale data arrives as ONE small parquet file with one row
      // group — unsplittable, so every scan is one partition and any
      // compute-heavy downstream map stage (gram explodes, shingle
      // hashing, position scoring) runs on one core while the rest
      // idle. Under the opt-in warm cache, repartition such tables to
      // core count BEFORE caching: the one-off shuffle is table-sized
      // (small by the cache's own precondition) and every subsequent
      // query reads a core-count-partitioned in-memory relation. The
      // at-scale path (cache off — 100 TB tables are thousands of
      // row-group-splittable files) never repartitions.
      val cores = spark.sparkContext.defaultParallelism
      val bytes = new java.io.File(s"$dir/$name.parquet").length()
      if (caching && bytes >= RepartitionMinBytes &&
          raw.rdd.getNumPartitions < cores) raw.repartition(cores)
      else raw
    }
    // Opt-in warehouse cache (spark.graft.cacheTables=true): repeated loads
    // of the same table resolve to one in-memory copy via the CacheManager's
    // plan-equality lookup. For repeated-query workloads over tables that fit
    // executor memory (dims, hot silver tables) — not for the 100 TB fact
    // table, which is why it is off by default. The "already cached?" guard
    // (which only exists to avoid cache()'s repeated-call warning spam) asks
    // the CacheManager itself on EVERY call — not at memoization time — so
    // it stays correct across concurrent sessions and re-caches after
    // spark.catalog.clearCache(); any caller-side guard flag would not.
    if (caching &&
        !org.apache.spark.sql.graftbridge.SessionBridge.isCached(df)) df.cache()
    else df
  }

  /** Register every warehouse table as a temp view so `spark.sql` queries
    * run against the same canonical loaders.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
