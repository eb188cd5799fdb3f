package graft

import graft.core.{FieldBounds, Tables, Validation}
import graft.etl.Flatten
import graft.llm.{Dedup, Multimodal, SignatureStore, Similarity, TextStats}
import graft.profile.Profile
import graft.stream.{DelayedJoin, DqAlerts}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract — see /root/repo/SURVEY.md §7.4 for the key inventory.
  *
  * Every query here is deterministic (explicit ORDER BY, order-independent
  * float handling: per-row arithmetic kept unrounded, order-dependent
  * aggregates either exact-in-double, summed as integer cents, or rounded)
  * and has a DuckDB-equivalent oracle in [[oracleSql]] with identical column
  * names and types.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  /** Dollar doubles → exact integer cents (per-row round is deterministic;
    * integer sums are associative, so Spark and DuckDB agree bit-for-bit
    * where rounded double sums would not).
    */
  private def cents(c: Column): Column = graft.functions.Rounding.cents(c)

  // Events-as-streams mapping used by the delayed-join batch analogs:
  // 'view' events play decisions, 'purchase' events play rewards
  // (reference join-service semantics; the reference's Δ = 10 s is far below
  // this corpus's event density, so the batch analogs use Δ = 1 h to make
  // the join semantics observable — the streaming op keeps 10 s).
  private val AnalogDeltaMs = 3600000L
  private def decisions(ev: DataFrame): DataFrame =
    ev.where(col("event_type") === "view")
      .select(col("user_id").as("key"), col("event_id").as("decision_id"),
        unix_millis(col("ts")).as("insert_ms"))
  private def rewards(ev: DataFrame): DataFrame =
    ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("key"), col("value").as("reward"),
        unix_millis(col("ts")).as("insert_ms"))

  private val propsSchema = StructType(Seq(StructField("k", LongType)))

  // Synthesized crawl HTML for the extraction gate: the doc text wrapped
  // in markup noise — a script containing a literal '<', a style rule
  // containing a literal tag, a comment, boilerplate nav with entities,
  // and the &amp;lt; double-decode trap.
  private def crawlHtml(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      concat(
        lit("<HTML><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><script type=\"text/javascript\">var t = 1 < 2;" +
          "</script><style>.m { content: \"<p>\"; }</style></head><body>" +
          "<!-- crawler boilerplate --><nav>Home &gt; Section &amp; Index" +
          "</nav><div class=\"main\"><p>"),
        col("text"),
        lit(" &amp;lt; tricky</p></div></body></HTML>")).as("html"))

  // Synthesized crawl URLs for the canonicalization gates: every group of
  // four docs carries the SAME page under four raw disguises — scheme/host
  // case, www alias, explicit default port, duplicated + trailing slashes,
  // shuffled/tracking query params, a fragment. The general canonicalizer
  // must collapse each group to one form the oracle states from the
  // construction formula.
  private def crawlUrls(s: SparkSession, d: String): DataFrame = {
    val g = floor(col("doc_id") / 4).cast("long").cast("string")
    val r = col("doc_id") % 4
    t(s, d, "documents").select(col("doc_id"),
      when(r === 0, concat(lit("http://www.site"), g,
          lit(".example.com/a//b/?id="), g, lit("&utm_source=feed")))
        .when(r === 1, concat(lit("HTTP://WWW.Site"), g,
          lit(".Example.COM:80/a/b?utm_campaign=x&id="), g))
        .when(r === 2, concat(lit("http://site"), g,
          lit(".example.com/a/b/?id="), g, lit("#frag")))
        .otherwise(concat(lit("http://site"), g,
          lit(".example.com:80/a/b?id="), g, lit("&ref=tw")))
        .as("url"))
  }

  // Synthesized multi-line documents for the C4 line-filter gate: the
  // corpus text sliced into 8-word lines, each line decorated by formula —
  // terminal punctuation for 3 of every 4 (doc_id + line) residues, a
  // "lorem ipsum " placeholder prefix every 13th, a trailing " {" code
  // brace every 11th — so every C4 rule fires somewhere and the general
  // filter chain must recover exactly the survivors the oracle restates.
  private def crawlLines(s: SparkSession, d: String): DataFrame = {
    val w = split(col("text"), " ")
    val nl = ceil(size(w) / lit(8.0)).cast("int")
    val lines = transform(sequence(lit(0), nl - 1), i => {
      val k = col("doc_id") + i
      val prefix = when(k % 13 === 0, lit("lorem ipsum ")).otherwise(lit(""))
      val punct = when(k % 4 === 1, lit(".")).when(k % 4 === 2, lit("!"))
        .when(k % 4 === 3, lit("?")).otherwise(lit(""))
      val brace = when(k % 11 === 0, lit(" {")).otherwise(lit(""))
      concat(prefix, array_join(slice(w, i * lit(8) + 1, lit(8)), " "),
        punct, brace)
    })
    t(s, d, "documents")
      .select(col("doc_id"), array_join(lines, "\n").as("text"))
  }

  // Synthesized multiscript crawl for the script-mix gate: each doc's
  // Latin text is salted with formula-sized runs of Cyrillic, Han, and
  // Arabic characters, so dominance varies per doc and every branch of
  // the general argmax fires somewhere.
  private def crawlScripts(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"), concat(col("text"),
      lit(" "), expr("repeat('я', cast((doc_id % 5) * 40 as int))"),
      lit(" "), expr("repeat('中', cast((doc_id % 7) * 30 as int))"),
      lit(" "), expr("repeat('م', cast((doc_id % 3) * 60 as int))"))
      .as("text"))

  // Synthesized crawl pages with anchors for the link-graph gates: each
  // doc lives on host site{doc_id % 50} and links to 1–3 formula hosts
  // site{(doc_id·7 + j·13) % 50} — a 50-node host graph whose edges the
  // general extraction chain must recover exactly.
  private def crawlHtmlLinks(s: SparkSession, d: String): DataFrame = {
    // anchor TEXT = the doc's own (j+1)-th word, so the anchor-term
    // signal varies per doc and the oracle can restate it
    val anchors = transform(
      sequence(lit(0), (col("doc_id") % 3).cast("int")), j =>
        concat(lit("<a href=\"http://site"),
          ((col("doc_id") * 7 + j * 13) % 50).cast("string"),
          lit(".example.com/p/"), j.cast("string"), lit("\">"),
          element_at(split(col("text"), " "), (j + 1).cast("int")),
          lit("</a> ")))
    t(s, d, "documents").select(col("doc_id"),
      concat(lit("http://site"), (col("doc_id") % 50).cast("string"),
        lit(".example.com/d/"), col("doc_id").cast("string")).as("url"),
      concat(lit("<html><body><p>"), col("text"), lit("</p>"),
        array_join(anchors, ""), lit("</body></html>")).as("html"))
  }

  // Host-level link edges extracted from the synthesized crawl — shared by
  // html_links (the edge readout) and link_pagerank (the graph readout).
  private def linkEdges(s: SparkSession, d: String): DataFrame = {
    val pages = crawlHtmlLinks(s, d)
    pages.select(
        graft.llm.Urls.host(col("url")).as("src_host"),
        explode(graft.llm.Html.links(col("html"))).as("href"))
      .select(col("src_host"),
        graft.llm.Urls.host(col("href")).as("dst_host"))
  }

  // Scratch parent for materialized offline artifacts (index layouts, the
  // signature store). java.io.tmpdir would be DRIVER-LOCAL: on a real
  // cluster, executor write tasks land partitions on their own local disks
  // and the driver-side read back misses them. So artifacts go to a path
  // every node shares: spark.graft.scratchDir when configured, else a
  // subdir of the warehouse dir (cluster deployments point the warehouse
  // at shared storage; in local mode it is ./spark-warehouse, equally
  // visible to all threads).
  private def scratchDir(s: SparkSession, kind: String, d: String): String = {
    val parent = s.conf.get("spark.graft.scratchDir",
      s.conf.get("spark.sql.warehouse.dir") + "/graft_scratch")
    parent.stripSuffix("/") + "/" + kind + "_" +
      Integer.toHexString(d.hashCode) + "_" +
      org.apache.spark.sql.graftbridge.SessionBridge.uuid(s).take(8)
  }

  // A fixture built once per (session, data dir) under graft.core.SessionMemo's
  // boundary. `kind` names both the memo entry and the scratch directory
  // handed to `build`; fixtures that write nothing ignore the directory.
  private def artifact[T](s: SparkSession, d: String, kind: String)(
      build: String => T): T =
    graft.core.SessionMemo(s, d, kind)(build(scratchDir(s, kind, d)))

  // IVF index: an offline artifact — built and materialized once, probed
  // many times. The build includes the cluster-partitioned vector layout, so every probe
  // prunes at the scan (reads nprobe partitions, never the corpus).
  private def ivfIdx(s: SparkSession, d: String): Similarity.IvfIndex =
    artifact(s, d, "ivf")(path => Similarity.buildClusteredIvfIndex(
      t(s, d, "embeddings"), kClusters = 16, path = path))

  // PQ index memo: same offline-artifact treatment
  private def pqIdx(s: SparkSession, d: String): Similarity.PqIndex =
    artifact(s, d, "pq")(_ =>
      Similarity.buildPqIndex(t(s, d, "embeddings"), m = 8, kCodes = 16))

  // IVF-PQ composed index memo: codes co-partitioned by coarse cluster on
  // disk, so the probe prunes partitions AND never reads raw vectors.
  private def ivfPqIdx(s: SparkSession, d: String): Similarity.IvfPqIndex =
    artifact(s, d, "ivfpq")(path => Similarity.buildIvfPqIndex(
      t(s, d, "embeddings"), kClusters = 16, m = 8, kCodes = 16, path = path))

  // BM25 index memo: postings partitioned by term bucket — the
  // build-once/probe-many retrieval artifact (the probe partition-prunes
  // to the query terms' buckets instead of re-tokenizing the corpus).
  private def bm25Idx(s: SparkSession, d: String): graft.llm.Search.Bm25Index =
    artifact(s, d, "bm25")(path => graft.llm.Search.buildBm25Index(
      t(s, d, "documents"), path = path, nBuckets = 16))

  // Unigram-LM seed-vocab memo: the tokenizer is a corpus artifact —
  // trained once per (session, dir), encoded with many times.
  private def unigramVocab(s: SparkSession, d: String): graft.llm.Unigram.Vocab =
    artifact(s, d, "unigram")(_ =>
      graft.llm.Unigram.seed(t(s, d, "documents"), maxLen = 6, topK = 200))

  // The incrementally-maintained twin: history (doc_id % 3 != 0) built
  // once, the "new crawl" appended as postings/stats increments — probes
  // must be indistinguishable from a from-scratch rebuild.
  private def bm25IncIdx(s: SparkSession, d: String): graft.llm.Search.Bm25Index =
    artifact(s, d, "bm25_inc") { path =>
      val idx = graft.llm.Search.buildBm25Index(
        t(s, d, "documents").where(col("doc_id") % 3 =!= 0),
        path = path, nBuckets = 16)
      graft.llm.Search.appendToBm25Index(idx,
        t(s, d, "documents").where(col("doc_id") % 3 === 0), batchId = 1L)
    }

  // CSV twin of the documents table, written once per (session, dir): the
  // scan_csv gate must recover the parquet-exact rows from the CSV bytes
  // (header, quoting, type re-application from the explicit schema).
  private def csvDir(s: SparkSession, d: String): String =
    artifact(s, d, "csvsrc") { path =>
      graft.etl.Sources.writeCsv(t(s, d, "documents"), path)
      path
    }

  // ORC copy of documents written once per (session, dir) — the fourth
  // source format's round-trip gate input.
  private def orcDir(s: SparkSession, d: String): String =
    artifact(s, d, "orcsrc") { path =>
      graft.etl.Sources.writeOrc(t(s, d, "documents"), path)
      path
    }

  // JSONL copy of documents written once per (session, dir) — the export
  // format's round-trip gate input.
  private def jsonlDir(s: SparkSession, d: String): String =
    artifact(s, d, "jsonlsrc") { path =>
      graft.etl.Sources.writeJsonl(t(s, d, "documents"), path)
      path
    }

  // WARC archive written once per (session, dir): documents as byte-
  // counted response records (payloads embed a newline to prove the
  // framing is Content-Length, not lines); the gate re-parses it.
  private def warcDir(s: SparkSession, d: String): String =
    artifact(s, d, "warcsrc") { path =>
      graft.etl.Sources.writeWarc(t(s, d, "documents").select(col("doc_id"),
        concat(lit("http://w"), col("doc_id").cast("string"),
          lit(".example/x")).as("url"),
        concat(lit("L1\n"), col("text")).as("text")), path)
      path
    }

  // The gz twin: the SAME archived relation as compressed-at-rest WARC
  // with application/http payloads (status line + headers + blank + body
  // inside Content-Length) — the Common Crawl shape. The reader must
  // inflate gzip members AND strip the HTTP header block to recover the
  // documents.
  private def warcGzDir(s: SparkSession, d: String): String =
    artifact(s, d, "warcgzsrc") { path =>
      graft.etl.Sources.writeWarcGz(
        t(s, d, "documents").select(col("doc_id"),
          concat(lit("http://w"), col("doc_id").cast("string"),
            lit(".example/x")).as("url"),
          concat(lit("L1\n"), col("text")).as("text")), path, http = true)
      path
    }

  // Quantile register store built once per (session, dir) on the
  // even-orderkey history half; the incremental gate add-merges the odd
  // half READ-ONLY (count addition = the sketch's merge theorem).
  private def quantileStore(s: SparkSession, d: String): String =
    artifact(s, d, "qsketch") { path =>
      graft.analytics.Sketches.buildQuantileStore(s, path,
        t(s, d, "orders").where(col("o_orderkey") % 2 === 0),
        "o_orderpriority", col("o_totalprice"), 0.0, 524288.0, 512)
      path
    }

  // HLL register store built once per (session, dir) on the even-event-id
  // history half; the incremental gate max-merges the odd half READ-ONLY.
  private def hllStore(s: SparkSession, d: String): String =
    artifact(s, d, "hllstore") { path =>
      graft.analytics.Sketches.buildHllStore(s, path,
        t(s, d, "events").where(col("event_id") % 2 === 0),
        "event_type", "user_id")
      path
    }

  // CDC chunk-hash store built once per (session, dir) on the even-id
  // history half; the incremental gate probes it READ-ONLY with the odd
  // half (idempotent under bench reps — appendToStore is the spec-pinned
  // lifecycle write, not part of the gate).
  private def cdcStore(s: SparkSession, d: String): String =
    artifact(s, d, "cdcstore") { path =>
      graft.llm.Cdc.buildStore(s, path,
        t(s, d, "documents").where(col("doc_id") % 2 === 0))
      path
    }

  // Range-clustered lineitem snapshot with the file-level zone-map
  // manifest, built once per (session, dir); the scan gate probes it with
  // a fixed orderkey range and must return exactly the plain filtered
  // relation while reading only the overlapping files.
  private def lineitemSnapshot(s: SparkSession, d: String): String =
    artifact(s, d, "snapshot") { path =>
      graft.core.Snapshot.write(t(s, d, "lineitem"), path,
        "l_orderkey", nFiles = 16)
      path
    }

  // Versioned snapshot for the INCREMENTAL gate: v1 = even orderkeys,
  // v2 = the odd-orderkey crawl appended (O(batch) — v1 files carry over
  // by manifest row, never rescanned). The gate probes v2.
  private def lineitemSnapshotIncr(s: SparkSession, d: String): String =
    artifact(s, d, "snapshot_incr") { path =>
      val li = t(s, d, "lineitem")
      graft.core.Snapshot.write(li.where(col("l_orderkey") % 2 === 0),
        path, "l_orderkey", nFiles = 8)
      graft.core.Snapshot.append(li.where(col("l_orderkey") % 2 === 1),
        path, "l_orderkey", nFiles = 8)
      path
    }

  // Versioned snapshot for the DELETE gate: full lineitem, then a
  // copy-on-write range delete of orderkeys [300, 349] — only the
  // overlapping files rewrite; the gate probes the post-delete version.
  private def lineitemSnapshotDel(s: SparkSession, d: String): String =
    artifact(s, d, "snapshot_del") { path =>
      graft.core.Snapshot.write(t(s, d, "lineitem"), path,
        "l_orderkey", nFiles = 16)
      graft.core.Snapshot.delete(s, path, "l_orderkey", 300L, 349L)
      path
    }

  // Versioned snapshot for the SCHEMA-EVOLUTION gate: v1 = even docs
  // under the narrow schema, v2 = odd docs appended WITH a new trailing
  // column (append-only ADD COLUMN — the M1-M3 contract wired into the
  // table format). The gate scans the evolved head: old files must
  // null-fill the added column through the explicit schema.
  private def docsSnapshotEvolve(s: SparkSession, d: String): String =
    artifact(s, d, "snapshot_evolve") { path =>
      val docs = t(s, d, "documents")
      graft.core.Snapshot.write(
        docs.where(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("lang"), col("n_chars")),
        path, "doc_id", nFiles = 4)
      graft.core.Snapshot.append(
        docs.where(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            (col("n_chars") % 100).as("quality")),
        path, "doc_id", nFiles = 4)
      path
    }

  // Multi-column zone-map snapshot: part clustered on the Morton key of
  // (p_retailprice, p_size) with BOTH originals registered as secondary
  // stat columns — the z-order layout makes every registered dimension's
  // per-file bands nearly disjoint, so a probe on either prunes files.
  private def partSnapshotMulti(s: SparkSession, d: String): String =
    artifact(s, d, "snapshot_multi") { path =>
      graft.core.Snapshot.write(
        graft.etl.Etl.zOrderKey(
          t(s, d, "part").select("p_partkey", "p_retailprice", "p_size"),
          Seq("p_retailprice", "p_size"), bits = 8),
        path, "_z", nFiles = 16,
        statCols2 = Seq("p_size", "p_retailprice"))
      path
    }

  // Snapshot whose INCREMENT arrives through the DSv2 WRITE path: the
  // odd-orderkey half lands via plain df.write.format("graft-snapshot")
  // .mode("append") — Spark plans the range clustering from the
  // connector's required distribution, the writers compute the zone-map
  // rows inline, and the driver commit is the same optimistic protocol.
  private def lineitemSnapshotDsv2W(s: SparkSession, d: String): String =
    artifact(s, d, "snapshot_dsv2w") { path =>
      val li = t(s, d, "lineitem")
      graft.core.Snapshot.write(li.where(col("l_orderkey") % 2 === 0),
        path, "l_orderkey", nFiles = 8)
      li.where(col("l_orderkey") % 2 === 1)
        .write.format("graft-snapshot").mode("append")
        .option("nfiles", 8).save(path)
      path
    }

  // Versioned snapshot for the MERGE gate: full lineitem, then one
  // key-replace upsert — orderkeys [300, 349] re-land with shifted
  // quantities AND ten brand-new orderkeys insert, in a single commit
  // that rewrites only the files actually holding a matched key.
  private def lineitemSnapshotMerge(s: SparkSession, d: String): String =
    artifact(s, d, "snapshot_merge") { path =>
      val li = t(s, d, "lineitem")
      graft.core.Snapshot.write(li, path, "l_orderkey", nFiles = 16)
      val updates = li.where(col("l_orderkey").between(300, 349))
        .withColumn("l_quantity", col("l_quantity") + 1000)
      val inserts = li.where(col("l_orderkey").between(100, 109))
        .withColumn("l_orderkey", col("l_orderkey") + 1000000)
      graft.core.Snapshot.merge(updates.unionByName(inserts), path,
        "l_orderkey", nFiles = 4)
      path
    }

  // Versioned snapshot for the DELETION-VECTOR gate: full lineitem, then
  // a merge-on-read delete of orderkeys [300, 349] — ZERO data files
  // rewrite (the commit is a per-file row-ordinal mask); every read
  // applies the mask via a broadcast _metadata.row_index anti-join.
  private def lineitemSnapshotDv(s: SparkSession, d: String): String =
    artifact(s, d, "snapshot_dv") { path =>
      graft.core.Snapshot.write(t(s, d, "lineitem"), path,
        "l_orderkey", nFiles = 16)
      graft.core.Snapshot.deleteVectors(s, path, "l_orderkey", 300L, 349L)
      path
    }

  // Versioned snapshot for the TYPED-CDF gate: full lineitem, then a
  // copy-on-write delete (v2) and a merge (v3: shifted-quantity updates
  // + brand-new keys) — changesTyped(1, 3) must reconstruct the exact
  // insert/delete/update_preimage/update_postimage relation.
  private def lineitemSnapshotCdf(s: SparkSession, d: String): String =
    artifact(s, d, "snapshot_cdf") { path =>
      val li = t(s, d, "lineitem")
      graft.core.Snapshot.write(li, path, "l_orderkey", nFiles = 16)
      graft.core.Snapshot.delete(s, path, "l_orderkey", 300L, 349L)
      val updates = li.where(col("l_orderkey").between(400, 449))
        .withColumn("l_quantity", col("l_quantity") + 1000)
      val inserts = li.where(col("l_orderkey").between(100, 109))
        .withColumn("l_orderkey", col("l_orderkey") + 1000000)
      graft.core.Snapshot.merge(updates.unionByName(inserts), path,
        "l_orderkey", nFiles = 4)
      path
    }

  // SQL-catalog front door: register the graft TableCatalog once per
  // (session, dir) and build the tables each SQL gate mutates — catalog
  // name keyed by the data dir so one session can serve several SFs.
  private def sqlCatalogFor(s: SparkSession, d: String): String = {
    val cat = "graftsql_" + Integer.toHexString(d.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse",
      scratchDir(s, "sqlwh", d))
    cat
  }
  private def sqlTablePath(s: SparkSession, d: String, name: String): String =
    scratchDir(s, "sqlwh", d) + "/" + name

  // CREATE TABLE + INSERT INTO through pure SQL: the whole write path —
  // DDL registration, DSv2 append with Spark-planned clustering and
  // inline writer stats — driven by two SQL statements.
  private def sqlTableInsert(s: SparkSession, d: String): String =
    artifact(s, d, "sql_ins") { _ =>
      val cat = sqlCatalogFor(s, d)
      t(s, d, "lineitem").createOrReplaceTempView("graft_sql_lineitem")
      s.sql(s"CREATE TABLE $cat.ins (l_orderkey BIGINT, " +
        "l_linenumber BIGINT, l_partkey BIGINT, qty BIGINT) " +
        "TBLPROPERTIES ('statcol' = 'l_orderkey')")
      s.sql(s"INSERT INTO $cat.ins SELECT l_orderkey, l_linenumber, " +
        "l_partkey, CAST(l_quantity AS BIGINT) FROM graft_sql_lineitem")
      cat
    }

  // CTAS through pure SQL: schema from the query, registration from
  // table properties, data through the DSv2 write — one statement.
  private def sqlTableCtas(s: SparkSession, d: String): String =
    artifact(s, d, "sql_ctas") { _ =>
      val cat = sqlCatalogFor(s, d)
      t(s, d, "lineitem").createOrReplaceTempView("graft_sql_lineitem")
      s.sql(s"CREATE TABLE $cat.ctas TBLPROPERTIES ('statcol' = " +
        "'l_orderkey') AS SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM graft_sql_lineitem")
      cat
    }

  // MERGE INTO through pure SQL: the same key-replace upsert as the
  // library merge gate (shifted-quantity updates + shifted-key inserts),
  // resolved by Spark's group-based row-level-operation plan onto the
  // connector's copy-on-write rewrite.
  private def sqlTableMerge(s: SparkSession, d: String): String =
    artifact(s, d, "sql_merge") { _ =>
      val cat = sqlCatalogFor(s, d)
      val li = t(s, d, "lineitem")
      graft.core.Snapshot.write(li, sqlTablePath(s, d, "m"),
        "l_orderkey", nFiles = 16)
      li.where(col("l_orderkey").between(300, 349))
        .withColumn("l_quantity", col("l_quantity") + 1000)
        .unionByName(li.where(col("l_orderkey").between(100, 109))
          .withColumn("l_orderkey", col("l_orderkey") + 1000000))
        .createOrReplaceTempView("graft_sql_merge_src")
      s.sql(s"MERGE INTO $cat.m t USING graft_sql_merge_src s " +
        "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
        "AND t.l_partkey = s.l_partkey AND t.l_suppkey = s.l_suppkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      cat
    }

  // DELETE FROM through pure SQL with a cluster-key range: Spark's
  // metadata-delete rule hands the predicate to the connector, which
  // folds it to one band and runs the O(overlap) copy-on-write delete.
  private def sqlTableDelete(s: SparkSession, d: String): String =
    artifact(s, d, "sql_del") { _ =>
      val cat = sqlCatalogFor(s, d)
      graft.core.Snapshot.write(t(s, d, "lineitem"),
        sqlTablePath(s, d, "del"), "l_orderkey", nFiles = 16)
      s.sql(s"DELETE FROM $cat.del WHERE l_orderkey BETWEEN 300 AND 349")
      cat
    }

  // UPDATE through pure SQL (non-key predicate contribution included):
  // the group-based rewrite — matched rows transformed, everything else
  // copied — landing through the connector's inline-stats writers.
  private def sqlTableUpdate(s: SparkSession, d: String): String =
    artifact(s, d, "sql_upd") { _ =>
      val cat = sqlCatalogFor(s, d)
      graft.core.Snapshot.write(t(s, d, "lineitem"),
        sqlTablePath(s, d, "upd"), "l_orderkey", nFiles = 16)
      s.sql(s"UPDATE $cat.upd SET l_quantity = l_quantity + 1000 " +
        "WHERE l_orderkey BETWEEN 300 AND 349")
      cat
    }

  // Versioned snapshot for the RESTORE gate: full lineitem (v1), a
  // copy-on-write delete (v2), then RESTORE to v1 (v3) — a pure
  // metadata rollback that must read as if the delete never happened.
  private def lineitemSnapshotRestore(s: SparkSession, d: String): String =
    artifact(s, d, "snapshot_restore") { path =>
      graft.core.Snapshot.write(t(s, d, "lineitem"), path,
        "l_orderkey", nFiles = 16)
      graft.core.Snapshot.delete(s, path, "l_orderkey", 300L, 349L)
      graft.core.Snapshot.restore(s, path, 1)
      path
    }

  // Snapshot with a PER-FILE BLOOM sidecar for the point-lookup gate:
  // documents clustered on n_chars (so the zone map is USELESS for a
  // uid probe — only the bloom can prune) with the bloom registered on
  // the synthesized high-cardinality uid string.
  private def docsSnapshotBloom(s: SparkSession, d: String): String =
    artifact(s, d, "snapshot_bloom") { path =>
      graft.core.Snapshot.write(
        t(s, d, "documents").select(col("doc_id"), col("lang"),
          col("n_chars"),
          concat(lit("u"), col("doc_id").cast("string")).as("uid")),
        path, "n_chars", nFiles = 16, bloomCol = Some("uid"))
      path
    }

  // The incremental-dedup signature store is an offline artifact too:
  // built once per (session, dir) from the even-id half of the corpus, then
  // probed (read-only) by the gate query — matching how a pipeline builds
  // the store from history and probes each new crawl against it.
  private def sigStore(s: SparkSession, d: String): String =
    artifact(s, d, "sigstore") { path =>
      SignatureStore.build(s, path,
        t(s, d, "documents").where(col("doc_id") % 2 === 0))
      path
    }

  // The k-NN graph is an offline artifact like the IVF index: built once
  // per (session, dir) — the expensive blocked pair join — and consumed by
  // sim_knn_graph, graph_pagerank AND graph_triangles. localCheckpoint
  // materializes it as a flat leaf, so each consumer's plan starts from the
  // edge relation instead of re-running the k-means + pair join.
  // (maxBlock raised above corpus size: exact within-cluster semantics at
  // test scale; the library default LSH-sub-buckets hot clusters at 100 TB.)
  private def knnEdges(s: SparkSession, d: String): DataFrame =
    artifact(s, d, "knn") { _ =>
      val asg = ivfIdx(s, d).assignments.withColumnRenamed("id", "vec_id")
      Similarity.knnGraph(t(s, d, "embeddings").join(asg, "vec_id"),
        k = 3, partCol = "cluster", maxBlock = 1000000).localCheckpoint()
    }

  // The near-dup PAIR relation + its component resolution are one offline
  // artifact (PairsIndex): the expensive shingle-Jaccard kernel runs once
  // per (session, dir) and lands bucket-partitioned on disk; every
  // consumer (the pair gate itself, split-leakage, the source matrix,
  // components / droplist / keep-best / cluster stats) reads the layout
  // instead of re-running candidate generation + verification.
  private def pairsIdx(s: SparkSession, d: String): graft.llm.PairsIndex.Index =
    artifact(s, d, "pairs")(path => graft.llm.PairsIndex.build(
      t(s, d, "documents"), path = path, nBuckets = 16))
  private def jaccPairs(s: SparkSession, d: String): DataFrame =
    pairsIdx(s, d).pairs(s)
  private def components(s: SparkSession, d: String): DataFrame =
    pairsIdx(s, d).components(s)

  // The INCREMENTALLY-maintained twin of pairsIdx: history (doc_id % 3
  // != 0) is built once, the "new crawl" (% 3 == 0) arrives later as a
  // PairsIndex.append — O(batch) pair maintenance against stored hashed
  // shingle sets, the corpus text never rescanned. The gate pins the
  // layered pair relation against the same full-corpus oracle as the
  // one-shot build, proving increment ≡ rebuild.
  private def pairsIncIdx(s: SparkSession, d: String): graft.llm.PairsIndex.Index =
    artifact(s, d, "pairs_inc") { path =>
      val idx = graft.llm.PairsIndex.build(
        t(s, d, "documents").where(col("doc_id") % 3 =!= 0),
        path = path, nBuckets = 16)
      graft.llm.PairsIndex.append(idx,
        t(s, d, "documents").where(col("doc_id") % 3 === 0), batchId = 1L)
    }

  // The n-gram LM is an offline model artifact (NgramLm.save/load is the
  // disk form): train once per (session, dir, order), score many —
  // lm_score and perplexity_buckets share the bigram model, lm_score_tri
  // owns the trigram one. The memoized artifact is the SCORE-READY
  // PreparedModel (trained counts + the prefix-context augmentation join
  // + the broadcast-decision metadata): the augmentation is a pure
  // function of the trained model — the same offline-artifact class — and
  // memoizing the model but rebuilding its augmented form on every
  // scoring invocation re-paid a vocab-sized join and a metadata job per
  // query for a byte-identical relation. (Declared in OPTIMIZATION_r15.md:
  // this extends the session memo boundary from "trained model" to
  // "score-ready model".)
  private def lmModel(s: SparkSession, d: String,
                      n: Int): graft.llm.NgramLm.PreparedModel =
    artifact(s, d, s"lm$n")(_ => graft.llm.NgramLm.prepare(
      graft.llm.NgramLm.train(t(s, d, "documents"), n = n)))

  // TARGET-domain LM for the DSIR selection statistic: trained on the
  // English slice only (the "domain" a target-flavoured mix up-weights),
  // memoized beside the raw-corpus model it is compared against.
  private def lmTargetModel(s: SparkSession,
                            d: String): graft.llm.NgramLm.PreparedModel =
    artifact(s, d, "lm_target")(_ => graft.llm.NgramLm.prepare(
      graft.llm.NgramLm.train(
        t(s, d, "documents").where(col("lang") === "en"), n = 2)))

  private def withK(ev: DataFrame): DataFrame =
    ev.withColumn("k", from_json(col("props"), propsSchema).getField("k"))

  // Bucketed silver tables are an offline layout artifact like the IVF
  // index: written once per (session, dir), then every co-located join/agg
  // on the bucket key runs with ZERO Exchange. The in-memory catalog
  // forgets tables across JVMs while their warehouse dirs persist, so the
  // sink drops both before writing.
  private def ensureBucketed(s: SparkSession, d: String): Unit =
    artifact(s, d, "bucketed") { _ =>
      for (tbl <- Seq("graft_b_orders", "graft_b_customer")) {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val loc = new java.io.File(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tbl)
        if (loc.exists()) {
          import scala.reflect.io.Directory
          new Directory(loc).deleteRecursively()
        }
      }
      graft.etl.Etl.sinkBucketed(
        t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        "graft_b_orders", "o_custkey", 16)
      graft.etl.Etl.sinkBucketed(
        t(s, d, "customer").select("c_custkey", "c_nationkey"),
        "graft_b_customer", "c_custkey", 16)
    }

  private val lineitemBounds = Map(
    "l_discount" -> FieldBounds(Some(0.0), Some(0.05)),
    "l_extendedprice" -> FieldBounds(Some(0.0), Some(100000.0)),
    "l_quantity" -> FieldBounds(Some(1.0), Some(50.0)),
    "l_tax" -> FieldBounds(Some(0.0), Some(0.06)))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("ctr_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- 2.A sources ----
    "scan_parquet" -> ((s, d) =>
      t(s, d, "region").select("r_regionkey", "r_name")),

    // CSV source round-trip: the documents table written as quoted
    // header-CSV once per session, read back through the explicit-schema
    // CSV source — the gate proves byte-level quoting/typing fidelity
    // against the parquet original (the third source format).
    "scan_csv" -> ((s, d) =>
      graft.etl.Sources.csv(s, csvDir(s, d),
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        ),

    // Zone-map snapshot probe: lineitem range-clustered on l_orderkey
    // with a file-level min/max manifest; a fixed range predicate reads
    // ONLY the overlapping files (file pruning on a NON-partition column
    // — the Iceberg/Delta scan-planning tier) yet must return exactly
    // the plain filtered relation the oracle states.
    "snapshot_scan" -> ((s, d) =>
      graft.core.Snapshot.scan(s, lineitemSnapshot(s, d),
          "l_orderkey", 200L, 399L)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"))
        ),

    // JSONL round-trip: the documents table exported as JSON-lines (the
    // ship-to-training format) and read back through the explicit-schema
    // JSONL source — write fidelity is the gate (string escaping,
    // numeric typing).
    "scan_jsonl" -> ((s, d) =>
      graft.etl.Sources.jsonl(s, jsonlDir(s, d),
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .select("doc_id", "text", "lang", "source", "n_chars")
        ),

    // ORC source round-trip: the documents table written as ORC once per
    // session, read back through the explicit-schema ORC source — the
    // fourth format (parquet, JSON-lines, CSV, ORC), same columnar
    // pushdown posture as parquet.
    "scan_orc" -> ((s, d) =>
      graft.etl.Sources.orc(s, orcDir(s, d),
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        ),

    // The INCREMENTAL snapshot: the odd-orderkey crawl appended to the
    // even-orderkey history as a NEW manifest version (history files
    // carry over by manifest row — O(batch), never rescanned); the probe
    // of the current version must equal the plain filter over the UNION,
    // which is what the oracle states over all of lineitem.
    "snapshot_scan_incremental" -> ((s, d) =>
      graft.core.Snapshot.scan(s, lineitemSnapshotIncr(s, d),
          "l_orderkey", 200L, 399L)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"))
        ),

    // TIME TRAVEL under the gate: version 1 of the incremental snapshot
    // read AFTER the append committed version 2 — the probe must see the
    // pre-append state exactly (immutable data files + per-version
    // manifests), which the oracle states as the even-orderkey filter.
    "snapshot_time_travel" -> ((s, d) =>
      graft.core.Snapshot.scan(s, lineitemSnapshotIncr(s, d),
          "l_orderkey", 200L, 399L, version = Some(1))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"))
        ),

    // DSv2 CONNECTOR under the gate: the snapshot read through plain
    // spark.read.format("graft-snapshot") with an ordinary WHERE — the
    // filter reaches the connector via Catalyst pushdown and becomes
    // manifest file pruning; Spark's own parquet scan does the reading.
    // Zero snapshot-specific API in the query.
    "snapshot_dsv2" -> ((s, d) =>
      s.read.format("graft-snapshot").load(lineitemSnapshot(s, d))
        .where(col("l_orderkey") >= 200 && col("l_orderkey") <= 399)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"))
        ),

    // DSv2 WRITE path under the gate: the table's second half arrived
    // through plain df.write (required-distribution clustering + inline
    // writer stats); the probe must equal the plain filter over the
    // UNION — i.e. the DSv2-written increment is indistinguishable from
    // a Snapshot.append one.
    "snapshot_dsv2_write" -> ((s, d) =>
      graft.core.Snapshot.scan(s, lineitemSnapshotDsv2W(s, d),
          "l_orderkey", 200L, 399L)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"))
        ),

    // CHANGE-DATA-FEED read under the gate: the rows added between
    // version 1 and version 2 of the incremental snapshot — the
    // incremental consumption a downstream pipeline runs per crawl
    // instead of re-reading the table. Exactly the appended odd-orderkey
    // half, which the oracle states as the plain filter.
    "snapshot_changes" -> ((s, d) =>
      graft.core.Snapshot.changes(s, lineitemSnapshotIncr(s, d),
          fromV = 1, toV = 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"))
        ),

    // SCHEMA EVOLUTION under the gate: the snapshot's head was committed
    // by an append that ADDED a column (append-only ADD COLUMN through
    // the Migrate contract); the scan must see pre-evolution rows with
    // the new column null-filled and post-evolution rows with their
    // values — which the oracle states as a two-branch union.
    "snapshot_evolve" -> ((s, d) =>
      graft.core.Snapshot.scan(s, docsSnapshotEvolve(s, d),
          "doc_id", 0L, 1L << 40)
        ),

    // TIME TRAVEL BELOW THE EVOLUTION: version 1 read after the evolving
    // append committed version 2 — the probe must see the ORIGINAL
    // schema (no quality column) and only the pre-evolution rows.
    "snapshot_evolve_time_travel" -> ((s, d) =>
      graft.core.Snapshot.scan(s, docsSnapshotEvolve(s, d),
          "doc_id", 0L, 1L << 40, version = Some(1))
        ),

    // MULTI-COLUMN zone maps under the gate: the snapshot is clustered
    // on the Morton interleave of (p_retailprice, p_size) and the probe
    // runs on p_size ALONE — a secondary stat column whose per-file
    // bands the z-order layout keeps nearly disjoint, so the manifest
    // prunes files on a column that is neither the cluster key nor a
    // partition column. Result must equal the plain filter.
    "snapshot_scan_multi" -> ((s, d) =>
      graft.core.Snapshot.scanBy(s, partSnapshotMulti(s, d),
          "p_size", 10L, 20L)
        .select("p_partkey", "p_retailprice", "p_size")
        ),

    // Copy-on-write MERGE under the gate: a key-replace upsert (the
    // Delta MERGE INTO shape on the cluster key) — matched orderkeys'
    // rows replaced by shifted-quantity versions, new orderkeys
    // inserted, untouched files carried by manifest row. The full scan
    // must equal the oracle's three-branch union.
    "snapshot_merge" -> ((s, d) =>
      graft.core.Snapshot.scan(s, lineitemSnapshotMerge(s, d),
          "l_orderkey", 0L, 1L << 40)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"))
        ),

    // METADATA-ONLY COUNT under the gate: the range count answered from
    // manifest row totals for fully-covered files plus a scan of only
    // the boundary-straddling ones (the Iceberg stats-based count) —
    // must equal the oracle's plain COUNT.
    "snapshot_count" -> ((s, d) =>
      graft.core.Snapshot.countRange(s, lineitemSnapshot(s, d),
        "l_orderkey", 200L, 399L)),

    // BLOOM POINT LOOKUP under the gate: equality probes on a
    // high-cardinality string column the table is NOT clustered on —
    // only the per-file bloom sidecar can prune; three lookups, each
    // reading ~1 file, must return exactly the oracle's rows.
    "snapshot_lookup" -> ((s, d) => {
      val path = docsSnapshotBloom(s, d)
      Seq("u7", "u123", "u400")
        .map(u => graft.core.Snapshot.lookupEq(s, path, u))
        .reduce(_ unionByName _)
        .select("doc_id", "uid", "lang", "n_chars")
        
    }),

    // Copy-on-write DELETE under the gate: orderkeys [300, 349] removed
    // as a new manifest version (only overlapping files rewrote —
    // O(overlap), never O(table)); the probe of the post-delete version
    // must equal the plain filter excluding the range.
    "snapshot_delete" -> ((s, d) =>
      graft.core.Snapshot.scan(s, lineitemSnapshotDel(s, d),
          "l_orderkey", 200L, 399L)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"))
        ),

    // PURE-SQL catalog read: CREATE TABLE + INSERT INTO built the table,
    // and this SELECT's WHERE prunes through the same manifest tier —
    // zero library API anywhere in the lifecycle.
    "snapshot_sql_insert" -> ((s, d) => {
      val cat = sqlTableInsert(s, d)
      s.sql(s"SELECT l_orderkey, l_linenumber, l_partkey, qty FROM " +
        s"$cat.ins WHERE l_orderkey BETWEEN 200 AND 399 " +
        "ORDER BY 1, 2, 3")
    }),

    // PURE-SQL CTAS under the gate: one CREATE TABLE ... AS SELECT built
    // the table; the probe prunes through the same manifest tier.
    "snapshot_sql_ctas" -> ((s, d) => {
      val cat = sqlTableCtas(s, d)
      s.sql(s"SELECT l_orderkey, l_linenumber, l_partkey, qty FROM " +
        s"$cat.ctas WHERE l_orderkey BETWEEN 200 AND 399 " +
        "ORDER BY 1, 2, 3")
    }),

    // PURE-SQL MERGE INTO under the gate: the same key-replace upsert as
    // snapshot_merge, driven by one MERGE statement through the catalog;
    // the full scan must equal the oracle's three-branch union.
    "snapshot_sql_merge" -> ((s, d) => {
      val cat = sqlTableMerge(s, d)
      s.sql(s"SELECT l_orderkey, l_linenumber, l_partkey, " +
        s"CAST(l_quantity AS BIGINT) AS qty FROM $cat.m " +
        "ORDER BY 1, 2, 3")
    }),

    // PURE-SQL DELETE FROM under the gate: the cluster-key range took
    // the connector's METADATA path (Snapshot.delete — O(overlap));
    // the probe must equal the plain filter minus the band.
    "snapshot_sql_delete" -> ((s, d) => {
      val cat = sqlTableDelete(s, d)
      s.sql(s"SELECT l_orderkey, l_linenumber, l_partkey, " +
        s"CAST(l_quantity AS BIGINT) AS qty FROM $cat.del " +
        "WHERE l_orderkey BETWEEN 200 AND 399 ORDER BY 1, 2, 3")
    }),

    // PURE-SQL UPDATE under the gate: the group-based copy-on-write
    // rewrite; matched rows carry the shifted quantity, everything else
    // is byte-identical — the oracle states it as a two-branch union.
    "snapshot_sql_update" -> ((s, d) => {
      val cat = sqlTableUpdate(s, d)
      s.sql(s"SELECT l_orderkey, l_linenumber, l_partkey, " +
        s"CAST(l_quantity AS BIGINT) AS qty FROM $cat.upd " +
        "ORDER BY 1, 2, 3")
    }),

    // PURE-SQL TIME TRAVEL: VERSION AS OF 1 of the deleted table reads
    // the pre-delete state through the catalog.
    "snapshot_sql_time_travel" -> ((s, d) => {
      val cat = sqlTableDelete(s, d)
      s.sql(s"SELECT l_orderkey, l_linenumber, l_partkey, " +
        s"CAST(l_quantity AS BIGINT) AS qty FROM $cat.del " +
        "VERSION AS OF 1 " +
        "WHERE l_orderkey BETWEEN 200 AND 399 ORDER BY 1, 2, 3")
    }),

    // RESTORE under the gate: the table rolled BACK to its pre-delete
    // version as a new commit (pure metadata — nothing moved); the probe
    // must equal the untouched plain filter, delete and all erased.
    "snapshot_restore" -> ((s, d) =>
      graft.core.Snapshot.scan(s, lineitemSnapshotRestore(s, d),
          "l_orderkey", 200L, 399L)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"))
        ),

    // INCREMENTAL DSv2 READ under the gate: startingVersion turns the
    // plain spark.read into a change-data-feed consumption — only the
    // files the window added participate; must equal the appended half.
    "snapshot_dsv2_changes" -> ((s, d) =>
      s.read.format("graft-snapshot").option("startingVersion", 1)
        .load(lineitemSnapshotIncr(s, d))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"))
        ),

    // AGGREGATE PUSHDOWN under the gate: COUNT/MIN/MAX over the DSv2
    // read answered ENTIRELY from the manifest through Spark's complete
    // aggregate-pushdown contract — zero data files read; must equal
    // the oracle's plain aggregates.
    "snapshot_dsv2_agg" -> ((s, d) =>
      s.read.format("graft-snapshot").load(lineitemSnapshot(s, d))
        .agg(count(lit(1)).as("cnt"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))),

    // MERGE-ON-READ DELETE under the gate (deletion vectors): the same
    // range removed as snapshot_delete, but as a pure METADATA commit —
    // zero data files rewrote; the scan applies the per-file row-ordinal
    // mask and must equal the same plain filter minus the band.
    "snapshot_dv_delete" -> ((s, d) =>
      graft.core.Snapshot.scan(s, lineitemSnapshotDv(s, d),
          "l_orderkey", 200L, 399L)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"))
        ),

    // TYPED CDF under the gate: a delete + merge history replayed as
    // row-level changes — deletes from the CoW delete, update pre/post
    // pairs plus inserts from the merge, identically-rewritten survivor
    // rows emitting NOTHING. Must equal the oracle's four-branch union.
    "snapshot_cdf_typed" -> ((s, d) =>
      graft.core.Snapshot.changesTyped(s, lineitemSnapshotCdf(s, d),
          fromV = 1, toV = 3)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"),
          col("_change_type"), col("_commit_version"))
        ),

    // S5: keyed read with limit + server-ts annotation (reference
    // storage.py:48-58); ORDER BY before LIMIT keeps it deterministic.
    "scan_limit" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"), col("props").as("data"),
          unix_millis(col("ts")).as("__ts"))
        .orderBy("event_id").limit(100)),

    // ---- 2.B ETL ----
    "etl_from_json" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          from_json(col("props"), propsSchema).getField("k").as("k"))
        ),

    "etl_project_alias" -> ((s, d) =>
      t(s, d, "lineitem").select(
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"),
        concat(col("l_returnflag"), col("l_linestatus")).as("flag_status"))
        ),

    "etl_struct_flatten" -> { (s, d) =>
      val schema = StructType(Seq(
        StructField("order", StructType(Seq(
          StructField("key", LongType),
          StructField("cust", StructType(Seq(StructField("id", LongType))))))),
        StructField("status", StringType)))
      val j = concat(
        lit("{\"order\":{\"key\":"), col("o_orderkey").cast("string"),
        lit(",\"cust\":{\"id\":"), col("o_custkey").cast("string"),
        lit("}},\"status\":\""), col("o_orderstatus"), lit("\"}"))
      val parsed = t(s, d, "orders").select(from_json(j, schema).as("d"))
      Flatten.select(parsed, "d", schema, Flatten.columnPaths(schema))
    },

    // E4 array-of-struct flatten. The row-preserving list semantics (one row
    // per parent, one list column per leaf path) are pinned by EtlSpec; for
    // the gate the lists are posexploded back to scalar rows because the
    // driver's pandas-based checker cannot sort array-typed columns.
    "etl_array_flatten" -> { (s, d) =>
      val schema = StructType(Seq(StructField("results", ArrayType(StructType(Seq(
        StructField("line", IntegerType), StructField("qty", DoubleType)))))))
      val nested = t(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("order_key"))
        .agg(sort_array(collect_list(struct(
          col("l_linenumber").as("line"), col("l_quantity").as("qty")))).as("results"))
      val flat = nested.select(
        (col("order_key") +: Flatten.columnPaths(schema).map(p =>
          Flatten.extract(nested("results"), schema.fields.head.dataType,
            p.split("__").toList.drop(1)).as(p))): _*)
      flat.select(col("order_key"),
          posexplode(arrays_zip(col("results__line"), col("results__qty"))))
        .select(col("order_key"), col("pos").cast("long").as("pos"),
          col("col.results__line").as("line"), col("col.results__qty").as("qty"))
    },

    // Untyped-JSON column as a Spark 4 VARIANT (§1.2: untyped object →
    // VariantType): parse once, typed extraction at query time.
    "etl_variant_json" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          variant_get(parse_json(col("props")), "$.k", "bigint").as("k"))
        ),

    // ---- 2.E validation ----
    "validate_required" -> { (s, d) =>
      val ev = withK(t(s, d, "events"))
      val rules = Seq("event_id", "user_id", "event_type", "value", "k")
        .map(f => Validation.Rule(f, "missing", col(f).isNull))
      Validation.countsWithValid(ev, rules)
    },

    "validate_bounds" -> ((s, d) =>
      Validation.violationCounts(
        t(s, d, "lineitem"), Validation.boundsRules(lineitemBounds))
        ),

    // ---- 2.D profiling ----
    "profile_summarize" -> ((s, d) =>
      Profile.summarize(t(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        exact = true)
        ),

    // The varchar half of SUMMARIZE: exact distinct / null counts,
    // binary-collation min/max, modal value with a deterministic tiebreak.
    "profile_strings" -> ((s, d) =>
      Profile.summarizeStrings(t(s, d, "documents"), Seq("lang", "source"))
        ),

    // (The approximate profile mode — HLL distinct + percentile_approx, the
    // at-scale default — is engine-specific by construction and so lives
    // outside the oracle gate: library surface + ScalaTest coverage only.)

    // Grouped exact profile: one SUMMARIZE row per language — the slice
    // diagnostic run before mixing. Same bounded keyed machinery, group
    // value as the key.
    "profile_by_group" -> ((s, d) =>
      Profile.summarizeBy(t(s, d, "documents"), "lang", "n_chars")
        .withColumnRenamed("column_name", "lang")),

    // Grouped exact quantiles: the profile's bounded keyed plan with the
    // GROUP value as the key — no group ever sorts globally. EAGER variant:
    // the counts relation is persisted so the source is scanned exactly once
    // (the lazy composite rescans it ~3×).
    "group_quantiles" -> ((s, d) =>
      graft.analytics.Quantiles
        .quantileContByEager(t(s, d, "documents"), "lang", "n_chars",
          Seq(0.25, 0.5, 0.75))
        .select(col("lang"), col("q"),
          graft.functions.Rounding.dround(col("value"), 4).as("value"))),

    // Fixed-width distribution histogram (min/max sub-agg broadcast back
    // onto the scan; bucket arithmetic shared with the quantile machinery).
    "value_histogram" -> ((s, d) =>
      Profile.histogram(t(s, d, "lineitem"), "l_extendedprice", buckets = 32)),

    // Statistical quality gate: docs ≥1.5σ from their language's mean
    // length. Aggregates rounded once pre-broadcast → bit-stable filter.
    "quality_outliers" -> ((s, d) =>
      Profile.zscoreOutliers(t(s, d, "documents"), "n_chars", "lang", 1.5)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          graft.functions.Rounding.dround(col("z"), 4).as("z"))),

    // Robust (median/MAD) outlier gate on the heavy-tailed purchase values
    // — the z-gate's mean and stddev are dragged by exactly the rows this
    // one is supposed to flag.
    "mad_outliers" -> ((s, d) =>
      Profile.madOutliers(t(s, d, "events"), "value", "event_type", 3.5)
        .select(col("event_id"), col("event_type"), col("value"),
          graft.functions.Rounding.dround(col("mad_z"), 4).as("mad_z"))),

    // Winsorized mean per group: the robust center the outlier gates
    // imply — values clamped into the [p05, p95] quantile band, then a
    // 10⁻⁴-unit exact mean. Quantiles ride the keyed histogram-rank
    // machinery; the clamp+mean is one map-side-combined keyed agg.
    "winsorize" -> ((s, d) =>
      Profile.winsorizedMean(t(s, d, "events"), "value", "event_type")
        ),

    // Rolling per-user anomaly gate: each event vs that user's own
    // trailing-20 baseline (current row excluded) — the time-series
    // outlier a global z/MAD gate normalizes away. One window pass
    // partitioned per entity; cents-exact frame sums.
    "rolling_outliers" -> ((s, d) =>
      Profile.rollingOutliers(t(s, d, "events"), "value", "user_id",
          "ts", "event_id")
        ),

    // Distributional drift (PSI) between two event populations over fixed
    // config bins: each 100 TB side collapses to ≤nBins rows before any
    // join; the ln-bearing terms are rounded to micro-units and summed as
    // exact integers (never an order-dependent double sum).
    "drift_psi" -> { (s, d) =>
      val ev = t(s, d, "events")
      graft.profile.Psi.psi(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase"),
        col("value"), lo = 0.0, hi = 500.0, nBins = 10)
    },

    // Chi-square homogeneity over the same fixed binning: the
    // significance-testable companion (statistic + dof) to drift_psi's
    // score. Same one-wide-aggregate plan, micro-unit exact term sum.
    "drift_chi2" -> { (s, d) =>
      val ev = t(s, d, "events")
      graft.profile.Psi.chi2(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase"),
        col("value"), lo = 0.0, hi = 500.0, nBins = 10)
    },

    // Welch's unequal-variance t-test between two experiment arms: one
    // wide aggregate of six cents-exact conditional sums, then single-row
    // arithmetic — the A/B readout at any arm size.
    "ab_ttest" -> { (s, d) =>
      val ev = t(s, d, "events")
      graft.analytics.Stats.welchTTest(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase"), col("value"))
    },

    // Two-proportion z-test on a conversion predicate — the binomial
    // sibling: four conditional counts in one wide aggregate.
    "ab_proportions" -> { (s, d) =>
      val ev = t(s, d, "events")
      graft.analytics.Stats.proportionZTest(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase"),
        col("value") >= 250)
    },

    // ---- flagship batch analytics ----
    "ctr_join" -> { (s, d) =>
      val e = withK(t(s, d, "events")).select("k", "event_type")
      val v = e.where(col("event_type") === "view")
        .groupBy("k").agg(count(lit(1)).as("n_views"))
      val c = e.where(col("event_type") === "click")
        .groupBy("k").agg(count(lit(1)).as("n_clicks"))
      v.join(c, Seq("k"), "left")
        .select(col("k"), col("n_views"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          graft.functions.Rounding.dround(coalesce(col("n_clicks"), lit(0L)).cast("double") / col("n_views"), 4)
            .as("ctr"))
    },

    "q1_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        // direct comparison (not year()) so the predicate pushes down to the
        // parquet scan's row-group min/max stats
        .where(col("l_shipdate") < expr("TIMESTAMP_NTZ '1999-01-01 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"), // integral doubles: exact
          (sum(cents(col("l_extendedprice"))) / lit(100.0)).as("sum_base_price"),
          (sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))) / lit(100.0))
            .as("sum_disc_price"),
          graft.functions.Rounding.dround(avg(col("l_quantity")), 4).as("avg_qty"),
          graft.functions.Rounding.dround(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        ),

    // Running aggregates per key (the classic sessionization/window shape).
    "window_running" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events").select(
        col("event_id"), col("user_id"),
        row_number().over(w).cast("long").as("rn"),
        count(lit(1)).over(run).as("run_n"),
        graft.functions.Rounding.dround(sum(col("value")).over(run), 4).as("run_v"),
        (unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(w)).as("gap_ms"))
    },

    // Statistical aggregates (profiling-adjacent): correlation, covariance,
    // stddev per group.
    "stats_corr" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(graft.functions.Rounding.dround(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
          graft.functions.Rounding.dround(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covar_qty_disc"),
          graft.functions.Rounding.dround(stddev_samp(col("l_extendedprice")), 4).as("std_price"))
        ),

    // Quantile bucketing: decile of customers by account balance (total
    // order via the custkey tiebreak keeps bucket membership exact).
    // Quantiles.exactNtile reproduces NTILE's assignment without the
    // single-partition global window (acctbal domain is [-1000, 10000] →
    // coarseWidth 100 gives ≤110 domain-bounded range partitions).
    "ntile_buckets" -> { (s, d) =>
      graft.analytics.Quantiles.exactNtile(
          t(s, d, "customer").select("c_custkey", "c_acctbal"),
          "c_acctbal", "c_custkey", 10, coarseWidth = 100.0, bucketCol = "decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("n"), graft.functions.Rounding.dround(avg(col("c_acctbal")), 4).as("avg_bal"))
    },

    // Pivot: per-user event-type count matrix (explicit value list keeps the
    // output schema deterministic; nulls filled to 0 to match the oracle's
    // conditional sums).
    "pivot_agg" -> ((s, d) =>
      t(s, d, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        ),

    // Set operation: user-days with views but no purchase (EXCEPT shape —
    // planned as a left-anti join on distinct keys, nothing materialized).
    "set_ops" -> { (s, d) =>
      val ev = t(s, d, "events")
      def userDays(kind: String) = ev.where(col("event_type") === kind)
        .select(col("user_id"), unix_millis(date_trunc("day", col("ts"))).as("day_ms"))
      userDays("view").except(userDays("purchase"))
    },

    // Gap-based sessionization via the built-in session_window (streaming-
    // capable with a watermark; here the batch shape). A new session starts
    // when the gap since the previous event reaches 30 min (window end is
    // exclusive, matched in µs by the oracle's lag/cumsum formulation).
    "sessionize" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          (unix_micros(col("sw.end")) - unix_micros(col("sw.start")) - lit(1800000000L))
            .as("duration_us"),
          col("n_events"))
        ),

    // ROLLUP aggregation (subtotals + grand total; grouping-set nulls are
    // coalesced to '_all' so the row set is engine-independent).
    "rollup_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg((sum(cents(col("l_extendedprice"))) / lit(100.0)).as("sum_price"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("_all")).as("flag"),
          coalesce(col("l_linestatus"), lit("_all")).as("status"),
          col("sum_price"), col("n"))
        ),

    // CUBE: every grouping-set combination (adds the per-status-only
    // subtotals ROLLUP lacks).
    "cube_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg((sum(cents(col("l_extendedprice"))) / lit(100.0)).as("sum_price"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("_all")).as("flag"),
          coalesce(col("l_linestatus"), lit("_all")).as("status"),
          col("sum_price"), col("n"))
        ),

    // As-of join (scalable union + carry-forward formulation): latest
    // purchase at-or-before each view, same user, within 1 h.
    "asof_join" -> { (s, d) =>
      val ev = t(s, d, "events")
      val left = ev.where(col("event_type") === "view")
        .select(col("user_id").as("key"), unix_millis(col("ts")).as("ts"),
          col("event_id").as("decision_id"))
      val right = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("key"), unix_millis(col("ts")).as("ts"),
          col("value"))
      graft.analytics.AsOfJoin.asOf(left, right, AnalogDeltaMs)
        .select(col("decision_id"), col("value"), col("age_ms"))
    },

    // Keyless range (containment) join: views landing inside the 10-minute
    // window after each error. Bucket decomposition turns the keyless range
    // predicate into a hash equi-join on the bucket (the naive formulation
    // is a nested-loop join — O(|L|·|R|) and dead at scale).
    "range_join" -> { (s, d) =>
      val ev = t(s, d, "events")
      val points = ev.where(col("event_type") === "view")
        .select(unix_millis(col("ts")).as("t_ms"), col("value"))
      val intervals = ev.where(col("event_type") === "error")
        .select(col("event_id").as("error_id"), unix_millis(col("ts")).as("s_ms"),
          (unix_millis(col("ts")) + lit(600000L)).as("e_ms"))
      graft.analytics.RangeJoin.byBucket(points, "t_ms", intervals, "s_ms", "e_ms",
          bucketWidth = 600000L)
        .groupBy("error_id")
        .agg(count(lit(1)).as("n_views"),
          (sum(cents(col("value"))) / lit(100.0)).as("sum_value"))
    },

    // Part-dimension join: broadcast the filtered dimension, revenue per
    // brand (filter pushed to the dimension scan, fact side never shuffled
    // before the aggregate's partial phase).
    "part_brand_rev" -> { (s, d) =>
      val li = t(s, d, "lineitem")
      val p = t(s, d, "part").where(col("p_size") <= 20)
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg((sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))) / lit(100.0))
          .as("revenue"), count(lit(1)).as("n_items"))
    },

    // Morton (Z-order) clustering key over two independent dimensions —
    // the layout key Etl.sinkZOrdered range-partitions and sorts by so
    // parquet min/max pruning works on EVERY z-ordered column at once.
    // Pure broadcast-stats + bit arithmetic: oracle-replayable exactly.
    "zorder_key" -> ((s, d) =>
      graft.etl.Etl.zOrderKey(
        t(s, d, "part").select("p_partkey", "p_retailprice", "p_size"),
        Seq("p_retailprice", "p_size"), bits = 8)
        .select(col("p_partkey"), col("_z").as("z"))),

    // Supplier-side join chain with per-nation rollup of supplier activity.
    "supplier_nation_rev" -> { (s, d) =>
      val li = t(s, d, "lineitem")
      val sup = t(s, d, "supplier")
      val n = t(s, d, "nation")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count_distinct(col("s_suppkey")).as("n_suppliers"),
          (sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))) / lit(100.0))
            .as("revenue"))
    },

    // The skew diagnostic: top-n hottest join keys with counts — what a
    // pipeline inspects before deciding to salt. One partial-aggregated
    // shuffle + TakeOrderedAndProject (per-partition heaps, no global sort).
    "heavy_hitters" -> ((s, d) =>
      graft.core.Skew.heavyHitters(t(s, d, "events"), col("user_id"), n = 20)),

    // Count-Min frequency estimation: the sketch is a config-bounded
    // (j, bucket, cnt) relation — one keyed aggregate regardless of key
    // cardinality, mergeable across batches — probed here for the exact
    // top-20 keys so the gate pins estimate AND truth side by side.
    "heavy_hitters_cms" -> { (s, d) =>
      val ev = t(s, d, "events")
      val sketch = graft.analytics.Sketches.buildCmSketch(ev, col("user_id"))
      val top = ev.groupBy(col("user_id").as("key"))
        .agg(count(lit(1)).as("cnt_true"))
        .orderBy(col("cnt_true").desc, col("key")).limit(20)
      sketch.estimate(top, "key").join(top, "key")
        .select(col("key"), col("cnt_true"), col("cnt_est"))
    },

    // KMV distinct-count sketch: bounded k-minima state per (group, task)
    // instead of exact distinct's one-row-per-distinct shuffle —
    // deterministic over the PolyHash basis, so the oracle rebuilds the
    // identical k-minima and estimate.
    "distinct_kmv" -> ((s, d) =>
      graft.analytics.Sketches.kmvDistinctBy(t(s, d, "events"),
        "event_type", "user_id", k = 64)),

    // HLL distinct sketch: 64 max-registers per group (map-side combinable
    // — the mergeable-sketch posture KMV's k-minima share), deterministic
    // over the engine-agnostic mix32+PolyHash draw; exact count rides
    // along as the quality readout.
    "distinct_hll" -> ((s, d) =>
      graft.analytics.Sketches.hllDistinctBy(t(s, d, "events"),
        "event_type", "user_id")),

    // INCREMENTAL cardinality: the odd-id batch's registers max-merged
    // with the persisted even-id history store — history rows never
    // rescanned, and by the sketch's merge theorem the result is
    // BIT-EXACTLY the one-shot estimate on the union, which is what the
    // oracle states (the strongest append ≡ rebuild gate in the engine:
    // not equivalent-by-spec but equal-by-algebra).
    "distinct_hll_incremental" -> ((s, d) =>
      graft.analytics.Sketches.hllMergeProbe(s, hllStore(s, d),
        t(s, d, "events").where(col("event_id") % 2 === 1),
        "event_type", "user_id")),

    // Mergeable QUANTILE sketch: per-group binned-count registers (512
    // exact-binary-width bins, so w=(hi-lo)/nBins is an exact double),
    // readout = rank ceil(q·n) located in the cumulative counts with
    // linear in-bin interpolation — ≤ nBins longs per group at any corpus
    // size, error ≤ one bin width by construction.
    "quantile_sketch" -> ((s, d) =>
      graft.analytics.Sketches.quantileSketchBy(t(s, d, "lineitem"),
        "l_returnflag", col("l_extendedprice"), 0.0, 131072.0, 512,
        Seq(0.5, 0.95, 0.99))),

    // INCREMENTAL quantiles: the odd-orderkey batch's registers add-merge
    // with the persisted even-orderkey history store — bit-exactly the
    // one-shot readout on the union (count addition IS the merge theorem),
    // which is what the oracle states over ALL orders.
    "quantile_sketch_incremental" -> ((s, d) =>
      graft.analytics.Sketches.quantileMergeProbe(s, quantileStore(s, d),
        t(s, d, "orders").where(col("o_orderkey") % 2 === 1),
        "o_orderpriority", col("o_totalprice"), 0.0, 524288.0, 512,
        Seq(0.5, 0.9))),

    // Theta-style set-operation estimates from two KMV sketches — the
    // cohort/corpus overlap diagnostic without a distinct-join: each side
    // reduces to one fixed-size k-minima row.
    "kmv_overlap" -> { (s, d) =>
      val ev = t(s, d, "events")
      graft.analytics.Sketches.kmvOverlap(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase"), "user_id", k = 64)
    },

    // Salting proof-of-equivalence: the salted join must produce the
    // IDENTICAL relation as the plain join — the oracle IS the unsalted SQL,
    // so the hash gate pins Skew.saltedJoin's semantics (no dropped,
    // duplicated, or mis-salted rows), not just its shape.
    "salted_join_agg" -> { (s, d) =>
      val o = t(s, d, "orders")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val c = t(s, d, "customer")
        .select(col("c_custkey").as("custkey"), col("c_nationkey"))
      graft.core.Skew.saltedJoin(o, c, "custkey", salt = 8)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          (sum(cents(col("o_totalprice"))) / lit(100.0)).as("revenue"))
    },

    // Co-located bucketed-silver join + aggregation ON THE BUCKET KEY:
    // both tables are bucketed (16) on custkey by the memoized sink, so the
    // join needs no shuffle and the final aggregate reuses the same
    // partitioning — the whole plan runs with zero shuffle Exchange
    // (spec-asserted with broadcast disabled). The oracle is the plain
    // unbucketed SQL: hash-equality proves layout never changes values.
    "bucketed_join_agg" -> { (s, d) =>
      ensureBucketed(s, d)
      val o = s.table("graft_b_orders")
      val c = s.table("graft_b_customer")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(cents(col("o_totalprice"))) / lit(100.0)).as("revenue"))
    },

    "multi_join_agg" -> { (s, d) =>
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      val r = t(s, d, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg((sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))) / lit(100.0))
          .as("revenue"), count(lit(1)).as("n_items"))
    },

    // ---- 2.C delayed-join batch analogs ----
    "delayed_left_join" -> { (s, d) =>
      val ev = t(s, d, "events")
      DelayedJoin.batch(decisions(ev), rewards(ev), AnalogDeltaMs)
        .select("key", "decision_id", "reward", "decision_insert_ms", "reward_delta_ms")
    },

    // CDC delta stream over the joined decisions (Materialize TAIL parity,
    // reference join-service/app/main.py:114-120): each joined row exists
    // for exactly one logical instant t = insert_ms + Δ, so the feed is a
    // deterministic per-row expansion — +1 at t, −1 at t + 1 — and gates
    // against a plain SQL oracle; the streaming form is spec-asserted
    // event-for-event.
    "changefeed_deltas" -> { (s, d) =>
      val ev = t(s, d, "events")
      DelayedJoin.changefeed(
        DelayedJoin.batch(decisions(ev), rewards(ev), AnalogDeltaMs)
          .select("key", "decision_id", "reward", "decision_insert_ms",
            "reward_delta_ms"),
        AnalogDeltaMs)
    },

    "join_coalesce_default" -> { (s, d) =>
      val ev = t(s, d, "events")
      DelayedJoin.batch(decisions(ev), rewards(ev), AnalogDeltaMs)
        .groupBy("decision_id").agg(max(col("reward")).as("reward"))
    },

    "join_delta_ms" -> { (s, d) =>
      val ev = t(s, d, "events")
      DelayedJoin.batch(decisions(ev), rewards(ev), AnalogDeltaMs)
        .where(col("reward_delta_ms").isNotNull)
        .groupBy("decision_id").agg(min(col("reward_delta_ms")).as("min_delta_ms"))
    },

    "last_reward_dedup" -> { (s, d) =>
      val ev = t(s, d, "events")
      DelayedJoin.lastRewardWins(
          DelayedJoin.batch(decisions(ev), rewards(ev), AnalogDeltaMs), Seq("decision_id"))
        .select("decision_id", "reward", "reward_delta_ms")
    },

    "override_anti_join" -> { (s, d) =>
      val ev = t(s, d, "events")
      val overrides = ev.where(col("event_type") === "error")
        .groupBy(col("user_id").as("key")).agg(count(lit(1)).as("n"))
        .where(col("n") >= 20)
      DelayedJoin.withoutOverridden(decisions(ev), overrides)
        .select("decision_id")
    },

    // ---- 2.D alert feed (batch analog of the 1-min alert window) ----
    "dq_alert_counts" -> { (s, d) =>
      val viol = t(s, d, "events").where(col("value") > 300)
        .select(col("ts"), lit("value").as("loc"), lit("range").as("type"))
      DqAlerts.alertCounts(viol)
        .select(unix_millis(col("window_start")).as("bucket_ms"),
          col("loc"), col("type"), col("n"))
    },

    // J1 batch analog: per-record TTL validity window — records "live" at a
    // fixed reference instant T (mid-corpus): insert_ms ≤ T ≤ insert_ms + Δ.
    "stream_window_filter" -> { (s, d) =>
      val T = 1705276800000L // 2024-01-15 00:00:00 UTC
      t(s, d, "events")
        .select(col("event_id"), unix_millis(col("ts")).as("insert_ms"))
        .where(lit(T).between(col("insert_ms"), col("insert_ms") + AnalogDeltaMs))
    },

    // ---- 2.H dedup ----
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"))),

    // Structured-record fuzzy dedup (entity resolution): levenshtein ≤ 2
    // name pairs, candidates blocked by nation × segment equi-join.
    "dedup_fuzzy" -> ((s, d) =>
      Dedup.fuzzyPairs(t(s, d, "customer"), "c_custkey", "c_name",
        Seq("c_nationkey", "c_mktsegment"), maxDist = 2)),

    // Paragraph-level (CCNet-style) dedup: drop every repeat of a distinct
    // 10-word paragraph corpus-wide, keep the globally-first occurrence,
    // reassemble documents.
    "dedup_paragraphs" -> ((s, d) =>
      Dedup.dedupParagraphs(t(s, d, "documents"), words = 10)),

    // C4/RefinedWeb-style boilerplate removal: a line occurring >= 3 times
    // corpus-wide is dropped from EVERY document (vs dedup_paragraphs'
    // keep-first), then documents reassemble from the surviving lines.
    "dedup_lines" -> ((s, d) =>
      Dedup.dropRepeatedLines(t(s, d, "documents"), words = 10, minCount = 3)),

    // Exact duplicated-substring detection: 10-token sliding windows
    // occurring ≥ 2 times corpus-wide flag copied passages at any alignment
    // (doc-level similarity misses a quoted span inside unrelated docs).
    "dedup_substring" -> ((s, d) =>
      Dedup.duplicatedSpans(t(s, d, "documents"), k = 10)),

    // Content-defined-chunking dedup (rsync/FastCDC family): rolling-hash
    // boundary rule → chunk hashes → corpus-wide duplicated-byte ledger
    // by first-occurrence-wins. The storage-dedup complement of the span
    // operators: O(n) map per doc + ONE (hash, len)-keyed exchange.
    "dedup_cdc" -> ((s, d) =>
      graft.llm.Cdc.dedupStats(t(s, d, "documents"))),

    // The INCREMENTAL CDC ledger: the odd-id crawl accounted against the
    // persisted even-id chunk-hash store — history text never rescanned,
    // O(batch) chunking plus one keyed join against 16-byte keys.
    "dedup_cdc_incremental" -> ((s, d) =>
      graft.llm.Cdc.probeStats(s, cdcStore(s, d),
        t(s, d, "documents").where(col("doc_id") % 2 === 1))
        ),

    // The EDITING form of exact-substring dedup (Lee et al. 2022): cut
    // every non-canonical duplicated 10-token span from the text itself,
    // keeping the global-first occurrence — detection's companion
    // transform. One 32-byte window-hash exchange decides; the cut is a
    // doc-local two-pointer native kernel.
    "dedup_span_removal" -> ((s, d) =>
      Dedup.removeDuplicatedSpans(t(s, d, "documents"), k = 10)),

    // Incremental dedup: probe the odd-id half of the corpus (the "new
    // crawl") against a persisted signature store built from the even-id
    // half (the "history") — matched docs resolve to the stored CANONICAL
    // keeper, and the historical text is never read (the store holds only
    // signatures and bucket keys).
    "dedup_incremental" -> { (s, d) =>
      val store = sigStore(s, d)
      SignatureStore.probe(s, store,
        t(s, d, "documents").where(col("doc_id") % 2 === 1))
    },

    "dedup_minhash" -> ((s, d) =>
      Dedup.minhash(t(s, d, "documents"))),

    // Signature-agreement Jaccard estimate for the LSH candidates — the
    // constant-width pre-verify threshold (touches signatures, never
    // shingle sets).
    "dedup_minhash_est" -> ((s, d) =>
      Dedup.minhashEstimate(t(s, d, "documents"))),

    // Sketch-quality calibration: the estimate's error against exact
    // Jaccard over the SAME candidate pairs, one-row readout (the
    // ann_recall_eval convention for the dedup sketch).
    "minhash_calibration" -> ((s, d) =>
      Dedup.minhashCalibration(t(s, d, "documents"))),

    "dedup_simhash" -> ((s, d) =>
      Dedup.simhash(t(s, d, "documents"))),

    "dedup_ngram_jaccard" -> ((s, d) => jaccPairs(s, d)),

    // The persisted pair layout probed by bucket: the bucket id is a
    // literal partition filter (pb = doc_a % nBuckets — plain modulus so
    // the oracle can replay the same slice), so the scan reads 1/nBuckets
    // of the pair bytes. Spec-asserted: files read < layout files.
    "dedup_pairs_index" -> ((s, d) =>
      pairsIdx(s, d).probeBucket(s, bucket = 3L)),

    // Incremental pair maintenance: history index + one appended crawl
    // must equal the from-scratch pair relation over the full corpus —
    // the oracle is literally the one-shot kernel's SQL.
    "pairs_index_append" -> ((s, d) =>
      pairsIncIdx(s, d).pairs(s)),

    // Near-SUBSET detection: shingle containment |A∩B|/min(|A|,|B|) stays
    // high for an excerpt inside a larger doc where Jaccard collapses.
    // Threshold 0.5 so partially-overlapping prefix-block pairs surface.
    "dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(t(s, d, "documents"), threshold = 0.5)),

    // THE eval-leakage check every training team runs: near-dup pairs that
    // CROSS the train/valid/test boundary (composition of corpus_split and
    // the shingle-jaccard pair machinery) — nonzero cells here mean the
    // random split leaks eval content into train and dedup must run first.
    "split_leakage" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val sp = graft.llm.Corpus.splitAssign(docs,
          Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split"))
      jaccPairs(s, d)
        .join(sp.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
        .join(sp.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
        .where(col("split_a") =!= col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_pairs"))
        
    },

    // Cross-source duplication matrix: which sources copy from which —
    // the curation readout that sets per-source dedup priorities (and
    // exposes mirror/scrape relationships). Same composition shape as
    // split_leakage: two id-keyed joins on the (small) pair relation.
    "dedup_source_matrix" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      jaccPairs(s, d)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), "doc_b")
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"))
        
    },

    // Cluster resolution over the near-dup pair graph: a≈b≈c is ONE cluster
    // even though (a, c) was never compared — keeper selection needs
    // components, not pairs.
    "dedup_components" -> ((s, d) => components(s, d)),

    // Benchmark decontamination: docs sharing any 5-gram with the "eval set"
    // (doc_id < 10 stands in for a held-out benchmark).
    "decontaminate" -> { (s, d) =>
      val docs = t(s, d, "documents")
      Dedup.decontaminate(docs.where(col("doc_id") >= 10),
        docs.where(col("doc_id") < 10))
    },

    // The graded readout behind the scrub: per-doc fraction of distinct
    // shingles appearing anywhere in the eval set (GPT-3 appendix-C
    // overlap metric) — every doc reported, thresholds tunable downstream.
    "contamination_frac" -> { (s, d) =>
      val docs = t(s, d, "documents")
      Dedup.contaminationFrac(docs.where(col("doc_id") >= 10),
          docs.where(col("doc_id") < 10))
        
    },

    // The same scrub through a 2^20-bit bloom of the eval shingles — the
    // shape that survives eval sets whose distinct shingle STRINGS are too
    // wide to broadcast (the bitmap is constant-size). Deterministic double
    // hashing over PolyHash, so the oracle replays the exact bit set —
    // false positives included — in SQL.
    "decontaminate_bloom" -> { (s, d) =>
      val docs = t(s, d, "documents")
      Dedup.decontaminateBloom(docs.where(col("doc_id") >= 10),
        docs.where(col("doc_id") < 10))
    },

    // The dedup END PRODUCT: per clustered doc, the canonical keeper and a
    // drop flag — what a pipeline actually applies to the corpus.
    "dedup_droplist" -> { (s, d) =>
      val cc = components(s, d)
      val keepers = cc.groupBy("component").agg(min("id").as("keep_id"))
      cc.join(keepers, "component")
        .select(col("id"), col("keep_id"),
          (col("id") =!= col("keep_id")).as("is_dup"))
    },

    // Quality-aware keeper selection: real pipelines keep the BEST member
    // of each near-dup cluster, not the lowest id — a keyed window over
    // the (tiny) clustered subset ranked by the quality score, ties by id.
    "dedup_keep_best" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val quality = docs.select(col("doc_id").as("id"),
        TextStats.qualityScore(col("text")).as("quality"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("component").orderBy(col("quality").desc, col("id").asc)
      components(s, d).join(quality, "id")
        .withColumn("rn", row_number().over(w))
        .select(col("id"), col("component"), col("quality"),
          (col("rn") === 1).as("keep"))
    },

    // Cluster-size distribution — the dedup health metric (a heavy tail
    // here means the blocking keys are too coarse). Two keyed aggs over the
    // memoized component relation; output is bounded by the largest cluster.
    "dedup_cluster_stats" -> ((s, d) =>
      components(s, d)
        .groupBy("component").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))),

    // Embedding-cosine near-duplicate pairs, blocked by the coarse partition
    // (label = IVF-cluster stand-in); blocks above the size guard are LSH
    // sub-bucketed so no block is ever unboundedly quadratic.
    "dedup_embedding" -> ((s, d) =>
      Similarity.nearDupPairs(t(s, d, "embeddings"))),

    // SemDeDup-style semantic dedup: block by the LEARNED cluster (the
    // memoized IVF assignment — content-derived, unlike the metadata label
    // above) and emit within-cluster near-dup pairs. The pair join is keyed
    // on the cluster id; maxBlock is raised above the corpus size here so
    // the gate pins EXACT all-pairs-within-cluster semantics at test scale
    // (the library default, 10k, LSH-sub-buckets hot clusters at 100 TB).
    "dedup_semantic" -> { (s, d) =>
      val asg = ivfIdx(s, d).assignments.withColumnRenamed("id", "vec_id")
      Similarity.nearDupPairs(t(s, d, "embeddings").join(asg, "vec_id"),
        partCol = "cluster", maxBlock = 1000000)
    },

    // Per-label mean embedding (centroid) via the custom VectorSumD
    // aggregate — map-side-combined vector partials, one shuffle. The
    // centroid vector is posexploded to (label, pos, m) scalar rows for the
    // gate (the driver's checker cannot sort array columns); the library
    // surface keeping the array shape stays covered by LlmSpec.
    "embed_centroids" -> ((s, d) =>
      t(s, d, "embeddings")
        .groupBy("label")
        .agg(graft.functions.native.vecsum(col("embedding").cast("array<double>")).as("s"),
          count(lit(1)).as("n"))
        .select(col("label"), col("n"), posexplode(col("s")))
        .select(col("label"), col("pos").cast("long").as("pos"),
          graft.functions.Rounding.dround(col("col") / col("n"), 6).as("m"),
          col("n"))
        ),

    // Per-label centroid drift between two embedding snapshots (split by
    // vec_id parity here): cosine of the per-label SUM vectors — counts
    // cancel, each 100 TB side collapses to label-cardinality rows.
    "embed_drift" -> { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.centroidDrift(
          e.where(pmod(col("vec_id"), lit(2)) === 0),
          e.where(pmod(col("vec_id"), lit(2)) === 1))
        
    },

    // ---- 2.H similarity ----
    "sim_topk" -> { (s, d) =>
      val embs = t(s, d, "embeddings")
      val q = embs.orderBy("vec_id").limit(1).select(col("embedding").as("qvec"))
      Similarity.topK(embs, q, 10)
    },

    "sim_nn_label" -> ((s, d) =>
      Similarity.nnWithinPartition(t(s, d, "embeddings"))),

    // Full k-NN graph blocked by the LEARNED IVF cluster (same memoized
    // assignment as dedup_semantic): top-3 cosine neighbours for EVERY
    // vector, pair join keyed on the cluster id — built once via the
    // knnEdges artifact memo and shared with the graph analytics below.
    "sim_knn_graph" -> ((s, d) => knnEdges(s, d)),

    // PageRank centrality over the k-NN graph (hub detection / sampling
    // weights): exact integer DIV arithmetic, 3 rounds, one keyed
    // join+agg per round, over the materialized edge artifact.
    "graph_pagerank" -> { (s, d) =>
      graft.analytics.Graph.pagerank(
          knnEdges(s, d).select(col("vec_id").as("src"), col("nbr_id").as("dst")),
          iters = 3)
        .select(col("id").as("vec_id"), col("r").as("rank_micro"))
    },

    // Triangle census over the k-NN graph: per-node triangle count + local
    // clustering coefficient (community density vs hub detection) with
    // degree-ordered wedge orientation — the skew guard that keeps a
    // celebrity node from generating deg² wedges.
    "graph_triangles" -> { (s, d) =>
      graft.analytics.Graph.triangleCounts(
          knnEdges(s, d).select(col("vec_id").as("src"), col("nbr_id").as("dst")))
        .withColumnRenamed("id", "vec_id")
    },

    "sim_ann_lsh" -> { (s, d) =>
      val embs = t(s, d, "embeddings")
      val q = embs.orderBy("vec_id").limit(1).select(col("embedding").as("qvec"))
      Similarity.annTopK(embs, q, 10)
    },

    // IVF probe against the per-(session, dir) memoized index — built and
    // materialized ONCE; the probe's plan is joins against the cached
    // assignments/centroids with no k-means pass.
    // PQ/ADC top-k: the probe never reads the raw embedding column — the
    // corpus-sized input is the m-bytes-per-vector codes relation (the
    // memory plan that survives vectors 100× too big to scan per query)
    "sim_pq_topk" -> { (s, d) =>
      val embs = t(s, d, "embeddings")
      val q = embs.orderBy("vec_id").limit(1).select(col("embedding").as("qvec"))
      Similarity.pqTopK(pqIdx(s, d), q, 10)
    },

    "sim_ivf_topk" -> { (s, d) =>
      val embs = t(s, d, "embeddings")
      val q = embs.orderBy("vec_id").limit(1).select(col("embedding").as("qvec"))
      Similarity.ivfTopK(ivfIdx(s, d), embs, q, 10, nprobe = 4,
        idCol = "vec_id", vecCol = "embedding", scale = 6)
    },

    // Index-quality evaluation ("measure, don't guess" applied to the ANN
    // family): recall@10 of the IVF probe at a DELIBERATELY tight nprobe=2
    // against the brute-force top-10 — the number a pipeline watches when
    // tuning nprobe/kClusters. One row; both sides reuse the memoized index.
    "ann_recall_eval" -> { (s, d) =>
      val embs = t(s, d, "embeddings")
      val q = embs.orderBy("vec_id").limit(1).select(col("embedding").as("qvec"))
      val exact = Similarity.topK(embs, q, 10).select("vec_id")
      val approx = Similarity.ivfTopK(ivfIdx(s, d), embs, q, 10, nprobe = 2,
        idCol = "vec_id", vecCol = "embedding", scale = 6).select("vec_id")
      exact.join(approx, "vec_id")
        .agg(count(lit(1)).as("n_hits"))
        .select(col("n_hits"),
          (col("n_hits").cast("double") / lit(10)).as("recall_at_10"))
    },

    // The composed IVF-PQ probe: coarse centroids route to nprobe clusters,
    // the cluster-partitioned codes scan prunes to those partitions, and
    // ADC ranks m-byte codes — no raw vector and no corpus-sized scan
    // anywhere in the probe plan.
    "sim_ivfpq_topk" -> { (s, d) =>
      val embs = t(s, d, "embeddings")
      val q = embs.orderBy("vec_id").limit(1).select(col("embedding").as("qvec"))
      Similarity.ivfPqTopK(ivfPqIdx(s, d), q, 10, nprobe = 4)
    },

    // The quantized-code SEARCH path: cosine over int8 codes (scales
    // cancel), integer dots only — reads 1/4 the bytes of the float scan.
    "sim_topk_q8" -> { (s, d) =>
      val embs = t(s, d, "embeddings")
      val q = embs.orderBy("vec_id").limit(1)
        .select(graft.functions.native.int8quant(col("embedding")).as("qq"))
      Similarity.topKInt8(Similarity.quantizeInt8(embs), q, 10)
        .withColumnRenamed("id", "vec_id")
    },

    // Int8 vector quantization (posexploded to scalar rows for the gate —
    // the checker cannot sort array columns; the array surface is
    // spec-covered).
    "embed_quantize" -> ((s, d) =>
      Similarity.quantizeInt8(t(s, d, "embeddings"))
        .select(col("id"), col("scale"), posexplode(col("qvec")))
        .select(col("id"), col("pos").cast("long").as("pos"),
          col("col").as("q"), col("scale"))
        ),

    // JL random-sign projection to 8 dims — integer micro-unit sums make
    // the reduced vectors bit-identical to the BIGINT SQL replay.
    "embed_project" -> ((s, d) =>
      Similarity.randomProject(t(s, d, "embeddings"), outDim = 8)),

    // Exact covariance of the embedding corpus — PCA/whitening's
    // sufficient statistic: ONE wide aggregate of 10⁻³-quantized
    // component sums + upper-triangle second moments (order-invariant
    // integer sums, map-side combined), d²-bounded assembly driver-side.
    "embed_covariance" -> ((s, d) =>
      Similarity.covariance(t(s, d, "embeddings"))),

    // ---- 2.H text analysis ----
    "text_stats" -> ((s, d) =>
      TextStats.langStats(t(s, d, "documents"))),

    // Token Shannon entropy (bits) — the lexical-diversity quality signal;
    // order-free integer micro-bit sums from one doc-local native pass.
    "token_entropy" -> ((s, d) =>
      TextStats.tokenEntropy(t(s, d, "documents"))),

    // Vocabulary growth (Heaps' law readout) over 5-gram shingles: how
    // many DISTINCT shingles first appear in each tenth of the corpus —
    // flat late deciles mean a saturated/duplicative corpus, steep ones
    // mean genuinely novel data. One keyed min per shingle (map-side
    // combined) + a one-row broadcast of the id ceiling + a ten-group
    // count: two exchanges at any corpus size.
    "vocab_growth" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val firsts = docs
        .select(explode(Dedup.shingles(TextStats.tokens(col("text")), 5))
          .as("sh"), col("doc_id"))
        .groupBy("sh").agg(min("doc_id").as("first_doc"))
      val nd = docs.agg(max(col("doc_id")).as("max_id"))
      firsts.crossJoin(broadcast(nd))
        .groupBy(expr("first_doc * 10 DIV (max_id + 1)").as("decile"))
        .agg(count(lit(1)).as("n_new_shingles"))
        
    },

    // Per-doc novelty: fraction of a doc's distinct 5-gram shingles that
    // FIRST appear in it — the per-doc refinement of vocab_growth and the
    // crawl-source contribution signal. Novel counts come from the
    // vocabulary-sized firsts relation (one shingle-keyed exchange), the
    // denominator is doc-local, and the final join is doc ⋈ doc.
    "doc_novelty" -> ((s, d) =>
      graft.llm.Corpus.docNovelty(t(s, d, "documents"))),

    // Inverted index build: df + ascending posting list per term, one
    // keyed aggregate over per-doc-distinct (term, doc) pairs. The
    // posting list ships as a comma-joined STRING — the cross-engine
    // comparator sorts rows column-wise and cannot order array cells,
    // so no list-typed column may reach the gate.
    "inverted_index" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      graft.llm.Search.invertedIndex(t(s, d, "documents"))
        .select(col("term"), col("df"),
          array_join(transform(col("postings"), _.cast("string")), ",")
            .as("postings"))
    },

    // BM25 ranked retrieval: query terms filtered BEFORE any shuffle,
    // broadcast df + corpus scalars, micro-unit term scores, heap top-k.
    "bm25_topk" -> ((s, d) =>
      graft.llm.Search.bm25TopK(t(s, d, "documents"),
        Seq("spark", "window", "agg"), k = 10)),

    // HYBRID retrieval: reciprocal-rank fusion of the BM25 leg and the
    // dense cosine leg — the RAG-pipeline shape. The legs do the
    // corpus-sized work (each already scale-shaped); the fusion joins two
    // k-row relations. Rank-exact in both engines (micro-unit BM25,
    // 6-dp cosine, id tiebreaks), so the fused order replays in SQL.
    "hybrid_topk" -> { (s, d) =>
      val embs = t(s, d, "embeddings")
      val q = embs.orderBy("vec_id").limit(1).select(col("embedding").as("qvec"))
      graft.llm.Search.hybridTopK(t(s, d, "documents"), embs,
        Seq("spark", "window", "agg"), q, k = 10)
    },

    // Batch retrieval: a query RELATION scored in one pass — semi-join on
    // the union term set, broadcast fan-out to queries, per-query
    // WindowGroupLimit top-k on the exact integer micro-sums.
    "bm25_queries" -> { (s, d) =>
      import s.implicits._
      val qs = Seq((1L, "spark window agg"), (2L, "customer stream join"),
        (3L, "vector table scan"), (4L, "slow fast merge"),
        (5L, "data query the")).toDF("query_id", "qtext")
      graft.llm.Search.bm25ForQueries(t(s, d, "documents"), qs, k = 5)
    },

    // The SAME retrieval through the persisted bucket-partitioned index:
    // the probe's corpus-sized input is the postings layout with a
    // literal bucket partition filter — no corpus re-tokenize, no text
    // read. Identical arithmetic, so it shares bm25_queries' oracle.
    "bm25_index" -> { (s, d) =>
      import s.implicits._
      val qs = Seq((1L, "spark window agg"), (2L, "customer stream join"),
        (3L, "vector table scan"), (4L, "slow fast merge"),
        (5L, "data query the")).toDF("query_id", "qtext")
      graft.llm.Search.bm25Probe(bm25Idx(s, d), qs, k = 5)
    },

    // Incremental index maintenance: history index + one appended crawl
    // must probe exactly like the from-scratch rebuild — same layered
    // postings relation, additive corpus scalars, identical arithmetic,
    // so it shares bm25_queries' oracle verbatim.
    "bm25_index_append" -> { (s, d) =>
      import s.implicits._
      val qs = Seq((1L, "spark window agg"), (2L, "customer stream join"),
        (3L, "vector table scan"), (4L, "slow fast merge"),
        (5L, "data query the")).toDF("query_id", "qtext")
      graft.llm.Search.bm25Probe(bm25IncIdx(s, d), qs, k = 5)
    },

    // Hard-negative mining for retrieval training: top-k BM25 docs per
    // query that match SOME but not ALL query terms — high-scoring
    // partial matches (full matches are presumed positives, zero-term
    // docs never scored). Same scoring kernel as bm25_queries.
    "hard_negatives" -> { (s, d) =>
      import s.implicits._
      val qs = Seq((1L, "spark window agg"), (2L, "customer stream join"),
        (3L, "vector table scan"), (4L, "slow fast merge"),
        (5L, "data query the")).toDF("query_id", "qtext")
      graft.llm.Search.bm25HardNegatives(t(s, d, "documents"), qs, k = 5)
    },

    // C4-style blocklist gate: substring occurrences of any listed
    // pattern (overlapping counted, phrases cross word boundaries) via a
    // compiled Aho-Corasick automaton — ONE text pass however long the
    // list; kept = zero-tolerance budget. The oracle replays the same
    // start-position match semantics per pattern.
    "blocklist_filter" -> ((s, d) =>
      graft.llm.Blocklist.filter(t(s, d, "documents"), blocklistPatterns)),

    "lang_id" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"), TextStats.langId(col("text")).as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        ),

    "quality_score" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextStats.qualityScore(col("text")).as("quality"))
        ),

    // HTML → text extraction under the gate: every doc's text is wrapped
    // in genuine markup noise (script with a literal '<' inside, style
    // with a literal tag inside, a comment, entities including the
    // double-decode trap &amp;lt;) — the general rule chain must recover
    // exactly the visible text the oracle states from the formula.
    "html_extract" -> ((s, d) =>
      crawlHtml(s, d).select(col("doc_id"),
        graft.llm.Html.title(col("html")).as("title"),
        graft.llm.Html.extractText(col("html")).as("content"))
        ),

    // Link-graph extraction under the gate: anchors pulled from real
    // markup by the general href chain, hosts from the general URL rules,
    // aggregated to a (src_host, dst_host) edge relation — the crawl-graph
    // front door. Extraction rides the scan; ONE keyed aggregate total.
    "html_links" -> ((s, d) =>
      linkEdges(s, d)
        .groupBy("src_host", "dst_host")
        .agg(count(lit(1)).as("n_links"))
        ),

    // Anchor-text index: what OTHER pages call a link target — the
    // classic off-page relevance signal (anchor terms often describe the
    // target better than its own text). (href, term) pairs come from ONE
    // regex pass per anchor element (aligned by construction — zipping
    // two independent extractions misaligns on mixed markup); per-
    // (dst_host, term) counts, top-3 terms per host via one
    // WindowGroupLimit — no global sort.
    "anchor_terms" -> ((s, d) => {
      val pages = crawlHtmlLinks(s, d)
      val zipped = pages.select(explode(
        graft.llm.Html.anchorPairs(col("html"))).as("a"))
        .where(col("a.href") =!= "")
      val counts = zipped.select(
          graft.llm.Urls.host(col("a.href")).as("dst_host"),
          col("a.term").as("term"))
        .groupBy("dst_host", "term").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("dst_host").orderBy(col("n").desc, col("term"))
      counts.withColumn("_rk", row_number().over(w))
        .where(col("_rk") <= 3).drop("_rk")
        
    }),

    // PageRank over the EXTRACTED host graph — crawl HTML in, ranked
    // hosts out, through the same integer-exact PR kernel graph_pagerank
    // gates. Distinct host edges (a page linking a host twice is one
    // edge), string node ids.
    "link_pagerank" -> ((s, d) =>
      graft.analytics.Graph.pagerank(
          linkEdges(s, d).distinct()
            .select(col("src_host").as("src"), col("dst_host").as("dst")),
          iters = 3)
        .select(col("id").as("host"), col("r").as("rank_micro"))
        ),

    // Crawl-frontier scheduling: the composition a crawler's planner
    // runs — PageRank over the extracted host graph, joined with the
    // robots policy (odd-index hosts disallow) and current per-host
    // holdings, released as an integer priority (rank per doc already
    // held; zero when disallowed). Each leg is its own gated operator;
    // this gate pins the COMPOSITION.
    "frontier_rank" -> ((s, d) => {
      val ranks = graft.analytics.Graph.pagerank(
          linkEdges(s, d).distinct()
            .select(col("src_host").as("src"), col("dst_host").as("dst")),
          iters = 3)
        .select(col("id").as("host"), col("r").as("rank_micro"))
      val usage = t(s, d, "documents")
        .select(concat(lit("site"), (col("doc_id") % 50).cast("string"),
          lit(".example.com")).as("host"))
        .groupBy("host").agg(count(lit(1)).as("n_docs"))
      val hostIdx = regexp_extract(col("host"), "^site([0-9]+)\\.", 1)
        .cast("long")
      ranks.join(usage, Seq("host"), "left")
        .select(col("host"), col("rank_micro"),
          (hostIdx % 2 === 0).as("allowed"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .withColumn("priority_micro",
          when(col("allowed"),
            expr("rank_micro DIV (n_docs + 1)")).otherwise(lit(0L)))
        
    }),

    // URL canonicalization under the gate: four messy raw variants per
    // group (case, www, default port, dup/trailing slashes, tracking
    // params, fragments) — the GENERAL rule-chain canonicalizer must
    // collapse each to the one canonical form the oracle predicts from
    // the construction formula.
    "url_canonicalize" -> ((s, d) =>
      crawlUrls(s, d).select(col("doc_id"), col("url"),
        graft.llm.Urls.canonicalize(col("url")).as("canonical"))
        ),

    // URL dedup: canonical-form groups — the crawl-frontier primitive
    // (same page under URL noise = ONE fetch). Canonicalize riding the
    // scan, then a plain keyed aggregate on the canonical string.
    "dedup_url" -> ((s, d) =>
      crawlUrls(s, d)
        .select(col("doc_id"),
          graft.llm.Urls.canonicalize(col("url")).as("canonical"))
        .groupBy("canonical")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        ),

    // TRAINED language-ID: multinomial Naive Bayes fit on the even-id
    // half, scored over every doc — integer micro-unit log-probs end to
    // end, so the full train + predict loop replays hash-exact in the
    // oracle. Reads next to lang_id's heuristic confusion matrix.
    "langid_nb" -> ((s, d) =>
      graft.llm.NaiveBayes.confusion(t(s, d, "documents"))),

    // Gopher-style per-doc quality signals: n-gram repetition, mean word
    // length, symbol density — the cheap filters a pretraining pipeline
    // gates on. One shuffle-free columnar pass.
    "quality_signals" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextStats.repetitionScore(col("text")).as("rep3"),
        TextStats.meanWordLen(col("text")).as("mean_wlen"),
        TextStats.symbolRatio(col("text")).as("sym_ratio"))
        ),

    "repetition_stats" -> ((s, d) =>
      TextStats.repetitionStats(t(s, d, "documents"))),

    "gopher_filter" -> ((s, d) =>
      TextStats.gopherFilter(t(s, d, "documents"))),

    // Unicode script-mix detection under the gate: Latin docs salted with
    // formula-sized Cyrillic/Han/Arabic runs — the general per-script
    // counts and dominance argmax must land exactly where the oracle's
    // replay puts them. Four codegen'd regexp counts, shuffle-free.
    "script_detect" -> ((s, d) =>
      TextStats.scriptMix(crawlScripts(s, d))),

    // LINE-level language segmentation (the CCNet move: language-ID per
    // paragraph/line, not per document — a mixed-language doc routes each
    // segment to its own pipeline): the general langId heuristic applied
    // per constructed line, summarized as per-(doc, lang) line counts.
    // Explode + one keyed aggregate; the heuristic rides the scan.
    "lang_segments" -> ((s, d) =>
      crawlLines(s, d)
        .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
        .select(col("doc_id"), TextStats.langId(col("line")).as("pred_lang"))
        .groupBy("doc_id", "pred_lang").agg(count(lit(1)).as("n_lines"))
        ),

    // C4 line-structural filtering under the gate: the corpus sliced into
    // decorated lines (terminal punctuation by residue, lorem-ipsum
    // prefixes, code braces) — the general per-line rule chain must keep
    // exactly the lines the oracle's replay keeps and reassemble the same
    // clean_text. Doc-local higher-order expressions: one map stage at
    // any corpus size.
    "c4_filter" -> ((s, d) =>
      TextStats.c4Filter(crawlLines(s, d))),

    "fingerprint_winnow" -> ((s, d) =>
      Dedup.winnowFingerprints(t(s, d, "documents"))),

    "dedup_winnow" -> ((s, d) =>
      Dedup.winnowOverlap(t(s, d, "documents"))),

    "token_count" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_ws"),
        TextStats.alphaTokenCount(col("text")).as("n_alpha"),
        TextStats.bpeEstimate(col("text")).as("n_bpe"))
        ),

    // REAL BPE token counts under the fixed CoreEnglishMerges table (a
    // config artifact, like PSI's bin edges) — a native expression applying
    // Sennrich-style merges in rank order; the oracle replays the identical
    // leftmost fold per rank with a DuckDB list_reduce inside a recursive
    // CTE over the same literal merge table.
    "bpe_tokens" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        graft.functions.native.bpeCount(col("text"),
          graft.llm.Bpe.CoreEnglishMerges).as("n_bpe"))
        ),

    // The tokenizer's real OUTPUT: the merged symbol sequence per document
    // (posexploded to scalar rows for the gate). Counting proves length;
    // this pins every symbol at every position.
    "bpe_encode" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          posexplode(graft.functions.native.bpeTokens(col("text"),
            graft.llm.Bpe.CoreEnglishMerges)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("sym"))),

    // Tokenizer FERTILITY per language (subword tokens per whitespace
    // word) — the standard tokenizer-quality readout: a fertility ≫ 1 on
    // some language means the merge table under-serves it. Map-only per
    // doc (both counts are native-kernel array sizes), one keyed agg.
    "tokenizer_fertility" -> ((s, d) =>
      t(s, d, "documents").select(col("lang"),
          size(graft.functions.native.bpeTokens(col("text"),
            graft.llm.Bpe.CoreEnglishMerges)).cast("long").as("_sub"),
          size(TextStats.tokens(col("text"))).cast("long").as("_w"))
        .groupBy("lang")
        .agg(sum("_sub").as("n_subtokens"), sum("_w").as("n_words"))
        .select(col("lang"), col("n_subtokens"), col("n_words"),
          // zero-word guard: Spark's x/0 is NULL but DuckDB's is IEEE NaN
          // — gate the division so both engines release NULL
          when(col("n_words") > 0,
            graft.functions.Rounding.dround(
              col("n_subtokens").cast("double") / col("n_words"), 6))
            .as("fertility"))
        ),

    // BPE TRAINING oracle-gated end to end: learn 8 merges ON the corpus
    // (distributed word-frequency aggregate + the deterministic driver
    // merge loop — count DESC, pair ASC tie-break) and emit the merge
    // TABLE itself. The oracle replays all 8 rounds unrolled in SQL:
    // weighted adjacent-pair counts over the evolving symbolization, argmax
    // with the same tie-break, and the same leftmost-greedy merge fold.
    // ORACLE BOUND: the oracle trains over the FULL vocabulary, so the
    // gate passes an explicit vocabCap (2^22) far above any test corpus's
    // distinct-word count — the default 2^16 cap would silently diverge
    // from the (still-correct) implementation once the corpus outgrew it.
    "bpe_train" -> { (s, d) =>
      import s.implicits._
      graft.llm.Bpe.train(t(s, d, "documents"), numMerges = 8,
          vocabCap = 1 << 22)
        .zipWithIndex.map { case ((a, b), i) => (i + 1, a, b) }
        .toDF("rank", "a", "b")
    },

    // The SECOND real tokenizer design: unigram-LM (SentencePiece seed
    // form) — substring-frequency vocab trained ON the corpus (top-200 +
    // all single chars, integer micro-nat costs), then per doc the
    // Viterbi-optimal piece count and total cost. The combined
    // cost·2^20+pieces objective makes the optimum VALUE unique, so both
    // fields replay exactly — the oracle rebuilds the vocab with plain
    // aggregates and runs the DP as a recursive CTE over word positions.
    "unigram_encode" -> { (s, d) =>
      val v = unigramVocab(s, d)
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.native.unigramStats(col("text"), v).as("_u"))
        .select(col("doc_id"), col("_u.n_pieces").as("n_pieces"),
          col("_u.cost").as("cost"))
    },

    // The two tokenizer designs on the same quality readout: unigram-LM
    // pieces per whitespace word, per language (compare against
    // tokenizer_fertility's BPE column to pick a tokenizer per corpus).
    "unigram_fertility" -> { (s, d) =>
      val v = unigramVocab(s, d)
      t(s, d, "documents").select(col("lang"),
          graft.functions.native.unigramStats(col("text"), v)
            .getField("n_pieces").as("_p"),
          size(filter(split(col("text"), " "), w => w =!= ""))
            .cast("long").as("_w"))
        .groupBy("lang").agg(sum("_p").as("n_pieces"), sum("_w").as("n_words"))
        .select(col("lang"), col("n_pieces"), col("n_words"),
          when(col("n_words") > 0,
            graft.functions.Rounding.dround(
              col("n_pieces").cast("double") / col("n_words"), 6))
            .as("fertility"))
        
    },

    // Model-based quality scoring (hashed-BoW logistic classifier) under a
    // fixed literal model artifact — the oracle recomputes the identical
    // in-order fold, PolyHash feature index, sigmoid and 6-dp edge round.
    "quality_model" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        graft.llm.QualityModel.score(col("text"),
          graft.llm.QualityModel.CoreDemoModel).as("q_model"))
        ),

    // Calibration readout: model-score bins vs the heuristic quality rule
    // — does the learned score AGREE with the rules where they're
    // confident? One map pass + one keyed agg; per-bin means are summed as
    // exact micro-unit longs (the scores are already edge-rounded).
    "model_calibration" -> ((s, d) =>
      t(s, d, "documents").select(
          graft.llm.QualityModel.score(col("text"),
            graft.llm.QualityModel.CoreDemoModel).as("_qm"),
          TextStats.qualityScore(col("text")).as("_qh"))
        .select(
          least(lit(9L), floor(col("_qm") * 10).cast("long")).as("bin"),
          floor(col("_qm") * 1000000 + lit(0.5)).cast("long").as("_m"),
          floor(col("_qh") * 1000000 + lit(0.5)).cast("long").as("_h"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("_m").as("_sm"), sum("_h").as("_sh"))
        .select(col("bin"), col("n"),
          graft.functions.Rounding.dround(
            col("_sm").cast("double") / 1000000 / col("n"), 6).as("mean_model"),
          graft.functions.Rounding.dround(
            col("_sh").cast("double") / 1000000 / col("n"), 6).as("mean_heur"))
        ),

    // Classifier eval readout: accuracy / clamped log-loss / EXACT
    // ties-half AUC against the parity labels quality_train fits. The
    // corpus collapses to per-distinct-score label counts before the
    // (score-granularity-bounded) ranking window.
    "model_eval" -> ((s, d) =>
      graft.llm.QualityModel.evaluate(
        t(s, d, "documents").select(
          graft.llm.QualityModel.score(col("text"),
            graft.llm.QualityModel.CoreDemoModel).as("_s"),
          pmod(col("doc_id"), lit(2)).as("_y")),
        col("_s"), col("_y"))),

    // DISTRIBUTED TRAINING oracle-gated end to end: 3 epochs of full-batch
    // logistic gradient descent over the corpus (labels = doc_id parity),
    // emitting the learned weight TABLE. Works cross-engine because each
    // epoch's gradient is a sum of per-doc micro-unit integers (associative
    // — partition order can't change a bit) and every float step (in-order
    // feature fold, sigmoid, the weight update chain) is composed
    // identically in both engines; the oracle unrolls the three epochs as
    // a CTE chain over an evolving weight relation.
    // ORACLE BOUND: the oracle normalizes each gradient by count(*) of ALL
    // documents, so the gate passes an explicit sampleCap (2^24) far above
    // any test corpus — the default 100k cap would make min(N, cap) drift
    // from the oracle's N once the corpus outgrew it.
    "quality_train" -> { (s, d) =>
      import s.implicits._
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"),
        (col("doc_id") % 2).cast("double").as("label"))
      val m = graft.llm.QualityModel.trainDistributed(docs,
        dim = 32, epochs = 3, lr = 0.5, sampleCap = 1 << 24)
      (m.weights.zipWithIndex.map { case (w, i) => (i, w) } :+ ((-1, m.bias)))
        .toSeq.toDF("idx", "w")
        .select(col("idx"),
          graft.functions.Rounding.dround(col("w"), 6).as("w"))
    },

    // N-gram LM perplexity filtering (CCNet recipe, stupid backoff): train
    // the bigram model ON the corpus and score every document under it —
    // the model is a joined relation, never a broadcast requirement.
    "lm_score" -> ((s, d) =>
      graft.llm.NgramLm.score(t(s, d, "documents"), lmModel(s, d, 2),
        "text", "doc_id", 2, 0.4)),

    // Order-3 variant of lm_score: proves the scorer is order-general (the
    // trigram → bigram → unigram backoff chain with alpha¹/alpha² drops),
    // and exercises the folded single-scan position relation at n > 2.
    "lm_score_tri" -> ((s, d) =>
      graft.llm.NgramLm.score(t(s, d, "documents"), lmModel(s, d, 3),
        "text", "doc_id", 3, 0.4)),

    // DSIR-style data selection (Xie et al. 2023, LM form): per doc, the
    // mean per-token log-likelihood gap between the TARGET-domain model
    // (trained on the English slice) and the raw-corpus model — positive
    // ⇒ more target-like than background, the up-weighting statistic a
    // target-flavoured mix uses. Both scores are the exact micro-unit
    // machinery, so the gap replays exactly.
    "dsir_weights" -> ((s, d) =>
      graft.llm.NgramLm.dsirWeights(t(s, d, "documents"),
        lmTargetModel(s, d), lmModel(s, d, 2), "text", "doc_id", 2, 0.4)),

    // CCNet's actual consumption of the LM score: the head/middle/tail
    // corpus split on perplexity terciles (exactNtile — no global window).
    "perplexity_buckets" -> ((s, d) =>
      graft.llm.NgramLm.perplexityBuckets(
        graft.llm.NgramLm.score(t(s, d, "documents"), lmModel(s, d, 2),
          "text", "doc_id", 2, 0.4))),

    // PII scrub over deterministic synthesized contact strings (the corpus
    // itself is PII-free, so the query plants an email/IP/phone per doc and
    // proves the redaction end-to-end, cross-engine).
    "pii_redact" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextStats.redactPii(concat(
          lit("user"), col("doc_id"), lit("@"), col("source"),
          lit(".com from 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 call +1 415 555 01"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          lit(" - "), substring(col("text"), 1, 80))).as("redacted"))
        ),

    // Text normalization: the cheap cleanup pass every corpus pipeline runs
    // before dedup/tokenization (case-fold, squeeze whitespace, strip
    // non-alphanumerics).
    // Crawl-over-crawl snapshot diff: per-doc added/removed/changed/
    // unchanged between two deterministic snapshot views of the corpus
    // (prev drops ids %10=0, cur drops %13=0 and re-fetches %7=0 with
    // changed text). One full-outer id join over 32-byte content hashes;
    // the oracle restates the statuses from the construction formulas —
    // the Spark side earns them by hashing and joining.
    "corpus_diff" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val prev = docs.where(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), col("text"))
      val cur = docs.where(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" refetched")))
            .otherwise(col("text")).as("text"))
      graft.llm.Corpus.snapshotDiff(prev, cur)
    },

    "text_normalize" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " ").as("norm_text"))
        ),

    // TF-IDF: explode → tf per (doc,term) → df per term → smoothed idf →
    // top-3 terms per doc. The full multi-stage corpus pipeline in one
    // query; every shuffle is keyed on (doc,term), term, or doc.
    "tfidf_top_terms" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      // df via a map-side-combined aggregate + join, NOT a
      // Window.partitionBy(term) count — the window form ships every tf
      // row of a term into one partition (a skew bomb for stopword terms
      // at corpus scale), where the agg shuffles one row per term per
      // task. tf is NOT checkpointed: it is corpus-sized (unlike bm25's
      // query-filtered tf), so re-running the cheap scan for the df
      // aggregate beats materializing a corpus-sized intermediate.
      val tf = docs.select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val wDoc = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      // df_ is vocab-sized — broadcast it so the corpus-sized tf relation
      // never pays a by-term exchange for this join (guide §3.1)
      tf.join(broadcast(df_), "term")
        .crossJoin(broadcast(n))
        .withColumn("score",
          graft.functions.Rounding.dround(col("tf") * log((col("n_docs") + 1) / (col("df") + 1)), 6))
        .withColumn("rn", row_number().over(wDoc)).where(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("score"))
    },

    // Sequential conversion funnel: first view → first click at-or-after it
    // → first purchase at-or-after that, counted per stage. ONE user-keyed
    // window pass: running min of view-ms / qualifying-click-ms per row
    // (both windows share the (user, (ms, stage)) sort — one exchange, one
    // sort), then per-user flags on the SAME partitioning and a one-row
    // global sum. The previous 3-aggregate + 2-join chain cost five
    // exchanges; at 100 TB this shuffles the filtered event log once.
    // Ties: a click at the same ms as the first view qualifies (>=), so
    // the sort breaks ties by stage — view before click before purchase.
    "funnel" -> { (s, d) =>
      val stage = when(col("event_type") === "view", 0)
        .when(col("event_type") === "click", 1).otherwise(2)
      val e = t(s, d, "events")
        .where(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), stage.as("stage"),
          unix_millis(col("ts")).as("ms"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ms"), col("stage"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      // v_run non-null at a row ⟺ a view happened at-or-before it; a click
      // there IS a qualifying click (ms >= first view by construction)
      val step1 = e.withColumn("v_run",
        min(when(col("stage") === 0, col("ms"))).over(w))
      val step2 = step1.withColumn("c_run",
        min(when(col("stage") === 1 && col("v_run").isNotNull, col("ms"))).over(w))
      step2.groupBy("user_id").agg(
          max(col("v_run").isNotNull).as("viewed"),
          max(col("c_run").isNotNull).as("clicked"),
          max(col("stage") === 2 && col("c_run").isNotNull).as("purchased"))
        .agg(sum(when(col("viewed"), 1L).otherwise(0L)).as("n_viewed"),
          sum(when(col("clicked"), 1L).otherwise(0L)).as("n_clicked"),
          sum(when(col("purchased"), 1L).otherwise(0L)).as("n_purchased"))
    },

    // Retention cohorts: users grouped by first-active day, distinct active
    // users per (cohort, day offset). Two keyed aggregates + one keyed join.
    "retention_cohorts" -> { (s, d) =>
      val days = t(s, d, "events").select(col("user_id"),
        unix_millis(date_trunc("day", col("ts"))).as("day_ms")).distinct()
      val cohorts = days.groupBy("user_id").agg(min("day_ms").as("cohort_ms"))
      days.join(cohorts, "user_id")
        .groupBy(col("cohort_ms"),
          ((col("day_ms") - col("cohort_ms")) / 86400000L).cast("long").as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
    },

    // EXISTS / semi-join shape: orders containing a high-value item.
    "exists_semi_join" -> { (s, d) =>
      val o = t(s, d, "orders")
      val li = t(s, d, "lineitem").where(col("l_extendedprice") > 90000)
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
    },

    // Corpus-wide token frequency (the explode+count shape; top 50).
    "word_freq" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(TextStats.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(50)),

    // Adjacent-bigram PMI collocations: corpus association mining (the
    // word2vec phrase-detection front-end) — per-row bigram zip, two keyed
    // counts, word-keyed join back, counts cast to double BEFORE the
    // product so the formula survives web-scale counts (and matches the
    // oracle bitwise).
    "pmi_pairs" -> ((s, d) =>
      TextStats.pmiPairs(t(s, d, "documents"), minCount = 5, topN = 50)),

    "doc_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextStats.fingerprint("text").as("fp"))
        ),

    // Smoothed target encoding (category mean shrunk toward the global
    // mean): the leakage-resistant categorical feature, cents-exact sums.
    "target_encode" -> { (s, d) =>
      val df = t(s, d, "orders").join(t(s, d, "customer"),
        col("o_custkey") === col("c_custkey"))
      graft.analytics.Features.targetEncode(df, "c_mktsegment",
          col("o_totalprice"))
        
    },

    // Exact two-sample KS drift: max CDF gap between English and
    // non-English doc-length distributions + where it occurs — the
    // binning-free companion to drift_psi.
    "drift_ks" -> { (s, d) =>
      val docs = t(s, d, "documents")
      graft.profile.Psi.ksStatistic(
          docs.where(col("lang") === "en"),
          docs.where(col("lang") =!= "en"),
          col("n_chars"))
        .select(col("ks"), col("at_value").cast("long").as("at_value"))
    },

    // ε-DP noisy per-source counts (discrete Laplace, difference of
    // geometrics): the privacy-preserving release of corpus composition.
    // Seeded draw = the sampler family's testability convention.
    "dp_counts" -> ((s, d) =>
      graft.analytics.Privacy.dpCounts(t(s, d, "documents"), "source")
        ),

    // ε-DP noisy histogram: every bin of the fixed binning released —
    // empty bins included (suppressing them leaks emptiness) — with the
    // same seeded discrete-Laplace draw keyed on the bin index.
    // ε-DP median via the EXPONENTIAL mechanism (Gumbel-max over the bin
    // spine) — the family's first non-additive-noise release: one
    // mechanism invocation per group, candidate utilities in exact
    // integers, the winner selected by a seeded deterministic draw.
    "dp_quantile" -> ((s, d) =>
      graft.analytics.Privacy.dpQuantile(t(s, d, "events"), "event_type",
        col("value"), q = 0.5, lo = 0.0, hi = 500.0)
        ),

    "dp_histogram" -> ((s, d) =>
      graft.analytics.Privacy.dpHistogram(t(s, d, "events"), col("value"),
          lo = 0.0, hi = 500.0, nBins = 10)
        ),

    // k-anonymity audit over the (lang, source) quasi-identifiers: the
    // release gate before any extract publication — one keyed count plus
    // a group-cardinality aggregate.
    "k_anonymity" -> ((s, d) =>
      graft.analytics.Privacy.kAnonymity(t(s, d, "documents"),
        Seq("lang", "source"), k = 40)),

    // l-diversity audit: k-anonymity's companion — a k-anonymous group
    // with a constant sensitive attribute still leaks it (homogeneity
    // attack); every quasi group must carry >= l distinct sensitive values.
    "l_diversity" -> ((s, d) =>
      graft.analytics.Privacy.lDiversity(t(s, d, "documents"),
        Seq("source"), "lang", l = 4)),

    // ε-DP top-k source selection by the PEELING exponential mechanism:
    // three Gumbel-max rounds, winner removed between rounds, ordered
    // selection released without counts. Seeded draws → the oracle
    // replays all three rounds exactly.
    "dp_topk" -> ((s, d) =>
      graft.analytics.Privacy.dpTopK(t(s, d, "documents"), "source", k = 3)
        ),

    // t-closeness — the anonymity triad's third audit (skewness attack):
    // each source's language distribution must sit within total-variation
    // distance t of the corpus-wide one. Integer terms on the common
    // denominator, one rounded division per group.
    "t_closeness" -> ((s, d) =>
      graft.analytics.Privacy.tCloseness(t(s, d, "documents"),
        Seq("source"), "lang", t = 0.15)),

    // k-anonymity REMEDIATION closing the audit loop: walk a
    // generalization ladder — (lang, source) → (lang, *) → (*, *) — and
    // release the first level where every quasi group reaches k = 40.
    // Level 0 violates (singleton (lang, source) cells exist) and level 1
    // satisfies, so the released groups are the per-lang counts with
    // source suppressed; the oracle replays the ladder walk in SQL.
    "k_generalize" -> { (s, d) =>
      import graft.analytics.Privacy.GenLevel
      graft.analytics.Privacy.generalizeUntilK(t(s, d, "documents"),
        Seq(
          GenLevel(0, Seq("lang" -> col("lang"), "source" -> col("source"))),
          GenLevel(1, Seq("lang" -> col("lang"), "source" -> lit("*"))),
          GenLevel(2, Seq("lang" -> lit("*"), "source" -> lit("*")))),
        k = 40)
    },

    // ε-DP per-group mean (clamp-and-split: ε/2 on the bounded sum, ε/2
    // on the count) — completing the DP release family beside the count
    // and histogram mechanisms.
    "dp_mean" -> ((s, d) =>
      graft.analytics.Privacy.dpMean(t(s, d, "events"), col("value"),
          "event_type", lo = 0.0, hi = 500.0)
        ),

    // Deterministic train/valid/test split: the label is a pure function
    // of the id (stable under corpus growth — eval docs can never drift
    // into train), aggregated per (split, source) to expose balance.
    "corpus_split" -> ((s, d) =>
      graft.llm.Corpus.splitAssign(t(s, d, "documents"),
          Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        ),

    // Deterministic 10% hash sample: reproducible across runs/engines/
    // partitionings, unlike rand()-based sampling.
    "sample_hash" -> ((s, d) =>
      graft.llm.Corpus.sampleHash(t(s, d, "documents"), 0.1)
        .select("doc_id", "source", "lang")),

    // Quality-proportional sample: each doc kept with probability equal to
    // its own quality score — same deterministic hash-draw contract as
    // sample_hash, weight supplied per row. Pure filter, no shuffle.
    "sample_weighted" -> { (s, d) =>
      val docs = t(s, d, "documents")
        .withColumn("quality", TextStats.qualityScore(col("text")))
      graft.llm.Corpus.sampleWeighted(docs, col("quality"))
        .select("doc_id", "lang", "quality")
    },

    // Global "best N tokens" corpus cut: cumulative token mass in
    // (quality DESC, id) order, decomposed into per-score-bucket totals +
    // a keyed within-bucket window — never a single global sort partition.
    "corpus_budget" -> ((s, d) =>
      graft.llm.Corpus.selectBudget(t(s, d, "documents"), budget = 20000L,
        score = TextStats.qualityScore(col("text")),
        tokens = TextStats.tokenCount(col("text")))),

    // Weighted training mix: per-source keep rates as a pure deterministic
    // filter (sources without a rate drop out).
    "corpus_mix" -> ((s, d) =>
      graft.llm.Corpus.mixWeighted(t(s, d, "documents"),
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25))
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        ),

    // Temperature-scaled mixing rates (p_s ∝ n_s^0.7 against a token
    // budget) — the solver that PRODUCES mixWeighted's rate table.
    "corpus_mix_rates" -> ((s, d) =>
      graft.llm.Corpus.mixRates(t(s, d, "documents"),
        tokens = TextStats.tokenCount(col("text")), budget = 30000L)),

    // Sequence packing: per-lang greedy token-budget bins via two-level
    // (lang, hash-shard) windows + broadcast shard offsets — a one-language
    // corpus still packs nShards-parallel, never one global sort task.
    "pack_sequences" -> ((s, d) =>
      graft.llm.Corpus.packSequences(t(s, d, "documents"), budget = 512)
        ),

    // The packed-sequence MATERIALIZATION: each (lang, bin)'s documents
    // concatenated in id order with an <eos> separator — the artifact a
    // trainer actually reads. Per-bin state is budget-bounded.
    "pack_concat" -> ((s, d) =>
      graft.llm.Corpus.packConcat(t(s, d, "documents"), budget = 512)),

    // Per-SOURCE curation scoreboard: gopher keep rate + mean heuristic
    // quality per crawl source — the table that sets per-source dedup and
    // filter priorities (and exposes a junk domain at a glance). Quality
    // rides as exact 1e-4 units so the per-source mean is order-invariant.
    "source_scoreboard" -> { (s, d) =>
      // quality precomputes as a column BEFORE the filter and rides
      // keepCols through it: ONE corpus projection, zero joins
      val docs = t(s, d, "documents").withColumn("_q",
        floor(TextStats.qualityScore(col("text")) * 10000 + 0.5)
          .cast("long"))
      TextStats.gopherFilter(docs, keepCols = Seq("source", "_q"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("kept").as("n_kept"),
          sum("_q").as("_qs"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          graft.functions.Rounding.dround(
            col("n_kept").cast("double") / col("n_docs"), 6).as("keep_rate"),
          graft.functions.Rounding.dround(
            col("_qs").cast("double") / 10000 / col("n_docs"), 6)
            .as("mean_quality"))
        
    },

    // Packing-efficiency readout: per language, how full the context bins
    // actually are (mean fill vs the 512 budget, emptiest/fullest bin) —
    // the utilization number that decides whether the packer or the
    // chunker needs tuning. Two keyed aggregates over the bin relation.
    "pack_efficiency" -> ((s, d) =>
      graft.llm.Corpus.packSequences(t(s, d, "documents"), budget = 512)
        .groupBy("lang", "bin").agg(sum("n_tok").as("_bt"))
        .groupBy("lang").agg(
          count(lit(1)).as("n_bins"),
          sum("_bt").as("total_tok"),
          min("_bt").as("min_bin_tok"),
          max("_bt").as("max_bin_tok"))
        .select(col("lang"), col("n_bins"), col("total_tok"),
          col("min_bin_tok"), col("max_bin_tok"),
          graft.functions.Rounding.dround(
            col("total_tok").cast("double") / col("n_bins") / 512, 6)
            .as("mean_fill"))
        ),

    // Overlapping token-window chunking (RAG / context-window prep): pure
    // per-row explode, chunk identity = (doc, ordinal) — deterministic
    // under any partitioning, no shuffle anywhere.
    "chunk_documents" -> ((s, d) =>
      graft.llm.Corpus.chunkDocuments(t(s, d, "documents"),
        window = 40, stride = 32)),

    // Balanced per-stratum sample: 20 docs per lang, hash-ranked. The
    // row_number<=n filter plans as WindowGroupLimit — each task keeps its
    // local top-n per stratum before the exchange.
    "sample_stratified" -> ((s, d) =>
      graft.llm.Corpus.sampleStratified(t(s, d, "documents"), n = 20)
        .select("lang", "doc_id")),

    // Per-group top-k (top-3 longest docs per language): the rank window is
    // keyed by the group and the rank filter plans as WindowGroupLimit, so
    // no group's full row set is sorted globally and the shuffle carries at
    // most k rows per (group, map task).
    "topk_per_group" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, d, "documents")
        .withColumn("_rn", row_number().over(w)) // filter on the RAW rank
        .where(col("_rn") <= 3) // attr — a cast here would defeat the
        .select(col("lang"), col("doc_id"), col("n_chars"), // group-limit
          col("_rn").cast("long").as("rn")) // inference rule
    },

    // Per-registrable-domain quota — the crawl-diversity cap: each site
    // keeps its best 3 docs by quality (ties to the lower id). URLs are
    // synthesized per 5-doc site groups across three suffix classes so
    // the Spark side must EARN the site key through the full
    // registrableDomain rule chain (www/userinfo/port strip, case fold,
    // deep subdomains, a multi-part public suffix), while every 4th group
    // is URL-less and bypasses the cap per-doc. The oracle states the
    // domain from the construction formula and replays the ranked window.
    "domain_quota" -> { (s, d) =>
      val g = floor(col("doc_id") / 5).cast("long")
      val url = when(g % 4 === 0, concat(lit("http://www.site"),
          g.cast("string"), lit(".com/a?id="), col("doc_id").cast("string")))
        .when(g % 4 === 1, concat(lit("https://u:p@blog"),
          g.cast("string"), lit(".co.uk:443/p")))
        .when(g % 4 === 2, concat(lit("HTTP://cdn.static.News"),
          g.cast("string"), lit(".ORG/x")))
        .otherwise(lit(null).cast("string"))
      graft.llm.Corpus.domainQuota(
          t(s, d, "documents").withColumn("url", url), quota = 3,
          score = TextStats.qualityScore(col("text")))
        
    },

    // WARC scan: the crawl-archive container read end to end — the memo
    // writes documents as REAL byte-counted WARC response records (one
    // file per partition, payloads containing a newline), the gate walks
    // the records back out at byte offsets. One task per archive file —
    // the 100 TB crawl-archive sharding.
    "scan_warc" -> ((s, d) =>
      graft.etl.Sources.readWarc(s, warcDir(s, d))),

    // Gzipped WARC with captured-HTTP payloads — the Common Crawl
    // container verbatim: per-file gzip member streams (the reader
    // resyncs members, so per-record-member archives read identically)
    // and application/http records whose Content-Length spans status
    // line + headers + blank + body. Same archived relation as
    // scan_warc; the Spark side must EARN it back through inflate + the
    // byte-offset walk + the HTTP header skip.
    "scan_warc_gz" -> ((s, d) =>
      graft.etl.Sources.readWarc(s, warcGzDir(s, d))),

    // robots.txt policy: each 4-doc site publishes a robots body with a
    // nested allow-inside-disallow pair, odd sites prepending a `bot`
    // group that must NOT apply to `*` — the Spark side must EARN every
    // verdict through the real group/run parse and the RFC 9309
    // longest-match rank, while the oracle states the decisions straight
    // from the construction formula.
    "robots_filter" -> { (s, d) =>
      val g = floor(col("doc_id") / 4).cast("long")
      val dom = concat(lit("site"), g.cast("string"), lit(".com"))
      val botGroup = when(g % 2 === 1,
        lit("User-agent: bot\nDisallow: /\n\n")).otherwise(lit(""))
      val robots = concat(botGroup, lit("User-agent: *\n" +
        "Disallow: /private # keep drafts out\nAllow: /private/ok\n" +
        "Disallow: /tmp\n"))
      val path = when(col("doc_id") % 4 === 0, lit("/a/x"))
        .when(col("doc_id") % 4 === 1, lit("/private/x"))
        .when(col("doc_id") % 4 === 2, lit("/private/ok/y"))
        .otherwise(lit("/tmp/z"))
      val docs = t(s, d, "documents").select(col("doc_id"),
        concat(lit("http://"), dom, path).as("url"))
      val rules = graft.llm.Robots.parseRobots(
        t(s, d, "documents").where(col("doc_id") % 4 === 0)
          .select(dom.as("domain"), robots.as("robots")))
      graft.llm.Robots.decide(docs, rules)
        .select("doc_id", "url", "allowed")
    },

    // Deterministic Agrawal load corpus (reference locustfile's
    // synth.Agrawal(seed=1729) analog): partition-parallel, pure column
    // arithmetic, engine-reproducible.
    "gen_agrawal" -> ((s, _) =>
      graft.etl.Synthetic.agrawal(s, 1000)),

    // ---- 2.H multimodal ----
    // Cross-modal referential integrity — the first audit a paired
    // image/text (or doc/embedding) corpus needs: which documents lack a
    // vector, which vectors are orphaned, how many align. One full-outer
    // keyed join + a one-row aggregate; at 100 TB both sides shuffle once
    // on the id.
    "modality_coverage" -> { (s, d) =>
      val docs = t(s, d, "documents").select(col("doc_id").as("id"))
      val vecs = t(s, d, "embeddings").select(col("vec_id").as("id"))
        .withColumn("_v", lit(1))
      docs.withColumn("_d", lit(1))
        .join(vecs, Seq("id"), "full_outer")
        .agg(
          sum(when(col("_d").isNotNull && col("_v").isNotNull, 1L)
            .otherwise(0L)).as("n_paired"),
          sum(when(col("_v").isNull, 1L).otherwise(0L)).as("n_docs_only"),
          sum(when(col("_d").isNull, 1L).otherwise(0L)).as("n_vecs_only"))
    },

    "multimodal_meta" -> ((s, d) =>
      Multimodal.decodeMeta(Multimodal.asBinary(t(s, d, "documents")))
        ),

    // The typed mapPartitions decode path (binary payload → frame rows) —
    // frame indices are deterministic (one frame per started 1000 bytes), so
    // even the imperative decode boundary is oracle-checked.
    "multimodal_frames" -> ((s, d) =>
      Multimodal.decodeFrames(s, Multimodal.asBinary(t(s, d, "documents")),
          Multimodal.fakeFrameDecoder)
        .select(col("media_id"), col("frame_idx"))
        ),

    // REAL header decode, end-to-end: each doc synthesizes a valid PNG
    // (signature + IHDR), JPEG (SOI + variable-length COM pad + SOF0),
    // or GIF (signature + LITTLE-endian logical screen descriptor) byte
    // stream whose dimensions derive from doc_id; the ImageMeta native
    // expression then parses the dimensions back OUT of the bytes
    // (big-endian IHDR reads / a genuine marker walk whose SOF offset
    // varies with the pad / the GIF byte swap). The oracle recomputes
    // the dims from the construction formula — parse∘construct must be
    // the identity, so any arithmetic slip in the byte walk hash-fails.
    "multimodal_decode" -> { (s, d) =>
      val w = (lit(64) + col("doc_id") % 512).cast("int")
      val h = (lit(48) + col("doc_id") % 256).cast("int")
      val pngHex = concat(lit("89504E470D0A1A0A0000000D49484452"),
        lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"), lit("0806000000"))
      val jpgHex = concat(lit("FFD8FFFE"),
        lpad(hex((col("doc_id") % 32) + 2), 4, "0"),
        expr("repeat('00', cast(doc_id % 32 as int))"),
        lit("FFC0001108"), lpad(hex(h), 4, "0"), lpad(hex(w), 4, "0"),
        lit("03011100021101031101FFD9"))
      // GIF logical screen descriptor carries w/h LITTLE-endian — the
      // parser must byte-swap where PNG/JPEG read big-endian
      val gifHex = concat(lit("474946383961"),
        lpad(hex(w % 256), 2, "0"), lpad(hex(floor(w / 256).cast("int")), 2, "0"),
        lpad(hex(h % 256), 2, "0"), lpad(hex(floor(h / 256).cast("int")), 2, "0"),
        lit("F70000"))
      val payload = unhex(when(col("doc_id") % 3 === 0, pngHex)
        .when(col("doc_id") % 3 === 1, jpgHex).otherwise(gifHex))
      val m = graft.functions.native.imageMeta(payload)
      t(s, d, "documents").select(col("doc_id"),
        m.getField("format").as("format"),
        m.getField("width").as("width"),
        m.getField("height").as("height"))
    },

    // REAL pixel decode, end-to-end: each doc synthesizes a genuine PNG
    // (zlib-deflated IDAT, CRC'd chunks, all five scanline filters cycled
    // by row) whose pixel pattern derives from doc_id; PngPixelStats then
    // inflates, defilters, and sums the raster. The oracle states the
    // expected sums straight from the pattern formula — decode∘encode
    // must be the identity, so any inflate/predictor slip hash-fails.
    "multimodal_pixels" -> { (s, d) =>
      val w = (lit(16) + col("doc_id") % 16).cast("int")
      val h = (lit(8) + col("doc_id") % 8).cast("int")
      val v = (col("doc_id") % 256).cast("int")
      val st = graft.functions.native.pngPixelStats(
        graft.functions.native.syntheticPng(w, h, v))
      t(s, d, "documents").select(col("doc_id"),
        st.getField("width").as("width"),
        st.getField("height").as("height"),
        st.getField("channels").as("channels"),
        st.getField("sum_r").as("sum_r"),
        st.getField("sum_g").as("sum_g"),
        st.getField("sum_b").as("sum_b"))
    },

    // REAL GIF decode, end-to-end: each doc synthesizes a genuine GIF89a
    // (256-entry palette, LZW-compressed index stream crossing code
    // widths) whose pattern derives from doc_id; GifPixelStats then
    // LZW-decodes, resolves the palette, and sums the raster. Same
    // pattern formula as the PNG gate, under a DIFFERENT (LZW)
    // compression family — GIF is lossless, so the full decode∘encode
    // identity sits under the hash-exact oracle.
    "multimodal_gif" -> { (s, d) =>
      val w = (lit(16) + col("doc_id") % 16).cast("int")
      val h = (lit(8) + col("doc_id") % 8).cast("int")
      val v = (col("doc_id") % 256).cast("int")
      val st = graft.functions.native.gifPixelStats(
        graft.functions.native.syntheticGif(w, h, v))
      t(s, d, "documents").select(col("doc_id"),
        st.getField("width").as("width"),
        st.getField("height").as("height"),
        st.getField("sum_r").as("sum_r"),
        st.getField("sum_g").as("sum_g"),
        st.getField("sum_b").as("sum_b"))
    },

    // Animated-GIF frame table under the gate: each doc synthesizes a
    // real multi-frame GIF (2-4 frames, per-frame LZW streams); the
    // typed mapPartitions decode boundary walks every frame and releases
    // integer-exact per-frame channel sums the oracle replays from the
    // formula — the GIF leg of the clip/frame family.
    "multimodal_gif_frames" -> { (s, d) =>
      val w = (lit(16) + col("doc_id") % 16).cast("int")
      val h = (lit(8) + col("doc_id") % 8).cast("int")
      val nf = (lit(2) + col("doc_id") % 3).cast("int")
      val v = (col("doc_id") % 256).cast("int")
      val media = t(s, d, "documents").select(col("doc_id").as("media_id"),
        graft.functions.native.syntheticGifAnim(w, h, nf, v).as("content"))
      Multimodal.decodeFrames(s, media, Multimodal.gifFrameSums)
        .select(col("media_id"),
          element_at(col("features"), 1).cast("int").as("frame_idx"),
          element_at(col("features"), 2).cast("int").as("width"),
          element_at(col("features"), 3).cast("int").as("height"),
          element_at(col("features"), 4).cast("long").as("sum_r"),
          element_at(col("features"), 5).cast("long").as("sum_g"),
          element_at(col("features"), 6).cast("long").as("sum_b"))
    },

    // REAL audio decode, end-to-end: each doc synthesizes a genuine
    // RIFF/WAVE 16-bit PCM clip whose sample formula derives from doc_id;
    // WavAudioStats walks the chunk layout, reads the s16le samples, and
    // releases integer-exact clip statistics (energy, zero crossings,
    // peak). The oracle recomputes them from the formula alone.
    "multimodal_audio" -> { (s, d) =>
      val n = (lit(256) + col("doc_id") % 256).cast("int")
      val v = (col("doc_id") % 1000).cast("long")
      val st = graft.functions.native.wavAudioStats(
        graft.functions.native.syntheticWav(n, v))
      t(s, d, "documents").select(col("doc_id"),
        st.getField("sample_rate").as("sample_rate"),
        st.getField("channels").as("channels"),
        st.getField("n_samples").as("n_samples"),
        st.getField("sum_sq").as("sum_sq"),
        st.getField("n_zero_cross").as("n_zero_cross"),
        st.getField("peak").as("peak"))
    },

    // AUDIO near-dup, end-to-end real: clips synthesize genuine WAVs whose
    // sample phase derives from their GROUP id and whose length varies per
    // doc — the real PCM decode feeds per-window content hashes, shared
    // windows pair the clips (re-uploads / sampled loops). The oracle
    // derives which windows MUST decode identically straight from the
    // sample formula; the Spark side earns the pairs by decoding.
    "dedup_audio" -> { (s, d) =>
      val n = (lit(256) + (col("doc_id") % 4) * 128).cast("int")
      val v = floor(col("doc_id") / 4).cast("long") % 1000
      val media = t(s, d, "documents").select(col("doc_id").as("media_id"),
        graft.functions.native.syntheticWav(n, v).as("content"))
      Multimodal.audioDupPairs(media)
    },

    // CLIP near-dup by per-frame DCT pHash, end-to-end real: each group
    // is ONE animation re-uploaded at four exposures and lengths — every
    // pixel of every frame differs across a group, so the exact-raster
    // leg (dedup_clips) is blind, but each sampled frame's DCT hash is
    // exactly brightness-invariant and the clips collide frame-for-frame.
    // Frames are native 32×32 — the binning grid itself: a sub-32 raster
    // occupies only part of the grid, the shift stops being uniform over
    // it, and the zero-row-sum invariance breaks (measured: frame-2
    // hashes diverged across shifts on 16×16 frames).
    "dedup_clips_phash" -> { (s, d) =>
      val g = floor(col("doc_id") / 4).cast("long")
      val nf = (lit(2) + col("doc_id") % 4).cast("int")
      val sh = ((col("doc_id") % 4) * 17).cast("int")
      val media = t(s, d, "documents").select(col("doc_id").as("media_id"),
        graft.functions.native.syntheticApngGrad(32, 32, nf, g, sh)
          .as("content"))
      Multimodal.clipDupPairsDct(media)
    },

    // AUDIO near-dup by SPECTRAL fingerprint, end-to-end real: each group
    // is ONE waveform rendered at four integer GAINS and lengths — every
    // PCM byte differs across a group, so the content-hash leg
    // (dedup_audio) is blind to these pairs, but the integer-DFT peak
    // constellation is EXACTLY gain-invariant (mag² scales by m², every
    // argmax holds), so the group collides on its full landmark prefix.
    // The oracle replays the DFT from the sample formula and the shared
    // 64-entry literal table, peak argmax, shingle fold, df guard, pairs.
    "dedup_audio_spectral" -> { (s, d) =>
      val n = (lit(256) + (col("doc_id") % 4) * 128).cast("int")
      val v = floor(col("doc_id") / 4).cast("long") % 1000
      val g = (lit(1) + col("doc_id") % 4).cast("int")
      val media = t(s, d, "documents").select(col("doc_id").as("media_id"),
        graft.functions.native.syntheticWavGain(n, v, g).as("content"))
      Multimodal.audioDupPairsSpectral(media)
    },

    // COMPRESSED-audio dedup, end-to-end real: clips synthesize genuine
    // IMA-ADPCM WAVEs (4-bit blocks, carried step index, fact truncation)
    // sharing waveforms per variant class; the real ADPCM decode feeds
    // per-BLOCK content hashes (window = the 505-sample block) and clips
    // pair on shared decoded blocks. Same-variant clips share their full
    // prefix so shared blocks = min(block counts) — stated by the oracle;
    // the converse (distinct (variant, block) ⇒ distinct decoded content)
    // is proven EXHAUSTIVELY over all 1024×4 gate parameters by spec.
    "dedup_audio_adpcm" -> { (s, d) =>
      val n = (lit(17) + lit(505) * (lit(1) + col("doc_id") % 4)).cast("int")
      val v = (floor(col("doc_id") / 4).cast("long") % 1024).cast("int")
      val media = t(s, d, "documents").select(col("doc_id").as("media_id"),
        graft.functions.native.syntheticWavAdpcm(n, v).as("content"))
      Multimodal.audioDupPairs(media, window = 505)
        
    },

    // The typed mapPartitions decode boundary under the gate for IMAGES:
    // the same synthesized PNGs stream through decodeFrames with the
    // dispatching imageFrameDecoder and release integer-exact per-pixel-
    // row extrema; the oracle replays the rows from the pattern formula.
    "multimodal_image_frames" -> { (s, d) =>
      val w = (lit(16) + col("doc_id") % 16).cast("int")
      val h = (lit(8) + col("doc_id") % 8).cast("int")
      val v = (col("doc_id") % 256).cast("int")
      val media = t(s, d, "documents").select(col("doc_id").as("media_id"),
        graft.functions.native.syntheticPng(w, h, v).as("content"))
      Multimodal.decodeFrames(s, media, Multimodal.imageFrameDecoder)
        .select(col("media_id"),
          element_at(col("features"), 1).cast("int").as("row_idx"),
          element_at(col("features"), 2).cast("int").as("width"),
          element_at(col("features"), 3).cast("int").as("channels"),
          element_at(col("features"), 7).cast("int").as("min_px"),
          element_at(col("features"), 8).cast("int").as("max_px"))
    },

    // The typed mapPartitions decode boundary under the gate for AUDIO:
    // the same synthesized WAVs stream through decodeFrames with the real
    // wavFrameDecoder (256-sample windows) and release integer-exact
    // window features; the oracle replays the windows from the formula.
    "multimodal_audio_frames" -> { (s, d) =>
      val n = (lit(256) + col("doc_id") % 256).cast("int")
      val v = (col("doc_id") % 1000).cast("long")
      val media = t(s, d, "documents").select(col("doc_id").as("media_id"),
        graft.functions.native.syntheticWav(n, v).as("content"))
      Multimodal.decodeFrames(s, media, Multimodal.wavFrameDecoder(256))
        .select(col("media_id"), col("frame_idx"),
          element_at(col("features"), 2).cast("long").as("n_samples"),
          // zc rode as the float ratio zc/(m-1); small ints are exact in
          // float, so the reconstruction is lossless
          floor(element_at(col("features"), 4) *
            greatest(element_at(col("features"), 2) - 1, lit(1.0f)) + 0.5)
            .cast("long").as("n_zero_cross"),
          element_at(col("features"), 5).cast("int").as("peak"))
    },

    // REAL video-shaped decode, end-to-end: each doc synthesizes a genuine
    // ANIMATED PNG (acTL/fcTL/fdAT bookkeeping, per-frame zlib streams,
    // strict sequence numbers) and ApngFrameStats must frame-SAMPLE it —
    // decode every 2nd frame through the shared inflate+defilter core and
    // release the sampled frames' channel sums. The oracle restates the
    // per-frame pattern formula over the sampled frame indices only.
    "multimodal_video" -> { (s, d) =>
      val w = (lit(8) + col("doc_id") % 8).cast("int")
      val h = (lit(4) + col("doc_id") % 4).cast("int")
      val nf = (lit(4) + col("doc_id") % 4).cast("int")
      val v = (col("doc_id") % 256).cast("int")
      val st = graft.functions.native.apngFrameStats(
        graft.functions.native.syntheticApng(w, h, nf, v), sampleEvery = 2)
      t(s, d, "documents").select(col("doc_id"),
        st.getField("width").as("width"),
        st.getField("height").as("height"),
        st.getField("n_frames").as("n_frames"),
        st.getField("n_sampled").as("n_sampled"),
        st.getField("sum_r").as("sum_r"),
        st.getField("sum_g").as("sum_g"),
        st.getField("sum_b").as("sum_b"))
    },

    // Video DEDUP, end-to-end real: clips (the same synthesized animations
    // as multimodal_video) pair by decoded-raster frame hash — re-uploads
    // and shared-footage detection. The oracle derives which frames must
    // decode identically straight from the construction formula (same
    // dims, same (23f + v) mod 256 phase) — the Spark side must earn the
    // pairs by decoding and hashing actual pixels.
    "dedup_clips" -> { (s, d) =>
      val w = (lit(8) + col("doc_id") % 8).cast("int")
      val h = (lit(4) + col("doc_id") % 4).cast("int")
      val nf = (lit(4) + col("doc_id") % 4).cast("int")
      val v = (col("doc_id") % 256).cast("int")
      val media = t(s, d, "documents").select(col("doc_id").as("media_id"),
        graft.functions.native.syntheticApng(w, h, nf, v).as("content"))
      Multimodal.clipDupPairs(media, sampleEvery = 2)
        
    },

    // CROSS-CONTAINER clip dedup: each group's clip is stored once as
    // APNG (even doc) and once as an ANIMATED GIF (odd doc) whose
    // palette supplies exactly the APNG pattern's +101c channel shifts —
    // the two containers decode to byte-identical rasters, so the
    // raster-hash pairing must match them frame-for-frame. The oracle is
    // container-BLIND: it pairs on (w, h, phase) from the group formula
    // and the codec never appears in the SQL.
    "dedup_clips_cross" -> { (s, d) =>
      val g = floor(col("doc_id") / 2).cast("long")
      val w = (lit(8) + g % 8).cast("int")
      val h = (lit(4) + g % 4).cast("int")
      val nf = (lit(4) + g % 4).cast("int")
      val v = (g % 256).cast("int")
      val media = t(s, d, "documents").select(col("doc_id").as("media_id"),
        when(col("doc_id") % 2 === 0,
          graft.functions.native.syntheticApng(w, h, nf, v))
          .otherwise(graft.functions.native.syntheticGifAnim(w, h, nf, v,
            frameStep = 23)).as("content"))
      Multimodal.clipDupPairs(media, sampleEvery = 2)
        
    },

    // IMAGE near-dup by PERCEPTUAL hash, end-to-end real: each doc
    // synthesizes a genuine 32×32 PNG whose gradient slopes derive from
    // its group id and whose brightness offset varies per doc; the real
    // decode path feeds a 64-bit average-hash, band-blocked Hamming
    // pairing finds the near-dups. The gate is exact because the aHash
    // bit rule is integer cross-multiplication and brightness shifts
    // cancel in it — the oracle re-derives every bit from the pattern
    // formula and must agree on the PAIRS, not just the stats.
    "dedup_phash" -> { (s, d) =>
      val grp = floor(col("doc_id") / 4).cast("long")
      val a = (lit(1) + (grp * 7919) % 97).cast("int")
      val b = (lit(1) + (grp * 104729) % 89).cast("int")
      val sh = ((col("doc_id") % 4) * 5).cast("int")
      val media = t(s, d, "documents").select(col("doc_id").as("media_id"),
        graft.functions.native.syntheticPngGrad(32, 32, a, b, sh)
          .as("content"))
      Multimodal.imageDupPairs(media)
    },

    // IMAGE near-dup by DCT PERCEPTUAL hash (pHash proper), end-to-end
    // real: same synthesized-PNG shape as dedup_phash but a different
    // gradient family, hashed in the FREQUENCY domain — integer 2D DCT
    // (literal fixed-point basis), top-left 8×8 coefficients, bits
    // against the AC median. The per-doc brightness offsets here (up to
    // 51 levels) leave the hash EXACTLY unchanged because the basis's AC
    // rows sum to zero — no margin argument — so every group collides at
    // Hamming 0 and the oracle re-derives each coefficient, the median,
    // every bit and every pair from the pixel formula and the same
    // literal matrix.
    "dedup_phash_dct" -> { (s, d) =>
      val grp = floor(col("doc_id") / 4).cast("long")
      val a = (lit(1) + (grp * 4409) % 101).cast("int")
      val b = (lit(1) + (grp * 9973) % 83).cast("int")
      val sh = ((col("doc_id") % 4) * 17).cast("int")
      val media = t(s, d, "documents").select(col("doc_id").as("media_id"),
        graft.functions.native.syntheticPngGrad(32, 32, a, b, sh)
          .as("content"))
      Multimodal.imageDupPairsDct(media)
    },

    // CROSS-FORMAT perceptual dedup with the LOSSY codec inside the
    // hash-exact gate: each group is the SAME margin-engineered
    // checkerboard stored once as PNG (even doc) and once as real
    // JDK-encoded JPEG (odd doc). Cell means sit 80 gray levels from the
    // global mean while JPEG quantization moves them a few — so every
    // aHash bit, and therefore every dup pair, is a pure integer function
    // of the group id the oracle states; the Spark side must earn the
    // pairs through BOTH real decoders and collide them at Hamming 0.
    "dedup_phash_mixed" -> { (s, d) =>
      val g = floor(col("doc_id") / 2).cast("long")
      val media = t(s, d, "documents").select(col("doc_id").as("media_id"),
        graft.functions.native.syntheticImageCheck(32, 32, g,
          col("doc_id") % 2 === 1).as("content"))
      Multimodal.imageDupPairs(media)
    },

    // THREE codecs under one perceptual gate: each group of three docs is
    // the SAME margin-engineered checkerboard stored as PNG (zlib), real
    // JPEG (DCT, lossy-inside-margin), and GIF (LZW, lossless) — all
    // three rasters must aHash to the same 64 bits and pair at Hamming 0.
    // The oracle is codec-blind by construction: it re-derives the bits
    // from the group formula and pairs every group member.
    "dedup_phash_tri" -> { (s, d) =>
      val g = floor(col("doc_id") / 3).cast("long")
      val r = col("doc_id") % 3
      val media = t(s, d, "documents").select(col("doc_id").as("media_id"),
        when(r === 0, graft.functions.native.syntheticImageCheck(
            32, 32, g, lit(false)))
          .when(r === 1, graft.functions.native.syntheticImageCheck(
            32, 32, g, lit(true)))
          .otherwise(graft.functions.native.syntheticImageCheckGif(32, 32, g))
          .as("content"))
      Multimodal.imageDupPairs(media)
    },

    // LOSSY-container frame sampling, end-to-end real: each doc
    // synthesizes a genuine MJPEG clip (back-to-back baseline JPEGs from
    // the JDK encoder), the container is split by a real marker walk, and
    // every 2nd frame runs the full baseline JPEG decode (Huffman +
    // dequant + IDCT + color convert) through the typed decodeFrames
    // boundary. The gate pins the EXACT fields — frame identity and
    // decoded dimensions (a frame only counts if its entropy decode
    // succeeds); pixel content is quantized and stays outside the
    // hash-exact oracle by the documented JPEG contract.
    "multimodal_mjpeg" -> { (s, d) =>
      val w = (lit(8) + col("doc_id") % 8).cast("int")
      val h = (lit(4) + col("doc_id") % 4).cast("int")
      val nf = (lit(2) + col("doc_id") % 4).cast("int")
      val v = (col("doc_id") % 256).cast("int")
      val media = t(s, d, "documents").select(col("doc_id").as("media_id"),
        graft.functions.native.syntheticMjpeg(w, h, nf, v).as("content"))
      Multimodal.decodeFrames(s, media, Multimodal.mjpegFrameDecoder(2))
        .select(col("media_id"), col("frame_idx"),
          element_at(col("features"), 1).cast("int").as("src_frame"),
          element_at(col("features"), 2).cast("int").as("width"),
          element_at(col("features"), 3).cast("int").as("height"),
          element_at(col("features"), 4).cast("int").as("channels"))
    },

    // Clip dedup over the LOSSY container: same pair kernel as
    // dedup_clips, but the frames are real JPEGs — equal (w, h, phase)
    // frames are byte-identical (deterministic encoder) hence
    // raster-identical after decode, while distinct phases sit ≥16 luma
    // levels apart so quantization noise cannot collapse them. The oracle
    // derives the shared-content pairs straight from the phase formula;
    // the Spark side earns them by decoding and hashing actual pixels.
    "dedup_clips_mjpeg" -> { (s, d) =>
      val w = (lit(8) + col("doc_id") % 8).cast("int")
      val h = (lit(4) + col("doc_id") % 4).cast("int")
      val nf = (lit(4) + col("doc_id") % 4).cast("int")
      val v = (col("doc_id") % 256).cast("int")
      val media = t(s, d, "documents").where(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("media_id"),
          graft.functions.native.syntheticMjpeg(w, h, nf, v).as("content"))
      Multimodal.clipDupPairs(media, sampleEvery = 2)
        
    },

    // COMPRESSED audio, end-to-end real: each doc synthesizes a triangle
    // wave, encodes it through the real IMA-ADPCM WAVE container (format
    // tag 0x11, fact chunk, 256-byte blocks), decodes it back through the
    // chunk walk + block decoder, and releases the codec's EXACT
    // invariants: true sample count (fact-truncated final block),
    // block-header samples reproduced verbatim (n_exact_heads = number of
    // blocks), and the tracking-error contract. Lossy sample content
    // stays outside the hash-exact oracle like JPEG; unlike JPEG the
    // invariants here are integer-exact, so they ARE oracle-pinned.
    "multimodal_adpcm" -> { (s, d) =>
      val n = (lit(600) + col("doc_id") % 600).cast("int")
      val v = (col("doc_id") % 64).cast("int")
      val st = graft.functions.native.adpcmProbe(n, v)
      t(s, d, "documents").select(col("doc_id").as("media_id"),
        st.getField("sample_rate").as("sample_rate"),
        st.getField("channels").as("channels"),
        st.getField("n_samples").as("n_samples"),
        st.getField("n_exact_heads").as("n_exact_heads"),
        st.getField("err_ok").as("err_ok"))
    }
  )

  // ------------------------------------------------------------------
  // DuckDB oracle SQL — identical column names/types and deterministic
  // ordering, for EVERY query. The signature-based queries (dedup_minhash,
  // dedup_simhash, sim_ann_lsh) hash with PolyHash's engine-agnostic
  // arithmetic, so their oracles replay the identical signatures in SQL;
  // sim_ivf_topk is exact because the index quantizes centroids at 6 dp
  // (absorbing float-summation order) and the oracle replays the probe's
  // dot products with the same sequential accumulation.
  // ------------------------------------------------------------------

  private val delayedJoinFrom =
    """FROM events d LEFT JOIN events r
      | ON d.user_id = r.user_id AND r.event_type = 'purchase'
      | AND epoch_ms(r.ts) BETWEEN epoch_ms(d.ts) AND epoch_ms(d.ts) + 3600000
      | WHERE d.event_type = 'view'""".stripMargin.replace("\n", " ")

  private val shingleCte =
    """WITH t AS (SELECT doc_id, substr(text,1,40) AS blk, string_split(text,' ') AS w FROM documents),
      |s AS (SELECT doc_id, blk, list_distinct(list_transform(
      |  generate_series(1, greatest(len(w)-4, 1)),
      |  i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))) AS sh FROM t)""".stripMargin.replace("\n", " ")

  // Shingle-hash CTE shared by the minhash/simhash oracles: the same
  // base-31/base-131 polynomial code-point hashes the native expressions
  // compute (PolyHash.h1/h60) — plain BIGINT modular arithmetic in both
  // engines, the formulation proven by doc_fingerprint.
  private val polyHashCte =
    """, hs AS (SELECT doc_id, sh, list_transform(sh, s2 ->
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(1, length(s2)), j -> CAST(ascii(substr(s2,j,1)) AS BIGINT))),
      |  (a,b) -> (a*31+b)%1000000007)) AS h1s, list_transform(sh, s2 ->
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(1, length(s2)), j -> CAST(ascii(substr(s2,j,1)) AS BIGINT))),
      |  (a,b) -> (a*131+b)%998244353)) AS h2s FROM s)""".stripMargin.replace("\n", " ")

  // shingle → signature → banded-bucket → candidate-pair CTEs shared by the
  // minhash verify and estimate oracles (mirrors Dedup.minhashCandidates)
  private lazy val minhashCandCte: String = {
    val (as, bs) = graft.functions.PolyHash.minhashAffine(16)
    val abList = as.zip(bs).map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")
    shingleCte + polyHashCte +
      s""", sig AS (SELECT doc_id, list_transform($abList, ab ->
        |  list_min(list_transform(h1s, h -> (ab[1]*h+ab[2])%1000000007))) AS sig FROM hs),
        |banded AS (SELECT doc_id, band, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |  sig[band*2+1:band*2+2]), (a,x) -> (a*31+x)%1000000007) AS bucket
        |  FROM sig, (SELECT unnest(generate_series(0,7)) AS band)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM banded a
        |  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin
        .replace("\n", " ")
  }

  private lazy val minhashOracle: String =
    minhashCandCte +
      """ SELECT doc_a, doc_b, round(len(list_intersect(x.sh, y.sh)) * 1.0 /
        |  len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jacc
        |FROM cand JOIN hs x ON doc_a = x.doc_id JOIN hs y ON doc_b = y.doc_id
        |WHERE round(len(list_intersect(x.sh, y.sh)) * 1.0 /
        |  len(list_distinct(list_concat(x.sh, y.sh))), 4) >= 0.4
        |ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " ")

  // integer agreement count / k — float-exact in both engines, no rounding
  private lazy val minhashEstOracle: String =
    minhashCandCte +
      """ SELECT doc_a, doc_b, list_sum(list_transform(generate_series(1, 16),
        |  i -> CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END)) / 16.0 AS est_jacc
        |FROM cand JOIN sig x ON doc_a = x.doc_id JOIN sig y ON doc_b = y.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " ")

  // Calibration replay: exact jacc and the agreement estimate on the same
  // candidates, per-pair |err| to half-up micro-units, integer aggregate.
  private lazy val minhashCalibrationOracle: String =
    minhashCandCte +
      """, pe AS (SELECT round(len(list_intersect(hx.sh, hy.sh)) * 1.0 /
        |  len(list_distinct(list_concat(hx.sh, hy.sh))), 4) AS jacc,
        |  list_sum(list_transform(generate_series(1, 16),
        |    i -> CASE WHEN sx.sig[i] = sy.sig[i] THEN 1 ELSE 0 END)) / 16.0 AS est
        |  FROM cand JOIN hs hx ON doc_a = hx.doc_id JOIN hs hy ON doc_b = hy.doc_id
        |  JOIN sig sx ON doc_a = sx.doc_id JOIN sig sy ON doc_b = sy.doc_id),
        |em AS (SELECT CAST(floor(abs(est - jacc) * 1000000.0 + 0.5) AS BIGINT) AS em FROM pe)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(sum(em) / (count(*) * 1000000.0), 6) AS mean_abs_err,
        |  round(max(em) / 1000000.0, 6) AS max_abs_err,
        |  CAST(sum(CASE WHEN em > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_10pct
        |FROM em""".stripMargin.replace("\n", " ")

  // Incremental-store probe replay: rebuild the even-half store's
  // canonicals (est-pair components among evens, min-label walk), then the
  // odd→even banded-bucket matches with the same agreement estimate, and
  // aggregate min(canonical)/count per odd doc — exactly
  // SignatureStore.build(evens) + probe(odds).
  private lazy val incrementalOracle: String = {
    val est = (x: String, y: String) =>
      s"list_sum(list_transform(generate_series(1, 16), " +
        s"i -> CASE WHEN $x.sig[i] = $y.sig[i] THEN 1 ELSE 0 END)) / 16.0 >= 0.5"
    minhashCandCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      ", eep AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM banded a " +
      "JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id " +
      "WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 0), " +
      "eem AS (SELECT doc_a, doc_b FROM eep JOIN sig x ON doc_a = x.doc_id " +
      s"JOIN sig y ON doc_b = y.doc_id WHERE ${est("x", "y")}), " +
      "e AS (SELECT doc_a AS a, doc_b AS b FROM eem UNION ALL SELECT doc_b, doc_a FROM eem), " +
      "walk(id, lbl) AS (SELECT a, a FROM e UNION SELECT e.a, w.lbl FROM e JOIN walk w ON e.b = w.id), " +
      "comp AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id), " +
      "canon AS (SELECT d2.doc_id AS id, coalesce(c.component, d2.doc_id) AS canonical " +
      "FROM documents d2 LEFT JOIN comp c ON d2.doc_id = c.id WHERE d2.doc_id % 2 = 0), " +
      "om AS (SELECT DISTINCT a.doc_id AS odd_id, b.doc_id AS even_id FROM banded a " +
      "JOIN banded b ON a.band = b.band AND a.bucket = b.bucket " +
      "WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0), " +
      "oe AS (SELECT odd_id, even_id FROM om JOIN sig x ON odd_id = x.doc_id " +
      s"JOIN sig y ON even_id = y.doc_id WHERE ${est("x", "y")}) " +
      "SELECT oe.odd_id AS doc_id, min(canon.canonical) AS keep_id, " +
      "count(DISTINCT oe.even_id) AS n_matches " +
      "FROM oe JOIN canon ON oe.even_id = canon.id GROUP BY oe.odd_id ORDER BY doc_id"
  }

  private lazy val simhashOracle: String =
    shingleCte + polyHashCte +
      """, h60 AS (SELECT doc_id, list_transform(generate_series(1, len(h1s)),
        |  i -> h1s[i] + (h2s[i] << 30)) AS hl FROM hs),
        |sig AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0,59), bb ->
        |  CASE WHEN list_sum(list_transform(hl, h -> 2*((h >> bb) & 1) - 1)) > 0
        |  THEN (CAST(1 AS BIGINT) << bb) ELSE 0 END)) AS BIGINT) AS sig FROM h60),
        |ck AS (SELECT doc_id, sig, c, (sig >> (c*15)) & 32767 AS ckey
        |  FROM sig, (SELECT unnest(generate_series(0,3)) AS c)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
        |  FROM ck a JOIN ck b ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
        |ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " ")

  // KMV distinct sketch replay: one mix32 scatter round + the seeded affine
  // draw (identical constants interpolated from Corpus.hashConstants), the
  // k = 64 smallest DISTINCT hashes per group, estimate (k-1)*P1/h_k — or
  // the exact distinct-hash count below k. All BIGINT-exact; the single
  // division is one IEEE op in both engines.
  private lazy val kmvOracle: String = {
    val (a, b) = graft.llm.Corpus.hashConstants(42L)
    val k = 64
    s"""WITH m0 AS (SELECT event_type, user_id % 4294967296 AS x0 FROM events WHERE user_id IS NOT NULL),
       |m1 AS (SELECT event_type, (xor(x0, x0 >> 16) * 73244475) % 4294967296 AS x1 FROM m0),
       |m2 AS (SELECT event_type, (xor(x1, x1 >> 16) * 73244475) % 4294967296 AS x2 FROM m1),
       |mx AS (SELECT event_type, xor(x2, x2 >> 16) AS mv FROM m2),
       |h AS (SELECT DISTINCT event_type, ($a * (mv % 1000000007) + $b) % 1000000007 AS hv FROM mx),
       |r AS (SELECT event_type, hv, row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM h),
       |a AS (SELECT event_type, count(*) AS nh, max(CASE WHEN rn = $k THEN hv END) AS hk
       |  FROM r WHERE rn <= $k GROUP BY event_type)
       |SELECT event_type, CASE WHEN nh < $k THEN CAST(nh AS DOUBLE)
       |  ELSE ($k - 1) * 1000000007.0 / hk END AS est_distinct
       |FROM a ORDER BY event_type""".stripMargin.replace("\n", " ")
  }

  // HLL replay: the same mix+affine hash chain as kmvOracle, bucket/rho
  // register construction, EXACT integer register sum (2^(26-reg), empty
  // buckets 2^26), the raw estimate and linear-counting fallback spelled
  // with the identical IEEE operation order.
  /** The quantile-sketch replay: binned counts, cumulative window, rank
    * ceil(q·n) located where the cumulative first reaches it, in-bin
    * linear interpolation — the exact arithmetic of
    * [[graft.analytics.Sketches.quantileEstimate]]. One template serves
    * the one-shot gate and the incremental one (whose merged registers
    * equal the one-shot registers by count addition).
    */
  private def quantileSketchSql(table: String, groupCol: String,
      valueCol: String, lo: String, hi: String, w: String, nBins: Int,
      qs: Seq[Double]): String =
    s"WITH r AS (SELECT $groupCol AS g, " +
      s"CAST(least(floor((least(greatest($valueCol, $lo), $hi) - $lo) / $w), ${nBins - 1}.0) AS BIGINT) AS bin, " +
      s"count(*) AS cnt FROM $table WHERE $valueCol IS NOT NULL AND $groupCol IS NOT NULL GROUP BY 1, 2), " +
      "c AS (SELECT g, bin, cnt, sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum, " +
      "sum(cnt) OVER (PARTITION BY g) AS n FROM r), " +
      s"qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES ${qs.map(q => s"($q)").mkString(", ")}) v(q)), " +
      "e AS (SELECT c.g, qs.q, CAST(ceil(qs.q * c.n) AS BIGINT) AS rnk, c.bin, c.cum, c.cnt, c.n " +
      "FROM c, qs WHERE c.cum >= ceil(qs.q * c.n) AND c.cum - c.cnt < ceil(qs.q * c.n)) " +
      s"SELECT g AS $groupCol, q, round($lo + $w * (bin + (rnk - (cum - cnt)) * 1.0 / cnt), 4) AS est_q, " +
      "CAST(n AS BIGINT) AS n FROM e ORDER BY 1, 2"

  private lazy val hllOracle: String = {
    val (a, b) = graft.llm.Corpus.hashConstants(42L)
    s"""WITH m0 AS (SELECT event_type, user_id % 4294967296 AS x0 FROM events WHERE user_id IS NOT NULL),
       |m1 AS (SELECT event_type, (xor(x0, x0 >> 16) * 73244475) % 4294967296 AS x1 FROM m0),
       |m2 AS (SELECT event_type, (xor(x1, x1 >> 16) * 73244475) % 4294967296 AS x2 FROM m1),
       |mx AS (SELECT event_type, xor(x2, x2 >> 16) AS mv FROM m2),
       |h AS (SELECT event_type, ($a * (mv % 1000000007) + $b) % 1000000007 AS hv FROM mx),
       |r AS (SELECT event_type, hv & 63 AS bucket,
       |  CASE WHEN hv >> 6 = 0 THEN 25 ELSE 25 - length(bin(hv >> 6)) END AS rho FROM h),
       |g AS (SELECT event_type, bucket, max(rho) AS reg FROM r GROUP BY 1, 2),
       |s AS (SELECT event_type, count(*) AS nb,
       |  sum(CAST(1 AS BIGINT) << (26 - reg)) AS sp FROM g GROUP BY 1),
       |e AS (SELECT event_type, 64 - nb AS zeros,
       |  (0.7213 / (1 + 1.079 / 64.0)) * 4096 * 67108864.0 / (sp + (64 - nb) * 67108864) AS eraw FROM s),
       |x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1)
       |SELECT e.event_type AS event_type,
       |  round(CASE WHEN zeros > 0 AND eraw <= 160.0 THEN 64.0 * ln(64.0 / zeros) ELSE eraw END, 4) AS est_hll,
       |  CAST(x.n_exact AS BIGINT) AS n_exact
       |FROM e JOIN x ON e.event_type = x.event_type ORDER BY e.event_type""".stripMargin.replace("\n", " ")
  }

  // Incremental-HLL replay: the ONE-SHOT estimate over the full relation —
  // max-merge associativity makes the split-and-merge Spark side land on
  // it bit-exactly (no separate incremental arithmetic to restate).
  private lazy val hllIncOracle: String = {
    val (a, b) = graft.llm.Corpus.hashConstants(42L)
    s"""WITH m0 AS (SELECT event_type, user_id % 4294967296 AS x0 FROM events WHERE user_id IS NOT NULL),
       |m1 AS (SELECT event_type, (xor(x0, x0 >> 16) * 73244475) % 4294967296 AS x1 FROM m0),
       |m2 AS (SELECT event_type, (xor(x1, x1 >> 16) * 73244475) % 4294967296 AS x2 FROM m1),
       |mx AS (SELECT event_type, xor(x2, x2 >> 16) AS mv FROM m2),
       |h AS (SELECT event_type, ($a * (mv % 1000000007) + $b) % 1000000007 AS hv FROM mx),
       |r AS (SELECT event_type, hv & 63 AS bucket,
       |  CASE WHEN hv >> 6 = 0 THEN 25 ELSE 25 - length(bin(hv >> 6)) END AS rho FROM h),
       |g AS (SELECT event_type, bucket, max(rho) AS reg FROM r GROUP BY 1, 2),
       |s AS (SELECT event_type, count(*) AS nb,
       |  sum(CAST(1 AS BIGINT) << (26 - reg)) AS sp FROM g GROUP BY 1),
       |e AS (SELECT event_type, 64 - nb AS zeros,
       |  (0.7213 / (1 + 1.079 / 64.0)) * 4096 * 67108864.0 / (sp + (64 - nb) * 67108864) AS eraw FROM s)
       |SELECT event_type,
       |  round(CASE WHEN zeros > 0 AND eraw <= 160.0 THEN 64.0 * ln(64.0 / zeros) ELSE eraw END, 4) AS est_hll
       |FROM e ORDER BY event_type""".stripMargin.replace("\n", " ")
  }

  // Theta-style KMV set-operation replay: per-side k-minima via the same
  // mix+affine chain as kmvOracle, θ = min of the k-th minima (P1 for an
  // exact side), common hashes below θ scaled by P1/θ; identical IEEE op
  // order to Sketches.kmvOverlap.
  private lazy val kmvOverlapOracle: String = {
    val (a, b) = graft.llm.Corpus.hashConstants(42L)
    val k = 64
    def side(name: String, pred: String): String =
      s"""$name _0 AS (SELECT DISTINCT user_id % 4294967296 AS x0 FROM events WHERE $pred AND user_id IS NOT NULL),
         |$name _1 AS (SELECT (xor(x0, x0 >> 16) * 73244475) % 4294967296 AS x1 FROM $name _0),
         |$name _2 AS (SELECT (xor(x1, x1 >> 16) * 73244475) % 4294967296 AS x2 FROM $name _1),
         |$name _h AS (SELECT DISTINCT ($a * (xor(x2, x2 >> 16) % 1000000007) + $b) % 1000000007 AS hv FROM $name _2),
         |$name _k AS (SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM $name _h) WHERE rn <= $k)"""
        .stripMargin.replace("\n", " ").replace(s"$name _", s"${name}_")
    s"""WITH ${side("sa", "event_type = 'view'")},
       |${side("sb", "event_type = 'purchase'")},
       |s AS (SELECT (SELECT count(*) FROM sa_k) AS na, (SELECT max(hv) FROM sa_k) AS ma,
       |  (SELECT count(*) FROM sb_k) AS nb, (SELECT max(hv) FROM sb_k) AS mb),
       |t AS (SELECT na, nb, CASE WHEN na < $k THEN 1000000007 ELSE ma END AS ta,
       |  CASE WHEN nb < $k THEN 1000000007 ELSE mb END AS tb FROM s),
       |u AS (SELECT na, nb, ta, tb, least(ta, tb) AS th FROM t),
       |c AS (SELECT u.*, (SELECT count(*) FROM sa_k JOIN sb_k USING (hv) WHERE hv < u.th) AS common FROM u),
       |e AS (SELECT CASE WHEN na < $k THEN CAST(na AS DOUBLE) ELSE ($k - 1) * 1000000007.0 / ta END AS ea,
       |  CASE WHEN nb < $k THEN CAST(nb AS DOUBLE) ELSE ($k - 1) * 1000000007.0 / tb END AS eb,
       |  CAST(common * 1000000007 AS DOUBLE) / th AS ei FROM c)
       |SELECT round(ea, 4) AS est_a, round(eb, 4) AS est_b, round(ei, 4) AS est_intersection,
       |  round(ea + eb - ei, 4) AS est_union FROM e""".stripMargin.replace("\n", " ")
  }

  // Near-dup connected components (shingle pairs → min reachable id), the
  // shared base of the dedup_components / dedup_droplist oracles.
  private lazy val componentsCte: String =
    shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      ", pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
      "WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.4), " +
      "e AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs), " +
      "walk(id, lbl) AS (SELECT a, a FROM e UNION SELECT e.a, w.lbl FROM e JOIN walk w ON e.b = w.id), " +
      "comp AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id)"

  // Sequential left-fold dot product over 64 dims — the exact accumulation
  // order of the native DotProductD loop, so unrounded comparisons (argmax
  // cluster assignment, probe ranking) are bitwise identical cross-engine.
  private def seqDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(generate_series(1,64), i -> $a[i]*$b[i])), (x,y) -> x+y)"

  private def centSim(v: String) =
    s"${seqDot(v, "c.cvec")} / (sqrt(${seqDot("c.cvec", "c.cvec")}) + 1e-12)"

  // The IVF index replayed in SQL — mod-16 init centroids (quantized 6 dp)
  // and argmax assignment with bitwise-identical sequential-fold dots.
  // Shared prefix of the sim_ivf_topk and dedup_semantic oracles.
  private lazy val ivfCte: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |u AS (SELECT (vec_id % 16) AS cl, i AS pos, v[i] AS x FROM e, generate_series(1,64) t(i)),
      |cm AS (SELECT cl, pos, round(sum(x) / count(*), 6) AS m FROM u GROUP BY cl, pos),
      |cent AS (SELECT cl, list(m ORDER BY pos) AS cvec FROM cm GROUP BY cl),
      |sims AS (SELECT e.vec_id, c.cl, ${centSim("e.v")} AS s FROM e, cent c),
      |asg AS (SELECT vec_id, cl FROM (SELECT vec_id, cl,
      |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cl) AS rn FROM sims) WHERE rn = 1)""".stripMargin.replace("\n", " ")

  // sim_pq_topk oracle: full replay of per-subspace codebook training
  // (id-mod-16 init, one 6-dp-rounded mean pass — the ivfCte pattern with
  // `sub` in every key), L2² assignment with (distance, code) tie-break,
  // and the micro-unit-summed ADC distance.
  private lazy val pqOracle: String = {
    val l2 = (a: String, c: String) =>
      s"(list_inner_product($a, $a) - 2*list_inner_product($a, $c) + list_inner_product($c, $c))"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
      |sv AS (SELECT vec_id, sub, v[sub*8+1:sub*8+8] AS s FROM e, subs),
      |u AS (SELECT (vec_id % 16) AS cl, sub, i AS pos, v[sub*8+i] AS x
      |  FROM e, subs, generate_series(1, 8) t(i)),
      |cm AS (SELECT sub, cl, pos, round(sum(x)/count(*), 6) AS m FROM u GROUP BY sub, cl, pos),
      |cent AS (SELECT sub, cl, list(m ORDER BY pos) AS cv FROM cm GROUP BY sub, cl),
      |pd0 AS (SELECT s.vec_id, s.sub, c.cl, ${l2("s.s", "c.cv")} AS pd
      |  FROM sv s JOIN cent c USING (sub)),
      |asg AS (SELECT vec_id, sub, cl AS code FROM (SELECT vec_id, sub, cl,
      |  ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY pd, cl) AS rn FROM pd0) WHERE rn = 1),
      |q AS (SELECT sub, s FROM sv WHERE vec_id = (SELECT min(vec_id) FROM e)),
      |dt AS (SELECT c.sub, c.cl, ${l2("q.s", "c.cv")} AS pd FROM q JOIN cent c USING (sub)),
      |tm AS (SELECT a.vec_id, CASE WHEN dt.pd * 1000000.0 >= 0
      |  THEN floor(dt.pd * 1000000.0 + 0.5) ELSE -floor(-(dt.pd * 1000000.0) + 0.5) END AS t
      |  FROM asg a JOIN dt ON dt.sub = a.sub AND dt.cl = a.code)
      |SELECT vec_id, round(SUM(t)/1000000.0, 6) AS dist FROM tm
      |GROUP BY vec_id ORDER BY dist, vec_id LIMIT 10""".stripMargin.replace("\n", " ")
  }

  private lazy val ivfOracle: String =
    ivfCte + s""",
      |q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1),
      |probe AS (SELECT c.cl, q.qv FROM cent c, q
      |  ORDER BY ${centSim("q.qv")} DESC, c.cl LIMIT 4)
      |SELECT e.vec_id AS vec_id, round(list_inner_product(e.v, p.qv) /
      |  (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(p.qv, p.qv))), 6) AS sim
      |FROM e JOIN asg USING (vec_id) JOIN probe p ON asg.cl = p.cl
      |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin.replace("\n", " ")

  // ann_recall_eval oracle: the IVF replay probed at nprobe=2 and the exact
  // scan, both LIMIT 10 with the engines' shared (rounded sim DESC, vec_id)
  // ordering, intersected. Count shapes: CAST to double before the /10.
  private lazy val annRecallOracle: String =
    ivfCte + s""",
      |q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1),
      |probe AS (SELECT c.cl, q.qv FROM cent c, q
      |  ORDER BY ${centSim("q.qv")} DESC, c.cl LIMIT 2),
      |ap AS (SELECT e.vec_id FROM e JOIN asg USING (vec_id) JOIN probe p ON asg.cl = p.cl
      |  ORDER BY round(list_inner_product(e.v, p.qv) /
      |    (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(p.qv, p.qv))), 6) DESC,
      |    e.vec_id LIMIT 10),
      |ex AS (SELECT e.vec_id FROM e, q
      |  ORDER BY round(list_inner_product(e.v, q.qv) /
      |    (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.qv, q.qv))), 6) DESC,
      |    e.vec_id LIMIT 10)
      |SELECT CAST(count(*) AS BIGINT) AS n_hits,
      |CAST(count(*) AS DOUBLE) / 10 AS recall_at_10
      |FROM ex JOIN ap USING (vec_id)""".stripMargin.replace("\n", " ")

  // sim_ivfpq_topk oracle: the two halves composed — the IVF replay (cent/
  // asg from ivfCte) routes the probe, the PQ replay (p-prefixed CTEs,
  // identical to the sim_pq_topk oracle) supplies codebooks + codes, and
  // the ADC sum runs only over vectors assigned to the 4 probed clusters.
  private lazy val ivfPqOracle: String = {
    val l2 = (a: String, c: String) =>
      s"(list_inner_product($a, $a) - 2*list_inner_product($a, $c) + list_inner_product($c, $c))"
    ivfCte + s""",
      |q0 AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1),
      |probe AS (SELECT c.cl FROM cent c, q0 q
      |  ORDER BY ${centSim("q.qv")} DESC, c.cl LIMIT 4),
      |cand AS (SELECT vec_id FROM asg JOIN probe USING (cl)),
      |subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
      |sv AS (SELECT vec_id, sub, v[sub*8+1:sub*8+8] AS s FROM e, subs),
      |pu AS (SELECT (vec_id % 16) AS pcl, sub, i AS pos, v[sub*8+i] AS x
      |  FROM e, subs, generate_series(1, 8) t2(i)),
      |pcm AS (SELECT sub, pcl, pos, round(sum(x)/count(*), 6) AS m FROM pu GROUP BY sub, pcl, pos),
      |pcent AS (SELECT sub, pcl, list(m ORDER BY pos) AS cv FROM pcm GROUP BY sub, pcl),
      |pd0 AS (SELECT s.vec_id, s.sub, c2.pcl, ${l2("s.s", "c2.cv")} AS pd
      |  FROM sv s JOIN pcent c2 USING (sub)),
      |pasg AS (SELECT vec_id, sub, pcl AS code FROM (SELECT vec_id, sub, pcl,
      |  ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY pd, pcl) AS rn FROM pd0) WHERE rn = 1),
      |qs AS (SELECT sub, s FROM sv WHERE vec_id = (SELECT min(vec_id) FROM e)),
      |dt AS (SELECT c2.sub, c2.pcl, ${l2("q.s", "c2.cv")} AS pd FROM qs q JOIN pcent c2 USING (sub)),
      |tm AS (SELECT a.vec_id, CASE WHEN dt.pd * 1000000.0 >= 0
      |  THEN floor(dt.pd * 1000000.0 + 0.5) ELSE -floor(-(dt.pd * 1000000.0) + 0.5) END AS t
      |  FROM pasg a JOIN cand USING (vec_id) JOIN dt ON dt.sub = a.sub AND dt.pcl = a.code)
      |SELECT vec_id, round(SUM(t)/1000000.0, 6) AS dist FROM tm
      |GROUP BY vec_id ORDER BY dist, vec_id LIMIT 10""".stripMargin.replace("\n", " ")
  }

  private lazy val semanticDedupOracle: String = {
    val pairSim = "round(list_inner_product(a.v, b.v) / " +
      "(sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6)"
    ivfCte +
      s""" SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, $pairSim AS sim
        |FROM e a JOIN asg sa ON a.vec_id = sa.vec_id
        |JOIN e b ON a.vec_id < b.vec_id
        |JOIN asg sb ON b.vec_id = sb.vec_id AND sa.cl = sb.cl
        |WHERE $pairSim >= 0.4 ORDER BY vec_a, vec_b""".stripMargin.replace("\n", " ")
  }

  // Shared prefix of the repetition_stats and gopher_filter oracles: all
  // four gram orders via list slicing, per-(doc, k) argmax on
  // (cnt DESC, gram DESC), conditional fold to per-doc char counts.
  private lazy val repStatsCte: String =
    "WITH t AS (SELECT doc_id, text, greatest(length(text), 1) AS tl, string_split(text, ' ') AS w FROM documents), " +
      "ks AS (SELECT unnest([2, 3, 4, 5]) AS k), " +
      "g AS (SELECT doc_id, tl, k, unnest(list_transform(generate_series(1, greatest(len(w) - k + 1, 0)), " +
      "i -> array_to_string(w[i:i+k-1], ' '))) AS gram FROM t CROSS JOIN ks), " +
      "c AS (SELECT doc_id, tl, k, gram, count(*) AS cnt FROM g GROUP BY doc_id, tl, k, gram), " +
      "c2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, k ORDER BY cnt DESC, gram DESC) AS rn FROM c), " +
      "a AS (SELECT doc_id, tl, " +
      "coalesce(max(CASE WHEN k = 2 AND rn = 1 THEN cnt * length(gram) END), 0) AS t2, " +
      "coalesce(max(CASE WHEN k = 3 AND rn = 1 THEN cnt * length(gram) END), 0) AS t3, " +
      "coalesce(max(CASE WHEN k = 4 AND rn = 1 THEN cnt * length(gram) END), 0) AS t4, " +
      "coalesce(sum(CASE WHEN k = 5 AND cnt >= 2 THEN cnt * length(gram) END), 0) AS d5 " +
      "FROM c2 GROUP BY doc_id, tl)"

  // Winnowing replay: gram list -> h1 fold per gram (the polyHashCte
  // formulation) -> per-start window minima as list slices -> distinct.
  private lazy val winnowCte: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |gr AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(w) - 2, 0)),
      |  i -> concat_ws(' ', w[i], w[i+1], w[i+2])) AS gs FROM t),
      |hs AS (SELECT doc_id, list_transform(gs, s2 ->
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(1, length(s2)), j -> CAST(ascii(substr(s2, j, 1)) AS BIGINT))),
      |  (a, c) -> (a * 31 + c) % 1000000007)) AS hv FROM gr WHERE len(gs) > 0),
      |win AS (SELECT doc_id, list_distinct(list_transform(
      |  generate_series(1, greatest(len(hv) - 3, 1)), st -> list_min(hv[st:st+3]))) AS fps FROM hs),
      |f AS (SELECT doc_id, unnest(fps) AS fp FROM win)""".stripMargin.replace("\n", " ")

  // sim_knn_graph oracle: the deterministic k-means replay of ivfCte gives
  // the cluster blocking; within each cluster every DIRECTED pair is
  // scored and the top-3 per source taken on (rounded sim DESC, nbr_id) —
  // the same pinned ordering the Spark window uses.
  private lazy val knnGraphCte: String = {
    val pairSim = "round(list_inner_product(a.v, b.v) / " +
      "(sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6)"
    ivfCte +
      s""" , j AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id, $pairSim AS sim
        |FROM e a JOIN asg sa ON a.vec_id = sa.vec_id
        |JOIN e b ON a.vec_id <> b.vec_id
        |JOIN asg sb ON b.vec_id = sb.vec_id AND sa.cl = sb.cl),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS rank FROM j)""".stripMargin.replace("\n", " ")
  }

  private lazy val knnGraphOracle: String = knnGraphCte +
    " SELECT vec_id, nbr_id, rank, sim FROM rk WHERE rank <= 3 ORDER BY vec_id, rank"

  // PageRank replay: the knn edge relation, then 3 unrolled rounds of the
  // identical integer-DIV recurrence (DuckDB `//` == Spark SQL `DIV` on
  // BIGINT; all operands positive).
  // The checkerboard perceptual-gate replay, parameterized by how many
  // docs share one checkerboard: mix32-ranked cell bits per group, the
  // same band/df-guard/pair chain as dedup_phash, pairs at Hamming ≤ 6.
  // Codec-blind by construction — the bits are a pure group function.
  private def phashCheckOracle(groupSize: Int): String =
    s"WITH d AS (SELECT doc_id, doc_id // $groupSize AS g FROM documents), " +
      "gs AS (SELECT DISTINCT g FROM d), " +
      "m0 AS (SELECT g, ks.k, (g * 64 + ks.k) % 4294967296 AS x0 " +
      "FROM gs, generate_series(0, 63) ks(k)), " +
      "m1 AS (SELECT g, k, (xor(x0, x0 >> 16) * 73244475) % 4294967296 AS x1 FROM m0), " +
      "m2 AS (SELECT g, k, (xor(x1, x1 >> 16) * 73244475) % 4294967296 AS x2 FROM m1), " +
      "chh AS (SELECT g, k, xor(x2, x2 >> 16) AS h FROM m2), " +
      "rk AS (SELECT g, k, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h, k) AS rn FROM chh), " +
      "bnd AS (SELECT g, k // 16 AS band, " +
      "sum(CASE WHEN rn <= 32 THEN 1 ELSE 0 END * (CAST(1 AS BIGINT) << (k % 16))) AS bv " +
      "FROM rk GROUP BY 1, 2), " +
      "db AS (SELECT d.doc_id, bnd.band, bnd.bv FROM d JOIN bnd ON bnd.g = d.g), " +
      "rare AS (SELECT band, bv FROM db GROUP BY 1, 2 HAVING count(*) <= 64), " +
      "kept AS (SELECT db.doc_id, db.band, db.bv FROM db JOIN rare ON rare.band = db.band AND rare.bv = db.bv), " +
      "cand AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb FROM kept x " +
      "JOIN kept y ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id), " +
      "wide AS (SELECT doc_id, max(CASE WHEN band = 0 THEN bv END) AS b0, " +
      "max(CASE WHEN band = 1 THEN bv END) AS b1, " +
      "max(CASE WHEN band = 2 THEN bv END) AS b2, " +
      "max(CASE WHEN band = 3 THEN bv END) AS b3 FROM db GROUP BY doc_id), " +
      "hm AS (SELECT cand.ida, cand.idb, " +
      "bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1)) + " +
      "bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS hamming " +
      "FROM cand JOIN wide x ON x.doc_id = cand.ida JOIN wide y ON y.doc_id = cand.idb) " +
      "SELECT ida AS id_a, idb AS id_b, CAST(hamming AS INTEGER) AS hamming " +
      "FROM hm WHERE hamming <= 6 ORDER BY id_a, id_b"

  // The engine-agnostic integer-PR replay body: expects a CTE chain ending
  // in `ed(src, dst)`; leaves `r3` holding the final ranks. Shared by the
  // knn-graph and link-graph pagerank oracles.
  private lazy val pagerankBodySql: String = {
    val rounds = (1 to 3).map { e =>
      s"c$e AS (SELECT dst AS id, SUM(r${e - 1}.r // deg) AS c FROM ed " +
        s"JOIN r${e - 1} ON r${e - 1}.id = ed.src JOIN dg USING (src) GROUP BY dst), " +
        s"r$e AS (SELECT nd.id, ((15 * 1000000000000) // (100 * nn.n)) + " +
        s"((85 * coalesce(c.c, 0)) // 100) AS r " +
        s"FROM nd LEFT JOIN c$e c ON c.id = nd.id CROSS JOIN nn)"
    }.mkString(", ")
    "nd AS (SELECT DISTINCT id FROM (SELECT src AS id FROM ed UNION ALL SELECT dst AS id FROM ed)), " +
      "nn AS (SELECT count(*) AS n FROM nd), " +
      "dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src), " +
      "r0 AS (SELECT id, 1000000000000 // n AS r FROM nd CROSS JOIN nn), " +
      rounds
  }

  private lazy val pagerankOracle: String =
    knnGraphCte +
      ", ed AS (SELECT vec_id AS src, nbr_id AS dst FROM rk WHERE rank <= 3), " +
      pagerankBodySql +
      " SELECT id AS vec_id, CAST(r AS BIGINT) AS rank_micro FROM r3 ORDER BY vec_id"

  // The link-formula edge relation (replaying crawlHtmlLinks/linkEdges):
  // host site{doc_id % 50} links hosts site{(doc_id·7 + j·13) % 50} for
  // j = 0..doc_id % 3.
  private lazy val linkEdgesCte: String =
    "WITH lj AS (SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS j FROM documents), " +
      "le AS (SELECT 'site' || (doc_id % 50) || '.example.com' AS src_host, " +
      "'site' || ((doc_id * 7 + j * 13) % 50) || '.example.com' AS dst_host FROM lj)"

  // The crawlLines construction replayed in SQL (CTE `l` ends holding
  // `(doc_id, lines)`) — shared by the c4_filter and lang_segments oracles.
  private lazy val crawlLinesCte: String =
    "WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "l AS (SELECT doc_id, list_transform(" +
      "generate_series(0, CAST(ceil(len(w) / 8.0) AS INT) - 1), i -> " +
      "(CASE WHEN (doc_id + i) % 13 = 0 THEN 'lorem ipsum ' ELSE '' END) || " +
      "array_to_string(w[i*8+1 : i*8+8], ' ') || " +
      "(CASE (doc_id + i) % 4 WHEN 1 THEN '.' WHEN 2 THEN '!' WHEN 3 THEN '?' ELSE '' END) || " +
      "(CASE WHEN (doc_id + i) % 11 = 0 THEN ' {' ELSE '' END)) AS lines FROM d)"

  private lazy val linkPagerankOracle: String =
    linkEdgesCte +
      ", ed AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM le), " +
      pagerankBodySql +
      " SELECT id AS host, CAST(r AS BIGINT) AS rank_micro FROM r3 ORDER BY host"

  // Triangle census replay: the knn edge relation undirected+deduped, the
  // classic a<b<c three-way self-join (orientation only changes WHERE the
  // wedge work happens, never the triangle set — the Spark side's
  // degree-ordering and this id-ordering enumerate identical triangles),
  // corners unioned and counted per node, degree from the undirected
  // relation, clustering = round(2T / (deg·(deg−1)), 6) with the same
  // double operand shapes as the Spark expression.
  private lazy val triangleOracle: String = knnGraphCte +
    ", ed AS (SELECT vec_id AS src, nbr_id AS dst FROM rk WHERE rank <= 3), " +
    "ue AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b " +
    "FROM ed WHERE src <> dst), " +
    "dg AS (SELECT id, count(*) AS degree FROM " +
    "(SELECT a AS id FROM ue UNION ALL SELECT b AS id FROM ue) GROUP BY id), " +
    "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM ue e1 " +
    "JOIN ue e2 ON e1.a = e2.a AND e1.b < e2.b " +
    "JOIN ue e3 ON e3.a = e1.b AND e3.b = e2.b), " +
    "tc AS (SELECT id, count(*) AS triangles FROM " +
    "(SELECT x AS id FROM tri UNION ALL SELECT y AS id FROM tri " +
    "UNION ALL SELECT z AS id FROM tri) GROUP BY id) " +
    "SELECT dg.id AS vec_id, CAST(coalesce(tc.triangles, 0) AS BIGINT) AS triangles, " +
    "dg.degree, CASE WHEN dg.degree >= 2 THEN " +
    "round(2.0 * coalesce(tc.triangles, 0) / (dg.degree * (dg.degree - 1)), 6) " +
    "ELSE 0.0 END AS clustering " +
    "FROM dg LEFT JOIN tc ON dg.id = tc.id ORDER BY vec_id"

  // dp_counts replay: the group-label fingerprint (doc_fingerprint's ascii
  // fold), two seeded hashUnit draws (mix32 + affine — the sampler family's
  // SQL twin), and the difference-of-geometrics discrete Laplace with the
  // identical floor(−ln(1−u)/ε) operand shapes.
  private lazy val dpCountsOracle: String = {
    def draw(expr: String, seed: Long): String = {
      val (a, b) = graft.llm.Corpus.hashConstants(seed)
      val m3 = mix32Sql(expr)
      s"(CAST(($a * (($m3) % 1000000007) + $b) % 1000000007 AS DOUBLE) / 1000000007)"
    }
    val fp = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(generate_series(1, least(length(source), 64)), " +
      "i -> CAST(ascii(substr(source, i, 1)) AS BIGINT))), " +
      "(a, b) -> (a * 31 + b) % 1000000007)"
    "WITH c AS (SELECT source, count(*) AS n FROM documents " +
      "WHERE source IS NOT NULL GROUP BY source), " +
      s"k AS (SELECT source, n, $fp AS fp FROM c), " +
      s"u AS (SELECT source, n, ${draw("fp", 7L)} AS u1, ${draw("fp", 8L)} AS u2 FROM k) " +
      "SELECT source, CAST(greatest(0, n + CAST(floor(-ln(1.0 - u1) / 1.0) - " +
      "floor(-ln(1.0 - u2) / 1.0) AS BIGINT)) AS BIGINT) AS n_noisy " +
      "FROM u ORDER BY source"
  }

  // dp_quantile replay: the clamped binning, spine cumulative ranks,
  // exact-integer utilities, the (group-fingerprint·1000 + bin)-keyed
  // hash draw, the Gumbel chain with the identical IEEE operand shapes,
  // and the (score DESC, bin) argmax.
  private lazy val dpQuantileOracle: String = {
    val (a, b) = graft.llm.Corpus.hashConstants(11L)
    val fp = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(generate_series(1, least(length(event_type), 64)), " +
      "i -> CAST(ascii(substr(event_type, i, 1)) AS BIGINT))), " +
      "(a, b) -> (a * 31 + b) % 1000000007)"
    val m3 = mix32Sql("key")
    val draw = s"(CAST(($a * (($m3) % 1000000007) + $b) % 1000000007 AS DOUBLE) / 1000000007)"
    "WITH ev AS (SELECT event_type, least(greatest(value, 0.0), 500.0) AS v " +
      "FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL), " +
      "bb AS (SELECT event_type, CAST(least(floor((v - 0.0) / 5.0), 99.0) AS BIGINT) AS bin, " +
      "count(*) AS c FROM ev GROUP BY 1, 2), " +
      "g AS (SELECT t.event_type, s.bin, coalesce(bb.c, 0) AS c " +
      "FROM (SELECT DISTINCT event_type FROM bb) t " +
      "CROSS JOIN generate_series(0, 99) s(bin) " +
      "LEFT JOIN bb ON bb.event_type = t.event_type AND bb.bin = s.bin), " +
      "r AS (SELECT event_type, bin, " +
      "sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS rnk, " +
      "sum(c) OVER (PARTITION BY event_type) AS n FROM g), " +
      s"k AS (SELECT event_type, bin, -abs(100 * rnk - 50 * n) AS u2, $fp * 1000 + bin AS key FROM r), " +
      s"u AS (SELECT event_type, bin, u2, $draw AS uu FROM k), " +
      "sc AS (SELECT event_type, bin, (1.0 / 200.0) * u2 + (-ln(-ln(uu))) AS score FROM u), " +
      "rk AS (SELECT event_type, bin, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY score DESC, bin) AS rn FROM sc) " +
      "SELECT event_type, CAST(0.0 + (bin + 1) * 5.0 AS DOUBLE) AS dp_value FROM rk WHERE rn = 1 ORDER BY event_type"
  }

  // dp_topk replay: three unrolled peeling rounds — per-round Gumbel keys
  // fingerprint(item)·31 + r, winners excluded by NOT IN, same
  // (ε/(2k))·c + Gumbel score and (score DESC, item) tiebreak.
  private lazy val dpTopKOracle: String = {
    val (a, b) = graft.llm.Corpus.hashConstants(11L)
    val fp = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(generate_series(1, least(length(item), 64)), " +
      "i -> CAST(ascii(substr(item, i, 1)) AS BIGINT))), " +
      "(x, y) -> (x * 31 + y) % 1000000007)"
    val m3 = mix32Sql("key")
    val draw = s"(CAST(($a * (($m3) % 1000000007) + $b) % 1000000007 AS DOUBLE) / 1000000007)"
    def round(r: Int): String = {
      val excl = if (r == 1) "" else
        (1 until r).map(p => s"SELECT item FROM w$p").mkString(
          "WHERE item NOT IN (", " UNION ALL ", ") ")
      s"r$r AS (SELECT item, c, $fp * 31 + $r AS key FROM c $excl), " +
        s"u$r AS (SELECT item, (1.0 / 6.0) * c + (-ln(-ln($draw))) AS s FROM r$r), " +
        s"w$r AS (SELECT item FROM u$r ORDER BY s DESC, item LIMIT 1)"
    }
    "WITH c AS (SELECT source AS item, count(*) AS c FROM documents " +
      "WHERE source IS NOT NULL GROUP BY 1), " +
      (1 to 3).map(round).mkString(", ") +
      " SELECT * FROM (SELECT CAST(1 AS INTEGER) AS rank, item FROM w1 " +
      "UNION ALL SELECT CAST(2 AS INTEGER), item FROM w2 " +
      "UNION ALL SELECT CAST(3 AS INTEGER), item FROM w3) ORDER BY rank"
  }

  // dp_mean replay: clamped 1e-4-unit sums, the group-fingerprint draws,
  // and geometric scales written with the same integer/dyadic operand
  // shapes (* 5000000 / 0.5 for the sum, * 1 / 0.5 for the count).
  private lazy val dpMeanOracle: String = {
    def draw(expr: String, seed: Long): String = {
      val (a, b) = graft.llm.Corpus.hashConstants(seed)
      val m3 = mix32Sql(expr)
      s"(CAST(($a * (($m3) % 1000000007) + $b) % 1000000007 AS DOUBLE) / 1000000007)"
    }
    val fp = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(generate_series(1, least(length(event_type), 64)), " +
      "i -> CAST(ascii(substr(event_type, i, 1)) AS BIGINT))), " +
      "(a, b) -> (a * 31 + b) % 1000000007)"
    "WITH a AS (SELECT event_type, count(*) AS n, " +
      "sum(CAST(floor(least(greatest(value, 0.0), 500.0) * 10000 + 0.5) AS BIGINT)) AS s " +
      "FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL GROUP BY event_type), " +
      s"k AS (SELECT event_type, n, s, $fp AS fp FROM a), " +
      s"u AS (SELECT event_type, n, s, ${draw("fp", 7L)} AS u1, ${draw("fp", 8L)} AS u2, " +
      s"${draw("fp", 9L)} AS u3, ${draw("fp", 10L)} AS u4 FROM k), " +
      "z AS (SELECT event_type, " +
      "s + CAST(floor(-ln(1.0 - u1) * 5000000 / 0.5) - floor(-ln(1.0 - u2) * 5000000 / 0.5) AS BIGINT) AS ns, " +
      "greatest(1, n + CAST(floor(-ln(1.0 - u3) * 1 / 0.5) - floor(-ln(1.0 - u4) * 1 / 0.5) AS BIGINT)) AS nn FROM u) " +
      "SELECT event_type, CAST(nn AS BIGINT) AS n_noisy, " +
      "round(CAST(ns AS DOUBLE) / 10000 / nn, 6) AS mean_noisy FROM z ORDER BY event_type"
  }

  // dp_histogram replay: drift_psi's binning + zero-filled spine, then the
  // dp_counts noise arithmetic keyed on the bin INDEX (no fingerprint —
  // the bin number feeds mix32 directly, as the Spark side does).
  private lazy val dpHistogramOracle: String = {
    def draw(expr: String, seed: Long): String = {
      val (a, b) = graft.llm.Corpus.hashConstants(seed)
      val m3 = mix32Sql(expr)
      s"(CAST(($a * (($m3) % 1000000007) + $b) % 1000000007 AS DOUBLE) / 1000000007)"
    }
    "WITH v AS (SELECT greatest(0, least(9, CAST(floor((value - 0.0) / 50.0) AS BIGINT))) AS bin " +
      "FROM events WHERE value IS NOT NULL), " +
      "bins AS (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS bin), " +
      "c AS (SELECT bins.bin, COALESCE(x.n, 0) AS n FROM bins LEFT JOIN " +
      "(SELECT bin, count(*) AS n FROM v GROUP BY bin) x USING (bin)), " +
      s"u AS (SELECT bin, n, ${draw("bin", 7L)} AS u1, ${draw("bin", 8L)} AS u2 FROM c) " +
      "SELECT bin, CAST(greatest(0, n + CAST(floor(-ln(1.0 - u1) / 1.0) - " +
      "floor(-ln(1.0 - u2) / 1.0) AS BIGINT)) AS BIGINT) AS n_noisy " +
      "FROM u ORDER BY bin"
  }

  // Corpus.mix32 replayed in SQL: two xorshift-multiply mixing rounds mod
  // 2^32 — exact BIGINT arithmetic in both engines.
  private def mix32Sql(in: String): String = {
    val (m32, k) = (graft.llm.Corpus.M32, graft.llm.Corpus.MixK)
    val m0 = s"($in % $m32)"
    val m1 = s"((xor($m0, $m0 >> 16) * $k) % $m32)"
    val m2 = s"((xor($m1, $m1 >> 16) * $k) % $m32)"
    s"xor($m2, $m2 >> 16)"
  }

  // doc_id hash draw shared by the sampling/mixing oracles (Corpus.hashUnit
  // with its seed-42 constants): the mix32 scatter then the affine draw.
  private lazy val hashDraw: String = {
    val (a, b) = graft.llm.Corpus.hashConstants(42L)
    val m3 = mix32Sql("doc_id")
    s"(CAST(($a * ($m3 % 1000000007) + $b) % 1000000007 AS DOUBLE) / 1000000007)"
  }

  // heavy_hitters_cms oracle: the Count-Min draw is mix32 + per-row affine
  // reductions — plain BIGINT arithmetic, replayed leg-per-depth-row; the
  // estimate is the same LEFT JOIN + MIN over (j, bucket).
  private lazy val cmsOracle: String = {
    val p = graft.functions.PolyHash.P1
    def legs(src: String, cols: String): String = (0 until 4).map { j =>
      val (a, b) = graft.llm.Corpus.hashConstants(42L + j)
      s"SELECT $cols$j AS j, ((($a * mx) + $b) % $p) % 1024 AS bucket FROM $src"
    }.mkString(" UNION ALL ")
    s"WITH e AS (SELECT (${mix32Sql("user_id")}) % $p AS mx FROM events), " +
      s"sk AS (SELECT j, bucket, count(*) AS cnt FROM (${legs("e", "")}) GROUP BY j, bucket), " +
      "m AS (SELECT user_id AS key, count(*) AS cnt_true FROM events " +
      "GROUP BY 1 ORDER BY cnt_true DESC, key LIMIT 20), " +
      s"mt AS (SELECT key, cnt_true, (${mix32Sql("key")}) % $p AS mx FROM m), " +
      s"pr AS (${legs("mt", "key, cnt_true, ")}) " +
      "SELECT pr.key, pr.cnt_true, MIN(COALESCE(sk.cnt, 0)) AS cnt_est " +
      "FROM pr LEFT JOIN sk USING (j, bucket) " +
      "GROUP BY pr.key, pr.cnt_true ORDER BY key"
  }

  private lazy val agrawalOracle: String = {
    val cs = graft.etl.Synthetic.drawConstants(1729L)
    def u(k: Int) =
      s"(CAST((${cs(k)._1} * ((id+1) % 1000000007) + ${cs(k)._2}) % 1000000007 AS DOUBLE) / 1000000007)"
    s"""WITH t AS (SELECT CAST(unnest(generate_series(0, 999)) AS BIGINT) AS id),
      |g AS (SELECT id, 20000.0 + 130000.0 * ${u(0)} AS salary,
      |  CAST(floor(${u(5)} * 9) AS INTEGER) AS zipcode FROM t)
      |SELECT g.id AS id, salary,
      |  CASE WHEN salary >= 75000.0 THEN 0.0 ELSE 10000.0 + 65000.0 * ${u(1)} END AS commission,
      |  CAST(20 + floor(${u(2)} * 61) AS INTEGER) AS age,
      |  CAST(floor(${u(3)} * 5) AS INTEGER) AS elevel,
      |  CAST(1 + floor(${u(4)} * 20) AS INTEGER) AS car,
      |  zipcode,
      |  CAST(floor((zipcode + 1) * 100000.0 * (0.5 + ${u(6)})) AS INTEGER) AS hvalue,
      |  CAST(1 + floor(${u(7)} * 30) AS INTEGER) AS hyears,
      |  ${u(8)} * 500000.0 AS loan
      |FROM g ORDER BY id""".stripMargin.replace("\n", " ")
  }

  private lazy val annLshOracle: String = {
    // The 8 hyperplanes as double literals (PolyHash.planeComponent — the
    // exact values the native expression uses; shortest-round-trip decimal
    // parses back to the identical bits). The bucket-key dot product is a
    // sequential left fold, the same accumulation order as the expression's
    // loop, so every sign decision is bitwise identical cross-engine.
    val values = graft.functions.PolyHash.planes(8, 64).zipWithIndex.map {
      case (row, p) => s"($p, [${row.mkString(",")}]::DOUBLE[])"
    }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pl AS (SELECT * FROM (VALUES $values) AS t(p, pv)),
      |keys AS (SELECT vec_id, CAST(sum(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |  list_transform(generate_series(1,64), i -> v[i]*pv[i])), (a,b) -> a+b) > 0
      |  THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bkey FROM e, pl GROUP BY vec_id),
      |q AS (SELECT k.bkey AS qkey, e.v AS qv FROM keys k JOIN e USING (vec_id) ORDER BY vec_id LIMIT 1),
      |probes AS (SELECT qkey AS bkey, qv FROM q UNION ALL
      |  SELECT xor(qkey, CAST(1 AS BIGINT) << b), qv FROM q, (SELECT unnest(generate_series(0,7)) AS b))
      |SELECT e.vec_id AS vec_id, round(list_inner_product(e.v, p2.qv) /
      |  (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(p2.qv, p2.qv))), 6) AS sim
      |FROM keys k JOIN e USING (vec_id) JOIN probes p2 ON k.bkey = p2.bkey
      |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin.replace("\n", " ")
  }

  private val allStop: String = TextStats.stopwords.values.flatten.toSeq
    .distinct.sorted.map(w => s"'$w'").mkString("[", ",", "]")

  private def stopList(lang: String): String =
    TextStats.stopwords(lang).map(w => s"'$w'").mkString("[", ",", "]")

  // TextStats.qualityScore replayed in SQL (identical to the quality_score
  // oracle body) — shared by the weighted-sample / budget-cut oracles.
  private lazy val qualityExprSql: String =
    "round(0.3 * least(1.0, length(text) / 500.0) + " +
      "0.4 * (len(list_distinct(string_split(text,' '))) * 1.0 / len(string_split(text,' '))) + " +
      s"0.3 * (len(list_filter(string_split(text,' '), t -> list_contains($allStop, t))) * 1.0 / " +
      "len(string_split(text,' '))), 4)"

  // The bpe_tokens oracle's merge table is GENERATED from the same Scala
  // constant the query uses, so engine and oracle can never drift.
  private lazy val bpeOracleSql: String = {
    val k = graft.llm.Bpe.CoreEnglishMerges.length
    val values = graft.llm.Bpe.CoreEnglishMerges.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1},'$a','$b')" }.mkString(", ")
    // encodes each DISTINCT word once (the recursive fold is the expensive
    // part — 280× cheaper than per-occurrence) and joins counts back
    s"WITH RECURSIVE m(r, a, b) AS (SELECT * FROM (VALUES $values)), " +
      "w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
      "wc AS (SELECT doc_id, word, count(*) AS c FROM w WHERE word <> '' GROUP BY doc_id, word), " +
      "v AS (SELECT DISTINCT word FROM wc), " +
      "it(word, s, r) AS (" +
      "SELECT word, regexp_split_to_array(word, ''), 1 FROM v UNION ALL " +
      "SELECT it.word, CASE WHEN len(it.s) < 2 THEN it.s ELSE " +
      "list_reduce(list_transform(it.s, x -> [x]), (acc, x) -> " +
      "CASE WHEN len(acc) >= 1 AND acc[len(acc)] = m.a AND x[1] = m.b " +
      "THEN acc[1:len(acc)-1] || [m.a || m.b] ELSE acc || x END) END, it.r + 1 " +
      s"FROM it JOIN m ON m.r = it.r WHERE it.r <= $k) " +
      "SELECT d.doc_id, CAST(COALESCE(x.n, 0) AS BIGINT) AS n_bpe FROM documents d " +
      "LEFT JOIN (SELECT wc.doc_id, SUM(wc.c * len(it.s)) AS n FROM wc " +
      s"JOIN it ON it.word = wc.word AND it.r = ${k + 1} GROUP BY wc.doc_id) x " +
      "USING (doc_id) ORDER BY doc_id"
  }

  // bpe_encode oracle: the bpe_tokens recursive fold, but emitting every
  // final symbol at its document-order position — per-word symbolizations
  // join back to the (doc, wordIndex) relation, and a per-doc keyed window
  // turns word-local symbol indexes into the global token position.
  // Symbolization prefix shared by bpe_encode and tokenizer_fertility:
  // per-doc word stream pw(doc_id, i, word) and every distinct word's
  // merged subword list fin(word, s) after the k training merges.
  private lazy val bpeSymbolizeCte: String = {
    val k = graft.llm.Bpe.CoreEnglishMerges.length
    val values = graft.llm.Bpe.CoreEnglishMerges.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1},'$a','$b')" }.mkString(", ")
    s"WITH RECURSIVE m(r, a, b) AS (SELECT * FROM (VALUES $values)), " +
      "toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk FROM documents), " +
      "tv AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0), " +
      "pw AS (SELECT doc_id, i, tk[i] AS word FROM " +
      "(SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM tv)), " +
      "v AS (SELECT DISTINCT word FROM pw), " +
      "it(word, s, r) AS (" +
      "SELECT word, regexp_split_to_array(word, ''), 1 FROM v UNION ALL " +
      "SELECT it.word, CASE WHEN len(it.s) < 2 THEN it.s ELSE " +
      "list_reduce(list_transform(it.s, x -> [x]), (acc, x) -> " +
      "CASE WHEN len(acc) >= 1 AND acc[len(acc)] = m.a AND x[1] = m.b " +
      "THEN acc[1:len(acc)-1] || [m.a || m.b] ELSE acc || x END) END, it.r + 1 " +
      s"FROM it JOIN m ON m.r = it.r WHERE it.r <= $k), " +
      s"fin AS (SELECT word, s FROM it WHERE r = ${k + 1})"
  }

  private lazy val bpeEncodeOracleSql: String = {
    bpeSymbolizeCte +
      ", wp AS (SELECT pw.doc_id, pw.i, f.s, len(f.s) AS ns FROM pw JOIN fin f USING (word)), " +
      "off AS (SELECT doc_id, i, s, COALESCE(SUM(ns) OVER (PARTITION BY doc_id " +
      "ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o FROM wp) " +
      "SELECT doc_id, CAST(o + j - 1 AS BIGINT) AS pos, s[j] AS sym " +
      "FROM (SELECT doc_id, o, s, unnest(generate_series(1, len(s))) AS j FROM off) " +
      "ORDER BY doc_id, pos"
  }

  // fertility replay: per-doc word and subtoken counts off the shared
  // symbolization, LEFT-joined back onto documents (empty-token docs
  // contribute zeros on both engines), aggregated per language.
  private lazy val tokenizerFertilityOracleSql: String =
    bpeSymbolizeCte +
      ", wn AS (SELECT pw.doc_id, count(*) AS w, CAST(sum(len(f.s)) AS BIGINT) AS sub " +
      "FROM pw JOIN fin f USING (word) GROUP BY pw.doc_id), " +
      "l AS (SELECT d.lang, coalesce(wn.sub, 0) AS sub, coalesce(wn.w, 0) AS w " +
      "FROM documents d LEFT JOIN wn ON d.doc_id = wn.doc_id) " +
      "SELECT lang, CAST(sum(sub) AS BIGINT) AS n_subtokens, " +
      "CAST(sum(w) AS BIGINT) AS n_words, " +
      "CASE WHEN sum(w) > 0 THEN round(CAST(sum(sub) AS DOUBLE) / sum(w), 6) END AS fertility " +
      "FROM l GROUP BY lang ORDER BY lang"

  // bpe_train oracle: 8 training rounds UNROLLED as a CTE chain (recursive
  // CTEs cannot aggregate over their own working table, and each round
  // needs a global argmax over the pair counts). Round r: weighted
  // adjacent-pair counts over v(r−1)'s symbolizations → best pair by
  // (count DESC, a, b) → one leftmost-greedy merge fold (the bpe_tokens
  // oracle's list_reduce, capturing the joined best-pair row).
  // Unigram-encode replay: rebuild the seed vocabulary with plain
  // aggregates (substring explode of the distinct-word relation, top-200
  // by count DESC / piece ASC plus all single chars, micro-nat costs
  // against the selected total), then run the Viterbi DP as a RECURSIVE
  // CTE over word positions — each recursion step appends dp[e+1] =
  // min over candidate pieces ending at e+1 of dp[start] + cost·2^20 + 1.
  // The combined objective's optimum VALUE is unique, so the (cost,
  // n_pieces) split (// and % by 2^20) is tie-free cross-engine.
  // The gate's blocklist: common corpus words plus multi-word phrases
  // (phrases exercise cross-word matching; 'low' nests inside 'slow' to
  // exercise overlapping/suffix hits).
  private val blocklistPatterns =
    Seq("slow", "low", "dup", "merge slow", "slow small")

  private lazy val blocklistFilterOracleSql: String = {
    val pats = blocklistPatterns.map(p => s"('$p')").mkString(", ")
    s"WITH p(pat) AS (VALUES $pats), " +
      "d AS (SELECT doc_id, text FROM documents), " +
      "pos AS (SELECT doc_id, CAST(unnest(range(1, len(text) + 1)) AS INT) AS j, text FROM d), " +
      "m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM pos " +
      "JOIN p ON substr(pos.text, pos.j, len(p.pat)) = p.pat GROUP BY doc_id) " +
      "SELECT d.doc_id, coalesce(m.n, 0) AS n_matches, " +
      "coalesce(m.n, 0) <= 0 AS kept " +
      "FROM d LEFT JOIN m USING (doc_id) ORDER BY d.doc_id"
  }

  private lazy val unigramBestCte: String = {
    val (ln, k, sc) = (6, 200, graft.llm.Unigram.Scale)
    s"""WITH RECURSIVE
       |w0 AS (SELECT unnest(string_split(text, ' ')) AS w, doc_id FROM documents),
       |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM w0 WHERE w <> '' GROUP BY w),
       |wi AS (SELECT w, f, CAST(unnest(generate_series(1, len(w))) AS INT) AS i FROM wf),
       |wil AS (SELECT w, f, i, CAST(unnest(generate_series(1, least($ln, len(w) - i + 1))) AS INT) AS l FROM wi),
       |subs AS (SELECT substr(w, i, l) AS piece, SUM(f) AS cnt FROM wil GROUP BY 1),
       |sel AS (SELECT piece, cnt FROM (
       |  SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn FROM subs)
       |  WHERE rn <= $k OR len(piece) = 1),
       |tot AS (SELECT SUM(cnt) AS t FROM sel),
       |costs AS (SELECT piece, CAST(floor(1000000 * ln(CAST(t AS DOUBLE) / cnt) + 0.5) AS BIGINT) AS c FROM sel, tot),
       |cand AS (SELECT wd.w, wd.i, wd.i + wd.l - 1 AS e, costs.c
       |  FROM (SELECT DISTINCT w, i, l FROM wil) wd
       |  JOIN costs ON costs.piece = substr(wd.w, wd.i, wd.l)),
       |vit(w, e, dps) AS (
       |  SELECT w, 0, [CAST(0 AS BIGINT)] FROM wf
       |  UNION ALL
       |  SELECT v.w, v.e + 1, list_append(v.dps,
       |    (SELECT MIN(v.dps[c.i] + $sc * c.c + 1) FROM cand c WHERE c.w = v.w AND c.e = v.e + 1))
       |  FROM vit v WHERE v.e < len(v.w)),
       |best AS (SELECT w, dps[len(w) + 1] AS obj FROM vit WHERE e = len(w))"""
      .stripMargin.replace("\n", " ")
  }

  private lazy val unigramEncodeOracleSql: String = {
    val sc = graft.llm.Unigram.Scale
    unigramBestCte +
      s" SELECT doc_id, CAST(SUM(obj % $sc) AS BIGINT) AS n_pieces, " +
      s"CAST(SUM(obj // $sc) AS BIGINT) AS cost " +
      "FROM w0 JOIN best ON w0.w = best.w GROUP BY doc_id ORDER BY doc_id"
  }

  // Per-lang unigram fertility: per-doc word and piece totals from the
  // same best relation, LEFT JOIN so wordless docs contribute zeros.
  private lazy val unigramFertilityOracleSql: String = {
    val sc = graft.llm.Unigram.Scale
    unigramBestCte +
      s", wn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS w, " +
      s"CAST(SUM(obj % $sc) AS BIGINT) AS p " +
      "FROM w0 JOIN best ON w0.w = best.w GROUP BY doc_id), " +
      "l AS (SELECT d.lang, coalesce(wn.p, 0) AS p, coalesce(wn.w, 0) AS w " +
      "FROM documents d LEFT JOIN wn ON d.doc_id = wn.doc_id) " +
      "SELECT lang, CAST(sum(p) AS BIGINT) AS n_pieces, " +
      "CAST(sum(w) AS BIGINT) AS n_words, " +
      "CASE WHEN sum(w) > 0 THEN round(CAST(sum(p) AS DOUBLE) / sum(w), 6) END AS fertility " +
      "FROM l GROUP BY lang ORDER BY lang"
  }

  private lazy val bpeTrainOracleSql: String = {
    val k = 8
    def fold(a: String, b: String) =
      "list_reduce(list_transform(s, x -> [x]), (acc, x) -> " +
        s"CASE WHEN len(acc) >= 1 AND acc[len(acc)] = $a AND x[1] = $b " +
        s"THEN acc[1:len(acc)-1] || [$a || $b] ELSE acc || x END)"
    val rounds = (1 to k).map { r =>
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"pc$r AS (SELECT s[i] AS a, s[i+1] AS b, SUM(n) AS c FROM " +
        s"(SELECT n, s, unnest(generate_series(1, len(s) - 1)) AS i FROM $prev) " +
        "GROUP BY 1, 2), " +
        s"best$r AS (SELECT a, b FROM pc$r ORDER BY c DESC, a, b LIMIT 1), " +
        s"v$r AS (SELECT word, n, CASE WHEN len(s) < 2 THEN s ELSE " +
        s"${fold(s"b$r.a", s"b$r.b")} END AS s FROM $prev, best$r b$r)"
    }.mkString(", ")
    "WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), " +
      "v0 AS (SELECT word, count(*) AS n, regexp_split_to_array(word, '') AS s " +
      "FROM w WHERE word <> '' GROUP BY word), " + rounds + ", " +
      "m AS (" + (1 to k).map(r => s"SELECT $r AS rank, a, b FROM best$r")
        .mkString(" UNION ALL ") + ") " +
      "SELECT rank, a, b FROM m ORDER BY rank"
  }

  // quality_model oracle generated from the same literal model the query
  // uses (exact 6-dp decimal weight strings parse to the identical doubles)
  // The demo model's scoring EXPRESSION over a relation exposing `toks`
  // (nonempty whitespace tokens) — shared by quality_model and the
  // model_calibration readout so engine and oracle can never drift.
  private lazy val qualityModelScoreSql: String = {
    val m = graft.llm.QualityModel.CoreDemoModel
    val wl = m.weights.map(w => f"$w%.6f").mkString("[", ", ", "]")
    f"round(1/(1 + exp(-(${m.bias}%.6f + CASE WHEN len(toks) = 0 THEN 0.0 ELSE " +
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(toks, tk -> " +
      s"$wl[1 + CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(generate_series(1, length(tk)), j -> CAST(ascii(substr(tk,j,1)) AS BIGINT))), " +
      s"(a,b) -> (a*31+b)%1000000007) % ${m.dim} AS INT)])), " +
      "(a,b) -> a + b) / len(toks) END))), 6)"
  }

  private lazy val qualityModelOracleSql: String =
    "WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), tk -> tk <> '') AS toks FROM documents) " +
      s"SELECT doc_id, $qualityModelScoreSql AS q_model FROM t ORDER BY doc_id"

  // calibration replay: both scores from their proven expressions (model
  // 6 dp, heuristic 4 dp), micro-unit exact per-bin means.
  private lazy val modelCalibrationOracleSql: String =
    "WITH t AS (SELECT doc_id, text, list_filter(string_split(text, ' '), tk -> tk <> '') AS toks FROM documents), " +
      s"s AS (SELECT $qualityModelScoreSql AS qm, $qualityExprSql AS qh FROM t), " +
      "b AS (SELECT least(9, CAST(floor(qm * 10) AS BIGINT)) AS bin, " +
      "CAST(floor(qm * 1000000 + 0.5) AS BIGINT) AS m, " +
      "CAST(floor(qh * 1000000 + 0.5) AS BIGINT) AS h FROM s) " +
      "SELECT bin, CAST(count(*) AS BIGINT) AS n, " +
      "round(CAST(sum(m) AS DOUBLE) / 1000000 / count(*), 6) AS mean_model, " +
      "round(CAST(sum(h) AS DOUBLE) / 1000000 / count(*), 6) AS mean_heur " +
      "FROM b GROUP BY bin ORDER BY bin"

  // The per-(query, doc) micro-score CTE chain shared by the BM25
  // retrieval and hard-negative oracles — mirrors Search.perQueryMicroScores
  // (j carries both the summed micro score and the matched-term count).
  private lazy val bm25ScoreCtes: String =
    "WITH q(query_id, term) AS (VALUES (1, 'spark'), (1, 'window'), (1, 'agg'), " +
      "(2, 'customer'), (2, 'stream'), (2, 'join'), " +
      "(3, 'vector'), (3, 'table'), (3, 'scan'), " +
      "(4, 'slow'), (4, 'fast'), (4, 'merge'), " +
      "(5, 'data'), (5, 'query'), (5, 'the')), " +
      "t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "l AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM t), " +
      "st AS (SELECT count(*) AS n_docs, SUM(dl) AS sum_dl FROM l), " +
      "u AS (SELECT doc_id, unnest(w) AS term FROM t), " +
      "tf AS (SELECT doc_id, term, count(*) AS tf FROM u " +
      "WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term), " +
      "df AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
      "sc AS (SELECT tf.doc_id, tf.term, " +
      "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) / " +
      "(tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs))) AS s " +
      "FROM tf JOIN df USING (term) JOIN l ON l.doc_id = tf.doc_id CROSS JOIN st), " +
      "m AS (SELECT doc_id, term, CASE WHEN s * 1000000.0 >= 0 " +
      "THEN floor(s * 1000000.0 + 0.5) " +
      "ELSE -floor(-(s * 1000000.0) + 0.5) END AS t FROM sc), " +
      "j AS (SELECT q.query_id, m.doc_id, SUM(t) AS s, " +
      "CAST(count(*) AS BIGINT) AS n_match FROM m JOIN q USING (term) " +
      "GROUP BY 1, 2)"

  private lazy val bm25QueriesOracleSql: String =
    bm25ScoreCtes +
      ", rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id " +
      "ORDER BY s DESC, doc_id) AS rank FROM j) " +
      "SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, " +
      "CAST(rank AS BIGINT) AS rank, round(s / 1000000.0, 6) AS score " +
      "FROM rk WHERE rank <= 5 ORDER BY query_id, rank"

  // Hard negatives: the same scored relation restricted to docs matching
  // strictly fewer than the query's distinct term count, re-ranked.
  private lazy val hardNegativesOracleSql: String =
    bm25ScoreCtes +
      ", nq AS (SELECT query_id, count(*) AS n_q FROM q GROUP BY 1), " +
      "rk AS (SELECT j.*, ROW_NUMBER() OVER (PARTITION BY j.query_id " +
      "ORDER BY s DESC, doc_id) AS rank FROM j JOIN nq USING (query_id) " +
      "WHERE n_match < n_q) " +
      "SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, " +
      "CAST(rank AS BIGINT) AS rank, round(s / 1000000.0, 6) AS score, " +
      "n_match FROM rk WHERE rank <= 5 ORDER BY query_id, rank"

  // model_eval replay: per-distinct-micro-score label counts, the exclusive
  // cumulative-negatives window, and the same clamp/ln/floor operand shapes
  // (the clamp bound is written 1.0 - 0.000001 so both engines compute it
  // from the identical 1e-6 double instead of parsing a decimal literal).
  private lazy val modelEvalOracleSql: String = {
    val clamp = "greatest(0.000001, least(1.0 - 0.000001, CAST(q AS DOUBLE) / 1000000))"
    "WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), tk -> tk <> '') AS toks FROM documents), " +
      s"sc AS (SELECT doc_id, $qualityModelScoreSql AS s FROM t), " +
      "q AS (SELECT CAST(floor(s * 1000000 + 0.5) AS BIGINT) AS q, doc_id % 2 AS y FROM sc), " +
      "g AS (SELECT q, CAST(sum(y) AS BIGINT) AS n1, CAST(sum(1 - y) AS BIGINT) AS n0 FROM q GROUP BY q), " +
      "c AS (SELECT q, n1, n0, " +
      "COALESCE(SUM(n0) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0, " +
      s"n1 * CAST(floor(-ln($clamp) * 1000000 + 0.5) AS BIGINT) + " +
      s"n0 * CAST(floor(-ln(1.0 - $clamp) * 1000000 + 0.5) AS BIGINT) AS ll, " +
      "CASE WHEN q >= 500000 THEN n1 ELSE n0 END AS ok FROM g) " +
      "SELECT CAST(sum(n1 + n0) AS BIGINT) AS n, " +
      "round(CAST(sum(ok) AS DOUBLE) / sum(n1 + n0), 6) AS accuracy, " +
      "round(CAST(sum(ll) AS DOUBLE) / 1000000 / sum(n1 + n0), 6) AS log_loss, " +
      "CASE WHEN sum(n1) > 0 AND sum(n0) > 0 THEN " +
      "round(CAST(sum(n1 * (2 * cum0 + n0)) AS DOUBLE) / (2.0 * sum(n1) * sum(n0)), 6) END AS auc " +
      "FROM c"
  }

  // quality_train oracle: the whole distributed-training run replayed —
  // hashed features once up front, then 3 unrolled epochs, each: ordered
  // per-doc raw fold under the previous epoch's weight list → sigmoid
  // gradient → micro-unit contribution sums → the identical weight-update
  // float chain. Missing-gradient indexes subtract an exact 0.0 (bitwise
  // no-op, same as the Scala side not touching them).
  private lazy val qualityTrainOracleSql: String = {
    val (dim, epochs, lr) = (32, 3, 0.5)
    val h1 = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(generate_series(1, length(tk)), j -> CAST(ascii(substr(tk,j,1)) AS BIGINT))), " +
      "(a,b) -> (a*31+b)%1000000007)"
    def micro(x: String) =
      s"CASE WHEN ($x) * 1000000.0 >= 0 THEN floor(($x) * 1000000.0 + 0.5) " +
        s"ELSE -floor(-(($x) * 1000000.0) + 0.5) END"
    val epochCtes = (1 to epochs).map { e =>
      val p = s"w${e - 1}"
      s"wl$e AS (SELECT list(w ORDER BY idx) AS wl FROM $p WHERE idx >= 0), " +
        s"bb$e AS (SELECT w AS b FROM $p WHERE idx = -1), " +
        s"gd$e AS (SELECT doc_id, y, n, fs, 1/(1 + exp(-(list_reduce(list_prepend(b, " +
        s"list_transform(fs, f -> wl[f.i + 1] * (f.c / n))), (a,x) -> a + x)))) - y AS g " +
        s"FROM docs0, wl$e, bb$e), " +
        s"gs$e AS (SELECT f.i AS idx, SUM(${micro("g * (f.c / n)")}) AS s " +
        s"FROM (SELECT g, n, unnest(fs) AS f FROM gd$e) GROUP BY 1 " +
        s"UNION ALL SELECT -1 AS idx, SUM(${micro("g")}) AS s FROM gd$e), " +
        s"w$e AS (SELECT w.idx, w.w - $lr * ((CAST(COALESCE(g.s, 0) AS DOUBLE) / 1000000.0) / ns.n) AS w " +
        s"FROM $p w LEFT JOIN gs$e g USING (idx) CROSS JOIN ns)"
    }.mkString(", ")
    "WITH t0 AS (SELECT doc_id, CAST(doc_id % 2 AS DOUBLE) AS y, " +
      "list_filter(string_split(text, ' '), tk -> tk <> '') AS toks FROM documents), " +
      "lab AS (SELECT doc_id, y, len(toks) AS n FROM t0), " +
      "tok AS (SELECT doc_id, unnest(toks) AS tk FROM t0), " +
      s"fi AS (SELECT doc_id, CAST($h1 % $dim AS INTEGER) AS i FROM tok), " +
      "fc AS (SELECT doc_id, i, CAST(count(*) AS DOUBLE) AS c FROM fi GROUP BY doc_id, i), " +
      "fl AS (SELECT doc_id, list(struct_pack(i := i, c := c) ORDER BY i) AS fs FROM fc GROUP BY doc_id), " +
      "docs0 AS (SELECT l.doc_id, l.y, l.n, " +
      "COALESCE(f.fs, CAST([] AS STRUCT(i INTEGER, c DOUBLE)[])) AS fs " +
      "FROM lab l LEFT JOIN fl f USING (doc_id)), " +
      "ns AS (SELECT count(*) AS n FROM documents), " +
      s"w0 AS (SELECT CAST(unnest(generate_series(-1, ${dim - 1})) AS INTEGER) AS idx, " +
      "CAST(0.0 AS DOUBLE) AS w), " + epochCtes + " " +
      s"SELECT idx, round(w, 6) AS w FROM w$epochs ORDER BY idx"
  }

  // Shared CDC oracle plumbing: the chunk relation `ch(doc_id, idx, len,
  // hash)` from the boundary-rule + chunk-hash restatement, and the
  // per-doc ledger select over a ranked relation `rk(doc_id, len, rn)`.
  private val cdcChunkCte: String =
    "WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0), " +
      "p AS (SELECT doc_id, text, unnest(generate_series(8, n)) AS i FROM d WHERE n >= 8), " +
      "b AS (SELECT doc_id, i FROM p WHERE list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(generate_series(i - 7, i), j -> CAST(ascii(substr(text, j, 1)) AS BIGINT))), " +
      "(a, c) -> (a * 31 + c) % 1000000007) % 64 = 63), " +
      "cl AS (SELECT d.doc_id, d.text, " +
      "list_sort(list_distinct(coalesce(list(b.i), CAST([] AS BIGINT[])) || [CAST(d.n AS BIGINT)])) AS ends " +
      "FROM d LEFT JOIN b ON b.doc_id = d.doc_id GROUP BY d.doc_id, d.text, d.n), " +
      "ck0 AS (SELECT doc_id, text, ends, unnest(generate_series(1, len(ends))) AS k FROM cl), " +
      "ck AS (SELECT doc_id, text, k AS idx, " +
      "CASE WHEN k = 1 THEN 1 ELSE CAST(ends[k - 1] AS INTEGER) + 1 END AS s, " +
      "CAST(ends[k] AS INTEGER) AS e FROM ck0), " +
      "ch AS (SELECT doc_id, idx, e - s + 1 AS len, " +
      "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(s, e), " +
      "j -> CAST(ascii(substr(text, j, 1)) AS BIGINT))), (a, c) -> (a * 31 + c) % 1000000007) AS hash " +
      "FROM ck)"

  private def cdcLedgerSelect(where: String): String =
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks, CAST(sum(len) AS BIGINT) AS n_chars, " +
      "CAST(coalesce(sum(CASE WHEN rn > 1 THEN len END), 0) AS BIGINT) AS dup_chars, " +
      "round(coalesce(sum(CASE WHEN rn > 1 THEN len END), 0) * 1.0 / sum(len), 6) AS dup_ratio " +
      s"FROM rk $where GROUP BY doc_id"

  // lm_score oracle: the full train + score replay — distributed n-gram
  // counting is plain GROUP BY, backoff is the same CASE, terms are the
  // same micro-unit integers (ln(s)/ln(10), binary-value round). The CTE
  // chain (through the per-position micro terms `tm`) is shared with the
  // perplexity_buckets oracle.
  private val lmScoreCte: String =
    "WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk FROM documents), " +
      "tv AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0), " +
      "u0 AS (SELECT unnest(tk) AS g FROM tv), " +
      "u AS (SELECT g, count(*) AS c FROM u0 GROUP BY g), " +
      "nn AS (SELECT count(*) AS n FROM u0), " +
      "b0 AS (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM tv WHERE len(tk) >= 2), " +
      "big AS (SELECT array_to_string(tk[i:i+1], ' ') AS g, count(*) AS c FROM b0 GROUP BY 1), " +
      "p0 AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM tv), " +
      "pos AS (SELECT doc_id, i, tk[i] AS w1, " +
      "CASE WHEN i >= 2 THEN array_to_string(tk[i-1:i], ' ') END AS g2, " +
      "CASE WHEN i >= 2 THEN tk[i-1] END AS c2 FROM p0), " +
      "sc AS (SELECT pos.doc_id, " +
      "CASE WHEN i >= 2 AND b.c IS NOT NULL THEN CAST(b.c AS DOUBLE) / cu.c " +
      "WHEN u1.c IS NOT NULL THEN (CAST(u1.c AS DOUBLE) / nn.n) * (CASE WHEN i >= 2 THEN 0.4 ELSE 1.0 END) " +
      "ELSE (1.0 / nn.n) * (CASE WHEN i >= 2 THEN 0.4 ELSE 1.0 END) END AS s " +
      "FROM pos LEFT JOIN big b ON b.g = pos.g2 LEFT JOIN u cu ON cu.g = pos.c2 " +
      "LEFT JOIN u u1 ON u1.g = pos.w1 CROSS JOIN nn), " +
      "tm AS (SELECT doc_id, CASE WHEN ln(s)/ln(10) * 1000000.0 >= 0 " +
      "THEN floor(ln(s)/ln(10) * 1000000.0 + 0.5) " +
      "ELSE -floor(-(ln(s)/ln(10) * 1000000.0) + 0.5) END AS t FROM sc)"

  private val lmScoreOracleSql: String =
    lmScoreCte + " SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok, " +
      "round(-SUM(t)/(count(*) * 1000000.0), 6) AS lm_score " +
      "FROM tm GROUP BY doc_id ORDER BY doc_id"

  // dsir_weights oracle: the lm_score chain TWICE — raw counts (u/big/nn,
  // shared CTE) and target counts over the English slice (ut/bigt/nnt) —
  // scoring the same position relation under both, then the gap of the
  // two 6-dp-rounded means. The nnt.n > 0 guard mirrors dsirWeights'
  // empty-target contract.
  private val dsirOracleSql: String =
    lmScoreCte +
      ", tokst AS (SELECT doc_id, list_filter(string_split(text, ' '), t2 -> t2 <> '') AS tk " +
      "FROM documents WHERE lang = 'en'), " +
      "tvt AS (SELECT doc_id, tk FROM tokst WHERE len(tk) > 0), " +
      "u0t AS (SELECT unnest(tk) AS g FROM tvt), " +
      "ut AS (SELECT g, count(*) AS c FROM u0t GROUP BY g), " +
      "nnt AS (SELECT count(*) AS n FROM u0t), " +
      "b0t AS (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM tvt WHERE len(tk) >= 2), " +
      "bigt AS (SELECT array_to_string(tk[i:i+1], ' ') AS g, count(*) AS c FROM b0t GROUP BY 1), " +
      "sct AS (SELECT pos.doc_id, " +
      "CASE WHEN i >= 2 AND b.c IS NOT NULL THEN CAST(b.c AS DOUBLE) / cu.c " +
      "WHEN u1.c IS NOT NULL THEN (CAST(u1.c AS DOUBLE) / nnt.n) * (CASE WHEN i >= 2 THEN 0.4 ELSE 1.0 END) " +
      "ELSE (1.0 / nnt.n) * (CASE WHEN i >= 2 THEN 0.4 ELSE 1.0 END) END AS s " +
      "FROM pos LEFT JOIN bigt b ON b.g = pos.g2 LEFT JOIN ut cu ON cu.g = pos.c2 " +
      "LEFT JOIN ut u1 ON u1.g = pos.w1 CROSS JOIN nnt), " +
      "tmt AS (SELECT doc_id, CASE WHEN ln(s)/ln(10) * 1000000.0 >= 0 " +
      "THEN floor(ln(s)/ln(10) * 1000000.0 + 0.5) " +
      "ELSE -floor(-(ln(s)/ln(10) * 1000000.0) + 0.5) END AS t FROM sct), " +
      "aggr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok, " +
      "round(-SUM(t)/(count(*) * 1000000.0), 6) AS lr FROM tm GROUP BY doc_id), " +
      "aggt AS (SELECT doc_id, round(-SUM(t)/(count(*) * 1000000.0), 6) AS lt FROM tmt GROUP BY doc_id) " +
      "SELECT aggr.doc_id AS doc_id, n_tok, round(lr - lt, 6) AS dsir_logratio " +
      "FROM aggr JOIN aggt ON aggr.doc_id = aggt.doc_id " +
      "WHERE (SELECT n FROM nnt) > 0 ORDER BY aggr.doc_id"

  // perplexity_buckets oracle: the lm_score replay, then the literal SQL
  // ntile(3) on (lm_score, doc_id) — the exact division exactNtile
  // reproduces without a global window.
  private val perplexityBucketsOracleSql: String =
    lmScoreCte +
      ", lm AS (SELECT doc_id, round(-SUM(t)/(count(*) * 1000000.0), 6) AS lm_score " +
      "FROM tm GROUP BY doc_id), " +
      "b AS (SELECT doc_id, lm_score, " +
      "ntile(3) OVER (ORDER BY lm_score, doc_id) AS nt FROM lm) " +
      "SELECT doc_id, lm_score, CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' " +
      "ELSE 'tail' END AS bucket FROM b ORDER BY doc_id"

  // lm_score_tri oracle: the order-3 replay. Same count tables plus the
  // trigram relation; the backoff CASE picks the largest available order and
  // multiplies the drop penalty as REPEATED LITERAL PRODUCTS (0.4*0.4), the
  // exact construction NgramLm.alphaPow uses — never libm pow().
  private val lmScoreTriOracleSql: String =
    "WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk FROM documents), " +
      "tv AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0), " +
      "u0 AS (SELECT unnest(tk) AS g FROM tv), " +
      "u AS (SELECT g, count(*) AS c FROM u0 GROUP BY g), " +
      "nn AS (SELECT count(*) AS n FROM u0), " +
      "b0 AS (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM tv WHERE len(tk) >= 2), " +
      "big AS (SELECT array_to_string(tk[i:i+1], ' ') AS g, count(*) AS c FROM b0 GROUP BY 1), " +
      "t0 AS (SELECT tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM tv WHERE len(tk) >= 3), " +
      "tri AS (SELECT array_to_string(tk[i:i+2], ' ') AS g, count(*) AS c FROM t0 GROUP BY 1), " +
      "p0 AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM tv), " +
      "pos AS (SELECT doc_id, i, tk[i] AS w1, " +
      "CASE WHEN i >= 2 THEN array_to_string(tk[i-1:i], ' ') END AS g2, " +
      "CASE WHEN i >= 2 THEN tk[i-1] END AS c2, " +
      "CASE WHEN i >= 3 THEN array_to_string(tk[i-2:i], ' ') END AS g3, " +
      "CASE WHEN i >= 3 THEN array_to_string(tk[i-2:i-1], ' ') END AS c3 FROM p0), " +
      "sc AS (SELECT pos.doc_id, " +
      "CASE WHEN i >= 3 AND t3.c IS NOT NULL THEN CAST(t3.c AS DOUBLE) / b3.c " +
      "WHEN i >= 2 AND b.c IS NOT NULL THEN (CAST(b.c AS DOUBLE) / cu.c) * (CASE WHEN i >= 3 THEN 0.4 ELSE 1.0 END) " +
      "WHEN u1.c IS NOT NULL THEN (CAST(u1.c AS DOUBLE) / nn.n) * (CASE WHEN i >= 3 THEN 0.4*0.4 WHEN i = 2 THEN 0.4 ELSE 1.0 END) " +
      "ELSE (1.0 / nn.n) * (CASE WHEN i >= 3 THEN 0.4*0.4 WHEN i = 2 THEN 0.4 ELSE 1.0 END) END AS s " +
      "FROM pos LEFT JOIN tri t3 ON t3.g = pos.g3 LEFT JOIN big b3 ON b3.g = pos.c3 " +
      "LEFT JOIN big b ON b.g = pos.g2 LEFT JOIN u cu ON cu.g = pos.c2 " +
      "LEFT JOIN u u1 ON u1.g = pos.w1 CROSS JOIN nn), " +
      "tm AS (SELECT doc_id, CASE WHEN ln(s)/ln(10) * 1000000.0 >= 0 " +
      "THEN floor(ln(s)/ln(10) * 1000000.0 + 0.5) " +
      "ELSE -floor(-(ln(s)/ln(10) * 1000000.0) + 0.5) END AS t FROM sc) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok, " +
      "round(-SUM(t)/(count(*) * 1000000.0), 6) AS lm_score " +
      "FROM tm GROUP BY doc_id ORDER BY doc_id"

  def oracleSql: Map[String, String] = Map(
    "bpe_tokens" -> bpeOracleSql,
    "bpe_encode" -> bpeEncodeOracleSql,
    "tokenizer_fertility" -> tokenizerFertilityOracleSql,
    "bpe_train" -> bpeTrainOracleSql,
    "unigram_encode" -> unigramEncodeOracleSql,
    "unigram_fertility" -> unigramFertilityOracleSql,
    "blocklist_filter" -> blocklistFilterOracleSql,
    "quality_model" -> qualityModelOracleSql,
    "model_calibration" -> modelCalibrationOracleSql,
    "model_eval" -> modelEvalOracleSql,
    "quality_train" -> qualityTrainOracleSql,
    "lm_score" -> lmScoreOracleSql,
    "perplexity_buckets" -> perplexityBucketsOracleSql,
    "lm_score_tri" -> lmScoreTriOracleSql,
    "dsir_weights" -> dsirOracleSql,
    "scan_parquet" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    // the CSV round-trip must land exactly on the parquet original
    "scan_csv" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",

    // the ORC round-trip too
    "scan_orc" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",

    // and the JSONL export round-trip
    "scan_jsonl" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",

    // snapshot_scan oracle: the plain filtered relation — the Spark side
    // must land on it through manifest file pruning + the residual filter.
    "snapshot_scan" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 200 AND 399 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey"),

    // ...and the incremental form: append == rebuild, so the same plain
    // filter over ALL of lineitem
    "snapshot_scan_incremental" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 200 AND 399 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey"),

    // time travel: version 1 is the even-orderkey history, stated as the
    // plain filter — append must not have disturbed it
    "snapshot_time_travel" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 200 AND 399 AND l_orderkey % 2 = 0 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey"),

    // DSv2 connector: same plain filter as snapshot_scan — the pruning
    // tier must be invisible in the result
    "snapshot_dsv2" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 200 AND 399 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey"),

    // DSv2 write path: append == rebuild, so the same plain filter over
    // ALL of lineitem
    "snapshot_dsv2_write" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 200 AND 399 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey"),

    // change-data-feed: the appended increment is the odd-orderkey half
    "snapshot_changes" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey % 2 = 1 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey"),

    // schema evolution: the evolved head stated as a two-branch union —
    // pre-evolution rows carry NULL in the added column, post-evolution
    // rows carry the formula value
    "snapshot_evolve" ->
      ("SELECT doc_id, lang, n_chars, CAST(NULL AS BIGINT) AS quality " +
        "FROM documents WHERE doc_id % 2 = 0 " +
        "UNION ALL " +
        "SELECT doc_id, lang, n_chars, n_chars % 100 AS quality " +
        "FROM documents WHERE doc_id % 2 = 1 ORDER BY doc_id"),

    // time travel below the evolution: version 1's ORIGINAL shape — no
    // quality column at all, and only the pre-evolution rows
    "snapshot_evolve_time_travel" ->
      ("SELECT doc_id, lang, n_chars FROM documents " +
        "WHERE doc_id % 2 = 0 ORDER BY doc_id"),

    // multi-column zone maps: the secondary-column probe is just the
    // plain filter — pruning must be invisible in the result
    "snapshot_scan_multi" ->
      ("SELECT p_partkey, p_retailprice, p_size FROM part " +
        "WHERE p_size BETWEEN 10 AND 20 ORDER BY p_partkey"),

    // merge: the key-replace upsert stated as a three-branch union —
    // untouched keys verbatim, matched keys with the shifted quantity,
    // inserted keys under their new orderkeys
    "snapshot_merge" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey NOT BETWEEN 300 AND 349 " +
        "UNION ALL " +
        "SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity + 1000 AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 300 AND 349 " +
        "UNION ALL " +
        "SELECT l_orderkey + 1000000, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 100 AND 109 " +
        "ORDER BY 1, 2, 3"),

    // metadata count: the plain COUNT the manifest answer must equal
    "snapshot_count" ->
      ("SELECT CAST(count(*) AS BIGINT) AS cnt FROM lineitem " +
        "WHERE l_orderkey BETWEEN 200 AND 399"),

    // bloom point lookup: three equality probes stated directly
    "snapshot_lookup" ->
      ("SELECT doc_id, 'u' || doc_id AS uid, lang, n_chars " +
        "FROM documents WHERE doc_id IN (7, 123, 400) ORDER BY doc_id"),

    // ...and the copy-on-write delete: the filter minus the deleted band
    "snapshot_delete" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 200 AND 399 " +
        "AND l_orderkey NOT BETWEEN 300 AND 349 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey"),

    // pure-SQL CREATE+INSERT: the plain filter over the inserted rows
    // (the DDL declared every key column BIGINT, so the oracle casts)
    "snapshot_sql_insert" ->
      ("SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, " +
        "l_partkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 200 AND 399 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey"),

    // pure-SQL CTAS: the plain filter over the created-as-selected rows
    "snapshot_sql_ctas" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 200 AND 399 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey"),

    // pure-SQL MERGE INTO: the same three-branch union as the library
    // merge gate — matched rows shifted, new keys inserted, rest intact
    "snapshot_sql_merge" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey NOT BETWEEN 300 AND 349 " +
        "UNION ALL " +
        "SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity + 1000 AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 300 AND 349 " +
        "UNION ALL " +
        "SELECT l_orderkey + 1000000, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 100 AND 109 " +
        "ORDER BY 1, 2, 3"),

    // pure-SQL DELETE FROM: the filter minus the deleted band
    "snapshot_sql_delete" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 200 AND 399 " +
        "AND l_orderkey NOT BETWEEN 300 AND 349 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey"),

    // pure-SQL UPDATE: the two-branch union (shifted band + the rest)
    "snapshot_sql_update" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey NOT BETWEEN 300 AND 349 " +
        "UNION ALL " +
        "SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity + 1000 AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 300 AND 349 " +
        "ORDER BY 1, 2, 3"),

    // pure-SQL time travel below the delete: the untouched plain filter
    "snapshot_sql_time_travel" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 200 AND 399 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey"),

    // restore: the delete rolled back — the untouched plain filter
    "snapshot_restore" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 200 AND 399 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey"),

    // DSv2 incremental read: the appended increment is the odd half
    "snapshot_dsv2_changes" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey % 2 = 1 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey"),

    // DSv2 aggregate pushdown: the plain whole-table aggregates
    "snapshot_dsv2_agg" ->
      ("SELECT CAST(count(*) AS BIGINT) AS cnt, " +
        "min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok " +
        "FROM lineitem"),

    // deletion-vector delete: the same relation as the copy-on-write
    // delete — masking must be invisible in the result
    "snapshot_dv_delete" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "WHERE l_orderkey BETWEEN 200 AND 399 " +
        "AND l_orderkey NOT BETWEEN 300 AND 349 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey"),

    // typed CDF: the delete+merge history stated as a four-branch union
    // of change rows (deleted band at v2; update pre/post pairs and the
    // shifted-key inserts at v3)
    "snapshot_cdf_typed" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty, " +
        "'delete' AS _change_type, 2 AS _commit_version FROM lineitem " +
        "WHERE l_orderkey BETWEEN 300 AND 349 " +
        "UNION ALL " +
        "SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT), 'update_preimage', 3 FROM lineitem " +
        "WHERE l_orderkey BETWEEN 400 AND 449 " +
        "UNION ALL " +
        "SELECT l_orderkey, l_linenumber, l_partkey, " +
        "CAST(l_quantity + 1000 AS BIGINT), 'update_postimage', 3 " +
        "FROM lineitem WHERE l_orderkey BETWEEN 400 AND 449 " +
        "UNION ALL " +
        "SELECT l_orderkey + 1000000, l_linenumber, l_partkey, " +
        "CAST(l_quantity AS BIGINT), 'insert', 3 FROM lineitem " +
        "WHERE l_orderkey BETWEEN 100 AND 109 " +
        "ORDER BY 6, 5, 1, 2, 3"),

    "scan_limit" ->
      ("SELECT event_id, props AS data, epoch_ms(ts) AS __ts FROM events " +
        "ORDER BY event_id LIMIT 100"),

    "stream_window_filter" ->
      ("SELECT event_id, epoch_ms(ts) AS insert_ms FROM events " +
        "WHERE 1705276800000 BETWEEN epoch_ms(ts) AND epoch_ms(ts) + 3600000 " +
        "ORDER BY event_id"),

    "etl_from_json" ->
      ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k " +
        "FROM events ORDER BY event_id"),

    "etl_project_alias" ->
      ("SELECT l_orderkey AS ok, l_linenumber AS ln, " +
        "l_extendedprice * (1 - l_discount) AS net_price, " +
        "l_returnflag || l_linestatus AS flag_status FROM lineitem ORDER BY ok, ln"),

    "etl_struct_flatten" ->
      ("WITH src AS (SELECT '{\"order\":{\"key\":' || o_orderkey || ',\"cust\":{\"id\":' || " +
        "o_custkey || '}},\"status\":\"' || o_orderstatus || '\"}' AS j FROM orders) " +
        "SELECT CAST(json_extract_string(j,'$.order.key') AS BIGINT) AS order__key, " +
        "CAST(json_extract_string(j,'$.order.cust.id') AS BIGINT) AS order__cust__id, " +
        "json_extract_string(j,'$.status') AS status FROM src ORDER BY order__key"),

    "etl_array_flatten" ->
      ("SELECT l_orderkey AS order_key, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) - 1 AS BIGINT) AS pos, " +
        "l_linenumber AS line, l_quantity AS qty " +
        "FROM lineitem ORDER BY order_key, pos"),

    "etl_variant_json" ->
      ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k " +
        "FROM events ORDER BY event_id"),

    "window_running" ->
      ("SELECT event_id, user_id, " +
        "ROW_NUMBER() OVER w AS rn, " +
        "count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_n, " +
        "round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS run_v, " +
        "epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER w AS gap_ms " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) " +
        "ORDER BY event_id"),

    "stats_corr" ->
      ("SELECT l_returnflag, round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price, " +
        "round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc, " +
        "round(stddev_samp(l_extendedprice), 4) AS std_price " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    "ntile_buckets" ->
      ("WITH t AS (SELECT c_acctbal, NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile FROM customer) " +
        "SELECT decile, count(*) AS n, round(avg(c_acctbal), 4) AS avg_bal " +
        "FROM t GROUP BY decile ORDER BY decile"),

    "pivot_agg" ->
      ("SELECT user_id, " +
        "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click, " +
        "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase, " +
        "CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup, " +
        "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view " +
        "FROM events GROUP BY user_id ORDER BY user_id"),

    "set_ops" ->
      ("SELECT user_id, epoch_ms(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)) AS day_ms " +
        "FROM events WHERE event_type = 'view' " +
        "EXCEPT SELECT user_id, epoch_ms(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)) " +
        "FROM events WHERE event_type = 'purchase' ORDER BY user_id, day_ms"),

    "sessionize" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events), " +
        "g AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= 1800000000 " +
        "THEN 1 ELSE 0 END AS brk FROM e), " +
        "s AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id ORDER BY t " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g) " +
        "SELECT user_id, min(t) AS session_start_us, max(t) - min(t) AS duration_us, " +
        "count(*) AS n_events FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us"),

    "rollup_agg" ->
      ("SELECT COALESCE(l_returnflag, '_all') AS flag, COALESCE(l_linestatus, '_all') AS status, " +
        "CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price, " +
        "count(*) AS n FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
        "ORDER BY flag, status"),

    "cube_agg" ->
      ("SELECT COALESCE(l_returnflag, '_all') AS flag, COALESCE(l_linestatus, '_all') AS status, " +
        "CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price, " +
        "count(*) AS n FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
        "ORDER BY flag, status"),

    "asof_join" ->
      ("WITH u AS (" +
        "SELECT user_id AS key, epoch_ms(ts) AS ts, 0 AS kind, NULL AS decision_id, value AS rv " +
        "FROM events WHERE event_type = 'purchase' " +
        "UNION ALL SELECT user_id, epoch_ms(ts), 1, event_id, NULL FROM events WHERE event_type = 'view'), " +
        "c AS (SELECT *, " +
        "last_value(CASE WHEN kind = 0 THEN rv END IGNORE NULLS) OVER w AS value, " +
        "last_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS) OVER w AS right_ts " +
        "FROM u WINDOW w AS (PARTITION BY key ORDER BY ts, kind, rv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT decision_id, value, ts - right_ts AS age_ms FROM c " +
        "WHERE kind = 1 AND right_ts IS NOT NULL AND ts - right_ts <= 3600000 " +
        "ORDER BY decision_id"),

    "range_join" ->
      ("WITH iv AS (SELECT event_id AS error_id, epoch_ms(ts) AS s_ms, epoch_ms(ts) + 600000 AS e_ms " +
        "FROM events WHERE event_type = 'error'), " +
        "p AS (SELECT epoch_ms(ts) AS t_ms, value FROM events WHERE event_type = 'view') " +
        "SELECT error_id, count(*) AS n_views, " +
        "CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value " +
        "FROM p JOIN iv ON p.t_ms >= iv.s_ms AND p.t_ms < iv.e_ms " +
        "GROUP BY error_id ORDER BY error_id"),

    "validate_required" ->
      ("SELECT '_valid' AS loc, 'ok' AS type, count(*) AS n FROM events " +
        "WHERE event_id IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL " +
        "AND value IS NOT NULL AND json_extract_string(props,'$.k') IS NOT NULL " +
        "UNION ALL (SELECT 'event_id', 'missing', count(*) FROM events WHERE event_id IS NULL HAVING count(*) > 0) " +
        "UNION ALL (SELECT 'user_id', 'missing', count(*) FROM events WHERE user_id IS NULL HAVING count(*) > 0) " +
        "UNION ALL (SELECT 'event_type', 'missing', count(*) FROM events WHERE event_type IS NULL HAVING count(*) > 0) " +
        "UNION ALL (SELECT 'value', 'missing', count(*) FROM events WHERE value IS NULL HAVING count(*) > 0) " +
        "UNION ALL (SELECT 'k', 'missing', count(*) FROM events WHERE json_extract_string(props,'$.k') IS NULL HAVING count(*) > 0) " +
        "ORDER BY loc, type"),

    "validate_bounds" ->
      ("SELECT * FROM (" +
        "SELECT 'l_discount' AS loc, 'range' AS type, count(*) AS n FROM lineitem WHERE l_discount IS NOT NULL AND (l_discount < 0 OR l_discount > 0.05) HAVING count(*) > 0 " +
        "UNION ALL SELECT 'l_extendedprice', 'range', count(*) FROM lineitem WHERE l_extendedprice IS NOT NULL AND (l_extendedprice < 0 OR l_extendedprice > 100000) HAVING count(*) > 0 " +
        "UNION ALL SELECT 'l_quantity', 'range', count(*) FROM lineitem WHERE l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 50) HAVING count(*) > 0 " +
        "UNION ALL SELECT 'l_tax', 'range', count(*) FROM lineitem WHERE l_tax IS NOT NULL AND (l_tax < 0 OR l_tax > 0.06) HAVING count(*) > 0" +
        ") ORDER BY loc, type"),

    "profile_summarize" -> {
      def leg(c: String) =
        s"SELECT '$c' AS column_name, CAST(min($c) AS DOUBLE) AS col_min, " +
          s"CAST(max($c) AS DOUBLE) AS col_max, round(avg($c), 4) AS col_avg, " +
          s"round(quantile_cont($c, 0.25), 4) AS q25, round(quantile_cont($c, 0.5), 4) AS q50, " +
          s"round(quantile_cont($c, 0.75), 4) AS q75, count($c) AS col_cnt, " +
          s"count(*) - count($c) AS null_cnt, count(DISTINCT $c) AS n_distinct FROM lineitem"
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(leg).mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY column_name")
    },

    // varchar profile replay: same (column, value) counts relation; the
    // modal tiebreak ORDER BY c DESC, v DESC replays max(struct(c, v)).
    "profile_strings" ->
      ("WITH kv AS (SELECT 'lang' AS cn, lang AS v FROM documents " +
        "UNION ALL SELECT 'source' AS cn, source AS v FROM documents), " +
        "c AS (SELECT cn, v, count(*) AS c FROM kv GROUP BY cn, v), " +
        "s AS (SELECT cn, CAST(sum(CASE WHEN v IS NOT NULL THEN c ELSE 0 END) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN v IS NULL THEN c ELSE 0 END) AS BIGINT) AS null_cnt, " +
        "CAST(count(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT) AS n_distinct, " +
        "min(v) AS min_v, max(v) AS max_v FROM c GROUP BY cn), " +
        "t AS (SELECT cn, v AS top_v, CAST(c AS BIGINT) AS top_n, " +
        "row_number() OVER (PARTITION BY cn ORDER BY c DESC, v DESC) AS rn " +
        "FROM c WHERE v IS NOT NULL) " +
        // LEFT join: an all-NULL column has no modal row but must still
        // release its (n=0, null_cnt) stats row, as the engine side does
        "SELECT s.cn AS column_name, n, null_cnt, n_distinct, min_v, max_v, t.top_v, t.top_n " +
        "FROM s LEFT JOIN t ON s.cn = t.cn AND t.rn = 1 ORDER BY column_name"),

    "profile_by_group" ->
      ("SELECT lang, CAST(min(n_chars) AS DOUBLE) AS col_min, " +
        "CAST(max(n_chars) AS DOUBLE) AS col_max, round(avg(n_chars), 4) AS col_avg, " +
        "round(quantile_cont(n_chars, 0.25), 4) AS q25, " +
        "round(quantile_cont(n_chars, 0.5), 4) AS q50, " +
        "round(quantile_cont(n_chars, 0.75), 4) AS q75, " +
        "count(n_chars) AS col_cnt, count(*) - count(n_chars) AS null_cnt, " +
        "count(DISTINCT n_chars) AS n_distinct " +
        "FROM documents WHERE lang IS NOT NULL GROUP BY lang ORDER BY lang"),

    "group_quantiles" ->
      ("WITH g AS (SELECT lang, round(quantile_cont(n_chars, 0.25), 4) AS q25, " +
        "round(quantile_cont(n_chars, 0.5), 4) AS q50, " +
        "round(quantile_cont(n_chars, 0.75), 4) AS q75 FROM documents GROUP BY lang) " +
        "SELECT lang, q, value FROM (" +
        "SELECT lang, CAST(0.25 AS DOUBLE) AS q, q25 AS value FROM g " +
        "UNION ALL SELECT lang, CAST(0.5 AS DOUBLE), q50 FROM g " +
        "UNION ALL SELECT lang, CAST(0.75 AS DOUBLE), q75 FROM g) ORDER BY lang, q"),

    "quality_outliers" ->
      ("WITH s AS (SELECT lang, round(avg(n_chars), 6) AS m, " +
        "round(stddev_samp(n_chars), 6) AS sd FROM documents GROUP BY lang) " +
        "SELECT doc_id, d.lang AS lang, n_chars, round((n_chars - m) / sd, 4) AS z " +
        "FROM documents d JOIN s USING (lang) " +
        "WHERE sd > 0 AND abs((n_chars - m) / sd) >= 1.5 ORDER BY doc_id"),

    // med and mad through DuckDB's native quantile_cont, rounded 6 dp like
    // the Spark side, so the per-row deviation, robust z, and threshold
    // decision are the same IEEE ops on the same inputs in both engines
    "mad_outliers" ->
      ("WITH med AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med " +
        "FROM events GROUP BY event_type), " +
        "dev AS (SELECT e.event_id, e.event_type, e.value, abs(e.value - m.med) AS dev " +
        "FROM events e JOIN med m USING (event_type)), " +
        "mad AS (SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad " +
        "FROM dev GROUP BY event_type) " +
        "SELECT event_id, d.event_type AS event_type, value, " +
        "round(dev / (1.4826 * mad), 4) AS mad_z " +
        "FROM dev d JOIN mad USING (event_type) " +
        "WHERE mad > 0 AND dev / (1.4826 * mad) >= 3.5 ORDER BY event_id"),

    // winsorize replay: 4-dp-rounded quantile band (so every clamped value
    // is an exact multiple of 10⁻⁴), then an exact 10⁻⁴-unit sum — the
    // same least/greatest/floor operand shapes as the Spark side.
    "winsorize" ->
      ("WITH g AS (SELECT event_type, round(quantile_cont(value, 0.05), 4) AS lo, " +
        "round(quantile_cont(value, 0.95), 4) AS hi " +
        "FROM events WHERE value IS NOT NULL GROUP BY event_type), " +
        "w AS (SELECT e.event_type AS event_type, g.lo AS lo, g.hi AS hi, " +
        "CAST(floor(least(greatest(e.value, g.lo), g.hi) * 10000 + 0.5) AS BIGINT) AS x " +
        "FROM events e JOIN g ON e.event_type = g.event_type WHERE e.value IS NOT NULL) " +
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, max(lo) AS lo, max(hi) AS hi, " +
        "round(CAST(sum(x) AS DOUBLE) / 10000 / count(*), 6) AS mean_wins " +
        "FROM w GROUP BY event_type ORDER BY event_type"),

    // rolling replay: identical cents frame sums over the same
    // (ts, event_id)-ordered 20-preceding frame; z guarded inside CASE
    // (DuckDB sqrt errors on negatives where Spark yields NaN — the CASE
    // makes the evaluated sets identical).
    "rolling_outliers" ->
      ("WITH b AS (SELECT event_id, user_id, value, " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS x, " +
        "count(*) OVER w AS n, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS s, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT) * CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS ss " +
        "FROM events WHERE value IS NOT NULL " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)), " +
        "v AS (SELECT event_id, user_id, value, n, " +
        "(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) AS vv, " +
        "CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / n AS dx FROM b WHERE n >= 8), " +
        "z AS (SELECT event_id, user_id, value, n, " +
        "CASE WHEN vv > 0 THEN dx / sqrt(vv) ELSE NULL END AS z FROM v) " +
        "SELECT event_id, user_id, value, CAST(n AS BIGINT) AS n_window, " +
        "round(z, 4) AS roll_z FROM z " +
        "WHERE z IS NOT NULL AND abs(z) >= 3.0 ORDER BY event_id"),

    // identical bucket arithmetic (same IEEE divisions), so bucket ids agree
    "value_histogram" ->
      ("WITH s AS (SELECT CAST(min(l_extendedprice) AS DOUBLE) AS mn, " +
        "CAST(max(l_extendedprice) AS DOUBLE) AS mx FROM lineitem) " +
        "SELECT CAST(CASE WHEN mx = mn THEN 0 ELSE " +
        "least(floor((l_extendedprice - mn) / ((mx - mn) / 32)), 31) END AS BIGINT) AS bucket, " +
        "count(*) AS cnt FROM lineitem, s GROUP BY 1 ORDER BY 1"),

    "ctr_join" ->
      ("WITH e AS (SELECT CAST(json_extract_string(props,'$.k') AS BIGINT) AS k, event_type FROM events), " +
        "v AS (SELECT k, count(*) AS n_views FROM e WHERE event_type='view' GROUP BY k), " +
        "c AS (SELECT k, count(*) AS n_clicks FROM e WHERE event_type='click' GROUP BY k) " +
        "SELECT v.k AS k, v.n_views AS n_views, COALESCE(c.n_clicks, 0) AS n_clicks, " +
        "round(CAST(COALESCE(c.n_clicks, 0) AS DOUBLE) / v.n_views, 4) AS ctr " +
        "FROM v LEFT JOIN c ON v.k = c.k ORDER BY k"),

    "q1_agg" ->
      ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        "CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price, " +
        "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS sum_disc_price, " +
        "round(avg(l_quantity), 4) AS avg_qty, round(avg(l_discount), 6) AS avg_disc, " +
        "count(*) AS count_order FROM lineitem WHERE l_shipdate < TIMESTAMP '1999-01-01 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),

    "part_brand_rev" ->
      ("SELECT p_brand, CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS revenue, " +
        "count(*) AS n_items FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_size <= 20 GROUP BY p_brand ORDER BY p_brand"),

    "zorder_key" -> {
      // bit interleave replayed term by term; quantization arithmetic
      // identical (IEEE division + floor + clamp)
      val interleave = (0 until 8).flatMap { b =>
        Seq(s"(((qa >> $b) % 2) << ${2 * b})", s"(((qb >> $b) % 2) << ${2 * b + 1})")
      }.mkString(" | ")
      "WITH s AS (SELECT min(CAST(p_retailprice AS DOUBLE)) AS mn_a, " +
        "max(CAST(p_retailprice AS DOUBLE)) AS mx_a, " +
        "min(CAST(p_size AS DOUBLE)) AS mn_b, max(CAST(p_size AS DOUBLE)) AS mx_b FROM part), " +
        "q AS (SELECT p_partkey, " +
        "CASE WHEN mx_a = mn_a THEN 0 ELSE least(CAST(floor((CAST(p_retailprice AS DOUBLE) - mn_a) / ((mx_a - mn_a) / 256)) AS BIGINT), 255) END AS qa, " +
        "CASE WHEN mx_b = mn_b THEN 0 ELSE least(CAST(floor((CAST(p_size AS DOUBLE) - mn_b) / ((mx_b - mn_b) / 256)) AS BIGINT), 255) END AS qb " +
        "FROM part, s) " +
        s"SELECT p_partkey, CAST($interleave AS BIGINT) AS z FROM q ORDER BY p_partkey"
    },

    "supplier_nation_rev" ->
      ("SELECT n_name, count(DISTINCT s_suppkey) AS n_suppliers, " +
        "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS revenue " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"),

    "multi_join_agg" ->
      ("SELECT n_name, CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS revenue, " +
        "count(*) AS n_items FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name"),

    "delayed_left_join" ->
      ("SELECT d.user_id AS key, d.event_id AS decision_id, COALESCE(r.value, 0.0) AS reward, " +
        "epoch_ms(d.ts) AS decision_insert_ms, epoch_ms(r.ts) - epoch_ms(d.ts) AS reward_delta_ms " +
        delayedJoinFrom + " ORDER BY decision_id, reward_delta_ms, reward"),

    // TAIL delta algebra replayed: the joined relation cross-joined with
    // the {+1, −1} diff domain; timestamp = deadline for the insert and
    // deadline + 1 (window exit) for the retraction
    "changefeed_deltas" ->
      ("WITH j AS (SELECT d.user_id AS key, d.event_id AS decision_id, " +
        "COALESCE(r.value, 0.0) AS reward, epoch_ms(d.ts) AS decision_insert_ms, " +
        "epoch_ms(r.ts) - epoch_ms(d.ts) AS reward_delta_ms " + delayedJoinFrom + ") " +
        "SELECT decision_insert_ms + 3600000 + CASE WHEN dd.diff = 1 THEN 0 ELSE 1 END AS timestamp, " +
        "dd.diff, j.* FROM j CROSS JOIN (SELECT unnest([1, -1]) AS diff) dd " +
        "ORDER BY decision_id, timestamp, reward"),

    "join_coalesce_default" ->
      ("SELECT d.event_id AS decision_id, COALESCE(max(r.value), 0.0) AS reward " +
        delayedJoinFrom + " GROUP BY d.event_id ORDER BY decision_id"),

    "join_delta_ms" ->
      ("SELECT d.event_id AS decision_id, min(epoch_ms(r.ts) - epoch_ms(d.ts)) AS min_delta_ms " +
        delayedJoinFrom + " AND r.event_id IS NOT NULL GROUP BY d.event_id " +
        "HAVING min(epoch_ms(r.ts) - epoch_ms(d.ts)) IS NOT NULL ORDER BY decision_id"),

    "last_reward_dedup" ->
      ("WITH j AS (SELECT d.event_id AS decision_id, COALESCE(r.value, 0.0) AS reward, " +
        "epoch_ms(r.ts) - epoch_ms(d.ts) AS reward_delta_ms " + delayedJoinFrom + "), " +
        "rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY decision_id " +
        "ORDER BY reward_delta_ms DESC NULLS LAST, reward DESC) AS rn FROM j) " +
        "SELECT decision_id, reward, reward_delta_ms FROM rk WHERE rn = 1 ORDER BY decision_id"),

    "override_anti_join" ->
      ("SELECT d.event_id AS decision_id FROM events d WHERE d.event_type = 'view' " +
        "AND d.user_id NOT IN (SELECT user_id FROM events WHERE event_type = 'error' " +
        "GROUP BY user_id HAVING count(*) >= 20) ORDER BY decision_id"),

    "dq_alert_counts" ->
      ("SELECT epoch_ms(CAST(date_trunc('minute', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)) AS bucket_ms, " +
        "'value' AS loc, 'range' AS type, count(*) AS n FROM events WHERE value > 300 " +
        "GROUP BY 1 HAVING count(*) > 0 ORDER BY bucket_ms"),

    "dedup_exact" ->
      ("SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents " +
        "GROUP BY text ORDER BY keep_id"),

    "dedup_paragraphs" ->
      ("WITH wd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "p AS (SELECT doc_id, gs.i AS pidx, " +
        "array_to_string(ws[(gs.i*10+1):((gs.i+1)*10)], ' ') AS para " +
        "FROM wd, LATERAL (SELECT unnest(range(0, " +
        "greatest(CAST(ceil(len(ws)/10.0) AS INT), 1))) AS i) gs), " +
        "k AS (SELECT doc_id, pidx, para, row_number() OVER " +
        "(PARTITION BY para ORDER BY doc_id, pidx) AS rn FROM p) " +
        "SELECT doc_id, string_agg(para, ' ' ORDER BY pidx) AS text " +
        "FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id"),

    // Threshold variant of the paragraph rule: a count window instead of a
    // first-occurrence rank, WHERE c < 3 drops boilerplate everywhere.
    "dedup_lines" ->
      ("WITH wd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "p AS (SELECT doc_id, gs.i AS pidx, " +
        "array_to_string(ws[(gs.i*10+1):((gs.i+1)*10)], ' ') AS para " +
        "FROM wd, LATERAL (SELECT unnest(range(0, " +
        "greatest(CAST(ceil(len(ws)/10.0) AS INT), 1))) AS i) gs), " +
        "k AS (SELECT doc_id, pidx, para, count(*) OVER (PARTITION BY para) AS c FROM p) " +
        "SELECT doc_id, string_agg(para, ' ' ORDER BY pidx) AS text " +
        "FROM k WHERE c < 3 GROUP BY doc_id ORDER BY doc_id"),

    "dedup_minhash" -> minhashOracle,
    "dedup_minhash_est" -> minhashEstOracle,
    "minhash_calibration" -> minhashCalibrationOracle,
    "dedup_incremental" -> incrementalOracle,

    // Blocked levenshtein record linkage: both engines' levenshtein is the
    // classic integer edit distance — no float similarity to pin.
    "dedup_fuzzy" ->
      ("WITH c AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer) " +
        "SELECT a.c_custkey AS key_a, b.c_custkey AS key_b, " +
        "CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist " +
        "FROM c a JOIN c b ON a.c_nationkey = b.c_nationkey " +
        "AND a.c_mktsegment = b.c_mktsegment AND a.c_custkey < b.c_custkey " +
        "WHERE levenshtein(a.c_name, b.c_name) <= 2 ORDER BY key_a, key_b"),

    // dedup_cdc oracle: the boundary rule, chunking, and chunk hashes
    // restated in plain integer arithmetic — an O(n·w) refold per position
    // (the oracle's license to be naive) against Spark's O(n) rolling pass.
    "dedup_cdc" ->
      (cdcChunkCte +
        ", rk AS (SELECT doc_id, len, ROW_NUMBER() OVER (PARTITION BY hash, len ORDER BY doc_id, idx) AS rn FROM ch) " +
        cdcLedgerSelect("") + " ORDER BY doc_id"),

    // Incremental replay: the SAME chunk relation, but first-occurrence
    // order puts the even-id history crawl ahead of every batch chunk —
    // the window key (doc_id % 2, doc_id, idx) IS "store hit OR earlier
    // in batch". Ledger released for the batch half only.
    "dedup_cdc_incremental" ->
      (cdcChunkCte +
        ", rk AS (SELECT doc_id, len, ROW_NUMBER() OVER (PARTITION BY hash, len ORDER BY (doc_id % 2), doc_id, idx) AS rn FROM ch) " +
        cdcLedgerSelect("WHERE doc_id % 2 = 1") + " ORDER BY doc_id"),

    "dedup_substring" ->
      ("WITH wd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "w AS (SELECT doc_id, gs.i AS pos, array_to_string(ws[gs.i:(gs.i+9)], ' ') AS win " +
        "FROM wd, LATERAL (SELECT unnest(range(1, greatest(len(ws)-9, 1)+1)) AS i) gs), " +
        "d AS (SELECT win FROM w GROUP BY win HAVING count(*) > 1) " +
        "SELECT doc_id, count(*) AS n_dup_windows, min(pos) AS first_pos " +
        "FROM w JOIN d USING (win) GROUP BY doc_id ORDER BY doc_id"),

    // Editing replay: duplicated-window occurrences ranked by (doc, pos)
    // — rank 1 is canonical; a token is cut iff some non-canonical start
    // lands within the 10-token window ending at it.
    "dedup_span_removal" ->
      ("WITH wd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "w AS (SELECT doc_id, gs.i AS p, array_to_string(ws[gs.i:(gs.i+9)], ' ') AS win " +
        "FROM wd, LATERAL (SELECT unnest(range(1, greatest(len(ws)-9, 1)+1)) AS i) gs), " +
        "m AS (SELECT doc_id, p, count(*) OVER (PARTITION BY win) AS n, " +
        "row_number() OVER (PARTITION BY win ORDER BY doc_id, p) AS rn FROM w), " +
        "bad AS (SELECT doc_id, p FROM m WHERE n > 1 AND rn > 1), " +
        "u AS (SELECT doc_id, gs.j AS j, list_extract(ws, gs.j) AS tok FROM wd, " +
        "LATERAL (SELECT unnest(range(1, len(ws)+1)) AS j) gs), " +
        "kept AS (SELECT u.doc_id, u.j, u.tok FROM u WHERE NOT EXISTS " +
        "(SELECT 1 FROM bad b WHERE b.doc_id = u.doc_id AND b.p BETWEEN u.j - 9 AND u.j)), " +
        "agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS clean_text, " +
        "CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id) " +
        "SELECT wd.doc_id, coalesce(agg.clean_text, '') AS clean_text, " +
        "CAST(len(wd.ws) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed " +
        "FROM wd LEFT JOIN agg USING (doc_id) ORDER BY wd.doc_id"),

    "decontaminate" ->
      (shingleCte +
        ", ev AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id < 10), " +
        "tr AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id >= 10) " +
        "SELECT doc_id AS id, count(*) AS n_overlap FROM tr JOIN ev USING (g) " +
        "GROUP BY doc_id ORDER BY id"),

    // The graded fraction: LEFT join so every training doc reports; ev is
    // distinct, so each train shingle matches at most once — count(*)
    // stays the per-doc shingle count and count(ev.g) the hit count.
    "contamination_frac" ->
      (shingleCte +
        ", ev AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id < 10), " +
        "tr AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id >= 10), " +
        "j AS (SELECT doc_id, count(*) AS n_grams, count(ev.g) AS n_hit " +
        "FROM tr LEFT JOIN ev ON tr.g = ev.g GROUP BY doc_id) " +
        "SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, CAST(n_hit AS BIGINT) AS n_hit, " +
        "round(CAST(n_hit AS DOUBLE) / n_grams, 6) AS frac FROM j ORDER BY doc_id"),

    // Replays the bloom's EXACT bit set: eval shingles mark k = 3 double-
    // hashed positions mod 2^20; a train shingle hits iff all three of its
    // positions are marked — false positives and all.
    "decontaminate_bloom" ->
      (shingleCte + polyHashCte +
        ", evp AS (SELECT DISTINCT unnest(flatten(list_transform(generate_series(1, len(sh)), j -> " +
        "list_transform([0,1,2], i -> (h1s[j] + i*h2s[j]) % 1048576)))) AS p FROM hs WHERE doc_id < 10), " +
        "evpl AS (SELECT list(p) AS ps FROM evp), " +
        "trp AS (SELECT doc_id, list_transform(generate_series(1, len(sh)), j -> " +
        "list_transform([0,1,2], i -> (h1s[j] + i*h2s[j]) % 1048576)) AS pls FROM hs WHERE doc_id >= 10), " +
        "tru AS (SELECT doc_id, unnest(pls) AS pl FROM trp), " +
        "hits AS (SELECT doc_id FROM tru, evpl WHERE list_has_all(evpl.ps, tru.pl)) " +
        "SELECT doc_id AS id, count(*) AS n_overlap FROM hits " +
        "GROUP BY doc_id HAVING count(*) >= 1 ORDER BY id"),

    // min-reachable-id per node via recursive CTE — the declarative twin of
    // the engine's iterative min-label propagation
    "dedup_components" ->
      (componentsCte + " SELECT id, component FROM comp ORDER BY id"),

    "dedup_droplist" ->
      (componentsCte +
        ", k AS (SELECT component, min(id) AS keep_id FROM comp GROUP BY component) " +
        "SELECT comp.id AS id, k.keep_id AS keep_id, comp.id <> k.keep_id AS is_dup " +
        "FROM comp JOIN k USING (component) ORDER BY id"),

    // quality formula identical to the quality_score oracle (rounded 4 dp
    // on both sides, so the DESC/id tie-break orders identically)
    "dedup_keep_best" ->
      (componentsCte +
        ", q AS (SELECT doc_id AS id, round(0.3 * least(1.0, length(text) / 500.0) + " +
        "0.4 * (len(list_distinct(string_split(text,' '))) * 1.0 / len(string_split(text,' '))) + " +
        s"0.3 * (len(list_filter(string_split(text,' '), t -> list_contains($allStop, t))) * 1.0 / " +
        "len(string_split(text,' '))), 4) AS quality FROM documents), " +
        "r AS (SELECT comp.id AS id, comp.component AS component, q.quality AS quality, " +
        "row_number() OVER (PARTITION BY comp.component ORDER BY q.quality DESC, comp.id ASC) AS rn " +
        "FROM comp JOIN q USING (id)) " +
        "SELECT id, component, quality, rn = 1 AS keep FROM r ORDER BY id"),

    "dedup_cluster_stats" ->
      (componentsCte +
        ", szs AS (SELECT component, CAST(count(*) AS BIGINT) AS sz FROM comp GROUP BY component) " +
        "SELECT sz, count(*) AS n_clusters FROM szs GROUP BY sz ORDER BY sz"),

    "drift_psi" ->
      ("WITH base AS (SELECT greatest(0, least(9, CAST(floor((value - 0.0) / 50.0) AS BIGINT))) AS bin " +
        "FROM events WHERE event_type = 'view' AND value IS NOT NULL), " +
        "cur AS (SELECT greatest(0, least(9, CAST(floor((value - 0.0) / 50.0) AS BIGINT))) AS bin " +
        "FROM events WHERE event_type = 'purchase' AND value IS NOT NULL), " +
        "bins AS (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS bin), " +
        "bc AS (SELECT bins.bin, COALESCE(x.n, 0) AS n_b FROM bins LEFT JOIN " +
        "(SELECT bin, count(*) AS n FROM base GROUP BY bin) x USING (bin)), " +
        "cc2 AS (SELECT bins.bin, COALESCE(x.n, 0) AS n_c FROM bins LEFT JOIN " +
        "(SELECT bin, count(*) AS n FROM cur GROUP BY bin) x USING (bin)), " +
        "tot AS (SELECT (SELECT count(*) FROM base) AS tot_b, (SELECT count(*) FROM cur) AS tot_c), " +
        "terms AS (SELECT CAST(floor(((n_b + 0.5)/(tot_b + 5.0) - (n_c + 0.5)/(tot_c + 5.0)) * " +
        "ln(((n_b + 0.5)/(tot_b + 5.0)) / ((n_c + 0.5)/(tot_c + 5.0))) * 1000000.0 + 0.5) AS BIGINT) AS tm, " +
        "tot_b, tot_c FROM bc JOIN cc2 USING (bin) CROSS JOIN tot) " +
        "SELECT CAST(SUM(tm) AS DOUBLE) / 1000000.0 AS psi, " +
        "CAST(MAX(tot_b) AS BIGINT) AS n_base, CAST(MAX(tot_c) AS BIGINT) AS n_cur FROM terms"),

    // chi2 replay: identical binning/spine/total CTEs as drift_psi; the
    // expected-count and term expressions are spelled with the same
    // operation order as the Spark side (sub, mul, div, add), each
    // nonnegative term micro-floor-rounded and summed as BIGINT.
    "drift_chi2" ->
      ("WITH base AS (SELECT greatest(0, least(9, CAST(floor((value - 0.0) / 50.0) AS BIGINT))) AS bin " +
        "FROM events WHERE event_type = 'view' AND value IS NOT NULL), " +
        "cur AS (SELECT greatest(0, least(9, CAST(floor((value - 0.0) / 50.0) AS BIGINT))) AS bin " +
        "FROM events WHERE event_type = 'purchase' AND value IS NOT NULL), " +
        "bins AS (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS bin), " +
        "bc AS (SELECT bins.bin, COALESCE(x.n, 0) AS n_b FROM bins LEFT JOIN " +
        "(SELECT bin, count(*) AS n FROM base GROUP BY bin) x USING (bin)), " +
        "cc2 AS (SELECT bins.bin, COALESCE(x.n, 0) AS n_c FROM bins LEFT JOIN " +
        "(SELECT bin, count(*) AS n FROM cur GROUP BY bin) x USING (bin)), " +
        "tot AS (SELECT (SELECT count(*) FROM base) AS tot_b, (SELECT count(*) FROM cur) AS tot_c), " +
        "e AS (SELECT n_b, n_c, " +
        "(CAST(n_b AS DOUBLE) + CAST(n_c AS DOUBLE)) * CAST(tot_b AS DOUBLE) / CAST(tot_b + tot_c AS DOUBLE) AS e1, " +
        "(CAST(n_b AS DOUBLE) + CAST(n_c AS DOUBLE)) * CAST(tot_c AS DOUBLE) / CAST(tot_b + tot_c AS DOUBLE) AS e2, " +
        "tot_b, tot_c FROM bc JOIN cc2 USING (bin) CROSS JOIN tot), " +
        "terms AS (SELECT CASE WHEN n_b + n_c > 0 THEN " +
        "CAST(floor(((n_b - e1) * (n_b - e1) / e1 + (n_c - e2) * (n_c - e2) / e2) * 1000000.0 + 0.5) AS BIGINT) " +
        "ELSE 0 END AS tm, CASE WHEN n_b + n_c > 0 THEN 1 ELSE 0 END AS nz, tot_b, tot_c FROM e) " +
        "SELECT CAST(SUM(tm) AS DOUBLE) / 1000000.0 AS chi2, CAST(SUM(nz) - 1 AS BIGINT) AS dof, " +
        "CAST(MAX(tot_b) AS BIGINT) AS n_base, CAST(MAX(tot_c) AS BIGINT) AS n_cur FROM terms"),

    // Welch replay: cents-exact sufficient statistics (n, Σx, Σx²) as
    // exact integers, then the same single-row IEEE expressions (t is
    // scale-invariant, so cent units change nothing; means rescale once).
    "ab_ttest" ->
      ("WITH a AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS x " +
        "FROM events WHERE event_type = 'view' AND value IS NOT NULL), " +
        "b AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS x " +
        "FROM events WHERE event_type = 'purchase' AND value IS NOT NULL), " +
        "sa AS (SELECT count(*) AS n1, sum(x) AS s1, sum(x * x) AS ss1 FROM a), " +
        "sb AS (SELECT count(*) AS n2, sum(x) AS s2, sum(x * x) AS ss2 FROM b), " +
        "m AS (SELECT n1, n2, CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2, " +
        "(CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1) / (n1 - 1) AS v1, " +
        "(CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2) / (n2 - 1) AS v2 FROM sa, sb), " +
        "w AS (SELECT n1, n2, m1, m2, v1 / n1 AS se1, v2 / n2 AS se2 FROM m) " +
        "SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b, " +
        "round(m1 / 100, 6) AS mean_a, round(m2 / 100, 6) AS mean_b, " +
        "round((m1 - m2) / sqrt(se1 + se2), 4) AS t, " +
        "round((se1 + se2) * (se1 + se2) / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 4) AS dof FROM w"),

    // proportion replay: four conditional counts, pooled-SE z with the
    // same operand shapes (NULL predicate rows count as trials, not
    // successes, on both engines).
    "ab_proportions" ->
      ("WITH u AS (SELECT CASE WHEN value >= 250 THEN 1 ELSE 0 END AS k, 0 AS side " +
        "FROM events WHERE event_type = 'view' " +
        "UNION ALL SELECT CASE WHEN value >= 250 THEN 1 ELSE 0 END AS k, 1 AS side " +
        "FROM events WHERE event_type = 'purchase'), " +
        "s AS (SELECT sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n1, " +
        "sum(CASE WHEN side = 0 THEN k ELSE 0 END) AS k1, " +
        "sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n2, " +
        "sum(CASE WHEN side = 1 THEN k ELSE 0 END) AS k2 FROM u), " +
        "p AS (SELECT n1, k1, n2, k2, CAST(k1 AS DOUBLE) / n1 AS p1, " +
        "CAST(k2 AS DOUBLE) / n2 AS p2, " +
        "CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS pp FROM s) " +
        "SELECT CAST(n1 AS BIGINT) AS n_a, CAST(k1 AS BIGINT) AS k_a, " +
        "CAST(n2 AS BIGINT) AS n_b, CAST(k2 AS BIGINT) AS k_b, " +
        "round(p1, 6) AS rate_a, round(p2, 6) AS rate_b, " +
        "round((p1 - p2) / sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2)), 4) AS z FROM p"),

    "funnel" ->
      ("WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events), " +
        "v AS (SELECT user_id, min(ms) AS v_ms FROM e WHERE event_type = 'view' GROUP BY user_id), " +
        "c AS (SELECT e.user_id, min(ms) AS c_ms FROM e JOIN v USING (user_id) " +
        "WHERE event_type = 'click' AND ms >= v_ms GROUP BY e.user_id), " +
        "p AS (SELECT e.user_id, min(ms) AS p_ms FROM e JOIN c USING (user_id) " +
        "WHERE event_type = 'purchase' AND ms >= c_ms GROUP BY e.user_id) " +
        "SELECT (SELECT count(*) FROM v) AS n_viewed, (SELECT count(*) FROM c) AS n_clicked, " +
        "(SELECT count(*) FROM p) AS n_purchased"),

    "retention_cohorts" ->
      ("WITH days AS (SELECT DISTINCT user_id, " +
        "epoch_ms(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)) AS day_ms FROM events), " +
        "coh AS (SELECT user_id, min(day_ms) AS cohort_ms FROM days GROUP BY user_id) " +
        "SELECT cohort_ms, CAST((day_ms - cohort_ms) / 86400000 AS BIGINT) AS day_offset, " +
        "count(*) AS n_users FROM days JOIN coh USING (user_id) " +
        "GROUP BY cohort_ms, day_offset ORDER BY cohort_ms, day_offset"),

    "dedup_simhash" -> simhashOracle,

    "sim_ann_lsh" -> annLshOracle,

    "sim_ivf_topk" -> ivfOracle,
    "sim_pq_topk" -> pqOracle,
    "sim_ivfpq_topk" -> ivfPqOracle,

    "gen_agrawal" -> agrawalOracle,

    "embed_quantize" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e) " +
        "SELECT vec_id AS id, CAST(i - 1 AS BIGINT) AS pos, " +
        "CAST(CASE WHEN scale = 0.0 THEN 0 WHEN v[i] >= 0 THEN floor(v[i]/scale + 0.5) " +
        "ELSE -floor(-v[i]/scale + 0.5) END AS INTEGER) AS q, scale " +
        "FROM s, generate_series(1, 64) t(i) ORDER BY id, pos"),

    // JL random-sign projection replay: per-element micro-unit rounding,
    // sign = parity of the mix32 scatter over j·64 + k, integer sums.
    "embed_project" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "m AS (SELECT vec_id, i - 1 AS k, CASE WHEN v[i] * 1000000.0 >= 0 " +
        "THEN floor(v[i] * 1000000.0 + 0.5) " +
        "ELSE -floor(-(v[i] * 1000000.0) + 0.5) END AS t " +
        "FROM e, generate_series(1, 64) ti(i)), " +
        "s AS (SELECT vec_id, j, SUM(CASE WHEN (" +
        mix32Sql("(j * 64 + k)") + ") % 2 = 0 THEN t ELSE -t END) AS s " +
        "FROM m, generate_series(0, 7) tj(j) GROUP BY vec_id, j) " +
        "SELECT vec_id, CAST(j AS BIGINT) AS dim, " +
        "round(s / 1000000.0, 6) AS value FROM s ORDER BY vec_id, dim"),

    // Covariance replay: the same 10⁻³ quantization (plain floor(x+0.5)
    // half-up, exactly the QuantMillis form), exact integer component and
    // pairwise-product sums, then the identical IEEE op sequence
    // (Sij/n − (Si/n)(Sj/n)) / 1e6 rounded 6 dp.
    "embed_covariance" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "q AS (SELECT vec_id, ti.i AS i, CAST(floor(v[ti.i] * 1000 + 0.5) AS BIGINT) AS q " +
        "FROM e, generate_series(1, 64) ti(i)), " +
        "n AS (SELECT count(*) AS n FROM e), " +
        "s AS (SELECT i, sum(q) AS si FROM q GROUP BY i), " +
        "p AS (SELECT a.i AS i, b.i AS j, sum(a.q * b.q) AS sij " +
        "FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2) " +
        "SELECT CAST(p.i - 1 AS BIGINT) AS i, CAST(p.j - 1 AS BIGINT) AS j, " +
        "round((CAST(sij AS DOUBLE) / n.n - (CAST(sa.si AS DOUBLE) / n.n) * " +
        "(CAST(sb.si AS DOUBLE) / n.n)) / 1000000.0, 6) AS cov " +
        "FROM p JOIN s sa ON p.i = sa.i JOIN s sb ON p.j = sb.i CROSS JOIN n " +
        "ORDER BY i, j"),

    // int8 cosine search: the same quantization replay, then INTEGER dot
    // products (exact in doubles at any accumulation order) — only the
    // final division/sqrt/round are float, composed identically.
    "sim_topk_q8" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e), " +
        "q8 AS (SELECT vec_id, list_transform(generate_series(1, 64), i -> " +
        "CASE WHEN scale = 0.0 THEN 0.0 WHEN v[i] >= 0 THEN floor(v[i]/scale + 0.5) " +
        "ELSE -floor(-v[i]/scale + 0.5) END) AS qv FROM s), " +
        "qq AS (SELECT qv AS qqv FROM q8 WHERE vec_id = (SELECT min(vec_id) FROM e)) " +
        "SELECT e8.vec_id, round(list_inner_product(e8.qv, qq.qqv) / " +
        "(sqrt(list_inner_product(e8.qv, e8.qv)) * sqrt(list_inner_product(qq.qqv, qq.qqv)) + 1e-12), 6) AS sim " +
        "FROM q8 e8, qq ORDER BY sim DESC, vec_id LIMIT 10"),

    "sample_hash" ->
      (s"SELECT doc_id, source, lang FROM documents WHERE $hashDraw < 0.1 " +
        "ORDER BY doc_id"),

    // Leakage replay: the jaccard pair relation and the split CASE joined —
    // the split thresholds embed Scala's cumulative-sum doubles as in
    // corpus_split.
    "split_leakage" ->
      (shingleCte + ", pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b " +
        "FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
        "WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.4), " +
        s"sp AS (SELECT doc_id, CASE WHEN $hashDraw < ${0.9} THEN 'train' " +
        s"WHEN $hashDraw < ${0.9 + 0.05} THEN 'valid' ELSE 'test' END AS split FROM documents) " +
        "SELECT sa.split AS split_a, sb.split AS split_b, count(*) AS n_pairs " +
        "FROM pr JOIN sp sa ON pr.doc_a = sa.doc_id JOIN sp sb ON pr.doc_b = sb.doc_id " +
        "WHERE sa.split <> sb.split GROUP BY 1, 2 ORDER BY split_a, split_b"),

    // same pair relation, sources attached instead of split labels
    "dedup_source_matrix" ->
      (shingleCte + ", pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b " +
        "FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
        "WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.4), " +
        "src AS (SELECT doc_id, source FROM documents) " +
        "SELECT sa.source AS source_a, sb.source AS source_b, count(*) AS n_pairs " +
        "FROM pr JOIN src sa ON pr.doc_a = sa.doc_id JOIN src sb ON pr.doc_b = sb.doc_id " +
        "GROUP BY 1, 2 ORDER BY source_a, source_b"),

    // Target-encode replay: cents sums (round(x*100, 0) — positive domain),
    // identical double operand shapes for the smoothed mean.
    "target_encode" ->
      ("WITH j AS (SELECT c_mktsegment, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c " +
        "FROM orders JOIN customer ON o_custkey = c_custkey), " +
        "p AS (SELECT c_mktsegment, count(*) AS n, sum(c) AS sc FROM j GROUP BY 1), " +
        "t AS (SELECT sum(sc) AS tc, sum(n) AS tn FROM p) " +
        "SELECT c_mktsegment, n, round((CAST(sc AS DOUBLE) / 100.0 + " +
        "10 * (CAST(tc AS DOUBLE) / 100.0 / tn)) / (n + 10), 6) AS enc " +
        "FROM p, t ORDER BY c_mktsegment"),

    // KS replay: per-value counts, one cumulative window (fine at oracle
    // scale; the Spark side uses the two-level bucket-prefix shape), exact
    // long CDF arithmetic, argmax on the UNROUNDED gap with value tiebreak.
    "drift_ks" ->
      ("WITH av AS (SELECT n_chars AS v, count(*) AS na FROM documents WHERE lang = 'en' GROUP BY 1), " +
        "bv AS (SELECT n_chars AS v, count(*) AS nb FROM documents WHERE lang <> 'en' GROUP BY 1), " +
        "j AS (SELECT coalesce(av.v, bv.v) AS v, coalesce(na, 0) AS na, coalesce(nb, 0) AS nb " +
        "FROM av FULL OUTER JOIN bv ON av.v = bv.v), " +
        "t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM j), " +
        "c AS (SELECT v, sum(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cna, " +
        "sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnb FROM j), " +
        "g AS (SELECT v, abs(CASE WHEN ta > 0 THEN CAST(cna AS DOUBLE) / ta ELSE 0.0 END " +
        "- CASE WHEN tb > 0 THEN CAST(cnb AS DOUBLE) / tb ELSE 0.0 END) AS d FROM c, t) " +
        "SELECT round(d, 6) AS ks, CAST(v AS BIGINT) AS at_value FROM g " +
        "ORDER BY d DESC, v LIMIT 1"),

    "dp_counts" -> dpCountsOracle,

    "dp_histogram" -> dpHistogramOracle,
    "dp_quantile" -> dpQuantileOracle,

    "dp_mean" -> dpMeanOracle,

    "l_diversity" ->
      ("WITH u AS (SELECT DISTINCT source, lang FROM documents), " +
        "g AS (SELECT source, count(*) AS d FROM u GROUP BY source) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_groups, " +
        "CAST(sum(CASE WHEN d < 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating, " +
        "CAST(min(d) AS BIGINT) AS min_diversity FROM g"),

    "dp_topk" -> dpTopKOracle,

    // t_closeness oracle: the same integer-term total-variation algebra —
    // absent values fold in closed form (N·N_g plus the in-group
    // corrections), one rounded division per group.
    "t_closeness" ->
      ("WITH cgv AS (SELECT source, lang, count(*) AS cgv FROM documents GROUP BY 1, 2), " +
        "cv AS (SELECT lang, count(*) AS cv FROM documents GROUP BY 1), " +
        "ng AS (SELECT source, sum(cgv) AS ng FROM cgv GROUP BY 1), " +
        "nn AS (SELECT count(*) AS n FROM documents), " +
        "g AS (SELECT cgv.source, min(ng.ng) AS ng, " +
        "sum(abs(cgv.cgv * nn.n - cv.cv * ng.ng) - cv.cv * ng.ng) AS part " +
        "FROM cgv JOIN cv USING (lang) JOIN ng USING (source) CROSS JOIN nn GROUP BY 1), " +
        "dd AS (SELECT round(CAST(part + nn.n * ng AS DOUBLE) / (2.0 * ng * nn.n), 6) AS d " +
        "FROM g CROSS JOIN nn) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_groups, " +
        "CAST(sum(CASE WHEN d > 0.15 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating, " +
        "max(d) AS max_distance FROM dd"),

    "k_anonymity" ->
      ("WITH g AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_groups, " +
        "CAST(sum(CASE WHEN n < 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating, " +
        "CAST(sum(CASE WHEN n < 40 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk, " +
        "CAST(min(n) AS BIGINT) AS min_group_size FROM g"),

    // Remediation replay: the generalization-ladder walk in SQL — the
    // chosen level is the first whose min group count reaches k = 40,
    // and the release is that level's group-count relation.
    "k_generalize" ->
      ("WITH l0 AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2), " +
        "l1 AS (SELECT lang, '*' AS source, count(*) AS n FROM documents GROUP BY 1), " +
        "l2 AS (SELECT '*' AS lang, '*' AS source, count(*) AS n FROM documents), " +
        "chosen AS (SELECT CASE " +
        "WHEN (SELECT coalesce(min(n), 9223372036854775807) FROM l0) >= 40 THEN 0 " +
        "WHEN (SELECT coalesce(min(n), 9223372036854775807) FROM l1) >= 40 THEN 1 " +
        "ELSE 2 END AS lvl), " +
        "u AS (SELECT 0 AS l, * FROM l0 UNION ALL SELECT 1, * FROM l1 " +
        "UNION ALL SELECT 2, * FROM l2) " +
        "SELECT CAST(chosen.lvl AS INTEGER) AS level, lang, source, " +
        "CAST(n AS BIGINT) AS n FROM u, chosen WHERE u.l = chosen.lvl " +
        "ORDER BY lang, source"),

    // Split thresholds embed Scala's OWN cumulative-sum doubles (0.9 + 0.05
    // prints as 0.9500000000000001) so both engines compare the draw
    // against bit-identical cut points.
    "corpus_split" ->
      (s"WITH a AS (SELECT source, n_chars, CASE WHEN $hashDraw < ${0.9} " +
        s"THEN 'train' WHEN $hashDraw < ${0.9 + 0.05} THEN 'valid' " +
        "ELSE 'test' END AS split FROM documents) " +
        "SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM a " +
        "GROUP BY split, source ORDER BY split, source"),

    "sample_weighted" ->
      (s"WITH q AS (SELECT doc_id, lang, $qualityExprSql AS quality FROM documents) " +
        s"SELECT doc_id, lang, quality FROM q " +
        s"WHERE $hashDraw < greatest(0.0, least(1.0, quality)) ORDER BY doc_id"),

    "corpus_budget" ->
      (s"WITH b AS (SELECT doc_id, $qualityExprSql AS score, " +
        "CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok FROM documents), " +
        "r AS (SELECT doc_id, score, n_tok, CAST(COALESCE(SUM(n_tok) OVER " +
        "(ORDER BY score DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM b) " +
        "SELECT doc_id, score, n_tok, cum_before, cum_before < 20000 AS keep " +
        "FROM r ORDER BY doc_id"),

    "corpus_mix" ->
      (s"SELECT source, count(*) AS n_docs FROM documents WHERE $hashDraw < " +
        "(CASE WHEN source = 'src0' THEN 1.0 WHEN source = 'src1' THEN 0.5 " +
        "WHEN source = 'src2' THEN 0.25 ELSE 0.0 END) " +
        "GROUP BY source ORDER BY source"),

    "corpus_mix_rates" ->
      ("WITH ps AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY source), " +
        "w AS (SELECT source, n_tokens, pow(CAST(n_tokens AS DOUBLE), 0.7) AS wv FROM ps), " +
        "t AS (SELECT source, n_tokens, wv, SUM(wv) OVER (ORDER BY source " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS tot FROM w) " +
        "SELECT source, n_tokens, round(least(1.0, 30000.0 * wv / (tot * n_tokens)), 6) AS rate " +
        "FROM t ORDER BY source"),

    // Replays the two-level shard packing as ONE window in (shard, id)
    // order — the decomposition is exact, so the single-window prefix is
    // identical to offset + within-shard prefix.
    "pack_sequences" ->
      (s"WITH b AS (SELECT doc_id, lang, ${mix32Sql("doc_id")} % 64 AS shard, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents) " +
        "SELECT doc_id, lang, CAST(floor(COALESCE(SUM(n_tok) " +
        "OVER (PARTITION BY lang ORDER BY shard, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT) AS bin, " +
        "n_tok FROM b ORDER BY doc_id"),

    "pack_concat" ->
      (s"WITH b AS (SELECT doc_id, lang, ${mix32Sql("doc_id")} % 64 AS shard, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
        "p AS (SELECT doc_id, lang, CAST(floor(COALESCE(SUM(n_tok) " +
        "OVER (PARTITION BY lang ORDER BY shard, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT) AS bin, " +
        "n_tok FROM b) " +
        "SELECT p.lang, p.bin, CAST(SUM(p.n_tok) AS BIGINT) AS bin_tokens, " +
        "string_agg(d.text, ' <eos> ' ORDER BY p.doc_id) AS seq_text " +
        "FROM p JOIN documents d USING (doc_id) " +
        "GROUP BY p.lang, p.bin ORDER BY p.lang, p.bin"),

    "pack_efficiency" ->
      (s"WITH b AS (SELECT doc_id, lang, ${mix32Sql("doc_id")} % 64 AS shard, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
        "p AS (SELECT doc_id, lang, CAST(floor(COALESCE(SUM(n_tok) " +
        "OVER (PARTITION BY lang ORDER BY shard, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT) AS bin, " +
        "n_tok FROM b), " +
        "g AS (SELECT lang, bin, SUM(n_tok) AS bt FROM p GROUP BY 1, 2) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_bins, " +
        "CAST(sum(bt) AS BIGINT) AS total_tok, " +
        "CAST(min(bt) AS BIGINT) AS min_bin_tok, CAST(max(bt) AS BIGINT) AS max_bin_tok, " +
        "round(CAST(sum(bt) AS DOUBLE) / count(*) / 512, 6) AS mean_fill " +
        "FROM g GROUP BY lang ORDER BY lang"),

    "chunk_documents" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), tk -> tk <> '') AS tk FROM documents), " +
        "v AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0), " +
        "c AS (SELECT doc_id, tk, unnest(generate_series(0, " +
        "CAST(ceil(greatest(n - 40, 0) / 32.0) AS BIGINT))) AS chunk_id FROM v), " +
        "w AS (SELECT doc_id, chunk_id, tk[chunk_id*32+1 : chunk_id*32+40] AS wts FROM c) " +
        "SELECT doc_id, chunk_id, CAST(len(wts) AS BIGINT) AS chunk_tokens, " +
        "array_to_string(wts, ' ') AS chunk_text FROM w ORDER BY doc_id, chunk_id"),

    "sample_stratified" ->
      (s"SELECT lang, doc_id FROM (SELECT lang, doc_id, ROW_NUMBER() OVER " +
        s"(PARTITION BY lang ORDER BY $hashDraw, doc_id) AS r FROM documents) " +
        "WHERE r <= 20 ORDER BY lang, doc_id"),

    "topk_per_group" ->
      ("SELECT lang, doc_id, n_chars, rn FROM (SELECT lang, doc_id, n_chars, " +
        "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn " +
        "FROM documents) WHERE rn <= 3 ORDER BY lang, rn"),

    // domain_quota oracle: the registrable domain stated from the URL
    // construction formula (the Spark side parses it out of the raw URL),
    // quality replayed with the shared 4-dp formula, the ranked window
    // with the same (score DESC, id ASC) order, URL-less docs ranked on a
    // per-doc key.
    "domain_quota" ->
      ("WITH d AS (SELECT doc_id, doc_id // 5 AS g, " +
        "round(0.3 * least(1.0, length(text) / 500.0) + " +
        "0.4 * (len(list_distinct(string_split(text,' '))) * 1.0 / len(string_split(text,' '))) + " +
        s"0.3 * (len(list_filter(string_split(text,' '), t -> list_contains($allStop, t))) * 1.0 / " +
        "len(string_split(text,' '))), 4) AS q FROM documents), " +
        "dom AS (SELECT doc_id, q, CASE " +
        "WHEN g % 4 = 0 THEN 'site' || g || '.com' " +
        "WHEN g % 4 = 1 THEN 'blog' || g || '.co.uk' " +
        "WHEN g % 4 = 2 THEN 'news' || g || '.org' " +
        "ELSE NULL END AS domain FROM d), " +
        "r AS (SELECT doc_id, domain, ROW_NUMBER() OVER " +
        "(PARTITION BY coalesce(domain, 'doc:' || doc_id) " +
        "ORDER BY q DESC, doc_id) AS rank FROM dom) " +
        "SELECT doc_id, domain, CAST(rank AS BIGINT) AS rank FROM r " +
        "WHERE rank <= 3 ORDER BY doc_id"),

    // scan_warc oracle: the archived relation restated — the Spark side
    // must earn every row through the byte-offset record walk (a payload
    // newline would desync any line-based reader).
    "scan_warc" ->
      ("SELECT doc_id, 'http://w' || doc_id || '.example/x' AS url, " +
        "'L1' || chr(10) || text AS text FROM documents ORDER BY doc_id"),

    // scan_warc_gz oracle: the same archived relation — gzip members and
    // the HTTP header block are container artifacts the reader must
    // strip without a trace.
    "scan_warc_gz" ->
      ("SELECT doc_id, 'http://w' || doc_id || '.example/x' AS url, " +
        "'L1' || chr(10) || text AS text FROM documents ORDER BY doc_id"),

    // robots_filter oracle: verdicts from the construction — /a/* has no
    // matching rule (allowed), /private/x hits Disallow:/private,
    // /private/ok/y's LONGEST match is Allow:/private/ok, /tmp/z hits
    // Disallow:/tmp; the foreign `bot` group never applies to `*`.
    "robots_filter" ->
      ("SELECT doc_id, 'http://site' || (doc_id // 4) || '.com' || " +
        "CASE doc_id % 4 WHEN 0 THEN '/a/x' WHEN 1 THEN '/private/x' " +
        "WHEN 2 THEN '/private/ok/y' ELSE '/tmp/z' END AS url, " +
        "doc_id % 4 IN (0, 2) AS allowed FROM documents ORDER BY doc_id"),

    "heavy_hitters" ->
      ("SELECT user_id AS key, count(*) AS cnt FROM events " +
        "GROUP BY user_id ORDER BY cnt DESC, key LIMIT 20"),

    "heavy_hitters_cms" -> cmsOracle,

    // Rebuilds the KMV sketch exactly: mix32 scatter + seeded affine draw
    // per distinct user_id, k smallest hashes per group, (k-1)*P1/h_k.
    "distinct_kmv" -> kmvOracle,
    "distinct_hll" -> hllOracle,

    "quantile_sketch" -> quantileSketchSql("lineitem", "l_returnflag",
      "l_extendedprice", "0.0", "131072.0", "256.0", 512,
      Seq(0.5, 0.95, 0.99)),
    // one-shot over ALL orders: the merged (history + batch) registers
    // equal these registers exactly — the add-merge theorem is the gate
    "quantile_sketch_incremental" -> quantileSketchSql("orders",
      "o_orderpriority", "o_totalprice", "0.0", "524288.0", "1024.0", 512,
      Seq(0.5, 0.9)),
    "distinct_hll_incremental" -> hllIncOracle,
    "kmv_overlap" -> kmvOverlapOracle,

    // deliberately the UNSALTED join: hash-equality proves the salted plan
    // computes the identical relation
    "salted_join_agg" ->
      ("SELECT c_nationkey, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_nationkey ORDER BY c_nationkey"),

    // plain unbucketed SQL: the bucketed layout must not change values
    "bucketed_join_agg" ->
      ("SELECT o_custkey, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY o_custkey ORDER BY o_custkey"),

    "dedup_semantic" -> semanticDedupOracle,

    "sim_knn_graph" -> knnGraphOracle,
    "graph_pagerank" -> pagerankOracle,
    "graph_triangles" -> triangleOracle,
    "ann_recall_eval" -> annRecallOracle,

    "fingerprint_winnow" ->
      (winnowCte + " SELECT doc_id, fp FROM f ORDER BY doc_id, fp"),

    "dedup_winnow" ->
      (winnowCte +
        ", d AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 1000), " +
        "kept AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp)) " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared " +
        "FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY doc_a, doc_b"),

    // Containment: same shingle relation, min-size denominator, 0.5 gate.
    "dedup_containment" ->
      (shingleCte + " SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "round(len(list_intersect(a.sh, b.sh)) * 1.0 / least(len(a.sh), len(b.sh)), 4) AS containment " +
        "FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
        "WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0 / least(len(a.sh), len(b.sh)), 4) >= 0.5 " +
        "ORDER BY doc_a, doc_b"),

    "dedup_ngram_jaccard" ->
      (shingleCte + " SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jacc " +
        "FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
        "WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.4 " +
        "ORDER BY doc_a, doc_b"),

    // Incrementally-built layout ≡ one-shot kernel: the same full-corpus
    // pair SQL as dedup_ngram_jaccard (the split into history + appended
    // crawl is invisible in the result — that is the gate).
    "pairs_index_append" ->
      (shingleCte + " SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jacc " +
        "FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
        "WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.4 " +
        "ORDER BY doc_a, doc_b"),

    // The persisted-layout probe is the SAME pair relation restricted to
    // one modulus bucket of the left doc id — plain `% 16` so the replay
    // needs no engine-internal hash.
    "dedup_pairs_index" ->
      (shingleCte + " SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jacc " +
        "FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
        "WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.4 " +
        "AND a.doc_id % 16 = 3 " +
        "ORDER BY doc_a, doc_b"),

    "dedup_embedding" ->
      ("WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) " +
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
        "round(list_inner_product(a.v, b.v) / (sqrt(list_inner_product(a.v, a.v)) * " +
        "sqrt(list_inner_product(b.v, b.v))), 6) AS sim " +
        "FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id " +
        "WHERE round(list_inner_product(a.v, b.v) / (sqrt(list_inner_product(a.v, a.v)) * " +
        "sqrt(list_inner_product(b.v, b.v))), 6) >= 0.4 ORDER BY vec_a, vec_b"),

    "embed_centroids" ->
      ("WITH u AS (SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS x " +
        "FROM embeddings, generate_series(1, 64) AS t(i) WHERE i <= len(embedding)), " +
        "m AS (SELECT label, pos, round(avg(x), 6) AS m FROM u GROUP BY label, pos), " +
        "n AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label) " +
        "SELECT label, CAST(m.pos - 1 AS BIGINT) AS pos, m.m AS m, n.n AS n " +
        "FROM m JOIN n USING (label) ORDER BY label, pos"),

    // centroid drift replay: per-(label, side, pos) component sums, dot
    // products over the 64 positions, cosine of the sum vectors (counts
    // cancel). The component sums are order-dependent double adds on both
    // engines — the 6 dp edge round is the same tolerance embed_centroids
    // established.
    "embed_drift" ->
      ("WITH u AS (SELECT label, vec_id % 2 AS side, i AS pos, CAST(embedding[i] AS DOUBLE) AS x " +
        "FROM embeddings, generate_series(1, 64) AS t(i) WHERE i <= len(embedding)), " +
        "sv AS (SELECT label, side, pos, sum(x) AS s FROM u GROUP BY label, side, pos), " +
        "d AS (SELECT a.label AS label, sum(a.s * b.s) AS ab, sum(a.s * a.s) AS aa, sum(b.s * b.s) AS bb " +
        "FROM sv a JOIN sv b ON a.label = b.label AND a.pos = b.pos AND a.side = 0 AND b.side = 1 " +
        "GROUP BY a.label), " +
        "n AS (SELECT label, sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a, " +
        "sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b FROM embeddings GROUP BY label) " +
        "SELECT label, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, " +
        "round(ab / (sqrt(aa) * sqrt(bb)), 6) AS cos FROM d JOIN n USING (label) ORDER BY label"),

    "sim_topk" ->
      ("WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings ORDER BY vec_id LIMIT 1) " +
        "SELECT vec_id, round(list_inner_product(CAST(embedding AS DOUBLE[]), qv) / " +
        "(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) * " +
        "sqrt(list_inner_product(qv, qv))), 6) AS sim " +
        "FROM embeddings, q ORDER BY sim DESC, vec_id LIMIT 10"),

    "sim_nn_label" ->
      ("WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "j AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "round(list_inner_product(a.v, b.v) / (sqrt(list_inner_product(a.v, a.v)) * " +
        "sqrt(list_inner_product(b.v, b.v))), 6) AS sim " +
        "FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id), " +
        "rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn FROM j) " +
        "SELECT a_id, b_id, sim FROM rk WHERE rn = 1 ORDER BY a_id"),

    "text_stats" ->
      ("SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS avg_tokens, " +
        "CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens " +
        "FROM documents GROUP BY lang ORDER BY lang"),

    // Vocabulary-growth replay: first-occurrence doc per 5-gram shingle
    // (the shingleCte extraction), integer decile arithmetic identical on
    // both sides.
    "vocab_growth" ->
      (shingleCte +
        ", u AS (SELECT doc_id, unnest(sh) AS g FROM s), " +
        "f AS (SELECT g, min(doc_id) AS fd FROM u GROUP BY g), " +
        "m AS (SELECT max(doc_id) AS mx FROM documents) " +
        "SELECT (fd * 10) // (mx + 1) AS decile, CAST(count(*) AS BIGINT) AS n_new_shingles " +
        "FROM f, m GROUP BY 1 ORDER BY decile"),

    // Per-doc novelty replay: firsts relation as in vocab_growth, novel
    // counts grouped by first doc, doc-local distinct-shingle denominator
    // (len of the already-distinct sh list).
    "doc_novelty" ->
      (shingleCte +
        ", u AS (SELECT doc_id, unnest(sh) AS g FROM s), " +
        "f AS (SELECT g, min(doc_id) AS fd FROM u GROUP BY g), " +
        "nv AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS n_novel FROM f GROUP BY 1), " +
        "pd AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles FROM s) " +
        "SELECT pd.doc_id, n_shingles, COALESCE(n_novel, 0) AS n_novel, " +
        "round(COALESCE(n_novel, 0) / " +
        "(CASE WHEN n_shingles > 0 THEN CAST(n_shingles AS DOUBLE) ELSE 1.0 END), 6) AS novelty " +
        "FROM pd LEFT JOIN nv USING (doc_id) ORDER BY pd.doc_id"),

    // Inverted index: distinct (doc, term) then one grouped agg; the
    // posting list is ORDER BY doc_id (no ties — ids are distinct) and
    // is emitted as a comma-joined string so the comparator never sees
    // a list-typed cell.
    "inverted_index" ->
      ("WITH u0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "u AS (SELECT DISTINCT doc_id, term FROM u0) " +
        "SELECT term, CAST(count(*) AS BIGINT) AS df, " +
        "string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings " +
        "FROM u GROUP BY term ORDER BY term"),

    // BM25 replay: identical arithmetic shapes (constants written as the
    // same literals/sums both sides, e.g. (1.2 + 1.0) not 2.2), per-term
    // micro-unit rounding before the per-doc sum, (score DESC, doc_id)
    // top-10.
    "bm25_topk" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "l AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM t), " +
        "st AS (SELECT count(*) AS n_docs, SUM(dl) AS sum_dl FROM l), " +
        "u AS (SELECT doc_id, unnest(w) AS term FROM t), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM u " +
        "WHERE term IN ('spark', 'window', 'agg') GROUP BY doc_id, term), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
        "sc AS (SELECT tf.doc_id, " +
        "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) / " +
        "(tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs))) AS s " +
        "FROM tf JOIN df USING (term) JOIN l ON l.doc_id = tf.doc_id CROSS JOIN st), " +
        "m AS (SELECT doc_id, CASE WHEN s * 1000000.0 >= 0 " +
        "THEN floor(s * 1000000.0 + 0.5) " +
        "ELSE -floor(-(s * 1000000.0) + 0.5) END AS t FROM sc) " +
        "SELECT doc_id, round(SUM(t) / 1000000.0, 6) AS score FROM m " +
        "GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10"),

    // RRF replay: both legs' top-10 ranked on their exact keys, a full
    // outer join, 1/(60+rank) terms summed in the same left-to-right IEEE
    // order the Spark expression uses.
    "hybrid_topk" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "l AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM t), " +
        "st AS (SELECT count(*) AS n_docs, SUM(dl) AS sum_dl FROM l), " +
        "u AS (SELECT doc_id, unnest(w) AS term FROM t), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM u " +
        "WHERE term IN ('spark', 'window', 'agg') GROUP BY doc_id, term), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
        "sc AS (SELECT tf.doc_id, " +
        "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) / " +
        "(tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs))) AS s " +
        "FROM tf JOIN df USING (term) JOIN l ON l.doc_id = tf.doc_id CROSS JOIN st), " +
        "m AS (SELECT doc_id, CASE WHEN s * 1000000.0 >= 0 " +
        "THEN floor(s * 1000000.0 + 0.5) " +
        "ELSE -floor(-(s * 1000000.0) + 0.5) END AS t FROM sc), " +
        "lex10 AS (SELECT doc_id, SUM(t) AS sm FROM m " +
        "GROUP BY doc_id ORDER BY sm DESC, doc_id LIMIT 10), " +
        "lexr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sm DESC, doc_id) AS lex_rank FROM lex10), " +
        "q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings ORDER BY vec_id LIMIT 1), " +
        "d10 AS (SELECT vec_id, round(list_inner_product(CAST(embedding AS DOUBLE[]), qv) / " +
        "(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) * " +
        "sqrt(list_inner_product(qv, qv))), 6) AS sim " +
        "FROM embeddings, q ORDER BY sim DESC, vec_id LIMIT 10), " +
        "dr AS (SELECT vec_id AS doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS dense_rank FROM d10) " +
        "SELECT COALESCE(lx.doc_id, dr.doc_id) AS doc_id, " +
        "round(COALESCE(1.0 / (60 + lex_rank), 0) + COALESCE(1.0 / (60 + dense_rank), 0), 6) AS rrf, " +
        "CAST(lex_rank AS INTEGER) AS lex_rank, CAST(dense_rank AS INTEGER) AS dense_rank " +
        "FROM lexr lx FULL OUTER JOIN dr ON lx.doc_id = dr.doc_id " +
        "ORDER BY rrf DESC, doc_id LIMIT 10"),

    // Batch-BM25 replay: the query relation as VALUES, the same scoring
    // CTEs, a per-query ROW_NUMBER on (integer micro-sum DESC, doc_id).
    "bm25_queries" -> bm25QueriesOracleSql,

    // identical arithmetic through the persisted bucket-partitioned
    // index (bucketing is layout only), so the same replay gates it
    "bm25_index" -> bm25QueriesOracleSql,
    "bm25_index_append" -> bm25QueriesOracleSql,
    "hard_negatives" -> hardNegativesOracleSql,

    // Token entropy replay: per-term micro-bit rounding (c·ln(c)/ln(2),
    // floor(x+0.5) — terms are ≥ 0) BEFORE the sum, so both engines add
    // the same integers in any order.
    "token_entropy" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "u AS (SELECT doc_id, unnest(w) AS tk FROM t), " +
        "c AS (SELECT doc_id, tk, count(*) AS c FROM u GROUP BY doc_id, tk), " +
        "s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct, " +
        "SUM(CAST(floor(c * (ln(c)/ln(2)) * 1000000.0 + 0.5) AS BIGINT)) AS s " +
        "FROM c GROUP BY doc_id), " +
        "n AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok FROM t) " +
        "SELECT n.doc_id AS doc_id, n_tok, n_distinct, " +
        "round(ln(n_tok)/ln(2) - s/(n_tok * 1000000.0), 6) AS entropy " +
        "FROM s JOIN n ON s.doc_id = n.doc_id ORDER BY doc_id"),

    "lang_id" ->
      ("WITH s AS (SELECT lang, " +
        s"len(list_intersect(string_split(text,' '), ${stopList("de")})) AS s_de, " +
        s"len(list_intersect(string_split(text,' '), ${stopList("en")})) AS s_en, " +
        s"len(list_intersect(string_split(text,' '), ${stopList("es")})) AS s_es, " +
        s"len(list_intersect(string_split(text,' '), ${stopList("fr")})) AS s_fr FROM documents), " +
        "b AS (SELECT lang, s_de, s_en, s_es, s_fr, greatest(s_de, s_en, s_es, s_fr) AS best FROM s) " +
        "SELECT lang, CASE WHEN s_de > 0 AND s_de = best THEN 'de' " +
        "WHEN s_en > 0 AND s_en = best THEN 'en' WHEN s_es > 0 AND s_es = best THEN 'es' " +
        "WHEN s_fr > 0 AND s_fr = best THEN 'fr' ELSE 'und' END AS pred_lang, " +
        "count(*) AS n FROM b GROUP BY 1, 2 ORDER BY lang, pred_lang"),

    "quality_score" ->
      ("SELECT doc_id, round(0.3 * least(1.0, length(text) / 500.0) + " +
        "0.4 * (len(list_distinct(string_split(text,' '))) * 1.0 / len(string_split(text,' '))) + " +
        s"0.3 * (len(list_filter(string_split(text,' '), t -> list_contains($allStop, t))) * 1.0 / " +
        "len(string_split(text,' '))), 4) AS quality FROM documents ORDER BY doc_id"),

    // html_extract oracle: the visible text and title stated straight from
    // the wrapper formula — the Spark side must earn them through the
    // general strip/decode chain (note '&lt;' survives literally: the
    // input had &amp;lt;, and amp decodes LAST).
    "html_extract" ->
      ("SELECT doc_id, 'Doc ' || doc_id AS title, " +
        "'Doc ' || doc_id || ' Home > Section & Index ' || text || ' &lt; tricky' AS content " +
        "FROM documents ORDER BY doc_id"),

    // url_canonicalize oracle: the construction formula's raw variants AND
    // the one canonical form they must collapse to, stated directly — the
    // Spark side must EARN the right column through the general rule
    // chain (case, ports, www, slashes, tracking params, sort, fragment).
    "url_canonicalize" ->
      ("WITH d AS (SELECT doc_id, CAST(doc_id // 4 AS VARCHAR) AS g, doc_id % 4 AS r FROM documents) " +
        "SELECT doc_id, CASE r " +
        "WHEN 0 THEN 'http://www.site' || g || '.example.com/a//b/?id=' || g || '&utm_source=feed' " +
        "WHEN 1 THEN 'HTTP://WWW.Site' || g || '.Example.COM:80/a/b?utm_campaign=x&id=' || g " +
        "WHEN 2 THEN 'http://site' || g || '.example.com/a/b/?id=' || g || '#frag' " +
        "ELSE 'http://site' || g || '.example.com:80/a/b?id=' || g || '&ref=tw' END AS url, " +
        "'http://site' || g || '.example.com/a/b?id=' || g AS canonical " +
        "FROM d ORDER BY doc_id"),

    "dedup_url" ->
      ("WITH d AS (SELECT doc_id, CAST(doc_id // 4 AS VARCHAR) AS g FROM documents) " +
        "SELECT 'http://site' || g || '.example.com/a/b?id=' || g AS canonical, " +
        "CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS first_doc " +
        "FROM d GROUP BY 1 ORDER BY canonical"),

    // langid_nb oracle: the full Naive Bayes train + predict replay —
    // Laplace-smoothed (label, word) conditionals and priors as half-up
    // micro-unit log10 BIGINTs (the lm_score convention), scores as pure
    // integer sums, argmax with the label-order tiebreak.
    "langid_nb" -> {
      def m(x: String): String =
        s"CAST(CASE WHEN ln($x)/ln(10)*1000000.0 >= 0 " +
          s"THEN floor(ln($x)/ln(10)*1000000.0 + 0.5) " +
          s"ELSE -floor(-(ln($x)/ln(10)*1000000.0) + 0.5) END AS BIGINT)"
      "WITH tr AS (SELECT lang, text FROM documents WHERE doc_id % 2 = 0), " +
        "tt AS (SELECT lang AS label, unnest(string_split(text, ' ')) AS word FROM tr), " +
        "c AS (SELECT label, word, count(*) AS c FROM tt GROUP BY 1, 2), " +
        "voc AS (SELECT DISTINCT word FROM c), " +
        "v AS (SELECT count(*) AS v FROM voc), " +
        "nd AS (SELECT lang AS label, count(*) AS nd FROM tr GROUP BY 1), " +
        "ndt AS (SELECT count(*) AS ndt FROM tr), " +
        "lb AS (SELECT label, sum(c) AS tot FROM c GROUP BY 1), " +
        "labels AS (SELECT nd.label, coalesce(lb.tot, 0) AS tot, v.v, " +
        m("CAST(nd.nd AS DOUBLE) / ndt.ndt") + " AS prior_micro, " +
        m("1.0 / greatest(coalesce(lb.tot, 0) + v.v, 1)") + " AS oov_micro " +
        "FROM nd LEFT JOIN lb USING (label) CROSS JOIN v CROSS JOIN ndt), " +
        "mo AS (SELECT voc.word, labels.label, " +
        m("CAST(coalesce(c.c, 0) + 1 AS DOUBLE) / (labels.tot + labels.v)") + " AS lp " +
        "FROM voc CROSS JOIN labels LEFT JOIN c ON c.word = voc.word AND c.label = labels.label), " +
        "tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "sin AS (SELECT tk.doc_id, mo.label, sum(mo.lp) AS s_in, count(*) AS n_in " +
        "FROM tk JOIN mo ON mo.word = tk.word GROUP BY 1, 2), " +
        "base AS (SELECT doc_id, lang AS true_lang, len(string_split(text, ' ')) AS n_tok FROM documents), " +
        "sc AS (SELECT base.doc_id, base.true_lang, labels.label, " +
        "labels.prior_micro + coalesce(sin.s_in, 0) + (base.n_tok - coalesce(sin.n_in, 0)) * labels.oov_micro AS score " +
        "FROM base CROSS JOIN labels LEFT JOIN sin ON sin.doc_id = base.doc_id AND sin.label = labels.label), " +
        "pr AS (SELECT doc_id, true_lang, label, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rn FROM sc) " +
        "SELECT true_lang AS lang, label AS pred_lang, CAST(count(*) AS BIGINT) AS n " +
        "FROM pr WHERE rn = 1 GROUP BY 1, 2 ORDER BY lang, pred_lang"
    },

    "token_count" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_alpha, " +
        "CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS n_bpe FROM documents ORDER BY doc_id"),

    "quality_signals" ->
      ("WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents) " +
        "SELECT doc_id, " +
        "round(1.0 - CAST(len(list_distinct(list_transform(generate_series(1, greatest(len(w)-2, least(len(w), 1))), " +
        "i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS DOUBLE) / greatest(len(w)-2, least(len(w), 1)), 4) AS rep3, " +
        "round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w), 4) AS mean_wlen, " +
        "round(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / length(text), 4) AS sym_ratio " +
        "FROM t ORDER BY doc_id"),

    // Gopher repetition filters replayed: grams per order via list slicing,
    // per-(doc, k) argmax on (cnt DESC, gram DESC) via a window, then the
    // same conditional fold per document.
    "repetition_stats" ->
      (repStatsCte +
        " SELECT doc_id, round(t2 * 1.0 / tl, 4) AS top2_frac, round(t3 * 1.0 / tl, 4) AS top3_frac, " +
        "round(t4 * 1.0 / tl, 4) AS top4_frac, round(d5 * 1.0 / tl, 4) AS dup5_frac " +
        "FROM a ORDER BY doc_id"),

    // The composite filter: the quality_signals fragments plus the
    // repetition fractions, folded to the same rule bitmask. Thresholds
    // compare the ROUNDED signals on both engines.
    "gopher_filter" ->
      (repStatsCte + ", " +
        "s AS (SELECT doc_id, len(w) AS n_words, " +
        "round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w), 4) AS mwl, " +
        "round(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / length(text), 4) AS sym " +
        "FROM t), " +
        "r AS (SELECT doc_id, round(t2 * 1.0 / tl, 4) AS top2, round(d5 * 1.0 / tl, 4) AS dup5 FROM a), " +
        "f AS (SELECT s.doc_id AS doc_id, CAST(n_words AS BIGINT) AS n_words, " +
        "CAST((CASE WHEN n_words < 50 OR n_words > 100000 THEN 1 ELSE 0 END) " +
        "+ (CASE WHEN mwl < 3.0 OR mwl > 10.0 THEN 2 ELSE 0 END) " +
        "+ (CASE WHEN sym > 0.1 THEN 4 ELSE 0 END) " +
        "+ (CASE WHEN coalesce(top2, 0) > 0.20 THEN 8 ELSE 0 END) " +
        "+ (CASE WHEN coalesce(dup5, 0) > 0.15 THEN 16 ELSE 0 END) AS BIGINT) AS rules_failed " +
        "FROM s LEFT JOIN r ON s.doc_id = r.doc_id) " +
        "SELECT doc_id, n_words, rules_failed, " +
        "CAST(CASE WHEN rules_failed = 0 THEN 1 ELSE 0 END AS BIGINT) AS kept " +
        "FROM f ORDER BY doc_id"),

    // Scoreboard replay: the gopher rule bitmask CTE joined with the
    // 1e-4-unit quality, grouped per source with the same IEEE chains.
    "source_scoreboard" ->
      (repStatsCte + ", " +
        "s AS (SELECT doc_id, len(w) AS n_words, " +
        "round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w), 4) AS mwl, " +
        "round(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / length(text), 4) AS sym " +
        "FROM t), " +
        "r AS (SELECT doc_id, round(t2 * 1.0 / tl, 4) AS top2, round(d5 * 1.0 / tl, 4) AS dup5 FROM a), " +
        "f AS (SELECT s.doc_id AS doc_id, " +
        "CASE WHEN (CASE WHEN n_words < 50 OR n_words > 100000 THEN 1 ELSE 0 END) " +
        "+ (CASE WHEN mwl < 3.0 OR mwl > 10.0 THEN 2 ELSE 0 END) " +
        "+ (CASE WHEN sym > 0.1 THEN 4 ELSE 0 END) " +
        "+ (CASE WHEN coalesce(top2, 0) > 0.20 THEN 8 ELSE 0 END) " +
        "+ (CASE WHEN coalesce(dup5, 0) > 0.15 THEN 16 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS kept " +
        "FROM s LEFT JOIN r ON s.doc_id = r.doc_id), " +
        "q AS (SELECT doc_id, CAST(floor((0.3 * least(1.0, length(text) / 500.0) + " +
        "0.4 * (len(list_distinct(string_split(text,' '))) * 1.0 / len(string_split(text,' '))) + " +
        s"0.3 * (len(list_filter(string_split(text,' '), tk -> list_contains($allStop, tk))) * 1.0 / " +
        "len(string_split(text,' ')))) * 10000 + 0.5) AS BIGINT) AS qm FROM documents) " +
        "SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(f.kept) AS BIGINT) AS n_kept, " +
        "round(CAST(sum(f.kept) AS DOUBLE) / count(*), 6) AS keep_rate, " +
        "round(CAST(sum(q.qm) AS DOUBLE) / 10000 / count(*), 6) AS mean_quality " +
        "FROM documents d JOIN f ON d.doc_id = f.doc_id JOIN q ON d.doc_id = q.doc_id " +
        "GROUP BY d.source ORDER BY d.source"),

    // html_links oracle: the edge relation stated straight from the link
    // formula — the Spark side must EARN it through markup extraction and
    // the URL host rules.
    "html_links" ->
      (linkEdgesCte +
        " SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links " +
        "FROM le GROUP BY 1, 2 ORDER BY src_host, dst_host"),

    "link_pagerank" -> linkPagerankOracle,

    // frontier_rank oracle: the pagerank replay joined with the same
    // per-host holdings and the parity robots rule, priority as pure
    // integer division.
    "frontier_rank" ->
      (linkEdgesCte +
        ", ed AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM le), " +
        pagerankBodySql +
        ", us AS (SELECT 'site' || (doc_id % 50) || '.example.com' AS host, " +
        "CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1) " +
        "SELECT r3.id AS host, CAST(r3.r AS BIGINT) AS rank_micro, " +
        "(CAST(regexp_extract(r3.id, '^site([0-9]+)', 1) AS BIGINT) % 2 = 0) AS allowed, " +
        "coalesce(us.n_docs, 0) AS n_docs, " +
        "CASE WHEN CAST(regexp_extract(r3.id, '^site([0-9]+)', 1) AS BIGINT) % 2 = 0 " +
        "THEN CAST(r3.r AS BIGINT) // (coalesce(us.n_docs, 0) + 1) " +
        "ELSE CAST(0 AS BIGINT) END AS priority_micro " +
        "FROM r3 LEFT JOIN us ON us.host = r3.id ORDER BY host"),

    // anchor_terms oracle: the (dst_host, term) relation from the link
    // formula (term = the doc's (j+1)-th word), counted and top-3'd per
    // host with the same (n DESC, term) tiebreak.
    "anchor_terms" ->
      ("WITH lj AS (SELECT doc_id, string_split(text, ' ') AS w, " +
        "unnest(generate_series(0, doc_id % 3)) AS j FROM documents), " +
        "e AS (SELECT 'site' || ((doc_id * 7 + j * 13) % 50) || '.example.com' AS dst_host, " +
        "w[CAST(j + 1 AS INT)] AS term FROM lj), " +
        "c AS (SELECT dst_host, term, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2), " +
        "r AS (SELECT dst_host, term, n, row_number() OVER " +
        "(PARTITION BY dst_host ORDER BY n DESC, term) AS rk FROM c) " +
        "SELECT dst_host, term, n FROM r WHERE rk <= 3 " +
        "ORDER BY dst_host, term"),

    // script_detect oracle: replay the salting formula, then the same
    // per-range character counts (literal code-point classes — RE2 here,
    // java.util.regex on the Spark side, same single-char semantics) and
    // the same count-then-name-order argmax.
    "script_detect" ->
      ("WITH d AS (SELECT doc_id, text || ' ' || " +
        "repeat('я', CAST((doc_id % 5) * 40 AS INT)) || ' ' || " +
        "repeat('中', CAST((doc_id % 7) * 30 AS INT)) || ' ' || " +
        "repeat('م', CAST((doc_id % 3) * 60 AS INT)) AS t2 FROM documents), " +
        "c AS (SELECT doc_id, " +
        "CAST(len(regexp_extract_all(t2, '[؀-ۿ]')) AS BIGINT) AS n_arabic, " +
        "CAST(len(regexp_extract_all(t2, '[Ѐ-ӿ]')) AS BIGINT) AS n_cyrillic, " +
        "CAST(len(regexp_extract_all(t2, '[一-鿿]')) AS BIGINT) AS n_han, " +
        "CAST(len(regexp_extract_all(t2, '[A-Za-z]')) AS BIGINT) AS n_latin " +
        "FROM d) " +
        "SELECT doc_id, n_arabic, n_cyrillic, n_han, n_latin, " +
        "CASE WHEN n_arabic > 0 AND n_arabic = greatest(n_arabic, n_cyrillic, n_han, n_latin) THEN 'arabic' " +
        "WHEN n_cyrillic > 0 AND n_cyrillic = greatest(n_arabic, n_cyrillic, n_han, n_latin) THEN 'cyrillic' " +
        "WHEN n_han > 0 AND n_han = greatest(n_arabic, n_cyrillic, n_han, n_latin) THEN 'han' " +
        "WHEN n_latin > 0 THEN 'latin' ELSE 'none' END AS main_script " +
        "FROM c ORDER BY doc_id"),

    // lang_segments oracle: the line construction replay + the lang_id
    // stopword-argmax per LINE, grouped to (doc, lang) counts.
    "lang_segments" ->
      (crawlLinesCte +
        ", x AS (SELECT doc_id, unnest(lines) AS line FROM l), " +
        "s AS (SELECT doc_id, " +
        s"len(list_intersect(string_split(line,' '), ${stopList("de")})) AS s_de, " +
        s"len(list_intersect(string_split(line,' '), ${stopList("en")})) AS s_en, " +
        s"len(list_intersect(string_split(line,' '), ${stopList("es")})) AS s_es, " +
        s"len(list_intersect(string_split(line,' '), ${stopList("fr")})) AS s_fr FROM x), " +
        "b AS (SELECT doc_id, s_de, s_en, s_es, s_fr, " +
        "greatest(s_de, s_en, s_es, s_fr) AS best FROM s) " +
        "SELECT doc_id, CASE WHEN s_de > 0 AND s_de = best THEN 'de' " +
        "WHEN s_en > 0 AND s_en = best THEN 'en' " +
        "WHEN s_es > 0 AND s_es = best THEN 'es' " +
        "WHEN s_fr > 0 AND s_fr = best THEN 'fr' ELSE 'und' END AS pred_lang, " +
        "CAST(count(*) AS BIGINT) AS n_lines FROM b " +
        "GROUP BY 1, 2 ORDER BY doc_id, pred_lang"),

    // c4_filter oracle: replay the line construction formula, then the
    // same four general rules (terminal punctuation, ≥5 words, no braces,
    // no lorem-ipsum) and the ≥3-surviving-lines document gate.
    "c4_filter" ->
      (crawlLinesCte +
        ", k AS (SELECT doc_id, lines, list_filter(lines, ln -> " +
        "regexp_matches(ln, '[.!?]$') AND len(string_split(ln, ' ')) >= 5 " +
        "AND NOT contains(ln, '{') AND NOT contains(ln, '}') " +
        "AND NOT contains(lower(ln), 'lorem ipsum')) AS kept FROM l) " +
        "SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines, " +
        "CAST(len(kept) AS BIGINT) AS n_kept, len(kept) >= 3 AS kept_doc, " +
        // array_to_string of an EMPTY list is NULL in DuckDB; Spark's
        // array_join yields '' — pin the '' convention
        "coalesce(array_to_string(kept, chr(10)), '') AS clean_text " +
        "FROM k ORDER BY doc_id"),

    "pii_redact" ->
      ("SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(" +
        "'user' || doc_id || '@' || source || '.com from 10.0.' || (doc_id % 256) || " +
        "'.7 call +1 415 555 01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' - ' || substr(text, 1, 80), " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'), " +
        "'\\+?\\d[\\d() -]{7,}\\d', '<PHONE>', 'g') AS redacted " +
        "FROM documents ORDER BY doc_id"),

    "text_normalize" ->
      ("SELECT doc_id, regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), " +
        "' +', ' ', 'g') AS norm_text FROM documents ORDER BY doc_id"),

    // Snapshot-diff replay: statuses restated from the snapshot-derivation
    // formulas (prev drops %10=0, cur drops %13=0 and changes %7=0).
    "corpus_diff" ->
      ("SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN 'added' " +
        "WHEN doc_id % 13 = 0 THEN 'removed' " +
        "WHEN doc_id % 7 = 0 THEN 'changed' ELSE 'unchanged' END AS status " +
        "FROM documents WHERE NOT (doc_id % 10 = 0 AND doc_id % 13 = 0) " +
        "ORDER BY doc_id"),

    "word_freq" ->
      ("SELECT word, count(*) AS n FROM (SELECT unnest(string_split(text, ' ')) AS word " +
        "FROM documents) GROUP BY word ORDER BY n DESC, word LIMIT 50"),

    // PMI operand shapes mirror the Spark expression exactly — each count
    // cast to double before any product, ln of the single ratio, round 6.
    "pmi_pairs" ->
      ("WITH wd AS (SELECT string_split(text, ' ') AS ws FROM documents), " +
        "tok AS (SELECT unnest(ws) AS w FROM wd), " +
        "tot AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM tok), " +
        "uni AS (SELECT w, count(*) AS n FROM tok GROUP BY w), " +
        "bgc AS (SELECT w1, w2, count(*) AS n12 FROM " +
        "(SELECT ws[gs.i] AS w1, ws[gs.i + 1] AS w2 FROM wd, " +
        "LATERAL (SELECT unnest(range(1, len(ws))) AS i) gs) " +
        "GROUP BY w1, w2 HAVING count(*) >= 5) " +
        "SELECT w1, w2, n12, round(ln((CAST(n12 AS DOUBLE) * nt) / " +
        "(CAST(u1.n AS DOUBLE) * CAST(u2.n AS DOUBLE))), 6) AS pmi " +
        "FROM bgc JOIN uni u1 ON bgc.w1 = u1.w JOIN uni u2 ON bgc.w2 = u2.w " +
        "CROSS JOIN tot ORDER BY n12 DESC, w1, w2 LIMIT 50"),

    "tfidf_top_terms" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term), " +
        "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
        "sc AS (SELECT tf.doc_id, tf.term, " +
        "round(tf.tf * ln(((SELECT count(*) FROM documents) + 1) / (dfreq.df + 1)), 6) AS score " +
        "FROM tf JOIN dfreq ON tf.term = dfreq.term), " +
        "rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM sc) " +
        "SELECT doc_id, term, score FROM rk WHERE rn <= 3 ORDER BY doc_id, score DESC, term"),

    "exists_semi_join" ->
      ("SELECT o_orderkey, o_totalprice FROM orders WHERE EXISTS " +
        "(SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_extendedprice > 90000) " +
        "ORDER BY o_orderkey"),

    "doc_fingerprint" ->
      ("SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(generate_series(1, least(length(text), 64)), " +
        "i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))), " +
        "(a, b) -> (a * 31 + b) % 1000000007) AS fp FROM documents ORDER BY doc_id"),

    "multimodal_frames" ->
      ("SELECT doc_id AS media_id, CAST(unnest(generate_series(0, strlen(text) // 1000)) AS INTEGER) AS frame_idx " +
        "FROM documents ORDER BY media_id, frame_idx"),

    "multimodal_meta" ->
      ("SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n_bytes, " +
        "CAST(64 + strlen(text) % 576 AS INTEGER) AS width, " +
        "CAST(floor((64 + strlen(text) % 576) * 3 / 4.0) AS INTEGER) AS height, " +
        "CAST(1 + floor(strlen(text) / 1000.0) AS INTEGER) AS n_frames " +
        "FROM documents ORDER BY media_id"),

    // The oracle states the construction formula; the Spark side must
    // recover it by actually PARSING the synthesized header bytes.
    "multimodal_decode" ->
      ("SELECT doc_id, CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' " +
        "ELSE 'gif' END AS format, " +
        "CAST(64 + doc_id % 512 AS INTEGER) AS width, " +
        "CAST(48 + doc_id % 256 AS INTEGER) AS height " +
        "FROM documents ORDER BY doc_id"),

    // Pixel-decode replay: the expected channel sums computed from the
    // pattern formula alone — the Spark side must earn them through a
    // real inflate + defilter of the synthesized PNG bytes.
    "multimodal_pixels" ->
      ("WITH d AS (SELECT doc_id, CAST(16 + doc_id % 16 AS INTEGER) AS w, " +
        "CAST(8 + doc_id % 8 AS INTEGER) AS h, doc_id % 256 AS v FROM documents), " +
        "px AS (SELECT doc_id, w, h, (7 * xs.x + 13 * ys.y + v) AS base " +
        "FROM d, generate_series(0, 30) xs(x), generate_series(0, 14) ys(y) " +
        "WHERE xs.x < w AND ys.y < h) " +
        "SELECT doc_id, w AS width, h AS height, CAST(3 AS INTEGER) AS channels, " +
        "CAST(sum(base % 256) AS BIGINT) AS sum_r, " +
        "CAST(sum((base + 101) % 256) AS BIGINT) AS sum_g, " +
        "CAST(sum((base + 202) % 256) AS BIGINT) AS sum_b " +
        "FROM px GROUP BY doc_id, w, h ORDER BY doc_id"),

    // GIF replay: the same pattern formula as the PNG pixel gate — the
    // Spark side must earn the sums through a real LZW decode + palette
    // resolution of the synthesized GIF bytes.
    "multimodal_gif" ->
      ("WITH d AS (SELECT doc_id, CAST(16 + doc_id % 16 AS INTEGER) AS w, " +
        "CAST(8 + doc_id % 8 AS INTEGER) AS h, doc_id % 256 AS v FROM documents), " +
        "px AS (SELECT doc_id, w, h, (7 * xs.x + 13 * ys.y + v) AS base " +
        "FROM d, generate_series(0, 30) xs(x), generate_series(0, 14) ys(y) " +
        "WHERE xs.x < w AND ys.y < h) " +
        "SELECT doc_id, w AS width, h AS height, " +
        "CAST(sum(base % 256) AS BIGINT) AS sum_r, " +
        "CAST(sum((base + 101) % 256) AS BIGINT) AS sum_g, " +
        "CAST(sum((base + 202) % 256) AS BIGINT) AS sum_b " +
        "FROM px GROUP BY doc_id, w, h ORDER BY doc_id"),

    // Animated-GIF frame replay: the per-frame pattern formula with the
    // frame term, summed per (doc, frame).
    "multimodal_gif_frames" ->
      ("WITH d AS (SELECT doc_id, CAST(16 + doc_id % 16 AS INTEGER) AS w, " +
        "CAST(8 + doc_id % 8 AS INTEGER) AS h, " +
        "CAST(2 + doc_id % 3 AS INTEGER) AS nf, doc_id % 256 AS v FROM documents), " +
        "px AS (SELECT doc_id, w, h, fs.f AS f, " +
        "(7 * xs.x + 13 * ys.y + 31 * fs.f + v) AS base " +
        "FROM d, generate_series(0, 3) fs(f), generate_series(0, 30) xs(x), " +
        "generate_series(0, 14) ys(y) " +
        "WHERE fs.f < nf AND xs.x < w AND ys.y < h) " +
        "SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx, " +
        "w AS width, h AS height, " +
        "CAST(sum(base % 256) AS BIGINT) AS sum_r, " +
        "CAST(sum((base + 101) % 256) AS BIGINT) AS sum_g, " +
        "CAST(sum((base + 202) % 256) AS BIGINT) AS sum_b " +
        "FROM px GROUP BY doc_id, f, w, h ORDER BY media_id, frame_idx"),

    // Audio replay: the PCM sample formula restated in BIGINT arithmetic;
    // energy / crossings / peak from the raw samples — the Spark side must
    // earn them by parsing the RIFF chunks and s16le data it synthesized.
    "multimodal_audio" ->
      ("WITH d AS (SELECT doc_id, CAST(256 + doc_id % 256 AS BIGINT) AS n, " +
        "doc_id % 1000 AS v FROM documents), " +
        "sm AS (SELECT doc_id, n, i.i AS i, " +
        "((31 * i.i * i.i + 17 * i.i + 97 * v) % 65536) - 32768 AS s " +
        "FROM d, generate_series(0, 511) i(i) WHERE i.i < n), " +
        "cr AS (SELECT doc_id, count(*) AS zc FROM (" +
        "SELECT doc_id, s, lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS p FROM sm) " +
        "WHERE p IS NOT NULL AND ((p < 0 AND s >= 0) OR (p >= 0 AND s < 0)) " +
        "GROUP BY doc_id) " +
        "SELECT sm.doc_id, CAST(16000 AS INTEGER) AS sample_rate, " +
        "CAST(1 AS INTEGER) AS channels, CAST(max(n) AS BIGINT) AS n_samples, " +
        "CAST(sum(s * s) AS BIGINT) AS sum_sq, " +
        "CAST(coalesce(max(cr.zc), 0) AS BIGINT) AS n_zero_cross, " +
        "CAST(max(abs(s)) AS INTEGER) AS peak " +
        "FROM sm LEFT JOIN cr ON sm.doc_id = cr.doc_id " +
        "GROUP BY sm.doc_id ORDER BY sm.doc_id"),

    // dedup_audio_adpcm oracle: same-variant clips share their full sample
    // prefix, so shared decoded blocks = min(full-block counts); the
    // AdpcmDistinct spec's exhaustive sweep licenses the equality (no two
    // different (variant, block) positions decode to the same content).
    "dedup_audio_adpcm" ->
      ("WITH d AS (SELECT doc_id, 1 + doc_id % 4 AS nb, (doc_id // 4) % 1024 AS v FROM documents) " +
        "SELECT a.doc_id AS clip_a, b.doc_id AS clip_b, " +
        "CAST(least(a.nb, b.nb) AS BIGINT) AS n_shared " +
        "FROM d a JOIN d b ON a.v = b.v AND a.doc_id < b.doc_id " +
        "ORDER BY clip_a, clip_b"),

    // dedup_audio oracle: per-window hashes restated from the sample
    // formula in its nonnegative pre-offset form (the fold input is
    // s + 32768 = the raw mod-65536 value), then the same distinct /
    // df-guard / pair-count chain as dedup_clips.
    "dedup_audio" ->
      ("WITH d AS (SELECT doc_id, 256 + (doc_id % 4) * 128 AS n, " +
        "(doc_id // 4) % 1000 AS v FROM documents), " +
        "w AS (SELECT doc_id, v, unnest(generate_series(0, n // 256 - 1)) AS wi FROM d), " +
        "h AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(generate_series(256 * wi, 256 * wi + 255), " +
        "i -> (31 * i * i + 17 * i + 97 * v) % 65536)), " +
        "(a, c) -> (a * 31 + c) % 1000000007) AS whash FROM w), " +
        "hd AS (SELECT DISTINCT doc_id, whash FROM h), " +
        "rare AS (SELECT whash FROM hd GROUP BY whash HAVING count(*) <= 1000), " +
        "k AS (SELECT hd.doc_id, hd.whash FROM hd JOIN rare USING (whash)) " +
        "SELECT a.doc_id AS clip_a, b.doc_id AS clip_b, " +
        "CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM k a JOIN k b ON a.whash = b.whash AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 ORDER BY clip_a, clip_b"),

    // dedup_clips_phash oracle: the per-frame DCT hash replayed from the
    // frame-gradient formula over the full 32×32 grid,
    // then bands, the df guard and the pair count keyed on the band
    // QUADRUPLE (a 64-bit pack would need bit 63 — the engine-portable
    // form of frame-hash equality).
    "dedup_clips_phash" -> {
      val mat = (for { u <- 0 until 8; x <- 0 until 32 }
        yield s"($u,$x,${graft.functions.Dct8x32.C(u)(x)})").mkString(", ")
      "WITH par AS (SELECT doc_id, doc_id // 4 AS g, 2 + doc_id % 4 AS nf, " +
        "(doc_id % 4) * 17 AS sh FROM documents), " +
        s"mat AS (SELECT * FROM (VALUES $mat) m(u, x, c)), " +
        "fr AS (SELECT doc_id, g, sh, fi FROM " +
        "(SELECT doc_id, g, sh, nf, unnest([0, 2, 4]) AS fi FROM par) WHERE fi < nf), " +
        "px AS (SELECT doc_id, fi, xs.x, ys.y, " +
        "(xs.x * (1 + (31 * g + 7 * fi) % 97) + ys.y * (1 + (13 * g + 11 * fi) % 83)) % 200 + sh AS v " +
        "FROM fr, generate_series(0, 31) xs(x), generate_series(0, 31) ys(y)), " +
        "g1 AS (SELECT px.doc_id, px.fi, m.u, px.y, sum(px.v * m.c) AS gv " +
        "FROM px JOIN mat m ON m.x = px.x GROUP BY 1, 2, 3, 4), " +
        "f AS (SELECT g1.doc_id, g1.fi, g1.u, m.u AS vf, sum(g1.gv * m.c) AS fv " +
        "FROM g1 JOIN mat m ON m.x = g1.y GROUP BY 1, 2, 3, 4), " +
        "ac AS (SELECT doc_id, fi, u * 8 + vf AS k, fv FROM f WHERE NOT (u = 0 AND vf = 0)), " +
        "med AS (SELECT doc_id, fi, fv AS med FROM (SELECT doc_id, fi, fv, " +
        "row_number() OVER (PARTITION BY doc_id, fi ORDER BY fv) AS rn FROM ac) WHERE rn = 32), " +
        "bits AS (SELECT ac.doc_id, ac.fi, ac.k, CASE WHEN ac.fv > med.med THEN 1 ELSE 0 END AS bit " +
        "FROM ac JOIN med USING (doc_id, fi)), " +
        "bnd AS (SELECT doc_id, fi, k // 16 AS band, " +
        "sum(bit * (CAST(1 AS BIGINT) << (k % 16))) AS bv FROM bits GROUP BY 1, 2, 3), " +
        "wide AS MATERIALIZED (SELECT doc_id, fi, " +
        "max(CASE WHEN band = 0 THEN bv END) AS b0, " +
        "max(CASE WHEN band = 1 THEN bv END) AS b1, " +
        "max(CASE WHEN band = 2 THEN bv END) AS b2, " +
        "max(CASE WHEN band = 3 THEN bv END) AS b3 FROM bnd GROUP BY 1, 2), " +
        "hd AS (SELECT DISTINCT doc_id, b0, b1, b2, b3 FROM wide), " +
        "rare AS (SELECT b0, b1, b2, b3 FROM hd GROUP BY 1, 2, 3, 4 HAVING count(*) <= 1000), " +
        "kk AS (SELECT hd.* FROM hd JOIN rare USING (b0, b1, b2, b3)) " +
        "SELECT a.doc_id AS clip_a, b.doc_id AS clip_b, " +
        "CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM kk a JOIN kk b ON a.b0 = b.b0 AND a.b1 = b.b1 AND a.b2 = b.b2 " +
        "AND a.b3 = b.b3 AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 ORDER BY clip_a, clip_b"
    },

    // dedup_audio_spectral oracle: the integer DFT replayed from the
    // gain-scaled sample formula and the SAME 64-entry fixed-point table
    // (sin reads it at a +48 modular phase), peak = rank-1 of
    // (re²+im² DESC, k), length-4 peak runs folded with the shared
    // PolyHash, then the distinct / df-guard / pair-count chain of
    // dedup_audio. pk is MATERIALIZED — four self-join references would
    // otherwise replay the whole transform.
    "dedup_audio_spectral" -> {
      val tab = graft.functions.DftTable(64).zipWithIndex
        .map { case (c, j) => s"($j,$c)" }.mkString(", ")
      "WITH par AS (SELECT doc_id, 256 + (doc_id % 4) * 128 AS n, " +
        "(doc_id // 4) % 1000 AS v, 1 + doc_id % 4 AS g FROM documents), " +
        s"tab AS (SELECT * FROM (VALUES $tab) t(j, c)), " +
        "sm0 AS (SELECT doc_id, i, g, (v * 1048576 + i) % 4294967296 AS x0 FROM " +
        "(SELECT doc_id, v, g, unnest(generate_series(0, n - 1)) AS i FROM par)), " +
        "sm1 AS (SELECT doc_id, i, g, (xor(x0, x0 >> 16) * 73244475) % 4294967296 AS x1 FROM sm0), " +
        "sm2 AS (SELECT doc_id, i, g, (xor(x1, x1 >> 16) * 73244475) % 4294967296 AS x2 FROM sm1), " +
        "sm AS (SELECT doc_id, i // 64 AS wi, i % 64 AS ii, " +
        "((xor(x2, x2 >> 16) % 8192) - 4096) * g AS s FROM sm2), " +
        "re AS (SELECT sm.doc_id, sm.wi, ks.k, " +
        "sum(sm.s * tc.c) AS re, sum(sm.s * ts.c) AS im " +
        "FROM sm, generate_series(1, 15) ks(k), tab tc, tab ts " +
        "WHERE tc.j = (ks.k * sm.ii) % 64 AND ts.j = (ks.k * sm.ii + 48) % 64 " +
        "GROUP BY 1, 2, 3), " +
        "pk AS MATERIALIZED (SELECT doc_id, wi, " +
        "max(CASE WHEN rn = 1 THEN k END) * 16 + max(CASE WHEN rn = 2 THEN k END) AS peak FROM " +
        "(SELECT doc_id, wi, k, ROW_NUMBER() OVER (PARTITION BY doc_id, wi " +
        "ORDER BY re * re + im * im DESC, k) AS rn FROM re) WHERE rn <= 2 " +
        "GROUP BY 1, 2), " +
        "sh AS (SELECT p0.doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "[p0.peak, p1.peak, p2.peak, p3.peak]), " +
        "(a, c) -> (a * 31 + c) % 1000000007) AS whash " +
        "FROM pk p0 JOIN pk p1 ON p1.doc_id = p0.doc_id AND p1.wi = p0.wi + 1 " +
        "JOIN pk p2 ON p2.doc_id = p0.doc_id AND p2.wi = p0.wi + 2 " +
        "JOIN pk p3 ON p3.doc_id = p0.doc_id AND p3.wi = p0.wi + 3), " +
        "hd AS (SELECT DISTINCT doc_id, whash FROM sh), " +
        "rare AS (SELECT whash FROM hd GROUP BY whash HAVING count(*) <= 1000), " +
        "kk AS (SELECT hd.doc_id, hd.whash FROM hd JOIN rare USING (whash)) " +
        "SELECT a.doc_id AS clip_a, b.doc_id AS clip_b, " +
        "CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM kk a JOIN kk b ON a.whash = b.whash AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 ORDER BY clip_a, clip_b"
    },

    // Video replay: the per-frame pattern restated over the SAMPLED frame
    // indices (every 2nd) — the Spark side must earn the sums by walking
    // the animation chunks and inflating each sampled frame for real.
    "multimodal_video" ->
      ("WITH d AS (SELECT doc_id, CAST(8 + doc_id % 8 AS INTEGER) AS w, " +
        "CAST(4 + doc_id % 4 AS INTEGER) AS h, " +
        "CAST(4 + doc_id % 4 AS INTEGER) AS nf, doc_id % 256 AS v FROM documents), " +
        "px AS (SELECT doc_id, w, h, nf, " +
        "(7 * xs.x + 13 * ys.y + 23 * fs.f + v) AS base " +
        "FROM d, generate_series(0, 15) xs(x), generate_series(0, 7) ys(y), " +
        "generate_series(0, 6, 2) fs(f) " +
        "WHERE xs.x < w AND ys.y < h AND fs.f < nf) " +
        "SELECT doc_id, w AS width, h AS height, nf AS n_frames, " +
        "CAST((nf + 1) // 2 AS INTEGER) AS n_sampled, " +
        "CAST(sum(base % 256) AS BIGINT) AS sum_r, " +
        "CAST(sum((base + 101) % 256) AS BIGINT) AS sum_g, " +
        "CAST(sum((base + 202) % 256) AS BIGINT) AS sum_b " +
        "FROM px GROUP BY doc_id, w, h, nf ORDER BY doc_id"),

    "modality_coverage" ->
      ("WITH d AS (SELECT doc_id AS id FROM documents), " +
        "v AS (SELECT vec_id AS id FROM embeddings) " +
        "SELECT CAST(sum(CASE WHEN d.id IS NOT NULL AND v.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_paired, " +
        "CAST(sum(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_only, " +
        "CAST(sum(CASE WHEN d.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_vecs_only " +
        "FROM d FULL OUTER JOIN v ON d.id = v.id"),

    // Image-frame replay: per-pixel-row min/max over the pattern formula,
    // decoded for real on the Spark side.
    "multimodal_image_frames" ->
      ("WITH d AS (SELECT doc_id, CAST(16 + doc_id % 16 AS INTEGER) AS w, " +
        "CAST(8 + doc_id % 8 AS INTEGER) AS h, doc_id % 256 AS v FROM documents), " +
        "px AS (SELECT doc_id, w, h, ys.y AS y, " +
        "(7 * xs.x + 13 * ys.y + v + 101 * cs.c) % 256 AS pv " +
        "FROM d, generate_series(0, 30) xs(x), generate_series(0, 14) ys(y), " +
        "generate_series(0, 2) cs(c) WHERE xs.x < w AND ys.y < h) " +
        "SELECT doc_id AS media_id, CAST(y AS INTEGER) AS row_idx, " +
        "CAST(w AS INTEGER) AS width, CAST(3 AS INTEGER) AS channels, " +
        "CAST(min(pv) AS INTEGER) AS min_px, CAST(max(pv) AS INTEGER) AS max_px " +
        "FROM px GROUP BY doc_id, y, w ORDER BY media_id, row_idx"),

    // Windowed-audio replay: per-256-sample-window count / crossings /
    // peak restated from the sample formula (crossings stay WITHIN a
    // window, as the frame decoder computes them).
    "multimodal_audio_frames" ->
      ("WITH d AS (SELECT doc_id, CAST(256 + doc_id % 256 AS BIGINT) AS n, " +
        "doc_id % 1000 AS v FROM documents), " +
        "sm AS (SELECT doc_id, n, i.i AS i, i.i // 256 AS w, " +
        "((31 * i.i * i.i + 17 * i.i + 97 * v) % 65536) - 32768 AS s " +
        "FROM d, generate_series(0, 511) i(i) WHERE i.i < n), " +
        "lg AS (SELECT doc_id, w, i, s, " +
        "lag(s) OVER (PARTITION BY doc_id, w ORDER BY i) AS p FROM sm), " +
        "z AS (SELECT doc_id, w, count(*) AS m, max(abs(s)) AS peak, " +
        "sum(CASE WHEN p IS NOT NULL AND ((p < 0 AND s >= 0) OR (p >= 0 AND s < 0)) " +
        "THEN 1 ELSE 0 END) AS zc FROM lg GROUP BY doc_id, w) " +
        "SELECT doc_id AS media_id, CAST(w AS INTEGER) AS frame_idx, " +
        "CAST(m AS BIGINT) AS n_samples, CAST(zc AS BIGINT) AS n_zero_cross, " +
        "CAST(peak AS INTEGER) AS peak FROM z ORDER BY media_id, frame_idx"),

    // Clip-dedup replay: two sampled frames decode to IDENTICAL rasters
    // iff the clips share dimensions and the pattern phase (23f + v) mod
    // 256 — the equality the frame-content hash realizes pixel-wise.
    "dedup_clips" ->
      ("WITH d AS (SELECT doc_id, CAST(8 + doc_id % 8 AS INTEGER) AS w, " +
        "CAST(4 + doc_id % 4 AS INTEGER) AS h, " +
        "CAST(4 + doc_id % 4 AS INTEGER) AS nf, doc_id % 256 AS v FROM documents), " +
        "k AS (SELECT doc_id, w, h, (23 * fs.f + v) % 256 AS phase " +
        "FROM d, generate_series(0, 6, 2) fs(f) WHERE fs.f < nf) " +
        "SELECT a.doc_id AS clip_a, b.doc_id AS clip_b, " +
        "CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM k a JOIN k b ON a.w = b.w AND a.h = b.h " +
        "AND a.phase = b.phase AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 ORDER BY clip_a, clip_b"),

    // dedup_clips_cross oracle: group-formula (w, h, phase) pairing —
    // container-blind (the APNG and its GIF twin decode to the same
    // raster, so the codec never appears here).
    "dedup_clips_cross" ->
      ("WITH d AS (SELECT doc_id, doc_id // 2 AS g FROM documents), " +
        "p AS (SELECT doc_id, CAST(8 + g % 8 AS INTEGER) AS w, " +
        "CAST(4 + g % 4 AS INTEGER) AS h, " +
        "CAST(4 + g % 4 AS INTEGER) AS nf, g % 256 AS v FROM d), " +
        "k AS (SELECT doc_id, w, h, (23 * fs.f + v) % 256 AS phase " +
        "FROM p, generate_series(0, 6, 2) fs(f) WHERE fs.f < nf) " +
        "SELECT a.doc_id AS clip_a, b.doc_id AS clip_b, " +
        "CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM k a JOIN k b ON a.w = b.w AND a.h = b.h " +
        "AND a.phase = b.phase AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 ORDER BY clip_a, clip_b"),

    // dedup_phash oracle: every aHash bit re-derived from the gradient
    // formula (integer cross-multiplied mean rule), the four 16-bit bands
    // PACKED as integers (a band XOR's popcount sums to the full Hamming
    // distance, so no per-bit pair join), the same df-64 guard, candidate
    // pairs from band equality.
    "dedup_phash" ->
      ("WITH par AS (SELECT doc_id, 1 + ((doc_id // 4) * 7919) % 97 AS a, " +
        "1 + ((doc_id // 4) * 104729) % 89 AS b, (doc_id % 4) * 5 AS sh FROM documents), " +
        "px AS (SELECT doc_id, ((ys.y * 8) // 32) * 8 + (xs.x * 8) // 32 AS k, " +
        "(xs.x * a + ys.y * b) % 200 + sh AS v " +
        "FROM par, generate_series(0, 31) xs(x), generate_series(0, 31) ys(y)), " +
        "bs AS (SELECT doc_id, k, sum(v) AS s, count(*) AS c FROM px GROUP BY 1, 2), " +
        "ts AS (SELECT doc_id, sum(v) AS t FROM px GROUP BY 1), " +
        "bits AS (SELECT bs.doc_id, bs.k, CASE WHEN bs.s * 1024 > ts.t * bs.c THEN 1 ELSE 0 END AS bit " +
        "FROM bs JOIN ts ON ts.doc_id = bs.doc_id), " +
        "bnd AS (SELECT doc_id, k // 16 AS band, " +
        "sum(bit * (CAST(1 AS BIGINT) << (k % 16))) AS bv FROM bits GROUP BY 1, 2), " +
        "rare AS (SELECT band, bv FROM bnd GROUP BY 1, 2 HAVING count(*) <= 64), " +
        "kept AS (SELECT bnd.* FROM bnd JOIN rare ON rare.band = bnd.band AND rare.bv = bnd.bv), " +
        "cand AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb FROM kept x " +
        "JOIN kept y ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id), " +
        "wide AS (SELECT doc_id, max(CASE WHEN band = 0 THEN bv END) AS b0, " +
        "max(CASE WHEN band = 1 THEN bv END) AS b1, " +
        "max(CASE WHEN band = 2 THEN bv END) AS b2, " +
        "max(CASE WHEN band = 3 THEN bv END) AS b3 FROM bnd GROUP BY doc_id), " +
        "hm AS (SELECT cand.ida, cand.idb, " +
        "bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1)) + " +
        "bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS hamming " +
        "FROM cand JOIN wide x ON x.doc_id = cand.ida JOIN wide y ON y.doc_id = cand.idb) " +
        "SELECT ida AS id_a, idb AS id_b, CAST(hamming AS INTEGER) AS hamming " +
        "FROM hm WHERE hamming <= 6 ORDER BY id_a, id_b"),

    // dedup_phash_dct oracle: the full frequency-domain replay — the SAME
    // fixed-point DCT basis stated as a 256-entry literal matrix, the
    // separable integer transform as two join-aggregates, the AC lower
    // median as the rank-32 order statistic, bits/bands/df-guard/popcount
    // exactly as dedup_phash.
    "dedup_phash_dct" -> {
      val mat = (for { u <- 0 until 8; x <- 0 until 32 }
        yield s"($u,$x,${graft.functions.Dct8x32.C(u)(x)})").mkString(", ")
      "WITH par AS (SELECT doc_id, 1 + ((doc_id // 4) * 4409) % 101 AS a, " +
        "1 + ((doc_id // 4) * 9973) % 83 AS b, (doc_id % 4) * 17 AS sh FROM documents), " +
        s"mat AS (SELECT * FROM (VALUES $mat) m(u, x, c)), " +
        "px AS (SELECT doc_id, xs.x, ys.y, (xs.x * a + ys.y * b) % 200 + sh AS v " +
        "FROM par, generate_series(0, 31) xs(x), generate_series(0, 31) ys(y)), " +
        "g1 AS (SELECT px.doc_id, m.u, px.y, sum(px.v * m.c) AS gv " +
        "FROM px JOIN mat m ON m.x = px.x GROUP BY 1, 2, 3), " +
        "f AS (SELECT g1.doc_id, g1.u, m.u AS vf, sum(g1.gv * m.c) AS fv " +
        "FROM g1 JOIN mat m ON m.x = g1.y GROUP BY 1, 2, 3), " +
        "ac AS (SELECT doc_id, u * 8 + vf AS k, fv FROM f WHERE NOT (u = 0 AND vf = 0)), " +
        "med AS (SELECT doc_id, fv AS med FROM (SELECT doc_id, fv, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY fv) AS rn FROM ac) WHERE rn = 32), " +
        "bits AS (SELECT ac.doc_id, ac.k, CASE WHEN ac.fv > med.med THEN 1 ELSE 0 END AS bit " +
        "FROM ac JOIN med USING (doc_id)), " +
        // bnd is MATERIALIZED: DuckDB inlines plain CTEs per reference, and
        // rare/kept(×2)/wide(×2) would re-run the whole DCT chain six
        // times (measured 544 s → 10.9 s at sf0.1)
        "bnd AS MATERIALIZED (SELECT doc_id, k // 16 AS band, " +
        "sum(bit * (CAST(1 AS BIGINT) << (k % 16))) AS bv FROM bits GROUP BY 1, 2), " +
        "rare AS (SELECT band, bv FROM bnd GROUP BY 1, 2 HAVING count(*) <= 64), " +
        "kept AS (SELECT bnd.* FROM bnd JOIN rare ON rare.band = bnd.band AND rare.bv = bnd.bv), " +
        "cand AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb FROM kept x " +
        "JOIN kept y ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id), " +
        "wide AS (SELECT doc_id, max(CASE WHEN band = 0 THEN bv END) AS b0, " +
        "max(CASE WHEN band = 1 THEN bv END) AS b1, " +
        "max(CASE WHEN band = 2 THEN bv END) AS b2, " +
        "max(CASE WHEN band = 3 THEN bv END) AS b3 FROM bnd GROUP BY doc_id), " +
        "hm AS (SELECT cand.ida, cand.idb, " +
        "bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1)) + " +
        "bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS hamming " +
        "FROM cand JOIN wide x ON x.doc_id = cand.ida JOIN wide y ON y.doc_id = cand.idb) " +
        "SELECT ida AS id_a, idb AS id_b, CAST(hamming AS INTEGER) AS hamming " +
        "FROM hm WHERE hamming <= 6 ORDER BY id_a, id_b"
    },

    // dedup_phash_mixed oracle: the checkerboard's aHash bits restated
    // from the rank formula alone (cell high ⇔ rank ≤ 32 ⇔ mean 200 > the
    // exact global mean 120 — JPEG noise cannot cross the 80-level
    // margin), then the identical band/guard/pair chain as dedup_phash.
    "dedup_phash_mixed" -> phashCheckOracle(groupSize = 2),

    // ...and the THREE-codec form: the bits are a pure group function,
    // so the PNG/JPEG/GIF mix never appears in the SQL — only the group
    // width changes.
    "dedup_phash_tri" -> phashCheckOracle(groupSize = 3),

    // MJPEG frame-sample replay: the sampled frame identities and the
    // DECODED dimensions restated from the construction formula — every
    // row the Spark side emits had to survive a full baseline JPEG decode
    // of real JDK-encoded bytes to earn its (width, height).
    "multimodal_mjpeg" ->
      ("WITH d AS (SELECT doc_id, CAST(8 + doc_id % 8 AS INTEGER) AS w, " +
        "CAST(4 + doc_id % 4 AS INTEGER) AS h, " +
        "CAST(2 + doc_id % 4 AS INTEGER) AS nf FROM documents) " +
        "SELECT doc_id AS media_id, CAST(fs.f // 2 AS INTEGER) AS frame_idx, " +
        "CAST(fs.f AS INTEGER) AS src_frame, w AS width, h AS height, " +
        "CAST(3 AS INTEGER) AS channels " +
        "FROM d, generate_series(0, 4, 2) fs(f) WHERE fs.f < nf " +
        "ORDER BY media_id, frame_idx"),

    // MJPEG clip-dedup replay: sampled frames decode to identical rasters
    // iff the clips share dimensions and the coarse pattern phase
    // (23f + v) mod 16 — equal phases are byte-identical JPEGs, distinct
    // phases sit ≥16 luma levels apart (beyond quantization noise).
    "dedup_clips_mjpeg" ->
      ("WITH d AS (SELECT doc_id, CAST(8 + doc_id % 8 AS INTEGER) AS w, " +
        "CAST(4 + doc_id % 4 AS INTEGER) AS h, " +
        "CAST(4 + doc_id % 4 AS INTEGER) AS nf, doc_id % 256 AS v " +
        "FROM documents WHERE doc_id % 7 = 0), " +
        "k AS (SELECT DISTINCT doc_id, w, h, (23 * fs.f + v) % 16 AS phase " +
        "FROM d, generate_series(0, 6, 2) fs(f) WHERE fs.f < nf) " +
        "SELECT a.doc_id AS clip_a, b.doc_id AS clip_b, " +
        "CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM k a JOIN k b ON a.w = b.w AND a.h = b.h " +
        "AND a.phase = b.phase AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 ORDER BY clip_a, clip_b"),

    // ADPCM replay: every invariant restated from the synthesis params —
    // the true sample count survives the zero-padded final block via the
    // fact chunk, every 505-sample block boundary is header-exact, and
    // the tracking error stays inside the contract. The Spark side earns
    // each row by running the full encode+decode.
    "multimodal_adpcm" ->
      ("SELECT doc_id AS media_id, CAST(16000 AS INTEGER) AS sample_rate, " +
        "CAST(1 AS INTEGER) AS channels, " +
        "CAST(600 + doc_id % 600 AS BIGINT) AS n_samples, " +
        "CAST((600 + doc_id % 600 + 504) // 505 AS INTEGER) AS n_exact_heads, " +
        "TRUE AS err_ok FROM documents ORDER BY media_id")
  )
}
