package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Manifest-driven snapshot layout with FILE-level zone maps — the
  * Iceberg/Delta scan-planning idea (manifest lists data files with
  * per-file column statistics; a range predicate prunes whole files
  * before the scan starts) re-expressed minimally on plain parquet:
  *
  *   - [[write]] range-clusters the relation on a chosen stat column
  *     (`repartitionByRange` + `sortWithinPartitions`, so each file owns
  *     a narrow value band), then records `(file, min, max, rows)` per
  *     file in a staged manifest beside the data — computed in ONE extra
  *     pass grouped by `input_file_name()`, never per-file jobs.
  *   - [[scan]] reads the manifest (driver-side, file-count-sized — the
  *     100 TB corpus never moves), keeps only files whose [min, max]
  *     band overlaps the predicate range, and hands Spark exactly that
  *     file list plus the residual filter. At 1000 executors the win is
  *     identical to partition pruning but on a NON-partition column:
  *     a 1% range probe of a clustered 100 TB table schedules ~1% of
  *     the splits.
  *   - MULTI-COLUMN zone maps: [[write]] may register SECONDARY stat
  *     columns (`statCols2`); the same single stats pass records their
  *     per-file min/max too, and [[scanBy]]/[[selectFilesBy]] prune on
  *     any registered column. Secondary bands are only as tight as the
  *     physical clustering lets them be — cluster on a z-order
  *     interleave (`zorderKey`) of the probe columns to make ALL of
  *     them prune well.
  *
  * COMMIT PROTOCOL (optimistic concurrency, the Iceberg idea in
  * miniature). Every commit — INCLUDING a whole-table REPLACE — is
  * IMMUTABLE, WRITER-UNIQUE state plus one atomic pointer:
  *
  *   1. data files land under a writer-unique directory — two in-flight
  *      commits can never overwrite each other's bytes;
  *   2. the version's metadata (manifest rows, schema, bloom and
  *      deletion-vector sidecars) is STAGED under writer-unique names in
  *      `_staged/` — never under a shared per-version name, so a losing
  *      writer cannot clobber a winner's committed metadata;
  *   3. the commit point is the conditional publish of `_commit.v<N>`
  *      through the pluggable [[CommitStore]] (default: HDFS-atomic
  *      exclusive create; object stores plug a conditional-write
  *      arbiter — see [[CommitStore]] for the exact filesystem
  *      contract). The marker's CONTENT points at the staged files;
  *      first publisher wins the version, and a claimed win is VERIFIED
  *      by reading the marker back (a non-atomic store that let two
  *      writers through is detected loudly, never a silent lost
  *      commit). Readers resolve every version's metadata through its
  *      marker only.
  *
  * A losing ADDITIVE commit (append / streaming batch) REBASES onto the
  * new head: its data files and staged rows stay valid verbatim; its
  * schema evolution is RECOMPUTED against the new head (concurrent ADD
  * COLUMNs compose to the union instead of the last writer erasing the
  * first). Non-additive commits (delete / compact / merge — their
  * rewrite depends on the base manifest) abort with
  * `ConcurrentModificationException`; callers re-run against the new
  * head. A REPLACE is itself just a commit: version N+1 whose manifest
  * ignores the past (an INCARNATION start — the marker records the new
  * stat/bloom registration and schema inline). The old incarnation's
  * versions stay readable for time travel until [[vacuum]] reclaims
  * them, and a crash anywhere before the replace's marker leaves the
  * table on the old version with every byte of old state intact — the
  * same guarantee every other commit has. A crash before any marker
  * leaves only unreferenced staged/data files behind (swept by
  * [[vacuum]]); versions stay dense 1..current. Same-JVM commits
  * additionally serialize on a per-table lock, so local multi-threaded
  * writers never exercise the cross-process race window at all.
  *
  * SCHEMA EVOLUTION (append-only, the M1–M3 contract from
  * [[graft.etl.Migrate]]): [[append]]/[[appendBatch]] accept a batch
  * whose schema adds columns. The evolution is validated append-only at
  * call time (dropping or retyping a stored column throws), committed
  * as a staged schema the marker references, and every version reads
  * with the schema IT was committed under — old data files read through
  * a newer schema null-fill the added columns (explicit-schema parquet
  * read, no footer-merge job), and time travel below the evolution sees
  * the old shape exactly.
  *
  * EXACTLY-ONCE STREAMING INGESTION: every marker carries a per-writer
  * HIGH-WATER batch id map (`txn`, Delta's txn-version table), merged
  * forward through every commit — so [[appendBatch]]'s replay check is
  * ONE read of the head marker, O(1) over the stream's lifetime, and
  * survives arbitrary interleaved commits.
  *
  * DELETION VECTORS (merge-on-read delete): [[deleteVectors]] commits a
  * per-file row-ordinal mask instead of rewriting files — a point
  * delete is a pure metadata commit. Every library read applies the
  * mask (`_metadata.row_index` anti-join against the broadcast,
  * metadata-sized vector); copy-on-write ops read through it and drop
  * masks for files they rewrite, so [[compact]] purges vectors. The
  * DSv2 connector predates the feature and REFUSES a masked table
  * loudly rather than leak deleted rows — the reader-version gate real
  * formats use when rolling DVs out.
  *
  * `statCol` must be NON-NULL (zone maps have no null band; a null row
  * would be invisible to range probes and silently dropped by
  * [[delete]]'s rewrite) — ENFORCED at commit time: the stats pass
  * counts nulls for free and every commit fails fast on the first null
  * rather than committing a quietly incomplete table. Secondary stat
  * columns MAY hold nulls: their min/max spans the non-null values,
  * which prunes correctly because a null never satisfies a range
  * predicate (the residual filter drops such rows anyway).
  */
object Snapshot {

  /** Per-file zone-map row. `extra` aligns positionally with the
    * table's registered secondary stat columns; `None` marks a file
    * with no non-null values in that column (prunable by every range).
    */
  final case class FileStat(file: String, min: Long, max: Long, rows: Long,
                            extra: Seq[Option[(Long, Long)]] = Nil)

  /** Typed-CDF rewrite steps whose manifests bound the touched rows at or
    * under this count broadcast the per-key total side of the
    * classification join (a key row is two longs plus the key — 2M rows is
    * tens of MB of executor memory, the same envelope as
    * [[graft.llm.NgramLm.MaxBroadcastRows]]); bigger steps leave the join
    * strategy to the planner.
    */
  private val CdfBroadcastKeyRowBound: Long = 2000000L

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeText(spark: SparkSession, path: String, text: String): Unit = {
    val out = fs(spark, path).create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readText(spark: SparkSession, path: String): String = {
    val in = fs(spark, path).open(new org.apache.hadoop.fs.Path(path))
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  // ---- the commit protocol ----------------------------------------------

  /** What a commit marker records: the staged files this version's
    * metadata lives in (writer-unique, immutable once the marker
    * lands), the version that STARTED this incarnation (`incv` — a
    * replace or v1; its marker carries the stat/bloom registration
    * inline), the per-writer high-water batch ids (`txn`), and the
    * streaming batch id when the commit came from a sink.
    */
  private final case class Marker(
      manifest: String, schema: Option[String], bloom: Option[String],
      dv: Option[String], batchId: Option[Long], incv: Int,
      statcols: Option[(String, Seq[String])],
      bloomconf: Option[(String, Int, Int)],
      txn: Map[String, Long], ts: Long = 0L) {
    def render: String = {
      def opt(s: Option[String]) = s.getOrElse("-")
      s"manifest=$manifest\nschema=${opt(schema)}\nbloom=${opt(bloom)}\n" +
        s"dv=${opt(dv)}\n" +
        s"batch=${batchId.map(_.toString).getOrElse("-")}\n" +
        s"incv=$incv\nts=$ts\n" +
        s"statcols=${statcols.map { case (p, ss) => (p +: ss).mkString(",") }
          .getOrElse("-")}\n" +
        s"bloomconf=${bloomconf.map { case (c, m, k) => s"$c:$m:$k" }
          .getOrElse("-")}\n" +
        s"txn=${if (txn.isEmpty) "-"
          else txn.toSeq.sorted.map { case (w, i) => s"$w:$i" }
            .mkString(";")}\n"
    }
  }

  private def parseMarker(text: String): Marker = {
    val kv = text.linesIterator.map(_.trim).filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    def opt(k: String) = kv.get(k).filter(_ != "-")
    Marker(kv("manifest"), opt("schema"), opt("bloom"), opt("dv"),
      opt("batch").map(_.toLong), kv("incv").toInt,
      opt("statcols").map { s =>
        val parts = s.split(",").toSeq; (parts.head, parts.tail)
      },
      opt("bloomconf").map { s =>
        val Array(c, m, k) = s.split(":"); (c, m.toInt, k.toInt)
      },
      opt("txn").map(_.split(";").toSeq.map { e =>
        val i = e.lastIndexOf(':'); e.take(i) -> e.drop(i + 1).toLong
      }.toMap).getOrElse(Map.empty),
      kv.get("ts").map(_.toLong).getOrElse(0L))
  }

  /** Resolve a version's marker. A reader racing a committer on a
    * non-create-with-content store may glimpse an empty/partial marker —
    * retry briefly (the window is the committer's single small write),
    * then fail LOUDLY with the recovery step rather than returning
    * anything wrong.
    */
  private def markerOf(spark: SparkSession, path: String, v: Int): Marker = {
    var attempt = 0
    while (true) {
      parseMarkerSafe(readText(spark, path + s"/_commit.v$v")) match {
        case Some(m) => return m
        case None if attempt < 5 =>
          attempt += 1; Thread.sleep(20L * attempt)
        case None => throw new IllegalStateException(
          s"commit marker _commit.v$v of $path is empty or unreadable — " +
            "a committer likely crashed between marker create and content " +
            "flush; delete that marker file to roll the table back to " +
            s"v${v - 1}")
      }
    }
    sys.error("unreachable")
  }

  /** Committed versions = versions with a `_commit.v<N>` marker; the
    * current version is the highest. Driver-side, version-count-sized.
    */
  private def committedVersions(spark: SparkSession, path: String): Seq[Int] =
    Option(fs(spark, path)
        .globStatus(new org.apache.hadoop.fs.Path(path + "/_commit.v*")))
      .getOrElse(Array.empty) // some FileSystems glob nonexistent -> null
      .toSeq.map(_.getPath.getName.stripPrefix("_commit.v").toInt).sorted

  private def currentVersion(spark: SparkSession, path: String): Int = {
    val vs = committedVersions(spark, path)
    require(vs.nonEmpty, s"no committed snapshot version under $path")
    vs.max
  }

  // Pluggable per-table commit stores (the filesystem-atomicity seam —
  // see CommitStore). Default: exclusive create, atomic on HDFS/ABFS
  // and for every same-JVM writer (the per-table lock serializes those
  // first); object-store deployments register a conditional-write store.
  private val commitStores =
    scala.collection.concurrent.TrieMap.empty[String, CommitStore]

  /** Register the [[CommitStore]] that arbitrates this table's commits
    * (object stores need a conditional-write arbiter; see the
    * [[CommitStore]] contract). Unregistered tables use the
    * exclusive-create default.
    */
  def setCommitStore(path: String, store: CommitStore): Unit =
    commitStores.put(path, store)

  def clearCommitStore(path: String): Unit = commitStores.remove(path)

  private def commitStoreFor(path: String): CommitStore =
    commitStores.getOrElse(path, CommitStore.AtomicCreate)

  /** Conditional publish of the marker — the CAS, delegated to the
    * table's [[CommitStore]]. True iff WE committed the version: a
    * claimed win is VERIFIED by reading the marker back, so a
    * non-atomic store that let two writers through surfaces as a lost
    * race for the stomped writer (rebase/abort upstream) instead of a
    * silently dropped commit. Package-visible so the seam's contract
    * can be spec-raced directly.
    */
  private[graft] def tryCommitMarker(spark: SparkSession, path: String,
                                     version: Int, payload: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path + s"/_commit.v$version")
    if (!commitStoreFor(path).putIfAbsent(fs(spark, path), p,
        payload.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      return false
    // read-back tripwire (metadata-sized; one GET per commit)
    var attempt = 0
    while (true) {
      val back =
        try Some(readText(spark, p.toString))
        catch { case _: java.io.IOException => None }
      back match {
        case Some(t) if t == payload => return true
        case Some(t) if t.nonEmpty => return false // stomped: lost after all
        case _ if attempt < 5 =>
          attempt += 1; Thread.sleep(20L * attempt)
        case _ => throw new java.io.IOException(
          s"commit marker _commit.v$version was claimed but cannot be " +
            "read back; delete the marker to roll back")
      }
    }
    sys.error("unreachable")
  }

  private def parseMarkerSafe(text: String): Option[Marker] =
    try Some(parseMarker(text)) catch { case _: Exception => None }

  // Same-JVM commit serialization: one lock object per table path, so
  // local concurrent writers (the local[32] test posture, or multiple
  // streams in one driver) never race the on-disk CAS at all. Cross-
  // process writers are covered by the CommitStore contract above.
  private val commitLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def lockFor(path: String): Object =
    commitLocks.getOrElseUpdate(path, new Object)

  /** How a commit composes with a concurrently-moved head. */
  private sealed trait CommitKind
  private case object Additive extends CommitKind // rebase onto the new head
  private case object RewriteK extends CommitKind // abort on any head move
  private case object ReplaceK extends CommitKind // ignores the base entirely

  /** One commit attempt's immutable payload: the delta rows (data files
    * already written under a writer-unique dir), plus what the winning
    * version must additionally record.
    */
  private final case class Commit(
      delta: Seq[FileStat],
      kind: CommitKind,
      basedOn: Int, // the version the delta was computed against
      batchSchema: Option[StructType] = None, // evolving appends only
      batchId: Option[Long] = None,
      writerId: Option[String] = None, // streaming sink identity (txn map)
      bloom: Seq[(String, String)] = Nil, // (file, base64 bitmap) delta
      dvDelta: Map[String, Array[Long]] = Map.empty, // new masked ordinals
      // sidecar carry-over: normal commits inherit the HEAD's entries
      // for surviving files; a RESTORE supplies the target version's
      // sidecars verbatim instead (carrying the head's would re-apply
      // masks the restore is meant to undo)
      carrySidecars: Boolean = true,
      // replace commits carry the fresh incarnation's registration:
      replaceMeta: Option[(StructType, (String, Seq[String]),
        Option[(String, Int, Int)])] = None)

  private def stagedName(kind: String, v: Int, token: String) =
    s"_staged/$kind.v$v.$token"

  /** Run the optimistic-commit loop: stage this attempt's metadata under
    * writer-unique names, then publish the `_commit.v<next>` marker
    * through the table's [[CommitStore]]; on a lost race, rebase
    * (additive — schema evolution recomputed against the new head so
    * concurrent ADD COLUMNs compose), abort (rewrite), or take the next
    * version (replace). No shared file is ever rewritten: committed
    * state is immutable by construction. Returns the committed version.
    */
  private def commitLoop(spark: SparkSession, path: String, c: Commit): Int =
    lockFor(path).synchronized {
      val token = java.util.UUID.randomUUID().toString.replace("-", "")
        .take(12)
      var done = -1
      while (done < 0) {
        val committed = committedVersions(spark, path)
        require(committed.nonEmpty || c.kind == ReplaceK,
          s"no committed snapshot version under $path")
        val head = if (committed.isEmpty) 0 else committed.max
        val headMarker =
          if (head == 0) None else Some(markerOf(spark, path, head))
        c.kind match {
          case RewriteK if head != c.basedOn =>
            throw new java.util.ConcurrentModificationException(
              s"snapshot $path moved v${c.basedOn} -> v$head during a " +
                "non-additive commit (delete/compact/merge); re-run " +
                "against the new head")
          case Additive if headMarker.exists(_.incv > c.basedOn) =>
            // the table was REPLACED under this append: its rows belong
            // to the old incarnation — appending them silently into the
            // new one would be a lost-update in the other direction
            throw new java.util.ConcurrentModificationException(
              s"snapshot $path was replaced (v${headMarker.get.incv}) " +
                "during this append; re-run against the new table")
          case _ => ()
        }
        val next = head + 1
        val rows =
          if (c.kind == Additive) manifest(spark, path, Some(head)) ++ c.delta
          else c.delta
        // schema: a replace always stages the fresh incarnation's; an
        // additive commit stages an evolution recomputed against THIS
        // head — concurrent evolving appends compose to the field union
        // (each writer adds its own new fields on top of whatever the
        // head already has); a shared field whose type diverged is a
        // loud error
        val evolved: Option[StructType] = c.kind match {
          case ReplaceK => Some(c.replaceMeta.get._1)
          case Additive => c.batchSchema.flatMap { bs =>
            val stored = schemaAt(spark, path, head)
            requireTypesKept(stored, bs)
            val storedNames = stored.fieldNames.toSet
            val added = bs.fields.filterNot(f => storedNames(f.name))
            if (added.isEmpty) None
            else Some(StructType(stored.fields ++ added))
          }
          case RewriteK => None
        }
        val manifestFile = stagedName("manifest", next, token) + ".tsv"
        writeText(spark, s"$path/$manifestFile", renderManifest(rows))
        val schemaFile = evolved.map { sc =>
          val f = stagedName("schema", next, token) + ".json"
          writeText(spark, s"$path/$f", sc.json)
          f
        }
        val bconf =
          if (c.kind == ReplaceK) c.replaceMeta.get._3
          else bloomConfAt(spark, path, head)
        val bloomFile =
          if (bconf.isEmpty) None
          else {
            // carry the head's entries for every surviving file + the
            // delta's fresh entries — uniform across commit kinds
            val entries =
              if (c.kind == ReplaceK || !c.carrySidecars) c.bloom
              else {
                val live = rows.map(_.file).toSet
                bloomOf(spark, path, head)
                  .filter(kv => live(kv._1)).toSeq ++ c.bloom
              }
            val f = stagedName("bloom", next, token) + ".tsv"
            writeText(spark, s"$path/$f",
              entries.map { case (a, b) => s"$a\t$b" }
                .mkString("", "\n", if (entries.isEmpty) "" else "\n"))
            Some(f)
          }
        // deletion vectors: surviving files keep their masks (per-file
        // union with the delta); rewritten files' masks drop — the
        // copy-on-write read already applied them
        val dvMap: Map[String, Array[Long]] =
          if (c.kind == ReplaceK) Map.empty
          else if (!c.carrySidecars) c.dvDelta
          else {
            val live = rows.map(_.file).toSet
            val carried = dvOf(spark, path, head).filter(kv => live(kv._1))
            (carried.keySet ++ c.dvDelta.keySet).iterator.map { f =>
              f -> (carried.getOrElse(f, Array.empty[Long]) ++
                c.dvDelta.getOrElse(f, Array.empty[Long])).distinct.sorted
            }.filter(_._2.nonEmpty).toMap
          }
        val dvFile =
          if (dvMap.isEmpty) None
          else {
            val f = stagedName("dv", next, token) + ".tsv"
            writeText(spark, s"$path/$f",
              dvMap.toSeq.sortBy(_._1).map { case (file, ords) =>
                s"$file\t${packLongs(ords)}"
              }.mkString("", "\n", "\n"))
            Some(f)
          }
        val incv = if (c.kind == ReplaceK) next else headMarker.get.incv
        val baseTxn =
          if (c.kind == ReplaceK) Map.empty[String, Long]
          else headMarker.map(_.txn).getOrElse(Map.empty[String, Long])
        val txn = (for { w <- c.writerId; b <- c.batchId } yield
          baseTxn + (w -> math.max(b, baseTxn.getOrElse(w, Long.MinValue))))
          .getOrElse(baseTxn)
        val marker = Marker(manifestFile, schemaFile, bloomFile, dvFile,
          c.batchId, incv,
          if (c.kind == ReplaceK) Some(c.replaceMeta.get._2) else None,
          if (c.kind == ReplaceK) c.replaceMeta.get._3 else None,
          txn, ts = System.currentTimeMillis())
        if (tryCommitMarker(spark, path, next, marker.render)) done = next
        // else: lost the race — loop; the next pass re-reads the head,
        // re-carries its manifest (additive) or throws (rewrite);
        // this attempt's staged files become orphans vacuum sweeps
      }
      done
    }

  private def renderManifest(stats: Seq[FileStat]): String = {
    def cell(e: Option[(Long, Long)]) =
      e.map { case (a, b) => s"$a:$b" }.getOrElse("-")
    stats.map(s => (Seq(s.file, s.min.toString, s.max.toString,
        s.rows.toString) ++ s.extra.map(cell)).mkString("\t"))
      .mkString("", "\n", if (stats.isEmpty) "" else "\n")
  }

  private def packLongs(xs: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(xs.length * 8)
    xs.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private def unpackLongs(b64: String): Array[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  // ---- incarnation-scoped registration (resolved through markers) --------

  /** The marker of `v`'s INCARNATION start (a replace or v1) — the one
    * carrying the stat/bloom registration. At most two marker reads.
    */
  private def incStartMarker(spark: SparkSession, path: String,
                             v: Int): Marker = {
    val m = markerOf(spark, path, v)
    if (m.statcols.isDefined) m else markerOf(spark, path, m.incv)
  }

  private def statColsAt(spark: SparkSession, path: String,
                         v: Int): (String, Seq[String]) =
    incStartMarker(spark, path, v).statcols.getOrElse(
      throw new IllegalStateException(
        s"no stat-column registration reachable from v$v of $path"))

  private def bloomConfAt(spark: SparkSession, path: String,
                          v: Int): Option[(String, Int, Int)] =
    if (v == 0) None else incStartMarker(spark, path, v).bloomconf

  // ---- stats ------------------------------------------------------------

  private def statsOf(spark: SparkSession, statCol: String,
                      cols2: Seq[String], schema: StructType,
                      dir: String): Seq[FileStat] = {
    // One scan for the whole manifest delta: per-file min/max/rows keyed
    // on the file identity Spark already carries with every row —
    // secondary columns ride the SAME pass. Explicit schema: an empty
    // write may leave zero data files, which would otherwise fail schema
    // inference here.
    val aggs =
      Seq(min(col(statCol)).cast("long").as("mn"),
        max(col(statCol)).cast("long").as("mx"),
        count(lit(1)).as("rows"),
        count(when(col(statCol).isNull, 1)).as("nulls")) ++
        cols2.flatMap(c => Seq(min(col(c)).cast("long"),
          max(col(c)).cast("long")))
    val rows = spark.read.schema(schema).parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // file-count-sized, never data-sized
    // Fail FAST on null statCol values (same pass — no extra scan): zone
    // maps have no null band, so a null row would be invisible to every
    // range probe and silently dropped by delete's rewrite filter. Better
    // a loud commit-time error than a quietly incomplete table.
    val nullRows = rows.map(_.getLong(4)).sum
    require(nullRows == 0,
      s"statCol '$statCol' has $nullRows NULL row(s); zone maps require a " +
        "non-null cluster column — filter or coalesce before write/append")
    rows.map { r =>
      val extra = cols2.indices.map { i =>
        if (r.isNullAt(5 + 2 * i)) None // all-null file: prunable always
        else Some((r.getLong(5 + 2 * i), r.getLong(6 + 2 * i)))
      }
      FileStat(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        extra)
    }.sortBy(_.file).toSeq
  }

  /** Writer-unique data directory — two in-flight commits can never
    * overwrite each other's parquet bytes, which is what makes the
    * optimistic rebase sound (a loser's already-written files stay
    * valid verbatim for its retry).
    */
  private def newDataDir(spark: SparkSession, path: String): String =
    path + "/d" + java.util.UUID.randomUUID().toString.replace("-", "")
      .take(12)

  private def clusterWrite(df: DataFrame, statCol: String, nFiles: Int,
                           dir: String): Unit =
    df.repartitionByRange(nFiles, col(statCol))
      .sortWithinPartitions(statCol)
      .write.mode("overwrite").parquet(dir)

  // ---- per-file bloom sidecar (equality file-skipping) -------------------
  // Zone maps prune RANGE probes on clustered columns; a per-file bloom
  // over a registered high-cardinality column prunes EQUALITY probes on a
  // column with no useful ordering at all (url, content hash — the
  // Delta/Iceberg bloom-index idea). Bits ride the engine-agnostic
  // PolyHash bloom kernel, so a membership decision — false positives
  // included — replays identically anywhere.

  /** `file -> base64 bitmap` of `version`'s sidecar (empty when the
    * table has no bloom column).
    */
  private def bloomOf(spark: SparkSession, path: String,
                      version: Int): Map[String, String] =
    markerOf(spark, path, version).bloom match {
      case None => Map.empty
      case Some(f) =>
        readText(spark, s"$path/$f").split("\n").toSeq
          .filter(_.nonEmpty).map { line =>
            val Array(a, b) = line.split("\t"); a -> b
          }.toMap
    }

  /** `file -> sorted masked row ordinals` of `version`'s deletion-vector
    * sidecar (empty when the version has none).
    */
  private def dvOf(spark: SparkSession, path: String,
                   version: Int): Map[String, Array[Long]] =
    if (version == 0) Map.empty
    else markerOf(spark, path, version).dv match {
      case None => Map.empty
      case Some(f) =>
        readText(spark, s"$path/$f").split("\n").toSeq
          .filter(_.nonEmpty).map { line =>
            val Array(a, b) = line.split("\t"); a -> unpackLongs(b)
          }.toMap
    }

  /** Whether `version` carries any deletion-vector mask — the DSv2
    * connector's reader-version gate.
    */
  private[graft] def hasDeletionVectors(spark: SparkSession, path: String,
                                        version: Int): Boolean =
    markerOf(spark, path, version).dv.isDefined

  /** Per-file bloom bitmaps for the files under `dir` — one aggregate in
    * the same one-pass-per-commit posture as [[statsOf]] (keyed on
    * `input_file_name()`; the shuffle carries one fixed-size bitmap per
    * file). NULL values insert nothing (an equality probe for NULL is
    * meaningless — use IS NULL semantics upstream).
    */
  private def bloomStatsOf(spark: SparkSession, conf: (String, Int, Int),
                           schema: StructType,
                           dir: String): Seq[(String, String)] = {
    val (c, mBits, k) = conf
    val elems = when(col(c).isNotNull, array(col(c).cast("string")))
      .otherwise(array().cast("array<string>"))
    spark.read.schema(schema).parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(graft.functions.native.bloomBits(elems, mBits, k).as("b"))
      .collect() // file-count-sized
      .map { r =>
        val words = r.getSeq[Long](1)
        val bb = java.nio.ByteBuffer.allocate(words.length * 8)
        words.foreach(bb.putLong)
        r.getString(0) -> java.util.Base64.getEncoder.encodeToString(bb.array())
      }.toSeq.sortBy(_._1)
  }

  private def bloomDelta(spark: SparkSession, path: String, base: Int,
                         schema: StructType,
                         dir: String): Seq[(String, String)] =
    bloomConfAt(spark, path, base)
      .map(conf => bloomStatsOf(spark, conf, schema, dir)).getOrElse(Nil)

  /** Shared append-only type check: every stored column present in the
    * batch must keep its type (the M1-M3 contract's retype guard).
    */
  private def requireTypesKept(stored: StructType, batch: StructType): Unit = {
    val batchTypes = batch.fields.map(f => f.name -> f.dataType).toMap
    stored.fields.foreach { f =>
      require(batchTypes.get(f.name).forall(_ == f.dataType),
        s"append-only migration violated: column '${f.name}' changed " +
          s"type ${f.dataType.simpleString} -> " +
          batchTypes.get(f.name).map(_.simpleString).getOrElse("<dropped>"))
    }
  }

  // ---- deletion-vector-aware reading --------------------------------------

  // _metadata.file_path renders the scheme-qualified URI; manifest rows
  // carry whatever input_file_name()/the writer recorded. Both normalize
  // to the bare path (scheme + authority stripped) so the mask join can
  // never silently miss — and the oracle gates would catch it if it did.
  private def normUriPath(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  private val schemeRe = "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?"

  /** Read `files` of `version` with that version's deletion vectors
    * applied: the mask is metadata-sized, broadcast, and anti-joined on
    * `(file, _metadata.row_index)` — zero data movement beyond the scan
    * itself. No mask on these files → the plain pruned parquet scan.
    */
  private def readMasked(spark: SparkSession, path: String, version: Int,
                         files: Seq[String],
                         schema: StructType): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val fileSet = files.toSet
    val dv = dvOf(spark, path, version).filter(kv => fileSet(kv._1))
    val base = spark.read.schema(schema).parquet(files: _*)
    if (dv.isEmpty) base
    else {
      val maskRows = dv.toSeq.flatMap { case (f, ords) =>
        val nf = normUriPath(f); ords.map(o => (nf, o))
      }
      val mask = spark.createDataFrame(maskRows).toDF("_dvf", "_dvo")
      base
        .withColumn("__graft_dv_f",
          regexp_replace(col("_metadata.file_path"), schemeRe, ""))
        .withColumn("__graft_dv_o", col("_metadata.row_index"))
        .join(broadcast(mask),
          col("__graft_dv_f") === col("_dvf") && col("__graft_dv_o") === col("_dvo"),
          "left_anti")
        .drop("__graft_dv_f", "__graft_dv_o")
    }
  }

  /** The shared additive-append body ([[append]] and the streaming
    * [[appendBatch]]): call-time evolution validation against the base
    * the caller sees, stored-order clustered write, inline-manifest
    * stats, one additive commit (the batch id rides the marker).
    */
  private def appendImpl(df: DataFrame, path: String, statCol: String,
                         nFiles: Int, batchId: Option[Long],
                         writerId: Option[String] = None): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val spark = df.sparkSession
    val base = currentVersion(spark, path)
    val stored = schemaAt(spark, path, base)
    val evolving = df.schema.json != stored.json
    if (evolving) {
      // call-time validation against the base the CALLER sees: every
      // stored flattened path must survive (drops throw), shared
      // top-level types must match (retypes throw). Under a concurrent
      // rebase the commit loop re-derives the union against the new
      // head, so concurrent ADD COLUMNs compose.
      graft.etl.Migrate.evolve(
        graft.etl.Flatten.columnPaths(stored), df.schema)
      requireTypesKept(stored, df.schema)
    }
    val writeSchema =
      if (!evolving) stored
      else StructType(stored.fields ++
        df.schema.fields.filterNot(f => stored.fieldNames.contains(f.name)))
    val dataDir = newDataDir(spark, path)
    // stored-order projection: old columns keep their position, new ones
    // append — the physical layout every version agrees on
    clusterWrite(df.select(writeSchema.fieldNames.map(col).toSeq: _*),
      statCol, nFiles, dataDir)
    val delta = statsOf(spark, statCol, statColsAt(spark, path, base)._2,
      writeSchema, dataDir)
    commitLoop(spark, path,
      Commit(delta, Additive, basedOn = base,
        batchSchema = if (evolving) Some(df.schema) else None,
        batchId = batchId, writerId = writerId,
        bloom = bloomDelta(spark, path, base, writeSchema, dataDir)))
  }

  // ---- public API ---------------------------------------------------------

  /** Write `df` as a range-clustered snapshot over long-typed `statCol`
    * with `nFiles` target files, plus the zone-map manifest. `statCols2`
    * registers SECONDARY long-typed stat columns: their per-file min/max
    * is recorded in this and every future commit (same stats pass),
    * enabling [[scanBy]] pruning on non-cluster columns. `bloomCol`
    * registers a string column whose per-file bloom sidecar makes
    * [[lookupEq]] point probes skip files.
    *
    * CREATE OR REPLACE, crash-safe like every other commit: on an
    * existing table the replacement lands as version N+1 — a fresh
    * INCARNATION whose marker carries the new registration — and the
    * old incarnation's state is NOT touched (still time-travel-readable
    * until [[vacuum]] reclaims it). A crash or validation failure (e.g.
    * a NULL statCol row) anywhere before the marker leaves the previous
    * table fully intact.
    */
  def write(df: DataFrame, path: String, statCol: String,
            nFiles: Int = 16, statCols2: Seq[String] = Nil,
            bloomCol: Option[String] = None, bloomBits: Int = 1024,
            bloomK: Int = 4): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val spark = df.sparkSession
    val dataDir = newDataDir(spark, path)
    clusterWrite(df, statCol, nFiles, dataDir)
    val stats = statsOf(spark, statCol, statCols2, df.schema, dataDir)
    val bconf = bloomCol.map(c => (c, bloomBits, bloomK))
    val bloom = bconf.map(conf =>
      bloomStatsOf(spark, conf, df.schema, dataDir)).getOrElse(Nil)
    commitLoop(spark, path,
      Commit(stats, ReplaceK, basedOn = 0, bloom = bloom,
        replaceMeta = Some((df.schema, (statCol, statCols2), bconf))))
  }

  /** CREATE an EMPTY snapshot table: schema + registration, zero data
    * files — the `CREATE TABLE` DDL surface the SQL catalog needs
    * before the first `INSERT INTO`. Same replace semantics as
    * [[write]] over an existing table.
    */
  def create(spark: SparkSession, path: String, schema: StructType,
             statCol: String, statCols2: Seq[String] = Nil,
             bloomCol: Option[String] = None, bloomBits: Int = 1024,
             bloomK: Int = 4): Unit = {
    require(schema.fieldNames.contains(statCol),
      s"statCol '$statCol' is not a column of ${schema.simpleString}")
    val bconf = bloomCol.map(c => (c, bloomBits, bloomK))
    commitLoop(spark, path,
      Commit(Nil, ReplaceK, basedOn = 0,
        replaceMeta = Some((schema, (statCol, statCols2), bconf))))
  }

  /** Append a batch as a NEW snapshot version: the increment is
    * range-clustered and stat'd on its own (O(batch) — history files are
    * neither moved nor rescanned; their manifest rows carry over), and
    * the new manifest = history rows + increment rows. Reading the new
    * version sees history ∪ batch; every older version stays readable.
    *
    * ADD COLUMN rides this path: a batch whose schema appends new
    * columns to the stored schema commits an append-only evolution
    * (validated by the [[graft.etl.Migrate]] contract — dropping or
    * retyping a stored column throws at call time; under a concurrent
    * rebase the evolutions COMPOSE to the field union). Old files
    * null-fill the new columns on read; time travel below the evolution
    * sees the old shape.
    */
  def append(df: DataFrame, path: String, statCol: String,
             nFiles: Int = 4): Unit =
    appendImpl(df, path, statCol, nFiles, batchId = None)

  /** Copy-on-write range DELETE: commit a new version with every row
    * whose `statCol` lies in `[lo, hi]` removed. Only files whose
    * [min, max] band OVERLAPS the range are rewritten (read through any
    * deletion-vector mask, filtered, re-clustered); every other manifest
    * row carries over verbatim — O(overlap), never O(table) — and when
    * no file overlaps, the delete is a pure metadata commit (zero data
    * I/O). Older versions still read the pre-delete rows (time travel).
    * Non-additive: a concurrent commit aborts this one with
    * `ConcurrentModificationException`.
    */
  def delete(spark: SparkSession, path: String, statCol: String,
             lo: Long, hi: Long): Unit = {
    val base = currentVersion(spark, path)
    val (hit, keep) = manifest(spark, path, Some(base))
      .partition(s => s.max >= lo && s.min <= hi)
    if (hit.isEmpty) {
      commitLoop(spark, path, Commit(keep, RewriteK, basedOn = base))
      return
    }
    val schema = schemaAt(spark, path, base)
    val dataDir = newDataDir(spark, path)
    readMasked(spark, path, base, hit.map(_.file), schema)
      .where(!(col(statCol) >= lo && col(statCol) <= hi))
      .repartitionByRange(math.max(1, hit.size), col(statCol))
      .sortWithinPartitions(statCol)
      .write.mode("overwrite").parquet(dataDir)
    val rewritten = statsOf(spark, statCol,
      statColsAt(spark, path, base)._2, schema, dataDir)
    commitLoop(spark, path,
      Commit(keep ++ rewritten, RewriteK, basedOn = base,
        bloom = bloomDelta(spark, path, base, schema, dataDir)))
  }

  /** MERGE-ON-READ range DELETE (deletion vectors): commit a per-file
    * ROW-ORDINAL MASK for every row whose `statCol` lies in `[lo, hi]`
    * instead of rewriting any data file — a point delete is a pure
    * metadata commit (the Delta deletion-vector idea). Library reads
    * apply the mask via a broadcast `_metadata.row_index` anti-join;
    * copy-on-write ops read through it and [[compact]] purges it.
    * Masks transit the driver (they ARE version metadata) — this is the
    * GDPR-trickle path; bulk range deletes should stay on [[delete]]'s
    * copy-on-write rewrite. Non-additive: a concurrent commit aborts.
    */
  def deleteVectors(spark: SparkSession, path: String, statCol: String,
                    lo: Long, hi: Long): Unit = {
    val base = currentVersion(spark, path)
    val m = manifest(spark, path, Some(base))
    val hit = m.filter(s => s.max >= lo && s.min <= hi)
    val delta: Map[String, Array[Long]] =
      if (hit.isEmpty) Map.empty
      else {
        val schema = schemaAt(spark, path, base)
        val byNorm = hit.map(s => normUriPath(s.file) -> s.file).toMap
        // already-masked rows may re-match the range: re-adding their
        // ordinal is a harmless no-op under the per-file union
        spark.read.schema(schema).parquet(hit.map(_.file): _*)
          .where(col(statCol) >= lo && col(statCol) <= hi)
          .select(
            regexp_replace(col("_metadata.file_path"), schemeRe, "")
              .as("_f"),
            col("_metadata.row_index").as("_o"))
          .collect() // size-of-deletes — metadata by design (see doc)
          .groupBy(_.getString(0)).map { case (nf, rs) =>
            byNorm(nf) -> rs.map(_.getLong(1)).sorted
          }
      }
    commitLoop(spark, path,
      Commit(m, RewriteK, basedOn = base, dvDelta = delta))
  }

  /** Copy-on-write MERGE (key-replace upsert on the PRIMARY stat column
    * — the Delta `MERGE INTO` shape with the table clustered on the
    * merge key): every existing row whose `statCol` appears in `batch`
    * is replaced by the batch's rows for that key; keys absent from the
    * table insert. Mechanics: ONE pass over the batch's distinct keys
    * against the broadcast file bands finds exactly the files holding a
    * matched key; only those rewrite (anti-joined against the batch
    * keys), every other manifest row carries over verbatim, and the
    * batch lands as its own clustered files — O(overlap + batch), never
    * O(table). Non-additive: a concurrent commit aborts it cleanly.
    */
  def merge(batch: DataFrame, path: String, statCol: String,
            nFiles: Int = 4): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val spark = batch.sparkSession
    val base = currentVersion(spark, path)
    val m = manifest(spark, path, Some(base))
    val schema = schemaAt(spark, path, base)
    val keys = batch.select(col(statCol).cast("long").as("_mk")).distinct()
    // exact hit-file set in ONE batch pass: a file rewrites iff some
    // batch key falls inside its band (band overlap alone would rewrite
    // range-straddling files that hold none of the keys)
    val bands = spark.createDataFrame(m.map(s => (s.file, s.min, s.max)))
      .toDF("_f", "_mn", "_mx")
    val hitFiles = keys
      .join(broadcast(bands),
        col("_mk") >= col("_mn") && col("_mk") <= col("_mx"))
      .select("_f").distinct()
      .collect().map(_.getString(0)).toSet // file-count-sized
    val (hit, keep) = m.partition(s => hitFiles(s.file))
    val survivorDir =
      if (hit.isEmpty) None
      else {
        val dir = newDataDir(spark, path)
        readMasked(spark, path, base, hit.map(_.file), schema)
          .join(keys, col(statCol).cast("long") === col("_mk"), "left_anti")
          .repartitionByRange(math.max(1, hit.size), col(statCol))
          .sortWithinPartitions(statCol)
          .write.mode("overwrite").parquet(dir)
        Some(dir)
      }
    val batchDir = newDataDir(spark, path)
    clusterWrite(batch.select(schema.fieldNames.map(col).toSeq: _*),
      statCol, nFiles, batchDir)
    val cols2 = statColsAt(spark, path, base)._2
    val fresh = (survivorDir.toSeq :+ batchDir).flatMap(dir =>
      statsOf(spark, statCol, cols2, schema, dir))
    val bloom = (survivorDir.toSeq :+ batchDir).flatMap(dir =>
      bloomDelta(spark, path, base, schema, dir))
    commitLoop(spark, path,
      Commit(keep ++ fresh, RewriteK, basedOn = base, bloom = bloom))
  }

  /** COUNT of a `[lo, hi]` range probe answered from METADATA where
    * possible (the Iceberg/Delta stats-based count): files whose band
    * lies FULLY inside the range contribute their manifest row count
    * (minus any deletion-vector masks — a fully-covered file's masked
    * rows are necessarily in range) with zero I/O; only
    * boundary-straddling files are scanned, through the mask. A probe
    * aligned to file bands — or covering the whole table — reads no
    * data at all. One row `(cnt)`.
    */
  def countRange(spark: SparkSession, path: String, statCol: String,
                 lo: Long, hi: Long,
                 version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, path))
    val m = manifest(spark, path, Some(v))
    val dv = dvOf(spark, path, v)
    val (full, rest) = m.filter(s => s.max >= lo && s.min <= hi)
      .partition(s => s.min >= lo && s.max <= hi)
    val fullRows = full.map(s =>
      s.rows - dv.get(s.file).map(_.length.toLong).getOrElse(0L)).sum
    if (rest.isEmpty)
      spark.range(1).select(lit(fullRows).as("cnt"))
    else
      readMasked(spark, path, v, rest.map(_.file), schemaAt(spark, path, v))
        .where(col(statCol) >= lo && col(statCol) <= hi)
        .agg((count(lit(1)) + lit(fullRows)).as("cnt"))
  }

  /** The data files an EQUALITY probe of the registered bloom column
    * must read: every file whose bloom has all of the value's bits set
    * (false positives keep a file — never lose one). Without a bloom
    * column, all files.
    */
  def selectFilesEq(spark: SparkSession, path: String, value: String,
                    version: Option[Int] = None): Seq[String] = {
    val v = version.getOrElse(currentVersion(spark, path))
    val m = manifest(spark, path, Some(v))
    bloomConfAt(spark, path, v) match {
      case None => m.map(_.file)
      case Some((_, mBits, k)) =>
        val pos = graft.functions.Bloom.positions(value, mBits, k)
        val side = bloomOf(spark, path, v)
        m.map(_.file).filter(f =>
          side.get(f).forall(b64 => bloomHasAll(b64, pos)))
    }
  }

  /** Equality probe of the registered bloom column: bloom-pruned file
    * list + the exact residual filter — point lookups on a column with
    * no useful ordering (url, content hash) read ~1 file instead of the
    * table.
    */
  def lookupEq(spark: SparkSession, path: String, value: String,
               version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, path))
    val schema = schemaAt(spark, path, v)
    val c = bloomConfAt(spark, path, v)
      .map(_._1).getOrElse(throw new IllegalArgumentException(
        s"no bloom column registered under $path"))
    val files = selectFilesEq(spark, path, value, Some(v))
    readMasked(spark, path, v, files, schema)
      .where(col(c).cast("string") === value)
  }

  /** IDEMPOTENT streaming append — the `foreachBatch` sink contract:
    * each micro-batch lands as one snapshot version whose commit marker
    * records the batch id, and a RETRY of the same batch id (Structured
    * Streaming re-delivers the last uncommitted batch after a crash) is
    * a no-op instead of a duplicate append. Exactly-once ingestion into
    * the table format falls out of the version protocol: the data write
    * is invisible until the commit marker lands, and the marker carries
    * a per-writer HIGH-WATER batch id map merged forward through every
    * commit — so the replay check is ONE head-marker read (O(1) over
    * the stream's lifetime, Delta's txn-version table) and survives
    * arbitrary interleaved commits. Batch ids are monotonic per writer
    * (the Structured Streaming contract); a query restarted from a
    * FRESH checkpoint must use a fresh `writerId`. Schema evolution
    * follows the same append-only contract as [[append]].
    *
    * Wire as
    * `stream.writeStream.foreachBatch((df, id) => Snapshot.appendBatch(df, path, col, id))`.
    */
  def appendBatch(df: DataFrame, path: String, statCol: String,
                  batchId: Long, nFiles: Int = 4,
                  writerId: String = "stream"): Unit = {
    require(!writerId.exists(ch => ch == ':' || ch == ';' || ch == '\n'),
      s"writerId must not contain ':', ';' or newlines: '$writerId'")
    val spark = df.sparkSession
    val head = currentVersion(spark, path)
    if (markerOf(spark, path, head).txn.get(writerId).exists(_ >= batchId))
      return // replay of an already-committed batch
    appendImpl(df, path, statCol, nFiles, batchId = Some(batchId),
      writerId = Some(writerId))
  }

  /** RESTORE the table to an earlier version (Delta's RESTORE): commit a
    * NEW version whose manifest — and deletion-vector/bloom sidecars —
    * are the target version's, verbatim. Pure metadata (data files are
    * immutable; nothing moves or rewrites), the history stays linear
    * (the rolled-back versions remain readable below), and the restore
    * itself is undoable by another restore. The target must be in the
    * CURRENT incarnation (restoring across a replace would resurrect a
    * different registration — recreate instead) and still retained by
    * vacuum, and the schema must not have evolved past the target
    * (append-only evolution has no downgrade). Non-additive: a
    * concurrent commit aborts it cleanly.
    */
  def restore(spark: SparkSession, path: String, toVersion: Int): Unit = {
    val base = currentVersion(spark, path)
    require(toVersion >= 1 && toVersion <= base,
      s"cannot restore $path to v$toVersion (current: v$base)")
    val baseMarker = markerOf(spark, path, base)
    require(toVersion >= baseMarker.incv,
      s"v$toVersion is below this incarnation's start " +
        s"(v${baseMarker.incv}); a replace cannot be restored across")
    require(schemaAt(spark, path, toVersion).json ==
        schemaAt(spark, path, base).json,
      s"schema evolved between v$toVersion and v$base; append-only " +
        "evolution has no downgrade — restore to a version at or above " +
        "the last evolution")
    commitLoop(spark, path,
      Commit(manifest(spark, path, Some(toVersion)), RewriteK,
        basedOn = base,
        bloom = bloomOf(spark, path, toVersion).toSeq,
        dvDelta = dvOf(spark, path, toVersion),
        carrySidecars = false))
  }

  /** ADD COLUMNS without data — the `ALTER TABLE ADD COLUMN` DDL: a
    * pure-metadata ADDITIVE commit staging the evolved schema (the same
    * M1-M3 append-only contract as an evolving [[append]]; existing
    * columns may not be redeclared). Every existing file null-fills the
    * new columns on read; time travel below sees the old shape.
    */
  def addColumns(spark: SparkSession, path: String,
                 added: Seq[org.apache.spark.sql.types.StructField]): Unit = {
    require(added.nonEmpty, "addColumns needs at least one column")
    val base = currentVersion(spark, path)
    val stored = schemaAt(spark, path, base)
    added.foreach(f => require(!stored.fieldNames.contains(f.name),
      s"column '${f.name}' already exists"))
    commitLoop(spark, path,
      Commit(Nil, Additive, basedOn = base,
        batchSchema = Some(StructType(stored.fields ++ added))))
  }

  /** The newest version committed AT OR BEFORE `timestampMicros` — the
    * `TIMESTAMP AS OF` resolution (markers record their commit wall
    * time). Throws when the table's first commit is later.
    */
  def versionAsOf(spark: SparkSession, path: String,
                  timestampMicros: Long): Int = {
    val ms = timestampMicros / 1000L
    val vs = committedVersions(spark, path)
      .filter(v => markerOf(spark, path, v).ts <= ms)
    require(vs.nonEmpty,
      s"no version of $path committed at or before timestamp " +
        s"${ms}ms (first commit is later)")
    vs.max
  }

  /** Small-file COMPACTION: fold the current version's live files into
    * `nFiles` fresh range-clustered files as a new version — same rows,
    * fewer/larger files. This is the maintenance job that keeps the
    * split count healthy after many appends (each append adds its own
    * small files), restores clustering after deletes, and PURGES
    * deletion vectors (the masked rows drop out of the rewrite). Data
    * files are immutable, so every older version keeps reading the
    * originals. Non-additive: a concurrent commit aborts it cleanly.
    */
  def compact(spark: SparkSession, path: String, statCol: String,
              nFiles: Int = 16): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val base = currentVersion(spark, path)
    val m = manifest(spark, path, Some(base))
    if (m.isEmpty) {
      commitLoop(spark, path, Commit(Nil, RewriteK, basedOn = base))
      return
    }
    val schema = schemaAt(spark, path, base)
    val dataDir = newDataDir(spark, path)
    readMasked(spark, path, base, m.map(_.file), schema)
      .repartitionByRange(nFiles, col(statCol))
      .sortWithinPartitions(statCol)
      .write.mode("overwrite").parquet(dataDir)
    val rewritten = statsOf(spark, statCol,
      statColsAt(spark, path, base)._2, schema, dataDir)
    commitLoop(spark, path,
      Commit(rewritten, RewriteK, basedOn = base,
        bloom = bloomDelta(spark, path, base, schema, dataDir)))
  }

  /** INCREMENTAL READ between two versions (the Delta change-data-feed
    * idea restricted to what a manifest can answer): the rows of every
    * data file present in `toV`'s manifest but not in `fromV`'s —
    * `fromV = 0` means "from before the first version" (the bootstrap
    * read: everything through `toV`). For an append-only history (the
    * ingest case — each version adds files and carries the rest
    * verbatim) this is EXACTLY the rows added in `(fromV, toV]`, which
    * is what a downstream incremental pipeline consumes per crawl
    * instead of re-reading the table. Across rewrite commits
    * (delete/compact/merge) the new files' rows include rewritten
    * SURVIVORS, and a deletion-vector commit adds no files at all —
    * use [[changesTyped]] when the window may span a rewrite or a DV
    * delete. Added files read through `toV`'s mask.
    */
  def changes(spark: SparkSession, path: String, fromV: Int,
              toV: Int): DataFrame = {
    require(0 <= fromV && fromV <= toV,
      s"need 0 <= fromV <= toV, got $fromV > $toV")
    val before =
      if (fromV == 0) Set.empty[String]
      else manifest(spark, path, Some(fromV)).map(_.file).toSet
    val added = manifest(spark, path, Some(toV))
      .filterNot(s => before(s.file)).map(_.file)
    readMasked(spark, path, toV, added, schemaAt(spark, path, toV))
  }

  /** TYPED change-data-feed (Delta's `_change_type` CDF): the row-level
    * changes in `(fromV, toV]`, each tagged `insert` / `delete` /
    * `update_preimage` / `update_postimage` plus the `_commit_version`
    * it happened in — so a consumer spanning a rewrite never key-diffs
    * by hand. Derivation is per version step, O(files changed at that
    * step), with the PRIMARY stat column as the row key (the same key
    * [[merge]] replaces on):
    *
    *   - an append step's added files are pure `insert`s;
    *   - a rewrite step key-diffs the removed files' rows against the
    *     added files' rows: keys only in the old side are `delete`s,
    *     keys only in the new side are `insert`s, keys on both sides
    *     whose rows differ emit an `update_preimage`/`update_postimage`
    *     pair — and identically-rewritten rows (a pure [[compact]])
    *     emit NOTHING;
    *   - a deletion-vector step emits `delete`s for the newly-masked
    *     rows.
    *
    * Columns follow `toV`'s schema (earlier steps null-fill evolved
    * columns, exactly as their version reads).
    */
  def changesTyped(spark: SparkSession, path: String, fromV: Int,
                   toV: Int): DataFrame = {
    require(0 <= fromV && fromV < toV,
      s"need 0 <= fromV < toV, got $fromV, $toV")
    // a REPLACE inside the window would diff files of DIFFERENT
    // incarnations under one schema (old files may not even read under
    // the new shape) — refuse loudly; consumers restart their feed from
    // the new incarnation, exactly like the streaming source does
    val incv = markerOf(spark, path, toV).incv
    require(incv <= math.max(fromV, 1),
      s"the window ($fromV, $toV] crosses a REPLACE at v$incv of $path; " +
        "typed CDF does not span incarnations — restart the feed from " +
        s"v$incv")
    val key = statColsAt(spark, path, toV)._1
    val outSchema = schemaAt(spark, path, toV)
    val outCols = outSchema.fields.toSeq
    def shape(df: DataFrame, typ: String, v: Int): DataFrame =
      df.select(outCols.map(f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
        .withColumn("_change_type", lit(typ))
        .withColumn("_commit_version", lit(v))
    val steps = (fromV + 1 to toV).flatMap { v =>
      val prevMan =
        if (v == 1) Seq.empty[FileStat]
        else manifest(spark, path, Some(v - 1))
      val prevFiles = prevMan.map(_.file).toSet
      val curMan = manifest(spark, path, Some(v))
      val curFiles = curMan.map(_.file)
      val curFileSet = curFiles.toSet
      val added = curFiles.filterNot(prevFiles)
      val removed = (prevFiles -- curFiles).toSeq
      val schema = schemaAt(spark, path, v)
      val rowDiff: Seq[DataFrame] =
        if (removed.isEmpty && added.isEmpty) Nil
        else if (removed.isEmpty)
          Seq(shape(readMasked(spark, path, v, added, schema), "insert", v))
        else {
          // a rewrite: key-diff old against new (both through their
          // version's mask), in ONE tagged-union pass. The r13 shape
          // (anti/semi joins against distinct key sets + two exceptAll
          // multiset diffs) read each side three times and planned ~4
          // exchanges per step; this computes the identical relation
          // from per-distinct-row (old count, new count) pairs plus
          // per-key totals:
          //   - key only in old (new total 0)  → every old row a DELETE
          //     at its multiplicity (= anti join);
          //   - key only in new                → INSERTs (= anti join);
          //   - key on both sides              → per-row count surplus:
          //     old−new > 0 emits update_preimage that many times,
          //     new−old > 0 update_postimage (= exceptAll both ways —
          //     identically-rewritten rows cancel, the compact case);
          //   - NULL keys never match in a join, so they are classed
          //     one-sided: old rows delete, new rows insert, NO
          //     cancellation — exactly what the anti joins did.
          // Grouping normalizes NaN/-0.0 the same way exceptAll's
          // internal aggregation did, so float columns class alike.
          val oldRows = readMasked(spark, path, v - 1, removed, schema)
          val newRows = readMasked(spark, path, v, added, schema)
          val dataCols = schema.fields.toSeq.map(f => col(f.name))
          val tagged = oldRows
            .select(dataCols :+ lit(1L).as("__gcdf_o") :+ lit(0L).as("__gcdf_n"): _*)
            .unionByName(newRows
              .select(dataCols :+ lit(0L).as("__gcdf_o") :+ lit(1L).as("__gcdf_n"): _*))
          // distinct-row counts feed BOTH the key totals and the final
          // classification join — lazy checkpoint so the union+aggregate
          // runs once. The key-total side is bounded by the DISTINCT KEYS
          // TOUCHED BY THIS STEP, which is unbounded in general (a
          // full-table MERGE or compact rewrites every file), so the
          // broadcast hint is gated on the step's manifest row counts —
          // keyTot rows ≤ old+new rows of the step's files, known
          // driver-side with zero extra jobs. Under the bound the hint
          // compensates for the checkpoint's missing size statistics;
          // above it the join is left to the planner/AQE, which degrades
          // gracefully to a keyed shuffle where a forced broadcast of a
          // billion-key step would OOM.
          val byRow = tagged.groupBy(dataCols: _*)
            .agg(sum("__gcdf_o").as("__gcdf_co"), sum("__gcdf_n").as("__gcdf_cn"))
            .localCheckpoint(false)
          val keyTot0 = byRow.where(col(key).isNotNull).groupBy(col(key))
            .agg(sum("__gcdf_co").as("__gcdf_to"), sum("__gcdf_cn").as("__gcdf_tn"))
          val stepRows =
            prevMan.iterator.filterNot(s => curFileSet(s.file)).map(_.rows).sum +
              curMan.iterator.filterNot(s => prevFiles(s.file)).map(_.rows).sum
          val keyTot =
            if (stepRows <= CdfBroadcastKeyRowBound) broadcast(keyTot0) else keyTot0
          val shared = col(key).isNotNull &&
            coalesce(col("__gcdf_to"), lit(0L)) > 0 &&
            coalesce(col("__gcdf_tn"), lit(0L)) > 0
          val emit = byRow.join(keyTot, Seq(key), "left")
            .select(dataCols :+ explode(filter(array(
              struct(lit("delete").as("t"),
                when(shared, lit(0L)).otherwise(col("__gcdf_co")).as("n")),
              struct(lit("insert").as("t"),
                when(shared, lit(0L)).otherwise(col("__gcdf_cn")).as("n")),
              struct(lit("update_preimage").as("t"),
                when(shared, greatest(col("__gcdf_co") - col("__gcdf_cn"), lit(0L)))
                  .otherwise(lit(0L)).as("n")),
              struct(lit("update_postimage").as("t"),
                when(shared, greatest(col("__gcdf_cn") - col("__gcdf_co"), lit(0L)))
                  .otherwise(lit(0L)).as("n"))),
              s => s.getField("n") > 0)).as("__gcdf_e"): _*)
            .select(dataCols :+ col("__gcdf_e").getField("t").as("__gcdf_t") :+
              explode(sequence(lit(1L), col("__gcdf_e").getField("n"))).as("__gcdf_i"): _*)
          // shape() inlined: the change type is per-ROW here, not a
          // branch constant
          val shaped = emit.select(outCols.map(f =>
              if (schema.fieldNames.contains(f.name)) col(f.name)
              else lit(null).cast(f.dataType).as(f.name)) :+
              col("__gcdf_t"): _*)
            .withColumn("_change_type", col("__gcdf_t")).drop("__gcdf_t")
            .withColumn("_commit_version", lit(v))
          Seq(shaped)
        }
      // deletion-vector step: newly-masked ordinals of SURVIVING files
      val dvPrev = if (v == 1) Map.empty[String, Array[Long]]
        else dvOf(spark, path, v - 1)
      val dvCur = dvOf(spark, path, v)
      val newlyMasked = dvCur.iterator
        .filter { case (f, _) => prevFiles(f) && curFileSet(f) }
        .map { case (f, ords) =>
          f -> (ords.toSet -- dvPrev.getOrElse(f, Array.empty[Long])).toSeq
        }.filter(_._2.nonEmpty).toSeq
      val dvDels: Seq[DataFrame] =
        if (newlyMasked.isEmpty) Nil
        else {
          val maskRows = newlyMasked.flatMap { case (f, ords) =>
            val nf = normUriPath(f); ords.map(o => (nf, o))
          }
          val mask = spark.createDataFrame(maskRows).toDF("_dvf", "_dvo")
          val hit = spark.read.schema(schema)
            .parquet(newlyMasked.map(_._1): _*)
            .withColumn("__graft_dv_f",
              regexp_replace(col("_metadata.file_path"), schemeRe, ""))
            .withColumn("__graft_dv_o", col("_metadata.row_index"))
            .join(broadcast(mask),
              col("__graft_dv_f") === col("_dvf") && col("__graft_dv_o") === col("_dvo"))
            .drop("__graft_dv_f", "__graft_dv_o", "_dvf", "_dvo")
          Seq(shape(hit, "delete", v))
        }
      rowDiff ++ dvDels
    }
    val empty = shape(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema),
      "insert", 0).limit(0)
    steps.foldLeft(empty)(_ unionByName _)
  }

  /** VACUUM — the maintenance job that reclaims storage (Delta's VACUUM
    * + version expiry in one): keep the newest `keepVersions` committed
    * versions readable, drop older versions' staged metadata, and
    * DELETE every data file no retained manifest references — which
    * also sweeps the orphans that crashed commits and lost optimistic
    * races leave behind, AND the previous incarnation's files once a
    * REPLACE's older versions expire (writer-unique dirs and staged
    * files make those unreferenced by construction). Commit markers
    * stay (one-line files — keeping them preserves the version
    * numbering, the incarnation chain, and the txn replay map); time
    * travel below the retention horizon errors on the missing staged
    * manifest. The one staged SCHEMA the oldest retained version
    * inherits survives (schemaAt walks downward). Run WITHOUT
    * concurrent writers (an in-flight commit's data files are
    * unreferenced until its marker lands — the same retention caveat
    * Delta documents). Returns (expired versions, deleted files).
    * Driver-side metadata walk; one FS delete per orphan.
    */
  def vacuum(spark: SparkSession, path: String,
             keepVersions: Int = 2): (Int, Int) = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    lockFor(path).synchronized {
      val committed = committedVersions(spark, path)
      val cur = committed.max
      // retained = the newest keepVersions versions whose manifests are
      // still present (a previous vacuum with a smaller retention may
      // already have expired some — they stay expired)
      val readable = committed.filter(v =>
        exists(spark, s"$path/${markerOf(spark, path, v).manifest}"))
      val retained = readable.filter(_ > cur - keepVersions)
      val expired = readable.filterNot(retained.contains)
      val live = retained.flatMap(v => manifest(spark, path, Some(v)))
        .map(s => new org.apache.hadoop.fs.Path(s.file).toUri.getPath)
        .toSet
      // staged files to KEEP: everything a retained marker references,
      // plus the newest staged schema at-or-below the oldest retained
      // version (the shape that version inherits)
      val markers = committed.map(v => v -> markerOf(spark, path, v)).toMap
      val schemaCarrier = committed
        .filter(v => v <= retained.min && markers(v).schema.isDefined &&
          exists(spark, s"$path/${markers(v).schema.get}"))
        .maxOption
      val keepStaged: Set[String] =
        (retained.flatMap { v =>
          val mk = markers(v)
          Seq(mk.manifest) ++ mk.schema ++ mk.bloom ++ mk.dv
        } ++ schemaCarrier.flatMap(v => markers(v).schema)).toSet
          .map((s: String) => new org.apache.hadoop.fs.Path(s"$path/$s")
            .toUri.getPath)
      val fsys = fs(spark, path)
      var dropped = 0
      val stagedDir = new org.apache.hadoop.fs.Path(path + "/_staged")
      if (fsys.exists(stagedDir))
        fsys.listStatus(stagedDir).foreach { st =>
          if (!keepStaged(st.getPath.toUri.getPath)) {
            fsys.delete(st.getPath, false); dropped += 1
          }
        }
      // orphan sweep: every file under the data dirs that no retained
      // manifest references
      fsys.globStatus(new org.apache.hadoop.fs.Path(path + "/d*/*"))
        .foreach { st =>
          if (st.isFile && !live(st.getPath.toUri.getPath)) {
            fsys.delete(st.getPath, false); dropped += 1
          }
        }
      // sweep now-empty data dirs
      fsys.globStatus(new org.apache.hadoop.fs.Path(path + "/d*"))
        .foreach { st =>
          if (st.isDirectory && fsys.listStatus(st.getPath).isEmpty)
            fsys.delete(st.getPath, false)
        }
      (expired.size, dropped)
    }
  }

  /** The version log — one row per committed, still-retained version
    * with its file and LIVE row totals (deletion-vector masks
    * subtracted): the table-format inspection surface (what `DESCRIBE
    * HISTORY` shows on Delta); versions expired by [[vacuum]] drop out.
    * Driver-side and version-count-sized.
    */
  def history(spark: SparkSession, path: String): Seq[(Int, Int, Long)] =
    committedVersions(spark, path)
      .filter(v => exists(spark, s"$path/${markerOf(spark, path, v).manifest}"))
      .map { v =>
        val m = manifest(spark, path, Some(v))
        val masked = dvOf(spark, path, v).values.map(_.length.toLong).sum
        (v, m.size, m.map(_.rows).sum - masked)
      }

  /** The manifest rows of `version` (default: current); empty when that
    * version holds no data files. Resolved through the version's commit
    * marker — committed metadata is immutable by construction.
    */
  def manifest(spark: SparkSession, path: String,
               version: Option[Int] = None): Seq[FileStat] = {
    val v = version.getOrElse(currentVersion(spark, path))
    readText(spark, s"$path/${markerOf(spark, path, v).manifest}")
      .split("\n").toSeq
      .filter(_.nonEmpty).map { line =>
        val parts = line.split("\t")
        val extra = parts.drop(4).toSeq.map {
          case "-" => None
          case s =>
            val Array(a, b) = s.split(":")
            Some((a.toLong, b.toLong))
        }
        FileStat(parts(0), parts(1).toLong, parts(2).toLong,
          parts(3).toLong, extra)
      }
  }

  /** The data files a `[lo, hi]` probe of the PRIMARY stat column must
    * read.
    */
  def selectFiles(spark: SparkSession, path: String, lo: Long, hi: Long,
                  version: Option[Int] = None): Seq[String] =
    manifest(spark, path, version)
      .filter(s => s.max >= lo && s.min <= hi).map(_.file)

  /** The data files a `[lo, hi]` probe of registered stat column
    * `colName` (primary or secondary) must read. Files with no non-null
    * values in a secondary column prune away (null never matches a
    * range). A column that is NEITHER the primary nor a registered
    * secondary throws — pruning with the wrong column's bands would
    * silently drop rows.
    */
  def selectFilesBy(spark: SparkSession, path: String, colName: String,
                    lo: Long, hi: Long,
                    version: Option[Int] = None): Seq[String] = {
    val v = version.getOrElse(currentVersion(spark, path))
    val (primary, cols2) = statColsAt(spark, path, v)
    val i = cols2.indexOf(colName)
    if (colName == primary) selectFiles(spark, path, lo, hi, Some(v))
    else if (i < 0)
      throw new IllegalArgumentException(
        s"'$colName' is not a registered stat column of $path " +
          s"(primary: $primary; secondaries: ${cols2.mkString(", ")})")
    else manifest(spark, path, Some(v)).filter(s =>
      s.extra.lift(i).flatten.exists { case (mn, mx) =>
        mx >= lo && mn <= hi
      }).map(_.file)
  }

  /** The current (highest committed) version of the table. */
  def current(spark: SparkSession, path: String): Int =
    currentVersion(spark, path)

  // ---- DSv2 write-path hooks (package graft) ----------------------------
  // The connector's writers compute per-file stats INLINE while writing
  // (no post-write stats pass at all); these commit the assembled delta
  // through the same optimistic protocol as every other commit.

  private[graft] def dataDirFor(spark: SparkSession, path: String): String =
    newDataDir(spark, path)

  private[graft] def commitExternal(spark: SparkSession, path: String,
                                    delta: Seq[FileStat],
                                    bloom: Seq[(String, String)],
                                    truncate: Boolean): Int =
    if (!truncate)
      commitLoop(spark, path, Commit(delta, Additive,
        basedOn = currentVersion(spark, path), bloom = bloom))
    else {
      // REPLACE with externally-written data: the new files already
      // exist under ONE writer dir; registered stat/bloom columns and
      // the schema carry over from the replaced incarnation (the
      // replacing writer computed its inline stats against them). Same
      // additive replace as write(): old versions stay readable until
      // vacuum.
      val head = currentVersion(spark, path)
      commitLoop(spark, path, Commit(delta, ReplaceK, basedOn = head,
        bloom = bloom,
        replaceMeta = Some((schemaAt(spark, path, head),
          statColsAt(spark, path, head),
          bloomConfAt(spark, path, head)))))
    }

  /** The SQL row-level-operation commit (general DELETE / UPDATE /
    * MERGE INTO): the externally-written files REPLACE the whole
    * manifest at `basedOn` — optimistic-abort if anything committed
    * concurrently, exactly like [[merge]]/[[compact]].
    */
  private[graft] def commitExternalRewrite(spark: SparkSession,
                                           path: String,
                                           delta: Seq[FileStat],
                                           bloom: Seq[(String, String)],
                                           basedOn: Int): Int =
    commitLoop(spark, path,
      Commit(delta, RewriteK, basedOn = basedOn, bloom = bloom))

  /** The NATIVE streaming-sink commit (`writeStream.format(...)`): one
    * micro-batch's externally-written files land as one additive
    * version, with the txn-map replay check keyed on the stream's query
    * id — a crash-redelivered epoch is a no-op, same contract as
    * [[appendBatch]].
    */
  private[graft] def commitExternalBatch(spark: SparkSession, path: String,
                                         delta: Seq[FileStat],
                                         bloom: Seq[(String, String)],
                                         batchId: Long,
                                         writerId: String): Unit = {
    val head = currentVersion(spark, path)
    if (markerOf(spark, path, head).txn.get(writerId).exists(_ >= batchId))
      return // replay of an already-committed epoch
    commitLoop(spark, path,
      Commit(delta, Additive, basedOn = head, batchId = Some(batchId),
        writerId = Some(writerId), bloom = bloom))
  }

  private[graft] def bloomConfExternal(spark: SparkSession, path: String)
      : Option[(String, Int, Int)] =
    bloomConfAt(spark, path, currentVersion(spark, path))

  /** A stable identity for THIS incarnation of the table: the
    * incarnation-start marker's staged manifest name (it carries the
    * creating writer's unique token; every REPLACE starts a new
    * incarnation). Streaming offsets embed it so a checkpointed stream
    * detects an overwrite instead of silently misreading the new
    * incarnation's windows against the old ones.
    */
  private[graft] def tableEpoch(spark: SparkSession, path: String): String =
    incStartMarker(spark, path, currentVersion(spark, path)).manifest

  /** The registered stat columns: `(primary, secondaries)` — what
    * [[selectFilesBy]] can prune with.
    */
  def registeredStatCols(spark: SparkSession, path: String)
      : (String, Seq[String]) =
    statColsAt(spark, path, currentVersion(spark, path))

  /** The registered bloom column, if any — what [[selectFilesEq]] can
    * prune with.
    */
  def bloomColumn(spark: SparkSession, path: String): Option[String] =
    bloomConfAt(spark, path, currentVersion(spark, path)).map(_._1)

  /** The data files a CONJUNCTION of probes must read: range bounds per
    * registered stat column (intersected) and equality values on the
    * bloom column (intersected) — the pruning entry point the DSv2
    * connector drives from pushed-down filters. Unregistered columns
    * must not appear (callers route those to the residual filter).
    */
  def selectFilesConj(spark: SparkSession, path: String,
                      ranges: Map[String, (Long, Long)],
                      bloomEq: Seq[String],
                      version: Option[Int] = None): Seq[String] = {
    // ONE metadata pass: the manifest, stat-column registry, and (when
    // probed) bloom sidecar each read once, then every predicate filters
    // the in-memory FileStat rows — this sits on the scan-BUILD path of
    // every DSv2 query, where per-predicate FS round-trips would be
    // sequential object-store GETs of planning latency.
    val v = version.getOrElse(currentVersion(spark, path))
    val (primary, cols2) = statColsAt(spark, path, v)
    val m = manifest(spark, path, Some(v))
    val bconf = if (bloomEq.isEmpty) None else bloomConfAt(spark, path, v)
    val side =
      if (bconf.isEmpty) Map.empty[String, String]
      else bloomOf(spark, path, v)
    val probes = bconf.map { case (_, mBits, k) =>
      bloomEq.map(value => graft.functions.Bloom.positions(value, mBits, k))
    }.getOrElse(Nil)
    m.filter { s =>
      ranges.forall { case (c, (lo, hi)) =>
        if (c == primary) s.max >= lo && s.min <= hi
        else {
          val i = cols2.indexOf(c)
          require(i >= 0,
            s"'$c' is not a registered stat column of $path")
          s.extra.lift(i).flatten.exists { case (mn, mx) =>
            mx >= lo && mn <= hi
          }
        }
      } && probes.forall { pos =>
        side.get(s.file).forall(b64 => bloomHasAll(b64, pos))
      }
    }.map(_.file)
  }

  private def bloomHasAll(b64: String, pos: Array[Long]): Boolean = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val words = Array.fill(bytes.length / 8)(bb.getLong)
    pos.forall(p => (words((p >>> 6).toInt) & (1L << (p & 63))) != 0L)
  }

  /** The schema `version` was committed under: the newest evolution at
    * or below it (versions without an evolution inherit downward; every
    * incarnation start — v1 or a replace — always carries its schema,
    * so inheritance never crosses a replace).
    */
  def schemaAt(spark: SparkSession, path: String, version: Int): StructType = {
    val withSchema = committedVersions(spark, path)
      .filter(_ <= version).sorted.reverse
      .flatMap(v => markerOf(spark, path, v).schema.map(v -> _))
      .headOption
    val src = withSchema match {
      case Some((_, f)) => s"$path/$f"
      case None => throw new IllegalStateException(
        s"no schema recorded at or below v$version of $path")
    }
    DataType.fromJson(readText(spark, src)).asInstanceOf[StructType]
  }

  /** Range probe of a snapshot version (default: current) on the PRIMARY
    * stat column: manifest-pruned file list + the residual filter. The
    * result is exactly `read(version).where(statCol between lo and hi)`,
    * but Spark only ever lists, opens, and scans the overlapping files.
    */
  def scan(spark: SparkSession, path: String, statCol: String,
           lo: Long, hi: Long, version: Option[Int] = None): DataFrame =
    scanBy(spark, path, statCol, lo, hi, version)

  /** Range probe on ANY registered stat column (primary or secondary) —
    * multi-column zone-map pruning: the same manifest prune and residual
    * filter, driven by that column's per-file bands. Deletion-vector
    * masks apply.
    */
  def scanBy(spark: SparkSession, path: String, colName: String,
             lo: Long, hi: Long, version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, path))
    val schema = schemaAt(spark, path, v)
    val files = selectFilesBy(spark, path, colName, lo, hi, Some(v))
    readMasked(spark, path, v, files, schema)
      .where(col(colName) >= lo && col(colName) <= hi)
  }
}
