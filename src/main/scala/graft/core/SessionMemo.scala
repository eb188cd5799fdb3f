package graft.core

import org.apache.spark.sql.SparkSession

/** The one place session memos live: build an artifact once per
  * (session, data dir, kind), then probe it many times.
  *
  * The boundary:
  *  - only a value that is a deterministic function of (session, data dir,
  *    kind) may be memoized: a resolved table plan, an index, a trained
  *    model, an on-disk fixture copy;
  *  - a query's result relation is never memoized — every query runs its
  *    own plan against the memoized artifacts;
  *  - entries live for the JVM, bounded by sessions × data dirs × kinds.
  *
  * The session part of the key is the session's UUID, so
  * `spark.newSession()` builds its own artifacts. A build that throws
  * stores nothing; the next call builds again. `kind` names the value's
  * type too: one kind is always built by the same code.
  */
object SessionMemo {
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), Any]

  def apply[T](spark: SparkSession, dir: String, kind: String)(build: => T): T =
    memo.getOrElseUpdate(
      (org.apache.spark.sql.graftbridge.SessionBridge.uuid(spark), dir, kind),
      build).asInstanceOf[T]
}
