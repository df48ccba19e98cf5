package graft.util

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once artifacts: the one place the engine keys memoized work by
  * data dir, session or store pointer. Building an artifact (an index, a
  * pair table, a trained model, an assembled store) is a batch job;
  * serving reads its output many times. Every memo here follows one of
  * three rules. (Caches keyed by a caller's DataFrame identity —
  * [[graft.operators.AdaptiveSearch]]'s validation and count memos,
  * [[graft.VectorStore.searchAfterCached]]'s shortlists — stay with
  * their callers.)
  *
  *  - ON DISK ([[dir]], [[parquet]]): a directory written once per
  *    process into a [[Fs.tempDirDeletedOnExit]] scratch dir, keyed by
  *    (data dir, name) and shared by every session — files hold no
  *    session state. Fixture data dirs are immutable for a process
  *    lifetime, so a path key is sound; a caller that mutates a data dir
  *    in-process must not use these entries.
  *  - IN SESSION ([[inSession]], [[checkpointed]]): anything that holds a
  *    session's objects — checkpoints, DataFrames, store instances,
  *    catalog table names, counts measured through a session — keyed by
  *    (SparkSession, data dir, name), so a new or restarted session
  *    rebuilds and is never served another session's plans or dead
  *    checkpoint blocks. Every in-session access first drops the entries
  *    of stopped sessions ([[sweep]]), so a long-lived multi-session
  *    host does not keep dead sessions' plans and file indexes reachable.
  *  - LATEST STAMP ([[LatestStamp]]): a store's serving memos, keyed by
  *    the stamp of the pointer they follow; a lookup under a new stamp
  *    releases every entry of the older ones.
  *
  * Names share one namespace per rule and data dir, so callers prefix
  * them with their module. Parquet round-trips FLOAT/DOUBLE/INT/BIGINT
  * bit-exactly, so serving from an on-disk artifact returns the values
  * the inline derivation would. Concurrent first calls may build an
  * entry twice; the first stored value wins. */
object Artifacts {

  private val dirs = TrieMap.empty[(String, String), String]
  private val sessionEntries =
    TrieMap.empty[(SparkSession, String, String), Any]

  /** The directory `write` filled once per process for (`d`, `name`). */
  def dir(d: String, name: String)(write: String => Unit): String =
    dirs.getOrElseUpdate((d, name), {
      val p = Fs.tempDirDeletedOnExit(s"graft-$name")
      write(p)
      p
    })

  /** `build` written once per process as parquet, read back per call. */
  def parquet(s: SparkSession, d: String, name: String)
      (build: => DataFrame): DataFrame =
    s.read.parquet(
      dir(d, name)(p => build.write.mode("overwrite").parquet(p)))

  /** `build` evaluated once per (session, `d`, `name`). */
  def inSession[T](s: SparkSession, d: String, name: String)
      (build: => T): T = {
    sweep(_.sparkContext.isStopped)
    sessionEntries.getOrElseUpdate((s, d, name), build).asInstanceOf[T]
  }

  /** `build` materialized once per session as a local checkpoint: for
    * small results (an exact audit tower is Q × k rows) that later calls
    * read back instead of recomputing. A checkpoint's blocks belong to
    * one session, hence the in-session rule. */
  def checkpointed(s: SparkSession, d: String, name: String)
      (build: => DataFrame): DataFrame =
    inSession(s, d, name)(build.localCheckpoint())

  /** Drop every in-session entry whose session `dead` names. */
  private[graft] def sweep(dead: SparkSession => Boolean): Unit =
    sessionEntries.keys.foreach { k =>
      if (dead(k._1)) { sessionEntries.remove(k); () } }

  /** Serving memo that follows one store pointer: entries are keyed by
    * (pointer stamp, tag), and a lookup under a stamp first removes every
    * entry of any other stamp, handing each to `release` (unpersist for
    * persisted relations). A serving process with continuous ingest
    * therefore holds one stamp's entries, not one per version it ever
    * served. */
  final class LatestStamp[V](release: V => Unit) {
    private[graft] val entries = TrieMap.empty[(String, String), V]

    def apply(stamp: String, tag: String)(build: => V): V = {
      entries.keys.foreach { k =>
        if (k._1 != stamp) entries.remove(k).foreach(release) }
      entries.getOrElseUpdate((stamp, tag), build)
    }
  }
}
