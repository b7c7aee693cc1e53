package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The one place that decides when a built artifact may be reused
  * and how long it is kept. An artifact is anything a query would
  * otherwise rebuild on every call from the same input: corpus table
  * handles, the bucketed at-rest layout, BPE tokenizers, reference
  * LM / quality models, IVF seed and Lloyd codebooks, PQ books and SQ
  * ranges. The named `cached*` entry points of those modules are
  * one-line calls into this object; they hide the key layout from
  * their callers.
  *
  * The rule, the same for every entry:
  *  - the key is (session, artifact kind, source, snapshot token,
  *    params). `source` names the input, usually its path. The
  *    snapshot token folds the input files' paths, lengths and mtimes
  *    ([[snapshotToken]] for a frame, [[pathToken]] for paths not yet
  *    read), so an input rewritten in place gets a new key and is
  *    rebuilt instead of served stale. In-memory frames token as
  *    "mem": for them the source alone names the input;
  *  - an entry lives no longer than its session: entries of a stopped
  *    session are dropped at the next access of the cache;
  *  - at most [[MaxEntries]] entries are held, the least recently used
  *    is dropped first. Benches build artifacts over fresh directories
  *    that are never looked up again, so an unbounded map would grow
  *    for the life of the JVM.
  *
  * Dropping an entry only forgets the reference. A running query may
  * still hold the artifact, and a freed local checkpoint cannot be
  * recovered, so nothing is unpersisted on eviction or session stop
  * (Spark's context cleaner frees storage once the artifact is
  * unreachable). Only [[clear]] releases, and only entries built with
  * a release action.
  */
object ArtifactCache {

  /** Entry bound: far above the artifacts one session uses (ten
    * tables plus a few models per corpus), low enough that bench
    * loops over fresh directories cannot grow the driver heap. */
  val MaxEntries = 256

  private final case class Key(
      session: SparkSession, kind: String, source: String, token: String, params: Seq[Any])

  private final class Entry(val value: Any, val release: () => Unit)

  private val entries =
    new java.util.LinkedHashMap[Key, Entry](16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
        this.size() > MaxEntries
    }

  /** The entry for (session, kind, source, token, params), built on a
    * miss. Concurrent misses on one key may both build; each caller
    * gets its own build and the last insert stays cached. */
  def apply[A](spark: SparkSession, kind: String, source: String, token: String,
      params: Any*)(build: => A): A =
    getOrBuild(Key(spark, kind, source, token, params), build, (_: A) => ())

  /** [[apply]] keyed on the frame's own session and [[snapshotToken]].
    * `release` frees what the artifact pins; only [[clear]] calls it. */
  def ofFrame[A](frame: DataFrame, kind: String, source: String, params: Any*)(
      build: => A, release: A => Unit = (_: A) => ()): A =
    getOrBuild(
      Key(frame.sparkSession, kind, source, snapshotToken(frame), params), build, release)

  private def getOrBuild[A](key: Key, build: => A, release: A => Unit): A = {
    val hit = entries.synchronized { purgeStopped(); entries.get(key) }
    if (hit != null) hit.value.asInstanceOf[A]
    else {
      val built = build
      entries.synchronized { entries.put(key, new Entry(built, () => release(built))) }
      built
    }
  }

  private def purgeStopped(): Unit = entries.keySet.removeIf(_.session.sparkContext.isStopped)

  /** Drop every entry and run its release action. For harnesses that
    * time builds (each rep must rebuild); no query may still hold a
    * released artifact. */
  def clear(): Unit = {
    val dropped = entries.synchronized { val all = entries.values.asScala.toList; entries.clear(); all }
    dropped.foreach(_.release())
  }

  /** Live entries, after dropping those of stopped sessions. */
  private[graft] def size: Int = entries.synchronized { purgeStopped(); entries.size }

  /** Snapshot token of a frame's input files, as listed by its plan;
    * "mem" for a frame with no files. */
  def snapshotToken(frame: DataFrame): String = {
    val files = frame.inputFiles
    if (files.isEmpty) "mem" else pathToken(frame.sparkSession, files.toIndexedSeq: _*)
  }

  /** Snapshot token of the files under `paths` (recursive listing), for
    * inputs whose frame is the artifact itself and so cannot be built
    * first. A missing path contributes no files. */
  def pathToken(spark: SparkSession, paths: String*): String = {
    val conf = spark.sessionState.newHadoopConf()
    val files = paths.flatMap { path =>
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      def walk(s: FileStatus): Seq[FileStatus] =
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk) else Seq(s)
      if (fs.exists(p)) walk(fs.getFileStatus(p)) else Nil
    }.sortBy(_.getPath.toString)
    val hash = files.foldLeft(17L) { (acc, st) =>
      ((acc * 31 + st.getPath.toString.hashCode) * 31 + st.getLen) * 31 + st.getModificationTime
    }
    s"${files.length}:${java.lang.Long.toHexString(hash)}"
  }
}
