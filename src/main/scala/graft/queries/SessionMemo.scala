package graft.queries

import org.apache.spark.SparkFiles
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one compute-once cache for per-corpus artifacts reused within a
  * session: pair graphs, ANN models and indexes, BPE merges, the media
  * frame, and every derived layout a query builder stages on disk. An
  * entry is keyed by (session, dir, key) and stamped with the corpus
  * fingerprint [[Queries.stageTag]]; a call that finds a different
  * fingerprint (the corpus was rewritten under the same dir) replaces
  * the entry, so a stale artifact is neither served nor left pinned
  * beside the fresh one. `key` names the artifact and its parameters
  * and must be unique across call sites.
  *
  * The session is the caller's: a session derived by
  * [[SessionScope.withConf]] resolves to the session it was derived
  * from, so every registry entry run for one caller shares its memo,
  * while a `newSession()` starts empty.
  *
  * Staging rule: every directory a builder writes once per corpus (a
  * derived layout, a foreign-format fixture, an ANN index) comes from
  * [[path]]. It lives under Spark's per-application file root, which
  * the driver deletes when the SparkContext stops, so no run serves a
  * layout an earlier run (or older code) wrote; it belongs to one
  * holder, so two root sessions never share it; and catalog tables over
  * it are named after it. The exceptions are the two fixtures DuckDB
  * reads after the JVM exits (`QueriesScalar.stageCorruptCsv`,
  * `QueriesScalar.schemaEvolutionDirs`): they keep fixed
  * corpus-tag-keyed paths and are staged once per session by [[apply]].
  *
  * Lifecycle and locking rules:
  *  - sessions are WEAK keys: when a session is dropped, its entries
  *    (and the checkpoint blocks they pin) become collectible;
  *  - a value must never reach its session, or the weak key stays
  *    reachable forever. A DataFrame's QueryExecution references its
  *    SparkSession, so frames are stored as a materialized
  *    (schema, RDD[Row]) — an RDD references only the SparkContext —
  *    and re-wrapped per call ([[frame]]);
  *  - the builder closure captures the session, so the holder drops it
  *    after the first evaluation;
  *  - the global lock is held only long enough to install the holder;
  *    the (possibly multi-minute) build runs under the holder's own
  *    lock, so only callers of the same key wait.
  */
private[graft] object SessionMemo {

  private final class Holder(val tag: String, b: () => Any) {
    private[this] var build: () => Any = b
    lazy val get: Any = { val r = build(); build = null; r }
  }

  private val entries = new scala.collection.mutable.WeakHashMap[SparkSession,
    scala.collection.mutable.Map[(String, String), Holder]]

  private def holder(s: SparkSession, dir: String, key: String,
      build: String => Any): Holder = {
    val tag = Queries.stageTag(dir) // file listing: outside the lock
    entries.synchronized {
      val m = entries.getOrElseUpdate(SessionScope.root(s), scala.collection.mutable.Map.empty)
      m.get((dir, key)).filter(_.tag == tag).getOrElse {
        val h = new Holder(tag, () => build(tag))
        m((dir, key)) = h
        h
      }
    }
  }

  /** The value built once per (session, corpus fingerprint, key). */
  def apply[T](s: SparkSession, dir: String, key: String)(build: => T): T =
    holder(s, dir, key, _ => build).get.asInstanceOf[T]

  /** A frame materialized once per (session, corpus fingerprint, key)
    * by an eager localCheckpoint (not cache: checkpoint blocks are
    * released by the ContextCleaner once the entry is dropped).
    */
  def frame(s: SparkSession, dir: String, key: String)(build: => DataFrame): DataFrame = {
    val (schema, rdd) = apply(s, dir, key) {
      val df = build
      val r = df.rdd.localCheckpoint()
      r.count()
      (df.schema, r)
    }
    s.createDataFrame(rdd, schema)
  }

  private val paths = new java.util.concurrent.atomic.AtomicLong

  /** A directory written once per (session, corpus fingerprint, key):
    * `write` receives a path that does not exist yet, unique to this
    * holder, under the application's staging root (see the staging
    * rule above); `key` must carry every parameter the artifact
    * depends on. A failed write is retried by the next caller on a
    * fresh path.
    */
  def path(s: SparkSession, dir: String, key: String)(write: String => Unit): String =
    holder(s, dir, key, tag => {
      val p = scratch(s"${key}_$tag")
      write(p)
      p
    }).get.asInstanceOf[String]

  /** A path no other call returns, under the application's staging
    * root: scratch for one call, such as a stream's checkpoint.
    */
  def scratch(name: String): String =
    new java.io.File(SparkFiles.getRootDirectory(),
      s"graft_${name}_${paths.incrementAndGet()}").getAbsolutePath
}
