package graft.queries

import org.apache.spark.sql.{GraftInternals, SparkSession}

/** The one way the engine changes session state: conf, temp views and
  * functions land on a session derived from the caller's, so the
  * caller's session is left as it was and threads sharing it never see
  * each other's views or settings.
  */
object SessionScope {

  // derived session -> the caller session it descends from (weak keys)
  private val roots = new java.util.WeakHashMap[SparkSession, SparkSession]

  /** Clone `s`, set `kvs` on the clone and run `body` on it. Frames
    * built in `body` stay bound to the clone and run under its conf.
    */
  def withConf[A](s: SparkSession, kvs: (String, String)*)(body: SparkSession => A): A = {
    val d = GraftInternals.derive(s)
    kvs.foreach { case (k, v) => d.conf.set(k, v) }
    roots.synchronized(roots.put(d, root(s)))
    body(d)
  }

  /** The caller session `s` was derived from, or `s` itself. */
  def root(s: SparkSession): SparkSession =
    roots.synchronized(Option(roots.get(s)).getOrElse(s))
}
