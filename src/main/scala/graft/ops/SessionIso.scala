package graft.ops

import org.apache.spark.sql.SparkSession

/** One cached ISOLATED child session per caller session, for loops
  * that need their own SQL conf (shuffle sizing, codegen knobs)
  * without racing the caller's concurrent queries — the machinery the
  * CC loop built in r19 (`newSession()` shares the SparkContext and
  * cached blocks but owns its conf), extracted in r20 so the chained
  * k-means trainer can use the same pattern. A fresh `newSession()`
  * per call re-pays first-analysis session-state warmup (~0.3–0.5 s
  * measured, NOTES_r19 #5), hence the cache; WeakHashMap so a discarded
  * caller session releases its child.
  *
  * Conf contract (r20 ADVICE): each use copies the caller's CURRENT
  * runtime conf onto the child and UNDOES whatever a previous use
  * applied that the caller no longer carries — tracked per child as
  * the union of copied and override keys — so neither a stale caller
  * key nor a previous caller's override can leak into this call's
  * plans. Immutable/static keys throw on set/unset and are skipped.
  * Round20Spec pins both directions through [[childConf]].
  *
  * The caller's engine listeners ride along the same way: each use
  * makes the child's query bus carry exactly the caller's
  * [[graft.Metrics.install]]ed listeners, so `/metrics` counts the
  * child's actions (`newSession()` starts with an empty listener
  * manager).
  *
  * The child's monitor is held for the whole `f`, so concurrent users
  * of one parent session serialize their loop phases — a far narrower
  * window than conf-mutating the shared session, and the cost is
  * measured (NOTES_r20 "Concurrent CC").
  */
private[graft] object SessionIso {

  private val children =
    new java.util.WeakHashMap[SparkSession, SparkSession]()
  /** Keys the last copy touched on each child (copied ∪ overridden) —
    * consulted so keys absent from the current parent snapshot are
    * unset instead of silently surviving on the reused child. Weak on
    * the child, same lifecycle as [[children]]. */
  private val touched =
    new java.util.WeakHashMap[SparkSession, Set[String]]()

  private def childFor(sess: SparkSession): SparkSession =
    children.synchronized {
      val cached = children.get(sess)
      if (cached != null) cached
      else { val c = sess.newSession(); children.put(sess, c); c }
    }

  /** Run `f` on the caller's cached child session under `overrides`,
    * with the caller's runtime conf copied over first (copy-and-undo
    * semantics above). Holds the child's monitor for the duration.
    */
  def withChild[A](sess: SparkSession, overrides: Map[String, String])
                  (f: SparkSession => A): A = {
    val child = childFor(sess)
    child.synchronized {
      val snapshot = sess.conf.getAll
      val prev = touched.synchronized {
        Option(touched.get(child)).getOrElse(Set.empty[String])
      }
      (prev -- snapshot.keySet -- overrides.keySet).foreach { k =>
        try child.conf.unset(k) catch { case _: Throwable => () }
      }
      snapshot.foreach { case (k, v) =>
        try child.conf.set(k, v) catch { case _: Throwable => () } }
      overrides.foreach { case (k, v) =>
        try child.conf.set(k, v) catch { case _: Throwable => () } }
      touched.synchronized {
        touched.put(child, snapshot.keySet ++ overrides.keySet): Unit
      }
      graft.Metrics.inherit(sess, child)
      f(child)
    }
  }

  /** TEST PROBE: the value the cached child carries SET for `key`
    * (None if no child yet or the key is unset; a registered key's
    * default does not count) — lets specs assert the copy-and-undo
    * contract without exposing the child. */
  private[graft] def childConf(sess: SparkSession,
                               key: String): Option[String] =
    children.synchronized {
      Option(children.get(sess)).flatMap(_.conf.getAll.get(key))
    }
}
