package graft.core

import java.util.concurrent.ConcurrentHashMap

/** The per-JVM build-once/serve-many memo every artifact builder shares
  * (p7/p11 models, d11 index, p12 centroids, s9 quantizers and index,
  * s14 store). An entry is keyed by (scope, artifact, sub-key): scope is
  * the fixture dir, or a caller key that starts `"<dir>->"` so it still
  * belongs to that dir; the sub-key separates builds of one artifact
  * (an output path, a cell count).
  *
  * Locking is per entry: a compute holds only its own entry's monitor,
  * so unrelated keys never wait on each other and a compute may call
  * another key's compute (the p11 LM trains on p7's served model). A
  * compute that throws leaves no entry and the next call recomputes.
  */
object ArtifactCache {
  private final case class Key(scope: String, artifact: String, sub: Any)
  private final class Entry { var value: Option[Any] = None }
  private val entries = new ConcurrentHashMap[Key, Entry]()

  /** The memoized value of `compute` for the key; concurrent callers of
    * one key compute it once.
    */
  @annotation.tailrec
  def apply[A](scope: String, artifact: String, sub: Any = ())(
      compute: => A): A = {
    val k = Key(scope, artifact, sub)
    val e = entries.computeIfAbsent(k, _ => new Entry)
    val got = e.synchronized {
      if (e.value.isEmpty && (entries.get(k) eq e)) {
        try e.value = Some(compute)
        catch { case t: Throwable => entries.remove(k, e); throw t }
      }
      e.value
    }
    // None: the entry was dropped (invalidated, or its compute threw)
    // while this caller waited on it; retry against the live map
    got match {
      case Some(v) => v.asInstanceOf[A]
      case None => apply(scope, artifact, sub)(compute)
    }
  }

  /** Drops every entry of `artifact` in `scope` (and in the caller keys
    * `"<scope>->…"`), so the next call rebuilds it. A compute already
    * running finishes for the callers waiting on it.
    */
  def invalidate(scope: String, artifact: String): Unit =
    entries.keySet.removeIf(k => k.artifact == artifact &&
      (k.scope == scope || k.scope.startsWith(scope + "->")))
}
