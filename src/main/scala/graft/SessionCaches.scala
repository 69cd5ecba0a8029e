package graft

import java.util.concurrent.{CompletableFuture, CompletionException,
  ConcurrentHashMap}

/** The ONE session-memo mechanism: every expensive derived artifact the
  * engine reuses within a session — substrates (MinHash/SimHash, trigram
  * and language scores, LSH bands, kNN edges, scored pairs, perceptual
  * hashes, order pairs), trained BPE merges and k-means codebooks, the
  * q314–q350 protocol gates, and the durable landings — lives in a
  * [[Memo]] keyed on (applicationId, key). The values are mostly
  * localCheckpoint-backed frames bound to one SparkContext's block
  * manager, so the applicationId keeps a new session in the same JVM from
  * handing out stale handles.
  *
  * Memo contract, for every cache:
  *   - exactly once per key per app: concurrent first callers share one
  *     build;
  *   - the build runs outside the map lock: `computeIfAbsent` only
  *     inserts a cheap handle, so a build on one key never blocks another
  *     key, and a build may itself call other memos (the kNN edges build
  *     reads the LSH bands; the MinHash substrate composes three layers).
  *     A build must not re-enter its own key;
  *   - failures are not cached: a throwing build removes its handle and
  *     rethrows (to callers waiting on it too); the next call rebuilds;
  *   - safe to invalidate: [[invalidate]] removes the app's handles,
  *     in-flight ones included, so the next call after it rebuilds; an
  *     in-flight build still hands its value to the callers already
  *     waiting on it. Spark's ContextCleaner reclaims a dropped frame's
  *     checkpoint blocks once nothing references it.
  *
  * A cache exists for the bench replay only by registering under its
  * bench line name ([[memo]]): registration IS invalidator coverage, there
  * is no second list to forget. Several caches may share one name
  * (q00a_sub_minhash holds the shingle, band and candidate layers); each
  * keeps its own map. Durable landings are plain `new Memo` instances,
  * registered under no name — the replay never re-lands them.
  */
object SessionCaches {

  /** One session cache, (applicationId, key) → value, under the contract
    * above. Each map entry is the build's completion handle.
    */
  final class Memo[K, V] {
    private val m = new ConcurrentHashMap[(String, K), CompletableFuture[V]]()

    /** The value for `key` = (applicationId, k), building it once. */
    def getOrElseUpdate(key: (String, K), build: => V): V = {
      val mine = new CompletableFuture[V]()
      val h = m.computeIfAbsent(key, _ => mine)
      if (h eq mine) {
        try {
          val v = build
          mine.complete(v)
          v
        } catch {
          case t: Throwable =>
            m.remove(key, mine)
            mine.completeExceptionally(t)
            throw t
        }
      } else {
        try h.join()
        catch { case e: CompletionException if e.getCause != null =>
          throw e.getCause }
      }
    }

    private[SessionCaches] def drop(app: String): Unit =
      m.keySet().removeIf(_._1 == app)
  }

  private val registry =
    scala.collection.mutable.Map.empty[String, List[Memo[_, _]]]

  /** A new cache registered under bench line (or query) `name`. Called
    * from a module's `val` initializer, so registration happens at
    * class-init — strictly before any bench replay could need it.
    */
  def memo[K, V](name: String): Memo[K, V] = {
    val c = new Memo[K, V]
    registry.synchronized {
      registry(name) = c :: registry.getOrElse(name, Nil)
    }
    c
  }

  /** Names with at least one registered cache (spec surface). */
  def registered: Set[String] = registry.synchronized(registry.keySet.toSet)

  /** Drop one application's entries from every cache registered under
    * `name`, so the bench replay's retime re-pays the build (safe: every
    * gate builds in fresh [[TempDirs]] per run). Unknown names are a
    * no-op, so the replay may call this for any flagged line.
    */
  def invalidate(name: String, app: String): Unit =
    registry.synchronized(registry.getOrElse(name, Nil)).foreach(_.drop(app))
}
