package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** Values built at most once per (live session, key): the one cache behind
  * the registry's fixtures ([[Fixture]]), the table readers
  * ([[graft.sources.Tables]]) and the skip indexes' per-generation state
  * ([[graft.model.SidecarIndex]]).
  *
  *  - Entries are keyed by session OBJECT IDENTITY: DataFrames and indexes
  *    are bound to the session that built them, so a later session (or a
  *    `newSession()` child) never sees another session's value.
  *  - The first caller of a key builds under that key's own monitor; the
  *    other callers wait and reuse its value. The lock is reentrant and per
  *    key, so fixtures compose (`rangeIndexed → indexed → logTable`)
  *    without deadlock, and unrelated builds never serialize. This matters
  *    for fixtures that APPEND a sidecar to a shared table dir: two
  *    concurrent builds would double the sidecar's rows. A build that
  *    throws caches nothing; the next call builds again.
  *  - When a session's SparkContext ends, one listener per context releases
  *    every session on it: its entries are dropped and `onRelease` runs on
  *    each dropped value (the fixtures' temp roots are deleted this way).
  *    One JVM shutdown hook releases whatever is left.
  */
final class SessionCache[K, V](onRelease: V => Unit = (_: V) => ()) {
  import SessionCache.Cell

  private val cells = TrieMap.empty[(SparkSession, K), Cell[V]]
  SessionCache.caches.add(this)

  def apply(s: SparkSession, key: K)(build: => V): V = {
    SessionCache.watch(s.sparkContext)
    val cell = cells.getOrElseUpdate((s, key), new Cell[V])
    cell.value.getOrElse(cell.synchronized {
      cell.value.getOrElse { val v = build; cell.value = Some(v); v }
    })
  }

  /** The value built for (s, key), if there is one. */
  def get(s: SparkSession, key: K): Option[V] =
    cells.get((s, key)).flatMap(_.value)

  /** Drop the entries (of every session) whose key matches; the next call
    * builds again. `release` runs on each dropped value, `onRelease` does
    * not: the caller invalidates because the value is stale, not because
    * its session ended.
    */
  def invalidate(stale: K => Boolean, release: V => Unit = (_: V) => ()): Unit =
    drop({ case (_, k) => stale(k) }, release)

  private def release(owner: SparkSession => Boolean): Unit =
    drop({ case (s, _) => owner(s) }, onRelease)

  private def drop(which: ((SparkSession, K)) => Boolean, release: V => Unit): Unit =
    cells.foreach { case (key, cell) =>
      if (which(key) && cells.remove(key, cell)) cell.value.foreach(release)
    }
}

object SessionCache {
  private final class Cell[V] { @volatile var value: Option[V] = None }

  private val caches = new java.util.concurrent.CopyOnWriteArrayList[SessionCache[_, _]]()

  // contexts that already carry the release listener; weak, so a stopped
  // context is not kept alive by this set
  private val watched = java.util.Collections.newSetFromMap(
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkContext, java.lang.Boolean]()))

  private def watch(sc: SparkContext): Unit =
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
        releaseWhere(_.sparkContext eq sc)
    })

  Runtime.getRuntime.addShutdownHook(new Thread(() => releaseWhere(_ => true)))

  /** Release one session's entries in every cache: what the context-end
    * listener does for each session of the context, callable on its own
    * for a `newSession()` child that ends before its context.
    */
  def release(s: SparkSession): Unit = releaseWhere(_ eq s)

  private def releaseWhere(owner: SparkSession => Boolean): Unit =
    caches.forEach(_.release(owner))
}
