package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** A build-once-query-many cache keyed by (session, dir): the engine's
  * usage model (the reference holds one in-memory cube object that
  * answers many calls), shared by the cube, the shingle index, the
  * near-dup pair set and the curation chain.
  *
  * Each key is built at most once, however many threads ask for it
  * concurrently. Every instance owns its own maps: one memo's build may
  * call another memo (the pair set reads the shingle index), and a nested
  * `computeIfAbsent` on one shared map throws "Recursive update".
  *
  * Entries must not pin cached plans for the JVM lifetime when sessions
  * cycle, so a context's entries are dropped when its application ends.
  * The listener that does so is registered once per context, and only
  * after a build for that context succeeds: a throwing build leaves
  * neither an entry nor a listener behind, and a retry builds again. */
final class SessionMemo[V](name: String, build: (SparkSession, String) => V,
                           release: V => Unit) {

  private val entries = new ConcurrentHashMap[(SparkSession, String), V]()
  private val contexts = new ConcurrentHashMap[SparkContext, SparkListener]()

  def apply(spark: SparkSession, dir: String): V = {
    val key = (spark, dir)
    val v = entries.computeIfAbsent(key, _ => {
      val built = build(spark, dir)
      evictOnEnd(spark.sparkContext)
      built
    })
    // The application may have ended during the build, before the entry
    // was inserted, so the listener had nothing to drop. Fail rather than
    // hand back frames bound to a stopped context: they would throw on
    // first use downstream with a far less explicit error.
    if (spark.sparkContext.isStopped) {
      entries.remove(key)
      throw new IllegalStateException(
        s"$name: SparkContext stopped during build")
    }
    v
  }

  /** Drop the entry, release what it holds (unpersist), and forget the
    * broadcast size estimates taken while it was persisted: they are
    * stale once the working set's persistence changes. */
  def invalidate(spark: SparkSession, dir: String): Unit =
    Option(entries.remove((spark, dir))).foreach { v =>
      release(v)
      graft.model.Joins.invalidateEstimates()
    }

  private[graft] def cached(spark: SparkSession, dir: String): Boolean =
    entries.containsKey((spark, dir))

  private[graft] def hooked(sc: SparkContext): Boolean =
    contexts.containsKey(sc)

  // computeIfAbsent: a second build on the same context waits until the
  // first has registered, so no entry is inserted before its context's
  // listener is on the bus.
  private def evictOnEnd(sc: SparkContext): Unit =
    contexts.computeIfAbsent(sc, c => {
      val l = new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          contexts.remove(c)
          entries.keySet.removeIf(_._1.sparkContext eq c): Unit
        }
      }
      c.addSparkListener(l)
      l
    }): Unit
}
