package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(session, corpus-dir) DataFrame cache with end-of-application
  * eviction.
  *
  * The operator files keep one instance each for their expensive shared
  * intermediates (minhash/simhash signatures, IVF centroids, co-purchase
  * edges, quality manifests, LM scores). A bare TrieMap would retain
  * cached/localCheckpoint'ed DataFrames of stopped sessions forever in
  * long-lived JVMs (test suites, multi-session drivers); every instance
  * therefore registers itself here, and a per-SparkContext listener
  * evicts all of its entries when the application ends. The cached
  * blocks themselves die with the context — eviction drops the
  * references so the maps cannot grow across session generations.
  */
final class SessionCache {
  private val m = TrieMap.empty[(SparkSession, String), DataFrame]

  def getOrElseUpdate(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    SessionCache.hook(this, s)
    m.getOrElseUpdate((s, key), build)
  }

  /** Replace the entry for (s, key), returning the previous DataFrame —
    * for caches whose value is rebuilt per run (q108's JSONL read)
    * rather than memoized; the entry still evicts on application end.
    */
  def put(s: SparkSession, key: String, df: DataFrame): Option[DataFrame] = {
    SessionCache.hook(this, s)
    m.put((s, key), df)
  }

  /** Drop the entry for (s, key), if any. */
  def remove(s: SparkSession, key: String): Unit = m.remove((s, key))

  private[graft] def evictContext(sc: SparkContext): Unit =
    m.keysIterator.filter(_._1.sparkContext eq sc).toList.foreach(m.remove)

  private[graft] def size: Int = m.size
}

object SessionCache {
  private val all =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SessionCache]()
  private val hooked = TrieMap.empty[SparkContext, Unit]

  private def hook(c: SessionCache, s: SparkSession): Unit = {
    all.add(c)
    val sc = s.sparkContext
    if (hooked.putIfAbsent(sc, ()).isEmpty)
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          evictAllFor(sc)
      })
  }

  /** Drop every cache entry belonging to sessions of `sc` (called by the
    * application-end listener; exposed for direct unit testing).
    */
  private[graft] def evictAllFor(sc: SparkContext): Unit = {
    all.forEach(_.evictContext(sc))
    hooked.remove(sc)
  }
}
