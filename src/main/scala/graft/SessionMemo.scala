package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** A memo whose entries each belong to one Spark session.
  *
  * Keyed on the session object itself, never on its identity hash: those
  * are not unique, so a later session could hit an earlier one's entries
  * (frames whose cut blocks may already be gone). Every insert first drops
  * the entries of sessions whose `SparkContext` has stopped, so a JVM that
  * starts several sessions (a test run) does not keep the stopped ones.
  */
private[graft] final class SessionMemo[K, V] {
  private val entries = TrieMap.empty[(SparkSession, K), V]

  def get(s: SparkSession, k: K): Option[V] = entries.get((s, k))

  def put(s: SparkSession, k: K, v: V): Unit = {
    dropStopped()
    entries.put((s, k), v)
  }

  def getOrElseUpdate(s: SparkSession, k: K)(v: => V): V =
    get(s, k).getOrElse {
      dropStopped()
      entries.getOrElseUpdate((s, k), v)
    }

  private def dropStopped(): Unit =
    entries.keysIterator.foreach { key =>
      if (key._1.sparkContext.isStopped) entries.remove(key)
    }
}
