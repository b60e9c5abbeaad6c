package graft.operators

import org.apache.spark.sql.SparkSession

/** The session's shared intermediates: mined pairs, kNN views, index
  * codebooks, trained tokenizers and the like, each built once per
  * (session, name, key) and read by every registry report over it. A
  * real pipeline mines, trains or fingerprints once and its reports
  * read that artifact; rebuilding it per report would charge every
  * consumer the build. Keys are `Tables.canonDir(dir)` (plus any
  * parameters that vary), so directory aliases share one entry.
  *
  * Entries are keyed by the SESSION, so a checkpointed DataFrame is only
  * consumed by the session that created it. Entries of stopped contexts
  * are dropped on access: their checkpoint blocks died with the
  * context, and the keys would otherwise pin dead sessions for the JVM
  * lifetime. Each key has its own slot, so concurrent callers of one
  * key wait for a single build while other keys, including ones a build
  * asks for itself, proceed; a build that throws leaves no entry.
  */
object Intermediates {
  private final class Slot[V](build: => V) { lazy val value: V = build }

  private val slots =
    scala.collection.concurrent.TrieMap[(SparkSession, String, Any), Slot[_]]()

  def getOrBuild[V](spark: SparkSession, name: String, key: Any)(build: => V): V = {
    slots.keys.foreach { k =>
      if (k._1.sparkContext.isStopped) slots.remove(k): Unit
    }
    val k = (spark, name, key)
    val slot = slots.getOrElseUpdate(k, new Slot(build)).asInstanceOf[Slot[V]]
    try slot.value
    catch {
      case e: Throwable =>
        slots.remove(k, slot)
        throw e
    }
  }
}
