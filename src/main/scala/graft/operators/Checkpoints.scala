package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Iterative operators (BPE/WordPiece training, label propagation,
  * components, PageRank, BFS rounds) pin each round with an eager
  * `localCheckpoint`, so every round plans against stored blocks
  * instead of the whole lineage. Those blocks belong to the RDD under
  * the checkpoint's `LogicalRDD`, not to the cache manager, so
  * `Dataset.unpersist` leaves them in place and a long-lived driver
  * would keep every round it does not free.
  *
  * [[scoped]] owns that lifetime: a loop takes its pins from the
  * scope, and when the body returns the scope frees every pin the
  * returned plan does not read — a plan reads a pin when its logical
  * tree has a `LogicalRDD` leaf over the pin's RDD (through joins,
  * self-joins and persisted Datasets alike). When the body throws, it
  * frees every pin and rethrows. A pin freed while a plan still reads
  * it fails that plan loudly with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`.
  */
object Checkpoints {

  /** The pins one scope has taken and not yet freed. */
  final class Pins private[Checkpoints] {
    private[Checkpoints] val live = scala.collection.mutable.LinkedHashMap.empty[Int, RDD[_]]

    /** Pins `df` (eager `localCheckpoint`) for the rest of the scope;
      * a Dataset that already is one of this scope's pins is returned
      * as it is.
      */
    def apply(df: DataFrame): DataFrame =
      if (rddOf(df).exists(r => live.contains(r.id))) df
      else {
        val ck = df.localCheckpoint(true)
        rddOf(ck).foreach(r => live(r.id) = r)
        ck
      }

    /** Pins `next`, then frees `old` if it is one of this scope's pins:
      * `next` supersedes it, so a loop keeps at most two rounds live.
      */
    def replace(old: DataFrame, next: DataFrame): DataFrame = {
      val ck = apply(next)
      rddOf(old).filter(r => live.contains(r.id)).foreach(free)
      ck
    }

    private[Checkpoints] def free(r: RDD[_]): Unit = {
      live.remove(r.id)
      r.unpersist(blocking = false): Unit
    }
  }

  /** Runs a loop whose result is one DataFrame; see [[keeping]]. */
  def scoped(body: Pins => DataFrame): DataFrame = keeping(body)(Seq(_))

  /** Runs `body` with a fresh pin set. On return, frees every pin that
    * none of the Datasets `keep` names reads; on a throw, frees all.
    */
  def keeping[A](body: Pins => A)(keep: A => Seq[DataFrame]): A = {
    val pins = new Pins
    val out =
      try body(pins)
      catch { case e: Throwable => pins.live.values.toList.foreach(pins.free); throw e }
    val read = keep(out)
      .flatMap(_.queryExecution.logical.collectWithSubqueries { case lr: LogicalRDD => lr.rdd.id })
      .toSet
    pins.live.values.filterNot(r => read(r.id)).toList.foreach(pins.free)
    out
  }

  /** Frees the blocks behind an eagerly checkpointed Dataset; a no-op
    * for anything else (a Dataset derived from a checkpoint owns no
    * blocks of its own). Call it only once every Dataset that reads
    * `df` has been materialized.
    */
  def release(df: DataFrame): Unit = rddOf(df).foreach(_.unpersist(blocking = false))

  private def rddOf(df: DataFrame): Option[RDD[_]] = df.queryExecution.logical match {
    case lr: LogicalRDD => Some(lr.rdd)
    case _ => None
  }
}
