package graft

import graft.operators.{Dedup, Tokenizer}
import org.apache.spark.sql.DataFrame

class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  /** RDDs a run leaves persisted in the context while its result is
    * still reachable (unpersisted again afterwards so no spec sees
    * another's blocks).
    */
  private def pinned(run: => DataFrame): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = run
    out.count()
    val grown = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    java.lang.ref.Reference.reachabilityFence(out)
    grown.values.foreach(_.unpersist(blocking = true))
    grown.size
  }

  "checkpointed round loops" should "free every superseded round, so pinned blocks do not grow with rounds" in {
    val docs = Seq("lower lowest newer newest wider widest", "slower slowest", "low new wide")
      .zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    pinned(Tokenizer.bpeTrain(docs, 6)._2) shouldBe pinned(Tokenizer.bpeTrain(docs, 2)._2)

    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L)).toDF("doc_a", "doc_b")
    pinned(Dedup.labelPropagation(pairs, 6)) shouldBe pinned(Dedup.labelPropagation(pairs, 2))
  }
}
