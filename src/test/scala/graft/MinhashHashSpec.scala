package graft

import graft.functions.MinhashHash
import org.apache.spark.sql.functions._

class MinhashHashSpec extends SparkSpec {
  import spark.implicits._

  private def interLong(a: Option[Seq[Long]], b: Option[Seq[Long]]): Option[Long] =
    Seq((a, b)).toDF("a", "b")
      .select(MinhashHash.interCount($"a", $"b"))
      .as[Option[Long]]
      .head()

  /** |A ∩ B| as the equi-join of the two exploded arrays counts it. */
  private def joinCount[T](a: Seq[T], b: Seq[T]): Long =
    a.map(x => b.count(_ == x).toLong).sum

  "interCount" should "add ca·cb for each value duplicated on both sides" in {
    // 1: 2·1, 3: 3·2
    interLong(Some(Seq(1L, 1L, 2L, 3L, 3L, 3L)), Some(Seq(1L, 3L, 3L, 4L))) shouldBe Some(8L)
  }

  it should "count zero against an empty array on either side" in {
    interLong(Some(Seq.empty), Some(Seq(1L, 2L))) shouldBe Some(0L)
    interLong(Some(Seq(1L, 2L)), Some(Seq.empty)) shouldBe Some(0L)
    interLong(Some(Seq.empty), Some(Seq.empty)) shouldBe Some(0L)
  }

  it should "return null for a null array on either side" in {
    interLong(None, Some(Seq(1L))) shouldBe None
    interLong(Some(Seq(1L)), None) shouldBe None
  }

  it should "count zero for disjoint arrays, interleaved or not" in {
    interLong(Some(Seq(1L, 3L, 5L)), Some(Seq(2L, 4L, 6L))) shouldBe Some(0L)
    interLong(Some(Seq(1L, 2L)), Some(Seq(7L, 8L))) shouldBe Some(0L)
  }

  it should "walk string arrays in their sort order, skipping nulls" in {
    val df = Seq((Seq("b", "a", "b", "c", null), Seq("d", "c", "b", "c", null))).toDF("a", "b")
    // b: 2·1, c: 1·2; the nulls match nothing
    df.select(MinhashHash.interCount(array_sort($"a"), array_sort($"b"))).as[Long].head() shouldBe 4L
  }

  it should "equal the exploded equi-join count on random sorted arrays" in {
    val rnd = new scala.util.Random(7)
    val cases = (0 until 200).map { _ =>
      def arr = Seq.fill(rnd.nextInt(12))(rnd.nextInt(6).toLong - 2L).sorted
      (arr, arr)
    }
    val got = cases.toDF("a", "b").select(MinhashHash.interCount($"a", $"b")).as[Long].collect().toSeq
    got shouldBe cases.map { case (a, b) => joinCount(a, b) }
  }

  it should "reject arrays of two element types" in {
    val df = Seq((Seq(1L), Seq("a"))).toDF("a", "b")
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      df.select(MinhashHash.interCount($"a", $"b")).collect()
  }
}
