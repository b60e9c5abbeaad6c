package graft.perfbench

import scala.collection.mutable

import graft.functions.Butterworth
import graft.sources.SegmentProto
import graft.streaming.RealtimeResample.Segment

/** The serving chain computed sequentially outside Spark, the output
  * checks' reference: montage of grid means, `Butterworth.filterBlock`
  * with reflected prewarm per contiguous block, pixel min/max, continuity
  * fill, segment islands of at most 1000 pixels and wire encoding, with
  * Spark's decimal and rounding semantics.
  */
object Reference {

  /** Spark's cast of a double to DECIMAL(27,10). */
  def dec10(v: Double): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Double.toString(v)).setScale(10, java.math.RoundingMode.HALF_UP)

  /** Spark's round(x, 6) on a double. */
  def round6(x: Double): Double =
    new java.math.BigDecimal(java.lang.Double.toString(x)).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Wire frames keyed by (virtual channel, start), from per-channel grid
    * means (grid time -> mean) and the served pixel width.
    */
  def frames(
    grid: Map[String, Map[Long, Double]],
    pairs: Seq[(String, String)],
    cascade: Butterworth.Cascade,
    padLength: Int,
    pix: Long
  ): Map[(String, Long), Array[Byte]] = {
    pairs.flatMap { case (l, s) =>
      val name = s"$l<->$s"
      val ts = grid(l).keySet.intersect(grid(s).keySet).toArray.sorted
      val v = ts.map(t => round6(grid(l)(t) - grid(s)(t))).toArray
      // blocks split where consecutive grid points are more than one step apart
      val fv = new Array[Double](v.length)
      var b0 = 0
      while (b0 < v.length) {
        var b1 = b0 + 1
        while (b1 < v.length && ts(b1) - ts(b1 - 1) <= Gen.PeriodUs) b1 += 1
        val out = Butterworth.filterBlock(cascade, v.slice(b0, b1), padLength)
        out.indices.foreach(j => fv(b0 + j) = round6(out(j)))
        b0 = b1
      }
      val pixels = mutable.TreeMap[Long, (Double, Double)]()
      ts.indices.foreach { i =>
        val pb = Math.floorDiv(ts(i), pix)
        val (mn, mx) = pixels.getOrElse(pb, (Double.PositiveInfinity, Double.NegativeInfinity))
        pixels(pb) = (math.min(mn, fv(i)), math.max(mx, fv(i)))
      }
      val ps = pixels.toIndexedSeq
      val filled = ps.indices.map { i =>
        val (b, (mn, mx)) = ps(i)
        if (i + 1 < ps.length) {
          val (nmn, nmx) = ps(i + 1)._2
          (b, if (mn > nmx) nmx else mn, if (mx < nmn) nmn else mx)
        } else (b, mn, mx)
      }
      // islands of consecutive pixels, cut into segments of at most 1000
      val segs = mutable.Buffer[Seq[(Long, Double, Double)]]()
      var cur = mutable.Buffer[(Long, Double, Double)]()
      filled.foreach { p =>
        if (cur.nonEmpty && (p._1 != cur.last._1 + 1 || cur.length == 1000)) { segs += cur.toSeq; cur = mutable.Buffer() }
        cur += p
      }
      if (cur.nonEmpty) segs += cur.toSeq
      segs.map { seg =>
        val sg = Segment(name, seg.head._1 * pix, pix.toDouble, pix, isMinMax = true, "continuous", seg.length,
          seg.flatMap(p => Seq(p._2, p._3)))
        (name, sg.startTs) -> SegmentProto.encodeTimeSeriesMessage(sg)
      }
    }.toMap
  }
}
