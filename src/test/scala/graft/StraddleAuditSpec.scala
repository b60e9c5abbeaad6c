package graft

import org.apache.spark.sql.functions._

/** The half-grid straddle sweep (see [[StraddleAudit]]): red-bars any
  * oracled query whose output carries a double essentially ON the
  * scale-6 ROUND half grid — the value class whose cross-engine
  * rounding split produced the round-10 driver failures (ts_mk,
  * cluster_nmi) while every local replica stayed green.
  */
class StraddleAuditSpec extends SparkSpec {

  "StraddleAudit" should "red-bar raw half-grid values and exempt declared-grid ones" in {
    import spark.implicits._
    // raw-quotient-like values: near the scale-6 half grid but OFF the
    // 1e-9 grid (so no declared rounding produced them)
    val planted = Seq(
      ("half_micro", 5.0005e-7),
      ("deep_half", 1.23456750003),
      ("negative_half", -1.50005e-6)
    ).toDF("tag", "v")
    val hits = StraddleAudit.audit(planted)
    hits.map(_.column).distinct shouldBe Seq("v")
    hits should have size 3

    val clean = Seq(
      0.123456, // on the scale-6 grid
      12.0, // integer
      0.000001, // one micro
      -3.141592, // 6-rounded
      1234567.89, // |v| large but grid-aligned at its magnitude
      // declared ROUND(·,9) outputs: ON the 1e-9 grid, so even sitting
      // 1e-9 from the scale-6 half grid carries no cross-engine risk
      // (the ts_hurst rs64 case found at sf0.1)
      8.483482501,
      0.0000005
    ).toDF("v")
    StraddleAudit.audit(clean) shouldBe empty
  }

  it should "red-bar a planted PRE-ROUND half-grid value the output scan passes" in {
    import spark.implicits._
    // 1.0000005 sits EXACTLY on the scale-6 half grid — and also ON
    // the 1e-9 grid, so the OUTPUT scan's grid-9 exemption passes it
    // even before rounding, and after ROUND(·,6) it lands on the grid
    // in both engines (to engine-dependent sides): the blind spot.
    val preRound = 1.0000005
    StraddleAudit.audit(Seq(preRound).toDF("v")) shouldBe empty // blind
    StraddleAudit.audit(Seq(1.000001).toDF("v")) shouldBe empty // rounded output
    val hits = StraddleAudit.auditTwins(Seq(preRound).toDF("v__s6"))
    hits.map(_.column) shouldBe Seq("v__s6")
    // non-suffixed columns are grain keys, ignored; a scale-0 twin
    // audits at its own grid (2.5 is an exact scale-0 half)
    StraddleAudit
      .auditTwins(Seq((preRound, 2.5)).toDF("plain", "slope__s0"))
      .map(_.column) shouldBe Seq("slope__s0")
    // clean twins stay clean
    StraddleAudit.auditTwins(Seq((1.23, 3.0)).toDF("a__s6", "b__s0")) shouldBe empty
  }

  "the registered pre-round twin frames" should "run clean at sf0.001" in {
    SparkEntry.preRoundTwins.foreach { case (name, fn) =>
      withClue(s"$name pre-round twins: ") {
        StraddleAudit.auditTwins(fn(spark, sfDir)) shouldBe empty
      }
    }
  }

  it should "skip NaN, null and overflow-magnitude values" in {
    import spark.implicits._
    val df = Seq(
      Option(Double.NaN),
      None,
      Option(4.5e15), // beyond 2^52/1e6 — scaled frac meaningless
      Option(Double.PositiveInfinity)
    ).toDF("v")
    StraddleAudit.audit(df) shouldBe empty
  }

  "every registry query" should "emit no double within 1e-9 of the scale-6 ROUND half grid" in {
    // the full sweep at sf0.001: a hit here is a deterministic red bar
    // for a cross-engine coin-flip the driver would otherwise surface
    // as an unexplained hash mismatch at its own scale factor
    val names = SparkEntry.queries.keys.toSeq.sorted
    val skipped = scala.collection.mutable.ArrayBuffer[String]()
    val offenders = names.flatMap { name =>
      val hits =
        try StraddleAudit.audit(SparkEntry.queries(name)(spark, sfDir))
        catch {
          // the audit filters on every output column, which an
          // operator must survive like any consumer; the tolerated set
          // is PINNED BY NAME below (empty), so a new failure is a red
          // bar naming the query, never an anonymous count
          case e: Throwable => skipped += s"$name (${e.getMessage.take(60)})"; Nil
        }
      hits.map(h => s"$name.${h.column}=${h.value}")
    }
    val allowedSkips = Set.empty[String]
    withClue(s"sweep skips drifted from the pinned allowlist: $skipped: ") {
      skipped.map(_.takeWhile(_ != ' ')).toSet shouldBe allowedSkips
    }
    withClue("half-grid straddles (query.column=value): ") {
      offenders shouldBe empty
    }
  }
}
