package graft

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val queries = emb.filter($"vec_id" < 10)

  "topPrincipalComponent" should "recover a planted dominant direction as a unit vector" in {
    // variance concentrated on dim 0 (spread -2..2), a little on dim 1,
    // none elsewhere: the top PC must align with dim 0 and have norm 1
    val rows = (0L until 40L).map { i =>
      val a = (i % 5).toFloat - 2f
      val b = (i % 3).toFloat * 0.1f - 0.1f
      (i, Array(a, b, 0f, 0f))
    }
    val pc = Similarity
      .topPrincipalComponent(rows.toDF("vec_id", "embedding"))
      .orderBy("dim")
      .as[(Long, Double)]
      .collect()
    pc.map(_._1).toList shouldBe List(0L, 1L, 2L, 3L)
    math.abs(pc(0)._2) should be > 0.999
    math.abs(pc(2)._2) should be < 1e-9
    math.abs(pc(3)._2) should be < 1e-9
    math.sqrt(pc.map(p => p._2 * p._2).sum) shouldBe (1.0 +- 1e-4)
  }

  private lazy val exact: Map[Long, Seq[Long]] = Similarity
    .bruteForceTopK(emb, queries, 5)
    .select($"query_id", $"rank", $"neighbor_id")
    .as[(Long, Long, Long)]
    .collect()
    .groupBy(_._1)
    .map { case (q, xs) => q -> xs.sortBy(_._2).map(_._3).toSeq }

  "bruteForceTopK" should "match a driver-side exact top-k" in {
    val vecs = emb
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
      .as[(Long, Seq[Double])]
      .collect()
      .toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    (0L until 10L).foreach { q =>
      val expected = vecs
        .filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .toSeq
        .sortBy { case (id, c) => (-c, id) }
        .take(5)
        .map(_._1)
      exact(q) shouldBe expected
    }
  }

  it should "never shuffle the corpus (query side is broadcast)" in {
    val plan = Similarity.bruteForceTopK(emb, queries, 5).queryExecution.executedPlan.toString
    plan should include("BroadcastNestedLoopJoin")
  }

  "lshTopK" should "achieve useful top-1 recall with multiprobe" in {
    // measure over the whole corpus as queries for a stable estimate
    val exactAll = Similarity
      .bruteForceTopK(emb, emb, 1)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toMap
    val lsh = Similarity
      .lshTopK(emb, emb, 5, planes = 4)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)]
      .collect()
      .groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }

    // top-1 recall against exact: with near-random synthetic vectors
    // probed at hamming <= 1 of 4 planes the expectation is ~0.5;
    // 0.25 leaves ~3σ of headroom at |corpus| queries
    val top1Hits = exactAll.count { case (q, top1) => lsh.getOrElse(q, Set.empty).contains(top1) }
    top1Hits.toDouble / exactAll.size should be >= 0.25
  }

  "debiasTop" should "capture a planted common direction in score and shrink residuals" in {
    import spark.implicits._
    // every vector = big common direction e0 + per-vec small e1 wiggle:
    // the top PC is ~e0, so |score| >> resid after centering
    val vecs = (0 until 40).map { i =>
      val w = (i % 5 - 2) * 0.1
      (i.toLong, Array.tabulate(8)(d => (if (d == 0) 10.0 + i * 0.01 else 0.0) + (if (d == 1) w else 0.0)).map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val rows = graft.operators.Similarity.debiasTop(vecs, iters = 8).collect()
    rows.length shouldBe 40
    rows.foreach { r =>
      val sc = r.getAs[Double]("score")
      val nc = r.getAs[Double]("norm_centered")
      val res = r.getAs[Double]("resid_norm")
      // Pythagoras: removing the unit component splits the centered norm
      sc * sc + res * res shouldBe nc * nc +- 1e-3
      // the common-direction component dominates what the wiggle leaves
      res should be <= (nc + 1e-9)
    }
    // residual mass across the table is far below centered mass
    val totRes = rows.map(r => math.pow(r.getAs[Double]("resid_norm"), 2)).sum
    val totC = rows.map(r => math.pow(r.getAs[Double]("norm_centered"), 2)).sum
    totRes should be < (0.5 * totC)
  }

  "annRecall" should "report per-query recall@k in [0,1] with driver-size join inputs" in {
    val rows = Similarity.annRecall(spark, sfDir).collect()
    rows.length shouldBe Similarity.QueryCount
    rows.foreach { r =>
      val hit = r.getAs[Long]("n_hit")
      val k = r.getAs[Long]("k")
      hit should (be >= 0L and be <= k)
      r.getAs[Double]("recall") shouldBe hit.toDouble / k +- 1e-9
    }
    // the evaluation itself adds no corpus-scale join: both inputs to
    // the hit join are (queries x k) relations
    val plan = Similarity.annRecall(spark, sfDir).queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
  }

  "dbIndex" should "hit the closed-form value on two separated pairs and rank tight-vs-loose" in {
    // clusters {(0,0),(0,2)} and {(10,0),(10,2)}: S = 1 each, M = 10,
    // so every R = (1+1)/10 = 0.2 and DB = 0.2 exactly
    val pts = Seq(
      (0L, Array(0f, 0f)), (1L, Array(0f, 2f)),
      (2L, Array(10f, 0f)), (3L, Array(10f, 2f))
    ).toDF("vec_id", "embedding")
    val rows = Similarity.dbIndex(pts, k = 2, iters = 3).collect()
    rows.length shouldBe 2
    rows.foreach { r =>
      r.getAs[Long]("n") shouldBe 2L
      r.getAs[Double]("s_intra") shouldBe 1.0 +- 1e-6
      r.getAs[Double]("r") shouldBe 0.2 +- 1e-6
      r.getAs[Double]("db_index") shouldBe 0.2 +- 1e-6
    }
    // spreading one cluster out must worsen (raise) the index
    val loose = Seq(
      (0L, Array(0f, -3f)), (1L, Array(0f, 5f)),
      (2L, Array(10f, 0f)), (3L, Array(10f, 2f))
    ).toDF("vec_id", "embedding")
    val dbLoose = Similarity.dbIndex(loose, k = 2, iters = 3)
      .collect().head.getAs[Double]("db_index")
    dbLoose should be > 0.2
  }

  "annRecallSq" should "stay within bounds and equal a driver-side set intersection" in {
    // every recall@k query beside the ranking it scores, and the
    // brute-force truth they share
    val curves: Seq[(String, (SparkSession, String) => DataFrame, (SparkSession, String) => DataFrame)] = Seq(
      ("lsh", Similarity.annRecall, Similarity.annLsh),
      ("ivf", Similarity.annRecallIvf, Similarity.annIvf),
      ("pq", Similarity.annRecallPq, Similarity.annPq),
      ("sq", Similarity.annRecallSq, Similarity.annSq),
      ("ivfpq", Similarity.annRecallIvfPq, Similarity.annIvfPq),
      ("graph", Similarity.annRecallGraph, Similarity.annGraph)
    )
    def neighbors(df: DataFrame): Map[Long, Set[Long]] =
      df.select($"query_id", $"neighbor_id").as[(Long, Long)].collect().groupBy(_._1).map { case (q, xs) =>
        q -> xs.map(_._2).toSet
      }
    val bf = neighbors(Similarity.annBruteforce(spark, sfDir))
    curves.foreach { case (name, recall, ranking) =>
      withClue(s"$name: ") {
        val rows = recall(spark, sfDir).collect()
        rows.map(_.getAs[Long]("query_id")).toSeq shouldBe (0L until Similarity.QueryCount.toLong)
        val approx = neighbors(ranking(spark, sfDir))
        rows.foreach { r =>
          val q = r.getAs[Long]("query_id")
          val hit = r.getAs[Long]("n_hit")
          val k = r.getAs[Long]("k")
          k shouldBe Similarity.TopK.toLong
          hit should (be >= 0L and be <= k)
          // recompute the hit count from the two published rankings
          hit shouldBe (bf(q) intersect approx.getOrElse(q, Set.empty)).size.toLong
          r.getAs[Double]("recall") shouldBe hit.toDouble / k +- 1e-9
        }
        // exact rerank means SQ recall can only lose at the shortlist
        // margin: on this table the average must clear the LSH curve's
        // pruning-loss territory by a wide margin
        if (name == "sq") rows.map(_.getAs[Double]("recall")).sum / rows.length should be >= 0.8
      }
    }
  }

  "every top-k index" should "rank 1..min(k, candidates) per query, never self, score monotone with id ties" in {
    // 8 base vectors, 3 copies each: copies tie exactly on every score,
    // so the neighbor_id tie-break is exercised by every index
    val corpus = (0L until 24L).map { i =>
      val b = (i % 8).toInt
      (i, (b % 2).toLong, Array.tabulate(8)(d => (((b * 7 + d * 3) % 11) - 5 + (if (d == b) 9 else 0)).toFloat / 4f))
    }.toDF("vec_id", "label", "embedding")
    val qs = corpus.filter($"vec_id" < 6)
    val indexes: Seq[(String, Int => DataFrame, Boolean)] = Seq(
      ("bruteForceTopK", k => Similarity.bruteForceTopK(corpus, qs, k), false),
      ("mipsTopK", k => Similarity.mipsTopK(corpus, qs, k), false),
      ("lshTopK", k => Similarity.lshTopK(corpus, qs, k, planes = 3, dim = 8), false),
      ("ivfTopK", k => Similarity.ivfTopK(corpus, qs, k, nCentroids = 4, nProbe = 2), false),
      ("filteredTopK", k => Similarity.filteredTopK(corpus, qs, k), false),
      ("mipsLshTopK", k => Similarity.mipsLshTopK(corpus, qs, k, planes = 3, dim = 8), false),
      ("pqTopK", k => Similarity.pqTopK(corpus, qs, k, m = 2, dim = 8, kCent = 4, iters = 2), true),
      (
        "ivfPqTopK",
        k => Similarity.ivfPqTopK(corpus, qs, k, nCentroids = 4, nProbe = 2, m = 2, dim = 8, kCent = 4, iters = 2),
        true
      ),
      ("sqTopK", k => Similarity.sqTopK(corpus, qs, k, dim = 8), false),
      ("ivfKmeansTopK", k => Similarity.ivfKmeansTopK(corpus, qs, k, kClusters = 3, iters = 2, nProbe = 2), false)
    )
    val k = 4
    indexes.foreach { case (name, topK, ascending) =>
      withClue(s"$name: ") {
        def rows(kk: Int): Map[Long, Seq[(Long, Long, Double)]] = {
          val df = topK(kk)
          df.select($"query_id", $"rank", $"neighbor_id", col(df.columns.last).cast("double"))
            .as[(Long, Long, Long, Double)]
            .collect()
            .groupBy(_._1)
            .map { case (q, xs) => q -> xs.map(x => (x._2, x._3, x._4)).sortBy(_._1).toSeq }
        }
        // a cut far above the corpus size returns every candidate
        val candidates = rows(1000).map { case (q, xs) => q -> xs.size }
        val cut = rows(k)
        cut.keySet shouldBe candidates.keySet
        cut.foreach { case (q, xs) =>
          xs.map(_._1) shouldBe (1L to math.min(k, candidates(q)).toLong)
          xs.foreach(_._2 should not be q)
          xs.sliding(2).filter(_.size == 2).foreach { case Seq((_, n1, s1), (_, n2, s2)) =>
            if (ascending) s1 should be <= s2 else s1 should be >= s2
            if (s1 == s2) n1 should be < n2
          }
        }
        candidates.values.max should be >= k
      }
    }
  }

  "ivfTopK" should "beat the probe fraction's random-recall baseline" in {
    val exactAll = Similarity
      .bruteForceTopK(emb, emb, 1)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toMap
    val ivf = Similarity
      .ivfTopK(emb, emb, 5, nCentroids = 8, nProbe = 3)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)]
      .collect()
      .groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }

    ivf.keySet shouldBe exactAll.keySet
    // probing 3 of 8 lists scans ~38% of the corpus; nearest-centroid
    // locality must beat that chance level for the true top-1
    val top1Hits = exactAll.count { case (q, top1) => ivf.getOrElse(q, Set.empty).contains(top1) }
    top1Hits.toDouble / exactAll.size should be >= 0.45
  }

  "knnLabelVote" should "predict the dominant neighbor label with deterministic ties" in {
    // two tight clusters with distinct labels; the query sits in cluster 1
    val vecs = Seq(
      (0L, Array(1.0f, 0.005f), 1),
      (1L, Array(1.0f, 0.01f), 1),
      (2L, Array(1.0f, -0.01f), 1),
      (3L, Array(0.99f, 0.0f), 1),
      (4L, Array(0.0f, 1.0f), 2),
      (5L, Array(0.01f, 1.0f), 2),
      (6L, Array(-0.01f, 0.99f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity
      .knnLabelVote(vecs, vecs.filter($"vec_id" === 0L), k = 3)
      .as[(Long, Int, Long)]
      .collect()
      .toList
    got shouldBe List((0L, 1, 3L))
  }

  "kmeansAssign" should "compute exact distances to the single-cluster mean" in {
    // k=1: after one update the centroid is the decimal-exact mean
    // (2, 0); d² = v·v − 2·v·c + c·c gives 4, 0, 4
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)),
      (1L, Array(2.0f, 0.0f)),
      (2L, Array(4.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.kmeansAssign(vecs, k = 1, iters = 1).orderBy("vec_id").collect()
    out.map(_.getAs[Long]("cluster")).toSeq shouldBe Seq(0L, 0L, 0L)
    out.map(_.getAs[Double]("dist2")).toSeq shouldBe Seq(4.0, 0.0, 4.0)
  }

  it should "separate well-separated planted clusters deterministically" in {
    val a = (0L until 4L).map(i => (i, Array(100.0f + i, 0.0f)))
    val b = (4L until 8L).map(i => (i, Array(-100.0f - i, 0.0f)))
    val vecs = (a ++ b).toDF("vec_id", "embedding")
    val out = Similarity.kmeansAssign(vecs, k = 2, iters = 4).collect()
    val byCluster = out.groupBy(_.getAs[Long]("cluster")).view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    byCluster.values.toSet shouldBe Set((0L until 4L).toSet, (4L until 8L).toSet)
    // bit-identical across runs (no RNG anywhere in the trajectory)
    val again = Similarity.kmeansAssign(vecs, k = 2, iters = 4).collect()
    out.map(_.toSeq).sortBy(_.head.asInstanceOf[Long]) shouldBe
      again.map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
  }

  "embedSilhouette" should "score tight well-separated clusters near 1 and keep a <= b" in {
    val a = (0L until 4L).map(i => (i, Array(100.0f + 0.1f * i, 0.0f)))
    val b = (4L until 8L).map(i => (i, Array(-100.0f - 0.1f * i, 0.0f)))
    val vecs = (a ++ b).toDF("vec_id", "embedding")
    val out = Similarity.embedSilhouette(vecs, k = 2, iters = 4).collect()
    out should have length 8
    out.foreach { r =>
      // the assigned centroid is the argmin by construction
      r.getAs[Double]("dist2") should be <= r.getAs[Double]("dist2_next")
      // tight clusters, far-apart centroids: near-perfect silhouette
      r.getAs[Double]("silhouette") should be > 0.9
    }
    // silhouette labels agree with the plain assignment's clustering
    val byCluster =
      out.groupBy(_.getAs[Long]("cluster")).view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    byCluster.values.toSet shouldBe Set((0L until 4L).toSet, (4L until 8L).toSet)
  }

  it should "flag a boundary point with a lower score than core points" in {
    // two 1-D clusters at 0 and 10; one point parked at 4.5 (nearer
    // cluster A but close to the boundary)
    val pts = Seq(
      (0L, Array(0.0f, 0f)), (1L, Array(0.2f, 0f)), (2L, Array(-0.2f, 0f)),
      (3L, Array(10.0f, 0f)), (4L, Array(10.2f, 0f)), (5L, Array(9.8f, 0f)),
      (6L, Array(4.5f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.embedSilhouette(pts, k = 2, iters = 4).collect()
    val sil = out.map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("silhouette")).toMap
    val core = Seq(0L, 1L, 2L, 3L, 4L, 5L).map(sil)
    core.min should be > sil(6L) // every core point beats the straggler
  }

  "embedIsotropy" should "match a naive driver-side computation and its eigen bounds" in {
    val row = Similarity.embedIsotropy(spark, sfDir).collect().head
    val n = row.getAs[Long]("n")
    val meanShare = row.getAs[Double]("mean_share")
    val l1 = row.getAs[Double]("lambda1_share")
    // naive reference from the collected table and the PUBLISHED u1
    val xs = emb.orderBy($"vec_id").select($"embedding".cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val u = Similarity.embedPca(spark, sfDir).orderBy($"dim")
      .collect().map(_.getAs[Double]("loading"))
    val d = xs.head.length
    val mu = Array.tabulate(d)(j => xs.map(_(j)).sum / xs.length)
    def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map { case (p, q) => p * q }.sum
    val sxx = xs.map(x => dot(x, x)).sum
    val sxxc = xs.map { x => val c = x.zip(mu).map { case (a, m) => a - m }; dot(c, c) }.sum
    val ssc2 = xs.map { x => val s = dot(x, u) - dot(mu, u); s * s }.sum
    n shouldBe xs.length.toLong
    meanShare shouldBe dot(mu, mu) / (sxx / xs.length) +- 1e-4
    l1 shouldBe ssc2 / sxxc +- 1e-4
    row.getAs[Double]("avg_cnorm") shouldBe math.sqrt(sxxc / xs.length) +- 1e-4
    // the top direction owns at least the average share (1/d) and at
    // most everything; the mean share is a nonnegative fraction
    l1 should (be >= 1.0 / d and be <= 1.0)
    meanShare should (be >= 0.0 and be <= 1.0)
  }

  "ivfPqTopK" should "be pqTopK's ADC restricted to the probed coarse cells" in {
    val queries = emb.filter($"vec_id" < 6)
    val books = Similarity.pqCodebooks(emb, 4, 64, 8, 2)
    val ivfpq = Similarity
      .ivfPqTopK(emb, queries, 5, nCentroids = 8, nProbe = 3, precomputedBooks = Some(books))
      .collect()
    ivfpq should not be empty
    // same books -> every emitted pair's ADC must equal the full-PQ
    // score for that pair (cell restriction prunes candidates, never
    // changes a surviving candidate's distance)
    val fullPq = Similarity
      .pqTopK(emb, queries, Int.MaxValue, precomputedBooks = Some(books))
      .select($"query_id", $"neighbor_id", $"adist")
      .as[(Long, Long, Double)]
      .collect()
      .map { case (q, n, d) => (q, n) -> d }
      .toMap
    ivfpq.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      r.getAs[Double]("adist") shouldBe fullPq(key) +- 1e-9
    }
    // ranks are contiguous from 1 and adist is monotone within a query
    ivfpq.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      sorted.map(_.getAs[Long]("rank")).toSeq shouldBe (1L to sorted.size)
      sorted.map(_.getAs[Double]("adist")).toSeq shouldBe sorted
        .map(_.getAs[Double]("adist")).toSeq.sorted
    }
    // a planted exact copy of a query vector shares its coarse cell
    // and all PQ codes, so its ADC equals the query's own quantization
    // error — the MINIMUM any candidate can achieve. It must surface
    // in the top list carrying the same adist as the rank-1 row.
    val planted = emb.unionByName(
      queries.filter($"vec_id" === 0L)
        .select(lit(990000L).as("vec_id"), $"embedding", $"label")
    )
    val withCopy = Similarity
      .ivfPqTopK(planted, planted.filter($"vec_id" === 0L), 5,
        nCentroids = 8, nProbe = 3, precomputedBooks = Some(books))
      .collect()
    val copyRow = withCopy.find(_.getAs[Long]("neighbor_id") == 990000L)
    copyRow should not be empty
    val best = withCopy.minBy(_.getAs[Long]("rank")).getAs[Double]("adist")
    copyRow.get.getAs[Double]("adist") shouldBe best +- 1e-9
  }

  "pqTopK" should "emit complete rank lists ordered by asymmetric distance" in {
    val out = Similarity
      .pqTopK(emb, emb, 5)
      .collect()
      .map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("adist"))
      )
    // complete rank lists with non-decreasing ADC per query
    val byQ = out.groupBy(_._1)
    byQ.foreach { case (_, xs) =>
      xs.map(_._2).sorted.toList shouldBe (1L to 5L).toList
      xs.sortBy(_._2).map(_._4).toSeq.sliding(2).foreach {
        case Seq(a, b) => a should be <= b
        case _ => ()
      }
    }
  }

  "sqTopK" should "equal exact brute force when every value sits on the quantizer grid" in {
    // each dim takes only 0 or 255 → sc = (255-0)/255 = 1.0 exactly,
    // so dequantization reproduces the input bit for bit, the
    // shortlist order IS the exact order (ties and all), and the
    // rerank is an identity: result must match bruteForceTopK row
    // for row. (A ±1 fixture would make sc = 2/255 — inexact in
    // binary64 — and could reorder exact-tie groups at the shortlist
    // boundary.)
    // dim 7 is constant 255: no zero vectors (a zero norm would make
    // every cosine NaN) and it exercises the sc = 0 constant-dim path
    val vecs = (0 until 16).map { i =>
      (i.toLong,
       (0 until 8).map(d => if (d == 7 || ((i >> (d % 4)) & 1) == 1) 255.0f else 0.0f).toArray)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 4)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))
    val sq = Similarity.sqTopK(df, q, 3, dim = 8).collect().map(key).sortBy(x => (x._1, x._2))
    val bf = Similarity.bruteForceTopK(df, q, 3).collect().map(key).sortBy(x => (x._1, x._2))
    sq shouldBe bf
  }

  it should "emit true cosines (rerank is exact) even off-grid" in {
    val vecs = (0 until 24).map { i =>
      (i.toLong, (0 until 8).map(d => math.sin(i * 1.7 + d * 0.9).toFloat).toArray)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 3)
    val vmap = vecs.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    Similarity.sqTopK(df, q, 3, dim = 8).collect().foreach { r =>
      val expect = cos(vmap(r.getAs[Long]("query_id")), vmap(r.getAs[Long]("neighbor_id")))
      r.getAs[Double]("cosine") shouldBe (math.round(expect * 1e6) / 1e6) +- 1e-9
    }
  }

  it should "recover planted cluster structure with high recall" in {
    // uniform-random embeddings are PQ's worst case (distance
    // concentration), so recall is asserted on PLANTED structure:
    // 8 well-separated prototypes + small deterministic noise — the
    // codebooks must recover the prototypes and ADC must surface
    // same-cluster members
    val dim = 16
    val protos = (0 until 8).map(c => (0 until dim).map(d => ((c * 31 + d * 7) % 13) * 3.0))
    val vecs = (0 until 64).map { i =>
      val p = protos(i % 8)
      (i.toLong, p.indices.map(d => (p(d) + 0.01 * ((i * (d + 1)) % 7 - 3)).toFloat).toArray)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity
      .pqTopK(df, df, 5, m = 4, dim = dim, kCent = 8, iters = 3)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)]
      .collect()
      .groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }
    // exact L2 top-1 is always a same-cluster member; PQ's top-5 must
    // contain one same-cluster member for almost every query
    val hits = out.count { case (q, nbrs) => nbrs.exists(n => n % 8 == q % 8 && n != q) }
    hits.toDouble / out.size should be >= 0.9
  }

  it should "never shuffle the corpus (codes scan once, luts broadcast)" in {
    val plan = Similarity.pqTopK(emb, queries, 5).queryExecution.executedPlan.toString
    plan should include("BroadcastNestedLoopJoin")
  }

  "semanticDedup" should "mine cosine pairs within clusters and respect the threshold" in {
    // two far-apart groups; one near-identical pair planted in each,
    // plus an angular outlier per group that must stay below τ
    val vecs = Seq(
      (0L, Array(100.0f, 0.0f)),
      (1L, Array(100.0f, 0.01f)),
      (2L, Array(100.0f, 60.0f)),
      (4L, Array(-100.0f, 0.0f)),
      (5L, Array(-100.0f, -0.01f)),
      (6L, Array(-100.0f, 60.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity
      .semanticDedup(vecs, k = 2, iters = 3, tau = 0.9)
      .collect()
    out.map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet shouldBe
      Set((0L, 1L), (4L, 5L))
    out.foreach(_.getAs[Double]("cosine") should be >= 0.99)
  }

  it should "sub-block a mega-cell so no quadratic pair bucket forms" in {
    // 48 direction-diverse vectors forced into ONE k-means cell (k=1);
    // maxCell=8 → adaptive width ceil(log2(48/8)) = 3 hyperplane bits
    val n = 48
    val vecs = (0 until n).map { i =>
      val ang = i * 2.0 * math.Pi / n
      (
        i.toLong,
        Array(
          (math.cos(ang) * 10.0).toFloat,
          (math.sin(ang) * 10.0).toFloat,
          ((i % 5) - 2).toFloat,
          ((i % 7) - 3).toFloat
        )
      )
    }.toDF("vec_id", "embedding")
    val out = Similarity
      .semanticDedup(vecs, k = 1, iters = 1, tau = -1.0, maxCell = 8, subPlanes = 4, dim = 4)
      .collect()
    // replicate the expected blocking: 3-bit hyperplane bucket, blocks
    // over the cap dropped, admitted blocks mined exactly (tau=-1)
    val hp = Similarity.hyperplanes(4, 4)
    val blockSizes = vecs
      .select(Similarity.hyperplaneBucket(col("embedding"), hp).bitwiseAND(lit(7L)).as("b"))
      .groupBy($"b")
      .count()
      .as[(Long, Long)]
      .collect()
      .toMap
    val expectedPairs = blockSizes.values.filter(_ <= 8).map(sz => sz * (sz - 1) / 2).sum
    out.length.toLong shouldBe expectedPairs
    expectedPairs should be < n.toLong * (n - 1) / 2
    // and every emitted pair must share a block
    val blockOf = vecs
      .select(
        $"vec_id",
        Similarity.hyperplaneBucket(col("embedding"), hp).bitwiseAND(lit(7L)).as("b")
      )
      .as[(Long, Long)]
      .collect()
      .toMap
    out.foreach { r =>
      blockOf(r.getAs[Long]("vec_a")) shouldBe blockOf(r.getAs[Long]("vec_b"))
    }
  }

  it should "drop identical-direction mass no hyperplane can split" in {
    // 16 copies of one direction: sub-blocking keeps them together, so
    // the residual counted-block guard must drop the bucket whole
    val same = (0 until 16)
      .map(i => (i.toLong, Array(1.0f, 0.5f, 0.25f, 0.0f)))
      .toDF("vec_id", "embedding")
    Similarity
      .semanticDedup(same, k = 1, iters = 1, tau = -1.0, maxCell = 8, subPlanes = 4, dim = 4)
      .count() shouldBe 0L
  }

  it should "mine under-cap cells exactly (block stays constant)" in {
    val vecs = Seq(
      (0L, Array(100.0f, 0.0f)),
      (1L, Array(100.0f, 0.01f)),
      (4L, Array(-100.0f, 0.0f)),
      (5L, Array(-100.0f, -0.01f))
    ).toDF("vec_id", "embedding")
    val capped = Similarity
      .semanticDedup(vecs, k = 2, iters = 3, tau = 0.9, maxCell = 4, subPlanes = 4, dim = 2)
      .collect()
    capped.map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet shouldBe
      Set((0L, 1L), (4L, 5L))
  }

  "lshRadius" should "return exactly the above-threshold pairs the buckets admit, deduped" in {
    // near-identical pair (cosine ~1) and an orthogonal distractor
    val vecs = Seq(
      (0L, Array(1.0f, 0.01f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.02f, 0.0f, 0.0f)),
      (2L, Array(-1.0f, 5.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val hits = Similarity
      .lshRadius(vecs, vecs.filter($"vec_id" === 0L), tau = 0.9, planes = 4, dim = 4)
      .collect()
    hits.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet shouldBe
      Set((0L, 1L))
    hits.head.getAs[Double]("cosine") should be > 0.999
    // no duplicate pairs survive multi-probe collisions
    hits.length shouldBe hits.map(r => (r.getLong(0), r.getLong(1))).distinct.length
  }

  it should "be a subset of brute-force threshold pairs with matching cosines" in {
    val emb = Tables.embeddings(spark, sfDir)
    val got = Similarity
      .lshRadius(emb, emb.filter($"vec_id" < 10), tau = 0.2, planes = 4)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine"))
      .toMap
    val brute = Similarity
      .bruteForceTopK(emb, emb.filter($"vec_id" < 10), k = Int.MaxValue)
      .filter($"cosine" >= 0.2)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine"))
      .toMap
    got.keySet.subsetOf(brute.keySet) shouldBe true
    got.foreach { case (k, c) => c shouldBe brute(k) +- 1e-9 }
  }

  "embedOutliers" should "flag a planted far point and keep tight cluster members" in {
    // one tight blob + one extreme point; k=1 collapses them into a
    // single cluster whose distance distribution isolates the plant
    val vecs = ((0 until 40).map { i =>
      (i.toLong, Array(10.0f + (i % 5) * 0.01f, 20.0f + (i % 7) * 0.01f))
    } :+ (99L, Array(500.0f, -400.0f))).toDF("vec_id", "embedding")
    val rows = Similarity
      .embedOutliers(vecs, k = 1, iters = 2)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("outlier"))
      .toMap
    rows(99L) shouldBe true
    (0 until 40).foreach(i => rows(i.toLong) shouldBe false)
  }

  it should "z-score within each cluster, not globally" in {
    // two clusters with very different scales: a modest deviation in
    // the wide cluster must NOT be flagged just because the tight
    // cluster's variance is tiny
    val tight = (0 until 20).map(i => (i.toLong, Array(0.0f, i % 3 * 0.001f)))
    val wide = (100 until 120).map(i => (i.toLong, Array(1000.0f, (i % 10) * 30.0f)))
    val rows = Similarity
      .embedOutliers((tight ++ wide).toDF("vec_id", "embedding"), k = 2, iters = 3)
      .collect()
    val byCluster = rows.groupBy(_.getAs[Long]("cluster"))
    byCluster.size shouldBe 2
    // no point in the wide cluster is beyond 2 sigma of its own spread
    rows.filter(_.getAs[Long]("vec_id") >= 100L).foreach { r =>
      r.getAs[Boolean]("outlier") shouldBe false
    }
  }

  "clusterTopics" should "label every cluster with its own words, ranked consistently" in {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val rows = Similarity.clusterTopics(docs, emb).orderBy($"cluster", $"rk").collect()
    rows should not be empty
    val byCluster = rows.groupBy(_.getAs[Long]("cluster"))
    byCluster.foreach { case (_, rs) =>
      rs.map(_.getAs[Long]("rk")).toSeq shouldBe (1L to rs.length)
      // scores never increase down the rank, ties broken by word
      rs.sliding(2).foreach {
        case Array(a, b) =>
          val (sa, sb) = (a.getAs[Double]("score"), b.getAs[Double]("score"))
          assert(sa > sb || (sa == sb && a.getAs[String]("word") < b.getAs[String]("word")))
        case _ => ()
      }
      rs.length should be <= 5
    }
    // df counts clusters, so no df may exceed the cluster count
    val k = byCluster.size
    all(rows.map(_.getAs[Long]("df")).toSeq) should be <= k.toLong
    // a top word of a cluster must actually occur in that cluster's docs
    val asg = Similarity
      .kmeansAssign(emb, Similarity.KmeansK, Similarity.KmeansIters)
      .select($"vec_id", $"cluster")
      .as[(Long, Long)]
      .collect()
      .toMap
    val texts = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    val topWord = rows.filter(_.getAs[Long]("rk") == 1L).head
    val cWords = texts
      .filter { case (id, _) => asg(id) == topWord.getAs[Long]("cluster") }
      .flatMap(_._2.toLowerCase.trim.split("\\s+"))
      .toSet
    cWords should contain(topWord.getAs[String]("word"))
  }

  "mipsLshTopK" should "recover exact-MIPS top-1s through the augmented index" in {
    // same ~0.5 multiprobe expectation as the cosine LSH spec — the
    // augmentation preserves angles between lifted vectors, so the
    // probe recall math carries over; 0.25 leaves ~3σ headroom
    val exactAll = Similarity
      .mipsTopK(emb, emb, 1)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toMap
    val idx = Similarity
      .mipsLshTopK(emb, emb, 5)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)]
      .collect()
      .groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }
    val hits = exactAll.count { case (q, top1) => idx.getOrElse(q, Set.empty).contains(top1) }
    hits.toDouble / exactAll.size should be >= 0.25
    // scores that DO surface are the exact dots — spot-check one pair
    val one = Similarity.mipsLshTopK(emb, emb.filter($"vec_id" === 0L), 1).collect().head
    val exactScore = Similarity
      .mipsTopK(emb, emb.filter($"vec_id" === 0L), Similarity.QueryCount * 10)
      .filter($"neighbor_id" === one.getAs[Long]("neighbor_id"))
      .collect()
      .head
      .getAs[Double]("score")
    one.getAs[Double]("score") shouldBe exactScore +- 1e-9
  }

  "mipsTopK" should "rank by raw inner product where cosine would rank the other way" in {
    // query 0 = (1,0). Candidate 1 = (5,5): cosine 0.707 but dot 5.
    // Candidate 2 = (0.99,0): cosine 1.0 but dot 0.99. MIPS must put
    // the large-magnitude vector first — the case where the two orders
    // provably disagree.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(5.0f, 5.0f)),
      (2L, Seq(0.99f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity
      .mipsTopK(emb, emb.filter($"vec_id" === 0L), k = 2)
      .orderBy("rank")
      .as[(Long, Long, Long, Double)]
      .collect()
      .toList
    got.map(t => (t._2, t._3)) shouldBe List((1L, 1L), (2L, 2L))
    got.head._4 shouldBe 5.0 +- 1e-6
    // cosine baseline on the same vectors picks the normalized direction
    val cos = Similarity
      .bruteForceTopK(emb, emb.filter($"vec_id" === 0L), k = 1)
      .select($"neighbor_id")
      .as[Long]
      .collect()
      .toList
    cos shouldBe List(2L)
  }

  "filteredTopK" should "only return neighbors sharing the query's label" in {
    // query 0 (label 1): vec 2 is closest overall but carries label 2 —
    // the filter must skip it and return vec 1 (label 1) instead
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.8f, 0.6f), 1),
      (2L, Array(0.99f, 0.1f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity
      .filteredTopK(emb, emb.filter($"vec_id" === 0L), k = 2)
      .select("neighbor_id", "label")
      .as[(Long, Int)]
      .collect()
      .toList
    got shouldBe List((1L, 1))
    // unfiltered baseline would have preferred vec 2
    Similarity
      .bruteForceTopK(emb, emb.filter($"vec_id" === 0L), k = 1)
      .select("neighbor_id").as[Long].collect().toList shouldBe List(2L)
  }

  "exactVectorDups" should "group bitwise-identical vectors only" in {
    val emb = Seq(
      (1L, Array(1.0f, 2.0f)),
      (2L, Array(1.0f, 2.0f)), // exact twin of 1
      (3L, Array(1.0f, 2.001f)) // near but not bitwise equal
    ).toDF("vec_id", "embedding")
    val got = Similarity.exactVectorDups(emb)
      .as[(Long, Long)]
      .collect()
      .toList
    got shouldBe List((1L, 2L))
  }

  "dimStats" should "report per-dimension moments and flag the dead dimension" in {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(3.0f, 0.0f)),
      (2L, Array(5.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.dimStats(emb).orderBy("dim").collect()
    got.length shouldBe 2
    val d0 = got(0)
    d0.getAs[Long]("n") shouldBe 3L
    d0.getAs[Double]("mean") shouldBe 3.0
    d0.getAs[Double]("std") shouldBe math.sqrt(35.0 / 3 - 9.0) +- 1e-6
    d0.getAs[Double]("min_x") shouldBe 1.0
    d0.getAs[Double]("max_x") shouldBe 5.0
    val d1 = got(1) // dead dimension: zero mean, zero variance
    d1.getAs[Double]("mean") shouldBe 0.0
    d1.getAs[Double]("std") shouldBe 0.0
  }

  "hubnessScreen" should "crown a planted attractor as hub and strand the isolated point" in {
    // cluster of 12 near-identical vectors (each other's neighbors) +
    // one orthogonal singleton: within the cluster everyone's kNN hits
    // the same points; the singleton's list is near-arbitrary but
    // NOBODY picks it → orphan... unless its bucket differs entirely
    val cluster = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(64)(d => if (d == 0) 1.0f else if (d == 1 + i % 3) 0.01f * (i + 1) else 0.0f))
    }
    val lone = Seq((99L, Array.tabulate(64)(d => if (d == 63) -1.0f else 0.0f)))
    val emb = (cluster ++ lone).map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")
    val got = Similarity.hubnessScreen(emb, k = 3).collect()
    val byId = got.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("in_degree")).toMap
    byId.keySet should contain(99L)
    byId(99L) shouldBe 0L // nothing retrieves the orthogonal singleton
    got.find(_.getAs[Long]("vec_id") == 99L).get.getAs[Boolean]("orphan") shouldBe true
    // in-degree mass concentrates inside the cluster (bucket splits
    // can shave a few candidates off the smallest cells)
    val total = byId.values.sum
    total should be >= 30L
    byId.values.max should be >= 3L
  }

  "labelCentroidSim" should "report unit diagonal, orthogonal 0 and an exact mixed angle" in {
    // label 0 centroid → (1, 0); label 1 → (0, 1); label 2 → (1, 1)
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(2.0f, 0.0f), 2),
      (5L, Array(0.0f, 2.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity
      .labelCentroidSim(emb)
      .orderBy("label_a", "label_b")
      .as[(Int, Int, Long, Long, Double)]
      .collect()
      .toList
    val isq2 = BigDecimal(1.0 / math.sqrt(2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got shouldBe List(
      (0, 0, 2L, 2L, 1.0),
      (0, 1, 2L, 1L, 0.0),
      (0, 2, 2L, 2L, isq2), // cos 45°
      (1, 1, 1L, 1L, 1.0),
      (1, 2, 1L, 2L, isq2),
      (2, 2, 2L, 2L, 1.0)
    )
  }

  "hardNegatives" should "exclude same-label vectors and rank the rest by cosine" in {
    val rows = Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(0.999f, 0.01f), 0), // nearest overall but same label: excluded
      (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(0.5f, 0.5f), 2),
      (4L, Array(0f, 1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity
      .hardNegatives(rows, rows.filter($"vec_id" === 0L), 2)
      .orderBy("rank")
      .collect()
    out.map(_.getAs[Long]("negative_id")).toList shouldBe List(2L, 3L)
    out.map(_.getAs[Long]("rank")).toList shouldBe List(1L, 2L)
    out.map(_.getAs[Int]("negative_label")).toList shouldBe List(1, 2)
    out.foreach(r => r.getAs[Int]("query_label") shouldBe 0)
  }


  "lofScreen" should "flag the angular outlier of a tight cluster and score inliers near 1" in {
    // all fixture vectors are positive second-coordinate perturbations
    // of e1 and must share one hyperplane bucket for the LOF claims to
    // hold — asserted directly (driver-side sign replay of the public
    // hyperplanes) so a seed change fails loudly here instead of
    // flaking the claims below
    val hp = Similarity.hyperplanes(4, 64)
    val cluster = (1 to 6).map(j => (j.toLong, Array(1f, 0.001f * j, 0f, 0f), 0))
    val rows = cluster :+ ((99L, Array(1f, 0.5f, 0f, 0f), 0))
    def bucketOf(v: Array[Float]): Long =
      hp.zipWithIndex.map { case (p, i) =>
        val d = v.toSeq.zip(p).map { case (x, y) => x * y }.sum
        if (d > 0.0) 1L << i else 0L
      }.sum
    rows.map(r => bucketOf(r._2)).distinct should have size 1
    val out = Similarity
      .lofScreen(rows.toDF("vec_id", "embedding", "label").select($"vec_id", $"embedding"))
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("n_nn"), r.getAs[Double]("lof"), r.getAs[Boolean]("outlier"))))
      .toMap
    out.keySet shouldBe (1L to 6L).toSet + 99L
    // every point sees 5 bucket-mates
    out.values.foreach(_._1 shouldBe 5L)
    // the far point is density-isolated: its neighbors are mutually
    // much denser than it is
    out(99L)._2 should be > 1.5
    out(99L)._3 shouldBe true
    // inliers sit near the reference density
    (1L to 6L).foreach { j =>
      out(j)._2 should be < 1.5
      out(j)._3 shouldBe false
    }
  }

  "bucketedKnn counted-cap admission" should "bound every admitted block and drop inseparable mega-buckets" in {
    // a planted mega-bucket of 30 IDENTICAL vectors (no hyperplane can
    // separate them) plus a tight normal cluster: with maxBucket = 8
    // the identical mass must be dropped whole, the normal cluster
    // admitted whole, and every admitted (bucket, block) bounded by
    // the cap — the worst pair key is maxBucket² by construction
    val mega = (1 to 30).map(j => (j.toLong, Seq(1.0, 1.0, 1.0, 1.0)))
    val normal = (101 to 106).map(j => (j.toLong, Seq(-1.0, -1.0, -1.0, -0.001 * j)))
    val emb = (mega ++ normal).toDF("vec_id", "embedding")
    val admitted = Similarity
      .admittedBlocks(emb, planes = 2, dim = 4, maxBucket = 8L, subPlanes = 4)
      .select($"bucket", $"block", $"vec_id")
      .collect()
    val byBlock = admitted.groupBy(r => (r.getLong(0), r.getLong(1)))
    byBlock.values.foreach(_.length should be <= 8)
    val ids = admitted.map(_.getAs[Long]("vec_id")).toSet
    ids shouldBe (101L to 106L).toSet
    // behavior downstream: the dropped mass leaves the graph as
    // orphans, the admitted cluster still gets its neighbors
    val hub = Similarity
      .hubnessScreen(emb, k = 3, planes = 2, dim = 4, maxBucket = 8L, subPlanes = 4)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("orphan"))
      .toMap
    hub.keySet should have size 36
    (1L to 30L).foreach(j => hub(j) shouldBe true)
    (101L to 106L).foreach(j => hub(j) shouldBe false)
  }

  it should "sub-split a separable over-cap bucket so both directions keep their neighbors" in {
    // two direction groups that share the 2-plane base bucket but
    // differ on a fresh sub-split plane: 10 + 10 > cap 12 forces the
    // split; each admitted block holds one group, so every vector
    // keeps in-block neighbors (recall inside the bucket is traded,
    // never the bound)
    val base = Similarity.hyperplanes(2, 4)
    val sub = Similarity.hyperplanes(2 + 4, 4).drop(2)
    def signs(v: Seq[Double], ps: Seq[Seq[Double]]): Seq[Boolean] =
      ps.map(p => v.zip(p).map { case (a, b) => a * b }.sum > 0.0)
    // deterministic search for two seed directions with equal base
    // signs and opposite first-sub-plane signs
    val cands = for {
      a <- Seq(-1.0, 1.0); b <- Seq(-1.0, 1.0); c <- Seq(-1.0, 1.0); d <- Seq(-1.0, 1.0)
    } yield Seq(a, b, c, d)
    val grouped = cands.groupBy(v => signs(v, base))
    val (d1, d2) = grouped.values
      .flatMap { vs =>
        val bySub = vs.groupBy(v => signs(v, sub).head)
        if (bySub.size == 2) Some((bySub.values.head.head, bySub.values.last.head)) else None
      }
      .head
    // perturb ONE coordinate (sign-preserving) so within-group cosines
    // vary smoothly — parallel vectors would tie at cosine 1 and the
    // id tie-break would orphan the largest ids
    val g1 = (1 to 10).map(j => (j.toLong, d1.updated(0, d1.head * (1.0 + 0.02 * j))))
    val g2 = (101 to 110).map(j => (j.toLong, d2.updated(0, d2.head * (1.0 + 0.02 * (j - 100)))))
    val emb = (g1 ++ g2).toDF("vec_id", "embedding")
    val admitted = Similarity
      .admittedBlocks(emb, planes = 2, dim = 4, maxBucket = 12L, subPlanes = 4)
      .select($"bucket", $"block", $"vec_id")
      .collect()
    admitted.length shouldBe 20
    admitted.groupBy(r => (r.getLong(0), r.getLong(1))).values.foreach(_.length should be <= 12)
    val hub = Similarity
      .hubnessScreen(emb, k = 3, planes = 2, dim = 4, maxBucket = 12L, subPlanes = 4)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("orphan"))
      .toMap
    hub.values.foreach(_ shouldBe false)
  }

  "clusterNmi" should "score a label-aligned clustering 1.0 and a half-crossed one by hand" in {
    // two well-separated blobs, k=2: kmeans recovers them exactly
    val a = (0L until 4L).map(i => (i, Array(100.0f + i, 0.0f)))
    val b = (4L until 8L).map(i => (i, Array(-100.0f - i, 0.0f)))
    // labels follow the blobs -> perfect external agreement
    val aligned = (a.map { case (i, v) => (i, v, "x") } ++ b.map { case (i, v) => (i, v, "y") })
      .toDF("vec_id", "embedding", "label")
    val outA = Similarity.clusterNmi(aligned, k = 2, iters = 4).collect()
    outA.length shouldBe 1
    outA.head.getAs[Long]("n") shouldBe 8L
    outA.head.getAs[Long]("n_labels") shouldBe 2L
    outA.head.getAs[Long]("n_clusters") shouldBe 2L
    outA.head.getAs[Double]("nmi") shouldBe (1.0 +- 1e-6)
    outA.head.getAs[Double]("purity") shouldBe 1.0
    outA.head.getAs[Double]("ari") shouldBe (1.0 +- 1e-6)
    outA.head.getAs[Double]("h_label") shouldBe (math.log(2.0) +- 1e-6)
    // labels split each blob in half -> contingency all cells = 2:
    // clustering carries NO label information
    val crossed = (a ++ b).zipWithIndex
      .map { case ((i, v), idx) => (i, v, if (idx % 2 == 0) "x" else "y") }
      .toDF("vec_id", "embedding", "label")
    val outC = Similarity.clusterNmi(crossed, k = 2, iters = 4).collect()
    outC.head.getAs[Double]("mi") shouldBe (0.0 +- 1e-6)
    outC.head.getAs[Double]("nmi") shouldBe (0.0 +- 1e-6)
    outC.head.getAs[Double]("purity") shouldBe 0.5
    // all cells 2: sumC2 = 4, sa = sb = 12, T = 28 -> exp = 36/7;
    // ARI = (4 - 36/7)/(12 - 36/7) = -1/6 (below-chance agreement)
    outC.head.getAs[Double]("ari") shouldBe (-1.0 / 6 +- 1e-6)
  }


  "mmrRerank" should "demote a near-duplicate of the top hit below a diverse alternative" in {
    import spark.implicits._
    def vec(x: Float, y: Float): Array[Float] = {
      val v = new Array[Float](64)
      v(0) = x; v(1) = y
      v
    }
    // query q points along +x; 10 and 12 are MIRRORED equally-relevant
    // hits (tie on sim -> 10 first by id), 11 a near-clone of 10 with
    // slightly lower relevance. Pure relevance ranks (10, 11, 12);
    // MMR must rank (10, 12, 11): 11's redundancy penalty against the
    // selected 10 (cos ~ 1) loses to 12's (cos 0.6 across the mirror),
    // 0.7*0.890 - 0.3*1.0 = 0.32 < 0.7*0.894 - 0.3*0.6 = 0.45.
    val emb = Seq(
      (0L, vec(1f, 0f)),
      (10L, vec(0.9f, 0.45f)),
      (11L, vec(0.9f, 0.46f)),
      (12L, vec(0.9f, -0.45f))
    ).toDF("vec_id", "embedding")
    val out = Similarity
      .mmrRerank(emb, emb.filter(col("vec_id") === 0L), pool = 3, m = 3)
      .orderBy(col("rank"))
      .collect()
    out.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(10L, 12L, 11L)
    // rank-1 mmr equals its relevance (no penalty yet; mmr is
    // micro-quantized, relevance grid-9); later picks carry the
    // penalty so mmr < relevance
    out.head.getAs[Double]("mmr") shouldBe out.head.getAs[Double]("relevance") +- 1e-6
    out.tail.foreach { r =>
      r.getAs[Double]("mmr") should be < r.getAs[Double]("relevance")
    }
  }

  "sampleKcenter" should "pick spread-out corners and never both members of a near-dup pair" in {
    import spark.implicits._
    // four far corners + one near-duplicate of corner 0: greedy
    // farthest-point with k=4 must cover the corners and can never
    // spend two picks on the duplicate pair (0, 4)
    def vec(x: Float, y: Float): Array[Float] = {
      val v = new Array[Float](64)
      v(0) = x; v(1) = y
      v
    }
    val emb = Seq(
      (0L, vec(0f, 0f)),
      (1L, vec(100f, 0f)),
      (2L, vec(0f, 100f)),
      (3L, vec(100f, 100f)),
      (4L, vec(0.1f, 0f))
    ).toDF("vec_id", "embedding")
    val picks = Similarity.sampleKcenter(emb, k = 4).collect()
    picks.length shouldBe 4
    val ids = picks.map(_.getAs[Long]("vec_id")).toSet
    (ids.contains(0L) && ids.contains(4L)) shouldBe false
    // the radius curve is non-increasing after the seed
    val radii = picks.filter(!_.isNullAt(2)).map(_.getAs[Double]("dist2"))
    radii.zip(radii.tail).foreach { case (a, b) => b should be <= a }
    // rank 1 is the seed with NULL distance
    picks.find(_.getAs[Long]("rank") == 1L).get.isNullAt(2) shouldBe true
  }

  it should "emit the identical trajectory through the relational large-k path, and degrade gracefully below k" in {
    import spark.implicits._
    def vec(x: Float, y: Float): Array[Float] = {
      val v = new Array[Float](64)
      v(0) = x; v(1) = y
      v
    }
    val emb = Seq(
      (0L, vec(0f, 0f)),
      (1L, vec(100f, 0f)),
      (2L, vec(0f, 100f)),
      (3L, vec(100f, 100f)),
      (4L, vec(0.1f, 0f))
    ).toDF("vec_id", "embedding")
    // literalMax = 0 forces the broadcast selected-set relation path:
    // the values (round-9 distances, min, argmax tie-break) must be
    // bit-identical to the literal path
    val lit4 = Similarity.sampleKcenter(emb, k = 4).collect().map(r => r.toSeq).toVector
    val rel4 =
      Similarity.sampleKcenter(emb, k = 4, literalMax = 0).collect().map(r => r.toSeq).toVector
    rel4 shouldBe lit4
    // k beyond the corpus: stop at the corpus size instead of crashing
    val over = Similarity.sampleKcenter(emb, k = 9).collect()
    over.length shouldBe 5
    // empty corpus: empty trajectory, same schema
    val none = Similarity.sampleKcenter(emb.filter(col("vec_id") < 0L), k = 3)
    none.count() shouldBe 0L
    none.columns.toSeq shouldBe Seq("rank", "vec_id", "dist2")
  }

  "graphBeamTopK" should "recover the exact top-k in a connected-graph regime" in {
    import spark.implicits._
    // 12 near-collinear 64-dim vectors: every pair's cosine is high and
    // all share the 4-hyperplane bucket signature, so the mined kNN
    // graph is dense and 3 beam hops from the hash-pinned entries reach
    // the whole set — beam retrieval must equal the exact baseline.
    val base = Array.tabulate(64)(d => 1.0f + 0.01f * d)
    val emb = (0L until 12L)
      .map { i =>
        val v = base.clone()
        v((i % 8).toInt) = v((i % 8).toInt) + 0.05f * (i + 1)
        (i, v)
      }
      .toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 3)
    val got = Similarity
      .graphBeamTopK(emb, queries, k = 3)
      .select("query_id", "rank", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val exact = Similarity
      .bruteForceTopK(emb, queries, k = 3)
      .select("query_id", "rank", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    got shouldBe exact
  }

  it should "never return self and respect the beam contract on real data" in {
    val rows = Similarity.annGraph(spark, sfDir).collect()
    rows.foreach { r =>
      r.getAs[Long]("neighbor_id") should not be r.getAs[Long]("query_id")
      r.getAs[Long]("rank") should be <= 5L
      math.abs(r.getAs[Double]("cosine")) should be <= 1.0 + 1e-9
    }
    // every query produces a full or partial ranking starting at 1
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      g.map(_.getAs[Long]("rank")).min shouldBe 1L
    }
  }

  "annRecallGraph" should "stay inside [0, 1] with the constant k and full query coverage" in {
    val rows = Similarity.annRecallGraph(spark, sfDir).collect()
    rows.length shouldBe 10
    rows.foreach { r =>
      r.getAs[Long]("k") shouldBe 5L
      r.getAs[Long]("n_hit") should be >= 0L
      r.getAs[Long]("n_hit") should be <= 5L
      r.getAs[Double]("recall") should (be >= 0.0 and be <= 1.0)
    }
  }

  "annRecallIvfPq" should "stay inside [0, 1] with the constant k and full query coverage" in {
    val rows = Similarity.annRecallIvfPq(spark, sfDir).collect()
    rows.length shouldBe 10
    rows.foreach { r =>
      r.getAs[Long]("k") shouldBe 5L
      r.getAs[Long]("n_hit") should be <= 5L
      val rec = r.getAs[Double]("recall")
      rec should be >= 0.0
      rec should be <= 1.0
    }
  }
}
