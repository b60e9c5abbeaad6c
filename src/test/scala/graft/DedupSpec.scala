package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  "exact" should "collapse case/whitespace variants keeping the min doc_id" in {
    val docs = Seq(
      (1L, "Hello   World"),
      (2L, "hello world"),
      (3L, "HELLO WORLD  "),
      (4L, "something else")
    ).toDF("doc_id", "text")
    val out = Dedup.exact(docs).orderBy("doc_id").as[(Long, Long)].collect().toList
    out shouldBe List((1L, 3L), (4L, 1L))
  }

  "minhashNearDups" should "recover planted near-duplicates and skip unrelated docs" in {
    val docs = Dedup.withPlantedNearDups(Tables.documents(spark, sfDir))
    val planted = docs
      .filter($"doc_id" >= 1000000L)
      .select(($"doc_id" - 1000000L).as("doc_a"), $"doc_id".as("doc_b"))
      .as[(Long, Long)]
      .collect()
      .toSet
    planted should not be empty

    val found = Dedup
      .minhashNearDups(docs, w = 3, tau = 0.5)
      .select($"doc_a", $"doc_b")
      .as[(Long, Long)]
      .collect()
      .toSet

    // every planted pair (first-2-words-dropped copy) must be found
    planted.subsetOf(found) shouldBe true
  }

  "minhashJaccard" should "score every candidate pair with the exact Jaccard of its string shingle sets" in {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 40).map(i => s"w$i")
    val base = (0 until 12).map(i => i.toLong -> Seq.fill(20)(vocab(rnd.nextInt(vocab.size))))
    // planted near-dups: the last word swapped, or the last two dropped
    val near = base.take(8).map { case (id, ws) =>
      (id + 100L) -> (if (id % 2 == 0) ws.updated(19, "swapped") else ws.dropRight(2))
    }
    val texts: Seq[(Long, String)] = (base ++ near).map { case (id, ws) => id -> ws.mkString(" ") } ++ Seq(
      200L -> "",
      201L -> "   ",
      202L -> "?!",
      203L -> "?! ",
      204L -> null
    )
    val docs = texts.toDF("doc_id", "text")
    val sets = docs
      .select($"doc_id", Dedup.shingles(3).as("sh"))
      .as[(Long, Option[Seq[String]])]
      .collect()
      .collect { case (id, Some(sh)) => id -> sh.toSet }
      .toMap
    def jaccard(a: Long, b: Long): Double = {
      val inter = (sets(a) & sets(b)).size
      val union = sets(a).size + sets(b).size - inter
      if (union > 0) inter.toDouble / union else 1.0
    }
    val got = Dedup.minhashJaccard(docs).as[(Long, Long, Double)].collect().toSeq
    got.map(p => (p._1, p._2)).distinct should have length got.length.toLong
    got.foreach { case (a, b, j) =>
      withClue(s"pair ($a, $b):") { j shouldBe jaccard(a, b) }
    }
    val found = got.map(p => (p._1, p._2) -> p._3).toMap
    // whitespace-only docs normalize to "" (one empty shingle each),
    // punctuation-only ones to "?!": exact duplicates, Jaccard 1.0
    found((200L, 201L)) shouldBe 1.0
    found((202L, 203L)) shouldBe 1.0
    base.take(8).foreach { case (id, _) => found.keySet should contain((id, id + 100L)) }
    got.exists(p => p._1 == 204L || p._2 == 204L) shouldBe false
    got.exists(p => p._3 < 1.0) shouldBe true
  }

  "containmentNearDups" should "catch a subsumption pair whose Jaccard is far below the MinHash gate" in {
    // doc 2 = the first third of doc 1 (12 of 36 words): Jaccard ~ 1/3
    // but containment C(2,1) = 1.0 — exactly what the operator exists
    // to find. doc 3 is unrelated filler.
    val long = (1 to 36).map(i => s"w$i").mkString(" ")
    val prefix = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, long),
      (2L, prefix),
      (3L, "entirely different content with no overlap at all here now today")
    ).toDF("doc_id", "text")
    val got = Dedup
      .containmentNearDups(docs, w = 3, tau = 0.9, maxDf = 64)
      .orderBy("doc_a", "doc_b")
      .as[(Long, Long, Double, Double)]
      .collect()
      .toList
    // doc 2 has 10 shingles, all inside doc 1's 34 -> cont_a(1) = 10/34
    // below tau, cont_b(2) = 1.0 above it
    got shouldBe List((1L, 2L, math.round(10.0 / 34.0 * 1e6) / 1e6, 1.0))
    // symmetric Jaccard on the same pair stays under the 0.5 gate
    (10.0 / 34.0) should be < 0.5
  }

  it should "still catch tiny duplicates under the adaptive shared-shingle gate" in {
    // a 2-word doc has exactly ONE whole-text shingle, so the
    // candidate gate must relax to min(minShared, |A|, |B|) = 1 —
    // a fixed >= 3 would silently drop every tiny duplicate
    val docs = Seq(
      (1L, "hello world"),
      (2L, "hello world"),
      (3L, "entirely unrelated words")
    ).toDF("doc_id", "text")
    val got = Dedup
      .containmentNearDups(docs, w = 3, tau = 0.9, maxDf = 64)
      .as[(Long, Long, Double, Double)]
      .collect()
      .toList
    got shouldBe List((1L, 2L, 1.0, 1.0))
  }

  it should "admit nothing from a corpus-common shingle (counted-df cap)" in {
    // every doc shares the same boilerplate 3 words, plus unique tails
    // with no 3-shingle overlap: with maxDf below the corpus size the
    // boilerplate shingle is inadmissible, so NO pairs form at all
    val docs = (1L to 8L)
      .map(i => (i, s"common boiler plate unique${i}a unique${i}b unique${i}c unique${i}d"))
      .toDF("doc_id", "text")
    Dedup.containmentNearDups(docs, w = 3, tau = 0.5, maxDf = 4).count() shouldBe 0L
  }

  "exactByHash" should "produce identical groups to text-keyed exact dedup" in {
    val docs = Tables.documents(spark, sfDir)
    val byText = Dedup.exact(docs).orderBy("doc_id").as[(Long, Long)].collect().toList
    val byHash = Dedup.exactByHash(docs).orderBy("doc_id").as[(Long, Long)].collect().toList
    byHash shouldBe byText
  }

  "prefixDedup" should "merge appended-footer variants that exact dedup keeps apart" in {
    val lead = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, lead),
      (2L, lead + " extra appended footer text"), // same 50-word lead
      (3L, "completely different " + lead), // shifted lead -> own group
      (4L, lead) // exact copy of 1
    ).toDF("doc_id", "text")
    val rows = Dedup.prefixDedup(docs).orderBy($"doc_id").collect()
    rows should have length 2
    // group {1,2,4}: three copies, TWO distinct full texts -> fuzzy catch
    rows(0).getAs[Long]("doc_id") shouldBe 1L
    rows(0).getAs[Long]("n_copies") shouldBe 3L
    rows(0).getAs[Long]("n_distinct_full") shouldBe 2L
    rows(0).getAs[Boolean]("fuzzy_only") shouldBe true
    rows(1).getAs[Long]("doc_id") shouldBe 3L
    rows(1).getAs[Boolean]("fuzzy_only") shouldBe false
    // exact dedup on the same corpus misses the footer variant: 3 groups
    Dedup.exact(docs).count() shouldBe 3L
  }

  "crossSourceExactDups" should "report every planted cross-source mirror" in {
    // planted mirrors are a GUARANTEED subset; larger scale factors
    // also ship naturally-occurring cross-source dup groups, which the
    // operator must (and does) report too
    val planted = Tables
      .documents(spark, sfDir)
      .filter($"doc_id" % 7 === 0)
      .select($"doc_id")
      .as[Long]
      .collect()
      .toSet
    planted should not be empty
    val got = Dedup
      .dedupCrossSource(spark, sfDir)
      .as[(Long, Long, Long)]
      .collect()
    planted.subsetOf(got.map(_._1).toSet) shouldBe true
    got.foreach { case (_, nCopies, nSources) =>
      nCopies should be >= 2L
      nSources should be >= 2L
    }
  }

  "connectedComponents" should "collapse a planted chain a~b~c to one survivor" in {
    // pairs (1,2),(2,3) form one component even though (1,3) was never
    // mined; (10,11) is its own cluster
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup
      .clustersWithSurvivors(pairs)
      .orderBy("doc_id")
      .as[(Long, Long, Boolean)]
      .collect()
      .toList
    got shouldBe List(
      (1L, 1L, true),
      (2L, 1L, false),
      (3L, 1L, false),
      (10L, 10L, true),
      (11L, 10L, false)
    )
  }

  it should "return an empty labeling for an empty pair set without spinning rounds" in {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    Dedup.clustersWithSurvivors(empty).count() shouldBe 0L
  }

  "spanDupStats" should "score shared word spans without whole-doc duplication" in {
    // doc 1 and 2 share one 5-word span (boilerplate) inside otherwise
    // different text; doc 3 shares nothing
    val boiler = "all rights reserved by the"
    val docs = Seq(
      (1L, s"alpha beta gamma $boiler delta epsilon"),
      (2L, s"one two three four $boiler nine ten"),
      (3L, "completely different words with no overlap here at all")
    ).toDF("doc_id", "text")
    val got = Dedup
      .spanDupStats(docs, w = 5)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)]
      .collect()
      .toList
    // the shared GRAM is the exact 5-word boiler window, present in
    // both docs; every other window mixes in surrounding words
    got.head._2 shouldBe 6L // doc 1: 10 words -> 6 grams
    got.head._3 shouldBe 1L
    got(1)._2 shouldBe 7L // doc 2: 11 words -> 7 grams
    got(1)._3 shouldBe 1L
    got(2)._3 shouldBe 0L // doc 3: nothing shared
    got.head._4 shouldBe (1.0 / 6.0 +- 1e-6) // rounded to 6 decimals
  }

  "pageRank" should "rank a star's hub above its leaves and keep total mass 1" in {
    // star: hub 1 paired with leaves 2..6; undirected, d=0.85, 8 iters
    val pairs = (2L to 6L).map(l => (1L, l)).toDF("doc_a", "doc_b")
    val got = Dedup
      .pageRank(pairs)
      .orderBy("doc_id")
      .as[(Long, Long, Double)]
      .collect()
      .toList
    got.map(_._1) shouldBe (1L to 6L).toList
    got.head._2 shouldBe 5L // hub degree
    val hub = got.head._3
    got.tail.foreach { case (_, d, r) =>
      d shouldBe 1L
      hub should be > r * 2 // hub dominates every leaf
      r shouldBe got(1)._3 // leaves are symmetric
    }
    // power iteration preserves total probability mass
    got.map(_._3).sum shouldBe (1.0 +- 1e-4)
  }

  it should "give uniform rank on a symmetric cycle" in {
    val n = 5L
    val pairs = (1L to n).map(i => (i, i % n + 1)).map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toDF("doc_a", "doc_b")
    val ranks = Dedup.pageRank(pairs).select("pagerank").as[Double].collect()
    ranks.foreach(_ shouldBe (1.0 / n +- 1e-9))
  }

  "connectedComponents" should "converge on a 1000-deep chain inside its default maxIter" in {
    // a path has diameter n: plain min-label would need ~1000 rounds.
    // With the pointer jump a label travels 2d + 1 hops per round
    // (1, 3, 7, ..., 1023), so round 9 settles the chain and round 10
    // witnesses it: 11 rounds counting round 0, well inside the
    // default maxIter = 25
    val n = 1000
    val pairs = (0 until n).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    labels.size shouldBe n + 1
    labels.values.toSet shouldBe Set(0L)
    Dedup.connectedComponents(pairs, maxIter = 11).count() shouldBe n + 1L
    an[IllegalStateException] should be thrownBy Dedup.connectedComponents(pairs, maxIter = 10)
  }

  it should "agree with a driver-side union-find on seeded random graphs with self-pairs" in {
    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    Seq(0xdeadbeefL, 42L, 7919L).foreach { start =>
      var seed = start
      def next(m: Int): Int = {
        seed = seed * 6364136223846793005L + 1442695040888963407L
        (((seed >>> 33) % m) + m).toInt % m
      }
      // random self-pairs stay in; 99 is seen only in a self-pair
      val pairs = (0 until 120).map(_ => (next(60).toLong, next(60).toLong)) :+ ((99L, 99L))
      val labels = Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b")).as[(Long, Long)].collect()
      labels.map(_._1).distinct.length shouldBe labels.length
      labels.toMap shouldBe unionFind(pairs)
      labels.toMap.apply(99L) shouldBe 99L
    }
  }

  it should "label every mined pair's docs on real data with min-id clusters" in {
    val pairs = Dedup
      .minhashNearDups(Dedup.withPlantedNearDups(Tables.documents(spark, sfDir)), w = 3, tau = 0.5)
      .select($"doc_a", $"doc_b")
    val labels = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    val p = pairs.as[(Long, Long)].collect()
    p should not be empty
    // both ends labeled, same cluster, cluster <= both members
    p.foreach { case (a, b) =>
      labels(a) shouldBe labels(b)
      labels(a) should be <= math.min(a, b)
    }
  }

  "dedup_clusters_star" should "keep a doc seen only in a self-pair as its own singleton, like dedup_clusters" in {
    // seed the shared mined-pair intermediate of a fresh dir, so both
    // registry ids read these pairs instead of mining a corpus
    val dir = java.nio.file.Files.createTempDirectory("self-pair").toFile
    dir.deleteOnExit()
    operators.Intermediates.getOrBuild(spark, "mined_jaccard", Tables.canonDir(dir.getPath)) {
      Seq((1L, 2L, 0.9), (2L, 3L, 0.8), (7L, 7L, 1.0)).toDF("doc_a", "doc_b", "jaccard")
    }
    def run(id: String) = SparkEntry.queries(id)(spark, dir.getPath).as[(Long, Long, Boolean)].collect().sorted.toList
    run("dedup_clusters_star") shouldBe List((1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (7L, 7L, true))
    run("dedup_clusters") shouldBe run("dedup_clusters_star")
  }

  "simhashNearDups" should "find planted near-duplicates within hamming 3" in {
    val docs = Dedup.withPlantedNearDups(Tables.documents(spark, sfDir))
    val planted = docs
      .filter($"doc_id" >= 1000000L)
      .select(($"doc_id" - 1000000L).as("doc_a"), $"doc_id".as("doc_b"))
      .as[(Long, Long)]
      .collect()
      .toSet

    val found = Dedup
      .simhashNearDups(docs, maxHamming = 3)
      .select($"doc_a", $"doc_b")
      .as[(Long, Long)]
      .collect()
      .toSet

    // simhash is lossier than minhash; most planted pairs must surface
    val recall = planted.count(found.contains).toDouble / planted.size
    recall should be >= 0.5
  }

  "ngramJaccard" should "score identical docs 1.0 and disjoint docs near 0" in {
    val docs = Seq(
      (1L, "abcdefgh"),
      (2L, "abcdefgh"),
      (3L, "zzzzyyyy")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup
      .ngramJaccard(docs, pairs, n = 3)
      .orderBy("doc_b")
      .as[(Long, Long, Double)]
      .collect()
      .toList
    out.head._3 shouldBe 1.0
    out(1)._3 should be < 0.1
  }

  "embedNearDupsBlocked" should "return a pure subset of the exact pairs with usable recall" in {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Dedup
      .embedNearDups(emb, tau = 0.3)
      .select($"id_a", $"id_b", $"cosine")
      .as[(Long, Long, Double)]
      .collect()
      .map { case (a, b, c) => (a, b) -> c }
      .toMap
    val blocked = Dedup
      .embedNearDupsBlocked(emb, tau = 0.3, planes = 2)
      .select($"id_a", $"id_b", $"cosine")
      .as[(Long, Long, Double)]
      .collect()
    blocked.length should be > 0
    // precision 1.0: every blocked pair is an exact pair with the same cosine
    blocked.foreach { case (a, b, c) => exact((a, b)) shouldBe c }
    // recall: 2 planes + 1-bit probes keeps 1-(1-p)^2 of pairs,
    // p = 1 - θ/π ≈ .6-.7 at τ=0.3 — comfortably above half
    blocked.length.toDouble / exact.size should be >= 0.5
  }

  "embedNearDups" should "match a driver-side brute force on real embeddings" in {
    val emb = Tables.embeddings(spark, sfDir)
    val got = Dedup
      .embedNearDups(emb, tau = 0.3)
      .select($"id_a", $"id_b")
      .as[(Long, Long)]
      .collect()
      .toSet

    val vecs = emb
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
      .as[(Long, Seq[Double])]
      .collect()
      .sortBy(_._1)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val exp = (for {
      (ia, va) <- vecs
      (ib, vb) <- vecs if ia < ib && cos(va, vb) >= 0.3
    } yield (ia, ib)).toSet

    got shouldBe exp
  }

  "sizeReport" should "histogram cluster sizes and count singletons so docs sum to the corpus" in {
    import spark.implicits._
    // 10-doc corpus; clusters {1,2,3} and {5,6}; 5 docs in no cluster
    val corpus = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "cluster")
    val rows = Dedup
      .sizeReport(corpus, labels)
      .orderBy("cluster_size")
      .as[(Long, Long, Long, Long)]
      .collect()
    rows shouldBe Array((1L, 5L, 5L, 0L), (2L, 1L, 2L, 1L), (3L, 1L, 3L, 2L))
    // invariant: n_docs sums to the corpus, removals = docs - clusters
    rows.map(_._3).sum shouldBe 10L
  }

  "trainDedupWeights" should "split each cluster's unit mass among its copies and cover the corpus" in {
    val rows = Dedup.trainDedupWeights(spark, sfDir).collect()
    // one weight row per corpus doc (incl. the planted mirrors)
    rows.length.toLong shouldBe Dedup
      .withPlantedNearDups(Tables.documents(spark, sfDir)).count()
    // every cluster's weights sum to exactly 1 (unit content mass)
    rows.groupBy(_.getAs[Long]("cluster")).foreach { case (_, rs) =>
      val sz = rs.head.getAs[Long]("cluster_size")
      rs.length shouldBe sz.toInt
      rs.map(_.getAs[Double]("weight")).sum shouldBe 1.0 +- 1e-6
    }
    // singletons keep full weight; every clustered doc is downweighted
    rows.foreach { r =>
      if (r.getAs[Long]("cluster_size") == 1L) r.getAs[Double]("weight") shouldBe 1.0
      else r.getAs[Double]("weight") should be < 1.0
    }
  }

  "bloomCrossDups" should "return exactly the true members, no Bloom false positives" in {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = (1L to 200L).map(i => (i, s"base document number $i with payload")).toDF("doc_id", "text")
    val dups = (1L to 200L by 10).map(i => (1000L + i, s"base document number $i with payload"))
    val fresh = (1L to 50L).map(i => (2000L + i, s"totally novel text $i"))
    val incoming = (dups ++ fresh).toDF("doc_id", "text")
    val got = Dedup.bloomCrossDups(base, incoming).as[Long].collect().sorted
    got shouldBe dups.map(_._1).toArray
  }

  it should "prune non-members at the probe with a tiny sketch" in {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = (1L to 500L).map(i => (i, s"member text $i")).toDF("doc_id", "text")
    val incoming = (1L to 500L).map(i => (5000L + i, s"outsider text $i")).toDF("doc_id", "text")
    val bloom = Dedup.bloomBuild(base, xxhash64(lower(col("text"))), expectedItems = 1000L, numBits = 1L << 16)
    val survivors = incoming.filter(Dedup.bloomMight(bloom, xxhash64(lower(col("text"))))).count()
    // fpp at 64 Kib for 500 items is far below 1% — the probe must
    // drop essentially everything before any join forms
    survivors should be < 25L
    // sketch size is the configured bits, independent of corpus size
    bloom.length should be < (1 << 16) / 8 + 64
  }

  "boilerplateReport" should "surface the planted license block ranked by document frequency" in {
    val boiler = "all rights reserved by the author"
    val docs = Seq(
      (1L, s"alpha beta gamma delta $boiler"),
      (2L, s"one two three four five $boiler"),
      (3L, s"six seven eight nine ten $boiler"),
      (4L, "entirely different words with no overlap here at all today")
    ).toDF("doc_id", "text")
    val rows = Dedup
      .boilerplateReport(docs, w = 5, minDf = 2, k = 10)
      .collect()
    rows should not be empty
    // every reported gram must come from the boiler span, df = 3
    val boilerWords = boiler.split(" ").toSet
    rows.foreach { r =>
      r.getAs[Long]("df") shouldBe 3L
      r.getAs[String]("gram").split(" ").toSet.subsetOf(boilerWords) shouldBe true
      r.getAs[Double]("doc_frac") shouldBe 0.75
    }
    // "all rights reserved by the" and "rights reserved by the author"
    rows.length shouldBe 2
  }

  "lshTuningCurve" should "trace a monotone S-curve consistent with the mined histogram" in {
    val rows = Dedup
      .dedupTuning(spark, sfDir)
      .orderBy("bin")
      .collect()
    rows.length shouldBe 20
    val ps = rows.map(_.getAs[Double]("p_theory"))
    ps.zip(ps.tail).foreach { case (a, b) => b should be >= a } // monotone
    ps.head should be < 0.001 // j≈0.025: virtually never a candidate
    ps.last should be > 0.999 // j≈0.975: virtually always
    rows.foreach { r =>
      r.getAs[Long]("n_verified") should be <= r.getAs[Long]("n_cand_pairs")
      if (r.getAs[Long]("bin") < 10) r.getAs[Long]("n_verified") shouldBe 0L
    }
    // the planted mirrors guarantee mined mass above the τ bin
    rows.filter(_.getAs[Long]("bin") >= 10).map(_.getAs[Long]("n_verified")).sum should be > 0L
  }

  "triangleStats" should "count triangles once per node and derive the clustering coefficient" in {
    // triangle {1,2,3} plus a pendant edge 3-4
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val rows = Dedup
      .triangleStats(pairs)
      .orderBy("doc_id")
      .collect()
      .map(r =>
        (
          r.getAs[Long]("doc_id"),
          r.getAs[Long]("degree"),
          r.getAs[Long]("n_triangles"),
          r.getAs[Double]("clustering")
        )
      )
      .toList
    rows shouldBe List(
      (1L, 2L, 1L, 1.0), // both neighbors connected: coefficient 1
      (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 0.333333), // 1 of 3 possible neighbor pairs closed
      (4L, 1L, 0L, 0.0) // pendant: no triangles, degree 1 => 0 by convention
    )
  }

  "degreeAssortativity" should "score a star -1, a clique NULL, and match the naive Pearson on a mixed graph" in {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("doc_a", "doc_b")
    val s = Dedup.degreeAssortativity(star).collect().head
    s.getAs[Long]("n_edges") shouldBe 4L
    s.getAs[Double]("assortativity") shouldBe (-1.0 +- 1e-6)
    // 4-clique: degree-regular -> zero degree variance -> NULL
    val clique = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
      .toDF("doc_a", "doc_b")
    val c = Dedup.degreeAssortativity(clique).collect().head
    c.isNullAt(c.fieldIndex("assortativity")) shouldBe true
    // mixed graph vs an in-test naive Pearson over both orientations
    val mixed = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L), (4L, 0L))
      .toDF("doc_a", "doc_b")
    val m = Dedup.degreeAssortativity(mixed).collect().head
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L), (4L, 0L))
    val dir = und ++ und.map(_.swap)
    val degm = dir.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    val xs = dir.map(e => degm(e._1))
    val ys = dir.map(e => degm(e._2))
    val n = xs.size.toDouble
    val mu = xs.sum / n
    val covN = (xs zip ys).map { case (x, y) => x * y }.sum / n - mu * mu
    val varN = xs.map(x => x * x).sum / n - mu * mu
    m.getAs[Double]("assortativity") shouldBe (covN / varN +- 1e-5)
    m.getAs[Double]("mean_degree") shouldBe (mu +- 1e-6)
    m.getAs[Long]("n_edges") shouldBe 6L
  }

  "kcoreness" should "reach the exact coreness on canonical graphs within the fixed rounds" in {
    // triangle {0,1,2} with tail 2-3: coreness 2,2,2 and 1 at the tail
    val triTail = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val t = Dedup.kcoreness(triTail).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("coreness")).toMap
    t shouldBe Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 1L)
    // 4-clique: every node coreness 3
    val clique = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
      .toDF("doc_a", "doc_b")
    Dedup.kcoreness(clique).collect()
      .map(_.getAs[Long]("coreness")).toSeq shouldBe Seq.fill(4)(3L)
    // star: the hub's h-index collapses from degree 4 to 1 in one round
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("doc_a", "doc_b")
    val s = Dedup.kcoreness(star).collect()
    s.map(_.getAs[Long]("coreness")).distinct.toSeq shouldBe Seq(1L)
    s.find(_.getAs[Long]("doc_id") == 0L).get.getAs[Long]("degree") shouldBe 4L
    // coreness never exceeds degree on a mixed graph
    val mixed = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L), (4L, 0L))
      .toDF("doc_a", "doc_b")
    Dedup.kcoreness(mixed).collect().foreach { r =>
      r.getAs[Long]("coreness") should be <= r.getAs[Long]("degree")
      r.getAs[Long]("coreness") should be >= 1L
    }
  }

  "labelPropagation" should "settle each clique on its minimum id and keep a one-edge bridge from merging them" in {
    // two cliques {0,1,2,3} and {10,11,12} joined by the single bridge
    // 3-10: connected components would merge them; LPA majorities must
    // not (every bridge endpoint has more in-clique neighbors)
    val clique1 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val clique2 = Seq((10L, 11L), (10L, 12L), (11L, 12L))
    val pairs = (clique1 ++ clique2 :+ (3L, 10L)).toDF("doc_a", "doc_b")
    val out = Dedup
      .labelPropagation(pairs)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("community"), r.getAs[Long]("community_size")))
      .toMap
    Seq(0L, 1L, 2L, 3L).foreach { n => out(n) shouldBe ((0L, 4L)) }
    // the bridge leaks label "3" into the small clique as an
    // IDENTIFIER (round-1 tie-breaks), but the grouping is right:
    // three nodes, none of them in community 0
    Seq(10L, 11L, 12L).foreach { n => out(n) shouldBe ((3L, 3L)) }
    // deterministic across runs (synchronous rounds, integer tie-breaks)
    val again = Dedup
      .labelPropagation(pairs)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("community"), r.getAs[Long]("community_size")))
      .toMap
    again shouldBe out
  }

  "dedupImpact" should "charge duplicate docs and tokens to the source that carries them" in {
    val docs = Seq(
      (1L, "x y", "a"), // survivor of the x-y group (min doc_id)
      (2L, "x  Y", "a"), // same after normalization → dup
      (3L, "z", "a"),
      (4L, "x y", "b") // cross-source dup of 1
    ).toDF("doc_id", "text", "source")
    val got = graft.operators.Dedup
      .dedupImpact(docs)
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Double)]
      .collect()
      .toList
    got shouldBe List(
      ("a", 3L, 1L, 5L, 2L, 0.4),
      ("b", 1L, 1L, 2L, 2L, 1.0)
    )
  }

  "neighborJaccard" should "score shared-neighbor pairs and flag the miner's missed links" in {
    // triangle 1-2-3 plus pendant 3-4: (1,4) and (2,4) share neighbor
    // 3 without being edges — the "missed near-dup" signal
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val got = graft.operators.Dedup
      .neighborJaccard(pairs)
      .orderBy("doc_a", "doc_b")
      .as[(Long, Long, Long, Long, Long, Double, Boolean)]
      .collect()
      .toList
    got shouldBe List(
      // (1,2): common {3}, degrees 2,2 → 1/3, existing edge
      (1L, 2L, 1L, 2L, 2L, 0.333333, true),
      // (1,3): common {2}, degrees 2,3 → 1/4
      (1L, 3L, 1L, 2L, 3L, 0.25, true),
      // (1,4): common {3}, degrees 2,1 → 1/2, NOT an edge
      (1L, 4L, 1L, 2L, 1L, 0.5, false),
      (2L, 3L, 1L, 2L, 3L, 0.25, true),
      (2L, 4L, 1L, 2L, 1L, 0.5, false)
    )
  }

  "passageDedup" should "remove repeated tiles keeping the first (doc_id, tile_idx) occurrence" in {
    val tileA = (1 to 20).map(i => s"a$i").mkString(" ")
    val tileB = (1 to 20).map(i => s"b$i").mkString(" ")
    val tileC = (1 to 20).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"$tileA $tileB"), // both tiles are the corpus-first occurrences
      (2L, s"$tileA $tileC"), // tile 0 duplicates doc 1 tile 0 -> removed
      (3L, s"$tileB $tileB"), // internal repeat: both dup doc 1 tile 1 -> both removed
      (4L, "tiny doc under twenty words") // one partial tile, unique
    ).toDF("doc_id", "text")
    val out = Dedup
      .passageDedup(docs)
      .orderBy("doc_id")
      .select($"doc_id", $"n_tiles", $"n_dup_tiles", $"n_removed", $"keep_frac")
      .as[(Long, Long, Long, Long, Double)]
      .collect()
      .toList
    out shouldBe List(
      (1L, 2L, 2L, 0L, 1.0),
      (2L, 2L, 1L, 1L, 0.5),
      (3L, 2L, 2L, 2L, 0.0),
      (4L, 1L, 0L, 0L, 1.0)
    )
  }


  "sourceOverlap" should "report pairwise shingle Jaccard and containment across sources" in {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6", "a"), // grams: w1..w5, w2..w6
      (2L, "w1 w2 w3 w4 w5 x", "b"),  // grams: w1..w5, w2..x -> shares 1 of 2
      (3L, "z1 z2", "c")               // short-doc whole-text shingle, disjoint
    ).toDF("doc_id", "text", "source")
    val out = Dedup
      .sourceOverlap(docs)
      .select($"src_a", $"src_b", $"n_a", $"n_b", $"n_common", $"jaccard", $"containment")
      .as[(String, String, Long, Long, Long, Double, Double)]
      .collect()
      .toList
    out shouldBe List(("a", "b", 2L, 2L, 1L, 0.333333, 0.5))
  }


  "exactSubstrSpans" should "merge duplicated window runs into maximal spans and split across gaps" in {
    import spark.implicits._
    // shared 5-word run "a b c d e" sits at tokens 3..7 of doc 1 and
    // 1..5 of doc 2; with w=3 its covering windows (and only those)
    // are duplicated, so each doc reports ONE merged span
    val docs = Seq(
      (1L, "x1 x2 a b c d e y1 y2"),
      (2L, "a b c d e z1 z2"),
      // "a b c" appears twice in doc 3 (tokens 1..3 and 9..11), more
      // than w apart: two islands, not one
      (3L, "a b c q1 q2 q3 q4 q5 a b c"),
      // no duplicated window at all: no rows
      (4L, "u1 u2 u3 u4 u5 u6")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .exactSubstrSpans(docs, w = 3)
      .orderBy("doc_id", "span_start")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_tokens"), r.getAs[Long]("n_windows")))
      .toList
    out shouldBe List(
      (1L, 3L, 7L, 5L, 3L),
      (2L, 1L, 5L, 5L, 3L),
      (3L, 1L, 3L, 3L, 1L),
      (3L, 9L, 11L, 3L, 1L)
    )
  }

  it should "gate pair work on the counted 8-byte hash key (no window text past the exchange)" in {
    // plan hygiene: the only exchange keys upstream of the island
    // window are the hash aggregation/join and the doc_id window —
    // the window STRING never shuffles
    val df = graft.operators.Dedup.dedupSubstr(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    plan should include("hashpartitioning")
    plan shouldNot include("hashpartitioning(__tile")
  }


  "exactSubstrImpact" should "roll the span report up to the hand-computed removal budget" in {
    import spark.implicits._
    val docs = Seq(
      (1L, "x1 x2 a b c d e y1 y2"), // 9 tokens, span 3..7 (5 dup)
      (2L, "a b c d e z1 z2"), //        7 tokens, span 1..5 (5 dup)
      (3L, "a b c q1 q2 q3 q4 q5 a b c"), // 11 tokens, two 3-token spans
      (4L, "u1 u2 u3 u4 u5 u6") //      6 tokens, clean
    ).toDF("doc_id", "text")
    val r = graft.operators.Dedup.exactSubstrImpact(docs, w = 3).collect().head
    r.getAs[Long]("n_docs") shouldBe 4L
    r.getAs[Long]("total_tokens") shouldBe 33L
    r.getAs[Long]("docs_with_dups") shouldBe 3L
    r.getAs[Long]("n_spans") shouldBe 4L
    r.getAs[Long]("dup_tokens") shouldBe 16L
    r.getAs[Long]("max_span_tokens") shouldBe 5L
    r.getAs[Double]("dup_token_frac") shouldBe 0.484848
  }

  "sampledCloseness" should "compute pinned-source BFS closeness by hand with the hop cut" in {
    import spark.implicits._
    // chain 1-2-3-4-5-6-7-8-9 plus a disconnected pair (10, 11);
    // pinned sources = the 4 smallest nodes {1, 2, 3, 4}
    val chain = (1L to 8L).map(i => (i, i + 1))
    val pairs = (chain :+ (10L, 11L)).toDF("doc_a", "doc_b")
    val out = graft.operators.Dedup
      .sampledCloseness(pairs, nSources = 4, maxHops = 6)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_reached"), r.getAs[Long]("sum_dist"), r.getAs[Double]("closeness")))
      .toMap
    out(1L) shouldBe ((3L, 6L, 0.5)) // d to 2,3,4 = 1,2,3
    out(2L) shouldBe ((3L, 4L, 0.75))
    out(5L) shouldBe ((4L, 10L, 0.4)) // 4+3+2+1
    // node 9: d from sources 1..4 = 8,7,6,5 — hops 8 and 7 are cut at
    // maxHops=6, so only sources 3 and 4 reach it
    out(9L) shouldBe ((2L, 11L, 0.181818))
    // disconnected from every source: zero closeness, not NULL
    out(10L) shouldBe ((0L, 0L, 0.0))
    out(11L) shouldBe ((0L, 0L, 0.0))
  }

  "sampledBetweenness" should "accumulate Brandes dependencies on a path by hand" in {
    import spark.implicits._
    // path 1-2-3-4-5, sources {1,2,3,4}: delta sums per node over
    // sources (excluding self) are 0, 5, 6, 3, 0 -> halved
    val pairs = (1L to 4L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = graft.operators.Dedup
      .sampledBetweenness(pairs, nSources = 4, maxHops = 6)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("betweenness"))
      .toMap
    out(1L) shouldBe 0.0
    out(2L) shouldBe 2.5
    out(3L) shouldBe 3.0
    out(4L) shouldBe 1.5
    out(5L) shouldBe 0.0
  }

  it should "split path counts through a diamond (sigma > 1)" in {
    import spark.implicits._
    // square 1-2-4, 1-3-4: every node carries half a path from each of
    // two opposite sources -> bc = (0.5 + 0.5) / 2 = 0.5 for all four
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("doc_a", "doc_b")
    val out = graft.operators.Dedup
      .sampledBetweenness(pairs, nSources = 4, maxHops = 6)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("betweenness"))
      .toMap
    Seq(1L, 2L, 3L, 4L).foreach { n => out(n) shouldBe 0.5 }
  }
}
