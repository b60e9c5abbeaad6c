package graft

import graft.operators.{Curation, Dedup, Similarity, Tokenizer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  /** The pins a result reads: the `LogicalRDD` leaves of its plan. */
  private def reads(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collectWithSubqueries { case lr: LogicalRDD => lr.rdd.id }.toSet

  /** RDDs a run leaves persisted in the context while its result is
    * still reachable (unpersisted again afterwards so no spec sees
    * another's blocks); they must be exactly the ones the result reads.
    */
  private def pinned(run: => DataFrame): Int = pinnedAll(Seq(run))

  private def pinnedAll(run: => Seq[DataFrame]): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = run
    out.foreach(_.count())
    val grown = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    val read = out.flatMap(reads).toSet
    java.lang.ref.Reference.reachabilityFence(out)
    grown.values.foreach(_.unpersist(blocking = true))
    grown.keySet shouldBe read
    grown.size
  }

  private val docs = Seq("lower lowest newer newest wider widest", "slower slowest", "low new wide")
    .zipWithIndex
    .map { case (t, i) => (i.toLong, t) }
    .toDF("doc_id", "text")

  // components 1-2-3 (a star on its minimum: one round converges) and 4-5
  private val stars = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
  private val path = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")

  // 12 near-collinear 64-dim vectors sharing one hyperplane bucket
  private val emb = {
    val base = Array.tabulate(64)(d => 1.0f + 0.01f * d)
    (0L until 12L)
      .map { i =>
        val v = base.clone()
        v((i % 8).toInt) = v((i % 8).toInt) + 0.05f * (i + 1)
        (i, v)
      }
      .toDF("vec_id", "embedding")
  }
  private val queries = emb.filter(col("vec_id") < 3)

  "checkpointed round loops" should "free every superseded round, so pinned blocks do not grow with rounds" in {
    pinned(Tokenizer.bpeTrain(docs, 6)._2) shouldBe pinned(Tokenizer.bpeTrain(docs, 2)._2)

    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L)).toDF("doc_a", "doc_b")
    pinned(Dedup.labelPropagation(pairs, 6)) shouldBe pinned(Dedup.labelPropagation(pairs, 2))
  }

  /** Each scoped operator at a small and a large round count. */
  private val loops: Seq[(String, Int => DataFrame)] = Seq(
    "sampledCloseness" -> (r => Dedup.sampledCloseness(path, maxHops = r)),
    "sampledBetweenness" -> (r => Dedup.sampledBetweenness(path, maxHops = r)),
    "graphBeamTopK" -> (r => Similarity.graphBeamTopK(emb, queries, k = 3, hops = r)),
    "mmrRerank" -> (r => Similarity.mmrRerank(emb, queries, pool = 8, m = r)),
    "connectedComponents" -> (r => Dedup.connectedComponents(stars, maxIter = r)),
    "pageRank" -> (r => Dedup.pageRank(stars, iters = r)),
    "kcoreness" -> (r => Dedup.kcoreness(path, rounds = r)),
    "wordpieceTrain" -> (r => Tokenizer.wordpieceTrain(docs, r)._2)
  )

  loops.foreach { case (name, run) =>
    name should "keep exactly the pins its result reads, however many rounds it runs" in {
      pinned(run(6)) shouldBe pinned(run(2))
    }
  }

  /** Entries in the session's cache manager (public in bytecode,
    * private[sql] in Scala).
    */
  private def cacheEntries: Int = {
    val cache = spark.sharedState.cacheManager
    cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int]
  }

  "pageRank" should "leave no entry in the session's cache manager" in {
    val sc = spark.sparkContext
    def entries = cacheEntries
    val before = (sc.getPersistentRDDs.keySet, entries)
    val ranks = Dedup.pageRank(stars)
    ranks.count()
    entries shouldBe before._2
    java.lang.ref.Reference.reachabilityFence(ranks)
    sc.getPersistentRDDs.filter { case (id, _) => !before._1(id) }.values.foreach(_.unpersist(blocking = true))
  }

  // two planted near-dup pairs (0~1, 2~3) and one unrelated doc
  private val nearDocs = Seq(
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "the quick brown fox jumps over the lazy dog near the river bank",
    "a stitch in time saves nine and a penny saved is a penny earned",
    "a stitch in time saves nine and a penny saved is a penny earned twice",
    "nothing here resembles any other document at all"
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  /** Near-dup miners with the pins their results read: the MinHash and
    * SimHash signatures, the blocked miners' bucketed vectors and the
    * semantic dedup's blocked cells; the n-gram verify pins nothing.
    */
  private val miners: Seq[(String, () => DataFrame, Int)] = Seq(
    ("minhashNearDups", () => Dedup.minhashNearDups(nearDocs), 1),
    ("ngramJaccard", () => Dedup.ngramJaccard(nearDocs, Seq((0L, 1L), (2L, 3L), (0L, 4L)).toDF("doc_a", "doc_b")), 0),
    ("simhashNearDups", () => Dedup.simhashNearDups(nearDocs), 1),
    ("embedNearDupsBlocked", () => Dedup.embedNearDupsBlocked(emb, tau = 0.9), 1),
    ("embedNearDupsBlockedAdaptive", () => Dedup.embedNearDupsBlockedAdaptive(emb, tau = 0.9), 1),
    ("semanticDedup", () => Similarity.semanticDedup(emb, k = 2), 1)
  )

  miners.foreach { case (name, run, pins) =>
    name should "leave no cache-manager entry and keep exactly the pins its result reads" in {
      val before = cacheEntries
      pinned {
        val out = run()
        out.count() should be > 0L
        out
      } shouldBe pins
      cacheEntries shouldBe before
    }
  }

  "driver-valued loops" should "leave no persisted RDD and no cache-manager entry" in {
    val sc = spark.sparkContext
    // a k no other case asks for, so the Intermediates entry is built here
    val runs: Seq[(String, () => Any)] = Seq(
      "kmeansCentroids" -> (() => Similarity.kmeansCentroids(emb, k = 5, iters = 2)),
      "pqCodebooks" -> (() => Similarity.pqCodebooks(emb, m = 4, dim = 64, k = 3, iters = 2)),
      "topPrincipalComponent" -> (() => Similarity.topPrincipalComponent(emb, iters = 2).collect()),
      "classifierTrajectory" -> (() =>
        Curation.classifierTrajectory(emb.withColumn("label", (col("vec_id") % 2).cast("int")), epochs = 2).collect())
    )
    runs.foreach { case (name, run) =>
      val before = (sc.getPersistentRDDs.keySet, cacheEntries)
      run()
      withClue(name) {
        (sc.getPersistentRDDs.keySet -- before._1, cacheEntries) shouldBe ((Set.empty, before._2))
      }
    }
  }

  "src/main/scala" should "hold no lazy persist or cache call" in {
    // a lazy cache outlives the call that made it and, under AQE, turns
    // every read into its own table-cache stage; intermediates read
    // more than once are Checkpoints scope pins instead
    val lazyCache = raw"\.persist\(|\.cache\(\)".r
    val files = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    files should not be empty
    val hits = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if lazyCache.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
      }
    }
    hits shouldBe empty
  }

  "unigramTrain" should "keep only the two pins it returns" in {
    pinnedAll { val (n2, enc) = Tokenizer.unigramTrain(docs); Seq(n2, enc) } shouldBe 2
  }

  "connectedComponents" should "free everything it persisted or pinned when it throws" in {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    an[IllegalStateException] should be thrownBy Dedup.connectedComponents(path, maxIter = 2)
    sc.getPersistentRDDs.keySet -- before shouldBe empty
  }

  "scoped results" should "read back twice after their scope has returned" in {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val results = loops.map { case (_, run) => run(2) } ++
      Seq(Tokenizer.bpeTrain(docs, 2)._2, Dedup.labelPropagation(stars, 2)) ++ {
        val (n2, enc) = Tokenizer.unigramTrain(docs); Seq(n2, enc)
      }
    results.foreach { df =>
      val first = df.collect().toSeq
      df.collect().toSeq shouldBe first
    }
    sc.getPersistentRDDs.filter { case (id, _) => !before(id) }.values.foreach(_.unpersist(blocking = true))
  }
}
