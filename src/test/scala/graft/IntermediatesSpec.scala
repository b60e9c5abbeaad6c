package graft

import graft.operators.{Intermediates, Similarity}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The session registry behind every shared intermediate (mined pairs,
  * kNN views, trained tokenizers, ...). The stopped-context eviction is
  * not exercised here: it would need the shared test context stopped.
  */
class IntermediatesSpec extends SparkSpec {

  /** Runs every task on its own thread, released together; fails on a
    * task that has not returned within a minute (a deadlock).
    */
  private def concurrently[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(tasks.size)
    val start = new CountDownLatch(1)
    try {
      val futures = tasks.map { t =>
        pool.submit(new Callable[T] { def call(): T = { start.await(); t() } })
      }
      start.countDown()
      futures.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow(): Unit
  }

  "Intermediates.getOrBuild" should "build one (name, key) once when 8 threads ask at the same time" in {
    val builds = new AtomicInteger
    val values = concurrently(Seq.fill(8) { () =>
      Intermediates.getOrBuild(spark, "spec_concurrent", "k") {
        builds.incrementAndGet()
        Thread.sleep(200)
        new Object
      }
    })
    builds.get shouldBe 1
    values.foreach(_ should be theSameInstanceAs values.head)
  }

  it should "give a new session its own entry" in {
    val builds = new AtomicInteger
    def get(s: org.apache.spark.sql.SparkSession): Int =
      Intermediates.getOrBuild(s, "spec_session", "k")(builds.incrementAndGet())
    val other = spark.newSession()
    get(spark) shouldBe 1
    get(other) shouldBe 2
    get(spark) shouldBe 1
    get(other) shouldBe 2
  }

  it should "retry a build that threw on the next call" in {
    val attempts = new AtomicInteger
    def get(): Int =
      Intermediates.getOrBuild(spark, "spec_throw", "k") {
        if (attempts.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
        attempts.get
      }
    an[IllegalStateException] should be thrownBy get()
    get() shouldBe 2
    get() shouldBe 2
  }

  it should "return from a build that asks for another name" in {
    // the graph-beam → kNN-view shape: the outer build reads an inner
    // entry while other threads ask for the inner and the outer entry
    val innerBuilds = new AtomicInteger
    val outerBuilds = new AtomicInteger
    def inner(): String =
      Intermediates.getOrBuild(spark, "spec_inner", "k") {
        innerBuilds.incrementAndGet()
        Thread.sleep(100)
        "knn"
      }
    def outer(): String =
      Intermediates.getOrBuild(spark, "spec_outer", "k") {
        outerBuilds.incrementAndGet()
        inner() + "+beam"
      }
    concurrently(Seq(() => outer(), () => inner(), () => outer(), () => inner())) shouldBe
      Seq("knn+beam", "knn", "knn+beam", "knn")
    (innerBuilds.get, outerBuilds.get) shouldBe ((1, 1))
  }

  it should "finish a checkpointed build before it returns" in {
    // the build is paid inside getOrBuild, not by the first consumer's
    // action; a directory of its own keeps every entry cold
    val dir = Files.createTempDirectory("graft-intermediates")
    val emb = dir.resolve("embeddings.parquet")
    Files.copy(Paths.get(sfDir, "embeddings.parquet"), emb)
    val d = dir.toString
    try {
      Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "ann_bruteforce" -> (() => Similarity.annBruteforce(spark, d)),
        "knn" -> (() => Similarity.knnFor(spark, d)),
        "knn_coarse" -> (() => Similarity.coarseKnnFor(spark, d)),
        "ann_graph" -> (() => Similarity.annGraph(spark, d))
      ).foreach { case (name, build) =>
        val rdds = build().queryExecution.logical.collect {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
        }
        withClue(name) {
          rdds should not be empty
          rdds.map(_.isCheckpointed) should contain only true
        }
      }
    } finally {
      Files.delete(emb)
      Files.delete(dir)
    }
  }
}
