package graft.sources

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The at-scale storage layout for an embedding corpus: parquet
  * partitioned by the LSH hyperplane bucket.
  *
  * The bucket id is a pure scan-side expression (signs of dot products
  * against literal hyperplanes — see [[Similarity.hyperplaneBucket]]),
  * so it is derivable AT WRITE TIME: each vector lands in the
  * directory of its own bucket once, and every later ANN probe becomes
  * partition pruning. A multi-probe query touches its base bucket plus
  * the `planes` hamming-1 neighbors — (planes+1) directories out of
  * 2^planes — so a top-k search over a 100 TB corpus lists and reads
  * ~3.5% of the files (planes = 8) before a single row is scored.
  * This is the embedding-table analog of [[TsLayout]]'s channel/day
  * pruning: the index IS the directory structure, no server, no
  * side-file.
  */
object EmbLayout {

  /** Plane count — matches [[Similarity.annLsh]]'s testdata sizing
    * (2^4 buckets for the testdata corpus density) so the layout-served
    * query is value-identical to the flat-table one; larger corpora
    * raise planes to keep per-bucket candidate counts flat, which
    * ALSO sharpens the pruning ratio ((planes+1)/2^planes directories
    * probed).
    */
  val Planes = 4

  /** Marker file recording the plane COUNT a layout was written with
    * (the hyperplane set is the deterministic generator at that count,
    * so the count IS the plane-set identity). Underscore-prefixed, so
    * parquet listing ignores it — the [[TsLayout]] `_graft_bucket_us`
    * discipline: each layout carries its own probe geometry instead of
    * trusting a session-global constant, and mixing plane counts in
    * one session is safe.
    */
  private val PlanesMarker = "_graft_planes"

  /** The plane count recorded in a layout's `_graft_planes` marker,
    * None for markerless paths or a count outside 1..62. The read is
    * cached per layout root.
    */
  def markerPlanes(
    rootPath: String,
    hadoopConf: org.apache.hadoop.conf.Configuration
  ): Option[Int] =
    PartitionedLayouts
      .readMarker(rootPath, PlanesMarker, hadoopConf)
      .flatMap(_.toIntOption)
      .filter(p => p > 0 && p < 63)

  /** One-time write: vectors land in their bucket's directory. One
    * writer task per partition dir (the bucket key is the repartition
    * key); files inside a bucket are sorted by vec_id for stable
    * row-group stats. The plane count is recorded in the layout's
    * `_graft_planes` marker.
    */
  def write(emb: DataFrame, path: String, planes: Int = Planes, dim: Int = 64): Unit = {
    val hp = Similarity.hyperplanes(planes, dim)
    emb
      .withColumn("p_bucket", Similarity.hyperplaneBucket(col("embedding"), hp))
      .repartition(col("p_bucket"))
      .sortWithinPartitions(col("p_bucket"), col("vec_id"))
      .write
      .partitionBy("p_bucket")
      .mode("overwrite")
      .parquet(path)
    PartitionedLayouts.writeMarker(emb.sparkSession, path, PlanesMarker, planes)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Compaction maintenance pass — the [[TsLayout.compact]] twin for
    * the embedding layout: streaming/append ingest scatters every
    * bucket directory across many small files, and a 100 TB layout
    * pays that as listing latency and per-file open cost on every
    * probe. Rewrites `srcPath` into `dstPath` with ONE writer task per
    * bucket dir (bounded by maxRecordsPerFile), restoring the
    * vec_id-sorted row-group stats of a fresh write and carrying the
    * `_graft_planes` marker so the probe geometry survives. The
    * rewrite is a pure repartition-by-partition-key plan; the result
    * is row-identical by construction (the spec proves content
    * equality, marker carry-over and the file-count collapse).
    */
  def compact(
    spark: SparkSession,
    srcPath: String,
    dstPath: String,
    maxRecordsPerFile: Long = 5000000L
  ): Unit = {
    PartitionedLayouts.requireDisjoint(srcPath, dstPath)
    spark.read
      .parquet(srcPath)
      .repartition(col("p_bucket"))
      .sortWithinPartitions(col("p_bucket"), col("vec_id"))
      .write
      .partitionBy("p_bucket")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(dstPath)
    markerPlanes(srcPath, spark.sessionState.newHadoopConf()).foreach { p =>
      PartitionedLayouts.writeMarker(spark, dstPath, PlanesMarker, p)
    }
  }

  /** Written-once-per-JVM layout for a testdata dir — query-time
    * setup, not query work (the [[TsLayout.layoutFor]] discipline), so
    * benchmark reps measure the pruned read path.
    */
  private val layoutCache = scala.collection.concurrent.TrieMap[String, String]()

  def layoutFor(spark: SparkSession, dir: String): String =
    layoutCache.getOrElseUpdate(
      dir, {
        val path = CacheDirs.taggedCacheDir("target/emb_layout", dir).getAbsolutePath
        write(graft.Tables.embeddings(spark, dir), path)
        path
      }
    )

  /** The multi-probe top-k served FROM the layout: the query set's
    * base buckets are evaluated driver-side (a request-scale fetch —
    * one long per query, the BlobStore range-request shape), expanded
    * to the hamming-1 probe set, and pushed as a partition IN-filter,
    * so the corpus scan underneath [[Similarity.lshTopK]] reads ONLY
    * the probed directories. Results are identical to the flat-table
    * [[Similarity.annLsh]] by construction (the probe join re-applies
    * the same bucket-match predicate on the pruned rows); the oracle
    * is annLshSql verbatim, and SourcesSpec asserts the scan's
    * partition count.
    */
  def annLshLayout(spark: SparkSession, dir: String): DataFrame = {
    val path = layoutFor(spark, dir)
    val emb = graft.Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < Similarity.QueryCount)
    // probe geometry comes from the layout's OWN marker (Planes is
    // only the markerless fallback) — a layout written at a different
    // plane count serves correctly without any session configuration
    val planes = markerPlanes(path, spark.sessionState.newHadoopConf()).getOrElse(Planes)
    val hp = Similarity.hyperplanes(planes, 64)
    // request-scale driver fetch: ≤ QueryCount base bucket ids
    val base = queries
      .select(Similarity.hyperplaneBucket(col("embedding"), hp).as("b"))
      .distinct()
      .collect()
      .map(_.getLong(0))
    val probes = base.flatMap(b => b +: (0 until planes).map(p => b ^ (1L << p))).distinct.sorted
    val corpus = read(spark, path)
      .filter(col("p_bucket").isin(probes: _*))
      .select(col("vec_id"), col("embedding"))
    Similarity
      .lshTopK(corpus, queries, Similarity.TopK, planes = planes)
      .orderBy(col("query_id"), col("rank"))
  }
}
