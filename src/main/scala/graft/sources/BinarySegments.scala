package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.ByteBuffer
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reader for the reference engine's blob storage format: channel data
  * stored as gzip-compressed big-endian float64 runs, located by a
  * range index of (channel, file, start time, sample rate) rows.
  *
  * Reference: blobs are fetched and decoded as gzip → 8-byte chunks →
  * big-endian doubles (query/WsClient.scala:191-203,
  * query/TimeSeriesQueryUtils.scala:51-59); timestamps are
  * reconstructed as start + index * round(1e6 / rate)
  * (query/QuerySequencer.scala:82-87); the range index row carries
  * (min, max, rate, file) (server/TSJsonSupport.scala:151).
  *
  * Spark-native shape: `binaryFile` scan (one task per blob — thousands
  * of blobs decode in parallel), broadcast join against the small range
  * index, and a typed flatMap decode. At scale the blob tree is laid
  * out by channel/time-bucket directories so pushed path filters prune
  * files before the scan; the decoded rows then flow into the regular
  * trim/downsample operators (graft.operators.Timeseries) exactly like
  * parquet-sourced data.
  */
object BinarySegments {

  /** Decode one gzipped big-endian float64 blob. */
  def decodeBlob(bytes: Array[Byte]): Array[Double] = {
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    val raw = out.toByteArray
    val bb = ByteBuffer.wrap(raw) // JVM default order is big-endian
    val vals = new Array[Double](raw.length / 8)
    var i = 0
    while (i < vals.length) { vals(i) = bb.getDouble(i * 8); i += 1 }
    vals
  }

  /** Decode only samples [dropSamples, dropSamples + takeSamples) of a
    * gzipped big-endian float64 blob. Leading samples are decompressed
    * into a scratch buffer and discarded (gzip has no random access);
    * decompression STOPS at the end offset, so the compressed tail
    * after the query range is never inflated — a range query over a
    * long blob pays for the range, not the blob.
    */
  def decodeBlobRange(bytes: Array[Byte], dropSamples: Long, takeSamples: Long): Array[Double] =
    decodeBlobRangeStream(new java.io.ByteArrayInputStream(bytes), dropSamples, takeSamples)

  /** Stream variant of [[decodeBlobRange]]: decodes [dropSamples,
    * dropSamples + takeSamples) straight off a compressed input
    * stream, so a storage-backed read (see [[readRange]]) stops
    * PULLING compressed bytes at the range end instead of fetching
    * the whole object first.
    */
  def decodeBlobRangeStream(
    is: java.io.InputStream,
    dropSamples: Long,
    takeSamples: Long
  ): Array[Double] = {
    if (takeSamples <= 0) return Array.emptyDoubleArray
    val gz = new GZIPInputStream(is)
    try {
      val buf = new Array[Byte](8192)
      var toSkip = dropSamples * 8
      var eof = false
      while (toSkip > 0 && !eof) {
        val n = gz.read(buf, 0, math.min(toSkip, buf.length.toLong).toInt)
        if (n < 0) eof = true else toSkip -= n
      }
      val need = takeSamples * 8
      var got = 0L
      val out = new java.io.ByteArrayOutputStream()
      while (got < need && !eof) {
        val n = gz.read(buf, 0, math.min(need - got, buf.length.toLong).toInt)
        if (n < 0) eof = true else { out.write(buf, 0, n); got += n }
      }
      val raw = out.toByteArray
      val bb = ByteBuffer.wrap(raw)
      val vals = new Array[Double](raw.length / 8)
      var i = 0
      while (i < vals.length) { vals(i) = bb.getDouble(i * 8); i += 1 }
      vals
    } finally gz.close()
  }

  /** Write helper (tests / ingest demo): values → gzipped BE float64. */
  def writeBlob(path: String, values: Array[Double]): Unit = {
    val os = new GZIPOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    val bytes = new Array[Byte](8)
    val bb = ByteBuffer.wrap(bytes)
    values.foreach { v =>
      bb.clear()
      bb.putDouble(v)
      os.write(bytes)
    }
    os.close()
  }

  /** The scan's `path` is a file URI ("file:/…"); the index's `file` is
    * a path RELATIVE to blobDir. Stripping the blobDir URI prefix from
    * the scan side recovers that exact relative path, so the join is a
    * plain (broadcast hash) equi-join that stays correct for
    * subdirectory layouts — the recommended channel/time-bucket tree —
    * including blobs in different directories that share a basename.
    */
  private def relPath(blobDir: String): org.apache.spark.sql.Column = {
    val base = new java.io.File(blobDir).getCanonicalFile.toURI.toString
    val prefix = if (base.endsWith("/")) base else base + "/"
    // guard the join key: if the scan's URI rendering ever differs from
    // the computed prefix (non-local URI scheme, symlinked dir,
    // percent-encoding of special chars), a blind substring would
    // mis-key EVERY row and the index join would silently return an
    // empty result — fail loudly instead
    val p = lit(prefix)
    when(
      col("path").startsWith(p),
      expr(s"substring(path, ${prefix.length + 1})")
    ).otherwise(
      raise_error(concat(lit(s"BinarySegments: blob path outside '$prefix': "), col("path")))
    )
  }

  /** Read blobs under `blobDir` located by `index(channel, file,
    * start_us, rate)` into ts(channel, t, v) rows. The index is
    * broadcast (it is the Postgres-range-table analog — tiny next to
    * the data).
    */
  def read(spark: SparkSession, blobDir: String, index: DataFrame): DataFrame = {
    import spark.implicits._
    val blobs = spark.read
      .format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(blobDir)
      .select(relPath(blobDir).as("file"), col("content"))
    blobs
      .join(broadcast(index.select(col("channel"), col("file"), col("start_us"), col("rate"))), Seq("file"))
      .select(col("channel"), col("start_us"), col("rate"), col("content"))
      .as[(String, Long, Double, Array[Byte])]
      .flatMap { case (channel, startUs, rate, content) =>
        val period = Math.round(1e6 / rate)
        decodeBlob(content).iterator.zipWithIndex.map { case (v, i) =>
          (channel, startUs + i * period, v)
        }
      }
      .toDF("channel", "t", "v")
  }

  /** Range read: only blobs whose index row overlaps [startUs, endUs)
    * have their bytes read, and only the in-range slice of each blob
    * is decoded (reference: query/QuerySequencer.scala:68-107 trims
    * each lookup hit with query/TimeSeriesQueryUtils.scala:114-154
    * before decoding downstream).
    *
    * `index` must carry (channel, file, start_us, end_us, rate) — the
    * range-table analog with the blob's [min, max] span. Shape: the
    * binaryFile scan is column-pruned to PATH ONLY (a listing — no
    * file content enters the plan), the overlapping index slice
    * broadcast-joins against it, and each surviving file's bytes are
    * opened EXECUTOR-SIDE through the Hadoop FileSystem API inside
    * the decode task, which skips the pre-range prefix and stops
    * pulling compressed bytes at the range end. No file list is ever
    * collected to the driver, non-matching blobs' bytes are never
    * read, and decode parallelism is one task per matched blob — the
    * same distributed discipline as [[readRangePartitioned]], which
    * remains the preferred layout because its directory scheme prunes
    * the LISTING too.
    */
  def readRange(
    spark: SparkSession,
    blobDir: String,
    index: DataFrame,
    startUs: Long,
    endUs: Long
  ): DataFrame = {
    import spark.implicits._
    val hits = index
      .select(col("channel"), col("file"), col("start_us"), col("end_us"), col("rate"))
      .filter(col("end_us") >= startUs && col("start_us") < endUs)
    // path-only projection: BinaryFileFormat honors column pruning, so
    // this relation is file METADATA — no blob bytes are read here
    val listing = spark.read
      .format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(blobDir)
      .select(col("path"), relPath(blobDir).as("file"))
    val matched = listing
      .join(broadcast(hits), Seq("file"))
      .select(col("path"), col("channel"), col("start_us"), col("rate"))
      .as[(String, String, Long, Double)]
    matched
      .flatMap { case (path, channel, blobStart, rate) =>
        val period = Math.round(1e6 / rate)
        val drop =
          if (startUs > blobStart) Math.round((startUs - blobStart).toDouble / period) else 0L
        val firstT = blobStart + drop * period
        val take = Math.round((endUs - firstT).toDouble / period) + 1
        val p = new org.apache.hadoop.fs.Path(new java.net.URI(path))
        val in = p.getFileSystem(new org.apache.hadoop.conf.Configuration()).open(p)
        val vals =
          try decodeBlobRangeStream(in, drop, take)
          finally in.close()
        vals.iterator.zipWithIndex.map { case (v, i) => (channel, firstT + i * period, v) }
      }
      .toDF("channel", "t", "v")
      .filter(col("t") >= startUs && col("t") < endUs)
  }

  /** Range read over a HIVE-PARTITIONED blob tree
    * (`channel=<ch>/<bucket>=<n>/…`, bucket = t div bucketUs): the time
    * predicate becomes a PARTITION FILTER evaluated against directory
    * paths during listing/planning, so non-matching directories are
    * never opened and no file list is ever collected to the driver —
    * the index-cardinality fix [[readRange]]'s docstring promises
    * (readRange stays the flat-store/ad-hoc-index path). The (tiny)
    * range index is still broadcast-joined for each blob's
    * (start_us, rate) decode parameters and exact end trimming. At
    * catalog scale the listing itself runs as a Spark job
    * (parallelPartitionDiscovery), and a production deployment fronts
    * the same layout with a metastore table — identical pruning
    * semantics, persisted file index.
    */
  def readRangePartitioned(
    spark: SparkSession,
    blobDir: String,
    index: DataFrame,
    startUs: Long,
    endUs: Long,
    bucketUs: Long
  ): DataFrame = {
    import spark.implicits._
    require(endUs > startUs, s"empty range [$startUs, $endUs)")
    val hits = index
      .select(col("channel"), col("bucket"), col("start_us"), col("end_us"), col("rate"))
      .filter(col("end_us") >= startUs && col("start_us") < endUs)
    val blobs = spark.read
      .format("binaryFile")
      .load(blobDir)
      // partition-path pruning: bucket (and channel) are directory-
      // derived columns, so this filter selects directories, not bytes
      .filter(col("bucket") >= lit(startUs / bucketUs) && col("bucket") <= lit((endUs - 1) / bucketUs))
      .select(
        col("channel").cast("string").as("channel"),
        col("bucket").cast("long").as("bucket"),
        col("content")
      )
    decodeRangeRows(
      blobs.join(broadcast(hits), Seq("channel", "bucket")).drop("bucket"),
      startUs,
      endUs
    )
  }

  /** Shared decode tail of the range readers: joined rows carrying
    * (channel, start_us, rate, content) become trimmed ts rows.
    */
  private def decodeRangeRows(joined: DataFrame, startUs: Long, endUs: Long): DataFrame = {
    val spark = joined.sparkSession
    import spark.implicits._
    joined
      .select(col("channel"), col("start_us"), col("rate"), col("content"))
      .as[(String, Long, Double, Array[Byte])]
      .flatMap { case (channel, blobStart, rate, content) =>
        val period = Math.round(1e6 / rate)
        // reference trim: drop round((queryStart-resultStart)/period)
        // leading samples, take to the query end (one extra sample of
        // slack; the exact [startUs, endUs) cut is the filter below)
        val drop =
          if (startUs > blobStart) Math.round((startUs - blobStart).toDouble / period) else 0L
        val firstT = blobStart + drop * period
        val take = Math.round((endUs - firstT).toDouble / period) + 1
        decodeBlobRange(content, drop, take).iterator.zipWithIndex.map { case (v, i) =>
          (channel, firstT + i * period, v)
        }
      }
      .toDF("channel", "t", "v")
      .filter(col("t") >= startUs && col("t") < endUs)
  }

  /** Secondary ingest formats — thin, schema-checked loaders. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)
}
