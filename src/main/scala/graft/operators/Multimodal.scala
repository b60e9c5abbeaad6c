package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: opaque binary payloads with typed
  * metadata, decoded/feature-extracted in bounded batches.
  *
  * The decode kernel is PLUGGABLE ([[Multimodal.ImageKernel]]): the
  * default [[Multimodal.StubKernel]] computes deterministic byte
  * statistics (the test/oracle path — the driver testdata payloads are
  * synthetic, and the stub is bit-reproducible in SQL), while
  * [[Multimodal.ImageIoKernel]] is a real javax.imageio decoder
  * selected via `spark.graft.mm.kernel=imageio` for genuine image
  * columns. Outputs carry a `kernel` provenance column. Everything
  * around the kernel — the (payload binary, meta struct) schema, the
  * typed mapPartitions with explicit batch accumulation (the JVM shape
  * of a vectorized mapInPandas decode), and the feature-table output —
  * is kernel-independent; KernelSpec proves the real decoder slots in
  * with no plan change.
  *
  * Scale notes: payloads stay opaque bytes end-to-end (no row-level
  * string materialization); batches bound peak decode memory
  * (batchSize × payload size), and the stage is map-side only — it
  * pipelines into whatever aggregation or dedup consumes the features.
  */
object Multimodal {

  /** Attach a binary payload + typed metadata to each document —
    * stands in for reading an image/audio column from storage. The
    * payload is the utf-8 text bytes; metadata mimics an image header
    * (deterministic pseudo width/height/format per doc).
    */
  def withPayloads(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        element_at(array(lit("png"), lit("jpeg"), lit("webp")), (col("doc_id") % 3 + 1).cast("int")).as("format"),
        (col("doc_id") % 32 + 16).cast("int").as("width"),
        (col("doc_id") % 24 + 12).cast("int").as("height"),
        // byte length of the BINARY payload (length on binary counts
        // octets) — length(text) would count characters and diverge
        // from the oracle's octet_length on any non-ASCII document
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes")
      ).as("meta")
    )

  /** STUB decode kernel — deterministic byte statistics standing in for
    * a real image decode + feature extraction. Replace the body with a
    * codec call (e.g. JNI image lib) without touching the Spark
    * plumbing. The checksum is a ×31 polynomial mod 2⁶¹−1 (not
    * wrap-around mod 2⁶⁴) and the moments are exact integer sums in
    * doubles, so the whole stub is reproducible by the SQL oracle from
    * hex-sliced payload bytes.
    */
  private[graft] def decodeStub(payload: Array[Byte]): (Long, Double, Double) = {
    import graft.functions.Winnow.{addmod, mulmod}
    var checksum = 0L
    var sum = 0L
    var sumSq = 0L
    var i = 0
    while (i < payload.length) {
      val b = payload(i) & 0xff
      checksum = addmod(mulmod(checksum, 31L), b.toLong)
      sum += b
      sumSq += b.toLong * b
      i += 1
    }
    val n = math.max(payload.length, 1)
    val mean = sum.toDouble / n
    (checksum, mean, math.sqrt(math.max(sumSq.toDouble / n - mean * mean, 0.0)))
  }

  /** Pluggable decode kernel: the unit of work a batched decode stage
    * applies to one payload. [[StubKernel]] (the default and the
    * driver/oracle path) computes deterministic byte statistics;
    * [[ImageIoKernel]] is a REAL decoder (javax.imageio — PNG/JPEG/BMP
    * ship with the JDK) that decodes to an 8-bit luma plane and
    * computes the SAME feature triple over decoded luminance. Selected
    * per-session via `spark.graft.mm.kernel` = stub | imageio; the
    * active kernel is surfaced in the output schema (`kernel` column)
    * so downstream consumers know whether features are stub-derived.
    * Swapping kernels changes no plan shape — both run inside the same
    * typed mapPartitions stage (KernelSpec pins this).
    */
  sealed trait ImageKernel extends Serializable {
    def name: String

    /** payload → (checksum, mean, std) feature triple. */
    def decode(payload: Array[Byte]): (Long, Double, Double)

    /** payload → resampled payload at (outW × outH). */
    def resize(payload: Array[Byte], outW: Int, outH: Int): Array[Byte]
  }

  case object StubKernel extends ImageKernel {
    def name: String = "stub"
    def decode(payload: Array[Byte]): (Long, Double, Double) = decodeStub(payload)
    def resize(payload: Array[Byte], outW: Int, outH: Int): Array[Byte] =
      resizeStub(payload, outW, outH)
  }

  /** javax.imageio-backed kernel: payloads must be real encoded images
    * (PNG/JPEG/BMP/GIF). Decode renders to TYPE_BYTE_GRAY — an 8-bit
    * luma plane — and the feature triple runs over the decoded plane's
    * bytes with the exact same arithmetic as the stub, so downstream
    * consumers (phash banding, dup clustering, entropy screens) are
    * kernel-agnostic. Resize = decode → area-interpolated redraw at
    * (outW × outH) → the luma plane bytes as the new payload.
    */
  case object ImageIoKernel extends ImageKernel {
    def name: String = "imageio"

    private def lumaPlane(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, "payload is not a decodable image (imageio kernel)")
      val (ow, oh) = if (w > 0 && h > 0) (w, h) else (img.getWidth, img.getHeight)
      val gray = new java.awt.image.BufferedImage(ow, oh, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val g = gray.createGraphics()
      try {
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, ow, oh, null): Unit
      } finally g.dispose()
      gray.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferByte].getData.clone()
    }

    def decode(payload: Array[Byte]): (Long, Double, Double) =
      decodeStub(lumaPlane(payload, -1, -1))
    def resize(payload: Array[Byte], outW: Int, outH: Int): Array[Byte] =
      lumaPlane(payload, outW, outH)
  }

  /** Session-selected kernel: `spark.graft.mm.kernel` = stub (default)
    * | imageio. The driver testdata payloads are synthetic (UTF-8 text
    * bytes), so the driver path always runs the stub; the flag exists
    * for real image columns.
    */
  def kernelFor(spark: SparkSession): ImageKernel =
    spark.conf.get("spark.graft.mm.kernel", "stub") match {
      case "imageio" => ImageIoKernel
      case _ => StubKernel
    }

  /** Batched decode: typed mapPartitions that accumulates `batchSize`
    * payloads, "decodes" the batch, and emits one feature row per
    * payload — the JVM analog of a vectorized Python decode over
    * mapInPandas batches.
    *
    * Poison-payload contract: a payload the kernel cannot decode (a
    * corrupt blob, or the null an upstream tolerant stage emitted)
    * yields NULL features and `decode_ok = false` instead of a thrown
    * task — at 100 TB a corrupt image is a certainty, task retry
    * re-reads the same blob, and one bad row must never kill the
    * other 63 in its batch (the same pruning discipline the binary
    * segment source carries). The stub never throws, so on the
    * driver/oracle path decode_ok is uniformly true.
    */
  def decodeFeatures(spark: SparkSession, withPayload: DataFrame, batchSize: Int = 64,
                     kernel: ImageKernel = StubKernel): DataFrame = {
    import spark.implicits._
    withPayload
      .select(
        col("doc_id"),
        col("payload"),
        col("meta.format").as("format"),
        col("meta.width").as("width"),
        col("meta.height").as("height")
      )
      .as[(Long, Array[Byte], String, Int, Int)]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // batch boundary = unit of vectorized decode work
          batch.iterator.map { case (id, payload, format, w, h) =>
            val decoded =
              if (payload == null) None
              else
                try Some(kernel.decode(payload))
                catch { case scala.util.control.NonFatal(_) => None }
            val nBytes = if (payload == null) 0L else payload.length.toLong
            decoded match {
              case Some((checksum, mean, std)) =>
                (id, format, w, h, nBytes, Some(checksum), Some(mean), Some(std), true)
              case None =>
                (id, format, w, h, nBytes,
                  Option.empty[Long], Option.empty[Double], Option.empty[Double], false)
            }
          }
        }
      }
      .toDF("doc_id", "format", "width", "height", "n_bytes",
        "checksum", "byte_mean", "byte_std", "decode_ok")
      // provenance: which kernel produced these feature values
      .withColumn("kernel", lit(kernel.name))
  }

  /** STUB resize kernel: deterministic byte-decimation standing in for
    * an image resampling codec — keeps (outW × outH) bytes by striding
    * the payload. The real kernel drops in without touching the
    * plumbing.
    */
  private[graft] def resizeStub(payload: Array[Byte], outW: Int, outH: Int): Array[Byte] = {
    val n = math.max(outW * outH, 1)
    val out = new Array[Byte](math.min(n, math.max(payload.length, 1)))
    if (payload.isEmpty) return out
    val stride = math.max(payload.length / out.length, 1)
    var i = 0
    while (i < out.length) {
      out(i) = payload(math.min(i * stride, payload.length - 1))
      i += 1
    }
    out
  }

  /** Batched resize: same typed-mapPartitions shape as decodeFeatures.
    * Output keeps the (payload, meta) struct contract established by
    * withPayloads — width/height carry the target dims, n_bytes the
    * actual resized byte count — so resize composes with decodeFeatures
    * and sampleFrames.
    */
  def resize(spark: SparkSession, withPayload: DataFrame, outW: Int, outH: Int, batchSize: Int = 64,
             kernel: ImageKernel = StubKernel): DataFrame = {
    import spark.implicits._
    withPayload
      .select(col("doc_id"), col("payload"), col("meta.format").as("format"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, payload, format) =>
            // poison tolerance: an undecodable payload resizes to NULL,
            // which downstream decodeFeatures flags decode_ok = false —
            // the failure composes instead of killing the task
            val resized =
              if (payload == null) null
              else
                try kernel.resize(payload, outW, outH)
                catch { case scala.util.control.NonFatal(_) => null }
            (id, resized, format)
          }
        }
      }
      .toDF("doc_id", "payload", "format")
      .select(
        col("doc_id"),
        col("payload"),
        struct(
          col("format"),
          lit(outW).as("width"),
          lit(outH).as("height"),
          length(col("payload")).cast("long").as("n_bytes")
        ).as("meta")
      )
  }

  /** Pluggable frame-extraction kernel — the video twin of
    * [[ImageKernel]]: [[StubFrameKernel]] (default, the driver/oracle
    * path) treats the payload as fixed-`frameBytes` slices and keeps
    * every `everyK`-th one — byte-for-byte the semantics the oracle
    * reproduces by hex offset; [[ImageIoFrameKernel]] is a REAL
    * multi-frame decoder (javax.imageio sequence reader — animated GIF
    * ships with the JDK) emitting every `everyK`-th frame as an 8-bit
    * luma plane. Selected per-session via
    * `spark.graft.mm.frame.kernel` = stub | imageio; both run inside
    * the SAME typed mapPartitions stage (FrameKernelSpec pins the
    * plan-identical swap), and the active kernel is surfaced as a
    * `kernel` provenance column by the frame-feature queries.
    */
  sealed trait FrameKernel extends Serializable {
    def name: String

    /** payload → sampled (frame_no, frame bytes) pairs. */
    def frames(payload: Array[Byte], frameBytes: Int, everyK: Int): Iterator[(Long, Array[Byte])]
  }

  case object StubFrameKernel extends FrameKernel {
    def name: String = "stub"
    def frames(payload: Array[Byte], frameBytes: Int, everyK: Int): Iterator[(Long, Array[Byte])] =
      // payloads with no complete frame yield zero rows (trailing
      // partial frames are dropped for full payloads, so short ones
      // must not sneak an undersized frame through)
      if (payload == null || payload.length < frameBytes) Iterator.empty
      else Iterator.range(0, payload.length / frameBytes, everyK).map { i =>
        (i.toLong, java.util.Arrays.copyOfRange(payload, i * frameBytes, (i + 1) * frameBytes))
      }
  }

  /** javax.imageio sequence reader: every `everyK`-th frame of an
    * animated payload (GIF in a stock JDK) rendered to a TYPE_BYTE_GRAY
    * luma plane — the frame twin of [[ImageIoKernel]]. `frameBytes` is
    * ignored (real frames carry intrinsic dimensions); emitted
    * frame_bytes is the plane size.
    */
  case object ImageIoFrameKernel extends FrameKernel {
    def name: String = "imageio"
    def frames(payload: Array[Byte], frameBytes: Int, everyK: Int): Iterator[(Long, Array[Byte])] = {
      val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, "payload is not a decodable image sequence (imageio frame kernel)")
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        Iterator.range(0, n, everyK).map { i =>
          val img = reader.read(i)
          val gray = new java.awt.image.BufferedImage(
            img.getWidth, img.getHeight, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val g = gray.createGraphics()
          try g.drawImage(img, 0, 0, null): Unit
          finally g.dispose()
          val plane = gray.getRaster.getDataBuffer
            .asInstanceOf[java.awt.image.DataBufferByte].getData.clone()
          (i.toLong, plane)
        }.toVector.iterator // materialize before the reader disposes
      } finally reader.dispose()
    }
  }

  /** Session-selected frame kernel: `spark.graft.mm.frame.kernel` =
    * stub (default) | imageio.
    */
  def frameKernelFor(spark: SparkSession): FrameKernel =
    spark.conf.get("spark.graft.mm.frame.kernel", "stub") match {
      case "imageio" => ImageIoFrameKernel
      case _ => StubFrameKernel
    }

  /** Frame sampling for video-like payloads: each sampled frame is
    * emitted as its own row (the exploded shape downstream per-frame
    * decode consumes). Runs the pluggable [[FrameKernel]] inside the
    * same batched typed-mapPartitions shape as decodeFeatures — frames
    * multiply rows map-side with no shuffle. Poison contract: a
    * payload the kernel cannot read emits ZERO frames instead of a
    * thrown task (the binary-source pruning discipline — per-frame
    * features downstream carry decode_ok for per-frame failures).
    */
  def sampleFrames(withPayload: DataFrame, frameBytes: Int, everyK: Int,
                   kernel: FrameKernel = StubFrameKernel, batchSize: Int = 64): DataFrame = {
    val spark = withPayload.sparkSession
    import spark.implicits._
    withPayload
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { case (id, payload) =>
            val fs =
              try kernel.frames(payload, frameBytes, everyK)
              catch { case scala.util.control.NonFatal(_) => Iterator.empty }
            fs.map { case (no, frame) => (id, no, frame, frame.length.toLong) }
          }
        }
      }
      .toDF("doc_id", "frame_no", "frame", "frame_bytes")
  }

  /** STUB audio decode kernel: the payload read as little-endian int16
    * PCM, framed into `frameSamples`-sample windows (trailing partials
    * dropped), each frame reduced to RMS energy and a zero-crossing
    * count — the two features every audio-curation pipeline computes
    * first (silence/clipping gates, speech-band heuristics). A real
    * codec (resampling, mel filterbanks) drops into this kernel
    * without touching the Spark plumbing. Integer sums keep the stub
    * bit-reproducible by the SQL oracle.
    */
  private[graft] def audioStub(
      payload: Array[Byte],
      frameSamples: Int
  ): Seq[(Long, Double, Long)] = {
    val nSamples = payload.length / 2
    val nFrames = nSamples / frameSamples
    (0 until nFrames).map { f =>
      var j = 0
      var sumSq = 0L
      var zc = 0L
      var prevNeg = false
      while (j < frameSamples) {
        val base = 2 * (f * frameSamples + j)
        var v = (payload(base) & 0xff) | ((payload(base + 1) & 0xff) << 8)
        if (v >= 0x8000) v -= 0x10000
        sumSq += v.toLong * v
        val neg = v < 0
        if (j > 0 && neg != prevNeg) zc += 1
        prevNeg = neg
        j += 1
      }
      (f.toLong, math.sqrt(sumSq.toDouble / frameSamples), zc)
    }
  }

  /** Byte-histogram Shannon entropy of a payload, under the engine's
    * entropy discipline (the text kernel's): H = round9(ln n) −
    * Σ m·round9(ln m) / n over INTEGER counts — the lns round to 9,
    * each term m·round9(ln m) is exact in decimal, the sum is exact,
    * and only the final value rounds (6) — so the SQL oracle
    * reproduces it bit for bit. Returns (n_bytes, n_uniq, entropy).
    */
  private[graft] def entropyStub(payload: Array[Byte]): (Long, Long, Option[Double]) = {
    val n = payload.length
    if (n == 0) (0L, 0L, None)
    else {
      val counts = new Array[Int](256)
      var i = 0
      while (i < n) { counts(payload(i) & 0xff) += 1; i += 1 }
      def r9(x: Double) = BigDecimal(x).setScale(9, scala.math.BigDecimal.RoundingMode.HALF_UP)
      var s = BigDecimal(0)
      var uniq = 0L
      var b = 0
      while (b < 256) {
        val m = counts(b)
        if (m > 0) { uniq += 1; s += r9(math.log(m.toDouble)) * m }
        b += 1
      }
      val h = r9(math.log(n.toDouble)).toDouble - s.toDouble / n
      val rounded = BigDecimal(h).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
      (n.toLong, uniq, Some(rounded))
    }
  }

  /** Per-payload byte entropy: the "is this blob compressed / encrypted
    * / degenerate" screen (uniform bytes → ln 256, constant → 0) —
    * the binary sibling of the text char-entropy quality signal.
    * Batched typed mapPartitions, map-side only.
    */
  def payloadEntropy(spark: SparkSession, withPayload: DataFrame, batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    withPayload
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, payload) =>
            val (n, u, h) = entropyStub(payload)
            (id, n, u, h)
          }
        }
      }
      .toDF("doc_id", "n_bytes", "n_uniq_bytes", "byte_entropy")
  }

  def mmEntropy(spark: SparkSession, dir: String): DataFrame =
    payloadEntropy(spark, withPayloads(Tables.documents(spark, dir)))

  /** Entropy oracle: hex-sliced byte recovery, integer counts, the
    * identical round-9 ln / exact-decimal-sum discipline.
    */
  val mmEntropySql: String =
    """WITH p AS (
      |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb FROM documents),
      |bv AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(hx, CAST(2 * j + 1 AS INT), 2)) AS INT) AS b
      |  FROM (SELECT doc_id, hx, UNNEST(range(0, nb)) AS j FROM p) t),
      |bc AS (SELECT doc_id, b, COUNT(*) AS m FROM bv GROUP BY 1, 2),
      |st AS (
      |  SELECT doc_id, COUNT(*) AS u,
      |    SUM(CAST(m * ROUND(LN(m), 9) AS DECIMAL(27,10))) AS s
      |  FROM bc GROUP BY 1)
      |SELECT p.doc_id, CAST(p.nb AS BIGINT) AS n_bytes,
      |  CAST(COALESCE(st.u, 0) AS BIGINT) AS n_uniq_bytes,
      |  CASE WHEN p.nb > 0 THEN
      |    ROUND(ROUND(LN(p.nb), 9) - CAST(st.s AS DOUBLE) / p.nb, 6)
      |  END AS byte_entropy
      |FROM p LEFT JOIN st ON st.doc_id = p.doc_id
      |ORDER BY p.doc_id""".stripMargin

  /** Batched audio feature extraction: same typed-mapPartitions shape
    * as decodeFeatures — payloads stay opaque bytes, batches bound
    * decode memory, frames explode map-side with no shuffle.
    */
  def audioFeatures(
      spark: SparkSession,
      withPayload: DataFrame,
      frameSamples: Int = 32,
      batchSize: Int = 64
  ): DataFrame = {
    import spark.implicits._
    withPayload
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { case (id, payload) =>
            audioStub(payload, frameSamples).iterator.map { case (f, rms, zc) =>
              (id, f, frameSamples.toLong, rms, zc)
            }
          }
        }
      }
      .toDF("doc_id", "frame_no", "n_samples", "rms", "zero_crossings")
  }

  // ---------------------------------------------------------------------
  // Fixed driver query (rows-only: the decode stub is not SQL semantics;
  // schema/batching correctness is covered by MultimodalSpec)
  // ---------------------------------------------------------------------

  def mmDecode(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(spark, withPayloads(Tables.documents(spark, dir)), kernel = kernelFor(spark))
      .select(
        col("doc_id"),
        col("format"),
        col("width"),
        col("height"),
        col("n_bytes"),
        col("checksum"),
        round(col("byte_mean"), 6).as("byte_mean"),
        round(col("byte_std"), 6).as("byte_std"),
        col("decode_ok"),
        col("kernel")
      )

  /** Stub-decode oracle: payload bytes are recovered in SQL by hex-ing
    * the UTF-8 blob and slicing two hex digits per byte; the checksum
    * is the same ×31 polynomial mod 2⁶¹−1 (list_reduce in HUGEINT) and
    * the moments are exact integer sums, so every feature value matches
    * the kernel bit for bit. Empty payloads degrade to (0, 0, 0) as in
    * the kernel.
    */
  val mmDecodeSql: String = {
    val p = graft.functions.Winnow.P
    s"""WITH p AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb,
       |    list_extract(['png', 'jpeg', 'webp'], CAST(doc_id % 3 + 1 AS INT)) AS format,
       |    CAST(doc_id % 32 + 16 AS INT) AS width,
       |    CAST(doc_id % 24 + 12 AS INT) AS height
       |  FROM documents),
       |bvals AS (
       |  SELECT doc_id, i,
       |    CAST(('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2)) AS INT) AS b
       |  FROM (SELECT doc_id, hx, UNNEST(range(0, nb)) AS i FROM p) t),
       |stats AS (
       |  SELECT doc_id, COUNT(*) AS cnt, SUM(b) AS s1, SUM(CAST(b AS BIGINT) * b) AS s2,
       |    CAST(list_reduce(list(CAST(b AS HUGEINT) ORDER BY i),
       |                     (h, c) -> (h * 31 + c) % $p) AS BIGINT) AS chk
       |  FROM bvals GROUP BY doc_id)
       |SELECT p.doc_id, p.format, p.width, p.height,
       |  CAST(p.nb AS BIGINT) AS n_bytes,
       |  COALESCE(s.chk, 0) AS checksum,
       |  ROUND(CAST(COALESCE(s.s1, 0) AS DOUBLE) / GREATEST(p.nb, 1), 6) AS byte_mean,
       |  ROUND(SQRT(GREATEST(CAST(COALESCE(s.s2, 0) AS DOUBLE) / GREATEST(p.nb, 1)
       |    - (CAST(COALESCE(s.s1, 0) AS DOUBLE) / GREATEST(p.nb, 1))
       |      * (CAST(COALESCE(s.s1, 0) AS DOUBLE) / GREATEST(p.nb, 1)), 0.0)), 6) AS byte_std,
       |  TRUE AS decode_ok,
       |  'stub' AS kernel
       |FROM p LEFT JOIN stats s ON s.doc_id = p.doc_id
       |ORDER BY p.doc_id""".stripMargin
  }

  /** Pipeline composition: resize → decodeFeatures — the thumbnail
    * stage every vision-data pipeline runs, exercising the struct
    * contract BETWEEN multimodal operators (resize output feeds the
    * same batched decode that whole payloads do). Map-side end to end.
    */
  def mmResize(spark: SparkSession, dir: String): DataFrame = {
    val k = kernelFor(spark)
    // the resize stage runs the session kernel; the downstream feature
    // pass ALWAYS runs the stub arithmetic, because an imageio resize
    // emits an already-decoded luma plane, not an encoded image —
    // ImageKernelSpec's composition contract. Provenance reports the
    // kernel that actually decoded (the resize stage's).
    decodeFeatures(spark,
      resize(spark, withPayloads(Tables.documents(spark, dir)), outW = 8, outH = 8, kernel = k),
      kernel = StubKernel)
      .withColumn("kernel", lit(k.name))
      .select(
        col("doc_id"),
        col("format"),
        col("width"),
        col("height"),
        col("n_bytes"),
        col("checksum"),
        round(col("byte_mean"), 6).as("byte_mean"),
        round(col("byte_std"), 6).as("byte_std"),
        col("decode_ok"),
        col("kernel")
      )
  }

  /** Resize-chain oracle: the stub's stride decimation reproduced on
    * hex-sliced bytes — resized byte i = payload[min(i·stride, nb−1)]
    * with out_len = min(64, max(nb, 1)), stride = max(nb // out_len,
    * 1) — then the same decode features as mmDecodeSql over the
    * decimated bytes (an empty payload degrades to one zero byte,
    * exactly as the kernel allocates).
    */
  val mmResizeSql: String = {
    val p = graft.functions.Winnow.P
    s"""WITH p AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb,
       |    list_extract(['png', 'jpeg', 'webp'], CAST(doc_id % 3 + 1 AS INT)) AS format
       |  FROM documents),
       |dims AS (
       |  SELECT doc_id, hx, nb,
       |    LEAST(64, GREATEST(nb, 1)) AS out_len,
       |    GREATEST(nb // LEAST(64, GREATEST(nb, 1)), 1) AS stride
       |  FROM p),
       |rvals AS (
       |  SELECT doc_id, i,
       |    CASE WHEN nb = 0 THEN 0
       |         ELSE CAST(('0x' || substr(hx, CAST(2 * LEAST(i * stride, nb - 1) + 1 AS INT), 2)) AS INT)
       |    END AS b
       |  FROM (SELECT doc_id, hx, nb, stride, UNNEST(range(0, out_len)) AS i FROM dims) t),
       |stats AS (
       |  SELECT doc_id, COUNT(*) AS cnt, SUM(b) AS s1, SUM(CAST(b AS BIGINT) * b) AS s2,
       |    CAST(list_reduce(list(CAST(b AS HUGEINT) ORDER BY i),
       |                     (h, c) -> (h * 31 + c) % $p) AS BIGINT) AS chk
       |  FROM rvals GROUP BY doc_id)
       |SELECT p.doc_id, p.format, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       |  CAST(s.cnt AS BIGINT) AS n_bytes,
       |  s.chk AS checksum,
       |  ROUND(CAST(s.s1 AS DOUBLE) / s.cnt, 6) AS byte_mean,
       |  ROUND(SQRT(GREATEST(CAST(s.s2 AS DOUBLE) / s.cnt
       |    - (CAST(s.s1 AS DOUBLE) / s.cnt) * (CAST(s.s1 AS DOUBLE) / s.cnt), 0.0)), 6) AS byte_std,
       |  TRUE AS decode_ok,
       |  'stub' AS kernel
       |FROM p JOIN stats s ON s.doc_id = p.doc_id
       |ORDER BY p.doc_id""".stripMargin
  }

  /** Pipeline composition: sampleFrames → per-frame decodeFeatures.
    * Each sampled frame is re-wrapped in the (doc_id, payload, meta)
    * contract — (doc_id, frame_no) packed into one key — so the SAME
    * batched decode stage consumes whole payloads and exploded frames
    * interchangeably. Map-side end to end: explode, slice, decode all
    * pipeline inside one stage with no shuffle before the final sort.
    */
  def mmFrames(spark: SparkSession, dir: String): DataFrame =
    mmFramesFeatures(spark, Tables.documents(spark, dir))

  /** The frame-feature pipeline over an arbitrary documents relation —
    * shared by the [[mmFrames]] driver query and [[shotSegments]].
    */
  def mmFramesFeatures(spark: SparkSession, docs: DataFrame): DataFrame = {
    val fk = frameKernelFor(spark)
    val frames = sampleFrames(withPayloads(docs), frameBytes = 64, everyK = 4, kernel = fk)
    // (doc_id, frame_no) packed as doc_id·2³² | frame_no: sound for
    // doc_id < 2³¹ and frame_no < 2³² (a 2³²-frame payload is 256 GB —
    // beyond any single-blob design point)
    val framePayloads = frames.select(
      (shiftleft(col("doc_id"), 32).bitwiseOR(col("frame_no"))).as("doc_id"),
      col("frame").as("payload"),
      struct(
        lit("frame").as("format"),
        lit(8).as("width"),
        lit(8).as("height"),
        col("frame_bytes").as("n_bytes")
      ).as("meta")
    )
    decodeFeatures(spark, framePayloads)
      .select(
        shiftrightunsigned(col("doc_id"), 32).as("doc_id"),
        col("doc_id").bitwiseAND(lit(0xffffffffL)).as("frame_no"),
        col("n_bytes"),
        col("checksum"),
        round(col("byte_mean"), 6).as("byte_mean"),
        round(col("byte_std"), 6).as("byte_std")
      )
      // provenance: which FRAME kernel sliced/decoded the frames (the
      // per-frame feature pass is always the stub arithmetic over the
      // frame bytes, same as the mmResize composition contract)
      .withColumn("kernel", lit(fk.name))
  }

  /** Audio modality end to end: payload → int16 PCM frames → RMS +
    * zero crossings. Map-side until the output sort.
    */
  def mmAudio(spark: SparkSession, dir: String): DataFrame =
    audioFeatures(spark, withPayloads(Tables.documents(spark, dir)))
      .select(
        col("doc_id"),
        col("frame_no"),
        col("n_samples"),
        round(col("rms"), 6).as("rms"),
        col("zero_crossings")
      )

  /** Audio oracle: sample j of frame f is the little-endian int16 at
    * byte offset 2·(32f + j) — two hex-sliced bytes recombined and
    * sign-folded; RMS from the exact integer square sum, crossings by
    * a LAG window over sample order. Trailing partial frames drop via
    * the (nb // 2) // 32 frame count, exactly as the kernel does.
    */
  val mmAudioSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb FROM documents),
       |fr AS (
       |  SELECT doc_id, hx, UNNEST(range(0, (nb // 2) // 32)) AS fno FROM p),
       |sv AS (
       |  SELECT doc_id, fno, j,
       |    CAST(('0x' || substr(hx, CAST(2 * (fno * 64 + 2 * j) + 1 AS INT), 2)) AS INT)
       |      + 256 * CAST(('0x' || substr(hx, CAST(2 * (fno * 64 + 2 * j + 1) + 1 AS INT), 2)) AS INT) AS raw
       |  FROM (SELECT doc_id, fno, hx, UNNEST(range(0, 32)) AS j FROM fr) t),
       |sval AS (
       |  SELECT doc_id, fno, j,
       |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
       |  FROM sv),
       |lagd AS (
       |  SELECT doc_id, fno, v,
       |    LAG(v) OVER (PARTITION BY doc_id, fno ORDER BY j) AS pv
       |  FROM sval),
       |stats AS (
       |  SELECT doc_id, fno,
       |    SUM(CAST(v AS BIGINT) * v) AS ss,
       |    CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v < 0) <> (pv < 0)) THEN 1 ELSE 0 END) AS BIGINT) AS zc
       |  FROM lagd GROUP BY doc_id, fno)
       |SELECT doc_id, CAST(fno AS BIGINT) AS frame_no, CAST(32 AS BIGINT) AS n_samples,
       |  ROUND(SQRT(CAST(ss AS DOUBLE) / 32), 6) AS rms,
       |  zc AS zero_crossings
       |FROM stats
       |ORDER BY doc_id, frame_no""".stripMargin

  /** Energy voice-activity detection over the decoded PCM frames: a
    * frame is VOICED iff its RMS clears the threshold; consecutive
    * voiced frames merge into segments (the gaps-and-islands shape:
    * group key = frame_no − per-doc voiced rank, constant exactly
    * within a run). Emits one row per segment with its frame span and
    * DECIMAL-mean RMS — the "where is there speech" primitive every
    * audio curation pass starts with.
    *
    * Scale shape: the RMS screen is map-side on the decode output; the
    * island window partitions by doc_id over VOICED FRAMES ONLY — a
    * per-blob relation bounded by the blob's own size (the payload was
    * one binary cell, so its frame count is bounded by design, same
    * grain the decode kernel already holds in memory). Segment agg is
    * algebraic, partial map-side.
    * Portability: both engines compute rms = sqrt(ss/32) from the same
    * exact integer ss in IEEE double, so the threshold compare agrees;
    * segment means sum through DECIMAL.
    */
  def audioVad(
      spark: SparkSession,
      withPayload: DataFrame,
      thresholdRms: Double = 25500.0
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val voiced = audioFeatures(spark, withPayload).filter(col("rms") >= thresholdRms)
    val byFrame = Window.partitionBy(col("doc_id")).orderBy(col("frame_no"))
    val segs = voiced
      .withColumn("__grp", col("frame_no") - row_number().over(byFrame))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(
        min(col("frame_no")).as("start_frame"),
        max(col("frame_no")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        round(
          sum(col("rms").cast("decimal(27,10)")).cast("double") / count(lit(1)),
          6
        ).as("avg_rms")
      )
    val bySeg = Window.partitionBy(col("doc_id")).orderBy(col("start_frame"))
    segs
      .withColumn("seg", row_number().over(bySeg).cast("long") - 1)
      .select(
        col("doc_id"),
        col("seg"),
        col("start_frame"),
        col("end_frame"),
        col("n_frames"),
        col("avg_rms")
      )
  }

  def mmAudioVad(spark: SparkSession, dir: String): DataFrame =
    audioVad(spark, withPayloads(Tables.documents(spark, dir)))

  /** VAD oracle: the mmAudio PCM recovery CTEs verbatim, then the same
    * threshold screen, islands key, and DECIMAL segment means.
    */
  val mmAudioVadSql: String =
    """WITH p AS (
      |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb FROM documents),
      |fr AS (
      |  SELECT doc_id, hx, UNNEST(range(0, (nb // 2) // 32)) AS fno FROM p),
      |sv AS (
      |  SELECT doc_id, fno, j,
      |    CAST(('0x' || substr(hx, CAST(2 * (fno * 64 + 2 * j) + 1 AS INT), 2)) AS INT)
      |      + 256 * CAST(('0x' || substr(hx, CAST(2 * (fno * 64 + 2 * j + 1) + 1 AS INT), 2)) AS INT) AS raw
      |  FROM (SELECT doc_id, fno, hx, UNNEST(range(0, 32)) AS j FROM fr) t),
      |sval AS (
      |  SELECT doc_id, fno, j,
      |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
      |  FROM sv),
      |stats AS (
      |  SELECT doc_id, fno, SQRT(CAST(SUM(CAST(v AS BIGINT) * v) AS DOUBLE) / 32) AS rms
      |  FROM sval GROUP BY doc_id, fno),
      |voiced AS (
      |  SELECT doc_id, fno, rms,
      |    fno - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fno) AS grp
      |  FROM stats WHERE rms >= 25500.0),
      |segs AS (
      |  SELECT doc_id, MIN(fno) AS start_frame, MAX(fno) AS end_frame,
      |    COUNT(*) AS n_frames,
      |    ROUND(CAST(SUM(CAST(rms AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS avg_rms
      |  FROM voiced GROUP BY doc_id, grp)
      |SELECT doc_id,
      |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_frame) - 1 AS seg,
      |  start_frame, end_frame, n_frames, avg_rms
      |FROM segs
      |ORDER BY doc_id, seg""".stripMargin

  /** Shot-boundary detection over the sampled frame chain — the visual
    * twin of [[audioVad]]: a new shot starts where the mean-intensity
    * jump between CONSECUTIVE sampled frames exceeds the threshold
    * (the classic frame-difference shot detector); consecutive frames
    * under the threshold merge into one shot.
    *
    * Scale shape: runs ON the frame-feature relation ([[mmFrames]]'
    * output — already one row per sampled frame); the lag and the
    * running shot counter window per doc over that per-blob relation,
    * bounded by the blob's own size exactly as the VAD islands are.
    * Portability: byte_mean is an exact integer sum / 64 rounded to 6
    * identically in both engines, so the threshold compare agrees.
    */
  def shotSegments(frames: DataFrame, tau: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byFrame = Window.partitionBy(col("doc_id")).orderBy(col("frame_no"))
    val run = byFrame.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frames
      .withColumn("__prev", lag(col("byte_mean"), 1).over(byFrame))
      .withColumn(
        "__new",
        when(col("__prev").isNull || abs(col("byte_mean") - col("__prev")) > tau, 1L)
          .otherwise(0L)
      )
      .withColumn("shot", sum(col("__new")).over(run) - 1L)
      .groupBy(col("doc_id"), col("shot"))
      .agg(
        min(col("frame_no")).as("start_frame"),
        max(col("frame_no")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        round(
          sum(col("byte_mean").cast("decimal(27,10)")).cast("double") / count(lit(1)),
          6
        ).as("avg_mean")
      )
  }

  val ShotThreshold = 3.0

  def mmVideoShots(spark: SparkSession, dir: String): DataFrame =
    shotSegments(mmFramesFeatures(spark, Tables.documents(spark, dir)), ShotThreshold)
      .withColumn("kernel", lit(frameKernelFor(spark).name))

  /** Shot oracle: the mmFrames byte-recovery CTEs, then the identical
    * lag/threshold/running-counter segmentation.
    */
  val mmVideoShotsSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb FROM documents),
       |sampled AS (
       |  SELECT doc_id, fno, hx
       |  FROM (SELECT doc_id, hx, UNNEST(range(0, nb // 64)) AS fno FROM p) t
       |  WHERE fno % 4 = 0),
       |fvals AS (
       |  SELECT doc_id, fno, j,
       |    CAST(('0x' || substr(hx, CAST(2 * (fno * 64 + j) + 1 AS INT), 2)) AS INT) AS b
       |  FROM (SELECT doc_id, fno, hx, UNNEST(range(0, 64)) AS j FROM sampled) t),
       |means AS (
       |  SELECT doc_id, fno, ROUND(CAST(SUM(b) AS DOUBLE) / 64, 6) AS bm
       |  FROM fvals GROUP BY doc_id, fno),
       |flagged AS (
       |  SELECT doc_id, fno, bm,
       |    CASE WHEN LAG(bm) OVER w IS NULL
       |           OR ABS(bm - LAG(bm) OVER w) > $ShotThreshold THEN 1 ELSE 0 END AS nw
       |  FROM means
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY fno)),
       |shotted AS (
       |  SELECT doc_id, fno, bm,
       |    SUM(nw) OVER (PARTITION BY doc_id ORDER BY fno
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS shot
       |  FROM flagged)
       |SELECT doc_id, CAST(shot AS BIGINT) AS shot,
       |  MIN(fno) AS start_frame, MAX(fno) AS end_frame, COUNT(*) AS n_frames,
       |  ROUND(CAST(SUM(CAST(bm AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS avg_mean,
       |  'stub' AS kernel
       |FROM shotted GROUP BY doc_id, shot
       |ORDER BY doc_id, shot""".stripMargin

  /** Frame-chain oracle: every 4th complete 64-byte frame, features by
    * the same hex-sliced byte recovery as mmDecodeSql — frame f's byte
    * j sits at hex offset 2·(64f + j).
    */
  val mmFramesSql: String = {
    val p = graft.functions.Winnow.P
    s"""WITH p AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb FROM documents),
       |sampled AS (
       |  SELECT doc_id, fno, hx
       |  FROM (SELECT doc_id, hx, UNNEST(range(0, nb // 64)) AS fno FROM p) t
       |  WHERE fno % 4 = 0),
       |fvals AS (
       |  SELECT doc_id, fno, j,
       |    CAST(('0x' || substr(hx, CAST(2 * (fno * 64 + j) + 1 AS INT), 2)) AS INT) AS b
       |  FROM (SELECT doc_id, fno, hx, UNNEST(range(0, 64)) AS j FROM sampled) t),
       |stats AS (
       |  SELECT doc_id, fno, SUM(b) AS s1, SUM(CAST(b AS BIGINT) * b) AS s2,
       |    CAST(list_reduce(list(CAST(b AS HUGEINT) ORDER BY j),
       |                     (h, c) -> (h * 31 + c) % $p) AS BIGINT) AS chk
       |  FROM fvals GROUP BY doc_id, fno)
       |SELECT doc_id, fno AS frame_no, CAST(64 AS BIGINT) AS n_bytes, chk AS checksum,
       |  ROUND(CAST(s1 AS DOUBLE) / 64, 6) AS byte_mean,
       |  ROUND(SQRT(GREATEST(CAST(s2 AS DOUBLE) / 64
       |    - (CAST(s1 AS DOUBLE) / 64) * (CAST(s1 AS DOUBLE) / 64), 0.0)), 6) AS byte_std,
       |  'stub' AS kernel
       |FROM stats
       |ORDER BY doc_id, frame_no""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Perceptual-hash near-duplicate images
  // ---------------------------------------------------------------------

  /** STUB perceptual-hash kernel: the classical average-hash (aHash)
    * over the resizeStub 8×8 grid — each grid byte contributes bit 1
    * iff it exceeds the grid mean — returned as FOUR 16-bit band words
    * (bits 16k..16k+15) rather than one packed long, because the
    * banding consumes exactly those words and a 64-bit literal with
    * bit 63 set is not portable to the SQL oracle. A real pHash (DCT
    * over a real decode) drops into this kernel without touching the
    * banding or verify plumbing.
    */
  private[graft] def aHashBands(payload: Array[Byte]): Array[Int] = {
    val g = resizeStub(payload, 8, 8)
    val n = math.max(g.length, 1)
    var s = 0L
    var i = 0
    while (i < g.length) { s += g(i) & 0xff; i += 1 }
    val mean = s.toDouble / n
    val bands = new Array[Int](4)
    i = 0
    while (i < g.length) {
      if ((g(i) & 0xff) > mean) bands(i / 16) |= 1 << (i % 16)
      i += 1
    }
    bands
  }

  /** Near-duplicate image detection over the hash bands — the image
    * counterpart of [[Dedup.simhashNearDups]] and the standard
    * image-dedup pass of a multimodal training pipeline: docs
    * colliding on ANY 16-bit band are candidates (counted-bucket
    * capped, so no bucket ever materializes beyond `maxBucketSize`),
    * then candidates verify by exact Hamming distance across all four
    * bands. Scale shape: hash computation is the map-side stub-decode
    * scan; the only data-scale exchange is the (band, chunk)-keyed
    * bucket count; pairs form only inside admissible buckets.
    */
  def phashNearDups(
    spark: SparkSession,
    withPayload: DataFrame,
    maxHamming: Int = 8,
    maxBucketSize: Int = 256
  ): DataFrame = {
    import spark.implicits._
    val hashed = withPayload
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        val b = aHashBands(p)
        (id, b(0), b(1), b(2), b(3))
      })
      .toDF("doc_id", "h0", "h1", "h2", "h3")
    val bucketRows = hashed
      .select(
        col("doc_id"),
        col("h0"),
        col("h1"),
        col("h2"),
        col("h3"),
        posexplode(array(col("h0"), col("h1"), col("h2"), col("h3")))
          .as(Seq("band", "chunk"))
      )
    val admissible = bucketRows
      .groupBy(col("band"), col("chunk"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") > 1 && col("sz") <= maxBucketSize)
      .select(col("band"), col("chunk"))
    val member = bucketRows.join(admissible, Seq("band", "chunk"), "left_semi")
    val lhs = member.select(
      col("band"),
      col("chunk"),
      col("doc_id").as("doc_a"),
      col("h0").as("a_h0"),
      col("h1").as("a_h1"),
      col("h2").as("a_h2"),
      col("h3").as("a_h3")
    )
    val rhs = member.select(
      col("band"),
      col("chunk"),
      col("doc_id").as("doc_b"),
      col("h0").as("b_h0"),
      col("h1").as("b_h1"),
      col("h2").as("b_h2"),
      col("h3").as("b_h3")
    )
    lhs
      // the banded hash relation is corpus cardinality on BOTH sides —
      // merge-hinted so the self-join is never planned as a broadcast
      .join(rhs.hint("merge"), Seq("band", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        (bit_count(col("a_h0").bitwiseXOR(col("b_h0"))) +
          bit_count(col("a_h1").bitwiseXOR(col("b_h1"))) +
          bit_count(col("a_h2").bitwiseXOR(col("b_h2"))) +
          bit_count(col("a_h3").bitwiseXOR(col("b_h3")))).cast("long").as("hamming")
      )
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Planted exact-payload copies so hamming-0 hits exist at every
    * scale factor (same fixture discipline as
    * [[Dedup.withPlantedNearDups]]): every doc_id ≡ 0 (mod 13) gets a
    * byte-identical twin at doc_id + 2,000,000.
    */
  def withPlantedExactCopies(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    base.union(
      base
        .filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + lit(2000000L)).as("doc_id"), col("text"))
    )
  }

  // Two registry consumers read the SAME mined phash pair relation
  // (the pair report and the cluster collapse) — one entry per
  // (session, dir)
  def phashPairsFor(spark: SparkSession, dir: String): DataFrame =
    Intermediates.getOrBuild(spark, "phash_pairs", Tables.canonDir(dir)) {
      phashNearDups(
        spark,
        withPayloads(withPlantedExactCopies(Tables.documents(spark, dir)))
      ).localCheckpoint(true)
    }

  def mmPhash(spark: SparkSession, dir: String): DataFrame =
    phashPairsFor(spark, dir)

  /** The phash pair pipeline as shared oracle CTEs (planted corpus →
    * hex-sliced grid bytes → bands → counted buckets → Hamming-scored
    * candidates in `scored`) — consumed by mmPhashSql and the cluster
    * composition below.
    */
  private val MmPhashPairCtes: String =
    """pc AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0),
      |p AS (
      |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb FROM pc),
      |dims AS (
      |  SELECT doc_id, hx, nb, LEAST(64, GREATEST(nb, 1)) AS ol FROM p),
      |g AS (
      |  SELECT doc_id, ol, i,
      |    CASE WHEN nb = 0 THEN 0
      |         ELSE CAST(('0x' || substr(hx,
      |           CAST(2 * LEAST(i * GREATEST(nb // ol, 1), nb - 1) + 1 AS INT), 2)) AS INT)
      |    END AS b
      |  FROM (SELECT doc_id, hx, nb, ol, UNNEST(range(0, ol)) AS i FROM dims) t),
      |m AS (SELECT doc_id, CAST(SUM(b) AS DOUBLE) / MAX(ol) AS mean FROM g GROUP BY doc_id),
      |bset AS (
      |  SELECT g.doc_id, CAST(i // 16 AS INT) AS band,
      |    CAST(SUM(CASE WHEN b > mean THEN (1 << CAST(i % 16 AS INT)) ELSE 0 END) AS INT) AS chunk
      |  FROM g JOIN m USING (doc_id)
      |  GROUP BY 1, 2),
      |bands AS (
      |  SELECT a.doc_id, a.band, COALESCE(bs.chunk, 0) AS chunk
      |  FROM (SELECT doc_id, CAST(UNNEST(range(0, 4)) AS INT) AS band FROM dims) a
      |  LEFT JOIN bset bs ON bs.doc_id = a.doc_id AND bs.band = a.band),
      |hw AS (
      |  SELECT doc_id,
      |    MAX(CASE WHEN band = 0 THEN chunk END) AS h0,
      |    MAX(CASE WHEN band = 1 THEN chunk END) AS h1,
      |    MAX(CASE WHEN band = 2 THEN chunk END) AS h2,
      |    MAX(CASE WHEN band = 3 THEN chunk END) AS h3
      |  FROM bands GROUP BY doc_id),
      |adm AS (
      |  SELECT band, chunk FROM bands GROUP BY band, chunk
      |  HAVING COUNT(*) > 1 AND COUNT(*) <= 256),
      |mem AS (SELECT b.band, b.chunk, b.doc_id FROM bands b JOIN adm USING (band, chunk)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      |  FROM mem a JOIN mem c ON a.band = c.band AND a.chunk = c.chunk AND a.doc_id < c.doc_id),
      |scored AS (
      |  SELECT doc_a, doc_b,
      |    CAST(bit_count(xor(x.h0, y.h0)) + bit_count(xor(x.h1, y.h1)) +
      |         bit_count(xor(x.h2, y.h2)) + bit_count(xor(x.h3, y.h3)) AS BIGINT) AS hamming
      |  FROM cand JOIN hw x ON x.doc_id = cand.doc_a JOIN hw y ON y.doc_id = cand.doc_b)""".stripMargin

  /** aHash oracle: the strided 8×8 grid bytes recovered by hex-slicing
    * exactly as resizeStub picks them (stride = max(nb // ol, 1), index
    * min(i·stride, nb−1)), the same grid mean, the same bit>mean rule
    * folded into four 16-bit words, and the identical counted-bucket
    * banding + Hamming verify.
    */
  val mmPhashSql: String =
    s"""WITH $MmPhashPairCtes
       |SELECT doc_a, doc_b, hamming FROM scored
       |WHERE hamming <= 8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Image duplicate groups end to end: the phash pair graph collapsed
    * to connected components with min-id survivors — the actual
    * "keep one thumbnail per family" decision a multimodal pipeline
    * ships, sharing [[Dedup.clustersWithSurvivors]] (the one components
    * loop: min-label rounds with a pointer jump, O(log n) rounds on a
    * path) above the mm pair miner.
    */
  def mmPhashClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.clustersWithSurvivors(
      phashPairsFor(spark, dir).select(col("doc_a"), col("doc_b"))
    )

  /** Cluster oracle: the shared phash pair CTEs feeding the identical
    * recursive transitive closure as dedupClustersSql.
    */
  val mmPhashClustersSql: String =
    s"""WITH RECURSIVE $MmPhashPairCtes,
       |vp AS (SELECT doc_a, doc_b FROM scored WHERE hamming <= 8),
       |cedges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM vp
       |  UNION
       |  SELECT doc_b AS u, doc_a AS v FROM vp),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM cedges) n
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN cedges e ON e.u = r.v)
       |SELECT u AS doc_id, MIN(v) AS cluster, u = MIN(v) AS survivor
       |FROM reach GROUP BY u
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Audio fingerprint constellation (dominant band per frame)
  // ---------------------------------------------------------------------

  /** Per-sample PCM decode: (frame_no, sample index j, int16 value) —
    * the raw relation the spectral fingerprint needs; same little-
    * endian int16 framing as [[audioStub]].
    */
  private[graft] def audioSamplesStub(
      payload: Array[Byte],
      frameSamples: Int
  ): Seq[(Long, Long, Int)] = {
    val nFrames = (payload.length / 2) / frameSamples
    (0 until nFrames).flatMap { f =>
      (0 until frameSamples).map { j =>
        val base = 2 * (f * frameSamples + j)
        var v = (payload(base) & 0xff) | ((payload(base + 1) & 0xff) << 8)
        if (v >= 0x8000) v -= 0x10000
        (f.toLong, j.toLong, v)
      }
    }
  }

  /** Decoded PCM sample relation over the payload column. */
  def audioSamples(
      spark: SparkSession,
      withPayload: DataFrame,
      frameSamples: Int = 32,
      batchSize: Int = 64
  ): DataFrame = {
    import spark.implicits._
    withPayload
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { case (id, payload) =>
            audioSamplesStub(payload, frameSamples).iterator.map { case (f, j, v) => (id, f, j, v) }
          }
        }
      }
      .toDF("doc_id", "frame_no", "j", "v")
  }

  /** Audio fingerprint constellation: the dominant DFT band of every
    * PCM frame with its share of the frame's spectral mass — the
    * landmark stream an audio-dedup index hashes (the Shazam
    * constellation primitive, Wang 2003): two recordings of the same
    * clip agree on (frame, dom_band) sequences even under gain
    * changes, because argmax and share are gain-invariant.
    *
    * Scale shape: the sample relation reduces to (doc, frame, band)
    * Goertzel components in ONE partial agg (trig runs codegen'd in
    * the same projection); the argmax and total run per (doc, frame) —
    * a window bounded by the blob's own frame count, the VAD
    * argument. Portability: trig on identical rationals, DECIMAL term
    * sums, round-9 power BEFORE ranking so both engines break the
    * argmax identically, ties to the lower band.
    */
  def audioFingerprint(
      spark: SparkSession,
      withPayload: DataFrame,
      ks: Seq[Int] = 1 to 4,
      frameSamples: Int = 32
  ): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(27, 10)
    val twoPi = 6.283185307179586
    val n = lit(frameSamples.toDouble)
    // round-9 the trig BEFORE the product: PCM magnitudes (~3e4)
    // amplify libm cos/sin ULP drift past the DECIMAL(27,10) grid, so
    // the transcendental must land on the engine-shared round-9
    // lattice (the ln discipline elsewhere). The lattice has only
    // |ks|·frameSamples points, so it ships as a LITERAL table —
    // Math.cos runs |ks|·frameSamples times at plan build instead of
    // 2·|ks| times per sample (was the single slowest bench query)
    def r9(x: Double): Double =
      BigDecimal(java.math.BigDecimal.valueOf(x)).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // one agg COLUMN PAIR per band instead of an explode(|ks|) row
    // fan: the sample stream is scanned once at its own grain and all
    // band components reduce in the same partial aggregation
    def table(f: Double => Double, k: Int) =
      typedlit((0 until frameSamples).map(j => r9(f(twoPi * k * (j.toDouble / frameSamples)))))
    val jIdx = (col("j") + 1).cast("int")
    val bandAggs = ks.flatMap { k =>
      Seq(
        sum((col("v") * element_at(table(math.cos, k), jIdx)).cast(dec)).cast("double").as(s"__c$k"),
        sum((col("v") * element_at(table(math.sin, k), jIdx)).cast(dec)).cast("double").as(s"__s$k")
      )
    }
    // one row per frame with all band components as COLUMNS: the total
    // and the dominant band are pure column arithmetic — no stack
    // fan-out, no per-frame window shuffle+sort. The total is a DECIMAL
    // column sum (exact, so column order ≡ the previous window sum over
    // the stacked rows); the argmax is a lexicographic struct-greatest
    // with −k as the tie-break (max p, then MIN k — identical to the
    // old (p desc, k asc) rank).
    def pCol(k: Int) =
      round(
        (col(s"__c$k") / n) * (col(s"__c$k") / n) + (col(s"__s$k") / n) * (col(s"__s$k") / n),
        9
      )
    val tot = ks.map(k => col(s"__p$k").cast(dec)).reduce(_ + _).cast("double")
    val best = greatest(ks.map(k => struct(col(s"__p$k").as("__p"), lit(-k.toLong).as("__nk"))): _*)
    audioSamples(spark, withPayload, frameSamples)
      .select(col("doc_id"), col("frame_no"), col("j"), col("v").cast("double").as("v"))
      .groupBy(col("doc_id"), col("frame_no"))
      .agg(bandAggs.head, bandAggs.tail: _*)
      .select(col("doc_id") +: col("frame_no") +: ks.map(k => pCol(k).as(s"__p$k")): _*)
      .withColumn("__tot", tot)
      .withColumn("__best", best)
      .filter(col("__tot") > 0)
      .select(
        col("doc_id"),
        col("frame_no"),
        (-col("__best.__nk")).as("dom_band"),
        // share only, never the raw power: at ~1e6 magnitudes a second
        // rounding of the round-9 power lands on the 6-decimal
        // half-grid where the engines' double ROUND diverge (observed
        // 1/20k rows at sf0.1); the O(1) ratio is grid-safe
        round(col("__best.__p") / col("__tot"), 6).as("power_share")
      )
  }

  /** The corpus landmark stream, an [[Intermediates]] entry per
    * (session, dir), localCheckpoint'd: the fingerprint report and the
    * constellation match read the SAME landmarks.
    */
  def fingerprintFor(spark: SparkSession, dir: String): DataFrame =
    Intermediates.getOrBuild(spark, "audio_fingerprint", Tables.canonDir(dir)) {
      audioFingerprint(spark, withPayloads(Tables.documents(spark, dir)))
        .localCheckpoint(true)
    }

  def mmAudioFp(spark: SparkSession, dir: String): DataFrame =
    fingerprintFor(spark, dir)

  /** Oracle: the mm_audio hex PCM decode CTEs feeding the identical
    * Goertzel components, pinned power order, round-9 rank and share.
    */
  /** The fingerprint pipeline as reusable oracle CTEs over any source
    * CTE exposing (doc_id, hx, nb) — hex payload + octet length. Ends
    * in `fp(doc_id, frame_no, dom_band, power_share)`.
    */
  private[operators] def mmAudioFpCtes(src: String): String =
    s"""p AS ($src),
       |fr AS (
       |  SELECT doc_id, hx, UNNEST(range(0, (nb // 2) // 32)) AS fno FROM p),
       |sv AS (
       |  SELECT doc_id, fno, j,
       |    CAST(('0x' || substr(hx, CAST(2 * (fno * 64 + 2 * j) + 1 AS INT), 2)) AS INT)
       |      + 256 * CAST(('0x' || substr(hx, CAST(2 * (fno * 64 + 2 * j + 1) + 1 AS INT), 2)) AS INT) AS raw
       |  FROM (SELECT doc_id, fno, hx, UNNEST(range(0, 32)) AS j FROM fr) t),
       |sval AS (
       |  SELECT doc_id, fno, j,
       |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
       |  FROM sv),
       |bands AS (
       |  SELECT doc_id, fno, kk.k AS k,
       |    CAST(SUM(CAST(CAST(v AS DOUBLE) * ROUND(COS(6.283185307179586 * kk.k * (CAST(j AS DOUBLE) / 32.0)), 9) AS DECIMAL(27,10))) AS DOUBLE) AS c,
       |    CAST(SUM(CAST(CAST(v AS DOUBLE) * ROUND(SIN(6.283185307179586 * kk.k * (CAST(j AS DOUBLE) / 32.0)), 9) AS DECIMAL(27,10))) AS DOUBLE) AS s
       |  FROM sval, (SELECT UNNEST(range(1, 5)) AS k) kk
       |  GROUP BY 1, 2, 3),
       |pw AS (
       |  SELECT doc_id, fno, k,
       |    ROUND((c / 32.0) * (c / 32.0) + (s / 32.0) * (s / 32.0), 9) AS p
       |  FROM bands),
       |r AS (
       |  SELECT doc_id, fno, k, p,
       |    CAST(SUM(CAST(p AS DECIMAL(27,10))) OVER (PARTITION BY doc_id, fno) AS DOUBLE) AS tot,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id, fno ORDER BY p DESC, k) AS rn
       |  FROM pw),
       |fp AS (
       |  SELECT doc_id, CAST(fno AS BIGINT) AS frame_no, CAST(k AS BIGINT) AS dom_band,
       |    ROUND(p / tot, 6) AS power_share
       |  FROM r
       |  WHERE rn = 1 AND tot > 0)""".stripMargin

  val mmAudioFpSql: String = {
    val src = "SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb FROM documents"
    s"""WITH ${mmAudioFpCtes(src)}
       |SELECT doc_id, frame_no, dom_band, power_share
       |FROM fp
       |ORDER BY doc_id, frame_no""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Audio constellation match (offset voting)
  // ---------------------------------------------------------------------

  /** Offset-voting audio match over the shared [[audioFingerprint]]
    * landmark stream (Wang 2003, the Shazam search shape): consecutive
    * frames fold into an integer SIGNATURE (per frame, the dominant
    * band enriched with the quantized power share — 24 symbols — so
    * `winFrames` frames span 24^winFrames signature space), documents
    * sharing a signature vote on their frame-index OFFSET, and a pair
    * whose best offset collects ≥ `minVotes` is a time-shifted audio
    * duplicate — the match [[mmPhashClusters]]-style whole-blob
    * hashing can never see, because every frame hash differs once the
    * stream is shifted.
    *
    * Scale shape: landmarks reduce per blob (frame windows are
    * blob-bounded LEADs); the ONLY corpus-grain join is signature-
    * keyed and gated by a COUNTED admission — signatures hotter than
    * `cap` (silence, test tones, templated headers) are dropped
    * before the pair product, so worst-case pairs are Σ min(n_sig,cap)²
    * by construction (the dedup_semantic/bucketedKnn discipline). The
    * offset histogram aggregates at pair grain; the per-pair argmax is
    * a struct-max, no window. Portability: the share quantizer floors
    * an identical round-6 double ×5.0; vote tie-break pins to the
    * SMALLEST offset.
    */
  def audioConstellationMatch(
      spark: SparkSession,
      withPayload: DataFrame,
      winFrames: Int = 3,
      cap: Long = 64L,
      minVotes: Long = 2L
  ): DataFrame =
    audioConstellationMatchFp(audioFingerprint(spark, withPayload), winFrames, cap, minVotes)

  /** The match over an already-built landmark stream — the entry the
    * fixed query uses so the memoized corpus fingerprint
    * ([[fingerprintFor]]) is shared instead of recomputed.
    */
  def audioConstellationMatchFp(
      fp: DataFrame,
      winFrames: Int = 3,
      cap: Long = 64L,
      minVotes: Long = 2L
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_no"))
    val symbol =
      (col("dom_band") - 1L) + lit(4L) * floor(col("power_share") * lit(5.0)).cast("long")
    val base = fp.withColumn("__s0", symbol)
    val folded = (1 until winFrames).foldLeft(base) { (d, i) =>
      d.withColumn(s"__s$i", lead(col("__s0"), i).over(w))
    }
    val sig = (0 until winFrames)
      .map(i => col(s"__s$i") * lit(math.pow(24.0, i.toDouble).toLong))
      .reduce(_ + _)
    val sigs = folded
      .filter((1 until winFrames).map(i => col(s"__s$i").isNotNull).reduce(_ && _))
      .select(col("doc_id"), col("frame_no").as("widx"), sig.as("sig"))
    val admitted = sigs.join(
      sigs.groupBy(col("sig")).agg(count(lit(1)).as("__n")).filter(col("__n") <= cap),
      Seq("sig")
    )
    val a = admitted.select(col("sig"), col("doc_id").as("doc_a"), col("widx").as("__wa"))
    val b = admitted.select(col("sig"), col("doc_id").as("doc_b"), col("widx").as("__wb"))
    val votes = a
      .join(b, Seq("sig"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), (col("__wa") - col("__wb")).as("delta"))
      .agg(count(lit(1)).as("votes"))
    votes
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(struct(col("votes").as("v"), (-col("delta")).as("nd"))).as("__m"))
      .select(
        col("doc_a"),
        col("doc_b"),
        (-col("__m.nd")).as("delta"),
        col("__m.v").as("votes")
      )
      .filter(col("votes") >= minVotes)
  }

  /** The fixed query plants guaranteed time-shifted twins from the
    * data itself: for doc_id % 11 == 0 with ≥ 5 frames of payload, a
    * copy with the FIRST FRAME DROPPED (substring from byte 65) joins
    * as doc_id + 4000000 — every surviving landmark matches the
    * original at offset +1, the signal whole-blob hashing misses.
    */
  def mmAudioMatch(spark: SparkSession, dir: String): DataFrame = {
    // fingerprints are per-doc independent, so fp(base ∪ planted) =
    // memoized fp(base) ∪ fp(planted) — only the ~1/11 planted slice
    // pays a fresh decode+DFT
    val planted = withPayloads(Tables.documents(spark, dir))
      .select(col("doc_id"), col("payload"))
      .filter(col("doc_id") % 11 === 0 && length(col("payload")) >= 320)
      .select((col("doc_id") + 4000000L).as("doc_id"), expr("substring(payload, 65)").as("payload"))
    val fp = fingerprintFor(spark, dir)
      .unionByName(audioFingerprint(spark, planted))
    audioConstellationMatchFp(fp)
  }

  /** Constellation oracle: the shared fp CTEs over the planted corpus,
    * identical symbol fold, counted admission, offset voting and
    * (votes desc, delta asc) argmax.
    */
  val mmAudioMatchSql: String = {
    val src =
      """SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb FROM documents
        |  UNION ALL
        |  SELECT doc_id + 4000000 AS doc_id, substr(hex(encode(text)), 129) AS hx,
        |    octet_length(encode(text)) - 64 AS nb
        |  FROM documents
        |  WHERE doc_id % 11 = 0 AND octet_length(encode(text)) >= 320""".stripMargin
    s"""WITH ${mmAudioFpCtes(src)},
       |sym AS (
       |  SELECT doc_id, frame_no,
       |    (dom_band - 1) + 4 * CAST(FLOOR(power_share * 5.0) AS BIGINT) AS s0
       |  FROM fp),
       |win AS (
       |  SELECT doc_id, frame_no AS widx, s0,
       |    LEAD(s0, 1) OVER (PARTITION BY doc_id ORDER BY frame_no) AS s1,
       |    LEAD(s0, 2) OVER (PARTITION BY doc_id ORDER BY frame_no) AS s2
       |  FROM sym),
       |sigs AS (
       |  SELECT doc_id, widx, s0 * 1 + s1 * 24 + s2 * 576 AS sig
       |  FROM win WHERE s1 IS NOT NULL AND s2 IS NOT NULL),
       |admitted AS (
       |  SELECT sigs.* FROM sigs
       |  JOIN (SELECT sig, COUNT(*) AS n FROM sigs GROUP BY 1) f
       |    ON f.sig = sigs.sig AND f.n <= 64),
       |v AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.widx - b.widx AS delta,
       |    COUNT(*) AS votes
       |  FROM admitted a JOIN admitted b
       |    ON b.sig = a.sig AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3),
       |best AS (
       |  SELECT doc_a, doc_b, delta, votes,
       |    ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b ORDER BY votes DESC, delta) AS rn
       |  FROM v)
       |SELECT doc_a, doc_b, delta, votes
       |FROM best
       |WHERE rn = 1 AND votes >= 2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Cross-modal retrieval (image queries against text embeddings)
  // ---------------------------------------------------------------------

  val CrossModalQueries = 10
  val CrossModalK = 5

  /** Cross-modal retrieval — the CLIP-style query the multimodal family
    * was missing (it had dedup/features/matching but no retrieval
    * view): IMAGE-modality queries searched against the TEXT embedding
    * corpus in a shared d=64 space. The image "encoder" is the
    * declared deterministic stub (the resizeStub 8x8 grid, mean-
    * centered so cosine has contrast — the aHash contract as a dense
    * vector, zero-padded to d); a real vision tower drops into the
    * kernel without touching the retrieval plumbing, which is the real
    * deliverable: modality-partitioned grain, broadcast query set, one
    * corpus scan, WindowGroupLimit top-k — the ann_bruteforce shape.
    *
    * Scale shape: queries are query-set grain (broadcast); the text
    * corpus is scanned once and never shuffled; because both
    * modalities land in the SAME vector space, the existing LSH/IVF/
    * graph indexes apply unchanged as the sub-scan path at 100 TB —
    * this exact scan is the declared acceptance baseline, exactly as
    * for ann_bruteforce. Portability: dots fold left-to-right in
    * doubles (zip_with+aggregate mirrors list_dot_product), cosine
    * rounds to 9 before the rank and the output IS that grid-9 value.
    */
  def crossModalTopK(docs: DataFrame, emb: DataFrame, k: Int = CrossModalK): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val qImg = withPayloads(docs.filter(col("doc_id") < CrossModalQueries))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        val g = resizeStub(p, 8, 8)
        val n = math.max(g.length, 1)
        var s = 0L
        var i = 0
        while (i < g.length) { s += g(i) & 0xff; i += 1 }
        val mean = s.toDouble / n
        val v = new Array[Double](64)
        i = 0
        while (i < g.length) { v(i) = (g(i) & 0xff).toDouble - mean; i += 1 }
        (id, v.toSeq)
      })
      .toDF("query_id", "qv")
    val t = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("tv"))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val byQ = Window.partitionBy(col("query_id")).orderBy(col("cos9").desc, col("vec_id"))
    t.crossJoin(broadcast(qImg))
      .withColumn("__qn", sqrt(dot(col("qv"), col("qv"))))
      .withColumn("__tn", sqrt(dot(col("tv"), col("tv"))))
      .filter(col("__qn") > 0 && col("__tn") > 0)
      .withColumn("cos9", round(dot(col("qv"), col("tv")) / (col("__qn") * col("__tn")), 9))
      .withColumn("rank", row_number().over(byQ).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("text_id"), col("cos9").as("cosine"))
  }

  def mmCrossmodal(spark: SparkSession, dir: String): DataFrame =
    crossModalTopK(Tables.documents(spark, dir), Tables.embeddings(spark, dir))
      .orderBy(col("query_id"), col("rank"))

  /** Oracle: the image grid recovered by hex-slicing the payload bytes
    * (the mmPhash grid CTE), mean-centered and zero-padded to 64, then
    * the identical cosine/rank algebra against the text embeddings.
    */
  val mmCrossmodalSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
       |  FROM documents WHERE doc_id < $CrossModalQueries),
       |dims AS (
       |  SELECT doc_id, hx, nb, LEAST(64, GREATEST(nb, 1)) AS ol FROM p),
       |g AS (
       |  SELECT doc_id, ol, i,
       |    CASE WHEN nb = 0 THEN 0
       |         ELSE CAST(('0x' || substr(hx,
       |           CAST(2 * LEAST(i * GREATEST(nb // ol, 1), nb - 1) + 1 AS INT), 2)) AS INT)
       |    END AS b
       |  FROM (SELECT doc_id, hx, nb, ol, UNNEST(range(0, ol)) AS i FROM dims) t),
       |m AS (SELECT doc_id, CAST(SUM(b) AS DOUBLE) / MAX(ol) AS mean FROM g GROUP BY doc_id),
       |qv0 AS (
       |  SELECT g.doc_id AS query_id, list(CAST(g.b AS DOUBLE) - m.mean ORDER BY g.i) AS v
       |  FROM g JOIN m USING (doc_id) GROUP BY g.doc_id),
       |qv AS (
       |  SELECT query_id,
       |    list_concat(v, list_transform(range(0, 64 - len(v)), x -> 0.0)) AS v
       |  FROM qv0),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS tv FROM embeddings),
       |sc AS (
       |  SELECT q.query_id, t.vec_id,
       |    ROUND(list_dot_product(q.v, t.tv) /
       |      (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(t.tv, t.tv))), 9) AS cos9
       |  FROM qv q CROSS JOIN t
       |  WHERE SQRT(list_dot_product(q.v, q.v)) > 0
       |    AND SQRT(list_dot_product(t.tv, t.tv)) > 0),
       |rk AS (
       |  SELECT query_id, vec_id, cos9,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos9 DESC, vec_id) AS rank
       |  FROM sc)
       |SELECT query_id, rank, vec_id AS text_id, cos9 AS cosine
       |FROM rk WHERE rank <= $CrossModalK
       |ORDER BY query_id, rank""".stripMargin
}
