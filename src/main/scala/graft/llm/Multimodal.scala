package graft.llm

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Multimodal-column plumbing: media payloads as opaque `binary`
  * columns with typed metadata, decoded per-partition in typed Scala.
  *
  * The codec is REAL: each document row is materialised as a genuine
  * PNG (encoded with `javax.imageio` — deflate IDAT, full file
  * format) whose dimensions and gradient colors are pure functions of
  * `doc_id`, then decoded back with `ImageIO.read` inside
  * `mapPartitions`. Because the image content is a closed-form
  * function of the id, the DuckDB oracle recomputes width / height /
  * pixel checksum in SQL — a hash match proves the bytes really went
  * through PNG encode → decode → per-pixel inspection, not arithmetic
  * on payload length.
  *
  * The Spark-side shape is what a 100 TB media pipeline needs: binary
  * column schema, per-partition batched processing via `mapPartitions`
  * on a typed Dataset (one codec init per partition, not per row — the
  * pattern a JNI codec requires), and explicit output schemas carried
  * by case-class Encoders.
  */
object Multimodal {

  // ImageIO must not spill its read/write cache to disk temp files on
  // executors, and must work headless.
  System.setProperty("java.awt.headless", "true")
  ImageIO.setUseCache(false)

  /** Typed metadata record produced by the decode+resize stage. */
  final case class MediaMeta(
      doc_id: Long, width: Long, height: Long,
      resized_w: Long, resized_h: Long, pix_sum: Long, format: String)

  /** Sampled-frame record: per-row pixel sums at 4 evenly-spaced
    * scanlines of the decoded image (stands in for video frame
    * extraction — each "frame" is genuinely decoded pixel data). */
  final case class FrameSample(
      doc_id: Long, f0: Long, f1: Long, f2: Long, f3: Long)

  /** Image geometry/color as pure functions of the id — the contract
    * shared by the synthesiser and the SQL oracle. Dims stay tiny
    * (8..32) so encode/decode cost is bounded per row. */
  def widthOf(id: Long): Int  = (8 + id % 25).toInt
  def heightOf(id: Long): Int = (8 + (id / 7) % 25).toInt
  def baseR(id: Long): Int    = (id % 224).toInt
  def baseG(id: Long): Int    = (id * 31 % 224).toInt
  def baseB(id: Long): Int    = (id * 131 % 256).toInt

  /** Encode a real PNG for the id: gradient r = baseR + x,
    * g = baseG + y, b = baseB (no channel ever wraps: base ≤ 223,
    * coord ≤ 31). */
  def synthPng(id: Long): Array[Byte] = {
    val w = widthOf(id); val h = heightOf(id)
    val (r0, g0, b0) = (baseR(id), baseG(id), baseB(id))
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, ((r0 + x) << 16) | ((g0 + y) << 8) | b0)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Sniff the container format from magic bytes (the only metadata
    * read without a full decode). */
  def sniffFormat(payload: Array[Byte]): String =
    if (payload.length >= 8 &&
      (payload(0) & 0xFF) == 0x89 && payload(1) == 'P' &&
      payload(2) == 'N' && payload(3) == 'G') "png"
    else if (payload.length >= 3 && (payload(0) & 0xFF) == 0xFF &&
      (payload(1) & 0xFF) == 0xD8) "jpeg"
    else "unknown"

  /** REAL decode: parse the PNG, checksum every pixel, and resize to
    * width 224 with a genuine Graphics2D scale (reported dims come
    * from the resized image object, not arithmetic). */
  def decodeImage(id: Long, payload: Array[Byte]): MediaMeta = {
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    require(img != null, s"undecodable payload for doc $id")
    val w = img.getWidth; val h = img.getHeight
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sum += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
        x += 1
      }
      y += 1
    }
    val rw = 224
    val rh = math.max(1, (h.toLong * rw / w).toInt)
    val resized = new BufferedImage(rw, rh, BufferedImage.TYPE_INT_RGB)
    val g2 = resized.createGraphics()
    try g2.drawImage(img, 0, 0, rw, rh, null) finally g2.dispose()
    MediaMeta(id, w, h, resized.getWidth.toLong, resized.getHeight.toLong,
      sum, sniffFormat(payload))
  }

  /** REAL frame sampling: decode once, probe 4 evenly-spaced
    * scanlines, each frame value = that row's pixel sum. */
  def sampleFrames(id: Long, payload: Array[Byte]): FrameSample = {
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    require(img != null, s"undecodable payload for doc $id")
    val w = img.getWidth; val h = img.getHeight
    def rowSum(i: Int): Long = {
      val y = (i * h) / 4
      var sum = 0L; var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sum += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
        x += 1
      }
      sum
    }
    FrameSample(id, rowSum(0), rowSum(1), rowSum(2), rowSum(3))
  }

  /** documents → genuine PNG payloads as an opaque binary column.
    * Encoder state (none needed for ImageIO, but the init point is
    * where a JNI codec would allocate) is per-partition. */
  def payloads(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map(id => (id, synthPng(id))))
      .toDF("doc_id", "payload")
  }

  /** binary media column → per-partition decode+resize → typed
    * metadata table. */
  def decodePipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    payloads(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init point (real codecs allocate here, once)
        it.map { case (id, payload) => decodeImage(id, payload) }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Frame-sampling pipeline over the same payload column. */
  def framePipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    payloads(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, p) => sampleFrames(id, p) })
      .toDF()
      .orderBy("doc_id")
  }

  // Closed forms shared by both oracles (DuckDB SQL):
  //   width  = 8 + doc_id % 25          height = 8 + (doc_id // 7) % 25
  //   baseR  = doc_id % 224             baseG  = doc_id * 31 % 224
  //   baseB  = doc_id * 131 % 256
  //   row y pixel sum = w*baseR + w*(w-1)/2 + w*(baseG + y) + w*baseB
  //   total pixel sum = h*(w*baseR + w*(w-1)/2)
  //                   + w*(h*baseG + h*(h-1)/2) + w*h*baseB
  private val geomCte = """
      WITH g AS (
        SELECT doc_id,
               8 + doc_id % 25 AS w,
               8 + (doc_id // 7) % 25 AS h,
               doc_id % 224 AS r0,
               doc_id * 31 % 224 AS g0,
               doc_id * 131 % 256 AS b0
        FROM documents
      )"""

  val decode: Q = Q(
    "q_multimodal_decode",
    (s, dir) => decodePipeline(s, dir),
    Some(geomCte + """
      SELECT doc_id,
             CAST(w AS BIGINT) AS width,
             CAST(h AS BIGINT) AS height,
             CAST(224 AS BIGINT) AS resized_w,
             CAST(greatest(1, (h * 224) // w) AS BIGINT) AS resized_h,
             CAST(h * (w * r0 + w * (w - 1) // 2)
                + w * (h * g0 + h * (h - 1) // 2)
                + w * h * b0 AS BIGINT) AS pix_sum,
             'png' AS format
      FROM g ORDER BY doc_id"""))

  val frames: Q = Q(
    "q_multimodal_frames",
    (s, dir) => framePipeline(s, dir),
    Some(geomCte + """
      SELECT doc_id,
             CAST(w * r0 + w * (w - 1) // 2 + w * (g0 + (0 * h) // 4) + w * b0 AS BIGINT) AS f0,
             CAST(w * r0 + w * (w - 1) // 2 + w * (g0 + (1 * h) // 4) + w * b0 AS BIGINT) AS f1,
             CAST(w * r0 + w * (w - 1) // 2 + w * (g0 + (2 * h) // 4) + w * b0 AS BIGINT) AS f2,
             CAST(w * r0 + w * (w - 1) // 2 + w * (g0 + (3 * h) // 4) + w * b0 AS BIGINT) AS f3
      FROM g ORDER BY doc_id"""))

  /** Media-LAKE round trip: the payloads are written as one genuine
    * .png FILE per document (id in the file name — the layout object
    * stores and media crawlers produce), then read back through
    * Spark's `binaryFile` DataSource (path/length/content schema,
    * glob-filtered scan) and decoded. Oracled against the same
    * closed-form geometry as [[decode]], so a hash match proves the
    * file round trip is lossless end-to-end: encode → filesystem →
    * binaryFile scan → PNG decode → per-pixel checksum.
    *
    * At 100 TB this is the real ingestion shape — media arrives as
    * object-store files, not rows — and `binaryFile` scans
    * parallelize by file the way parquet scans split by row group.
    * Writes go executor-side (foreachPartition), one writer per file
    * (doc_id partitions the name space), staging isolated per run via
    * [[graft.Staging]]. */
  val lake: Q = Q(
    "q_multimodal_lake",
    (s, dir) => {
      import s.implicits._
      val out = graft.Staging.dir(s, "graft_media_lake")
      payloads(s, dir).as[(Long, Array[Byte])].foreachPartition {
        (it: Iterator[(Long, Array[Byte])]) =>
          val base = java.nio.file.Paths.get(out)
          java.nio.file.Files.createDirectories(base)
          it.foreach { case (id, png) =>
            java.nio.file.Files.write(base.resolve(f"doc_$id%06d.png"), png)
          }
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.png").load(out)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.png$", 1).cast("long").as("doc_id"),
          col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions(it => it.map { case (id, p) => decodeImage(id, p) })
        .toDF()
        .orderBy("doc_id")
    },
    Some(geomCte + """
      SELECT doc_id,
             CAST(w AS BIGINT) AS width,
             CAST(h AS BIGINT) AS height,
             CAST(224 AS BIGINT) AS resized_w,
             CAST(greatest(1, (h * 224) // w) AS BIGINT) AS resized_h,
             CAST(h * (w * r0 + w * (w - 1) // 2)
                + w * (h * g0 + h * (h - 1) // 2)
                + w * h * b0 AS BIGINT) AS pix_sum,
             'png' AS format
      FROM g ORDER BY doc_id"""))

  /** Typed record from the audio decode+feature stage: per-quarter
    * frame energies (Σ s²) and the peak absolute sample. */
  final case class AudioMeta(
      doc_id: Long, n_samples: Long, sample_rate: Long,
      e0: Long, e1: Long, e2: Long, e3: Long, peak: Long)

  /** Deterministic 16-bit PCM waveform: sample i of doc `id` is
    * ((id·37 + 13·i²) mod 4001) − 2000 — integer-exact, closed-form
    * in SQL, and within int16 range. Length 256 + (id%128)·4 keeps
    * every clip divisible into 4 equal frames. The contract shared by
    * the synthesiser and the oracle. */
  def nSamplesOf(id: Long): Int = (256 + (id % 128) * 4).toInt
  def sampleOf(id: Long, i: Int): Short =
    (((id * 37 + 13L * i * i) % 4001) - 2000).toShort

  /** Encode a REAL RIFF/WAVE file (44-byte canonical header +
    * PCM16LE mono @16 kHz) for the id. */
  def synthWav(id: Long): Array[Byte] = {
    val n = nSamplesOf(id)
    val bytes = new Array[Byte](44 + n * 2)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + n * 2)
    bb.put("WAVE".getBytes("US-ASCII")); bb.put("fmt ".getBytes("US-ASCII"))
    bb.putInt(16); bb.putShort(1); bb.putShort(1) // PCM, mono
    bb.putInt(16000); bb.putInt(16000 * 2) // rate, byte rate
    bb.putShort(2); bb.putShort(16) // block align, bits
    bb.put("data".getBytes("US-ASCII")); bb.putInt(n * 2)
    var i = 0
    while (i < n) { bb.putShort(sampleOf(id, i)); i += 1 }
    bytes
  }

  /** Parse the WAV back (strict header validation — a corrupt byte
    * throws into the driver's err field) and extract per-quarter
    * frame energies + peak from the decoded samples. */
  def decodeWav(id: Long, payload: Array[Byte]): AudioMeta = {
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(): String = { val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII") }
    require(tag() == "RIFF", s"doc $id: not RIFF"); bb.getInt()
    require(tag() == "WAVE", s"doc $id: not WAVE")
    require(tag() == "fmt ", s"doc $id: missing fmt chunk")
    require(bb.getInt() == 16 && bb.getShort() == 1 && bb.getShort() == 1,
      s"doc $id: not mono PCM")
    val rate = bb.getInt(); bb.getInt(); bb.getShort(); bb.getShort()
    require(tag() == "data", s"doc $id: missing data chunk")
    val n = bb.getInt() / 2
    val frame = n / 4
    val e = new Array[Long](4); var peak = 0L
    var i = 0
    while (i < n) {
      val s = bb.getShort().toLong
      e(i / frame) += s * s
      if (math.abs(s) > peak) peak = math.abs(s)
      i += 1
    }
    AudioMeta(id, n.toLong, rate.toLong, e(0), e(1), e(2), e(3), peak)
  }

  /** Audio counterpart of [[decode]]: binary WAV column →
    * per-partition parse + frame-energy extraction. The codec is a
    * real file format (canonical RIFF header, PCM16LE payload) and
    * the waveform is a closed-form function of the id, so the DuckDB
    * oracle recomputes every frame energy per-sample via
    * generate_series — a hash match proves the bytes round-tripped
    * through WAV encode → parse → per-sample DSP, not arithmetic on
    * payload length. Same 100 TB shape as the image path: opaque
    * binary column, one decoder init per partition, typed output
    * schema via the case-class Encoder. */
  val audio: Q = Q(
    "q_multimodal_audio",
    (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions(it => it.map(id => (id, synthWav(id))))
        .toDF("doc_id", "payload")
        .as[(Long, Array[Byte])]
        .mapPartitions(it => it.map { case (id, p) => decodeWav(id, p) })
        .toDF()
        .orderBy("doc_id")
    },
    Some("""
      WITH g AS (
        SELECT doc_id, 256 + (doc_id % 128) * 4 AS n FROM documents),
      s AS (
        SELECT doc_id, n, t.k AS i,
               (doc_id * 37 + 13 * t.k * t.k) % 4001 - 2000 AS v
        FROM g, unnest(generate_series(0, n - 1)) AS t(k))
      SELECT doc_id,
             CAST(max(n) AS BIGINT) AS n_samples,
             CAST(16000 AS BIGINT) AS sample_rate,
             CAST(sum(CASE WHEN i < n // 4 THEN v * v END) AS BIGINT) AS e0,
             CAST(sum(CASE WHEN i >= n // 4 AND i < n // 2 THEN v * v END) AS BIGINT) AS e1,
             CAST(sum(CASE WHEN i >= n // 2 AND i < 3 * n // 4 THEN v * v END) AS BIGINT) AS e2,
             CAST(sum(CASE WHEN i >= 3 * n // 4 THEN v * v END) AS BIGINT) AS e3,
             CAST(max(abs(v)) AS BIGINT) AS peak
      FROM s GROUP BY doc_id ORDER BY doc_id"""))

  // ── Perceptual-hash near-duplicate detection ────────────────────────

  /** Deterministic per-pixel texture: a splitmix-style avalanche of
    * (id, x, y) → 8-bit gray. Textured images make pHash DISCRIMINATIVE
    * — the smooth gradients above all hash alike (their DCT mass is one
    * low-frequency ramp), which is realistic for pHash-on-solid-color
    * but useless for testing near-dup SEPARATION. */
  def textureAt(id: Long, x: Int, y: Int): Int = {
    var h = id * 0x9E3779B97F4A7C15L + x * 0xC2B2AE3D27D4EB4FL +
      y * 0x165667B19E3779F9L
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    (h & 0xFFL).toInt
  }

  /** Genuine 64×64 gray PNG of the id's texture; `perturb` nudges 9
    * scattered pixels by +4 gray — the "re-encoded thumbnail"
    * stand-in whose pHash must stay within a few bits of the
    * original. */
  def synthTexturedPng(id: Long, perturb: Boolean): Array[Byte] = {
    val n = 64
    val img = new BufferedImage(n, n, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until n; x <- 0 until n) {
      var g = textureAt(id, x, y)
      if (perturb && (y * n + x) % 499 == 0) g = (g + 4) & 0xFF
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** DCT-II basis rows for the 8 lowest frequencies over 32 samples —
    * shared by every hash call (cos() never runs in the per-image
    * loop). */
  private val DctBasis: Array[Array[Double]] =
    Array.tabulate(8, 32)((u, y) => math.cos((2 * y + 1) * u * math.Pi / 64.0))

  /** DCT perceptual hash of a decoded image: gray → 2×2 box-mean
    * downscale to 32×32 (integer-exact) → top-left 8×8 of the 2-D
    * DCT-II → threshold each of the 64 coefficients against the lower
    * median of the 63 AC coefficients → 64-bit signature. Double
    * arithmetic is IEEE-deterministic on a fixed summation order, so
    * the signature is bit-stable across runs and partitionings. */
  def phashOf(payload: Array[Byte]): Long = {
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    require(img != null, "pHash: undecodable payload")
    val (w, h) = (img.getWidth, img.getHeight)
    require(w >= 32 && h >= 32, s"pHash: image too small ${w}x$h")
    // integer box-mean to 32×32 (floor boundaries — exact, no resampler)
    val g = Array.ofDim[Double](32, 32)
    for (by <- 0 until 32; bx <- 0 until 32) {
      val (x0, x1) = (bx * w / 32, (bx + 1) * w / 32)
      val (y0, y1) = (by * h / 32, (by + 1) * h / 32)
      var sum = 0L
      for (y <- y0 until y1; x <- x0 until x1)
        sum += img.getRGB(x, y) & 0xFF
      g(by)(bx) = sum.toDouble / ((x1 - x0) * (y1 - y0))
    }
    // separable DCT with the precomputed basis: rows then columns —
    // 10k multiplies per image instead of 131k cos() evaluations (the
    // non-separable form cost 24 s for 5k images at sf0.1; this is
    // sub-second for the same work)
    val tmp = Array.ofDim[Double](8, 32) // tmp(u)(x) = Σ_y g(y)(x)·C(u)(y)
    for (u <- 0 until 8; x <- 0 until 32) {
      var acc = 0.0
      var y = 0
      while (y < 32) { acc += g(y)(x) * DctBasis(u)(y); y += 1 }
      tmp(u)(x) = acc
    }
    val coefs = new Array[Double](64)
    for (u <- 0 until 8; v <- 0 until 8) {
      var acc = 0.0
      var x = 0
      while (x < 32) { acc += tmp(u)(x) * DctBasis(v)(x); x += 1 }
      coefs(u * 8 + v) = acc
    }
    val med = coefs.drop(1).sorted.apply(31) // lower median of the 63 AC terms
    var bits = 0L
    for (i <- 0 until 64) if (coefs(i) > med) bits |= 1L << i
    bits
  }

  /** pHash near-dup pairs over any `(doc_id, phash)` frame: 4×16-bit
    * band blocking (a candidate pair must agree on ≥1 band) then exact
    * Hamming verification ≤ `maxHamming` — the [[graft.llm.Dedup]]
    * SimHash discipline applied to image signatures. Banding keys the
    * ONLY shuffle; nothing is all-pairs. */
  def phashPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val banded = sigs.select(
        col("doc_id"), col("phash"),
        explode(array((0 until 4).map(k =>
          struct(lit(k).as("band"),
            shiftright(col("phash"), k * 16).bitwiseAND(0xFFFFL).as("bh"))): _*))
          .as("e"))
      .select(col("doc_id"), col("phash"), col("e.band"), col("e.bh"))
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        bit_count(col("l.phash").bitwiseXOR(col("r.phash"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Image near-duplicate detection end-to-end: synthesize a textured
    * PNG per document, plant 5 exact byte copies (+1 000 000 — pHash
    * identical by construction, the scale-invariant floor) and 5
    * pixel-perturbed re-encodes (+2 000 000 — the near-dup case pHash
    * exists for), decode + hash per-partition, band-block, verify
    * Hamming. Rows-only by contract (a 2-D DCT has no reasonable SQL
    * form); MultimodalSpec pins hash determinism, copy identity,
    * perturbation proximity, and non-dup separation. */
  val phash: Q = Q(
    "q_multimodal_phash",
    (s, dir) => {
      import s.implicits._
      // the codec work is CPU-bound per row; the documents scan is a
      // handful of parquet splits, so spread the 8-byte id stream
      // across every core BEFORE synthesis/decode (one tiny shuffle
      // buys full-width parallelism for the expensive stage — the
      // standard shape for decode fan-out at 100 TB too)
      val par = graft.Checkpoints.width(s)
      val ids = Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
        .repartition(par)
      val sigs = ids
        .mapPartitions(_.flatMap { id =>
          val base = (id, synthTexturedPng(id, perturb = false))
          if (id < 5)
            Iterator(base,
              (id + 1000000L, synthTexturedPng(id, perturb = false)),
              (id + 2000000L, synthTexturedPng(id, perturb = true)))
          else Iterator(base)
        })
        .mapPartitions(_.map { case (id, png) => (id, phashOf(png)) })
        .toDF("doc_id", "phash")
      RecallAudit.assertPlantedPairs(
        phashPairs(sigs, maxHamming = 16), "doc_a", "doc_b",
        plantN = 5, what = "pHash")
    },
    None)

  val all: Seq[Q] = Seq(decode, frames, lake, audio, phash)
}
