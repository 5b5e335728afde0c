package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal-column support (SURVEY §2B): media payloads ride through the
  * engine as opaque `BinaryType` columns plus typed metadata, and
  * decode/feature-extraction runs as partition-local batch transforms.
  *
  * [[imageDecode]] / [[imageResize]] / [[audioDecode]] /
  * [[videoFrames]] are REAL codec paths: genuine PNG / RIFF-WAV /
  * animated-GIF containers synthesized from the payload bytes and
  * decoded back through `javax.imageio` / `javax.sound.sampled`, all
  * executor-local inside `mapPartitions`, with every output stat
  * computed from DECODER output ([[videoFrames]] additionally takes its
  * frame COUNT from the container parser — a real demux).
  * [[frameSampleStub]] remains as the codegen'd no-decode sampling
  * shape of the same frame layout.
  */
object Multimodal {

  /** ImageIO/AudioSystem convenience streams default to a DISK-backed
    * cache — a temp file created and deleted per encode and per decode,
    * per row. Under 32 executor threads that file churn dominates the
    * actual codec work (measured ~2-3x on the PNG path), so every codec
    * partition flips the JVM to in-memory streams once. Idempotent,
    * thread-safe, and the right setting for an executor anyway: decoded
    * media already fits in memory by contract.
    */
  private def inMemoryCodecStreams(): Unit =
    if (javax.imageio.ImageIO.getUseCache) javax.imageio.ImageIO.setUseCache(false)

  /** WAV codec PROVIDERS bound once per task: the `AudioSystem` facade
    * re-runs a SYNCHRONIZED service-provider lookup on every call,
    * which serializes all executor threads through one JVM-global lock
    * — measured as a 7–17× ratio at 10× data on a 32-core host. The
    * providers themselves are stateless; binding them via ServiceLoader
    * and calling them directly keeps the genuine RIFF codec path with
    * zero shared state on the hot loop.
    */
  private def wavCodecs(): (javax.sound.sampled.spi.AudioFileWriter,
      javax.sound.sampled.spi.AudioFileReader) = {
    import scala.jdk.CollectionConverters._
    val writer = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .iterator().asScala
      .find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(throw new IllegalStateException("no WAV writer provider"))
    // pick the reader that actually parses a probe WAV (provider order
    // is unspecified; probing beats name-matching internals)
    val probe = {
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED, 8000f, 8, 1, 1, 8000f, false)
      val bos = new java.io.ByteArrayOutputStream()
      writer.write(new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(Array[Byte](1, 2, 3)), fmt, 3L),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val reader = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala
      .find { r =>
        try { r.getAudioInputStream(new java.io.ByteArrayInputStream(probe)); true }
        catch { case _: Exception => false }
      }
      .getOrElse(throw new IllegalStateException("no WAV reader provider"))
    (writer, reader)
  }

  /** The input of every decode path here: `documents` as
    * `(doc_id, payload)` rows of at least `minBytes` bytes, spread across
    * cores by [[graft.sources.Tables.spread]].
    */
  private def payloads(spark: SparkSession, dir: String,
      minBytes: Int = 1): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.spread(Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .filter(length(col("payload")) >= minBytes))
      .as[(Long, Array[Byte])]
  }

  /** Width in pixels of the grayscale images the PNG paths build. */
  private val PngWidth = 16

  /** The genuine PNG round-trip of the image paths: `payload`, padded
    * with spaces to whole [[PngWidth]]-pixel rows, becomes a grayscale
    * image, `ImageIO.write` encodes it as a PNG container and
    * `ImageIO.read` decodes it back. Returns the decoded raster with its
    * width and height.
    */
  private def pngRoundTrip(docId: Long, payload: Array[Byte]): (Array[Byte], Int, Int) = {
    val h = (payload.length + PngWidth - 1) / PngWidth
    val pixels = java.util.Arrays.copyOf(payload, PngWidth * h)
    java.util.Arrays.fill(pixels, payload.length, PngWidth * h, ' '.toByte)
    val img = new java.awt.image.BufferedImage(
      PngWidth, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, PngWidth, h, pixels)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    require(png.length > 8 &&
      (png(0) & 0xFF) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G',
      s"doc $docId: encoder did not produce a PNG container")
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val (bw, bh) = (back.getWidth, back.getHeight)
    val decoded = new Array[Byte](bw * bh)
    back.getRaster.getDataElements(0, 0, bw, bh, decoded)
    (decoded, bw, bh)
  }

  /** Binary-column metadata: byte length and SHA-256 of the payload.
    * (documents.text standing in as the opaque payload; with real media
    * the source would read `binary` straight from parquet.)
    */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(
        col("doc_id"),
        length(col("payload")).as("n_bytes"),
        sha2(col("payload"), 256).as("sha256"))

  /** Byte-histogram featurizer over opaque binary payloads: folds each
    * payload into a fixed-width normalized histogram (`Array[Float]`), the
    * shape a model-feature extractor emits. Demonstrates the executor-local
    * batch contract — mapPartitions over binary columns, per-partition
    * setup slot for codec/model handles, no driver involvement. For a real
    * container decode on this slot see [[imageDecode]].
    */
  def byteFeatures(spark: SparkSession, dir: String, featureDim: Int = 8): DataFrame = {
    import spark.implicits._
    val src = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
    src.mapPartitions { batch =>
      // per-partition setup would initialize the codec once per executor
      // core (e.g. a JNI decoder handle); the fake needs none.
      batch.map { case (docId, payload) =>
        val hist = new Array[Float](featureDim)
        var i = 0
        while (i < payload.length) {
          hist((payload(i) & 0xFF) % featureDim) += 1.0f
          i += 1
        }
        val n = math.max(payload.length, 1).toFloat
        (docId, payload.length, hist.map(_ / n))
      }
    }.toDF("doc_id", "n_bytes", "features")
  }

  /** Flattened, oracle-friendly view of [[byteFeatures]]: the histogram is
    * integer counts (exact), so DuckDB can reproduce it with pure SQL.
    */
  def byteHistogram(spark: SparkSession, dir: String, featureDim: Int = 8): DataFrame =
    byteFeatures(spark, dir, featureDim)
      .select(col("doc_id"), col("n_bytes"),
        posexplode(col("features")))
      .withColumnRenamed("pos", "bucket")
      .withColumn("count",
        round(col("col").cast("double") * greatest(col("n_bytes"), lit(1))).cast("long"))
      .drop("col")

  /** Real image decode through `javax.imageio` (JDK-built-in PNG codec,
    * no external libraries).
    *
    * Each document's bytes, space-padded to a whole number of 16-wide
    * rows, are the pixel matrix of a synthesized grayscale PNG — a real
    * PNG container (IHDR/IDAT/IEND chunks, zlib-deflated filtered
    * scanlines) written by `ImageIO.write`. The decode path then reads
    * that container back with `ImageIO.read` and extracts the raster, so
    * width/height/sha/mean all come from DECODED pixels, not the input.
    * PNG grayscale-8 is lossless, which is what makes the result
    * oracle-checkable: DuckDB recomputes the same stats from the padded
    * text directly.
    *
    * Executor-local throughout: codecs initialize per partition, each row
    * round-trips in memory, nothing reaches the driver. At 100 TB this is
    * the narrow, embarrassingly-parallel stage you want — scan → decode →
    * project, after one keyless input spread
    * ([[graft.sources.Tables.spread]]).
    */
  def imageDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    payloads(spark, dir).mapPartitions { batch =>
      // per-partition codec setup: ImageIO plugin scan happens once per
      // executor JVM; the digest instance is reused across the batch.
      inMemoryCodecStreams()
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      batch.map { case (docId, payload) =>
        val (decoded, bw, bh) = pngRoundTrip(docId, payload)
        var sum = 0L
        var i = 0
        while (i < decoded.length) { sum += decoded(i) & 0xFF; i += 1 }
        digest.reset()
        val sha = java.util.HexFormat.of().formatHex(digest.digest(decoded))
        (docId, bw, bh, decoded.length, sha, sum.toDouble / decoded.length)
      }
    }.toDF("doc_id", "width", "height", "n_pixels", "pixel_sha256", "channel_mean")
  }

  /** Real JPEG decode through the pure-JVM [[graft.functions.BaselineJpeg]]
    * baseline (SOF0) decoder — the LOSSY-codec row the PNG path can't
    * cover. Lossy output is only oracle-checkable where the loss is
    * analytically known, so the fixture is built by the companion
    * DC-only encoder: each padded document byte becomes one uniform 8×8
    * block (two blocks per row), and with Q₀ = 8 every conformant IDCT
    * reconstructs the block EXACTLY as `128 + dc` = the original byte —
    * the DuckDB oracle rebuilds the decoded raster from the text alone.
    * The decoder itself is general (markers, canonical Huffman, AC
    * runs, restart markers, float IDCT, YCbCr 4:2:0) and is pinned
    * differentially against `javax.imageio`'s own JPEG output in
    * `JpegSpec` — cross-decoder equality is tolerance territory because
    * T.81 mandates no bit-exact IDCT, which is exactly why the
    * hash-matched query rides the closed-form fixture.
    *
    * Same 100 TB shape as [[imageDecode]]: scan → encode → decode →
    * project; executor-local, embarrassingly parallel, input spread by
    * [[graft.sources.Tables.spread]].
    */
  def jpegDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    payloads(spark, dir).mapPartitions { batch =>
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      batch.map { case (docId, payload) =>
        val len2 = payload.length + (payload.length % 2)
        val bytes = java.util.Arrays.copyOf(payload, len2)
        if (len2 > payload.length) bytes(payload.length) = ' '.toByte
        val bh = len2 / 2
        val jpeg = graft.functions.BaselineJpeg.encodeGrayDcOnly(2, bh,
          (bx, by) => (bytes(2 * by + bx) & 0xFF) - 128)
        require(jpeg.length > 4 &&
          (jpeg(0) & 0xFF) == 0xFF && (jpeg(1) & 0xFF) == 0xD8,
          s"doc $docId: encoder did not produce a JPEG container")
        val (w, h, ch, pix) = graft.functions.BaselineJpeg.decode(jpeg)
        require(ch == 1, s"doc $docId: expected grayscale, got $ch channels")
        var sum = 0L
        var i = 0
        while (i < pix.length) { sum += pix(i) & 0xFF; i += 1 }
        digest.reset()
        val sha = java.util.HexFormat.of().formatHex(digest.digest(pix))
        (docId, w, h, pix.length, sha, sum.toDouble / pix.length)
      }
    }.toDF("doc_id", "width", "height", "n_pixels", "pixel_sha256", "channel_mean")
  }

  /** JPEG decode over an AC-CARRYING fixture — the general-scan twin of
    * [[jpegDecode]] (whose blocks are DC-only). Each padded byte pair
    * becomes two 8×8 blocks per row carrying a DC term (byte − 128) AND
    * one AC coefficient at natural (u=0, v=4), `ac = byte % 5 − 2`, so
    * the decode exercises the FULL baseline path: AC Huffman (run-9
    * symbol), dequant, inverse zigzag, float IDCT. The (0,4) basis is
    * constant over x and ±√2/2 over y, so with Q = 8 the decoded block
    * is CLOSED-FORM — `pixel(x, y) = clamp(byte + sign(y) · ac)` with
    * sign = + − − + + − − + — and the DuckDB oracle rebuilds the raster
    * from the text alone. The fingerprint is md5 over the HEX-encoded
    * raster (not sha over raw bytes): AC shifts pixels outside ASCII,
    * and a DuckDB VARCHAR would UTF-8-mangle bytes ≥ 0x80; hex is the
    * portable byte-exact encoding both engines hash identically.
    *
    * Same 100 TB shape as [[jpegDecode]]: scan → encode → decode →
    * project; executor-local, embarrassingly parallel, input spread by
    * [[graft.sources.Tables.spread]].
    */
  def jpegAcDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    payloads(spark, dir).mapPartitions { batch =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      batch.map { case (docId, payload) =>
        val len2 = payload.length + (payload.length % 2)
        val bytes = java.util.Arrays.copyOf(payload, len2)
        if (len2 > payload.length) bytes(payload.length) = ' '.toByte
        val bh = len2 / 2
        val jpeg = graft.functions.BaselineJpeg.encodeGrayDcV4(2, bh,
          (bx, by) => (bytes(2 * by + bx) & 0xFF) - 128,
          (bx, by) => (bytes(2 * by + bx) & 0xFF) % 5 - 2)
        val (w, h, ch, pix) = graft.functions.BaselineJpeg.decode(jpeg)
        require(ch == 1, s"doc $docId: expected grayscale, got $ch channels")
        // hex bytes written straight into one array (same bytes the
        // former StringBuilder → String → getBytes chain produced, minus
        // two full-raster copies and the char→byte transcode — the
        // raster is ~64·len px/doc, so the copies were the dominant
        // allocation of the query)
        var sum = 0L
        val hexDigits = "0123456789abcdef".getBytes
        val hexBytes = new Array[Byte](pix.length * 2)
        var i = 0
        while (i < pix.length) {
          val v = pix(i) & 0xFF
          sum += v
          hexBytes(2 * i) = hexDigits(v >>> 4)
          hexBytes(2 * i + 1) = hexDigits(v & 0x0F)
          i += 1
        }
        digest.reset()
        val md = java.util.HexFormat.of().formatHex(digest.digest(hexBytes))
        (docId, w, h, pix.length, md, sum.toDouble / pix.length)
      }
    }.toDF("doc_id", "width", "height", "n_pixels", "pixel_md5", "channel_mean")
  }

  /** Real audio decode through `javax.sound.sampled` (JDK-built-in WAV
    * codec — the audio twin of [[imageDecode]]).
    *
    * Each document's bytes become the PCM samples of a synthesized
    * 8-bit/mono/8 kHz WAV written by `AudioSystem.write` (a genuine RIFF
    * container), which the decode path reads back with
    * `AudioSystem.getAudioInputStream` — format fields (rate, channels,
    * width) and the PCM stream all come from the DECODER. PCM is
    * lossless, so DuckDB can recompute every output from the text bytes.
    * Same 100 TB shape as the image path: scan → decode → project, one
    * narrow stage, codec state per partition, input spread by
    * [[graft.sources.Tables.spread]].
    */
  def audioDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val SampleRate = 8000f
    payloads(spark, dir).mapPartitions { batch =>
      inMemoryCodecStreams()
      val (wavWriter, wavReader) = wavCodecs()
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
        SampleRate, 8, 1, 1, SampleRate, false)
      batch.map { case (docId, payload) =>
        val bos = new java.io.ByteArrayOutputStream()
        wavWriter.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(payload), fmt, payload.length.toLong),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        val wav = bos.toByteArray
        require(wav.length > 12 && wav(0) == 'R' && wav(1) == 'I' &&
          wav(2) == 'F' && wav(3) == 'F',
          s"doc $docId: encoder did not produce a RIFF container")
        val ais = wavReader.getAudioInputStream(
          new java.io.ByteArrayInputStream(wav))
        val decFmt = ais.getFormat
        require(decFmt.getSampleRate == SampleRate && decFmt.getChannels == 1 &&
          decFmt.getSampleSizeInBits == 8,
          s"doc $docId: decoded format drifted: $decFmt")
        val pcm = ais.readAllBytes()
        var sum = 0L
        var i = 0
        while (i < pcm.length) { sum += pcm(i) & 0xFF; i += 1 }
        digest.reset()
        val sha = java.util.HexFormat.of().formatHex(digest.digest(pcm))
        (docId, decFmt.getSampleRate.toInt, pcm.length,
          pcm.length / decFmt.getSampleRate.toDouble, sha, sum.toDouble / pcm.length)
      }
    }.toDF("doc_id", "sample_rate", "n_samples", "duration_sec",
      "pcm_sha256", "amplitude_mean")
  }

  /** PER-FRAME AUDIO FEATURES over the decoded PCM — the curation
    * readout an audio-corpus pipeline runs after [[audioDecode]]: RMS
    * energy, zero-crossing count, and a silence flag per fixed
    * `frame`-sample window (the classic VAD front-end that drops dead
    * air before transcription). Runs the SAME genuine RIFF encode →
    * `AudioSystem` decode path, then integer frame folds: energy is
    * the exact Σ(x−128)², crossings count strict sign flips of
    * consecutive deviations — one sqrt per frame is the only double
    * (rounded via the DataFrame `round`, not in the fold, so the gate
    * contract owns the rounding site).
    *
    * The decode is CPU-BOUND per byte, so the input is spread across
    * cores first ([[graft.sources.Tables.spread]]).
    */
  def audioFeatures(spark: SparkSession, dir: String, frame: Int = 256): DataFrame = {
    import spark.implicits._
    val SampleRate = 8000f
    payloads(spark, dir).mapPartitions { batch =>
      inMemoryCodecStreams()
      val (wavWriter, wavReader) = wavCodecs()
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
        SampleRate, 8, 1, 1, SampleRate, false)
      batch.flatMap { case (docId, payload) =>
        val bos = new java.io.ByteArrayOutputStream()
        wavWriter.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(payload), fmt, payload.length.toLong),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        val pcm = wavReader.getAudioInputStream(
          new java.io.ByteArrayInputStream(bos.toByteArray)).readAllBytes()
        pcm.grouped(frame).zipWithIndex.map { case (fr, idx) =>
          var energy = 0L
          var zc = 0L
          var i = 0
          while (i < fr.length) {
            val d = (fr(i) & 0xFF) - 128
            energy += d.toLong * d
            if (i > 0) {
              val p = (fr(i - 1) & 0xFF) - 128
              if ((p > 0 && d < 0) || (p < 0 && d > 0)) zc += 1
            }
            i += 1
          }
          (docId, idx, fr.length, energy, zc,
            math.sqrt(energy.toDouble / fr.length))
        }
      }
    }.toDF("doc_id", "frame_idx", "n", "energy", "zero_crossings", "rms_raw")
      .select(col("doc_id"), col("frame_idx"), col("n"), col("energy"),
        col("zero_crossings"), round(col("rms_raw"), 6).as("rms"),
        (col("rms_raw") < 10.0).as("is_silence"))
  }

  /** Q15 FIXED-POINT DFT coefficient tables for bin `k` over an
    * `n`-sample frame: `round(cos(2πki/n)·2¹⁵)` (and sin) — the
    * embedded-DSP formulation that keeps the whole spectral fold
    * INTEGER-exact. A double Goertzel/DFT would hinge on cross-engine
    * libm parity (Java `Math.cos` vs DuckDB's 1-ulp differences);
    * quantized coefficients make re/im exact BIGINTs both engines
    * reproduce bit-for-bit, and the magnitude is the single double
    * site, computed through the house round contract. Built once on
    * the driver; the oracle SQL embeds the SAME integers as literals,
    * so each run is self-consistent by construction.
    */
  private[graft] def q15Tables(bin: Int, n: Int): (Array[Long], Array[Long]) = (
    Array.tabulate(n)(i => math.round(math.cos(2.0 * math.Pi * bin * i / n) * 32768.0)),
    Array.tabulate(n)(i => math.round(math.sin(2.0 * math.Pi * bin * i / n) * 32768.0)))

  /** DFT bins featurized per frame: 1, 4, 16, 64 of a 256-sample frame
    * at 8 kHz ≈ 31 Hz, 125 Hz, 500 Hz, 2 kHz — the low/speech/voicing/
    * sibilance band spread an audio-corpus quality filter reads.
    */
  private[graft] val SpectrumBins = Seq(1, 4, 16, 64)

  /** PER-FRAME SPECTRAL FEATURES (VERDICT r11 #5) on the real RIFF
    * decode path: the same WAV mux/demux as [[audioFeatures]], then a
    * 4-bin fixed-point DFT per 256-sample frame. Each bin's re/im are
    * exact integer dot products of the PCM deviations with the Q15
    * coefficient tables (max |re| = 256·128·2¹⁵ ≈ 1.1e9 — squares sum
    * under 2.4e18, inside BIGINT), so the gate hash-matches; the
    * normalized magnitude is the one double site. Executor-local
    * per-row codec + O(bins·frame) integer arithmetic, input spread like
    * the RMS path (same provider-binding fix applies).
    */
  def audioSpectrum(spark: SparkSession, dir: String, frame: Int = 256): DataFrame = {
    import spark.implicits._
    val SampleRate = 8000f
    val tables = SpectrumBins.map(b => (b, q15Tables(b, frame))).toArray
    payloads(spark, dir).mapPartitions { batch =>
      inMemoryCodecStreams()
      val (wavWriter, wavReader) = wavCodecs()
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
        SampleRate, 8, 1, 1, SampleRate, false)
      batch.flatMap { case (docId, payload) =>
        val bos = new java.io.ByteArrayOutputStream()
        wavWriter.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(payload), fmt, payload.length.toLong),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        val pcm = wavReader.getAudioInputStream(
          new java.io.ByteArrayInputStream(bos.toByteArray)).readAllBytes()
        pcm.grouped(frame).zipWithIndex.flatMap { case (fr, idx) =>
          tables.iterator.map { case (bin, (cq, sq)) =>
            var re = 0L
            var im = 0L
            var i = 0
            while (i < fr.length) {
              val d = ((fr(i) & 0xFF) - 128).toLong
              re += d * cq(i)
              im += d * sq(i)
              i += 1
            }
            (docId, idx, bin, fr.length, re, im)
          }
        }
      }
    }.toDF("doc_id", "frame_idx", "bin", "n", "re_q15", "im_q15")
      .select(col("doc_id"), col("frame_idx"), col("bin"), col("n"),
        col("re_q15"), col("im_q15"),
        round(sqrt((col("re_q15") * col("re_q15") + col("im_q15") * col("im_q15"))
          .cast("double")) / (lit(32768.0) * col("n")), 6).as("magnitude"))
  }

  /** Real image resize: decode-then-resample, built on the same genuine
    * PNG round-trip as [[imageDecode]].
    *
    * Each document's padded bytes become a grayscale PNG; the resize
    * stage DECODES the container with `ImageIO.read` and applies a 2×
    * nearest-neighbor decimation kernel to the decoded raster — keeping
    * every even (row, col), the deterministic convention a DuckDB oracle
    * can mirror (Java2D's `AffineTransformOp` NN rounding is
    * implementation-defined, so the kernel is explicit instead). Output
    * dims, checksum and sum all come from the RESIZED decoded pixels.
    * Executor-local per-row transform, no driver round-trip.
    */
  def imageResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    payloads(spark, dir).mapPartitions { batch =>
      inMemoryCodecStreams()
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      batch.map { case (docId, payload) =>
        val (decoded, bw, bh) = pngRoundTrip(docId, payload)
        val outW = bw / 2
        val outH = (bh + 1) / 2
        val resized = new Array[Byte](outW * outH)
        var r = 0
        var sum = 0L
        while (r < outH) {
          var c = 0
          while (c < outW) {
            val p = decoded((2 * r) * bw + 2 * c)
            resized(r * outW + c) = p
            sum += p & 0xFF
            c += 1
          }
          r += 1
        }
        digest.reset()
        val sha = java.util.HexFormat.of().formatHex(digest.digest(resized))
        (docId, outW, outH, sha, sum)
      }
    }.toDF("doc_id", "out_w", "out_h", "pixel_sha256", "pixel_sum")
  }

  /** REAL video demux + frame decode through `javax.imageio`'s
    * multi-frame GIF codec (JDK built-in; the animated-GIF container is
    * the one genuine multi-frame video-adjacent format the JDK can both
    * mux and demux, so nothing here is stubbed).
    *
    * Each document's bytes, space-padded to whole 16×4 frames, become
    * the frames of a synthesized animated GIF (a real container: header,
    * logical screen descriptor, per-frame image descriptors,
    * LZW-compressed indexed rasters) written with
    * `ImageWriter.writeToSequence` over an identity 256-gray palette —
    * palette indexing is what makes the round-trip lossless. The demux
    * path then re-opens the container with the GIF `ImageReader`: frame
    * COUNT comes from `getNumImages` (container parsing), and every
    * `stride`-th frame is decoded with `reader.read(i)`, its stats
    * (md5, mean) computed from DECODED pixels. DuckDB recomputes both
    * from the padded text directly.
    *
    * Same 100 TB shape as [[imageDecode]]: scan → demux/decode →
    * project, executor-local, codec state per partition, input spread by
    * [[graft.sources.Tables.spread]].
    * For the codegen'd no-decode sampling shape see [[frameSampleStub]].
    */
  def videoFrames(spark: SparkSession, dir: String, stride: Int = 4): DataFrame = {
    import spark.implicits._
    val FW = 16
    val FH = 4
    val FrameBytes = FW * FH
    payloads(spark, dir).mapPartitions { batch =>
      inMemoryCodecStreams()
      val digest = java.security.MessageDigest.getInstance("MD5")
      // identity grayscale palette: GIF stores palette INDICES, so with
      // palette[i] = (i,i,i) the decoded gray value equals the input byte
      val grays = Array.tabulate(256)(_.toByte)
      val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
      batch.flatMap { case (docId, payload) =>
        val nFrames = (payload.length + FrameBytes - 1) / FrameBytes
        val padded = java.util.Arrays.copyOf(payload, nFrames * FrameBytes)
        java.util.Arrays.fill(padded, payload.length, padded.length, ' '.toByte)
        // mux: one animated GIF per document
        val bos = new java.io.ByteArrayOutputStream()
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
        writer.setOutput(ios)
        // the GIF writer's default is INTERLACED output, and the JDK
        // codec pair doesn't round-trip interlaced rasters at small
        // heights (rows beyond the first scramble); plain scan order is
        // lossless, so pin it
        val wp = writer.getDefaultWriteParam
        wp.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < nFrames) {
          val img = new java.awt.image.BufferedImage(
            FW, FH, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
          img.getRaster.setDataElements(0, 0, FW, FH,
            java.util.Arrays.copyOfRange(padded, f * FrameBytes, (f + 1) * FrameBytes))
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), wp)
          f += 1
        }
        writer.endWriteSequence()
        ios.close()
        writer.dispose()
        val gif = bos.toByteArray
        require(gif.length > 6 && gif(0) == 'G' && gif(1) == 'I' && gif(2) == 'F',
          s"doc $docId: muxer did not produce a GIF container")
        // demux: container-level frame count + per-frame decode
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(gif))
        reader.setInput(iis)
        val demuxed = reader.getNumImages(true)
        require(demuxed == nFrames,
          s"doc $docId: demuxer found $demuxed frames, muxed $nFrames")
        val rows = (0 until demuxed by stride).map { idx =>
          val img = reader.read(idx)
          val (w, h) = (img.getWidth, img.getHeight)
          val px = new Array[Byte](w * h)
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = img.getRGB(x, y) & 0xFF // identity palette → gray byte
              px(y * w + x) = v.toByte
              sum += v
              x += 1
            }
            y += 1
          }
          digest.reset()
          val md5hex = java.util.HexFormat.of().formatHex(digest.digest(px))
          (docId, idx, demuxed, md5hex, sum.toDouble / (w * h))
        }
        reader.dispose()
        iis.close()
        rows
      }
    }.toDF("doc_id", "frame_idx", "n_frames", "frame_md5", "frame_mean")
  }

  /** Video frame-sampling pipeline over opaque payloads — the
    * no-decode sampling shape (pure column functions, whole-stage
    * codegen): treats the payload as fixed 64-byte frames and samples
    * every 4th, emitting the frame's length and MD5. For the REAL
    * container demux + frame decode of the same frame layout see
    * [[videoFrames]].
    */
  def frameSampleStub(spark: SparkSession, dir: String): DataFrame = {
    val FrameBytes = 64
    val Stride = 4
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("n_frames",
        ceil(length(col("payload")).cast("double") / FrameBytes).cast("int"))
      // empty payload → no frames (sequence(0,-1) would throw); the
      // oracle's range(0, 0) agrees by being empty
      .filter(col("n_frames") > 0)
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(Stride))))
      .select(
        col("doc_id"), col("frame_idx"),
        length(col("payload").substr(col("frame_idx") * FrameBytes + 1, lit(FrameBytes)))
          .as("frame_len"),
        md5(col("payload").substr(col("frame_idx") * FrameBytes + 1, lit(FrameBytes)))
          .as("frame_md5"))
  }

  /** Perceptual difference-hash (dHash) of each image — the MEDIA
    * near-dup fingerprint: decode the PNG (the same genuine
    * `ImageIO` round-trip as [[imageDecode]]), average-pool the decoded
    * raster to a 9×8 grid, and emit one bit per horizontally adjacent
    * cell pair (`mean(g) > mean(g+1)`), 64 bits total — a fingerprint
    * that survives re-encoding and small edits, which exact byte hashes
    * ([[binaryMeta]]) do not. Downstream, near-dup media joins band the
    * 64 bits exactly like SimHash text dedup (≤ k distant pairs share a
    * band by pigeonhole).
    *
    * EXACTNESS: pooling sums are integers from decoded pixels, the bit
    * compare is cross-multiplied (`sum_a·n_b > sum_b·n_a` — no
    * division), and the 64 bits pack into two 32-bit BIGINT halves, so
    * although the pixels travel through a real codec, PNG losslessness
    * lets DuckDB rebuild the hash bit-for-bit from the text bytes.
    * Images narrower than the grid (fewer than 8 pixel rows — docs
    * under 128 chars at the 16-wide layout) have no defined 9×8 pool
    * and are excluded by contract. Same 100 TB shape as every codec
    * path here: scan → decode → project, input spread by
    * [[graft.sources.Tables.spread]].
    */
  def imagePhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    payloads(spark, dir, PngWidth * 8).mapPartitions { batch =>
      inMemoryCodecStreams()
      batch.map { case (docId, payload) =>
        val (decoded, bw, bh) = pngRoundTrip(docId, payload)
        // 9×8 average pool in exact integers (sums + counts per cell)
        val sums = Array.ofDim[Long](9, 8)
        val cnts = Array.ofDim[Long](9, 8)
        var r = 0
        while (r < bh) {
          val gy = r * 8 / bh
          var c = 0
          while (c < bw) {
            val gx = c * 9 / bw
            sums(gx)(gy) += decoded(r * bw + c) & 0xFF
            cnts(gx)(gy) += 1
            c += 1
          }
          r += 1
        }
        var hi = 0L; var lo = 0L
        var gy = 0
        while (gy < 8) {
          var gx = 0
          while (gx < 8) {
            // mean(gx) > mean(gx+1) without division: cross-multiply
            val bit = sums(gx)(gy) * cnts(gx + 1)(gy) > sums(gx + 1)(gy) * cnts(gx)(gy)
            if (bit) {
              if (gy < 4) hi |= 1L << (8 * gy + gx)
              else lo |= 1L << (8 * (gy - 4) + gx)
            }
            gx += 1
          }
          gy += 1
        }
        (docId, hi, lo)
      }
    }.toDF("doc_id", "phash_hi", "phash_lo")
  }

  /** IMAGE NEAR-DUPLICATE JOIN over the [[imagePhash]] fingerprints —
    * the media face of SimHash text dedup: the 64-bit dHash splits
    * into four 16-bit bands, candidates come from the (band, key)
    * equi-self-join (by pigeonhole, any pair within Hamming distance 3
    * shares at least one intact band — the banding is LOSSLESS at the
    * default threshold, pinned differentially against brute force),
    * and the exact distance is two codegen'd `bit_count(xor)` words on
    * the surviving pairs. Candidate volume follows band-bucket
    * collisions, never corpus² — the identical scale contract as
    * `q_simhash_neardups`, applied to decoded-pixel fingerprints
    * instead of token hashes.
    */
  def imageNearDups(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-band pigeonhole is only lossless to distance 3")
    val ph = imagePhash(spark, dir).localCheckpoint()
    val bands = ph.select(col("doc_id"), col("phash_hi"), col("phash_lo"),
      posexplode(array(
        col("phash_hi").bitwiseAND(lit(0xFFFFL)),
        shiftright(col("phash_hi"), 16).bitwiseAND(lit(0xFFFFL)),
        col("phash_lo").bitwiseAND(lit(0xFFFFL)),
        shiftright(col("phash_lo"), 16).bitwiseAND(lit(0xFFFFL)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.phash_hi").as("ha"), col("x.phash_lo").as("la"),
        col("y.phash_hi").as("hb"), col("y.phash_lo").as("lb"))
      .distinct()
    cand
      .withColumn("dist",
        expr("bit_count(ha ^ hb) + bit_count(la ^ lb)").cast("int"))
      .filter(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist"))
  }
}
