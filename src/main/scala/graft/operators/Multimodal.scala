package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (BASELINE.json north star): image/audio/video
  * as opaque `binary` payloads with a typed metadata struct, processed by
  * partition-batched decoders.
  *
  * The Spark-side shape — schema, partitioning, batched iteration, output
  * contract — is the core deliverable. [[StubCodec.decodeImage]] sniffs the
  * payload's magic bytes: real PNG/JPEG payloads decode with `javax.imageio`
  * (pure JDK, no native deps, headless-safe), everything else falls back to
  * a deterministic fake derived from the payload bytes so text-derived
  * fixtures and the audio/video modalities (no JDK codec) stay end-to-end
  * runnable and oracle-replayable. Swapping in further codecs changes only
  * that one function — the `mapPartitions` plumbing, amortized per-partition
  * setup, and schemas stay as they are. (In PySpark the same shape is
  * `mapInPandas` with an arrow-batched UDF.)
  */
object Multimodal {

  /** Image decode: real codec for real images, deterministic stub otherwise.
    * PNG and JPEG payloads (recognized by magic bytes) decode through
    * `javax.imageio.ImageIO`; any other payload — text-derived fixtures,
    * formats the JDK has no codec for — takes the stable fake path, so the
    * pipeline is end-to-end runnable on every input and the fixture oracle
    * replays the fake formula exactly. */
  object StubCodec {
    private val PngMagic =
      Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

    private def isPng(p: Array[Byte]): Boolean =
      p.length >= PngMagic.length && PngMagic.indices.forall(i => p(i) == PngMagic(i))

    private def isJpeg(p: Array[Byte]): Boolean =
      p.length >= 3 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 &&
        (p(2) & 0xff) == 0xff

    def decodeImage(payload: Array[Byte]): (Int, Int, Int, Double) =
      if (isPng(payload) || isJpeg(payload)) {
        // ImageIO signals a corrupt/truncated stream by returning null, by
        // throwing IIOException, or — for adversarial payloads — by any of
        // the unchecked decode errors (CMMException, NegativeArraySize…);
        // every non-fatal failure falls back to the stub rather than
        // poisoning the whole partition for one bad payload.
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) fakeDecode(payload) else realFeatures(img)
      } else fakeDecode(payload)

    /** (width, height, raster bands, mean Rec.601 luma in [0,1]). getRGB
      * converts every color model to sRGB, so gray/indexed/alpha images all
      * measure on the same scale; channels still report the raw band count. */
    private def realFeatures(img: java.awt.image.BufferedImage): (Int, Int, Int, Double) = {
      val w = img.getWidth
      val h = img.getHeight
      val channels = img.getRaster.getNumBands
      var sum = 0.0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xff
          val g = (rgb >> 8) & 0xff
          val b = rgb & 0xff
          sum += (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
          x += 1
        }
        y += 1
      }
      (w, h, channels, sum / (w.toLong * h))
    }

    private val WavRates = Array(8000, 16000, 22050, 44100)

    private def isWav(p: Array[Byte]): Boolean =
      p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

    /** Audio decode: real WAV via `javax.sound.sampled` (pure JDK, the same
      * no-native-deps argument as the `javax.imageio` image path),
      * deterministic stub for everything else — the JDK ships no mp3/ogg
      * codec, and the registered query's text-derived payloads take the
      * stub path so the whole query replays in the DuckDB oracle. Returns
      * (sample_rate, channels, duration_s, rms) with rms over normalized
      * PCM16 samples (0.0 for non-16-bit encodings: headers still parse). */
    def decodeAudio(payload: Array[Byte]): (Int, Int, Double, Double) =
      if (isWav(payload)) {
        try {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          try {
            val fmt = ais.getFormat
            val duration =
              if (fmt.getFrameRate > 0) ais.getFrameLength / fmt.getFrameRate.toDouble
              else 0.0
            (fmt.getSampleRate.toInt, fmt.getChannels, duration, pcm16Rms(ais, fmt))
          } finally ais.close()
        } catch { case scala.util.control.NonFatal(_) => fakeAudio(payload) }
      } else fakeAudio(payload)

    /** RMS of normalized 16-bit PCM samples; 0.0 when the encoding isn't
      * signed 16-bit (we never resample — the seam stays honest about what
      * it measured). */
    private def pcm16Rms(ais: javax.sound.sampled.AudioInputStream,
        fmt: javax.sound.sampled.AudioFormat): Double = {
      if (fmt.getSampleSizeInBits != 16 ||
        fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) 0.0
      else {
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        if (n == 0) 0.0
        else {
          var sum = 0.0
          var i = 0
          while (i < n) {
            val lo = bytes(2 * i) & 0xff
            val hi = bytes(2 * i + 1) & 0xff
            val s = (if (fmt.isBigEndian) (lo << 8) | hi else (hi << 8) | lo).toShort
            val x = s / 32768.0
            sum += x * x
            i += 1
          }
          math.sqrt(sum / n)
        }
      }
    }

    /** Deterministic fake audio decode for non-WAV payloads — same modular
      * fold as [[fakeDecode]], replayable in any BIGINT engine. Duration is
      * what a PCM16 stream of this byte length at the fake rate/channels
      * would last. */
    private def fakeAudio(payload: Array[Byte]): (Int, Int, Double, Double) = {
      val h = payload.foldLeft(17L)((acc, b) => (acc * 31 + (b & 0xff)) % 1000000007L)
      val rate = WavRates((h % 4).toInt)
      val channels = 1 + ((h >> 8) % 2).toInt
      val duration = payload.length / (rate * channels * 2.0)
      val rms = ((h >> 16) % 1000).toDouble / 1000.0
      (rate, channels, duration, rms)
    }

    /** Deterministic fake decode for non-image payloads (modular fold, so h
      * stays < 2^30 and the formula replays in any BIGINT engine). */
    private def fakeDecode(payload: Array[Byte]): (Int, Int, Int, Double) = {
      val h = payload.foldLeft(17L)((acc, b) => (acc * 31 + (b & 0xff)) % 1000000007L)
      val width = 64 + (h % 960).toInt
      val height = 64 + ((h >> 10) % 960).toInt
      val channels = 1 + ((h >> 20) % 3).toInt
      val meanLuma = ((h >> 22) % 256).toDouble / 255.0
      (width, height, channels, meanLuma)
    }

    /** Fake frame sampler: returns the byte offsets a real sampler would
      * decode, one per sampled frame. */
    def sampleFrameOffsets(nBytes: Long, everyNth: Int, frameSize: Int): Seq[Long] =
      if (nBytes <= 0 || frameSize <= 0) Seq.empty
      else (0L until nBytes by frameSize.toLong).grouped(everyNth).map(_.head).toSeq
  }

  /** Wrap a text/binary-derived column into the media contract:
    * (idCol, payload binary, meta struct). The fixture derives payloads from
    * document text bytes — the contract is what matters, not the pixels. */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String,
      mediaType: String, format: String): DataFrame =
    df.select(col(idCol), col(payloadCol).as("payload"),
      struct(
        lit(mediaType).as("media_type"),
        lit(format).as("format"),
        length(col(payloadCol)).cast("long").as("n_bytes"),
        md5(col(payloadCol)).as("checksum")).as("meta"))

  /** Average-hash (aHash) perceptual fingerprint — the image-dedup
    * primitive (identical hashes = the first near-dup tier; quantization
    * makes visually-close images collide): 32 samples at a fixed stride
    * over the decoded byte stream (production: the 8×8 downsampled gray
    * raster after the real decode; here the same mapPartitions codec
    * seam over the payload bytes, which the oracle replays byte for byte
    * on the ASCII fixture). Bit i is set iff sample_i · n_samples >
    * Σ samples — the mean compare cross-multiplied so no division ever
    * happens; 32 bits keep the hash a positive BIGINT on every engine.
    * Output: (idCol, phash, n_samples). */
  def aHash(media: DataFrame, idCol: String): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val n = payload.length
          val stride = math.max(n / 32, 1)
          val samples = (0 until 32).map(_ * stride).filter(_ < n)
            .map(p => (payload(p) & 0xff).toLong)
          val total = samples.sum
          val cnt = samples.length.toLong
          val hash = samples.zipWithIndex.foldLeft(0L) {
            case (acc, (s, i)) => if (s * cnt > total) acc | (1L << i) else acc
          }
          (id, hash, cnt)
        }
      }
      .toDF(idCol, "phash", "n_samples")
  }

  /** Batched image "decode" + feature extraction over payloads.
    * mapPartitions amortizes per-partition codec setup (the reference
    * amortizes its HTTP client the same way, `create_skill_embeddings.py:27-28`);
    * rows stream through without materializing the partition. */
  def extractImageFeatures(media: DataFrame, idCol: String): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition codec init would happen here (once, not per row)
        it.map { case (id, payload) =>
          val (w, h, c, luma) = StubCodec.decodeImage(payload)
          (id, w, h, c, luma)
        }
      }
      .toDF(idCol, "width", "height", "n_channels", "mean_luma")
  }

  /** Batched audio decode + feature extraction — the audio twin of
    * [[extractImageFeatures]], same mapPartitions seam. */
  def extractAudioFeatures(media: DataFrame, idCol: String): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val (rate, ch, dur, rms) = StubCodec.decodeAudio(payload)
          (id, rate, ch, dur, rms)
        }
      }
      .toDF(idCol, "sample_rate", "channels", "duration_s", "rms")
  }

  /** "Resize": emit a derived payload capped at maxBytes plus the scale
    * factor applied — the shape of a real thumbnailing pass. */
  def resizePayloads(media: DataFrame, idCol: String, maxBytes: Int): DataFrame =
    media.select(col(idCol),
      substring(col("payload"), 1, maxBytes).as("payload"),
      least(lit(1.0d), lit(maxBytes.toDouble) / col("meta.n_bytes")).as("scale"))

  /** Batched MP4 metadata extraction — the video modality's real parser
    * ([[graft.functions.Mp4]]: ISO BMFF box walking, pure JDK): brand,
    * movie timescale/duration, track width/height. Full frame DECODE still
    * needs a codec the JDK doesn't ship; metadata-level parsing is what a
    * pipeline partitions/filters 100 TB of video on before any GPU decode
    * stage, and it runs here on genuine box structure, not a byte-hash
    * fake. Non-BMFF payloads yield a null meta row (same NonFatal-guard
    * contract as the image/audio codecs). */
  def extractVideoMeta(media: DataFrame, idCol: String): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          // NonFatal belt on top of parse's own guards: ANY malformed
          // payload must become a null row, never a failed task.
          val parsed = try graft.functions.Mp4.parse(payload)
            catch { case scala.util.control.NonFatal(_) => None }
          parsed match {
            case Some(m) => (id, m.brand, m.timescale, m.duration,
              m.durationSeconds, m.width, m.height)
            case None => (id, null: String, 0L, 0L, 0.0d, 0, 0)
          }
        }
      }
      .toDF(idCol, "brand", "timescale", "duration_ticks", "duration_s",
        "width", "height")
  }

  /** Frame sampling contract over "video" payloads: one row per sampled
    * frame with its byte offset. Pure `sequence()` arithmetic — the sampled
    * offsets 0, step, 2·step … < n_bytes are exactly
    * `sequence(0, n_bytes-1, step)` with step = frameSize·everyNth, so the
    * whole operator stays inside whole-stage codegen (no UDF, no
    * serialization); [[StubCodec.sampleFrameOffsets]] remains the scalar
    * spec the column form is cross-checked against in MultimodalSpec. */
  def sampleFrames(media: DataFrame, idCol: String, everyNth: Int,
      frameSize: Int): DataFrame = {
    require(everyNth > 0 && frameSize > 0,
      s"everyNth $everyNth / frameSize $frameSize must be positive")
    val step = frameSize.toLong * everyNth
    val offsets = when(col("meta.n_bytes") > 0,
      sequence(lit(0L), col("meta.n_bytes") - 1, lit(step)))
      .otherwise(array().cast("array<long>"))
    media.select(col(idCol), explode(offsets).as("frame_offset"))
      .withColumn("frame_idx", (col("frame_offset") / lit(step)).cast("long"))
  }
}
