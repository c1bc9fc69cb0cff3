package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.Fixture

/** Multimodal columns: image/audio/video payloads carried as opaque
  * `BINARY` columns with typed metadata, plus the Spark-side plumbing
  * for decode / feature-extract / resize / frame-sample.
  *
  * Design: the heavy per-row media work runs as batched per-partition
  * functions (`mapPartitions` over the Dataset — the Scala analog of a
  * pandas `mapInPandas` UDF): schema in/out is explicit, batches are
  * partition-local, nothing touches the driver. The codec boundary is
  * a `MediaDecoder` trait with two implementations: `RealDecoder`
  * decodes images (javax.imageio) and PCM audio (javax.sound) with the
  * JDK's own codecs — only video (and compressed audio) genuinely lack
  * a codec in this container and throw with that context — and
  * `FakeDecoder` is the deterministic payload-hash twin the
  * cross-engine oracle uses for mixed-modality fixtures.
  *
  * Scale: payloads never shuffle unless the caller asks for it — all
  * derived ops project metadata/features alongside the binary in place;
  * repartitioning for decode parallelism is by row hash, not by
  * payload. For 100 TB of media the parquet scan prunes to (id, meta)
  * unless `data` is actually consumed.
  */
object Multimodal {

  /** The canonical multimodal schema:
    * id LONG, modality STRING('image'|'audio'|'video'),
    * data BINARY, meta MAP<STRING,STRING>.
    */
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("data", BinaryType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  /** Decoded-media record produced by a `MediaDecoder`: fixed-size
    * feature vector + decoded dimensions. Fake or real, the schema is
    * the contract the downstream pipeline (dedup-by-feature, ANN) sees.
    */
  val decodedSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_frames", IntegerType, nullable = true),
    StructField("feature", ArrayType(FloatType), nullable = true)))

  /** Codec boundary. Implementations must be Serializable (they ship
    * to executors) and deterministic for testability.
    */
  trait MediaDecoder extends Serializable {
    /** Decode one payload → (width, height, nFrames, feature vector). */
    def decode(modality: String, data: Array[Byte]): (Int, Int, Int, Array[Float])
  }

  /** REAL decoder over the codecs the JDK itself ships:
    *
    *   - `image`: `javax.imageio` (PNG/JPEG/BMP/GIF/TIFF readers are
    *     registered in this JRE, headless) → (width, height, 1,
    *     feature), where the feature is the deterministic GRID×GRID
    *     block-mean luminance raster (BT.601 weights, [0,1] floats) —
    *     the aHash/pHash preimage, so feature-key dedup over it is a
    *     real perceptual near-dup primitive, not a payload hash.
    *   - `audio`: `javax.sound.sampled` (WAV/AIFF/AU PCM only — the
    *     JDK has no MP3/AAC codec) → (sampleRate, channels,
    *     frameCount, feature), feature = GRID²-bin mean-|amplitude|
    *     envelope of the first channel in [0,1].
    *   - `video`: genuinely NOT decodable in this container — no
    *     ffmpeg/JavaCV binding is installed and the JDK has no video
    *     codec; wire one here at deployment. (Compressed audio falls
    *     in the same bucket: `AudioSystem` throws
    *     `UnsupportedAudioFileException` and we rethrow with that
    *     context rather than guessing.)
    *
    * Decoding is deterministic: `ImageIO.read` / PCM extraction are
    * pure functions of the payload bytes, block boundaries are integer
    * arithmetic, and block means accumulate in a fixed row-major pixel
    * order — same payload, same feature, on any executor.
    */
  final class RealDecoder(grid: Int = 8) extends MediaDecoder {
    require(grid > 0, s"grid must be positive, got $grid")

    def decode(modality: String, data: Array[Byte]): (Int, Int, Int, Array[Float]) =
      modality match {
        case "image" => decodeImage(data)
        case "audio" => decodeAudio(data)
        case "video" => decodeVideo(data)
        case other =>
          throw new IllegalArgumentException(s"unknown modality '$other'")
      }

    private def decodeImage(data: Array[Byte]): (Int, Int, Int, Array[Float]) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(data))
      require(img != null, "javax.imageio found no registered reader for this payload")
      val w = img.getWidth; val h = img.getHeight
      val feat = new Array[Float](grid * grid)
      var cy = 0
      while (cy < grid) {
        // integer block edges: cell c covers pixel rows [c*h/g, (c+1)*h/g),
        // widened to at least one pixel (clamped in-range) when h < grid
        val y0r = (cy.toLong * h / grid).toInt
        val y0 = math.min(y0r, h - 1)
        val y1 = math.max(((cy + 1).toLong * h / grid).toInt, y0 + 1)
        var cx = 0
        while (cx < grid) {
          val x0r = (cx.toLong * w / grid).toInt
          val x0 = math.min(x0r, w - 1)
          val x1 = math.max(((cx + 1).toLong * w / grid).toInt, x0 + 1)
          var sum = 0.0; var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(x, y)
              val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
              sum += 0.299 * r + 0.587 * g + 0.114 * b
              x += 1
            }
            y += 1
          }
          feat(cy * grid + cx) = (sum / ((y1 - y0).toLong * (x1 - x0) * 255.0)).toFloat
          cx += 1
        }
        cy += 1
      }
      (w, h, 1, feat)
    }

    /** Motion-PNG container (`GVID` + frame count + length-prefixed
      * PNG frames — [[Multimodal.gvidBytes]]): every frame decodes
      * through the REAL javax.imageio codec path above; the feature is
      * the per-cell MEAN of the frame rasters in frame order (fixed
      * order ⇒ IEEE-deterministic). The container format is ours by
      * necessity — the JDK ships no video codec and ffmpeg is absent —
      * but the per-frame decode, the block-luminance math, and all the
      * Spark plumbing are exactly what an ffmpeg/JavaCV binding would
      * feed at deployment (swap `gvid` parsing for frame extraction;
      * nothing downstream changes).
      */
    private def decodeVideo(data: Array[Byte]): (Int, Int, Int, Array[Float]) = {
      if (data.length < 8 || new String(data, 0, 4, "US-ASCII") != "GVID")
        throw new UnsupportedOperationException(
          "RealDecoder: no general video codec available (JDK has none; ffmpeg " +
            "not installed) — only GVID motion-PNG containers decode here; wire " +
            "an ffmpeg/JavaCV binding for real containers at deployment")
      val in = java.nio.ByteBuffer.wrap(data)
      in.position(4)
      val nFrames = in.getInt
      require(nFrames > 0, s"GVID container with $nFrames frames")
      val acc = new Array[Double](grid * grid)
      var w = 0; var h = 0
      var f = 0
      while (f < nFrames) {
        val len = in.getInt
        val frame = new Array[Byte](len); in.get(frame)
        val (fw, fh, _, feat) = decodeImage(frame)
        w = fw; h = fh
        var i = 0
        while (i < acc.length) { acc(i) += feat(i); i += 1 }
        f += 1
      }
      val out = new Array[Float](acc.length)
      var i = 0
      while (i < out.length) { out(i) = (acc(i) / nFrames).toFloat; i += 1 }
      (w, h, nFrames, out)
    }

    private def decodeAudio(data: Array[Byte]): (Int, Int, Int, Array[Float]) = {
      val in = try {
        javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(data))
      } catch {
        case e: javax.sound.sampled.UnsupportedAudioFileException =>
          throw new UnsupportedOperationException(
            "RealDecoder: payload is not a PCM container the JDK decodes " +
              "(WAV/AIFF/AU); compressed audio needs an external codec", e)
      }
      try {
        val fmt = in.getFormat
        val nFrames = math.min(in.getFrameLength, Int.MaxValue.toLong).toInt
        val bytes = in.readAllBytes()
        val frameSize = fmt.getFrameSize
        val n = if (frameSize > 0) bytes.length / frameSize else 0
        val bins = grid * grid
        val feat = new Array[Float](bins)
        if (n > 0) {
          val counts = new Array[Int](bins)
          val bigEndian = fmt.isBigEndian
          val bits = fmt.getSampleSizeInBits
          // getAudioInputStream accepts ULAW/ALAW .au files too — those
          // bytes are companded, not linear, so amplitude math on them
          // is silent garbage; and 8-bit sign depends on the encoding
          // (WAV ships PCM_UNSIGNED, AIFF PCM_SIGNED — decoding AIFF
          // silence as unsigned saturated every sample to -1.0).
          val enc = fmt.getEncoding
          val signed = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          if (!signed && enc != javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED)
            throw new UnsupportedOperationException(
              s"RealDecoder: $enc audio is not linear PCM (8/16-bit PCM only)")
          var i = 0
          while (i < n) {
            // first channel of frame i, normalized to [-1, 1]
            val off = i * frameSize
            val amp = bits match {
              case 8 =>
                if (signed) bytes(off) / 128.0
                else ((bytes(off) & 0xff) - 128) / 128.0
              case 16 =>
                val (lo, hi) = if (bigEndian) (bytes(off + 1), bytes(off)) else (bytes(off), bytes(off + 1))
                val raw = (hi << 8) | (lo & 0xff)
                if (signed) raw / 32768.0
                else (((raw & 0xffff) - 32768)) / 32768.0
              case b => throw new UnsupportedOperationException(
                s"RealDecoder: $b-bit PCM not supported (8/16 only)")
            }
            val bin = (i.toLong * bins / n).toInt
            feat(bin) += math.abs(amp).toFloat
            counts(bin) += 1
            i += 1
          }
          var b = 0
          while (b < bins) { if (counts(b) > 0) feat(b) /= counts(b); b += 1 }
        }
        (math.round(fmt.getSampleRate), fmt.getChannels, math.max(nFrames, n), feat)
      } finally in.close()
    }
  }

  /** Deterministic fake decoder: dimensions are read from the first
    * payload bytes, the "feature" is a seeded hash-derived vector of
    * the payload — byte-for-byte reproducible, so pipeline tests can
    * assert exact outputs while exercising the identical plumbing the
    * real decoder would use.
    */
  final class FakeDecoder(featureDim: Int = 8) extends MediaDecoder {
    def decode(modality: String, data: Array[Byte]): (Int, Int, Int, Array[Float]) = {
      val w = if (data.length >= 2) ((data(0) & 0xff) << 8) | (data(1) & 0xff) else 0
      val h = if (data.length >= 4) ((data(2) & 0xff) << 8) | (data(3) & 0xff) else 0
      val frames = modality match {
        case "video" => math.max(1, data.length / 16)
        case _       => 1
      }
      var acc = 1125899906842597L // deterministic FNV-ish fold of the payload
      data.foreach(b => acc = acc * 31 + (b & 0xff))
      val feat = Array.tabulate(featureDim) { i =>
        val v = acc * (i + 1) + i
        ((v % 2000003L).toFloat / 1000001.5f) - 1.0f
      }
      (w, h, frames, feat)
    }
  }

  /** Decode/feature-extract every row, batched per partition. The
    * binary column is consumed here and NOT carried into the output —
    * downstream work (dedup, ANN over `feature`) runs on small rows;
    * join back on `id` if the payload is needed again.
    */
  def decodeFeatures(df: DataFrame, decoder: MediaDecoder): DataFrame = {
    val spark = df.sparkSession
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(decodedSchema)
    df.select(col("id"), col("modality"), col("data"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0); val mod = r.getString(1)
          val bytes = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
          val (w, h, f, feat) = decoder.decode(mod, bytes)
          Row(id, mod, w, h, f, feat)
        }
      }(enc)
  }

  /** Frame-sample: keep every `stride`-th 16-byte frame of a video
    * payload — pure built-in binary slicing (`substring` on BINARY),
    * no UDF, stays in codegen. Non-video rows pass through untouched.
    */
  def frameSample(df: DataFrame, stride: Int, frameBytes: Int = 16): DataFrame = {
    require(stride >= 1, s"frameSample: stride must be >= 1, got $stride")
    require(frameBytes >= 1, s"frameSample: frameBytes must be >= 1, got $frameBytes")
    val nFrames = (length(col("data")) / frameBytes).cast("int")
    val sampled = transform(
      sequence(lit(0), greatest(ceil(nFrames.cast("double") / stride).cast("int") - 1, lit(0))),
      i => col("data").substr(i * stride * frameBytes + 1, lit(frameBytes)))
    df.withColumn("data",
      when(col("modality") === "video" && length(col("data")) >= frameBytes,
        concatBinary(sampled) // flatten sampled frames back to one BINARY
      ).otherwise(col("data")))
  }

  // concat over an array-of-binary column: aggregate-fold, builtin-only
  private def concatBinary(arr: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(arr, lit(Array.empty[Byte]), (acc, x) => concat(acc, x))

  /** Ingest a directory of media files through Spark's `binaryFile`
    * source into the canonical multimodal schema — how real bytes
    * ENTER the pipeline at 100 TB: the source lists files into tasks
    * (no driver-side reads), prunes by `pathGlobFilter` before any
    * byte moves, and an incremental loader adds `modifiedAfter` on
    * top. id = xxhash64(path) (content-independent, rerun-stable on
    * any cluster); meta carries the path/bytes/mtime provenance in
    * the schema's stringly-typed map contract.
    */
  def ingestBinaryDir(spark: SparkSession, dir: String, modality: String,
                      glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob).load(dir)
      .select(
        xxhash64(col("path")).as("id"),
        lit(modality).as("modality"),
        col("content").as("data"),
        map(
          lit("path"), col("path"),
          lit("bytes"), col("length").cast("string"),
          lit("mtime"), unix_timestamp(col("modificationTime")).cast("string")
        ).as("meta"))

  /** Typed metadata projection: parse width/height from `meta` with
    * explicit casts (the metadata contract: stringly-typed map at the
    * storage boundary, typed columns in the pipeline).
    */
  def typedMeta(df: DataFrame): DataFrame =
    df.select(col("id"), col("modality"),
      element_at(col("meta"), "width").cast("int").as("meta_width"),
      element_at(col("meta"), "height").cast("int").as("meta_height"),
      element_at(col("meta"), "codec").as("codec"),
      length(col("data")).as("payload_bytes"))

  /** Synthesize a deterministic multimodal fixture table (for tests and
    * demos): payload bytes are a seeded hash stream, dims embedded in
    * the first 4 bytes exactly as FakeDecoder reads them.
    */
  def syntheticFixture(spark: SparkSession, n: Int, seed: Long = 42L): DataFrame = {
    val rows = (0 until n).map { i =>
      val mod = Seq("image", "audio", "video")(i % 3)
      val w = 64 + (i % 8) * 16; val h = 48 + (i % 5) * 16
      val rng = new scala.util.Random(seed + i)
      val payload = Array[Byte]((w >> 8).toByte, w.toByte, (h >> 8).toByte, h.toByte) ++
        Array.fill[Byte](60 + (i % 4) * 16)(rng.nextInt(256).toByte)
      Row(i.toLong, mod, payload, Map("width" -> w.toString, "height" -> h.toString,
        "codec" -> s"fake-$mod"))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  /** Distributed fixture for the measured q32 surface: same payload
    * recipe as `syntheticFixture` but built from `spark.range` (scales
    * past driver memory, deterministic under any partitioning), with
    * every 10th row an exact payload copy of the row 9 before it — the
    * planted duplicates the dedup stage must find.
    */
  def syntheticFixtureDistributed(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    spark.range(n).select(col("id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val i = r.getLong(0)
          val src = if (i % 10 == 9) i - 9 else i // planted exact dup
          val mod = Seq("image", "audio", "video")((src % 3).toInt)
          val w = 64 + (src % 8).toInt * 16; val h = 48 + (src % 5).toInt * 16
          val rng = new scala.util.Random(seed + src)
          val payload = Array[Byte]((w >> 8).toByte, w.toByte, (h >> 8).toByte, h.toByte) ++
            Array.fill[Byte](60 + (src % 4).toInt * 16)(rng.nextInt(256).toByte)
          Row(i, mod, payload, Map("width" -> w.toString, "height" -> h.toString,
            "codec" -> s"fake-$mod"))
        }
      }(enc)
  }

  /** Persist the distributed fixture as parquet (once per (n, seed))
    * and read it back — q32 measures the pipeline over a real parquet
    * scan, not in-memory generation.
    */
  def fixtureParquet(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame =
    spark.read.parquet(Fixture.generated("multimodal", fixtureGenVersion, n, seed)(
      syntheticFixtureDistributed(spark, n, seed).write.parquet(_)))

  /** Generator version bumped whenever pngBytes/wavBytes/synthetic
    * recipes change: part of every media fixture's key. */
  private val fixtureGenVersion = 2

  /** Write `row(id)` for the ids `0 until n` as parquet at `out`. */
  private def writeRows(spark: SparkSession, n: Long, out: String)(row: Long => Row): Unit = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    spark.range(n).select(col("id")).mapPartitions(_.map(r => row(r.getLong(0))))(enc)
      .write.parquet(out)
  }

  /** Deterministic image-ONLY input of real PNG payloads with
    * planted perceptual near-duplicates — the q119 input. Per decade
    * of ids: rows ≡ 0..7 (mod 10) are distinct seeded gray-noise images; row ≡ 8 is a ONE-PIXEL
    * brightening of row ≡ 0's image (a genuine near-twin: identical
    * to the eye, pHash a few bits off at most); row ≡ 9 is a
    * byte-exact PNG copy of row ≡ 0 (Hamming 0 guaranteed). Encoding
    * is `ImageIO.write(png)` on executors — real codec bytes, and the
    * persisted parquet (not re-encoding) anchors determinism across
    * runs.
    */
  def writeImages(spark: SparkSession, n: Long, seed: Long, out: String): Unit =
    writeRows(spark, n, out) { i =>
      Row(i, "image", pngBytes(plantedBase(i), seed, perturb = i % 10 == 8),
        Map("width" -> "64", "height" -> "48", "codec" -> "png"))
    }

  /** [[writeImages]] once per (n, seed) as a fixture; its directory. */
  def imageFixtureParquet(spark: SparkSession, n: Long, seed: Long = 42L): String =
    Fixture.generated("images", fixtureGenVersion, n, seed)(writeImages(spark, n, seed, _))

  /** Rows ≡ 8 and 9 (mod 10) copy row ≡ 0 of their decade. */
  private def plantedBase(i: Long): Long = (i % 10).toInt match {
    case 8 => i - 8; case 9 => i - 9; case _ => i
  }

  private[graft] def pngBytes(base: Long, seed: Long, perturb: Boolean): Array[Byte] = {
    val w = 64; val h = 48
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rng = new scala.util.Random(seed + base)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = rng.nextInt(256)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    if (perturb) {
      val v = math.min(255, (img.getRGB(0, 0) & 0xff) + 8)
      img.setRGB(0, 0, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic audio-ONLY input of real 16-bit PCM mono WAV
    * payloads with planted perceptual near-duplicates — q126's input,
    * the audio sibling of [[writeImages]]. Waveforms are
    * integer triangle-wave mixes (no transcendentals — byte-exact on
    * any JVM); per decade: rows ≡ 0..7 distinct, row ≡ 8 adds a small
    * constant offset to the first envelope bin's samples of row ≡ 0's
    * waveform (a genuine near-twin — inaudible level shift, envelope
    * pHash a few bits off at most), row ≡ 9 is a byte-exact WAV copy.
    */
  def writeAudio(spark: SparkSession, n: Long, seed: Long, out: String): Unit =
    writeRows(spark, n, out) { i =>
      Row(i, "audio", wavBytes(plantedBase(i), seed, perturb = i % 10 == 8),
        Map("rate" -> "8000", "bits" -> "16", "codec" -> "pcm_s16le"))
    }

  /** [[writeAudio]] once per (n, seed) as a fixture; its directory. */
  def audioFixtureParquet(spark: SparkSession, n: Long, seed: Long = 42L): String =
    Fixture.generated("audio", fixtureGenVersion, n, seed)(writeAudio(spark, n, seed, _))

  /** Deterministic video-ONLY input of GVID motion-PNG payloads
    * (4 real PNG frames per video) with planted perceptual
    * near-duplicates — q140's input, the video sibling of
    * [[writeImages]]. Per decade: rows ≡ 0..7 distinct seeded
    * noise videos; row ≡ 8 perturbs one pixel of FRAME 0 of row ≡ 0's
    * video (a genuine near-twin — the 4-frame mean dilutes it to a
    * sub-bit raster shift); row ≡ 9 is a byte-exact container copy.
    */
  def writeVideo(spark: SparkSession, n: Long, seed: Long, out: String): Unit =
    writeRows(spark, n, out) { i =>
      Row(i, "video", gvidBytes(plantedBase(i), seed, perturb = i % 10 == 8),
        Map("width" -> "64", "height" -> "48", "frames" -> "4", "codec" -> "gvid-png"))
    }

  /** [[writeVideo]] once per (n, seed) as a fixture; its directory. */
  def videoFixtureParquet(spark: SparkSession, n: Long, seed: Long = 42L): String =
    Fixture.generated("video", fixtureGenVersion, n, seed)(writeVideo(spark, n, seed, _))

  /** GVID container: "GVID" + int32 frame count + per frame
    * (int32 length + PNG bytes). Frames are seeded noise PNGs;
    * `perturb` brightens one pixel of frame 0 only.
    */
  private[graft] def gvidBytes(base: Long, seed: Long, perturb: Boolean,
                               frames: Int = 4): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(bos)
    d.writeBytes("GVID")
    d.writeInt(frames)
    var f = 0
    while (f < frames) {
      val png = pngBytes(base * 16 + f, seed, perturb = perturb && f == 0)
      d.writeInt(png.length)
      d.write(png)
      f += 1
    }
    d.flush()
    bos.toByteArray
  }

  private[graft] def wavBytes(base: Long, seed: Long, perturb: Boolean): Array[Byte] = {
    val ns = 8000 // 1 s at 8 kHz
    val f1 = 3 + ((seed + base) % 37).toInt
    // a flat carrier has a flat envelope (every bin near the mean ⇒
    // near-colliding pHashes for DISTINCT clips); modulate each of the
    // 64 envelope bins with a seeded gain so each clip's envelope is a
    // rich, clip-specific 64-cell pattern — like the image noise
    val rng = new scala.util.Random(seed + base)
    val gains = Array.fill(64)(1 + rng.nextInt(8))
    def tri(t: Int, f: Int): Int = {
      val ph = (t * f) % ns
      (if (ph < ns / 2) ph else ns - ph) - ns / 4
    }
    val binLen = ns / 64
    val pcm = new Array[Byte](ns * 2)
    var t = 0
    while (t < ns) {
      var v = tri(t, f1) * gains(math.min(t / binLen, 63)) // ≤ 8·2000 < 2^15
      if (perturb && t < binLen) v += 300 // first envelope bin only
      pcm(2 * t) = (v & 0xff).toByte
      pcm(2 * t + 1) = ((v >> 8) & 0xff).toByte
      t += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(bos)
    def le32(x: Int): Unit = { d.writeByte(x & 0xff); d.writeByte((x >> 8) & 0xff)
      d.writeByte((x >> 16) & 0xff); d.writeByte((x >> 24) & 0xff) }
    def le16(x: Int): Unit = { d.writeByte(x & 0xff); d.writeByte((x >> 8) & 0xff) }
    d.writeBytes("RIFF"); le32(36 + pcm.length); d.writeBytes("WAVE")
    d.writeBytes("fmt "); le32(16); le16(1); le16(1) // PCM, mono
    le32(8000); le32(8000 * 2); le16(2); le16(16)    // rate, byteRate, block, bits
    d.writeBytes("data"); le32(pcm.length); d.write(pcm)
    d.flush()
    bos.toByteArray
  }

  /** Decode the media fixture at `fixture` with a `RealDecoder(grid)`
    * and persist (id, feature) once as the fixture `name` — the
    * cross-engine anchor for perceptual dedup: the DuckDB oracle
    * recomputes everything DOWNSTREAM of the codec (quantization,
    * pHash bits, blocked pair join) from this parquet, while the
    * codec itself is spec-pinned on generated PNG/WAV payloads
    * (MultimodalSpec / PhashNearDupSpec).
    */
  def decodedRasterParquet(spark: SparkSession, name: String, fixture: String,
                           grid: Int): DataFrame =
    spark.read.parquet(Fixture.generated(name, fixtureGenVersion,
        new java.io.File(fixture).getName, grid)(
      decodeFeatures(spark.read.parquet(fixture), new RealDecoder(grid))
        .select(col("id"), col("feature")).write.parquet(_)))
}
