package graft.mm

import org.apache.spark.sql.{Dataset, SparkSession}

/** Multimodal column plumbing: image/audio/video as opaque binary columns
  * with typed metadata, processed in partition-sized batches.
  *
  * Kernel status:
  *  - IMAGE: REAL — `decodeImage`/`thumbnail` run the JDK's built-in
  *    javax.imageio codecs (PNG/JPEG/BMP/GIF), no external libraries.
  *  - AUDIO: REAL — `decodeWav` parses WAV containers via the JDK's
  *    javax.sound.sampled.
  *  - VIDEO: frame sampling is REAL over animated GIF (`frameSample`,
  *    the one multi-frame format the JDK reads and writes); codec-
  *    compressed video (H.264 etc.) remains a STUB — the JDK has no such
  *    codec and this container has no media libraries. `decodeHeader`
  *    parses the deterministic synthetic header and `embed` produces a
  *    hash-derived feature vector; swapping in a real codec (e.g. a JNI
  *    decoder) only replaces the marked kernel body, the distributed
  *    plumbing is unchanged.
  */
object Multimodal {

  // ImageIO's default scratch-file cache costs a temp file per decode;
  // in-memory streams are strictly better for partition-batched blobs
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaBlob(
      media_id: Long,
      modality: String, // image | audio | video
      payload: Array[Byte],
  )

  final case class MediaMeta(
      media_id: Long,
      modality: String,
      width: Int, // images/video
      height: Int,
      durationMs: Int, // audio/video
      sizeBytes: Int,
      valid: Boolean,
  )

  final case class MediaFeature(media_id: Long, modality: String,
                                embedding: Array[Float])

  val Magic: Array[Byte] = Array('G'.toByte, 'R'.toByte, 'F'.toByte, 'T'.toByte)

  /** Deterministic synthetic blob: 16-byte header (magic, width, height,
    * durationMs) + seeded payload bytes. */
  def synthBlob(id: Long, modality: String, seed: Long): MediaBlob = {
    val r = graft.dedup.Dedup.mix64(seed ^ id)
    val width = 64 + ((r & 0xffff) % 1024).toInt
    val height = 64 + (((r >>> 16) & 0xffff) % 1024).toInt
    val dur = 1000 + (((r >>> 32) & 0xffff) % 60000).toInt
    val bodyLen = 256 + ((r >>> 48) & 0xff).toInt
    val buf = java.nio.ByteBuffer.allocate(16 + bodyLen)
    buf.put(Magic)
    buf.putInt(width); buf.putInt(height); buf.putInt(dur)
    var i = 0
    var x = r
    while (i < bodyLen) {
      x = graft.dedup.Dedup.mix64(x)
      buf.put((x & 0xff).toByte)
      i += 1
    }
    MediaBlob(id, modality, buf.array())
  }

  def synth(spark: SparkSession, n: Long, seed: Long = 42L): Dataset[MediaBlob] = {
    import spark.implicits._
    spark.range(0, n).map { id =>
      val mod = (id % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      synthBlob(id, mod, seed)
    }
  }

  /** STUB codec kernel: parses the synthetic header. A real implementation
    * would dispatch to an image/audio decoder here; everything around it
    * (schema, null-safety, batching) is production shape. */
  def decodeHeader(b: MediaBlob): MediaMeta = {
    val p = b.payload
    if (p == null || p.length < 16 || p(0) != Magic(0) || p(1) != Magic(1) ||
        p(2) != Magic(2) || p(3) != Magic(3))
      return MediaMeta(b.media_id, b.modality, 0, 0, 0, if (p == null) 0 else p.length, valid = false)
    val buf = java.nio.ByteBuffer.wrap(p, 4, 12)
    MediaMeta(b.media_id, b.modality, buf.getInt, buf.getInt, buf.getInt,
      p.length, valid = true)
  }

  /** STUB feature kernel: deterministic 16-dim embedding from payload
    * bytes (a real kernel would run a vision/audio model per batch). */
  def embed(b: MediaBlob): MediaFeature = {
    val dim = 16
    val v = new Array[Float](dim)
    val p = b.payload
    if (p != null) {
      var i = 0
      while (i < p.length) {
        v(i % dim) += (p(i) & 0xff) / 255.0f
        i += 1
      }
      var j = 0
      while (j < dim) { v(j) = v(j) / math.max(1, p.length / dim); j += 1 }
    }
    MediaFeature(b.media_id, b.modality, v)
  }

  /** Batched decode: mapPartitions so a real codec could amortize
    * per-batch init (model load, native context) across the partition —
    * the S6 connection-reuse idiom (`the_stack_parser.py:33-36`). */
  def decodeAll(spark: SparkSession, blobs: Dataset[MediaBlob]): Dataset[MediaMeta] = {
    import spark.implicits._
    blobs.mapPartitions { it =>
      // per-partition init for a real codec would go here
      it.map(decodeHeader)
    }
  }

  def embedAll(spark: SparkSession, blobs: Dataset[MediaBlob]): Dataset[MediaFeature] = {
    import spark.implicits._
    blobs.mapPartitions(_.map(embed))
  }

  // ---------------------------------------------------------------- REAL
  // image/audio kernels (JDK built-in codecs — javax.imageio/javax.sound)

  final case class ImageMeta(media_id: Long, format: String, width: Int,
                             height: Int, gray_sum: Long, valid: Boolean)

  final case class AudioMeta(media_id: Long, sample_rate: Int, channels: Int,
                             frames: Long, duration_ms: Long, valid: Boolean)

  /** Container format from magic bytes (no decode). */
  def sniffFormat(p: Array[Byte]): String = {
    if (p == null || p.length < 12) "unknown"
    else if ((p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') "png"
    else if ((p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8) "jpeg"
    else if (p(0) == 'G' && p(1) == 'I' && p(2) == 'F') "gif"
    else if (p(0) == 'B' && p(1) == 'M') "bmp"
    else if (p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
             p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E') "wav"
    else if (p(0) == Magic(0) && p(1) == Magic(1) && p(2) == Magic(2) &&
             p(3) == Magic(3)) "grft"
    else "unknown"
  }

  /** REAL image decode: dimensions + exact integer pixel sum via the JDK's
    * javax.imageio readers. `gray_sum` sums raster samples through the
    * per-pixel integer band mean — for 8-bit grayscale (one band) that is
    * the exact sum of stored sample values, which PNG round-trips
    * losslessly, so it is restatable as pure arithmetic in an oracle.
    * Truncated/undecodable payloads yield `valid=false`, never a throw. */
  def decodeImage(id: Long, p: Array[Byte]): ImageMeta = {
    val fmt = sniffFormat(p)
    val img =
      try {
        if (p == null) null
        else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      } catch { case _: Exception => null } // truncated payloads throw IIOException
    if (img == null) ImageMeta(id, fmt, 0, 0, 0L, valid = false)
    else {
      val r = img.getRaster
      val bands = r.getNumBands
      var sum = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          var b = 0
          var px = 0L
          while (b < bands) { px += r.getSample(x, y, b); b += 1 }
          sum += px / bands
          x += 1
        }
        y += 1
      }
      ImageMeta(id, fmt, img.getWidth, img.getHeight, sum, valid = true)
    }
  }

  /** REAL audio decode: WAV header via the JDK's javax.sound.sampled —
    * sample rate, channels, frame count, integer-exact duration. */
  def decodeWav(id: Long, p: Array[Byte]): AudioMeta =
    try {
      val ais = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new java.io.ByteArrayInputStream(p))
      try {
        val f = ais.getFormat
        val frames = ais.getFrameLength
        val rate = f.getSampleRate.toLong
        AudioMeta(id, f.getSampleRate.toInt, f.getChannels, frames,
          if (rate > 0) frames * 1000L / rate else 0L, valid = true)
      } finally ais.close()
    } catch { case _: Exception => AudioMeta(id, 0, 0, 0L, 0L, valid = false) }

  /** REAL resize: decode, bilinear-scale to fit within maxW x maxH
    * (never upscale), re-encode as PNG. Returns null for undecodable
    * input so callers can filter invalid rows instead of failing a task. */
  def thumbnail(p: Array[Byte], maxW: Int, maxH: Int): Array[Byte] = {
    require(maxW > 0 && maxH > 0, s"thumbnail bounds must be positive: $maxW x $maxH")
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      catch { case _: Exception => null }
    if (img == null) return null
    val scale = math.min(1.0,
      math.min(maxW.toDouble / img.getWidth, maxH.toDouble / img.getHeight))
    val w = math.max(1, math.round(img.getWidth * scale).toInt)
    val h = math.max(1, math.round(img.getHeight * scale).toInt)
    val out = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** Deterministic REAL PNG: 8-bit grayscale, pixel(x,y) =
    * (x*7 + y*13 + id*31) mod 256 — lossless through PNG, so the decoded
    * `gray_sum` equals the same double sum computed as plain arithmetic
    * (the q53 oracle restates it with generate_series). */
  def synthPng(id: Long): MediaBlob = {
    val w = 16 + (id % 8).toInt
    val h = 16 + ((id / 8) % 8).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, ((x * 7 + y * 13 + id * 31) % 256).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    MediaBlob(id, "image", bos.toByteArray)
  }

  /** Deterministic REAL WAV: 16-bit mono PCM at 8 kHz; frame count varies
    * by id in multiples of 8 so duration_ms = frames/8 exactly. */
  def synthWav(id: Long): MediaBlob = {
    val nFrames = 800 + (id % 100).toInt * 8
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val data = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val v = (((i * 37 + id * 11) % 256) - 128).toShort
      data(2 * i) = (v & 0xff).toByte
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    MediaBlob(id, "audio", bos.toByteArray)
  }

  def synthPngs(spark: SparkSession, n: Long): Dataset[MediaBlob] = {
    import spark.implicits._
    spark.range(0, n).map(i => synthPng(i.toLong))
  }

  /** 64-bit difference-hash (dHash) perceptual image fingerprint: REAL
    * decode, bilinear resize to 9x8 grayscale, one bit per horizontal
    * neighbor pair (set when the left pixel is darker). Re-encodes,
    * mild noise, and small edits keep most gradient signs, so
    * near-identical images land within a few bits — the image-side
    * analogue of text simhash. 0L for undecodable payloads (callers
    * filter on `sniffFormat`/decode validity upstream). */
  def dHash(p: Array[Byte]): Long = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      catch { case _: Exception => null }
    if (img == null) 0L else dHashOf(img)
  }

  /** The dHash kernel over an already-decoded frame (shared by the image
    * and video fingerprints). */
  private def dHashOf(img: java.awt.image.BufferedImage): Long = {
    val out = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, 9, 8, null)
    } finally g.dispose()
    val r = out.getRaster
    var bits = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (r.getSample(x, y, 0) < r.getSample(x + 1, y, 0))
          bits |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    bits
  }

  /** Deterministic pseudo-random grayscale PNG (pixel = mix64(x, y, id))
    * — unlike `synthPng`'s linear gradient (whose horizontal differences
    * are CONSTANT, so every gradient image shares one dHash), these have
    * id-specific gradient signs: distinct ids land far apart in Hamming
    * space, which is what a perceptual-dup spec needs. `noisePixels`
    * flips that many pixels to a shifted value — a "same image, tiny
    * edit" near-duplicate. */
  def synthNoisePng(id: Long, baseId: Long = -1L, noisePixels: Int = 0): MediaBlob = {
    val src = if (baseId >= 0) baseId else id
    val w = 32
    val h = 32
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (graft.dedup.Dedup.mix64(src * 10007L + y * 101L + x) & 0xffL).toInt
        raster.setSample(x, y, 0, v)
        x += 1
      }
      y += 1
    }
    var k = 0
    while (k < noisePixels) {
      val px = (math.abs(graft.dedup.Dedup.mix64(id * 31L + k)) % (w * h)).toInt
      val old = raster.getSample(px % w, px / w, 0)
      raster.setSample(px % w, px / w, 0, (old + 40) % 256)
      k += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    MediaBlob(id, "image", bos.toByteArray)
  }

  /** 64-bit audio perceptual fingerprint (the dHash idea in time): REAL
    * WAV decode, mean |amplitude| over 65 equal time buckets, one bit
    * per consecutive-bucket energy comparison. Re-encodes and sparse
    * sample corruption barely move bucket means, so near-identical
    * clips land within a few bits; 0L for undecodable payloads. */
  def audioHash(p: Array[Byte]): Long = {
    val pcm =
      try {
        val ais = javax.sound.sampled.AudioSystem
          .getAudioInputStream(new java.io.ByteArrayInputStream(p))
        try ais.readAllBytes() finally ais.close()
      } catch { case _: Exception => return 0L }
    val n = pcm.length / 2 // 16-bit PCM samples (frame layout of synthWav)
    if (n < 65) return 0L
    val energy = new Array[Double](65)
    var b = 0
    while (b < 65) {
      val from = (b.toLong * n / 65).toInt
      val to = ((b + 1).toLong * n / 65).toInt
      var s = 0L
      var i = from
      while (i < to) {
        val v = ((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff)).toShort
        s += math.abs(v.toInt)
        i += 1
      }
      energy(b) = if (to > from) s.toDouble / (to - from) else 0.0
      b += 1
    }
    var bits = 0L
    var k = 0
    while (k < 64) {
      if (energy(k) < energy(k + 1)) bits |= 1L << k
      k += 1
    }
    bits
  }

  /** Deterministic pseudo-random WAV (samples = mix64(id, i)) — unlike
    * `synthWav`'s short-period sawtooth (whose bucket energies converge
    * to one value for every id, collapsing all audio hashes), these give
    * id-specific energy profiles. `noiseSamples` corrupts that many
    * samples — a "same clip, light damage" near-duplicate. */
  def synthNoiseWav(id: Long, baseId: Long = -1L, noiseSamples: Int = 0): MediaBlob = {
    val src = if (baseId >= 0) baseId else id
    val nFrames = 4000
    val data = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val v = (graft.dedup.Dedup.mix64(src * 7919L + i) & 0x3fffL).toShort
      data(2 * i) = (v & 0xff).toByte
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    var k = 0
    while (k < noiseSamples) {
      val pos = (math.abs(graft.dedup.Dedup.mix64(id * 131L + k)) % nFrames).toInt
      data(2 * pos) = (~data(2 * pos)).toByte
      k += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    MediaBlob(id, "audio", bos.toByteArray)
  }

  /** Audio near-duplicate pairs — `imageDupPairs` for the audio column
    * (`ahash`, metric `ahash_caps`). */
  def audioDupPairs(spark: SparkSession, blobs: Dataset[MediaBlob],
                    maxHamming: Int = 8, maxBucket: Int = 1000)
      : org.apache.spark.sql.DataFrame =
    hashDupPairs(spark, blobs, audioHash, "ahash", maxHamming, maxBucket)

  /** Image near-duplicate pairs over the dHash (`dhash`, metric
    * `dhash_caps`). */
  def imageDupPairs(spark: SparkSession, blobs: Dataset[MediaBlob],
                    maxHamming: Int = 8, maxBucket: Int = 1000)
      : org.apache.spark.sql.DataFrame =
    hashDupPairs(spark, blobs, dHash, "dhash", maxHamming, maxBucket)

  /** Near-duplicate media pairs under a 64-bit perceptual `hash`: one
    * mapPartitions over the binary column — the only stage that touches
    * media bytes — computes (media_id, `hashCol`), then the shared
    * 16-bit-band + capped-bucket + Hamming-verify engine
    * (`Dedup.hammingDupPairsOf`) runs with its cap published as
    * `<hashCol>_caps`. Only (id, hash) rows ever shuffle; at 100 TB the
    * media bytes stay in their scan stage. */
  private def hashDupPairs(spark: SparkSession, blobs: Dataset[MediaBlob],
                           hash: Array[Byte] => Long, hashCol: String,
                           maxHamming: Int, maxBucket: Int)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val hashed = blobs.mapPartitions(_.map(b => (b.media_id, hash(b.payload))))
      .toDF("media_id", hashCol)
    graft.dedup.Dedup.hammingDupPairsOf(hashed, hashCol, "media_id",
      maxHamming, maxBucket, capMetric = s"${hashCol}_caps")
  }

  /** Batched REAL decode — same mapPartitions shape as `decodeAll` so a
    * heavier codec could amortize per-partition init. */
  def decodeImages(spark: SparkSession, blobs: Dataset[MediaBlob]): Dataset[ImageMeta] = {
    import spark.implicits._
    blobs.mapPartitions(_.map(b => decodeImage(b.media_id, b.payload)))
  }

  def decodeWavs(spark: SparkSession, blobs: Dataset[MediaBlob]): Dataset[AudioMeta] = {
    import spark.implicits._
    blobs.mapPartitions(_.map(b => decodeWav(b.media_id, b.payload)))
  }

  final case class VideoFrame(media_id: Long, frame_idx: Int, width: Int,
                              height: Int, gray_sum: Long)

  private def rasterGraySum(img: java.awt.image.BufferedImage): Long = {
    val r = img.getRaster
    val bands = r.getNumBands
    var sum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        var b = 0
        var px = 0L
        while (b < bands) { px += r.getSample(x, y, b); b += 1 }
        sum += px / bands
        x += 1
      }
      y += 1
    }
    sum
  }

  /** REAL frame sampling over an animated container: every `everyN`-th
    * frame of a multi-frame GIF, decoded via the JDK's javax.imageio
    * sequence reader (the one animated format the JDK can both write and
    * read; true video codecs — H.264 etc. — stay out of scope, no codec
    * in the JDK or container). For 8-bit single-band input the GIF writer
    * stores raster samples as palette indices unchanged, so the sampled
    * frames' pixel sums are exact — q54 restates them as arithmetic.
    * Undecodable payloads yield an empty list, never a throw. */
  def frameSample(id: Long, p: Array[Byte], everyN: Int): Seq[VideoFrame] = {
    require(everyN > 0, s"everyN must be positive: $everyN")
    if (p == null) return Nil
    var iis: javax.imageio.stream.ImageInputStream = null
    var reader: javax.imageio.ImageReader = null
    try {
      iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(p))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return Nil
      reader = readers.next()
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      (0 until n by everyN).map { f =>
        val img = reader.read(f)
        VideoFrame(id, f, img.getWidth, img.getHeight, rasterGraySum(img))
      }
    } catch { case _: Exception => Nil }
    finally {
      if (reader != null) reader.dispose()
      if (iis != null) iis.close()
    }
  }

  /** Deterministic REAL animated GIF: 3 + id%5 grayscale frames, frame f
    * pixel(x,y) = (x*7 + y*13 + id*31 + f*17) mod 256. */
  def synthGif(id: Long): MediaBlob = {
    val w = 12 + (id % 6).toInt
    val h = 10 + ((id / 6) % 6).toInt
    val nFrames = 3 + (id % 5).toInt
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, ((x * 7 + y * 13 + id * 31 + f * 17) % 256).toInt)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null),
          writer.getDefaultWriteParam)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    MediaBlob(id, "video", bos.toByteArray)
  }

  def synthGifs(spark: SparkSession, n: Long): Dataset[MediaBlob] = {
    import spark.implicits._
    spark.range(0, n).map(i => synthGif(i.toLong))
  }

  /** 64-bit video perceptual fingerprint over an animated container:
    * per-frame dHash (the shared 9x8 gradient-sign kernel), combined by
    * per-bit MAJORITY across frames — robust to a damaged or extra frame
    * where a single-frame hash is not, yet still frame-order-free (a
    * re-encode that re-times frames keeps the majority). GIF is the one
    * animated format the JDK decodes (the q54 stance — H.264 stays
    * environment-blocked); 0L for undecodable payloads. */
  def videoHash(p: Array[Byte]): Long = {
    if (p == null) return 0L
    var iis: javax.imageio.stream.ImageInputStream = null
    var reader: javax.imageio.ImageReader = null
    try {
      iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(p))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return 0L
      reader = readers.next()
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      if (n == 0) return 0L
      val ones = new Array[Int](64)
      var f = 0
      while (f < n) {
        val h = dHashOf(reader.read(f))
        var b = 0
        while (b < 64) { if (((h >>> b) & 1L) == 1L) ones(b) += 1; b += 1 }
        f += 1
      }
      var bits = 0L
      var b = 0
      while (b < 64) { if (2 * ones(b) > n) bits |= 1L << b; b += 1 }
      bits
    } catch { case _: Exception => 0L }
    finally {
      if (reader != null) reader.dispose()
      if (iis != null) iis.close()
    }
  }

  /** Deterministic pseudo-random animated GIF (4 frames of 32x32,
    * pixel = mix64(baseId, frame, y, x)) — the `synthNoisePng` stance:
    * `synthGif`'s linear gradient collapses every clip to one dHash.
    * `noisePixels` corrupts that many pixels PER FRAME. */
  def synthNoiseGif(id: Long, baseId: Long = -1L, noisePixels: Int = 0): MediaBlob = {
    val src = if (baseId >= 0) baseId else id
    val w = 32
    val h = 32
    val nFrames = 4
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = (graft.dedup.Dedup.mix64(
              src * 104729L + f * 4099L + y * 101L + x) & 0xffL).toInt
            raster.setSample(x, y, 0, v)
            x += 1
          }
          y += 1
        }
        var k = 0
        while (k < noisePixels) {
          val px = (math.abs(graft.dedup.Dedup.mix64(id * 193L + f * 17L + k)) % (w * h)).toInt
          val old = raster.getSample(px % w, px / w, 0)
          raster.setSample(px % w, px / w, 0, (old + 40) % 256)
          k += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null),
          writer.getDefaultWriteParam)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    MediaBlob(id, "video", bos.toByteArray)
  }

  /** Video near-duplicate pairs — the fourth modality through the shared
    * banding + Hamming engine (`vhash`, metric `vhash_caps`). */
  def videoDupPairs(spark: SparkSession, blobs: Dataset[MediaBlob],
                    maxHamming: Int = 8, maxBucket: Int = 1000)
      : org.apache.spark.sql.DataFrame =
    hashDupPairs(spark, blobs, videoHash, "vhash", maxHamming, maxBucket)

  def frameSampleAll(spark: SparkSession, blobs: Dataset[MediaBlob],
                     everyN: Int): Dataset[VideoFrame] = {
    import spark.implicits._
    blobs.flatMap(b => frameSample(b.media_id, b.payload, everyN))
  }
}
