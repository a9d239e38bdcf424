package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, File}
import javax.imageio.ImageIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, element_at, split}

/** Deterministic media fixture + REAL image decode kernels for the
  * mm_* family and dedup_phash.
  *
  * Round-5 lesson: the previous mm kernels hashed the testdata parquet
  * files — environment-owned bytes — so a driver-side testdata
  * regeneration silently invalidated every pinned oracle. This fixture
  * is self-built from a documented integer recurrence, so the pins are
  * environment-independent forever (same principle as
  * [[Ingest.buildFixture]]).
  *
  * The decode is no longer a stub for images: fixture images are
  * encoded with `javax.imageio` (BMP + PNG — both lossless, both in
  * the stock JDK; reference handles media files as opaque payloads,
  * child.py:95-118, so the *decode semantics* here are graft's own
  * scope extension) and decoded back with `ImageIO.read`. The pinned
  * oracles are computed by tools/mm_oracle.py and tools/phash_oracle.py
  * from the PIXEL SPEC below — pure-python integer math that never
  * touches the JVM codecs — so a pin match proves the whole
  * encode→decode round trip returns exactly the authored pixels.
  *
  * PIXEL SPEC (mirrored line-for-line in tools/mm_oracle.py):
  *   - LCG: x' = x·6364136223846793005 + 1442695040888963407  (mod 2^64)
  *   - image i (0-based), 48×32, row-major; seed 1000003·(i+1); per
  *     pixel advance once: r=(x>>>40)&0xff, g=(x>>>32)&0xff,
  *     b=(x>>>24)&0xff.
  *   - PNG "re-encode" variant of image i: same pixels, then with a
  *     second LCG seeded 7777777·(i+1), advance once per pixel and
  *     where (x>>>60)&0xf == 0 flip the low bit of all three channels
  *     (a ±1-LSB perceptual-noop, byte-level difference).
  *   - video i (0..2): an animated GIF of 6 grayscale 48×32 frames;
  *     frame k seeded 5550001·(i+1) + 1000003·k; per pixel advance
  *     once, gray level = ((x>>>44)&0xf)·17 (16 levels — palette-safe,
  *     so the GIF round trip is lossless), luma == level.
  *   - audio clip i: mono 16-bit PCM at 8000 Hz, sample counts
  *     (12000, 8000, 20000); seed 987654321·(i+1); per sample advance
  *     once, sample = int16 of (x>>>48)&0xffff (two's complement).
  *   - integer luma: (77·r + 150·g + 29·b) >> 8.
  *   - side×side thumbnail: exact block area-average, integer floor
  *     division (48 and 32 are multiples of both 16 and 8).
  *   - 64-bit average-hash: 8×8 thumbnail t, bit i set iff t(i)·64 >
  *     Σt (strict integer compare — no float mean).
  */
object Media {
  val width = 48
  val height = 32
  val numImages = 8
  val numVideos = 3
  val audioSampleRate = 8000
  val audioSizes: Seq[Int] = Seq(12000, 8000, 20000)

  private final class Lcg(seed: Long) {
    private var x = seed
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
  }

  /** Row-major packed-RGB pixels of fixture image i (see PIXEL SPEC). */
  def pixels(i: Int, reenc: Boolean): Array[Int] = {
    val g = new Lcg(1000003L * (i + 1))
    val px = Array.fill(width * height) {
      val x = g.next()
      ((((x >>> 40) & 0xff) << 16) | (((x >>> 32) & 0xff) << 8) | ((x >>> 24) & 0xff)).toInt
    }
    if (reenc) {
      val p = new Lcg(7777777L * (i + 1))
      var k = 0
      while (k < px.length) {
        if (((p.next() >>> 60) & 0xf) == 0L) px(k) ^= 0x010101
        k += 1
      }
    }
    px
  }

  val videoFrames = 6

  /** Authored grayscale pixels of video i, frame k (16 gray levels —
    * palette-safe, so the GIF round trip is lossless): seed
    * 5550001·(i+1) + 1000003·k; per pixel advance once, level =
    * ((x>>>44)&0xf)·17, rgb = (level, level, level). */
  def framePixels(vid: Int, frame: Int): Array[Int] = {
    val g = new Lcg(5550001L * (vid + 1) + 1000003L * frame)
    Array.fill(width * height) {
      val l = (((g.next() >>> 44) & 0xf) * 17).toInt
      (l << 16) | (l << 8) | l
    }
  }

  /** Authored int16 PCM samples of fixture audio clip i. */
  def audioSamples(i: Int): Array[Short] = {
    val g = new Lcg(987654321L * (i + 1))
    Array.fill(audioSizes(i))(((g.next() >>> 48) & 0xffff).toShort)
  }

  /** Fixture dir (built once per JVM): 8 BMP originals, 8 PNG
    * re-encodes, 3 animated-GIF "videos", 3 PCM WAV clips. */
  lazy val dir: String = {
    val d = new File(s"${graft.Tables.scratchRoot}/media")
    if (d.exists()) graft.Tables.deleteRecursively(d)
    d.mkdirs()
    for (i <- 0 until numImages) {
      writeImage(new File(d, f"img_$i%02d.bmp"), pixels(i, reenc = false), "bmp")
      writeImage(new File(d, f"img_$i%02d.png"), pixels(i, reenc = true), "png")
    }
    for (i <- 0 until numVideos)
      writeAnimatedGif(new File(d, s"vid_$i.gif"), i)
    for (i <- audioSizes.indices) {
      val samples = audioSamples(i)
      val pcm = new Array[Byte](samples.length * 2)
      var k = 0
      while (k < samples.length) {
        pcm(2 * k) = (samples(k) & 0xff).toByte
        pcm(2 * k + 1) = ((samples(k) >> 8) & 0xff).toByte
        k += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        audioSampleRate.toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new ByteArrayInputStream(pcm), fmt, samples.length.toLong)
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE,
        new File(d, s"aud_$i.wav")): Unit
    }
    d.getAbsolutePath
  }

  /** The fixture files whose names start with `prefix`, as
    * (file_name, content) rows: one binaryFile scan over [[dir]]. */
  def load(s: SparkSession, prefix: String): DataFrame =
    s.read.format("binaryFile").option("pathGlobFilter", s"$prefix*").load(dir)
      .select(element_at(split(col("path"), "/"), -1).as("file_name"),
        col("content"))

  /** (mean, hash) of a luma plane: the integer floor mean and the
    * polynomial rolling hash h·31 + l from 1125899906842597 (wrapping
    * Long arithmetic, as tools/mm_oracle.py mirrors it). */
  def lumaDigest(luma: Array[Int]): (Long, Long) = {
    var sum = 0L
    var rolling = 1125899906842597L
    var i = 0
    while (i < luma.length) {
      sum += luma(i)
      rolling = rolling * 31 + luma(i)
      i += 1
    }
    (sum / luma.length, rolling)
  }

  /** Write an animated GIF (the one MULTI-FRAME codec in the stock
    * JDK) of [[videoFrames]] authored grayscale frames. */
  def writeAnimatedGif(f: File, vid: Int): Unit = {
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val out = ImageIO.createImageOutputStream(f)
    try {
      writer.setOutput(out)
      writer.prepareWriteSequence(null)
      for (k <- 0 until videoFrames) {
        val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
        img.setRGB(0, 0, width, height, framePixels(vid, k), 0, width)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      out.close()
    }
  }

  /** REAL multi-frame decode: animated-GIF bytes → per-frame
    * (width, height, luma plane) via the stock JDK's GIF ImageReader.
    * GIF stores exact palette indices, and the authored frames use a
    * ≤16-color grayscale palette, so the round trip is lossless. */
  def decodeGifFrames(bytes: Array[Byte]): Seq[(Int, Int, Array[Int])] = {
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    val reader = ImageIO.getImageReadersByFormatName("gif").next()
    try {
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      (0 until n).map { k =>
        val img = reader.read(k)
        val w = img.getWidth
        val h = img.getHeight
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        val luma = new Array[Int](w * h)
        var j = 0
        while (j < luma.length) {
          val p = px(j)
          luma(j) =
            (77 * ((p >> 16) & 0xff) + 150 * ((p >> 8) & 0xff) + 29 * (p & 0xff)) >> 8
          j += 1
        }
        (w, h, luma)
      }
    } finally {
      reader.dispose()
      iis.close()
    }
  }

  /** REAL audio decode: WAV bytes → int16 PCM samples via
    * `javax.sound.sampled` (stock JDK — PCM WAV needs no external
    * codec). Lossless, so the round trip returns the authored samples
    * exactly. */
  def decodeAudio(bytes: Array[Byte]): Array[Short] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
      fmt.getChannels == 1, s"unexpected WAV format $fmt")
    val raw = ais.readAllBytes()
    val out = new Array[Short](raw.length / 2)
    var k = 0
    while (k < out.length) {
      out(k) = ((((raw(2 * k + 1) & 0xff) << 8) | (raw(2 * k) & 0xff))).toShort
      k += 1
    }
    out
  }

  private def writeImage(f: File, px: Array[Int], fmt: String): Unit = {
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, width, height, px, 0, width)
    require(ImageIO.write(img, fmt, f), s"no ImageIO writer for $fmt")
  }

  /** REAL image decode: encoded bytes → (width, height, row-major
    * integer luma plane). Runs on executors inside mapPartitions —
    * ImageIO is called per blob, payload bytes never shuffle. */
  def decodeLuma(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "undecodable image payload")
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    val luma = new Array[Int](w * h)
    var k = 0
    while (k < luma.length) {
      val p = px(k)
      luma(k) = (77 * ((p >> 16) & 0xff) + 150 * ((p >> 8) & 0xff) + 29 * (p & 0xff)) >> 8
      k += 1
    }
    (w, h, luma)
  }

  /** Exact block area-average of a luma plane down to side×side
    * (integer floor; requires side | w and side | h). */
  def thumbnail(w: Int, h: Int, luma: Array[Int], side: Int): Array[Int] = {
    require(w % side == 0 && h % side == 0, s"$side must divide ${w}x$h")
    val bw = w / side
    val bh = h / side
    val out = new Array[Int](side * side)
    var ty = 0
    while (ty < side) {
      var tx = 0
      while (tx < side) {
        var s = 0
        var y = ty * bh
        while (y < (ty + 1) * bh) {
          var x = tx * bw
          while (x < (tx + 1) * bw) { s += luma(y * w + x); x += 1 }
          y += 1
        }
        out(ty * side + tx) = s / (bw * bh)
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** 64-bit average-hash of a decoded image: 8×8 thumbnail, bit i set
    * iff t(i)·64 > Σt (all-integer — reproducible in any language). */
  def ahash(w: Int, h: Int, luma: Array[Int]): Long = {
    val t = thumbnail(w, h, luma, 8)
    var sum = 0L
    t.foreach(sum += _)
    var out = 0L
    var i = 0
    while (i < 64) { if (t(i) * 64L > sum) out |= (1L << i); i += 1 }
    out
  }
}
