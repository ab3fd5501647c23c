package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}

/** Multimodal column plumbing: media payloads as opaque binary columns
  * with typed metadata, processed in partition-sized batches.
  *
  * The image and audio codec steps are REAL: PNG/JPEG decode via the
  * JDK's `javax.imageio` and WAV/PCM decode via `javax.sound.sampled`,
  * both run inside `mapPartitions` (the JVM analog of a vectorized
  * pandas-batch UDF, and the amortization point for codec init). Only
  * container formats the JDK ships no codec for (mp4) fall back to a
  * deterministic payload-hash feature, clearly marked. The fixtures
  * carry no media bytes, so image/audio payloads are generated
  * deterministically from `doc_id` on executors — which also lets the
  * DuckDB oracle reproduce the decoded pixel/sample statistics in
  * closed form: the correctness gate covers a real encode→decode
  * round trip, not a simulated one.
  */
object Multimodal {

  case class Media(doc_id: Long, mime: String, payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, mime: String, size_bytes: Int,
      features: Array[Double])

  /** Fixture adapter: treat document text bytes as the opaque payload
    * (the fixtures carry no real media; the pipeline doesn't care). */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image/png")
        .when(col("doc_id") % 3 === 1, "audio/wav")
        .otherwise("video/mp4").as("mime"),
      encode(col("text"), "UTF-8").as("payload"))

  /** One stub feature dim: a cross-engine md5-derived hash of
    * payload‖dim-index, scaled into [0,1) — deterministic AND
    * reproducible by the DuckDB oracle (TextFns.md5u56). */
  def stubFeature(payload: Column, i: Int): Column =
    pmod(graft.functions.TextFns.md5u56(
        concat(payload, lit(i.toString.getBytes("UTF-8")))), lit(100000L))
      .cast("double") / lit(100000.0)

  /** STUB decode: deterministic pseudo-features from payload hashes —
    * stands in for decode→resize→embed. Expression form (codegen'd). */
  def decodeStubExpr(payload: Column, dims: Int = 8): Column =
    array((0 until dims).map(i => stubFeature(payload, i)): _*)

  /** Partition-batch decode. Image payloads that parse under
    * `javax.imageio` yield REAL features (dimensions + per-channel
    * means, normalized); WAV payloads that parse under
    * `javax.sound.sampled` yield real sample statistics. Payloads no
    * JDK codec accepts (mp4, or non-media bytes) fall back to the
    * deterministic payload-hash features so the pipeline stays total —
    * the same contract a production decode stage needs when fed a
    * corrupt blob. */
  def decodeStub(m: Media, dims: Int = 8): MediaFeatures = {
    val real =
      if (m.mime.startsWith("image/")) imageFeatures(m.payload, dims)
      else if (m.mime == "audio/wav") wavFeatures(m.payload, dims)
      else None
    val feats = real.getOrElse(hashFeatures(m.payload, dims))
    MediaFeatures(m.doc_id, m.mime, m.payload.length, feats)
  }

  /** Fallback for undecodable payloads: rolling-hash per dim in [0,1). */
  def hashFeatures(payload: Array[Byte], dims: Int): Array[Double] =
    Array.tabulate(dims) { i =>
      var h = 1125899906842597L + i
      var j = 0
      while (j < payload.length) { h = 31 * h + payload(j); j += 1 }
      math.abs(h % 100000L) / 100000.0
    }

  /** Real image features: [w/MAXDIM, h/MAXDIM, bands/4, mean_band0/255,
    * mean_band1/255, ...] padded/truncated to `dims`. None when the
    * bytes aren't a decodable image. */
  def imageFeatures(payload: Array[Byte], dims: Int): Option[Array[Double]] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    if (img == null) None
    else {
      val w = img.getWidth; val h = img.getHeight
      val r = img.getRaster
      val bands = r.getNumBands
      val sums = new Array[Long](bands)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var b = 0
          while (b < bands) { sums(b) += r.getSample(x, y, b); b += 1 }
          x += 1
        }
        y += 1
      }
      val out = new Array[Double](dims)
      out(0) = w / 4096.0
      if (dims > 1) out(1) = h / 4096.0
      if (dims > 2) out(2) = bands / 4.0
      var i = 3
      while (i < dims) {
        if (i - 3 < bands) out(i) = sums(i - 3).toDouble / (w.toLong * h) / 255.0
        i += 1
      }
      Some(out)
    }
  }

  /** Real WAV features via `javax.sound.sampled`: [sampleRate/48k,
    * channels/4, frames/1e6, mean byte-sample/255, ...]. None when the
    * bytes aren't a parseable WAV. */
  def wavFeatures(payload: Array[Byte], dims: Int): Option[Array[Double]] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        val frames = in.getFrameLength
        val data = in.readAllBytes()
        var sum = 0L
        var j = 0
        while (j < data.length) { sum += (data(j) & 0xff); j += 1 }
        val out = new Array[Double](dims)
        out(0) = fmt.getSampleRate / 48000.0
        if (dims > 1) out(1) = fmt.getChannels / 4.0
        if (dims > 2) out(2) = frames / 1e6
        if (dims > 3 && data.nonEmpty) out(3) = sum.toDouble / data.length / 255.0
        Some(out)
      } finally in.close()
    } catch { case _: javax.sound.sampled.UnsupportedAudioFileException => None
              case _: java.io.IOException => None }

  def decodePartitions(media: Dataset[Media], dims: Int = 8): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { iter =>
      // per-partition init happens once here: the in-memory codec path
      // (ImageIO plugin lookup caches per classloader; disk cache off)
      javax.imageio.ImageIO.setUseCache(false)
      iter.map(m => decodeStub(m, dims))
    }
  }

  /** Metadata + stub features per media row. Features are emitted as
    * scalar columns f0..f7 (sortable, so the driver comparator can gate
    * them) built from the cross-engine hash — fully oracle-checkable in
    * DuckDB. Raw-ARRAY semantics stay spec'd in StreamingSpec
    * (mapPartitions path) and CustomOpsSpec (decodeStubExpr: length,
    * [0,1) range, determinism). */
  def qMultimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    val dims = 8
    val feats = (0 until dims).map(i => stubFeature(col("payload"), i).as(s"f$i"))
    val norm = sqrt((0 until dims).map(i => col(s"f$i") * col(s"f$i"))
      .reduce(_ + _)).as("feature_norm")
    asMedia(Tables.documents(spark, dir))
      .withColumn("size_bytes", length(col("payload")))
      .select(Seq(col("doc_id"), col("mime"), col("size_bytes")) ++ feats: _*)
      .select(col("*"), norm)
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin: payload = UTF-8 bytes of text, so hashing text‖i in
    * DuckDB hashes the same bytes (TextFns.md5u56Sql). The norm sums
    * left-to-right like the Spark column fold, so doubles are
    * bit-identical. */
  def oMultimodalFeatures: String = {
    val dims = 8
    val feats = (0 until dims).map(i =>
      s"CAST(${graft.functions.TextFns.md5u56Sql(s"text || '$i'")} % 100000 AS DOUBLE) / 100000.0 AS f$i")
      .mkString(",\n    ")
    val norm = "sqrt(" + (0 until dims).map(i => s"f$i * f$i").mkString(" + ") + ") AS feature_norm"
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
       |         WHEN doc_id % 3 = 1 THEN 'audio/wav'
       |         ELSE 'video/mp4' END AS mime,
       |    CAST(octet_length(encode(text)) AS INTEGER) AS size_bytes,
       |    $feats
       |  FROM documents)
       |SELECT doc_id, mime, size_bytes, ${(0 until dims).map(i => s"f$i").mkString(", ")},
       |  $norm
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // ---- real codec round trip -----------------------------------------

  /** Deterministic fixture PNG for a doc: 8×(1+doc_id%13) RGB with
    * pixel(x,y,c) = (doc_id + 7c + 31(y·W+x)) mod 256. PNG is lossless,
    * so decode returns these exact values — which is what lets the
    * DuckDB oracle recompute the decoded statistics in closed form. */
  def pngFor(docId: Long): Array[Byte] = {
    val w = 8; val h = 1 + (docId % 13).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val r = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < 3) {
          r.setSample(x, y, c, ((docId + 7L * c + 31L * (y * w + x)) % 256L).toInt)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic fixture WAV: 8 kHz mono unsigned 8-bit PCM,
    * 32+(doc_id%41) samples, sample(j) = (doc_id + 17j) mod 256. */
  def wavFor(docId: Long): Array[Byte] = {
    val n = 32 + (docId % 41).toInt
    val samples = Array.tabulate(n)(j => ((docId + 17L * j) % 256L).toByte)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(samples), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  case class DecodedMedia(doc_id: Long, width: Int, height: Int, channels: Int,
      sum_r: Long, sum_g: Long, sum_b: Long,
      mean_r: Double, mean_g: Double, mean_b: Double,
      wav_frames: Long, wav_rate_hz: Int, wav_channels: Int, wav_byte_sum: Long)

  /** Encode→decode round trip over REAL codecs: per doc, build the
    * fixture PNG and WAV on the executor, decode them back through
    * `javax.imageio` / `javax.sound.sampled`, and emit the decoded
    * dimensions and channel statistics. Map-only (no shuffle; the
    * orderBy is presentation) — at 100 TB this is the canonical "decode
    * + feature-extract" scan shape, with codec init amortized once per
    * partition. The oracle reproduces every value arithmetically from
    * the generation formulas, so the hash gate proves the codecs
    * actually ran and returned the bytes we encoded. */
  def qMultimodalDecode(spark: SparkSession, dir: String): DataFrame =
    decodeRoundTrip(Tables.documents(spark, dir)).orderBy("doc_id")

  /** The round-trip scan over any docs frame (probe entry: the scaling
    * harness feeds replicated corpora through it to measure codec
    * throughput at the 10^5–10^6-doc tiers). */
  def decodeRoundTrip(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ids = docs.select(col("doc_id")).as[Long]
    ids.mapPartitions { iter =>
      javax.imageio.ImageIO.setUseCache(false)
      iter.map { id =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(pngFor(id)))
        val w = img.getWidth; val h = img.getHeight
        val r = img.getRaster
        val sums = new Array[Long](3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var c = 0
            while (c < 3) { sums(c) += r.getSample(x, y, c); c += 1 }
            x += 1
          }
          y += 1
        }
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(wavFor(id)))
        val fmt = in.getFormat
        val frames = in.getFrameLength
        val data = in.readAllBytes()
        in.close()
        var s = 0L
        var j = 0
        while (j < data.length) { s += (data(j) & 0xff); j += 1 }
        val npix = w.toLong * h
        DecodedMedia(id, w, h, r.getNumBands,
          sums(0), sums(1), sums(2),
          sums(0).toDouble / npix, sums(1).toDouble / npix, sums(2).toDouble / npix,
          frames, fmt.getSampleRate.toInt, fmt.getChannels, s)
      }
    }.toDF()
  }

  /** DuckDB twin: the pixel/sample formulas summed over `range()` —
    * exact integer sums, then the same IEEE double division as the
    * Spark side, so the hash compare is bit-exact. */
  def oMultimodalDecode: String =
    """WITH px AS (
      |  SELECT d.doc_id,
      |    CAST(SUM(CASE WHEN c.c = 0 THEN (d.doc_id + 7*c.c + 31*k.k) % 256 END) AS BIGINT) AS sum_r,
      |    CAST(SUM(CASE WHEN c.c = 1 THEN (d.doc_id + 7*c.c + 31*k.k) % 256 END) AS BIGINT) AS sum_g,
      |    CAST(SUM(CASE WHEN c.c = 2 THEN (d.doc_id + 7*c.c + 31*k.k) % 256 END) AS BIGINT) AS sum_b
      |  FROM documents d, range(0, 3) c(c), range(0, 104) k(k)
      |  WHERE k.k < 8 * (1 + d.doc_id % 13)
      |  GROUP BY d.doc_id),
      |wav AS (
      |  SELECT d.doc_id,
      |    CAST(32 + d.doc_id % 41 AS BIGINT) AS wav_frames,
      |    CAST(SUM((d.doc_id + 17*j.j) % 256) AS BIGINT) AS wav_byte_sum
      |  FROM documents d, range(0, 72) j(j)
      |  WHERE j.j < 32 + d.doc_id % 41
      |  GROUP BY d.doc_id)
      |SELECT p.doc_id,
      |  8 AS width, CAST(1 + p.doc_id % 13 AS INTEGER) AS height, 3 AS channels,
      |  p.sum_r, p.sum_g, p.sum_b,
      |  CAST(p.sum_r AS DOUBLE) / (8 * (1 + p.doc_id % 13)) AS mean_r,
      |  CAST(p.sum_g AS DOUBLE) / (8 * (1 + p.doc_id % 13)) AS mean_g,
      |  CAST(p.sum_b AS DOUBLE) / (8 * (1 + p.doc_id % 13)) AS mean_b,
      |  w.wav_frames, 8000 AS wav_rate_hz, 1 AS wav_channels, w.wav_byte_sum
      |FROM px p JOIN wav w USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** STUB resize: cap the payload at `maxBytes` before decoding — the
    * binary-slice expression is the real plumbing (a codec resize slots
    * into the same projection); downstream stages see a bounded-size
    * column, which is what matters for batch memory at scale. */
  def resizeStubExpr(payload: Column, maxBytes: Int = 256): Column =
    substring(payload, 1, maxBytes)

  case class Frame(doc_id: Long, frame_idx: Int, size_bytes: Int,
      features: Array[Double])

  /** STUB frame-sample: one row per sampled "frame" (fixed-stride byte
    * window standing in for every-nth-frame extraction). flatMap is the
    * exploding batch shape — media rows fan out to frame rows inside the
    * executor, never on the driver, and downstream operators see plain
    * rows they can shuffle/aggregate like any other. */
  def sampleFramesStub(m: Media, frameBytes: Int = 64,
      stride: Int = 256, dims: Int = 8): Seq[Frame] = {
    val idxs = 0 until math.max(1, (m.payload.length + stride - 1) / stride)
    idxs.map { fi =>
      val from = fi * stride
      val until = math.min(from + frameBytes, m.payload.length)
      val window = java.util.Arrays.copyOfRange(m.payload, math.min(from, m.payload.length), until)
      val feats = Array.tabulate(dims) { i =>
        var h = 1125899906842597L + i
        var j = 0
        while (j < window.length) { h = 31 * h + window(j); j += 1 }
        math.abs(h % 100000L) / 100000.0
      }
      Frame(m.doc_id, fi, window.length, feats)
    }
  }

  def sampleFramePartitions(media: Dataset[Media]): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap(m => sampleFramesStub(m))
  }

  // --- real multi-frame decode (animated GIF frame sampling) ----------

  /** Deterministic fixture ANIMATED GIF: 8×8, 2+(doc_id%5) frames,
    * frame f a solid gray g = (11·doc_id + 29·f) mod 256. GIF is
    * palette-indexed and lossless, so a solid frame decodes back to the
    * exact written value — the closed-form the oracle replays. */
  def gifFor(docId: Long): Array[Byte] = {
    val frames = 2 + (docId % 5).toInt
    val bos = new java.io.ByteArrayOutputStream()
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < frames) {
      val g = ((11L * docId + 29L * f) % 256L).toInt
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val r = img.getRaster
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          var c = 0
          while (c < 3) { r.setSample(x, y, c, g); c += 1 }
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null),
        null)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  case class GifFrame(doc_id: Long, frame_idx: Int, n_frames: Int,
      width: Int, height: Int, gray: Int)

  /** REAL every-nth-frame extraction through the JDK's one multi-frame
    * codec (animated GIF): open the container once, count frames, read
    * only every `stride`-th frame, and emit per-frame stats (the gray
    * level is the mean of band 0 over the FULL raster — the gate proves
    * the whole frame decoded, not one pixel). This replaces the byte-
    * window stub as the video-shaped plumbing wherever a real container
    * is available; mp4 itself stays env-bound (no JDK codec) and keeps
    * the documented hash fallback. */
  def sampleGifFrames(docId: Long, payload: Array[Byte],
      stride: Int = 2): Seq[GifFrame] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) Nil
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          (0 until n by stride).map { i =>
            val img = reader.read(i)
            // getRGB, not raster samples: a decoded GIF is
            // TYPE_BYTE_INDEXED, whose raster holds PALETTE INDICES —
            // the color model must map them back to channel values
            var sum = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                sum += img.getRGB(x, y) & 0xFF
                x += 1
              }
              y += 1
            }
            GifFrame(docId, i, n, img.getWidth, img.getHeight,
              (sum / (img.getWidth.toLong * img.getHeight)).toInt)
          }
        } finally reader.dispose()
      }
    } finally iis.close()
  }

  /** Encode→sample round trip over the real GIF codec, map-only: per
    * doc the executor builds the fixture animation, then the sampler
    * reads back every 2nd frame through `javax.imageio`. flatMap is the
    * exploding batch shape — media rows fan out to frame rows on the
    * executor, never the driver; at 100 TB the build step is replaced
    * by the binary payload column and the scan shape is identical. */
  def gifFrameSamples(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap(id => sampleGifFrames(id, gifFor(id))))
      .toDF()
  }

  def qMultimodalFrameSample(spark: SparkSession, dir: String): DataFrame =
    gifFrameSamples(Tables.documents(spark, dir))
      .orderBy("doc_id", "frame_idx")

  /** Twin: frame count, sampled indices, dims, and gray level all
    * re-derived from the generation formulas — a hash match proves the
    * GIF writer and the multi-frame reader round-tripped every sampled
    * frame exactly. */
  def oMultimodalFrameSample: String =
    """WITH f AS (
      |  SELECT doc_id, unnest(range(0, 2 + doc_id % 5, 2)) AS frame_idx,
      |    2 + doc_id % 5 AS n_frames
      |  FROM documents)
      |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
      |  CAST(n_frames AS INTEGER) AS n_frames,
      |  8 AS width, 8 AS height,
      |  CAST((11 * doc_id + 29 * frame_idx) % 256 AS INTEGER) AS gray
      |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  // --- real raster resize (decode → nearest-neighbor → stats) ---------

  /** Fixed output tile for the resize path: every image, whatever its
    * source dims, lands on OutW×OutH — the uniform-tensor shape an
    * embedding/vision stage needs. */
  val OutW = 4
  val OutH = 4

  /** Per doc: decode the fixture PNG through the REAL `javax.imageio`
    * codec, nearest-neighbor resample the raster to OutW×OutH
    * (src = (x·w÷OutW, y·h÷OutH), integer floors — deterministic,
    * unlike AWT's area-averaging resamplers whose arithmetic no SQL
    * twin could replay), and emit per-channel sums of the resized
    * tile. Map-only; codec init amortized per partition. The oracle
    * reproduces the sums arithmetically from the pixel generation
    * formula composed with the SAME floor sampling — so the gate
    * proves decode AND resampling both ran exactly. */
  def resizeStats(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { iter =>
      javax.imageio.ImageIO.setUseCache(false)
      iter.map { id =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(pngFor(id)))
        val w = img.getWidth; val h = img.getHeight
        val r = img.getRaster
        val sums = new Array[Long](3)
        var j = 0
        while (j < OutH) {
          val sy = j * h / OutH
          var i = 0
          while (i < OutW) {
            val sx = i * w / OutW
            var c = 0
            while (c < 3) { sums(c) += r.getSample(sx, sy, c); c += 1 }
            i += 1
          }
          j += 1
        }
        (id, OutW, OutH, sums(0), sums(1), sums(2))
      }
    }.toDF("doc_id", "out_w", "out_h", "rsum_c0", "rsum_c1", "rsum_c2")
  }

  def qMultimodalResize(spark: SparkSession, dir: String): DataFrame =
    resizeStats(Tables.documents(spark, dir)).orderBy("doc_id")

  /** Pixel formula ∘ floor sampling, summed over the output grid. */
  def oMultimodalResize: String = {
    def channel(c: Int) =
      s"CAST(sum((doc_id + ${7 * c} + 31 * ((jy * h // $OutH) * 8 + " +
        s"(ix * 8 // $OutW))) % 256) AS BIGINT) AS rsum_c$c"
    s"""WITH g AS (
      |  SELECT d.doc_id, 1 + d.doc_id % 13 AS h, i.range AS ix, j.range AS jy
      |  FROM documents d, range($OutW) i, range($OutH) j)
      |SELECT doc_id, $OutW AS out_w, $OutH AS out_h,
      |  ${channel(0)}, ${channel(1)}, ${channel(2)}
      |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --- spectral feature extraction (real DFT over real WAV decode) ----

  /** Tone-WAV samples per doc: one full-scale sine at EXACT DFT bin
    * k = 1 + doc_id mod 31 of an N=64-sample window (8 kHz mono u8).
    * Integer-bin tones make the spectrum provably concentrated: the
    * bin-k magnitude is ~N/2·amplitude while 8-bit quantization noise
    * spreads ≤ ~N/2 per bin, so the argmax is exact — which is what
    * lets the ORACLE be closed-form (peak bin = the generation formula)
    * instead of re-running a DFT in SQL. */
  val ToneN = 64
  val ToneRateHz = 8000

  def toneBin(docId: Long): Int = 1 + (docId % 31).toInt

  def toneWavFor(docId: Long): Array[Byte] = {
    val k = toneBin(docId)
    val samples = Array.tabulate(ToneN) { j =>
      (127 + math.round(100.0 *
        math.sin(2.0 * math.Pi * k * j / ToneN))).toInt.toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(ToneRateHz.toFloat, 8, 1, false, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(samples), fmt, ToneN.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Dominant non-DC DFT bin of unsigned-8-bit samples — the real
    * spectral computation (N ≤ a few hundred: the direct O(N²) DFT is
    * a few thousand fused multiply-adds per row, cheaper than FFT
    * bookkeeping at this window size; swap in radix-2 for long
    * windows). Ties break to the lower bin. */
  def dominantBin(samples: Array[Byte]): Int = {
    val n = samples.length
    var best = 1; var bestMag = -1.0
    var k = 1
    while (k <= n / 2) {
      var re = 0.0; var im = 0.0
      var j = 0
      while (j < n) {
        val v = (samples(j) & 0xff).toDouble
        val ang = -2.0 * math.Pi * k * j / n
        re += v * math.cos(ang); im += v * math.sin(ang)
        j += 1
      }
      val mag = re * re + im * im
      if (mag > bestMag) { bestMag = mag; best = k }
      k += 1
    }
    best
  }

  /** Per doc: synthesize the tone WAV, decode it back through the REAL
    * `javax.sound.sampled` codec, run the DFT, emit the detected peak.
    * Map-only scan (codec init amortized per partition); the closed-form
    * oracle hash-gates that codec + DFT recover every generated tone
    * bit-exactly. */
  def spectralPeaks(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(toneWavFor(id)))
        val samples = try in.readAllBytes() finally in.close()
        val bin = dominantBin(samples)
        (id, samples.length, bin, bin * ToneRateHz / ToneN)
      }
    }.toDF("doc_id", "n_samples", "peak_bin", "peak_hz")
  }

  def qMultimodalSpectral(spark: SparkSession, dir: String): DataFrame =
    spectralPeaks(Tables.documents(spark, dir)).orderBy("doc_id")

  /** Closed-form twin: the detected peak must BE the generated bin. */
  def oMultimodalSpectral: String =
    s"""SELECT doc_id, $ToneN AS n_samples,
      |  CAST(1 + doc_id % 31 AS INTEGER) AS peak_bin,
      |  CAST((1 + doc_id % 31) * ${ToneRateHz / ToneN} AS INTEGER) AS peak_hz
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- perceptual image hash (aHash over the real decode path) -------

  /** aHash grid (8×8 = 64 bits, emitted as two 32-bit halves so no
    * BIGINT ever carries bit 63). */
  val AhN = 8

  /** Average-hash of a decoded image: NN floor-resample to AhN×AhN,
    * integer grayscale ⌊(r+g+b)/3⌋ per cell, bit (y·AhN+x) set iff
    * 64·gray > Σgray (strict integer compare — no float mean anywhere).
    * Every step is integer arithmetic over losslessly-decoded pixels,
    * which is what lets the DuckDB twin recompute the hash in closed
    * form and what makes the hash identical for any two images whose
    * resampled grayscales agree — the near-dup invariance the spec pins
    * with noisy variants. */
  def ahashOf(img: java.awt.image.BufferedImage): (Long, Long, Int) = {
    val w = img.getWidth; val h = img.getHeight
    val r = img.getRaster
    val gray = new Array[Long](AhN * AhN)
    var total = 0L
    var j = 0
    while (j < AhN) {
      val sy = j * h / AhN
      var i = 0
      while (i < AhN) {
        val sx = i * w / AhN
        val g = (r.getSample(sx, sy, 0) + r.getSample(sx, sy, 1) +
          r.getSample(sx, sy, 2)) / 3
        gray(j * AhN + i) = g
        total += g
        i += 1
      }
      j += 1
    }
    var lo = 0L; var hi = 0L; var bits = 0
    var k = 0
    while (k < AhN * AhN) {
      if (gray(k) * (AhN * AhN).toLong > total) {
        bits += 1
        if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
      }
      k += 1
    }
    (lo, hi, bits)
  }

  /** Per doc: real PNG decode → aHash. Map-only scan; hashes land in a
    * fixed-width (doc_id, lo, hi, popcount) table — the image-dedup
    * index you'd band-join at corpus scale exactly like
    * [[graft.operators.Dedup.simhashCandidatesBlocked]] does for text. */
  def ahashes(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { iter =>
      javax.imageio.ImageIO.setUseCache(false)
      iter.map { id =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(pngFor(id)))
        val (lo, hi, bits) = ahashOf(img)
        (id, lo, hi, bits)
      }
    }.toDF("doc_id", "ahash_lo", "ahash_hi", "n_bits_set")
  }

  def qMultimodalAhash(spark: SparkSession, dir: String): DataFrame =
    ahashes(Tables.documents(spark, dir)).orderBy("doc_id")

  /** Max Hamming distance for image near-dup pairs. 4 disjoint 16-bit
    * bands are COMPLETE for Hamming ≤ 3 (pigeonhole: 3 flipped bits
    * can't touch all 4 bands), so the blocked candidate set provably
    * contains every qualifying pair and the O(n²) oracle twin is
    * result-equal. */
  val AhMaxHamming = 3

  /** Image near-dup pairs: the [[graft.operators.Dedup]] SimHash
    * machinery applied to the visual domain, with one extra move the
    * text side doesn't need — DISTINCT-HASH FACTORING. Dup-dense image
    * corpora collapse to few distinct hashes (this fixture: 468 among
    * 5,000 — the pixel formula cycles with doc_id mod lcm(256,13)), so
    * banding the raw doc table squares the group sizes into the
    * candidate join (measured 4.07 M candidate pairs at sf0.1, 2.7 s of
    * the query). Instead: Hamming-0 pairs come from a hash-VALUE
    * equi-join (group-local C(n,2), the true answer's own size); the
    * band join runs over the distinct hashes only (≤468 rows), verified
    * pairs expand back through two member joins. Candidate volume is
    * now governed by distinct-hash count, not corpus size — the shape
    * that survives a dup-heavy crawl. Payloads never join. */
  def ahashPairs(docs: DataFrame): DataFrame = {
    val h = ahashes(docs)
    Settle.using(h)(Settle.shared {
      val m = h.select(col("doc_id"), col("ahash_lo").as("lo"),
        col("ahash_hi").as("hi"))
      val within = m.as("a")
        .join(m.as("b"), col("a.lo") === col("b.lo") &&
          col("a.hi") === col("b.hi") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          lit(0).as("hamming"))
      val dh = m.select(col("lo"), col("hi")).distinct()
      val bands = dh.select(col("lo"), col("hi"),
        posexplode(array(
          col("lo").bitwiseAND(lit(0xFFFFL)),
          shiftright(col("lo"), 16).bitwiseAND(lit(0xFFFFL)),
          col("hi").bitwiseAND(lit(0xFFFFL)),
          shiftright(col("hi"), 16).bitwiseAND(lit(0xFFFFL))))
          .as(Seq("band", "bval")))
      // total order on distinct hashes so each unordered hash pair
      // appears exactly once (no distinct over expanded members needed)
      val hashPairs = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
            (col("a.lo") < col("b.lo") ||
              (col("a.lo") === col("b.lo") && col("a.hi") < col("b.hi"))))
        .select(col("a.lo").as("lo_a"), col("a.hi").as("hi_a"),
          col("b.lo").as("lo_b"), col("b.hi").as("hi_b"))
        .distinct()
        .withColumn("hamming",
          (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
            bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).cast("int"))
        .filter(col("hamming") <= AhMaxHamming)
      val cross = hashPairs
        .join(m.select(col("doc_id").as("da"), col("lo").as("lo_a"),
          col("hi").as("hi_a")), Seq("lo_a", "hi_a"))
        .join(m.select(col("doc_id").as("db"), col("lo").as("lo_b"),
          col("hi").as("hi_b")), Seq("lo_b", "hi_b"))
        .select(least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
      within.unionByName(cross)
    })
  }

  def qMultimodalAhashPairs(spark: SparkSession, dir: String): DataFrame =
    ahashPairs(Tables.documents(spark, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Duplicate-image group report — what survivor selection consumes at
    * dup densities where pair expansion is output-quadratic (SCALE.md's
    * 99.5%-duplicate probe measurement): one row per distinct hash with
    * the population and the min-id representative. One hash-keyed
    * partial-agg shuffle after the decode scan. */
  def ahashGroups(docs: DataFrame): DataFrame =
    ahashes(docs)
      .groupBy(col("ahash_lo"), col("ahash_hi"))
      .agg(count(lit(1)).as("n_members"),
        min(col("doc_id")).as("representative"))

  def qMultimodalDupGroups(spark: SparkSession, dir: String): DataFrame =
    ahashGroups(Tables.documents(spark, dir))
      .orderBy(col("representative"))

  def oMultimodalDupGroups: String =
    s"""WITH g AS (
      |  SELECT d.doc_id, j.range AS j, i.range AS i,
      |    ((d.doc_id + 0 + 31 * ((j.range * (1 + d.doc_id % 13) // $AhN) * 8
      |        + (i.range * 8 // $AhN))) % 256
      |     + (d.doc_id + 7 + 31 * ((j.range * (1 + d.doc_id % 13) // $AhN) * 8
      |        + (i.range * 8 // $AhN))) % 256
      |     + (d.doc_id + 14 + 31 * ((j.range * (1 + d.doc_id % 13) // $AhN) * 8
      |        + (i.range * 8 // $AhN))) % 256) // 3 AS gray
      |  FROM documents d, range($AhN) i, range($AhN) j),
      |t AS (SELECT doc_id, sum(gray) AS total FROM g GROUP BY doc_id),
      |b AS (
      |  SELECT g.doc_id, j * $AhN + i AS k,
      |    CASE WHEN gray * ${AhN * AhN} > total THEN 1 ELSE 0 END AS bit
      |  FROM g JOIN t USING (doc_id)),
      |h AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << CAST(k AS INTEGER))
      |             ELSE 0 END) AS BIGINT) AS ahash_lo,
      |    CAST(sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << CAST(k - 32 AS INTEGER))
      |             ELSE 0 END) AS BIGINT) AS ahash_hi
      |  FROM b GROUP BY doc_id)
      |SELECT ahash_lo, ahash_hi, CAST(count(*) AS BIGINT) AS n_members,
      |       CAST(min(doc_id) AS BIGINT) AS representative
      |FROM h GROUP BY ahash_lo, ahash_hi
      |ORDER BY representative""".stripMargin

  /** O(n²) twin over the closed-form hashes — result-equal because the
    * banding is complete for the Hamming bound. */
  def oMultimodalAhashPairs: String =
    s"""WITH g AS (
      |  SELECT d.doc_id, j.range AS j, i.range AS i,
      |    ((d.doc_id + 0 + 31 * ((j.range * (1 + d.doc_id % 13) // $AhN) * 8
      |        + (i.range * 8 // $AhN))) % 256
      |     + (d.doc_id + 7 + 31 * ((j.range * (1 + d.doc_id % 13) // $AhN) * 8
      |        + (i.range * 8 // $AhN))) % 256
      |     + (d.doc_id + 14 + 31 * ((j.range * (1 + d.doc_id % 13) // $AhN) * 8
      |        + (i.range * 8 // $AhN))) % 256) // 3 AS gray
      |  FROM documents d, range($AhN) i, range($AhN) j),
      |t AS (SELECT doc_id, sum(gray) AS total FROM g GROUP BY doc_id),
      |b AS (
      |  SELECT g.doc_id, j * $AhN + i AS k,
      |    CASE WHEN gray * ${AhN * AhN} > total THEN 1 ELSE 0 END AS bit
      |  FROM g JOIN t USING (doc_id)),
      |h AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << CAST(k AS INTEGER))
      |             ELSE 0 END) AS BIGINT) AS lo,
      |    CAST(sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << CAST(k - 32 AS INTEGER))
      |             ELSE 0 END) AS BIGINT) AS hi
      |  FROM b GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.lo, c.lo)) + bit_count(xor(a.hi, c.hi)) AS INTEGER)
      |    AS hamming
      |FROM h a JOIN h c ON a.doc_id < c.doc_id
      |WHERE bit_count(xor(a.lo, c.lo)) + bit_count(xor(a.hi, c.hi)) <= $AhMaxHamming
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Closed-form twin: pixel formula ∘ floor sampling ∘ integer
    * grayscale ∘ strict-mean threshold, re-run in SQL. */
  def oMultimodalAhash: String =
    s"""WITH g AS (
      |  SELECT d.doc_id, j.range AS j, i.range AS i,
      |    ((d.doc_id + 0 + 31 * ((j.range * (1 + d.doc_id % 13) // $AhN) * 8
      |        + (i.range * 8 // $AhN))) % 256
      |     + (d.doc_id + 7 + 31 * ((j.range * (1 + d.doc_id % 13) // $AhN) * 8
      |        + (i.range * 8 // $AhN))) % 256
      |     + (d.doc_id + 14 + 31 * ((j.range * (1 + d.doc_id % 13) // $AhN) * 8
      |        + (i.range * 8 // $AhN))) % 256) // 3 AS gray
      |  FROM documents d, range($AhN) i, range($AhN) j),
      |t AS (SELECT doc_id, sum(gray) AS total FROM g GROUP BY doc_id),
      |b AS (
      |  SELECT g.doc_id, j * $AhN + i AS k,
      |    CASE WHEN gray * ${AhN * AhN} > total THEN 1 ELSE 0 END AS bit
      |  FROM g JOIN t USING (doc_id))
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << CAST(k AS INTEGER))
      |           ELSE 0 END) AS BIGINT) AS ahash_lo,
      |  CAST(sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << CAST(k - 32 AS INTEGER))
      |           ELSE 0 END) AS BIGINT) AS ahash_hi,
      |  CAST(sum(bit) AS INTEGER) AS n_bits_set
      |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
