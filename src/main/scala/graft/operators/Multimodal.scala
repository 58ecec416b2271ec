package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines (builder-prompt north star).
  *
  * Media are opaque `binary` columns plus a typed metadata struct —
  * the schema a 100 TB multimodal dataset would carry in parquet:
  *   media: binary, meta: {kind, width, height, sample_rate, n_frames}
  *
  * Decoding goes through the pluggable `MediaCodec` interface; the
  * default `StubCodec` is a clearly-marked deterministic STUB (no
  * codec libraries in this environment). Everything around it —
  * schema, partition-parallel batch processing via mapPartitions (the
  * Scala analog of pandas-batch UDFs), feature output shape, parquet
  * round-trip of the binary column — is real and tested. Plug a
  * JavaCV / TwelveMonkeys-backed MediaCodec in production; the
  * pipeline shape does not change.
  *
  * Scale notes: decode/feature-extract are per-partition map work with
  * no shuffle; partitions stream batches through the worker, so memory
  * is bounded by batch size, not partition size. Feature vectors go to
  * a fixed-width Array[Float] column ready for the VectorQueries ANN
  * path.
  */
object Multimodal {

  case class MediaMeta(kind: String, width: Int, height: Int,
                       sample_rate: Int, n_frames: Int)
  case class MediaRow(media_id: Long, media: Array[Byte], meta: MediaMeta)
  case class DecodedFrame(media_id: Long, frame_idx: Int, pixels: Array[Float])
  case class MediaFeature(media_id: Long, kind: String, feature: Array[Float])

  /** Build a deterministic synthetic media table from the documents
    * table (bytes = text bytes; metadata derived from doc fields) —
    * stands in for a parquet scan of a multimodal table. */
  def syntheticMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir).select(
        col("doc_id").as("media_id"),
        col("text").cast("binary").as("media"),
        struct(
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video").as("kind"),
          (col("n_chars") % 64 + 16).cast("int").as("width"),
          (col("n_chars") % 48 + 16).cast("int").as("height"),
          lit(16000).as("sample_rate"),
          (col("n_chars") % 10 + 1).cast("int").as("n_frames"))
          .as("meta"))
      .as[MediaRow]
  }

  /** Pluggable decode interface: one blob → w*h pixel/sample floats.
    * Implementations must be Serializable (shipped to executors); any
    * per-codec native state should be lazily initialized so it is
    * created once per executor, not serialized. */
  trait MediaCodec extends Serializable {
    def decode(bytes: Array[Byte], meta: MediaMeta): Array[Float]
  }

  /** STUB codec: a real implementation would invoke an image/audio
    * codec (JavaCV, TwelveMonkeys, …) — none exist in this offline
    * environment. This deterministic fake derives `w*h` "pixels" from
    * the byte content so downstream shapes and tests are real. */
  object StubCodec extends MediaCodec {
    override def decode(bytes: Array[Byte], meta: MediaMeta): Array[Float] = {
      val out = new Array[Float](meta.width * meta.height)
      var i = 0
      while (i < out.length) {
        out(i) = ((bytes(i % bytes.length) & 0xff) * (i / 7 + 1) % 256) / 255.0f
        i += 1
      }
      out
    }
  }

  /** Shared netpbm binary-container machinery (P5 grayscale / P6
    * color) — genuine image formats with a pure-JVM codec, so the
    * decode step of the multimodal path is REAL for these formats
    * (StubCodec remains the labeled stand-in for formats that need
    * native libraries). The parser handles the full header grammar:
    * magic, `#` comments anywhere between tokens, arbitrary
    * whitespace, maxval ≤ 255. */
  private def encodeNetpbm(magic: String, channels: Int,
                           pixels: Array[Int], w: Int, h: Int): Array[Byte] = {
    require(pixels.length == channels.toLong * w * h,
      s"${pixels.length} values for ${w}x$h x$channels")
    val header = s"$magic\n# graft synthetic media\n$w $h\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = 0
    while (i < pixels.length) {
      out(header.length + i) = pixels(i).toByte
      i += 1
    }
    out
  }

  /** Parse → (width, height, raw channel-interleaved ints 0..maxval). */
  private def decodeNetpbm(magic: String, channels: Int,
                           bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    var pos = 0
    def skipToToken(): Unit = {
      var in = true
      while (in && pos < bytes.length) {
        val c = bytes(pos).toChar
        if (c == '#') { while (pos < bytes.length && bytes(pos) != '\n') pos += 1 }
        else if (c.isWhitespace) pos += 1
        else in = false
      }
    }
    def token(): String = {
      skipToToken()
      val start = pos
      while (pos < bytes.length && !bytes(pos).toChar.isWhitespace) pos += 1
      new String(bytes, start, pos - start,
        java.nio.charset.StandardCharsets.US_ASCII)
    }
    val m = token()
    require(m == magic, s"not a binary $magic netpbm (magic '$m')")
    val (w, h, maxval) = (token().toInt, token().toInt, token().toInt)
    require(maxval > 0 && maxval <= 255, s"unsupported maxval $maxval")
    pos += 1 // exactly ONE whitespace byte separates header and payload
    require(bytes.length - pos == channels.toLong * w * h,
      s"payload ${bytes.length - pos} bytes for ${w}x$h x$channels")
    val px = new Array[Int](channels * w * h)
    var i = 0
    while (i < px.length) { px(i) = bytes(pos + i) & 0xff; i += 1 }
    (w, h, px)
  }

  /** netpbm P5 — binary grayscale, one byte per pixel. */
  object Pgm {
    def encode(pixels: Array[Int], w: Int, h: Int): Array[Byte] =
      encodeNetpbm("P5", 1, pixels, w, h)
    /** Parse → (width, height, raw pixel ints 0..maxval). */
    def decodeRaw(bytes: Array[Byte]): (Int, Int, Array[Int]) =
      decodeNetpbm("P5", 1, bytes)
  }

  /** netpbm P6 — binary color, three RGB-interleaved bytes per pixel
    * (the 3-channel sibling; same header grammar, same pure-JVM
    * parse). */
  object Ppm {
    def encode(rgb: Array[Int], w: Int, h: Int): Array[Byte] =
      encodeNetpbm("P6", 3, rgb, w, h)
    /** Parse → (width, height, RGB-interleaved ints 0..maxval). */
    def decodeRaw(bytes: Array[Byte]): (Int, Int, Array[Int]) =
      decodeNetpbm("P6", 3, bytes)
  }

  /** WAV/RIFF PCM — the audio sibling of the netpbm codecs: a genuine
    * container format with a pure-JVM codec, so the AUDIO leg of the
    * multimodal path is real too. The writer emits the full RIFF
    * grammar (RIFF/WAVE wrapper, `fmt ` PCM chunk, a LIST chunk of
    * ODD size between fmt and data — real parsers must skip unknown
    * chunks AND honor RIFF's word alignment — then the `data` chunk
    * of 16-bit signed little-endian samples); the reader walks chunks
    * by the grammar, never by fixed offsets. */
  object Wav {
    private def le16(out: Array[Byte], pos: Int, v: Int): Unit = {
      out(pos) = (v & 0xff).toByte; out(pos + 1) = ((v >> 8) & 0xff).toByte
    }
    private def le32(out: Array[Byte], pos: Int, v: Int): Unit = {
      le16(out, pos, v & 0xffff); le16(out, pos + 2, (v >>> 16) & 0xffff)
    }
    private def cc(out: Array[Byte], pos: Int, s: String): Unit =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        .copyToArray(out, pos)

    /** Mono 16-bit PCM; samples in [-32768, 32767]. */
    def encode(samples: Array[Int], sampleRate: Int): Array[Byte] = {
      val junk = Array[Byte]('I', 'N', 'F', 'O', 'x') // 5 bytes: ODD
      val junkPadded = junk.length + (junk.length & 1)
      val dataBytes = 2 * samples.length
      val riffSize = 4 + (8 + 16) + (8 + junkPadded) + (8 + dataBytes)
      val out = new Array[Byte](8 + riffSize)
      var p = 0
      cc(out, p, "RIFF"); le32(out, p + 4, riffSize); p += 8
      cc(out, p, "WAVE"); p += 4
      cc(out, p, "fmt "); le32(out, p + 4, 16); p += 8
      le16(out, p, 1); le16(out, p + 2, 1) // PCM, mono
      le32(out, p + 4, sampleRate)
      le32(out, p + 8, sampleRate * 2) // byte rate
      le16(out, p + 12, 2); le16(out, p + 14, 16) // block align, bits
      p += 16
      cc(out, p, "LIST"); le32(out, p + 4, junk.length); p += 8
      junk.copyToArray(out, p); p += junkPadded // pad byte stays 0
      cc(out, p, "data"); le32(out, p + 4, dataBytes); p += 8
      samples.foreach { s => le16(out, p, s & 0xffff); p += 2 }
      out
    }

    /** Parse → (sampleRate, signed samples). Walks the chunk grammar;
      * unknown chunks are skipped with word alignment. */
    def decodeRaw(bytes: Array[Byte]): (Int, Array[Int]) = {
      def u16(p: Int): Int = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
      def u32(p: Int): Int = u16(p) | (u16(p + 2) << 16)
      def cc4(p: Int): String = new String(bytes, p, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      require(cc4(0) == "RIFF" && cc4(8) == "WAVE",
        s"not a RIFF/WAVE container (${cc4(0)}/${cc4(8)})")
      var p = 12
      var rate = -1
      var samples: Array[Int] = null
      while (p + 8 <= bytes.length && (rate < 0 || samples == null)) {
        val id = cc4(p); val size = u32(p + 4); p += 8
        id match {
          case "fmt " =>
            require(u16(p) == 1 && u16(p + 2) == 1 && u16(p + 14) == 16,
              "only mono 16-bit PCM supported")
            rate = u32(p + 4)
          case "data" =>
            require(size % 2 == 0, s"odd data size $size")
            samples = Array.tabulate(size / 2)(i => u16(p + 2 * i).toShort.toInt)
          case _ => () // unknown chunk: skip
        }
        p += size + (size & 1) // RIFF chunks are word-aligned
      }
      require(rate > 0, "missing fmt chunk")
      require(samples != null, "missing data chunk")
      (rate, samples)
    }
  }

  /** REAL codec for PGM blobs: parses the container, normalizes to
    * [0,1] floats. Dimensions come from the parsed header, not the
    * metadata — a corrupt blob fails loudly instead of shearing. */
  object PgmCodec extends MediaCodec {
    override def decode(bytes: Array[Byte], meta: MediaMeta): Array[Float] = {
      val (_, _, px) = Pgm.decodeRaw(bytes)
      px.map(_ / 255.0f)
    }
  }

  /** REAL codec for PPM blobs: 3 floats per pixel, RGB-interleaved. */
  object PpmCodec extends MediaCodec {
    override def decode(bytes: Array[Byte], meta: MediaMeta): Array[Float] = {
      val (_, _, px) = Ppm.decodeRaw(bytes)
      px.map(_ / 255.0f)
    }
  }

  /** Decode + frame-sample: one row per sampled frame, partition-
    * parallel, no shuffle. `stride` picks every k-th frame. */
  def decodeFrames(media: Dataset[MediaRow], stride: Int,
                   codec: MediaCodec = StubCodec): Dataset[DecodedFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        (0 until r.meta.n_frames by stride).map { f =>
          DecodedFrame(r.media_id, f, codec.decode(r.media, r.meta))
        }
      }
    }
  }

  /** "Resize": downsample the decoded pixel grid to tw×th (nearest
    * neighbor — real math over the stubbed pixels). */
  def resize(frames: Dataset[DecodedFrame], w: Int, h: Int,
             tw: Int, th: Int): Dataset[DecodedFrame] = {
    import frames.sparkSession.implicits._
    frames.map { f =>
      val out = new Array[Float](tw * th)
      var y = 0
      while (y < th) {
        var x = 0
        while (x < tw) {
          out(y * tw + x) = f.pixels((y * h / th) * w + (x * w / tw))
          x += 1
        }
        y += 1
      }
      f.copy(pixels = out)
    }
  }

  /** Feature extraction: fixed-width embedding per media item (mean-
    * pooled frame features here; a real model would run per batch). */
  def extractFeatures(media: Dataset[MediaRow], dim: Int,
                      codec: MediaCodec = StubCodec): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val px = codec.decode(r.media, r.meta)
        val feat = new Array[Float](dim)
        var i = 0
        while (i < px.length) { feat(i % dim) += px(i); i += 1 }
        var j = 0
        while (j < dim) { feat(j) /= (px.length / dim + 1); j += 1 }
        MediaFeature(r.media_id, r.meta.kind, feat)
      }
    }
  }

  /** DataFrame view with media stats — the catalog-facing projection. */
  def mediaStats(spark: SparkSession, dir: String): DataFrame =
    syntheticMedia(spark, dir).toDF()
      .select(col("media_id"), col("meta.kind").as("kind"),
        length(col("media")).as("n_bytes"),
        (col("meta.width") * col("meta.height")).as("n_px"),
        col("meta.n_frames").as("n_frames"))
      .orderBy(col("media_id"))
}
