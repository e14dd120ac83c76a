package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: images/audio/video ride through the engine
  * as opaque `binary` payloads with a typed metadata struct; decode /
  * feature-extraction runs partition-local over the Dataset API.
  *
  * Decode tiers:
  *   - [[sniff]]: REAL container-header parsing (png/jpeg/gif/bmp/wav)
  *     — the prune/route/validate pass before any pixel work.
  *   - [[decodeImage]]/[[decodeAudio]]/[[resizeNearest]]: REAL pixel
  *     and sample decode for FIVE formats — 24-bit BMP and 8-bit PNG
  *     through hand-rolled exact parsers (zlib inflate + PNG filter
  *     reconstruction via java.util.zip), PCM16 WAV, and JPEG/GIF
  *     through the JDK's own ImageIO codecs ([[decodeViaImageIO]],
  *     java.desktop — present in the bare JDK, headless-safe) — plus a
  *     real nearest-neighbor resize. BMP/PNG/GIF are oracle-checked
  *     pixel-exactly against planted files (GIF's LZW round-trips
  *     losslessly); JPEG is codec-defined (IDCT rounding) and
  *     contract-checked.
  *   - `decodeStub`: VIDEO only (no JVM-native codec exists and this
  *     container ships no FFmpeg/JNI) — derives deterministic fake
  *     features; the schema contract, mapPartitions batching and
  *     no-shuffle execution around the stub are the real shape a
  *     codec drop-in plugs into. [[mp4Meta]] covers the metadata tier.
  *
  * Scale notes: decode is the classic CPU-heavy map stage — partition-
  * local (no shuffle), pipelineable after a pushed-down metadata filter
  * (e.g. `format = 'jpeg' AND nbytes < 10MB` prunes before any decode).
  * Frame sampling emits rows, not arrays, so downstream repartitioning
  * can spread frame work independently of source-file boundaries.
  *
  * PySpark equivalence: `decodeStub` is the Scala twin of a
  * `mapInPandas` decode — the `Iterator[MediaRecord] =>
  * Iterator[DecodedMedia]` shape maps 1:1 to mapInPandas's
  * iterator-of-batches contract (schema declared up front, batch-local
  * codec reuse, no shuffle). A Python pipeline would register the same
  * schemas and swap `fakeDecode` for PIL/ffmpeg per batch; nothing else
  * in the plumbing changes.
  */
object Multimodal {

  /** One media record: id + opaque payload + declared metadata. */
  final case class MediaRecord(media_id: Long, payload: Array[Byte],
                               format: String, declared_bytes: Long)

  /** Decoded features (stub): what a real image decode would return —
    * dimensions, channels, a small feature vector. */
  final case class DecodedMedia(media_id: Long, width: Int, height: Int,
                                channels: Int, nbytes: Long,
                                checksum: Long, features: Array[Float])

  /** Wrap a text corpus as a media table: payload = UTF-8 bytes. Stands in
    * for reading real binary files (`spark.read.format("binaryFile")`). */
  def asMediaTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      lit("utf8-text").as("format"),
      octet_length(col(textCol)).cast("long").as("declared_bytes"))

  /** ===== STUB ===== deterministic fake decode: derives "image"
    * properties from the payload bytes. A real implementation calls the
    * codec here; the signature and batching are the real contract. */
  private def fakeDecode(r: MediaRecord): DecodedMedia = {
    val n = r.payload.length.toLong
    // rolling polynomial checksum (base 31) — deterministic, order-sensitive
    val checksum = r.payload.foldLeft(0L)((acc, b) => acc * 31 + (b & 0xff))
    val width = (n % 640).toInt + 1
    val height = (checksum.abs % 480).toInt + 1
    val features = Array.tabulate(8)(i =>
      ((checksum >>> (i * 8)) & 0xff).toFloat / 255f)
    DecodedMedia(r.media_id, width, height, 3, n, checksum, features)
  }

  /** Partition-local decode: one pass, no shuffle; iterator-in/iterator-
    * out so a real decoder can batch or reuse native buffers. */
  def decodeStub(media: DataFrame): Dataset[DecodedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.map(fakeDecode))
  }

  /** Frame sampling for "video" payloads: every `stride`-th byte window
    * becomes a frame row (media_id, frame_idx, frame_bytes). Pure
    * DataFrame explode — at scale this is the row-multiplying stage you
    * repartition after. */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    media.select(col("media_id"),
        posexplode(split_part_windows(col("payload"), frameBytes, stride)))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame_bytes")

  /** Byte windows [i*stride, i*stride+frameBytes) as an array of binary. */
  private def split_part_windows(payload: org.apache.spark.sql.Column,
                                 frameBytes: Int, stride: Int) = {
    val n = octet_length(payload)
    val frames = greatest(ceil((n - frameBytes + 1).cast("double") / stride).cast("int"), lit(0))
    when(frames >= 1,
      transform(sequence(lit(0), frames - 1),
        i => payload.substr((i * stride + 1).cast("int"), lit(frameBytes))))
      .otherwise(array().cast("array<binary>"))
  }

  // ===================================================================
  // REAL container-header metadata (not stubbed): magic-byte sniffing
  // and dimension/rate parsing straight off the payload bytes — what a
  // pipeline runs BEFORE any codec to prune, validate and route
  // ("jpeg under 10 MB with sane dims"). Pure JVM byte inspection; the
  // REAL pixel/sample decode for bmp/png/wav/jpeg/gif lives further
  // down ([[decodeImage]]/[[decodeAudio]]); only VIDEO decode is a stub.
  // ===================================================================

  /** Parsed header: format ∈ png/jpeg/gif/bmp/wav/unknown; width/height
    * for images, channels/sample_rate for wav; nulls where not
    * applicable or the header is malformed (then format = unknown). */
  def sniff(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sniffUdf(payload).cast(
      "struct<format:string,width:int,height:int,channels:int,sample_rate:int>")

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  private type Sniffed =
    (String, Option[Int], Option[Int], Option[Int], Option[Int])

  private[graft] def sniffBytes(b: Array[Byte]): Sniffed = {
    val unknown: Sniffed = ("unknown", None, None, None, None)
    if (b == null || b.length < 12) unknown
    else if (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        b.length >= 24)
      ("png", Some(be32(b, 16)), Some(be32(b, 20)), None, None)
    else if (b(0) == 0xff.toByte && b(1) == 0xd8.toByte) {
      // walk JPEG segments to the first SOF marker (C0-CF minus C4/C8/CC)
      var pos = 2
      var out = unknown
      var done = false
      while (!done && pos + 4 <= b.length) {
        if (b(pos) != 0xff.toByte) { done = true }
        else {
          val m = b(pos + 1) & 0xff
          if (m == 0xff) pos += 1 // padding
          else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 &&
              m != 0xcc) {
            if (pos + 9 <= b.length)
              out = ("jpeg", Some(be16(b, pos + 7)), Some(be16(b, pos + 5)),
                None, None)
            done = true
          } else if (m == 0xd9) done = true // EOI: no SOF before end-of-image
          else if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01)
            pos += 2 // standalone markers (SOI, RSTn, TEM): no length word
          else pos += 2 + be16(b, pos + 2)
        }
      }
      out
    }
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      ("gif", Some(le16(b, 6)), Some(le16(b, 8)), None, None)
    else if (b(0) == 'B' && b(1) == 'M' && b.length >= 26)
      ("bmp", Some(le32(b, 18)), Some(math.abs(le32(b, 22))), None, None)
    else if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E' &&
        b.length >= 28)
      ("wav", None, None, Some(le16(b, 22)), Some(le32(b, 24)))
    else unknown
  }

  private val sniffUdf = udf { (b: Array[Byte]) => sniffBytes(b) }

  /** Minimal VALID PNG header bytes (signature + IHDR) for the given
    * dimensions — the test/builder twin of [[sniff]]; a real file would
    * append pixel chunks after it. */
  def pngHeader(width: Int, height: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(33)
    out.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    out.putInt(13) // IHDR length
    out.put("IHDR".getBytes("US-ASCII"))
    out.putInt(width).putInt(height)
    out.put(8.toByte).put(6.toByte) // bit depth, RGBA
    out.put(0.toByte).put(0.toByte).put(0.toByte) // compr/filter/interlace
    out.putInt(0) // CRC placeholder (sniff does not verify CRCs)
    out.array()
  }

  // ===================================================================
  // REAL pixel/sample decode — no external codec libraries:
  //   BMP  : 24-bit uncompressed BI_RGB (padded rows, bottom-up or
  //          top-down), emitted as row-major top-down RGB (hand-rolled,
  //          bit-exact).
  //   PNG  : 8-bit gray/RGB/RGBA, non-interlaced — real zlib inflate
  //          (java.util.zip) + per-row filter reconstruction
  //          (None/Sub/Up/Average/Paeth per the PNG spec; hand-rolled,
  //          bit-exact).
  //   WAV  : PCM 16-bit little-endian, any channel count (hand-rolled).
  //   JPEG / GIF : the JDK's OWN ImageIO codecs (java.desktop,
  //          headless-safe) via [[decodeViaImageIO]] — GIF losslessly
  //          (exact pixel oracle), JPEG codec-defined (contract-checked).
  // Only VIDEO pixel decode remains stubbed ([[decodeStub]]); its
  // metadata tier is [[mp4Meta]] and [[sniff]] routes/prunes/validates.
  // ===================================================================

  /** A fully-decoded image: `pixels` row-major, top-down, channel-
    * interleaved (RGB order for color), one byte per channel. */
  final case class DecodedImage(media_id: Long, format: String, width: Int,
                                height: Int, channels: Int,
                                pixels: Array[Byte])

  /** Fully-decoded PCM audio: interleaved signed 16-bit samples;
    * `n_samples` counts frames × channels (array length). */
  final case class DecodedAudio(media_id: Long, channels: Int,
                                sample_rate: Int, n_samples: Int,
                                samples: Array[Short])

  /** Decode one BMP payload (24-bit uncompressed BI_RGB). Handles row
    * padding to 4-byte boundaries, bottom-up AND top-down (negative
    * height) layouts, and the file's BGR byte order → RGB output.
    * None on anything else (other depths/compressions, truncation). */
  private[graft] def decodeBmpBytes(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (b == null || b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val pixOff = le32(b, 10)
    val w = le32(b, 18)
    val hRaw = le32(b, 22)
    val bottomUp = hRaw > 0
    val h = math.abs(hRaw)
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    if (bpp != 24 || compression != 0 || w <= 0 || h == 0) return None
    val rowSize = (w * 3 + 3) & ~3
    if (pixOff < 0 || pixOff.toLong + rowSize.toLong * h > b.length) return None
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val fileRow = if (bottomUp) h - 1 - y else y
      val src = pixOff + fileRow * rowSize
      var x = 0
      while (x < w) {
        val s = src + x * 3
        val d = (y * w + x) * 3
        out(d) = b(s + 2)     // R (file stores BGR)
        out(d + 1) = b(s + 1) // G
        out(d + 2) = b(s)     // B
        x += 1
      }
      y += 1
    }
    Some((w, h, out))
  }

  private def paeth(a: Int, bb: Int, c: Int): Int = {
    val p = a + bb - c
    val pa = math.abs(p - a); val pb = math.abs(p - bb); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) bb else c
  }

  /** Decode one PNG payload: 8-bit depth, color type 0 (gray) / 2 (RGB)
    * / 6 (RGBA), non-interlaced. Concatenates IDAT chunks, inflates the
    * zlib stream, and reconstructs each row from its filter byte. None
    * on other depths/types, interlacing, or malformed/truncated data. */
  private[graft] def decodePngBytes(b: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    if (b == null || b.length < 45) return None
    if (!(b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'))
      return None
    var pos = 8
    var w = 0; var h = 0; var channels = 0
    val idat = new java.io.ByteArrayOutputStream()
    var sawEnd = false
    while (!sawEnd && pos + 8 <= b.length) {
      val len = be32(b, pos)
      if (len < 0 || pos + 12L + len > b.length) return None
      val ty = new String(b, pos + 4, 4, "US-ASCII")
      ty match {
        case "IHDR" =>
          if (len != 13) return None
          w = be32(b, pos + 8); h = be32(b, pos + 12)
          val depth = b(pos + 16) & 0xff
          val colorType = b(pos + 17) & 0xff
          val interlace = b(pos + 20) & 0xff
          if (depth != 8 || interlace != 0) return None
          channels = colorType match {
            case 0 => 1; case 2 => 3; case 6 => 4; case _ => return None
          }
          if (w <= 0 || h <= 0) return None
        case "IDAT" => idat.write(b, pos + 8, len)
        case "IEND" => sawEnd = true
        case _ => () // ancillary chunks skipped
      }
      pos += 12 + len
    }
    if (w == 0 || idat.size() == 0) return None
    val stride = w * channels
    val raw = new Array[Byte]((stride + 1) * h)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && inf.needsInput()) return None // truncated stream
        off += n
      }
      if (off < raw.length) return None
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    val out = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val ft = raw(y * (stride + 1)) & 0xff
      val rs = y * (stride + 1) + 1
      val ds = y * stride
      var i = 0
      while (i < stride) {
        val x = raw(rs + i) & 0xff
        val a = if (i >= channels) out(ds + i - channels) & 0xff else 0
        val up = if (y > 0) out(ds - stride + i) & 0xff else 0
        val ul = if (y > 0 && i >= channels) out(ds - stride + i - channels) & 0xff else 0
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + up
          case 3 => x + (a + up) / 2
          case 4 => x + paeth(a, up, ul)
          case _ => return None
        }
        out(ds + i) = (v & 0xff).toByte
        i += 1
      }
      y += 1
    }
    Some((w, h, channels, out))
  }

  /** Decode one WAV payload: PCM (format 1), 16-bit samples. Walks the
    * RIFF chunk list (word-aligned) to fmt + data. None otherwise. */
  private[graft] def decodeWavBytes(b: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    if (b == null || b.length < 44) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    var pos = 12
    var channels = 0; var rate = 0; var ok = false
    var samples: Array[Short] = null
    while (pos + 8 <= b.length && (samples == null || !ok)) {
      val id = new String(b, pos, 4, "US-ASCII")
      val len = le32(b, pos + 4)
      if (len < 0 || pos + 8L + len > b.length) return None
      id match {
        case "fmt " =>
          if (len < 16) return None
          val fmt = le16(b, pos + 8)
          channels = le16(b, pos + 10)
          rate = le32(b, pos + 12)
          val bits = le16(b, pos + 22)
          if (fmt != 1 || bits != 16 || channels <= 0) return None
          ok = true
        case "data" =>
          val n = len / 2
          samples = new Array[Short](n)
          var i = 0
          while (i < n) {
            samples(i) = ((b(pos + 8 + 2 * i) & 0xff) |
              (b(pos + 9 + 2 * i) << 8)).toShort
            i += 1
          }
        case _ => ()
      }
      pos += 8 + len + (len & 1) // RIFF chunks are word-aligned
    }
    if (ok && samples != null) Some((channels, rate, samples)) else None
  }

  /** Decode an entropy-coded image (JPEG/GIF/TIFF) through the JDK's
    * OWN codec stack (javax.imageio, java.desktop module — present in
    * the bare JDK, headless-safe for file decode). Output is always
    * 3-channel sRGB via getRGB: consistent downstream schema, alpha
    * dropped. GIF round-trips losslessly (LZW over a palette), so it
    * gets an EXACT pixel oracle; JPEG pixel values are codec-defined
    * (IDCT/quantization rounding) and are contract-checked instead.
    * None for bytes no installed reader accepts. */
  private[graft] def decodeViaImageIO(fmt: String, b: Array[Byte])
      : Option[(Int, Int, Array[Byte])] =
    try {
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b)))
        .map { img =>
          val w = img.getWidth
          val h = img.getHeight
          val px = new Array[Byte]((w * h * 3).toInt)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val o = (y * w + x) * 3
              px(o) = ((rgb >> 16) & 0xff).toByte
              px(o + 1) = ((rgb >> 8) & 0xff).toByte
              px(o + 2) = (rgb & 0xff).toByte
              x += 1
            }
            y += 1
          }
          (w, h, px)
        }
    } catch { case _: Exception => None }

  /** Partition-local REAL image decode: sniff routes each payload to
    * the matching parser — BMP/PNG through the hand-rolled exact
    * parsers (SQL-oracle-checked bit for bit), JPEG/GIF through the
    * JDK's ImageIO codecs ([[decodeViaImageIO]]). Malformed payloads
    * are dropped. Same shape as [[decodeStub]]: one pass, no shuffle,
    * iterator-in/iterator-out. */
  def decodeImage(media: DataFrame): Dataset[DecodedImage] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        sniffBytes(payload)._1 match {
          case "bmp" => decodeBmpBytes(payload).map { case (w, h, px) =>
            DecodedImage(id, "bmp", w, h, 3, px) }
          case "png" => decodePngBytes(payload).map { case (w, h, c, px) =>
            DecodedImage(id, "png", w, h, c, px) }
          case f @ ("jpeg" | "gif") =>
            decodeViaImageIO(f, payload).map { case (w, h, px) =>
              DecodedImage(id, f, w, h, 3, px) }
          case _ => None
        }
      })
  }

  /** Per-image QUALITY statistics over decoded pixels — the filter
    * signals an image-corpus curation pass gates on (blank/near-blank
    * screenshots, all-dark frames, blown-out scans) computed in one
    * partition-local pass per image, all on exact integer rails:
    * brightness = mean pixel in milli-units (sum·1000 div n), contrast
    * = population variance in milli-units² ((n·Σv² − (Σv)²)·1000 div
    * n²... spelled as one integer expression), min/max, and Shannon
    * entropy of the 256-bin value histogram in micro-bits (the
    * text_entropy rail — per-bin rounded terms, order-free sum).
    * `is_flat` = contrast below ~2 gray-levels² — the blank-image
    * gate. Payload bytes never shuffle; the output is a ~7-column
    * row per image. */
  final case class ImageQuality(media_id: Long, format: String,
                                n_px: Long, brightness_milli: Long,
                                contrast_milli: Long, px_min: Int,
                                px_max: Int, entropy_micro: Long,
                                is_flat: Boolean)

  def imageQuality(decoded: Dataset[DecodedImage],
                   flatContrastMilli: Long = 4000L): Dataset[ImageQuality] = {
    val spark = decoded.sparkSession
    import spark.implicits._
    decoded.map { d =>
      val px = d.pixels
      val n = px.length.toLong
      var s = 0L; var q = 0L
      var mn = 255; var mx = 0
      val hist = new Array[Long](256)
      var i = 0
      while (i < px.length) {
        val v = px(i) & 0xff
        s += v; q += v.toLong * v
        if (v < mn) mn = v
        if (v > mx) mx = v
        hist(v) += 1
        i += 1
      }
      // population variance in milli-units²: (n·q − s²)·1000 div n²
      // — exact while n·q < 2⁶³ (n ≲ 1.4e14 pixel-bytes per image)
      val contrast: Long =
        if (n == 0) 0L
        else ((BigInt(n) * q - BigInt(s) * s) * 1000 / (BigInt(n) * n)).toLong
      var ent = 0L
      var b = 0
      while (b < 256) {
        if (hist(b) > 0) {
          val p = hist(b).toDouble / n
          ent += Math.round(-(p * Math.log(p) / Math.log(2.0)) * 1e6)
        }
        b += 1
      }
      ImageQuality(d.media_id, d.format, n,
        if (n == 0) 0L else s * 1000L / n,
        contrast, if (n == 0) 0 else mn, mx, ent,
        contrast < flatContrastMilli)
    }
  }

  /** MP4 (ISO-BMFF) container metadata, parsed without any codec —
    * the honest "video tier": a 100 TB multimodal pipeline routes,
    * prunes, and shards video by CONTAINER metadata (duration, track
    * dims, track count) long before any frame is decoded. Walks the
    * box tree (size32/type, size==1 → 64-bit largesize): `mvhd` gives
    * timescale+duration (version 0 AND 1 layouts), each `trak/tkhd`
    * gives 16.16-fixed width/height. Returns None unless an `ftyp`
    * leads and a `moov/mvhd` is present. Pure byte inspection —
    * exactly SQL-replayable from planted parameters. */
  final case class Mp4Meta(media_id: Long, duration_ms: Long, n_tracks: Int,
                           width: Int, height: Int)

  private[graft] def parseMp4Bytes(b: Array[Byte]): Option[(Long, Int, Int, Int)] = {
    if (b == null || b.length < 16) return None
    if (!(b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p')) return None
    var durationMs = -1L
    var tracks = 0
    var w = 0
    var h = 0
    def boxType(i: Int) = new String(b, i + 4, 4, "ISO-8859-1")
    def walk(from: Long, to: Long, depth: Int): Unit = {
      var pos = from
      while (pos + 8 <= to && depth < 8) {
        val size32 = be32(b, pos.toInt).toLong & 0xffffffffL
        val ty = boxType(pos.toInt)
        val (hdr, size) =
          if (size32 == 1 && pos + 16 <= to) {
            val hi = (be32(b, pos.toInt + 8).toLong & 0xffffffffL) << 32
            (16L, hi | (be32(b, pos.toInt + 12).toLong & 0xffffffffL))
          } else (8L, if (size32 == 0) to - pos else size32)
        if (size < hdr || pos + size > to) return
        val body = pos + hdr
        ty match {
          case "moov" | "trak" | "mdia" => walk(body, pos + size, depth + 1)
          case "mvhd" if body + 4 <= to =>
            val v = b(body.toInt) & 0xff
            if (v == 1 && body + 28 <= to) {
              val scale = be32(b, body.toInt + 20).toLong & 0xffffffffL
              val dur = ((be32(b, body.toInt + 24).toLong & 0xffffffffL) << 32) |
                (be32(b, body.toInt + 28).toLong & 0xffffffffL)
              if (scale > 0) durationMs = dur * 1000L / scale
            } else if (v == 0 && body + 20 <= to) {
              val scale = be32(b, body.toInt + 12).toLong & 0xffffffffL
              val dur = be32(b, body.toInt + 16).toLong & 0xffffffffL
              if (scale > 0) durationMs = dur * 1000L / scale
            }
          case "tkhd" =>
            tracks += 1
            val v = b(body.toInt) & 0xff
            val dimOff = if (v == 1) 88L else 76L // ..matrix.. then w/h
            if (body + dimOff + 8 <= to) {
              val tw = be32(b, (body + dimOff).toInt) >>> 16 // 16.16 fixed
              val th = be32(b, (body + dimOff + 4).toInt) >>> 16
              if (tw > 0 && th > 0) { w = math.max(w, tw); h = math.max(h, th) }
            }
          case _ => ()
        }
        pos += size
      }
    }
    walk(0L, b.length.toLong, 0)
    if (durationMs >= 0) Some((durationMs, tracks, w, h)) else None
  }

  /** Partition-local MP4 metadata extraction over a media table. */
  def mp4Meta(media: DataFrame): Dataset[Mp4Meta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        parseMp4Bytes(payload).map { case (d, n, w, h) =>
          Mp4Meta(id, d, n, w, h) }
      })
  }

  /** Builder twin of [[parseMp4Bytes]]: a minimal valid ISO-BMFF file
    * (ftyp + moov[mvhd + one video trak/tkhd]) with the given duration
    * (ms at timescale 1000) and dimensions. */
  def mp4Stub(durationMs: Long, width: Int, height: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def be(i: Int): Array[Byte] = Array[Byte](
      ((i >> 24) & 0xff).toByte, ((i >> 16) & 0xff).toByte,
      ((i >> 8) & 0xff).toByte, (i & 0xff).toByte)
    def box(ty: String, body: Array[Byte]): Array[Byte] =
      be(body.length + 8) ++ ty.getBytes("ISO-8859-1") ++ body
    val ftyp = box("ftyp", "isom".getBytes ++ be(512) ++ "isom".getBytes)
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++ // v0 + flags
      be(0) ++ be(0) ++ be(1000) ++ be(durationMs.toInt) ++
      Array.fill[Byte](80)(0))
    val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7) ++ // v0 + enabled flags
      Array.fill[Byte](72)(0) ++ be(width << 16) ++ be(height << 16))
    val trak = box("trak", tkhd)
    val moov = box("moov", mvhd ++ trak)
    bos.write(ftyp); bos.write(moov)
    bos.toByteArray
  }

  /** Encode RGB pixels as GIF / JPEG through ImageIO — the planting
    * twins of [[decodeViaImageIO]] (GIF needs <= 256 distinct colors to
    * round-trip exactly; the writer builds an exact palette then). */
  def gifImage(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] =
    encodeViaImageIO("gif", width, height, rgb)

  def jpegImage(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] =
    encodeViaImageIO("jpg", width, height, rgb)

  private def encodeViaImageIO(fmt: String, width: Int, height: Int,
                               rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height * 3, "rgb must be w*h*3 bytes")
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val o = (y * width + x) * 3
        img.setRGB(x, y, ((rgb(o) & 0xff) << 16) |
          ((rgb(o + 1) & 0xff) << 8) | (rgb(o + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** Partition-local REAL audio decode (WAV PCM16). */
  def decodeAudio(media: DataFrame): Dataset[DecodedAudio] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        decodeWavBytes(payload).map { case (c, r, s) =>
          DecodedAudio(id, c, r, s.length, s) }
      })
  }

  /** REAL nearest-neighbor resize of decoded pixels to fit `maxSide`
    * (aspect preserved, floor scaling, never upscales): target pixel
    * (x', y') samples source (x'·w / w', y'·h / h') — integer
    * arithmetic, so an oracle can recompute it exactly. */
  def resizeNearest(decoded: Dataset[DecodedImage], maxSide: Int): Dataset[DecodedImage] = {
    require(maxSide >= 1, "maxSide must be >= 1")
    val spark = decoded.sparkSession
    import spark.implicits._
    decoded.map { d =>
      val side = math.max(d.width, d.height)
      if (side <= maxSide) d
      else {
        val w2 = math.max(1, d.width * maxSide / side)
        val h2 = math.max(1, d.height * maxSide / side)
        val out = new Array[Byte](w2 * h2 * d.channels)
        var y = 0
        while (y < h2) {
          val sy = y * d.height / h2
          var x = 0
          while (x < w2) {
            val sx = x * d.width / w2
            var c = 0
            while (c < d.channels) {
              out((y * w2 + x) * d.channels + c) =
                d.pixels((sy * d.width + sx) * d.channels + c)
              c += 1
            }
            x += 1
          }
          y += 1
        }
        d.copy(width = w2, height = h2, pixels = out)
      }
    }
  }

  /** Perceptual difference-hash (dHash) of decoded images: one bit per
    * horizontally-adjacent luminance comparison over a (w−1)×h grid,
    * bit index y·(w−1)+x set iff lum(x+1, y) > lum(x, y). Luminance is
    * the integer BT.601 approximation (299·R + 587·G + 114·B) div 1000
    * — exact, engine-replayable. dHash is the standard cheap
    * image-near-dup fingerprint: invariant to uniform brightness shifts
    * and (with a pre-resize to 9×8 via [[resizeNearest]]) to scale,
    * while any structural change flips bits ∝ its area. Feed a 9×8
    * input for the classic 64-bit hash; larger grids truncate to the
    * first 64 comparisons (row-major).
    *
    * @return (id, fp) — the [[graft.ops.Dedup.hammingPairs64]] input
    *         shape */
  def dhash64(decoded: Dataset[DecodedImage]): DataFrame = {
    val spark = decoded.sparkSession
    import spark.implicits._
    decoded.map { d =>
      var fp = 0L
      var bit = 0
      var y = 0
      while (y < d.height && bit < 64) {
        var x = 0
        while (x < d.width - 1 && bit < 64) {
          def lum(px: Int): Long = {
            if (d.channels >= 3) {
              val o = px * d.channels
              (299L * (d.pixels(o) & 0xff) + 587L * (d.pixels(o + 1) & 0xff) +
                114L * (d.pixels(o + 2) & 0xff)) / 1000L
            } else (d.pixels(px * d.channels) & 0xff).toLong
          }
          if (lum(y * d.width + x + 1) > lum(y * d.width + x))
            fp |= (1L << bit)
          bit += 1
          x += 1
        }
        y += 1
      }
      (d.media_id, fp)
    }.toDF("id", "fp")
  }

  /** Image near-dup pairs: [[dhash64]] fingerprints banded and
    * verified through the shared [[graft.ops.Dedup.hammingPairs64]]
    * engine — (ida, idb, hamming ≤ maxDist). The image-payload bytes
    * never shuffle: only (id, 64-bit fp) rows leave the decode
    * partition. */
  def perceptualPairs(decoded: Dataset[DecodedImage], maxDist: Int = 4,
                      bands: Int = 8, maxBucket: Int = 1000): DataFrame =
    Dedup.hammingPairs64(dhash64(decoded), maxDist, bands, maxBucket)

  /** Perceptual audio fingerprint (64-bit) from decoded PCM — the
    * audio twin of [[dhash64]], closing the near-dup family (images
    * had dHash pairs, audio had only exact features): the
    * Haitsma–Kalker 2002 construction with time-domain sub-band
    * energies standing in for the filterbank (no FFT dependency —
    * energies are EXACT integers, so any engine replays every bit).
    * Per `frameSize`-sample frame, `nBands` equal sub-bands get energy
    * E(f,b) = Σ v²; the inter-band difference D(f,b) = E(f,b) −
    * E(f,b+1) is the spectral-shape proxy, and bit (f−1)·(nBands−1)+b
    * is set iff D(f,b) > D(f−1,b) — the sign of the difference's time
    * derivative, invariant to uniform gain (energy scaling preserves
    * D ordering) and to DC-ish shifts, while any localized content
    * change flips the bits of the frames it touches. Row-major over
    * (frame-diff, band-diff), truncated to 64 bits like dHash; the
    * default 45×9 grid fills exactly 64 from 405 samples. Trailing
    * samples short of a full frame are ignored (frame grid contract,
    * as [[vadSegments]]).
    *
    * @return (id, fp) — the [[graft.ops.Dedup.hammingPairs64]] input
    *         shape */
  def audioFingerprint64(decoded: Dataset[DecodedAudio],
                         frameSize: Int = 45,
                         nBands: Int = 9): DataFrame = {
    require(nBands >= 2 && frameSize % nBands == 0,
      "need nBands >= 2 dividing frameSize")
    val spark = decoded.sparkSession
    import spark.implicits._
    decoded.map { d =>
      val sub = frameSize / nBands
      val nFrames = d.samples.length / frameSize
      val e = Array.ofDim[Long](math.max(nFrames, 0), nBands)
      var f = 0
      while (f < nFrames) {
        var b = 0
        while (b < nBands) {
          var s = 0L
          var i = f * frameSize + b * sub
          val end = i + sub
          while (i < end) { val v = d.samples(i).toLong; s += v * v; i += 1 }
          e(f)(b) = s
          b += 1
        }
        f += 1
      }
      var fp = 0L
      var bit = 0
      f = 1
      while (f < nFrames && bit < 64) {
        var b = 0
        while (b < nBands - 1 && bit < 64) {
          if (e(f)(b) - e(f)(b + 1) > e(f - 1)(b) - e(f - 1)(b + 1))
            fp |= (1L << bit)
          bit += 1
          b += 1
        }
        f += 1
      }
      (d.media_id, fp)
    }.toDF("id", "fp")
  }

  /** Audio near-dup pairs: [[audioFingerprint64]] fingerprints banded
    * and verified through the shared [[graft.ops.Dedup.hammingPairs64]]
    * engine — (ida, idb, hamming ≤ maxDist). As with image
    * [[perceptualPairs]], the PCM payload never shuffles: only
    * (id, 64-bit fp) rows leave the decode partition, and 8 LSH bands
    * over 64 bits are pigeonhole-lossless for maxDist ≤ 7. */
  def audioPerceptualPairs(decoded: Dataset[DecodedAudio],
                           maxDist: Int = 4, lshBands: Int = 8,
                           maxBucket: Int = 1000,
                           frameSize: Int = 45,
                           nBands: Int = 9): DataFrame =
    Dedup.hammingPairs64(audioFingerprint64(decoded, frameSize, nBands),
      maxDist, lshBands, maxBucket)

  /** Audio clip features from decoded PCM — the route/filter tier of an
    * audio pipeline (drop silence, cap clipping, length-bucket), all
    * exact integers so any engine replays them:
    *
    *   duration_ms     = frames·1000 div rate
    *   peak            = max |sample|
    *   energy          = Σ sample² (the RMS numerator, kept unrooted
    *                     and integral)
    *   zero_crossings  = sign changes between consecutive samples
    *                     (channel-interleave-agnostic on mono; callers
    *                     with multichannel audio should split first)
    *   silence_ppm     = samples with |s| < silenceFloor, per million
    *                     (integer div)
    */
  def audioFeatures(decoded: Dataset[DecodedAudio],
                    silenceFloor: Int = 512): DataFrame = {
    val spark = decoded.sparkSession
    import spark.implicits._
    decoded.map { d =>
      var peak = 0L; var energy = 0L; var zc = 0L; var quiet = 0L
      var i = 0
      while (i < d.samples.length) {
        val v = d.samples(i).toLong
        val a = math.abs(v)
        if (a > peak) peak = a
        energy += v * v
        if (a < silenceFloor) quiet += 1
        if (i > 0 && ((d.samples(i - 1) < 0 && v >= 0) ||
            (d.samples(i - 1) >= 0 && v < 0))) zc += 1
        i += 1
      }
      val frames = if (d.channels > 0) d.n_samples / d.channels else 0
      val durMs = if (d.sample_rate > 0) frames * 1000L / d.sample_rate else 0L
      val ppm = if (d.n_samples > 0) quiet * 1000000L / d.n_samples else 0L
      (d.media_id, durMs, peak, energy, zc, ppm)
    }.toDF("media_id", "duration_ms", "peak", "energy", "zero_crossings",
      "silence_ppm")
  }

  /** Energy-threshold voice-activity segmentation over decoded PCM —
    * the "which parts of this clip carry signal" pass an audio
    * pipeline runs before transcription/feature cuts: fixed
    * `frameSize`-sample frames, a frame is VOICED when its exact
    * integer energy Σv² exceeds `energyFloor`, and segments are
    * maximal voiced runs. Trailing samples short of a full frame are
    * ignored (frame grid contract).
    *
    * Partition-local imperative fold over one clip's short[] (the
    * decode-tier mapPartitions class — no Catalyst expression covers
    * sample-array folds); all outputs exact integers.
    *
    * @return (media_id, n_frames, n_voiced, n_segments, longest_run,
    *         first_voiced_frame — −1 when silent) */
  def vadSegments(decoded: Dataset[DecodedAudio], frameSize: Int = 40,
                  energyFloor: Long = 10000000L): DataFrame = {
    require(frameSize >= 1 && energyFloor >= 0, "bad VAD parameters")
    val spark = decoded.sparkSession
    import spark.implicits._
    decoded.map { d =>
      val n = d.samples.length / frameSize
      var voiced = 0L; var segs = 0L; var run = 0L; var longest = 0L
      var first = -1L
      var f = 0
      while (f < n) {
        var e = 0L
        var i = f * frameSize
        val end = i + frameSize
        while (i < end) { val v = d.samples(i).toLong; e += v * v; i += 1 }
        if (e > energyFloor) {
          voiced += 1
          if (first < 0) first = f.toLong
          if (run == 0) segs += 1
          run += 1
          if (run > longest) longest = run
        } else run = 0
        f += 1
      }
      (d.media_id, n.toLong, voiced, segs, longest, first)
    }.toDF("media_id", "n_frames", "n_voiced", "n_segments",
      "longest_run", "first_voiced_frame")
  }

  // ------------------------- builder twins --------------------------
  // Writers for the same three formats — fixture generation for specs
  // and oracles (and the WARC-style "wrap derived bytes back into a
  // container" leg of a multimodal pipeline). Each emits a fully valid
  // file the matching decoder above (and any external tool) reads back.

  /** Encode row-major top-down RGB pixels as a 24-bit bottom-up BMP
    * (standard layout: BGR bytes, rows padded to 4). */
  def bmpImage(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height * 3, "rgb must be w*h*3 bytes")
    val rowSize = (width * 3 + 3) & ~3
    val pixBytes = rowSize * height
    val out = java.nio.ByteBuffer.allocate(54 + pixBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(54 + pixBytes)
      .putShort(0).putShort(0).putInt(54)
    out.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(pixBytes).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = height - 1 // bottom-up
    while (y >= 0) {
      var x = 0
      while (x < width) {
        val s = (y * width + x) * 3
        out.put(rgb(s + 2)).put(rgb(s + 1)).put(rgb(s)) // BGR
        x += 1
      }
      var pad = rowSize - width * 3
      while (pad > 0) { out.put(0.toByte); pad -= 1 }
      y -= 1
    }
    out.array()
  }

  /** Encode pixels as a real PNG (8-bit; channels 1=gray, 3=RGB,
    * 4=RGBA): zlib-deflated IDAT, correct chunk CRCs, and a caller-
    * chosen filter per row (default cycles through all five spec
    * filters, so decoders must implement full reconstruction). */
  def pngImage(width: Int, height: Int, channels: Int, pix: Array[Byte],
               filterForRow: Int => Int = _ % 5): Array[Byte] = {
    require(Set(1, 3, 4)(channels), "channels must be 1, 3 or 4")
    require(pix.length == width * height * channels, "pix must be w*h*c bytes")
    val stride = width * channels
    val raw = new Array[Byte]((stride + 1) * height)
    var y = 0
    while (y < height) {
      val ft = filterForRow(y)
      require(ft >= 0 && ft <= 4, s"filter $ft out of range")
      raw(y * (stride + 1)) = ft.toByte
      var i = 0
      while (i < stride) {
        val x = pix(y * stride + i) & 0xff
        val a = if (i >= channels) pix(y * stride + i - channels) & 0xff else 0
        val up = if (y > 0) pix((y - 1) * stride + i) & 0xff else 0
        val ul = if (y > 0 && i >= channels) pix((y - 1) * stride + i - channels) & 0xff else 0
        val f = ft match {
          case 0 => x
          case 1 => x - a
          case 2 => x - up
          case 3 => x - (a + up) / 2
          case 4 => x - paeth(a, up, ul)
        }
        raw(y * (stride + 1) + 1 + i) = (f & 0xff).toByte
        i += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](raw.length + 64)
    val zout = new java.io.ByteArrayOutputStream()
    while (!deflater.finished()) zout.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val idat = zout.toByteArray
    val colorType = channels match { case 1 => 0; case 3 => 2; case 4 => 6 }
    def chunk(ty: String, data: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + data.length)
      out.putInt(data.length).put(ty.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(ty.getBytes("US-ASCII")); crc.update(data)
      out.putInt(crc.getValue.toInt)
      out.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++ chunk("IEND", Array.empty)
  }

  /** Encode interleaved signed 16-bit samples as a PCM WAV file. */
  def wavPcm16(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    require(channels >= 1 && sampleRate >= 1)
    val dataLen = samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1)
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2).putShort((channels * 2).toShort)
      .putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(out.putShort)
    out.array()
  }
}
