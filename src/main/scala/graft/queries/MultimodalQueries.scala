package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.pivot.PivotOps
import graft.QueryShared._

/** Multimodal verification queries — one family of
  * [[graft.SparkEntry.registry]]; see [[graft.SparkEntry]] for the
  * oracle conventions. */
private[graft] object MultimodalQueries {
  // =====================================================================
  // Multimodal
  // =====================================================================

  /** REAL header metadata: every doc wrapped in a valid PNG header
    * (builder twin), sniffed back by pure byte inspection. The oracle
    * recomputes the expected parse from the source columns — the parser
    * must read exactly what the builder wrote. */
  private[graft] def qMultimodalSniff(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val build = udf((w: Int, h: Int) => Multimodal.pngHeader(w, h))
    d.select(col("doc_id").as("media_id"),
        build((col("n_chars") % 640 + 1).cast("int"),
          (col("doc_id") % 480 + 1).cast("int")).as("payload"))
      .select(col("media_id"), Multimodal.sniff(col("payload")).as("m"))
      .select(col("media_id"), col("m.format").as("format"),
        col("m.width").as("width"), col("m.height").as("height"))
  }

  private[graft] val oMultimodalSniff =
    """SELECT doc_id AS media_id, 'png' AS format,
      |  CAST(n_chars % 640 + 1 AS INT) AS width,
      |  CAST(doc_id % 480 + 1 AS INT) AS height
      |FROM documents""".stripMargin

  private[graft] def qMultimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeStub(
        Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text"))
      .toDF()
      .select("media_id", "width", "nbytes")

  private[graft] val oMultimodalMeta =
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS nbytes
      |FROM documents""".stripMargin

  private[graft] def qMultimodalFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
        Multimodal.asMediaTable(
          t(s, dir, "documents").filter(col("doc_id") < 50), "doc_id", "text"),
        frameBytes = 64, stride = 128)
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        octet_length(col("frame_bytes")).as("fb"))

  private[graft] val oMultimodalFrames =
    """WITH m AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
      |    octet_length(encode(text)) AS n FROM documents WHERE doc_id < 50),
      |f AS (SELECT media_id, n, unnest(generate_series(0,
      |    CAST(ceil((n - 64 + 1) / 128.0) AS BIGINT) - 1)) AS frame_idx
      |  FROM m WHERE n >= 64)
      |SELECT media_id, frame_idx,
      |  CAST(least(64, n - frame_idx * 128) AS INTEGER) AS fb FROM f""".stripMargin

  /** Reduce decoded pixels to oracle-comparable scalars: total channel
    * mass plus a POSITION-weighted checksum (value × 1-based index in
    * the row-major top-down interleaved array) — any row-order, padding,
    * channel-order or filter-reconstruction mistake shifts it. */
  private[graft] def imageStats(d: Multimodal.DecodedImage): (Long, String, Int, Int, Int, Long, Long) = {
    var sum = 0L; var chk = 0L; var i = 0
    while (i < d.pixels.length) {
      val v = d.pixels(i) & 0xff
      sum += v; chk += v.toLong * (i + 1); i += 1
    }
    (d.media_id, d.format, d.width, d.height, d.channels, sum, chk)
  }

  /** REAL BMP pixel decode: every doc wrapped as a 7×5 24-bit BMP whose
    * RGB value at (x, y, c) is a closed-form function of (doc_id, x, y,
    * c) — width 7 forces row padding, the builder writes bottom-up BGR.
    * The oracle recomputes the stats from the formula: the decoder must
    * reproduce every pixel at its exact position. */
  private[graft] def qMultimodalDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val build = udf((id: Long) => {
      val px = new Array[Byte](7 * 5 * 3)
      for (y <- 0 until 5; x <- 0 until 7; c <- 0 until 3)
        px((y * 7 + x) * 3 + c) = (((x * 7 + y * 13 + c * 29 + id) % 256) & 0xff).toByte
      Multimodal.bmpImage(7, 5, px)
    })
    val media = t(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id").as("media_id"), build(col("doc_id")).as("payload"))
    Multimodal.decodeImage(media).map(imageStats)
      .toDF("media_id", "format", "width", "height", "channels",
        "pix_sum", "pos_checksum")
  }

  /** Image-quality stats over the SAME planted BMP fixture as
    * `multimodal_decode` (pixel values are a formula, so the oracle
    * recomputes brightness/contrast/entropy from generate_series) —
    * the blank/dark/blown-out image gate on exact integer rails (see
    * [[Multimodal.imageQuality]]). */
  private[graft] def qMultimodalQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val build = udf((id: Long) => {
      val px = new Array[Byte](7 * 5 * 3)
      for (y <- 0 until 5; x <- 0 until 7; c <- 0 until 3)
        px((y * 7 + x) * 3 + c) = (((x * 7 + y * 13 + c * 29 + id) % 256) & 0xff).toByte
      Multimodal.bmpImage(7, 5, px)
    })
    val media = t(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id").as("media_id"), build(col("doc_id")).as("payload"))
    Multimodal.imageQuality(Multimodal.decodeImage(media)).toDF()
  }

  private[graft] val oMultimodalQuality =
    """WITH px AS (SELECT doc_id, x.g AS x, y.g AS y, c.g AS c,
      |    (x.g*7 + y.g*13 + c.g*29 + doc_id) % 256 AS v
      |  FROM documents, generate_series(0, 6) x(g),
      |    generate_series(0, 4) y(g), generate_series(0, 2) c(g)
      |  WHERE doc_id < 200),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_px,
      |    CAST(sum(v) AS BIGINT) AS s, CAST(sum(v*v) AS BIGINT) AS q,
      |    CAST(min(v) AS INT) AS px_min, CAST(max(v) AS INT) AS px_max
      |  FROM px GROUP BY 1),
      |hist AS (SELECT doc_id, v, count(*) AS hc FROM px GROUP BY 1, 2),
      |ent AS (SELECT hist.doc_id,
      |    CAST(sum(CAST(round(-(CAST(hc AS DOUBLE) / n_px) *
      |      ln(CAST(hc AS DOUBLE) / n_px) / ln(2) * 1e6) AS BIGINT))
      |      AS BIGINT) AS entropy_micro
      |  FROM hist JOIN agg ON agg.doc_id = hist.doc_id GROUP BY 1)
      |SELECT agg.doc_id AS media_id, 'bmp' AS format, n_px,
      |  CAST(s * 1000 // n_px AS BIGINT) AS brightness_milli,
      |  CAST((n_px*q - s*s) * 1000 // (n_px*n_px) AS BIGINT)
      |    AS contrast_milli,
      |  px_min, px_max, entropy_micro,
      |  (n_px*q - s*s) * 1000 // (n_px*n_px) < 4000 AS is_flat
      |FROM agg JOIN ent ON ent.doc_id = agg.doc_id""".stripMargin

  private[graft] val oMultimodalDecode =
    """WITH px AS (SELECT doc_id, x.g AS x, y.g AS y, c.g AS c,
      |    (x.g*7 + y.g*13 + c.g*29 + doc_id) % 256 AS v
      |  FROM documents, generate_series(0, 6) x(g),
      |    generate_series(0, 4) y(g), generate_series(0, 2) c(g)
      |  WHERE doc_id < 200)
      |SELECT CAST(doc_id AS BIGINT) AS media_id, 'bmp' AS format,
      |  CAST(7 AS INT) AS width, CAST(5 AS INT) AS height,
      |  CAST(3 AS INT) AS channels,
      |  CAST(sum(v) AS BIGINT) AS pix_sum,
      |  CAST(sum(v * ((y*7 + x)*3 + c + 1)) AS BIGINT) AS pos_checksum
      |FROM px GROUP BY doc_id""".stripMargin

  /** MP4 container metadata without a codec: planted ISO-BMFF files
    * (ftyp + moov/mvhd + trak/tkhd), box-walked for duration, track
    * count and 16.16-fixed dimensions — the route/prune/shard tier a
    * video pipeline runs before any decode. Oracle recomputes every
    * field from the planted parameters. */
  private[graft] def qMultimodalMp4Meta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val build = udf((id: Long) =>
      Multimodal.mp4Stub(1000L + (id % 977) * 13,
        (320 + (id % 5) * 16).toInt, (240 + (id % 3) * 16).toInt))
    val media = t(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id").as("media_id"), build(col("doc_id")).as("payload"))
    Multimodal.mp4Meta(media)
      .toDF("media_id", "duration_ms", "n_tracks", "width", "height")
  }

  private[graft] val oMultimodalMp4Meta =
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  CAST(1000 + (doc_id % 977) * 13 AS BIGINT) AS duration_ms,
      |  CAST(1 AS INT) AS n_tracks,
      |  CAST(320 + (doc_id % 5) * 16 AS INT) AS width,
      |  CAST(240 + (doc_id % 3) * 16 AS INT) AS height
      |FROM documents WHERE doc_id < 300""".stripMargin

  /** REAL GIF pixel decode through the JDK's own ImageIO codec. GIF is
    * LOSSLESS (LZW over a palette) and the planted 8×6 grayscale
    * pattern has <= 256 distinct colors, so the encoder's palette is
    * exact and every decoded pixel lands back on the closed-form
    * oracle — same exactness bar as the hand-rolled BMP/PNG parsers,
    * now for an entropy-coded format. */
  private[graft] def qMultimodalDecodeGif(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val build = udf((id: Long) => {
      val px = new Array[Byte](8 * 6 * 3)
      for (y <- 0 until 6; x <- 0 until 8) {
        val v = ((x * 19 + y * 31 + id * 5) % 256).toInt
        for (c <- 0 until 3) px((y * 8 + x) * 3 + c) = (v & 0xff).toByte
      }
      Multimodal.gifImage(8, 6, px)
    })
    val media = t(s, dir, "documents").filter(col("doc_id") < 150)
      .select(col("doc_id").as("media_id"), build(col("doc_id")).as("payload"))
    Multimodal.decodeImage(media).map(imageStats)
      .toDF("media_id", "format", "width", "height", "channels",
        "pix_sum", "pos_checksum")
  }

  private[graft] val oMultimodalDecodeGif =
    """WITH px AS (SELECT doc_id, x.g AS x, y.g AS y, c.g AS c,
      |    (x.g*19 + y.g*31 + doc_id*5) % 256 AS v
      |  FROM documents, generate_series(0, 7) x(g),
      |    generate_series(0, 5) y(g), generate_series(0, 2) c(g)
      |  WHERE doc_id < 150)
      |SELECT CAST(doc_id AS BIGINT) AS media_id, 'gif' AS format,
      |  CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
      |  CAST(3 AS INT) AS channels,
      |  CAST(sum(v) AS BIGINT) AS pix_sum,
      |  CAST(sum(v * ((y*8 + x)*3 + c + 1)) AS BIGINT) AS pos_checksum
      |FROM px GROUP BY doc_id""".stripMargin

  /** REAL JPEG decode through the JDK's ImageIO codec. JPEG pixel
    * values are codec-defined (DCT quantization + IDCT rounding), so
    * this is a CONTRACT query: dimensions are exact, and each planted
    * uniform-gray image must decode to pixels within +-3 of the
    * planted level (a uniform block is a pure DC coefficient — any
    * real JPEG round-trips it nearly exactly; a stub cannot). */
  private[graft] def qMultimodalDecodeJpeg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val build = udf((id: Long) => {
      val level = (40 + (id % 16) * 12).toInt // 40..220: clear of clipping
      val px = Array.fill((12 * 9 * 3).toInt)((level & 0xff).toByte)
      Multimodal.jpegImage(12, 9, px)
    })
    val media = t(s, dir, "documents").filter(col("doc_id") < 150)
      .select(col("doc_id").as("media_id"), build(col("doc_id")).as("payload"))
    Multimodal.decodeImage(media).map { d =>
      val level = (40 + (d.media_id % 16) * 12).toInt
      val vals = d.pixels.map(_ & 0xff)
      (d.media_id, d.format, d.width, d.height,
        vals.forall(v => math.abs(v - level) <= 3))
    }.toDF("media_id", "format", "width", "height", "within_tolerance")
  }

  private[graft] val oMultimodalDecodeJpeg =
    """SELECT CAST(doc_id AS BIGINT) AS media_id, 'jpeg' AS format,
      |  CAST(12 AS INT) AS width, CAST(9 AS INT) AS height,
      |  TRUE AS within_tolerance
      |FROM documents WHERE doc_id < 150""".stripMargin

  /** REAL PNG pixel decode: 6×10 8-bit RGB PNGs, zlib-deflated with the
    * filter type cycling through ALL FIVE spec filters (row % 5) — the
    * decoder must inflate and reconstruct Sub/Up/Average/Paeth rows
    * exactly to land every pixel back on the closed-form oracle. */
  private[graft] def qMultimodalDecodePng(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val build = udf((id: Long) => {
      val px = new Array[Byte](6 * 10 * 3)
      for (y <- 0 until 10; x <- 0 until 6; c <- 0 until 3)
        px((y * 6 + x) * 3 + c) = (((x * 11 + y * 17 + c * 23 + id * 3) % 256) & 0xff).toByte
      Multimodal.pngImage(6, 10, 3, px)
    })
    val media = t(s, dir, "documents").filter(col("doc_id") < 150)
      .select(col("doc_id").as("media_id"), build(col("doc_id")).as("payload"))
    Multimodal.decodeImage(media).map(imageStats)
      .toDF("media_id", "format", "width", "height", "channels",
        "pix_sum", "pos_checksum")
  }

  private[graft] val oMultimodalDecodePng =
    """WITH px AS (SELECT doc_id, x.g AS x, y.g AS y, c.g AS c,
      |    (x.g*11 + y.g*17 + c.g*23 + doc_id*3) % 256 AS v
      |  FROM documents, generate_series(0, 5) x(g),
      |    generate_series(0, 9) y(g), generate_series(0, 2) c(g)
      |  WHERE doc_id < 150)
      |SELECT CAST(doc_id AS BIGINT) AS media_id, 'png' AS format,
      |  CAST(6 AS INT) AS width, CAST(10 AS INT) AS height,
      |  CAST(3 AS INT) AS channels,
      |  CAST(sum(v) AS BIGINT) AS pix_sum,
      |  CAST(sum(v * ((y*6 + x)*3 + c + 1)) AS BIGINT) AS pos_checksum
      |FROM px GROUP BY doc_id""".stripMargin

  /** REAL WAV sample decode: 64 PCM16 mono samples per doc from a
    * closed-form signed formula (negative values exercise the LE16
    * sign reconstruction); position-weighted checksum again. */
  private[graft] def qMultimodalDecodeWav(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val build = udf((id: Long) => Multimodal.wavPcm16(16000, 1,
      Array.tabulate(64)(i => (((id * 7 + i * 31) % 4096) - 2048).toShort)))
    val media = t(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id").as("media_id"), build(col("doc_id")).as("payload"))
    Multimodal.decodeAudio(media).map { d =>
      var sum = 0L; var chk = 0L; var i = 0
      while (i < d.samples.length) {
        sum += d.samples(i); chk += d.samples(i).toLong * (i + 1); i += 1
      }
      (d.media_id, d.channels, d.sample_rate, d.n_samples, sum, chk)
    }.toDF("media_id", "channels", "sample_rate", "n_samples",
      "amp_sum", "pos_checksum")
  }

  private[graft] val oMultimodalDecodeWav =
    """WITH s AS (SELECT doc_id, i.g AS i,
      |    (doc_id*7 + i.g*31) % 4096 - 2048 AS v
      |  FROM documents, generate_series(0, 63) i(g) WHERE doc_id < 300)
      |SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(1 AS INT) AS channels,
      |  CAST(16000 AS INT) AS sample_rate, CAST(64 AS INT) AS n_samples,
      |  CAST(sum(v) AS BIGINT) AS amp_sum,
      |  CAST(sum(v * (i + 1)) AS BIGINT) AS pos_checksum
      |FROM s GROUP BY doc_id""".stripMargin

  /** REAL resize after real decode: the 7×5 BMPs shrunk to fit side 3
    * by nearest-neighbor (integer sampling: target (x', y') reads
    * source (x'·w/w', y'·h/h')) — the oracle recomputes the sampled
    * source coordinates and their formula values in SQL. */
  private[graft] def qMultimodalResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val build = udf((id: Long) => {
      val px = new Array[Byte](7 * 5 * 3)
      for (y <- 0 until 5; x <- 0 until 7; c <- 0 until 3)
        px((y * 7 + x) * 3 + c) = (((x * 7 + y * 13 + c * 29 + id) % 256) & 0xff).toByte
      Multimodal.bmpImage(7, 5, px)
    })
    val media = t(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id").as("media_id"), build(col("doc_id")).as("payload"))
    Multimodal.resizeNearest(Multimodal.decodeImage(media), maxSide = 3)
      .map(imageStats)
      .toDF("media_id", "format", "width", "height", "channels",
        "pix_sum", "pos_checksum")
  }

  private[graft] val oMultimodalResize =
    """WITH px AS (SELECT doc_id, x.g AS x, y.g AS y, c.g AS c,
      |    (((x.g*7)//3)*7 + ((y.g*5)//2)*13 + c.g*29 + doc_id) % 256 AS v
      |  FROM documents, generate_series(0, 2) x(g),
      |    generate_series(0, 1) y(g), generate_series(0, 2) c(g)
      |  WHERE doc_id < 200)
      |SELECT CAST(doc_id AS BIGINT) AS media_id, 'bmp' AS format,
      |  CAST(3 AS INT) AS width, CAST(2 AS INT) AS height,
      |  CAST(3 AS INT) AS channels,
      |  CAST(sum(v) AS BIGINT) AS pix_sum,
      |  CAST(sum(v * ((y*3 + x)*3 + c + 1)) AS BIGINT) AS pos_checksum
      |FROM px GROUP BY doc_id""".stripMargin

  /** Perceptual audio near-dup via the Haitsma–Kalker band-energy
    * fingerprint over REAL WAV decode (see
    * [[Multimodal.audioFingerprint64]]): planted 405-sample PCM16
    * clips — group base pattern (doc_id % 25) + a per-doc sub-band
    * bump in frame 4 — decoded, fingerprinted on the 45×9 grid
    * (8 frame-diffs × 8 band-diffs = exactly 64 bits), paired through
    * the shared banding engine. 8 bands × Hamming ≤ 4 is
    * pigeonhole-lossless, so the oracle is ALL pairs with bit
    * distance ≤ 4, recomputed sample-by-sample from the closed-form
    * PCM — equality, not a recall contract. Same-group clips differ
    * only at the bumped sub-band (≤ 4 bits); the gain-invariance and
    * grid mechanics are pinned spec-side. */
  private[graft] def qMultimodalAudioFp(s: SparkSession, dir: String): DataFrame = {
    val build = udf((id: Long) => Multimodal.wavPcm16(8000, 1,
      Array.tabulate(405) { i =>
        val base = ((id % 25) * 13 + i * 29) % 2400 - 1200
        (if (id % 3 == 1 && i >= 200 && i < 205) base + 900
         else base).toShort
      }))
    val media = t(s, dir, "documents").filter(col("doc_id") < 400)
      .select(col("doc_id").as("media_id"), build(col("doc_id")).as("payload"))
    Multimodal.audioPerceptualPairs(Multimodal.decodeAudio(media))
  }

  private[graft] val oMultimodalAudioFp =
    """WITH sm AS (SELECT doc_id, i.g AS i,
      |    ((doc_id % 25) * 13 + i.g * 29) % 2400 - 1200 +
      |    CASE WHEN doc_id % 3 = 1 AND i.g >= 200 AND i.g < 205
      |      THEN 900 ELSE 0 END AS v
      |  FROM documents, generate_series(0, 404) i(g) WHERE doc_id < 400),
      |be AS (SELECT doc_id, i // 45 AS f, (i % 45) // 5 AS b,
      |    sum(v * v) AS e
      |  FROM sm GROUP BY 1, 2, 3),
      |dd AS (SELECT a.doc_id, a.f, a.b, a.e - b2.e AS d
      |  FROM be a JOIN be b2 ON b2.doc_id = a.doc_id AND b2.f = a.f
      |    AND b2.b = a.b + 1),
      |bits AS (SELECT cur.doc_id, (cur.f - 1) * 8 + cur.b AS pos,
      |    CASE WHEN cur.d > prev.d THEN 1 ELSE 0 END AS bit
      |  FROM dd cur JOIN dd prev ON prev.doc_id = cur.doc_id
      |    AND prev.f = cur.f - 1 AND prev.b = cur.b),
      |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
      |    CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT)
      |      AS hamming
      |  FROM bits a JOIN bits b ON a.pos = b.pos AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT ida, idb, hamming FROM pairs WHERE hamming <= 4""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("multimodal_meta", qMultimodalMeta, oMultimodalMeta),
    Query("multimodal_sniff", qMultimodalSniff, oMultimodalSniff),
    Query("multimodal_frames", qMultimodalFrames, oMultimodalFrames),
    Query("multimodal_decode", qMultimodalDecode, oMultimodalDecode),
    Query("multimodal_quality", qMultimodalQuality, oMultimodalQuality),
    Query("multimodal_decode_png", qMultimodalDecodePng, oMultimodalDecodePng),
    Query("multimodal_decode_gif", qMultimodalDecodeGif, oMultimodalDecodeGif),
    Query("multimodal_mp4_meta", qMultimodalMp4Meta, oMultimodalMp4Meta),
    Query("multimodal_decode_jpeg", qMultimodalDecodeJpeg, oMultimodalDecodeJpeg),
    Query("multimodal_decode_wav", qMultimodalDecodeWav, oMultimodalDecodeWav),
    Query("multimodal_audio_fp", qMultimodalAudioFp, oMultimodalAudioFp),
    Query("multimodal_resize", qMultimodalResize, oMultimodalResize)
  )
}
