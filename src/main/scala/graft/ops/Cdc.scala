package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Content-defined chunking (CDC) for binary payloads — the dedup
  * primitive for the MULTIMODAL side of a corpus, where "the same
  * image/audio embedded at a different byte offset" defeats both exact
  * file hashing and fixed-size blocks. Boundaries are chosen where a
  * rolling hash of the content hits a mask (the gear-hash scheme of
  * FastCDC/xdelta lineage), so inserting a prefix only perturbs chunks
  * up to the first content-defined cut — everything after re-aligns and
  * dedupes. Storage systems (borg, restic, data-lake blob stores) use
  * exactly this to collapse re-encoded/re-wrapped media.
  *
  * Scale shape: chunking is a pure per-row pass (no shuffle — the UDF
  * is a codec boundary like [[Multimodal.decodeStub]], honest JVM work
  * per payload); the chunk table it emits is (id, idx, offset, length,
  * chunk_md5), ~24 B + hash per chunk, and every downstream dedup
  * question (distinct chunks, shared bytes, per-blob overlap) is one
  * hash aggregation on uniformly-distributed md5 keys. The payload
  * bytes themselves never shuffle.
  */
object Cdc {

  /** Deterministic gear table: 256 pseudo-random 64-bit values, the
    * first 8 md5 bytes of each byte value — fixed for all time so chunk
    * boundaries are reproducible across runs and engines. */
  private[graft] val gear: Array[Long] = Array.tabulate(256) { i =>
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(Array(i.toByte))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  /** Boundary scan: returns (offset, length) spans that PARTITION the
    * payload, with FastCDC's NORMALIZED dual-mask cut rule (Xia et al.,
    * "FastCDC: a Fast and Efficient Content-Defined Chunking Approach
    * for Data Deduplication", USENIX ATC 2016): below `avgSize` into a
    * chunk the gear hash (h = (h<<1) + gear[b], reset per chunk) must
    * zero log2(avgSize) + `normBits` low bits (a HARDER condition —
    * suppresses short chunks); past `avgSize` only
    * log2(avgSize) - normBits bits (EASIER — pulls long chunks back),
    * concentrating sizes around the average instead of the single-mask
    * geometric spread. `maxSize` still forces a cut; the final chunk
    * may undershoot `minSize` (nothing left to extend it with). Empty
    * payloads yield zero chunks. normBits=0 recovers the single-mask
    * scheme; shift resistance is unchanged (cuts remain pure content
    * functions of the trailing bytes). */
  private[graft] def boundaries(bytes: Array[Byte], minSize: Int,
                                avgSize: Int, maxSize: Int,
                                normBits: Int = 2): Array[(Int, Int)] = {
    require(0 < minSize && minSize <= avgSize && avgSize <= maxSize,
      s"need 0 < min($minSize) <= avg($avgSize) <= max($maxSize)")
    val maskBits = 63 - java.lang.Long.numberOfLeadingZeros(avgSize.toLong)
    // clamp so the small mask keeps >= 1 bit and the large one <= 63
    val nc = math.min(normBits, math.min(maskBits - 1, 63 - maskBits))
      .max(0)
    val maskS = (1L << (maskBits + nc)) - 1L
    val maskL = (1L << (maskBits - nc)) - 1L
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var start = 0
    while (start < bytes.length) {
      val limit = math.min(start + maxSize, bytes.length)
      var pos = start
      var h = 0L
      var cut = -1
      while (pos < limit && cut < 0) {
        h = (h << 1) + gear(bytes(pos) & 0xff)
        pos += 1
        val len = pos - start
        if (len >= minSize) {
          val mask = if (len < avgSize) maskS else maskL
          if ((h & mask) == 0L) cut = pos
        }
      }
      val end = if (cut > 0) cut else limit
      out += ((start, end - start))
      start = end
    }
    out.toArray
  }

  /** Chunk table for a binary column: one row per chunk,
    * (idCol, chunk_idx, offset, length, chunk_md5). Defaults give
    * ~8 KiB average chunks — tune avgSize to the media granularity
    * (smaller finds more sharing, costs more rows).
    *
    * `normBits` selects the boundary scheme — chunk hashes are only
    * comparable across runs that used the SAME value: a store chunked
    * under the pre-normalization single-mask scheme needs normBits = 0
    * to keep matching; new stores want the default (2, normalized
    * FastCDC). */
  def chunks(media: DataFrame, idCol: String, payloadCol: String,
             minSize: Int = 2048, avgSize: Int = 8192,
             maxSize: Int = 65536, normBits: Int = 2): DataFrame = {
    val chunkUdf = udf { payload: Array[Byte] =>
      if (payload == null) Array.empty[(Int, Int, String)]
      else boundaries(payload, minSize, avgSize, maxSize, normBits)
        .map { case (off, len) =>
          val d = java.security.MessageDigest.getInstance("MD5")
          d.update(payload, off, len)
          (off, len, d.digest().map("%02x".format(_)).mkString)
        }
    }
    media.select(col(idCol), posexplode(chunkUdf(col(payloadCol)))
        .as(Seq("chunk_idx", "c")))
      .select(col(idCol), col("chunk_idx"),
        col("c._1").as("offset"), col("c._2").as("length"),
        col("c._3").as("chunk_md5"))
  }

  /** [[chunks]] plus the chunk BYTES — the ingest side of a
    * content-addressed chunk store. Feed it to [[store]] /
    * [[manifest]]; don't persist it as-is (it is the payload ×1 in
    * rows). */
  def chunksWithBytes(media: DataFrame, idCol: String, payloadCol: String,
                      minSize: Int = 2048, avgSize: Int = 8192,
                      maxSize: Int = 65536, normBits: Int = 2): DataFrame = {
    val chunkUdf = udf { payload: Array[Byte] =>
      if (payload == null) Array.empty[(Int, Int, String, Array[Byte])]
      else boundaries(payload, minSize, avgSize, maxSize, normBits)
        .map { case (off, len) =>
          val slice = java.util.Arrays.copyOfRange(payload, off, off + len)
          val d = java.security.MessageDigest.getInstance("MD5")
          (off, len, d.digest(slice).map("%02x".format(_)).mkString, slice)
        }
    }
    media.select(col(idCol), posexplode(chunkUdf(col(payloadCol)))
        .as(Seq("chunk_idx", "c")))
      .select(col(idCol), col("chunk_idx"),
        col("c._1").as("offset"), col("c._2").as("length"),
        col("c._3").as("chunk_md5"), col("c._4").as("chunk"))
  }

  /** The content-addressed STORE: each distinct chunk's bytes exactly
    * once, keyed by hash (what actually sits on disk). One hash
    * aggregation; min_by makes the pick
    * deterministic (all candidates are byte-identical anyway, md5
    * collisions aside). */
  def store(chunkBytes: DataFrame): DataFrame =
    chunkBytes.groupBy("chunk_md5")
      .agg(min_by(col("chunk"), struct(col("length"), col("chunk_md5")))
        .as("chunk"),
        first(col("length")).as("length"))

  /** The per-blob MANIFEST: the recipe (ordered chunk hashes) that
    * [[restore]] follows — what a dedup store keeps per object. */
  def manifest(chunkBytes: DataFrame, idCol: String): DataFrame =
    chunkBytes.select(col(idCol), col("chunk_idx"), col("offset"),
      col("length"), col("chunk_md5"))

  /** Reassemble payloads from a [[manifest]] + [[store]]: join the
    * recipe to the store on the chunk hash (1:1 — candidates ≫ store
    * rows, a plain hash join at scale), collect each blob's chunks, and
    * concatenate in chunk order. The UDF is the consumer-side codec
    * boundary; the join never fans out and nothing is quadratic.
    * Returns (idCol, payload). */
  def restore(manifestDf: DataFrame, storeDf: DataFrame,
              idCol: String): DataFrame = {
    val glue = udf { chunks: Seq[Row] =>
      val sorted = chunks.sortBy(_.getAs[Int]("chunk_idx"))
      val out = new java.io.ByteArrayOutputStream()
      sorted.foreach(r => out.write(r.getAs[Array[Byte]]("chunk")))
      out.toByteArray
    }
    manifestDf.join(storeDf.select(col("chunk_md5"), col("chunk")), "chunk_md5")
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("chunk_idx"), col("chunk"))).as("cs"))
      .select(col(idCol), glue(col("cs")).as("payload"))
  }
}
