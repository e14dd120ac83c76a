package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Profile, Rp, Similarity}

/** Pins native expressions equal to the composed spellings they
  * replaced, which are restated here as the reference implementations:
  * [[graft.functions.SimHash64]] (behind `Dedup.simhashTable`),
  * [[graft.functions.RpProjectExpr]] (behind `Rp.project`),
  * [[graft.functions.DotProduct]] (behind `Similarity.dot`) and
  * [[graft.functions.KllSketchAgg]] (behind `Profile.kllSketches`). */
class NativeEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id").as("id"), col("text"))

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding"))

  private def assertSameById(native: DataFrame, composed: DataFrame): Unit = {
    val n = native.collect().map(r => r.get(0) -> String.valueOf(r.get(1))).toMap
    val c = composed.collect().map(r => r.get(0) -> String.valueOf(r.get(1))).toMap
    assert(n.keySet == c.keySet)
    n.keySet.foreach(k =>
      assert(n(k) == c(k), s"id=$k: native=${n(k)} composed=${c(k)}"))
  }

  // ------------------------------------------------------------ SimHash

  private lazy val tokenHashes =
    udf((ts: Seq[String]) => ts.map(NativeEquivalenceSpec.fnvToken))

  /** The composed 64-bit vote fold (formerly `Dedup.simhash`) over the
    * expression's tokens — lowercase, strip leading/trailing control
    * and space characters, split on whitespace runs — and token hash.
    * The tokenizer and hash are the expression's, not `Dedup.simhash`'s
    * (`TextFunctions.tokens` + xxhash64): with those the two spellings
    * give different fingerprints for the same text. */
  private def refSimhash(text: Column): Column = {
    val toks = split(
      regexp_replace(lower(text), "^[\\x00-\\x20]+|[\\x00-\\x20]+$", ""),
      "\\s+")
    val hashes = tokenHashes(toks)
    val bitExprs = (0 until 64).map { i =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(votes > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    bitExprs.reduce(_.bitwiseOR(_))
  }

  test("SimHash64 == the composed vote fold on edge texts and the corpus") {
    val edges = Seq("", " ", "\t\n", "word", "a b", "b a", "a a a",
      "  Leading and trailing  ", "tabs\tand\nnewlines\r\nmixed   runs",
      "Mixed CASE Ünïcödé 中文 文本", "emoji 😀 supplementary 𝒜",
      ("lorem ipsum dolor sit amet " * 30).trim)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (df <- Seq(edges, docs)) {
      assertSameById(Dedup.simhashTable(df, "text", "id"),
        df.select(col("id"), refSimhash(col("text"))))
    }
  }

  test("SimHash64 of null text is null") {
    val fp = Dedup.simhashTable(Seq((1L, null.asInstanceOf[String]))
      .toDF("id", "text"), "text", "id").head()
    assert(fp.isNullAt(1))
  }

  // ------------------------------------------------ random projection

  /** The composed projection (formerly `Rp.project`'s fallback): one
    * `aggregate(zip_with(…))` signed micro-unit sum per output dim,
    * plus the micro-unit squared norm. Returns (id, proj, norm2). */
  private def refProject(df: DataFrame, d: Int, k: Int): DataFrame = {
    def micro(x: Column): Column =
      floor(x.cast("double") * 1e6 + 0.5).cast("long")
    val pCols = (0 until k).map { j =>
      val signs = lit((0 until d).map(i => Rp.sign("rp", i, j)).toArray)
      aggregate(zip_with(col("v"), signs, (x, s) => s.cast("long") * micro(x)),
        lit(0L), _ + _)
    }
    val norm2 = aggregate(col("v"), lit(0L), (acc, x) => acc + micro(x) * micro(x))
    df.select(col("id"), concat_ws(",", pCols: _*).as("proj"), norm2.as("norm2"))
  }

  test("RpProjectExpr == the aggregate(zip_with) projection, float and double") {
    val rnd = new scala.util.Random(11)
    val floats = ((0L until 40L).map(i =>
        (i, Seq.fill(16)((rnd.nextGaussian() * 3).toFloat))) ++
      Seq((40L, Seq.fill(16)(0.0f)), (41L, Seq.fill(16)(-0.5f))))
      .toDF("id", "v")
    val doubles = floats.select(col("id"), col("v").cast("array<double>").as("v"))
    for (df <- Seq(floats, doubles, emb.select(col("id"), col("embedding").as("v")))) {
      val d = df.select(size(col("v"))).head().getInt(0)
      val k = math.min(8, d)
      val native = Rp.project(df, "v", "id", d = d, k = k)
      assertSameById(native.select("id", "proj"),
        refProject(df, d, k).select("id", "proj"))
      assertSameById(native.select("id", "norm2"),
        refProject(df, d, k).select("id", "norm2"))
    }
  }

  // -------------------------------------------------------- dot product

  /** The composed dot (formerly `Similarity.dotFast`'s and
    * `Importance.knnShapley`'s fallback): index-order double sum. */
  private def refDot(a: Column, b: Column): Column =
    aggregate(zip_with(transform(a, _.cast("double")),
      transform(b, _.cast("double")), _ * _), lit(0.0), _ + _)

  test("DotProduct == aggregate(zip_with(transform…)) on vector pairs and planes") {
    val pairs = emb.as("a").join(emb.as("b"), col("b.id") === col("a.id") + 1)
      .select(col("a.id").as("id"), col("a.embedding").as("x"),
        col("b.embedding").as("y"))
    assertSameById(pairs.select(col("id"), Similarity.dot(col("x"), col("y"))),
      pairs.select(col("id"), refDot(col("x"), col("y"))))
    // float vector · double literal plane: the LSH / centroid shape
    val rnd = new scala.util.Random(5)
    val plane = array(Seq.fill(64)(lit(rnd.nextDouble() * 2 - 1)): _*)
    assertSameById(emb.select(col("id"), Similarity.dot(col("embedding"), plane)),
      emb.select(col("id"), refDot(col("embedding"), plane)))
    val withNull = Seq((1L, Option.empty[Seq[Float]]), (2L, Some(Seq(1f, 2f))))
      .toDF("id", "v")
    assertSameById(withNull.select(col("id"), Similarity.dot(col("v"), col("v"))),
      withNull.select(col("id"), refDot(col("v"), col("v"))))
  }

  // ------------------------------------------------------- KLL sketch

  test("KllSketchAgg == the mapPartitions sketch combine on exact-size slices") {
    // ~63 values per slice, below k = 200: neither build compacts, so
    // both sketches hold every value and every quantile is exact
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select((col("doc_id") % 8).as("g"), col("n_chars"))
    val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
    def read(sketches: DataFrame): Seq[String] =
      Profile.kllQuantiles(sketches, Seq("g"), qs).collect().map(_.toString)
        .sorted.toSeq
    val native = read(Profile.kllSketches(df, Seq("g"), "n_chars"))
    assert(native.size == 8)
    assert(native == read(NativeEquivalenceSpec.kllComposed(df, Seq("g"), "n_chars", 200)))
  }
}

object NativeEquivalenceSpec {

  /** The composed KLL build (formerly `Profile.kllSketches`' fallback):
    * per-partition sketches in a `mapPartitions` hashmap, then one
    * merge of the partials per slice. Returns (keys…, kll). */
  def kllComposed(df: DataFrame, keys: Seq[String], valueCol: String,
                  k: Int): DataFrame = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
    val proj = df.select((keys.map(col) :+
      col(valueCol).cast("double").as("__v")): _*)
    val nk = keys.length
    val schema = StructType(
      proj.schema.fields.dropRight(1).toSeq :+ StructField("kll", BinaryType))
    val partial = proj.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap[Seq[Any], KllDoublesSketch]()
      it.foreach { r =>
        if (!r.isNullAt(nk)) {
          val key = (0 until nk).map(r.get)
          m.getOrElseUpdate(key, KllDoublesSketch.newHeapInstance(k))
            .update(r.getDouble(nk))
        }
      }
      m.iterator.map { case (key, sk) => Row.fromSeq(key :+ sk.toByteArray) }
    }(Encoders.row(schema))
    val merge = udf { (parts: Seq[Array[Byte]]) =>
      val merged = KllDoublesSketch.newHeapInstance(k)
      parts.foreach(b => merged.merge(KllDoublesSketch.heapify(Memory.wrap(b))))
      merged.toByteArray
    }
    partial.groupBy(keys.map(col): _*)
      .agg(merge(collect_list(col("kll"))).as("kll"))
  }

  /** SimHash64's token hash: FNV-1a over the UTF-8 bytes, then the
    * murmur3 fmix64 avalanche. */
  def fnvToken(t: String): Long = {
    var h = 0xcbf29ce484222325L
    t.getBytes(UTF_8).foreach(b => h = (h ^ (b & 0xffL)) * 0x100000001b3L)
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }
}
