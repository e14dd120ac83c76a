package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: find training documents that share long
  * n-gram overlap with an evaluation set — the standard check before a
  * corpus ships (a training doc containing an eval question poisons the
  * benchmark).
  *
  * Same inverted-index shape as the dedup family, but ASYMMETRIC: the
  * (small) benchmark side explodes into a shingle index that the corpus
  * index joins against — at scale the benchmark index broadcasts and
  * the corpus is scanned once. Overlap is counted in distinct shared
  * shingles; `minShared` tunes sensitivity (1 = any shared n-gram of
  * length n flags the doc).
  */
object Contamination {

  /** Flag corpus docs sharing ≥ `minShared` distinct n-gram shingles
    * with any benchmark doc. Returns (corpusId, benchId, shared) —
    * one row per contaminated (corpus, benchmark) pair. */
  def flag(corpus: DataFrame, bench: DataFrame, textCol: String,
           idCol: String, n: Int = 8, minShared: Int = 1): DataFrame = {
    def index(df: DataFrame, as: String) =
      df.select(col(idCol).as(as),
        explode(Dedup.hashedShingles(col(textCol), n)).as(s"__sh_$as"))
    val c = index(corpus, "corpus_id")
    val b = broadcast(index(bench, "bench_id"))
    c.join(b, col("__sh_corpus_id") === col("__sh_bench_id"))
      .groupBy("corpus_id", "bench_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** The clean corpus: input minus every flagged document. */
  def clean(corpus: DataFrame, bench: DataFrame, textCol: String,
            idCol: String, n: Int = 8, minShared: Int = 1): DataFrame = {
    val bad = flag(corpus, bench, textCol, idCol, n, minShared)
      .select(col("corpus_id").as(idCol)).distinct()
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** CROSS-SOURCE overlap matrix: for every pair of sources, how many
    * distinct LINE fingerprints ([[TextFunctions.fingerprint]] per
    * non-blank line) they share, plus each side's distinct-line count —
    * the provenance-dedup planning view ("CommonCrawl and C4 share 38%
    * of their lines; dedup them together, sample them separately").
    *
    * Shape: explode to (source, line_fp), distinct, then ONE aggregate
    * per fingerprint collecting its source set — bounded by the source
    * vocabulary, never by row count — and an explode of the set's
    * within-pairs. A self-join on fingerprint would square the hot-line
    * buckets; the set aggregate caps the per-fingerprint work at
    * |sources|². Symmetric pairs emit once (a < b, lexicographic).
    *
    * @return (source_a, source_b, shared_lines, lines_a, lines_b) */
  def crossSourceMatrix(docs: DataFrame, textCol: String,
                        sourceCol: String): DataFrame = {
    val lines = docs
      .select(col(sourceCol).as("src"),
        explode(split(col(textCol), "\n")).as("__line"))
      .filter(trim(col("__line")) =!= "")
      .select(col("src"), TextFunctions.fingerprint(col("__line")).as("fp"))
      .distinct()
    val perSource = lines.groupBy("src").agg(count(lit(1)).as("n_lines"))
    // r16: in-bucket pairs via codegen generators instead of the
    // CodegenFallback nested-transform HOF (see Dedup.winnowPairs) —
    // identical sorted (a < b) pair stream and counts.
    val pairs = lines
      .groupBy("fp")
      .agg(sort_array(collect_set(col("src"))).as("srcs"))
      .filter(size(col("srcs")) > 1)
      .select(posexplode(col("srcs")).as(Seq("i", "a")), col("srcs"))
      .select(col("a").as("source_a"),
        explode(slice(col("srcs"), col("i") + lit(2),
          greatest(size(col("srcs")) - col("i") - lit(1), lit(0))))
          .as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_lines"))
    pairs
      .join(perSource.select(col("src").as("source_a"),
        col("n_lines").as("lines_a")), Seq("source_a"))
      .join(perSource.select(col("src").as("source_b"),
        col("n_lines").as("lines_b")), Seq("source_b"))
      .select("source_a", "source_b", "shared_lines", "lines_a", "lines_b")
  }
}
