package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers shared by every query family of [[SparkEntry.registry]]:
  * table readers, the canonical DuckDB tokenizer twin, float
  * quantization, per-JVM scratch. */
private[graft] object QueryShared {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Per-JVM-unique scratch dir for queries that materialize files
    * (WARC round-trip, layout manifest): a fixed tmpdir name would let
    * concurrent bench/verify runs clobber each other's output mid-read.
    * One UUID per JVM keeps a session's own re-runs idempotent (the
    * writers delete-then-write) while isolating parallel sessions. */
  private[graft] lazy val scratchRoot: String = {
    val d = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_scratch_${java.util.UUID.randomUUID().toString.take(8)}")
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Float-quantize double columns for cross-engine hash stability. */
  private[graft] def f32(df: DataFrame, names: String*): DataFrame =
    names.foldLeft(df)((d, n) => d.withColumn(n, col(n).cast("float")))

  /** Canonical whitespace tokens in DuckDB, twin of TextFunctions.tokens. */
  private[graft] val oToks =
    "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"


  /** events.parquet stores ts as INT64 TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects; with spark.sql.legacy.parquet.nanosAsLong
    * (set by the entry points) it reads as nanos-since-epoch LONG, which
    * we convert to a microsecond timestamp here. */
  private[graft] def readEvents(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    e.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division — `/` would go through double and lose µs
        // precision on epoch-nanos magnitudes (2^53 < 1.7e18)
        e.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => e
    }
  }
}
