package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for graft's mains and specs: `local[cpus]`
  * with the shared configuration.
  *   - shuffle partitions = cpus;
  *   - UTC session time zone;
  *   - `ansi.enabled=false`: reference parity, where Java integer
  *     accumulation wraps on overflow (ANSI mode would throw on the SUM
  *     downcast, see AggFunctions.Sum);
  *   - `parquet.nanosAsLong`: events.parquet carries INT64
  *     TIMESTAMP(NANOS), read as long (QueryShared.readEvents converts
  *     it back);
  *   - [[GraftExtensions]], for the `graft_*` SQL names;
  *   - UI off.
  * Callers add their own settings to the returned builder. */
object Sessions {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
}
