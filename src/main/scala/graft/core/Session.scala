package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for tests and standalone drivers.
  *
  * Config is sized for the harness's `local[32]` single-JVM mode but every
  * choice also holds on a real cluster: shuffle partitions sized to cores
  * (not the 200 default), AQE on (runtime coalesce + skew-join splitting),
  * UTC so timestamp semantics match the DuckDB oracle.
  */
object GraftSession {
  def local(appName: String = "graft", cores: Int = 32): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ObjectHashAggregateExec falls back to SORT-based aggregation once
      // a task holds this many distinct keys. The 128 default predates
      // bounded-state aggregates: it makes any TypedImperativeAggregate
      // over more than 128 groups per task (c19's per-point TopKByKey,
      // percentile_approx in q16b) sort its ENTIRE input stream — 2× on
      // c19 at 20k points (44s → 22s at ScaleBench x10). 2M keeps the
      // spill valve (a task still falls back before holding millions of
      // buffers) while letting small-state aggregates stay hash-based.
      // Engine-wide convention, documented here rather than mutated
      // per-query (review r6: a hidden 10M set in one query builder
      // removed the memory guard for every later query in the session).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 21).toString)
      // Spark's default parquet timestamp encoding is legacy INT96, and
      // parquet-mr deliberately writes NO min/max statistics for INT96
      // (it is not byte-orderable) — so every timestamp column the
      // engine writes would be invisible to row-group pruning and
      // ineligible for filter pushdown on re-read, silently costing
      // full scans on any time-ranged query over engine-written data
      // (measured in SinksSpec's sorted-layout case: 1000/1000 rows
      // emitted vs ~125 once stats exist). INT64 micros matches the
      // engine's µs timestamp semantics and carries full stats.
      // Engine-wide convention, same rationale as the threshold above.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
