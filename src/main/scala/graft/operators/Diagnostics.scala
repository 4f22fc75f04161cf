package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** E6 partition diagnostics (showBaseInfo, Spark_MOPSO_Avg.scala:1256-1303):
  * the reference walks every partition with mapPartitionsWithIndex to
  * report how many rows and distinct labels each holds — semantically a
  * group-by on the partition id, which is what the engine runs (one job,
  * partial aggregation, no driver loop).
  */
object Diagnostics {

  /** Per-partition (rows, distinct labels) — the labelPartition variant's
    * sanity check that each partition ≈ one class.
    */
  def partitionLabelStats(df: DataFrame): DataFrame =
    df.groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("label")).as("n_labels"))
      .orderBy(col("pid"))
}
