package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** Micro-batch serving: the one `foreachBatch` scaffold behind every
  * streaming face that answers each arriving batch with a batch plan
  * (a ranking, an index probe, a lookup against a frozen artifact).
  */
object MicroBatch {

  /** Starts `stream` and hands `sink` each micro-batch as `plan` maps
    * it. The typed lambda picks the Scala `foreachBatch` overload.
    */
  def serve(stream: DataFrame)(plan: DataFrame => DataFrame)(
      sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        sink(plan(batch.toDF()))
      }
      .start()
}
