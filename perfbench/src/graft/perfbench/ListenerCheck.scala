package graft.perfbench

import org.apache.spark.sql.functions.col

import graft.core.GraftSession

/** Runs one known shuffle query inside a span and prints the counters the
  * listener attributed to it, as JSON; perfbench/tests asserts on them.
  */
object ListenerCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("perfbench-listener-check", 2)
    val listener = new CountingListener
    spark.sparkContext.addSparkListener(listener)
    val tr = new Tracer("listener-check", listener, () => spark)
    val (groups, s) = tr.span("shuffle") {
      spark.range(0, 100000).groupBy((col("id") % 7).as("g")).count()
        .collect().length
    }
    spark.stop()
    val c = s.counts
    println(s"""{"groups":$groups,"jobs":${c.jobs},"stages":${c.stages},""" +
      s""""tasks":${c.tasks},"shuffle_bytes":${c.shuffleBytes},""" +
      s""""executor_cpu_ns":${c.executorCpuNs},"spans":${tr.all.length}}""")
  }
}
