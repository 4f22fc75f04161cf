package graft

/** Single-query timing utility for perf iteration: runs the named queries
  * N times each through the noop sink against SPARK_GRAFT_SF_DIR and
  * prints per-pass seconds. Usage: runMain graft.TimeOne q1 q2 ...
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val passes = Bench.envInt("SPARK_GRAFT_PASSES", 3)
    val spark = graft.core.GraftSession.local("graft-timeone", 32)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.foreach { n =>
      val times = (0 to passes).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // first pass is warmup
      println(f"[timeone] $n: warm=${times.head}%.3f " +
        times.tail.map(t => f"$t%.3f").mkString("passes=[", ", ", "]"))
    }
    spark.stop()
  }
}
