package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Command line of the JVM half of the benchmark (`run.py` builds it). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,
    work: String,
    cores: Int,
    out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), get("work"), get("cores").toInt,
      get("out"))
  }
}

/** The outcome of one timed unit of work: wall seconds, CPU seconds of the
  * Java threads (the JVM's JIT compiler and collector threads left out: on
  * units of a few seconds their share varied by a third from run to run),
  * and how many operations it attempted and failed.
  */
final case class OpRun(wallS: Double, cpuS: Double, attempted: Int,
    failed: Int) {
  def +(o: OpRun): OpRun = OpRun(wallS + o.wallS, cpuS + o.cpuS,
    attempted + o.attempted, failed + o.failed)
}

/** One benchmark workload. The harness in [[Main]] owns the session, the
  * timing loop and the report; a workload supplies its set-up, its unit of
  * work, its output checks and its per-layer probes.
  */
abstract class Workload(val a: Args) {
  /** Timed units of work per run, at least: the median of three outlasts
    * one unit slowed by a burst of load on the host.
    */
  val minUnits: Int = 3

  /** Reads every input once: the load half of set-up. */
  def load(spark: SparkSession): Unit

  /** The untimed warm-up, the last step of set-up: units of work that warm
    * the JIT and plan caches, build the serving artifacts the unit of work
    * reads, and keep whatever outputs [[checks]] inspects.
    */
  def warmup(spark: SparkSession): OpRun

  /** One timed unit of work; `tr` records per-layer spans when tracing. */
  def op(spark: SparkSession, i: Int, tr: Option[Tracer]): OpRun

  /** Output checks, untimed: (name, passed). */
  def checks(spark: SparkSession): Seq[(String, Boolean)]

  /** Per-layer metrics of a traced run: `traced` is the traced unit of work
    * (already recorded in `tr`).
    */
  def layers(spark: SparkSession, tr: Tracer, traced: Span): Map[String, Double]

  /** Runs `body`, counting a thrown exception as one failed operation. */
  protected def attempt(name: String)(body: => Unit): Int =
    try { body; 0 }
    catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        1
    }

  protected def timed(body: => (Int, Int)): OpRun = {
    val c0 = Counts.threadCpuNs()
    val (jit0, gc0) = (Counts.jitMs(), Counts.gcMs())
    val t0 = System.nanoTime()
    val (attempted, failed) = body
    val r = OpRun((System.nanoTime() - t0) / 1e9,
      Counts.threadCpuNsSince(c0) / 1e9, attempted, failed)
    System.err.println(f"[perfbench] unit of work: ${r.wallS}%.3f s wall, " +
      f"${r.cpuS}%.2f s cpu, ${Counts.jitMs() - jit0} ms jit, " +
      f"${Counts.gcMs() - gc0} ms gc")
    r
  }
}

object Main {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Driver heap still referenced: a full collection, a pause for Spark's
    * ContextCleaner to drop the blocks whose references that collection
    * freed, a second collection, then the heap in use.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val workload: Workload = a.workload match {
      case "mopso_avg" => new MopsoAvg(a)
      case "query_serve" => new QueryServe(a)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (mopso_avg or query_serve)")
    }
    val listener = new CountingListener

    // set-up: a fresh session with every input scanned, then the warm-up
    val t0 = System.nanoTime()
    val spark = GraftSession.local("perfbench", a.cores)
    val t1 = System.nanoTime()
    workload.load(spark)
    val t2 = System.nanoTime()
    val warm = workload.warmup(spark)
    val setupS = (t2 - t0) / 1e9 + warm.wallS

    var attempted = warm.attempted
    var failed = warm.failed
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def count(r: OpRun): OpRun = {
      attempted += r.attempted; failed += r.failed; r
    }

    if (!a.trace) {
      // the live heap after set-up: a fixed point of every run (the timed
      // units run in a seed-shuffled order, and what the last query leaves
      // referenced depends on which one it was)
      val live = liveHeapMb()
      // units of work until there are minUnits of them and they add up to
      // --seconds, each after a full collection (outside its timing) so
      // none inherits the garbage of the one before
      val runs = scala.collection.mutable.ArrayBuffer.empty[OpRun]
      while (runs.length < workload.minUnits || runs.map(_.wallS).sum < a.seconds) {
        runs += count(workload.op(spark, runs.length, None))
        System.gc()
      }
      metrics("setup_s") = setupS
      metrics("op_s") = median(runs.map(_.wallS).toSeq)
      metrics("cpu_s") = median(runs.map(_.cpuS).toSeq)
      metrics("live_heap_mb") = live
    } else {
      // an untraced unit, then the traced one, each after a full collection
      // as above: the difference is the tracing overhead (with the JIT still
      // warming, the later unit has a small head start)
      System.gc()
      val untraced = count(workload.op(spark, 0, None))
      System.gc()
      spark.sparkContext.addSparkListener(listener)
      val tr = new Tracer(s"${a.workload}-${a.seed}", listener, () => spark)
      val (tracedRun, traced) = tr.span("op")(workload.op(spark, 1, Some(tr)))
      count(tracedRun)
      metrics ++= Seq(
        "setup.session_s" -> (t1 - t0) / 1e9,
        "setup.load_s" -> (t2 - t1) / 1e9,
        "setup.warmup_s" -> warm.wallS,
        "op.s" -> traced.seconds,
        "op.untraced_s" -> untraced.wallS,
        "trace.overhead_s" -> (traced.seconds - untraced.wallS),
        "op.cpu_s" -> traced.counts.processCpuS,
        "spark.jobs" -> traced.counts.jobs.toDouble,
        "spark.stages" -> traced.counts.stages.toDouble,
        "spark.tasks" -> traced.counts.tasks.toDouble,
        "spark.executor_cpu_s" -> traced.counts.executorCpuS,
        "spark.task_overhead_s" -> traced.counts.taskOverheadMs / 1e3,
        "spark.gc_s" -> traced.counts.gcMs / 1e3,
        "spark.spill_mb" -> traced.counts.spillBytes / 1e6,
        "spark.result_mb" -> traced.counts.resultBytes / 1e6,
        "spark.shuffle_mb" -> traced.counts.shuffleMb)
      metrics ++= workload.layers(spark, tr, traced)
      tr.writeJson(s"${a.work}/trace.json")
    }

    val tc = System.nanoTime()
    val checks = workload.checks(spark)
    System.err.println(s"[perfbench] checks: ${(System.nanoTime() - tc) / 1e9} s")
    attempted += checks.length
    failed += checks.count(!_._2)
    spark.stop()

    val json =
      s"""{"attempted":$attempted,"failed":$failed,""" +
        s""""checks":${checks.map { case (n, ok) =>
          s"""{"name":${Json.str(n)},"ok":$ok}""" }.mkString("[", ",", "]")},""" +
        s""""metrics":${metrics.map { case (k, v) =>
          s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")}}"""
    java.nio.file.Files.writeString(new File(a.out).toPath, json + "\n")
  }
}
