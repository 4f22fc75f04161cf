package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** A snapshot of the cumulative counters: Spark's (from [[CountingListener]])
  * plus this process's CPU time. Differences of two snapshots attribute the
  * work to whatever ran between them.
  */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    executorRunMs: Long = 0, executorCpuNs: Long = 0,
    taskOverheadMs: Long = 0, gcMs: Long = 0, spillBytes: Long = 0,
    resultBytes: Long = 0, shuffleBytes: Long = 0, processCpuNs: Long = 0) {

  def -(o: Counts): Counts = Counts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    executorRunMs - o.executorRunMs, executorCpuNs - o.executorCpuNs,
    taskOverheadMs - o.taskOverheadMs, gcMs - o.gcMs,
    spillBytes - o.spillBytes, resultBytes - o.resultBytes,
    shuffleBytes - o.shuffleBytes, processCpuNs - o.processCpuNs)

  def executorCpuS: Double = executorCpuNs / 1e9
  def processCpuS: Double = processCpuNs / 1e9
  def shuffleMb: Double = shuffleBytes / 1e6
}

object Counts {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs(): Long = os.getProcessCpuTime

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of each live Java thread, by thread id: the driver, Spark's
    * scheduler threads and the executor's task threads. The JVM lists
    * neither its JIT compiler threads nor its collector threads here.
    */
  def threadCpuNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU time the Java threads spent since `before` (a [[threadCpuNs]]);
    * a thread that ended in between is not counted.
    */
  def threadCpuNsSince(before: Map[Long, Long]): Long =
    threadCpuNs().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  /** JIT compilation and collector time of this JVM so far, in ms. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
}

/** Sums job, stage and task counters over every SparkContext it is added
  * to. Events arrive on the listener-bus thread, hence the atomics.
  */
final class CountingListener extends SparkListener {
  private val jobs, stages, tasks, runMs, cpuNs, overheadMs, gcMs, spill,
    result, shuffle = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      // scheduling, deserialization and result hand-off: the task's wall
      // time outside its run loop
      overheadMs.addAndGet(math.max(0L, e.taskInfo.duration - m.executorRunTime))
      gcMs.addAndGet(m.jvmGCTime)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      result.addAndGet(m.resultSize)
      shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Waits until every event posted so far is delivered, then reads. */
  def snapshot(spark: SparkSession): Counts = {
    ListenerBusDrain(spark.sparkContext)
    Counts(jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get,
      overheadMs.get, gcMs.get, spill.get, result.get, shuffle.get,
      Counts.processCpuNs())
  }
}

/** One timed call into a layer. `parent` is the enclosing span's id (-1 at
  * the top); all spans of one benchmark run share `run`.
  */
final case class Span(id: Int, parent: Int, name: String, run: String,
    startNs: Long, endNs: Long, counts: Counts) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, written out once when the run ends. Each span
  * carries the listener's counters for its interval.
  */
final class Tracer(run: String, listener: CountingListener,
    spark: () => SparkSession) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[A](name: String)(body: => A): (A, Span) = {
    val id = spans.length
    spans += null // reserve the id so children number after the parent
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val c0 = listener.snapshot(spark())
    val t0 = System.nanoTime()
    try {
      val a = body
      val t1 = System.nanoTime()
      val s = Span(id, parent, name, run, t0, t1,
        listener.snapshot(spark()) - c0)
      spans(id) = s
      (a, s)
    } finally stack = stack.tail
  }

  /** Spans of completed calls (a span whose body threw is left out). */
  def all: Seq[Span] = spans.filter(_ != null).toSeq

  def writeJson(path: String): Unit = {
    def num(v: Double) = Json.num(v)
    val lines = all.map { s =>
      val c = s.counts
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""run":${Json.str(s.run)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"jobs":${c.jobs},"stages":${c.stages},""" +
        s""""tasks":${c.tasks},"executor_cpu_s":${num(c.executorCpuS)},""" +
        s""""process_cpu_s":${num(c.processCpuS)},""" +
        s""""shuffle_mb":${num(c.shuffleMb)}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
