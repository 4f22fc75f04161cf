package graft.core

import java.util.concurrent.{CancellationException, Executors, TimeUnit,
  TimeoutException}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.{Duration, FiniteDuration}

import org.apache.spark.sql.{Dataset, SparkSession}

/** Supervision for a query's independent legs (Spark actions run one
  * after another only when one thread submits them in turn). The legs
  * run on their own threads under a job group unique to the call while
  * the caller's `body` runs; `body` collects the legs' results through
  * the function it is handed, which waits at most `timeout`.
  *
  * No leg outlives the call. When `body` returns or throws, unstarted legs
  * are dropped and running ones drain: they finish within what is left
  * of `timeout`, counted from the call. A leg cancelled mid-way could
  * leave its caches persisted (a Spark K-Means mid-fit), and Spark starts
  * a cancelled group's shuffle-map jobs anyway (it turns away only result
  * jobs), which would then run after the call returned. Only if the
  * drain runs out, or the wait itself timed out, are the group's running
  * and future jobs cancelled; the leg threads are then awaited for at
  * most `timeout` more. The `release` frames are unpersisted on every
  * exit.
  */
object ConcurrentLeg {
  private val TimeoutEnv = "GRAFT_LEG_TIMEOUT_SEC"

  /** Generous on purpose: the bound turns a wedged job into a loud
    * TimeoutException, it does not pace normal work.
    */
  lazy val defaultTimeout: FiniteDuration = timeoutOf(sys.env.get(TimeoutEnv))

  private[core] def timeoutOf(raw: Option[String]): FiniteDuration = {
    val sec = raw.fold(Option(7200L))(_.trim.toLongOption.filter(_ > 0))
    sec.map(Duration(_, TimeUnit.SECONDS)).getOrElse(
      throw new IllegalArgumentException(s"$TimeoutEnv must be a " +
        s"positive whole number of seconds, got '${raw.get}'"))
  }

  private val calls = new AtomicLong()

  /** Runs `legs`, at most `parallelism` at once, concurrently with `body`. */
  def all[L, A](s: SparkSession, name: String, legs: Seq[() => L],
      parallelism: Int, release: Seq[Dataset[_]] = Nil,
      timeout: FiniteDuration = defaultTimeout)(
      body: (() => Seq[L]) => A): A = {
    val sc = s.sparkContext
    val group = s"$name-${calls.incrementAndGet()}"
    val deadline = timeout.fromNow
    val pool = Executors.newFixedThreadPool(parallelism, r => {
      val t = new Thread(r, group); t.setDaemon(true); t
    })
    val ec = ExecutionContext.fromExecutorService(pool)
    val closing = new AtomicBoolean()
    val running = legs.map(leg => Future {
      if (closing.get) throw new CancellationException(s"$group has ended")
      sc.setJobGroup(group, name)
      try leg() finally sc.clearJobGroup()
    }(ec))
    val done = Future.sequence(running)(Seq, ExecutionContext.parasitic)
    var waitTimedOut = false
    try body { () =>
      try Await.result(done, timeout)
      catch { case e: TimeoutException => waitTimedOut = true; throw e }
    } finally {
      closing.set(true)
      pool.shutdown()
      if (waitTimedOut || !pool.awaitTermination(
          math.max(0L, deadline.timeLeft.toMillis), TimeUnit.MILLISECONDS)) {
        sc.cancelJobGroupAndFutureJobs(group)
        pool.shutdownNow()
        pool.awaitTermination(timeout.toMillis, TimeUnit.MILLISECONDS)
      }
      release.foreach(_.unpersist())
    }
  }

  /** One leg: `body` gets the function that waits for its result. */
  def apply[L, A](s: SparkSession, name: String,
      release: Seq[Dataset[_]] = Nil, timeout: FiniteDuration = defaultTimeout)(
      leg: => L)(body: (() => L) => A): A =
    all(s, name, Seq(() => leg), 1, release, timeout)(
      await => body(() => await().head))
}
