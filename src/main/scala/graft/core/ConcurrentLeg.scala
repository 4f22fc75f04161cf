package graft.core

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.{Duration, FiniteDuration}

import org.apache.spark.sql.{Dataset, SparkSession}

/** Supervision for a query's independent legs (Spark actions run one
  * after another only when one thread submits them in turn). The legs
  * run on their own threads under a job group unique to the call while
  * the caller's `body` runs; `body` collects the legs' results through
  * the function it is handed, which waits at most `timeout`. If a leg
  * fails, `body` fails or the wait times out, the group's running and
  * future jobs are cancelled and unstarted legs dropped. The `release`
  * frames are unpersisted on every exit.
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
      timeout: Duration = defaultTimeout)(body: (() => Seq[L]) => A): A = {
    val sc = s.sparkContext
    val group = s"$name-${calls.incrementAndGet()}"
    val pool = Executors.newFixedThreadPool(parallelism, r => {
      val t = new Thread(r, group); t.setDaemon(true); t
    })
    val ec = ExecutionContext.fromExecutorService(pool)
    val running = legs.map(leg => Future {
      sc.setJobGroup(group, name)
      try leg() finally sc.clearJobGroup()
    }(ec))
    val done = Future.sequence(running)(Seq, ExecutionContext.parasitic)
    try body(() => Await.result(done, timeout))
    finally {
      if (done.value.exists(_.isSuccess)) pool.shutdown()
      else { sc.cancelJobGroupAndFutureJobs(group); pool.shutdownNow() }
      release.foreach(_.unpersist())
    }
  }

  /** One leg: `body` gets the function that waits for its result. */
  def apply[L, A](s: SparkSession, name: String,
      release: Seq[Dataset[_]] = Nil, timeout: Duration = defaultTimeout)(
      leg: => L)(body: (() => L) => A): A =
    all(s, name, Seq(() => leg), 1, release, timeout)(
      await => body(() => await().head))
}
