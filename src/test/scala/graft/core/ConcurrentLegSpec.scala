package graft.core

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Supervision of concurrent legs: a failed caller's legs drained, and
  * cancelled once the drain runs out of the timeout or the wait itself
  * times out, release of the named frames, one job group per call, the
  * in-flight bound, and the timeout knob's errors.
  */
class ConcurrentLegSpec extends AnyFunSuite with SparkTestBase {
  /** Job starts and ends of the legs whose group begins with `prefix`. */
  private class LegJobs(prefix: String) extends SparkListener {
    val groups = new ConcurrentLinkedQueue[String]()
    val started = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    @volatile var succeeded = false
    private val ids = new ConcurrentLinkedQueue[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
      if (g.exists(_.startsWith(prefix))) {
        groups.add(g.get); ids.add(e.jobId); started.countDown()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (ids.contains(e.jobId)) {
        succeeded = e.jobResult == JobSucceeded; ended.countDown()
      }
  }

  private def watching[A](prefix: String)(f: LegJobs => A): A = {
    val l = new LegJobs(prefix)
    spark.sparkContext.addSparkListener(l)
    try f(l) finally spark.sparkContext.removeSparkListener(l)
  }

  /** A job of ~200 s that notices a task kill within a millisecond. */
  private def slowJob(): Long = spark.sparkContext
    .parallelize(1 to 100000, 2).map { x => Thread.sleep(2); x }.count()

  test("a failing caller cancels the leg's running Spark job") {
    watching("spec-caller") { jobs =>
      // the ~200 s leg drains for what is left of a 2 s timeout, then
      // its group is cancelled
      intercept[IllegalStateException] {
        ConcurrentLeg(spark, "spec-caller", timeout = 2.seconds)(slowJob()) {
            _ =>
          assert(jobs.started.await(60, TimeUnit.SECONDS))
          throw new IllegalStateException("caller failed")
        }
      }
      assert(jobs.ended.await(30, TimeUnit.SECONDS),
        "the leg's job must end once the caller fails")
      assert(!jobs.succeeded)
    }
  }

  test("a failing caller drains an SQL leg with an exchange: no job and " +
      "no cache of it is left") {
    val sc = spark.sparkContext
    val slow = org.apache.spark.sql.functions.udf { (x: Long) =>
      Thread.sleep(2); x
    }
    val before = sc.getPersistentRDDs.keySet
    watching("spec-drain") { jobs =>
      intercept[IllegalStateException] {
        ConcurrentLeg(spark, "spec-drain") {
          // the leg releases its cache only when it finishes, as a Spark
          // K-Means does; a cancelled leg would leave it persisted
          val d = spark.range(0, 2000, 1, 4)
            .select((col("id") % 10).as("k"), slow(col("id")).as("v"))
            .persist()
          val n = d.groupBy(col("k")).count().collect().length
          d.unpersist()
          n
        } { _ =>
          assert(jobs.started.await(60, TimeUnit.SECONDS))
          throw new IllegalStateException("caller failed")
        }
      }
    }
    Bridge.drainListenerBus(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("a leg past a 1 s timeout is cancelled and its frames unpersisted") {
    val frame = spark.range(100).toDF("x").persist()
    frame.count()
    assert(frame.storageLevel !== StorageLevel.NONE)
    watching("spec-timeout") { jobs =>
      intercept[TimeoutException] {
        ConcurrentLeg(spark, "spec-timeout", release = Seq(frame),
          timeout = 1.second)(slowJob())(leg => leg())
      }
      assert(jobs.ended.await(30, TimeUnit.SECONDS),
        "the timed-out leg's job must be cancelled")
      assert(!jobs.succeeded)
    }
    assert(frame.storageLevel === StorageLevel.NONE)
  }

  test("two concurrent calls get distinct job-group ids") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    watching("spec-ids") { jobs =>
      val calls = (1 to 2).map(_ => Future {
        ConcurrentLeg(spark, "spec-ids")(spark.range(10).count())(_())
      })
      assert(Await.result(Future.sequence(calls), 60.seconds) ===
        Seq(10L, 10L))
      Bridge.drainListenerBus(spark.sparkContext)
      val groups = jobs.groups.asScala.toSeq
      assert(groups.nonEmpty)
      assert(groups.distinct.size === 2, groups)
    }
  }

  test("at most `parallelism` legs run at once; results keep leg order") {
    val running = new AtomicInteger()
    val peak = new AtomicInteger()
    val legs = (1 to 8).map { i => () =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep(50)
      running.decrementAndGet()
      i
    }
    val got = ConcurrentLeg.all(spark, "spec-pool", legs, parallelism = 3)(
      _())
    assert(got === (1 to 8))
    assert(peak.get <= 3 && peak.get >= 2)
  }

  test("a bad GRAFT_LEG_TIMEOUT_SEC names the variable and the value") {
    assert(ConcurrentLeg.timeoutOf(None) === 7200.seconds)
    assert(ConcurrentLeg.timeoutOf(Some(" 30 ")) === 30.seconds)
    Seq("2h", "0", "-5", "").foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        ConcurrentLeg.timeoutOf(Some(bad))
      }
      assert(e.getMessage.contains("GRAFT_LEG_TIMEOUT_SEC"))
      assert(e.getMessage.contains(s"'$bad'"))
    }
  }
}
