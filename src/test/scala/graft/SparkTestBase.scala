package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local session for Spark-backed specs. */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session

  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = super.afterAll()

  /** Spark jobs submitted while `f` runs, only those whose job group
    * begins with `group` when it is given. The listener bus is drained on
    * both sides, so no earlier job is counted and no job of `f` missed.
    */
  def jobsDuring(f: => Any, group: Option[String] = None): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (group.forall(g => Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.startsWith(g)))) n.incrementAndGet()
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(counter)
    try { f; Bridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(counter)
    n.get
  }
}

object SparkTestBase {
  /** One session per JVM — ScalaTest suites share it; sbt forks one JVM. */
  lazy val session: SparkSession = {
    // test runs build serving artifacts (p7 model, s9 index) under a
    // per-JVM temp root, so `sbt test` can never clobber the artifact a
    // concurrently-running driver gate is reading (ADVICE r12)
    System.setProperty("graft.artifacts.root",
      java.nio.file.Files.createTempDirectory("graft_test_artifacts")
        .toString)
    graft.core.GraftSession.local("graft-test", 8)
  }
}
