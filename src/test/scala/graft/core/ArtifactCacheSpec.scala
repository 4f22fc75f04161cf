package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** The per-JVM artifact memo: one compute per key under concurrency,
  * per-key locking, no entry from a failed compute, and an invalidate
  * that drops exactly one (dir, artifact).
  */
class ArtifactCacheSpec extends AnyFunSuite {
  private implicit val ec: ExecutionContext = ExecutionContext.global
  // scopes unique to this spec: the cache is shared by the whole JVM
  private val root = "/artifact-cache-spec"

  test("concurrent callers of one key compute once") {
    val computes = new AtomicInteger()
    val go = new CountDownLatch(1)
    val callers = (1 to 8).map(_ => Future {
      go.await()
      ArtifactCache(s"$root/once", "a", "p") {
        Thread.sleep(100)
        computes.incrementAndGet()
      }
    })
    go.countDown()
    val got = Await.result(Future.sequence(callers), 30.seconds)
    assert(computes.get === 1)
    assert(got.toSet === Set(1))
  }

  test("a compute may call another key's compute; unrelated keys never wait") {
    // the p7 shape: writing the served model computes the fitted model
    val nested = Future {
      ArtifactCache(s"$root/nest", "model", "path") {
        ArtifactCache(s"$root/nest", "fit")(20) + 1
      }
    }
    assert(Await.result(nested, 30.seconds) === 21)
    // a compute blocked until another key's compute finishes: a lock
    // held across the map would deadlock here
    val release = new CountDownLatch(1)
    val slow = Future {
      ArtifactCache(s"$root/slow", "a") {
        assert(release.await(30, TimeUnit.SECONDS)); "slow"
      }
    }
    Thread.sleep(100) // let `slow` take its entry
    val other = Future {
      try ArtifactCache(s"$root/other", "a")("other")
      finally release.countDown()
    }
    assert(Await.result(other, 10.seconds) === "other")
    assert(Await.result(slow, 30.seconds) === "slow")
  }

  test("a compute that throws leaves no entry; the next call recomputes") {
    val computes = new AtomicInteger()
    intercept[IllegalStateException] {
      ArtifactCache(s"$root/throws", "a") {
        computes.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    assert(ArtifactCache(s"$root/throws", "a")(computes.incrementAndGet())
      === 2)
    assert(ArtifactCache(s"$root/throws", "a")(computes.incrementAndGet())
      === 2)
  }

  test("invalidate drops one dir's artifact, not a dir it prefixes") {
    val computes = new AtomicInteger()
    val dir = s"$root/x/sf0.1"
    val keys = Seq(
      (dir, "a", "p1"), (dir, "a", "p2"), (s"$dir->/out->full", "a", ()),
      (s"${dir}0", "a", "p1"), (s"${dir}0->/out->full", "a", ()),
      (dir, "b", "p1"))
    def touch() = keys.map { case (scope, art, sub) =>
      ArtifactCache(scope, art, sub)(computes.incrementAndGet())
    }
    val first = touch()
    assert(touch() === first, "every key is memoized")
    ArtifactCache.invalidate(dir, "a")
    val second = touch()
    // the three entries of (dir, a) rebuild; sf0.10 and artifact b stay
    assert(second.zip(first).map { case (n, o) => n != o } ===
      Seq(true, true, true, false, false, false))
  }
}
