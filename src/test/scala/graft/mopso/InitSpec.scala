package graft.mopso

import scala.util.Random

import org.apache.spark.rdd.RDD
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core.Linalg

/** The batched maximin init with its early exit must choose exactly the
  * centers of the plain loop: every point scans the whole chosen set, the
  * per-partition argmax keeps the first strict maximum, and the driver
  * argmax keeps the first partition on ties.
  */
class InitSpec extends AnyFunSuite with SparkTestBase {

  private def plainMaximin(points: RDD[Array[Double]], k: Int,
      numParticles: Int, seed: Long): Array[Array[Array[Double]]] = {
    val parts = points.glom().collect().filter(_.nonEmpty)
    val firsts =
      points.takeSample(withReplacement = true, num = numParticles, seed = seed)
    firsts.map { first =>
      var chosen = Vector(first)
      for (_ <- 1 until k) {
        var best: (Double, Array[Double]) = (Double.NegativeInfinity, null)
        for (pts <- parts) {
          var partBest: (Double, Array[Double]) = (Double.NegativeInfinity, null)
          for (p <- pts) {
            val minD = chosen.map(c => Linalg.euclid(c, p)).min
            if (minD > partBest._1) partBest = (minD, p)
          }
          if (partBest._1 > best._1) best = partBest
        }
        chosen :+= best._2
      }
      chosen.toArray.sortBy((c: Array[Double]) => c(0))
    }
  }

  private def uniform(rng: Random, n: Int, f: Int) =
    Seq.fill(n)(Array.fill(f)(rng.nextDouble() * 10))

  private def blobs(rng: Random, n: Int, f: Int, k: Int) = {
    val centers = Seq.fill(k)(Array.fill(f)(rng.nextDouble() * 100))
    Seq.fill(n)(centers(rng.nextInt(k)).map(_ + rng.nextGaussian()))
  }

  test("maximinBatch early exit chooses the plain loop's centers") {
    val sc = spark.sparkContext
    for (seed <- Seq(3L, 17L, 101L); (kind, data) <- Seq(
        "uniform" -> uniform(new Random(seed), 300, 4),
        "blobs" -> blobs(new Random(seed), 300, 3, 5))) {
      val points = sc.parallelize(data, 4)
      val got = Init.maximinBatch(points, 5, 8, seed)
      val want = plainMaximin(points, 5, 8, seed)
      assert(got.map(_.map(_.toSeq).toSeq).toSeq ===
        want.map(_.map(_.toSeq).toSeq).toSeq, s"$kind seed $seed")
    }
  }
}
