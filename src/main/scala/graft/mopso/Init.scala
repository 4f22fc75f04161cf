package graft.mopso

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Linalg

/** Initialization operators I1/I3 (SURVEY §2.9). */
object Init {

  /** I1: MLlib K-Means init (initPositionWithKmeans,
    * Spark_MOPSO_Avg.scala:1099-1119) — centers sorted ascending by first
    * coordinate. Engine uses the modern spark.ml API on the array<double>
    * column (converted at the boundary only, SURVEY §7.4.7) with an
    * explicit seed.
    */
  def kmeansCenters(features: DataFrame, k: Int, maxIter: Int,
      seed: Long): Array[Array[Double]] = {
    val vecs = features.select(array_to_vector(col("features")).as("fv"))
    val model = new KMeans()
      .setK(k).setMaxIter(maxIter).setSeed(seed).setFeaturesCol("fv")
      .fit(vecs)
    model.clusterCenters.map(_.toArray).sortBy(_(0))
  }

  /** I3: farthest-point (maximin) init
    * (initPositionWithDataPointMaxDistance, Spark_MOPSO_Avg.scala:1123-1187):
    * seed = random point; each next center = the point maximizing the
    * minimum distance to the chosen set; per-partition argmax then driver
    * argmax; final centers sorted by first coordinate.
    *
    * The reference runs this whole K-job loop once PER PARTICLE
    * (~50·K driver-synchronous jobs, Spark_MOPSO_Avg.scala:127-136 — a
    * physical inefficiency SURVEY §4 says not to replicate). This batched
    * form carries all `numParticles` center sets through ONE loop of K−1
    * jobs: each job broadcasts every particle's chosen set and each
    * partition returns one candidate per particle. Per-particle semantics
    * are unchanged.
    *
    * A point's scan of the chosen set stops once its running minimum is
    * no greater than the partition's best so far: the minimum only falls
    * and a winner must beat the best strictly, so the chosen centers are
    * those of the full scan.
    *
    * Seeds are drawn with replacement (independent per particle, matching
    * the reference's independent takeSample(false, 1) calls).
    */
  def maximinBatch(points: RDD[Array[Double]], k: Int, numParticles: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    val sc = points.sparkContext
    val firsts: Array[Array[Double]] =
      points.takeSample(withReplacement = true, num = numParticles, seed = seed)
    val chosen: Array[List[Array[Double]]] = firsts.map(List(_))
    for (_ <- 1 until k) {
      val bc = sc.broadcast(chosen.map(_.toArray))
      val perPartition: Array[Array[(Double, Array[Double])]] =
        try points.mapPartitions { it =>
          val pts = it.toArray
          if (pts.isEmpty) Iterator.empty
          else {
            val sets = bc.value
            Iterator.single(sets.map { set =>
              var best: (Double, Array[Double]) = (Double.NegativeInfinity, null)
              var i = 0
              while (i < pts.length) {
                var minD = Double.MaxValue
                var c = 0
                while (c < set.length && minD > best._1) {
                  val d = Linalg.euclid(set(c), pts(i))
                  if (d < minD) minD = d
                  c += 1
                }
                if (minD > best._1) best = (minD, pts(i))
                i += 1
              }
              best
            })
          }
        }.collect()
        finally bc.destroy()
      var p = 0
      while (p < numParticles) {
        // driver argmax across partitions; ties → first partition, like the
        // reference's collect().maxBy
        var best: (Double, Array[Double]) = (Double.NegativeInfinity, null)
        var q = 0
        while (q < perPartition.length) {
          if (perPartition(q)(p)._1 > best._1) best = perPartition(q)(p)
          q += 1
        }
        chosen(p) = chosen(p) :+ best._2
        p += 1
      }
    }
    chosen.map(_.toArray.sortBy((c: Array[Double]) => c(0)))
  }
}
