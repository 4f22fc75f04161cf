package graft.mopso

import scala.util.Random

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.ConcurrentLeg
import graft.mopso.Config._

/** Per-partition evaluation block: points + labels + precomputed in-scope
  * neighbor lists (see [[FitnessKernel]]).
  */
final case class EvalBlock(
    points: Array[Array[Double]],
    labels: Array[Int],
    neighbors: Array[Array[Int]]) extends Serializable {
  def partData: PartData = PartData(points, neighbors)
}

final case class MopsoResult(
    archive: Array[ArchiveEntry],
    kmeansCenters: Array[Array[Double]],
    purities: Array[Double],
    /** E1 validity (Spark_MOPSO_Avg.scala:349-355): an entry's purity
      * counts only when the K per-label majority clusters are all
      * DISTINCT — otherwise two true classes collapsed onto one centroid.
      */
    purityValid: Array[Boolean],
    kmeansPurity: Double,
    kmeansPurityValid: Boolean,
    /** Mean silhouette per archive entry + the best entry's sorted centers
      * (selectBestArchiveAsFinalResult, Spark_MOPSO_Avg.scala:578-602) —
      * only when cfg.withSilhouette (O(n²), small data).
      */
    silhouettes: Option[Array[Double]],
    bestCenters: Option[Array[Array[Double]]],
    k: Int,
    numFeatures: Int,
    totalPoints: Long,
    elapsedSec: Double)

/** The single parameterized MOPSO driver loop (SURVEY §3: the reference's
  * three mains become one loop; variant = [[MopsoConfig]]).
  *
  * Execution model: `run` reads the fitness scope once, to build its
  * [[Evaluator]]: [[Evaluator.PartitionBlocks]] (Avg/labelPartition),
  * [[Evaluator.NeighborRows]] (`globalExactDistributed`) or
  * [[Evaluator.WholeBlock]] (Particle/Single). The loop, the purity and
  * the silhouette ask the evaluator, never the scope.
  *
  * Execution order of one run. The serial path:
  *  1. the input profile: K, N and F in one job ([[profile]]), which also
  *     rejects ragged `features`; `numPartitions = 0` resolves here;
  *  1. the rows and the evaluator's build, one job that also counts the
  *     evaluated rows (plus the feature bounds, only when `clampPosition`
  *     reads them);
  *  1. the maximin swarm init (K−1 jobs);
  *  1. the loop: one fitness job per iteration;
  *  1. the join of the K-Means leg;
  *  1. the purity histograms, one job for the archive and the baseline.
  *
  * Beside it, from the profile to the join, the K-Means baseline
  * ([[Init.kmeansCenters]]) runs on a [[graft.core.ConcurrentLeg]]: only
  * the histograms read its centers. `run` returns only after the leg has
  * ended; a failed run first lets the leg finish, so no job or cache of
  * it is left behind.
  */
object Mopso {

  def run(spark: SparkSession, data: DataFrame, cfg0: MopsoConfig,
      seed: Long): MopsoResult = {
    val t0 = System.nanoTime()
    val rng = new Random(seed)
    require(cfg0.numPartitions >= 0, "numPartitions must be 0 (sized by " +
      s"partitionsFor) or positive, got ${cfg0.numPartitions}")
    val hasId = data.columns.contains("id")
    require(hasId || cfg0.partitioning != PartByIdRange,
      "PartByIdRange needs an id column")
    val base = data.select(
      (if (hasId) Seq(col("id")) else Seq.empty) ++
        Seq(col("features"), col("label")): _*)

    // schema inference K/F/N (Spark_MOPSO_Avg.scala:89-103) in one job
    // instead of the reference's three collect round-trips
    val InputProfile(labels, total, numFeatures) = profile(base)
    require(total > 0, "Mopso.run needs at least one input row")
    val k = cfg0.kOverride.getOrElse(labels)
    // Spark's K-Means, the baseline, rejects K < 2, but only on the leg,
    // which the run joins after its loop
    require(k >= 2, "K must be at least 2, got " +
      cfg0.kOverride.fold(s"$labels distinct labels")(o => s"kOverride = $o"))
    val cfg =
      if (cfg0.numPartitions > 0) cfg0
      else cfg0.copy(numPartitions = MopsoConfig.partitionsFor(total))

    ConcurrentLeg(spark, "mopso-kmeans")(Init.kmeansCenters(
        base.select(col("features")), k, cfg.kmeansIter, seed)) {
      kmeansCenters =>
      val partitioned = cfg.partitioning match {
        case PartRandom => base.repartition(cfg.numPartitions)
        case PartByLabel => base.repartition(cfg.numPartitions, col("label"))
        case PartByIdRange =>
          base.repartitionByRange(cfg.numPartitions, col("id"))
      }

      // persisted through init, whose K−1 maximin jobs would otherwise
      // each repeat the scan + repartition shuffle; released after it
      val rowsRDD: RDD[(Array[Double], Int)] = partitioned
        .select(col("features"), col("label")).rdd
        .map(r => (r.getSeq[Double](0).toArray, r.getInt(1)))
        .persist(StorageLevel.MEMORY_AND_DISK)

      // every exit releases what the run persisted or broadcast, a throw too
      try {
        // A4 feature bounds in ONE pass (the reference scans per feature,
        // Spark_MOPSO_Avg.scala:1239-1252), only for the position clamp;
        // (pos, mn, mx) rows back to the reference's (max, min) order
        val bounds: Array[(Double, Double)] =
          if (!cfg.clampPosition) Array.empty
          else graft.operators.Clustering.featureBoundsDf(base)
            .collect().map(r => (r.getDouble(2), r.getDouble(1)))

        // §7.4.6: optional seeded Bernoulli sample of the evaluation rows,
        // deterministic per (seed, row index), taken before the evaluator's
        // build so the neighbor graphs shrink quadratically
        val evalRDD: RDD[(Array[Double], Int)] =
          if (cfg.fitnessSampleFraction >= 1.0) rowsRDD
          else rowsRDD.mapPartitionsWithIndex { (pid, it) =>
            val r = new java.util.Random(seed ^ (pid.toLong << 17))
            it.filter(_ => r.nextDouble() < cfg.fitnessSampleFraction)
          }

        // the one place the run reads its fitness scope
        val scope: Evaluator = cfg.scope match {
          case ScopeGlobal if cfg.globalExactDistributed =>
            new Evaluator.NeighborRows(spark, evalRDD, cfg.lIndex)
          case ScopePartition =>
            new Evaluator.PartitionBlocks(evalRDD, cfg.lIndex)
          case ScopeGlobal =>
            new Evaluator.WholeBlock(evalRDD, cfg.lIndex,
              distributed = cfg.numPartitions > 1)
        }
        try {
          // I3 swarm init (batched maximin) + I4 velocities
          val initPositions =
            Init.maximinBatch(rowsRDD.map(_._1), k, cfg.numParticles, seed)
          var particles: Array[Particle] = initPositions.map { pos =>
            Particle(pos,
              Swarm.initVelocity(k, numFeatures, cfg.vMin, cfg.vMax, rng),
              Array(0.0, 0.0), pos, Array(0.0, 0.0), Array(0.0))
          }

          rowsRDD.unpersist() // init done; the evaluator carries the loop

          // initial fitness; pbest = current (Spark_MOPSO_Avg.scala:158-174)
          val initFits = scope.evaluate(particles.map(_.position))
          particles = particles.zip(initFits).map { case (p, f) =>
            p.copy(fitness = f, bestPosition = p.position, bestFitness = f)
          }

          // archive bootstrap: whole swarm, then non-dominated filter
          // (Spark_MOPSO_Avg.scala:176-189); crowding arrays shared by
          // reference
          var archive = Archive.update(particles.map(p =>
            ArchiveEntry(p.position, p.fitness, p.crowding)),
            cfg.repository, cfg.crowding)

          var iter = 1
          while (iter <= cfg.iterMax) {
            val w = Swarm.weight(cfg.wSchedule, iter, cfg.iterMax, cfg.wMax,
              cfg.wMin)
            val gbest = Archive.leader(archive, cfg.leader, cfg.crowding, rng)
            particles = particles.map(
              Swarm.updateVelocityPosition(_, gbest.position, bounds, w, cfg,
                rng))
            val fits = scope.evaluate(particles.map(_.position))
            particles = particles.zip(fits).map { case (p, f) =>
              Swarm.pbestUpdate(p, f, cfg.pbest, rng)
            }
            archive = Archive.update(
              archive ++ particles.map(p =>
                ArchiveEntry(p.position, p.fitness, p.crowding)),
              cfg.repository, cfg.crowding)
            iter += 1
          }

          // E1 purity for every archive entry + the I1 K-Means baseline
          // (the leg's result, Spark_MOPSO_Avg.scala:361-389) in ONE job
          // (Spark_MOPSO_Avg.scala:325-389 runs K jobs per entry); under
          // sampling, measured on the evaluated sample
          val kmeans = kmeansCenters()
          val hists = scope.histograms(archive.map(_.position) :+ kmeans)
          val purities = hists.map(h => purityOf(h, scope.n))
          val validity = hists.map(h => majorityValid(h, k))

          // optional E3 final-result selection: exact silhouette per entry
          // over the evaluator's points (the reference also collects,
          // Spark_MOPSO_Avg.scala:618 — small-data-only, hence the flag),
          // or with silhouetteSimplified one aggregate pass over the input
          // (Eval.simplifiedSilhouetteDf, the c20 shape), no collect
          val (sils, bestCenters) =
            if (cfg.withSilhouette && cfg.silhouetteSimplified) {
              val ss = Eval.simplifiedSilhouetteDf(
                data.select(col("features")), archive.map(_.position).toSeq)
              val best = archive(ss.indexOf(ss.max)).position
              (Some(ss), Some(best.sortBy((c: Array[Double]) => c(0))))
            } else if (cfg.withSilhouette) {
              val (ss, best) =
                Eval.selectBestBySilhouette(archive, scope.points())
              (Some(ss), Some(best))
            } else (None, None)

          MopsoResult(archive, kmeans,
            purities.dropRight(1), validity.dropRight(1),
            purities.last, validity.last,
            sils, bestCenters,
            k, numFeatures, total, (System.nanoTime() - t0) / 1e9)
        } finally scope.release()
      } finally rowsRDD.unpersist()
    }
  }

  /** K (distinct non-null labels), N (rows) and F (the first row's feature
    * count, in partition order) of the input.
    */
  private[mopso] final case class InputProfile(k: Int, n: Long, f: Int)

  /** [[InputProfile]] of `base` in one job that decodes no feature vector.
    * Every row must hold F features: a ragged or null `features` throws
    * here, before the run persists anything.
    */
  private[mopso] def profile(base: DataFrame): InputProfile = {
    // per partition: its labels, its row count and its first two distinct
    // feature counts in row order (a null vector counts -1)
    val parts = base
      .select(coalesce(size(col("features")), lit(-1)), col("label")).rdd
      .mapPartitions { it =>
        val labels = scala.collection.mutable.HashSet.empty[Int]
        val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
        var n = 0L
        it.foreach { r =>
          if (!r.isNullAt(1)) labels += r.getInt(1)
          if (sizes.length < 2 && !sizes.contains(r.getInt(0)))
            sizes += r.getInt(0)
          n += 1
        }
        Iterator.single((labels.toArray, n, sizes.toArray))
      }.collect()
    val sizes = parts.flatMap(_._3)
    val f = sizes.headOption.getOrElse(0)
    require(f >= 0, "features is null in the first row")
    sizes.find(_ != f).foreach { s =>
      throw new IllegalArgumentException(s"features must hold F = $f " +
        "entries (the first row's) in every row, found " +
        (if (s < 0) "a null one" else s"one with $s"))
    }
    InputProfile(parts.flatMap(_._1).distinct.length, parts.map(_._2).sum, f)
  }

  /** Purity = Σ_label max_cluster count / N (E1). */
  private def purityOf(hist: Map[(Int, Int), Long], total: Long): Double = {
    if (total == 0) return 0.0
    hist.groupBy(_._1._1).values
      .map(_.values.max).sum.toDouble / total
  }

  /** E1 validity: the per-label majority clusters must be pairwise
    * distinct (HashMap-size check, Spark_MOPSO_Avg.scala:349-355). Ties
    * break toward the lower cluster id (deterministic; the reference's
    * maxBy over a HashMap is iteration-order dependent).
    */
  private def majorityValid(hist: Map[(Int, Int), Long], k: Int): Boolean = {
    val majorities = hist.groupBy(_._1._1).values.map { perLabel =>
      perLabel.toSeq.map { case ((_, cluster), n) => (cluster, n) }
        .sortBy { case (cluster, n) => (-n, cluster) }.head._1
    }
    majorities.toSet.size == k
  }

  /** Archive as a DataFrame (rank, f1, f2, purity) for the query surface. */
  def archiveDf(spark: SparkSession, result: MopsoResult): DataFrame = {
    import spark.implicits._
    result.archive.zip(result.purities)
      .map { case (e, p) => (e.fitness(0), e.fitness(1), p) }
      .sortBy(t => (t._1, t._2))
      .zipWithIndex
      .map { case ((f1, f2, p), i) => (i + 1, f1, f2, p) }
      .toSeq.toDF("rank", "dev", "conn", "purity")
  }
}
