package graft.mopso

import java.util.concurrent.TimeoutException

import scala.util.{Random, Try}
import scala.util.control.NonFatal

import org.apache.spark.broadcast.Broadcast
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
    neighbors: Array[Array[Int]]) extends Serializable

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
  * Execution model per scope:
  *  - [[ScopePartition]] (Avg/labelPartition): data stays partitioned and
  *    cached; each iteration broadcasts the 50-particle swarm (50·K·F
  *    doubles) and runs EXACTLY ONE distributed job that evaluates every
  *    particle's rate-scaled partial fitness per partition; the driver sums
  *    partials in partition order (Spark_MOPSO_Avg.scala:211-245). Data
  *    never moves — this is the shape that scales to 1000 executors.
  *  - [[ScopeGlobal]] + distributed (Particle): the whole dataset is
  *    broadcast once and particles are farmed out per iteration
  *    (Spark_MOPSO_Particle.scala:108-109,175-188) — faithful to the
  *    reference but memory-bound by design; documented small-data-only.
  *  - [[ScopeGlobal]] local (Single): pure driver loop, the behavioral
  *    oracle for tests.
  *
  * Execution order of one run. The serial path:
  *  1. the input profile: K, N and F in one job ([[profile]]), which also
  *     rejects ragged `features`; `numPartitions = 0` resolves here;
  *  1. the rows and the evaluation blocks (plus the feature bounds, only
  *     when `clampPosition` reads them);
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
    val sc = spark.sparkContext
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

    withKMeansLeg(spark, base.select(col("features")), k, cfg.kmeansIter,
      seed) { kmeansCenters =>
      val partitioned = cfg.partitioning match {
        case PartRandom => base.repartition(cfg.numPartitions)
        case PartByLabel => base.repartition(cfg.numPartitions, col("label"))
        case PartByIdRange =>
          base.repartitionByRange(cfg.numPartitions, col("id"))
      }

      // persisted through init: the maximin loop runs K−1 jobs over this RDD
      // and would otherwise repeat the parquet scan + repartition shuffle
      // per job; released once the swarm is initialized
      val rowsRDD: RDD[(Array[Double], Int)] = partitioned
        .select(col("features"), col("label")).rdd
        .map(r => (r.getSeq[Double](0).toArray, r.getInt(1)))
        .persist(StorageLevel.MEMORY_AND_DISK)

      var blocksRDD: RDD[EvalBlock] = null
      var globalBlock: EvalBlock = null
      var nbrRows: RDD[(Array[Double], Int, Array[Array[Double]])] = null
      var globalBC: Broadcast[EvalBlock] = null
      // every exit releases what the run persisted or broadcast, a throw too
      try {
        // A4 feature bounds in ONE pass (the reference scans once per
        // feature, Spark_MOPSO_Avg.scala:1239-1252), only for the position
        // clamp, their one reader; the shared helper returns (pos, mn, mx),
        // the reference's (max, min) tuple order is restored here
        val bounds: Array[(Double, Double)] =
          if (!cfg.clampPosition) Array.empty
          else graft.operators.Clustering.featureBoundsDf(base)
            .collect().map(r => (r.getDouble(2), r.getDouble(1)))

        // evaluation blocks: per-partition for ScopePartition, one global
        // block otherwise; neighbor lists precomputed once (see
        // FitnessKernel)
        // §7.4.6: optional seeded Bernoulli sample of the evaluation rows —
        // deterministic per (seed, row index), applied before block
        // building so the neighbor graphs shrink quadratically with the
        // fraction
        val evalRDD: RDD[(Array[Double], Int)] =
          if (cfg.fitnessSampleFraction >= 1.0) rowsRDD
          else rowsRDD.mapPartitionsWithIndex { (pid, it) =>
            val r = new java.util.Random(seed ^ (pid.toLong << 17))
            it.filter(_ => r.nextDouble() < cfg.fitnessSampleFraction)
          }

        cfg.scope match {
          case ScopeGlobal if cfg.globalExactDistributed =>
            // no-collect exact global path: neighbor features gathered once
            // through the bounded top-k aggregate, rows stay distributed
            nbrRows = GlobalNeighbors.build(spark, evalRDD, cfg.lIndex)
              .persist(StorageLevel.MEMORY_AND_DISK)
            nbrRows.count() // materialize while rowsRDD is still cached
          case ScopePartition =>
            blocksRDD = evalRDD.mapPartitions { it =>
              val rows = it.toArray
              if (rows.isEmpty) Iterator.empty
              else {
                val pts = rows.map(_._1)
                Iterator.single(
                  EvalBlock(pts, rows.map(_._2),
                    FitnessKernel.buildNeighbors(pts, cfg.lIndex)))
              }
            }.persist(StorageLevel.MEMORY_AND_DISK)
            blocksRDD.count() // materialize once before the loop
          case ScopeGlobal =>
            val rows = evalRDD.collect()
            val pts = rows.map(_._1)
            globalBlock = EvalBlock(pts, rows.map(_._2),
              FitnessKernel.buildNeighbors(pts, cfg.lIndex))
        }
        if (globalBlock != null && distributedGlobal(cfg))
          globalBC = sc.broadcast(globalBlock)

        // rate denominator = the EVALUATED population (== N unless sampling);
        // cheap on the cached blocks
        val evalTotal: Long = cfg.scope match {
          case _ if cfg.fitnessSampleFraction >= 1.0 => total
          case ScopePartition =>
            blocksRDD.map(_.points.length.toLong).sum().toLong
          case ScopeGlobal if cfg.globalExactDistributed => nbrRows.count()
          case ScopeGlobal => globalBlock.points.length.toLong
        }

        def evaluate(
            positions: Array[Array[Array[Double]]]): Array[Array[Double]] =
          cfg.scope match {
            case ScopePartition =>
              val bc = sc.broadcast(positions)
              val partials = try blocksRDD
                .mapPartitionsWithIndex { (pid, it) =>
                  it.map { block =>
                    (pid, bc.value.map(pos =>
                      FitnessKernel.partitionPartial(block.toPartData, pos,
                        cfg.lIndex, evalTotal)))
                  }
                }.collect()
              finally bc.destroy()
              val fits = Array.fill(positions.length)(Array(0.0, 0.0))
              // driver merge in partition order (Spark_MOPSO_Avg.scala:230-245)
              partials.sortBy(_._1).foreach { case (_, arr) =>
                var p = 0
                while (p < arr.length) {
                  fits(p)(0) += arr(p)._1; fits(p)(1) += arr(p)._2; p += 1
                }
              }
              fits
            case ScopeGlobal if cfg.globalExactDistributed =>
              GlobalNeighbors.evaluate(nbrRows, positions, cfg.lIndex)
            case ScopeGlobal if distributedGlobal(cfg) =>
              val posBC = sc.broadcast(positions)
              val blockBC = globalBC
              val out = try sc
                .parallelize(positions.indices.toSeq,
                  math.min(positions.length,
                    math.max(sc.defaultParallelism, 1)))
                .map { i =>
                  val (dev, conn) = FitnessKernel.devConn(
                    blockBC.value.toPartData, posBC.value(i), cfg.lIndex)
                  (i, Array(dev, conn))
                }.collect()
              finally posBC.destroy()
              out.sortBy(_._1).map(_._2)
            case ScopeGlobal =>
              positions.map { pos =>
                val (dev, conn) =
                  FitnessKernel.devConn(globalBlock.toPartData, pos, cfg.lIndex)
                Array(dev, conn)
              }
          }

        // I3 swarm init (batched maximin) + I4 velocities
        val initPositions =
          Init.maximinBatch(rowsRDD.map(_._1), k, cfg.numParticles, seed)
        var particles: Array[Particle] = initPositions.map { pos =>
          Particle(pos,
            Swarm.initVelocity(k, numFeatures, cfg.vMin, cfg.vMax, rng),
            Array(0.0, 0.0), pos, Array(0.0, 0.0), Array(0.0))
        }

        rowsRDD.unpersist() // init done; blocksRDD/globalBlock carry the loop

        // initial fitness; pbest = current (Spark_MOPSO_Avg.scala:158-174)
        val initFits = evaluate(particles.map(_.position))
        particles = particles.zip(initFits).map { case (p, f) =>
          p.copy(fitness = f, bestPosition = p.position, bestFitness = f)
        }

        // archive bootstrap: whole swarm, then non-dominated filter
        // (Spark_MOPSO_Avg.scala:176-189); crowding arrays shared by reference
        var archive = Archive.update(
          particles.map(p => ArchiveEntry(p.position, p.fitness, p.crowding)),
          cfg.repository, cfg.crowding)

        var iter = 1
        while (iter <= cfg.iterMax) {
          val w = Swarm.weight(cfg.wSchedule, iter, cfg.iterMax, cfg.wMax,
            cfg.wMin)
          val gbest = Archive.leader(archive, cfg.leader, cfg.crowding, rng)
          particles = particles.map(
            Swarm.updateVelocityPosition(_, gbest.position, bounds, w, cfg,
              rng))
          val fits = evaluate(particles.map(_.position))
          particles = particles.zip(fits).map { case (p, f) =>
            Swarm.pbestUpdate(p, f, cfg.pbest, rng)
          }
          archive = Archive.update(
            archive ++ particles.map(p =>
              ArchiveEntry(p.position, p.fitness, p.crowding)),
            cfg.repository, cfg.crowding)
          iter += 1
        }

        // E1 purity for every archive entry + the kmeans baseline in ONE job:
        // per partition, per center set, a (label, cluster) histogram; driver
        // merges and takes the majority cluster per label
        // (Spark_MOPSO_Avg.scala:325-389 runs K filter+assignment jobs per
        // entry instead)
        // I1 K-Means baseline (the reference's own comparison eval,
        // Spark_MOPSO_Avg.scala:361-389): the leg's result, joined here
        val kmeans = kmeansCenters()
        val centerSets = archive.map(_.position) :+ kmeans
        val hists: Array[Map[(Int, Int), Long]] = cfg.scope match {
          case ScopePartition =>
            val bc = sc.broadcast(centerSets)
            val parts = try blocksRDD.mapPartitions { it =>
              it.map(block => bc.value.map(cs => histogram(block, cs)))
            }.collect()
            finally bc.destroy()
            val merged = Array.fill(centerSets.length)(
              scala.collection.mutable.Map.empty[(Int, Int), Long])
            parts.foreach { arr =>
              arr.zipWithIndex.foreach { case (h, i) =>
                h.foreach { case (key, n) =>
                  merged(i)(key) = merged(i).getOrElse(key, 0L) + n
                }
              }
            }
            merged.map(_.toMap)
          case ScopeGlobal if cfg.globalExactDistributed =>
            GlobalNeighbors.histograms(nbrRows, centerSets)
          case ScopeGlobal =>
            centerSets.map(cs => histogram(globalBlock, cs))
        }
        // under sampling, purity/validity are measured on the evaluated sample
        val purities = hists.map(h => purityOf(h, evalTotal))
        val validity = hists.map(h => majorityValid(h, k))

        // optional E3 final-result selection: exact silhouette per entry over
        // the collected dataset (the reference also collects here,
        // Spark_MOPSO_Avg.scala:618 — small-data-only, hence the flag).
        // With silhouetteSimplified the selection is FULLY DISTRIBUTED: all
        // archive entries scored by one aggregate pass over the original
        // DataFrame (Eval.simplifiedSilhouetteDf, the c20 shape) — no
        // collect at any data size.
        val (sils, bestCenters) =
          if (cfg.withSilhouette && cfg.silhouetteSimplified) {
            val ss = Eval.simplifiedSilhouetteDf(
              data.select(col("features")), archive.map(_.position).toSeq)
            val best = archive(ss.indexOf(ss.max)).position
            (Some(ss), Some(best.sortBy((c: Array[Double]) => c(0))))
          } else if (cfg.withSilhouette) {
            val block =
              if (globalBlock != null) globalBlock
              else if (blocksRDD != null) {
                // serve from the still-cached partition blocks — rowsRDD was
                // unpersisted after init and would recompute the scan+shuffle
                val blocks = blocksRDD.collect()
                EvalBlock(blocks.flatMap(_.points), blocks.flatMap(_.labels),
                  Array.empty)
              } else {
                // no-collect global path: the silhouette flag is the one
                // (small-data-only, reference-faithful) consumer that still
                // materializes the points
                val rows = nbrRows.map(r => (r._1, r._2)).collect()
                EvalBlock(rows.map(_._1), rows.map(_._2), Array.empty)
              }
            val (ss, best) = Eval.selectBestBySilhouette(archive, block,
              cfg.silhouetteSimplified)
            (Some(ss), Some(best))
          } else (None, None)

        MopsoResult(archive, kmeans,
          purities.dropRight(1), validity.dropRight(1),
          purities.last, validity.last,
          sils, bestCenters,
          k, numFeatures, total, (System.nanoTime() - t0) / 1e9)
      } finally {
        rowsRDD.unpersist()
        if (blocksRDD != null) blocksRDD.unpersist()
        if (nbrRows != null) nbrRows.unpersist()
        if (globalBC != null) globalBC.destroy()
      }
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

  /** Runs `body` beside the K-Means baseline on a [[ConcurrentLeg]];
    * `body` joins the leg through the function it is handed. A failing
    * `body` first lets the leg finish, bounded by the leg's timeout: a
    * K-Means cancelled mid-fit leaves its caches persisted, and a map-stage
    * job of its SQL part can start after the cancellation and outlive the
    * run (Spark turns away the jobs of a cancelled group only when they
    * are result jobs). A timed-out join propagates at once.
    */
  private def withKMeansLeg[A](spark: SparkSession, features: DataFrame,
      k: Int, maxIter: Int, seed: Long)(
      body: (() => Array[Array[Double]]) => A): A =
    ConcurrentLeg(spark, "mopso-kmeans")(
      Init.kmeansCenters(features, k, maxIter, seed)) { kmeans =>
      try body(kmeans)
      catch {
        case NonFatal(e) if !e.isInstanceOf[TimeoutException] =>
          Try(kmeans())
          throw e
      }
    }

  private def distributedGlobal(cfg: MopsoConfig): Boolean =
    cfg.scope == ScopeGlobal && cfg.numPartitions > 1

  private def histogram(block: EvalBlock,
      centers: Array[Array[Double]]): Map[(Int, Int), Long] = {
    val (clusters, _) =
      FitnessKernel.assign(block.points, centers, block.neighbors)
    val m = scala.collection.mutable.Map.empty[(Int, Int), Long]
    var i = 0
    while (i < block.labels.length) {
      val key = (block.labels(i), clusters(i))
      m(key) = m.getOrElse(key, 0L) + 1
      i += 1
    }
    m.toMap
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

  implicit private class EvalBlockOps(val b: EvalBlock) extends AnyVal {
    def toPartData: PartData = PartData(b.points, b.neighbors)
  }
}
