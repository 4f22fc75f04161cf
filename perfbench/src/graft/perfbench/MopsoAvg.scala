package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.Cli
import graft.mopso.{Archive, ArchiveEntry, FitnessKernel, Init, Mopso,
  MopsoConfig, PartData, Particle, Swarm}
import graft.sources.Report

/** Per-layer probes of the MOPSO engine: each calls one layer directly, on
  * the workload's clustering input and configuration, inside a span.
  */
object MopsoProbes {
  /** Points in the devConn/buildNeighbors probe block: one partition at the
    * engine's own per-partition budget.
    */
  val BlockPoints: Int = MopsoConfig.TargetPointsPerPartition.toInt

  def run(spark: SparkSession, tr: Tracer, data: DataFrame,
      cfg: MopsoConfig, seed: Long, reportDir: String): Map[String, Double] = {
    val (full, sFull) = tr.span("mopso.run")(Mopso.run(spark, data, cfg, seed))
    val (_, sZero) =
      tr.span("mopso.run_iter0")(Mopso.run(spark, data, cfg.copy(iterMax = 0), seed))
    val iters = math.max(cfg.iterMax, 1).toDouble
    val loop = sFull.counts - sZero.counts

    val (_, sReport) = tr.span("sources.report")(
      Report.saveMopsoReport(spark, full, reportDir, stamp = false))

    // one evaluation block at the engine's per-partition budget
    val (pts, sPrep) = tr.span("fitness.prep")(
      data.select(col("features")).limit(BlockPoints).collect()
        .map(_.getSeq[Double](0).toArray))
    val (nbrs, sNbr) = tr.span("fitness.buildNeighbors")(
      FitnessKernel.buildNeighbors(pts, cfg.lIndex))
    val n = pts.length.toDouble
    val f = pts.head.length
    val k = full.k
    val rng = new Random(seed)
    val positions = Array.fill(cfg.numParticles)(
      Array.fill(k)(pts(rng.nextInt(pts.length))))
    val block = PartData(pts, nbrs)
    val (fits, sDev) = tr.span("fitness.devConn")(
      positions.map(p => FitnessKernel.devConn(block, p, cfg.lIndex)))
    val evals = cfg.numParticles * n * k

    // the driver half of one iteration: leader pick, velocity/position
    // update, pbest update and archive update, on the probe's fitness
    val bounds = Array.tabulate(f)(j =>
      (pts.map(_(j)).max, pts.map(_(j)).min))
    val fitArr = fits.map { case (d, c) => Array(d, c) }
    var particles = positions.zip(fitArr).map { case (p, fit) =>
      Particle(p, Swarm.initVelocity(k, f, cfg.vMin, cfg.vMax, rng),
        fit, p, fit, Array(0.0))
    }
    var archive = Archive.update(
      particles.map(p => ArchiveEntry(p.position, p.fitness, p.crowding)),
      cfg.repository, cfg.crowding)
    val updates = 30
    val (_, sUpd) = tr.span("swarm.driverUpdate") {
      for (it <- 1 to updates) {
        val w = Swarm.weight(cfg.wSchedule, it, updates, cfg.wMax, cfg.wMin)
        val gbest = Archive.leader(archive, cfg.leader, cfg.crowding, rng)
        particles = particles.map(
          Swarm.updateVelocityPosition(_, gbest.position, bounds, w, cfg, rng))
        particles = particles.zip(fitArr).map { case (p, fit) =>
          Swarm.pbestUpdate(p, fit.map(_ * (1 + 0.01 * rng.nextGaussian())),
            cfg.pbest, rng)
        }
        archive = Archive.update(archive ++ particles.map(p =>
          ArchiveEntry(p.position, p.fitness, p.crowding)),
          cfg.repository, cfg.crowding)
      }
    }

    // the two Init stages, on the same rows Mopso.run initializes from
    val feats = data.select(col("features"))
    val (_, sKm) = tr.span("init.kmeans")(
      Init.kmeansCenters(feats, k, cfg.kmeansIter, seed))
    val rows = feats.rdd.map(_.getSeq[Double](0).toArray)
      .repartition(cfg.numPartitions).persist(StorageLevel.MEMORY_AND_DISK)
    rows.count()
    val (_, sMm) = tr.span("init.maximin")(
      Init.maximinBatch(rows, k, cfg.numParticles, seed))
    rows.unpersist()

    val (_, sScan) = tr.span("sources.scan")(data.count())

    val valid = full.purities.zip(full.purityValid).filter(_._2).map(_._1)
    System.err.println(s"[perfbench] probe archive: ${full.archive.length} " +
      s"entries, best valid purity ${valid.maxOption.getOrElse(0.0)}, " +
      s"k-means purity ${full.kmeansPurity}")
    Map(
      "mopso.loop_s" -> (sFull.seconds - sZero.seconds),
      "mopso.iter_s" -> (sFull.seconds - sZero.seconds) / iters,
      "mopso.jobs_per_iter" -> loop.jobs / iters,
      "mopso.result_kb_per_iter" -> loop.resultBytes / 1e3 / iters,
      "mopso.evals_per_s" ->
        cfg.numParticles * full.totalPoints * (cfg.iterMax + 1) / sFull.seconds,
      "fitness.prep_s" -> sPrep.seconds,
      "fitness.neighbors_s" -> sNbr.seconds,
      "fitness.pairs_per_s" -> n * (n - 1) / sNbr.seconds,
      "fitness.devConn_s" -> sDev.seconds,
      "fitness.dist_evals_per_s" -> evals / sDev.seconds,
      "swarm.driver_update_ms" -> sUpd.seconds * 1e3 / updates,
      "init.kmeans_s" -> sKm.seconds,
      "init.maximin_s" -> sMm.seconds,
      "sources.scan_s" -> sScan.seconds,
      "sources.report_s" -> sReport.seconds)
  }
}

/** `mopso_avg`: the paper's own workload. One unit of work is one seeded
  * `graft.Cli.run` (variant avg, subPop 0, so `partitionsFor` sizes the
  * partitions) over Gaussian blobs generated from the seed.
  *
  * Unit `i` runs with its own algorithm seed, drawn from the run's seed: the
  * engine's K-Means init (Spark's k-means||) stops in a local optimum for
  * some algorithm seeds, which adds about 28 Spark jobs and a quarter to
  * that `Cli.run`. With one seed per run, that put whole runs a quarter
  * apart; with a seed per unit, the median of the units holds unless most
  * of them hit it.
  */
final class MopsoAvg(a: Args) extends Workload(a) {
  private val IterMax = 30
  private val blobs = s"${a.data}/blobs.parquet"
  /** (algorithm seed, report) of every `Cli.run`, in run order. */
  private val reports =
    scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]

  override val minUnits = 5

  private def unitSeed(i: Int): Long = a.seed * 1000003L + i

  private def cliArgs(outDir: String, seed: Long) = Cli.CliArgs(
    dataPath = blobs, workers = a.cores, subPop = 0, iterMax = IterMax,
    labelStartWithZero = false, variant = "avg", outDir = outDir,
    seed = seed)

  /** The configuration `Cli.run` derives for these arguments. */
  private def config(spark: SparkSession): MopsoConfig =
    Cli.configFor(cliArgs("", a.seed)).copy(numPartitions =
      MopsoConfig.partitionsFor(spark.read.parquet(blobs).count()))

  def load(spark: SparkSession): Unit = spark.read.parquet(blobs).count()

  /** The report without its wall-clock line: what a seed must reproduce. */
  private def readReport(path: String): Seq[String] =
    new File(path).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).toSeq
      .flatMap(p => java.nio.file.Files.readAllLines(p.toPath).asScala)
      .filterNot(_.startsWith("elapsed sec"))

  private def cliRun(spark: SparkSession, i: Int): OpRun = timed {
    val seed = unitSeed(i)
    (1, attempt("Cli.run") {
      val out = Cli.run(spark, cliArgs(s"${a.work}/mopso-out/${reports.length}", seed))
      val report = readReport(out)
      reports += seed -> report
      System.err.println(s"[perfbench] unit $i (seed $seed): " +
        report.find(_.startsWith("kmeans baseline")).getOrElse(""))
    })
  }

  /** One run, of unit 0, which the timed units run again (the same-seed
    * check compares the two). The JIT still compiles through the first
    * timed units; the median of the five absorbs that.
    */
  def warmup(spark: SparkSession): OpRun = cliRun(spark, 0)

  def op(spark: SparkSession, i: Int, tr: Option[Tracer]): OpRun =
    cliRun(spark, i)

  private val Entry = raw"entry \d+: dev=(\S+) conn=(\S+) purity=(\S+) valid=(\w+)".r
  private val KMeans = raw"kmeans baseline purity: (\S+) .*".r

  /** Checks the archive of every algorithm seed's report (values to 6
    * decimals), and that a seed run twice reported the same archive.
    */
  def checks(spark: SparkSession): Seq[(String, Boolean)] = {
    val bySeed = reports.toSeq.groupBy(_._1).toSeq.sortBy(_._1)
    val repository = Cli.configFor(cliArgs("", a.seed)).repository
    bySeed.flatMap { case (seed, runs) =>
      val report = runs.head._2
      val entries = report.collect { case Entry(d, c, p, v) =>
        (Array(d.toDouble, c.toDouble), p.toDouble, v.toBoolean)
      }
      val kmeans = report.collectFirst { case KMeans(p) => p.toDouble }
      val valid = entries.filter(_._3).map(_._2)
      Seq(
        s"seed $seed: archive non-empty" -> entries.nonEmpty,
        s"seed $seed: archive within repository ($repository)" ->
          (entries.length <= repository),
        s"seed $seed: archive mutually non-dominated" -> entries.forall(e =>
          !entries.exists(o => (o ne e) && Archive.dominates(o._1, e._1))),
        s"seed $seed: best valid purity >= k-means purity" ->
          kmeans.exists(k => valid.nonEmpty && valid.max >= k),
        s"seed $seed: same archive on every Cli.run" ->
          runs.forall(_._2 == report))
    } :+ ("some seed ran twice" -> bySeed.exists(_._2.length > 1))
  }

  def layers(spark: SparkSession, tr: Tracer, traced: Span): Map[String, Double] =
    MopsoProbes.run(spark, tr, spark.read.parquet(blobs), config(spark),
      a.seed, s"${a.work}/probe-report")
}
