package graft.mopso

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.mopso.Config._
import graft.sources.Tables

/** End-to-end seeded MOPSO gates (SURVEY §5.4): determinism (same seed →
  * identical archive fitness), archive invariants, and quality (purity of
  * the best archive entry is in the K-Means baseline's neighborhood).
  */
class MopsoE2ESpec extends AnyFunSuite with SparkTestBase {

  private def data = Tables.labeledPoints(spark, sfDir)

  private val cfg = MopsoConfig.avg(numPartitions = 4).copy(
    iterMax = 5, partitioning = PartByIdRange)

  test("seeded Avg run is deterministic: identical archive fitness twice") {
    val r1 = Mopso.run(spark, data, cfg, seed = 42L)
    val r2 = Mopso.run(spark, data, cfg, seed = 42L)
    val f1 = r1.archive.map(e => (e.fitness(0), e.fitness(1))).sorted.toSeq
    val f2 = r2.archive.map(e => (e.fitness(0), e.fitness(1))).sorted.toSeq
    assert(f1 === f2)
    assert(r1.purities.toSeq === r2.purities.toSeq)
  }

  /** Compares an archive DataFrame against a committed golden CSV at the
    * golden's 6-decimal precision.
    */
  private def assertGolden(df: org.apache.spark.sql.DataFrame,
      resource: String): Unit = {
    val got = df.orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(resource))
    val golden = try src.getLines()
      .filterNot(l => l.startsWith("#") || l.startsWith("rank"))
      .map { l =>
        val Array(r, d, c, p) = l.split(',')
        (r.toInt, d.toDouble, c.toDouble, p.toDouble)
      }.toVector
    finally src.close()
    assert(got.length === golden.length,
      s"$resource: archive size drifted: ${got.length} vs ${golden.length}")
    got.zip(golden).foreach { case ((r1, d1, c1, p1), (r2, d2, c2, p2)) =>
      assert(r1 === r2)
      assert(math.abs(d1 - d2) < 5e-7, s"rank $r1 dev: $d1 vs golden $d2")
      assert(math.abs(c1 - c2) < 5e-7, s"rank $r1 conn: $c1 vs golden $c2")
      assert(math.abs(p1 - p2) < 5e-7, s"rank $r1 purity: $p1 vs golden $p2")
    }
  }

  test("cross-round golden: the m1 driver query reproduces the committed " +
    "archive exactly") {
    // the EXACT surface the driver's m1 row exercises (config + seed +
    // fixture), pinned against a committed golden so drift introduced in
    // ANY round — not just within one session — fails loudly
    assertGolden(graft.SparkEntry.mopsoArchive(spark, sfDir),
      "/golden/m1_archive_sf0.001.csv")
  }

  test("cross-round golden: Particle variant archive") {
    // pins the variant-specific code paths the m1/Avg golden cannot see:
    // global-scope fitness, CrowdProduct, PbestInverted, NO clamping (M7)
    // and the increasing-w schedule under global eval (M8)
    val r = Mopso.run(spark, data, MopsoConfig.particle.copy(iterMax = 10),
      seed = 42L)
    assertGolden(Mopso.archiveDf(spark, r), "/golden/m1_particle_sf0.001.csv")
  }

  test("cross-round golden: Single variant archive") {
    // pins the sequential-oracle path: c1=1.42/c2=1.63, WDecrease (M8),
    // full velocity+position clamping (M7), driver-local evaluation
    val r = Mopso.run(spark, data, MopsoConfig.single.copy(iterMax = 10),
      seed = 42L)
    assertGolden(Mopso.archiveDf(spark, r), "/golden/m1_single_sf0.001.csv")
  }

  test("archive invariants: non-empty, ≤ repository, mutually non-dominated") {
    val r = Mopso.run(spark, data, cfg, seed = 7L)
    assert(r.archive.nonEmpty)
    assert(r.archive.length <= cfg.repository)
    for (a <- r.archive; b <- r.archive if !(a eq b))
      assert(!Archive.dominates(b.fitness, a.fitness) ||
        java.util.Arrays.equals(a.fitness, b.fitness))
    assert(r.k === 10)
    assert(r.numFeatures === 64)
    assert(r.totalPoints === 500L)
  }

  test("quality: best archive purity lands near the K-Means baseline") {
    val r = Mopso.run(spark, data,
      cfg.copy(iterMax = 10, withSilhouette = true), seed = 42L)
    val best = r.purities.max
    assert(best > 0.0 && best <= 1.0)
    assert(r.kmeansPurity > 0.0)
    // MOPSO seeded by farthest-point init over 10 iterations should reach
    // a reasonable fraction of the baseline on the embeddings fixture
    assert(best >= r.kmeansPurity * 0.5,
      s"best purity $best vs kmeans ${r.kmeansPurity}")
    // E1 validity flags computed for every entry + baseline
    assert(r.purityValid.length === r.archive.length)
    // E3 selection: silhouettes in [-1, 1], best centers sorted by x0
    val sils = r.silhouettes.get
    assert(sils.forall(v => v >= -1.0 && v <= 1.0))
    val best0 = r.bestCenters.get.map(_(0))
    assert(best0.zip(best0.tail).forall { case (a, b) => a <= b })
  }

  test("silhouetteSimplified: E3 selection runs distributed, no collect") {
    val r = Mopso.run(spark, data,
      cfg.copy(iterMax = 3, withSilhouette = true,
        silhouetteSimplified = true), seed = 42L)
    val sils = r.silhouettes.get
    assert(sils.length === r.archive.length)
    assert(sils.forall(v => v >= -1.0 && v <= 1.0))
    val best0 = r.bestCenters.get.map(_(0))
    assert(best0.zip(best0.tail).forall { case (a, b) => a <= b })
    // the distributed scores must equal the local simplified scorer's
    val rows = Tables.labeledPoints(spark, sfDir).collect().sortBy(_.getLong(0))
    val block = EvalBlock(rows.map(_.getSeq[Double](1).toArray),
      rows.map(_.getInt(2)), Array.empty)
    r.archive.map(_.position).zip(sils).foreach { case (cs, s) =>
      assert(math.abs(Eval.simplifiedSilhouette(block, cs) - s) < 1e-9)
    }
  }

  test("fitness sampling: deterministic, bounded archive, cheaper eval") {
    val sampled = cfg.copy(iterMax = 3, fitnessSampleFraction = 0.5)
    val r1 = Mopso.run(spark, data, sampled, seed = 21L)
    val r2 = Mopso.run(spark, data, sampled, seed = 21L)
    assert(r1.archive.map(_.fitness.toSeq).toSeq ===
      r2.archive.map(_.fitness.toSeq).toSeq) // sampling is seeded
    assert(r1.archive.nonEmpty && r1.archive.length <= 15)
    assert(r1.totalPoints === 500L) // result reports the FULL population
  }

  test("global scope (Particle variant) runs and stays within bounds") {
    val r = Mopso.run(spark, data, MopsoConfig.particle.copy(iterMax = 3),
      seed = 11L)
    assert(r.archive.nonEmpty && r.archive.length <= 15)
  }

  test("sequential oracle (Single variant) runs driver-local") {
    val r = Mopso.run(spark, data, MopsoConfig.single.copy(iterMax = 3),
      seed = 11L)
    assert(r.archive.nonEmpty && r.archive.length <= 15)
  }

  test("scope equivalence: 1-partition Avg fitness == global fitness") {
    // with a single partition, rate = n/n = 1 and Conn's neighbor scope is
    // the whole dataset — the partition-local kernel must reproduce the
    // global kernel exactly (cross-validates the two evaluate paths)
    val onePart = cfg.copy(numPartitions = 1, iterMax = 2)
    // identical config except the evaluation path (partition-local kernel
    // vs driver-local global kernel); same partitioned RDD → same sample
    val globalLocal = onePart.copy(scope = Config.ScopeGlobal)
    val r1 = Mopso.run(spark, data, onePart, seed = 99L)
    val r2 = Mopso.run(spark, data, globalLocal, seed = 99L)
    val f1 = r1.archive.map(e => (e.fitness(0), e.fitness(1))).sorted.toSeq
    val f2 = r2.archive.map(e => (e.fitness(0), e.fitness(1))).sorted.toSeq
    assert(f1 === f2)
  }

  test("labelPartition variant: partitioning changes Conn (semantic knob)") {
    val byLabel = MopsoConfig.labelPartition(numPartitions = 4)
      .copy(iterMax = 2)
    val byRange = cfg.copy(numPartitions = 4, iterMax = 2)
    val r1 = Mopso.run(spark, data, byLabel, seed = 5L)
    val r2 = Mopso.run(spark, data, byRange, seed = 5L)
    assert(r1.archive.nonEmpty && r2.archive.nonEmpty)
    // same seed, different partitioning → different partition-local Conn
    // (SURVEY §4: partitioning is part of query semantics in Avg scope)
    val c1s = r1.archive.map(_.fitness(1)).toSet
    val c2s = r2.archive.map(_.fitness(1)).toSet
    assert(c1s != c2s)
  }

  /** Runs `f`, which must throw `E`, and checks what the failed run
    * leaves: no thread of the K-Means leg still runs the leg's code when
    * `f` returns, nothing the run or the leg persisted is still persisted,
    * and once the listener bus has caught up no job is active. Returns the
    * exception and the number of jobs the leg started.
    */
  private def failedRunLeavesNothing[E <: Throwable: ClassTag](
      f: => Any): (E, Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var e: Option[E] = None
    var legBusy: Set[Thread] = Set.empty
    val legJobs = jobsDuring({
      e = Some(intercept[E](f))
      legBusy = Thread.getAllStackTraces.asScala.collect {
        case (t, stack) if t.getName.startsWith("mopso-kmeans") &&
            stack.exists(_.getClassName.startsWith("graft.")) => t
      }.toSet
    }, group = Some("mopso-kmeans"))
    assert(legBusy.isEmpty, "the leg still ran when the run returned")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
    (e.get, legJobs)
  }

  test("a throw after the blocks are built releases every persisted RDD") {
    // the run's own jobs are cancelled from its first maximin-init job on,
    // after the rows and the blocks are persisted; the K-Means leg runs in
    // a job group of its own and is let finish
    val sc = spark.sparkContext
    val group = "spec-after-blocks"
    val canceller = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(group))
          .foreach { g =>
            if (e.stageInfos.exists(_.name.contains("Init.scala")))
              sc.cancelJobGroupAndFutureJobs(g)
          }
    }
    sc.addSparkListener(canceller)
    // the partition blocks, then the neighbor rows of the no-collect
    // global path; a cancelled group stays cancelled, so each run has its
    // own
    try Seq(cfg, MopsoConfig.particle.copy(numPartitions = 8,
        globalExactDistributed = true)).zipWithIndex.foreach { case (c, i) =>
      sc.setJobGroup(s"$group-$i", "a run cancelled after its blocks")
      val (e, _) = try failedRunLeavesNothing[SparkException] {
        Mopso.run(spark, data, c, seed = 7L)
      } finally sc.clearJobGroup()
      assert(e.getMessage.toLowerCase.contains("cancel"))
    } finally sc.removeSparkListener(canceller)
  }

  test("K below 2 and PartByIdRange without an id fail before the run") {
    val input = data
    var noId: IllegalArgumentException = null
    val noIdJobs = jobsDuring {
      noId = intercept[IllegalArgumentException] {
        Mopso.run(spark, input.drop("id"), cfg, seed = 7L)
      }
    }
    assert(noId.getMessage.contains("PartByIdRange needs an id column"))
    assert(noIdJobs === 0)
    Seq(cfg.copy(kOverride = Some(1)) -> "kOverride = 1",
        cfg.copy(kOverride = Some(0)) -> "kOverride = 0").foreach {
      case (c, named) =>
        var e: IllegalArgumentException = null
        val jobs = jobsDuring {
          e = intercept[IllegalArgumentException] {
            Mopso.run(spark, input, c, seed = 7L)
          }
        }
        assert(e.getMessage.contains("K must be at least 2"))
        assert(e.getMessage.contains(named))
        assert(jobs === 1, "only the profile job runs")
    }
    val oneLabel = spark.createDataFrame(spark.sparkContext.parallelize(
      (1 to 10).map(i => (Seq(i.toDouble, 0.0), 3)), 2))
      .toDF("features", "label")
    val e = intercept[IllegalArgumentException] {
      Mopso.run(spark, oneLabel, MopsoConfig.avg(2), seed = 7L)
    }
    assert(e.getMessage.contains("got 1 distinct labels"))
  }

  test("a run that throws while the leg runs stops and releases the leg") {
    // the jobs of a whole K-Means baseline on this input and seed
    val fullLeg = jobsDuring(
      Mopso.run(spark, data, cfg.copy(iterMax = 0), seed = 7L),
      group = Some("mopso-kmeans"))
    // L = -1 makes the blocks job throw while K-Means is under way; the
    // leg then runs to its end instead of being cancelled mid-fit
    val (_, legJobs) = failedRunLeavesNothing[SparkException] {
      Mopso.run(spark, data, cfg.copy(iterMax = 1, lIndex = -1), seed = 7L)
    }
    assert(legJobs === fullLeg)
  }

  test("ragged features are rejected before anything is persisted") {
    val ragged = spark.createDataFrame(spark.sparkContext.parallelize(
      (1 to 20).map(i => (Seq(i.toDouble, 0.0), i % 2)) :+
        ((Seq(1.0, 2.0, 3.0), 0)), 3)).toDF("features", "label")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var e: IllegalArgumentException = null
    val jobs = jobsDuring {
      e = intercept[IllegalArgumentException] {
        Mopso.run(spark, ragged, MopsoConfig.avg(2), seed = 7L)
      }
    }
    assert(e.getMessage.contains("features"))
    assert(e.getMessage.contains("F = 2"))
    assert(e.getMessage.contains("one with 3"))
    assert(jobs === 1, "only the profile job runs")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("the profile's K, N and F equal the SQL aggregate") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // 6 rows over 8 partitions: partitions 0 and 4 are empty; labels with
    // gaps and a null one; an id column
    val rows = Seq[(Long, Seq[Double], Option[Int])](
      (10L, Seq(1.0, 2.0, 3.0), Some(1)), (11L, Seq(0.0, 0.0, 1.0), Some(4)),
      (12L, Seq(5.0, 5.0, 5.0), Some(9)), (13L, Seq(2.0, 1.0, 0.0), None),
      (14L, Seq(7.0, 7.0, 7.0), Some(4)), (15L, Seq(3.0, 3.0, 3.0), Some(1)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 8))
      .toDF("id", "features", "label")
    assert(df.rdd.glom().collect().map(_.isEmpty).toSeq ===
      Seq(true, false, false, false, true, false, false, false))
    val sql = df.agg(countDistinct(col("label")), count(lit(1)),
      first(size(col("features")))).head()
    val got = Mopso.profile(df)
    assert(got === Mopso.InputProfile(
      sql.getLong(0).toInt, sql.getLong(1), sql.getInt(2)))
    assert(got === Mopso.InputProfile(3, df.count(), 3))
  }

  test("numPartitions = 0 resolves to partitionsFor(N); negative rejected") {
    val run0 = Mopso.run(spark, data,
      cfg.copy(numPartitions = 0, iterMax = 2), seed = 3L)
    val parts = MopsoConfig.partitionsFor(500L)
    val runN = Mopso.run(spark, data,
      cfg.copy(numPartitions = parts, iterMax = 2), seed = 3L)
    assert(run0.archive.map(_.fitness.toSeq).toSeq ===
      runN.archive.map(_.fitness.toSeq).toSeq)
    assert(run0.purities.toSeq === runN.purities.toSeq)
    val input = data
    var e: IllegalArgumentException = null
    val jobs = jobsDuring {
      e = intercept[IllegalArgumentException] {
        Mopso.run(spark, input, cfg.copy(numPartitions = -2), seed = 3L)
      }
    }
    assert(e.getMessage.contains("numPartitions") &&
      e.getMessage.contains("-2"))
    assert(jobs === 0)
  }

  test("a seeded iterMax = 0 run submits a fixed number of Spark jobs") {
    // per fitness scope: the profile, the rows and the evaluation data,
    // the maximin init, the initial fitness job, the histograms and the
    // K-Means leg's jobs; the Avg run took 44 before the profile replaced
    // the 3-job SQL aggregate and the 4 bounds jobs went (avg does not
    // clamp positions)
    val input = data
    val pins = Seq(
      "avg" -> (cfg, 38),
      "labelPartition(4)" -> (MopsoConfig.labelPartition(4), 37),
      "particle" -> (MopsoConfig.particle, 36),
      "single" -> (MopsoConfig.single, 39),
      "particle, globalExactDistributed, 8 partitions" ->
        (MopsoConfig.particle.copy(numPartitions = 8,
          globalExactDistributed = true), 40),
      "avg, fitnessSampleFraction = 0.5" ->
        (cfg.copy(fitnessSampleFraction = 0.5), 38))
    val got = pins.map { case (name, (c, _)) =>
      name -> jobsDuring(Mopso.run(spark, input, c.copy(iterMax = 0),
        seed = 42L))
    }
    assert(got === pins.map { case (name, (_, jobs)) => name -> jobs })
  }
}
