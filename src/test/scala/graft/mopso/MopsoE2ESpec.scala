package graft.mopso

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

  test("a throw after the blocks are built releases every persisted RDD") {
    val s = spark
    import s.implicits._
    val parts = 2
    // a 3-feature row whose label hashes to its own partition: its block
    // builds (a lone point has no neighbor pairs), the ragged vector then
    // throws inside the K-Means baseline
    val loneLabel = (1 to 50).find { l =>
      Seq(0, l).toDF("label")
        .select(org.apache.spark.sql.functions.expr(
          s"pmod(hash(label), $parts)")).as[Int].collect().distinct.length == 2
    }.get
    val data = ((1 to 20).map(i => (Seq(i.toDouble, (i % 3).toDouble), 0)) :+
      ((Seq(1.0, 2.0, 3.0), loneLabel))).toDF("features", "label")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    intercept[Exception] {
      Mopso.run(spark, data, MopsoConfig.labelPartition(parts)
        .copy(iterMax = 1, numParticles = 4), seed = 7L)
    }
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
