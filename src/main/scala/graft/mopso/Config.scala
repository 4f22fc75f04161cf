package graft.mopso

/** Per-variant behavioral switches (SURVEY §7.4.3): the four reference
  * programs disagree on constants, schedules, clamping, crowding and pbest
  * semantics. Each difference is a config field with the per-variant
  * reference default — parameterized, never silently "fixed".
  */
object Config {

  /** Inertia-weight schedule (M8). */
  sealed trait WSchedule
  /** Single: w = (Wmax−Wmin)(iter_max−iter)/iter_max + Wmin — linear
    * decrease (MOPSO_Single.scala:132).
    */
  case object WDecrease extends WSchedule
  /** Avg/Particle: w = (Wmax + iter·(Wmax−Wmin))/iter_max — linear increase
    * scaled by 1/iter_max (Spark_MOPSO_Avg.scala:199,
    * Spark_MOPSO_Particle.scala:169).
    */
  case object WIncreaseScaled extends WSchedule

  /** Crowding-distance middle formula (M3). */
  sealed trait CrowdingFormula
  /** Product |Δf1|·|Δf2| of flanking neighbors (MOPSO_Single.scala:994-1020,
    * Spark_MOPSO_Particle.scala:677-703).
    */
  case object CrowdProduct extends CrowdingFormula
  /** Mean of √(euclid-to-neighbor) (Spark_MOPSO_Avg.scala:966-995). */
  case object CrowdMeanSqrt extends CrowdingFormula

  /** Leader (gbest) selection rule (M5). */
  sealed trait LeaderRule
  /** Max crowding among non-endpoint entries, ties broken uniformly
    * (getGlobalBest, Spark_MOPSO_Avg.scala:905-938).
    */
  case object LeaderMaxCrowding extends LeaderRule
  /** Sort middle by crowding ASC, pick among the first ⌊n·0.1⌋+1 — as
    * written this samples the MOST crowded entries, not the least
    * (getGlobalBestNew, Spark_MOPSO_Avg.scala:943-962); replicated as-is.
    */
  case object LeaderTopDecile extends LeaderRule

  /** pbest update semantics (M6). */
  sealed trait PbestMode
  /** Single/Particle: replace pbest when the OLD best dominates the new
    * fitness (the isDominatedBy(new, best) inversion,
    * MOPSO_Single.scala:459-472), else replace with prob 0.5.
    */
  case object PbestInverted extends PbestMode
  /** Avg: the new pbest is computed then DISCARDED — the particle keeps its
    * original (BestPosition, BestFitness) forever
    * (Spark_MOPSO_Avg.scala:248-273, the returned tuple at :272).
    */
  case object PbestDiscard extends PbestMode

  /** Fitness evaluation scope (A8 vs A9, SURVEY §7.4.1). */
  sealed trait FitnessScope
  /** Partition-local Dev/Conn scaled by rate = n_partition/n_total, summed
    * across partitions — Conn neighbors only within a partition, so results
    * DEPEND on partitioning (Spark_MOPSO_Avg.scala:843-865).
    */
  case object ScopePartition extends FitnessScope
  /** Whole-data Dev/Conn (Single sequential; Particle with the dataset
    * broadcast, Spark_MOPSO_Particle.scala:108-109 — small-data-only
    * strategy at 100 TB, SURVEY §7.4.6).
    */
  case object ScopeGlobal extends FitnessScope

  /** How input rows map to partitions (part of query semantics under
    * ScopePartition — SURVEY §4 "partitioning as a semantic knob").
    */
  sealed trait Partitioning
  /** repartition(n) — reference Avg (Spark_MOPSO_Avg.scala:86). */
  case object PartRandom extends Partitioning
  /** hash-partition by label — labelPartition variant
    * (Spark_MOPSO_Avg_labelPartition.scala:77-78).
    */
  case object PartByLabel extends Partitioning
  /** range-partition by id — deterministic across runs; engine extension
    * used by the seeded e2e gate.
    */
  case object PartByIdRange extends Partitioning
}

/** One parameterized driver loop covers all four reference programs
  * (SURVEY §3: "variant = config").
  */
final case class MopsoConfig(
    numParticles: Int = 50, // Spark_MOPSO_Avg.scala:34
    repository: Int = 15, // Spark_MOPSO_Avg.scala:31
    iterMax: Int = 30, // MOPSO_Single.scala:24 default
    lIndex: Int = 10, // Spark_MOPSO_Avg.scala:39
    c1: Double = 1.0,
    c2: Double = 2.0,
    wMax: Double = 0.9,
    wMin: Double = 0.4,
    vMax: Double = 1.0,
    vMin: Double = -1.0,
    wSchedule: Config.WSchedule = Config.WIncreaseScaled,
    crowding: Config.CrowdingFormula = Config.CrowdMeanSqrt,
    leader: Config.LeaderRule = Config.LeaderMaxCrowding,
    pbest: Config.PbestMode = Config.PbestDiscard,
    scope: Config.FitnessScope = Config.ScopePartition,
    partitioning: Config.Partitioning = Config.PartRandom,
    /** Partitions of the evaluation data. 0 means `partitionsFor(N)`, N
      * the input's row count, resolved once at the top of `Mopso.run`; a
      * negative count is rejected there.
      */
    numPartitions: Int = 32,
    clampVelocity: Boolean = true,
    clampPosition: Boolean = false,
    kOverride: Option[Int] = None, // default: inferred = countDistinct(label)
    withSilhouette: Boolean = false, // O(n²) — small data only
    /** Use the O(n·K) simplified silhouette (c20 form) for the E3
      * final-result selection instead of the exact O(n²) scorer — the
      * scale-safe default for real data sizes. Only read when
      * `withSilhouette` is on.
      */
    silhouetteSimplified: Boolean = false,
    kmeansIter: Int = 30, // numberOfKMeansIter, Spark_MOPSO_Avg.scala:38
    /** SURVEY §7.4.6 scale option: evaluate fitness on a seeded Bernoulli
      * sample of each partition (< 1.0 trades fidelity for the O(n²)
      * neighbor build and per-iteration assignment cost at 100 TB). Dev
      * partials keep their rate scaling — the sampled estimate is
      * unbiased; Conn's neighbor graph is the sample's, an approximation
      * on top of the reference's own partition-local approximation.
      */
    fitnessSampleFraction: Double = 1.0,
    /** Engine extension (VERDICT r1 §6): ScopeGlobal WITHOUT the driver
      * collect — global neighbor lists built once by the bounded top-k
      * aggregate and stored per row ([[GlobalNeighbors]]); each iteration
      * is one shuffle-free distributed job. Per-row terms are
      * bit-identical to the collected kernel; only the cross-row fp
      * summation order differs (deterministic partition-order merge).
      * Default false: the collected path stays byte-faithful to the
      * reference Particle/Single variants' pinned behavior.
      */
    globalExactDistributed: Boolean = false
)

object MopsoConfig {
  /** Spark_MOPSO_Avg defaults. */
  def avg(numPartitions: Int = 32): MopsoConfig =
    MopsoConfig(numPartitions = numPartitions)

  /** Per-partition point budget for [[partitionsFor]]. ~2500 points keeps
    * the partition-local neighbor build (O(nᵤ²) pairs ≈ 6.3M per
    * partition) comfortably in-task while leaving partitions coarse
    * enough that the per-iteration scheduling overhead stays amortized.
    */
  val TargetPointsPerPartition = 2500L

  /** The partition count that keeps the Avg variant linear as data grows
    * (SCALE.md round 7): the partition-scoped Conn precomputation is
    * O(Σ nᵤ²), so a PINNED partition count goes quadratic — measured 17x
    * for the x10→x100 decade at the reference's 8 — while holding nᵤ
    * constant restores O(n·nᵤ) (measured 26s vs 192s at x100). Use
    * `avg(0)`, which `Mopso.run` sizes by this rule, when the input is
    * not fixture-sized; m1's driver contract deliberately keeps the
    * reference's pinned 8 for fidelity.
    *
    * Third decade (r18, `scale_m1part_x1000.json`, 2M points): the
    * full seeded 10-iteration loop at `partitionsFor`-scaled 8,000
    * partitions runs in **91.2 s** (4.1/12.7/91.2 across x10/x100/
    * x1000 — the fitness scope that survives); the §7.4.6 sampled
    * face at the reference-pinned 8 partitions
    * (`fitnessSampleFraction = 0.1`) in 116.3 s. The pinned-8 FULL
    * face is arithmetic-walled: Σ nᵤ² = n²/8 = 5·10¹¹ pair ops
    * (recorded in the same file), ≈ 2.7 h at the x100-measured pair
    * rate — SURVEY §7.4.6's flagged risk, measured rather than run.
    */
  def partitionsFor(totalPoints: Long,
      targetPerPartition: Long = TargetPointsPerPartition): Int = {
    require(totalPoints >= 0 && targetPerPartition > 0)
    math.max(1L, math.min(Int.MaxValue.toLong,
      (totalPoints + targetPerPartition - 1) / targetPerPartition)).toInt
  }

  /** Spark_MOPSO_Avg_labelPartition: Avg + label-hash partitioning. */
  def labelPartition(numPartitions: Int = 32): MopsoConfig =
    MopsoConfig(numPartitions = numPartitions,
      partitioning = Config.PartByLabel)

  /** Spark_MOPSO_Particle: c1=1, c2=2, no clamping, global fitness,
    * product crowding.
    */
  def particle: MopsoConfig =
    MopsoConfig(scope = Config.ScopeGlobal,
      crowding = Config.CrowdProduct,
      pbest = Config.PbestInverted,
      clampVelocity = false, clampPosition = false)

  /** MOPSO_Single: c1=1.42, c2=1.63, decreasing w, full clamping,
    * product crowding, sequential (global scope, 1 logical partition).
    */
  def single: MopsoConfig =
    MopsoConfig(c1 = 1.42, c2 = 1.63,
      wSchedule = Config.WDecrease,
      crowding = Config.CrowdProduct,
      pbest = Config.PbestInverted,
      scope = Config.ScopeGlobal,
      numPartitions = 1, // driver-local evaluation (the sequential oracle)
      clampVelocity = true, clampPosition = true)
}
