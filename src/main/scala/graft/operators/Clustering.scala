package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{ArtifactCache, Closure, ConcurrentLeg, Linalg}
import graft.sources.Tables
import graft.streaming.MicroBatch

/** The clustering data-plane operators (SURVEY §2.3/§2.4/§2.11) expressed
  * Spark-first over the embeddings fixture, with fixed deterministic
  * centroids (the first 10 vectors) so every operator is DuckDB-oracle
  * checkable.
  *
  * Core shape: nearest-centroid assignment (reference `calPartitionKmeans`,
  * Spark_MOPSO_Avg.scala:1306-1315 caller, kernel :660-675) is a broadcast
  * nested-loop join + per-row argmin. Here the centroid set is tiny and
  * driver-resident, so it compiles to a *literal* array of structs and the
  * argmin is `array_sort(...)[0]` — pure codegen'd built-ins, zero shuffle,
  * zero join. Cluster ids are 1-based like the reference (:664-669), ties
  * broken toward the lower id (`minBy` takes the first minimum).
  */
object Clustering {

  type Q = (SparkSession, String) => DataFrame

  /** Number of fixed centroids for the oracle-checkable query surface. */
  val K = 10

  /** KNN depth for Conn (reference `LIndex`, Spark_MOPSO_Avg.scala:39). */
  val L = 10

  def queries: Map[String, Q] = Map(
    "c1_assign" -> c1Assign,
    "c2_dev" -> c2Dev,
    "c3_cluster_hist" -> c3ClusterHist,
    "c4_feature_bounds" -> c4FeatureBounds,
    "c5_purity_by_label" -> c5PurityByLabel,
    "c6_purity" -> c6Purity,
    "c7_inertia" -> c7Inertia,
    "c8_cluster_avgdist" -> c8ClusterAvgdist,
    "c9_knn" -> c9Knn,
    "c10_conn" -> c10Conn,
    "c11_pareto_front" -> c11ParetoFront,
    "c12_crowding" -> c12Crowding,
    "c13_minmax_norm" -> c13MinmaxNorm,
    "c14_silhouette" -> c14Silhouette,
    "c15_dbi" -> c15Dbi,
    "c16_accuracy" -> c16Accuracy,
    "c17_conn_partitioned" -> c17ConnPartitioned,
    "m2_mopso_iteration" -> m2MopsoIteration,
    "c18_weighted_dist" -> c18WeightedDist,
    "c19_conn_topk" -> c19ConnTopk,
    "c21_conn_lsh" -> c21ConnLsh,
    "c20_silhouette_simplified" -> c20SilhouetteSimplified,
    "s12_knn_graph" -> s12KnnGraph,
    "s12b_knn_graph_capped" -> s12bKnnGraphCapped,
    "s13_graph_clusters" -> s13GraphClusters,
    "s13b_graph_clusters_capped" -> s13bGraphClustersCapped,
    "s14_graph_assign" -> s14GraphAssign,
    "s14b_graph_assign_capped" -> s14bGraphAssignCapped,
    "s14c_graph_assign_hash" -> s14cGraphAssignHash
  )

  /** Bucket width for the partition-local Conn query (c17). */
  val ConnBucketWidth = 64

  // ---- assignment (J4) -----------------------------------------------------

  /** Deterministic centroids: the first K embedding vectors, cluster id =
    * vec_id + 1 (1-based like the reference).
    */
  def centers(s: SparkSession, dir: String): Seq[(Int, Array[Double])] =
    Tables.embeddings(s, dir)
      .filter(col("vec_id") < K)
      .select(col("vec_id"), col("features"))
      .collect()
      .map(r => (r.getLong(0).toInt + 1, r.getSeq[Double](1).toArray))
      .sortBy(_._1)
      .toSeq

  /** Argmin over a literal centroid set: array_sort on struct(dist, cid)
    * sorts lexicographically, so `[0]` is the nearest centroid with ties
    * broken toward the lower id — exactly `minBy(_._2)` over 1-based ids
    * (Spark_MOPSO_Avg.scala:660-675). Whole-stage-codegen friendly; the
    * centroids ride into the plan as literals (a broadcast in spirit,
    * without even a broadcast exchange).
    */
  def assignStruct(features: Column, cs: Seq[(Int, Array[Double])]): Column =
    element_at(
      array_sort(array(cs.map { case (cid, vec) =>
        struct(
          Linalg.euclidCol(features, typedlit(vec)).as("dist"),
          lit(cid).as("cluster"))
      }: _*)),
      1)

  /** Points tagged with nearest centroid: (id, label, cluster, dist). */
  def assigned(s: SparkSession, dir: String): DataFrame = {
    val cs = centers(s, dir)
    Tables.labeledPoints(s, dir)
      .withColumn("a", assignStruct(col("features"), cs))
      .select(col("id"), col("label"), col("features"),
        col("a.cluster").as("cluster"), col("a.dist").as("dist"))
  }

  def c1Assign: Q = (s, dir) =>
    assigned(s, dir).select(col("id"), col("cluster")).orderBy(col("id"))

  /** Dev objective: Σ min-distances (Spark_MOPSO_Avg.scala:1030-1033).
    * Algebraic → partial aggregation comes free from Catalyst.
    */
  def c2Dev: Q = (s, dir) =>
    assigned(s, dir).agg(
      round(sum(col("dist")), 3).as("dev"),
      count(lit(1)).as("n_points"))

  /** Cluster occupancy histogram (A5, Spark_MOPSO_Avg.scala:480-487). */
  def c3ClusterHist: Q = (s, dir) =>
    assigned(s, dir).groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("cluster"))

  /** Per-feature min/max bounds (A4, Spark_MOPSO_Avg.scala:1239-1252) in
    * ONE pass — the reference runs one full RDD scan per feature; posexplode
    * + hash agg covers all F dimensions in a single scan. Shared with the
    * MOPSO driver's bounds step.
    */
  def featureBoundsDf(points: DataFrame): DataFrame =
    points
      .select(posexplode(col("features")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .orderBy(col("pos"))

  def c4FeatureBounds: Q = (s, dir) =>
    featureBoundsDf(Tables.labeledPoints(s, dir))

  /** Purity inner step (E1, Spark_MOPSO_Avg.scala:465-493): majority
    * cluster per true label. The reference's `maxBy` over a HashMap has
    * nondeterministic tie order; here ties break toward the lower cluster
    * id (documented divergence, deterministic by construction).
    */
  def c5PurityByLabel: Q = (s, dir) =>
    majorityRanked(s, dir)
      .filter(col("rn") === 1)
      .select(col("label"), col("cluster").as("top_cluster"),
        col("n").as("n_top"))
      .orderBy(col("label"))

  /** Purity total: Σ majority counts / N (Spark_MOPSO_Avg.scala:339-355).
    * N is derived in-plan as Σn over the full label×cluster histogram —
    * one job, no separate count() action.
    */
  def c6Purity: Q = (s, dir) =>
    majorityRanked(s, dir)
      .agg(round(
        sum(when(col("rn") === 1, col("n")).otherwise(lit(0L))) /
          sum(col("n")).cast("double"), 6).as("purity"))

  /** The label × cluster histogram (label, cluster, n) c5 and c6 share,
    * each label's clusters numbered `rn` by count, ties toward the lower
    * cluster id: `rn = 1` is the label's majority cluster.
    */
  private def majorityRanked(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("label"))
      .orderBy(col("n").desc, col("cluster"))
    assigned(s, dir)
      .groupBy(col("label"), col("cluster"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
  }

  /** Inertia / WSSSE: Σ d² (E5, Spark_MOPSO_Avg.scala:1351-1364). */
  def c7Inertia: Q = (s, dir) =>
    assigned(s, dir).agg(
      round(sum(col("dist") * col("dist")), 3).as("inertia"))

  /** Mean intra-cluster distance (A6, the DBI inner step,
    * Spark_MOPSO_Avg.scala:1320-1325).
    */
  def c8ClusterAvgdist: Q = (s, dir) =>
    assigned(s, dir).groupBy(col("cluster"))
      .agg(round(avg(col("dist")), 6).as("avg_dist"))
      .orderBy(col("cluster"))

  // ---- KNN self-join (J5) and Conn (A10) -----------------------------------

  /** All-pairs distances + per-point ranking. Exact O(n²) formulation —
    * correct at verify scale; the 100 TB path is the LSH variant
    * (graft.functions.Similarity) or the reference's own partition-local
    * approximation (Conn inside one partition, A8 semantics).
    */
  private def rankedNeighbors(
      s: SparkSession, dir: String, probeFilter: Column): DataFrame = {
    val pc = assigned(s, dir).select(col("id"), col("features"), col("cluster"))
    val probe = pc.filter(probeFilter)
      .select(col("id").as("xi"), col("features").as("xv"),
        col("cluster").as("cx"))
    val cand = pc.select(col("id").as("yi"), col("features").as("yv"),
      col("cluster").as("cy"))
    val w = Window.partitionBy(col("xi")).orderBy(col("dist"), col("yi"))
    probe.crossJoin(cand)
      .where(col("xi") =!= col("yi"))
      .select(col("xi"), col("cx"), col("cy"), col("yi"),
        Linalg.euclidCol(col("xv"), col("yv")).as("dist"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= L)
  }

  /** Top-L neighbors for the first 50 points (J5/T3 surface). */
  def c9Knn: Q = (s, dir) =>
    rankedNeighbors(s, dir, col("id") < 50)
      .select(col("xi").as("qid"), col("rnk").as("rank"),
        col("yi").as("nid"))
      .orderBy(col("qid"), col("rank"))

  /** Conn objective, exact/global scope (Spark_MOPSO_Avg.scala:1036-1063):
    * for each point, take the L nearest neighbors; for each neighbor in the
    * SAME cluster add 1/(rank) [reference: 1/(index+1), :1055-1059 — note
    * it rewards same-cluster neighbors; replicated as written, SURVEY
    * §7.4.2]. Sum over all points.
    */
  def c10Conn: Q = (s, dir) =>
    rankedNeighbors(s, dir, lit(true))
      .agg(round(sum(
        when(col("cx") === col("cy"), lit(1.0) / col("rnk"))
          .otherwise(lit(0.0))), 4).as("conn"))

  /** The Avg variant's ACTUAL fitness semantics as an oracle-checkable
    * query (A8, calFitnessNew Spark_MOPSO_Avg.scala:843-865): Conn
    * evaluated with neighbors restricted to the point's own partition,
    * each partition's value scaled by rate = n_partition/n_total, summed.
    * Here "partition" is the deterministic bucket id div
    * [[ConnBucketWidth]] so both engines agree on the scopes — exactly
    * the partition-local approximation the reference computes, minus the
    * nondeterministic partitioner. Within-bucket KNN is O(Σ nᵤ²), the
    * reference's own scale story for Conn.
    */
  def c17ConnPartitioned: Q = (s, dir) => {
    val pc = assigned(s, dir)
      .select(col("id"), col("features"), col("cluster"),
        floor(col("id") / ConnBucketWidth).as("bucket"))
    val x = pc.select(col("bucket"), col("id").as("xi"),
      col("features").as("xv"), col("cluster").as("cx"))
    val y = pc.select(col("bucket"), col("id").as("yi"),
      col("features").as("yv"), col("cluster").as("cy"))
    val w = Window.partitionBy(col("xi")).orderBy(col("dist"), col("yi"))
    val n = Tables.labeledPoints(s, dir).count()
    val perBucket = x.join(y, Seq("bucket"))
      .where(col("xi") =!= col("yi"))
      .select(col("bucket"), col("xi"), col("cx"), col("cy"), col("yi"),
        Linalg.euclidCol(col("xv"), col("yv")).as("dist"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= L)
      .groupBy(col("bucket"))
      .agg(sum(when(col("cx") === col("cy"), lit(1.0) / col("rnk"))
        .otherwise(lit(0.0))).as("conn"))
    val sizes = pc.groupBy(col("bucket")).agg(count(lit(1)).as("nb"))
    perBucket.join(sizes, Seq("bucket"))
      .agg(round(sum(col("conn") * col("nb") / lit(n.toDouble)), 4)
        .as("conn_scaled"))
  }

  /** Particle count of the m2 literal swarm — the reference's swarm
    * size (`numParticles = 50`, Spark_MOPSO_Avg.scala:37).
    */
  val M2Particles = 50

  /** m2: ONE MOPSO fitness iteration for a LITERAL 50-particle swarm,
    * inside the hash gate (VERDICT r18 next-3). The reference's inner
    * loop evaluates every particle's (Dev, Conn) under the A8
    * partition-local semantics — per-partition Dev/Conn scaled by
    * rate = n_partition/n_total, then merged by summation
    * (calFitnessNew, Spark_MOPSO_Avg.scala:139-174, 843-865). c2 and
    * c17 prove the two halves separately for ONE centroid set; this
    * row composes them PER PARTICLE so the fitness merge itself — the
    * arithmetic every iteration of every variant rides — is checked
    * cross-engine, which the stochastic m1 archive (rows-only) and the
    * committed goldens cannot do.
    *
    * The swarm is deterministic and SQL-replayable: particle p's k-th
    * centroid (cluster id k+1) is fixture vector vec_id =
    * (p·[[K]] + k) mod n. Partition scope is c17's deterministic
    * bucket id div [[ConnBucketWidth]] — the same id-range shape as
    * the reference's PartByIdRange partitioner, minus the
    * nondeterminism. The EVALUATION is the engine's real kernel, not a
    * SQL re-expression: each bucket builds its [[graft.mopso.PartData]]
    * (points id-ordered, so the kernel's stable neighbor tie rule ≡
    * ORDER BY dist, id) once and evaluates all 50 particles through
    * [[graft.mopso.FitnessKernel.partitionPartial]] — exactly the
    * per-partition reuse Mopso.run ships — then one grouped sum merges
    * the rate-scaled partials. Scale shape: buckets are
    * ≤ [[ConnBucketWidth]] rows by construction (the groupByKey state
    * is bounded), the swarm broadcasts at layout size, and the merge
    * is an algebraic aggregate — the reference's own partition-local
    * design, distributed honestly.
    */
  def m2MopsoIteration: Q = (s, dir) => {
    import s.implicits._
    val pts = Tables.labeledPoints(s, dir).select(col("id"), col("features"))
    val n = pts.count()
    val byId = Tables.embeddings(s, dir)
      .where(col("vec_id") < math.min(M2Particles.toLong * K, n))
      .select(col("vec_id"), col("features"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // fail LOUDLY and identically to the oracle's failure mode (ADVICE
    // r19): the tabulate below indexes byId at (p·K+k) % n, which is
    // only total when vec_ids are dense 0..min(P·K,n)-1 — on a sparse
    // fixture the driver would throw a bare NoSuchElementException
    // while DuckDB's inner join silently DROPS the missing centroid,
    // so the two engines would diverge in failure mode instead of
    // failing the hash compare together
    (0 until M2Particles).foreach { p =>
      (0 until K).foreach { k =>
        val idx = (p.toLong * K + k) % n
        require(byId.contains(idx),
          s"m2_mopso_iteration: embeddings table has no vec_id $idx " +
            s"(needed for particle $p centroid $k) — the fixture's " +
            "vec_ids must be dense 0..n-1")
      }
    }
    val swarm: Array[Array[Array[Double]]] =
      Array.tabulate(M2Particles)(p =>
        Array.tabulate(K)(k => byId((p.toLong * K + k) % n)))
    val swarmB = s.sparkContext.broadcast(swarm)
    val l = L
    pts
      .select(col("id"), col("features"),
        floor(col("id") / ConnBucketWidth).cast("long").as("bucket"))
      .as[(Long, Seq[Double], Long)]
      .rdd
      .map { case (id, f, b) => (b, (id, f.toArray)) }
      .groupByKey()
      .flatMap { case (_, members) =>
        val sorted = members.toArray.sortBy(_._1).map(_._2)
        val pd = graft.mopso.PartData(sorted,
          graft.mopso.FitnessKernel.buildNeighbors(sorted, l))
        swarmB.value.iterator.zipWithIndex.map { case (centers, pidx) =>
          val (dev, conn) = graft.mopso.FitnessKernel
            .partitionPartial(pd, centers, l, n)
          (pidx.toLong, dev, conn)
        }
      }
      .toDF("particle", "dev", "conn")
      .groupBy(col("particle"))
      .agg(round(sum(col("dev")), 3).as("dev_scaled"),
        round(sum(col("conn")), 4).as("conn_scaled"))
      .orderBy(col("particle"))
  }

  /** Exact global Conn through the k-bounded top-k aggregate (the
    * distributed exact path SURVEY §4 lists as the optional Catalyst
    * upgrade): the VALUE is identical to c10 — same neighbor definition,
    * same 1/rank same-cluster reward (Spark_MOPSO_Avg.scala:1036-1063) —
    * but the per-point ranking is [[graft.functions.TopKAggregate]]'s
    * TypedImperativeAggregate instead of a window sort. The partial state
    * is L-bounded, so map-side combine prunes every mapper's candidate
    * stream to ≤L pairs per point BEFORE the exchange: the shuffle carries
    * O(points · L) rows per mapper where the c10 window formulation
    * shuffles and sorts the full n² candidate set. This is the exact-Conn
    * shape that survives scale-up — the MOPSO ScopeGlobal block
    * (Mopso.scala) approximates it by collecting only because the
    * reference's whole-data variant does.
    */
  def c19ConnTopk: Q = (s, dir) => {
    val pc = assigned(s, dir).select(col("id"), col("features"), col("cluster"))
    val x = pc.select(col("id").as("xi"), col("features").as("xv"),
      col("cluster").as("cx"))
    val y = pc.select(col("id").as("yi"), col("features").as("yv"),
      col("cluster").as("cy"))
    x.crossJoin(y)
      .where(col("xi") =!= col("yi"))
      .select(col("xi"),
        struct(
          Linalg.euclidCol(col("xv"), col("yv")).as("dist"),
          col("yi").as("yi")).as("rank_key"),
        (col("cx") === col("cy")).as("same"))
      .groupBy(col("xi"))
      .agg(graft.functions.TopKAggregate
        .topKByKey(col("rank_key"), col("same"), L).as("sames"))
      .select(posexplode(col("sames")).as(Seq("pos", "same")))
      .agg(round(sum(
        when(col("same"), lit(1.0) / (col("pos") + lit(1)))
          .otherwise(lit(0.0))), 4).as("conn"))
  }

  /** Sign-LSH layout for [[c21ConnLsh]], tuned on the sf0.01 fixture
    * (500 points): 4 planes × 8 tables lands at neighbor recall 0.661
    * for 2.5× candidate pruning — the knee of the measured curve
    * (6×2 → 0.10 recall at 30× pruning; 3×8 → 0.86 at only 1.5×).
    * Recall rises with point density (buckets fill), so the same layout
    * is conservative at corpus scale; more tables buy recall linearly
    * in cost (the OR-amplification knob).
    */
  val LshPlanes = 4
  val LshTables = 8

  /** The point count the [[LshPlanes]]×[[LshTables]] layout was tuned
    * at (the sf0.01 fixture) — the fixed point of [[lshPlanesFor]].
    */
  val LshBasePoints = 500L

  /** The measured scaled-planes rule promoted into the engine API
    * (VERDICT r9 §next-3): planes = [[LshPlanes]] + ⌈log₂(n/n₀)⌉ with
    * n₀ = [[LshBasePoints]]. A FIXED sign-LSH layout has a fixed
    * bucket-mass distribution, so its candidate compute is Θ(n²) no
    * matter how good it looked at fixture size — ScaleBench's `connlsh`
    * mode measured the pinned 4×8 layout at 22.0B candidate pairs at
    * x100 while planes grown with log₂ held near-linear cost at recall
    * 0.93–1.00. Each extra plane splits every table's buckets ~2×, so
    * growing planes logarithmically with n holds per-bucket occupancy
    * (and hence candidate pairs per point) roughly constant. At
    * n ≤ n₀ this returns exactly [[LshPlanes]], so the c21 oracle
    * layout is byte-unchanged at the fixture.
    */
  def lshPlanesFor(n: Long): Int = {
    require(n > 0, s"lshPlanesFor needs a positive count, got $n")
    val ratioCeil = (n + LshBasePoints - 1) / LshBasePoints
    val extra = if (ratioCeil <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(ratioCeil - 1)
    LshPlanes + extra
  }

  /** The neighbor-recall floor [[lshTablesCalibrated]] targets, and the
    * walk's cap. 0.65 is the fixture layout's own measured knee
    * (4×8 → 0.661 at sf0.01) — the recall the engine's Conn was tuned
    * to live with; the cap bounds candidate mass at 8× the base
    * layout's (tables cost linearly).
    */
  val LshRecallTarget = 0.65
  val LshMaxTables = 64

  /** Table count CALIBRATED on this corpus's own sampled neighbor
    * recall (round 13). [[lshPlanesFor]] holds candidate MASS
    * near-linear on any corpus, but the recall that growth preserves
    * is a property of the neighbor geometry it was measured on: the
    * `indep` fixture (copies displaced half an inter-point distance,
    * not ε) reads 0.344/0.238 at x10/x100 under the auto planes where
    * the ε decades read 0.93–1.00. The structural fix is the OR axis —
    * each extra table is an independent collision chance, buying
    * recall at LINEAR mass cost where fewer planes would buy it at
    * exponential cost (measured: t8→16→32 walks 0.344→0.550→0.765 at
    * x10, `scale_connlsh_indep.json`). This rule walks a doubling
    * table grid from [[LshTables]] and returns the first count whose
    * sampled recall ([[lshSampledRecall]], O(s·n) per point) meets
    * `target` — index-build-time measurement replacing a constant
    * that cannot transfer across geometries (the
    * [[graft.functions.Similarity.ivfProbesCalibrated]] discipline).
    * Returns the cap if the target is unreachable within it — the
    * honest signal that this corpus needs a different candidate
    * generator (more planes OFF, exact partition-scoped, or ANN-fed).
    */
  private[graft] def lshTablesCalibrated(s: SparkSession, dir: String,
      target: Double = LshRecallTarget, step: Long = 0L): Int = {
    val n = Tables.labeledPoints(s, dir).count()
    val planes = lshPlanesFor(n)
    val st = if (step > 0) step else math.max(1L, n / 200L)
    // each table consumes `planes` data-derived hyperplane vectors
    // ([[lshPlaneRows]] takes the first planes·tables points), so the
    // walk is hard-capped by the corpus itself as well as
    // [[LshMaxTables]] — without this, a small corpus would hand
    // signBucketCol an empty plane slice mid-walk
    val hardCap = math.max(1,
      math.min(LshMaxTables.toLong, n / planes).toInt)
    val grid = Iterator.iterate(math.min(LshTables, hardCap))(_ * 2)
      .takeWhile(_ < hardCap).toSeq :+ hardCap
    // ONE exact denominator for the whole walk (the recallCurve
    // discipline) — the O(s·n) exact leg is table-independent
    val (exact, nExact) = sampledExactNeighbors(s, dir, st)
    val found = grid.find(t =>
      lshRecallAgainst(s, dir, planes, t, st, exact, nExact) >= target)
    found.getOrElse(hardCap)
  }

  /** The production LSH Conn with the layout DERIVED from the data
    * ([[lshPlanesFor]] over a cheap count) — what a pipeline should call
    * at an arbitrary corpus size instead of inheriting the fixture
    * layout. The count is one O(n) metadata-cheap pass; the layout it
    * buys avoids the Θ(n²) candidate blow-up measured in
    * `scale_connlsh.json`. At the sf0.01 fixture this equals
    * [[connLshValue]] at the pinned 4×8 (spec-pinned).
    */
  private[graft] def connLshAuto(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.labeledPoints(s, dir).count()
    connLshValue(s, dir, lshPlanesFor(n), LshTables)
  }

  /** The fully-calibrated production face: planes from the mass rule
    * ([[lshPlanesFor]]), tables from the corpus's measured recall
    * ([[lshTablesCalibrated]]) — what a pipeline on an unknown
    * neighbor geometry should run. Fixture fixed point: sf0.01's
    * measured 0.661 recall at 4×8 meets the 0.65 target at the first
    * grid step, so this is exactly [[connLshAuto]] (and hence c21's
    * oracle layout) at verify scale — spec-pinned.
    */
  private[graft] def connLshCalibrated(s: SparkSession,
      dir: String): DataFrame = {
    val n = Tables.labeledPoints(s, dir).count()
    connLshValue(s, dir, lshPlanesFor(n), lshTablesCalibrated(s, dir))
  }

  /** Data-derived hyperplanes: the first planes·tables point vectors
    * (the s2 convention), deterministic and oracle-replayable.
    */
  private def lshPlaneRows(s: SparkSession, dir: String,
      numPlanes: Int, numTables: Int): Seq[Array[Double]] =
    planeRowsOf(Tables.labeledPoints(s, dir), numPlanes, numTables)

  /** The same first-rows-by-id convention over an arbitrary
    * (id, features) corpus — the s14 index draws its planes from the
    * INDEXED corpus only, so a held-out serving batch never leaks into
    * the layout.
    */
  private[graft] def planeRowsOf(corpus: DataFrame,
      numPlanes: Int, numTables: Int): Seq[Array[Double]] =
    corpus.orderBy(col("id")).limit(numPlanes * numTables)
      .select(col("features")).collect()
      .map(_.getSeq[Double](0).toArray).toSeq

  /** The shared ranking tail (the c19 shape): candidate rows with
    * columns (xi, xv, cx, yi, yv, cy) through the L-bounded aggregate —
    * map-side combine prunes every mapper to ≤L pairs per point, so the
    * exchange never carries the full candidate set. Emits
    * (xi, yi, same, rnk).
    */
  private def topRankedPairs(cands: DataFrame): DataFrame =
    topRankedPairsPre(cands.select(col("xi"), col("yi"),
      Linalg.euclidCol(col("xv"), col("yv")).as("dist"),
      (col("cx") === col("cy")).as("same")))

  /** [[topRankedPairs]] over candidates whose `dist`/`same` columns are
    * ALREADY computed — factored so the capped generator can compute
    * them before its pair dedup (the dedup exchange then carries
    * 28-byte rows instead of two feature vectors per row).
    */
  private def topRankedPairsPre(cands: DataFrame): DataFrame = cands
    .select(col("xi"),
      struct(col("dist").as("dist"), col("yi").as("yi")).as("rank_key"),
      struct(col("yi").as("yi"), col("same").as("same"),
        col("dist").as("dist")).as("v"))
    .groupBy(col("xi"))
    .agg(graft.functions.TopKAggregate
      .topKByKey(col("rank_key"), col("v"), L).as("vs"))
    .select(col("xi"), posexplode(col("vs")).as(Seq("pos", "v")))
    // dist rides along (8 bytes per bounded-L pair) for the graph
    // store's r2dist export — every registered face selects its own
    // column subset, so the extra column never reaches an oracle
    .select(col("xi"), col("v.yi").as("yi"), col("v.same").as("same"),
      (col("pos") + lit(1)).as("rnk"), col("v.dist").as("dist"))

  /** LSH-fed top-L neighbor ranking at an arbitrary (planes, tables)
    * layout — the parameterized form behind [[c21ConnLsh]] (which pins
    * [[LshPlanes]]×[[LshTables]] for the oracle) and ScaleBench's
    * `connlsh` mode (which grows planes with the data so per-bucket
    * occupancy — and hence candidate compute — stays bounded; a FIXED
    * layout has a fixed bucket-mass distribution, so its candidate count
    * is Θ(n²) no matter how good the layout looked at fixture size).
    */
  private[graft] def lshRankedNeighbors(s: SparkSession, dir: String,
      numPlanes: Int, numTables: Int,
      xiFilter: Option[Column] = None): DataFrame =
    lshRankedNeighborsOf(
      assigned(s, dir).select(col("id"), col("features"), col("cluster")),
      lshPlaneRows(s, dir, numPlanes, numTables),
      numPlanes, numTables, xiFilter)

  /** [[lshRankedNeighbors]] over an arbitrary (id, features, cluster)
    * corpus and explicit plane rows — factored so the s14 graph index
    * can build the same candidate chain on a held-out-filtered corpus
    * with planes drawn from that corpus alone.
    */
  private[graft] def lshRankedNeighborsOf(pc: DataFrame,
      planes: Seq[Array[Double]], numPlanes: Int, numTables: Int,
      xiFilter: Option[Column] = None,
      signed: Option[DataFrame] = None): DataFrame = {
    // every table's bucket computed once per point and carried as an
    // array: the exploded (tbl, bucket) rows drive the bucket join, and
    // the arrays on BOTH sides let a pair colliding in several tables be
    // kept exactly once — only by its FIRST agreeing table (the d8
    // first-match rule) — instead of a result-sized dropDuplicates
    // shuffle (measured 2x the whole query's cost at sf0.1).
    // `signed` (r21): a pre-signed (id, features, cluster, sigs) frame —
    // the s14 build signs its corpus ONCE per layout and shares it
    // across both fidelity-probe legs and the build chain (VERDICT r20
    // next-4) instead of re-running the signing scan per consumer.
    val b = signed
      .getOrElse(pc.withColumn("sigs", Linalg.signBucketsCol(
        col("features"), planes, numPlanes, numTables)))
      .select(col("id"), col("features"), col("cluster"), col("sigs"),
        posexplode(col("sigs")).as(Seq("tbl", "bucket")))
    val x0 = b.select(col("tbl"), col("bucket"), col("id").as("xi"),
      col("features").as("xv"), col("cluster").as("cx"),
      col("sigs").as("xs"))
    // the optional xi filter (a sampled-recall probe) prunes the query
    // side BEFORE the bucket join, so a sample costs O(n + s·occupancy)
    // — never a full candidate pass
    val x = xiFilter.map(x0.where).getOrElse(x0)
    val y = b.select(col("tbl"), col("bucket"), col("id").as("yi"),
      col("features").as("yv"), col("cluster").as("cy"),
      col("sigs").as("ys"))
    val firstMatch =
      array_position(zip_with(col("xs"), col("ys"), (a, c) => a === c),
        lit(true)) - 1
    topRankedPairs(
      x.join(y, Seq("tbl", "bucket"))
        .where(col("xi") =!= col("yi") && col("tbl") === firstMatch))
  }

  /** Candidate-side cap for the PRODUCTION graph build — the valve that
    * closed the third decade (SCALE.md §r15/§r16: the UNCAPPED bucket
    * join carries 608.9 B pairs at x1000 because ε-clones are
    * hyperplane-inseparable, so clone-cluster bucket mass grows with
    * the data and pairs grow with its square; every capped generator in
    * the tree — d3/s4/d7 — already bounds this). 64 = 6.4× [[L]]:
    * enough in-cap members that each query still ranks a full top-L
    * even when some candidates tie at distance 0. Since round 16 this
    * IS the production path: [[s12KnnGraph]]/[[s12KnnGraphAuto]], the
    * s13 closures, and the s14 index build all ride
    * [[cappedGraphWithOrphans]] at this cap. At the sf0.01 oracle
    * fixture the pinned 4×8 layout's largest bucket holds 46 members
    * (< 64), so the capped chain is byte-identical to the uncapped one
    * there — [[OracleGraphCap]] is the smaller cap the b-faces pin so
    * the capped SEMANTICS (prefix truncation + orphan fan-out) are
    * oracle-exercised at verify scale too.
    */
  val GraphBuildCap = 64

  /** A cap the sf0.01 fixture actually EXCEEDS (masses reach 46 at the
    * pinned 4×8 layout; 126 of 500 points cap out everywhere at 16), so
    * the s12b/s13b oracle rows hash-check the live capped semantics —
    * prefix truncation, result-sized pair dedup, and the orphan
    * fan-out — against DuckDB, not just the saturated fixed point.
    */
  val OracleGraphCap = 16

  /** Stitch certification bound: the append-time stitch runs only on
    * stores whose SAMPLED capped-vs-true rank-2 inflation (the
    * `stitch_fidelity` certificate [[writeKnnGraphIndexOf]] exports)
    * is ≤ this — at BOTH the median and the p90 (VERDICT r19 next-3:
    * starvation needs only a minority of blind rows to percolate
    * merges, and the x1000 evidence itself read p50 1.02 / p90 2.82 —
    * the tail is the signal, so a half-starved store must refuse even
    * when its median certifies). Faithful stores measure ≈ 1.0 at any
    * quantile (x10/x100: 1.0 exactly — the near mass survives the
    * prefix); 2 allows the tight mode's own observed spread (the x100
    * tier-0 p90/p10 = 2.0) and excludes the starved regime by orders
    * of magnitude (x1000 measured ~255 at the auto layout). The
    * r20 synthetic starvation sweep (the fidelity-sweep records of
    * commit bfe4fa6) probes the constant
    * between those endpoints and found something STRONGER than a
    * calibration curve: stitched ARI stays FLAT at 0.961 from ×2
    * through ×512 — threshold inflation alone cannot percolate a
    * faithful store, because a merge still needs the arrival to SEE
    * both sides in its capped candidates. What the certificate gates
    * is therefore visibility starvation (the capped prefix hiding a
    * point's near mass entirely — the x1000 failure), which the
    * sampled rank-2 inflation detects at orders of magnitude above
    * this bound; 2 simply keeps the faithful mode's own observed
    * spread (x100 tier-0 p90/p10 = 2.0) inside the gate. (r21: this
    * note previously claimed the sweep showed ×8/×32 degrading ARI
    * monotonically — the committed records say the opposite;
    * VERDICT r20 "What's wrong" §1.)
    */
  val StitchFidelityMax = 2.0

  /** How far ABOVE the auto layout ([[lshPlanesFor]]) the build-time
    * fidelity steer ([[writeKnnGraphIndexOf]]) may walk. The steer
    * walks UP: the r20 x1000 measurement REFUTED SCALE.md §r19's
    * fewer-planes hypothesis — sampled fidelity got monotonically
    * WORSE walking down (p50 212 → 494 over 16 → 10 planes, p90
    * 685 → 809; the full curve is in the steer log and SCALE.md §r20)
    * because starvation is driven by inter-cluster MIXING inside
    * mega-buckets, which bigger buckets aggravate, not by sub-bucket
    * smear. Each ADDED plane halves expected occupancy, splitting
    * mixed mega-buckets until the id-ordered prefix sees every
    * resident cluster — in the limit every bucket ≤ cap, where capped
    * ≡ uncapped and fidelity is exactly 1.0, so the up-walk certifies
    * by construction once mixing is resolved. Probes get CHEAPER going
    * up (cost ∝ occupancy), so the bound exists to cap the RECALL
    * price (each added plane prunes candidates; the steer takes the
    * NEAREST certifying layout and the build record prices the pair
    * mass of both). 16 because the x1000 landscape (the fidelity-probe
    * record of commit 3e4af8f) puts certification at 28–32
    * planes from an auto of 16.
    */
  val MaxSteerRise = 16

  /** Fallback walk below the auto layout after the up-walk fails —
    * kept short: downward probes double in cost per step (the walk
    * halves the sample to compensate, floor 64 rows) and the x1000
    * evidence says down is the wrong direction on clone-mass
    * geometry; the fallback exists for geometries where occupancy is
    * so low the auto layout under-collides (then fewer planes both
    * certify and help recall).
    */
  val MaxSteerDrop = 2

  /** Largest serve-cap multiplier the steer may apply when planes
    * alone cannot certify. The x1000 probe landscape (the
    * fidelity-probe record of commit 3e4af8f) showed fidelity improves
    * monotonically in BOTH axes but planes saturate (cap 64: p90
    * 131→5 over 16→32 planes, still > 2) while doubling the cap
    * halves the prefix stride directly (cap 128 @ 32 planes: p90
    * 2.0; cap 256 @ 28: p90 2.0; cap 256 @ 32: p90 1.0). Cap cost is
    * linear in chain compute and serve candidates — the walk tries
    * the cheap axis (planes, which PRUNE) to exhaustion before each
    * doubling, and the chosen cap lands in store_meta like any other.
    */
  val MaxSteerCapX = 4

  /** The sampled stitch-fidelity statistics of one layout: quantiles
    * and tail fraction of stored-vs-true rank-2 inflation. A layout
    * certifies only when BOTH the median and the p90 are within
    * [[StitchFidelityMax]] (the tail rule — see the constant's note).
    */
  private[graft] case class StitchFidelity(p50: Double, p90: Double,
      fracAbove: Double, n: Long) {
    def certifies: Boolean = math.max(p50, p90) <= StitchFidelityMax
  }

  /** One layout's sampled threshold-fidelity probe: for a hash sample
    * of ~`sampleTarget` query rows, the CAPPED chain's rank-2 distance
    * (exactly the r2dist a build at this layout would store — same
    * candidate prefix, same ranking) against the UNCAPPED within-bucket
    * truth, both through the existing xiFilter path (O(sample ·
    * occupancy) each — the sampled-recall shape; the raw bucket mass
    * never materializes). Ratio conventions match the r19 certificate:
    * +∞ on either side reads 1.0 (a below-degree row never stitches
    * through a finite threshold), true == 0 with stored > 0 reads 999
    * (starved exact-duplicate mass).
    */
  private def stitchFidelityProbe(s: SparkSession, pc: DataFrame,
      planes: Seq[Array[Double]], numPlanes: Int, cap: Int,
      n: Long, sampleTarget: Long,
      hashOrder: Boolean = true,
      signed: Option[DataFrame] = None): StitchFidelity = {
    val step = math.max(1L, n / sampleTarget)
    val f = pmod(xxhash64(col("xi")), lit(step)) === 0L
    def rank2(df: DataFrame, out: String): DataFrame = df
      .where(col("rnk") <= lit(S13MutualRank))
      .groupBy(col("xi"))
      .agg(count(lit(1)).as("deg"), max(col("dist")).as("d2"))
      .select(col("xi").as("id"),
        when(col("deg") >= lit(S13MutualRank), col("d2"))
          .otherwise(lit(Double.PositiveInfinity)).as(out))
    val truth = rank2(lshRankedNeighborsOf(pc, planes, numPlanes,
      LshTables, xiFilter = Some(f), signed = signed), "true_r2")
    val capped = rank2(lshRankedNeighborsCapped(pc, planes, numPlanes,
      LshTables, cap, xiFilter = Some(f), hashOrder = hashOrder,
      signed = signed), "stored_r2")
    val ratios = capped.join(truth, Seq("id"))
      .select(col("stored_r2"), col("true_r2")).collect()
      .map { r =>
        val st = r.getDouble(0); val tr = r.getDouble(1)
        if (tr.isPosInfinity || st.isPosInfinity) 1.0
        else if (tr == 0.0) { if (st == 0.0) 1.0 else 999.0 }
        else st / tr
      }.sorted
    val nS = ratios.length
    def q(p: Double): Double =
      if (nS == 0) 1.0 else ratios(math.min(nS - 1, (p * nS).toInt))
    StitchFidelity(q(0.5), q(0.9),
      if (nS == 0) 0.0
      else ratios.count(_ > StitchFidelityMax).toDouble / nS, nS.toLong)
  }

  /** Capped candidate-row mass of a layout over an arbitrary corpus
    * frame — Σ (m−1)·min(m, cap) from the bucket histogram, the
    * [[lshCappedCandidatePairCount]] arithmetic without the dir
    * plumbing. Prices the steer's pruning trade in the build record.
    */
  private def cappedPairMassOf(pc: DataFrame,
      planes: Seq[Array[Double]], numPlanes: Int, cap: Int,
      numTables: Int = LshTables): Long =
    bucketSizes(pc, planes, numPlanes, numTables)
      .agg(coalesce(sum((col("c") - lit(1L)) *
          least(col("c"), lit(cap.toLong))), lit(0L)).as("pairs"))
      .head().getLong(0)

  /** Occupancy `c` of every (tbl, bucket) of `pc`'s features under a
    * sign layout: the histogram every candidate-pair count reads.
    */
  private def bucketSizes(pc: DataFrame, planes: Seq[Array[Double]],
      numPlanes: Int, numTables: Int): DataFrame =
    pc.select(posexplode(Linalg.signBucketsCol(col("features"), planes,
        numPlanes, numTables)).as(Seq("tbl", "bucket")))
      .groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Build-time layout steer (VERDICT r19 next-1): the certificate no
    * longer only refuses — it picks the layout. Walk the plane count
    * UP from the auto layout (each added plane splits the mixed
    * mega-buckets that starve the id-ordered prefix — the measured
    * direction of the cure, [[MaxSteerRise]]; the down-walk SCALE.md
    * §r19 hypothesized was probed first at x1000 and made fidelity
    * monotonically worse) until the sampled certificate passes at
    * both gated quantiles, with a short down-walk fallback
    * ([[MaxSteerDrop]]) for under-colliding geometries. The NEAREST
    * certifying layout wins — minimal pruning/recall price. If no
    * candidate certifies, the AUTO layout is kept (best pruning) with
    * its refusing certificate — appends then degrade to frozen form
    * and staleness belongs to the rebuild cadence, exactly the r19
    * behavior. When the steer moves the layout, the capped pair mass
    * of both layouts lands in the phase record (`steer_pairs_*`) so
    * the pruning price is part of the build's own evidence.
    */
  private def steerCertifiedLayout(s: SparkSession, corpus: DataFrame,
      autoPlanes: Int, cap0: Int,
      phase: (String, Double) => Unit,
      pc: DataFrame, n: Long,
      planesAt: Int => Seq[Array[Double]],
      signedAt: Int => DataFrame)
      : (Int, Int, String, StitchFidelity) = {
    {
      var probed = false
      def probe(p: Int, cap: Int,
          hashOrder: Boolean = true): StitchFidelity = {
        // each probe's capped leg shuffles the full signed corpus for
        // its prefix window (~10 GB at x1000); a 20+-probe walk in one
        // JVM accumulates those files faster than the ContextCleaner's
        // GC-driven pace and fills the disk (measured: two x1000 runs
        // died of it). Before every probe AFTER the first, drop the
        // previous probe's plan references and force a cleaner pass —
        // certifying stores (one probe) pay nothing.
        if (probed) { System.gc(); Thread.sleep(2000) }
        probed = true
        // downward candidates double per-bucket occupancy per step —
        // halve the sample to keep probe cost bounded; upward probes
        // get cheaper on their own, so the full sample stays
        val drop = math.max(0, autoPlanes - p)
        val sampleTarget = math.max(64L, 512L >> drop)
        val t0 = System.nanoTime()
        val cert = stitchFidelityProbe(s, pc,
          planesAt(p), p, cap, n, sampleTarget,
          hashOrder = hashOrder, signed = Some(signedAt(p)))
        val ord = if (hashOrder) "hash" else "nid"
        phase(s"steer_probe_p${p}_c${cap}_$ord",
          (System.nanoTime() - t0) / 1e9)
        phase(s"steer_p50_p${p}_c${cap}_$ord", cert.p50)
        phase(s"steer_p90_p${p}_c${cap}_$ord", cert.p90)
        System.err.println(f"[graft] fidelity steer: $p planes cap " +
          f"$cap $ord -> p50 ${cert.p50}%.2f p90 ${cert.p90}%.2f " +
          f"frac_above ${cert.fracAbove}%.2f (n=${cert.n}, " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s)")
        cert
      }
      // the INSERTION (id) order is probed first: where it certifies
      // (x10/x100, every fixture — chain arcs fit the prefix) the
      // store keeps the pre-r20 prefix byte-for-byte, whose stitched
      // staleness is the validated record (x100 id 0.954 vs hash 0.87
      // at 12% — the unbiased prefix trades a little mutual-graph
      // adjacency for mass-proportional coverage, a price worth
      // paying ONLY where id cannot certify at all)
      val autoCertId = probe(autoPlanes, cap0, hashOrder = false)
      if (autoCertId.certifies)
        return (autoPlanes, cap0, "nid", autoCertId)
      val autoCert = probe(autoPlanes, cap0)
      // walk order = cost order: planes first (they PRUNE — cheaper
      // chain, better serve), up in steps of 2 to MaxSteerRise; then
      // double the cap (linear chain/serve cost) and re-walk; short
      // down-walk fallback at the base cap last — all at the HASH
      // prefix, the order whose fidelity responds to mass steering.
      // First certifying point wins.
      val planeGrid = (autoPlanes + 2) to (autoPlanes + MaxSteerRise) by 2
      val candidates: Seq[(Int, Int)] =
        planeGrid.map(p => (p, cap0)) ++
          Iterator.iterate(cap0 * 2)(_ * 2)
            .takeWhile(_ <= cap0 * MaxSteerCapX).toSeq
            .flatMap(c => (autoPlanes to (autoPlanes + MaxSteerRise) by 2)
              .map(p => (p, c))) ++
          ((autoPlanes - 1) to
            math.max(LshPlanes, autoPlanes - MaxSteerDrop) by -1)
            .map(p => (p, cap0))
      val result: (Int, Int, String, StitchFidelity) =
        if (autoCert.certifies) (autoPlanes, cap0, "hash", autoCert)
        else candidates.iterator
          .map { case (p, c) => (p, c, "hash", probe(p, c)) }
          .find(_._4.certifies)
          .getOrElse {
            System.err.println(f"[graft] fidelity steer: no layout " +
              f"within [-$MaxSteerDrop, +$MaxSteerRise] planes x " +
              f"${MaxSteerCapX}x cap of (auto $autoPlanes, cap $cap0) " +
              f"certifies ≤ $StitchFidelityMax at either prefix order " +
              f"(id p50 ${autoCertId.p50}%.1f / p90 " +
              f"${autoCertId.p90}%.1f) — keeping the auto id-order " +
              "layout; appends will refuse to stitch and staleness " +
              "belongs to the rebuild cadence")
            (autoPlanes, cap0, "nid", autoCertId)
          }
      val (chosenP, chosenC, _, cert) = result
      if ((chosenP != autoPlanes || chosenC != cap0) && cert.certifies) {
        phase("steer_pairs_auto", cappedPairMassOf(pc,
          planesAt(autoPlanes), autoPlanes, cap0).toDouble)
        phase("steer_pairs_chosen", cappedPairMassOf(pc,
          planesAt(chosenP), chosenP, chosenC).toDouble)
      }
      result
    }
  }

  /** [[lshRankedNeighborsOf]] with the CANDIDATE side of every
    * (tbl, bucket) capped to its first `cap` members by id (the d3
    * `MaxBucket` convention): every point still queries (the x side is
    * uncapped), but ranks against ≤ tables·cap candidates, so the
    * join's row count is Σ (m−1)·min(m, cap) — LINEAR in the corpus at
    * clone-dominated bucket masses where the uncapped Σ m·(m−1) is
    * quadratic ([[lshCappedCandidatePairCount]] measures the formula;
    * the uncapped twin is [[lshCandidatePairCount]]). Inside a mass
    * bucket the capped-out members are near-duplicates of the in-cap
    * ones by construction — ranking against any `cap` of them
    * preserves the neighborhood — but the first-match cross-table
    * dedup cannot ride the sig arrays here (cap survival is per
    * (tbl, bucket), not pairwise-visible), so the capped face
    * deduplicates pairs with one result-sized shuffle: affordable
    * exactly because the cap bounds the result, and slim because
    * dist/same are computed BEFORE the dedup (28-byte rows, not two
    * feature vectors). Capped-vs-uncapped byte-equality at a
    * fixture-saturating cap and the mass-bucket bound are spec-pinned
    * (PipelineSpec); sampled recall vs the exact top-L is measured per
    * decade (SCALE.md §r16, `scale_graphrecall_x*.json`).
    */
  private[graft] def lshRankedNeighborsCapped(pc: DataFrame,
      planes: Seq[Array[Double]], numPlanes: Int, numTables: Int,
      cap: Int, xiFilter: Option[Column] = None,
      hashOrder: Boolean = false,
      signed: Option[DataFrame] = None): DataFrame =
    cappedGraphWithOrphans(pc, planes, numPlanes, numTables, cap,
      xiFilter, hashOrder, signed)._1

  /** The HASH-ordered capped-prefix key (round 20): a golden-ratio
    * multiplicative hash of the id — ((id mod 2³¹)·2654435761) mod 2³¹
    * — pure integer arithmetic with no 64-bit overflow, so DuckDB
    * replays it bit-identically and the s14/s14b oracle rows keep
    * hash-checking the LIVE production prefix. An id-ordered prefix is
    * systematically BIASED — on duplication-chain geometry ids order
    * by copy index, so the prefix keeps one END of every chain and
    * starves every mid-chain row by hundreds of true-neighbor steps
    * (the x1000 steer walk measured it: NO plane count fixes an order
    * bias — p50 212→494 walking down, p90 stuck ~600 walking up 8
    * planes). The multiplicative key is a low-discrepancy scramble
    * (2654435761/2³² ≈ the golden ratio): the cap smallest keys of a
    * bucket are a near-uniform stride over every resident
    * cluster/chain, so prefix mass is ∝ bucket mass and the
    * certificate becomes a function of bucket MASS alone — which the
    * plane steer CAN fix. Ties (ids ≡ mod 2³¹) break by id.
    */
  private[graft] def hashPrefixKey(id: Column): Column =
    pmod(pmod(id, lit(2147483648L)) * lit(2654435761L),
      lit(2147483648L))

  /** [[hashPrefixKey]] as DuckDB SQL over a column expression — the
    * oracle-side twin ([[s14AssignSql]]). Mirrors pmod semantics
    * (ADVICE r20): DuckDB `%` is a remainder (negative for negative
    * ids) where Spark's pmod is always non-negative, so both moduli
    * fold through an explicit +m wrap — a no-op for the non-negative
    * ids every fixture uses, identical to pmod if an id were ever
    * negative.
    */
  private def hashPrefixSql(id: String): String =
    s"((((($id % 2147483648) + 2147483648) % 2147483648)" +
      s" * 2654435761) % 2147483648)"

  /** The capped candidate chain plus its ORPHAN set — the ids capped
    * out of every table's candidate prefix. An orphan receives no
    * incoming edges at all, so the mutuality filter would leave it a
    * singleton regardless of its true neighborhood; the s13 faces fan
    * each orphan out to its rank-1 neighbor's component instead
    * ([[mutualComponents]]'s `orphans` leg — the dedup-first
    * rep→member convention expressed in graph terms). The orphan leg
    * rides its own SLIM lineage (id, tbl, bucket — one extra signing
    * scan and a 24-byte-row window) so the feature-carrying candidate
    * frame is never shuffled twice; at a saturating cap the orphan set
    * is empty by construction, which is the fixed point the specs pin.
    */
  private[graft] def cappedGraphWithOrphans(pc: DataFrame,
      planes: Seq[Array[Double]], numPlanes: Int, numTables: Int,
      cap: Int, xiFilter: Option[Column] = None,
      hashOrder: Boolean = false,
      signed: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    // one signing for the graph AND the orphan leg (r21): the slim
    // orphan lineage used to re-sign the corpus; both now derive from
    // `base` (pre-signed and persisted when the s14 build passes it)
    val base = signed.getOrElse(
      pc.withColumn("sigs", Linalg.signBucketsCol(col("features"), planes,
        numPlanes, numTables)))
    val b = base
      .select(col("id"), col("features"), col("cluster"),
        posexplode(col("sigs")).as(Seq("tbl", "bucket")))
    val x0 = b.select(col("tbl"), col("bucket"), col("id").as("xi"),
      col("features").as("xv"), col("cluster").as("cx"))
    // the optional xi filter (a sampled-recall probe) prunes the query
    // side BEFORE the bucket join — same contract as the uncapped face
    val x = xiFilter.map(x0.where).getOrElse(x0)
    // id order is the d3 MaxBucket convention the oracle faces pin;
    // the PRODUCTION graph store orders by [[hashPrefixKey]] (unbiased
    // prefix — see its note), with id as the tie-break
    val wB = Window.partitionBy(col("tbl"), col("bucket"))
      .orderBy(
        (if (hashOrder) Seq(hashPrefixKey(col("id")), col("id"))
        else Seq(col("id"))): _*)
    // the in-cap window keeps the (tbl, bucket) partitioning, which is
    // also the join key — Catalyst reuses the exchange, so the y side
    // moves exactly once
    val y = b
      .withColumn("rn", row_number().over(wB))
      .where(col("rn") <= cap)
      .select(col("tbl"), col("bucket"), col("id").as("yi"),
        col("features").as("yv"), col("cluster").as("cy"))
    // PRE-RANK per (tbl, bucket, xi) BEFORE anything crosses the wire
    // (VERDICT r18 next-1): the bucket join's output is already
    // hash-partitioned on (tbl, bucket) — a subset of the grouping
    // keys — so this bounded aggregate runs WITHOUT an exchange, and
    // the raw candidate mass (~1B 28-byte rows ≈ 30 GB at x1000, the
    // measured 26.6×/decade disk-bandwidth wall in the chain phase)
    // never shuffles. Exact, not approximate: ranking is globally
    // consistent by (dist, yi), so any pair in the final distinct
    // top-L has < L candidates above it in EVERY bucket containing it
    // — each bucket's top-L therefore covers the global top-L, and
    // the downstream dedup + final ranking see exactly the winners
    // they would have seen from the raw stream (spec-pinned
    // byte-equality, capped and uncapped).
    val pre = x.join(y, Seq("tbl", "bucket"))
      .where(col("xi") =!= col("yi"))
      .select(col("tbl"), col("bucket"), col("xi"), col("yi"),
        Linalg.euclidCol(col("xv"), col("yv")).as("dist"),
        (col("cx") === col("cy")).as("same"))
      .groupBy(col("tbl"), col("bucket"), col("xi"))
      .agg(graft.functions.TopKAggregate.topKByKey(
        struct(col("dist").as("dist"), col("yi").as("yi")),
        struct(col("yi").as("yi"), col("same").as("same"),
          col("dist").as("dist")), L).as("vs"))
      .select(col("xi"), explode(col("vs")).as("v"))
      .select(col("xi"), col("v.yi").as("yi"), col("v.dist").as("dist"),
        col("v.same").as("same"))
    // ONE exchange serves both tails — and since the pre-rank it
    // carries ≤ n·tables·L combined rows, not the raw pair mass:
    // hash(xi) co-locates every (xi, yi) duplicate for the dedup (a
    // subset of the clustering keys satisfies it) AND satisfies the
    // final ranking aggregate's distribution, so the TopKByKey partial
    // holds only its task's n/parts keys. Without this the partial
    // object aggregate reads the (xi, yi)-partitioned dedup output
    // with the FULL xi key space per task — 2M bounded-TopK buffers ×
    // 32 tasks OOM'd the x1000 build at 48 GB (SCALE.md §r16). The
    // dedup itself is unchanged: cross-table duplicates carry
    // identical (dist, same), so which copy survives is immaterial.
    val graph = topRankedPairsPre(
      pre
        .repartition(col("xi"))
        .dropDuplicates("xi", "yi"))
    val slim = base
      .select(col("id"),
        posexplode(col("sigs")).as(Seq("tbl", "bucket")))
      .withColumn("rn", row_number().over(wB))
    val orphans = slim.groupBy(col("id"))
      .agg(min(col("rn")).as("min_rn"))
      .where(col("min_rn") > cap)
      .select(col("id"))
    (graph, orphans)
  }

  /** [[cappedGraphWithOrphans]] over the assigned corpus at `dir` — the
    * dir-level face the registered queries and the recall probe share.
    */
  private[graft] def cappedGraphAt(s: SparkSession, dir: String,
      numPlanes: Int, numTables: Int, cap: Int,
      xiFilter: Option[Column] = None,
      hashOrder: Boolean = false): (DataFrame, DataFrame) =
    cappedGraphWithOrphans(
      assigned(s, dir).select(col("id"), col("features"), col("cluster")),
      lshPlaneRows(s, dir, numPlanes, numTables),
      numPlanes, numTables, cap, xiFilter, hashOrder)

  /** The capped join's exact candidate-row count from the bucket
    * histogram (no pair materialization): Σ (m−1)·min(m, cap) over
    * every (tbl, bucket) — each of the m query-side members meets
    * min(m, cap) candidates minus its own in-cap self-match. The
    * cap→∞ limit is [[lshCandidatePairCount]]'s Σ m·(m−1).
    */
  private[graft] def lshCappedCandidatePairCount(s: SparkSession,
      dir: String, numPlanes: Int, numTables: Int, cap: Int): Long = {
    val pc = assigned(s, dir).select(col("features"))
    cappedPairMassOf(pc, lshPlaneRows(s, dir, numPlanes, numTables),
      numPlanes, cap, numTables)
  }

  /** Neighbor recall of a layout at DATA scale, from a deterministic
    * sample: every step-th id gets its exact top-L from a
    * broadcast-sample × all-points ranking (O(s·n) compute — the
    * denominator that would be Θ(n²) for all points is linear for a
    * fixed sample), compared against the same ids' LSH-fed top-L. With
    * step = 1 this IS c21's recall column (spec-pinned), so the sampled
    * number is an unbiased estimate of the same quantity, measurable at
    * decades where the full denominator is the quadratic stall itself.
    */
  private[graft] def lshSampledRecall(s: SparkSession, dir: String,
      numPlanes: Int, numTables: Int, step: Long): Double =
    lshSampledRecallMulti(s, dir, numPlanes, Seq(numTables), step)
      .head._2

  /** Sampled recall for SEVERAL table counts at one plane count against
    * ONE exact denominator — the calibration-walk factoring exposed to
    * the measurement harness too (a per-layout [[lshSampledRecall]]
    * would pay the O(s·n) exact leg once per layout).
    */
  private[graft] def lshSampledRecallMulti(s: SparkSession, dir: String,
      numPlanes: Int, tableCounts: Seq[Int], step: Long)
      : Seq[(Int, Double)] = {
    val (exact, nExact) = sampledExactNeighbors(s, dir, step)
    tableCounts.map(t => t ->
      lshRecallAgainst(s, dir, numPlanes, t, step, exact, nExact))
  }

  /** The layout-independent half of [[lshSampledRecall]]: every step-th
    * id's exact top-L from a broadcast-sample × all-points ranking
    * (O(s·n)), checkpointed so a calibration walk measures many layouts
    * against ONE denominator. HASH-based sampling, not id-modulo: the
    * decade fixtures remap copy ids by +copy·10⁸ ≡ 0 mod the large-n
    * steps, so a modulo sample collapses onto copies of a handful of
    * original points (see Similarity.querySampleFilter — the same fix,
    * same contract: step = 1 still selects every id).
    */
  private[graft] def sampledExactNeighbors(s: SparkSession, dir: String,
      step: Long): (DataFrame, Long) = {
    val pc = assigned(s, dir).select(col("id"), col("features"), col("cluster"))
    val sx = pc.where(sampledId(col("id"), step))
      .select(col("id").as("xi"), col("features").as("xv"),
        col("cluster").as("cx"))
    val ally = pc.select(col("id").as("yi"), col("features").as("yv"),
      col("cluster").as("cy"))
    val exact = topRankedPairs(
      broadcast(sx).join(ally, col("xi") =!= col("yi")))
      .select(col("xi"), col("yi"))
      .localCheckpoint(eager = true) // consumers: per-layout hit joins + count
    val nExact = exact.count()
    require(nExact > 0, s"empty recall denominator at step=$step")
    (exact, nExact)
  }

  private[graft] def sampledId(id: Column, step: Long): Column =
    pmod(xxhash64(id, lit("qsample")), lit(step)) === lit(0L)

  /** One layout's sampled recall against a precomputed exact leg. */
  private def lshRecallAgainst(s: SparkSession, dir: String,
      numPlanes: Int, numTables: Int, step: Long,
      exact: DataFrame, nExact: Long): Double = {
    val approx = lshRankedNeighbors(s, dir, numPlanes, numTables,
      xiFilter = Some(sampledId(col("xi"), step)))
    approx.join(exact, Seq("xi", "yi"), "left_semi").count()
      .toDouble / nExact
  }

  /** The LSH Conn value alone — the production form of [[c21ConnLsh]]
    * (no exact-leg denominator), what a pipeline actually runs at scale.
    */
  private[graft] def connLshValue(s: SparkSession, dir: String,
      numPlanes: Int, numTables: Int): DataFrame =
    lshRankedNeighbors(s, dir, numPlanes, numTables).agg(
      round(sum(when(col("same"), lit(1.0) / col("rnk"))
        .otherwise(lit(0.0))), 4).as("conn_lsh"))

  /** Candidate-generation COMPUTE at a layout, from the bucket histogram
    * alone: Σ over (table, bucket) of c·(c−1) — the ordered-pair rows
    * the bucket join emits before first-match dedup — in one O(n) pass,
    * no pair materialization. This is the number that decides whether a
    * layout survives a scale-up, and it is exact arithmetic, not a
    * wallclock.
    */
  private[graft] def lshCandidatePairCount(s: SparkSession, dir: String,
      numPlanes: Int, numTables: Int): Long = {
    val pc = assigned(s, dir).select(col("features"))
    bucketSizes(pc, lshPlaneRows(s, dir, numPlanes, numTables), numPlanes,
      numTables)
      .agg(coalesce(sum(col("c") * (col("c") - lit(1L))), lit(0L))
        .as("pairs"))
      .head().getLong(0)
  }

  /** c21 (VERDICT r8 §next-3): the "LSH feeds exact-over-candidates Conn
    * at scale" claim as an ORACLE-CHECKED artifact. The candidate
    * generator is [[graft.mopso.GlobalNeighbors.buildLsh]]'s shape —
    * deterministic data-derived hyperplanes (the first
    * [[LshPlanes]]·[[LshTables]] points, the s2 convention), sign-bucket
    * join per table, cross-table dedup — feeding the SAME L-bounded
    * TopKByKey ranking as c19. Because every step is deterministic, the
    * whole pipeline replays in SQL: the row carries the LSH Conn value,
    * c10's exact value, and the neighbor-level recall (the s5 pattern),
    * all hash-checked — not just a bound asserted in a spec.
    *
    * Scale shape: candidates ride one (table, bucket) shuffle —
    * O(T·Σ bucket²) pairs instead of n² — then the L-bounded aggregate;
    * the exact c10 leg exists here only as the recall denominator, the
    * verification-harness cost this parity query deliberately carries
    * (the q22 discipline).
    */
  def c21ConnLsh: Q = (s, dir) => {
    val pc = assigned(s, dir).select(col("id"), col("features"), col("cluster"))
    // two consumers (the Conn sum + the recall semi-join) and no
    // exchange-reuse between them (their aggregates differ above the
    // chain, so Catalyst planned the WHOLE candidate chain twice —
    // plan-audited, 8 scans / 0 ReusedExchange before r21); materialize
    // the n·L-bounded ranked pairs once, like the exact leg below.
    // The LSH leg and the exact leg are independent — materialize them
    // CONCURRENTLY (guide §2.6) so the checkpoint barrier doesn't
    // serialize what the old duplicated-plan form ran as overlapping
    // stages of one job
    ConcurrentLeg(s, "c21-approx")(
      lshRankedNeighbors(s, dir, LshPlanes, LshTables)
        .localCheckpoint(eager = true)) { approxLeg =>
      // exact leg = the recall denominator: same n² candidate COMPUTE as
      // c10 (inherent to "exact"), but ranked through the bounded
      // aggregate so the exchange carries O(n·L) rows, not the n² window
      // sort (the oracle deliberately keeps the window formulation as the
      // independent cross-check)
      val ex = pc.select(col("id").as("xi"), col("features").as("xv"),
        col("cluster").as("cx"))
      val ey = pc.select(col("id").as("yi"), col("features").as("yv"),
        col("cluster").as("cy"))
      val exact = topRankedPairs(
        ex.crossJoin(ey).where(col("xi") =!= col("yi")))
        .localCheckpoint(eager = true) // two consumers: value + denominator
      val approx = approxLeg()
      val connLsh = approx.agg(
        round(sum(when(col("same"), lit(1.0) / col("rnk"))
          .otherwise(lit(0.0))), 4).as("conn_lsh"))
      val connExact = exact.agg(
        round(sum(when(col("same"), lit(1.0) / col("rnk"))
          .otherwise(lit(0.0))), 4).as("conn_exact"),
        count(lit(1)).as("n_exact"))
      val hits = approx
        .join(exact.select(col("xi"), col("yi")), Seq("xi", "yi"),
          "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      connLsh.crossJoin(connExact).crossJoin(hits)
        .select(col("conn_lsh"), col("conn_exact"), col("n_hit"),
          col("n_exact"),
          round(col("n_hit") / col("n_exact"), 6).as("recall"))
    }
  }

  /** s12: the corpus-wide k-NN GRAPH as a first-class artifact — every
    * vector's top-[[L]] neighbors among its LSH candidates, (xi, rank,
    * yi) rows. This is the intermediate c21 reduces to one Conn number
    * and the building block everything graph-shaped consumes: graph
    * clustering, connectivity objectives, semantic-dedup edges, and
    * diversity sampling all start from exactly this frame. Candidate
    * generation is the c21 chain (deterministic data-derived
    * hyperplanes, per-table sign-bucket join, first-match cross-table
    * dedup) feeding the L-bounded TopKByKey aggregate, so the exchange
    * carries O(n·L) rows — never the n² window sort, which is how the
    * same plan survives a corpus that no longer fits one task's sort
    * buffer. The DuckDB oracle replays planes → buckets → candidates →
    * per-point ranking with the window formulation as the independent
    * cross-check; c21's hash-checked recall column is this graph's
    * quality measurement. Since round 16 this face runs the CAPPED
    * candidate chain at [[GraphBuildCap]] — the production semantics
    * (VERDICT r15 §next-1: the uncapped join is quadratic in
    * duplication mass, measured DNF at x1000) — and the oracle SQL
    * carries the same row_number prefix cap. At the sf0.01 fixture the
    * cap exceeds every bucket mass, so the rows equal the uncapped
    * chain's byte-for-byte (spec-pinned); [[s12bKnnGraphCapped]] pins
    * the cap-LIVE semantics at [[OracleGraphCap]]. This face pins the
    * 4×8 oracle layout; the production build and ScaleBench's decade
    * row are [[s12KnnGraphAuto]], which grows the layout with the
    * corpus ([[lshPlanesFor]]). The uncapped chain stays registered as
    * c21's recall-measured verification twin.
    */
  def s12KnnGraph: Q = (s, dir) =>
    cappedGraphAt(s, dir, LshPlanes, LshTables, GraphBuildCap)._1
      .select(col("xi"), col("rnk").cast("int").as("rank"), col("yi"))
      .orderBy(col("xi"), col("rank"))

  /** s12b: the capped build chain where the cap is LIVE at verify
    * scale — [[s12KnnGraph]] at [[OracleGraphCap]], so the DuckDB
    * oracle hash-checks the prefix truncation and the result-sized
    * pair dedup on buckets that actually exceed the cap (the sf0.01
    * fixture's reach 46 members at the pinned layout). With the main
    * faces saturated at fixture size, this row is what proves the
    * capped SEMANTICS — not just the saturated fixed point — against
    * an independent engine.
    */
  def s12bKnnGraphCapped: Q = (s, dir) =>
    cappedGraphAt(s, dir, LshPlanes, LshTables, OracleGraphCap)._1
      .select(col("xi"), col("rnk").cast("int").as("rank"), col("yi"))
      .orderBy(col("xi"), col("rank"))

  /** The production graph build: [[s12KnnGraph]] with the plane layout
    * DERIVED from the corpus count ([[lshPlanesFor]]) instead of the
    * fixture-pinned 4×8 — the same fixed-layout-vs-auto split as
    * [[c21ConnLsh]]/[[connLshAuto]], and for the same reason: a fixed
    * layout has a fixed bucket-mass distribution, so its candidate count
    * is Θ(n²) in the corpus (22 B pairs at x100 where the grown layout
    * carries 183 M). Candidate emission is capped at [[GraphBuildCap]]
    * (Σ (m−1)·min(m, cap) rows — linear in the corpus at clone-dominated
    * masses where the uncapped chain's 608.9 B pairs DNF'd the x1000
    * build; sampled recall vs the exact top-L is the per-decade
    * measurement, SCALE.md §r16). No global order-by: a graph artifact
    * is consumed joined-on-xi, not scanned in rank order, so the
    * production face ends at the aggregate's output partitioning. At
    * the sf0.01 fixture [[lshPlanesFor]] returns exactly [[LshPlanes]],
    * so this IS the oracle face there (spec-pinned). ScaleBench's
    * `s12_knn_graph` decade row times THIS face.
    */
  private[graft] def s12KnnGraphAuto(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.labeledPoints(s, dir).count()
    cappedGraphAt(s, dir, lshPlanesFor(n), LshTables, GraphBuildCap)._1
      .select(col("xi"), col("rnk").cast("int").as("rank"), col("yi"))
  }

  /** Mutuality depth for [[s13GraphClusters]]: an edge needs BOTH
    * endpoints within each other's top-[[S13MutualRank]] (not top-[[L]])
    * to count. Measured on the fixture: at mutual-[[L]] the graph
    * percolates into one 497-member component (the blobs overlap enough
    * that 5-deep mutuality is everywhere), at 3 a 428-member giant
    * forms, at 2 the corpus resolves into 202 components (max 14,
    * 101 singletons) — actual neighborhood structure. Shallow mutuality
    * IS the hub/percolation control knob of mutual-kNN clustering.
    * Decade-backed (r15, `scale_s13rank_x{10,100}.json`): on the scaled
    * clone-structured fixtures rank 1 under-merges (strict mutual-NN
    * can only form matched pairs — 12,607/123,646 components at
    * x10/x100), rank 2 recovers exactly the 2,000 base clusters at both
    * decades, and ranks 3–5 carry identical component statistics to 2
    * (since r16 the rank table also records a label-level partition
    * checksum, so "identical" is evidence-backed per run rather than
    * summary-stat-only — ADVICE r15) — depth 2 sits between
    * pair-matching fragmentation below and percolation above.
    * INDEP geometry (r17, `scale_s13rank_indep.json`, x100, 200k
    * genuinely distinct points — where percolation could reappear, and
    * does): rank 5 grows a 9,066-member giant (4.5% of the corpus) and
    * the max component climbs 13 → 80 → 334 → 9,066 across ranks 2–5,
    * while rank 2 stays informative (max 13, 45% singletons — honest
    * density neighborhoods, not a blob). The depth-2 pin therefore
    * holds on BOTH geometries: on clones it recovers exactly the base
    * clusters; on honest density it is the last depth before the
    * percolation ramp.
    */
  val S13MutualRank = 2

  /** Mutual-kNN components over an (xi, rank, yi) top-L graph: an edge
    * survives only if BOTH directions are in the graph at rank ≤
    * [[S13MutualRank]] (the standard hub-pruning rule — an asymmetric
    * neighbor claim is usually a hub absorbing everything near it),
    * then min-label connected components assign every point its
    * semantic-cluster id. Factored from [[s13GraphClusters]] so the
    * fixed-layout oracle face and the auto-layout production face share
    * one body.
    *
    * `orphans` is the capped build's handoff ([[cappedGraphWithOrphans]]):
    * a point capped out of every candidate prefix receives no incoming
    * edges, so mutuality would leave it a singleton regardless of its
    * true neighborhood. Each orphan instead INHERITS its rank-1
    * neighbor's component — the dedup-first rep→member fan-out in graph
    * terms. The fan-out is one join after the closure, never part of
    * it: an orphan attaches to exactly one core component and so can
    * never BRIDGE two of them (no percolation channel; spec-pinned),
    * and with an empty orphan set (any saturating cap) the labeling is
    * byte-identical to the plain mutual closure.
    */
  private[graft] def mutualComponents(ids0: DataFrame,
      graph: DataFrame, mutualRank: Int = S13MutualRank,
      orphans: Option[DataFrame] = None): DataFrame = {
    // the LSH candidate chain feeds both sides of the mutuality join —
    // persist it so the chain (bucket join + ranking aggregate) runs once
    val g = graph.where(col("rank") <= mutualRank)
      .select(col("xi"), col("rank"), col("yi")).persist()
    val mutual = g.as("ga").join(g.as("gb"),
        col("ga.xi") === col("gb.yi") && col("ga.yi") === col("gb.xi"))
      .where(col("ga.xi") < col("ga.yi"))
      .select(col("ga.xi").as("doc_a"), col("ga.yi").as("doc_b"))
    val ids = ids0.select(col("id").as("doc_id"))
    val comp = Closure.components(ids, mutual)
      .select(col("doc_id").as("id"), col("group_id").as("component"))
    orphans match {
      case None =>
        g.unpersist()
        comp.orderBy(col("id"))
      case Some(orph) =>
        // rank-1 rep per orphan, materialized while g is still cached
        // (the rep frame is orphan-sized; its rank-1 target is always
        // in-cap somewhere — candidates are in-cap by construction —
        // so its component is a core label)
        val rep = g.where(col("rank") === 1)
          .join(orph.select(col("id").as("xi")), Seq("xi"), "left_semi")
          .select(col("xi").as("o_id"), col("yi").as("rep"))
          .localCheckpoint(eager = true)
        g.unpersist()
        // the closure returns comp materialized and persisted, so its
        // two consumers here never re-run the closure
        comp.join(rep, col("id") === col("o_id"), "left")
          .join(comp.select(col("id").as("rep_id"),
              col("component").as("rep_component")),
            col("rep") === col("rep_id"), "left")
          .select(col("id"),
            coalesce(col("rep_component"), col("component"))
              .as("component"))
          .orderBy(col("id"))
    }
  }

  /** s13: semantic clustering over the [[s12KnnGraph]] artifact —
    * mutual-kNN edge filter at depth [[S13MutualRank]], then transitive
    * components (the SemDeDup / graph-curation shape: cluster the
    * corpus by neighborhood structure without choosing K). Every point
    * gets (id, component = min reachable id); singletons label
    * themselves. Scale shape: the graph build is s12's (O(n·L)
    * exchange), mutuality is one self-join of an O(n·m) frame on
    * (xi, yi) — a hash shuffle of graph-sized, not corpus-squared,
    * rows — and the closure is d6's ([[Closure.components]], two
    * shuffles of the edge list per round). The DuckDB oracle replays the
    * chain with a recursive CTE — an independent reachability
    * algorithm, the d6 cross-check convention. Since round 16 the graph
    * is the capped production chain at [[GraphBuildCap]] with the
    * orphan fan-out (inactive at the sf0.01 fixture where no bucket
    * reaches the cap — byte-equal to the uncapped closure there;
    * [[s13bGraphClustersCapped]] pins the LIVE fan-out).
    */
  def s13GraphClusters: Q = (s, dir) =>
    graphClustersAt(s, dir, LshPlanes, GraphBuildCap)

  /** s13b: the capped closure where the cap — and therefore the orphan
    * fan-out — is LIVE at verify scale ([[OracleGraphCap]]: 126 of the
    * fixture's 500 points cap out of every candidate prefix). The
    * DuckDB oracle replays the whole production handoff: capped
    * candidates → mutual edges → recursive reachability over the core →
    * each orphan inheriting its rank-1 neighbor's component. This is
    * the row that proves the s13 handoff VERDICT r15 named — capped-out
    * points cannot form mutual edges — resolves to the rep-inheritance
    * convention, hash-checked against an independent engine.
    */
  def s13bGraphClustersCapped: Q = (s, dir) =>
    graphClustersAt(s, dir, LshPlanes, OracleGraphCap)

  /** The production face: [[s13GraphClusters]] over the auto-layout
    * capped graph; equals the pinned face at fixture size (spec).
    * ScaleBench's `s13_graph_clusters` decade row times THIS face.
    */
  private[graft] def s13GraphClustersAuto(s: SparkSession,
      dir: String): DataFrame =
    graphClustersAt(s, dir,
      lshPlanesFor(Tables.labeledPoints(s, dir).count()), GraphBuildCap)

  /** The s13 body at a layout and cap: the capped graph with its orphan
    * fan-out, resolved to mutual-kNN components (id, component).
    */
  private def graphClustersAt(s: SparkSession, dir: String,
      numPlanes: Int, cap: Int): DataFrame = {
    val (graph, orphans) =
      cappedGraphAt(s, dir, numPlanes, LshTables, cap)
    mutualComponents(Tables.labeledPoints(s, dir),
      graph.select(col("xi"), col("rnk").as("rank"), col("yi")),
      orphans = Some(orphans))
  }

  // ---- s14: persisted graph index + assignment serving ---------------------

  /** Held-out split for [[s14GraphAssign]] (the d11 `DeltaMod`
    * convention): ids ≡ [[S14Res]] (mod [[S14Mod]]) form the arriving
    * batch; the rest are the indexed corpus. The planes are drawn from
    * the INDEXED corpus only, so the serving batch never leaks into
    * the layout.
    */
  val S14Mod = 8L
  val S14Res = 0L

  /** Runs `f` and reports its wall clock in seconds to `phase` under
    * `name`: the one phase timer of the s14 build.
    */
  private def timedPhase[A](phase: (String, Double) => Unit,
      name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = f
    phase(name, (System.nanoTime() - t0) / 1e9)
    a
  }

  /** Graph-index frames over an arbitrary (id, features) corpus:
    * `planes` (pid, v) at the given layout, `points` (id, features,
    * sigs, component, tier, r2dist) — each corpus point's per-table
    * sign buckets (computed once, stored, so serving never re-signs
    * the corpus), its mutual-kNN component ([[mutualComponents]]),
    * and its STITCH THRESHOLD `r2dist`: the distance of its
    * rank-[[S13MutualRank]] capped candidate. For a single arriving
    * point x, `dist(x, c) ≤ r2dist(c)` is EXACTLY "x enters c's
    * top-[[S13MutualRank]] list in a rebuild at the same layout"
    * (x displaces the current rank-2 edge) — the store-side half of
    * the mutual-edge test the append-time stitch evaluates
    * ([[appendToGraphIndex]]). A point with FEWER than
    * [[S13MutualRank]] candidates gets +∞: any arrival within
    * candidate reach fills its list, so the mutual condition is
    * vacuously satisfiable — not an over-admission.
    */
  private def knnGraphIndexFrames(s: SparkSession, corpus: DataFrame,
      numPlanes: Int, cap: Int,
      phase: (String, Double) => Unit = (_, _) => (),
      hashOrder: Boolean = true,
      planes0: Option[Seq[Array[Double]]] = None,
      signed0: Option[DataFrame] = None)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val planes = planes0.getOrElse(planeRowsOf(corpus, numPlanes, LshTables))
    // ONE persisted signed frame (r21, VERDICT r20 next-4): the chain,
    // the orphan leg, and the points export all read the corpus WITH
    // its sign buckets from this cache — previously each re-ran the
    // signing scan (and the certificate probe signed twice more).
    // When the steer already signed this layout, its frame is reused.
    val pc = signed0.getOrElse(
      corpus.select(col("id"), col("features"), lit(0).as("cluster"))
        .withColumn("sigs", Linalg.signBucketsCol(col("features"), planes,
          numPlanes, LshTables))
        .persist())
    // the capped production chain + orphan fan-out — the same build the
    // s13 faces run (uncapped at any fixture whose buckets stay under
    // the cap; the valve that closed the x1000 decade above it).
    // Only ranks ≤ S13MutualRank feed the build's two consumers (the
    // mutual closure and the r2dist export), so the chain materializes
    // ONCE into this slim persisted prefix instead of running per
    // consumer.
    val (graphRaw, orphans) =
      cappedGraphWithOrphans(pc.drop("sigs"), planes, numPlanes, LshTables,
        cap, hashOrder = hashOrder, signed = Some(pc))
    val gmut = graphRaw.where(col("rnk") <= lit(S13MutualRank))
      .select(col("xi"), col("rnk").as("rank"), col("yi"), col("dist"))
      .persist()
    // shuffle bytes WRITTEN during the chain action, into the phase
    // record (VERDICT r18 next-1's "done" clause): the chain's decade
    // residual was a disk-bandwidth wall on its one result-sized
    // exchange, so the record must carry the exchange mass, not just
    // wall clock. JVM-wide task metrics — exact while phases run
    // sequentially (ScaleBench's shape); the bus is drained before
    // reading so late task-end events aren't undercounted.
    val chainBytes = new java.util.concurrent.atomic.AtomicLong()
    val chainListener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null)
          chainBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    s.sparkContext.addSparkListener(chainListener)
    try timedPhase(phase, "chain") { gmut.count() } // candidate chain + ranking
    finally {
      org.apache.spark.sql.graft.Bridge.drainListenerBus(s.sparkContext)
      s.sparkContext.removeSparkListener(chainListener)
    }
    phase("chain_shuffle_write_gb", chainBytes.get / 1e9)
    val comp = timedPhase(phase, "closure") { // mutual join + propagation
      mutualComponents(pc, gmut.drop("dist"), orphans = Some(orphans))
    }
    val r2 = gmut.groupBy(col("xi"))
      .agg(count(lit(1)).as("deg"), max(col("dist")).as("d2"))
      .select(col("xi").as("id"),
        when(col("deg") >= lit(S13MutualRank), col("d2"))
          .otherwise(lit(Double.PositiveInfinity)).as("r2dist"))
    val planesDf = planes.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toDF("pid", "v")
    // tier 0 = build/base rows (subject to the serving prefix cap);
    // appends write tier 1 (never capped — chain growth through an
    // appended row is part of the append contract)
    val pointsDf = pc
      .join(comp, "id")
      .join(r2, Seq("id"), "left")
      .select(col("id"), col("features"), col("sigs"), col("component"),
        lit(0).as("tier"),
        // a point absent from the graph entirely (zero candidates) is
        // the degenerate deg-0 case of the +∞ rule above
        coalesce(col("r2dist"), lit(Double.PositiveInfinity))
          .as("r2dist"))
    // pc/gmut are returned only so writeKnnGraphIndexOf can unpersist
    // them once the frames are materialized (ADVICE r14: the build used
    // to leak a cached corpus copy per index build for the JVM's
    // lifetime)
    (planesDf, pointsDf, pc, gmut)
  }

  /** Bucket count of the graph store's SERVING layout — matches the
    * session's shuffle-partition sizing so a bucket-joined serve uses
    * every core.
    */
  val StoreBuckets = 32

  /** Catalog name for the bucketed serving layout of the store at
    * `path` — content-addressed by the path so two stores never collide
    * in the shared session catalog.
    */
  private def storeTableName(path: String): String =
    "graft_graph_store_" + java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString

  /** Write the two-table graph index for `corpus` at `path` (memoized
    * per `key` within the JVM — the s9 write discipline). Alongside the
    * plain `points/` parquet, the build exports the SERVING layout:
    * the pre-exploded (tbl, bucket, nid, nv, component) rows bucketed
    * on the probe key (`points_bucketed/`, a [[StoreBuckets]]-bucket
    * external table) — measured 2.1× faster to serve at x100 (8.7s vs
    * 17.9s, `scale_s14bucket.json`: the store side reads exchange-free
    * and only the batch moves) for a one-time write that is ~2% of the
    * build. [[assignFromGraphIndex]] rides it by default; the plain
    * parquet stays as the portability fallback (bucketed reads need
    * the table registered in a catalog; plain parquet needs nothing).
    *
    * Returns the build's per-phase wall clock — (chain, closure,
    * points_write, export_write, export_meta) — so the decade record
    * can name which phase carries `s14_index_build`'s residual
    * above-linear ratio (VERDICT r17 next-4); a memo hit returns the
    * phases of the build that wrote the store.
    */
  private[graft] def writeKnnGraphIndexOf(s: SparkSession,
      corpus: DataFrame, numPlanes: Int, path: String,
      key: String, cap: Int = GraphBuildCap,
      forceOrder: Option[String] = None): Seq[(String, Double)] =
    ArtifactCache(key, "s14_store") {
    val phases = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val record: (String, Double) => Unit = (n, t) => phases += (n -> t)
    // THRESHOLD-FIDELITY CERTIFICATE, now STEERING the build (round
    // 19's finding, round 20's close): the stored r2dist is the CAPPED
    // view's rank-2 distance, an upper bound on the truth. On
    // duplication-heavy corpora whose clusters smear across the grown
    // layout's sign sub-buckets, the id-ordered cap can hide a point's
    // entire near mass — half the x1000 base rows carried thresholds
    // ~255× the true near-dup scale, and the stitch gate percolated
    // 21k components into one 1.47M-point blob through them (ARI vs
    // fresh 0.005, `scale_s14stitch_x1000_r19_*`). The store cannot
    // tell an honestly isolated point from a starved clone by looking
    // at one threshold — but it can SAMPLE its own blindness BEFORE
    // building ([[stitchFidelityProbe]]): the capped chain's rank-2
    // (byte-equal to what the build would store — same prefix, same
    // ranking) vs the uncapped within-bucket truth, both through the
    // xiFilter probe. [[steerCertifiedLayout]] walks planes UP (then
    // the serve cap, doubling — the measured axes of the cure) until
    // the store can certify at both gated quantiles and the build
    // lands on THAT layout; if nothing in the walk certifies, the
    // auto layout is kept and [[appendToGraphIndex]] REFUSES to
    // stitch (the r19 behavior) — staleness then belongs to the
    // rebuild cadence.
    // `forceOrder` pins the prefix order and skips the cross-order
    // steer (the s14c oracle face, which must exercise the HASH
    // prefix at a cap the fixture saturates): the certificate is then
    // probed at exactly the forced layout.
    // SHARED BUILD STATE (r21, VERDICT r20 next-4): ONE persisted
    // corpus projection, ONE plane collect per plane count, and ONE
    // persisted SIGNED frame per layout — the certificate's two legs,
    // the steer walk's probes, the build chain, the orphan leg, and
    // the points export previously each re-derived these (6 signings +
    // 3 plane collects + 3 persisted corpus copies per certifying
    // build; certificate output is unchanged — same planes, same
    // signatures, same sampled ratios).
    val pc0 = corpus.select(col("id"), col("features"),
      lit(0).as("cluster")).persist()
    val nCorpus = pc0.count()
    val planeCache =
      scala.collection.mutable.Map[Int, Seq[Array[Double]]]()
    def planesAt(p: Int): Seq[Array[Double]] =
      planeCache.getOrElseUpdate(p, planeRowsOf(corpus, p, LshTables))
    // single-entry signed cache: the walk visits one layout at a time,
    // and holding every probed layout's signed frame would defeat the
    // walk's own shuffle-file pacing (see the probe note)
    var signedEntry: Option[(Int, DataFrame)] = None
    def signedAt(p: Int): DataFrame = signedEntry match {
      case Some((q, df)) if q == p => df
      case prev =>
        prev.foreach(_._2.unpersist())
        val df = pc0.withColumn("sigs",
          Linalg.signBucketsCol(col("features"), planesAt(p), p, LshTables))
          .persist()
        signedEntry = Some((p, df))
        df
    }
    // the finally releases the shared caches on ANY exit — the happy
    // path also unpersists them inline (idempotent), but a throwing
    // probe/build must not leak a persisted corpus copy per attempt
    // (the steer's old per-call try/finally, hoisted with the caches)
    try {
    val (chosenPlanes, chosenCap, chosenOrder, cert) =
      timedPhase(record, "fidelity") {
        forceOrder match {
          case Some(ord) =>
            val cf = stitchFidelityProbe(s, pc0,
              planesAt(numPlanes), numPlanes,
              cap, nCorpus, 512L, hashOrder = ord == "hash",
              signed = Some(signedAt(numPlanes)))
            (numPlanes, cap, ord, cf)
          case None =>
            steerCertifiedLayout(s, corpus, numPlanes, cap,
              phase = record,
              pc = pc0, n = nCorpus,
              planesAt = planesAt, signedAt = signedAt)
        }
      }
    phases += ("steer_planes" -> chosenPlanes.toDouble)
    phases += ("steer_planes_auto" -> numPlanes.toDouble)
    phases += ("steer_cap" -> chosenCap.toDouble)
    phases += ("steer_cap_auto" -> cap.toDouble)
    phases += ("steer_hash_order" ->
      (if (chosenOrder == "hash") 1.0 else 0.0))
    val (planesDf, pointsDf, pc, gmut) =
      knnGraphIndexFrames(s, corpus, chosenPlanes, chosenCap,
        phase = record,
        hashOrder = chosenOrder == "hash",
        planes0 = Some(planesAt(chosenPlanes)),
        signed0 = Some(signedAt(chosenPlanes)))
    planesDf.coalesce(1).write.mode("overwrite").parquet(s"$path/planes")
    timedPhase(record, "points_write") {
      pointsDf.write.mode("overwrite").parquet(s"$path/points")
    }
    locally {
      import s.implicits._
      Seq((cert.p50, cert.p90, cert.fracAbove, cert.n,
          chosenPlanes, numPlanes, chosenCap, cap, chosenOrder,
          chosenPlanes != numPlanes || chosenCap != cap))
        .toDF("inflation_p50", "inflation_p90", "frac_above",
          "n_sample", "planes", "planes_auto", "cap", "cap_auto",
          "prefix_order", "steered")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$path/stitch_fidelity")
    }
    pc.unpersist(); gmut.unpersist()
    // a FULL rebuild re-labels everything as base: any append-time
    // stitch map from the previous store generation names component
    // ids from the OLD labeling (same id space — min point ids) and
    // applying it to the fresh labels would corrupt them. Drop it —
    // the staged dir too, or componentMapDir would resurrect it.
    val mapLoc = new org.apache.hadoop.fs.Path(s"$path/component_map")
    val fsMap = mapLoc.getFileSystem(s.sparkContext.hadoopConfiguration)
    fsMap.delete(mapLoc, true)
    fsMap.delete(
      new org.apache.hadoop.fs.Path(s"$path/component_map_staged"), true)
    // a rebuild resets the append-wave ledger too: its wave costs and
    // the build cost it projects against belong to the OLD store
    fsMap.delete(new org.apache.hadoop.fs.Path(s"$path/appends_log"), true)
    phases ++= exportBucketedStore(s, path, chosenCap,
      order = chosenOrder)
    // BUILD-COST LEDGER (VERDICT r19 next-2): the one number the
    // append-wave budget projects against. Wave compute grows with
    // accumulated cap-exempt tier-1 bucket mass (32→159 s over four
    // x1000 waves), so past some point serving another wave costs more
    // than rebuilding the store outright — the budget rule
    // ([[appendWaveBudget]]) needs the rebuild price recorded where
    // the appends can see it.
    locally {
      import s.implicits._
      val buildSec = phases.collect {
        case (n, v) if !n.startsWith("steer_") &&
          n != "chain_shuffle_write_gb" => v
      }.sum
      // == the corpus count already measured: pointsDf carries one row
      // per corpus id (the closure labels every id; r2 joins left)
      val nAtBuild = nCorpus
      Seq((buildSec, nAtBuild))
        .toDF("build_sec", "points_at_build")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/build_meta")
    }
    phases.toSeq
    } finally {
      pc0.unpersist()
      signedEntry.foreach(_._2.unpersist()); signedEntry = None
    }
  }

  /** The append-wave budget (VERDICT r19 next-2): projected cost of
    * the NEXT append wave (linear extrapolation over the last two
    * ledger rows — wave cost grows with accumulated tier-1 mass, and
    * the x1000 measurement is close to linear: 32/77/122/159 s) vs
    * the projected cost of a full REBUILD at the store's current size
    * (the recorded build cost scaled by corpus growth — the build is
    * measured linear per decade). Returns (projected next wave sec,
    * projected rebuild sec) when both ledgers exist with ≥ 2 waves;
    * the store flags "rebuild now" when the former exceeds the
    * latter. The crossover this rule encodes at x1000: waves cost
    * 32 + ~43·w seconds, so a 392 s build wins after ~8 waves of 60k
    * rows (~24% appended mass) — see SCALE.md §r20.
    */
  private[graft] def appendWaveBudget(s: SparkSession,
      path: String): Option[(Double, Double)] =
    if (!storePathExists(s, s"$path/appends_log") ||
        !storePathExists(s, s"$path/build_meta")) None
    else {
      val log = s.read.parquet(s"$path/appends_log")
        .orderBy(col("wave")).collect()
      if (log.length < 2) None
      else {
        val last = log(log.length - 1).getDouble(2)
        val prev = log(log.length - 2).getDouble(2)
        val projectedWave = math.max(last, 2 * last - prev)
        val bm = s.read.parquet(s"$path/build_meta").collect()(0)
        val buildSec = bm.getDouble(0)
        val nAtBuild = math.max(1L, bm.getLong(1))
        val nNow = s.read.parquet(s"$path/points").count()
        val projectedRebuild = buildSec * (nNow.toDouble / nAtBuild)
        Some((projectedWave, projectedRebuild))
      }
    }

  /** The serving-prefix ORDER key. `"hash"` — [[hashPrefixKey]] of the
    * nid, the PRODUCTION build's own candidate-prefix convention since
    * round 20 (unbiased bucket sample; see the key's note for the
    * measured id-order starvation it replaces) — `"nid"` — insertion
    * order, the pre-r20 convention and the oracle faces' d3 rule — or
    * `"r2dist"` — `(r2dist, nid)`, densest-neighborhood rows first
    * (the r18 novel-point parity probe; measured and declined as the
    * default in r19). A NULL r2dist (pre-r18 rows) coalesces to +∞ —
    * sorts last, and on an all-legacy store the nid tie-break makes
    * nid and r2dist orders identical. Every struct key is unique (nid
    * is), which is what keeps the threshold-filter formulation exact.
    */
  private def serveCapKey(order: String): Column = order match {
    case "r2dist" =>
      struct(coalesce(col("r2dist"), lit(Double.PositiveInfinity))
        .as("r2"), col("nid").as("nid"))
    case "hash" =>
      struct(hashPrefixKey(col("nid")).as("h"), col("nid").as("nid"))
    case "nid" => struct(col("nid").as("nid"))
    case other => throw new IllegalArgumentException(
      s"unknown serving-prefix order $other (nid | r2dist | hash)")
  }

  /** Ensures the serving-order column exists (synthetic spec frames
    * and pre-r18 explodes may lack it; NULL = +∞ under the key).
    */
  private def withR2(df: DataFrame): DataFrame =
    if (df.columns.contains("r2dist")) df
    else df.withColumn("r2dist", lit(null).cast("double"))

  /** The CAPPED serving projection of an exploded store: per
    * (tbl, bucket), the first `cap` tier-0 rows by the serving-prefix
    * key — the BUILD's own candidate-prefix convention
    * (`cappedGraphWithOrphans`' in-cap window: same keys, same order —
    * [[hashPrefixKey]] for the production store since r20, nid for
    * pre-r20 exports) — plus every tier-1 (appended) row uncapped. Serve candidates over this projection are EXACTLY
    * the build's candidate set, so the self-serve fixed point survives
    * capping by construction; appended rows are never capped out, so a
    * later batch still inherits through an earlier append (the chain-
    * growth contract). This is the round-17 fix for the x1000 serve
    * DNF (VERDICT r16 next-1): the uncapped store side made the serve
    * join's output ∝ batch-mass × store-mass per bucket — quadratic in
    * duplication mass — and spilled the disk to death at x1000; the
    * prefix bounds the store side at `cap` rows per (tbl, bucket).
    */
  private[graft] def cappedServing(exploded0: DataFrame, cap: Int,
      order: String = "nid"): DataFrame = {
    // threshold filter, not a row_number window (r17 export-cost fix):
    // the window formulation shuffles AND sorts the full
    // feature-carrying exploded store (~560-byte rows) just to rank by
    // the prefix key, and the bucketed write re-shuffles it again —
    // the one above-linear decade row in `scale_graph_x1000.json`. The
    // key is unique, so "rank ≤ cap by key" ≡ "key ≤ cap-th smallest
    // key in the bucket": compute the per-(tbl, bucket) threshold with
    // the bounded TopKByKey aggregate over SLIM (tbl, bucket, key)
    // rows (pre-repartitioned on the group key so partial state is
    // groups/task, the r16 OOM discipline), then filter the feature
    // rows with one join — AQE broadcasts the bucket-sized threshold
    // table at any realistic layout, so the big side never shuffles
    // before the write's own bucketBy exchange. The window twin below
    // stays as the spec cross-check.
    val exploded = withR2(exploded0)
    val key = serveCapKey(order)
    val thr = exploded.where(col("tier") === 0)
      .select(col("tbl"), col("bucket"), key.as("k"))
      .repartition(col("tbl"), col("bucket"))
      .groupBy(col("tbl"), col("bucket"))
      .agg(graft.functions.TopKAggregate
        .topKByKey(col("k"), col("k"), cap).as("ks"))
      .select(col("tbl"), col("bucket"),
        element_at(col("ks"), size(col("ks"))).as("key_cap"))
    exploded.where(col("tier") === 0)
      .join(thr, Seq("tbl", "bucket"))
      .where(key <= col("key_cap"))
      .drop("key_cap", "tier")
      .unionByName(withR2(exploded0).where(col("tier") === 1).drop("tier"))
  }

  /** The row_number formulation of [[cappedServing]] — kept as the
    * independent cross-check twin (spec-pinned byte-equal; key
    * uniqueness is what makes the threshold filter exact).
    */
  private[graft] def cappedServingWindow(exploded0: DataFrame,
      cap: Int, order: String = "nid"): DataFrame = {
    val exploded = withR2(exploded0)
    val wB = Window.partitionBy(col("tbl"), col("bucket"))
      .orderBy(serveCapKey(order))
    exploded.where(col("tier") === 0)
      .withColumn("rn", row_number().over(wB))
      .where(col("rn") <= cap)
      .drop("rn", "tier")
      .unionByName(exploded.where(col("tier") === 1).drop("tier"))
  }

  /** (Re)builds the bucketed SERVING layout from the plain `points`
    * parquet — the source of truth — applying the per-(tbl, bucket)
    * serving prefix at `cap` ([[cappedServing]]). Reads the
    * JUST-WRITTEN files, never a lazy points frame whose plan would
    * re-run the whole graph build. Also the repair path of
    * [[appendToGraphIndex]]'s dual-write guard. Ends by writing the
    * store meta row (cap, plain/bucketed row counts at export) that
    * the guard's capped-count arithmetic and the plain fallback's
    * prefix read from.
    */
  private[graft] def exportBucketedStore(s: SparkSession,
      path: String, cap: Int = GraphBuildCap,
      order: String = "nid"): Seq[(String, Double)] = {
    val tbl = storeTableName(path)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val t0 = System.nanoTime()
    cappedServing(explodedStore(readPoints(s, path)), cap, order)
      .write.bucketBy(StoreBuckets, "tbl", "bucket")
      .sortBy("tbl", "bucket")
      .option("path", s"$path/points_bucketed")
      .mode("overwrite").saveAsTable(tbl)
    val t1 = System.nanoTime()
    val nPlain = s.read.parquet(s"$path/points").count()
    val nBucketed = s.table(tbl).count()
    import s.implicits._
    // export_order is part of the meta row so the PLAIN read-time
    // fallback applies the same prefix the bucketed export
    // materialized — the two faces must never diverge on order.
    // `planes` records the layout the store actually serves (the
    // steered count when the fidelity walk moved it — VERDICT r19
    // next-1's store_meta clause), read back from the planes table so
    // a standalone re-export can never desynchronize it.
    val nPlanesStore =
      (s.read.parquet(s"$path/planes").count() / LshTables).toInt
    Seq((cap, nPlain, nBucketed, order,
        nPlanesStore))
      .toDF("cap", "points_at_export", "bucketed_at_export",
        "export_order", "planes")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/store_meta")
    val t2 = System.nanoTime()
    Seq("export_write" -> (t1 - t0) / 1e9,
      "export_meta" -> (t2 - t1) / 1e9)
  }

  /** The store's export-time meta row: (serve cap, plain point count at
    * export, bucketed row count at export, prefix order) — absent on a
    * pre-r17 store, which the guard treats as divergence (rebuild
    * re-creates it); a pre-r19 meta lacks the order column and reads
    * "nid" (the only order that existed).
    */
  private def readStoreMeta(s: SparkSession,
      path: String): Option[(Int, Long, Long, String)] =
    if (storePathExists(s, s"$path/store_meta")) {
      val df = s.read.parquet(s"$path/store_meta")
      val r = df.collect()(0)
      val order =
        if (df.columns.contains("export_order"))
          r.getString(df.columns.indexOf("export_order"))
        else "nid"
      Some((r.getInt(0), r.getLong(1), r.getLong(2), order))
    } else None

  private def stagedMapCommitted(s: SparkSession, path: String): Boolean =
    // either marker proves the staged job committed: Spark's own
    // _SUCCESS, or the engine's explicit marker written right after
    // the staged parquet job (ADVICE r20 — _SUCCESS alone disappears
    // under mapreduce.fileoutputcommitter.marksuccessfuljobs=false)
    storePathExists(s, s"$path/component_map_staged/_SUCCESS") ||
      storePathExists(s, s"$path/component_map_staged/_graft_committed")

  /** The live component-map directory, staged-crash tolerant: the
    * committed map, or the COMPLETE staged map an append crash left
    * between its two swap renames. "Complete" is the parquet job's own
    * `_SUCCESS` marker (ADVICE r19): on every LATER append a crash
    * mid-staged-write leaves the live dir intact, but on the FIRST
    * stitching append no live map has ever existed — an uncommitted
    * staged dir would otherwise be read (or promoted) as if it were
    * the whole map, silently dropping that batch's merges.
    */
  private def componentMapDir(s: SparkSession,
      path: String): Option[String] =
    if (storePathExists(s, s"$path/component_map"))
      Some(s"$path/component_map")
    else if (stagedMapCommitted(s, path))
      Some(s"$path/component_map_staged")
    else None

  /** Promote a dangling staged map (crash between the swap renames) to
    * live before an append writes a NEW staged dir over it — without
    * this, the next append's staged overwrite would delete the only
    * surviving copy. An UNCOMMITTED staged dir (no `_SUCCESS` — a
    * crash mid-write with no live map to protect it) is deleted
    * instead: its merges were never durable, and the safe direction
    * is under-merged (a later batch or the rebuild cadence
    * re-observes). Appends are single-writer (the dual-write guard's
    * own assumption), so the rename is unracy.
    */
  private def repairStagedMap(s: SparkSession, path: String): Unit =
    if (!storePathExists(s, s"$path/component_map") &&
        storePathExists(s, s"$path/component_map_staged")) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      if (stagedMapCommitted(s, path))
        fs.rename(
          new org.apache.hadoop.fs.Path(s"$path/component_map_staged"),
          new org.apache.hadoop.fs.Path(s"$path/component_map"))
      else {
        System.err.println(s"[graft] graph store at $path carries an " +
          "UNCOMMITTED staged stitch map (crash mid-write before any " +
          "live map existed) — discarding it; its batch's merges were " +
          "never durable and will be re-observed")
        fs.delete(
          new org.apache.hadoop.fs.Path(s"$path/component_map_staged"),
          true)
      }
    }

  /** The store's append-time stitch map — (component, canon) rows for
    * every component the stitch pass has merged into a smaller-id
    * canonical ([[appendToGraphIndex]]); empty frame when no stitch
    * has run (fresh build, or a store rebuilt since). GRAPH-sized:
    * one row per merged component, never per point.
    */
  private[graft] def readComponentMap(s: SparkSession,
      path: String): DataFrame =
    componentMapDir(s, path).map(s.read.parquet(_)).getOrElse {
      import s.implicits._
      Seq.empty[(Long, Long)].toDF("component", "canon")
    }

  /** Rewrites a frame's `component` column through the stitch map:
    * merged labels read their canonical, untouched labels pass through.
    * One left join against the graph-sized map (AQE broadcasts it at
    * any realistic size) — the store's corpus-sized rows are NEVER
    * rewritten; the map is the repair.
    */
  private[graft] def applyComponentMap(s: SparkSession, path: String,
      df: DataFrame): DataFrame =
    componentMapDir(s, path).map { mapDir =>
      val m = s.read.parquet(mapDir)
        .select(col("component").as("cm_from"), col("canon"))
      val rest = df.columns.filterNot(_ == "component").map(col).toSeq
      df.join(m, df("component") === col("cm_from"), "left")
        .select(rest :+
          coalesce(col("canon"), df("component")).as("component"): _*)
        .select(df.columns.map(col): _*) // original column order
    }.getOrElse(df)

  /** The store-wide component labeling in CANONICAL form: every
    * point's stored component rewritten through the stitch map — the
    * partition a consumer (the staleness protocol, a dedup cut)
    * should read, since raw base labels predate any append-time
    * repairs.
    */
  private[graft] def storeComponents(s: SparkSession,
      path: String): DataFrame =
    applyComponentMap(s, path,
      readPoints(s, path).select(col("id"), col("component")))

  /** The production build face: the FULL corpus at the auto-derived
    * layout ([[lshPlanesFor]]) — build once, then serve arriving
    * vectors forever via [[assignFromGraphIndex]] /
    * [[serveGraphAssignStream]].
    */
  private[graft] def writeKnnGraphIndex(s: SparkSession, dir: String,
      path: String): Seq[(String, Double)] = {
    val pts = Tables.labeledPoints(s, dir).select(col("id"), col("features"))
    writeKnnGraphIndexOf(s, pts, lshPlanesFor(pts.count()), path,
      s"$dir->$path->full")
  }

  /** Drops the per-JVM written-index memo for `dir` so a timed build
    * row re-exports (the p7 `invalidate` contract).
    */
  def invalidateKnnGraphIndex(dir: String): Unit =
    ArtifactCache.invalidate(dir, "s14_store")

  /** The store's frozen hyperplanes — a driver read; the planes table
    * is layout-sized (≤ ~13×8 rows at any corpus size).
    */
  private def readPlanes(s: SparkSession,
      path: String): Seq[Array[Double]] =
    s.read.parquet(s"$path/planes")
      .orderBy(col("pid")).collect()
      .map(_.getSeq[Double](1).toArray).toSeq

  /** The store's `points/` parquet with the schema NORMALIZED across
    * file generations (ADVICE r17). A pre-r17 store's files lack the
    * `tier` column; an append then writes tier-carrying files into the
    * same directory, and a plain read (no mergeSchema) picks one
    * arbitrary file footer as the schema — if a new footer wins, every
    * legacy row reads tier = NULL and the serving projection's
    * tier-0/tier-1 filters drop the ENTIRE legacy base from both legs;
    * if an old footer wins, appended rows lose their tier and can be
    * capped out of the prefix, breaking the chain-growth contract.
    * `mergeSchema` unions the footers, and the null-tier rows (legacy
    * files under the merged schema) coalesce to 0 — base rows, the
    * correct semantics. A store with NO tier column at all (never
    * appended pre-r17) gets the all-zero column directly.
    */
  private[graft] def readPoints(s: SparkSession, path: String): DataFrame = {
    val df = s.read.option("mergeSchema", "true").parquet(s"$path/points")
    val t =
      if (df.columns.contains("tier"))
        df.withColumn("tier", coalesce(col("tier"), lit(0)))
      else df.withColumn("tier", lit(0))
    // r2dist: the stitch threshold (absent on a pre-r18 store — reads
    // NULL, which the stitch gate treats as "unknown, never merge
    // through this point": conservative, serve-path-neutral)
    if (t.columns.contains("r2dist")) t
    else t.withColumn("r2dist", lit(null).cast("double"))
  }

  /** The exploded serving projection of a `points` frame (tier carried
    * through for [[cappedServing]]; feed it [[readPoints]], which
    * normalizes the tier/r2dist columns across store generations).
    */
  private def explodedStore(points: DataFrame): DataFrame = {
    val p0 =
      if (points.columns.contains("tier")) points
      else points.withColumn("tier", lit(0))
    val p =
      if (p0.columns.contains("r2dist")) p0
      else p0.withColumn("r2dist", lit(null).cast("double"))
    p.select(col("id").as("nid"), col("features").as("nv"),
      col("component"), col("r2dist"),
      coalesce(col("tier"), lit(0)).as("tier"),
      posexplode(col("sigs")).as(Seq("tbl", "bucket")))
  }

  /** Scheme-agnostic existence probe via Hadoop's FileSystem API —
    * `java.io.File` is always false for non-local stores (hdfs://,
    * s3a://), which would silently degrade the promoted bucketed serve
    * face to the plain-parquet fallback on exactly the deployments the
    * layout was promoted for (ADVICE r15).
    */
  private def storePathExists(s: SparkSession, loc: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The store at `path` in its fastest AVAILABLE serving layout: the
    * bucketed table when its directory exists (re-registered in this
    * session's catalog if needed — the bucketing metadata lives in the
    * catalog, the files carry the bucket ids in their names), else the
    * plain parquet explode. `useBucketed = false` forces the plain path
    * (ScaleBench's layout comparison and the portability fallback).
    *
    * Since r17 BOTH layouts serve the CAPPED projection
    * ([[cappedServing]]): the bucketed table is capped physically at
    * export (zero read-time cost — the production path); the plain
    * fallback applies the same prefix at read time via the
    * TopKByKey-threshold + broadcast-join formulation — NO window, no
    * store-wide sort: one slim (tbl, bucket, nid) aggregate derives
    * the per-bucket cap-th nid, and the feature rows filter against
    * the broadcast threshold table (the price of portability is that
    * one extra store scan per serve, never the default;
    * PlanAuditSpec pins both faces windowless).
    */
  private[graft] def graphStoreFrame(s: SparkSession, path: String,
      useBucketed: Boolean = true): DataFrame = {
    val loc = s"$path/points_bucketed"
    if (useBucketed && storePathExists(s, loc)) {
      val tbl = storeTableName(path)
      if (!s.catalog.tableExists(tbl))
        // r2dist: parquet resolves by name, so a pre-r18 bucketed dir
        // without the column reads NULL under this schema — exactly
        // the conservative never-stitch value
        s.sql(s"""CREATE TABLE $tbl
          (nid BIGINT, nv ARRAY<DOUBLE>, component BIGINT,
           r2dist DOUBLE, tbl INT, bucket BIGINT)
          USING parquet
          CLUSTERED BY (tbl, bucket) SORTED BY (tbl, bucket)
          INTO $StoreBuckets BUCKETS
          LOCATION '$loc'""")
      s.table(tbl)
    } else {
      val exploded = explodedStore(readPoints(s, path))
      val meta = readStoreMeta(s, path)
      cappedServing(exploded, meta.map(_._1).getOrElse(GraphBuildCap),
        order = meta.map(_._4).getOrElse("nid"))
    }
  }

  /** Assign a batch of (id, features) vectors against a persisted
    * graph index: sign each vector with the FROZEN planes (a driver
    * read — the planes table is layout-sized), bucket-join against the
    * store's pre-computed sigs (exploded from parquet, no corpus
    * re-signing), and take each vector's nearest candidate's component
    * via a partial-aggregatable struct-min — no window, no exact pass.
    * A vector colliding with a candidate in several tables contributes
    * duplicate pairs; the argmin is unaffected, so no first-match
    * dedup is spent on them. Vectors with NO bucket collision mint a
    * new singleton component = their own id (null neighbor) — exactly
    * what an ingest pipeline does with a genuinely novel point.
    *
    * The store side is the CAPPED serving projection (r17): at most
    * `cap` base rows per (tbl, bucket) — the build's own candidate
    * prefix — so serve output is ≤ batch-sigs × cap rows regardless of
    * duplication mass (the uncapped join's batch × bucket-mass output
    * spilled the disk to death at x1000, SCALE.md §r16→17). A probed
    * bucket that is non-empty in the store always has a non-empty
    * prefix, so capping never creates NEW singletons — it can only
    * move an assignment to another near candidate's component; that
    * delta is measured per decade (`scale_s14cap_*.json`).
    */
  private[graft] def assignFromGraphIndex(batch: DataFrame,
      path: String, useBucketed: Boolean = true): DataFrame = {
    val s = batch.sparkSession
    // the argmin inherits the store's RAW label, then the stitch map
    // (if any) rewrites it to the canonical — so serving reflects
    // every append-time repair without a store rewrite
    applyComponentMap(s, path,
      assignFromGraphStore(batch, readPlanes(s, path),
        graphStoreFrame(s, path, useBucketed)))
  }

  /** The serve core over an arbitrary EXPLODED store frame
    * (tbl, bucket, nid, nv, component) — factored so ScaleBench's
    * `s14bucket` mode can feed a bucket-partitioned table (store-side
    * exchange-free join) against the plain parquet explode and compare
    * the two serving layouts at scale.
    */
  private[graft] def assignFromGraphStore(batch: DataFrame,
      planeRows: Seq[Array[Double]], store: DataFrame): DataFrame = {
    val numPlanes = planeRows.length / LshTables
    assignFromSignedGraphStore(batch
      .withColumn("sigs", Linalg.signBucketsCol(col("features"), planeRows,
        numPlanes, LshTables)),
      store)
  }

  /** [[assignFromGraphStore]] over a batch ALREADY carrying its `sigs`
    * array — factored so [[appendToGraphIndex]] signs its batch exactly
    * once and feeds the same signed frame to both the assignment probe
    * and the appended rows.
    */
  private def assignFromSignedGraphStore(signed: DataFrame,
      store: DataFrame): DataFrame = {
    val batch = signed.select(col("id"))
    val q = signed.select(col("id"), col("features"),
        posexplode(col("sigs")).as(Seq("tbl", "bucket")))
    val best = q.join(store, Seq("tbl", "bucket"))
      .groupBy(col("id"))
      .agg(min(struct(
        Linalg.euclidCol(col("features"), col("nv")).as("dist"),
        col("nid").as("nid"),
        col("component").as("component"))).as("b"))
      .select(col("id"), col("b.nid").as("neighbor"),
        col("b.component").as("component"))
    batch.select(col("id")).join(best, Seq("id"), "left")
      .select(col("id"), col("neighbor"),
        coalesce(col("component"), col("id")).as("component"))
  }

  /** Append an arriving batch INTO the persisted graph store (the d11
    * append contract, for neighborhood state): each delta vector is
    * component-labeled against the CURRENT store
    * ([[assignFromGraphIndex]]), signed against the frozen planes, and
    * appended to `points/` — existing rows are immutable (their
    * components never change), so sequential appends compose
    * deterministically and a later batch can inherit a component
    * through an earlier appended row (chain growth, spec'd). The
    * planes stay frozen: an append never re-shuffles or re-signs the
    * corpus, which is the whole point — the store drifts from the
    * layout a fresh build would derive. The drift is MEASURED at two
    * decades (`scale_s14stale_x{10,100}.json`, the d11/s9 staleness
    * protocol): appending 12/25/50% of the corpus in four sequential
    * batches against a frozen base store yields adjusted-Rand
    * agreement 0.895/0.826/0.855 with a fresh full rebuild at x10 —
    * but 0.384/0.230/0.183 at x100, the stale store carrying 6–11×
    * the components. The x100 collapse is the BASE build's chain
    * geometry, not the append path (diagnosed per tier: every excess
    * component is tier-0; appends only inherit, they never mint):
    * near-dup chains thread mutual-rank components as paths, and
    * every not-yet-arrived chain member breaks the path — expected
    * breaks ≈ chain_length × holdout_rate, which reproduces BOTH
    * decades' component counts (SCALE.md §r17).
    *
    * THE STITCH (r18, VERDICT r17 next-1) repairs exactly that break
    * class at append time: an arriving row that lands IN a severed
    * gap co-candidates with both chain sides, and when both sides
    * pass the incremental mutual-edge test (candidate in the row's
    * top-[[S13MutualRank]]; row within the candidate's stored
    * `r2dist` — see [[knnGraphIndexFrames]]) their components merge
    * through the graph-sized `component_map/` side table. Stored
    * rows are STILL never rewritten — the raw label plus the map IS
    * the canonical labeling ([[applyComponentMap]], applied by every
    * serve face and [[storeComponents]]); the closure input is map
    * pairs + this batch's observed merges, so canonicals stay
    * transitive across appends, and a full rebuild drops the map
    * (fresh labels reuse the id space). Repair cost is append-scale:
    * the stitch rides the serve probe's own candidate join plus one
    * component-graph closure. Measured (`scale_s14stitch_x*`):
    * the x100 ARI collapse the frozen store suffers under long-chain
    * arrivals recovers at stitch-on. The REVISED cadence rule:
    * chain breaks — the dominant staleness term, scaling with
    * arriving chain LENGTH — are repaired continuously; what remains
    * frozen is the layout and the base neighborhoods themselves
    * (planes never re-derive, base top-k lists never refine, stitch
    * never SPLITS an over-merged base component), so rebuild
    * frequency now follows layout drift and split-debt, not append
    * fraction. `stitch = false` restores the frozen-base append
    * verbatim (the measurement baseline).
    *
    * Appended rows carry tier 1: they are NEVER capped out of the
    * serving prefix (an appended row must stay findable, or the chain-
    * growth contract breaks), so a hot bucket's appended mass grows
    * past the cap until the next FULL index rebuild
    * ([[writeKnnGraphIndexOf]] re-signs and re-tiers everything as
    * base) — bounded by the same rebuild cadence the staleness curve
    * already prescribes. The guard's [[exportBucketedStore]] repair
    * deliberately preserves tiers: it reproduces the dual-write
    * content exactly (capped base + all appends), never re-caps.
    *
    * The plain append and the bucketed append are NOT atomic; a crash
    * between them would leave the default serve face silently short.
    * Every append therefore ends with a totals comparison — footer
    * counts against the export meta's capped arithmetic: expected
    * bucketed rows = bucketed_at_export + (points since export) ×
    * tables — that detects any divergence (this append's or an earlier
    * crash's; a missing meta row, i.e. a pre-r17 store, counts as
    * divergence) and rebuilds the bucketed layout from the
    * source-of-truth points (spec-pinned).
    */
  private[graft] def appendToGraphIndex(batch: DataFrame,
      path: String, stitch: Boolean = true): Unit = {
    val s = batch.sparkSession
    val tWave0 = System.nanoTime()
    // every intermediate is persisted through THIS tracked round-trip
    // and released in the finally below — NOT Dataset.localCheckpoint,
    // whose blocks linger until a driver GC lets the ContextCleaner
    // run. A long-lived ingest (or the x1000 staleness protocol's two
    // builds + eight appends in one JVM) accumulates those blocks
    // until the MemoryStore saturates and execution memory starves —
    // measured: the first x1000 s14stitch attempt died
    // UNABLE_TO_ACQUIRE_MEMORY at a 96 GB heap with the store full of
    // superseded append intermediates (SCALE.md §r18). The fourth
    // third-decade lifetime defect, same family as the closure's
    // explicit round unpersist (ADVICE r17).
    val kept = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]()
    def tracked(df: DataFrame, eager: Boolean): DataFrame = {
      val rdd = df.rdd
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      kept += rdd
      if (eager) rdd.count() // materialize BEFORE any store write below
      s.createDataFrame(rdd, df.schema)
    }
    try {
    // promote a crash-dangled staged map BEFORE this append reads any
    // component state or writes its own staged dir over it
    repairStagedMap(s, path)
    // the build-time blindness certificate gates the stitch (see the
    // fidelity block in [[writeKnnGraphIndexOf]]): a store whose
    // sampled threshold inflation exceeds [[StitchFidelityMax]] cannot
    // certify its merge evidence, and stitching on it percolates
    // cross-cluster merges (x1000: ARI vs fresh 0.005). The append
    // DEGRADES to the frozen form — loudly — and staleness reverts to
    // the rebuild cadence. A pre-r19 store carries no certificate and
    // keeps the x10/x100-validated behavior.
    val stitchOk = stitch && {
      if (!storePathExists(s, s"$path/stitch_fidelity")) true
      else {
        // gate on the TAIL as well as the median (VERDICT r19 next-3 /
        // ADVICE r19): a half-starved store certifies p50 ≈ 1 while
        // its starved minority still percolates transitive merges —
        // the x1000 evidence was p50 1.02 / p90 2.82. A pre-r20
        // certificate carries only the median; its p90 defaults to it
        // (the old gate, unchanged for old stores).
        val df = s.read.parquet(s"$path/stitch_fidelity")
        val r = df.collect()(0)
        def d(name: String, dflt: Double): Double =
          if (df.columns.contains(name))
            r.getDouble(df.columns.indexOf(name))
          else dflt
        val p50 = d("inflation_p50", 1.0)
        val p90 = d("inflation_p90", p50)
        val infl = math.max(p50, p90)
        if (infl > StitchFidelityMax) {
          System.err.println(f"[graft] graph store at $path cannot " +
            f"certify its stitch thresholds (sampled capped-vs-true " +
            f"rank-2 inflation p50 $p50%.1f / p90 $p90%.1f, gate " +
            f"$StitchFidelityMax on both): appending FROZEN (no " +
            "stitch); repair staleness by rebuild cadence at this " +
            "layout")
          false
        } else true
      }
    }
    val planeRows = readPlanes(s, path)
    val numPlanes = planeRows.length / LshTables
    // sign ONCE and materialize: the one signing job feeds both the
    // assignment probe and the appended rows (r14 read planes twice and
    // signed the batch twice — VERDICT r14 "What's wrong" #2); lazy
    // persist — topk's materialization below runs the signing job
    val signed = tracked(batch
      .withColumn("sigs", Linalg.signBucketsCol(col("features"), planeRows,
        numPlanes, LshTables)),
      eager = false)
    // ONE candidate join (the serve probe's shape) feeds the argmin,
    // the stitch gate, AND the appended rows' own r2dist — but it is
    // NEVER materialized: tier-1 store rows are exempt from the
    // serving cap (the chain-growth contract), so on clone-mass
    // geometry the appended rows concentrate in mega-buckets and the
    // join's output grows with every prior wave — measured 732M rows
    // (577M distinct pairs) for the SECOND 60k-row wave at x1000,
    // where the old persisted+deduped candidate frame OOM'd a 96 GB
    // heap (SCALE.md §r19). Instead the stream flows straight into
    // ONE bounded per-id aggregate: top-(S13MutualRank·LshTables) by
    // (dist, nid). Cross-table duplicates carry IDENTICAL keys and
    // values, so each distinct candidate occupies ≤ LshTables buffer
    // slots and the buffer provably contains the top-S13MutualRank
    // DISTINCT candidates — array_distinct + slice at eval reproduces
    // the old dedup-then-rank BYTE-EXACTLY, with batch-sized state
    // instead of a join-sized shuffle. Materialized (tracked, eager)
    // BEFORE any append write so no downstream plan can read the
    // store including its own output (ADVICE r14).
    val store0 = graphStoreFrame(s, path)
    val store =
      if (store0.columns.contains("r2dist")) store0
      else store0.withColumn("r2dist", lit(null).cast("double"))
    val topk = tracked(signed
      .select(col("id"), col("features"),
        posexplode(col("sigs")).as(Seq("tbl", "bucket")))
      .join(store, Seq("tbl", "bucket"))
      .select(col("id"), col("nid"), col("component"), col("r2dist"),
        Linalg.euclidCol(col("features"), col("nv")).as("dist"))
      .groupBy(col("id"))
      .agg(graft.functions.TopKAggregate.topKByKey(
        struct(col("dist").as("dist"), col("nid").as("nid")),
        // nid rides in the VALUE too so array_distinct collapses
        // exactly the cross-table duplicates (identical (dist, nid))
        // and never two distinct nids with coincidentally equal
        // (dist, component, r2dist)
        struct(col("dist").as("dist"), col("nid").as("nid"),
          col("component").as("component"),
          col("r2dist").as("r2dist")),
        S13MutualRank * LshTables).as("ks_raw"))
      .select(col("id"),
        slice(array_distinct(col("ks_raw")), 1, S13MutualRank).as("ks")),
      eager = true)
    // the serve argmin = the distinct prefix's rank-1 (ks is sorted by
    // (dist, nid), the same lexicographic order as the struct-min in
    // assignFromSignedGraphStore — byte-identical over the same store
    // face); no-collision rows mint their own id
    val assignedRaw = signed.select(col("id"))
      .join(topk.where(size(col("ks")) >= 1)
          .select(col("id"),
            element_at(col("ks"), 1).getField("component")
              .as("component")),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
    // THE STITCH (VERDICT r17 next-1): an appended row x whose gated
    // top-2 candidates span ≥2 distinct store components is evidence
    // the frozen base broke one duplication chain across those
    // components (every x100 staleness excess component was a chain
    // severed at a held-out gap). The gate is the mutual-edge test of
    // the build, evaluated incrementally: c must be in x's
    // top-S13MutualRank (the topk prefix) AND x must enter c's
    // top-S13MutualRank (dist < c's stored r2dist — exact for a
    // single addition at the frozen layout; batch arrivals make it an
    // upper bound, measured per decade). Merges flow through the
    // component map, never a store rewrite; a NULL r2dist (pre-r18
    // store rows) never merges. STRICT < (ADVICE r18): the build ranks
    // by (dist, yi), so at dist == r2dist the arrival displaces c's
    // rank-2 edge only if its id wins the tie-break — which the store
    // doesn't record (r2dist carries the distance, not the rank-2
    // id). ≤ would over-admit exact ties, merging what a rebuild may
    // keep separate (against the safety law); < under-admits only the
    // id-winning half of a measure-zero tie case — the same safe
    // direction as the crash-ordering convention below.
    // THE WITNESS SCALE-GATE (round 19 — found by the FIRST x1000
    // staleness measurement): the c-side threshold alone is unsound at
    // mega-bucket scale. Half the x1000 base rows carry O(1)-scale
    // r2dist (their capped in-bucket view held no near neighbor —
    // measured median 1.02 vs the 0.036 intra-dup scale), and every
    // arrival within such an inflated threshold relayed a merge:
    // 45k transitive merges snowballed 21k components into one
    // 1.47M-point blob (ARI vs fresh 0.005, `scale_s14stitch_x1000_*`).
    // The missing half of the mutual test is the X side: "c stays in
    // x's top-2 in a REBUILD" — unknowable directly (x's future
    // co-arrivals), but certified through x's nearest witness: c₁'s
    // own r2dist measures the density of exactly the neighborhood x
    // sits in, so any c farther than r2dist(c₁) would be displaced
    // from x's rebuild top-2 by c₁'s near mass. Hence every gated
    // candidate must ALSO satisfy dist < r2dist(rank-1 candidate) —
    // same threshold semantics, same strict-< tie law, no constants.
    // Where thresholds are honest (the x10/x100 chain-gap repairs:
    // c₁ = a chain neighbor with r2dist ≈ 2·step) the gate is
    // unchanged; where they are starvation-inflated, the tight witness
    // blocks the relay.
    val newPairs =
      if (!stitchOk) None
      else {
        val p = tracked(topk
          .select(col("id"), explode(col("ks")).as("k"),
            element_at(col("ks"), 1).getField("r2dist").as("thr1"))
          .where(col("k.r2dist").isNotNull &&
            col("k.dist") < col("k.r2dist") &&
            col("thr1").isNotNull && col("k.dist") < col("thr1"))
          .groupBy(col("id"))
          .agg(collect_set(col("k.component")).as("cs"))
          .where(size(col("cs")) >= 2)
          .select(explode(col("cs")).as("doc_a"),
            array_min(col("cs")).as("doc_b"))
          .where(col("doc_a") =!= col("doc_b"))
          .distinct(),
          eager = true) // consumers: isEmpty + closure
        if (p.isEmpty) None else Some(p)
      }
    // close the observed merges together with every EARLIER map pair
    // (so canonicals stay transitive across appends) over the
    // component graph — graph-sized input, the d6 closure; then
    // persist only the non-identity rows. The batch's points append
    // below lands FIRST: a crash between it and the map write loses
    // only this batch's merge evidence (under-merged — the safe
    // direction; a later batch or the rebuild cadence re-observes).
    val newMap: Option[DataFrame] = newPairs.map { p =>
      val edges = p.unionByName(
        readComponentMap(s, path)
          .select(col("component").as("doc_a"),
            col("canon").as("doc_b")))
      val verts = edges.select(explode(array(col("doc_a"),
        col("doc_b"))).as("doc_id")).distinct()
      tracked(Closure.components(verts, edges)
        .where(col("doc_id") =!= col("group_id"))
        .select(col("doc_id").as("component"),
          col("group_id").as("canon")),
        eager = true) // fully materialized: the map dir it reads from
                      // is overwritten below
    }
    def canonical(df: DataFrame): DataFrame = newMap match {
      case None => applyComponentMap(s, path, df)
      case Some(m) =>
        val rest = df.columns.filterNot(_ == "component").map(col).toSeq
        df.join(m.select(col("component").as("cm_from"), col("canon")),
            df("component") === col("cm_from"), "left")
          .select(rest :+
            coalesce(col("canon"), df("component")).as("component"): _*)
          .select(df.columns.map(col): _*)
    }
    // appended rows: canonical component (so the store converges as it
    // grows), their own serve-derived stitch threshold (dist of their
    // rank-S13MutualRank candidate; +∞ below that degree — the build
    // rule), tier 1 (never capped out of the serving prefix)
    val r2 = topk.select(col("id"),
      when(size(col("ks")) >= lit(S13MutualRank),
        element_at(col("ks"), S13MutualRank).getField("dist"))
        .otherwise(lit(Double.PositiveInfinity)).as("r2dist"))
    val rows = tracked(signed
      .join(canonical(assignedRaw), "id")
      .join(r2, Seq("id"), "left")
      .select(col("id"), col("features"), col("sigs"), col("component"),
        lit(1).as("tier"),
        coalesce(col("r2dist"), lit(Double.PositiveInfinity))
          .as("r2dist")),
      eager = true)
    rows.write.mode("append").parquet(s"$path/points")
    // keep the bucketed serving layout in sync (same rows, probe-key
    // bucketed); Spark validates the spec matches the existing table
    val tbl = storeTableName(path)
    if (storePathExists(s, s"$path/points_bucketed")) {
      graphStoreFrame(s, path) // ensures tbl registered in this catalog
      // align to the registered table's column set: a pre-r18 bucketed
      // table has no r2dist column — drop it from the appended rows
      // there (its serve is unaffected; only the stitch gate loses the
      // thresholds, the conservative degrade). Logged (ADVICE r18):
      // the PLAIN points keep their r2dist, so the two serve faces
      // silently diverge in stitch behavior on such a store until a
      // full rebuild — a face-parity measurement must know.
      val tcols = s.table(tbl).columns.toSeq
      if (!tcols.contains("r2dist"))
        System.err.println(s"[graft] bucketed graph store at $path " +
          "predates r2dist: appended rows carry no stitch threshold " +
          "on the bucketed face (plain points keep theirs) — the two " +
          "serve faces diverge in stitch behavior until a full rebuild")
      explodedStore(rows).drop("tier")
        .select(tcols.map(col): _*)
        .write.bucketBy(StoreBuckets, "tbl", "bucket")
        .sortBy("tbl", "bucket")
        .option("path", s"$path/points_bucketed")
        .mode("append").saveAsTable(tbl)
      // dual-write guard (ADVICE r15; capped arithmetic since r17):
      // the plain append and the bucketed append are not atomic — a
      // crash between them (in THIS or any EARLIER append; the totals
      // comparison catches old divergence too) would leave the DEFAULT
      // serve face silently missing rows forever. Two metadata-cheap
      // footer counts verify bucketed = bucketed_at_export + (points
      // since export) × tables — every post-export point is an append
      // contributing all its exploded rows — and rebuild the bucketed
      // layout from the source-of-truth points on mismatch (a missing
      // meta row is a pre-r17 store: also a rebuild).
      val meta = readStoreMeta(s, path)
      val nPlain = s.read.parquet(s"$path/points").count()
      val nBucketed = s.table(tbl).count()
      val expected = meta.map { case (_, p0, b0, _) =>
        b0 + (nPlain - p0) * LshTables }
      if (!expected.contains(nBucketed)) {
        // the rebuild is the right repair but it is a LATENCY CLIFF on
        // an ingest path sized for per-wave cost — surface it as a
        // metric row (VERDICT r19 next-6), not just a log line, so a
        // store operator can count occurrences and price the wall
        val tDiv0 = System.nanoTime()
        exportBucketedStore(s, path,
          meta.map(_._1).getOrElse(GraphBuildCap),
          order = meta.map(_._4).getOrElse("nid"))
        val rebuildSec = (System.nanoTime() - tDiv0) / 1e9
        System.err.println(f"[graft] bucketed graph store at $path " +
          f"diverged ($nBucketed exploded rows vs expected " +
          f"${expected.getOrElse("<no meta>")} = export base + " +
          f"appends x $LshTables) — rebuilt from points in " +
          f"$rebuildSec%.1f s (divergence_log row appended)")
        locally {
          import s.implicits._
          Seq((nBucketed, expected.getOrElse(-1L), nPlain, rebuildSec))
            .toDF("bucketed_rows", "expected_rows", "points_rows",
              "rebuild_sec")
            .coalesce(1).write.mode("append")
            .parquet(s"$path/divergence_log")
        }
      }
    }
    // the stitch map lands LAST (see the crash-direction note above);
    // the new map subsumes the old one (its pairs were closure inputs).
    // STAGED, never overwritten in place (ADVICE r18): mode("overwrite")
    // deletes the live map before the new files commit, and newMap's
    // lineage READ that very directory — a crash mid-write, or a
    // lost-block recompute after executor loss on a real cluster,
    // would lose every PRIOR batch's merges, not just this one's. The
    // staged parquet commits fully first; then two metadata renames
    // swap it live. A crash between them leaves the COMPLETE staged
    // map, which componentMapDir falls back to (and the next append's
    // repairStagedMap promotes).
    newMap.foreach { m =>
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val staged = new org.apache.hadoop.fs.Path(s"$path/component_map_staged")
      val live = new org.apache.hadoop.fs.Path(s"$path/component_map")
      m.write.mode("overwrite").parquet(staged.toString)
      // explicit commit marker alongside the job's own _SUCCESS
      // (ADVICE r20): a deployment with marksuccessfuljobs=false
      // writes no _SUCCESS, and the completeness probe would discard
      // a genuinely complete first-append staged map
      fs.create(new org.apache.hadoop.fs.Path(staged,
        "_graft_committed"), true).close()
      fs.delete(live, true)
      fs.rename(staged, live)
    }
    // APPEND-WAVE LEDGER + BUDGET (VERDICT r19 next-2): wave compute
    // grows with the cap-exempt tier-1 mass earlier waves accumulated
    // in the store's buckets (bounded MEMORY since the r19 per-id
    // aggregate; the GROWTH is the contract's real price). Record
    // this wave's cost, then project: when the NEXT wave is expected
    // to cost more than a full rebuild at the store's current size,
    // say so loudly — the rebuild cadence owns staleness anyway, and
    // past the crossover it owns ingest cost too.
    locally {
      import s.implicits._
      val waveIdx =
        if (!storePathExists(s, s"$path/appends_log")) 0L
        else s.read.parquet(s"$path/appends_log").count()
      val waveSec = (System.nanoTime() - tWave0) / 1e9
      Seq((waveIdx, batch.count(), waveSec))
        .toDF("wave", "batch_rows", "wall_sec")
        .coalesce(1).write.mode("append").parquet(s"$path/appends_log")
      appendWaveBudget(s, path).foreach { case (nextWave, rebuild) =>
        if (nextWave > rebuild)
          System.err.println(f"[graft] append budget at $path: " +
            f"projected next wave $nextWave%.1f s exceeds projected " +
            f"rebuild $rebuild%.1f s (wave $waveIdx cost $waveSec%.1f " +
            "s) — REBUILD NOW; accumulated tier-1 mass has crossed " +
            "the ingest-cost crossover")
      }
    }
    } finally kept.foreach(_.unpersist(blocking = false))
  }

  /** Streaming serving face (the p12 `serveClusterAssignStream`
    * discipline): arriving vectors are component-labeled per
    * micro-batch against the FROZEN index — build once, serve forever.
    */
  def serveGraphAssignStream(vecs: DataFrame, path: String)(
      sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    MicroBatch.serve(vecs)(assignFromGraphIndex(_, path))(sink)

  /** s14: graph-index serving, END TO END — build the two-table index
    * on the corpus MINUS the held-out ids (planes, pre-signed buckets,
    * s13 components), then label every held-out vector with its
    * nearest bucket-candidate's component from the persisted store.
    * This is d11's incremental-serving shape for the GRAPH family: the
    * corpus is never re-signed or re-shuffled per batch — the delta
    * signs itself against frozen planes and probes the store. The
    * registered face pins the 4×8 oracle layout (fixture-portable,
    * like s12/s13); production builds ride [[writeKnnGraphIndex]]'s
    * auto layout. The DuckDB oracle replays the ENTIRE chain from raw
    * `embeddings` — base split → planes → sigs → mutual graph →
    * recursive components → delta sigs → bucket probe → argmin — with
    * the window formulation as the independent cross-check of the
    * struct-min.
    */
  def s14GraphAssign: Q = (s, dir) => {
    val pts = Tables.labeledPoints(s, dir).select(col("id"), col("features"))
    val path = s"${graft.functions.Similarity.artifactRoot(dir)}/s14_graph"
    // forceOrder pins the oracle face's id-order prefix (ADVICE r20):
    // the steer certifies at its first id probe on this fixture anyway
    // (same store either way), but without the pin a future fixture or
    // cap change could silently steer this face to a layout the DuckDB
    // replay (fixed planes, id order) does not model — the pin turns
    // that drift into a certificate message instead of an unexplained
    // hash mismatch. s14c pins "hash" the same way.
    writeKnnGraphIndexOf(s,
      pts.where(pmod(col("id"), lit(S14Mod)) =!= lit(S14Res)),
      LshPlanes, path, s"$dir->$path->holdout",
      forceOrder = Some("nid"))
    assignFromGraphIndex(
      pts.where(pmod(col("id"), lit(S14Mod)) === lit(S14Res)), path)
      .orderBy(col("id"))
  }

  /** [[s14GraphAssign]] at [[OracleGraphCap]] — the s12b/s13b
    * convention for the SERVING chain: at cap 16 the fixture's base
    * buckets (≤ 46 members at sf0.01) genuinely truncate, so this row
    * hash-checks the LIVE capped-store semantics end-to-end — the
    * build prefix, the orphan fan-out in the stored components, AND
    * the r17 capped serve probe — against DuckDB's independent replay
    * ([[s14AssignSql]]). The default face stays saturated at fixture
    * size, exactly like s12 vs s12b.
    */
  def s14bGraphAssignCapped: Q = (s, dir) => {
    val pts = Tables.labeledPoints(s, dir).select(col("id"), col("features"))
    val path = s"${graft.functions.Similarity.artifactRoot(dir)}/s14b_graph"
    // id-order pin, same rationale as the s14 face (ADVICE r20)
    writeKnnGraphIndexOf(s,
      pts.where(pmod(col("id"), lit(S14Mod)) =!= lit(S14Res)),
      LshPlanes, path, s"$dir->$path->holdout-live",
      cap = OracleGraphCap, forceOrder = Some("nid"))
    assignFromGraphIndex(
      pts.where(pmod(col("id"), lit(S14Mod)) === lit(S14Res)), path)
      .orderBy(col("id"))
  }

  /** [[s14bGraphAssignCapped]] with the prefix order FORCED to the
    * hash key — the r20 production order for steered stores —
    * exercised at a cap the fixture saturates (46-member buckets at
    * [[OracleGraphCap]] = 16), so this row hash-checks the LIVE hash
    * prefix end-to-end (build chain, orphan fan-out, capped serve)
    * against DuckDB's arithmetic replay of [[hashPrefixKey]]. The
    * steered s14/s14b faces keep id order at fixture scale — the
    * steer certifies there at its first (insertion-order) probe.
    */
  def s14cGraphAssignHash: Q = (s, dir) => {
    val pts = Tables.labeledPoints(s, dir).select(col("id"), col("features"))
    val path = s"${graft.functions.Similarity.artifactRoot(dir)}/s14c_graph"
    writeKnnGraphIndexOf(s,
      pts.where(pmod(col("id"), lit(S14Mod)) =!= lit(S14Res)),
      LshPlanes, path, s"$dir->$path->holdout-hash",
      cap = OracleGraphCap, forceOrder = Some("hash"))
    assignFromGraphIndex(
      pts.where(pmod(col("id"), lit(S14Mod)) === lit(S14Res)), path)
      .orderBy(col("id"))
  }

  // ---- Pareto front (M2) as a distributed skyline --------------------------

  /** Per-customer 2-objective fitness points (f1 = account balance,
    * f2 = total order value, both minimized) — a deterministic stand-in for
    * archive fitness vectors at data scale.
    */
  def fitnessPoints(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_custkey").as("id"), col("c_acctbal"))
      .agg(round(sum(col("o_totalprice")), 2).as("f2"))
      .select(col("id"), round(col("c_acctbal"), 2).as("f1"), col("f2"))

  /** Distributed Pareto front under the reference's dominance predicate M1
    * (Spark_MOPSO_Avg.scala:1020-1026): b dominates a ⇔ b.f1 ≤ a.f1 ∧
    * b.f2 < a.f2 (note the asymmetry: equal f1 + smaller f2 dominates, but
    * smaller f1 + equal f2 does not — replicated as written).
    *
    * Not the O(n²) anti-join: after a lexicographic (f1, f2) sort, a row is
    * dominated iff some earlier row has f2 strictly smaller, so the front
    * is a prefix-min scan. Implemented as a two-phase distributed scan over
    * a range partitioning — O(n log n), no all-pairs shuffle, and the
    * partition count rides `spark.sql.shuffle.partitions`, so the same code
    * holds at 1000 executors.
    */
  def paretoFront(df: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val ds = df.select(col("id").cast("long"), col("f1"), col("f2"))
      .as[(Long, Double, Double)]
      .repartitionByRange(parts, col("f1"), col("f2"))
      .sortWithinPartitions(col("f1"), col("f2"))
      .persist()
    // phase 1: per-partition min f2 (tiny collect: one double per partition)
    val partMins: Map[Int, Double] = ds.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val m = it.foldLeft(Double.PositiveInfinity)((acc, r) =>
          math.min(acc, r._3))
        Iterator.single((pid, m))
      }
      .collect().toMap
    // prefix min over all partitions strictly before pid (range partitions
    // are ordered, so "before" = lexicographically smaller rows)
    val prefix: Map[Int, Double] = partMins.keys.map { pid =>
      val prior = partMins.filter(_._1 < pid).values
      pid -> (if (prior.isEmpty) Double.PositiveInfinity else prior.min)
    }.toMap
    val bc = spark.sparkContext.broadcast(prefix)
    // phase 2: running prefix-min scan within each sorted partition
    val front = ds.mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      var running = bc.value.getOrElse(tc.partitionId(), Double.PositiveInfinity)
      it.flatMap { case (id, f1, f2) =>
        val keep = !(running < f2)
        running = math.min(running, f2)
        if (keep) Iterator.single((id, f1, f2)) else Iterator.empty
      }
    }
    // materialize the front eagerly WHILE ds is still persisted — phase
    // 1's partition indices must match the partitioning phase 2 reads,
    // and a lazy handoff would let the range sort recompute (and resample
    // its bounds) underneath the broadcast prefix map. Then release the
    // full-dataset cache; only the (skyline-sized) front stays cached for
    // the caller's action.
    val frontDf = front.toDF("id", "f1", "f2").persist()
    frontDf.count()
    ds.unpersist()
    frontDf
  }

  def c11ParetoFront: Q = (s, dir) =>
    paretoFront(fitnessPoints(s, dir), s).orderBy(col("id"))

  /** Upper bound for feeding the front to a GLOBAL (unpartitioned)
    * window in c12. Skylines of lightly-correlated 2-d data are
    * near-logarithmic in n, so the bound is generous — but an adversarial
    * front (f1 strictly increasing while f2 strictly decreasing) is THE
    * whole dataset, and silently single-partitioning it would be the
    * scale-killer WindowExec warns about. Past the bound the crowding
    * pass runs its range-partitioned formulation with boundary exchange.
    */
  val MaxGlobalWindowFront = 100000L

  /** Crowding distance over the front (M3, product formula of the Single/
    * Particle variants, MOPSO_Single.scala:994-1020): sort by f2, middle
    * entries get |f1(prev)−f1(next)|·|f2(prev)−f2(next)|; endpoints are
    * unbounded in the reference (Double.MaxValue) → NULL here.
    *
    * Dispatch: fronts within [[MaxGlobalWindowFront]] run the global
    * window (one partition — fine at that size, and the exact shape the
    * oracle mirrors); adversarial fronts beyond it run the
    * range-partitioned boundary-exchange formulation
    * ([[crowdingRange]]) — spec'd equal on both fixture and synthetic
    * fronts (RangeWindowSpec).
    */
  def c12Crowding: Q = (s, dir) => {
    val f = paretoFront(fitnessPoints(s, dir), s)
    val out =
      if (f.count() <= MaxGlobalWindowFront) crowdingGlobalWindow(f)
      else crowdingRange(f, s)
    out.orderBy(col("id"))
  }

  /** The global-window crowding form (exact oracle twin; single-partition
    * sort, so only for fronts within [[MaxGlobalWindowFront]]).
    */
  private[graft] def crowdingGlobalWindow(front: DataFrame): DataFrame = {
    val w = Window.orderBy(col("f2"), col("id"))
    front
      .withColumn("crowding", round(
        abs(lag(col("f1"), 1).over(w) - lead(col("f1"), 1).over(w)) *
          abs(lag(col("f2"), 1).over(w) - lead(col("f2"), 1).over(w)), 6))
      .select(col("id"), col("crowding"))
  }

  /** Range-partitioned crowding with boundary exchange — the 100 TB form
    * of the (f2, id)-ordered lag/lead pass:
    *
    *  1. `repartitionByRange(f2, id)` + in-partition sort reproduces the
    *     global order across partitions (partition p's rows all precede
    *     partition p+1's).
    *  2. Each partition's FIRST and LAST rows (≤ 2·parts rows total) are
    *     collected and re-broadcast — the only cross-partition data any
    *     row's lag/lead needs.
    *  3. A streaming sliding-3 pass inside each partition computes the
    *     product formula; a partition's edge rows borrow the neighbor
    *     partition's boundary row from the broadcast. Global endpoints
    *     (no neighbor anywhere) stay NULL, as in the window form.
    *
    * No single-partition stage anywhere; memory per task is O(1) beyond
    * the partition scan.
    */
  def crowdingRange(front: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val ds = front.select(col("id").cast("long"), col("f1"), col("f2"))
      .as[(Long, Double, Double)]
      .repartitionByRange(parts, col("f2"), col("id"))
      .sortWithinPartitions(col("f2"), col("id"))
      .persist()
    // boundary exchange: (first, last) row per partition
    val edges: Array[(Int, Option[(Long, Double, Double)], Option[(Long, Double, Double)])] =
      ds.rdd.mapPartitionsWithIndex { (pid, it) =>
        var first: (Long, Double, Double) = null
        var last: (Long, Double, Double) = null
        it.foreach { r => if (first == null) first = r; last = r }
        Iterator.single((pid, Option(first), Option(last)))
      }.collect()
    // neighbor rows across EMPTY partitions too: for each partition, the
    // last row of the nearest non-empty partition before it and the first
    // row of the nearest non-empty one after it
    val byPid = edges.sortBy(_._1)
    val prevOf = scala.collection.mutable.Map.empty[Int, Option[(Long, Double, Double)]]
    var runningLast: Option[(Long, Double, Double)] = None
    byPid.foreach { case (pid, _, last) =>
      prevOf(pid) = runningLast
      if (last.isDefined) runningLast = last
    }
    val nextOf = scala.collection.mutable.Map.empty[Int, Option[(Long, Double, Double)]]
    var runningFirst: Option[(Long, Double, Double)] = None
    byPid.reverseIterator.foreach { case (pid, first, _) =>
      nextOf(pid) = runningFirst
      if (first.isDefined) runningFirst = first
    }
    val edgeOf: Map[Int, (Option[(Long, Double, Double)], Option[(Long, Double, Double)])] =
      byPid.map { case (pid, first, last) => pid -> (first, last) }.toMap
    val bc = spark.sparkContext.broadcast(
      (prevOf.toMap, nextOf.toMap, edgeOf))
    val out = ds.mapPartitions { it0 =>
      val pid = org.apache.spark.TaskContext.get().partitionId()
      val (pm, nm, em) = bc.value
      // The boundary map is only valid if THIS pass sees the exact
      // partitioning the edge-collection job saw (same RangePartitioner,
      // same cached rows). Track what this pass actually sees and fail
      // loudly at exhaustion on any drift — cache eviction or executor
      // loss could otherwise silently recompute different range bounds.
      val (expFirst, expLast) = em.getOrElse(pid, (None, None))
      var seenFirst: Option[(Long, Double, Double)] = None
      var seenLast: Option[(Long, Double, Double)] = None
      val it = it0.map { r =>
        if (seenFirst.isEmpty) seenFirst = Some(r)
        seenLast = Some(r)
        r
      }
      // pad with the neighbors' boundary rows (None at global endpoints);
      // sliding(3) centers exactly the partition's own rows
      val padded: Iterator[Option[(Long, Double, Double)]] =
        Iterator.single(pm.getOrElse(pid, None)) ++
          it.map(Some(_)) ++ Iterator.single(nm.getOrElse(pid, None))
      val slid = padded.sliding(3).withPartial(false).map { w =>
        val center = w(1).get
        val c = for (p <- w(0); n <- w(2)) yield
          math.abs(p._2 - n._2) * math.abs(p._3 - n._3)
        (center._1, c)
      }
      val invariantCheck: Iterator[(Long, Option[Double])] =
        new Iterator[(Long, Option[Double])] {
          def hasNext: Boolean = {
            require(seenFirst == expFirst && seenLast == expLast,
              s"crowdingRange partition $pid drifted from the broadcast " +
                s"boundary map: saw ($seenFirst, $seenLast), expected " +
                s"($expFirst, $expLast) — the cached range partitioning " +
                "was recomputed underneath the boundary-exchange pass")
            false
          }
          def next(): (Long, Option[Double]) =
            throw new NoSuchElementException
        }
      slid ++ invariantCheck
    }.toDF("id", "crowding")
      .withColumn("crowding", round(col("crowding"), 6))
      .persist()
    // materialize while ds is still cached: a recompute would resample
    // the range bounds underneath the broadcast boundary map
    out.count()
    ds.unpersist()
    out
  }

  /** Min-max normalization of the front's objectives to [0,1] (F4,
    * Spark_MOPSO_Avg.scala:407-427).
    *
    * No window at any size: the four extrema are ONE scalar aggregate
    * (map-side partials, 1-row result) broadcast back over the front — the
    * same values the unbounded-window form computes, with no
    * single-partition stage, so no size guard is needed. Equality with the
    * window form is spec-pinned (RangeWindowSpec).
    */
  def c13MinmaxNorm: Q = (s, dir) =>
    minmaxAgg(paretoFront(fitnessPoints(s, dir), s))
      .orderBy(col("id"))

  /** The aggregate+broadcast minmax form — scale-safe at any front size. */
  def minmaxAgg(front: DataFrame): DataFrame = {
    val stats = front.agg(
      min(col("f1")).as("mn1"), max(col("f1")).as("mx1"),
      min(col("f2")).as("mn2"), max(col("f2")).as("mx2"))
    front.crossJoin(broadcast(stats))
      .select(col("id"),
        round((col("f1") - col("mn1")) / (col("mx1") - col("mn1")), 6)
          .as("nf1"),
        round((col("f2") - col("mn2")) / (col("mx2") - col("mn2")), 6)
          .as("nf2"))
  }

  /** The unbounded-window minmax form, kept as the spec twin of
    * [[minmaxAgg]] (single partition — verify-scale only).
    */
  private[graft] def minmaxGlobalWindow(front: DataFrame): DataFrame = {
    val w = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    front
      .withColumn("nf1", round(
        (col("f1") - min(col("f1")).over(w)) /
          (max(col("f1")).over(w) - min(col("f1")).over(w)), 6))
      .withColumn("nf2", round(
        (col("f2") - min(col("f2")).over(w)) /
          (max(col("f2")).over(w) - min(col("f2")).over(w)), 6))
      .select(col("id"), col("nf1"), col("nf2"))
  }

  // ---- whole-data evaluation metrics ---------------------------------------

  /** Mean silhouette, exact O(n²) formulation
    * (Spark_MOPSO_Avg.scala:606-656): a(i) = mean distance to own cluster
    * INCLUDING self (:625-633 — the self-pair contributes d=0 to the mean),
    * b(i) = min over other clusters of mean distance, s = (b−a)/max(a,b).
    */
  def c14Silhouette: Q = (s, dir) => {
    val pc = assigned(s, dir).select(col("id"), col("features"), col("cluster"))
    val x = pc.select(col("id").as("xi"), col("features").as("xv"),
      col("cluster").as("cx"))
    val y = pc.select(col("id").as("yi"), col("features").as("yv"),
      col("cluster").as("cy"))
    val byCluster = x.crossJoin(y)
      .select(col("xi"), col("cx"), col("cy"),
        Linalg.euclidCol(col("xv"), col("yv")).as("dist"))
      .groupBy(col("xi"), col("cx"), col("cy"))
      .agg(avg(col("dist")).as("ad"))
    val ai = byCluster.filter(col("cy") === col("cx"))
      .select(col("xi"), col("ad").as("ai"))
    val bi = byCluster.filter(col("cy") =!= col("cx"))
      .groupBy(col("xi")).agg(min(col("ad")).as("bi"))
    ai.join(bi, "xi")
      .agg(round(avg(
        (col("bi") - col("ai")) / greatest(col("ai"), col("bi"))), 6)
        .as("silhouette"))
  }

  /** Simplified silhouette — the scale-safe twin of c14 (VERDICT r7 §next-1).
    *
    * Classic bounded form (the one MLlib's evaluator also uses): a(i) is
    * the distance to the OWN cluster's centroid, b(i) the min distance to
    * any other centroid, s = (b−a)/max(a,b). Because assignment is
    * nearest-centroid, a(i) is simply the smallest centroid distance and
    * b(i) the second smallest — so the whole metric is one codegen'd pass
    * over the literal centroid array (the same sorted struct array c1
    * already builds): O(n·K) compute, zero joins, zero shuffles beyond the
    * final 1-row aggregate. Contrast c14's exact O(n²) all-pairs form,
    * which is kept as the oracle-parity face; this is the form
    * [[graft.mopso.Eval.selectBestBySilhouette]] runs at scale
    * (config `silhouetteSimplified`).
    */
  def c20SilhouetteSimplified: Q = (s, dir) => {
    val cs = centers(s, dir)
    val sorted = array_sort(array(cs.map { case (cid, vec) =>
      struct(
        Linalg.euclidCol(col("features"), typedlit(vec)).as("dist"),
        lit(cid).as("cluster"))
    }: _*))
    Tables.labeledPoints(s, dir)
      .select(
        element_at(sorted, 1).getField("dist").as("ai"),
        element_at(sorted, 2).getField("dist").as("bi"))
      .agg(round(avg(
        (col("bi") - col("ai")) / greatest(col("ai"), col("bi"))), 6)
        .as("silhouette_s"))
  }

  /** Davies-Bouldin index replicated as written
    * (Spark_MOPSO_Avg.scala:1306-1342): R_ij over pairs j>i, and the
    * running max is NEVER reset across i — so row i contributes the max R
    * seen in any pair up to and including its own loop (SURVEY §2.11 E4).
    * Distributed part = assignment + per-cluster avg; the K×K loop runs on
    * K collected rows.
    */
  def c15Dbi: Q = (s, dir) => {
    val cs = centers(s, dir)
    val sd: Map[Int, Double] = assigned(s, dir)
      .groupBy(col("cluster")).agg(avg(col("dist")).as("sd"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val k = cs.length
    var max = Double.MinValue
    var result = 0.0
    for (i <- 0 until k) {
      val si = sd(cs(i)._1)
      for (j <- i until k if i != j) {
        val sj = sd(cs(j)._1)
        val dij = Linalg.euclid(cs(i)._2, cs(j)._2)
        val rij = (si + sj) / dij
        if (rij > max) max = rij
      }
      result += max
    }
    val dbi = result / k
    import s.implicits._
    Seq(dbi).toDF("dbi").select(round(col("dbi"), 6).as("dbi"))
  }

  /** E2 accuracy (getAccuracyRate, Spark_MOPSO_Avg.scala:543-554): match
    * rate between the (1-based-aligned) true label and the computed
    * cluster. The reference materializes with collect().length — twice —
    * (SURVEY §4 inefficiency list); this is one count() aggregate.
    */
  def c16Accuracy: Q = (s, dir) =>
    assigned(s, dir)
      .agg(
        sum(when(col("label") + 1 === col("cluster"), 1L).otherwise(0L))
          .as("n_match"),
        count(lit(1)).as("n_total"))
      .select(col("n_match"), col("n_total"),
        round(col("n_match") / col("n_total"), 6).as("accuracy"))

  /** F2 weighted-metric assignment (weighted dist, Spark_MOPSO_Avg.scala:
    * 1088-1096): distance = sqrt(Σ wᵢ(aᵢ−bᵢ)²) with the weight vector
    * derived from the POINT by x/sum(x) (weightsBySum, :1078-1085). The
    * reference presumes non-negative features (its CSV datasets); the
    * embedding fixture is signed, so the query feeds the kernel the
    * shifted-positive space `features + 1` — the (aᵢ−bᵢ)² terms are
    * shift-invariant and the weights stay well-defined. Same literal-
    * centroid argmin shape as c1: zero shuffle, zero join.
    */
  def c18WeightedDist: Q = (s, dir) => {
    val cs = centers(s, dir)
    val shifted = transform(col("features"), x => x + lit(1.0))
    val nearest = element_at(
      array_sort(array(cs.map { case (cid, vec) =>
        struct(
          Linalg.weightedEuclidCol(shifted, typedlit(vec.map(_ + 1.0)))
            .as("wdist"),
          lit(cid).as("wcluster"))
      }: _*)),
      1)
    Tables.labeledPoints(s, dir)
      .withColumn("w", nearest)
      .select(col("id"), col("w.wcluster").as("wcluster"),
        round(col("w.wdist"), 6).as("wdist"))
      .orderBy(col("id"))
  }

  // ---- DuckDB oracles ------------------------------------------------------

  /** Shared SQL fragments: points, centroids, assignment. */
  private val P =
    "p AS (SELECT vec_id AS id, label, embedding::DOUBLE[] AS v FROM embeddings)"
  private val C =
    s"c AS (SELECT vec_id + 1 AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < $K)"
  private val A =
    """a AS (SELECT id, label, cid AS cluster, dist FROM (
      |  SELECT p.id, p.label, c.cid, list_distance(p.v, c.cv) AS dist,
      |    row_number() OVER (PARTITION BY p.id
      |      ORDER BY list_distance(p.v, c.cv), c.cid) AS rn
      |  FROM p CROSS JOIN c) WHERE rn = 1)""".stripMargin

  private def withAssign(body: String): String =
    s"WITH $P, $C, $A\n$body"

  /** Shared SQL fragment: the capped candidate chain over `p` — planes,
    * per-table sign buckets, the row_number prefix cap, and the
    * DISTINCT pair dedup (≡ the Spark side's dropDuplicates — duplicate
    * (xi, yi) rows across tables carry identical dist/same).
    */
  private def cappedCandSql(cap: Int): String =
    s"""pl AS (SELECT id, v FROM p WHERE id < ${LshPlanes * LshTables}),
       |b AS (SELECT p.id, (pl.id // $LshPlanes)::INT AS tbl,
       |    sum(CASE WHEN list_inner_product(p.v, pl.v) > 0
       |      THEN (1::BIGINT << (pl.id % $LshPlanes)::INT)
       |      ELSE 0::BIGINT END) AS bucket
       |  FROM p CROSS JOIN pl GROUP BY p.id, pl.id // $LshPlanes),
       |yc AS (SELECT id, tbl, bucket,
       |    row_number() OVER (PARTITION BY tbl, bucket ORDER BY id) AS rn
       |  FROM b),
       |cand AS (SELECT DISTINCT x.id AS xi, y.id AS yi
       |  FROM b x JOIN yc y ON x.tbl = y.tbl AND x.bucket = y.bucket
       |    AND x.id <> y.id AND y.rn <= $cap)""".stripMargin

  /** The s12 graph SQL at an arbitrary cap — the registered face pins
    * [[GraphBuildCap]] (saturated at fixture size), the b-face pins
    * [[OracleGraphCap]] (live truncation).
    */
  private def cappedGraphSql(cap: Int): String =
    s"""WITH $P,
       |${cappedCandSql(cap)}
       |SELECT xi, rnk::INT AS rank, yi FROM (
       |  SELECT cand.xi, cand.yi,
       |    row_number() OVER (PARTITION BY cand.xi
       |      ORDER BY list_distance(px.v, py.v), cand.yi) AS rnk
       |  FROM cand JOIN p px ON px.id = cand.xi
       |  JOIN p py ON py.id = cand.yi)
       |WHERE rnk <= $L ORDER BY xi, rank""".stripMargin

  /** The s13 closure SQL at an arbitrary cap: capped candidates →
    * mutual edges → recursive reachability (the independent closure
    * algorithm vs Spark's star rounds) → orphan fan-out
    * (ids capped out of EVERY prefix inherit their rank-1 neighbor's
    * component — the Spark side's `orphans` leg, replayed as one
    * HAVING + two joins).
    */
  private def cappedClustersSql(cap: Int): String =
    s"""WITH RECURSIVE $P,
       |${cappedCandSql(cap)},
       |g AS (SELECT xi, yi, rnk FROM (
       |  SELECT cand.xi, cand.yi,
       |    row_number() OVER (PARTITION BY cand.xi
       |      ORDER BY list_distance(px.v, py.v), cand.yi) AS rnk
       |  FROM cand JOIN p px ON px.id = cand.xi
       |  JOIN p py ON py.id = cand.yi)
       |  WHERE rnk <= $S13MutualRank),
       |mu AS (SELECT ga.xi AS src, ga.yi AS dst
       |  FROM g ga JOIN g gb ON ga.xi = gb.yi AND ga.yi = gb.xi),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM mu
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN mu e ON r.dst = e.src),
       |grp AS (SELECT p.id, least(p.id, coalesce(min(r.dst), p.id))
       |    AS component
       |  FROM p LEFT JOIN reach r ON r.src = p.id GROUP BY p.id),
       |orph AS (SELECT id FROM yc GROUP BY id HAVING min(rn) > $cap),
       |fan AS (SELECT g.xi, gc.component
       |  FROM g JOIN orph ON orph.id = g.xi
       |  JOIN grp gc ON gc.id = g.yi
       |  WHERE g.rnk = 1)
       |SELECT grp.id, coalesce(fan.component, grp.component) AS component
       |FROM grp LEFT JOIN fan ON fan.xi = grp.id
       |ORDER BY grp.id""".stripMargin


  /** The s14 serving-chain SQL at an arbitrary cap — the registered
    * face pins [[GraphBuildCap]] (saturated at fixture size: base
    * buckets ≤ 46), the b-face pins [[OracleGraphCap]] (live
    * truncation of the build chain AND the serve prefix). The serve
    * probe `cd` joins the delta sigs against the SAME row_number ≤ cap
    * base prefix the build ranked against — the r17 capped serving
    * projection, replayed independently.
    */
  private def s14AssignSql(cap: Int,
      hashOrder: Boolean = false): String =
    s"""WITH RECURSIVE $P,
         |bc AS (SELECT id, v FROM p WHERE id % $S14Mod != $S14Res),
         |pl AS (SELECT v, row_number() OVER (ORDER BY id) - 1 AS pid
         |  FROM bc ORDER BY id LIMIT ${LshPlanes * LshTables}),
         |b AS (SELECT bc.id, (pl.pid // $LshPlanes)::INT AS tbl,
         |    sum(CASE WHEN list_inner_product(bc.v, pl.v) > 0
         |      THEN (1::BIGINT << (pl.pid % $LshPlanes)::INT)
         |      ELSE 0::BIGINT END) AS bucket
         |  FROM bc CROSS JOIN pl GROUP BY bc.id, pl.pid // $LshPlanes),
         |yc AS (SELECT id, tbl, bucket,
         |    row_number() OVER (PARTITION BY tbl, bucket
         |      ORDER BY ${if (hashOrder) hashPrefixSql("id") + ", " else ""}id)
         |      AS rn
         |  FROM b),
         |cand AS (SELECT DISTINCT x.id AS xi, y.id AS yi
         |  FROM b x JOIN yc y ON x.tbl = y.tbl AND x.bucket = y.bucket
         |    AND x.id <> y.id AND y.rn <= $cap),
         |g AS (SELECT xi, yi, rnk FROM (
         |  SELECT cand.xi, cand.yi,
         |    row_number() OVER (PARTITION BY cand.xi
         |      ORDER BY list_distance(px.v, py.v), cand.yi) AS rnk
         |  FROM cand JOIN bc px ON px.id = cand.xi
         |  JOIN bc py ON py.id = cand.yi)
         |  WHERE rnk <= $S13MutualRank),
         |mu AS (SELECT ga.xi AS src, ga.yi AS dst
         |  FROM g ga JOIN g gb ON ga.xi = gb.yi AND ga.yi = gb.xi),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM mu
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN mu e ON r.dst = e.src),
         |grp0 AS (SELECT bc.id, least(bc.id, coalesce(min(r.dst), bc.id))
         |    AS component
         |  FROM bc LEFT JOIN reach r ON r.src = bc.id GROUP BY bc.id),
         |orph AS (SELECT id FROM yc GROUP BY id
         |  HAVING min(rn) > $cap),
         |fan AS (SELECT g.xi, gc.component
         |  FROM g JOIN orph ON orph.id = g.xi
         |  JOIN grp0 gc ON gc.id = g.yi
         |  WHERE g.rnk = 1),
         |grp AS (SELECT grp0.id,
         |    coalesce(fan.component, grp0.component) AS component
         |  FROM grp0 LEFT JOIN fan ON fan.xi = grp0.id),
         |d AS (SELECT id, v FROM p WHERE id % $S14Mod = $S14Res),
         |db AS (SELECT d.id, (pl.pid // $LshPlanes)::INT AS tbl,
         |    sum(CASE WHEN list_inner_product(d.v, pl.v) > 0
         |      THEN (1::BIGINT << (pl.pid % $LshPlanes)::INT)
         |      ELSE 0::BIGINT END) AS bucket
         |  FROM d CROSS JOIN pl GROUP BY d.id, pl.pid // $LshPlanes),
         |cd AS (SELECT DISTINCT db.id AS qid, yc.id AS nid
         |  FROM db JOIN yc ON db.tbl = yc.tbl AND db.bucket = yc.bucket
         |    AND yc.rn <= $cap),
         |best AS (SELECT qid, nid FROM (
         |  SELECT cd.qid, cd.nid,
         |    row_number() OVER (PARTITION BY cd.qid
         |      ORDER BY list_distance(dv.v, nv.v), cd.nid) AS rn
         |  FROM cd JOIN d dv ON dv.id = cd.qid
         |  JOIN bc nv ON nv.id = cd.nid)
         |  WHERE rn = 1)
         |SELECT d.id, best.nid AS neighbor,
         |  coalesce(grp.component, d.id) AS component
         |FROM d LEFT JOIN best ON best.qid = d.id
         |LEFT JOIN grp ON grp.id = best.nid
         |ORDER BY d.id""".stripMargin

  private val fitnessSql =
    """f AS (SELECT c_custkey AS id, round(c_acctbal, 2) AS f1,
      |  round(sum(o_totalprice), 2) AS f2
      |  FROM customer JOIN orders ON o_custkey = c_custkey
      |  GROUP BY c_custkey, c_acctbal)""".stripMargin

  /** O(n²) anti-join formulation of the skyline — intentionally a different
    * algorithm than the Spark two-phase scan, so the oracle independently
    * validates the prefix-min construction.
    */
  private val frontSql =
    s"""WITH $fitnessSql,
       |front AS (SELECT id, f1, f2 FROM f a WHERE NOT EXISTS (
       |  SELECT 1 FROM f b WHERE b.f1 <= a.f1 AND b.f2 < a.f2))""".stripMargin

  def oracles: Map[String, String] = Map(
    "c1_assign" -> withAssign(
      "SELECT id, cluster::INT AS cluster FROM a ORDER BY id"),
    "c2_dev" -> withAssign(
      "SELECT round(sum(dist), 3) AS dev, count(*) AS n_points FROM a"),
    "c3_cluster_hist" -> withAssign(
      "SELECT cluster::INT AS cluster, count(*) AS n FROM a GROUP BY cluster ORDER BY cluster"),
    "c4_feature_bounds" ->
      """SELECT i AS pos, min(embedding[i+1]::DOUBLE) AS mn,
        |  max(embedding[i+1]::DOUBLE) AS mx
        |FROM embeddings, generate_series(0, 63) t(i)
        |GROUP BY i ORDER BY pos""".stripMargin,
    "c5_purity_by_label" -> withAssign(
      """SELECT label, top_cluster::INT AS top_cluster, n_top FROM (
        |  SELECT label, cluster AS top_cluster, count(*) AS n_top,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY count(*) DESC, cluster) AS rn
        |  FROM a GROUP BY label, cluster) WHERE rn = 1 ORDER BY label""".stripMargin),
    "c6_purity" -> withAssign(
      """SELECT round(sum(n_top) * 1.0 / (SELECT count(*) FROM p), 6)
        |  AS purity FROM (
        |  SELECT count(*) AS n_top,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY count(*) DESC, cluster) AS rn
        |  FROM a GROUP BY label, cluster) WHERE rn = 1""".stripMargin),
    "c7_inertia" -> withAssign(
      "SELECT round(sum(dist * dist), 3) AS inertia FROM a"),
    "c8_cluster_avgdist" -> withAssign(
      "SELECT cluster::INT AS cluster, round(avg(dist), 6) AS avg_dist FROM a GROUP BY cluster ORDER BY cluster"),
    "c9_knn" -> withAssign(
      s"""SELECT xi AS qid, rnk::INT AS rank, yi AS nid FROM (
         |  SELECT x.id AS xi, y.id AS yi,
         |    row_number() OVER (PARTITION BY x.id
         |      ORDER BY list_distance(x.v, y.v), y.id) AS rnk
         |  FROM p x JOIN p y ON x.id <> y.id WHERE x.id < 50)
         |WHERE rnk <= $L ORDER BY qid, rank""".stripMargin),
    "c10_conn" -> withAssign(
      s"""SELECT round(sum(CASE WHEN cx = cy THEN 1.0 / rnk ELSE 0 END), 4)
         |  AS conn FROM (
         |  SELECT ax.cluster AS cx, ay.cluster AS cy,
         |    row_number() OVER (PARTITION BY x.id
         |      ORDER BY list_distance(x.v, y.v), y.id) AS rnk
         |  FROM p x JOIN p y ON x.id <> y.id
         |  JOIN a ax ON ax.id = x.id JOIN a ay ON ay.id = y.id)
         |WHERE rnk <= $L""".stripMargin),
    "c11_pareto_front" ->
      s"$frontSql\nSELECT id, f1, f2 FROM front ORDER BY id",
    "c12_crowding" ->
      s"""$frontSql
         |SELECT id, round(
         |  abs(lag(f1) OVER w - lead(f1) OVER w) *
         |  abs(lag(f2) OVER w - lead(f2) OVER w), 6) AS crowding
         |FROM front WINDOW w AS (ORDER BY f2, id) ORDER BY id""".stripMargin,
    "c13_minmax_norm" ->
      s"""$frontSql
         |SELECT id,
         |  round((f1 - min(f1) OVER ()) /
         |    (max(f1) OVER () - min(f1) OVER ()), 6) AS nf1,
         |  round((f2 - min(f2) OVER ()) /
         |    (max(f2) OVER () - min(f2) OVER ()), 6) AS nf2
         |FROM front ORDER BY id""".stripMargin,
    "c14_silhouette" -> withAssign(
      """SELECT round(avg((bi - ai) / greatest(ai, bi)), 6) AS silhouette
        |FROM (
        |  SELECT xi, avg(ad) FILTER (WHERE cy = cx) AS ai,
        |    min(ad) FILTER (WHERE cy <> cx) AS bi
        |  FROM (
        |    SELECT x.id AS xi, ax.cluster AS cx, ay.cluster AS cy,
        |      avg(list_distance(x.v, y.v)) AS ad
        |    FROM p x CROSS JOIN p y
        |    JOIN a ax ON ax.id = x.id JOIN a ay ON ay.id = y.id
        |    GROUP BY x.id, ax.cluster, ay.cluster)
        |  GROUP BY xi)""".stripMargin),
    "c15_dbi" -> withAssign(
      s"""-- replicates the reference's never-reset running max
         |, s AS (SELECT cluster, avg(dist) AS sd FROM a GROUP BY cluster),
         |pairs AS (
         |  SELECT ci.cid AS i, (si.sd + sj.sd) /
         |    list_distance(ci.cv, cj.cv) AS r
         |  FROM c ci JOIN c cj ON cj.cid > ci.cid
         |  JOIN s si ON si.cluster = ci.cid
         |  JOIN s sj ON sj.cluster = cj.cid),
         |mi AS (SELECT i, max(r) AS m FROM pairs GROUP BY i),
         |cm AS (SELECT cc.cid, max(mi.m) AS cmax
         |  FROM c cc JOIN mi ON mi.i <= cc.cid GROUP BY cc.cid)
         |SELECT round(sum(cmax) / $K, 6) AS dbi FROM cm""".stripMargin),
    "c17_conn_partitioned" -> withAssign(
      s"""-- partition-local Conn with rate scaling (A8 semantics)
         |, pc AS (SELECT p.id, p.v, a.cluster, (p.id // $ConnBucketWidth)
         |    AS bucket
         |  FROM p JOIN a ON a.id = p.id),
         |pairs AS (
         |  SELECT x.bucket, x.cluster AS cx, y.cluster AS cy,
         |    row_number() OVER (PARTITION BY x.id
         |      ORDER BY list_distance(x.v, y.v), y.id) AS rnk
         |  FROM pc x JOIN pc y
         |    ON x.bucket = y.bucket AND x.id <> y.id),
         |pb AS (SELECT bucket,
         |    sum(CASE WHEN cx = cy THEN 1.0 / rnk ELSE 0 END) AS conn
         |  FROM pairs WHERE rnk <= $L GROUP BY bucket),
         |sz AS (SELECT (id // $ConnBucketWidth) AS bucket, count(*) AS nb
         |  FROM p GROUP BY 1)
         |SELECT round(sum(conn * nb / (SELECT count(*) FROM p)), 4)
         |  AS conn_scaled
         |FROM pb JOIN sz USING (bucket)""".stripMargin),
    // m2 replays the whole per-particle A8 iteration: literal swarm
    // from fixture slices, per-particle nearest-centroid assignment
    // (ties toward the lower cluster id), bucket-local KNN (computed
    // once — neighbor ranks are particle-independent), per-bucket
    // Dev/Conn, rate scaling, merge-by-sum. The c17 fragments, crossed
    // with a particle dimension.
    "m2_mopso_iteration" ->
      s"""WITH $P,
         |nn AS (SELECT count(*) AS n FROM p),
         |sw AS (SELECT pr.p AS particle, kk.k + 1 AS cluster,
         |    e.embedding::DOUBLE[] AS cv
         |  FROM (SELECT range AS p FROM range($M2Particles)) pr
         |  CROSS JOIN (SELECT range AS k FROM range($K)) kk
         |  CROSS JOIN nn
         |  JOIN embeddings e ON e.vec_id = (pr.p * $K + kk.k) % nn.n),
         |asg AS (SELECT particle, id, bucket, cluster, dist FROM (
         |  SELECT sw.particle, p.id, (p.id // $ConnBucketWidth) AS bucket,
         |    sw.cluster, list_distance(p.v, sw.cv) AS dist,
         |    row_number() OVER (PARTITION BY sw.particle, p.id
         |      ORDER BY list_distance(p.v, sw.cv), sw.cluster) AS rn
         |  FROM p CROSS JOIN sw) WHERE rn = 1),
         |nbr AS (SELECT xi, yi, rnk FROM (
         |  SELECT x.id AS xi, y.id AS yi,
         |    row_number() OVER (PARTITION BY x.id
         |      ORDER BY list_distance(x.v, y.v), y.id) AS rnk
         |  FROM p x JOIN p y ON (x.id // $ConnBucketWidth) =
         |    (y.id // $ConnBucketWidth) AND x.id <> y.id)
         |  WHERE rnk <= $L),
         |devb AS (SELECT particle, bucket, sum(dist) AS dev
         |  FROM asg GROUP BY 1, 2),
         |connb AS (SELECT ax.particle,
         |    (nbr.xi // $ConnBucketWidth) AS bucket,
         |    sum(CASE WHEN ax.cluster = ay.cluster
         |      THEN 1.0 / nbr.rnk ELSE 0 END) AS conn
         |  FROM nbr
         |  JOIN asg ax ON ax.id = nbr.xi
         |  JOIN asg ay ON ay.id = nbr.yi AND ay.particle = ax.particle
         |  GROUP BY 1, 2),
         |sz AS (SELECT (id // $ConnBucketWidth) AS bucket, count(*) AS nb
         |  FROM p GROUP BY 1)
         |SELECT d.particle,
         |  round(sum(d.dev * sz.nb / (SELECT n FROM nn)), 3) AS dev_scaled,
         |  round(sum(coalesce(c.conn, 0) * sz.nb / (SELECT n FROM nn)), 4)
         |    AS conn_scaled
         |FROM devb d
         |JOIN sz USING (bucket)
         |LEFT JOIN connb c ON c.particle = d.particle
         |  AND c.bucket = d.bucket
         |GROUP BY d.particle
         |ORDER BY d.particle""".stripMargin,
    "c16_accuracy" -> withAssign(
      """SELECT n_match, n_total,
        |  round(n_match * 1.0 / n_total, 6) AS accuracy FROM (
        |  SELECT sum(CASE WHEN label + 1 = cluster THEN 1 ELSE 0 END)::BIGINT
        |      AS n_match,
        |    count(*) AS n_total FROM a)""".stripMargin),
    // c19 computes the SAME value as c10 by a different distributed
    // algorithm (bounded top-k aggregate vs window sort) — the oracle is
    // deliberately the c10 window formulation, an independent cross-check
    "c19_conn_topk" -> withAssign(
      s"""SELECT round(sum(CASE WHEN cx = cy THEN 1.0 / rnk ELSE 0 END), 4)
         |  AS conn FROM (
         |  SELECT ax.cluster AS cx, ay.cluster AS cy,
         |    row_number() OVER (PARTITION BY x.id
         |      ORDER BY list_distance(x.v, y.v), y.id) AS rnk
         |  FROM p x JOIN p y ON x.id <> y.id
         |  JOIN a ax ON ax.id = x.id JOIN a ay ON ay.id = y.id)
         |WHERE rnk <= $L""".stripMargin),
    // full replay of the deterministic sign-LSH pipeline: plane rows by
    // id, per-table bit-sum buckets, bucket-join candidates (deduped
    // across tables), exact top-L ranking over the candidate graph, plus
    // the c10 exact leg as value cross-check and recall denominator
    "c21_conn_lsh" -> withAssign(
      s""", pl AS (SELECT id, v FROM p WHERE id < ${LshPlanes * LshTables}),
         |b AS (SELECT p.id, (pl.id // $LshPlanes)::INT AS tbl,
         |    sum(CASE WHEN list_inner_product(p.v, pl.v) > 0
         |      THEN (1::BIGINT << (pl.id % $LshPlanes)::INT)
         |      ELSE 0::BIGINT END) AS bucket
         |  FROM p CROSS JOIN pl GROUP BY p.id, pl.id // $LshPlanes),
         |cand AS (SELECT DISTINCT x.id AS xi, y.id AS yi
         |  FROM b x JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket
         |    AND x.id <> y.id),
         |ap AS (SELECT xi, yi, rnk FROM (
         |  SELECT cand.xi, cand.yi,
         |    row_number() OVER (PARTITION BY cand.xi
         |      ORDER BY list_distance(px.v, py.v), cand.yi) AS rnk
         |  FROM cand JOIN p px ON px.id = cand.xi
         |  JOIN p py ON py.id = cand.yi)
         |  WHERE rnk <= $L),
         |apc AS (SELECT xi, yi, rnk, ax.cluster AS cx, ay.cluster AS cy
         |  FROM ap JOIN a ax ON ax.id = ap.xi JOIN a ay ON ay.id = ap.yi),
         |ex AS (SELECT xi, yi, rnk, cx, cy FROM (
         |  SELECT x.id AS xi, y.id AS yi, ax.cluster AS cx,
         |    ay.cluster AS cy,
         |    row_number() OVER (PARTITION BY x.id
         |      ORDER BY list_distance(x.v, y.v), y.id) AS rnk
         |  FROM p x JOIN p y ON x.id <> y.id
         |  JOIN a ax ON ax.id = x.id JOIN a ay ON ay.id = y.id)
         |  WHERE rnk <= $L),
         |cl AS (SELECT round(sum(CASE WHEN cx = cy THEN 1.0 / rnk
         |    ELSE 0 END), 4) AS conn_lsh FROM apc),
         |ce AS (SELECT round(sum(CASE WHEN cx = cy THEN 1.0 / rnk
         |    ELSE 0 END), 4) AS conn_exact, count(*) AS n_exact FROM ex),
         |h AS (SELECT count(*) AS n_hit FROM apc WHERE EXISTS (
         |  SELECT 1 FROM ex WHERE ex.xi = apc.xi AND ex.yi = apc.yi))
         |SELECT conn_lsh, conn_exact, n_hit::BIGINT AS n_hit,
         |  n_exact::BIGINT AS n_exact,
         |  round(n_hit * 1.0 / n_exact, 6) AS recall
         |FROM cl CROSS JOIN ce CROSS JOIN h""".stripMargin),
    // the capped production chain ending at the ranked pairs — the
    // graph rows themselves, window-ranked as the independent
    // cross-check of the TopKByKey bounded aggregate; the prefix cap
    // saturates at fixture size (masses ≤ 46 < 64), so this row also
    // pins capped ≡ uncapped where no bucket overflows
    "s12_knn_graph" -> cappedGraphSql(GraphBuildCap),
    // the same chain at the cap the fixture EXCEEDS — the truncation
    // and pair dedup are live in this row
    "s12b_knn_graph_capped" -> cappedGraphSql(OracleGraphCap),
    // the s12 chain through the mutuality filter, then reachability as a
    // recursive CTE — an independent closure algorithm vs the Spark
    // side's star rounds (the d6 cross-check convention),
    // plus the orphan fan-out (empty at this cap at fixture size)
    "s13_graph_clusters" -> cappedClustersSql(GraphBuildCap),
    // the closure at the live cap: 126 of 500 fixture points cap out of
    // every prefix and inherit their rank-1 neighbor's component — the
    // s13 handoff, hash-checked
    "s13b_graph_clusters_capped" -> cappedClustersSql(OracleGraphCap),
    // the whole serving chain from raw embeddings (the d11 oracle
    // convention — deterministic index, no parquet read): base split →
    // planes from the BASE only → base sigs → CAPPED mutual graph →
    // recursive components → orphan fan-out → delta sigs → CAPPED
    // bucket probe (the r17 serve prefix: the store side is the same
    // row_number ≤ cap prefix the build ranks against) →
    // window-ranked argmin. The cap saturates at fixture size (base
    // buckets ≤ 46 < 64); the b-face at OracleGraphCap pins the LIVE
    // truncation of both the build chain AND the serve probe
    "s14_graph_assign" -> s14AssignSql(GraphBuildCap),
    "s14b_graph_assign_capped" -> s14AssignSql(OracleGraphCap),
    "s14c_graph_assign_hash" ->
      s14AssignSql(OracleGraphCap, hashOrder = true),
    // a(i)/b(i) are the two smallest centroid distances (assignment IS
    // nearest-centroid), so the oracle ranks per-point distances and keeps
    // rn 1 and 2 — only the dist VALUES feed the score, so rank ties are
    // immaterial
    "c20_silhouette_simplified" ->
      s"""WITH $P, $C,
         |r AS (SELECT p.id, list_distance(p.v, c.cv) AS dist,
         |    row_number() OVER (PARTITION BY p.id
         |      ORDER BY list_distance(p.v, c.cv), c.cid) AS rn
         |  FROM p CROSS JOIN c)
         |SELECT round(avg((b.dist - a.dist) /
         |    greatest(a.dist, b.dist)), 6) AS silhouette_s
         |FROM (SELECT id, dist FROM r WHERE rn = 1) a
         |JOIN (SELECT id, dist FROM r WHERE rn = 2) b USING (id)""".stripMargin,
    // weighted euclid over the shifted-positive space; weight = x/sum(x)
    // of the point vector, same left-to-right fold as the Spark kernel
    "c18_weighted_dist" ->
      s"""WITH $P, $C,
         |sp AS (SELECT id, list_transform(v, x -> x + 1.0) AS v FROM p),
         |sc AS (SELECT cid, list_transform(cv, x -> x + 1.0) AS cv FROM c),
         |wd AS (SELECT id, cid, sqrt(list_sum(
         |    list_transform(generate_series(1, len(v)), i ->
         |      (v[i] / list_sum(v)) * (v[i] - cv[i]) * (v[i] - cv[i]))))
         |    AS wdist
         |  FROM sp CROSS JOIN sc)
         |SELECT id, cid::INT AS wcluster, round(wdist, 6) AS wdist FROM (
         |  SELECT id, cid, wdist, row_number() OVER (PARTITION BY id
         |    ORDER BY wdist, cid) AS rn FROM wd)
         |WHERE rn = 1 ORDER BY id""".stripMargin
  )
}
