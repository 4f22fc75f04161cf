package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Measured-scaling harness (VERDICT r4 "What's missing" §2: the 100 TB
  * claims were plan-audited but only ever measured at sf0.1).
  *
  * Materializes a ×`mult` scaled copy of the sf0.1 fixtures and times a
  * representative heavy query set against it, so SCALE.md can cite
  * MEASURED scaling curves instead of argued ones.
  *
  * Scaling model (documented, deliberate):
  *  - Fact tables (`lineitem`, `orders`, `events`, `documents`,
  *    `embeddings`) are unioned ×mult with per-copy key remapping
  *    (`key + copy·1e8`) so copies stay distinct entities — orderkeys
  *    remap in lock-step in orders+lineitem, preserving join fan-out.
  *  - Dimension tables stay fixed (each customer simply owns ×mult
  *    orders — the usual fact-grows-faster-than-dims shape).
  *  - `documents.text` gets a per-copy suffix and `embeddings.embedding`
  *    a per-copy epsilon shift: without them every doc/vector would have
  *    mult−1 EXACT clones and the dedup/ANN workloads would degenerate
  *    into one giant duplicate class instead of scaling realistically.
  *  - `events.ts` shifts by `copy` seconds to avoid exact-timestamp
  *    collisions in the as-of join.
  *
  * Query set: the per-shape heavy hitters. The O(n²)-by-design exact
  * oracle forms (c9/c10/c14 all-pairs, d5's capped verifier) are
  * excluded — their documented scale twins (c17/c19, d3-fed
  * verification) are in the set; that substitution IS the scale story.
  *
  * Methodology: one untimed warmup query for JIT/codegen, then ONE timed
  * pass per query through the noop sink (multi-second queries; median-of-3
  * would triple a multi-minute run for noise that matters at the 0.1s
  * scale, not here).
  *
  * Usage: `runMain graft.ScaleBench [src] [mult] [work] [case] [eps|indep]`
  * — defaults `/root/testdata/sf0.1`, 10, `/tmp/graft_scale`, `full`,
  * `eps`. A case is one row of [[cases]] (a named comparison that
  * writes its own `metric` record) or a query-set run writing a
  * `scale_total` record: `full` (every query of [[scaleSet]]), `linear`
  * (drops the queries with Θ(n²) COMPUTE — c19's exact all-pairs Conn,
  * mm10's in-bucket verification — and what `full` runs from ×100 up),
  * `only:a,b` (an explicit query list) and `onlye:a,b` (the same list
  * over the documents and embeddings facts alone). `indep` switches the
  * embedding copies to independent per-dimension perturbation
  * ([[IndepAmp]]). The record goes to `SPARK_GRAFT_SCALE_OUT`, else to
  * the case's default file (`_indep` before `.json` under `indep`).
  */
object ScaleBench {

  private val CopyOffset = 100000000L

  /** Wall-clock of a thunk — the one timing helper every comparison
    * case shares (a per-case copy invites unit drift that would skew
    * cross-case record comparisons).
    */
  private def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  val scaleSet: Seq[String] = Seq(
    "q1_pricing_summary", "q3_revenue_by_nation", "q13_monthly_revenue",
    "q14_top_customer_per_nation", "q16b_approx_percentiles",
    "d1_exact_dedup", "d2_minhash_sig", "d3_lsh_pairs", "d4_simhash",
    "d6_dedup_groups",
    // round-14: incremental dedup — the serve row hits the store the
    // pre-timed d11_index_build row wrote, so the decade claim is the
    // SERVING cost (delta sign + one corpus-band scan, no corpus
    // shuffle), with the corpus-sized build carried separately
    "d11_incremental_dedup",
    "p1_corpus_curation", "p2_hash_split", "p5_decontaminate",
    "s1_cosine_topk", "s2_lsh_buckets", "s3_ann_ivf",
    "s4_embedding_neardup", "s5_ann_recall",
    // round-10: the auto-nlist IVF (cells derived from the count, √n
    // build) — the scale form whose pinned-K twin s3 would probe a
    // fixed FRACTION of the corpus per query
    "s7_ann_ivf_auto",
    // round-11: the PQ code scan (memory-bound ANN companion), the
    // IVFADC serving composition, and the substring-span dedup
    // (linear window-hash shuffles)
    "s8_ann_pq", "s9_ann_ivfadc", "d9_substring_spans",
    "d9b_span_removal", "p7_quality_score",
    // round-11b: the auto-banded moderate-threshold LSH, the
    // distributed token-budget cut (three narrow passes, no global
    // window — the per-partition offsets ARE the scale claim), and the
    // bigram-LM scorer (model shuffle one key wider than t12's)
    "d10_lsh_auto", "p8_token_budget", "t13_bigram_lm",
    "p10_pipeline_e2e",
    // round-13: the learned pipeline (VERDICT r12 next-2) — expect the
    // in-query model fits (LR + bigram LM, both vocabulary-bound) to
    // dominate while the gates-first tail rides p10's shape
    "p11_pipeline_learned",
    "t1_token_stats", "t3_fingerprint", "t5_repetition",
    "t7_quality_gate", "t8_boilerplate",
    "e1_tumbling_hourly", "e3_sessions", "e5_asof_attribution",
    "e6_range_campaigns", "e7_session_campaign_overlap",
    "t9_heavy_hitters", "t10_oov_rate",
    // round-9 scorers + sampler (VERDICT r9 §next-5): t12's vocab-sized
    // shuffle join is the one with a real transition to observe; t11 and
    // p6 are scan-shaped and should ride flat
    "t11_bm25", "t12_lm_score", "p6_stratified_sample",
    // t4b first so t4c's row times the APPLY leg alone (the trainer
    // memoizes per (dir, m) within the JVM)
    "t4b_bpe_merges", "t4c_bpe_apply",
    // round-14: rep selection (d6's closure + one combine), graded
    // decontamination (p5's broadcast probe + one grouped count), and
    // the cluster-balanced budget (serve row assigns from the
    // pre-built centroids; the seeded k-means fit is its own
    // p12_centroid_build row) — all expected linear
    "d12_group_reps", "p5c_contamination_frac", "p12_cluster_budget",
    // round-14: filtered ANN — candidate mass is selectivity·2n/√nlist
    // (the widened probe rule), so the row should track s7's shape at
    // ~a tenth the ranked candidates
    "s11_ann_filtered",
    // round-14: corpus-level boilerplate removal — three linear
    // line-level shuffles (the d9b family)
    "t16_boilerplate_removal",
    // round-14: curriculum packing — p8's three narrow passes + a
    // per-row division; should track p8's decade shape exactly
    "p13_curriculum_pack",
    // round-14: the kNN graph — c21's candidate chain + L-bounded
    // aggregate WITHOUT the exact-leg denominator, so the row prices
    // the production graph build alone
    "s12_knn_graph",
    // round-14: mutual-kNN components — the s12 build + one graph-sized
    // self-join + the d6 closure; the delta over s12's row
    // prices the clustering itself
    "s13_graph_clusters",
    // round-14: the semantic-component budget cut — s13's build + one
    // doc-side join + the p12 grouped prefix sum; the delta over s13's
    // row prices the cut
    "p14_semantic_budget",
    // round-14: graph-index serving — the corpus-sized build is its own
    // s14_index_build row; this row serves a 1/8 delta batch against
    // the frozen store (delta signs itself, probes pre-signed buckets,
    // argmin — no corpus re-sign, no corpus shuffle)
    "s14_graph_assign",
    "c1_assign", "c17_conn_partitioned", "c19_conn_topk",
    "c20_silhouette_simplified",
    "mm2_frame_census", "mm8_wav_meta", "mm9_pcm_stats",
    "mm10_audio_neardup", "mm10b_audio_dedup",
    // round-13: the capped image near-dup groups (VERDICT r12 next-8) —
    // fixed blocking-key space, so only the cap keeps the decade flat
    "mm6b_pixel_dedup",
    // the full seeded MOPSO loop — the reference's defining scaling risk
    // (per-iteration broadcast + bounded collect, SURVEY §7.4.5); linear
    // per iteration, so it stays in the linear set too
    "m1_mopso_archive")

  /** Per-dimension amplitude of the `indep` embedding perturbation:
    * uniform in [−A, A] per (copy, vector, dimension) gives an expected
    * displacement of √(64/3)·A ≈ 0.69 — about half the fixture's
    * typical inter-point distance (~1.4 at per-dim std 0.125) — so a
    * copy is a genuinely NEW point in the same density region, not an
    * ε-shadow of its original (VERDICT r12 next-9: the ε-copy fixture
    * made every recall number partly a measurement of copy structure).
    * Deterministic: xxhash64(vec_id, copy, dim) is the generator.
    */
  private val IndepAmp = 0.15

  /** One scaled copy of a fact table: keys shifted, content perturbed. */
  private def copyOf(spark: SparkSession, src: String, name: String,
      i: Int, perturb: String = "eps"): DataFrame = {
    val off = CopyOffset * i
    name match {
      case "lineitem" =>
        Tables.lineitem(spark, src)
          .withColumn("l_orderkey", col("l_orderkey") + lit(off))
      case "orders" =>
        Tables.orders(spark, src)
          .withColumn("o_orderkey", col("o_orderkey") + lit(off))
      case "events" =>
        Tables.events(spark, src)
          .withColumn("event_id", col("event_id") + lit(off))
          .withColumn("ts",
            col("ts") + expr(s"INTERVAL $i SECOND"))
      case "documents" =>
        val d = Tables.documents(spark, src)
          .withColumn("doc_id", col("doc_id") + lit(off))
        val shifted =
          if (i == 0) d
          else d.withColumn("text", concat(col("text"), lit(s" cp$i")))
        shifted.withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        val base = Tables.table(spark, src, "embeddings")
          .withColumn("vec_id", col("vec_id") + lit(off))
        if (perturb == "indep") {
          // independent per-(copy, vector, dimension) displacement —
          // see [[IndepAmp]]; copy 0 stays the original corpus
          if (i == 0) base
          else base.withColumn("embedding",
            zip_with(col("embedding"),
              transform(
                sequence(lit(0),
                  lit(graft.functions.Similarity.Dim - 1)), d =>
                ((pmod(xxhash64(col("vec_id"), lit(i), d, lit("indep")),
                  lit(1000000L)) / lit(1000000.0) - lit(0.5)) *
                  lit(2 * IndepAmp))),
              (x, u) => (x + u).cast("float")))
        } else {
          val eps = (i * 5e-4).toFloat
          base.withColumn("embedding",
            transform(col("embedding"), x => (x + lit(eps)).cast("float")))
        }
      case other =>
        Tables.table(spark, src, other)
    }
  }

  private val factTables =
    Seq("lineitem", "orders", "events", "documents", "embeddings")

  /** Builds the scaled dataset dir (idempotent: skips when present).
    * `only` restricts to a table subset — the cheap-metrics `layout`
    * case needs just the embeddings fact, not a full x1000 star schema.
    */
  def materialize(spark: SparkSession, src: String, mult: Int,
      work: String, only: Option[Set[String]] = None,
      perturb: String = "eps"): Unit = {
    Tables.names.filter(n => only.forall(_.contains(n))).foreach { name =>
      val dest = s"$work/$name.parquet"
      if (!new java.io.File(dest, "_SUCCESS").exists()) {
        val df =
          if (factTables.contains(name))
            (0 until mult).map(copyOf(spark, src, name, _, perturb))
              .reduce(_ union _)
          else Tables.table(spark, src, name)
        df.write.mode("overwrite").parquet(dest)
      }
    }
  }

  /** The m1 superlinearity mitigation, measured: the reference's
    * partition-scoped Conn (A8) precomputes neighbor lists in O(Σ nᵤ²),
    * so with the partition count PINNED (m1's driver-contract config
    * keeps the reference's 8) per-partition size grows with the data and
    * the loop goes quadratic — measured 17x for the x10→x100 decade.
    * The engine's `numPartitions` knob restores linearity by holding
    * per-partition size constant instead (nᵤ fixed → O(n·nᵤ)). This mode
    * times the same seeded run both ways at ×mult. The scaled form runs
    * FIRST (cold), the pinned form second with every JIT benefit — so a
    * measured gap understates the mitigation rather than inflating it.
    * (Different partitioning means partition-scoped fitness differs —
    * these are two configs of the same workload, not twins; both runs
    * must still produce a non-empty archive.)
    */
  private def m1TimeRun(spark: SparkSession, work: String,
      parts: Int, sampleFraction: Double = 1.0): Double = {
    import graft.mopso.{Config, Mopso, MopsoConfig}
    val pts = Tables.labeledPoints(spark, work)
    val cfg = MopsoConfig.avg(numPartitions = parts).copy(
      iterMax = 10, partitioning = Config.PartByIdRange,
      fitnessSampleFraction = sampleFraction)
    timed {
      val r = Mopso.run(spark, pts, cfg, seed = 42L)
      require(r.archive.nonEmpty, s"empty archive at parts=$parts")
    }._1
  }

  private def m1PartitionCompare(spark: SparkSession, work: String,
      mult: Int): Seq[(String, Double)] = {
    val scaledParts = 8 * mult
    val rows =
      Seq(s"m1_parts$scaledParts" -> m1TimeRun(spark, work, scaledParts))
    if (mult < 1000) rows :+ ("m1_parts8" -> m1TimeRun(spark, work, 8))
    else {
      // the reference-pinned 8-partition face at the third decade
      // (VERDICT r17 next-7): its partition-local Conn precompute is
      // Σ nᵤ² = n²/8 pair ops — exact arithmetic from the even
      // PartByIdRange split, the lshCandidatePairCount discipline —
      // which at the x100-measured pair rate is hours of wall clock,
      // not a timed row. The record carries the wall as arithmetic
      // plus the two survivors MEASURED: the scaled-partition face
      // (nᵤ held constant — linear) and the §7.4.6 sampled face at
      // the PINNED 8 partitions (neighbor build shrinks with the
      // square of the fraction; fraction 0.1 ≈ the x100 budget).
      val n = Tables.labeledPoints(spark, work).count().toDouble
      rows ++ Seq(
        "m1_parts8_pair_ops" -> n * n / 8.0,
        "m1_parts8_sample01" -> m1TimeRun(spark, work, 8, 0.1))
    }
  }

  /** The embedding-family rows `ivfauto` and `layout` both record: the
    * vector count, the derived nlist, and s4/d7's fixed 8-plane
    * near-dup buckets (layout fixed by the cosine threshold's recall
    * needs, not free to grow like c21's) — the uncapped candidate mass
    * next to the capped emission d7 rides, the layout worth WATCHING
    * per decade.
    */
  private def embeddingWatchRows(spark: SparkSession, work: String,
      n: Long, nlist: Int): Seq[(String, Double)] = {
    import graft.functions.Similarity
    Seq(
      "ivf_n_vectors" -> n.toDouble,
      "ivf_nlist" -> nlist.toDouble,
      "s4_bucket_pairs" ->
        Similarity.nearDupCandidatePairs(spark, work).toDouble,
      "s4_bucket_pairs_capped" ->
        Similarity.nearDupCandidatePairsCapped(spark, work).toDouble)
  }

  /** The auto-IVF recall/cost curve at corpus scale (the s7 twin of the
    * `connlsh` mode): growing nlist with √n keeps per-probe work
    * √-scaled, but at FIXED nprobe = 1 the probed corpus fraction
    * shrinks as 1/√n — whether recall survives is a measurement, not an
    * assumption. This mode records, at the decade's derived nlist and
    * from a ~100-query hash-sampled set (exact denominators O(s·n),
    * computed ONCE per curve — the lshSampledRecall pattern), the
    * recall over an nprobe grid for THREE query/index combinations:
    * easy (corpus-sampled) queries on the oracle-convention index, HARD
    * (cell-radius-displaced, [[graft.functions.Similarity.hardQueries]])
    * queries on the same index, and the hard queries on the TRAINED
    * (seeded k-means) quantizer — the curve the engine's recall-targeted
    * [[graft.functions.Similarity.ivfProbesFor]] rule is derived from.
    * Also rides the s4/d7 watch metrics (uncapped vs capped candidate
    * mass) and the capped d7 groups end-to-end time.
    */
  private def ivfAutoCompare(spark: SparkSession,
      work: String): Seq[(String, Double)] = {
    import graft.functions.{Dedup, Similarity}
    val n = Tables.embeddings(spark, work).count()
    val nlist = Similarity.ivfCellsFor(n)
    val step = math.max(1L, n / 100L)
    def timeRanked(np: Int): Double = timed {
      Similarity.annIvfAutoRanked(spark, work, np,
          Similarity.querySampleFilter(step))
        .write.format("noop").mode("overwrite").save()
    }._1
    // the nprobe grid (VERDICT r10 §next-1): the cheap point, the
    // engine's recall-targeted rule, √nlist and 2√nlist, the r10
    // constant-corpus-fraction rule, and nlist/2 — enough of the curve
    // to SEE the recall-target crossing, not just straddle it
    val sq = math.ceil(math.sqrt(nlist.toDouble)).toInt
    val grid = Seq(1, Similarity.ivfProbesFor(nlist), sq, 2 * sq,
      math.max(1, nlist / graft.operators.Clustering.K),
      math.max(1, nlist / 2)).distinct.sorted
    timeRanked(1) // untimed warmup: JIT/codegen + page cache, fair to all settings
    // easy (corpus-sampled) vs HARD (displaced out-of-corpus) queries:
    // each curve computes its exact denominator ONCE (ivfRecallCurve)
    val easy = Similarity.ivfRecallCurve(spark, work,
      Tables.embeddings(spark, work)
        .where(Similarity.querySampleFilter(step))
        .select(col("vec_id"), col("features")), grid)
    val hardQs = Similarity.hardQueries(spark, work, step)
    val hard = Similarity.ivfRecallCurve(spark, work, hardQs, grid)
    // the same hard queries against the TRAINED (seeded k-means)
    // quantizer — the production IVF build; its curve is the one the
    // engine's nprobe rule is derived from
    val hardKq = Similarity.ivfRecallCurve(spark, work, hardQs, grid,
      trained = true)
    def d7Timed(): Double = timed {
      val groups = Dedup.queries("d7_semantic_groups")(spark, work)
      groups.write.format("noop").mode("overwrite").save()
    }._1
    embeddingWatchRows(spark, work, n, nlist) ++ Seq(
      // the capped groups form end-to-end at the decade (the measured
      // mitigation, VERDICT r10 §next-2)
      "d7_groups_sec" -> d7Timed(),
      // quantizer geometry: mean cell radius of each quantizer (the
      // hard-query displacement anchor is the TRAINED one's)
      "ivf_rbar_first" ->
        Similarity.meanCellRadius(spark, work, step, trained = false),
      "ivf_rbar_kq" ->
        Similarity.meanCellRadius(spark, work, step, trained = true)) ++
      grid.flatMap { np =>
        Seq(s"ivf_np${np}_sec" -> timeRanked(np),
          s"ivf_np${np}_recall" ->
            easy.find(_._1 == np).get._2,
          s"ivf_np${np}_hardrecall" ->
            hard.find(_._1 == np).get._2,
          s"ivf_np${np}_hardrecall_kq" ->
            hardKq.find(_._1 == np).get._2)
      }
  }

  /** s10/s10b decade probe: recall@5 and wall-clock of the truncated-
    * prefix shortlist at m ∈ {8, 16, 32} kept dims and of the learned
    * PCA rotation at m = TruncDim, all against ONE exact top-5
    * denominator over the scaled corpus. The question per decade: does
    * the rotation's recall edge over the raw prefix survive corpus
    * growth (the kept-dims budget is the memory story; recall is what
    * it buys), and does the fit stay a one-Gram-matrix pass. The
    * rotation rows split fit from serve (p7/s9 discipline).
    */
  private def truncCompare(spark: SparkSession,
      work: String): Seq[(String, Double)] = {
    import graft.functions.Similarity
    val e = Tables.embeddings(spark, work)
    val n = e.count()
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("qid"), col("nid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def timedPairs(df: => org.apache.spark.sql.DataFrame)
        : (Set[(Long, Long)], Double) = timed(pairs(df)).swap
    // untimed warmup (JIT/codegen + page cache, fair to all settings)
    pairs(Similarity.truncatedTopK(e, 8, 5))
    val (exact, exactSec) =
      timedPairs(Similarity.truncatedTopK(e, Similarity.Dim, 5))
    def recall(got: Set[(Long, Long)]): Double =
      (got intersect exact).size.toDouble / exact.size
    val prefixRows = Seq(8, 16, 32).flatMap { m =>
      val (got, sec) = timedPairs(
        Similarity.truncatedTopK(e, m, Similarity.TruncShortlist))
      Seq(s"prefix${m}_sec" -> sec, s"prefix${m}_recall" -> recall(got))
    }
    val rotPath = s"/tmp/graft_scale_rot/${new java.io.File(work).getName}"
    val (fitSec, _) = timed(Similarity.writeRotation(spark, work, rotPath))
    val (rotGot, rotSec) = timedPairs(
      Similarity.serveRotated(spark, work, rotPath))
    // the build-time worth-it gauge: kept explained variance vs the
    // flat-spectrum baseline TruncDim/Dim — when it reads near the
    // baseline, expect the rotated recall row at parity with prefix
    val keptEvr = spark.read.parquet(rotPath)
      .agg(sum(col("evr"))).collect()(0).getDouble(0)
    Seq("trunc_n_vectors" -> n.toDouble, "exact_sec" -> exactSec) ++
      prefixRows ++ Seq(
        s"rot${Similarity.TruncDim}_fit_sec" -> fitSec,
        s"rot${Similarity.TruncDim}_sec" -> rotSec,
        s"rot${Similarity.TruncDim}_recall" -> recall(rotGot),
        s"rot${Similarity.TruncDim}_evr" -> keptEvr)
  }

  /** Cheap-metrics-only layout probe for multipliers where end-to-end
    * timing is beside the point (VERDICT r10 §next-3: the log₂/√ layout
    * rules were two-point extrapolations — one x1000 row turns them into
    * data). Materializes ONLY the embeddings fact (both rules' inputs
    * derive from it) and records the O(n) histogram counts: candidate
    * pairs at the pinned vs auto LSH layout, the derived nlist, and the
    * s4 watch metrics. No recall, no wall-clock rows — the counts are
    * exact arithmetic and they alone decide whether a layout survives
    * the decade.
    */
  private def layoutProbe(spark: SparkSession,
      work: String): Seq[(String, Double)] = {
    import graft.functions.Similarity
    import graft.operators.Clustering
    val n = Tables.labeledPoints(spark, work).count()
    val scaled = Clustering.lshPlanesFor(n)
    val nlist = Similarity.ivfCellsFor(n)
    Seq(
      "connlsh_n_points" -> n.toDouble,
      "connlsh_auto_planes" -> scaled.toDouble,
      s"connlsh_planes${Clustering.LshPlanes}_pairs" ->
        Clustering.lshCandidatePairCount(spark, work,
          Clustering.LshPlanes, Clustering.LshTables).toDouble,
      s"connlsh_planes${scaled}_pairs" ->
        Clustering.lshCandidatePairCount(spark, work,
          scaled, Clustering.LshTables).toDouble) ++
      embeddingWatchRows(spark, work, n, nlist) ++ Seq(
      // r15: the graph build's capped-emission valve, measured as a
      // candidate-mass formula over the bucket histogram — the number
      // that decides whether the s12 chain survives the third decade
      // (SCALE.md §r15: uncapped = 608.9B at x1000-eps)
      s"graph_pairs_capped${Clustering.GraphBuildCap}" ->
        Clustering.lshCappedCandidatePairCount(spark, work,
          scaled, Clustering.LshTables,
          Clustering.GraphBuildCap).toDouble,
      "cheap_metrics_only" -> 1.0)
  }

  /** LSH-fed Conn at corpus scale (the c21 claim, measured): a FIXED
    * sign-LSH layout has a fixed bucket-mass distribution, so its
    * candidate compute is Θ(n²) — the 4×8 layout that reads as "2.5×
    * pruning" at fixture size is quadratic all the same. The scale knob
    * is PLANES: growing them with log₂(mult) splits every table into
    * ~mult× more buckets, holding per-bucket occupancy (and hence
    * candidate pairs per point) roughly constant across the decade.
    * This mode records, for the pinned fixture layout and the scaled
    * one, the exact candidate-pair count (from the bucket histogram, no
    * pair materialization) and the end-to-end LSH Conn time; the pinned
    * timing is skipped with -1 when its own pair count says the run is
    * a quadratic stall (> ~1.5e9 pairs), because the count already IS
    * the verdict.
    */
  private def connLshCompare(spark: SparkSession,
      work: String): Seq[(String, Double)] = {
    import graft.operators.Clustering
    val tables = Clustering.LshTables
    val pinned = Clustering.LshPlanes
    // the scaled layout is now the ENGINE's rule (Clustering.lshPlanesFor,
    // promoted from this mode's r9 ad-hoc log2(mult) — VERDICT r9
    // §next-3): derived from the actual point count, so this mode
    // exercises exactly what production connLshAuto would run
    val n = Tables.labeledPoints(spark, work).count()
    val scaled = Clustering.lshPlanesFor(n)
    def pairsOf(p: Int): Long =
      Clustering.lshCandidatePairCount(spark, work, p, tables)
    def timeConn(p: Int): Double = timed {
      val v = Clustering.connLshValue(spark, work, p, tables).head()
      require(!v.isNullAt(0) && v.getDouble(0) > 0.0,
        s"degenerate conn_lsh at planes=$p")
    }._1
    val pairsPinned = pairsOf(pinned)
    val pairsScaled = pairsOf(scaled)
    val secScaled = timeConn(scaled)
    val secPinned =
      if (pairsPinned > 1500000000L) {
        System.err.println(s"[scale] connlsh planes=$pinned skipped: " +
          s"$pairsPinned candidate pairs is the quadratic stall itself")
        -1.0
      } else timeConn(pinned)
    // recall AT SCALE from a ~200-point deterministic sample: the exact
    // denominator is O(s·n) for the sample where the full one is the
    // quadratic this mode exists to avoid (step=1 equals c21's recall
    // column, spec-pinned — the sample estimates the same quantity)
    val step = math.max(1L, n / 200L)
    // the OR-amplification axis (round 13): on independently-perturbed
    // copies (the `indep` fixture) neighbors are genuinely spread and
    // plane growth trades recall away — growing TABLES at the scaled
    // plane count buys recall back linearly in candidate mass (each
    // table is an independent OR chance), where shrinking planes would
    // buy it back exponentially in mass. Recorded at 2x/4x tables so
    // the recall-per-candidate trade is a measured curve, not a knob
    // description. ONE exact denominator serves all three recalls.
    val recalls = Clustering.lshSampledRecallMulti(spark, work, scaled,
      Seq(tables, 2 * tables, 4 * tables), step).toMap
    val recallScaled = recalls(tables)
    val tableAxis = Seq(2 * tables, 4 * tables).flatMap { tt =>
      Seq(
        s"connlsh_planes${scaled}_t${tt}_pairs" ->
          Clustering.lshCandidatePairCount(spark, work, scaled, tt)
            .toDouble,
        s"connlsh_planes${scaled}_t${tt}_recall" -> recalls(tt))
    }
    Seq(s"connlsh_planes${pinned}_pairs" -> pairsPinned.toDouble,
      s"connlsh_planes${scaled}_pairs" -> pairsScaled.toDouble,
      s"connlsh_planes${pinned}_sec" -> secPinned,
      s"connlsh_planes${scaled}_sec" -> secScaled,
      s"connlsh_planes${scaled}_recall" -> recallScaled,
      "connlsh_auto_planes" -> scaled.toDouble,
      "connlsh_n_points" -> n.toDouble) ++ tableAxis
  }

  /** The PQ/IVFADC recall-and-cost rows per decade (round 11): the s8
    * family's production variants measured the way `ivfauto` measures
    * s7 — hash-sampled corpus queries (easy) AND boundary-displaced
    * hard queries, flat PQ vs the IVFADC residual composition, raw ADC
    * vs reranked. The flat-ADC row is the honest baseline (quantization
    * noise vs the corpus's flat neighbor gaps); the IVFADC + rerank row
    * is what a serving workload inherits.
    */
  private def pqCompare(spark: SparkSession,
      work: String): Seq[(String, Double)] = {
    import graft.functions.Similarity
    val e = Tables.embeddings(spark, work)
    val n = e.count()
    val nlist = Similarity.ivfCellsFor(n)
    val np = Similarity.ivfProbesFor(nlist)
    val step = math.max(1L, n / 200L)
    val q = e.where(Similarity.querySampleFilter(step))
      .select(col("vec_id"), col("features"))
    val (tFlat, flat) = timed(Similarity.pqRecallCurve(spark, work, q,
      Seq((false, 0), (false, 100))).map(_._2))
    // the r11 x100 lesson: rr50 (fine at x10, candidates/query ≈ 2.5k)
    // reads 0.905 easy / 0.578 hard at x100 (candidates/query ≈ 15k) —
    // the shortlist must grow with per-query candidate mass, so the
    // curve measures the rerank AXIS, including the [[Similarity
    // .pqRerankFor]] rule's point, not one pinned depth
    val rrAuto = Similarity.pqRerankFor(n, nlist, np)
    val (tAdc, adc) = timed(Similarity.ivfAdcRecallCurve(spark, work, q,
      Seq((np, 0), (np, 50), (np, rrAuto))).map(_._2))
    val hq = Similarity.hardQueries(spark, work, step)
    val (tHard, hard) = timed(Similarity.ivfAdcRecallCurve(spark, work,
      hq, Seq((np, 50), (np, rrAuto), (np, 2 * rrAuto))).map(_._2))
    Seq("pq_n" -> n.toDouble, "pq_nlist" -> nlist.toDouble,
      "pq_np" -> np.toDouble, "pq_rr_auto" -> rrAuto.toDouble,
      "pq_flat_recall" -> flat(0), "pq_flat_rr100_recall" -> flat(1),
      "pq_ivfadc_recall" -> adc(0), "pq_ivfadc_rr50_recall" -> adc(1),
      "pq_ivfadc_rrauto_recall" -> adc(2),
      "pq_ivfadc_hard_rr50_recall" -> hard(0),
      "pq_ivfadc_hard_rrauto_recall" -> hard(1),
      "pq_ivfadc_hard_rr2auto_recall" -> hard(2),
      "pq_flat_sec" -> tFlat, "pq_ivfadc_sec" -> tAdc,
      "pq_hard_sec" -> tHard)
  }

  /** Persisted-index serving at decade scale (round 11): write the
    * IVFADC index tables, serve a hash-sampled query batch FROM DISK,
    * and verify row parity against the in-memory ranking — the PqSpec
    * round-trip contract, exercised at the decades — plus the on-disk
    * compression that makes the 100 TB story concrete (parquet bytes
    * of the codes table vs the raw embedding vectors).
    */
  private def pqDiskCompare(spark: SparkSession,
      work: String): Seq[(String, Double)] = {
    import graft.functions.Similarity
    val e = Tables.embeddings(spark, work)
    val n = e.count()
    val nlist = Similarity.ivfCellsFor(n)
    val np = Similarity.ivfProbesFor(nlist)
    val rr = Similarity.pqRerankFor(n, nlist, np)
    val idx = work + "_ivfadc_idx"
    val (tBuild, _) = timed(Similarity.writeIvfAdcIndex(spark, work, idx))
    val q = e.where(Similarity.querySampleFilter(math.max(1L, n / 200L)))
      .select(col("vec_id"), col("features"))
      .localCheckpoint(eager = true)
    // parity tuples carry the rounded score too — the documented claim
    // is row-identical serving, not rank-identical (ADVICE r11)
    def rows(df: org.apache.spark.sql.DataFrame)
        : Set[(Long, Int, Long, Double)] =
      df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val (tDisk, served) = timed(rows(
      Similarity.serveIvfAdcFromIndex(spark, work, idx, q, np, rr)))
    val (tMem, inMem) = timed(rows(
      Similarity.pqIvfAdcRanked(spark, work, q, np, rr)))
    def dirBytes(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.exists(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
    }
    // incremental-maintenance staleness curve (VERDICT r12 next-4).
    // Appending UNDRIFTED arrivals measures nothing here — the scaled
    // fixture's copies share the base's density regions, so frozen
    // quantizers stay near-optimal and recall reads 1.000 at every
    // fraction (verified). Staleness is a DRIFT phenomenon, so each
    // fraction's arrivals are displaced one trained-cell radius (the
    // hardQueries amplitude) into regions the base quantizer never
    // saw; the stale index (base-trained quantizers, arrivals appended
    // frozen) is then measured against a FULL REBUILD on the drifted
    // corpus, on queries sampled from the drifted arrivals themselves
    // — the affected region, where the gap actually lives. That gap
    // per fraction is the rebuild-trigger curve an operator needs.
    val step = math.max(1L, n / 200L)
    val rbar = Similarity.meanCellRadius(spark, work, step,
      trained = true)
    val amp = rbar / math.sqrt(Similarity.Dim / 3.0)
    val raw = Tables.table(spark, work, "embeddings")
    val staleRows = Seq(10, 25, 50).flatMap { pct =>
      val arrF = pmod(xxhash64(col("vec_id"), lit("stale")),
        lit(100)) < lit(pct)
      // drifted corpus dir: base unchanged, arrivals displaced
      val dDir = s"${work}_drift$pct"
      val drifted = raw.where(arrF).withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          (x + lit(2.0 * amp) *
            (pmod(xxhash64(col("vec_id"), i, lit("drift")),
              lit(1000000L)) / lit(1000000.0) - lit(0.5)))
            .cast("float")))
      raw.where(!arrF).union(drifted)
        .write.mode("overwrite").parquet(s"$dDir/embeddings.parquet")
      val de = Tables.embeddings(spark, dDir)
      val base = de.where(!arrF)
      // stale: quantizers trained pre-drift (base only), drifted
      // arrivals appended frozen
      val idxS = s"${idx}_stale$pct"
      val nb = base.count()
      val nlistS = Similarity.ivfCellsFor(nb)
      val (tStale, _) = timed {
        Similarity.writeIvfAdcIndexOf(spark, base, nlistS, idxS,
          key = idxS)
        Similarity.appendToIvfAdcIndex(spark, idxS,
          de.where(arrF).select(col("vec_id"), col("features")))
      }
      // rebuilt: quantizers retrained on the full drifted corpus
      val idxR = s"${idx}_rebuilt$pct"
      val (tRebuild, _) = timed(Similarity.writeIvfAdcIndex(spark, dDir, idxR))
      val qd = de.where(arrF).where(Similarity.querySampleFilter(step))
        .select(col("vec_id"), col("features"))
      // serve each index at ITS OWN derived rule: the stale index has
      // fewer cells (base-sized nlist), so probing it at the rebuilt
      // index's absolute nprobe would scan a LARGER corpus fraction
      // and bias the stale recall upward — the recorded gap must be
      // staleness, not a probe-fraction artifact (review r13)
      val npS = Similarity.ivfProbesFor(nlistS)
      val rrS = Similarity.pqRerankFor(n, nlistS, npS)
      val rec = Similarity.recallCurve(spark, dDir, qd, Seq(
        "stale" -> ((qf: org.apache.spark.sql.DataFrame) =>
          Similarity.serveIvfAdcFromIndex(spark, dDir, idxS, qf,
            npS, rrS)),
        "rebuilt" -> ((qf: org.apache.spark.sql.DataFrame) =>
          Similarity.serveIvfAdcFromIndex(spark, dDir, idxR, qf, np, rr))
      )).toMap
      Seq(
        s"pqdisk_stale${pct}_recall" -> rec("stale"),
        s"pqdisk_rebuilt${pct}_recall" -> rec("rebuilt"),
        s"pqdisk_stale${pct}_basebuild_append_sec" -> tStale,
        s"pqdisk_rebuilt${pct}_build_sec" -> tRebuild)
    }
    Seq(
      "pqdisk_n" -> n.toDouble,
      "pqdisk_queries" -> q.count().toDouble,
      "pqdisk_build_sec" -> tBuild,
      "pqdisk_serve_sec" -> tDisk,
      "pqdisk_mem_sec" -> tMem,
      "pqdisk_parity" -> (if (served == inMem) 1.0 else 0.0),
      "pqdisk_codes_bytes" -> dirBytes(s"$idx/codes").toDouble,
      "pqdisk_raw_vector_bytes" ->
        (n.toDouble * Similarity.Dim * 8),
      "pqdisk_drift_rbar" -> rbar) ++ staleRows
  }

  /** The d11 backfill boundary, measured (the q3 bucketing pattern
    * applied to the dedup store): at 10%-of-corpus deltas the broadcast
    * of the delta band table stops being the right plan, so save the
    * band store BUCKETED on its join key and let the DELTA side shuffle
    * into the store's layout instead — the corpus still never shuffles
    * in either form. Both serving plans are priced on the SAME full
    * delta, their outputs asserted identical, and the one-time
    * bucketing cost reported beside them.
    */
  private def d11BucketCompare(spark: SparkSession,
      work: String): Seq[(String, Double)] = {
    import graft.functions.Dedup
    val build = Bench.build("d11_index_build")
    val path = build.path(work)
    val (tBuild, _) = timed(build.run(spark, work))
    val delta = Tables.documents(spark, work)
      .where(pmod(col("doc_id"), lit(Dedup.DeltaMod))
        === Dedup.DeltaResidue)
      .select(col("doc_id"), col("text"))
    def checksum(out: DataFrame): (Long, Long, Long) = {
      val r = out.agg(count(lit(1)), sum(col("group_id")),
        sum(col("n_matches"))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val groups = spark.read.parquet(s"$path/groups")
    def broadcastForm() = checksum(Dedup.assignFrom(spark, work,
      spark.read.parquet(s"$path/bands"), groups, delta,
      broadcastDelta = true))
    val (db, tbl) = ("graft_d11_bucket", "d11_bands_b")
    val prevDb = spark.catalog.currentDatabase
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db " +
      s"LOCATION '$work/d11_bucket_warehouse'")
    spark.sql(s"USE $db")
    try {
      // the in-memory catalog forgets the table with its JVM but not its
      // directory, which saveAsTable refuses to write over
      if (!spark.catalog.tableExists(db, tbl)) {
        val dir = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(spark.catalog.getDatabase(db)
            .locationUri), tbl)
        dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(dir, true)
      }
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val (tBucket, _) = timed {
        spark.read.parquet(s"$path/bands").write
          .bucketBy(32, "band", "key").sortBy("band", "key")
          .saveAsTable(tbl)
      }
      def bucketedForm() = checksum(Dedup.assignFrom(spark, work,
        spark.table(tbl), groups, delta, broadcastDelta = false))
      // one untimed pass each (JIT + page cache), then the timed pair
      broadcastForm(); bucketedForm()
      val (tB, csB) = timed(broadcastForm())
      val (tS, csS) = timed(bucketedForm())
      require(csB == csS,
        s"bucketed d11 diverged from the broadcast plan: $csB vs $csS")
      Seq("d11_serve_broadcast" -> tB, "d11_serve_bucketed" -> tS,
        "d11_store_bucket_build" -> tBucket, "d11_index_build" -> tBuild)
    } finally spark.sql(s"USE $prevDb")
  }

  /** The d11bucket comparison for the GRAPH store: the same delta
    * batch served against (a) the plain parquet points table (the
    * store side shuffles on (tbl, bucket) because the feature-carrying
    * batch is past the broadcast threshold) and (b) a
    * bucket-partitioned saveAsTable of the pre-exploded rows (the
    * store side reads exchange-free; only the batch side moves).
    * Checksum-guarded: both layouts must produce identical
    * assignments.
    */
  private def s14BucketCompare(spark: SparkSession,
      work: String): Seq[(String, Double)] = {
    import graft.operators.Clustering
    val build = Bench.build("s14_index_build")
    val path = build.path(work)
    val (tBuild, _) = timed(build.run(spark, work))
    val delta = Tables.labeledPoints(spark, work)
      .where(pmod(col("id"), lit(Clustering.S14Mod)) ===
        lit(Clustering.S14Res))
      .select(col("id"), col("features"))
    def checksum(out: DataFrame): (Long, Long, Long) = {
      val r = out.agg(count(lit(1)), sum(col("component")),
        sum(coalesce(col("neighbor"), lit(0L)))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // since r15 the build itself exports the bucketed serving layout
    // and assignFromGraphIndex rides it by default; the comparison pins
    // the plain-parquet fallback against the promoted default
    def plainForm() = checksum(Clustering.assignFromGraphIndex(
      delta, path, useBucketed = false))
    def bucketedForm() = checksum(Clustering.assignFromGraphIndex(
      delta, path))
    // one untimed pass each (JIT + page cache), then THREE timed passes
    // per layout (the BASELINE.md drift protocol's same-session warm
    // pair, VERDICT r15 next-4): the median decides, the spread shows
    // whether a small-batch constant is real or VM noise
    plainForm(); bucketedForm()
    val ps = (1 to 3).map(_ => timed(plainForm()))
    val bs = (1 to 3).map(_ => timed(bucketedForm()))
    require(ps.map(_._2).distinct.size == 1 &&
        ps.head._2 == bs.head._2 && bs.map(_._2).distinct.size == 1,
      s"bucketed s14 diverged from the plain store: " +
        s"${ps.map(_._2)} vs ${bs.map(_._2)}")
    ps.zipWithIndex.map { case ((t, _), i) => s"s14_serve_plain_p${i + 1}" -> t } ++
      bs.zipWithIndex.map { case ((t, _), i) => s"s14_serve_bucketed_p${i + 1}" -> t } ++
      Seq("s14_serve_plain" -> ps.map(_._1).sorted.apply(1),
        "s14_serve_bucketed" -> bs.map(_._1).sorted.apply(1),
        "s14_index_build" -> tBuild)
  }

  /** Components-vs-mutualRank table (VERDICT r14 next-6): is the
    * `S13MutualRank = 2` pin — chosen from fixture percolation — still
    * the right hub/percolation knob once near-dup chains lengthen at
    * the decades? The auto-layout ranked graph (the CAPPED production
    * chain since r16, orphan fan-out included) is built ONCE and
    * persisted so the five closures share one candidate chain; per
    * rank 1..5 the record carries component count, max component size,
    * singleton share, the closure time, and a PARTITION CHECKSUM —
    * Σ pmod(xxhash64(id, component), 10⁶), exactly representable in the
    * record's doubles — so "identical at ranks r and r′" is backed by
    * label-level evidence, not just matching summary stats (ADVICE
    * r15).
    */
  private def s13RankCompare(spark: SparkSession,
      work: String): Seq[(String, Double)] = {
    import graft.operators.Clustering
    val graphPath = s"$work/s13rank_graph"
    val orphPath = s"$work/s13rank_orphans"
    val (tGraph, _) = timed {
      val n = Tables.labeledPoints(spark, work).count()
      val (graph, orphans) = Clustering.cappedGraphAt(spark, work,
        Clustering.lshPlanesFor(n), Clustering.LshTables,
        Clustering.GraphBuildCap)
      graph.select(col("xi"), col("rnk").as("rank"), col("yi"))
        .write.mode("overwrite").parquet(graphPath)
      orphans.write.mode("overwrite").parquet(orphPath)
    }
    val ids = Tables.labeledPoints(spark, work)
    val n = ids.count().toDouble
    val graph = spark.read.parquet(graphPath)
    val orphans = spark.read.parquet(orphPath)
    val rows = (1 to 5).flatMap { rank =>
      val (t, stats) = timed {
        val comp = Clustering.mutualComponents(ids, graph, rank,
          orphans = Some(orphans)).localCheckpoint(eager = true)
        val r = comp
          .groupBy(col("component"))
          .agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)), max(col("sz")),
            sum(when(col("sz") === 1, 1L).otherwise(0L)))
          .collect()(0)
        val ck = comp.agg(sum(pmod(
            xxhash64(col("id"), col("component")), lit(1000000L))))
          .collect()(0).getLong(0)
        (r.getLong(0), r.getLong(1), r.getLong(2), ck)
      }
      Seq(s"s13rank${rank}_components" -> stats._1.toDouble,
        s"s13rank${rank}_max_size" -> stats._2.toDouble,
        s"s13rank${rank}_singleton_share" -> stats._3 / n,
        s"s13rank${rank}_partition_checksum" -> stats._4.toDouble,
        s"s13rank${rank}_closure_sec" -> t)
    }
    Seq("s13rank_graph_build" -> tGraph) ++ rows
  }

  /** (rand, ari) agreement of two labelings joined as (`a`, `b`)
    * columns — contingency COUNTS only (three grouped aggregates),
    * never a pair enumeration.
    */
  private def randAri(joint: DataFrame, a: String,
      b: String): (Double, Double) = {
    def c2(cnt: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (cnt * (cnt - 1) / 2).cast("double")
    def sumPairs(keys: String*): Double =
      joint.groupBy(keys.map(col): _*).agg(count(lit(1)).as("m"))
        .agg(coalesce(sum(c2(col("m"))), lit(0.0)))
        .collect()(0).getDouble(0)
    val nTot = joint.count().toDouble
    val sumAb = sumPairs(a, b)
    val sumA = sumPairs(a)
    val sumB = sumPairs(b)
    val totPairs = nTot * (nTot - 1) / 2
    val rand = (totPairs + 2 * sumAb - sumA - sumB) / totPairs
    val expAb = sumA * sumB / totPairs
    val ari = if ((sumA + sumB) / 2 == expAb) 1.0
      else (sumAb - expAb) / ((sumA + sumB) / 2 - expAb)
    (rand, ari)
  }

  /** d11 lexical-store staleness (VERDICT r18 next-6 — the graph
    * store's staleness protocol shape on the signature store), at
    * 12/25/50% arriving. The store is build-once /
    * serve-forever and serving never mutates it, so the lexical
    * analogue of the graph family's chain breaks is arrival↔arrival
    * duplication the frozen base cannot link: two arriving near-dups
    * of each other with no base-side member each label themselves, and
    * a duplication chain threaded through arrivals fragments at every
    * missing link. Per fraction: build the store on the (100−pct)%
    * hash-holdout base, serve the arriving pct in ONE pass (batches
    * compose exactly over an immutable store — the spec-pinned
    * store-stability law — so sequential batching cannot change the
    * answer, unlike the graph store's state-mutating appends), then
    * compare [base groups ∪ arrival labels] against the full-corpus
    * closure a fresh rebuild would store.
    */
  private def d11StaleCompare(spark: SparkSession,
      work: String): Seq[(String, Double)] = {
    import graft.functions.{Dedup, Similarity}
    val docs = Tables.documents(spark, work)
      .select(col("doc_id"), col("text"))
    val freshPath = s"${Similarity.artifactRoot(work)}/d11_stale_fresh"
    val (tFresh, _) = timed {
      Dedup.dedupGroupsOf(docs).write.mode("overwrite").parquet(freshPath)
    }
    val fresh = spark.read.parquet(freshPath)
      .select(col("doc_id"), col("group_id").as("fresh_g"))
    val nFreshComp = fresh.select(col("fresh_g")).distinct().count()
    val rows = Seq(12, 25, 50).flatMap { pct =>
      val arrF = pmod(xxhash64(col("doc_id"), lit("d11stale")),
        lit(100L)) < lit(pct.toLong)
      val path = s"${Similarity.artifactRoot(work)}/d11_stale$pct"
      val (tBuild, _) = timed(
        Dedup.writeDedupIndexOf(spark, docs.where(!arrF), path))
      val arrivals = docs.where(arrF)
      // the BACKFILL serve plan (broadcastDelta = false): a 12–50%
      // arrival fraction is corpus-scaled, and the daily-batch plan's
      // forced delta broadcasts die at spark.driver.maxResultSize
      // collecting it (measured at x1000) — exactly the backfill
      // boundary `scale_d11bucket.json` §r14 priced
      val served = Dedup.assignFrom(spark, work,
          spark.read.parquet(s"$path/bands"),
          spark.read.parquet(s"$path/groups"), arrivals,
          broadcastDelta = false)
        .select(col("doc_id"), col("group_id")).persist()
      val (tServe, _) = timed(served.count())
      val stale = spark.read.parquet(s"$path/groups")
        .select(col("doc_id"), col("group_id"))
        .unionByName(served)
        .select(col("doc_id"), col("group_id").as("stale_g"))
      val joint = stale.join(fresh, "doc_id").persist()
      val (rand, ari) = randAri(joint, "stale_g", "fresh_g")
      val nStaleComp = joint.select(col("stale_g")).distinct().count()
      joint.unpersist(); served.unpersist()
      // the backfill-vs-rebuild comparison, printed per run (VERDICT
      // r19 next-4): serving this fraction through the frozen store
      // vs the fresh full-corpus rebuild measured above. > 1 means
      // the store operator is past the cadence crossover (the
      // assignFrom scaladoc rule: ≈ 15% of corpus mass) and should
      // rebuild instead of serving the backlog.
      val serveOverRebuild = if (tFresh > 0.0) tServe / tFresh else 0.0
      if (serveOverRebuild > 1.0)
        System.err.println(f"[graft] d11stale$pct: serving the " +
          f"backlog cost $tServe%.1f s vs $tFresh%.1f s for a fresh " +
          "rebuild — past the backfill-vs-rebuild crossover, " +
          "REBUILD NOW")
      Seq(s"d11stale${pct}_rand" -> rand,
        s"d11stale${pct}_ari" -> ari,
        s"d11stale${pct}_components" -> nStaleComp.toDouble,
        s"d11stale${pct}_base_build_sec" -> tBuild,
        s"d11stale${pct}_serve_sec" -> tServe,
        s"d11stale${pct}_serve_over_rebuild" -> serveOverRebuild)
    }
    Seq("d11stale_fresh_build_sec" -> tFresh,
      "d11stale_fresh_components" -> nFreshComp.toDouble) ++ rows
  }

  /** What a case measures over: the session, the unscaled source, the
    * work root, the scaled dir under it, and the multiplier.
    */
  private[graft] final case class Scaled(spark: SparkSession, src: String,
      root: String, work: String, mult: Int)

  /** One named case: the `metric` its record carries, its default record
    * file, the fact tables it materializes (`None`: every table), and the
    * measurement, which returns the record's fields between `unit` and
    * `src` as raw JSON.
    */
  private[graft] final case class Case(metric: String, file: String,
      tables: Option[Set[String]], run: Scaled => Seq[(String, String)])

  /** A comparison case: its record carries the measured map as `queries`. */
  private def curve(metric: String, file: String,
      tables: Option[Set[String]])(f: Scaled => Seq[(String, Double)]) =
    Case(metric, file, tables, x => Seq("queries" -> json(f(x).map {
      case (k, v) => k -> fmt(v) })))

  private val embeddingsOnly = Some(Set("embeddings"))
  private val documentsOnly = Some(Set("documents"))

  /** The comparison cases by name. A case is kept while a scaladoc
    * outside this file cites a record it wrote, so every such record
    * stays reproducible; SCALE.md's retired-case table lists the records
    * of the deleted cases and the commit that wrote each one.
    */
  private[graft] val cases: Map[String, Case] = Map(
    "connlsh" -> curve("connlsh_layout", "scale_connlsh.json", None)(
      x => connLshCompare(x.spark, x.work)),
    "ivfauto" -> curve("ivfauto_curve", "scale_ivfauto.json", None)(
      x => ivfAutoCompare(x.spark, x.work)),
    "layout" -> curve("layout_probe", "scale_layout.json", embeddingsOnly)(
      x => layoutProbe(x.spark, x.work)),
    "pq" -> curve("pq_curve", "scale_pq.json", None)(
      x => pqCompare(x.spark, x.work)),
    "pqdisk" -> curve("pqdisk", "scale_pqdisk.json", None)(
      x => pqDiskCompare(x.spark, x.work)),
    "trunc" -> curve("trunc_curve", "scale_trunc.json", embeddingsOnly)(
      x => truncCompare(x.spark, x.work)),
    "d11bucket" -> curve("d11_bucket_compare", "scale_d11bucket.json",
      documentsOnly)(x => d11BucketCompare(x.spark, x.work)),
    "d11stale" -> curve("d11_staleness", "scale_d11stale.json",
      documentsOnly)(x => d11StaleCompare(x.spark, x.work)),
    // m1 reads labeledPoints, which derive from the embeddings fact
    "m1part" -> curve("m1_partition_compare", "scale_m1part.json",
      embeddingsOnly)(x => m1PartitionCompare(x.spark, x.work, x.mult)),
    "s13rank" -> curve("s13_rank_table", "scale_s13rank.json",
      embeddingsOnly)(x => s13RankCompare(x.spark, x.work)),
    "s14bucket" -> curve("s14_bucket_compare", "scale_s14bucket.json",
      embeddingsOnly)(x => s14BucketCompare(x.spark, x.work)))

  /** mm10: the scaled fixture replicates container params verbatim, so
    * in-bucket pair verification goes quadratic at x100 (SCALE.md §R8).
    * `linear` drops these, and so does `full` from ×100 up — a `full` run
    * at x100 would otherwise hang on them (their measured mitigations
    * c19→LSH-fed and mm10→mm10b stay in).
    */
  private val quadraticCompute = Set("c19_conn_topk", "mm10_audio_neardup")

  /** The positional arguments, each checked before any Spark work. */
  private[graft] final case class Args(src: String, mult: Int,
      root: String, perturb: String, bench: Case) {
    def work: String = s"$root/x$mult" + (if (perturb == "indep") "i" else "")
    /** The indep fixture gets its OWN default record file — without this
      * an indep run would clobber the eps-decade record (the
      * commit-2369f0b incident class).
      */
    def outFile: String =
      if (perturb == "indep") bench.file.stripSuffix(".json") + "_indep.json"
      else bench.file
  }

  private[graft] def parse(args: Array[String]): Args = {
    def arg(i: Int, default: String) = args.lift(i).getOrElse(default)
    val multRaw = arg(1, "10")
    val mult = multRaw.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"mult must be a positive whole number, got '$multRaw'"))
    val name = arg(3, "full")
    val perturb = arg(4, "eps")
    require(perturb == "eps" || perturb == "indep",
      s"unknown perturbation '$perturb'; valid: eps, indep")
    val bench = cases.getOrElse(name, querySetCase(name, mult))
    Args(arg(0, "/root/testdata/sf0.1"), mult, arg(2, "/tmp/graft_scale"),
      perturb, bench)
  }

  /** The query-set runs, which write a `scale_total` record. An
    * explicit list (`only:`/`onlye:`) leaves the quadratic-compute risk
    * to the caller; `onlye:` materializes only the documents and
    * embeddings facts, for doc/vector-only sets at multipliers where
    * scaling the relational facts would dwarf the run.
    */
  private def querySetCase(name: String, mult: Int): Case = {
    val explicit = name.startsWith("only:") || name.startsWith("onlye:")
    val set =
      if (explicit) {
        val names = name.dropWhile(_ != ':').drop(1).split(",").toSeq
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown query ${unknown.mkString(", ")}")
        names
      } else if (name == "linear" || (name == "full" && mult >= 100))
        scaleSet.filterNot(quadraticCompute)
      else if (name == "full") scaleSet
      else throw new IllegalArgumentException(s"unknown case '$name'; " +
        "valid: " + (cases.keys.toSeq.sorted ++ Seq("full", "linear",
          "only:<query,...>", "onlye:<query,...>")).mkString(", "))
    if (name == "full" && mult >= 100)
      System.err.println(s"[scale] mult=$mult: dropping " +
        quadraticCompute.mkString(", ") + " (quadratic compute)")
    Case("scale_total", "scale_out.json",
      if (name.startsWith("onlye:")) Some(Set("documents", "embeddings"))
      else None,
      x => querySweep(x, set, explicit))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val spark = graft.core.GraftSession.local("graft-scale", 32)
    try run(spark, a, sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", a.outFile))
    finally spark.stop()
  }

  /** Materializes the case's facts, runs it, and writes its one-line
    * record to stdout and to `out`.
    */
  private[graft] def run(spark: SparkSession, a: Args, out: String): Unit = {
    materialize(spark, a.src, a.mult, a.work, a.bench.tables, a.perturb)
    val line = json(Seq("metric" -> str(a.bench.metric),
      "mult" -> a.mult.toString, "unit" -> str("sec")) ++
      a.bench.run(Scaled(spark, a.src, a.root, a.work, a.mult)) :+
      ("src" -> str(a.src)))
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def str(s: String): String = "\"" + s + "\""
  private def json(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** Times each query of `set` once through the noop sink after one
    * untimed warmup, plus the artifact builds its serving rows read.
    */
  private def querySweep(x: Scaled, set: Seq[String],
      explicit: Boolean): Seq[(String, String)] = {
    val Scaled(spark, src, root, work, mult) = x
    // count only the tables this run materialized (`onlye:` skips the
    // relational facts — counting them would fail on the missing paths)
    val rows = factTables
      .filter(t => new java.io.File(s"$work/$t.parquet", "_SUCCESS").exists())
      .map(t => t -> Tables.table(spark, work, t).count())

    // free disk under the work volume, GB — logged around every timed
    // row at the third decade (VERDICT r16 next-7: the x1000 serve
    // failure was detected as spill death with 6.7 GB of artifacts
    // resident; the record must let a quadratic-join wall and a plain
    // disk-exhaustion wall be told apart)
    val diskRows = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    def logDisk(key: String, what: String): Unit = if (mult >= 1000) {
      val free = new java.io.File(root).getUsableSpace / 1e9
      diskRows += (key -> free)
      System.err.println(f"[scale] disk free $what: $free%.1f GB")
    }
    val s14Build = Bench.build("s14_index_build")
    // the warm pass rides timeOne too — label its disk rows apart so
    // the timed row's before/after keys stay unique in the record
    var warming = true
    def timeOne(name: String, dir: String = work): Double = {
      val tag = if (warming) s"warm_$name" else name
      logDisk(s"${tag}_disk_free_gb_before", s"before $tag")
      val t0 = System.nanoTime()
      // s12's registered face pins the oracle's 4×8 layout; the decade
      // row times the production auto-layout build (the c21/connlsh
      // split — a fixed layout is Θ(n²) in candidates at scale)
      try (name match {
        case "s12_knn_graph" =>
          graft.operators.Clustering.s12KnnGraphAuto(spark, dir)
        case "s13_graph_clusters" =>
          graft.operators.Clustering.s13GraphClustersAuto(spark, dir)
        case "p14_semantic_budget" =>
          graft.functions.Curation.semanticBudget(
            Tables.documents(spark, dir),
            graft.operators.Clustering.s13GraphClustersAuto(spark, dir)
              .select(col("id"), col("component")))
        case "s14_graph_assign" =>
          // serve-only: the s14_index_build row pre-built the full
          // auto-layout store; this prices labeling a 1/8 batch
          graft.operators.Clustering.assignFromGraphIndex(
            Tables.labeledPoints(spark, dir)
              .select(col("id"), col("features"))
              .where(pmod(col("id"),
                lit(graft.operators.Clustering.S14Mod)) ===
                lit(graft.operators.Clustering.S14Res)),
            s14Build.path(dir))
        case _ => SparkEntry.queries(name)(spark, dir)
      }).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[scale] $name failed: ${e.getMessage}")
        logDisk(s"${tag}_disk_free_gb_after", s"after FAILED $tag")
        return -1.0
      }
      logDisk(s"${tag}_disk_free_gb_after", s"after $tag")
      (System.nanoTime() - t0) / 1e9
    }

    // warmup: JIT + codegen (+ page cache at the small multipliers);
    // an explicit-list run at the big multipliers warms against the
    // UNSCALED source instead — the point is hot code paths, not a
    // free second decade run (an s12 warmup at x1000 would cost about
    // as much as the timed row itself). Artifact-backed rows (serve
    // faces reading a store their build row writes) would silently
    // no-op against the unscaled src, leaving the timed row carrying
    // JIT cost (ADVICE r15) — warm with the first NON-artifact query
    // in the set, pre-building the src store only when the whole set
    // is artifact-backed, and LOG a failed warm pass either way
    val warmT =
      if (explicit && mult >= 100) {
        val w = set.find(_ != s14Build.servedBy).getOrElse {
          s14Build.run(spark, src)
          set.head
        }
        timeOne(w, src)
      } else timeOne(set.head)
    warming = false
    if (warmT < 0)
      System.err.println(
        "[scale] WARMUP PASS FAILED — timed rows may carry JIT/codegen cost")
    // artifact-backed rows: build each store BEFORE its serving query is
    // timed (the graft.Bench build-row discipline), so the decade rows
    // separate the once-per-corpus build from the per-batch serve; s14's
    // per-phase wall clock joins the record (VERDICT r17 next-4: name
    // the phase carrying the build's above-linear residual)
    val buildPhases = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val buildRows = Bench.builds.filter(b => set.contains(b.servedBy)).map { b =>
      logDisk(s"${b.name}_disk_free_gb_before", s"before ${b.name}")
      val (t, phases) = timed(b.run(spark, work))
      logDisk(s"${b.name}_disk_free_gb_after", s"after ${b.name}")
      buildPhases ++= phases.map { case (k, v) =>
        s"${b.name.takeWhile(_ != '_')}_build_$k" -> v }
      b.name -> t
    }
    val timedSet = set.map(n => n -> timeOne(n)) ++ buildRows
    // VERDICT r9 §next-8: the m1 partition-scaling mitigation (8·mult
    // partitions holds per-partition size constant — O(n·nᵤ) instead of
    // the reference-pinned 8-partition O(Σnᵤ²)) re-measured in EVERY
    // decade refresh, so scale_out/scale_x100 always carry the mitigated
    // row next to the reference-pinned m1_mopso_archive
    val results =
      (if (set.contains("m1_mopso_archive"))
        timedSet :+ ("m1_mopso_archive_scaledparts" ->
          m1TimeRun(spark, work, 8 * mult))
      else timedSet) ++ buildPhases ++ diskRows
    Seq("value" -> fmt(results.map(_._2).filter(_ >= 0).sum),
      "queries" -> json(results.map { case (k, v) => k -> fmt(v) }),
      "rows" -> json(rows.sortBy(_._1).map { case (k, v) => k -> v.toString }))
  }
}
