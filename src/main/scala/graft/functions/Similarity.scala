package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{ArtifactCache, ConcurrentLeg, Linalg}
import graft.operators.Clustering
import graft.sources.Tables
import graft.streaming.MicroBatch

/** Similarity search over the embedding column (builder brief): exact
  * brute-force cosine top-k as the correctness baseline, sign-LSH
  * bucketing, and an IVF-style cell-probed ANN as the scale path.
  *
  * Scale shape: brute force is O(Q·N) per query batch — fine for small Q,
  * a non-starter for all-pairs at 100 TB. The IVF variant prunes the
  * candidate set to one coarse cell (here ~N/K vectors), turning the probe
  * into a broadcast of Q query vectors against a cluster-pruned scan; the
  * LSH variant buckets by hyperplane signs so candidates co-locate in one
  * shuffle. Recall is traded for the pruning — the baseline (s1) is the
  * ground truth the approximate variants are measured against.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  val NumPlanes = 16

  def queries: Map[String, Q] = Map(
    "s1_cosine_topk" -> s1CosineTopk,
    "s2_lsh_buckets" -> s2LshBuckets,
    "s3_ann_ivf" -> s3AnnIvf,
    "s4_embedding_neardup" -> s4EmbeddingNeardup,
    "s5_ann_recall" -> s5AnnRecall,
    "s6_quant_recall" -> s6QuantRecall,
    "s7_ann_ivf_auto" -> s7AnnIvfAuto,
    "s11_ann_filtered" -> s11AnnFiltered,
    "s8_ann_pq" -> s8AnnPq,
    "s9_ann_ivfadc" -> s9AnnIvfAdc,
    "s10_ann_truncated" -> s10AnnTruncated,
    "s10b_ann_rotated" -> s10bAnnRotated
  )

  /** Root for persisted serving artifacts, keyed by the fixture dir's
    * basename PLUS a short hash of its canonical path so two distinct
    * dirs sharing a basename can't collide (ADVICE r12). The root
    * itself is overridable — `graft.artifacts.root` system property
    * first (per-JVM: the test harness points it at a temp dir so sbt
    * suites can never clobber a concurrently-running driver gate),
    * then `SPARK_GRAFT_ARTIFACTS`, else the gitignored in-repo default
    * (the only writable root the driver guarantees). The artifacts are
    * BUILT BY the query, the way a production index build precedes
    * serving.
    */
  private[graft] def artifactRoot(dir: String): String = {
    val root = sys.props.get("graft.artifacts.root")
      .orElse(sys.env.get("SPARK_GRAFT_ARTIFACTS"))
      .getOrElse("/root/repo/artifacts")
    val canonical = new java.io.File(dir).getCanonicalPath
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    s"$root/${new java.io.File(dir).getName}-$h"
  }

  /** The fixture dir the dumped oracle SQL should replay against —
    * [[graft.Verify]] sets `graft.oracle.dir` to its sfDir argument
    * before dumping, so oracle `read_parquet` paths always point at the
    * artifact THE SAME RUN's queries just wrote (ADVICE r12: a verify
    * run at any SF now reads its own artifacts, never a stale sf0.01
    * one). Default = the driver gate's SF.
    */
  private[graft] def oracleDir: String =
    sys.props.getOrElse("graft.oracle.dir", "/root/testdata/sf0.01")

  /** s9: the IVFADC serving composition at its recall-derived settings
    * (nprobe = [[ivfProbesFor]], rerank = [[pqRerankFor]] — the 50
    * floor at fixture scale, spec-pinned), SERVED FROM THE PERSISTED
    * INDEX: the query builds the three-table parquet index
    * ([[writeIvfAdcIndex]] — trained coarse + residual codebooks, the
    * stochastic part) and then runs the pure serving plan over it.
    * Training is not SQL-replayable, but serving is — the DuckDB
    * oracle reads the SAME parquet tables and replays probe → residual
    * LUT → ADC → exact rerank with every float expression in the
    * identical association order (the s8 discipline), deriving nlist /
    * nprobe / rerank from the index itself. The r11 `no_oracle` row is
    * thus closed: the trained artifact is pinned by PqSpec, the whole
    * serving path by the cross-engine hash.
    */
  def s9AnnIvfAdc: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val n = e.count()
    val nlist = ivfCellsFor(n)
    val np = ivfProbesFor(nlist)
    val idx = s"${artifactRoot(dir)}/ivfadc"
    writeIvfAdcIndex(s, dir, idx)
    serveIvfAdcFromIndex(s, dir, idx,
      e.where(col("vec_id") < 5).select(col("vec_id"), col("features")),
      np, rerank = pqRerankFor(n, nlist, np))
      .orderBy(col("qid"), col("rank"))
  }

  /** Plane count for the near-dup bucketing — coarser than [[NumPlanes]]
    * so genuinely-similar vectors still collide.
    */
  val NearDupPlanes = 8
  val NearDupCosine = 0.3

  /** Exact brute-force cosine top-5 for query vectors vec_id < 5:
    * (qid, rank, nid, cos). The dot/norm kernel is zip_with+aggregate —
    * codegen'd, no UDF.
    */
  def s1CosineTopk: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("features").as("qv"))
    val c = e.select(col("vec_id").as("nid"), col("features").as("nv"))
    topKPerQuery(q.crossJoin(c)
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Linalg.cosineCol(col("qv"), col("nv")).as("cos")),
      col("cos").desc, 5)
      .select(col("qid"), col("rank"), col("nid"),
        round(col("cos"), 4).as("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The per-query top-k every ranking here shares: numbers each
    * query's rows 1, 2, … in `rankAs` by `key`, ties toward the lower
    * `nid`, and keeps the first `k`. A query is its `qid` unless `by`
    * names other partition columns (the probe settings rank per
    * (np, qid)).
    */
  private[graft] def topKPerQuery(rows: DataFrame, key: Column, k: Int,
      by: Seq[Column] = Seq(col("qid")),
      rankAs: String = "rank"): DataFrame =
    rows.withColumn(rankAs, row_number().over(
        Window.partitionBy(by: _*).orderBy(key, col("nid"))))
      .where(col(rankAs) <= k)

  /** Exact euclidean top-5 of the queries (qid, qv) among the corpus
    * (nid, nv): (qid, nid). The brute-force denominator every recall
    * measurement divides by.
    */
  private def exactTop5(q: DataFrame, c: DataFrame): DataFrame =
    euclidTop5(q.crossJoin(c)).select(col("qid"), col("nid"))

  /** The top 5 per query by euclidean distance among candidate (qid, qv,
    * nid, nv) pairs, a query never its own neighbor: (qid, nid, dist,
    * rank).
    */
  private def euclidTop5(pairs: DataFrame): DataFrame =
    topKPerQuery(pairs
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Linalg.euclidCol(col("qv"), col("nv")).as("dist")),
      col("dist"), 5)

  /** Matryoshka-style truncated-prefix shortlist width: stage 1 ranks on
    * the first [[TruncDim]] of [[Dim]] dimensions only.
    */
  val TruncDim = 16
  /** Shortlist depth fetched per query before the full-dim rerank. */
  val TruncShortlist = 40

  /** s10: two-stage truncated-dimension ANN (the Matryoshka serving
    * shape). Stage 1 shortlists [[TruncShortlist]] candidates per query
    * by cosine over ONLY the first [[TruncDim]] of [[Dim]] dims; stage 2
    * fetches the shortlist's full vectors and reranks exactly. Same
    * output shape as s1 (qid, rank, nid, cos) so recall against the
    * exact answer is directly measurable (ScaleBench records the
    * recall-vs-TruncDim curve across decades).
    *
    * 100 TB shape: the scan side of stage 1 touches TruncDim/Dim of the
    * vector bytes (here 1/4) — on a petabyte of embeddings that is the
    * difference between the index fitting in cluster memory or not, and
    * the prefix slice prunes at the PARQUET reader when the truncated
    * prefix is stored as its own column. Stage 2 touches full vectors
    * for only Q·Shortlist rows, fetched by broadcasting the (tiny)
    * shortlist against one scan — no second O(N) distance pass. The
    * brute shortlist here is the verification face; at scale stage 1
    * runs inside the IVF cells (s7) over truncated vectors, composing
    * orthogonally with PQ (s8/s9) which compresses within the kept dims.
    */
  def s10AnnTruncated: Q = (s, dir) =>
    truncatedTopK(Tables.embeddings(s, dir), TruncDim, TruncShortlist)
      .select(col("qid"), col("rank"), col("nid"),
        round(col("cos"), 4).as("cos"))
      .orderBy(col("qid"), col("rank"))

  /** The parametrized s10 kernel (spec + ScaleBench sweep truncDim /
    * shortlistN over it): (qid, rank, nid, cos) for the `nQ` query
    * vectors, exact-reranked from a truncated-prefix shortlist.
    */
  private[graft] def truncatedTopK(e: DataFrame, truncDim: Int,
      shortlistN: Int, k: Int = 5, nQ: Int = 5): DataFrame = {
    val full = e.select(col("vec_id"), col("features"))
    val trunc = full.select(col("vec_id"),
      slice(col("features"), 1, truncDim).as("tv"))
    shortlistRerank(full, trunc, shortlistN, k, nQ)
  }

  /** The shared two-stage chain: shortlist by cosine over the truncated
    * representation `trunc` = (vec_id, tv) — prefix slice (s10) or
    * learned-rotation projection (s10b), the metric is the SAME:
    * cosine over the kept coordinates — then exact full-dim rerank.
    */
  private[graft] def shortlistRerank(full: DataFrame, trunc: DataFrame,
      shortlistN: Int, k: Int = 5, nQ: Int = 5): DataFrame =
    shortlistRerankOver(full, trunc,
      trunc.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("tv").as("qtv")),
      full.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("features").as("qv")),
      shortlistN, k)

  /** The explicit-query form (streaming serving reuses it per
    * micro-batch): `qtrunc` = (qid, qtv) truncated queries, `qFull` =
    * (qid, qv) their full vectors. Corpus rows with nid == qid are
    * excluded so corpus-sampled queries behave like
    * [[shortlistRerank]]'s.
    */
  private[graft] def shortlistRerankOver(full: DataFrame,
      trunc: DataFrame, qtrunc: DataFrame, qFull: DataFrame,
      shortlistN: Int, k: Int = 5): DataFrame = {
    val shortlist = topKPerQuery(qtrunc
      .crossJoin(trunc.select(col("vec_id").as("nid"), col("tv").as("ntv")))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Linalg.cosineCol(col("qtv"), col("ntv")).as("tcos")),
      col("tcos").desc, shortlistN, rankAs = "srank")
      .select(col("qid"), col("nid"))
    // fetch full vectors for shortlist members only: broadcast the
    // Q×Shortlist pair list against ONE scan of the vector table
    val fetched = full
      .join(broadcast(shortlist), col("vec_id") === col("nid"))
      .select(col("qid"), col("nid"), col("features").as("nv"))
    topKPerQuery(fetched.join(broadcast(qFull), "qid")
      .select(col("qid"), col("nid"),
        Linalg.cosineCol(col("qv"), col("nv")).as("cos")),
      col("cos").desc, k)
  }

  /** s10b: LEARNED-rotation truncation — the OPQ-style answer to s10's
    * honest weakness. On embeddings whose variance is spread evenly
    * across dimensions (this fixture's are near-iid), a raw prefix
    * keeps only TruncDim/Dim of the signal and s10's recall decays
    * proportionally. The fix a production pipeline applies is a
    * learned rotation first: fit PCA once, persist the TruncDim×Dim
    * rotation as a parquet artifact (the model-as-a-table discipline —
    * p7/s9), project every vector through it, and run EXACTLY s10's
    * chain in the rotated basis — stage 1 is cosine over the kept
    * coordinates either way; only the basis differs (measured at the
    * shared 16-dim budget: prefix 0.44 → rotated 0.68 at sf0.001,
    * 0.60 → 0.76 at sf0.01). The DuckDB oracle replays projection →
    * shortlist → rerank from the SAME parquet artifact.
    *
    * The artifact also carries each component's explained-variance
    * share: Σevr over the kept dims vs the no-structure baseline
    * TruncDim/Dim is the build-time statistic that says whether the
    * rotation is worth serving (0.376 vs 0.25 on this fixture → yes;
    * on a flat-spectrum corpus like the indep scale fixture it reads
    * ~0.29 and the rotation measures at parity with the prefix —
    * `scale_trunc_indep.json`). The calibration-not-constants rule,
    * rotation edition.
    *
    * 100 TB shape: identical to s10 (quarter-width stage-1 scan, tiny
    * broadcast fetch, no second O(N) pass) plus one 64×16 broadcast
    * matrix; the rotation fit touches the corpus once for a 64×64 Gram
    * matrix — map-side partials into one driver-sized eigenproblem.
    * Projection uses the native codegen dot Expression per kept dim;
    * at scale the projected prefix is stored as its own column
    * (write once at ingest), so serving never re-projects the corpus.
    */
  def s10bAnnRotated: Q = (s, dir) => {
    val path = s"${artifactRoot(dir)}/s10_rotation"
    writeRotation(s, dir, path)
    serveRotated(s, dir, path)
  }

  /** The serving face of s10b against an ALREADY-persisted rotation —
    * split out so ScaleBench can price fit and serve separately (the
    * p7/s9 build/serve discipline).
    */
  private[graft] def serveRotated(s: SparkSession, dir: String,
      path: String): DataFrame = {
    val full = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("features"))
    shortlistRerank(full,
      full.select(col("vec_id"),
        projectionCol(s, path, col("features")).as("tv")),
      TruncShortlist)
      .select(col("qid"), col("rank"), col("nid"),
        round(col("cos"), 4).as("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The persisted rotation as a projection column: array of native
    * codegen dot products against the TruncDim component rows
    * (collected once — 16×64 doubles, broadcast-sized by construction).
    */
  private def projectionCol(s: SparkSession, path: String,
      v: Column): Column = {
    val w = s.read.parquet(path)
      .select(col("j"), col("w")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    array(w.map { case (_, wj) =>
      Linalg.dotCol(v, typedlit(wj.toSeq))
    }: _*)
  }

  /** Fit-and-persist the s10b rotation: the top [[TruncDim]] principal
    * directions of the embedding corpus as rows (j, w[Dim], evr) —
    * evr = that component's explained-variance share, kept in the
    * artifact so serving can judge the rotation's worth (see
    * [[s10bAnnRotated]]). Built by the query before serving,
    * overwritten idempotently (the s9 write discipline).
    */
  private[graft] def writeRotation(s: SparkSession, dir: String,
      path: String): Unit = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.array_to_vector
    val fit = new PCA().setInputCol("fv").setOutputCol("pv")
      .setK(TruncDim)
      .fit(Tables.embeddings(s, dir)
        .select(array_to_vector(col("features")).as("fv")))
    val pc = fit.pc
    val evr = fit.explainedVariance
    import s.implicits._
    (0 until TruncDim)
      .map(j => (j, (0 until Dim).map(i => pc(i, j)).toArray.toSeq,
        evr(j)))
      .toDF("j", "w", "evr")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Rotated ranking over EXPLICIT query vectors (vec_id, features) —
    * the serving face [[serveRotatedStream]] applies per micro-batch:
    * both corpus and arriving queries project through the SAME
    * persisted rotation, then the s10b chain runs unchanged.
    */
  private[graft] def rotatedRankedQueries(s: SparkSession, dir: String,
      path: String, queries: DataFrame): DataFrame = {
    val full = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("features"))
    def projArr(v: Column): Column = projectionCol(s, path, v)
    shortlistRerankOver(full,
      full.select(col("vec_id"), projArr(col("features")).as("tv")),
      queries.select(col("vec_id").as("qid"),
        projArr(col("features")).as("qtv")),
      queries.select(col("vec_id").as("qid"),
        col("features").as("qv")),
      TruncShortlist)
      .select(col("qid"), col("rank"), col("nid"),
        round(col("cos"), 4).as("cos"))
  }

  /** Streaming serving twin of s10b (the serveAnnStream /
    * serveIvfAdcStream discipline): arriving query vectors are ranked
    * per micro-batch through the frozen persisted rotation — build
    * once, serve forever; appends to the corpus are visible to the
    * next micro-batch because the corpus is re-scanned per batch.
    */
  def serveRotatedStream(queries: DataFrame, dir: String, path: String)(
      sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    MicroBatch.serve(queries)(b =>
      rotatedRankedQueries(b.sparkSession, dir, path, b))(sink)

  /** Sign-LSH bucket per vector: bit i = [dot(v, plane_i) > 0] with the
    * first [[NumPlanes]] embeddings as (deterministic, data-derived)
    * hyperplanes. Vectors sharing a bucket are near-duplicate candidates —
    * the embedding-cosine leg of the dedup pipeline.
    */
  private[graft] def bucketExpr(s: SparkSession, dir: String, numPlanes: Int) = {
    // vec_id order == bit order (vec_ids 0..numPlanes-1 are all present),
    // so the shared sign fold assigns the same bit per plane
    val planes: Seq[Array[Double]] = Tables.embeddings(s, dir)
      .filter(col("vec_id") < numPlanes)
      .select(col("vec_id"), col("features"))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2).toSeq
    Linalg.signBucketCol(col("features"), planes)
  }

  def s2LshBuckets: Q = (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("vec_id"), bucketExpr(s, dir, NumPlanes).as("bucket"))
      .orderBy(col("vec_id"))

  /** Embedding-cosine near-duplicate pairs — the vector leg of the dedup
    * pipeline: bucket by [[NearDupPlanes]] hyperplane signs (coarse), then
    * verify cosine INSIDE buckets only. The verify join touches bucket
    *-mates, never all pairs; at 100 TB the bucket id is the shuffle key
    * and per-bucket candidate lists stay small.
    */
  def s4EmbeddingNeardup: Q = (s, dir) =>
    nearDupPairs(s, dir)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
      .orderBy(col("vec_a"), col("vec_b"))

  /** The verified near-dup candidate pairs behind s4 — also the edge list
    * of the semantic dedup-group query (Dedup d7).
    */
  private[functions] def nearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("features"),
        bucketExpr(s, dir, NearDupPlanes).as("bucket"))
    val x = b.select(col("bucket"), col("vec_id").as("vec_a"),
      col("features").as("fa"))
    val y = b.select(col("bucket"), col("vec_id").as("vec_b"),
      col("features").as("fb"))
    x.join(y, Seq("bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        Linalg.cosineCol(col("fa"), col("fb")).as("cos"))
      .where(col("cos") >= NearDupCosine)
  }

  /** CAPPED-emission near-dup candidate pairs — the d3/mm10b discipline
    * wired into the embedding leg (VERDICT r10 §next-2): the s4/d7
    * bucket layout is FIXED by the cosine threshold's recall needs, so
    * its uncapped candidate mass is quadratic in bucket occupancy
    * (measured 223.0M ordered pairs at x100, 102× for 10× data). Buckets
    * of ≤ [[graft.functions.Dedup.MaxBucket]] ids emit the exact clique;
    * larger buckets emit the clique over their cap smallest vec_ids plus
    * one star edge (bucket min → overflow doc) — O(cap² + n) candidates
    * via the ONE shared [[graft.functions.Dedup.pairsFromBuckets]]
    * implementation, then the cosine verify runs on the capped set with
    * the vectors joined back by id (candidates stay narrow through the
    * shuffle; the uncapped form carries both feature arrays through
    * every bucket-join row). Where every bucket fits the cap the
    * candidate set — and hence the verified pair set — EQUALS the
    * uncapped [[nearDupPairs]] exactly (the fixture case, spec-pinned);
    * an overflowing bucket keeps its docs reachable through the
    * representative star, trading exhaustive in-bucket edges for bounded
    * emission (a star edge still faces the same cosine verify).
    */
  private[functions] def nearDupPairsCapped(s: SparkSession,
      dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val buckets = e
      .select(col("vec_id"), bucketExpr(s, dir, NearDupPlanes).as("bucket"))
      .groupBy(col("bucket"))
      .agg(array_sort(collect_list(col("vec_id"))).as("ids"))
      .where(size(col("ids")) > 1)
    val cand = Dedup.pairsFromBuckets(buckets)
    val va = e.select(col("vec_id").as("doc_a"), col("features").as("fa"))
    val vb = e.select(col("vec_id").as("doc_b"), col("features").as("fb"))
    cand.join(va, Seq("doc_a")).join(vb, Seq("doc_b"))
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"),
        Linalg.cosineCol(col("fa"), col("fb")).as("cos"))
      .where(col("cos") >= NearDupCosine)
  }

  /** IVF-style ANN: vectors are partitioned into K coarse cells (the fixed
    * centroid assignment, Clustering J4); each query probes its `nprobe`
    * NEAREST cells' candidates — (qid, rank, nid) by euclidean distance.
    * Recall < 1 vs s1 by construction and rises with `nprobe` (measured by
    * s5); at scale the cell id becomes the partition key so a probe
    * touches nprobe/K of the data.
    */
  def annIvf(s: SparkSession, dir: String, nprobe: Int): DataFrame =
    probedTopK(s, dir, Seq(nprobe))
      .select(col("qid"), col("rank"), col("nid"))
      .orderBy(col("qid"), col("rank"))

  /** The shared probe machinery behind s3 AND s5's recall measurement —
    * one definition, so the measured index is always the served index.
    * Every nprobe setting probes a PREFIX of the same distance-sorted
    * cell list, so one assignment scan + one candidate join serves any
    * set of settings: queries explode to (np, cell) pairs, candidates
    * join once on the cell id (the pruning), and the top-5 window
    * partitions by (np, qid). Returns (np, qid, rank, nid).
    */
  private def probedTopK(s: SparkSession, dir: String,
      settings: Seq[Int]): DataFrame = {
    import s.implicits._
    val cs = Clustering.centers(s, dir)
    val e = Tables.embeddings(s, dir)
    val assigned = e
      .withColumn("a", Clustering.assignStruct(col("features"), cs))
      .select(col("vec_id").as("nid"), col("features").as("nv"),
        col("a.cluster").as("cell"))
    // the probed cells per query: same literal-centroid sorted struct
    // array as assignStruct, sliced per setting and exploded
    val cellsSorted = array_sort(array(cs.map { case (cid, vec) =>
      struct(
        Linalg.euclidCol(col("qv"), typedlit(vec)).as("dist"),
        lit(cid).as("cluster"))
    }: _*))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("features").as("qv"))
      .crossJoin(settings.toDF("np"))
      .select(col("qid"), col("qv"), col("np"),
        explode(transform(slice(cellsSorted, lit(1), col("np")),
          p => p.getField("cluster"))).as("cell"))
    topKPerQuery(
      probes.join(assigned, Seq("cell")) // equi-join on the cell = the pruning
        .where(col("qid") =!= col("nid"))
        .select(col("np"), col("qid"), col("nid"),
          Linalg.euclidCol(col("qv"), col("nv")).as("dist")),
      col("dist"), 5, by = Seq(col("np"), col("qid")))
      .select(col("np"), col("qid"), col("rank"), col("nid"))
  }

  /** Single-probe face of [[annIvf]] — the cheapest point of the
    * recall/cost curve that s5 measures at nprobe ∈ {1, 5, 10}.
    */
  def s3AnnIvf: Q = (s, dir) => annIvf(s, dir, nprobe = 1)

  /** IVF cell-count rule — the ANN twin of
    * [[graft.operators.Clustering.lshPlanesFor]], closing the same
    * fixed-layout-at-scale trap: a PINNED nlist means per-probe
    * candidate mass is n/nlist, i.e. every probe scans a FIXED FRACTION
    * of the corpus — linear per query no matter how good K=10 looked at
    * fixture size. The standard balance is nlist ≈ √n: per-probe
    * candidates (n/nlist) and the per-query cell ranking (nlist) grow
    * together as √n. Rule: nlist = max(K, ⌊√(n/5)⌋), whose fixed point
    * is the sf0.01 fixture (n = 500 → √100 = exactly [[Clustering.K]]
    * = 10), so [[s7AnnIvfAuto]] equals s3's index there and the s3
    * oracle family is unchanged (spec-pinned).
    */
  def ivfCellsFor(n: Long): Int = {
    require(n > 0, s"ivfCellsFor needs a positive count, got $n")
    math.max(Clustering.K, math.sqrt(n / 5.0).toInt)
  }

  /** s7: the SCALE form of s3 — IVF with the cell count DERIVED from the
    * data ([[ivfCellsFor]] over a cheap count) and the coarse centroids
    * as a broadcast TABLE (the first nlist vectors, the same s2/s3
    * convention) instead of codegen literals, which cap out at tens of
    * centroids. Assignment and probing are both one
    * `crossJoin(broadcast(centroids))` + a min-struct aggregate (dist,
    * cell) — argmin with ties toward the lower cell id, exactly s3's
    * rule — so the whole index replays in SQL and the oracle computes
    * nlist from the same count. At the sf0.01 fixture the derived nlist
    * IS K = 10 and s7's output equals s3's row-for-row (the fixed-point
    * contract, spec-pinned); at 100× the index has √-scaled cells where
    * s3's pinned 10 would make every probe scan 10% of the corpus.
    * Build cost n·nlist = n^1.5 distance evals is the standard IVF
    * build — one embarrassingly parallel pass, amortized over every
    * query the index serves.
    */
  def s7AnnIvfAuto: Q = (s, dir) =>
    annIvfAutoRanked(s, dir, nprobe = 1, qFilter = col("vec_id") < 5)
      .orderBy(col("qid"), col("rank"))

  /** The nprobe COMPANION rule to [[ivfCellsFor]], derived from a
    * RECALL TARGET on measured hard-query curves (r11, replacing the
    * r10 constant-corpus-fraction `nlist / K`, which was linear
    * per-query in candidate mass AND still read under the target —
    * 0.865 at x10 — on boundary-displaced queries):
    *
    *   nprobe = ⌈√nlist⌉
    *
    * The smallest grid rule meeting hard-query recall ≥ 0.9 at every
    * measured decade on the TRAINED quantizer
    * ([[coarseCentroids]] `trained = true`, the production build):
    * scale_ivfauto.json reads 0.942 at x10 (np 8 of nlist 63) and the
    * x100 row at np 15 of nlist 200, where nlist/K reads 0.865/…
    * and a fixed nprobe = 1 reads 0.44 or less. Scale shape: probed
    * corpus fraction = 1/√nlist ∝ n^(−1/4); per-query candidate mass
    * = n/√nlist ∝ n^(3/4) — SUBLINEAR, where the old rule's n/K was
    * linear. The cheap nprobe = 1 point stays the right call for
    * corpus-distributed (easy) queries, which read ≥ 0.99 everywhere;
    * this rule is what a serving workload with boundary queries
    * should inherit.
    */
  def ivfProbesFor(nlist: Int): Int =
    math.max(1, math.ceil(math.sqrt(nlist.toDouble)).toInt)

  /** The recall floor [[ivfProbesCalibrated]] targets — the same 0.9
    * the √nlist rule was derived against on the ε-copy decades.
    */
  val ProbeRecallTarget = 0.9

  /** Probe count CALIBRATED on this corpus's own measured hard-query
    * recall (round 13): the `indep` fixture — copies displaced half an
    * inter-point distance instead of ε — showed the √nlist default is
    * a property of the corpus it was derived on, not of the index
    * (`scale_ivfauto_indep.json`: np8 = √63 reads 0.80/0.82 easy/hard
    * at x10 where the ε decades read ≥ 0.9; 2·√nlist restores
    * 0.91–0.92). No closed-form constant survives every neighbor
    * geometry, so the production rule is MEASUREMENT: at index-build
    * time, walk a doubling nprobe grid from the √nlist floor and take
    * the first setting whose sampled hard-query recall (the
    * [[hardQueries]] boundary regime, one exact denominator for the
    * whole walk) meets `target`. Cost is O(sample·n) once per corpus
    * version — index-build arithmetic, amortized over every query the
    * index ever serves. Falls back to nlist (probe everything) if the
    * target is unreachable.
    */
  private[graft] def ivfProbesCalibrated(s: SparkSession, dir: String,
      target: Double = ProbeRecallTarget,
      step: Long = 0L): Int = {
    val n = Tables.embeddings(s, dir).count()
    val nlist = ivfCellsFor(n)
    val st = if (step > 0) step else math.max(1L, n / 200L)
    val floor = ivfProbesFor(nlist)
    val grid = Iterator.iterate(floor)(_ * 2)
      .takeWhile(_ < nlist).toSeq :+ nlist
    val curve = ivfRecallCurve(s, dir, hardQueries(s, dir, st), grid,
      trained = true)
    curve.find(_._2 >= target).map(_._1).getOrElse(nlist)
  }

  /** Rerank-depth COMPANION rule for the IVFADC composition (r11, from
    * the measured decade curve in scale_pq.json): a PINNED shortlist
    * depth has the same scale trap as every pinned layout — rr50 reads
    * 1.000/0.903 (easy/hard) at x10 where a query scores ≈2.5k ADC
    * candidates, then 0.905/0.578 at x100 where it scores ≈15k: with
    * the codebook resolution fixed (M·log₂Ksub = 32 bits), ADC
    * collisions grow with candidate mass and true neighbors sink below
    * any fixed depth. The rule keeps the shortlist a fixed 1/50 of the
    * per-query candidate mass n·nprobe/nlist (floored at 50):
    *
    *   rerank = max(50, ⌈n·nprobe/(nlist·50)⌉)
    *
    * — ∝ n^(3/4) under the √-scaled nlist/nprobe rules, sublinear like
    * the candidate mass itself, and the exact-rerank leg stays
    * per-query-bounded. Fixed point: the sf0.01 fixture (500·4/(10·50)
    * = 4 → the 50 floor) — s9's oracle-checked serving settings are
    * byte-unchanged (spec-pinned). Measured (scale_pq.json, the rr50 /
    * auto / 2·auto axis per decade): at x100 the rule restores easy
    * recall to 1.000 and hard to 0.975, and DOUBLING it buys +0.005 —
    * the residue is the nprobe pruning ceiling, exactly as the x10 row
    * shows (all three depths read 0.903 there: the shortlist was never
    * the binding knob at small candidate mass).
    */
  def pqRerankFor(n: Long, nlist: Int, nprobe: Int): Int =
    math.max(50, math.ceil(
      n.toDouble * nprobe / (nlist.toDouble * 50.0)).toInt)

  /** The parameterized auto-IVF ranking behind [[s7AnnIvfAuto]] (which
    * pins nprobe = 1 and the vec_id < 5 oracle queries), ScaleBench's
    * `ivfauto` mode, and [[ivfSampledRecall]] — the corpus-query face of
    * [[annIvfAutoRankedQueries]], which also serves OUT-OF-CORPUS query
    * frames (hard-query recall measurement, streaming serving).
    */
  private[graft] def annIvfAutoRanked(s: SparkSession, dir: String,
      nprobe: Int, qFilter: Column): DataFrame =
    annIvfAutoRankedQueries(s, dir, nprobe,
      Tables.embeddings(s, dir).where(qFilter)
        .select(col("vec_id"), col("features")))

  /** Coarse-quantizer centroid table (cell, cv) at the derived nlist.
    *
    * `trained = false` (the s3/s7 oracle convention): the first nlist
    * corpus vectors — fully SQL-replayable, but on a clustered corpus a
    * random data point is ≈ as far from its "centroid" as from any
    * other point (measured mean cell radius ≈ the inter-point distance),
    * so centroid ranking barely predicts member proximity for displaced
    * queries — boundary-query recall needs Ω(nlist) probes (measured in
    * scale_ivfauto.json).
    *
    * `trained = true` (the PRODUCTION quantizer): seeded k-means
    * ([[graft.mopso.Init.kmeansCenters]], centers sorted by first
    * coordinate — deterministic under a fixed seed), the standard IVF
    * coarse quantizer. Cells become actual density regions, so the
    * nprobe that meets a recall target is measured √-shaped instead of
    * Ω(nlist). Stochastic-but-seeded like m1: pinned by specs, not a
    * DuckDB oracle — which is exactly why the oracle-checked s3/s7
    * family keeps the first-vectors convention. Centers are memoized
    * per (dir, nlist) in the JVM (the Bpe.trained discipline): an index
    * build is amortized over every query it serves, and the recall
    * curve must measure ONE index, not one per setting.
    */
  private[graft] def coarseCentroids(s: SparkSession, dir: String,
      nlist: Int, trained: Boolean): DataFrame = {
    val e = Tables.embeddings(s, dir)
    if (!trained)
      e.where(col("vec_id") < nlist)
        .select((col("vec_id") + 1).cast("int").as("cell"),
          col("features").as("cv"))
    else coarseCentroidsOf(s, e, nlist, dir)
  }

  /** The trained coarse quantizer over an EXPLICIT corpus frame —
    * the [[coarseCentroids]] face the incremental-maintenance path
    * needs (an index trained on the BASE corpus only, before arrivals
    * exist). `key` scopes the per-JVM memo: pass the fixture dir for
    * the corpus-of-record, a build-path-unique key for subset builds.
    */
  private[graft] def coarseCentroidsOf(s: SparkSession, corpus: DataFrame,
      nlist: Int, key: String): DataFrame = {
    import s.implicits._
    val arr = ArtifactCache(key, "ivfadc", ("coarse", nlist)) {
      graft.mopso.Init.kmeansCenters(
        corpus.select(col("features")), nlist, maxIter = 20, seed = 42L)
    }
    arr.zipWithIndex
      .map { case (c, i) => (i + 1, c.toSeq) }.toSeq
      .toDF("cell", "cv")
  }

  /** Nearest cells of `cents` per vector of `in` — (idAs, cell, vecAs)
    * rows, one per (vector, probed cell): min (assignment, np = 1) /
    * sorted prefix (probing) over struct(dist, cell) — a total order
    * (cell ids are distinct), ties toward the lower cell id, exactly
    * s3's rule. The aggregate rows stay NARROW (double + int): carrying
    * the feature array through the n·nlist candidate rows instead
    * measured 41x decade growth at x100 (allocation-bound, a copied
    * 64-double array per candidate row); the vector rides back in via a
    * vec_id join over just n rows. Shared by the auto-IVF ranking and
    * the IVFADC residual path.
    */
  private def cellRanked(cents: DataFrame, in: DataFrame, np: Int,
      idAs: String, vecAs: String): DataFrame = {
    val dc = in
      .crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct(Linalg.euclidCol(col("features"), col("cv")).as("dist"),
          col("cell")).as("dc"))
    val am =
      if (np == 1)
        dc.groupBy(col("vec_id")).agg(min(col("dc")).as("m"))
          .select(col("vec_id"), col("m.cell").as("cell"))
      else
        dc.groupBy(col("vec_id"))
          .agg(slice(sort_array(collect_list(col("dc"))), 1, np)
            .as("cells"))
          .select(col("vec_id"),
            explode(transform(col("cells"), c => c.getField("cell")))
              .as("cell"))
    in.select(col("vec_id"), col("features")).join(am, Seq("vec_id"))
      .select(col("vec_id").as(idAs), col("cell"),
        col("features").as(vecAs))
  }

  /** s11: attribute-FILTERED ANN — top-k among only the vectors that
    * pass a metadata predicate (here `label = ` [[S11Label]]), the
    * filtered-search shape every production vector store serves
    * ("nearest documents IN THIS language / FROM THIS source"). The
    * filter is pushed INSIDE the index scan: qualified vectors are
    * pruned BEFORE cell assignment and the probe join ranks only
    * qualified candidates — the PRE-filter strategy. The alternative
    * (POST-filter: take the unfiltered top-k, then drop non-matching
    * rows) silently starves whenever the neighborhood is dominated by
    * non-matching vectors — with a 10%-selective label, an unfiltered
    * top-5 usually contains 0–1 qualified rows (spec-measured: the
    * pre-filter's recall vs the exact filtered top-5 strictly beats
    * post-filtering at equal k). Because the filter thins every cell
    * ~10×, the probe width uses the [[ivfProbesFor]] recall rule
    * rather than s7's single probe.
    *
    * 100 TB shape: s7's — broadcast centroid table, one scan, the
    * predicate prunes at the parquet reader (PushedFilters) so the
    * index never pays assignment for filtered-out rows; candidate
    * mass is selectivity · n/√nlist. The oracle replays cells, the
    * multi-probe ranking, the filter, and the final top-5 in SQL.
    */
  def s11AnnFiltered: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val nlist = ivfCellsFor(e.count())
    probedCellsTop5(coarseCentroids(s, dir, nlist, trained = false),
      e.where(col("label") === S11Label),
      e.where(col("vec_id") < 5), ivfProbesFiltered(nlist))
      .orderBy(col("qid"), col("rank"))
  }

  /** The probe → join → rank body of s11 and the auto-IVF ranking:
    * `corpus` rows take their nearest cell of `cents`, each query its
    * `nprobe` nearest, and the candidates that share a cell (the
    * equi-join is the pruning) rank by euclidean distance. Returns
    * (qid, rank, nid), the top 5 per query.
    */
  private def probedCellsTop5(cents: DataFrame, corpus: DataFrame,
      queries: DataFrame, nprobe: Int): DataFrame = {
    val assigned = cellRanked(cents, corpus, 1, "nid", "nv")
    val probes = cellRanked(cents, queries, nprobe, "qid", "qv")
    euclidTop5(probes.join(assigned, Seq("cell")))
      .select(col("qid"), col("rank"), col("nid"))
  }

  /** The s11 predicate's target label — ~10% selective on the fixture's
    * 10-label corpus, the regime where post-filtering visibly starves.
    */
  val S11Label = 3

  /** Probe rule under a filter: one dyadic widening step over
    * [[ivfProbesFor]], capped at nlist. A selective predicate thins
    * every posting list, so the true filtered top-k spreads across
    * more cells than the unfiltered top-k; at the unfiltered √nlist
    * width the fixture reads 0.72 recall vs the exact filtered top-5,
    * at 2·√nlist it clears 0.9 (spec-measured) while probed corpus
    * fraction stays 2/√nlist → sublinear candidate mass, selectivity ·
    * 2n/√nlist. Heavier filters (≪ cell selectivity) want the brute
    * scan over the qualified slice instead — at that density the
    * index no longer prunes anything.
    */
  def ivfProbesFiltered(nlist: Int): Int =
    math.min(nlist, 2 * ivfProbesFor(nlist))

  /** The auto-IVF top-5 ranking for an ARBITRARY query frame
    * (vec_id, features) — queries need not live in the corpus. Emits
    * (qid, rank, nid) — top-5 per query over the union of the query's
    * `nprobe` nearest cells' members against the chosen quantizer
    * ([[coarseCentroids]]). Assignment and probing stay NARROW through
    * the n·nlist candidate rows (see the inline note); the per-query
    * cell ranking rides one sort_array over the nlist-sized
    * collect_list — bounded by √(n/5) elements per query row. A corpus
    * query is excluded from its own result (qid ≠ nid); out-of-corpus
    * queries use a disjoint id range ([[HardQueryIdOffset]]) so the
    * exclusion never fires for them.
    */
  private[graft] def annIvfAutoRankedQueries(s: SparkSession, dir: String,
      nprobe: Int, queries: DataFrame,
      trained: Boolean = false): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val nlist = ivfCellsFor(e.count())
    probedCellsTop5(coarseCentroids(s, dir, nlist, trained), e, queries,
      nprobe)
  }

  /** Candidate-generation COMPUTE of s4's fixed [[NearDupPlanes]]-plane
    * sign-bucketing, from the bucket histogram alone (Σ c·(c−1) in one
    * O(n) pass, no pair materialization — the
    * [[graft.operators.Clustering.lshCandidatePairCount]] pattern).
    * s4/d7's layout is FIXED by semantics (the cos ≥ [[NearDupCosine]]
    * near-dup threshold sets how coarse buckets must be to keep
    * recall), so unlike c21's top-L ranking the plane count cannot
    * simply grow with n — this number is the one to WATCH per decade:
    * if the corpus densifies faster than true-dup mass, the capped
    * emission path ([[nearDupPairsCapped]], the d3/mm10b discipline —
    * WIRED into the groups form d7 since r11) bounds it, while s4's
    * exact pair list is inherently output-bound.
    */
  private[graft] def nearDupCandidatePairs(s: SparkSession,
      dir: String): Long =
    Tables.embeddings(s, dir)
      .select(bucketExpr(s, dir, NearDupPlanes).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - lit(1L))), lit(0L)))
      .head().getLong(0)

  /** The CAPPED twin of [[nearDupCandidatePairs]], from the same O(n)
    * bucket histogram: per bucket of size c with m = min(c, cap), the
    * capped emission generates m·(m−1) ordered clique rows plus
    * 2·(c − m) ordered star rows — same ordered-pair units as the
    * uncapped count, so the two columns read side by side per decade.
    * O(cap²·buckets + n) by construction: this is the number that stays
    * bounded when a densifying corpus sends the uncapped count quadratic.
    */
  private[graft] def nearDupCandidatePairsCapped(s: SparkSession,
      dir: String): Long = {
    val cap = lit(Dedup.MaxBucket.toLong)
    val m = least(col("c"), cap)
    Tables.embeddings(s, dir)
      .select(bucketExpr(s, dir, NearDupPlanes).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(m * (m - lit(1L)) +
        lit(2L) * (col("c") - m)), lit(0L)))
      .head().getLong(0)
  }

  /** Id offset for out-of-corpus query frames: keeps hard-query ids
    * disjoint from corpus vec_ids (even decade-remapped ones), so the
    * ranking's qid ≠ nid self-exclusion never fires for them.
    */
  val HardQueryIdOffset: Long = 1L << 40

  /** Displacement magnitude of [[hardQueries]] in units of the MEASURED
    * mean cell radius (mean distance of a sampled corpus point to its
    * nearest coarse centroid): 1.0 puts the query a full typical radius
    * off a corpus point — the cell-boundary regime, where single-probe
    * recall genuinely degrades. Anchoring to the index's own geometry
    * (not a data-range fraction) keeps the definition scale-free across
    * corpora and decades: cells shrink as nlist grows with √n, and the
    * hard queries shrink with them.
    */
  val HardDisplacementCellRadii = 1.0

  /** Deterministic HASH-based query sampling: selects ≈ n/step ids with
    * no correlation to id STRUCTURE. The modulo form (vec_id % step)
    * looked identical on the fixture but broke at the decades — the
    * scaled fixtures remap copy ids by +copy·10⁸, and 10⁸ ≡ 0 mod the
    * x100 step, so every "sampled query" was a copy of the SAME original
    * vector and recall read a meaningless 1.000. At step = 1 this is
    * still all-ids (x % 1 = 0), preserving the sampled-equals-full
    * spec contracts.
    */
  private[graft] def querySampleFilter(step: Long): Column =
    pmod(xxhash64(col("vec_id"), lit("qsample")), lit(step)) === lit(0L)

  /** Mean cell radius of a quantizer over the hash-sampled subset:
    * O(s·nlist), one broadcast join. The TRAINED quantizer's radius is
    * the corpus's actual density-region scale; the first-vectors
    * quantizer's is ≈ the inter-point distance (see
    * [[coarseCentroids]]) — both are recorded per decade.
    */
  private[graft] def meanCellRadius(s: SparkSession, dir: String,
      step: Long, trained: Boolean): Double = {
    val e = Tables.embeddings(s, dir)
    val nlist = ivfCellsFor(e.count())
    val cents = coarseCentroids(s, dir, nlist, trained).select(col("cv"))
    e.where(querySampleFilter(step))
      .select(col("vec_id"), col("features"))
      .crossJoin(broadcast(cents))
      .groupBy(col("vec_id"))
      .agg(min(Linalg.euclidCol(col("features"), col("cv"))).as("r"))
      .agg(avg(col("r"))).head().getDouble(0)
  }

  /** HARD (out-of-corpus) query vectors: a hash-sampled corpus subset,
    * each vector displaced by a deterministic hash-derived per-dimension
    * uniform whose total magnitude ≈ [[HardDisplacementCellRadii]] ×
    * the measured mean cell radius. Corpus-sampled queries sit at cell
    * members' own positions — the easiest possible case for an IVF
    * probe — whereas boundary-displaced queries are what a serving
    * workload looks like. No RNG: xxhash64(vec_id, dim, salt) is the
    * generator (the Zipf-corpus discipline), so every engine replays
    * the same query set.
    */
  private[graft] def hardQueries(s: SparkSession, dir: String,
      step: Long): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // anchor on the TRAINED quantizer's radius — the corpus's real
    // density-region scale (the first-vectors radius is the inter-point
    // distance, which would make "one radius off" a near-random query);
    // the SAME query set then measures every quantizer
    val rbar = meanCellRadius(s, dir, step, trained = true)
    require(rbar > 0.0, "degenerate corpus: every sampled point is a centroid")
    // per-dim amplitude a s.t. E‖uniform(±a)^Dim‖ ≈ target radius
    val a = rbar * HardDisplacementCellRadii / math.sqrt(Dim / 3.0)
    e.where(querySampleFilter(step))
      .select((col("vec_id") + lit(HardQueryIdOffset)).as("vec_id"),
        transform(col("features"), (x, i) =>
          x + lit(2.0 * a) *
            (pmod(xxhash64(col("vec_id"), i, lit("hardq")), lit(1000000L))
              / lit(1000000.0) - lit(0.5))).as("features"))
  }

  /** Recall of the auto index over an arbitrary query frame at each
    * nprobe setting, with the exact top-5 denominator computed ONCE for
    * the whole curve (it is nprobe-independent — ADVICE r10): a
    * broadcast-queries × all-points ranking, O(s·n) for a fixed sample
    * where the all-queries denominator would be the quadratic itself
    * (the [[graft.operators.Clustering.lshSampledRecall]] pattern).
    * Returns (nprobe, recall) per setting.
    */
  private[graft] def ivfRecallCurve(s: SparkSession, dir: String,
      queries: DataFrame, nprobes: Seq[Int],
      trained: Boolean = false): Seq[(Int, Double)] =
    recallCurve(s, dir, queries,
      nprobes.map(np => np.toString ->
        ((qf: DataFrame) => annIvfAutoRankedQueries(s, dir, np, qf,
          trained))))
      .map { case (name, r) => name.toInt -> r }

  /** Recall of EVERY approximate-index variant against ONE exact top-5
    * leg (its cost — the broadcast-queries × all-points ranking — is
    * variant-independent, so the curve shares it; ADVICE r10): each
    * variant maps the pinned query frame to its (qid, nid) ranking.
    * Shared by the IVF nprobe curves and the PQ codebook/rerank curves.
    */
  private[graft] def recallCurve(s: SparkSession, dir: String,
      queries: DataFrame,
      variants: Seq[(String, DataFrame => DataFrame)])
      : Seq[(String, Double)] = {
    val e = Tables.embeddings(s, dir)
    // N+1 consumers (the exact leg + every variant): pin the (small)
    // query frame so its lineage (possibly a stats pass) runs once
    val q = queries
      .select(col("vec_id").as("qid"), col("features").as("qv"))
      .localCheckpoint(eager = true)
    val exact = exactTop5(broadcast(q),
        e.select(col("vec_id").as("nid"), col("features").as("nv")))
      .localCheckpoint(eager = true) // consumers: per-variant hit join + count
    val nExact = exact.count()
    require(nExact > 0, "empty recall denominator")
    val qf = q.select(col("qid").as("vec_id"), col("qv").as("features"))
    variants.map { case (name, fn) =>
      val approx = fn(qf).select(col("qid"), col("nid"))
      val nHit = approx.join(exact, Seq("qid", "nid"), "left_semi").count()
      name -> nHit.toDouble / nExact
    }
  }

  /** Coarse cell assignment + RESIDUALS of an explicit (vec_id,
    * features) frame against a given centroid table: (vec_id, cell,
    * features = v − c_cell). The narrow-assignment discipline of
    * [[cellRanked]]; the residual subtraction is one zip_with against
    * the broadcast centroid table. Shared by the corpus-of-record build
    * and the incremental append path (arrivals encode against FROZEN
    * centroids read back from the index).
    */
  private def residualFrameOf(vecs: DataFrame,
      cents: DataFrame): DataFrame =
    cellRanked(cents, vecs, 1, "vec_id", "v")
      .join(broadcast(cents), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("features"))

  /** Residual PQ codebook over an explicit corpus frame — per-subspace
    * seeded k-means over the RESIDUALS (memoized per `key`, see
    * [[coarseCentroidsOf]] for its contract): after the coarse
    * quantizer removes the cell centroid, the codewords quantize
    * WITHIN-cell structure, which is exactly what flat-PQ codewords
    * waste resolution on re-encoding (every codeword must span the
    * whole data range).
    */
  private def pqResidualCodebookOf(s: SparkSession, corpus: DataFrame,
      cents: DataFrame, key: String): DataFrame = {
    import s.implicits._
    val rows = ArtifactCache(key, "ivfadc", "codebook") {
      val res = residualFrameOf(corpus, cents).select(col("features"))
        .localCheckpoint(eager = true) // M k-means consumers, one build
      // the M sub-space fits are INDEPENDENT seeded jobs over the one
      // checkpointed residual frame — run them as concurrent legs, 4 in
      // flight, so each fit's tail back-fills the cluster the others
      // left idle. Each fit's own partitioning, seed, and aggregation
      // order are untouched, so the trained codewords are bit-identical
      // to the sequential build's (spec-pinned by the s8/s9 oracle rows).
      val fits = (1 to PqSubspaces).map { m => () =>
        val sub = res.select(
          slice(col("features"), (m - 1) * PqSubDim + 1, PqSubDim)
            .as("features"))
        graft.mopso.Init.kmeansCenters(sub, PqCodewords, maxIter = 20,
          seed = 542L + m)
          .zipWithIndex.map { case (c, j) => (m, j + 1, c.toSeq) }
      }
      ConcurrentLeg.all(s, "s9-pq", fits, parallelism = 4)(_()).flatten
    }
    rows.toDF("m", "j", "cv")
  }

  /** The composed index REDUCED TO THREE TABLES — (centroids(cell, cv),
    * codebook(m, j, cv), codes(nid, cell, codes)) — the persistable
    * whole of IVFADC state: everything the serving plan needs except
    * the raw corpus (which only the optional exact-rerank leg reads).
    * Shared by the in-memory ranking, [[writeIvfAdcIndex]], and the
    * index-build story at 100 TB: the big table is `codes` at ~40
    * bytes/vector (32× under the raw vectors), the other two are
    * broadcast-sized.
    */
  private[graft] def ivfAdcIndexFrames(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, dir)
    ivfAdcIndexFramesOf(s, e, ivfCellsFor(e.count()), dir)
  }

  /** The three index tables built from an EXPLICIT corpus frame — the
    * base-only build of the incremental-maintenance story trains its
    * quantizers here on the pre-arrival corpus (see
    * [[coarseCentroidsOf]] for `key`).
    */
  private[graft] def ivfAdcIndexFramesOf(s: SparkSession,
      corpus: DataFrame, nlist: Int, key: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val cents = coarseCentroidsOf(s, corpus, nlist, key)
    val cbR = pqResidualCodebookOf(s, corpus, cents, key)
    // index: (nid, cell) + codes of the residual
    val assigned = residualFrameOf(corpus, cents)
    val codes = pqCodesOf(assigned, cbR)
      .join(assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .select(col("vec_id").as("nid"), col("cell"), col("codes"))
    (cents, cbR, codes)
  }

  /** Persist the composed index as parquet tables (build once on the
    * cluster, serve from disk — the production contract the in-JVM
    * memoization only approximates): `centroids/`, `codebook/`,
    * `codes/` under `path`. Doubles round-trip parquet bit-exactly, so
    * [[serveIvfAdcFromIndex]] is row-identical to the in-memory
    * ranking (spec-pinned); `codes/` is the only corpus-sized table
    * and is written partitioned by nothing here — at scale, bucket it
    * by `cell` so a probe's candidate scan is partition-pruned.
    */
  def writeIvfAdcIndex(s: SparkSession, dir: String, path: String): Unit =
    ArtifactCache(dir, "ivfadc", ("index", path)) {
      val (cents, cbR, codes) = ivfAdcIndexFrames(s, dir)
      writeIndexTables(cents, cbR, codes, path)
    }

  /** Full build-cost invalidation for `dir`: written-index marker AND
    * the memoized quantizer fits (trained coarse centers, residual
    * codebook), so a timed `s9_index_build` row covers train + encode
    * + export — the p7 `invalidate` contract.
    */
  def invalidateIvfAdcBuild(dir: String): Unit =
    ArtifactCache.invalidate(dir, "ivfadc")

  /** Persist an index built from an explicit corpus frame — the
    * BASE-ONLY build the incremental-maintenance measurement starts
    * from (quantizers trained before the arrivals exist).
    */
  def writeIvfAdcIndexOf(s: SparkSession, corpus: DataFrame, nlist: Int,
      path: String, key: String): Unit = {
    val (cents, cbR, codes) = ivfAdcIndexFramesOf(s, corpus, nlist, key)
    writeIndexTables(cents, cbR, codes, path)
  }

  private def writeIndexTables(cents: DataFrame, cbR: DataFrame,
      codes: DataFrame, path: String): Unit = {
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    cbR.write.mode("overwrite").parquet(s"$path/codebook")
    codes.write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Incremental index maintenance (VERDICT r12 next-4): encode
    * ARRIVING vectors against the persisted index's FROZEN coarse
    * centroids and residual codebook and APPEND their codes — the
    * production path for a growing corpus (retraining the quantizers
    * per batch would invalidate every stored code; appending to frozen
    * cells costs one narrow encode pass over just the arrivals, and
    * [[serveIvfAdcFromIndex]] picks up base + delta with no plan
    * change, because `codes/` is one parquet table either way).
    *
    * The price is STALENESS, not correctness: arrival codes are exact
    * under the frozen quantizers (spec-pinned append-vs-rebuild parity
    * in PqSpec), but as the un-retrained fraction grows the centroids
    * drift off the true density regions and recall decays — measured
    * per insert fraction in `scale_pqdisk.json` (the staleness curve
    * that tells an operator WHEN to pay for the rebuild).
    */
  def appendToIvfAdcIndex(s: SparkSession, path: String,
      arrivals: DataFrame): Unit =
    encodeAgainstIndex(s, path, arrivals)
      .write.mode("append").parquet(s"$path/codes")

  /** (nid, cell, codes) rows for arbitrary vectors under an index's
    * FROZEN quantizers (read back from parquet) — the encode half of
    * [[appendToIvfAdcIndex]], exposed so the spec can pin
    * append-vs-rebuild parity: encoding the full corpus through here
    * must equal base-build codes ∪ appended codes exactly.
    */
  private[graft] def encodeAgainstIndex(s: SparkSession, path: String,
      vecs: DataFrame): DataFrame = {
    val cents = s.read.parquet(s"$path/centroids")
    val cbR = s.read.parquet(s"$path/codebook")
    val assigned = residualFrameOf(
      vecs.select(col("vec_id"), col("features")), cents)
    pqCodesOf(assigned, cbR)
      .join(assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .select(col("vec_id").as("nid"), col("cell"), col("codes"))
  }

  /** Serve queries from a [[writeIvfAdcIndex]]-persisted index: no
    * training, no residual pass — three parquet reads into the same
    * ranking plan. `dir` is still needed for the exact-rerank leg's raw
    * vectors (IVFADC stores codes, not vectors; the rerank lookup is a
    * separate table by design).
    */
  def serveIvfAdcFromIndex(s: SparkSession, dir: String, path: String,
      queries: DataFrame, nprobe: Int, rerank: Int = 0): DataFrame =
    ivfAdcRankOver(
      s.read.parquet(s"$path/centroids"),
      s.read.parquet(s"$path/codebook"),
      s.read.parquet(s"$path/codes"),
      corpusFrame(s, dir), queries, nprobe, rerank)

  private def corpusFrame(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id").as("nid"), col("features").as("nv"))

  /** IVFADC (Jégou et al. 2011 §IV): the s7 coarse quantizer COMPOSED
    * with residual PQ — the standard production ANN shape at corpus
    * scale. Vectors are stored as (cell, M codes of the residual
    * v − c_cell); a query ranks cells once ([[cellRanked]], nprobe
    * prefix), builds one ADC lookup table PER PROBED CELL from its own
    * residual against that cell (q − c_cell), and scores ONLY the
    * cells' members — the candidate join rides the cell id, so the
    * IVF pruning and the 32× code compression compose: per query,
    * (nprobe/nlist)·n candidates at M lookups + 7 adds each, never a
    * raw vector until the optional exact rerank of the shortlist.
    *
    * What residual encoding buys DEPENDS on the corpus's cluster
    * structure, and the engine measures rather than assumes it: on the
    * near-uniform fixture, cells are weak (within-cell spread ≈ the
    * data range), residual codewords rank no better than flat ones,
    * and recall composes as pruning-ceiling × shortlist-quality
    * (PqSpec pins the structural law: reranked IVFADC never exceeds
    * exact ranking over the probed cells). On clustered corpora —
    * the scaled decade fixtures — residual codewords only span
    * within-cell spread and the composition pays (scale_pq.json).
    *
    * Trained everywhere (coarse + residual codebooks, seeded + memoized)
    * — the stochastic-but-seeded family: spec-pinned, decade-measured,
    * no DuckDB oracle (the oracle-checked faces are s7 and s8).
    */
  private[graft] def pqIvfAdcRanked(s: SparkSession, dir: String,
      queries: DataFrame, nprobe: Int, rerank: Int = 0): DataFrame = {
    val (cents, cbR, codes) = ivfAdcIndexFrames(s, dir)
    ivfAdcRankOver(cents, cbR, codes, corpusFrame(s, dir), queries,
      nprobe, rerank)
  }

  /** The serving plan over EXPLICIT index frames — one definition
    * behind the in-memory ranking and the persisted-index serving, so
    * "the measured index is the served index" survives a round trip
    * through parquet.
    */
  private def ivfAdcRankOver(cents: DataFrame, cbR: DataFrame,
      codes: DataFrame, corpus: DataFrame, queries: DataFrame,
      nprobe: Int, rerank: Int): DataFrame = {
    // query side: nprobe-ranked cells, one residual + LUT per (q, cell)
    val qres = cellRanked(cents, queries, nprobe, "qid", "qv")
      .join(broadcast(cents), Seq("cell"))
      .select(col("qid"), col("cell"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("features"))
    val qsv = qres.select(col("qid"), col("cell"),
      posexplode(transform(sequence(lit(1), lit(PqSubspaces)),
        m => slice(col("features"), (m - 1) * PqSubDim + 1,
          lit(PqSubDim)))).as(Seq("m0", "sv")))
      .select(col("qid"), col("cell"), (col("m0") + 1).as("m"), col("sv"))
    val luts = qsv.join(broadcast(cbR), Seq("m"))
      .select(col("qid"), col("cell"),
        struct(col("m"), col("j"),
          sqSub(col("sv"), col("cv")).as("pd")).as("e"))
      .groupBy(col("qid"), col("cell"))
      .agg(array_sort(collect_list(col("e"))).as("es"))
      .select(col("qid"), col("cell"),
        transform(col("es"), x => x.getField("pd")).as("lut"))
    // equi-join on the cell = the pruning
    adcTop5(codes.join(luts, Seq("cell")), corpus, queries, rerank)
  }

  /** The ADC ranking shared by the flat-PQ and IVFADC scorers, over
    * candidate (qid, nid, codes, lut) rows: the top 5 per query by the
    * asymmetric distance (score = the rounded ADC) or, with
    * `rerank > 0`, that many by ADC exactly reranked against `corpus`
    * (score = the rounded exact distance). Returns (qid, rank, nid,
    * score).
    */
  private def adcTop5(candidates: DataFrame, corpus: => DataFrame,
      queries: DataFrame, rerank: Int): DataFrame = {
    val adc = (1 to PqSubspaces).map(m =>
      element_at(col("lut"),
        lit((m - 1) * PqCodewords) + element_at(col("codes"), m)))
      .reduce(_ + _)
    val ranked = topKPerQuery(candidates
      .where(col("qid") =!= col("nid"))
      .withColumn("adc", adc), col("adc"), if (rerank <= 0) 5 else rerank)
    if (rerank <= 0)
      ranked.select(col("qid"), col("rank"), col("nid"),
        round(col("adc"), 4).as("score"))
    else exactRerank(corpus, queries, ranked)
  }

  /** Exact rerank of an ADC shortlist — the ONLY leg that ever touches
    * a raw vector: the |q|·rerank narrow (qid, nid) shortlist rides
    * broadcast against the corpus (a (nid, nv) frame), exact euclidean,
    * top-5 by (dist, nid).
    */
  private def exactRerank(corpus: DataFrame,
      queries: DataFrame, shortlist: DataFrame): DataFrame = {
    val qv = queries.select(col("vec_id").as("qid"),
      col("features").as("qv"))
    topKPerQuery(
      broadcast(shortlist.select(col("qid"), col("nid")))
        .join(corpus, Seq("nid"))
        .join(broadcast(qv), Seq("qid"))
        .select(col("qid"), col("nid"),
          Linalg.euclidCol(col("qv"), col("nv")).as("dist")),
      col("dist"), 5)
      .select(col("qid"), col("rank"), col("nid"),
        round(col("dist"), 4).as("score"))
  }

  /** IVFADC recall per (nprobe, rerank) setting — the [[pqRecallCurve]]
    * face of the composed index.
    */
  private[graft] def ivfAdcRecallCurve(s: SparkSession, dir: String,
      queries: DataFrame, settings: Seq[(Int, Int)])
      : Seq[((Int, Int), Double)] =
    recallCurve(s, dir, queries,
      settings.map { case (np, rr) => s"$np/$rr" ->
        ((qf: DataFrame) => pqIvfAdcRanked(s, dir, qf, np, rr)) })
      .zip(settings).map { case ((_, r), st) => st -> r }

  /** PQ recall per (trained, rerank) setting over an arbitrary query
    * frame — the [[ivfRecallCurve]] twin for the s8 family.
    */
  private[graft] def pqRecallCurve(s: SparkSession, dir: String,
      queries: DataFrame, settings: Seq[(Boolean, Int)])
      : Seq[((Boolean, Int), Double)] =
    recallCurve(s, dir, queries,
      settings.map { case (tr, rr) => s"$tr/$rr" ->
        ((qf: DataFrame) => pqRankedQueries(s, dir, qf, tr, rr)) })
      .zip(settings).map { case ((_, r), st) => st -> r }

  /** Top-5 recall of the auto index at DATA scale from a deterministic
    * hash-sampled corpus subset ([[querySampleFilter]]) — the
    * single-setting face of [[ivfRecallCurve]]. At step = 1 over the
    * fixture queries this measures the same quantity s5 reports for the
    * pinned index.
    */
  private[graft] def ivfSampledRecall(s: SparkSession, dir: String,
      nprobe: Int, step: Long): Double =
    ivfRecallCurve(s, dir,
      Tables.embeddings(s, dir)
        .where(querySampleFilter(step))
        .select(col("vec_id"), col("features")),
      Seq(nprobe)).head._2

  /** The nprobe settings s5 reports, {1, 5, K=10} — the recall/cost curve
    * of the index, up to nprobe = K where the probe degenerates to exact
    * brute force (recall 1 by construction): measured 0.92 → 0.96 → 1.0
    * on the sf0.01 fixture.
    */
  val ProbeSettings = Seq(1, 5, Clustering.K)

  /** Recall of the IVF ANN against the exact euclidean top-5 at each
    * nprobe in [[ProbeSettings]] — the number every approximate index must
    * report. One row per nprobe: |approx ∩ exact| / |exact| over the probe
    * queries; recall is non-decreasing in nprobe (more cells probed ⊇
    * fewer).
    */
  def s5AnnRecall: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("features").as("qv"))
    val exact = exactTop5(q,
      e.select(col("vec_id").as("nid"), col("features").as("nv")))
    // the SAME probedTopK that serves s3 — the measured recall is the
    // served algorithm's by construction, and the whole curve costs one
    // assignment scan + one candidate join
    val approx = probedTopK(s, dir, ProbeSettings)
      .select(col("np"), col("qid"), col("nid"))
    val hits = approx.join(exact, Seq("qid", "nid"), "left_semi")
      .groupBy(col("np")).agg(count(lit(1)).as("n_hit"))
    ProbeSettings.toDF("np")
      .join(hits, Seq("np"), "left")
      .select(col("np"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
      .select(col("np"), col("n_hit"), col("n_exact"),
        round(col("n_hit") / col("n_exact"), 6).as("recall"))
      .orderBy(col("np"))
  }

  /** Embedding dimensionality of the fixture corpus (shared with the
    * oracle's generate_series) and the int8 code range for s6.
    */
  val Dim = 64
  val QuantLevels = 255

  /** s6: int8 scalar quantization of the embedding column — the standard
    * 4× compression an ANN index applies before storing 100 TB of
    * vectors — with its quality measured the same way s5 measures the
    * IVF index: recall of the quantized brute-force top-5 against the
    * exact top-5.
    *
    * Two passes, both scale-shaped: (1) per-dimension min/max — a
    * posexplode into (dim, x) rows + a [[Dim]]-key partial aggregate (one
    * shuffle of per-mapper 64-row partials); (2) quantize/dequantize as
    * per-row expressions against the collected stats embedded as plan
    * literals (64 doubles — the same literal-broadcast pattern as the
    * centroid assignment). Codes are exact integers in doubles, so
    * `code_sum` is an order-independent exact check; `mae_micro` (mean
    * per-value absolute reconstruction error, ×10⁶, each value rounded to
    * an integer BEFORE averaging) is exact for the same reason.
    */
  def s6QuantRecall: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val stats = e
      .select(posexplode(col("features")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("dim"))
      .collect()
    require(stats.length == Dim, s"expected $Dim dims, got ${stats.length}")
    val mnL = typedlit(stats.map(_.getDouble(1)))
    val mxL = typedlit(stats.map(_.getDouble(2)))
    def mnAt(i: org.apache.spark.sql.Column) = element_at(mnL, i + 1)
    def mxAt(i: org.apache.spark.sql.Column) = element_at(mxL, i + 1)
    val quantized = e.select(
      col("vec_id"),
      col("features"),
      transform(col("features"), (x, i) =>
        when(mxAt(i) === mnAt(i), lit(0.0))
          .otherwise(round((x - mnAt(i)) / (mxAt(i) - mnAt(i)) * QuantLevels,
            0))).as("codes"))
      .select(col("vec_id"), col("features"), col("codes"),
        transform(col("codes"), (c, i) =>
          mnAt(i) + c * ((mxAt(i) - mnAt(i)) / lit(QuantLevels.toDouble)))
          .as("dq"))
    val meas = quantized.agg(
      sum(aggregate(col("codes"), lit(0.0), _ + _)).cast("long")
        .as("code_sum"),
      round(sum(aggregate(
        zip_with(col("features"), col("dq"),
          (a, b) => round(abs(a - b) * lit(1000000), 0)),
        lit(0.0), _ + _)) / (count(lit(1)) * Dim), 2).as("mae_micro"))
    def top5(frame: DataFrame, vcol: String): DataFrame =
      exactTop5(frame.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col(vcol).as("qv")),
        frame.select(col("vec_id").as("nid"), col(vcol).as("nv")))
    val exact = top5(e, "features")
    val approx = top5(quantized, "dq")
    approx.join(exact, Seq("qid", "nid"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
      .crossJoin(meas)
      .select(col("code_sum"), col("mae_micro"),
        col("n_hit"), col("n_exact"),
        round(col("n_hit") / col("n_exact"), 6).as("recall"))
  }

  /** PQ layout for [[s8AnnPq]]: [[PqSubspaces]] subspaces of
    * [[PqSubDim]] dims each (M·d = [[Dim]]), [[PqCodewords]] codewords
    * per subspace taken from the first [[PqCodewords]] corpus vectors'
    * subvectors — the s2/s3/s7 first-vectors convention, so the whole
    * index replays in SQL; a production build swaps in per-subspace
    * k-means exactly the way [[coarseCentroids]] `trained = true` does
    * for the IVF coarse quantizer.
    */
  val PqSubspaces = 8
  val PqSubDim: Int = Dim / PqSubspaces
  val PqCodewords = 16

  /** Squared euclidean over two [[PqSubDim]]-dim arrays as an EXPLICIT
    * left-associated 8-term sum — both engines evaluate the identical
    * float expression tree, so ADC sums (and hence ranks) are
    * bit-reproducible against the oracle (the t12 micro-nat discipline,
    * by operation order instead of integer quantization).
    */
  private def sqSub(a: Column, b: Column): Column =
    (1 to PqSubDim).map { i =>
      val d = element_at(a, i) - element_at(b, i)
      d * d
    }.reduce(_ + _)

  /** Subvector rows (id, m, sv): vector split into [[PqSubspaces]]
    * contiguous [[PqSubDim]]-dim slices, m ∈ 1..M.
    */
  private def subvectorRows(in: DataFrame, idAs: String): DataFrame =
    in.select(col("vec_id").as(idAs),
      posexplode(transform(sequence(lit(1), lit(PqSubspaces)),
        m => slice(col("features"), (m - 1) * PqSubDim + 1, lit(PqSubDim))))
        .as(Seq("m0", "sv")))
      .select(col(idAs), (col("m0") + 1).as("m"), col("sv"))

  /** The PQ codebook as a broadcastable table (m, j, cv): codeword j of
    * subspace m is the m-th subvector of corpus vector j−1.
    */
  private def pqCodebook(s: SparkSession, dir: String): DataFrame =
    subvectorRows(
      Tables.embeddings(s, dir).where(col("vec_id") < PqCodewords), "cwid")
      .select(col("m"), (col("cwid") + 1).cast("int").as("j"),
        col("sv").as("cv"))

  /** TRAINED PQ codebook — the production build: per-subspace seeded
    * k-means over the corpus subvectors (the [[coarseCentroids]]
    * `trained = true` discipline, memoized per dir so the measured
    * index is the served index). Stochastic-but-seeded → spec-pinned;
    * the oracle-checked s8 keeps the first-vectors convention. The
    * quality gap is the same one the IVF curves measured: first-vector
    * codewords are arbitrary corpus points, trained codewords are the
    * subspace's actual density regions.
    */
  private def pqCodebookTrained(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = ArtifactCache(dir, "pq_trained") {
      val e = Tables.embeddings(s, dir)
      (1 to PqSubspaces).flatMap { m =>
        val sub = e.select(
          slice(col("features"), (m - 1) * PqSubDim + 1, PqSubDim)
            .as("features"))
        graft.mopso.Init.kmeansCenters(sub, PqCodewords, maxIter = 20,
          seed = 42L + m)
          .zipWithIndex.map { case (c, j) => (m, j + 1, c.toSeq) }
      }
    }
    rows.toDF("m", "j", "cv")
  }

  /** PQ codes per vector (vec_id, codes: array of M codeword ids):
    * argmin over the broadcast codebook per subspace, ties toward the
    * lower codeword id. ONE shuffle: the n·M subvector rows meet the
    * M·Ksub codebook in a broadcast join, and the per-subspace argmins
    * ride M `min(struct(dist, j))` aggregates with map-side partials
    * (the minhashSigs column pattern) — the shuffle carries M small
    * structs per vector, never the candidate rows.
    */
  private[graft] def pqCodes(s: SparkSession, dir: String,
      cb: DataFrame): DataFrame =
    pqCodesOf(Tables.embeddings(s, dir), cb)

  private def pqCodesOf(frame: DataFrame, cb: DataFrame): DataFrame = {
    val enc = subvectorRows(frame, "vec_id")
      .join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"),
        struct(sqSub(col("sv"), col("cv")).as("dist"), col("j")).as("dj"))
    val mins = (1 to PqSubspaces).map(m =>
      min(when(col("m") === m, col("dj"))).as(s"c$m"))
    enc.groupBy(col("vec_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("vec_id"),
        array((1 to PqSubspaces).map(m => col(s"c$m").getField("j")): _*)
          .as("codes"))
  }

  /** Per-query ADC lookup tables (qid, lut): lut[(m−1)·Ksub + j] is the
    * squared distance from the query's m-th subvector to codeword (m, j)
    * — M·Ksub doubles per query, assembled in (m, j) order by one
    * sort_array over the collected struct rows.
    */
  private def pqLuts(queries: DataFrame, cb: DataFrame): DataFrame =
    subvectorRows(queries, "qid")
      .join(broadcast(cb), Seq("m"))
      .select(col("qid"),
        struct(col("m"), col("j"),
          sqSub(col("sv"), col("cv")).as("pd")).as("e"))
      .groupBy(col("qid"))
      .agg(array_sort(collect_list(col("e"))).as("es"))
      .select(col("qid"),
        transform(col("es"), e => e.getField("pd")).as("lut"))

  /** Codebook dispatch shared by [[pqRankedQueries]] and the specs. */
  private[graft] def pqCodebookOf(s: SparkSession, dir: String,
      trained: Boolean): DataFrame =
    if (trained) pqCodebookTrained(s, dir) else pqCodebook(s, dir)

  /** The parameterized PQ ranking behind [[s8AnnPq]] (first-vectors
    * codebook, no rerank — the SQL-replayable face) and the measured
    * production variants: `trained` swaps in the k-means codebook;
    * `rerank > 0` turns the ADC scan into a SHORTLIST of that many
    * candidates per query, exactly reranked against the full vectors —
    * the standard ADC+rerank serving shape (the shortlist is the only
    * part that ever touches a raw vector: |q|·rerank rows broadcast
    * against the corpus, so the 32×-compressed code scan does the
    * heavy lifting and the rerank cost is per-query-bounded).
    * Returns (qid, rank, nid, score) — score is the rounded ADC (or
    * exact rerank distance when reranking).
    */
  private[graft] def pqRankedQueries(s: SparkSession, dir: String,
      queries: DataFrame, trained: Boolean = false,
      rerank: Int = 0): DataFrame = {
    val cb = pqCodebookOf(s, dir, trained)
    val luts = pqLuts(queries, cb)
    adcTop5(pqCodes(s, dir, cb)
      .select(col("vec_id").as("nid"), col("codes"))
      .crossJoin(broadcast(luts)),
      corpusFrame(s, dir), queries, rerank)
  }

  /** s8: product-quantization ANN (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search") — the memory-bound
    * companion to the IVF family: each vector is stored as M = 8
    * codeword ids instead of [[Dim]] floats (32× compression at M=8,
    * Ksub=16), and a query scans CODES, never vectors, via its
    * asymmetric-distance lookup table: adc(q, v) = Σₘ ‖qₘ −
    * c[m, codeₘ(v)]‖². Output (qid, rank, nid, adc): top-5 per query
    * vec_id < 5 by (adc, nid) — the s1/s3 family shape with the ADC
    * approximation in place of exact distance.
    *
    * Scale shape: encoding is the one-pass broadcast-join build
    * ([[pqCodes]]); scoring joins the n-row code table against the
    * 5-row broadcast LUT frame — per (query, vector) work is M array
    * lookups + 7 adds on a 40-byte row, the reason PQ scans beat raw
    * scans at 100 TB. At corpus scale the code table is the thing that
    * fits in memory where the vectors do not; composing it under the s7
    * cell-probe (IVFADC) is the standard next step and changes only the
    * candidate feed, not this scorer.
    */
  def s8AnnPq: Q = (s, dir) =>
    pqRankedQueries(s, dir,
      Tables.embeddings(s, dir).where(col("vec_id") < 5))
      .select(col("qid"), col("rank"), col("nid"), col("score").as("adc"))
      .orderBy(col("qid"), col("rank"))

  /** Streaming ANN SERVING twin of s7 (VERDICT r10 §next-7): arriving
    * query vectors are scored per micro-batch against the FROZEN
    * auto-IVF index by the exact batch ranking — `foreachBatch` is the
    * serving shape here, not a stream-static join, for a structural
    * reason: a pruned IVF probe needs TWO dependent aggregations per
    * query (argmin over the centroid table to pick cells, then top-k
    * over the probed candidates), which a single incremental streaming
    * plan cannot chain; collapsing them into one aggregate would have
    * to scan every cell's members per query — brute force, the thing
    * the index exists to avoid. Micro-batch reuse keeps ONE code path
    * (the measured index IS the served index, the t4c/t11 discipline)
    * and the 100 TB shape per trigger: a narrow query batch broadcast-
    * assigned to cells, candidates equi-joined on the cell key.
    *
    * @param queries streaming (vec_id, features) frame
    * @param sink    receives each micro-batch's (qid, rank, nid) rows
    */
  def serveAnnStream(queries: DataFrame, dir: String, nprobe: Int)(
      sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    MicroBatch.serve(queries)(b =>
      annIvfAutoRankedQueries(b.sparkSession, dir, nprobe, b))(sink)

  /** Streaming serving twin of the COMPOSED index (s9 IVFADC): arriving
    * query vectors scored per micro-batch by the exact batch ranking
    * ([[pqIvfAdcRanked]] — coarse probe + per-cell ADC + exact rerank),
    * for the same structural reason as [[serveAnnStream]]: the probe's
    * chained per-query aggregations cannot live in one incremental
    * plan. The trained coarse/residual codebooks are memoized per dir,
    * so every micro-batch serves the SAME frozen index the batch query
    * measures — build once, serve forever, which is the production
    * contract for a 100 TB index.
    */
  def serveIvfAdcStream(queries: DataFrame, dir: String, nprobe: Int,
      rerank: Int)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    MicroBatch.serve(queries)(b =>
      pqIvfAdcRanked(b.sparkSession, dir, b, nprobe, rerank))(sink)

  /** [[serveIvfAdcStream]] over a PERSISTED index path instead of the
    * in-JVM memoized frames — the base+delta serving face of the
    * incremental story (VERDICT r12 next-4): each micro-batch re-reads
    * `path`'s three tables through the one shared ranking plan, so
    * codes appended by [[appendToIvfAdcIndex]] between micro-batches
    * are visible to the NEXT batch with no restart (parquet re-lists
    * its files per read). StreamingSpec pins stream ≡ batch over an
    * appended base+delta index.
    *
    * Concurrency contract: appends must be SERIALIZED against
    * micro-batch reads (the ingest pipeline's job — e.g. append from
    * the same single-threaded maintenance loop, or between
    * processAllAvailable() fences as the spec does). Plain parquet
    * commits one part-file rename at a time, so a reader listing the
    * directory mid-append could see a partial delta; a deployment that
    * needs concurrent append+serve should put a snapshot-isolated
    * table format (or a directory-swap symlink) under `path` — the
    * serving plan is unchanged either way.
    */
  def serveIvfAdcStreamFromIndex(queries: DataFrame, dir: String,
      path: String, nprobe: Int, rerank: Int)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    MicroBatch.serve(queries)(b => serveIvfAdcFromIndex(b.sparkSession,
      dir, path, b, nprobe, rerank))(sink)

  // ---- DuckDB oracles ------------------------------------------------------

  /** CTE list producing the near-dup candidate `pairs(doc_a, doc_b, cos)`
    * — the SQL twin of [[nearDupPairs]], the ONE source of truth behind
    * both the s4 oracle and the d7 semantic-group oracle's reachability
    * closure (Dedup).
    */
  private[functions] val nearDupPairSql: String =
    s"""pl AS (SELECT vec_id AS pid, embedding::DOUBLE[] AS pv
       |  FROM embeddings WHERE vec_id < $NearDupPlanes),
       |b AS (SELECT e.vec_id,
       |  sum(CASE WHEN list_inner_product(e.embedding::DOUBLE[], pl.pv) > 0
       |    THEN (1::BIGINT << pid::INT) ELSE 0 END)::BIGINT AS bucket
       |  FROM embeddings e CROSS JOIN pl GROUP BY e.vec_id),
       |p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |pairs AS (
       |  SELECT vec_a AS doc_a, vec_b AS doc_b, cos FROM (
       |    SELECT bx.vec_id AS vec_a, by2.vec_id AS vec_b,
       |      list_cosine_similarity(x.v, y.v) AS cos
       |    FROM b bx JOIN b by2
       |      ON bx.bucket = by2.bucket AND bx.vec_id < by2.vec_id
       |    JOIN p x ON x.vec_id = bx.vec_id
       |    JOIN p y ON y.vec_id = by2.vec_id)
       |  WHERE cos >= $NearDupCosine)""".stripMargin

  /** CTE list producing the CAPPED near-dup candidate `pairs(doc_a,
    * doc_b, cos)` — the SQL twin of [[nearDupPairsCapped]] (clique over
    * the cap smallest vec_ids per bucket + a star edge from the bucket
    * minimum per overflow doc, then the cosine verify), mirroring the
    * d3 oracle's `bandPairSql` capping. Feeds the d7 oracle's
    * reachability closure.
    */
  private[functions] val cappedNearDupPairSql: String =
    s"""pl AS (SELECT vec_id AS pid, embedding::DOUBLE[] AS pv
       |  FROM embeddings WHERE vec_id < $NearDupPlanes),
       |b AS (SELECT e.vec_id,
       |  sum(CASE WHEN list_inner_product(e.embedding::DOUBLE[], pl.pv) > 0
       |    THEN (1::BIGINT << pid::INT) ELSE 0 END)::BIGINT AS bucket
       |  FROM embeddings e CROSS JOIN pl GROUP BY e.vec_id),
       |rb AS (SELECT vec_id, bucket,
       |  row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn,
       |  min(vec_id) OVER (PARTITION BY bucket) AS rep FROM b),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b
       |  FROM rb a JOIN rb b2
       |    ON a.bucket = b2.bucket AND a.rn < b2.rn
       |    AND b2.rn <= ${Dedup.MaxBucket}
       |  UNION ALL
       |  SELECT rep AS doc_a, vec_id AS doc_b FROM rb
       |  WHERE rn > ${Dedup.MaxBucket})),
       |p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |pairs AS (
       |  SELECT doc_a, doc_b, cos FROM (
       |    SELECT c.doc_a, c.doc_b,
       |      list_cosine_similarity(x.v, y.v) AS cos
       |    FROM cand c JOIN p x ON x.vec_id = c.doc_a
       |    JOIN p y ON y.vec_id = c.doc_b)
       |  WHERE cos >= $NearDupCosine)""".stripMargin

  /** The explicit [[PqSubDim]]-term squared-distance sum as SQL — the
    * same left-associated expression tree [[sqSub]] builds, so encoding
    * distances and ADC sums agree bitwise across engines.
    */
  private def sqSubSql(a: String, b: String): String =
    (1 to PqSubDim).map(i => s"($a[$i]-$b[$i])*($a[$i]-$b[$i])")
      .mkString(" + ")

  private def adcTermsSql: String =
    (1 to PqSubspaces).map(m =>
      s"l.lut[${(m - 1) * PqCodewords} + c.codes[$m]]").mkString(" + ")

  /** The persisted-index location the s9 oracle reads — derived from
    * [[oracleDir]] through the SAME [[artifactRoot]] keying the Spark
    * query uses, and [[s9AnnIvfAdc]] writes the index before serving,
    * so the oracle's read_parquet sees exactly the tables the Spark
    * plan served from, at whatever SF the verify run targets.
    */
  private def S9IndexPath = s"${artifactRoot(oracleDir)}/ivfadc"

  def oracles: Map[String, String] = Map(
    // full SQL replay of IVFADC SERVING from the persisted index:
    // nlist/nprobe/rerank derived from the index tables themselves,
    // probe → residual → per-(q,cell) LUT → explicit 8-term ADC →
    // shortlist → exact rerank — every float expression in the same
    // association order as the Spark plan (training stays spec-pinned;
    // serving is cross-engine hash-checked)
    "s9_ann_ivfadc" ->
      s"""WITH cents AS (SELECT cell, cv
         |    FROM read_parquet('$S9IndexPath/centroids/*.parquet')),
         |cb AS (SELECT m, j, cv AS cbv
         |  FROM read_parquet('$S9IndexPath/codebook/*.parquet')),
         |codes AS (SELECT nid, cell, codes
         |  FROM read_parquet('$S9IndexPath/codes/*.parquet')),
         |p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM p WHERE vec_id < 5),
         |par AS (SELECT
         |  CAST(CEIL(sqrt((SELECT count(*) FROM cents))) AS INT) AS np,
         |  GREATEST(50, CAST(CEIL((SELECT count(*) FROM codes) *
         |    CEIL(sqrt((SELECT count(*) FROM cents))) /
         |    ((SELECT count(*) FROM cents) * 50.0)) AS INT)) AS rr),
         |qc AS (SELECT qid, cell, qv FROM (
         |  SELECT q.qid, c.cell, q.qv,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY list_distance(q.qv, c.cv), c.cell) AS crn
         |  FROM q CROSS JOIN cents c) WHERE crn <= (SELECT np FROM par)),
         |r AS (SELECT qid, qc.cell,
         |    list_transform(generate_series(1, $Dim), i -> qv[i] - cv[i])
         |      AS rv
         |  FROM qc JOIN cents ON qc.cell = cents.cell),
         |sv AS (SELECT qid, cell, g.m,
         |    rv[(g.m-1)*$PqSubDim+1:g.m*$PqSubDim] AS sv
         |  FROM r, unnest(generate_series(1, $PqSubspaces)) AS g(m)),
         |pd AS (SELECT s.qid, s.cell, s.m, c.j,
         |    ${sqSubSql("s.sv", "c.cbv")} AS pd
         |  FROM sv s JOIN cb c ON s.m = c.m),
         |lut AS (SELECT qid, cell, list(pd ORDER BY m, j) AS lut
         |  FROM pd GROUP BY qid, cell),
         |sc AS (SELECT l.qid, c.nid, $adcTermsSql AS adc
         |  FROM codes c JOIN lut l ON c.cell = l.cell AND l.qid <> c.nid),
         |sl AS (SELECT qid, nid FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid
         |    ORDER BY adc, nid) AS arn FROM sc)
         |  WHERE arn <= (SELECT rr FROM par)),
         |re AS (SELECT sl.qid, sl.nid, list_distance(q.qv, n.v) AS dist
         |  FROM sl JOIN q USING (qid) JOIN p n ON n.vec_id = sl.nid)
         |SELECT qid, rank, nid, round(dist, 4) AS score FROM (
         |  SELECT qid, nid, dist, row_number() OVER (PARTITION BY qid
         |    ORDER BY dist, nid) AS rank FROM re)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // full SQL replay of the PQ index: subvector split → first-vectors
    // codebook → per-subspace argmin codes → per-query LUT → explicit
    // 8-term ADC sum (identical association order to the Spark side)
    "s8_ann_pq" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS f
         |    FROM embeddings),
         |sv AS (SELECT vec_id, m,
         |    f[(m-1)*$PqSubDim+1:m*$PqSubDim] AS sv
         |  FROM e, unnest(generate_series(1, $PqSubspaces)) AS g(m)),
         |cb AS (SELECT m, (vec_id+1)::INT AS j, sv AS cv FROM sv
         |  WHERE vec_id < $PqCodewords),
         |enc AS (SELECT s.vec_id, s.m, c.j,
         |    ${sqSubSql("s.sv", "c.cv")} AS dist
         |  FROM sv s JOIN cb c ON s.m = c.m),
         |codes AS (SELECT vec_id, list(j ORDER BY m) AS codes FROM (
         |    SELECT vec_id, m, j, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY dist, j) AS rn FROM enc)
         |  WHERE rn = 1 GROUP BY vec_id),
         |lut AS (SELECT vec_id AS qid, list(dist ORDER BY m, j) AS lut
         |  FROM enc WHERE vec_id < 5 GROUP BY vec_id),
         |sc AS (SELECT l.qid, c.vec_id AS nid, $adcTermsSql AS adc
         |  FROM codes c, lut l WHERE l.qid <> c.vec_id)
         |SELECT qid, rank, nid, round(adc, 4) AS adc FROM (
         |  SELECT qid, nid, adc, row_number() OVER (
         |    PARTITION BY qid ORDER BY adc, nid) AS rank FROM sc)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "s1_cosine_topk" ->
      """WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT qid, rank, nid, round(cos, 4) AS cos FROM (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid,
        |    list_cosine_similarity(q.v, c.v) AS cos,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id)
        |      AS rank
        |  FROM p q JOIN p c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "s10_ann_truncated" ->
      s"""WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    (embedding::DOUBLE[])[1:$TruncDim] AS tv FROM embeddings),
         |sl AS (SELECT qid, nid FROM (
         |  SELECT q.vec_id AS qid, n.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(q.tv, n.tv) DESC, n.vec_id)
         |      AS srank
         |  FROM p q JOIN p n ON q.vec_id <> n.vec_id
         |  WHERE q.vec_id < 5) WHERE srank <= $TruncShortlist)
         |SELECT qid, rank, nid, round(cos, 4) AS cos FROM (
         |  SELECT sl.qid, sl.nid,
         |    list_cosine_similarity(q.v, n.v) AS cos,
         |    row_number() OVER (PARTITION BY sl.qid
         |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, sl.nid)
         |      AS rank
         |  FROM sl JOIN p q ON q.vec_id = sl.qid
         |  JOIN p n ON n.vec_id = sl.nid)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "s10b_ann_rotated" ->
      s"""WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |c AS (SELECT j, w FROM
         |  read_parquet('${artifactRoot(oracleDir)}/s10_rotation/*.parquet')),
         |proj AS (SELECT p.vec_id,
         |    list(list_inner_product(p.v, c.w) ORDER BY c.j) AS tv
         |  FROM p CROSS JOIN c GROUP BY p.vec_id),
         |sl AS (SELECT qid, nid FROM (
         |  SELECT q.vec_id AS qid, n.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(q.tv, n.tv) DESC, n.vec_id)
         |      AS srank
         |  FROM proj q JOIN proj n ON q.vec_id <> n.vec_id
         |  WHERE q.vec_id < 5) WHERE srank <= $TruncShortlist)
         |SELECT qid, rank, nid, round(cos, 4) AS cos FROM (
         |  SELECT sl.qid, sl.nid,
         |    list_cosine_similarity(q.v, n.v) AS cos,
         |    row_number() OVER (PARTITION BY sl.qid
         |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, sl.nid)
         |      AS rank
         |  FROM sl JOIN p q ON q.vec_id = sl.qid
         |  JOIN p n ON n.vec_id = sl.nid)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "s2_lsh_buckets" ->
      s"""WITH pl AS (SELECT vec_id AS pid, embedding::DOUBLE[] AS pv
         |  FROM embeddings WHERE vec_id < $NumPlanes)
         |SELECT e.vec_id,
         |  sum(CASE WHEN list_inner_product(e.embedding::DOUBLE[], pl.pv) > 0
         |    THEN (1::BIGINT << pid::INT) ELSE 0 END)::BIGINT AS bucket
         |FROM embeddings e CROSS JOIN pl
         |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin,
    "s3_ann_ivf" ->
      s"""WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c AS (SELECT vec_id + 1 AS cid, embedding::DOUBLE[] AS cv
         |  FROM embeddings WHERE vec_id < ${Clustering.K}),
         |a AS (SELECT vec_id, v, cid AS cell FROM (
         |  SELECT p.vec_id, p.v, c.cid,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY list_distance(p.v, c.cv), c.cid) AS rn
         |  FROM p CROSS JOIN c) WHERE rn = 1)
         |SELECT qid, rank, nid FROM (
         |  SELECT q.vec_id AS qid, n.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_distance(q.v, n.v), n.vec_id) AS rank
         |  FROM a q JOIN a n ON q.cell = n.cell AND q.vec_id <> n.vec_id
         |  WHERE q.vec_id < 5)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "s7_ann_ivf_auto" ->
      s"""WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |nl AS (SELECT GREATEST(${Clustering.K},
         |    CAST(FLOOR(sqrt(count(*) / 5.0)) AS INT)) AS nlist FROM p),
         |c AS (SELECT vec_id + 1 AS cid, v AS cv FROM p
         |  WHERE vec_id < (SELECT nlist FROM nl)),
         |a AS (SELECT vec_id, v, cid AS cell FROM (
         |  SELECT p.vec_id, p.v, c.cid,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY list_distance(p.v, c.cv), c.cid) AS rn
         |  FROM p CROSS JOIN c) WHERE rn = 1)
         |SELECT qid, rank, nid FROM (
         |  SELECT q.vec_id AS qid, n.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_distance(q.v, n.v), n.vec_id) AS rank
         |  FROM a q JOIN a n ON q.cell = n.cell AND q.vec_id <> n.vec_id
         |  WHERE q.vec_id < 5)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // s7's cell structure + the ivfProbesFor(nlist) multi-probe rank
    // per query, with the label predicate applied to the CANDIDATE side
    // before ranking — the pre-filter plan replayed end to end
    "s11_ann_filtered" ->
      s"""WITH p AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |nl AS (SELECT GREATEST(${Clustering.K},
         |    CAST(FLOOR(sqrt(count(*) / 5.0)) AS INT)) AS nlist FROM p),
         |c AS (SELECT vec_id + 1 AS cid, v AS cv FROM p
         |  WHERE vec_id < (SELECT nlist FROM nl)),
         |a AS (SELECT vec_id, v, cid AS cell FROM (
         |  SELECT p.vec_id, p.v, c.cid,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY list_distance(p.v, c.cv), c.cid) AS rn
         |  FROM p CROSS JOIN c WHERE p.label = $S11Label) WHERE rn = 1),
         |pr AS (SELECT vec_id AS qid, v AS qv, cid AS cell FROM (
         |  SELECT p.vec_id, p.v, c.cid,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY list_distance(p.v, c.cv), c.cid) AS rn
         |  FROM p CROSS JOIN c WHERE p.vec_id < 5)
         |  WHERE rn <= LEAST((SELECT nlist FROM nl),
         |    2 * CAST(CEIL(sqrt((SELECT nlist FROM nl))) AS INT)))
         |SELECT qid, rank, nid FROM (
         |  SELECT pr.qid, a.vec_id AS nid,
         |    row_number() OVER (PARTITION BY pr.qid
         |      ORDER BY list_distance(pr.qv, a.v), a.vec_id) AS rank
         |  FROM pr JOIN a ON pr.cell = a.cell
         |  WHERE pr.qid <> a.vec_id)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "s4_embedding_neardup" ->
      s"""WITH $nearDupPairSql
         |SELECT doc_a AS vec_a, doc_b AS vec_b, round(cos, 4) AS cos
         |FROM pairs ORDER BY vec_a, vec_b""".stripMargin,
    "s6_quant_recall" ->
      s"""WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |x AS (SELECT vec_id, i, v[i] AS x
         |  FROM p CROSS JOIN generate_series(1, $Dim) t(i)),
         |st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM x GROUP BY i),
         |d AS (SELECT vec_id, i, x, mn, mx,
         |    CASE WHEN mx = mn THEN 0.0
         |      ELSE round((x - mn) / (mx - mn) * $QuantLevels, 0) END AS code
         |  FROM x JOIN st USING (i)),
         |dd AS (SELECT vec_id, i, x, code,
         |    mn + code * ((mx - mn) / ${QuantLevels.toDouble}) AS dq FROM d),
         |dv AS (SELECT vec_id, list(dq ORDER BY i) AS v FROM dd
         |  GROUP BY vec_id),
         |m AS (SELECT sum(code)::BIGINT AS code_sum,
         |    round(avg(round(abs(x - dq) * 1000000, 0)), 2) AS mae_micro
         |  FROM dd),
         |exact AS (SELECT qid, nid FROM (
         |  SELECT q.vec_id AS qid, n.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_distance(q.v, n.v), n.vec_id) AS rank
         |  FROM p q JOIN p n ON q.vec_id <> n.vec_id
         |  WHERE q.vec_id < 5) WHERE rank <= 5),
         |approx AS (SELECT qid, nid FROM (
         |  SELECT q.vec_id AS qid, n.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_distance(q.v, n.v), n.vec_id) AS rank
         |  FROM dv q JOIN dv n ON q.vec_id <> n.vec_id
         |  WHERE q.vec_id < 5) WHERE rank <= 5),
         |h AS (SELECT count(*) AS n_hit FROM approx
         |  WHERE EXISTS (SELECT 1 FROM exact e
         |    WHERE e.qid = approx.qid AND e.nid = approx.nid)),
         |ne AS (SELECT count(*) AS n_exact FROM exact)
         |SELECT code_sum, mae_micro, n_hit::BIGINT AS n_hit,
         |  n_exact::BIGINT AS n_exact,
         |  round(n_hit * 1.0 / n_exact, 6) AS recall
         |FROM m CROSS JOIN h CROSS JOIN ne""".stripMargin,
    "s5_ann_recall" ->
      s"""WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c AS (SELECT vec_id + 1 AS cid, embedding::DOUBLE[] AS cv
         |  FROM embeddings WHERE vec_id < ${Clustering.K}),
         |a AS (SELECT vec_id, v, cid AS cell FROM (
         |  SELECT p.vec_id, p.v, c.cid,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY list_distance(p.v, c.cv), c.cid) AS rn
         |  FROM p CROSS JOIN c) WHERE rn = 1),
         |qc AS (SELECT p.vec_id AS qid, c.cid AS cell,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY list_distance(p.v, c.cv), c.cid) AS crn
         |  FROM p CROSS JOIN c WHERE p.vec_id < 5),
         |nps AS (SELECT unnest([${ProbeSettings.mkString(", ")}]) AS np),
         |exact AS (SELECT qid, nid FROM (
         |  SELECT q.vec_id AS qid, n.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_distance(q.v, n.v), n.vec_id) AS rank
         |  FROM p q JOIN p n ON q.vec_id <> n.vec_id
         |  WHERE q.vec_id < 5) WHERE rank <= 5),
         |approx AS (SELECT np, qid, nid FROM (
         |  SELECT nps.np, qc.qid, n.vec_id AS nid,
         |    row_number() OVER (PARTITION BY nps.np, qc.qid
         |      ORDER BY list_distance(q.v, n.v), n.vec_id) AS rank
         |  FROM nps CROSS JOIN qc
         |  JOIN a n ON n.cell = qc.cell
         |  JOIN p q ON q.vec_id = qc.qid
         |  WHERE qc.crn <= nps.np AND n.vec_id <> qc.qid)
         |  WHERE rank <= 5),
         |hits AS (SELECT np, count(*) AS n_hit FROM approx
         |  WHERE EXISTS (SELECT 1 FROM exact e
         |    WHERE e.qid = approx.qid AND e.nid = approx.nid)
         |  GROUP BY np)
         |SELECT nps.np, coalesce(hits.n_hit, 0)::BIGINT AS n_hit, n_exact,
         |  round(coalesce(hits.n_hit, 0) * 1.0 / n_exact, 6) AS recall
         |FROM nps LEFT JOIN hits ON hits.np = nps.np
         |CROSS JOIN (SELECT count(*) AS n_exact FROM exact)
         |ORDER BY nps.np""".stripMargin
  )
}
