package graft.functions

import org.apache.spark.sql.functions.{col, length, lit, pmod, size, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core.ClosureSpec.unionFind
import graft.sources.Tables

/** Pipeline-operator behavior that the DuckDB oracle can't see:
  * the multimodal decode batch shape and the dedup pipeline's end-to-end
  * candidate → verify flow.
  */
class PipelineSpec extends AnyFunSuite with SparkTestBase {

  test("multimodal decode: binary in, typed struct out, deterministic") {
    val media = Multimodal.fixtureMedia(spark, sfDir)
    val decoded = Multimodal.decodeAll(media, spark)
    val rows = decoded.collect()
    assert(rows.length === 500)
    assert(rows.forall(_.nBytes > 0))
    // real sniff: text payloads land in "unknown" unless they happen to
    // start with a genuine magic sequence
    assert(rows.forall(m =>
      Set("png", "jpeg", "bmp", "gif", "unknown").contains(m.format)))
    assert(rows.exists(_.format === "unknown"))
    assert(rows.forall(_.feature.length === 8))
    // determinism: same payload → same meta
    val again = Multimodal.decodeAll(media, spark).collect()
    assert(rows.sortBy(_.id).map(_.feature.toSeq).toSeq ===
      again.sortBy(_.id).map(_.feature.toSeq).toSeq)
  }

  test("multimodal frame-sample explodes rows per layout; resize clamps") {
    import spark.implicits._
    val media = Multimodal.fixtureMedia(spark, sfDir)
    val frames = Multimodal.frameSample(media, spark).collect()
    // every sampled index respects the stride, features are per-frame
    assert(frames.nonEmpty)
    assert(frames.forall(_.frameIdx % Multimodal.FrameEvery === 0))
    assert(frames.forall(f => f.nBytes > 0 && f.nBytes <= Multimodal.FrameSize))
    assert(frames.forall(_.feature.length === 8))
    // count law per media item: ceil(ceil(bytes/size)/every)
    val byId = frames.groupBy(_.id).view.mapValues(_.length).toMap
    val sizes = media.select(col("id"), length(col("payload")))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    sizes.foreach { case (id, n) =>
      val nf = (n + Multimodal.FrameSize - 1) / Multimodal.FrameSize
      val ns = (nf + Multimodal.FrameEvery - 1) / Multimodal.FrameEvery
      assert(byId.getOrElse(id, 0) === ns, s"media $id: $n bytes")
    }
    // empty payload → zero frames (not a crash, not a phantom frame)
    val empty = Seq((99L, Array.empty[Byte])).toDF("id", "payload")
    assert(Multimodal.frameSample(empty, spark).count() === 0L)
    // resize clamps into the box and never upscales
    val resized = Multimodal.resizeAll(
      Multimodal.decodeAll(media, spark), spark, maxW = 96, maxH = 96)
      .collect()
    assert(resized.forall(m => m.width <= 96 && m.height <= 96))
    val orig = Multimodal.decodeAll(media, spark)
      .collect().map(m => m.id -> m).toMap
    assert(resized.forall(m =>
      m.width <= orig(m.id).width && m.height <= orig(m.id).height))
  }

  test("dedup pipeline: LSH candidates cover the true near-duplicates") {
    // ground truth: token-set jaccard >= 0.99 pairs among first 100 docs
    val truth = Dedup.d5JaccardPairs(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("jac") >= 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val candidates = Dedup.d3LshPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain near-duplicate docs")
    // The per-bucket cap means a true pair need not be a DIRECT candidate
    // (overflow docs attach via star edges) — the capped guarantee is that
    // every true near-dup pair lands in the same CONNECTED COMPONENT of
    // the candidate graph, which is what transitive-closure dedup uses.
    val root = unionFind(candidates)
    val disconnected = truth.filterNot { case (a, b) => root(a) == root(b) }
    assert(disconnected.isEmpty, s"disconnected: ${disconnected.take(5)}")
  }

  test("p10 composes the production order: reps of p1, budget semantics hold") {
    val p1Reps = Dedup.p1CorpusCuration(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val rows = Dedup.p10PipelineE2e(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    // every selected doc is a p1 representative (gates + closure are
    // THE same stages, so the universes must agree)
    assert(rows.map(_._1).toSet.subsetOf(p1Reps))
    // budget rule: every kept row's prefix fits; rows are doc-ordered
    assert(rows.forall(_._4 < Curation.SelectBudget))
    // span removal ran BEFORE scoring: no kept row counts more tokens
    // than its raw representative had
    val rawTokens = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(TextAnalysis.tokensCol(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.forall { case (id, _, n, _) => n <= rawTokens(id) })
  }

  test("p11 learned pipeline: gates discard real tails, survivors nest") {
    // the learned gates, recomputed from the same served faces p11 uses
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val qKept = QualityModel.p7QualityScore(spark, sfDir)
      .where(col("quality") >= Dedup.LearnedQualityGate)
      .collect().map(_.getLong(0)).toSet
    // both gates must DISCARD something — a threshold that keeps
    // everything is not a gate (the CCNet move is dropping tails)
    assert(qKept.nonEmpty && qKept.size < nDocs,
      s"quality gate kept ${qKept.size}/$nDocs")
    val qg = docs.where(col("doc_id").isin(qKept.toSeq: _*))
    val lmKept = TextAnalysis.lmScore2(qg)
      .where(col("avg_surprisal2") <= Dedup.LearnedSurpGate)
      .collect().map(_.getLong(0)).toSet
    assert(lmKept.nonEmpty && lmKept.size < qKept.size,
      s"LM gate kept ${lmKept.size}/${qKept.size}")
    val rows = Dedup.p11PipelineLearned(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    val lmPath = s"${Similarity.artifactRoot(sfDir)}/p11_lm"
    assert(jobsDuring(Dedup.writeP11LmModel(spark, sfDir, lmPath)) === 0,
      "serving wrote the LM; writing it again is a memo hit")
    // every selected doc survived BOTH learned gates (subset law)
    assert(rows.map(_._1).toSet.subsetOf(lmKept))
    // and the p10 budget semantics hold unchanged on the learned chain
    assert(rows.forall(_._4 < Curation.SelectBudget))
    val rawTokens = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(TextAnalysis.tokensCol(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.forall { case (id, _, n, _) => n <= rawTokens(id) })
  }

  test("d10 auto banding: coarser threshold yields coarser components") {
    // the derived layout for the moderate-overlap target
    assert(Dedup.minhashBandsFor(Dedup.NumHashes, Dedup.D10TargetJaccard)
      === (4, 2))
    // structural containment: band boundaries align (2-row bands are
    // halves of 4-row bands), so docs sharing a d3 bucket share both
    // covering d10 buckets — every d3-connected pair must be
    // d10-connected, i.e. lowering the threshold can only MERGE
    // duplicate groups, never split them (capped emission preserves
    // within-bucket connectivity by the star construction)
    val d3 = Dedup.d3LshPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d10 = Dedup.d10LshAuto(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val root10 = unionFind(d10)
    val split = d3.filterNot { case (a, b) => root10(a) == root10(b) }
    assert(split.isEmpty, s"pairs split by the looser layout: ${split.take(5)}")
    // and the looser S-curve admits more candidates on the fixture
    assert(d10.size > d3.size)
  }

  test("d3 bucket cap: synthetic 1000-dup bucket emits O(cap²+n) not O(n²)") {
    import spark.implicits._
    val n = 1000
    // one degenerate bucket: 1000 docs sharing both bands
    val bands = (0 until Dedup.NumHashes / Dedup.BandSize).flatMap { b =>
      (0L until n).map(id => (id, b, "samekey"))
    }.toDF("doc_id", "band", "key")
    val pairs = Dedup.bucketedPairs(bands)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cap = Dedup.MaxBucket
    val expected = cap * (cap - 1) / 2 + (n - cap) // clique + star
    assert(pairs.length === expected)                 // 2,952 « 499,500
    assert(pairs.length < n * (n - 1) / 20, "must not approach O(n²)")
    // every doc stays transitively connected to the duplicate group
    val root = unionFind(pairs.toSet)
    assert((0L until n).map(root).toSet.size === 1)
    // small buckets still emit the exact all-pairs clique
    val small = (0L until 5L).map(id => (id, 0, "k")).toDF("doc_id", "band", "key")
    assert(Dedup.bucketedPairs(small).count() === 10)
  }

  test("IVF ANN recall vs brute force is high on clustered fixture") {
    val exact = Similarity.s1CosineTopk(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // euclid-based IVF vs cosine ground truth differ in metric, so compare
    // against euclid brute force instead: rebuild from c9-style ranking
    val ivf = Similarity.s3AnnIvf(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf.nonEmpty)
    // every query answered with 5 in-cell neighbors
    assert(ivf.groupBy(_._1).forall(_._2.size == 5))
    assert(exact.nonEmpty)
    // multi-probe: recall is non-decreasing in nprobe (1 → 5 → 10)
    val recalls = Similarity.s5AnnRecall(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getDouble(3))).toSeq
    assert(recalls.map(_._1) === Similarity.ProbeSettings)
    assert(recalls.sliding(2).forall(p => p.head._2 <= p.last._2),
      s"recall not monotone: $recalls")
  }

  test("auto IVF: ivfCellsFor derivation + fixture fixed point equals s3") {
    val K = graft.operators.Clustering.K
    // the rule is nlist = max(K, floor(sqrt(n/5))): fixture fixed point
    // and the boundary values either side of it
    assert(Similarity.ivfCellsFor(1L) === K)
    assert(Similarity.ivfCellsFor(500L) === K) // sf0.01: sqrt(100) = 10 = K
    assert(Similarity.ivfCellsFor(5 * 241L) === 15) // sqrt(241) = 15.52…
    assert(Similarity.ivfCellsFor(2000L) === 20) // sf0.1: sqrt(400)
    assert(Similarity.ivfCellsFor(20000L) === 63) // x10: sqrt(4000)
    assert(Similarity.ivfCellsFor(200000L) === 200) // x100: sqrt(40000)
    // monotone non-decreasing across the decades
    val seq = (1L to 60L).map(k => Similarity.ivfCellsFor(k * 5000))
    assert(seq === seq.sorted)
    // at the fixture the derived nlist IS K and the centroid convention
    // (first nlist vectors) IS s3's, so the broadcast-table index must
    // reproduce s3's literal-codegen index row-for-row — the fixed-point
    // contract that keeps the s3 oracle family unchanged
    val s3 = Similarity.s3AnnIvf(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val s7 = Similarity.s7AnnIvfAuto(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(s7 === s3, "auto IVF diverged from s3 at the fixed point")
  }

  test("auto IVF probing: nprobe rule fixed point, recall rises with nprobe") {
    val K = graft.operators.Clustering.K
    // recall-targeted rule nprobe = ⌈√nlist⌉ (r11 — derived from the
    // measured hard-query curves, see the ivfProbesFor scaladoc); the
    // oracle-checked s7 query itself still pins nprobe = 1, so the
    // s7 ≡ s3 fixture fixed point is untouched by this rule
    assert(Similarity.ivfProbesFor(K) === 4) // ⌈√10⌉
    assert(Similarity.ivfProbesFor(63) === 8) // x10
    assert(Similarity.ivfProbesFor(200) === 15) // x100
    assert(Similarity.ivfProbesFor(1) === 1)
    // on the fixture: multi-probe recall (sampled over every 5th vector,
    // 100 queries) is monotone from nprobe 1 → nlist/K·K = full probe;
    // nprobe = nlist degenerates to exact brute force (recall 1.0)
    val r1 = Similarity.ivfSampledRecall(spark, sfDir, 1, step = 5L)
    val r5 = Similarity.ivfSampledRecall(spark, sfDir, 5, step = 5L)
    val rAll = Similarity.ivfSampledRecall(spark, sfDir, K, step = 5L)
    // the floor is deliberately loose: over a RANDOM sample single-probe
    // recall is far below s5's 0.92 (whose vec_id < 5 queries are the
    // centroids themselves) — 0.27 measured here; the curve, not the
    // single point, is the index's contract, and ScaleBench's ivfauto
    // mode measures both points at each decade
    assert(r1 > 0.1 && r1 <= r5 && r5 <= rAll,
      s"recall not monotone in nprobe: $r1 / $r5 / $rAll")
    assert(rAll === 1.0, s"full probe must be exact, got $rAll")
  }

  test("s4 bucket-pair histogram count equals the joined cardinality") {
    // the O(n) diagnostic ScaleBench's ivfauto mode records per decade
    // must equal the ordered-pair cardinality the bucket self-join
    // would actually emit (the GlobalNeighborsSpec discipline)
    import org.apache.spark.sql.functions.col
    val hist = Similarity.nearDupCandidatePairs(spark, sfDir)
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val b = e.select(col("vec_id"),
      Similarity.bucketExpr(spark, sfDir, Similarity.NearDupPlanes)
        .as("bucket"))
    val joined = b.join(
        b.select(col("bucket"), col("vec_id").as("y")), Seq("bucket"))
      .where(col("vec_id") =!= col("y")).count()
    assert(hist === joined, s"histogram $hist != joined $joined")
    assert(hist > 0)
  }

  test("d7 capped emission equals the uncapped pair set on the fixture") {
    import org.apache.spark.sql.functions._
    // the cap-must-not-change-groups contract (VERDICT r10 §next-2): no
    // fixture bucket overflows MaxBucket, so the capped candidate set —
    // and hence the verified edge set d7 propagates over — is IDENTICAL
    // to the uncapped form's; the d7 oracle stays byte-unchanged here
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_a"), col("vec_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairSet(Similarity.nearDupPairsCapped(spark, sfDir))
    val uncapped = pairSet(Similarity.nearDupPairs(spark, sfDir))
    assert(capped === uncapped)
    assert(capped.nonEmpty)
    // ...explained by the bucket occupancy, asserted explicitly
    val maxBucket = graft.sources.Tables.embeddings(spark, sfDir)
      .groupBy(Similarity.bucketExpr(spark, sfDir, Similarity.NearDupPlanes)
        .as("bucket"))
      .agg(count(lit(1)).as("c")).agg(max(col("c"))).head().getLong(0)
    assert(maxBucket <= Dedup.MaxBucket,
      s"fixture bucket of $maxBucket overflows the cap — the equality " +
        "above would no longer be structural")
  }

  test("capped candidate histogram matches the emitted candidates (overflow)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // synthetic 70-id bucket exercises the overflow arithmetic the
    // fixture can't reach: clique over the 64 smallest = C(64,2) = 2016
    // unordered pairs + 6 star edges = 2022; the O(n) histogram formula
    // counts ordered pairs, m·(m−1) + 2·(c−m) = 4032 + 12 = 4044
    val buckets = Seq((0L until 70L).toArray)
      .toDF("ids").select(array_sort(col("ids")).as("ids"))
    val emitted = Dedup.pairsFromBuckets(buckets).count()
    assert(emitted === 2022L)
    val m = math.min(70L, Dedup.MaxBucket.toLong)
    assert(m * (m - 1) + 2 * (70L - m) === 2 * emitted)
  }

  test("hard queries: deterministic, id-disjoint, genuinely displaced") {
    val h1 = Similarity.hardQueries(spark, sfDir, 5L).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).sortBy(_._1)
    val h2 = Similarity.hardQueries(spark, sfDir, 5L).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).sortBy(_._1)
    assert(h1.toSeq === h2.toSeq, "hash-derived displacement must replay")
    assert(h1.nonEmpty)
    // ids live in the out-of-corpus range: the ranking's qid ≠ nid
    // self-exclusion never fires for a displaced query
    assert(h1.forall(_._1 >= Similarity.HardQueryIdOffset))
    // every query is genuinely displaced from its origin vector
    val origin = graft.sources.Tables.embeddings(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getSeq[Double](r.fieldIndex("features")).toSeq)).toMap
    assert(h1.forall { case (qid, v) =>
      v != origin(qid - Similarity.HardQueryIdOffset)
    })
  }

  test("trained quantizer: deterministic, tighter cells, exact at full probe") {
    val n = graft.sources.Tables.embeddings(spark, sfDir).count()
    val nlist = Similarity.ivfCellsFor(n)
    // memoized seeded k-means: two calls return the identical table
    def cents() = Similarity.coarseCentroids(spark, sfDir, nlist,
        trained = true)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    assert(cents() === cents())
    assert(cents().length === nlist)
    // trained cells are tighter than first-vectors cells on the
    // clustered fixture — the geometric fact that makes the trained
    // quantizer the production recommendation
    val rFirst = Similarity.meanCellRadius(spark, sfDir, 5L, trained = false)
    val rKq = Similarity.meanCellRadius(spark, sfDir, 5L, trained = true)
    assert(rKq > 0.0 && rKq < rFirst, s"kq radius $rKq vs first $rFirst")
    // hard-query recall against the trained index: monotone in nprobe,
    // exact at full probe (every cell probed = brute force)
    val curve = Similarity.ivfRecallCurve(spark, sfDir,
      Similarity.hardQueries(spark, sfDir, 5L),
      Seq(1, math.ceil(math.sqrt(nlist.toDouble)).toInt, nlist)
        .distinct.sorted,
      trained = true)
    assert(curve.sliding(2).forall(p => p.head._2 <= p.last._2),
      s"kq recall not monotone: $curve")
    assert(curve.last._2 === 1.0, s"full probe must be exact: $curve")
  }

  test("recall curve on hard queries: exact-once denominator, monotone") {
    val nlist = Similarity.ivfCellsFor(
      graft.sources.Tables.embeddings(spark, sfDir).count())
    val grid = Seq(1, math.ceil(math.sqrt(nlist.toDouble)).toInt, nlist)
      .distinct.sorted
    val curve = Similarity.ivfRecallCurve(spark, sfDir,
      Similarity.hardQueries(spark, sfDir, 5L), grid)
    assert(curve.map(_._1) === grid)
    // recall is monotone in nprobe, and the full probe (every cell) is
    // exact by construction even for out-of-corpus queries
    assert(curve.sliding(2).forall(p => p.head._2 <= p.last._2),
      s"recall not monotone: $curve")
    assert(curve.last._2 === 1.0, s"full probe must be exact: $curve")
  }

  test("s12 kNN graph: contiguous ranks, Conn over the graph equals c21") {
    import graft.operators.Clustering
    val graph = Clustering.s12KnnGraph(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // per-point ranks are contiguous from 1, bounded by L, no self edges
    graph.groupBy(_._1).foreach { case (xi, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1 to rows.length))
      assert(rows.length <= Clustering.L)
      assert(rows.forall(_._3 != xi))
    }
    // cross-operator law: Conn recomputed from the GRAPH plus the c1
    // assignment equals c21's hash-checked conn_lsh — the reduction c21
    // performs is exactly a fold over these rows
    val cluster = Clustering.c1Assign(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val conn = graph.map { case (xi, rnk, yi) =>
      if (cluster(xi) == cluster(yi)) 1.0 / rnk else 0.0
    }.sum
    val c21 = Clustering.c21ConnLsh(spark, sfDir).collect()(0)
    assert(math.abs(conn - c21.getDouble(0)) < 1e-3,
      s"graph-fold Conn $conn != c21 ${c21.getDouble(0)}")
    // fixed point: at the fixture size lshPlanesFor returns the pinned
    // layout, so the production auto face IS the oracle face (the
    // connLshAuto pin, restated for the graph artifact)
    val auto = Clustering.s12KnnGraphAuto(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(auto.toSeq === graph.sorted.toSeq,
      "s12KnnGraphAuto must equal the pinned-layout graph at fixture size")
  }

  test("s13 graph clusters: driver union-find twin, mutuality, fixed point") {
    import graft.operators.Clustering
    val comp = Clustering.s13GraphClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // independent algorithm twin: union-find over the mutual-m edges of
    // the collected s12 graph must produce the identical labeling
    val edges = Clustering.s12KnnGraph(spark, sfDir).collect()
      .filter(_.getInt(1) <= Clustering.S13MutualRank)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val mutual = edges.filter { case (x, y) => x < y && edges((y, x)) }
    val parent = scala.collection.mutable.Map(comp.keys.map(k => k -> k).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    mutual.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    // path-compress to the min-id root (union by min keeps roots minimal)
    val twin = comp.keys.map(k => k -> find(k)).toMap
    assert(twin === comp, "union-find twin disagrees with propagation")
    // mutuality law: some candidate pairs must be asymmetric-only and
    // therefore possibly split; every mutual pair must co-label
    mutual.foreach { case (x, y) =>
      assert(comp(x) === comp(y), s"mutual pair ($x,$y) split") }
    // structure law: shallow mutuality must NOT percolate — the corpus
    // resolves into many components with singletons present (at
    // mutual-L the fixture collapses to one 497-member giant; the
    // rank-2 rule is what makes the labeling informative)
    val sizes = comp.values.groupBy(identity).map(_._2.size)
    assert(mutual.nonEmpty && sizes.size > 100 && sizes.count(_ == 1) > 50
        && sizes.max < 50,
      s"unexpected component structure: ${sizes.size} comps, max ${sizes.max}")
    // fixed point: the auto face equals the pinned face at fixture size
    val auto = Clustering.s13GraphClustersAuto(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(auto === comp,
      "s13GraphClustersAuto must equal the pinned face at fixture size")
  }

  test("s14 graph index: self-serve fixed point, held-out assignments " +
      "land in stored components") {
    import graft.operators.Clustering
    val path = java.nio.file.Files.createTempDirectory("s14_idx")
      .toString + "/graph"
    val pts = graft.sources.Tables.labeledPoints(spark, sfDir)
      .select(col("id"), col("features"))
    val base = pts.where(
      pmod(col("id"), lit(Clustering.S14Mod)) =!= lit(Clustering.S14Res))
    Clustering.writeKnnGraphIndexOf(spark, base,
      Clustering.LshPlanes, path, s"pipespec->$path")
    val stored = spark.read.parquet(s"$path/points")
      .select(col("id"), col("component")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // fixed point: re-serving the indexed corpus through its own store
    // returns every point's own stored component (each point's nearest
    // candidate at distance 0 is itself, or an exact duplicate inside
    // the same dist-0 mutual component)
    val self = Clustering.assignFromGraphIndex(base, path).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    self.foreach { case (id, comp) =>
      assert(comp === stored(id), s"self-serve moved $id to $comp") }
    assert(self.length === stored.size)
    // held-out serving: every delta id gets a row; a row's component is
    // a stored component (nearest-candidate inheritance) unless it had
    // no bucket collision, in which case it minted its own id
    val delta = pts.where(
      pmod(col("id"), lit(Clustering.S14Mod)) === lit(Clustering.S14Res))
    val served = Clustering.assignFromGraphIndex(delta, path).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
    assert(served.length === delta.count())
    val storedComps = stored.values.toSet
    served.foreach { case (id, nb, comp) =>
      nb match {
        case Some(n) =>
          assert(comp === stored(n), s"$id inherited $comp != stored($n)")
        case None =>
          assert(comp === id, s"collision-less $id minted $comp, not itself")
      }
    }
    assert(served.exists(_._2.isDefined),
      "fixture delta must collide with the store somewhere")
    assert(storedComps.nonEmpty)
    // plan audit of the per-batch SERVE face (the PlanAuditSpec gate
    // skips s14's registered face as iterative because of the in-query
    // index build; the serve plan is static and must stay clean): the
    // candidate probe is a (tbl, bucket) equi-join, never a cartesian
    val physical = Clustering.assignFromGraphIndex(delta, path)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
    assert(!physical.contains("CartesianProduct") &&
      !physical.contains("BroadcastNestedLoopJoin"),
      s"serve plan grew a cartesian-shaped join:\n$physical")
  }

  test("s14 append: existing rows immutable, appended labels serve back, " +
      "a later batch inherits through an appended row") {
    import graft.operators.Clustering
    val path = java.nio.file.Files.createTempDirectory("s14_app")
      .toString + "/graph"
    val pts = graft.sources.Tables.labeledPoints(spark, sfDir)
      .select(col("id"), col("features"))
    val base = pts.where(
      pmod(col("id"), lit(Clustering.S14Mod)) =!= lit(Clustering.S14Res))
    Clustering.writeKnnGraphIndexOf(spark, base,
      Clustering.LshPlanes, path, s"appspec->$path")
    def storeRows() = spark.read.parquet(s"$path/points")
      .select(col("id"), col("component")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val before = storeRows()
    val delta = pts.where(
      pmod(col("id"), lit(Clustering.S14Mod)) === lit(Clustering.S14Res))
    val assignedPre = Clustering.assignFromGraphIndex(delta, path)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    Clustering.appendToGraphIndex(delta, path)
    val after = storeRows()
    // immutability: every pre-append row kept its RAW component
    // verbatim (the stitch never rewrites stored rows — merges live in
    // the component_map side table alone)
    before.foreach { case (id, c) =>
      assert(after(id) === c, s"append mutated stored row $id") }
    // the appended rows carry their pre-append assignment rewritten
    // through the stitch map the append itself produced (the map is
    // empty pre-append, so assignedPre IS the raw argmin)
    val canon: Map[Long, Long] = Clustering
      .readComponentMap(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assignedPre.foreach { case (id, c) =>
      val expect = canon.getOrElse(c, c)
      assert(after(id) === expect,
        s"appended $id stored ${after(id)} != canon($c) = $expect") }
    // every stitch-map key is an existing store component, and every
    // canonical target is itself unmapped (the closure is transitive)
    val storeComps = before.values.toSet ++ assignedPre.values.toSet
    canon.foreach { case (from, to) =>
      assert(storeComps.contains(from), s"map key $from not a component")
      assert(!canon.contains(to), s"canon $to is itself remapped") }
    // serving an appended id now self-matches its stored component
    // (already canonical — the serve face applies the same map)
    val reServed = Clustering.assignFromGraphIndex(delta, path)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    reServed.foreach { case (id, c) => assert(c === after(id)) }
    // storeComponents (the canonical partition) = raw labels ∘ map
    Clustering.storeComponents(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .foreach { case (id, c) =>
        assert(c === canon.getOrElse(after(id), after(id)),
          s"storeComponents($id) = $c diverged from raw∘map") }
    // chain growth: an exact twin of an appended vector (new id) must
    // inherit THROUGH the appended row — dist 0 to it, and to nothing
    // else, since the twin's original is held out of the base store
    import spark.implicits._
    val seedId = assignedPre.keys.min
    val seedVec = delta.where(col("id") === seedId)
      .collect()(0).getSeq[Double](1)
    val twin = Seq((seedId + 1000000L, seedVec)).toDF("id", "features")
    val twinServed = Clustering.assignFromGraphIndex(twin, path).collect()(0)
    assert(twinServed.getLong(1) === seedId,
      "twin's nearest candidate must be the appended row itself")
    assert(twinServed.getLong(2) === after(seedId),
      "twin must inherit the appended row's component")
  }

  test("stitch rejoins a duplication chain severed by a held-out gap; " +
      "the frozen append stays fragmented") {
    // The x100 staleness mechanism in miniature (VERDICT r17 next-1):
    // a 40-point chain v_i = base + i·δ whose mutual-rank-2 graph is
    // the path 0—1—…—39. Holding out the middle {18..21} severs it
    // into two base components; the arrivals land IN the gap, and the
    // stitch must observe the co-candidacy and merge the sides —
    // while the stitch-off twin reproduces the frozen fragmentation.
    import graft.operators.Clustering
    import spark.implicits._
    val d = 0.01
    val chain = (0 until 40).map(i =>
      (i.toLong, Seq(5.0 + i * d, 5.0, 5.0, 5.0)))
    val gap = Set(18L, 19L, 20L, 21L)
    val base = chain.filterNot(p => gap(p._1)).toDF("id", "features")
    val arrivals = chain.filter(p => gap(p._1))
    def buildAndAppend(tag: String, stitch: Boolean): String = {
      val path = java.nio.file.Files.createTempDirectory(tag)
        .toString + "/graph"
      Clustering.writeKnnGraphIndexOf(spark, base,
        Clustering.LshPlanes, path, s"$tag->$path")
      // base must actually be severed: two chain-side components
      val baseComps = spark.read.parquet(s"$path/points")
        .select(col("component")).distinct().count()
      assert(baseComps === 2,
        s"severed chain must build 2 base components, got $baseComps")
      // the gap arrives ONE POINT PER BATCH (the staleness protocol's
      // sequential-append shape — an intra-batch pair can't see each
      // other, only the store)
      arrivals.foreach { case (id, v) =>
        Clustering.appendToGraphIndex(
          Seq((id, v)).toDF("id", "features"), path, stitch = stitch)
      }
      path
    }
    val stitched = buildAndAppend("stitch_on", stitch = true)
    val comps = Clustering.storeComponents(spark, stitched).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps.size === 40)
    assert(comps.values.toSet === Set(0L),
      s"stitched chain must be ONE canonical component, " +
        s"got ${comps.values.toSet}")
    // serving any chain member returns the canonical label
    val serveDf = Clustering.assignFromGraphIndex(
      Seq((900L, Seq(5.0 + 39 * d, 5.0, 5.0, 5.0))).toDF("id", "features"),
      stitched)
    // the map-applying serve stays clean: no window, no cartesian —
    // the remap is one (broadcastable) left join over the graph-sized
    // map, never a store-shaped plan change
    val physical = serveDf.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(!physical.contains("CartesianProduct") &&
      !physical.contains("BroadcastNestedLoopJoin"),
      s"stitched serve plan grew a cartesian-shaped join:\n$physical")
    assert(serveDf.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isEmpty, "stitched serve plan must carry no window")
    val served = serveDf.collect()(0)
    assert(served.getLong(2) === 0L,
      "serve must return the canonical merged label")
    // correctness of the merge: the closure over base+gap at the BASE
    // layout is also one component (the stitch found a real chain, it
    // did not invent one)
    val full = chain.toDF("id", "features")
      .select(col("id"), col("features"), lit(0).as("cluster"))
    val planes = Clustering.planeRowsOf(base,
      Clustering.LshPlanes, Clustering.LshTables)
    val (g, orph) = Clustering.cappedGraphWithOrphans(full, planes,
      Clustering.LshPlanes, Clustering.LshTables, Clustering.GraphBuildCap)
    val freshComps = Clustering.mutualComponents(
      chain.map(_._1).toDF("id"),
      g.select(col("xi"), col("rnk").as("rank"), col("yi")),
      orphans = Some(orph)).collect().map(_.getLong(1)).toSet
    assert(freshComps === Set(0L),
      "rebuild at the base layout must agree the chain is one component")
    // the frozen twin: same arrivals, stitch off — the gap rows only
    // inherit, so the severed sides stay separate components
    val frozen = buildAndAppend("stitch_off", stitch = false)
    val frozenComps = Clustering.storeComponents(spark, frozen)
      .collect().map(_.getLong(1)).toSet
    assert(frozenComps.size >= 2,
      s"frozen append must stay fragmented, got $frozenComps")
    assert(!new java.io.File(s"$frozen/component_map").exists(),
      "stitch-off append must not write a component map")
  }

  test("stitch refuses on an uncertified store: inflated threshold " +
      "fidelity degrades the append to frozen form") {
    // the x1000 finding (SCALE.md §r19): a store whose capped view
    // hides its near mass carries inflated r2dist thresholds, and
    // stitching through them percolates cross-cluster merges. The
    // build samples its own blindness into stitch_fidelity/; above
    // StitchFidelityMax the append must NOT write a map — even when
    // the arrivals would legitimately gate on a faithful store.
    import graft.operators.Clustering
    import spark.implicits._
    val d = 0.01
    val chain = (0 until 40).map(i =>
      (i.toLong, Seq(5.0 + i * d, 5.0, 5.0, 5.0)))
    val gap = Set(18L, 19L, 20L, 21L)
    val base = chain.filterNot(p => gap(p._1)).toDF("id", "features")
    val path = java.nio.file.Files.createTempDirectory("stitch_refuse")
      .toString + "/graph"
    Clustering.writeKnnGraphIndexOf(spark, base,
      Clustering.LshPlanes, path, s"refusespec->$path")
    // the real certificate on this faithful fixture must be ~1 (the
    // cap never binds, so stored == true by construction)
    val cert = spark.read.parquet(s"$path/stitch_fidelity").collect()(0)
    assert(cert.getDouble(0) <= Clustering.StitchFidelityMax,
      s"faithful fixture certified ${cert.getDouble(0)} — the chain " +
        "spec's stitch would be spuriously disabled")
    // forge a blind certificate and append the gap: no map may appear
    Seq((10.0, 512L)).toDF("inflation_p50", "n_sample")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$path/stitch_fidelity")
    chain.filter(p => gap(p._1)).foreach { case (id, v) =>
      Clustering.appendToGraphIndex(
        Seq((id, v)).toDF("id", "features"), path, stitch = true)
    }
    assert(!new java.io.File(s"$path/component_map").exists(),
      "an uncertified store must not stitch")
    // and the frozen chain stays fragmented, as stitch-off semantics say
    val comps = Clustering.storeComponents(spark, path)
      .collect().map(_.getLong(1)).toSet
    assert(comps.size >= 2)
  }

  test("stitch safety on fixture geometry: merges only what a rebuild " +
      "at the base layout co-locates") {
    // the no-overmerge law (VERDICT r17 next-1 'Done' clause): every
    // component pair the stitch merges must be co-located by the
    // mutual-kNN closure over base + arrivals at the SAME layout —
    // fresh is computable at fixture scale
    import graft.operators.Clustering
    import spark.implicits._
    val pts = graft.sources.Tables.labeledPoints(spark, sfDir)
      .select(col("id"), col("features"))
    val base = pts.where(
      pmod(col("id"), lit(Clustering.S14Mod)) =!= lit(Clustering.S14Res))
    val arrivals = pts.where(
      pmod(col("id"), lit(Clustering.S14Mod)) === lit(Clustering.S14Res))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).take(8)
    val path = java.nio.file.Files.createTempDirectory("stitch_safe")
      .toString + "/graph"
    Clustering.writeKnnGraphIndexOf(spark, base,
      Clustering.LshPlanes, path, s"safespec->$path")
    arrivals.foreach { case (id, v) =>
      Clustering.appendToGraphIndex(
        Seq((id, v)).toDF("id", "features"), path)
    }
    val canon = Clustering.readComponentMap(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(canon.nonEmpty,
      "fixture arrivals must trigger at least one stitch merge " +
        "(otherwise this spec is vacuous)")
    // fresh closure over base + arrivals at the BASE planes
    val planes = Clustering.planeRowsOf(base,
      Clustering.LshPlanes, Clustering.LshTables)
    val arrDf = arrivals.toSeq.toDF("id", "features")
    val full = base.unionByName(arrDf)
      .select(col("id"), col("features"), lit(0).as("cluster"))
    val (g, orph) = Clustering.cappedGraphWithOrphans(full, planes,
      Clustering.LshPlanes, Clustering.LshTables, Clustering.GraphBuildCap)
    val fresh = Clustering.mutualComponents(
      full.select(col("id")),
      g.select(col("xi"), col("rnk").as("rank"), col("yi")),
      orphans = Some(orph)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // raw store labels per point (pre-map), to find each merged
    // component's members
    val raw = spark.read.parquet(s"$path/points")
      .select(col("id"), col("component")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val members = raw.groupBy(_._2).map { case (c, xs) =>
      c -> xs.map(_._1).toSeq }
    // the law, stated witness-wise: a stitch merge is evidence the
    // chains CONNECT through the arrival region, so the rebuild must
    // co-locate at least one member of each side (both reachable
    // through the witness arrival). It is NOT "all members share one
    // fresh label": the rebuild may itself SPLIT a base component
    // (arrivals displace rank-2 edges, breaking old mutual pairs) —
    // that is frozen-neighborhood drift, already measured by the
    // staleness protocol, not a stitch defect.
    canon.foreach { case (from, to) =>
      val common = members(from).map(fresh).toSet
        .intersect(members(to).map(fresh).toSet)
      assert(common.nonEmpty,
        s"stitch merged $from into $to but the rebuild keeps EVERY " +
          "member pair separate — the merge had no valid witness")
    }
  }

  test("fidelity certificate catches a half-starved store by its TAIL: " +
      "p50 certifies, p90 refuses, append degrades to frozen") {
    // VERDICT r19 next-3 / ADVICE r19: starvation needs only a
    // minority of blind rows, and the x1000 evidence was p50 1.02 /
    // p90 2.82 — a median-only gate stitches a store whose starved
    // tail percolates merges. Fixture: ONE sign bucket (all-positive
    // features make every data-derived dot positive at any plane
    // count, so the fidelity walk cannot steer it faithful either),
    // serve cap 8. Under the r20 HASH-ordered prefix, starvation is a
    // property of bucket MASS: the prefix is an unbiased 8-row sample
    // of the 260-row bucket, so the 200-copy location A keeps ~6
    // prefix slots (capped rank-2 = 0 = truth, ratio 1 — the faithful
    // 77%), while each RARE location (15 locations × 4 exact copies,
    // mutually far) almost surely lands < 2 copies in the prefix —
    // true rank-2 = 0 (its own twins), capped rank-2 = distance to
    // the prefix mass: the starved 23% tail. The median certifies,
    // the tail must refuse.
    import graft.operators.Clustering
    import spark.implicits._
    val a = Seq(5.0, 5.0, 5.0, 5.0)
    val faithful = (0 until 200).map(i => (i.toLong, a))
    val rare = (0 until 15).flatMap { j =>
      val loc = Seq(50.0 + 10.0 * j, 50.0, 50.0, 50.0)
      (0 until 4).map(k => (1000L + 4 * j + k, loc))
    }
    val corpus = (faithful ++ rare).toDF("id", "features")
    val path = java.nio.file.Files.createTempDirectory("halfstarved")
      .toString + "/graph"
    Clustering.writeKnnGraphIndexOf(spark, corpus,
      Clustering.LshPlanes, path, s"halfstarved->$path", cap = 8)
    val df = spark.read.parquet(s"$path/stitch_fidelity")
    val r = df.collect()(0)
    def d(n: String): Double = r.getDouble(df.columns.indexOf(n))
    assert(d("inflation_p50") <= Clustering.StitchFidelityMax,
      s"faithful majority must certify the median, got " +
        s"${d("inflation_p50")}")
    assert(d("inflation_p90") > Clustering.StitchFidelityMax,
      s"starved tail must blow the p90, got ${d("inflation_p90")}")
    assert(d("frac_above") > 0.1 && d("frac_above") < 0.45,
      s"frac_above must see the ~23% rare mass, got " +
        s"${d("frac_above")}")
    assert(!r.getBoolean(df.columns.indexOf("steered")),
      "single-bucket geometry admits no faithful layout — the walk " +
        "must exhaust and keep the auto plane count")
    assert(r.getInt(df.columns.indexOf("planes")) ===
      r.getInt(df.columns.indexOf("planes_auto")))
    assert(r.getInt(df.columns.indexOf("cap")) ===
      r.getInt(df.columns.indexOf("cap_auto")),
      "a refused walk must keep the auto cap too")
    // the append must refuse the stitch on the tail alone
    Clustering.appendToGraphIndex(
      Seq((5000L, Seq(50.0, 50.0, 50.0, 50.0)))
        .toDF("id", "features"), path, stitch = true)
    assert(!new java.io.File(s"$path/component_map").exists(),
      "a p90-blind store must not stitch even when its median " +
        "certifies")
  }

  test("stitch gate reads the certificate TAIL: forged p90-blind cert " +
      "refuses where its p90-faithful control stitches") {
    // sharpness twin of the half-starved spec: IDENTICAL store and
    // arrivals (the severed chain, which carries real merge
    // evidence); the only variable is the certificate's p90 column.
    import graft.operators.Clustering
    import spark.implicits._
    val d = 0.01
    val chain = (0 until 40).map(i =>
      (i.toLong, Seq(5.0 + i * d, 5.0, 5.0, 5.0)))
    val gap = Set(18L, 19L, 20L, 21L)
    val base = chain.filterNot(p => gap(p._1)).toDF("id", "features")
    def buildWithCert(tag: String, p90: Double): String = {
      val path = java.nio.file.Files.createTempDirectory(tag)
        .toString + "/graph"
      Clustering.writeKnnGraphIndexOf(spark, base,
        Clustering.LshPlanes, path, s"$tag->$path")
      Seq((1.0, p90, 512L))
        .toDF("inflation_p50", "inflation_p90", "n_sample")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$path/stitch_fidelity")
      chain.filter(p => gap(p._1)).foreach { case (id, v) =>
        Clustering.appendToGraphIndex(
          Seq((id, v)).toDF("id", "features"), path, stitch = true)
      }
      path
    }
    val refused = buildWithCert("tailforge", p90 = 10.0)
    assert(!new java.io.File(s"$refused/component_map").exists(),
      "a forged p90 > StitchFidelityMax must refuse the stitch")
    assert(Clustering.storeComponents(spark, refused)
      .select(col("component")).distinct().count() >= 2,
      "refused chain must stay fragmented (frozen semantics)")
    val stitched = buildWithCert("tailok", p90 = 1.0)
    assert(new java.io.File(s"$stitched/component_map").exists(),
      "the p90-faithful control must stitch — otherwise the refusal " +
        "spec above is vacuous")
    assert(Clustering.storeComponents(spark, stitched)
      .select(col("component")).distinct().count() === 1,
      "control chain must re-merge to one canonical component")
  }

  test("s11 filtered ANN: predicate holds, pre-filter beats post-filter") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val lab = e.select(col("vec_id"), col("label")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val got = Similarity.s11AnnFiltered(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // every hit satisfies the predicate; ranks contiguous from 1
    assert(got.nonEmpty)
    got.foreach { case (_, _, nid) =>
      assert(lab(nid) === Similarity.S11Label) }
    got.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1 to rows.length),
        s"qid $qid ranks not contiguous") }
    // exact filtered top-5 (driver brute force) as the recall denominator
    val vecs = e.select(col("vec_id"), col("features")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val byId = vecs.toMap
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val exact = (0L until 5L).flatMap { q =>
      vecs.filter(v => v._1 != q && lab(v._1) === Similarity.S11Label)
        .map(v => (v._1, dist(byId(q), v._2)))
        .sortBy { case (id, d) => (d, id) }.take(5)
        .map { case (id, _) => (q, id) }
    }.toSet
    val preRecall = got.map(r => (r._1, r._3)).toSet
      .intersect(exact).size.toDouble / exact.size
    // post-filter strawman: unfiltered s7 top-5, then drop non-matching
    val post = Similarity.s7AnnIvfAuto(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .filter { case (_, nid) => lab(nid) === Similarity.S11Label }.toSet
    val postRecall = post.intersect(exact).size.toDouble / exact.size
    assert(preRecall > postRecall,
      s"pre-filter $preRecall must beat post-filter $postRecall")
    assert(preRecall >= 0.8, s"pre-filter recall too low: $preRecall")
  }

  test("d12 reps: one row per d6 group, rep is the group's best member") {
    val groups = Dedup.d6DedupGroups(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val reps = Dedup.d12GroupReps(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // universe agreement: exactly the d6 group ids, each once
    assert(reps.map(_._1).toSet === groups.map(_._2).toSet)
    assert(reps.length === groups.map(_._2).distinct.length)
    // membership + cardinality per group
    val members = groups.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
    reps.foreach { case (gid, repId, _, n) =>
      assert(members(gid).contains(repId), s"rep $repId not in group $gid")
      assert(n === members(gid).size.toLong, s"group $gid cardinality")
    }
    // rep carries the group-max diversity score (brute-force recompute)
    val score = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val toks = r.getString(1).trim.split("\\s+")
        (r.getLong(0), toks.distinct.length.toLong * 1000 / toks.length)
      }.toMap
    reps.foreach { case (gid, repId, repScore, _) =>
      val best = members(gid).map(score).max
      assert(repScore === best, s"group $gid: rep score $repScore != $best")
      assert(score(repId) === best)
    }
  }

  test("d12 tie-break law: equal scores keep the smallest doc_id") {
    import spark.implicits._
    // group 1: docs 3 and 7 are byte-identical (equal score) → rep 3;
    // group 2: doc 9 (all-distinct tokens, score 1000) beats the
    // smaller-id repetitive doc 5 (score 500) → quality wins over id
    val docs = Seq(
      (3L, "a b c d"), (7L, "a b c d"),
      (5L, "x x y y"), (9L, "p q r s t")).toDF("doc_id", "text")
    val groups = Seq((3L, 1L), (7L, 1L), (5L, 2L), (9L, 2L))
      .toDF("doc_id", "group_id")
    val got = Dedup.groupReps(groups, docs)
      .orderBy(col("group_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array((1L, 3L, 1000L, 2L), (2L, 9L, 1000L, 2L)))
  }

  test("d12 blank members never represent a group; all-blank groups " +
      "fall to the min-id tie-break") {
    import spark.implicits._
    // a whitespace-only doc tokenizes to one phantom token and would
    // score the 1000 maximum without the nonBlank gate (ADVICE r14) —
    // it must lose to ANY real member, even a repetitive one
    val docs = Seq(
      (2L, " \t\n "), (6L, "x x y y"),
      (11L, "   "), (13L, "\t")).toDF("doc_id", "text")
    val groups = Seq((2L, 1L), (6L, 1L), (11L, 2L), (13L, 2L))
      .toDF("doc_id", "group_id")
    val got = Dedup.groupReps(groups, docs)
      .orderBy(col("group_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array((1L, 6L, 500L, 2L), (2L, 11L, 0L, 2L)))
  }

  test("s14 bucketed serving layout: the default face equals the " +
      "plain-parquet fallback and stays in sync through append") {
    import graft.operators.Clustering
    val path = java.nio.file.Files.createTempDirectory("s14_bkt")
      .toString + "/graph"
    val pts = graft.sources.Tables.labeledPoints(spark, sfDir)
      .select(col("id"), col("features"))
    val base = pts.where(
      pmod(col("id"), lit(Clustering.S14Mod)) =!= lit(Clustering.S14Res))
    Clustering.writeKnnGraphIndexOf(spark, base,
      Clustering.LshPlanes, path, s"bktspec->$path")
    assert(new java.io.File(s"$path/points_bucketed").exists(),
      "build must export the bucketed serving layout")
    val delta = pts.where(
      pmod(col("id"), lit(Clustering.S14Mod)) === lit(Clustering.S14Res))
    def served(useBucketed: Boolean) =
      Clustering.assignFromGraphIndex(delta, path, useBucketed)
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2)))
        .toSet
    assert(served(true) === served(false),
      "bucketed layout diverged from the plain store")
    // the append path must write BOTH layouts, so serving stays
    // layout-invariant afterwards and the stores stay row-identical
    // (both faces are the same capped projection since r17: the
    // bucketed table caps physically at export, the plain fallback
    // applies the identical prefix window at read time; appends land
    // tier-1 — uncapped — in both)
    Clustering.appendToGraphIndex(delta, path)
    assert(served(true) === served(false),
      "bucketed layout out of sync after append")
    val nPlain =
      Clustering.graphStoreFrame(spark, path, useBucketed = false).count()
    assert(Clustering.graphStoreFrame(spark, path).count() === nPlain,
      "bucketed store row count drifted from the plain store")
    // dual-write guard (ADVICE r15): simulate a crash BETWEEN the plain
    // append and the bucketed append — rows land in points/ only, so
    // the default serve face silently misses them. Inject the
    // divergence by appending copies of stored rows under fresh ids to
    // points/ alone (the guard compares footer counts against the
    // export meta's capped arithmetic, and any post-export points/
    // growth without its bucketed twin exhibits it), then run a normal
    // append: its totals check must detect the stale divergence and
    // rebuild the bucketed layout from the source-of-truth points.
    val bucketedPre = Clustering.graphStoreFrame(spark, path).count()
    spark.read.parquet(s"$path/points").limit(3)
      .withColumn("id", col("id") + lit(10000000L))
      .write.mode("append").parquet(s"$path/points")
    assert(Clustering.graphStoreFrame(spark, path).count() === bucketedPre,
      "fixture setup: the injected rows must land in points/ only")
    val delta2 = delta.withColumn("id", col("id") + lit(20000000L))
    Clustering.appendToGraphIndex(delta2, path)
    val nPlain2 =
      Clustering.graphStoreFrame(spark, path, useBucketed = false).count()
    assert(Clustering.graphStoreFrame(spark, path).count() === nPlain2,
      "dual-write guard failed to rebuild the diverged bucketed store")
    assert(served(true) === served(false),
      "faces diverged after the guard rebuild")
    // VERDICT r19 next-6: the guard's rebuild is a latency cliff on an
    // ingest path sized for per-wave cost — it must leave a METRIC row
    // (counts + wall) behind, not just a stderr line
    assert(new java.io.File(s"$path/divergence_log").exists,
      "divergence rebuild must append a divergence_log metric row")
    val dl = spark.read.parquet(s"$path/divergence_log").collect()
    assert(dl.length === 1, s"expected one divergence row, got ${dl.length}")
    assert(dl(0).getDouble(3) > 0.0, "rebuild wall must be recorded")
    assert(dl(0).getLong(0) !== dl(0).getLong(1),
      "the recorded divergence must show bucketed != expected")
  }

  test("append-wave budget: the ledger accumulates per wave, a rebuild " +
      "clears it, and the projection flags the crossover") {
    // VERDICT r19 next-2: wave compute grows with accumulated tier-1
    // mass (x1000: 32/77/122/159 s) — the store must know when the
    // NEXT wave is projected to cost more than rebuilding outright.
    import graft.operators.Clustering
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("s14_budget")
      .toString + "/graph"
    val pts = graft.sources.Tables.labeledPoints(spark, sfDir)
      .select(col("id"), col("features"))
    val base = pts.where(
      pmod(col("id"), lit(Clustering.S14Mod)) =!= lit(Clustering.S14Res))
    Clustering.writeKnnGraphIndexOf(spark, base,
      Clustering.LshPlanes, path, s"budgetspec->$path")
    // the build records its own cost for the projection to scale
    val bm = spark.read.parquet(s"$path/build_meta").collect()(0)
    assert(bm.getDouble(0) > 0.0, "build_meta must carry build_sec")
    assert(bm.getLong(1) ===
      spark.read.parquet(s"$path/points").count())
    val delta = pts.where(
      pmod(col("id"), lit(Clustering.S14Mod)) === lit(Clustering.S14Res))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(Clustering.appendWaveBudget(spark, path).isEmpty,
      "no ledger yet — the budget must not project from nothing")
    val (w0, w1) = (delta.take(4).toSeq, delta.drop(4).take(4).toSeq)
    Clustering.appendToGraphIndex(w0.toDF("id", "features"), path)
    assert(Clustering.appendWaveBudget(spark, path).isEmpty,
      "one wave cannot support a linear projection")
    Clustering.appendToGraphIndex(w1.toDF("id", "features"), path)
    val log = spark.read.parquet(s"$path/appends_log")
      .orderBy(col("wave")).collect()
    assert(log.length === 2)
    assert(log.map(_.getLong(0)).toSeq === Seq(0L, 1L))
    assert(log(0).getLong(1) === w0.length.toLong)
    assert(log.forall(_.getDouble(2) > 0.0), "wave wall must be timed")
    val Some((nextWave, rebuild)) = Clustering.appendWaveBudget(spark, path)
    assert(nextWave > 0.0 && rebuild > 0.0)
    // synthetic crossover: waves costing 10 then 50 s against a 1 s
    // build project 90 s > ~1 s — the budget must flag rebuild-now
    Seq((0L, 100L, 10.0), (1L, 100L, 50.0))
      .toDF("wave", "batch_rows", "wall_sec")
      .write.mode("overwrite").parquet(s"$path/appends_log")
    Seq((1.0, spark.read.parquet(s"$path/points").count()))
      .toDF("build_sec", "points_at_build")
      .write.mode("overwrite").parquet(s"$path/build_meta")
    val Some((pw, pr)) = Clustering.appendWaveBudget(spark, path)
    assert(math.abs(pw - 90.0) < 1e-9,
      s"linear extrapolation of 10,50 must project 90, got $pw")
    assert(pw > pr, "crossover fixture must flag rebuild-now")
    // a full rebuild resets the ledger (its costs belong to the old
    // store generation)
    Clustering.invalidateKnnGraphIndex("budgetspec")
    Clustering.writeKnnGraphIndexOf(spark, base,
      Clustering.LshPlanes, path, s"budgetspec2->$path")
    assert(!new java.io.File(s"$path/appends_log").exists,
      "rebuild must clear the append-wave ledger")
  }

  test("mixed-generation store: a pre-r17 points dir (no tier column) " +
      "survives a tier-writing append — legacy base reads tier 0") {
    // ADVICE r17 (medium): an append writes tier-carrying files into a
    // dir whose older files lack the column; without mergeSchema an
    // arbitrary footer wins — if a NEW one, every legacy row reads
    // tier = NULL and the serving projection's tier filters drop the
    // entire legacy base; if an OLD one, appended rows lose tier 1 and
    // can be capped out of the prefix. readPoints normalizes both.
    import graft.operators.Clustering
    val path = java.nio.file.Files.createTempDirectory("s14_gen")
      .toString + "/graph"
    val pts = graft.sources.Tables.labeledPoints(spark, sfDir)
      .select(col("id"), col("features"))
    val base = pts.where(
      pmod(col("id"), lit(Clustering.S14Mod)) =!= lit(Clustering.S14Res))
    Clustering.writeKnnGraphIndexOf(spark, base,
      Clustering.LshPlanes, path, s"genspec->$path")
    val nBase = base.count()
    // strip the store to its pre-r17 shape: points without the tier
    // column, no serving export, no meta row
    def rmrf(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.isDirectory) f.listFiles().foreach(c => rmrf(c.getPath))
      f.delete()
    }
    val legacyCols = spark.read.parquet(s"$path/points").columns
      .filterNot(Set("tier", "r2dist")).toSeq
    val legacy = spark.read.parquet(s"$path/points")
      .select(legacyCols.map(col): _*).localCheckpoint(eager = true)
    rmrf(s"$path/points"); rmrf(s"$path/points_bucketed")
    rmrf(s"$path/store_meta")
    legacy.write.parquet(s"$path/points")
    // the append lands tier-1 files NEXT TO the tier-less legacy files
    val delta = pts.where(
      pmod(col("id"), lit(Clustering.S14Mod)) === lit(Clustering.S14Res))
    Clustering.appendToGraphIndex(delta, path)
    val nDelta = delta.count()
    val merged = Clustering.readPoints(spark, path)
      .select(col("id"), col("tier")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(merged.size === nBase + nDelta,
      "mixed-generation read lost rows")
    val deltaIds = delta.select(col("id")).collect().map(_.getLong(0)).toSet
    merged.foreach { case (id, tier) =>
      assert(tier === (if (deltaIds(id)) 1 else 0),
        s"row $id read tier $tier in the mixed-generation store")
    }
    // the serving projection must keep the whole legacy base: the
    // failure mode being pinned is the tier-NULL rows vanishing from
    // BOTH the tier-0 prefix and the tier-1 append leg
    val servedIds = Clustering
      .graphStoreFrame(spark, path, useBucketed = false)
      .select(col("nid")).distinct().count()
    assert(servedIds === nBase + nDelta,
      "serving projection dropped rows across store generations")
  }

  test("capped graph build: identical to the uncapped chain at a " +
      "saturating cap; a mass bucket stays bounded and fully ranked") {
    import graft.operators.Clustering
    val pc = graft.sources.Tables.labeledPoints(spark, sfDir)
      .select(col("id"), col("features"),
        org.apache.spark.sql.functions.lit(0).as("cluster"))
    // the s2 plane convention, replicated: first planes·tables points
    val planes = pc.orderBy(col("id"))
      .limit(Clustering.LshPlanes * Clustering.LshTables)
      .select(col("features")).collect()
      .map(_.getSeq[Double](0).toArray).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("xi"), col("rnk"), col("yi"))
        .collect().map(_.toSeq).toSet
    // a cap no fixture bucket reaches ⇒ the capped face must reproduce
    // the uncapped graph EXACTLY (same pairs, same ranking), proving
    // the dropDuplicates dedup equals the first-match rule when
    // nothing is capped out
    val uncapped = rows(Clustering.lshRankedNeighborsOf(pc, planes,
      Clustering.LshPlanes, Clustering.LshTables))
    val capped = rows(Clustering.lshRankedNeighborsCapped(pc, planes,
      Clustering.LshPlanes, Clustering.LshTables, cap = 1 << 20))
    assert(capped === uncapped,
      "saturating cap must reproduce the uncapped graph byte-for-byte")
    // the motivating regime: ONE bucket holding 200 near-identical
    // clones (the ε-clone mass that makes the uncapped join quadratic).
    // With cap = 16 every point still receives a full top-L ranking,
    // and every candidate comes from the in-cap id prefix — the
    // neighborhood survives because in a mass bucket any cap members
    // ARE the neighborhood
    import spark.implicits._
    val m = 200
    val clones = (0 until m)
      .map(i => (i.toLong, Seq.fill(4)(1.0 + i * 1e-9), 0))
      .toDF("id", "features", "cluster")
    val cPlanes = (0 until 32).map(i => Array.fill(4)(1.0 + i * 1e-9)).toSeq
    val got = Clustering.lshRankedNeighborsCapped(clones, cPlanes,
      Clustering.LshPlanes, Clustering.LshTables, cap = 16)
      .select(col("xi"), col("rnk"), col("yi")).collect()
    assert(got.map(_.getLong(0)).distinct.length === m,
      "every clone must still be ranked as a query")
    assert(got.forall(_.getLong(2) < 16L),
      "all candidates must come from the capped id prefix")
    got.groupBy(_.getLong(0)).foreach { case (xi, rs) =>
      assert(rs.length === Clustering.L,
        s"query $xi must still receive a full top-L from the cap")
    }
  }

  test("capped s13 handoff: orphans inherit their rank-1 rep's " +
      "component, never bridge core components; saturated face equals " +
      "the uncapped closure") {
    import graft.operators.Clustering
    val ids = graft.sources.Tables.labeledPoints(spark, sfDir)
    // the live-cap face: 126 of the fixture's 500 points cap out of
    // every candidate prefix at OracleGraphCap
    val (graphB, orphB) = Clustering.cappedGraphAt(spark, sfDir,
      Clustering.LshPlanes, Clustering.LshTables, Clustering.OracleGraphCap)
    val g = graphB.select(col("xi"), col("rnk").as("rank"), col("yi"))
      .localCheckpoint(eager = true)
    val orphans = orphB.collect().map(_.getLong(0)).toSet
    assert(orphans.size > 50,
      s"expected a live orphan set at the oracle cap, got ${orphans.size}")
    val withFan = Clustering.mutualComponents(ids, g,
        orphans = Some(orphB)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val noFan = Clustering.mutualComponents(ids, g).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // an orphan receives no incoming edges, so without fan-out it is
    // always a self-labeled singleton; with fan-out it carries exactly
    // its rank-1 neighbor's CORE component
    val rank1 = g.where(col("rank") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    orphans.foreach { o =>
      assert(noFan(o) === o, s"orphan $o not a singleton pre-fan-out")
      assert(withFan(o) === noFan(rank1(o)),
        s"orphan $o must inherit its rank-1 rep's component")
    }
    // no-bridge law: the fan-out attaches, it never merges — every
    // core (non-orphan) id keeps its exact pre-fan-out label
    noFan.keys.filterNot(orphans).foreach { id =>
      assert(withFan(id) === noFan(id),
        s"core id $id relabeled by the fan-out")
    }
    // saturated fixed point, restated for the REGISTERED faces: at
    // GraphBuildCap no fixture bucket overflows, so the production s13
    // face must equal the plain uncapped mutual closure byte-for-byte.
    // The baseline is lshRankedNeighbors — the GENUINELY uncapped chain
    // (s12KnnGraph is itself the capped chain since r16, which would
    // reduce this to a fan-out-inactivity check — ADVICE r16)
    val s13 = Clustering.s13GraphClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val uncapped = Clustering.mutualComponents(ids,
      Clustering.lshRankedNeighbors(spark, sfDir,
          Clustering.LshPlanes, Clustering.LshTables)
        .select(col("xi"), col("rnk").as("rank"), col("yi"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(s13 === uncapped,
      "s13 at the saturated production cap diverged from the uncapped closure")
  }

  test("capped s13 handoff on a mass bucket: one component spans the " +
      "whole clone set across the cap boundary") {
    import graft.operators.Clustering
    import spark.implicits._
    // 200 ε-clones in one bucket per table at cap 16: in-cap members
    // chain through mutual rank-2 edges; the 184 capped-out clones have
    // no incoming edges and would all be singletons — the fan-out must
    // reattach every one of them to the single core component
    val m = 200
    val clones = (0 until m)
      .map(i => (i.toLong, Seq.fill(4)(1.0 + i * 1e-9), 0))
      .toDF("id", "features", "cluster")
    val cPlanes = (0 until 32).map(i => Array.fill(4)(1.0 + i * 1e-9)).toSeq
    val (graph, orph) = Clustering.cappedGraphWithOrphans(clones, cPlanes,
      Clustering.LshPlanes, Clustering.LshTables, cap = 16)
    assert(orph.count() === (m - 16).toLong,
      "every clone past the prefix must be an orphan")
    val comp = Clustering.mutualComponents(
      clones.select(col("id"), col("features")),
      graph.select(col("xi"), col("rnk").as("rank"), col("yi")),
      orphans = Some(orph)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(comp.length === m)
    assert(comp.map(_._2).distinct.toSeq === Seq(0L),
      "the clone mass must resolve to ONE component through the fan-out")
  }

  test("capped serving projection: threshold filter == row_number " +
      "window, tier-1 rows never capped") {
    import graft.operators.Clustering
    import spark.implicits._
    // 3 buckets: one saturating (40 tier-0 rows at cap 16), one under
    // cap (5 rows), one tier-1-heavy (3 base + 30 appended). nid order
    // deliberately scrambled vs insertion order.
    val rows = ((0 until 40).map(i => ((i * 7 + 3) % 97 * 100L, 0, 0, 11L)) ++
      (0 until 5).map(i => (5000L + i * 13, 0, 1, 22L)) ++
      (0 until 3).map(i => (8000L + i, 0, 2, 33L)) ++
      (0 until 30).map(i => (9000L + i, 1, 2, 33L)))
      .map { case (nid, tier, tbl, bucket) =>
        (nid, Seq(nid.toDouble), nid, tier, tbl, bucket) }
      .toDF("nid", "nv", "component", "tier", "tbl", "bucket")
    def collect(df: org.apache.spark.sql.DataFrame) = df
      .select(col("nid"), col("component"), col("tbl"), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).sorted.toSeq
    val fast = collect(Clustering.cappedServing(rows, 16))
    val twin = collect(Clustering.cappedServingWindow(rows, 16))
    assert(fast === twin,
      "threshold-capped serving diverged from the window twin")
    // live truncation really happened, under-cap bucket kept whole,
    // every tier-1 row present
    assert(fast.count(_._4 == 11L) === 16)
    assert(fast.count(_._4 == 22L) === 5)
    assert(fast.count(_._4 == 33L) === 3 + 30)
    // r2dist-ordered prefix (VERDICT r18 next-2): smallest rank-2
    // distance wins the prefix slot regardless of nid; threshold and
    // window formulations stay byte-equal under the struct key; a
    // frame with NO r2dist column (this one) must reduce to nid order
    val fastR2NoCol = collect(Clustering.cappedServing(rows, 16,
      order = "r2dist"))
    assert(fastR2NoCol === fast,
      "all-null r2dist must fall back to the nid order")
    // give the saturating bucket r2dist = DESCENDING in nid, so the
    // r2dist prefix is exactly the REVERSE-nid prefix — disjoint from
    // the nid prefix beyond the overlap, a real reorder
    val withR2 = rows.withColumn("r2dist",
      when(col("bucket") === 11L, -col("nid").cast("double"))
        .otherwise(lit(null).cast("double")))
    val fastR2 = collect(Clustering.cappedServing(withR2, 16,
      order = "r2dist"))
    val twinR2 = collect(Clustering.cappedServingWindow(withR2, 16,
      order = "r2dist"))
    assert(fastR2 === twinR2,
      "r2dist threshold serving diverged from its window twin")
    val bucket11Nids = rows.where(col("bucket") === 11L)
      .select(col("nid")).collect().map(_.getLong(0)).sorted
    assert(fastR2.filter(_._4 == 11L).map(_._1).sorted.toSeq ===
      bucket11Nids.takeRight(16).toSeq,
      "r2dist order must keep the smallest-r2dist (here largest-nid) rows")
    assert(fastR2.count(_._4 == 22L) === 5)
    assert(fastR2.count(_._4 == 33L) === 3 + 30)
    // hash-ordered prefix (round 20 — the production store order):
    // threshold and window formulations byte-equal; the kept 16 of the
    // saturating bucket are exactly the 16 smallest hashPrefixKey(nid)
    // — an unbiased sample, not an end of the nid range
    val fastH = collect(Clustering.cappedServing(rows, 16,
      order = "hash"))
    val twinH = collect(Clustering.cappedServingWindow(rows, 16,
      order = "hash"))
    assert(fastH === twinH,
      "hash-order threshold serving diverged from its window twin")
    val expectedH = rows.where(col("bucket") === 11L)
      .select(col("nid"),
        Clustering.hashPrefixKey(col("nid")).as("h"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .sorted.take(16).map(_._2).sorted.toSeq
    assert(fastH.filter(_._4 == 11L).map(_._1).sorted.toSeq === expectedH,
      "hash order must keep the smallest-hash rows")
    assert(fastH.count(_._4 == 22L) === 5)
    assert(fastH.count(_._4 == 33L) === 3 + 30)
  }

  test("graph chain fails loudly on a dimension-mismatched vector " +
      "instead of silently dropping it (ADVICE r16)") {
    import graft.operators.Clustering
    import spark.implicits._
    // 3 well-formed 4-dim points plus one 3-dim straggler: the native
    // SignBuckets would null it and posexplode would erase it from both
    // the candidate AND orphan legs — the guard must abort the job
    val pc = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0), 0),
      (1L, Seq(0.9, 0.1, 0.0, 0.0), 0),
      (2L, Seq(0.8, 0.2, 0.0, 0.0), 0),
      (3L, Seq(1.0, 0.0, 0.0), 0)).toDF("id", "features", "cluster")
    val planes = (0 until Clustering.LshPlanes * Clustering.LshTables)
      .map(i => Array(1.0 + i * 0.1, 0.5, -0.5, 0.25)).toSeq
    val (graph, orph) = Clustering.cappedGraphWithOrphans(pc, planes,
      Clustering.LshPlanes, Clustering.LshTables, cap = 16)
    val ex = intercept[Exception] { graph.count() }
    val exOrph = intercept[Exception] { orph.count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("expected dimension 4, got 3")),
      s"wanted the signBucketsCol dim guard, got: ${messages(ex)}")
    assert(messages(exOrph).exists(_.contains("expected dimension 4, got 3")),
      "the orphan (slim) lineage must carry the same dim guard")
  }
}
