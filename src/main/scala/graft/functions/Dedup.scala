package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{ArtifactCache, Closure}
import graft.sources.Tables
import graft.streaming.MicroBatch
import graft.functions.TextAnalysis.{hash60, tokensCol}

/** Deduplication operators (builder brief): exact hash dedup, MinHash
  * signatures + banded LSH candidate pairs, SimHash, and n-gram Jaccard
  * verification.
  *
  * Scale shape: signatures are per-row expressions (no shuffle, pure
  * codegen); LSH candidate generation shuffles once on the band bucket key
  * — the classic shingle→minhash→band→bucket-join pipeline that replaces
  * the O(n²) all-pairs comparison at 100 TB. The fixture corpus contains
  * same-vocabulary near-duplicates (token-set Jaccard = 1.0) which the
  * pipeline must surface.
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  /** Number of MinHash functions and LSH band layout (2 bands × 4 rows). */
  val NumHashes = 8
  val BandSize = 4

  /** Per-bucket candidate cap for d3 (see [[bucketedPairs]]): buckets of at
    * most this many docs emit the exact all-pairs clique; larger buckets
    * emit the clique over their [[MaxBucket]] smallest doc_ids plus one
    * star edge from the bucket minimum to every overflow doc. Pair count is
    * O(cap² + n) instead of O(n²), and every doc stays transitively
    * connected to its duplicate group through the representative.
    */
  val MaxBucket = 64

  /** Universal-hash family over one md5 base hash: h_k(t) = (a_k·h32(t) +
    * b_k) mod p. One md5 per token instead of one per (token × hash
    * function) — 8× less digest work, same minhash statistics; all-integer
    * so Spark and DuckDB agree exactly. Bounds: a,b < 2^31, h32 < 2^32 →
    * a·h32 + b < 2^63 (no BIGINT overflow in either engine).
    */
  val MersennePrime: Long = (1L << 61) - 1
  val hashSeeds: Seq[(Long, Long)] = (0 until NumHashes).map { k =>
    val a = (0x9E3779B1L * (2 * k + 1)) & 0x7FFFFFFFL | 1L
    val b = (0x85EBCA77L * (k + 1)) & 0x7FFFFFFFL
    (a, b)
  }

  def queries: Map[String, Q] = Map(
    "d1_exact_dedup" -> d1ExactDedup,
    "d2_minhash_sig" -> d2MinhashSig,
    "d3_lsh_pairs" -> d3LshPairs,
    "d4_simhash" -> d4Simhash,
    "d5_jaccard_pairs" -> d5JaccardPairs,
    "d8_simhash_pairs" -> d8SimhashPairs,
    "d6_dedup_groups" -> d6DedupGroups,
    "d7_semantic_groups" -> d7SemanticGroups,
    "d9_substring_spans" -> d9SubstringSpans,
    "d9b_span_removal" -> d9bSpanRemoval,
    "d10_lsh_auto" -> d10LshAuto,
    "d11_incremental_dedup" -> d11IncrementalDedup,
    "d12_group_reps" -> d12GroupReps,
    "p1_corpus_curation" -> p1CorpusCuration,
    "p10_pipeline_e2e" -> p10PipelineE2e,
    "p11_pipeline_learned" -> p11PipelineLearned
  )

  /** Curation gates for [[p1CorpusCuration]] — chosen against the fixture
    * distributions (n_tokens 10-99 median 56; stop_ratio median 0.061) so
    * each gate actually discards documents.
    */
  val MinCurationTokens = 30
  val MinStopRatio = 0.02

  /** Exact dedup summary via content hash: total docs, distinct contents,
    * duplicate groups. (Hash-groupBy — the map-side partial aggregation
    * makes this a single cheap shuffle at any scale.)
    */
  def d1ExactDedup: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(md5(col("text").cast("binary")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_groups"))

  /** Streaming exact dedup — dedup-on-ingest, the incremental twin of
    * [[d1ExactDedup]]'s content-hash semantics: each arriving document is
    * admitted iff its content hash has never been seen, so the survivor
    * set after any prefix of the stream equals batch `dropDuplicates` over
    * that prefix (first-arrival-wins across triggers; StreamingSpec pins
    * stream-vs-batch equality on a two-batch fixture).
    *
    * Scale shape: state is ONE hash per distinct content in the state
    * store (RocksDB-backed on a real cluster), partitioned by the hash —
    * the same key the batch groupBy shuffles on, so ingest throughput
    * scales with executors. State never expires by design (a true
    * corpus-wide dedup must remember everything); when only near-time
    * duplicates matter, `dropDuplicatesWithinWatermark` bounds state by
    * the watermark delay instead.
    */
  def streamingExactDedup(stream: DataFrame): DataFrame =
    stream
      .withColumn("h", md5(col("text").cast("binary")))
      .dropDuplicates("h")
      .drop("h") // survivors keep the INPUT schema — the hash is state, not output

  /** Window width (in tokens) for [[d9SubstringSpans]] — long enough that
    * a shared window means genuinely copied text, short enough that the
    * fixture's near-duplicates surface (sf0.01: 1015 duplicated 8-token
    * window hashes over 2101 positions).
    */
  val SpanWindow = 8

  /** Hashes of every [[SpanWindow]]-token window of `toks`, in position
    * order; empty when the doc is shorter than one window.
    */
  private def windowHashes(toks: Column): Column =
    when(size(toks) >= SpanWindow,
      transform(sequence(lit(1), size(toks) - (SpanWindow - 1)),
        i => hash60(concat_ws(" ", slice(toks, i, lit(SpanWindow))))))
      .otherwise(array().cast("array<long>"))

  /** Exact substring-span duplicate profile — the token-window
    * approximation of suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): d1
    * removes whole-document clones and d3/d5 near-duplicate documents,
    * but the dominant duplication mode in web corpora is a SPAN (a
    * boilerplate paragraph, a quoted passage) embedded in otherwise
    * distinct documents, which document-granular dedup cannot see.
    * Every [[SpanWindow]]-token window is hashed; a window duplicated
    * ANYWHERE in the corpus (≥ 2 occurrences, cross- or within-doc)
    * marks its positions, and runs of consecutive duplicated positions
    * merge into maximal spans (a run of r windows covers r +
    * [[SpanWindow]] − 1 tokens — what a span-removal pass would cut).
    *
    * Output per document: window count, duplicated-window count, span
    * count, longest span in tokens, duplicated-window ratio.
    *
    * Scale shape: the exploded (doc_id, p, wh) frame is one narrow row
    * per corpus token — linear, never pairwise; the duplicated-hash
    * filter is one hash-groupBy with map-side partials (the d1 shape);
    * the join-back is a shuffle join on the window hash whose probe side
    * shrinks to the duplicated positions only; the islands pass windows
    * by doc_id. Four linear shuffles, no candidate blowup — at 100 TB
    * the window hash is the partition key throughout, and the O(n·W)
    * hashing work is a fixed ×[[SpanWindow]] constant over the scan.
    */
  def d9SubstringSpans: Q = (s, dir) =>
    substringSpanProfile(Tables.documents(s, dir))

  /** Window-hash position rows (doc_id, p, wh), p 1-based — the shared
    * intermediate of the span profile (d9) and span removal (d9b).
    */
  private def windowPositions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(windowHashes(col("toks"))).as(Seq("p0", "wh")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("wh"))

  /** [[d9SubstringSpans]] over an arbitrary (doc_id, text) frame. */
  private[graft] def substringSpanProfile(in: DataFrame): DataFrame = {
    // tokenization + window hashing are the O(n·W) CPU of this query
    // and feed THREE consumers (the dup histogram, the semi-join probe
    // side, and the final per-doc window count) — persist both frames
    // for the query's duration so the scan runs once (r21; the
    // skew-safe histogram + semi-join shape itself is deliberate: a
    // collect-positions-per-hash one-pass form would put a massively
    // duplicated boilerplate window's every occurrence in ONE aggregate
    // buffer). The persists release when the plan's blocks age out;
    // both frames are narrow (tokens / (doc_id, p, wh) rows).
    val docs = in.select(col("doc_id"), tokensCol(col("text")).as("toks"))
      .persist()
    val pos = windowPositions(docs).persist()
    val dup = pos.groupBy(col("wh")).agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select(col("wh"))
    val dpos = pos.join(dup, Seq("wh"), "left_semi")
    // gaps-and-islands: consecutive duplicated positions share p − rank
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val runs = dpos
      .withColumn("isl", col("p") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(count(lit(1)).as("len"))
    val perDoc = runs.groupBy(col("doc_id"))
      .agg(sum(col("len")).as("dw"), count(lit(1)).as("ds"),
        (max(col("len")) + lit(SpanWindow - 1)).as("mst"))
    // materialize the (per-doc-sized) result while the caches are live,
    // then release them — the p1 persist discipline
    val out = docs
      .select(col("doc_id"),
        greatest(size(col("toks")) - (SpanWindow - 1), lit(0))
          .cast("long").as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("dw"), lit(0L)).as("n_dup_windows"),
        coalesce(col("ds"), lit(0L)).as("n_dup_spans"),
        coalesce(col("mst"), lit(0L)).as("max_span_tokens"),
        when(col("n_windows") > 0,
          round(coalesce(col("dw"), lit(0L)) / col("n_windows"), 6))
          .otherwise(lit(0.0)).as("dup_ratio"))
      .localCheckpoint(eager = true)
    pos.unpersist(); docs.unpersist()
    out.orderBy(col("doc_id"))
  }

  def d9bSpanRemoval: Q = (s, dir) =>
    spanRemoval(Tables.documents(s, dir))

  /** Span REMOVAL — the d9 profile's acting twin (Lee et al. 2022 keep
    * exactly one occurrence of each duplicated span): for every
    * duplicated window hash, the corpus-global FIRST occurrence (min
    * (doc_id, p) — deterministic) is the keeper; every other
    * occurrence's [[SpanWindow]]-token extent is cut, and a document's
    * surviving tokens are re-joined as `clean_text`. Removal is
    * positional and conservative: a token is cut when ANY non-keeper
    * duplicated window covers it, even if a kept occurrence also
    * overlaps it — overlapping cut spans merge into their union.
    * (Token-joined output normalizes whitespace; the oracle tokenizes
    * identically, so the comparison is exact.)
    *
    * Scale shape: d9's linear window-hash shuffles plus one explode of
    * the cut positions into covered token indices — bounded by W × the
    * duplicated-occurrence mass, never the corpus; the final filter is
    * a per-row array expression against the doc's own sorted cut-index
    * set (no join wider than (doc_id, idx)).
    */
  private[graft] def spanRemoval(in: DataFrame): DataFrame = {
    // shared-intermediate discipline for the INDEX derivation (r21):
    // tokens feed the position rows, positions feed the keeper
    // histogram AND the removal join — one scan each while the
    // removal index materializes; the final clean-text pass re-reads
    // `in` lazily instead of a corpus-sized cache (see the rm note)
    val docs = in.select(col("doc_id"), tokensCol(col("text")).as("toks"))
      .persist()
    val pos = windowPositions(docs).persist()
    val dupKeep = pos.groupBy(col("wh"))
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc_id"), col("p"))).as("keep"))
      .where(col("c") >= 2)
      .select(col("wh"), col("keep.doc_id").as("kd"), col("keep.p").as("kp"))
    val rm = pos.join(dupKeep, Seq("wh"))
      .where(col("doc_id") =!= col("kd") || col("p") =!= col("kp"))
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (SpanWindow - 1))).as("i"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("i"))).as("rmidx"))
      // ONLY the removal-index table is checkpointed — bounded by the
      // duplicated-occurrence mass, never the corpus. The old form
      // checkpointed the full cleaned corpus (clean_text for every
      // doc) with no unpersist path (ADVICE r21 medium): at the large
      // multipliers that accumulates an unreleasable MEMORY_AND_DISK
      // corpus copy per call on top of the sink write — the documented
      // x1000 disk-exhaustion pattern. The returned plan instead
      // re-derives tokens from `in` lazily (every call site consumes
      // the result exactly once — d9b's sink, the pipelines'
      // eagerly-pinning tokenBudgetSelect) and joins this small index.
      .localCheckpoint(eager = true)
    pos.unpersist(); docs.unpersist()
    in.select(col("doc_id"), tokensCol(col("text")).as("toks"))
      .join(rm, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("rmidx"), array().cast("array<int>")).as("rmidx"))
      .select(col("doc_id"), size(col("toks")).as("nt"),
        filter(col("toks"), (_, i0) =>
          !array_contains(col("rmidx"), i0 + 1)).as("kept"))
      .select(col("doc_id"),
        concat_ws(" ", col("kept")).as("clean_text"),
        size(col("kept")).cast("long").as("n_kept"),
        (col("nt") - size(col("kept"))).cast("long").as("n_removed"))
      .orderBy(col("doc_id"))
  }

  /** MinHash signature rows (doc_id, h, mh): for hash function h, the
    * minimum 60-bit hash of `h:token` over the doc's DISTINCT token set.
    * Computed entirely in array expressions — one scan, no shuffle, no UDF.
    */
  def d2MinhashSig: Q = (s, dir) =>
    minhashSigs(s, dir)
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("h", "mh")))
      .orderBy(col("doc_id"), col("h"))

  /** 32-bit md5-prefix base hash per token (cross-engine exact). */
  private def hash32(t: org.apache.spark.sql.Column) =
    conv(substring(md5(t.cast("binary")), 1, 8), 16, 10).cast("long")

  /** Row formulation: explode distinct tokens, md5 ONCE per (doc, token)
    * row, then the 8 universal hashes as partially-aggregated `min`s.
    * The all-array alternative looks shuffle-free but CollapseProject
    * inlines the md5-bearing array into each of the 8 array_min branches —
    * 8× the digest work; here the single hash per row is structural.
    * The shuffle carries only (doc_id, 8 longs) after map-side partials.
    */
  private def minhashSigs(s: SparkSession, dir: String): DataFrame =
    minhashSigsOf(Tables.documents(s, dir))

  /** [[minhashSigs]] over an arbitrary (doc_id, text) frame — the curation
    * pipeline signs only the documents that survive its quality gates.
    */
  private def minhashSigsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(array_distinct(tokensCol(col("text")))).as("tok"))
      .select(col("doc_id"), hash32(col("tok")).as("h32"))
      .groupBy(col("doc_id"))
      .agg(
        hashSeeds.head match { case (a, b) =>
          min((col("h32") * a + b) % MersennePrime).as("mh0")
        },
        hashSeeds.tail.zipWithIndex.map { case ((a, b), i) =>
          min((col("h32") * a + b) % MersennePrime).as(s"mh${i + 1}")
        }: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"mh$i")): _*).as("sig"))

  /** Banded LSH candidate pairs: split the signature into bands of
    * [[BandSize]], bucket docs by (band, joined band values), emit doc
    * pairs sharing any bucket. ONE shuffle on the bucket key — never an
    * all-pairs join; collisions are the candidate set that a verifier
    * (d5) confirms. Pair emission per bucket is capped (see
    * [[bucketedPairs]]) so a mass-duplicate bucket cannot explode n².
    */
  def d3LshPairs: Q = (s, dir) =>
    bucketedPairs(bandRows(s, dir)).orderBy(col("doc_a"), col("doc_b"))

  /** Banded signature rows (doc_id, band, key). */
  private[graft] def bandRows(s: SparkSession, dir: String): DataFrame =
    bandRowsOf(minhashSigs(s, dir))

  private def bandRowsOf(sigs: DataFrame,
      bandSize: Int = BandSize): DataFrame =
    sigs
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(NumHashes / bandSize - 1)),
          b => concat_ws(",",
            transform(slice(col("sig"), b * bandSize + 1, lit(bandSize)),
              x => x.cast("string")))))
          .as(Seq("band", "key")))

  /** MinHash banding layout DERIVED from a target Jaccard threshold —
    * the [[graft.functions.AutoLayout]] rule for the lexical dedup
    * family. A (b bands × r rows) layout's candidate probability for a
    * pair of Jaccard similarity s is the S-curve 1 − (1 − s^r)^b, whose
    * 50%-collision threshold sits at ≈ (1/b)^(1/r) — the ONE knob that
    * decides which similarity regime the bucketing recalls. d3 pins
    * (2 × 4) because its near-dup contract targets s ≈ 0.84; a pipeline
    * hunting looser rewrites (s ≈ 0.5) under the same pinned layout
    * would silently miss most of them (the S-curve reads ~12% there),
    * which is the same pinned-layout trap the plane/cell rules close —
    * by SEMANTIC target here rather than by corpus size, since banding
    * sets which pairs collide, not how many. The rule: over the divisor
    * pairs b·r = numHashes, take the (b, r) whose threshold lands
    * nearest the target (deterministic; ties break toward smaller r =
    * the more permissive layout). Fixed point: at d3's implied target
    * the rule returns exactly (2, 4), so the d3/d6 oracle family is
    * byte-unchanged (spec-pinned).
    */
  def minhashBandsFor(numHashes: Int, targetJaccard: Double): (Int, Int) = {
    require(numHashes > 0 && targetJaccard > 0.0 && targetJaccard <= 1.0,
      s"bad banding request: n=$numHashes t=$targetJaccard")
    (1 to numHashes).filter(numHashes % _ == 0)
      .map(r => (numHashes / r, r))
      .minBy { case (b, r) =>
        math.abs(math.pow(1.0 / b, 1.0 / r) - targetJaccard)
      }
  }

  /** d10's semantic target: candidate generation for MODERATE-overlap
    * pairs (rewrites, heavy edits) — s ≈ 0.5, where d3's pinned 2×4
    * layout recalls ~12%. [[minhashBandsFor]] derives 4 bands × 2 rows
    * (threshold (1/4)^(1/2) = 0.5 exactly).
    */
  val D10TargetJaccard = 0.5

  /** d10: banded LSH candidate pairs at the AUTO-derived layout for
    * [[D10TargetJaccard]] — same signatures, same capped emission as d3
    * ([[bucketedPairs]]); only the banding differs (more, shorter bands
    * ⇒ a more permissive S-curve). The oracle replays the derived
    * layout end-to-end, so the rule's output — not just its arithmetic —
    * is cross-engine-checked.
    */
  def d10LshAuto: Q = (s, dir) => {
    val (_, r) = minhashBandsFor(NumHashes, D10TargetJaccard)
    bucketedPairs(bandRowsOf(minhashSigs(s, dir), r))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Candidate pairs from banded rows (doc_id, band, key), generated INSIDE
    * each bucket (groupBy + in-array combinations) instead of a bucket
    * self-join: one scan, one shuffle, no cache needed.
    *
    * Degenerate-bucket cap: the fixture corpus already has a 3128-doc
    * identical-vocabulary bucket at sf0.1 (C(2,n) ≈ 4.9M pairs — 25% of
    * round-1 bench time), and at 100 TB mass-duplicates make uncapped
    * emission THE scale-killer. Buckets of ≤ [[MaxBucket]] docs emit the
    * exact clique; larger buckets emit the clique over the [[MaxBucket]]
    * smallest doc_ids + a star edge (bucket min → doc) for the overflow —
    * O(cap² + n) pairs, deterministic (ids sorted first), and every doc
    * remains in the same connected component as its full clique would be,
    * so transitive closure recovers identical duplicate groups.
    */
  private[graft] def bucketedPairs(bands: DataFrame): DataFrame =
    pairsFromBuckets(bucketArrays(bands))

  /** Multi-doc LSH buckets as sorted id arrays — the shared intermediate
    * both [[pairsFromBuckets]] and [[repInitFromBuckets]] consume (d6/p1
    * persist it so the signature build runs once per query).
    *
    * `ids` is sorted INSIDE the aggregate: the agg boundary pins the sort
    * to one evaluation per bucket. Sorting in a lambda-referenced
    * expression instead re-sorts the whole array once per element the
    * lambda visits (the 3128-doc fixture bucket = ~3k sorts of a 3k
    * array per row — measured 4.5s of the round-3 d3 time, vs 0.5s here).
    */
  private[graft] def bucketArrays(bands: DataFrame): DataFrame =
    bands.groupBy(col("band"), col("key"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .where(size(col("ids")) > 1)

  private[graft] def pairsFromBuckets(buckets: DataFrame): DataFrame = {
    val sorted = col("ids")
    val head = slice(sorted, 1, MaxBucket)
    val clique = flatten(transform(head, (x, i) =>
      transform(slice(head, i + 2, lit(MaxBucket)), y =>
        struct(x.as("doc_a"), y.as("doc_b")))))
    // empty when the bucket fits in MaxBucket (slice past the end)
    val star = transform(slice(sorted, lit(MaxBucket + 1), size(col("ids"))), y =>
      struct(element_at(sorted, 1).as("doc_a"), y.as("doc_b")))
    buckets
      .select(explode(concat(clique, star)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b")).distinct()
  }

  /** Head-start labels for [[Closure.components]], read straight off the
    * bucket arrays: every doc in a multi-doc bucket is directly connected
    * to the bucket minimum (clique members pair with it, overflow docs
    * star to it), so `min(own id, min bucket-rep over the doc's buckets)`
    * — this aggregate, one small shuffle of (doc, rep) rows — is reachable
    * from the doc. The closure takes each row as one more edge, a direct
    * link from a doc that bridges buckets to the least of their minimums.
    */
  private[graft] def repInitFromBuckets(buckets: DataFrame): DataFrame =
    buckets
      .select(element_at(col("ids"), 1).as("rep"),
        explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(min(col("rep")).as("group_id"))

  /** d6: duplicate GROUPS from the d3 candidate pairs — the step a
    * training-data pipeline actually acts on (keep one doc per group =
    * `doc_id == group_id`). Transitive closure over the capped LSH pairs
    * recovers exactly the groups the uncapped cliques would produce
    * (see [[bucketedPairs]]); the DuckDB oracle recomputes reachability
    * with a recursive CTE — an independent algorithm cross-check of the
    * closure's star rounds.
    */
  def d6DedupGroups: Q = (s, dir) =>
    dedupGroupsFromBands(bandRows(s, dir), Tables.documents(s, dir))
      .orderBy(col("doc_id"))

  /** d12: dedup-group REPRESENTATIVE selection — which duplicate
    * survives. d6/p1/p10 keep each group's min doc_id (cheap, stable,
    * and fine when duplicates are byte-identical), but near-duplicate
    * groups mix quality levels, and a production pipeline keeps the
    * BEST member: here the highest p8 token-diversity score
    * (`n_distinct · 1000 div n_tokens` — the engine's one deterministic
    * quality scalar; blank docs score 0 under p8's nonBlank gate so a
    * whitespace-only member can never represent real content), ties to
    * the smallest doc_id. Emits one row per d6 group:
    * (group_id, rep_id, rep_score, n_members).
    *
    * Scale shape: the d6 closure plus ONE extra hash aggregate. The
    * argmax is `min(struct(-score, doc_id))` — a partial-aggregatable
    * struct-min that combines map-side, so the per-group reduction
    * never materializes a sorted window over the corpus (the oracle
    * deliberately uses the opposite formulation — a row_number window
    * — as an independent algorithm cross-check). At 100 TB: closure
    * cost is d6's (banded buckets, capped pairs, shallow propagation);
    * the rep selection adds one linear scan + one shuffled combine on
    * group_id.
    */
  def d12GroupReps: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    groupReps(dedupGroupsFromBands(bandRows(s, dir), docs), docs)
      .orderBy(col("group_id"))
  }

  /** The rep-selection reduction over any (doc_id, group_id) labeling
    * and its (doc_id, text) universe — factored so the spec can feed
    * synthetic labelings/corpora and pin the tie-break law directly.
    */
  private[functions] def groupReps(groups: DataFrame,
      docs: DataFrame): DataFrame = {
    // blank docs score 0, not the phantom-token maximum: a
    // whitespace-only doc tokenizes to one empty token (n_distinct =
    // n_tokens = 1 → score 1000) and would beat every real member —
    // the exact hazard p8's nonBlank gate exists for (ADVICE r14). An
    // all-blank group falls through to the min-doc_id tie-break.
    val scored = docs
      .select(col("doc_id"), tokensCol(col("text")).as("toks"),
        Curation.nonBlankCol(col("text")).as("nb"))
      .select(col("doc_id"), col("nb"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
      .select(col("doc_id"),
        when(col("nb"), expr("n_distinct * 1000 div n_tokens"))
          .otherwise(lit(0L)).as("score"))
    groups.join(scored, "doc_id")
      .groupBy(col("group_id"))
      .agg(
        min(struct((-col("score")).as("ns"), col("doc_id"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("group_id"), col("best.doc_id").as("rep_id"),
        (-col("best.ns")).as("rep_score"), col("n_members"))
  }

  /** d7: SEMANTIC near-duplicate groups — the same transitive-closure
    * step as d6, but over the embedding-cosine candidate pairs (s4's
    * sign-LSH-bucketed, cosine-verified edges) instead of lexical LSH
    * collisions. Exact dedup (d1), lexical groups (d6), and semantic
    * groups (d7) are the three rungs of a production dedup ladder; the
    * component resolver is one shared implementation.
    *
    * Since r11 the candidate edges ride the CAPPED emission
    * ([[Similarity.nearDupPairsCapped]] — the same [[pairsFromBuckets]]
    * cap d3 uses): the s4/d7 bucket layout is fixed by the cosine
    * threshold, so uncapped candidates were measured quadratic across
    * the decade (223.0M at x100); the cap bounds them at O(cap² + n)
    * while every bucket that fits the cap — the fixture case — emits
    * the identical pair set, so the oracle (reachability over the same
    * capped-then-verified pairs, recursive CTE) and the fixture output
    * are unchanged (spec-pinned against the uncapped form).
    */
  def d7SemanticGroups: Q = (s, dir) =>
    Closure.components(
      Tables.embeddings(s, dir).select(col("vec_id").as("doc_id")),
      Similarity.nearDupPairsCapped(s, dir)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("group_id"))
      .orderBy(col("vec_id"))

  /** The p1 quality + language gate producing the curated (doc_id,
    * text, n_tokens, stop_ratio) frame — shared by p1 and the p10
    * pipeline composition (one definition, one oracle fragment).
    */
  private def curatedDocs(s: SparkSession, dir: String): DataFrame = {
    val quality = Tables.documents(s, dir)
      .withColumn("toks", TextAnalysis.tokensCol(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_ratio",
        round(size(filter(col("toks"), t =>
          t.isin(TextAnalysis.stopwords: _*))).cast("double") /
          size(col("toks")), 6))
    TextAnalysis.withLangGuess(quality)
      .where(col("n_tokens") >= MinCurationTokens &&
        col("stop_ratio") >= MinStopRatio &&
        col("guess") === "en")
      .select(col("doc_id"), col("text"), col("n_tokens"),
        col("stop_ratio"))
  }

  /** Transitive near-dup groups of a curated (doc_id, text) frame —
    * the p1 bucket build + rep-seeded propagation, factored for p10
    * (`private[graft]`: ScaleBench's d11 staleness protocol computes
    * the fresh-rebuild baseline through this exact closure).
    */
  private[graft] def dedupGroupsOf(curated: DataFrame): DataFrame =
    dedupGroupsFromBands(bandRowsOf(minhashSigsOf(
      curated.select(col("doc_id"), col("text")))), curated)

  /** The closure half of [[dedupGroupsOf]] over PRE-BUILT band rows —
    * d6, d12, p1/p10/p11 and the d11 build (which shares ONE
    * signature/banding pass between its band table and this closure,
    * r21). The bucket arrays feed two consumers (candidate pairs and
    * the head-start labels), so they stay persisted for the span of
    * the closure and the banding scan runs once. Every caller
    * bands `curated` itself, so every pair endpoint is a `curated` doc.
    */
  private[graft] def dedupGroupsFromBands(bands: DataFrame,
      curated: DataFrame): DataFrame = {
    val buckets = bucketArrays(bands).persist()
    try Closure.components(curated.select(col("doc_id")),
      pairsFromBuckets(buckets), init = Some(repInitFromBuckets(buckets)))
    finally buckets.unpersist()
  }

  /** p1: the end-to-end corpus-curation query a training-data run
    * actually executes over the document table, in production order —
    * quality gates FIRST (token count, stopword ratio, language-ID), then
    * near-dup groups resolved among the survivors only, keeping each
    * group's representative (min doc_id) tagged with its duplicate count.
    * Filtering first shrinks the signature/LSH/propagation input (at
    * 100 TB most of the corpus dies at the cheap per-row gates) and is
    * semantically the right order: junk documents shouldn't vote on which
    * duplicate survives. One plan composes the t1/t2/d2/d3/d6 operator
    * families end to end.
    */
  def p1CorpusCuration: Q = (s, dir) => {
    // persisted: consumed by three separate actions (the propagation
    // seed, the signature build, the final output join) — without the
    // cache the per-row gate scan the design runs once would run 3×
    val curated = curatedDocs(s, dir).persist()
    val groups = dedupGroupsOf(curated)
    // group_id values ARE the representative doc_ids (min of each
    // component), so the inner join on doc_id === group_id both selects
    // the representatives and attaches their duplicate counts
    val sizes = groups.groupBy(col("group_id"))
      .agg(count(lit(1)).as("n_dups"))
    // materialize the (representative-sized) result while curated is
    // cached, then release the cache — same discipline as every other
    // persist site in the repo; the caller gets the checkpointed rows
    val out = curated
      .join(sizes, col("doc_id") === col("group_id"))
      .select(col("doc_id"), col("n_tokens"), col("stop_ratio"),
        col("n_dups"))
      .localCheckpoint(eager = true)
    curated.unpersist()
    out.orderBy(col("doc_id"))
  }

  /** p10: the engine's stated PRODUCTION ORDER as one oracle-checked
    * query — gates first (cheap per-row rules discard most rows before
    * anything shuffles), transitive near-dup groups next (document-level
    * duplicate mass dies here — the d9border measurement is exactly why
    * this precedes span work), span removal over the REPRESENTATIVES
    * (what survives is repeated passages, d9b's actual job), and the
    * token-budget cut last over the CLEANED text (budget spent on
    * post-dedup, post-despan tokens, not on duplicate mass). Emits the
    * p8 row shape (doc_id, score, n_tokens, tokens_before) over clean
    * text. The DuckDB oracle replays the entire chain — gate CASE
    * cascade, signature/banding/closure recursion, keeper-rule span
    * cuts, global budget window — in one statement, so the composition
    * itself (not just each stage) is cross-engine-checked.
    */
  def p10PipelineE2e: Q = (s, dir) => {
    val curated = curatedDocs(s, dir).persist()
    val out = dedupSpanBudget(curated)
    curated.unpersist()
    out.orderBy(col("doc_id"))
  }

  /** The production tail p10 and p11 share over a gated (doc_id, text)
    * set: transitive near-dup groups, span removal over the group
    * representatives, then the token-budget cut over the cleaned text.
    * tokenBudgetSelect eagerly pins its range-partitioned input, so the
    * whole upstream has materialized when this returns and the caller
    * may unpersist the gated set.
    */
  private def dedupSpanBudget(gated: DataFrame): DataFrame = {
    val groups = dedupGroupsOf(gated)
    val reps = gated
      .join(groups.where(col("doc_id") === col("group_id"))
        .select(col("doc_id")), Seq("doc_id"))
      .select(col("doc_id"), col("text"))
    val cleaned = spanRemoval(reps)
      .select(col("doc_id"), col("clean_text").as("text"))
    Curation.tokenBudgetSelect(cleaned, Curation.SelectParts)
  }

  /** Learned-gate thresholds for [[p11PipelineLearned]], chosen against
    * the sf0.01 distributions so each gate discards a real tail: the p7
    * classifier keeps quality ≥ 0.5 (415/500 docs — the model's own
    * decision boundary), and the bigram-LM filter keeps average
    * surprisal ≤ 3.43 micro-nat-rounded nats (≈ the p90 of the gated
    * set — the CCNet move: drop the least-language-model-like tail).
    * Both comparisons run on the ROUNDED values both engines compute
    * identically (micro-nat integer sums), so the gates are
    * deterministic cross-engine.
    */
  val LearnedQualityGate = 0.5
  val LearnedSurpGate = 3.43

  /** p11: the LEARNED production pipeline — p10's composition with the
    * heuristic t7-style gate replaced by trained components (the CCNet
    * ordering): p7's persisted classifier scores every document (keep
    * quality ≥ [[LearnedQualityGate]]), a bigram LM trained on the
    * kept set drops the high-surprisal tail (≤ [[LearnedSurpGate]];
    * documents with < 2 tokens have no LM evidence and drop, the t13
    * rule), then the p10 tail runs unchanged: transitive near-dup
    * closure → span removal over representatives → token-budget cut
    * over the cleaned text. Emits the p8 row shape. Because the
    * classifier serves from the SAME persisted micro-nat weights table
    * p7 writes, the ENTIRE chain — learned gates included — replays in
    * one DuckDB statement (`oracles("p11_pipeline_learned")`, r13:
    * the p7 weights replay + the qg-trained lm2 chain + the p10 tail),
    * making this the end-to-end hash-checked learned pipeline; the
    * gate/subset laws are additionally pinned by PipelineSpec.
    *
    * Scale: both gates are one broadcast-join scan each (the weights
    * table is model-capped, the bigram model is vocabulary-capped and
    * shuffle-joined like t13); everything downstream runs on the
    * post-gate survivor set, preserving the p10 dedup-first ordering
    * argument (gates are CHEAPER than dedup, so they go first). Both
    * learned components serve from persisted artifacts (p7 weights +
    * [[writeP11LmModel]]'s bigram table) — the build-once/serve-many
    * split; the bench times training separately (`p7_model_build`,
    * `p11_lm_build`).
    */
  def p11PipelineLearned: Q = (s, dir) => {
    // persisted: the gated set feeds BOTH the LM scoring pass and the
    // survivor join (and, after the second gate, the closure chain) —
    // the p1/p10 persist discipline
    val qg = qualityGated(s, dir).persist()
    val lmPath = s"${Similarity.artifactRoot(dir)}/p11_lm"
    writeP11LmModel(s, dir, lmPath)
    val lmKeep = TextAnalysis
      .lmScore2Apply(qg, s.read.parquet(lmPath))
      .where(col("avg_surprisal2") <= LearnedSurpGate)
      .select(col("doc_id"))
    val lg = qg.join(lmKeep, Seq("doc_id")).persist()
    val out = dedupSpanBudget(lg)
    qg.unpersist()
    lg.unpersist()
    out.orderBy(col("doc_id"))
  }

  /** The p7-gated document set p11's second gate trains on and scores:
    * (doc_id, text) with served quality ≥ [[LearnedQualityGate]].
    * Serves from the persisted p7 weights table (writing it first if
    * this JVM hasn't).
    */
  private def qualityGated(s: SparkSession, dir: String): DataFrame = {
    val path = s"${Similarity.artifactRoot(dir)}/p7_model"
    QualityModel.writeServedModel(s, dir, path)
    val w = s.read.parquet(s"$path/weights")
    val bMicro = s.read.parquet(s"$path/meta").collect()(0).getLong(0)
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val qKeep = QualityModel.scoreDocsServed(docs, w, bMicro)
      .where(col("quality") >= LearnedQualityGate)
      .select(col("doc_id"))
    docs.join(qKeep, Seq("doc_id"))
  }

  /** Persist p11's bigram LM — [[TextAnalysis.lm2Model]] fitted on the
    * quality-gated set — as a (prev, tok, surp2) micro-nat parquet
    * table, the [[QualityModel.writeServedModel]] discipline: memoized
    * per (dir, path) within the JVM, so the first call per process
    * trains and writes a FRESH artifact (the correctness gate always
    * hashes the model THIS code version produces) and every later call
    * serves from it. Because the model is trained on the same gated
    * set p11 scores, every scored bigram is in the table and
    * apply-from-artifact is row-identical to training in-line (integer
    * micro-nats — the parquet round trip is exact). The bench carries
    * the training cost in its own `p11_lm_build` row.
    */
  def writeP11LmModel(s: SparkSession, dir: String, path: String): Unit =
    ArtifactCache(dir, "p11_lm", path) {
      TextAnalysis.lm2Model(qualityGated(s, dir))
        .write.mode("overwrite").parquet(path)
    }

  /** Drops the per-JVM written-artifact memo for `dir`, so the next
    * [[writeP11LmModel]] retrains. The bench's `p11_lm_build` row calls
    * this first (p7's [[QualityModel.invalidate]] twin).
    */
  def invalidateLm(dir: String): Unit =
    ArtifactCache.invalidate(dir, "p11_lm")

  /** Streaming face of d11: each arriving micro-batch of (doc_id, text)
    * documents is assigned against the frozen store by the EXACT batch
    * serving plan via foreachBatch (the candidate-driven semi-join into
    * the corpus can't be a stream-static join — the store scan is
    * pruned by each batch's band keys), results handed to `sink`.
    * Batches are independent given the immutable store, so the union
    * over micro-batches equals the one-shot batch answer
    * (StreamingSpec) — the d11 law that arriving crawl batches compose.
    */
  def assignStream(stream: DataFrame, dir: String)
      (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val path = s"${Similarity.artifactRoot(dir)}/dedup_index"
    writeDedupIndex(stream.sparkSession, dir, path)
    MicroBatch.serve(stream)(b =>
      assignAgainstIndex(b.sparkSession, dir, path, b))(sink)
  }

  /** 32-bit SimHash over the distinct token set: bit b is set when more
    * token hashes have bit b set than clear. Same-vocabulary docs collapse
    * to the same simhash; near-dups differ in few bits (Hamming distance).
    */
  def d4Simhash: Q = (s, dir) =>
    // row formulation, like minhashSigs: one md5 per (doc, token) row,
    // then 32 per-bit ±1 sums as partially-aggregated counters (literal
    // shift counts, plain codegen'd aggregates — the array-lambda
    // alternative allocates a 32-int array per token). The shuffle carries
    // (doc_id, 32 ints) after map-side partials.
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(tokensCol(col("text")))).as("tok"))
      .select(col("doc_id"), hash32(col("tok")).as("h32"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(shiftright(col("h32"), 0).bitwiseAND(lit(1L)) === 1L,
          1).otherwise(-1)).as("c0"),
        (1 until 32).map(b =>
          sum(when(shiftright(col("h32"), b).bitwiseAND(lit(1L)) === 1L,
            1).otherwise(-1)).as(s"c$b")): _*)
      .select(col("doc_id"),
        (0 until 32).map(b =>
          when(col(s"c$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
      .orderBy(col("doc_id"))

  /** Bands and hamming radius for [[d8SimhashPairs]]. 4 bands of 8 bits
    * over the 32-bit simhash: by pigeonhole, any pair within hamming
    * [[SimhashHammingMax]] = 3 leaves at least one band untouched, so
    * the band join finds EVERY such pair — the oracle can therefore be
    * the naive all-pairs form and match exactly (no recall gap to
    * excuse). Radius > bands−1 would break that guarantee.
    */
  val SimhashBands = 4
  val SimhashHammingMax = 3

  /** d8: the rung that USES d4's simhash — near-dup candidate pairs via
    * band equality, verified by exact hamming distance. Same shuffle
    * shape as d3: the join key is (band, band_value), so candidates
    * co-locate per band bucket instead of all-pairs. Each qualifying
    * pair is emitted EXACTLY once — only by its FIRST agreeing band
    * (computable per-row from the two hashes, the e7 max-start-bin
    * trick in bitwise form) — so no result-sized distinct pass. At
    * corpus scale the per-bucket volume rides the same capping pattern
    * as [[d3LshPairs]]' bucketedPairs; the fixture's buckets are small
    * enough to pair exhaustively.
    */
  def d8SimhashPairs: Q = (s, dir) => {
    def bandOf(h: Column, b: Int): Column =
      shiftright(h, 8 * b).bitwiseAND(lit(0xFFL))
    val sh = d4Simhash(s, dir)
    val withBands = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until SimhashBands).map(b =>
        struct(lit(b).as("band"),
          bandOf(col("simhash"), b).as("bv"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    val l = withBands.select(col("band"), col("bv"),
      col("doc_id").as("a_id"), col("simhash").as("a_sh"))
    val r = withBands.select(col("band"), col("bv"),
      col("doc_id").as("b_id"), col("simhash").as("b_sh"))
    // smallest band index on which the two hashes agree (when-chain in
    // ascending band order); keeping only band === firstMatch makes the
    // emission exactly-once without a distinct
    val firstMatch = (SimhashBands - 1 to 0 by -1)
      .foldLeft(lit(-1): Column)((acc, b) =>
        when(bandOf(col("a_sh"), b) === bandOf(col("b_sh"), b), lit(b))
          .otherwise(acc))
    l.join(r, Seq("band", "bv"))
      .where(col("a_id") < col("b_id") && col("band") === firstMatch)
      .withColumn("hamming",
        bit_count(col("a_sh").bitwiseXOR(col("b_sh"))))
      .where(col("hamming") <= SimhashHammingMax)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** n-gram (unigram-set) Jaccard similarity for the first 100 docs:
    * |A∩B| / |A∪B| over distinct token sets, thresholded. The exact
    * verifier for LSH candidates — at scale it runs on d3's output, here
    * also standalone for oracle checking.
    */
  def d5JaccardPairs: Q = (s, dir) => {
    val t = Tables.documents(s, dir)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"),
        array_distinct(tokensCol(col("text"))).as("toks"))
    val a = t.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"))
    val b = t.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"))
    a.crossJoin(b).where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
          size(array_union(col("toks_a"), col("toks_b")))).as("jac"))
      .where(col("jac") >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jac"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---- d11: incremental dedup against a persisted signature store ---------

  /** Deterministic batch split for [[d11IncrementalDedup]]: documents
    * with doc_id ≡ [[DeltaResidue]] (mod [[DeltaMod]]) are the arriving
    * "delta" batch (10%), the rest the already-indexed corpus. Fixture
    * scaffolding only — production deltas arrive as their own table;
    * the modulus keeps the split replayable in one SQL predicate.
    */
  val DeltaMod = 10
  val DeltaResidue = 9

  /** Jaccard acceptance for a delta→corpus duplicate claim (the d5
    * verify threshold — candidates come from banding, the decision
    * from exact token-set overlap).
    */
  val IncrementalJaccard = 0.5

  /** Persist the corpus-side dedup state [[d11IncrementalDedup]] serves
    * from: `bands/` (doc_id, band, key, rn — the banded MinHash rows
    * with each row's rank within its (band, key) bucket) and `groups/`
    * (doc_id, group_id — the d6 transitive closure over the base
    * corpus). The rank is computed at BUILD time so serving never
    * windows over the corpus-sized band table; the [[MaxBucket]] cap at
    * serve time is a disk-pushable `rn <= cap` filter. Memoized per
    * (dir, path) in the JVM, [[QualityModel.writeServedModel]]
    * discipline: first call per process builds fresh, later calls
    * serve. The bench carries the build in its own `d11_index_build`
    * row.
    */
  def writeDedupIndex(s: SparkSession, dir: String, path: String): Unit =
    ArtifactCache(dir, "d11_index", path) {
      writeDedupIndexOf(s, Tables.documents(s, dir)
        .where(pmod(col("doc_id"), lit(DeltaMod)) =!= DeltaResidue)
        .select(col("doc_id"), col("text")), path)
    }

  /** [[writeDedupIndex]] over an EXPLICIT base corpus — the staleness
    * protocol's face (ScaleBench builds the store on a hash-holdout
    * split and serves the held-out fraction against it); unmemoized,
    * the caller owns idempotence.
    */
  private[graft] def writeDedupIndexOf(s: SparkSession, base: DataFrame,
      path: String): Unit = {
    // ONE signature/banding pass for both tables (r21): the band
    // export and the group closure each re-ran the 64-hash MinHash
    // scan of the base corpus before
    val bands = bandRowsOf(minhashSigsOf(base)).persist()
    bands
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band"), col("key"))
          .orderBy(col("doc_id"))))
      .write.mode("overwrite").parquet(s"$path/bands")
    dedupGroupsFromBands(bands, base)
      .write.mode("overwrite").parquet(s"$path/groups")
    bands.unpersist()
  }

  /** Drops the per-JVM index memo for `dir` ([[invalidateLm]] twin). */
  def invalidateDedupIndex(dir: String): Unit =
    ArtifactCache.invalidate(dir, "d11_index")

  /** d11: INCREMENTAL dedup — assign an arriving batch against the
    * persisted corpus signature store withOUT re-signaturing or
    * re-shuffling the corpus (the daily-crawl-against-100-TB shape, the
    * lexical twin of the s9 index's append path). Per delta batch:
    *
    *  1. sign the DELTA only (one scan of the batch);
    *  2. broadcast its band rows against the persisted store — the
    *     corpus side streams through ONE scan, `rn <= MaxBucket`
    *     pushed to parquet, zero corpus shuffle;
    *  3. fetch candidate corpus payloads by a broadcast semi-join into
    *     the document table (candidates are few — pushdown prunes the
    *     scan) and verify exact Jaccard ≥ [[IncrementalJaccard]];
    *  4. label each delta doc with the smallest matched corpus
    *     group_id, else itself. Corpus labels are immutable — the
    *     store is never relabeled by serving, so repeated batches
    *     compose (spec-pinned store-stability law).
    *
    * Emits (doc_id, group_id, n_matches) per delta doc. The bucket cap
    * keeps a mass-duplicate bucket from exploding candidates, and the
    * capped set still contains the bucket rep (rn = 1), so a delta doc
    * matching a 10⁶-dup cluster still lands on the cluster's label.
    * The delta side is broadcast because a daily batch ≪ the corpus;
    * a backfill-sized delta would instead write the store bucketed by
    * (band, key) so only the delta shuffles. The DuckDB oracle replays
    * the ENTIRE chain — base split, signatures, banding, capped base
    * closure, candidate join, Jaccard verify, assignment — from the
    * raw documents table (the index is deterministic, so no parquet
    * read is needed).
    */
  def d11IncrementalDedup: Q = (s, dir) => {
    val path = s"${Similarity.artifactRoot(dir)}/dedup_index"
    writeDedupIndex(s, dir, path)
    val delta = Tables.documents(s, dir)
      .where(pmod(col("doc_id"), lit(DeltaMod)) === DeltaResidue)
      .select(col("doc_id"), col("text"))
    assignAgainstIndex(s, dir, path, delta).orderBy(col("doc_id"))
  }

  /** The d11 SERVE face over an arbitrary arriving (doc_id, text) batch
    * — shared by the batch query and the streaming foreachBatch twin
    * (each micro-batch of arriving documents is one call; batches are
    * independent given the immutable store, so the union over
    * micro-batches equals the one-shot answer — StreamingSpec).
    */
  private[graft] def assignAgainstIndex(s: SparkSession, dir: String,
      path: String, delta: DataFrame): DataFrame =
    assignFrom(s, dir, s.read.parquet(s"$path/bands"),
      s.read.parquet(s"$path/groups"), delta, broadcastDelta = true)

  /** [[assignAgainstIndex]] parameterized by the store frames and the
    * delta-join strategy. `broadcastDelta = true` is the daily-batch
    * plan (store streams through one scan, zero shuffle anywhere);
    * `false` is the BACKFILL plan for a delta too big to broadcast —
    * pair it with a store saved bucketed on (band, key) and only the
    * delta side shuffles into the store's layout (measured in
    * `scale_d11bucket.json`; the q3 bucketing pattern). The downstream
    * candidate/verify joins stay broadcast in both forms — they are
    * sized by the capped candidate set, not the corpus.
    *
    * CADENCE RULE (VERDICT r19 next-4 — this method chooses a PLAN,
    * an operator must also choose WHEN TO STOP SERVING): backfill
    * serve cost grows near-linearly with the arrival fraction while a
    * fresh rebuild is flat — measured at x1000 (5M docs,
    * `scale_d11stale_x1000.json`): serve 53/138/348 s at 12/25/50%
    * vs 71 s rebuild, a ~5× overpay at the half-corpus point. The
    * crossover sits between 12% and 25%, ≈ 15% of corpus mass:
    * **once accumulated un-indexed arrivals exceed ~15% of the
    * store, rebuild the index instead of serving the backlog through
    * it** — the rebuild is also the only operation that repairs
    * arrival↔arrival staleness (ARI 0.999→0.990 over 12→50%, same
    * record). ScaleBench's d11stale mode prints this comparison per
    * run (`d11stale{pct}_serve_over_rebuild`).
    */
  private[graft] def assignFrom(s: SparkSession, dir: String,
      baseBands: DataFrame, groups: DataFrame, delta: DataFrame,
      broadcastDelta: Boolean): DataFrame = {
    // `broadcastDelta = true` FORCES the daily-batch plan: every
    // delta-scaled frame (band rows, token arrays, the verified match
    // set) rides a broadcast hint, so the corpus-scaled side never
    // shuffles — correct exactly while a batch ≪ the corpus. The
    // backfill face (`false`) hints NOTHING and lets AQE pick: a
    // 12–50% backfill's "delta-scaled" frames are corpus-scaled (a
    // forced broadcast dies at spark.driver.maxResultSize collecting
    // them — measured at x1000, SCALE.md §r19), while whatever is
    // genuinely small at runtime still broadcasts adaptively.
    def hinted(df: DataFrame): DataFrame =
      if (broadcastDelta) broadcast(df) else df
    val deltaBands = hinted(bandRowsOf(minhashSigsOf(delta))
      .select(col("doc_id").as("delta_id"), col("band"), col("key")))
    val cand = baseBands
      .where(col("rn") <= MaxBucket)
      .join(deltaBands, Seq("band", "key"))
      .select(col("delta_id"), col("doc_id").as("base_id"))
      .distinct()
    val baseToks = Tables.documents(s, dir)
      .join(hinted(cand.select(col("base_id")).distinct()),
        col("doc_id") === col("base_id"), "left_semi")
      .select(col("doc_id").as("base_id"),
        array_distinct(tokensCol(col("text"))).as("toks_b"))
    val deltaToks = delta.select(col("doc_id").as("delta_id"),
      array_distinct(tokensCol(col("text"))).as("toks_d"))
    val inter = size(array_intersect(col("toks_d"), col("toks_b")))
    // |A∪B| as |A|+|B|−|A∩B| over the distinct arrays — the d5 oracle's
    // formulation, mirrored so the 0.5 comparison is bit-identical
    val union = size(col("toks_d")) + size(col("toks_b")) - inter
    val ver = cand
      .join(baseToks, Seq("base_id"))
      .join(hinted(deltaToks), Seq("delta_id"))
      .where(inter.cast("double") / union >= IncrementalJaccard)
      .select(col("delta_id"), col("base_id"))
    // groups is corpus-sized; under the daily-batch plan the verified
    // set is tiny, so broadcasting it makes the label fetch one corpus
    // scan with no shuffle
    val matched = groups
      .withColumnRenamed("doc_id", "base_id")
      .join(hinted(ver), Seq("base_id"))
      .groupBy(col("delta_id"))
      .agg(min(col("group_id")).as("mg"), count(lit(1)).as("nm"))
    delta.select(col("doc_id"))
      .join(hinted(matched), col("doc_id") === col("delta_id"), "left")
      .select(col("doc_id"),
        coalesce(col("mg"), col("doc_id")).as("group_id"),
        coalesce(col("nm"), lit(0L)).as("n_matches"))
  }

  // ---- DuckDB oracles ------------------------------------------------------

  private val seedValuesSql = hashSeeds.zipWithIndex
    .map { case ((a, b), k) => s"($k, $a, $b)" }.mkString(", ")

  private def sigSqlFrom(src: String) =
    s"""sig AS (
       |  SELECT doc_id, h, min((a * h32 + b) % $MersennePrime) AS mh
       |  FROM (SELECT doc_id,
       |      ('0x' || substr(md5(unnest(list_distinct(
       |        string_split_regex(trim(text), '\\s+')))), 1, 8))::BIGINT
       |        AS h32
       |    FROM $src),
       |    (VALUES $seedValuesSql) seeds(h, a, b)
       |  GROUP BY doc_id, h)""".stripMargin

  private val sigSql = sigSqlFrom("documents")

  /** Shared d3/d6/d10 oracle fragment: banded buckets → capped candidate
    * pairs (the SQL twin of [[bucketedPairs]]), parameterized by the
    * band width so the d10 auto-derived layout replays through the SAME
    * fragment as d3's pinned one.
    */
  private def bandPairSqlFor(bandSize: Int) =
    s"""bands AS (
       |  SELECT doc_id, (h // $bandSize)::INT AS band,
       |    string_agg(mh, ',' ORDER BY h) AS key
       |  FROM sig GROUP BY doc_id, (h // $bandSize)),
       |ranked AS (
       |  SELECT band, key, doc_id,
       |    row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rn,
       |    min(doc_id) OVER (PARTITION BY band, key) AS rep
       |  FROM bands),
       |pairs AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ranked a JOIN ranked b
       |    ON a.band = b.band AND a.key = b.key
       |    AND a.rn < b.rn AND b.rn <= $MaxBucket
       |  UNION ALL
       |  SELECT rep AS doc_a, doc_id AS doc_b FROM ranked
       |  WHERE rn > $MaxBucket))""".stripMargin

  private val bandPairSql = bandPairSqlFor(BandSize)

  /** Span-removal CTE chain over `src(doc_id, text)` ending in
    * `cleaned(doc_id, n_toks, kept)` — the SQL twin of [[spanRemoval]],
    * shared by the d9b oracle (src = documents) and the p10 pipeline
    * oracle (src = the post-dedup representatives). CTE names are
    * prefixed (srt/sw/...) so the chain composes with the p1 gate +
    * closure chain without collisions.
    */
  private def spanRemovalSqlFrom(src: String) =
    s"""srt AS (SELECT doc_id,
       |  string_split_regex(trim(text), '\\s+') AS toks FROM $src),
       |sw AS (SELECT doc_id, i AS p,
       |    ('0x' || substr(md5(array_to_string(
       |      toks[i:i+${SpanWindow - 1}], ' ')), 1, 15))::BIGINT AS wh
       |  FROM srt, unnest(generate_series(1, len(toks) - ${SpanWindow - 1}))
       |    AS u(i)),
       |socc AS (SELECT doc_id, p,
       |    row_number() OVER (PARTITION BY wh ORDER BY doc_id, p) AS rn,
       |    count(*) OVER (PARTITION BY wh) AS c FROM sw),
       |srm AS (SELECT DISTINCT doc_id, j FROM socc,
       |    unnest(generate_series(p, p + ${SpanWindow - 1})) AS g(j)
       |  WHERE c >= 2 AND rn > 1),
       |sri AS (SELECT doc_id, list(j ORDER BY j) AS rmidx FROM srm
       |  GROUP BY doc_id),
       |cleaned AS (SELECT srt.doc_id, len(toks) AS n_toks,
       |    list_filter(toks, (x, i) -> NOT list_contains(
       |      coalesce(rmidx, CAST([] AS BIGINT[])), i)) AS kept
       |  FROM srt LEFT JOIN sri USING (doc_id))""".stripMargin

  /** Symmetric edge list + recursive reachability over the `pairs` CTE —
    * shared by the d6/p1 oracles and Audio's mm10b (one source of truth
    * for the closure formulation).
    */
  private[graft] val edgesReachSql =
    """edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)""".stripMargin

  /** Per-doc min-reachable group over an arbitrary doc universe; `idCol`
    * names the universe's id column (documents: doc_id, embeddings:
    * vec_id) — one closure formulation serves the d6/p1/d7 oracles.
    */
  private[graft] def grpSqlFrom(src: String, idCol: String = "doc_id") =
    s"""grp AS (SELECT d.$idCol AS doc_id,
       |    least(d.$idCol, coalesce(min(r.dst), d.$idCol)) AS group_id
       |  FROM $src d LEFT JOIN reach r ON r.src = d.$idCol
       |  GROUP BY d.$idCol)""".stripMargin

  def oracles: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """SELECT sum(n)::BIGINT AS n_docs, count(*) AS n_distinct,
        |  sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_groups
        |FROM (SELECT md5(text) AS h, count(*) AS n
        |  FROM documents GROUP BY md5(text))""".stripMargin,
    "d2_minhash_sig" ->
      s"""WITH $sigSql
         |SELECT doc_id, h::INT AS h, mh FROM sig ORDER BY doc_id, h""".stripMargin,
    // same capped semantics as bucketedPairs: clique among the MaxBucket
    // smallest doc_ids per bucket + star (bucket min → doc) for overflow
    "d3_lsh_pairs" ->
      s"""WITH $sigSql,
         |$bandPairSql
         |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
    // the auto-derived banding replayed end-to-end at its computed band
    // width — the layout constant below comes from minhashBandsFor
    "d10_lsh_auto" ->
      s"""WITH $sigSql,
         |${bandPairSqlFor(minhashBandsFor(NumHashes, D10TargetJaccard)._2)}
         |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
    // full raw replay of the incremental chain: base split → signatures
    // → banding (with in-bucket base rank) → capped base closure
    // (exact recursive reachability) → delta candidate join → exact
    // Jaccard verify → min-group assignment. The persisted index is
    // deterministic, so the oracle re-derives it from `documents`
    // instead of reading parquet — fixture-portable by construction.
    "d11_incremental_dedup" ->
      s"""WITH RECURSIVE $sigSql,
         |ab AS (
         |  SELECT doc_id, (h // $BandSize)::INT AS band,
         |    string_agg(mh, ',' ORDER BY h) AS key
         |  FROM sig GROUP BY doc_id, (h // $BandSize)),
         |ranked AS (
         |  SELECT band, key, doc_id,
         |    row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rn,
         |    min(doc_id) OVER (PARTITION BY band, key) AS rep
         |  FROM ab WHERE doc_id % $DeltaMod != $DeltaResidue),
         |pairs AS (SELECT DISTINCT doc_a, doc_b FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ranked a JOIN ranked b
         |    ON a.band = b.band AND a.key = b.key
         |    AND a.rn < b.rn AND b.rn <= $MaxBucket
         |  UNION ALL
         |  SELECT rep AS doc_a, doc_id AS doc_b FROM ranked
         |  WHERE rn > $MaxBucket)),
         |$edgesReachSql,
         |${grpSqlFrom(s"(SELECT doc_id FROM documents " +
           s"WHERE doc_id % $DeltaMod != $DeltaResidue)")},
         |cand AS (SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS base_id
         |  FROM ab d JOIN ranked b ON d.band = b.band AND d.key = b.key
         |    AND b.rn <= $MaxBucket
         |  WHERE d.doc_id % $DeltaMod = $DeltaResidue),
         |toks AS (SELECT doc_id,
         |  list_distinct(string_split_regex(trim(text), '\\s+')) AS toks
         |  FROM documents),
         |ver AS (SELECT delta_id, base_id FROM cand
         |  JOIN toks a ON a.doc_id = delta_id
         |  JOIN toks b ON b.doc_id = base_id
         |  WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
         |    (len(a.toks) + len(b.toks)
         |      - len(list_intersect(a.toks, b.toks)))
         |    >= $IncrementalJaccard),
         |mg AS (SELECT delta_id, min(g.group_id) AS mg, count(*) AS nm
         |  FROM ver JOIN grp g ON g.doc_id = ver.base_id
         |  GROUP BY delta_id)
         |SELECT d.doc_id, coalesce(mg, d.doc_id) AS group_id,
         |  coalesce(nm, 0)::BIGINT AS n_matches
         |FROM documents d LEFT JOIN mg ON mg.delta_id = d.doc_id
         |WHERE d.doc_id % $DeltaMod = $DeltaResidue
         |ORDER BY d.doc_id""".stripMargin,
    // independent algorithm cross-check of the closure's rounds: exact
    // reachability via a recursive CTE, group = min reachable doc_id
    "d6_dedup_groups" ->
      s"""WITH RECURSIVE $sigSql,
         |$bandPairSql,
         |$edgesReachSql,
         |${grpSqlFrom("documents")}
         |SELECT doc_id, group_id FROM grp ORDER BY doc_id""".stripMargin,
    // rep = row_number()-over-window argmax — the OPPOSITE formulation
    // of the Spark side's partial-aggregatable struct-min, so the hash
    // match cross-checks the reduction, not just the closure
    "d12_group_reps" ->
      s"""WITH RECURSIVE $sigSql,
         |$bandPairSql,
         |$edgesReachSql,
         |${grpSqlFrom("documents")},
         |dsc AS (SELECT doc_id,
         |    (CASE WHEN ${Curation.nonBlankSql("text")}
         |      THEN (len(list_distinct(toks)) * 1000) // len(toks)
         |      ELSE 0 END)::BIGINT AS score
         |  FROM (SELECT doc_id, text,
         |      string_split_regex(trim(text), '\\s+') AS toks
         |    FROM documents)),
         |r AS (SELECT grp.group_id, grp.doc_id, dsc.score,
         |    row_number() OVER (PARTITION BY grp.group_id
         |      ORDER BY dsc.score DESC, grp.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY grp.group_id) AS n_members
         |  FROM grp JOIN dsc ON dsc.doc_id = grp.doc_id)
         |SELECT group_id, doc_id AS rep_id, score AS rep_score,
         |  n_members
         |FROM r WHERE rn = 1 ORDER BY group_id""".stripMargin,
    // reachability over the CAPPED embedding-cosine pairs (the SQL pair
    // fragment lives beside its Spark twin in Similarity)
    "d7_semantic_groups" ->
      s"""WITH RECURSIVE ${Similarity.cappedNearDupPairSql},
         |$edgesReachSql,
         |${grpSqlFrom("embeddings", "vec_id")}
         |SELECT doc_id AS vec_id, group_id FROM grp ORDER BY vec_id""".stripMargin,
    // independent replay of the window-hash → global-count → islands
    // chain; positions are 1-based here vs posexplode's 0-based, which
    // cancels in the p − row_number() island key
    "d9_substring_spans" ->
      s"""WITH t AS (SELECT doc_id,
         |  string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         |w AS (SELECT doc_id, i AS p,
         |    ('0x' || substr(md5(array_to_string(
         |      toks[i:i+${SpanWindow - 1}], ' ')), 1, 15))::BIGINT AS wh
         |  FROM t, unnest(generate_series(1, len(toks) - ${SpanWindow - 1}))
         |    AS u(i)),
         |dup AS (SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2),
         |dpos AS (SELECT doc_id, p,
         |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS isl
         |  FROM w WHERE wh IN (SELECT wh FROM dup)),
         |runs AS (SELECT doc_id, isl, count(*) AS len FROM dpos
         |  GROUP BY doc_id, isl),
         |pd AS (SELECT doc_id, sum(len)::BIGINT AS dw, count(*) AS ds,
         |    (max(len) + ${SpanWindow - 1})::BIGINT AS mst
         |  FROM runs GROUP BY doc_id)
         |SELECT t.doc_id,
         |  greatest(len(toks) - ${SpanWindow - 1}, 0)::BIGINT AS n_windows,
         |  coalesce(dw, 0)::BIGINT AS n_dup_windows,
         |  coalesce(ds, 0)::BIGINT AS n_dup_spans,
         |  coalesce(mst, 0)::BIGINT AS max_span_tokens,
         |  CASE WHEN len(toks) - ${SpanWindow - 1} > 0
         |    THEN round(coalesce(dw, 0) * 1.0 /
         |      (len(toks) - ${SpanWindow - 1}), 6)
         |    ELSE 0.0 END AS dup_ratio
         |FROM t LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin,
    // keeper = first occurrence in (doc_id, p) order (rn = 1 ↔ the
    // Spark side's min(struct(doc_id, p))); cut extents exploded to
    // token indices, then one indexed list_filter per doc. The
    // coalesce on array_to_string: DuckDB returns NULL for an empty
    // list where concat_ws returns ''.
    "d9b_span_removal" ->
      s"""WITH ${spanRemovalSqlFrom("documents")}
         |SELECT doc_id,
         |  coalesce(array_to_string(kept, ' '), '') AS clean_text,
         |  len(kept)::BIGINT AS n_kept,
         |  (n_toks - len(kept))::BIGINT AS n_removed
         |FROM cleaned ORDER BY doc_id""".stripMargin,
    "d4_simhash" ->
      """WITH t AS (SELECT doc_id,
        |  list_transform(list_distinct(string_split_regex(trim(text), '\s+')),
        |    x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
        |  FROM documents)
        |SELECT doc_id,
        |  list_sum(list_transform(generate_series(0, 31), b ->
        |    CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |      THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS simhash
        |FROM t ORDER BY doc_id""".stripMargin,
    // the naive all-pairs form IS the exact oracle: 4x8 banding with
    // radius 3 has guaranteed recall (pigeonhole), so the Spark side's
    // band join must reproduce every qualifying pair
    "d8_simhash_pairs" ->
      s"""WITH t AS (SELECT doc_id,
         |  list_transform(list_distinct(string_split_regex(trim(text), '\\s+')),
         |    x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
         |  FROM documents),
         |sh AS (SELECT doc_id,
         |  list_sum(list_transform(generate_series(0, 31), b ->
         |    CASE WHEN list_sum(list_transform(hs, h ->
         |        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |      THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS simhash
         |  FROM t)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashHammingMax
         |ORDER BY a_id, b_id""".stripMargin,
    "d5_jaccard_pairs" ->
      """WITH t AS (SELECT doc_id,
        |  list_distinct(string_split_regex(trim(text), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_a, doc_b, round(jac, 6) AS jac FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.toks, b.toks)) * 1.0 /
        |    len(list_distinct(list_concat(a.toks, b.toks))) AS jac
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
        |WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    // composes the d6 reachability groups with the t1/t2 quality + lang
    // logic — one SQL statement mirroring the one Spark plan
    "p1_corpus_curation" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, text,
         |  string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         |q AS (SELECT doc_id, text, len(toks) AS n_tokens,
         |    round(len(list_filter(toks,
         |      x -> x IN ${TextAnalysis.inListSql(TextAnalysis.stopwords)}))
         |      * 1.0 / len(toks), 6) AS stop_ratio,
         |    ${TextAnalysis.langGuessCaseSql} AS guess
         |  FROM (SELECT doc_id, text, toks,
         |${TextAnalysis.langScoreColsSql}
         |    FROM t)),
         |cur AS (SELECT doc_id, text, n_tokens, stop_ratio FROM q
         |  WHERE n_tokens >= $MinCurationTokens
         |    AND stop_ratio >= $MinStopRatio AND guess = 'en'),
         |${sigSqlFrom("cur")},
         |$bandPairSql,
         |$edgesReachSql,
         |${grpSqlFrom("cur")},
         |sz AS (SELECT group_id, count(*) AS n_dups FROM grp
         |  GROUP BY group_id)
         |SELECT g.doc_id, n_tokens, stop_ratio, n_dups
         |FROM grp g
         |JOIN cur c ON c.doc_id = g.doc_id
         |JOIN sz ON sz.group_id = g.doc_id
         |WHERE g.group_id = g.doc_id
         |ORDER BY g.doc_id""".stripMargin,
    // the full production order in ONE statement: p1's gate + closure
    // chain → representatives → the shared span-removal chain → the p8
    // budget window over the cleaned text
    "p10_pipeline_e2e" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, text,
         |  string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         |q AS (SELECT doc_id, text, len(toks) AS n_tokens,
         |    round(len(list_filter(toks,
         |      x -> x IN ${TextAnalysis.inListSql(TextAnalysis.stopwords)}))
         |      * 1.0 / len(toks), 6) AS stop_ratio,
         |    ${TextAnalysis.langGuessCaseSql} AS guess
         |  FROM (SELECT doc_id, text, toks,
         |${TextAnalysis.langScoreColsSql}
         |    FROM t)),
         |cur AS (SELECT doc_id, text, n_tokens, stop_ratio FROM q
         |  WHERE n_tokens >= $MinCurationTokens
         |    AND stop_ratio >= $MinStopRatio AND guess = 'en'),
         |${sigSqlFrom("cur")},
         |$bandPairSql,
         |$edgesReachSql,
         |${grpSqlFrom("cur")},
         |reps AS (SELECT c.doc_id, c.text FROM grp g
         |  JOIN cur c ON c.doc_id = g.doc_id
         |  WHERE g.group_id = g.doc_id),
         |${spanRemovalSqlFrom("reps")},
         |ct AS (SELECT doc_id,
         |    coalesce(array_to_string(kept, ' '), '') AS text
         |  FROM cleaned),
         |st AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\\s+') AS toks2
         |  FROM ct WHERE ${Curation.nonBlankSql("text")}),
         |ss AS (SELECT doc_id, len(toks2)::BIGINT AS n_tokens,
         |    ((len(list_distinct(toks2)) * 1000) // len(toks2))::BIGINT
         |      AS score
         |  FROM st),
         |cc AS (SELECT doc_id, score, n_tokens,
         |    coalesce(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS tokens_before
         |  FROM ss)
         |SELECT doc_id, score, n_tokens, tokens_before FROM cc
         |WHERE tokens_before < ${Curation.SelectBudget}
         |ORDER BY doc_id""".stripMargin,
    // the LEARNED pipeline in ONE statement (r12 VERDICT next-1): the
    // p7 served-weights replay gates on quality, the bigram-LM chain —
    // trained on the gated set, exactly like the Spark plan — gates on
    // surprisal, then the p10 tail (closure → representatives → span
    // removal → budget window) runs over the survivors
    "p11_pipeline_learned" ->
      s"""WITH RECURSIVE dt AS (SELECT doc_id, text FROM documents),
         |${QualityModel.qualityScoreSqlFrom("dt")},
         |qg AS (SELECT d.doc_id, d.text FROM dt d JOIN qs USING (doc_id)
         |  WHERE quality >= $LearnedQualityGate),
         |${TextAnalysis.lm2SqlFrom("qg")},
         |lg AS (SELECT g.doc_id, g.text FROM qg g JOIN lmsc USING (doc_id)
         |  WHERE avg_surprisal2 <= $LearnedSurpGate),
         |${sigSqlFrom("lg")},
         |$bandPairSql,
         |$edgesReachSql,
         |${grpSqlFrom("lg")},
         |reps AS (SELECT c.doc_id, c.text FROM grp g
         |  JOIN lg c ON c.doc_id = g.doc_id
         |  WHERE g.group_id = g.doc_id),
         |${spanRemovalSqlFrom("reps")},
         |ct AS (SELECT doc_id,
         |    coalesce(array_to_string(kept, ' '), '') AS text
         |  FROM cleaned),
         |st AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\\s+') AS toks2
         |  FROM ct WHERE ${Curation.nonBlankSql("text")}),
         |ss AS (SELECT doc_id, len(toks2)::BIGINT AS n_tokens,
         |    ((len(list_distinct(toks2)) * 1000) // len(toks2))::BIGINT
         |      AS score
         |  FROM st),
         |cc AS (SELECT doc_id, score, n_tokens,
         |    coalesce(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS tokens_before
         |  FROM ss)
         |SELECT doc_id, score, n_tokens, tokens_before FROM cc
         |WHERE tokens_before < ${Curation.SelectBudget}
         |ORDER BY doc_id""".stripMargin
  )
}
