package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.ArtifactCache
import graft.sources.Tables
import graft.streaming.MicroBatch
import graft.functions.TextAnalysis.{hash60, tokensCol}

/** Corpus-curation operators a large-scale training-data pipeline runs
  * after quality/dedup (builder brief): deterministic train/val/test
  * splitting, per-domain quota sampling (dataset mixing), and sequence
  * packing into fixed token budgets.
  *
  * Everything is hash-deterministic — re-running the pipeline on the same
  * corpus reproduces the same split/sample/packing bit-for-bit, with no
  * RNG state to coordinate across executors (the property that makes these
  * ops safe to re-run at 100 TB after a partial failure). Hashes are the
  * engine's cross-checkable md5-based [[TextAnalysis.hash60]], so the
  * DuckDB oracles verify the *selection*, not just the counts.
  */
object Curation {

  type Q = (SparkSession, String) => DataFrame

  /** Percent buckets for the p2 split: [0,80) train, [80,90) val,
    * [90,100) test.
    */
  val TrainPct = 80
  val ValPct = 90

  /** Sequence-packing token budget (p4) — a context-window-sized bin. */
  val PackBudget = 2048

  /** Packing shard width: docs are packed within deterministic
    * doc_id-range shards so the cumulative-sum window is per-shard (an
    * embarrassingly parallel window at scale, never a global sort —
    * exactly how production packers shard their corpora).
    */
  val PackShard = 250

  def queries: Map[String, Q] = Map(
    "p2_hash_split" -> p2HashSplit,
    "p3_domain_mix" -> p3DomainMix,
    "p4_seq_packing" -> p4SeqPacking,
    "p5_decontaminate" -> p5Decontaminate,
    "p5b_decontaminate_bloom" -> p5bDecontaminateBloom,
    "p5c_contamination_frac" -> p5cContaminationFrac,
    "p6_stratified_sample" -> p6StratifiedSample,
    "p8_token_budget" -> p8TokenBudget,
    "p12_cluster_budget" -> p12ClusterBudget,
    "p13_curriculum_pack" -> p13CurriculumPack,
    "p14_semantic_budget" -> p14SemanticBudget
  )

  /** Eval-set boundary (doc_id < this = held-out) and overlap gram size
    * for p5. 4-token grams on the fixture corpus surface real
    * near-duplicate contamination without the 3-gram noise floor.
    */
  val EvalDocs = 20
  val GramSize = 4

  /** p5b Bloom sizing: the false-positive target that sets bits-per-slot,
    * and the slot floor for degenerate (near-empty) eval sets. Capacity
    * is DERIVED per run from the eval side's actual distinct-gram count
    * (one cheap `count()` over the tiny side), so the ~10 bits/gram
    * story holds at ANY eval-suite size — a fixed capacity either wastes
    * broadcast bytes or silently degrades fpp as the suite grows.
    * Capacity below the true count would degrade fpp, never correctness:
    * the exact join re-verifies every survivor.
    */
  val BloomFppTarget = 0.01
  val BloomMinSlots = 1L << 10

  private[functions] def bloomCapacityOf(nEvalGrams: Long): Long =
    math.max(nEvalGrams, BloomMinSlots)

  /** p5: decontamination — find training documents sharing any
    * [[GramSize]]-token gram with a held-out eval document, the overlap
    * check every pretraining run owes its eval sets. Per-doc gram sets
    * are DISTINCT (array_distinct before explode), so the count per
    * (train, eval) pair is the number of distinct shared grams. The eval
    * side is tiny by construction (an eval set, not a corpus) and rides
    * a broadcast hint: at 100 TB this is a broadcast semi-join pass over
    * the training scan — no shuffle of the big side.
    */
  def p5Decontaminate: Q = (s, dir) => decontaminate(Tables.documents(s, dir))

  /** The p5 transform over any (doc_id, text) frame (spec feeds synthetic
    * corpora through both this and the Bloom twin).
    */
  def decontaminate(docs: DataFrame): DataFrame =
    sharedGrams(docs)((_, tr) => tr)

  /** The overlap join p5 and p5b share: (train_doc, eval_doc, n_shared)
    * over the eval side's and the train side's distinct grams, the eval
    * side broadcast. `prefilter` narrows the train grams given the eval
    * grams (p5b's Bloom filter; p5 keeps them all).
    */
  private def sharedGrams(docs: DataFrame)(
      prefilter: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    // the doc_id range filters sit BEFORE gram building, so they push to
    // the parquet scan — the eval branch reads ~EvalDocs rows, not the
    // corpus, and neither branch tokenizes the other's rows
    val ev = distinctGrams(docs.where(col("doc_id") < EvalDocs))
      .withColumnRenamed("doc_id", "eval_doc")
    val tr = distinctGrams(docs.where(col("doc_id") >= EvalDocs))
      .withColumnRenamed("doc_id", "train_doc")
    prefilter(ev, tr).join(broadcast(ev), Seq("gram"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("train_doc"), col("eval_doc"))
  }

  /** p5b: the same decontamination RESULT through a Bloom prefilter —
    * p5's 100 TB form. p5 broadcasts the eval gram set as a join hash
    * table (tens of bytes per entry); past a few billion eval grams that
    * table outgrows executor memory while the equivalent Bloom filter
    * (~10 bits/gram at 1% fpp) still broadcasts. The train-side gram
    * stream is prefiltered by Spark's own runtime-row-filter expression
    * ([[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * over xxhash64(gram), fed from an explicitly built filter), so only
    * the surviving sliver — true overlaps plus ≤1% false positives —
    * reaches the exact join. Bloom filters have no false negatives, so
    * the output is identical to p5's and shares its DuckDB oracle: the
    * oracle proves the prefilter dropped nothing it shouldn't have.
    */
  def p5bDecontaminateBloom: Q = (s, dir) =>
    decontaminateBloom(Tables.documents(s, dir))

  /** The p5b transform over any (doc_id, text) frame. */
  def decontaminateBloom(docs: DataFrame): DataFrame =
    sharedGrams(docs) { (ev, tr) =>
      // capacity from the eval side's true gram count: one count() pre-job
      // over the tiny side (an eval set, not a corpus — the third pass of
      // the small gram pipeline costs ~nothing and keeps bits/gram fixed
      // at any suite size; persist ev first if an eval suite ever isn't
      // small). At [[BloomFppTarget]] each slot costs ~10 bits, so even
      // 1M derived slots broadcast ~1.2 MB
      val capacity = bloomCapacityOf(ev.count())
      val bloom = ev.select(xxhash64(col("gram")).as("h"))
        .stat.bloomFilter("h", capacity, BloomFppTarget)
      val bloomBytes = {
        val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos)
        bos.toByteArray
      }
      val mightContain = org.apache.spark.sql.graft.Bridge.column(
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          org.apache.spark.sql.graft.Bridge.expression(lit(bloomBytes)),
          org.apache.spark.sql.graft.Bridge.expression(
            xxhash64(col("gram")))))
      tr.where(mightContain)
    }

  /** p5c: per-document contamination FRACTION — the graded form of
    * p5's boolean overlap report. p5 answers "which (train, eval)
    * pairs share grams"; the decision a pipeline actually makes is
    * per TRAIN document — drop it when too much of it appears in the
    * eval suite (the n-gram-overlap decontamination rule of published
    * LM training sets). Emits EVERY train doc: distinct gram count,
    * how many of those grams occur anywhere in the eval side, and
    * their ratio (0.0 when a document is too short to have a full
    * gram — those can't be contaminated).
    *
    * Scale shape: p5's exactly — the eval gram set broadcasts (swap in
    * the p5b Bloom prefilter past a few billion eval grams), the train
    * side is one linear gram scan, and the per-doc reduction is ONE
    * map-side-combinable aggregate taken in the same pass as the
    * overlap probe (count + conditional count over the left join), so
    * grading costs no more than the boolean report. The train-universe
    * left join restores gram-less documents the gram scan never emits.
    */
  def p5cContaminationFrac: Q = (s, dir) =>
    contaminationFrac(Tables.documents(s, dir))

  /** The p5c transform over any (doc_id, text) frame. */
  def contaminationFrac(docs: DataFrame): DataFrame = {
    val ev = distinctGrams(docs.where(col("doc_id") < EvalDocs))
      .select(col("gram")).distinct()
      .withColumn("hit", lit(1L))
    val perDoc = distinctGrams(docs.where(col("doc_id") >= EvalDocs))
      .join(broadcast(ev), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"))
    docs.where(col("doc_id") >= EvalDocs).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("contam_frac",
        when(col("n_grams") > 0,
          round(col("n_contaminated").cast("double") / col("n_grams"), 6))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  /** Distinct [[GramSize]]-token grams per document as (doc_id, gram)
    * rows, built STRUCTURALLY: posexplode tokenizes each document
    * exactly once, `lead` windows over (doc, position) assemble the
    * grams, and a distinct dedups within documents. The array-lambda
    * formulation (`transform(sequence(..), i => concat_ws(element_at(
    * toks, i+j)..))`) looks natural but re-evaluates the captured `toks`
    * split expression once per element_at — four regex splits of the
    * full text PER GRAM (measured 25.6s at sf0.1 vs ~1s here; same bug
    * class as the bucketedPairs re-sort, see SCALE.md).
    */
  private[functions] def distinctGrams(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs
      .select(col("doc_id"),
        posexplode(tokensCol(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), concat_ws(" ",
        col("tok") +: (1 until GramSize).map(j =>
          lead(col("tok"), j).over(w)): _*).as("gram"),
        lead(col("tok"), GramSize - 1).over(w).isNotNull.as("full"))
      .where(col("full"))
      .select(col("doc_id"), col("gram"))
      .distinct()
  }

  /** Stable per-document percent bucket: md5 of the decimal doc_id.
    * Id-derived (not row-order-derived), so adding or removing other
    * documents never reshuffles a document's split — the invariant that
    * keeps eval sets stable across corpus versions. (Re-ingesting the
    * same content under NEW ids does re-bucket it; hash a content
    * fingerprint instead if that stability is required.)
    */
  private def pctBucket = hash60(col("doc_id").cast("string")) % 100

  /** p2: deterministic train/val/test split summary. Pure per-row hashing
    * + a 3-group aggregate: one map-side-combined shuffle of 3 rows at any
    * scale.
    */
  def p2HashSplit: Q = (s, dir) =>
    splitCounts(Tables.documents(s, dir)).orderBy(col("split"))

  /** The split tag + counts as ONE transform over any (doc_id, n_chars)
    * frame — the same definition runs the batch query (p2) and
    * incrementally over a document stream (StreamingSpec): the tag is a
    * stateless per-row expression, so an arriving document lands in its
    * final split immediately and the aggregate just accumulates.
    */
  def splitCounts(docs: DataFrame): DataFrame =
    docs
      .withColumn("split",
        when(pctBucket < TrainPct, "train")
          .when(pctBucket < ValPct, "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))

  /** Per-source document quota for p3, derived from the source id's
    * numeric suffix so quotas differ across sources: 8 + 2·(n mod 7)
    * ∈ {8, 10, …, 20}.
    */
  private def quotaOf(src: org.apache.spark.sql.Column) =
    lit(8) + lit(2) *
      (substring(src, 4, Int.MaxValue).cast("int") % 7)

  /** p3: domain mixing by per-source quota — keep each source's `quota`
    * documents with the lowest (hash, doc_id), i.e. a deterministic
    * uniform downsample per domain. The window partitions by source (the
    * shuffle key; per-domain row counts bound the skew) and the hash order
    * makes the sample content-stable: the kept set only changes where
    * documents were actually added or removed.
    */
  def p3DomainMix: Q = (s, dir) =>
    domainMix(Tables.documents(s, dir)).orderBy(col("source"), col("rk"))

  /** The quota-sample transform over any (source, doc_id) frame; the
    * window orders by explicit keys (hash, id), so the result is
    * invariant to the input's partitioning (spec'd).
    */
  def domainMix(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("hk"), col("doc_id"))
    docs
      .select(col("source"), col("doc_id"),
        hash60(col("doc_id").cast("string")).as("hk"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= quotaOf(col("source")))
      .select(col("source"), col("rk"), col("doc_id"))
  }

  /** Per-source keep-percentage for p6, derived from the source id's
    * numeric suffix so rates span the [20,95] band: 20 + 15·(n mod 6)
    * ∈ {20, 35, 50, 65, 80, 95}.
    *
    * Contract: source ids are `srcNN` (fixture generator invariant). A
    * malformed id would cast to null and the p6 filter would silently
    * drop the row — so the cast is guarded with `assert_true`: a
    * non-numeric suffix FAILS the job instead of vanishing from the
    * sample (ADVICE r9; same latent pattern p3's quotaOf had).
    */
  private def stratPctOf(src: org.apache.spark.sql.Column) = {
    val n = substring(src, 4, Int.MaxValue).cast("int")
    val checked = when(n.isNull,
      raise_error(concat(lit("p6: source id without numeric suffix: "), src))
        .cast("int"))
      .otherwise(n)
    lit(20) + lit(15) * (checked % 6)
  }

  /** p6: stratified (per-domain) RATE sampling — keep each document iff a
    * salted hash of its id falls under its source's keep-percentage.
    * Unlike p3's fixed per-domain QUOTA (top-k by hash), this is the
    * fraction sampler a mixing recipe uses ("keep 35% of crawl, 95% of
    * books"): membership is a pure per-row predicate — no window, no
    * shuffle, no state — so at 100 TB it's a filter fused into the scan,
    * and re-running after a partial failure reproduces the identical
    * sample (the salt isolates it from p2's split hash, so sampling is
    * independent of splitting). Emits the kept rows themselves; the
    * oracle re-derives the exact membership, not just the counts.
    */
  def p6StratifiedSample: Q = (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("hk",
        hash60(concat(lit("strat:"), col("doc_id").cast("string"))))
      .where(col("hk") % 100 < stratPctOf(col("source")))
      .select(col("doc_id"), col("source"),
        stratPctOf(col("source")).as("pct"))
      .orderBy(col("doc_id"))

  /** p8's global token budget and its default range-partition count.
    * The budget keeps roughly the top third of the sf0.01 fixture; the
    * partition count is a PARALLELISM knob, not a semantic one — the
    * kept set is invariant to it (spec'd at 1/3/8), which is what lets
    * a cluster pick partitions ≈ executors.
    */
  val SelectBudget = 8000L
  val SelectParts = 8

  /** The `\s` whitespace class, spelled out — the budget gate must trim
    * exactly what the tokenizer splits on, or a tabs/newlines-only
    * document passes an ASCII-space `trim` and tokenizes to phantom
    * empty tokens that enter selection with the maximum diversity score
    * (ADVICE r12 — closes the r11 phantom-token class for BLANK
    * documents, the selection-order hazard). A doc with real content
    * behind leading tab/newline whitespace still counts one leading
    * empty token in both engines ([[tokensCol]] ASCII-trims by design
    * — changing it would rewrite every tokenization oracle); that is
    * a shared, hash-consistent counting quirk, not a selection hole.
    */
  private val WhitespaceClass = " \t\n\u000B\f\r"

  /** Non-blank gate, Spark side: text survives iff trimming the FULL
    * whitespace class leaves something.
    */
  private[graft] def nonBlankCol(c: Column): Column =
    trim(c, WhitespaceClass) =!= ""

  /** The same gate in DuckDB SQL (chr() spells the control characters
    * so the oracle string carries no literal tabs/newlines).
    */
  private[graft] def nonBlankSql(col: String): String =
    s"trim($col, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || " +
      s"chr(13)) <> ''"

  /** p8: quality-ranked selection under a GLOBAL token budget — the cut
    * every pretraining run makes ("the best N tokens of this corpus"):
    * rank documents by (score desc, doc_id), keep a document iff the
    * tokens of all strictly-higher-ranked documents still fit the
    * budget (the boundary-crossing document is kept and overruns, the
    * p4 offset discipline — no sequential reset state). The score here
    * is the integer lexical-diversity ratio ⌊1000·distinct/total⌋ —
    * deterministic, integer-exact in both engines; a production recipe
    * swaps in any deterministic score (p7's trained scorer serves the
    * same shape from a broadcast weights table).
    *
    * The SCALE story is the point: "cumulative sum over a global order"
    * is the textbook single-partition-window trap (one executor sorts
    * 100 TB). [[tokenBudgetSelect]] is the distributed form — a
    * range-repartition by the rank key, per-partition token totals
    * (one row per partition) cumulated on the driver into partition
    * OFFSETS, then an embarrassingly parallel per-partition window on
    * top of the broadcast offsets. Three narrow passes, no global
    * window anywhere; at 1000 executors the driver sees 1000 longs.
    */
  def p8TokenBudget: Q = (s, dir) =>
    tokenBudgetSelect(Tables.documents(s, dir), SelectParts)
      .orderBy(col("doc_id"))

  /** The p8 diversity scoring pass over any (doc_id, text) frame:
    * (doc_id, n_tokens, score) with blank docs excluded — shared by the
    * global (p8) and per-cluster (p12) budget selectors.
    */
  private[functions] def diversityScored(docs: DataFrame): DataFrame =
    docs
      .where(nonBlankCol(col("text")))
      .select(col("doc_id"), tokensCol(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_tokens"),
        expr("n_distinct * 1000 div n_tokens").as("score"))

  /** The distributed budget-selection transform over any (doc_id, text)
    * frame, under an explicit `budget` (callers state theirs; the
    * fixture-scale [[SelectBudget]] is only the default). Result is
    * invariant to `numParts` (the range boundaries move, but offset +
    * within-partition prefix is the same global prefix sum — spec'd);
    * empty documents are excluded before scoring — the gate is on the
    * text trimmed of the FULL `\s` class ([[nonBlankCol]]), not the
    * token array, because `split(trim(''), '\s+')` is `[""]` (size 1)
    * in both Spark and DuckDB: a size guard never fires, and a
    * fully-span-removed p10 representative (or a tabs/newlines-only
    * document — ADVICE r12) would otherwise enter as a
    * phantom-token doc with the maximum diversity score (spec'd).
    */
  def tokenBudgetSelect(docs: DataFrame, numParts: Int,
      budget: Long = SelectBudget): DataFrame =
    prefixScored(docs, numParts)
      .where(col("tokens_before") < budget)
      .select(col("doc_id"), col("score"), col("n_tokens"),
        col("tokens_before"))

  /** The factored global prefix sum over the quality order — every doc
    * with its tokens-before-it in (score desc, doc_id) rank: the shared
    * core of p8 (filter at a budget) and p13 (quantize into curriculum
    * sequences).
    */
  private[functions] def prefixScored(docs: DataFrame,
      numParts: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val scored = diversityScored(docs)
    // range boundaries come from a sample pass; BOTH consumers (the
    // per-partition totals and the final window) must see the same
    // boundaries, so the partitioned frame is pinned first (the
    // recallCurve localCheckpoint discipline)
    val parts = scored
      .repartitionByRange(numParts, col("score").desc, col("doc_id").asc)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(eager = true)
    // one row PER PARTITION reaches the driver — bounded by the
    // parallelism knob, never the data (the justified-collect rule)
    val totals = parts.groupBy(col("pid"))
      .agg(sum(col("n_tokens")).as("t"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val offsets = totals.map(_._1)
      .zip(totals.map(_._2).scanLeft(0L)(_ + _).init)
    val offDf = offsets.toSeq.toDF("pid", "off")
    // per-partition window: partitioned by pid, so every partition
    // cumulates in parallel — the global order was already baked into
    // the range partitioning (partition 0 holds the highest scores)
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    parts.join(broadcast(offDf), Seq("pid"))
      .withColumn("tokens_before",
        col("off") + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
  }

  /** p13: CURRICULUM packing — the whole corpus cut into fixed
    * [[PackBudget]]-token training sequences in QUALITY order (p8's
    * diversity score desc), so early sequences carry the
    * highest-quality tokens: the curriculum-sharding step between
    * selection (p8/p12) and physical packing (p4). Same offset
    * quantization as p4 (seq = tokens-before / budget — no sequential
    * reset state), but the order is the learned-quality rank instead
    * of doc_id, which is exactly what [[prefixScored]]'s distributed
    * prefix sum provides: three narrow passes, no global window, at
    * any corpus size. The oracle uses the global window the Spark
    * side refuses (the p8 convention) plus the seq division.
    */
  def p13CurriculumPack: Q = (s, dir) =>
    curriculumPack(Tables.documents(s, dir)).orderBy(col("doc_id"))

  /** The p13 transform over any (doc_id, text) frame. */
  def curriculumPack(docs: DataFrame): DataFrame =
    prefixScored(docs, SelectParts)
      .select(col("doc_id"), col("score"), col("n_tokens"),
        (col("tokens_before") / PackBudget).cast("long").as("seq"))

  /** Per-component token budget for [[p14SemanticBudget]]: binds for
    * the fixture's multi-member components (sizes up to 14 at median
    * 56 tokens/doc) while every singleton — and every component's
    * best-scored member — always survives (tokens_before = 0).
    */
  val P14Budget = 150L

  /** p14: the p12 budget cut keyed by DATA-DERIVED semantic components
    * instead of a pinned-K k-means — s13's mutual-kNN clusters decide
    * where the token budget is spent, so no latent near-dup
    * neighborhood monopolizes it and every discovered neighborhood
    * keeps at least its best member (the diversity floor). Same
    * grouped factored prefix sum as p12 ([[tokenBudgetByKey]] — three
    * narrow passes, no whole-key window task), with the component ids
    * normalized to long (min vec_ids survive the 1e8-per-copy key
    * remap where k-means cids stay small). Scale shape: s13's graph
    * build + closure, one doc-side join, then p12's linear cut. The
    * oracle replays the whole chain — LSH graph → mutuality →
    * recursive reachability → scoring → per-component window cut — as
    * ONE statement.
    */
  def p14SemanticBudget: Q = (s, dir) => {
    val comp = graft.operators.Clustering.s13GraphClusters(s, dir)
      .select(col("id"), col("component"))
    semanticBudget(Tables.documents(s, dir), comp)
  }

  /** The p14 cut over any (doc_id, text) corpus and (id, component)
    * labeling — factored so ScaleBench can feed the auto-layout
    * components and the spec can feed synthetic labelings.
    */
  private[graft] def semanticBudget(docs: DataFrame,
      comp: DataFrame): DataFrame =
    tokenBudgetByKey(
      diversityScored(docs)
        .join(comp, col("doc_id") === col("id"))
        .select(col("doc_id"), col("component").as("cid"),
          col("score"), col("n_tokens")),
      SelectParts, P14Budget)
      .orderBy(col("doc_id"))

  /** p12: CLUSTER-BALANCED token budgeting — domain induction by
    * embedding k-means plus a per-cluster p8 budget cut. A source-label
    * mix (p3) can only balance what the corpus already labels; when the
    * axes of redundancy are latent, a training-data run induces domains
    * by clustering the embedding space and spends its token budget per
    * CLUSTER, so no latent domain monopolizes the selection. The
    * composition: fit seeded k-means once, persist the [[P12K]]
    * centroids as a parquet artifact (model-as-a-table — p7/s9/s10b),
    * assign every embedded document to its nearest centroid with the
    * c1 literal-struct argmin (centroids ride the plan as literals:
    * broadcast in spirit, no exchange), then run the p8 diversity
    * score + budget cut WITHIN each cluster at [[P12ClusterBudget]]
    * tokens. Universe = the embedded corpus (documents join embeddings
    * on doc_id = vec_id).
    *
    * The DuckDB oracle replays assignment → scoring → budget from the
    * SAME centroid parquet, using the global per-cluster window the
    * Spark side refuses (see [[tokenBudgetByKey]]) — the hash match
    * proves the grouped distributed prefix sum equals the global one
    * AND that the artifact fully determines the assignment.
    *
    * 100 TB shape: the fit touches the corpus once per k-means
    * iteration (MLlib's map-side partial sums; K×64 doubles to the
    * driver per round) and amortizes across servings like every other
    * persisted model; assignment is a pure scan (no exchange); the
    * budget cut is [[tokenBudgetByKey]]'s three narrow passes. Nothing
    * global anywhere.
    */
  def p12ClusterBudget: Q = (s, dir) => {
    val path = s"${Similarity.artifactRoot(dir)}/p12_centroids"
    writeClusterCentroids(s, dir, path)
    serveClusterBudget(s, dir, path).orderBy(col("doc_id"))
  }

  /** Number of induced domains, k-means seed/iterations, and the token
    * budget each cluster may spend ([[p12ClusterBudget]]). K chosen
    * below the fixture's natural label count so clusters genuinely mix
    * labels; the budget binds in every cluster at fixture scale.
    */
  val P12K = 8
  val P12Seed = 20260815L
  val P12MaxIter = 20
  val P12ClusterBudget = 1000L

  /** Fit-and-persist the p12 centroids: seeded k-means over the
    * embedding corpus, centers sorted by first coordinate (the I1
    * convention) so cid assignment is deterministic; overwritten
    * idempotently (the s9 write discipline).
    */
  private[graft] def writeClusterCentroids(s: SparkSession, dir: String,
      path: String): Unit = ArtifactCache(dir, "p12_centroids", path) {
    val centers = graft.mopso.Init.kmeansCenters(
      Tables.embeddings(s, dir).select(col("features")),
      P12K, P12MaxIter, P12Seed)
    import s.implicits._
    centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Drops the per-JVM written-centroid memo for `dir` so the next
    * [[writeClusterCentroids]] refits from scratch — the bench's
    * `p12_centroid_build` row calls this first (the p7 invalidate
    * discipline).
    */
  def invalidateCentroids(dir: String): Unit =
    ArtifactCache.invalidate(dir, "p12_centroids")

  /** The serving face of p12 against an ALREADY-persisted centroid
    * artifact — split out so ScaleBench can price fit and serve
    * separately (the p7/s9 build/serve discipline) and the streaming
    * twin can assign arriving documents per micro-batch.
    */
  private[graft] def serveClusterBudget(s: SparkSession, dir: String,
      path: String): DataFrame = {
    val scored = diversityScored(Tables.documents(s, dir))
    tokenBudgetByKey(scored.join(clusterAssignments(s, dir, path),
      "doc_id"), SelectParts, P12ClusterBudget)
  }

  /** (doc_id, cid) nearest-centroid labels for the embedded corpus
    * from the persisted artifact — the K×64-double centroid table is
    * collected once and rides the plan as struct literals.
    */
  private[graft] def clusterAssignments(s: SparkSession, dir: String,
      path: String): DataFrame =
    assignWithCentroids(Tables.embeddings(s, dir),
      readCentroids(s, path))

  /** The persisted centroid table, collected once (K×64 doubles). */
  private[graft] def readCentroids(s: SparkSession,
      path: String): Seq[(Int, Array[Double])] =
    s.read.parquet(path).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq

  /** Nearest-centroid labels over any (vec_id, features) frame. */
  private[graft] def assignWithCentroids(vecs: DataFrame,
      cs: Seq[(Int, Array[Double])]): DataFrame =
    vecs.select(col("vec_id").as("doc_id"),
      graft.operators.Clustering.assignStruct(col("features"), cs)
        .getField("cluster").as("cid"))

  /** Streaming serving twin of p12's assignment stage (the
    * serveRotatedStream discipline): arriving embedded documents are
    * labeled per micro-batch against the FROZEN persisted centroids —
    * build once, serve forever. The budget stage stays batch (a token
    * budget is a corpus-level decision; the streaming face answers
    * "which induced domain does this document belong to" at ingest,
    * which is what a partition-by-domain sink needs).
    */
  def serveClusterAssignStream(vecs: DataFrame, path: String)(
      sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val cs = readCentroids(vecs.sparkSession, path)
    MicroBatch.serve(vecs)(assignWithCentroids(_, cs))(sink)
  }

  /** The GROUPED form of [[tokenBudgetSelect]]'s factored prefix sum:
    * budget-cut each key's rows independently without ever windowing a
    * whole key in one task. A `Window.partitionBy(cid)` over the CORPUS
    * would bound parallelism by the number of keys — at 100 TB with K=8
    * that is one ~12 TB sort per task. Instead the range partitioner
    * keys on (cid, score desc, doc_id): each key occupies a CONTIGUOUS
    * run of partitions, per-(partition, cid) token totals aggregate to
    * ≤ numParts + #keys rows (contiguity bounds the pairs), per-cid
    * OFFSETS cumulate with a window OVER THE TOTALS FRAME (each cid's
    * window holds only its run of partitions — a handful of rows — so
    * the per-key sort the corpus side refuses is harmless here), and
    * the final window cumulates within (partition, cid) on top of the
    * joined offsets. Same three narrow passes as p8, now per key.
    *
    * Key-domain note: p12's cids are a pinned K=32, so its totals frame
    * is trivially small; p14's cids are s13's DATA-DERIVED components
    * (mostly singletons — ~n of them in the worst case), so the totals
    * frame is small-schema but CORPUS-SCALED. That is why nothing here
    * touches the driver: r14's collect + O(T²) fold over the totals was
    * the tree's one scale-killer (VERDICT r14), replaced by the per-cid
    * window + join, which AQE turns back into a broadcast join exactly
    * when the totals ARE small (the p12 case).
    */
  private[graft] def tokenBudgetByKey(scored: DataFrame, numParts: Int,
      budget: Long): DataFrame = {
    // cid normalized to long: p12's k-means cids are small ints, but
    // p14's semantic-component keys are min vec_ids, which pass
    // Int.MaxValue once the 1e8-per-copy key remap is in play
    val parts = scored
      .withColumn("cid", col("cid").cast("long"))
      .repartitionByRange(numParts, col("cid").asc, col("score").desc,
        col("doc_id").asc)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(eager = true)
    val wOff = Window.partitionBy(col("cid")).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offDf = parts.groupBy(col("pid"), col("cid"))
      .agg(sum(col("n_tokens")).as("t"))
      .withColumn("off", coalesce(sum(col("t")).over(wOff), lit(0L)))
      .select(col("pid"), col("cid"), col("off"))
    val w = Window.partitionBy(col("pid"), col("cid"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    parts.join(offDf, Seq("pid", "cid"))
      .withColumn("tokens_before",
        col("off") + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .where(col("tokens_before") < budget)
      .select(col("doc_id"), col("cid"), col("score"), col("n_tokens"),
        col("tokens_before"))
  }

  /** p4: offset-quantized contiguous sequence packing — the shard's token
    * stream (docs in doc_id order) is cut at fixed [[PackBudget]] offsets
    * and each document belongs to the sequence containing its FIRST
    * token: seq = floor(tokens-before / budget). A boundary-crossing
    * document therefore overruns its sequence AND its overrun is charged
    * against the next sequence's span (unlike a reset-on-overrun greedy
    * packer, which would restart the count at each overrun — offset
    * quantization is chosen precisely because it needs no sequential
    * reset state, just a cumulative sum). The window runs per
    * [[PackShard]]-wide doc_id shard: at scale the window key is the
    * shard id, every shard packs independently in parallel, and no
    * global sort ever happens.
    */
  def p4SeqPacking: Q = (s, dir) =>
    seqPacking(Tables.documents(s, dir)).orderBy(col("shard"), col("seq"))

  /** The packing transform over any (doc_id, text) frame; the per-shard
    * cumulative sum orders by doc_id, so the result is invariant to the
    * input's partitioning (spec'd).
    */
  def seqPacking(docs: DataFrame): DataFrame = {
    val before = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), (col("doc_id") / PackShard).cast("long").as("shard"),
        size(tokensCol(col("text"))).as("n_tokens"))
      .withColumn("seq",
        (coalesce(sum(col("n_tokens")).over(before), lit(0L)) /
          PackBudget).cast("long"))
      .groupBy(col("shard"), col("seq"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
  }

  // ---- DuckDB oracles ------------------------------------------------------

  private val hkSql = "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT"

  /** Shared eval/train distinct-gram CTE prefix (t → g → ev/tr) — the
    * SQL twin of [[distinctGrams]] split at [[EvalDocs]], reused by the
    * p5/p5b and p5c oracles.
    */
  private val gramCtes: String = {
    val parts = (0 until GramSize).map(j => s"toks[i+$j]")
      .mkString("||' '||")
    s"""t AS (SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |g AS (SELECT doc_id, list_distinct(
       |    list_transform(generate_series(1, len(toks) - ${GramSize - 1}),
       |      i -> $parts)) AS gs
       |  FROM t),
       |ev AS (SELECT doc_id AS eval_doc, unnest(gs) AS gram FROM g
       |  WHERE doc_id < $EvalDocs),
       |tr AS (SELECT doc_id AS train_doc, unnest(gs) AS gram FROM g
       |  WHERE doc_id >= $EvalDocs)""".stripMargin
  }

  /** Shared by p5 and its Bloom-prefilter twin p5b — identical output is
    * the twin's contract.
    */
  private val p5OracleSql: String =
    s"""WITH $gramCtes
       |SELECT train_doc, eval_doc, count(*) AS n_shared
       |FROM tr JOIN ev USING (gram)
       |GROUP BY train_doc, eval_doc
       |ORDER BY train_doc, eval_doc""".stripMargin

  def oracles: Map[String, String] = Map(
    "p2_hash_split" ->
      s"""SELECT split, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars
         |FROM (SELECT CASE WHEN $hkSql % 100 < $TrainPct THEN 'train'
         |    WHEN $hkSql % 100 < $ValPct THEN 'val'
         |    ELSE 'test' END AS split, n_chars
         |  FROM documents)
         |GROUP BY split ORDER BY split""".stripMargin,
    "p3_domain_mix" ->
      s"""SELECT source, rk, doc_id FROM (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY $hkSql, doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= 8 + 2 * (substr(source, 4)::INT % 7)
         |ORDER BY source, rk""".stripMargin,
    "p6_stratified_sample" ->
      s"""SELECT doc_id, source,
         |  20 + 15 * (substr(source, 4)::INT % 6) AS pct
         |FROM documents
         |WHERE ('0x' || substr(md5('strat:' || doc_id::VARCHAR), 1, 15))::BIGINT
         |    % 100 < 20 + 15 * (substr(source, 4)::INT % 6)
         |ORDER BY doc_id""".stripMargin,
    "p5_decontaminate" -> p5OracleSql,
    // p5b produces p5's exact rows (Bloom prefilter + exact verify);
    // hash-matching the same oracle proves the prefilter lost nothing
    "p5b_decontaminate_bloom" -> p5OracleSql,
    // per-train-doc graded overlap over the SAME gram CTEs; the eval
    // side distincts to gram level (a gram in many eval docs counts
    // once), short docs surface with zero grams via the left joins
    "p5c_contamination_frac" ->
      s"""WITH $gramCtes,
         |evg AS (SELECT DISTINCT gram FROM ev),
         |pd AS (SELECT train_doc AS doc_id, count(*) AS n_grams,
         |    count(evg.gram) AS n_contaminated
         |  FROM tr LEFT JOIN evg ON evg.gram = tr.gram
         |  GROUP BY train_doc)
         |SELECT d.doc_id,
         |  coalesce(n_grams, 0)::BIGINT AS n_grams,
         |  coalesce(n_contaminated, 0)::BIGINT AS n_contaminated,
         |  CASE WHEN coalesce(n_grams, 0) > 0
         |    THEN round(n_contaminated * 1.0 / n_grams, 6)
         |    ELSE 0.0 END AS contam_frac
         |FROM documents d LEFT JOIN pd USING (doc_id)
         |WHERE d.doc_id >= $EvalDocs
         |ORDER BY d.doc_id""".stripMargin,
    // the oracle USES the global window the Spark side refuses to — the
    // hash match proves the distributed prefix sum equals the global one
    "p8_token_budget" ->
      s"""WITH t AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents WHERE ${nonBlankSql("text")}),
         |s AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |    ((len(list_distinct(toks)) * 1000) // len(toks))::BIGINT
         |      AS score
         |  FROM t),
         |c AS (SELECT doc_id, score, n_tokens,
         |    coalesce(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS tokens_before
         |  FROM s)
         |SELECT doc_id, score, n_tokens, tokens_before FROM c
         |WHERE tokens_before < $SelectBudget ORDER BY doc_id""".stripMargin,
    // assignment → scoring → per-cluster budget replayed from the SAME
    // persisted centroid parquet the query just wrote; the window here
    // is the global per-cluster one the Spark side refuses — the hash
    // match proves the grouped factored prefix sum equals it
    "p12_cluster_budget" -> {
      val cpath =
        s"${Similarity.artifactRoot(Similarity.oracleDir)}/p12_centroids"
      s"""WITH c AS (SELECT cid, centroid
         |  FROM read_parquet('$cpath/*.parquet')),
         |a AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_distance(e.embedding::DOUBLE[], c.centroid),
         |        c.cid) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |sc AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |    ((len(list_distinct(toks)) * 1000) // len(toks))::BIGINT
         |      AS score
         |  FROM (SELECT doc_id,
         |      string_split_regex(trim(text), '\\s+') AS toks
         |    FROM documents WHERE ${nonBlankSql("text")})),
         |j AS (SELECT sc.doc_id, a.cid, sc.score, sc.n_tokens
         |  FROM sc JOIN a ON a.vec_id = sc.doc_id),
         |b AS (SELECT doc_id, cid, score, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY cid
         |      ORDER BY score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS tokens_before
         |  FROM j)
         |SELECT doc_id, cid::BIGINT AS cid, score, n_tokens, tokens_before
         |FROM b WHERE tokens_before < $P12ClusterBudget
         |ORDER BY doc_id""".stripMargin
    },
    // the p8 global-window convention + the p4 seq division, over the
    // quality order — one oracle covers the composed semantics
    "p13_curriculum_pack" ->
      s"""WITH t AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents WHERE ${nonBlankSql("text")}),
         |s AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |    ((len(list_distinct(toks)) * 1000) // len(toks))::BIGINT
         |      AS score
         |  FROM t),
         |c AS (SELECT doc_id, score, n_tokens,
         |    coalesce(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS tokens_before
         |  FROM s)
         |SELECT doc_id, score, n_tokens,
         |  (tokens_before // $PackBudget)::BIGINT AS seq
         |FROM c ORDER BY doc_id""".stripMargin,
    // the s13 recursive-reachability chain + the p12 window-cut
    // convention, composed into one statement over the component key
    "p14_semantic_budget" -> {
      import graft.operators.Clustering.{LshPlanes, LshTables,
        S13MutualRank, GraphBuildCap}
      s"""WITH RECURSIVE
         |p AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |pl AS (SELECT id, v FROM p WHERE id < ${LshPlanes * LshTables}),
         |bk AS (SELECT p.id, (pl.id // $LshPlanes)::INT AS tbl,
         |    sum(CASE WHEN list_inner_product(p.v, pl.v) > 0
         |      THEN (1::BIGINT << (pl.id % $LshPlanes)::INT)
         |      ELSE 0::BIGINT END) AS bucket
         |  FROM p CROSS JOIN pl GROUP BY p.id, pl.id // $LshPlanes),
         |yc AS (SELECT id, tbl, bucket,
         |    row_number() OVER (PARTITION BY tbl, bucket ORDER BY id)
         |      AS rn
         |  FROM bk),
         |cand AS (SELECT DISTINCT x.id AS xi, y.id AS yi
         |  FROM bk x JOIN yc y ON x.tbl = y.tbl AND x.bucket = y.bucket
         |    AND x.id <> y.id AND y.rn <= $GraphBuildCap),
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
         |grp0 AS (SELECT p.id, least(p.id, coalesce(min(r.dst), p.id))
         |    AS component
         |  FROM p LEFT JOIN reach r ON r.src = p.id GROUP BY p.id),
         |orph AS (SELECT id FROM yc GROUP BY id
         |  HAVING min(rn) > $GraphBuildCap),
         |fan AS (SELECT g.xi, gc.component
         |  FROM g JOIN orph ON orph.id = g.xi
         |  JOIN grp0 gc ON gc.id = g.yi
         |  WHERE g.rnk = 1),
         |grp AS (SELECT grp0.id,
         |    coalesce(fan.component, grp0.component) AS component
         |  FROM grp0 LEFT JOIN fan ON fan.xi = grp0.id),
         |sc AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |    ((len(list_distinct(toks)) * 1000) // len(toks))::BIGINT
         |      AS score
         |  FROM (SELECT doc_id,
         |      string_split_regex(trim(text), '\\s+') AS toks
         |    FROM documents WHERE ${nonBlankSql("text")})),
         |j AS (SELECT sc.doc_id, grp.component AS cid, sc.score,
         |    sc.n_tokens
         |  FROM sc JOIN grp ON grp.id = sc.doc_id),
         |b AS (SELECT doc_id, cid, score, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY cid
         |      ORDER BY score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS tokens_before
         |  FROM j)
         |SELECT doc_id, cid::BIGINT AS cid, score, n_tokens, tokens_before
         |FROM b WHERE tokens_before < $P14Budget
         |ORDER BY doc_id""".stripMargin
    },
    "p4_seq_packing" ->
      s"""WITH t AS (SELECT doc_id, doc_id // $PackShard AS shard,
         |    len(string_split_regex(trim(text), '\\s+')) AS n_tokens
         |  FROM documents),
         |seqd AS (SELECT shard,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      // $PackBudget AS seq, n_tokens
         |  FROM t)
         |SELECT shard, seq::BIGINT AS seq, count(*) AS n_docs,
         |  sum(n_tokens)::BIGINT AS n_tokens
         |FROM seqd GROUP BY shard, seq ORDER BY shard, seq""".stripMargin
  )
}
