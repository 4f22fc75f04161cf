package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.Tables
import graft.streaming.MicroBatch

/** Text-analysis operators for the training-data pipeline surface
  * (builder brief): token counting, quality scoring, language-ID heuristic,
  * document fingerprinting. Everything is built from codegen'd built-ins —
  * split/transform/aggregate/filter — so the whole stage stays inside
  * WholeStageCodegen with zero UDFs and zero shuffles (per-row expressions
  * only). At 100 TB these are embarrassingly parallel scans.
  */
object TextAnalysis {

  type Q = (SparkSession, String) => DataFrame

  /** Whitespace tokens of `text` (trimmed; "BPE-ish" boundary = \s+). */
  def tokensCol(text: Column): Column = split(trim(text), "\\s+")

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "in", "to", "is", "on")

  /** Deterministic 60-bit string hash shared bit-for-bit with the DuckDB
    * oracle: first 15 hex digits of md5, read base-16.
    */
  def hash60(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast(LongType)

  /** Word k-shingles (k=3) as strings; empty array when < 3 tokens. */
  def shinglesCol(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ",
          element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))

  def queries: Map[String, Q] = Map(
    "t1_token_stats" -> t1TokenStats,
    "t2_lang_guess" -> t2LangGuess,
    "t3_fingerprint" -> t3Fingerprint,
    "t4_bpe_tokens" -> t4BpeTokens,
    "t5_repetition" -> t5Repetition,
    "t6_vocab" -> t6Vocab,
    "t7_quality_gate" -> t7QualityGate,
    "t8_boilerplate" -> t8Boilerplate,
    "t10_oov_rate" -> t10OovRate,
    "t11_bm25" -> t11Bm25,
    "t12_lm_score" -> t12LmScore,
    "t13_bigram_lm" -> t13BigramLm,
    "t14_pii_scrub" -> t14PiiScrub,
    "t15_line_dedup" -> t15LineDedup,
    "t16_boilerplate_removal" -> t16BoilerplateRemoval
  )

  /** Vocabulary size for [[t6Vocab]] — below the fixture's distinct-token
    * count so the top-k actually truncates.
    */
  val VocabSize = 20

  /** Vocabulary induction: the corpus-global top-[[VocabSize]] tokens by
    * frequency (ties broken alphabetically — deterministic), the first
    * step of building a tokenizer from a corpus. GroupBy + limit compiles
    * to map-side partial counts and TakeOrderedAndProject: one shuffle of
    * per-mapper token partials, never a global sort of the corpus.
    */
  def t6Vocab: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(explode(tokensCol(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(VocabSize)

  /** Vocabulary APPLICATION — the per-document coverage check run after
    * inducing a tokenizer (t6): token count, out-of-vocabulary count,
    * and OOV ratio against the corpus-global top-[[VocabSize]] vocab.
    * The vocab is a [[VocabSize]]-row aggregate broadcast into a left
    * join, so the corpus-sized token stream is touched exactly once and
    * the per-doc counts are map-side partials — at 100 TB this is one
    * scan + one doc_id-keyed shuffle of K-row groups, with the real
    * (50k-entry) vocab still far under any broadcast threshold.
    */
  def t10OovRate: Q = (s, dir) => {
    val vocab = t6Vocab(s, dir).select(col("tok"))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokensCol(col("text"))).as("tok"))
      .join(broadcast(vocab.withColumn("in_vocab", lit(1))),
        Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1).otherwise(0)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov") / col("n_tokens"), 6).as("oov_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Within-document repetition score: the fraction of duplicated word
    * 3-shingles (1 − distinct/total), the standard boilerplate/repetition
    * quality gate a pretraining pipeline filters on. Pure per-row
    * expressions — no shuffle, embarrassingly parallel at any scale; docs
    * with < 3 tokens score 0 (no shingles to repeat).
    */
  def t5Repetition: Q = (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("toks", tokensCol(col("text")))
      .withColumn("sh", shinglesCol(col("toks")))
      .select(col("doc_id"),
        size(col("sh")).as("n_shingles"),
        round(when(size(col("sh")) > 0,
          lit(1.0) -
            size(array_distinct(col("sh"))).cast("double") / size(col("sh")))
          .otherwise(lit(0.0)), 6).as("dup_ratio"))
      .orderBy(col("doc_id"))

  /** t7 gate thresholds — calibrated on the sf0.01 fixture so every rule
    * fires (322 keep / 99 low_diversity / 43 too_short / 36 no_stopwords):
    * a doc is dropped by the FIRST failing rule, the short-circuit shape
    * every production quality cascade uses (cheap rules first, so most
    * drops never pay for the expensive rules).
    */
  val MinTokens = 20
  val MinUniqRatio = 0.35
  val MinStopRatio = 0.02

  /** Quality-rule cascade (Gopher-style): per-document keep/drop verdict
    * with the first-failing rule as the reason. Pure per-row expressions
    * over one tokenization — no shuffle, embarrassingly parallel; the
    * downstream filter is `verdict = 'keep'`.
    */
  def t7QualityGate: Q = (s, dir) =>
    withQualityVerdict(Tables.documents(s, dir)
      .withColumn("toks", tokensCol(col("text"))))
      .select(col("doc_id"), col("verdict"))
      .orderBy(col("doc_id"))

  /** Adds a `verdict` column to a frame carrying a `toks` array — shared
    * by t7 and the streaming quality gate (one definition runs batch and
    * incremental: the verdict is stateless per-row, so a document's fate
    * is sealed on arrival).
    */
  def withQualityVerdict(df: DataFrame): DataFrame = {
    val n = size(col("toks")).cast("double")
    df.withColumn("verdict",
      when(size(col("toks")) < MinTokens, "too_short")
        .when(size(array_distinct(col("toks"))) / n < MinUniqRatio,
          "low_diversity")
        .when(size(filter(col("toks"), t => t.isin(stopwords: _*))) / n
          < MinStopRatio, "no_stopwords")
        .otherwise("keep"))
  }

  /** Boilerplate-gram output size and document-frequency floor for t8. */
  val BoilerplateTop = 50
  val MinDf = 3

  /** Cross-document boilerplate detection: the top-[[BoilerplateTop]]
    * word 3-shingles by DOCUMENT frequency (distinct per doc, so a gram
    * repeated inside one document counts once — within-doc repetition is
    * t5's job; this finds template text shared ACROSS documents, the
    * C4-style boilerplate-removal signal). GroupBy + limit compiles to
    * map-side partial counts and TakeOrderedAndProject — one shuffle of
    * per-mapper gram partials, never a global sort of the gram stream.
    */
  def t8Boilerplate: Q = (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("toks", tokensCol(col("text")))
      .select(col("doc_id"),
        explode(array_distinct(shinglesCol(col("toks")))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .where(col("df") >= MinDf)
      .orderBy(col("df").desc, col("gram"))
      .limit(BoilerplateTop)

  /** PII patterns for [[t14PiiScrub]] — kept to syntax Java regex and
    * RE2 treat identically (char classes, bounded/open counted repeats;
    * no lookaround, no backrefs) so the scrub is engine-portable.
    */
  val PhonePattern = "[0-9]{3}-[0-9]{4}"
  val IdRunPattern = "[0-9]{6,}"

  /** t14: PII scrubbing — the redaction pass a training-data pipeline
    * runs before anything else sees raw text: replace phone-shaped and
    * long-digit-run (account/SSN-shaped) spans with typed placeholders
    * and count what was removed, per row. Pure per-row regex map:
    * scan-shaped, whole-stage codegen, zero shuffles — at 100 TB this
    * is perfectly elastic and fuses into whatever scan precedes it.
    *
    * The synthetic corpus contains no organic PII (documents have no
    * digits at all), so the demo composes a deterministic PII-bearing
    * text IN-QUERY from driver tables — c_name's 9-digit customer
    * number plus a phone derived from the key — and the oracle builds
    * the identical text, so redaction+counting is still end-to-end
    * hash-checked. Counts are taken on the PRE-scrub text; the digit
    * runs the phone pattern eats are 3-4 long, below [[IdRunPattern]]'s
    * floor, so the two patterns never overlap.
    */
  def t14PiiScrub: Q = (s, dir) =>
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        concat(col("c_name"), lit(" call "),
          format_string("%03d-%04d",
            pmod(col("c_custkey"), lit(1000L)),
            pmod(col("c_custkey"), lit(10000L))),
          lit(" segment "), col("c_mktsegment")).as("text"))
      .select(col("c_custkey"),
        regexp_replace(
          regexp_replace(col("text"), PhonePattern, "[PHONE]"),
          IdRunPattern, "[ID]").as("clean_text"),
        regexp_count(col("text"), lit(PhonePattern)).cast("long")
          .as("n_phones"),
        regexp_count(col("text"), lit(IdRunPattern)).cast("long")
          .as("n_ids"))
      .orderBy(col("c_custkey"))

  /** t15: within-document repeated-line removal — the Gopher/RefinedWeb
    * preprocessing transform (t5 scores within-doc repetition; this is
    * the removal face): split on newlines, keep the FIRST occurrence of
    * each line, reassemble in original order, report kept/total counts.
    *
    * The fixture corpus is single-line, so (t14 precedent) the query
    * composes a deterministic multi-line document per row — two 8-word
    * slices of the doc's own text, each duplicated around the full text —
    * and the oracle composes the identical five lines, keeping the
    * dedup+reassembly end-to-end hash-checked.
    *
    * 100 TB shape: the whole transform is per-row higher-order functions
    * (`split` → `array_distinct`, which keeps first occurrence →
    * `concat_ws`) — whole-stage codegen, ZERO shuffles, fuses into
    * whatever scan precedes it; like t14 it is perfectly elastic and
    * belongs at the very front of the pipeline, before any corpus-sized
    * shuffle sees the repeated bytes.
    */
  def t15LineDedup: Q = (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("lines", array(
        concat_ws(" ", slice(col("ws"), 1, 8)),
        concat_ws(" ", slice(col("ws"), 9, 8)),
        concat_ws(" ", slice(col("ws"), 1, 8)),
        col("text"),
        concat_ws(" ", slice(col("ws"), 9, 8))))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        size(array_distinct(col("lines"))).cast("long").as("n_kept"),
        concat_ws("\n", array_distinct(col("lines"))).as("clean_text"))
      .orderBy(col("doc_id"))

  /** t16: corpus-level BOILERPLATE LINE removal — the cross-document
    * companion of t15 (which drops a doc's own repeats) and the
    * REMOVAL form of t8 (which only reports boilerplate): any line
    * occurring in at least [[T16MinDf]] DISTINCT documents is dropped
    * from every document — the CCNet/RefinedWeb rule that strips nav
    * bars, footers, and cookie banners before tokenization. Reports
    * (doc_id, n_lines, n_removed, clean_text) with order preserved.
    *
    * The fixture is single-line, so (t14/t15 precedent) the query
    * composes a deterministic five-line document per doc — two slices
    * of its own text, a planted global banner, a per-`source` footer
    * ("via src_N", df = that source's doc count), and the full text —
    * and the oracle composes the identical lines, keeping df counting,
    * removal, and reassembly end-to-end hash-checked. Own slices of
    * near-duplicate documents collide ORGANICALLY across docs, so the
    * df gate fires on real fixture structure too, not just plants.
    *
    * 100 TB shape: three linear line-level shuffles (the d9b family) —
    * distinct (doc, line) → df ≥ threshold; one shuffle JOIN of lines
    * against the df-qualified set (deliberately not a broadcast: the
    * boilerplate line set is data-dependent — up to lines/df — and a
    * runtime bloom prunes the probe side the p5b way if it is small);
    * one reassembly shuffle on doc_id. No window over the corpus.
    */
  def t16BoilerplateRemoval: Q = (s, dir) => {
    val docs = composedLines(Tables.documents(s, dir))
    removeBoilerplate(docs, boilerplateSet(docs))
      .orderBy(col("doc_id"))
  }

  /** The five-line composition over any (doc_id, text, source) frame
    * (see [[t16BoilerplateRemoval]]): adds the `lines` column.
    */
  private def composedLines(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("lines", array(
        concat_ws(" ", slice(col("ws"), 1, 8)),
        lit(T16Banner),
        concat_ws(" ", slice(col("ws"), 9, 8)),
        concat_ws(" ", lit("via"), col("source")),
        col("text")))

  /** The df-qualified boilerplate line set of a composed corpus. */
  private def boilerplateSet(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(array_distinct(col("lines"))).as("line"))
      .groupBy(col("line")).agg(count(lit(1)).as("df"))
      .where(col("df") >= T16MinDf)
      .select(col("line"))

  /** Remove every `bp` line from each composed document, preserving
    * order — the shared tail of batch t16 and its streaming face.
    */
  private def removeBoilerplate(docs: DataFrame,
      bp: DataFrame): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(col("lines")).as(Seq("pos", "line")))
    val kept = lines
      .join(bp.withColumn("bp", lit(1)), Seq("line"), "left")
      .where(col("bp").isNull)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws("\n", transform(
          sort_array(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line"))).as("clean_text"))
    docs.select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Persist the corpus's df-qualified boilerplate line set — the
    * frozen artifact t16's streaming face removes against (the
    * model-as-a-table discipline; a nightly batch refreshes the set,
    * ingest applies it).
    */
  def writeBoilerplateSet(s: SparkSession, dir: String,
      path: String): Unit =
    boilerplateSet(composedLines(Tables.documents(s, dir)))
      .repartition(1).write.mode("overwrite").parquet(path)

  /** Streaming serving twin of t16: arriving documents are cleaned per
    * micro-batch against the FROZEN persisted line set. Restricted to
    * the frozen set, removal is per-document, so the union over
    * batches equals the batch query whenever the set came from the
    * same corpus (spec-pinned).
    */
  def serveLineCleanStream(docs: DataFrame, path: String)(
      sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    MicroBatch.serve(docs) { b =>
      val bp = b.sparkSession.read.parquet(path)
      removeBoilerplate(composedLines(b), bp)
    }(sink)

  /** t16's df threshold and the planted global banner line. */
  val T16MinDf = 3
  val T16Banner = "subscribe to our newsletter today"

  /** BPE-ish subword boundary: letter runs, digit runs, and single
    * non-alphanumeric marks — the regex twin of a byte-pair pre-tokenizer
    * split (kept RE2/Java-portable for the oracle). Control chars are
    * excluded from the mark branch (ADVICE r8): U+001F is not regex
    * whitespace, and a chr(31) symbol would corrupt the BPE oracle's
    * chr(31)-joined `list_reduce` accumulator and make the t4c
    * fingerprint separator ambiguous.
    */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s\\x00-\\x1f]"

  /** Token counting, tokenizer #2: regex-based subword counts. */
  def t4BpeTokens: Q = (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("bpe",
        regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0)))
      .select(col("doc_id"),
        size(col("bpe")).as("n_bpe"),
        size(array_distinct(col("bpe"))).as("n_bpe_uniq"))
      .orderBy(col("doc_id"))

  /** BM25 parameters (the Robertson/Sparck-Jones defaults) and the fixed
    * query-term list — chosen from the fixture vocabulary so tf varies
    * across documents at every SF.
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Query: Seq[String] = Seq("join", "merge", "window", "dup")

  /** BM25 relevance scoring of every document against a fixed query — the
    * retrieval-style relevance ranker a curation pipeline uses to surface
    * on-topic documents (and the scoring half of a data-selection loop).
    *
    * Two corpus passes, NO corpus-sized shuffle: pass 1 reduces the corpus
    * to ONE stats row (N, Σdl, df per query term — map-side partials into
    * a single-row aggregate); pass 2 rescans with that row applied via an
    * explicit `crossJoin(broadcast(stats))` — a benign broadcast
    * nested-loop join whose build side is exactly one row, so the "loop"
    * is O(n) with no data movement beyond the 1-row broadcast (the same
    * documented family as c13's global min/max row; exempted in
    * PlanAuditSpec.allowCartesian) — and
    * computes each document's score with pure codegen expressions — tf via
    * `size(filter(...))`, idf from the broadcast df columns, summed in
    * FIXED query-term order so the float result is reproducible across
    * engines. At 100 TB: two scans + a 1-row broadcast; embarrassingly
    * parallel.
    */
  def t11Bm25: Q = (s, dir) => bm25(Tables.documents(s, dir))

  /** The BM25 transform over any (doc_id, text) frame — see [[t11Bm25]]. */
  def bm25(input: DataFrame): DataFrame =
    bm25Score(input, bm25Stats(input)).orderBy(col("doc_id"))

  /** Pass 1: the corpus reduced to ONE stats row — N, avgdl, df per
    * query term (map-side partials into a single-row aggregate). This is
    * the frozen "model" of the scorer: batch computes it from the corpus
    * being scored; the streaming twin computes it ONCE from the training
    * corpus and serves arriving documents against it (StreamingSpec).
    */
  private[graft] def bm25Stats(input: DataFrame): DataFrame = {
    val docs = input
      .withColumn("toks", tokensCol(col("text")))
      .withColumn("dl", size(col("toks")))
    val statsAggs =
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl") +:
        count(lit(1)).cast("double").as("n_docs") +:
        Bm25Query.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("toks"), t), 1).otherwise(0))
            .cast("double").as(s"df_$i")
        }
    docs.agg(statsAggs.head, statsAggs.tail: _*)
  }

  /** Pass 2: score any (doc_id, text) frame against a frozen 1-row stats
    * frame — a stateless per-row computation after the 1-row broadcast,
    * so the SAME plan serves batch (t11) and a readStream of arriving
    * documents (stream-static join; no aggregation, append-mode clean).
    */
  private[graft] def bm25Score(input: DataFrame,
      stats: DataFrame): DataFrame = {
    val docs = input
      .withColumn("toks", tokensCol(col("text")))
      .withColumn("dl", size(col("toks")))
    val score = Bm25Query.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("toks"), x => x === t)).cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
      idf * (tf * lit(Bm25K1 + 1)) /
        (tf + lit(Bm25K1) *
          (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    docs.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 4).as("bm25"))
  }

  /** Unigram language-model scoring: per-document average surprisal (nats
    * per token) under an add-one-smoothed unigram model trained on the
    * corpus itself — the CCNet/KenLM-style LM quality filter (gibberish
    * and word-soup score high, template text scores low).
    *
    * Scale shape: the model is one tok-keyed shuffle producing a
    * VOCABULARY-sized count table (map-side partials; never broadcast —
    * a web-scale vocab can be 10⁸ rows, so application is an honest
    * shuffle join). Application first reduces the corpus to per-document
    * DISTINCT term counts (one doc_id+tok shuffle, the classic
    * term-frequency contraction), joins those against the model on tok,
    * and re-aggregates per doc_id weighted by in-doc frequency. Per-token
    * surprisal is quantized to integer micro-nats BEFORE summation so the
    * per-doc aggregate is an exact integer sum — bit-reproducible under
    * any partitioning/order, on any engine (a float sum would drift with
    * reduction order).
    */
  def t12LmScore: Q = (s, dir) => lmScore(Tables.documents(s, dir))

  /** The unigram-LM scoring transform over any (doc_id, text) frame — see
    * [[t12LmScore]].
    */
  def lmScore(input: DataFrame): DataFrame = {
    val tk = input
      .select(col("doc_id"), explode(tokensCol(col("text"))).as("tok"))
    val termFreq = tk.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("n"))
    termFreq.join(lmModel(input), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(col("n") * col("surp_u")).as("su"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("su") / (col("n_tokens") * lit(1000000.0)), 6)
          .as("avg_surprisal"))
      .orderBy(col("doc_id"))
  }

  /** The frozen unigram model: (tok, surp_u) — add-one-smoothed integer
    * micro-nat surprisal per vocabulary term. Batch lmScore trains it on
    * the corpus being scored; the streaming twin trains ONCE and serves
    * (a vocabulary-sized static table — honestly shuffle-joined, never
    * broadcast, because a web-scale vocab can be 10⁸ rows).
    */
  private[graft] def lmModel(input: DataFrame): DataFrame = {
    val counts = input
      .select(explode(tokensCol(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum(col("c")).as("t_total"),
      count(lit(1)).as("v_size"))
    val surpU = round(-log((col("c") + lit(1.0)) /
      (col("t_total") + col("v_size"))) * lit(1000000.0), 0).cast(LongType)
    counts.crossJoin(broadcast(tot)).select(col("tok"), surpU.as("surp_u"))
  }

  /** Score any (doc_id, text) frame against a frozen (tok, surp_u) model
    * with ONE keyed aggregation — the streaming-servable application
    * face. The batch face contracts to per-document DISTINCT term counts
    * before the model join (fewer join rows); a stream cannot chain that
    * contraction's aggregation into the final one, so this face joins at
    * token level and aggregates once. The two are exactly equal — Σ over
    * tokens of surp_u = Σ over distinct terms of n·surp_u, and the
    * micro-nat integer sum is order-independent — so the streaming twin
    * converges to the oracle-checked t12 answer (StreamingSpec pins it).
    * Tokens absent from the model (OOV of a frozen vocabulary) are
    * dropped by the inner join, matching add-one smoothing's in-vocab
    * domain; batch self-training has no OOV by construction.
    */
  private[graft] def lmScoreApply(input: DataFrame,
      model: DataFrame): DataFrame =
    input
      .select(col("doc_id"), explode(tokensCol(col("text"))).as("tok"))
      .join(model, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("surp_u")).as("su"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("su") / (col("n_tokens") * lit(1000000.0)), 6)
          .as("avg_surprisal"))

  /** t13: bigram-LM scoring — the order-sensitive rung above t12's
    * unigram filter (word-soup with a plausible vocabulary scores LOW
    * under a unigram model but HIGH here, because its bigram
    * transitions are unseen): per-document average surprisal in nats
    * per bigram under an add-one-smoothed bigram model
    * P(w|prev) = (c(prev,w)+1)/(c(prev)+V) trained on the corpus.
    * Same engineering discipline as t12 throughout: the model is a
    * BIGRAM-vocabulary-sized (prev, tok, surp2) table built from one
    * (prev, tok) shuffle (map-side partials) and applied via honest
    * 2-key shuffle join (never broadcast — a web-scale bigram table is
    * bigger than its unigram one); per-bigram surprisal is quantized
    * to integer micro-nats before summation, so the per-doc aggregate
    * is an exact integer sum, bit-reproducible under any partitioning
    * and against the DuckDB oracle. Documents with < 2 tokens have no
    * bigrams and drop from the output (oracle-mirrored).
    */
  def t13BigramLm: Q = (s, dir) =>
    lmScore2(Tables.documents(s, dir)).orderBy(col("doc_id"))

  /** Bigram rows (doc_id, prev, tok) — a PER-ROW array zip (no window,
    * no pre-join shuffle): positions i and i+1 of the token array,
    * paired by slicing the array against itself. The lead-window
    * formulation would shuffle on doc_id before the model join; this
    * one reaches the join shuffle-free.
    */
  private[graft] def bigramRows(input: DataFrame): DataFrame = {
    val toks = tokensCol(col("text"))
    input
      .where(size(toks) >= 2)
      .select(col("doc_id"),
        explode(arrays_zip(
          slice(toks, lit(1), size(toks) - 1).as("prev"),
          slice(toks, lit(2), size(toks) - 1).as("tok"))).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"),
        col("bg.tok").as("tok"))
  }

  /** The frozen bigram model (prev, tok, surp2): add-one-smoothed
    * integer micro-nat surprisal per observed bigram. Left-context
    * totals derive from the bigram counts themselves (c(prev) =
    * Σ_w c(prev, w) — one extra small shuffle over the model table,
    * never the corpus); V is the corpus unigram vocabulary size, a
    * 1-row aggregate riding the same benign broadcast-BNLJ family as
    * t11/t12's stats rows (PlanAuditSpec exemption).
    */
  private[graft] def lm2Model(input: DataFrame): DataFrame =
    lm2ModelOf(bigramRows(input), input)

  /** [[lm2Model]] over pre-built bigram rows — factored so [[lmScore2]]
    * can share ONE bigram scan between the model's counts and its own
    * term frequencies (r21). `input` is still needed for the vocabulary
    * leg: V counts distinct tokens of EVERY doc, including sub-2-token
    * docs that emit no bigram row.
    */
  private def lm2ModelOf(bg: DataFrame, input: DataFrame): DataFrame =
    lm2ModelWithV(bg, vocabSizeOf(input))

  /** The 1-row corpus vocabulary-size leg — V counts distinct tokens of
    * EVERY doc, including sub-2-token docs that emit no bigram, so it
    * is its own corpus scan, independent of the bigram frame.
    */
  private def vocabSizeOf(input: DataFrame): DataFrame = input
    .select(explode(tokensCol(col("text"))).as("tok"))
    .agg(countDistinct(col("tok")).as("vs"))

  private def lm2ModelWithV(bg: DataFrame, v: DataFrame): DataFrame = {
    val cb = bg
      .groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("c"))
    val cl = cb.groupBy(col("prev")).agg(sum(col("c")).as("cp"))
    val surp2 = round(-log((col("c") + lit(1.0)) /
      (col("cp") + col("vs"))) * lit(1000000.0), 0).cast(LongType)
    cb.join(cl, Seq("prev")).crossJoin(broadcast(v))
      .select(col("prev"), col("tok"), surp2.as("surp2"))
  }

  /** Batch face: contracts to per-document distinct-BIGRAM counts
    * before the model join (the t12 term-frequency contraction, one
    * key wider), then re-weights — fewer join rows than token-level.
    */
  def lmScore2(input: DataFrame): DataFrame = {
    // one bigram scan for both consumers (r21): the per-doc term
    // frequencies and the model's corpus counts each re-tokenized and
    // re-exploded the corpus before; materialize the per-doc result
    // while the cache is live, then release (the p1 discipline).
    // The vocabulary leg is an INDEPENDENT corpus scan (sub-2-token
    // docs emit no bigram row), so it materializes CONCURRENTLY with
    // the bigram cache (guide §2.6) — the r21 shared-scan form
    // serialized these formerly-overlapping subtrees and traded the
    // saved scan for wall clock at bench scale (VERDICT r21 wrong-2).
    val bg = bigramRows(input).persist()
    graft.core.ConcurrentLeg(input.sparkSession, "t13-vocab",
        release = Seq(bg))(
        vocabSizeOf(input).localCheckpoint(eager = true)) { vocab =>
      bg.count() // materialize the bigram cache while V scans
      val tf2 = bg
        .groupBy(col("doc_id"), col("prev"), col("tok"))
        .agg(count(lit(1)).as("n"))
      tf2.join(lm2ModelWithV(bg, vocab()), Seq("prev", "tok"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_bigrams"),
          sum(col("n") * col("surp2")).as("su"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("su") / (col("n_bigrams") * lit(1000000.0)), 6)
            .as("avg_surprisal2"))
        .localCheckpoint(eager = true)
    }
  }

  /** The bigram-LM train+score replay as a reusable CTE chain over
    * `src(doc_id, text)`, ending in
    * `lmsc(doc_id, n_bigrams, avg_surprisal2)` — the SQL twin of
    * [[lmScore2]] trained on the SAME src it scores. ONE source of
    * truth for the t13 oracle (src = documents) and Dedup's p11
    * pipeline oracle (src = the quality-gated survivor set). CTE names
    * are l-prefixed so the chain composes without collisions.
    */
  private[graft] def lm2SqlFrom(src: String): String =
    s"""lt AS (SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+') AS toks FROM $src),
       |lbg AS (SELECT doc_id, toks[i] AS prev, toks[i+1] AS tok
       |  FROM lt, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
       |ltf AS (SELECT doc_id, prev, tok, count(*) AS n FROM lbg
       |  GROUP BY doc_id, prev, tok),
       |lcb AS (SELECT prev, tok, count(*) AS c FROM lbg
       |  GROUP BY prev, tok),
       |lcl AS (SELECT prev, sum(c)::BIGINT AS cp FROM lcb GROUP BY prev),
       |lv AS (SELECT count(DISTINCT tok) AS vs FROM
       |  (SELECT unnest(toks) AS tok FROM lt)),
       |lmm AS (SELECT prev, tok,
       |    round(-ln((c + 1.0) / (cp + vs)) * 1000000.0, 0)::BIGINT
       |      AS surp2
       |  FROM lcb JOIN lcl USING (prev), lv),
       |lmsc AS (SELECT doc_id, sum(n)::BIGINT AS n_bigrams,
       |    round(sum(n * surp2) / (sum(n) * 1000000.0), 6)
       |      AS avg_surprisal2
       |  FROM ltf JOIN lmm USING (prev, tok)
       |  GROUP BY doc_id)""".stripMargin

  /** Streaming-servable application face against a frozen bigram model
    * — bigram-level join + ONE aggregation (the lmScoreApply shape);
    * exactly equal to [[lmScore2]] by the same integer-sum argument.
    * Unseen bigrams (OOV of the frozen model) drop via the inner join.
    */
  private[graft] def lmScore2Apply(input: DataFrame,
      model: DataFrame): DataFrame =
    bigramRows(input)
      .join(model, Seq("prev", "tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("surp2")).as("su"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("su") / (col("n_bigrams") * lit(1000000.0)), 6)
          .as("avg_surprisal2"))

  /** Token counting + quality scoring: token count, distinct count, mean
    * token length, stopword ratio.
    */
  def t1TokenStats: Q = (s, dir) => {
    val toks = tokensCol(col("text"))
    Tables.documents(s, dir)
      .withColumn("toks", toks)
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_uniq"),
        round(aggregate(transform(col("toks"), t => length(t)),
          lit(0), _ + _).cast("double") / size(col("toks")), 6)
          .as("mean_len"),
        round(size(filter(col("toks"), t => t.isin(stopwords: _*)))
          .cast("double") / size(col("toks")), 6).as("stop_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID heuristic: count marker tokens per language, argmax with
    * alphabetical priority on ties. (A real n-gram model would score
    * character trigrams; the fixture corpus is synthetic English-ish word
    * soup, so the *mechanism* — per-language scoring + deterministic argmax
    * — is what this operator exercises.)
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ein"),
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "los"),
    "fr" -> Seq("le", "la", "et", "les"),
    "zh" -> Seq("的", "是", "在", "了")
  )

  /** Adds a `guess` language column to a frame carrying a `toks` array:
    * marker scores project once (each filter evaluates a single time in
    * codegen), then argmax with alphabetical tie priority
    * (de < en < es < fr < zh). Shared by t2 and the curation pipeline.
    */
  private[functions] def withLangGuess(df: DataFrame): DataFrame = {
    val langs = langMarkers.map(_._1)
    val scored = df.select(col("*") +: langMarkers.map { case (lang, markers) =>
      size(filter(col("toks"), t => t.isin(markers: _*))).as(s"s_$lang")
    }: _*)
    val guess = langs.init.foldRight(lit(langs.last): Column) { (lang, rest) =>
      val others = langs.filterNot(_ == lang)
      when(others.map(o => col(s"s_$lang") >= col(s"s_$o"))
        .reduce(_ && _), lit(lang)).otherwise(rest)
    }
    scored.withColumn("guess", guess).drop(langs.map(l => s"s_$l"): _*)
  }

  def t2LangGuess: Q = (s, dir) =>
    withLangGuess(Tables.documents(s, dir)
      .withColumn("toks", tokensCol(col("text"))))
      .select(col("doc_id"), col("guess")).orderBy(col("doc_id"))

  /** Document fingerprint: min 60-bit hash over word 3-shingles (a
    * min-hash of the shingle set — robust to local edits); whole-text hash
    * for docs with < 3 tokens.
    */
  def t3Fingerprint: Q = (s, dir) => {
    val toks = tokensCol(col("text"))
    val sh = shinglesCol(col("toks"))
    Tables.documents(s, dir)
      .withColumn("toks", toks)
      .withColumn("sh", sh)
      .select(col("doc_id"),
        when(size(col("sh")) > 0,
          array_min(transform(col("sh"), x => hash60(x))))
          .otherwise(hash60(col("text"))).as("fp"))
      .orderBy(col("doc_id"))
  }

  // ---- DuckDB oracles ------------------------------------------------------

  private val toksSql =
    """t AS (SELECT doc_id, text,
      |  string_split_regex(trim(text), '\s+') AS toks FROM documents)""".stripMargin

  /** SQL literal list — shared with the curation-pipeline oracle. */
  private[functions] def inListSql(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("(", ",", ")")

  /** Per-language marker-score projections over a `toks` column — the SQL
    * twin of [[withLangGuess]]'s scored projection (shared by t2 and p1).
    */
  private[functions] val langScoreColsSql: String =
    langMarkers.map { case (l, m) =>
      s"  len(list_filter(toks, x -> x IN ${inListSql(m)})) AS s_$l"
    }.mkString(",\n")

  /** The argmax CASE over the s_<lang> score columns, alphabetical tie
    * priority — the SQL twin of [[withLangGuess]]'s fold (shared by t2
    * and p1, generated from [[langMarkers]] so the three stay in lockstep).
    */
  private[functions] val langGuessCaseSql: String = {
    val langs = langMarkers.map(_._1)
    val whens = langs.init.map { l =>
      val conds = langs.filterNot(_ == l)
        .map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"  WHEN $conds THEN '$l'"
    }.mkString("\n")
    s"CASE\n$whens\n  ELSE '${langs.last}' END"
  }

  def oracles: Map[String, String] = Map(
    // identical in-SQL text composition, then regexp_replace with the
    // 'g' flag (Spark's replaces all matches by default) and
    // regexp_extract_all length as the count twin
    "t14_pii_scrub" ->
      s"""WITH t AS (SELECT c_custkey,
         |  c_name || ' call ' ||
         |    printf('%03d-%04d', c_custkey % 1000, c_custkey % 10000) ||
         |    ' segment ' || c_mktsegment AS text
         |  FROM customer)
         |SELECT c_custkey,
         |  regexp_replace(regexp_replace(text,
         |    '$PhonePattern', '[PHONE]', 'g'),
         |    '$IdRunPattern', '[ID]', 'g') AS clean_text,
         |  len(regexp_extract_all(text, '$PhonePattern'))::BIGINT
         |    AS n_phones,
         |  len(regexp_extract_all(text, '$IdRunPattern'))::BIGINT
         |    AS n_ids
         |FROM t ORDER BY c_custkey""".stripMargin,
    "t15_line_dedup" ->
      """WITH c AS (SELECT doc_id, string_split(text, ' ') AS ws, text
        |  FROM documents),
        |l0 AS (SELECT doc_id,
        |  [array_to_string(ws[1:8], ' '),
        |   array_to_string(ws[9:16], ' '),
        |   array_to_string(ws[1:8], ' '),
        |   text,
        |   array_to_string(ws[9:16], ' ')] AS lines FROM c),
        |l AS (SELECT doc_id, i AS pos, lines[i] AS line
        |  FROM l0 CROSS JOIN generate_series(1, 5) t(i)),
        |firsts AS (SELECT doc_id, line, min(pos) AS pos FROM l
        |  GROUP BY doc_id, line)
        |SELECT doc_id, 5::BIGINT AS n_lines, count(*)::BIGINT AS n_kept,
        |  string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |FROM firsts GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // df over DISTINCT (doc, line), NOT IN removal, positional
    // reassembly — the whole corpus-level chain replayed
    "t16_boilerplate_removal" ->
      s"""WITH c AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |    source, text FROM documents),
        |l0 AS (SELECT doc_id,
        |  [array_to_string(ws[1:8], ' '),
        |   '$T16Banner',
        |   array_to_string(ws[9:16], ' '),
        |   'via ' || source,
        |   text] AS lines FROM c),
        |l AS (SELECT doc_id, i AS pos, lines[i] AS line
        |  FROM l0 CROSS JOIN generate_series(1, 5) t(i)),
        |bp AS (SELECT line FROM (
        |    SELECT line, count(*) AS df FROM
        |      (SELECT DISTINCT doc_id, line FROM l) GROUP BY line)
        |  WHERE df >= $T16MinDf),
        |k AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |  FROM l WHERE line NOT IN (SELECT line FROM bp)
        |  GROUP BY doc_id)
        |SELECT c.doc_id, 5::BIGINT AS n_lines,
        |  (5 - coalesce(n_kept, 0))::BIGINT AS n_removed,
        |  coalesce(clean_text, '') AS clean_text
        |FROM c LEFT JOIN k USING (doc_id) ORDER BY c.doc_id""".stripMargin,
    "t1_token_stats" ->
      s"""WITH $toksSql
         |SELECT doc_id, len(toks) AS n_tokens,
         |  len(list_distinct(toks)) AS n_uniq,
         |  round(list_sum(list_transform(toks, x -> length(x))) * 1.0
         |    / len(toks), 6) AS mean_len,
         |  round(len(list_filter(toks, x -> x IN ${inListSql(stopwords)}))
         |    * 1.0 / len(toks), 6) AS stop_ratio
         |FROM t ORDER BY doc_id""".stripMargin,
    "t2_lang_guess" ->
      s"""WITH $toksSql,
         |sc AS (SELECT doc_id,
         |$langScoreColsSql
         |FROM t)
         |SELECT doc_id, $langGuessCaseSql AS guess
         |FROM sc ORDER BY doc_id""".stripMargin,
    "t3_fingerprint" ->
      s"""WITH $toksSql,
         |s AS (SELECT doc_id, text,
         |  list_transform(generate_series(1, len(toks) - 2),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
         |  FROM t)
         |SELECT doc_id, CASE WHEN len(sh) > 0
         |  THEN list_min(list_transform(sh,
         |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT))
         |  ELSE ('0x' || substr(md5(text), 1, 15))::BIGINT END AS fp
         |FROM s ORDER BY doc_id""".stripMargin,
    "t4_bpe_tokens" ->
      s"""WITH b AS (SELECT doc_id,
         |  regexp_extract_all(lower(text), '$BpePattern') AS bpe
         |  FROM documents)
         |SELECT doc_id, len(bpe) AS n_bpe,
         |  len(list_distinct(bpe)) AS n_bpe_uniq
         |FROM b ORDER BY doc_id""".stripMargin,
    "t6_vocab" ->
      s"""SELECT tok, count(*) AS n
         |FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
         |  FROM documents)
         |GROUP BY tok ORDER BY n DESC, tok LIMIT $VocabSize""".stripMargin,
    "t7_quality_gate" ->
      s"""WITH $toksSql
         |SELECT doc_id, CASE
         |  WHEN len(toks) < $MinTokens THEN 'too_short'
         |  WHEN len(list_distinct(toks)) * 1.0 / len(toks) < $MinUniqRatio
         |    THEN 'low_diversity'
         |  WHEN len(list_filter(toks, x -> x IN ${inListSql(stopwords)}))
         |    * 1.0 / len(toks) < $MinStopRatio THEN 'no_stopwords'
         |  ELSE 'keep' END AS verdict
         |FROM t ORDER BY doc_id""".stripMargin,
    "t8_boilerplate" ->
      s"""WITH $toksSql,
         |g AS (SELECT doc_id, unnest(list_distinct(
         |    list_transform(generate_series(1, len(toks) - 2),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
         |  FROM t)
         |SELECT gram, count(*) AS df FROM g
         |GROUP BY gram HAVING count(*) >= $MinDf
         |ORDER BY df DESC, gram LIMIT $BoilerplateTop""".stripMargin,
    "t5_repetition" ->
      s"""WITH $toksSql,
         |s AS (SELECT doc_id,
         |  list_transform(generate_series(1, len(toks) - 2),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
         |  FROM t)
         |SELECT doc_id, len(sh) AS n_shingles,
         |  round(CASE WHEN len(sh) > 0
         |    THEN 1.0 - len(list_distinct(sh)) * 1.0 / len(sh)
         |    ELSE 0.0 END, 6) AS dup_ratio
         |FROM s ORDER BY doc_id""".stripMargin,
    "t11_bm25" -> {
      // generated from the SAME constants/term list as t11Bm25 so the two
      // stay in lockstep; term contributions summed in identical order
      val dfCols = Bm25Query.indices.map { i =>
        s"  sum(CASE WHEN list_contains(toks, '${Bm25Query(i)}') " +
          s"THEN 1 ELSE 0 END) * 1.0 AS df_$i"
      }.mkString(",\n")
      val termSum = Bm25Query.zipWithIndex.map { case (t, i) =>
        s"""ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5))
           |    * (len(list_filter(toks, x -> x = '$t')) * 1.0 * ${Bm25K1 + 1})
           |    / (len(list_filter(toks, x -> x = '$t')) * 1.0
           |      + $Bm25K1 * (${1 - Bm25B} + $Bm25B * dl / avgdl))"""
          .stripMargin
      }.mkString("\n  + ")
      s"""WITH $toksSql,
         |d AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
         |st AS (SELECT sum(dl) * 1.0 / count(*) AS avgdl,
         |  count(*) * 1.0 AS n_docs,
         |$dfCols
         |FROM d)
         |SELECT doc_id, round($termSum, 4) AS bm25
         |FROM d, st ORDER BY doc_id""".stripMargin
    },
    "t12_lm_score" ->
      """WITH tk AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS n FROM tk GROUP BY doc_id, tok),
        |cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
        |tot AS (SELECT sum(c) AS t_total, count(*) AS v_size FROM cnt),
        |sc AS (SELECT doc_id, n,
        |    round(-ln((c + 1.0) / (t_total + v_size)) * 1000000.0, 0)::BIGINT
        |      AS surp_u
        |  FROM tf JOIN cnt USING (tok), tot)
        |SELECT doc_id, sum(n)::BIGINT AS n_tokens,
        |  round(sum(n * surp_u) / (sum(n) * 1000000.0), 6) AS avg_surprisal
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // independent replay of the bigram chain: positions i, i+1 paired
    // by generate_series (empty below 2 tokens — the dropped-doc rule),
    // identical float expression (c + 1.0)/(cp + vs) and micro-nat
    // rounding before the integer sum
    "t13_bigram_lm" ->
      s"""WITH ${lm2SqlFrom("documents")}
         |SELECT doc_id, n_bigrams, avg_surprisal2 FROM lmsc
         |ORDER BY doc_id""".stripMargin,
    "t10_oov_rate" ->
      s"""WITH tk AS (SELECT doc_id,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS tok
         |  FROM documents),
         |vocab AS (SELECT tok FROM tk
         |  GROUP BY tok ORDER BY count(*) DESC, tok LIMIT $VocabSize)
         |SELECT doc_id, count(*) AS n_tokens,
         |  sum(CASE WHEN tok IN (SELECT tok FROM vocab)
         |    THEN 0 ELSE 1 END)::BIGINT AS n_oov,
         |  round(sum(CASE WHEN tok IN (SELECT tok FROM vocab)
         |    THEN 0 ELSE 1 END)::DOUBLE / count(*), 6) AS oov_ratio
         |FROM tk GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
