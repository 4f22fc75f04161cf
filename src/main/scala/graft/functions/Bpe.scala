package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Learned byte-pair encoding — the REAL trainer + applier the round-7
  * verdict asked for (t4 stays as the cheap regex pre-tokenizer; this is
  * the operator an actual training-data pipeline runs).
  *
  * Trainer (t4b): the textbook distributed agg loop. ONE corpus pass
  * builds the distinct-word frequency table (the only corpus-sized
  * shuffle); each of the [[NumMerges]] iterations then runs
  * `explode(adjacent pairs) → groupBy(pair) → sum(freq) → argmax` over
  * that table — a small bounded shuffle per iteration, never touching the
  * corpus again — and rewrites the symbol arrays with a pure
  * `aggregate()` fold (greedy left-to-right, the classic merge-apply
  * semantics). Lineage is truncated with `localCheckpoint` every
  * [[CheckpointEvery]] merges so the plan stays shallow across the loop.
  * At 100 TB the word table is the corpus VOCABULARY (bounded, ~10⁸ rows
  * worst case) — the loop cost is independent of corpus size, which is
  * exactly why production BPE trainers aggregate first.
  *
  * Applier (t4c): the trainer's final word→symbols table IS the
  * tokenization of every in-vocabulary word, so application is a
  * broadcast join of the exploded corpus against it — one scan + one
  * doc_id shuffle, no per-row merge replay. Docs hash-fingerprint their
  * full subword sequence so the oracle pins content, not just counts.
  *
  * Oracle: DuckDB replays the identical deterministic merge sequence via
  * a generated CTE chain (w0→b0→w1→…), with the merge-apply fold
  * expressed as `list_reduce` over a chr(31)-joined accumulator — an
  * independent implementation of the same greedy semantics. Both sides
  * break pair-count ties by (count DESC, lhs ASC, rhs ASC), so the merge
  * table is bit-deterministic.
  *
  * The trainer stops early when no pair reaches [[MinPairFreq]] (the
  * production semantics — `m` is a budget, not a promise). The oracle's
  * fixed CTE chain assumes the gate corpus never stops before
  * [[NumMerges]] (fixture-validated: rank-32 score is 933); early-stop
  * corpora are pinned by BpeSpec instead.
  */
object Bpe {

  type Q = (SparkSession, String) => DataFrame

  /** Merge-table size — M~50-class at fixture scale per VERDICT r7 §next-2,
    * small enough that the two parity queries stay in bench budget.
    */
  val NumMerges = 32

  /** localCheckpoint cadence: bounds the chained merge-fold depth. */
  val CheckpointEvery = 8

  def queries: Map[String, Q] = Map(
    "t4b_bpe_merges" -> t4bMerges,
    "t4c_bpe_apply" -> t4cApply
  )

  final case class Merge(rank: Int, lhs: String, rhs: String, score: Long)

  /** Distinct pre-token frequency table with initial character symbols:
    * the one corpus-sized aggregation of the whole trainer.
    */
  private def wordTable(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(regexp_extract_all(lower(col("text")),
        lit(TextAnalysis.BpePattern), lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", regexp_extract_all(col("word"), lit("."), lit(0)))

  /** Greedy left-to-right merge of (lhs, rhs) in a symbol array — the
    * Sennrich merge-apply pass as a pure fold: a just-merged token is
    * never the left side of another merge in the same pass (lhs+rhs ≠ lhs
    * since rhs is nonempty, so the fold's "accumulator ends with lhs"
    * test is exactly the scan-position test).
    */
  private[functions] def mergeFold(syms: Column, lhs: String,
      rhs: String): Column =
    when(size(syms) < 2, syms).otherwise(
      aggregate(
        slice(syms, lit(2), size(syms) - 1),
        array(element_at(syms, 1)),
        (acc, x) =>
          when(element_at(acc, -1) === lit(lhs) && x === lit(rhs),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(lhs + rhs))))
            .otherwise(concat(acc, array(x)))))

  /** Adjacent symbol pairs of each word (empty below 2 symbols — Spark's
    * `sequence(1, 0)` would count DOWN, so the guard is load-bearing).
    */
  private def pairsCol(syms: Column): Column =
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1), i =>
        struct(element_at(syms, i).as("lhs"),
          element_at(syms, i + 1).as("rhs"))))
      .otherwise(array().cast("array<struct<lhs:string,rhs:string>>"))

  /** Memoized trainer results per (dir, m): the applier reuses the most
    * recent trainer run ("train once, apply everywhere") instead of
    * paying the loop twice in one session.
    */
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(String, Int),
      (Seq[Merge], DataFrame)]

  /** Runs the trainer — ALWAYS the full M-iteration loop (t4b's bench
    * row must carry the real trainer cost, not a memo read) — and
    * refreshes the memo the applier consumes.
    */
  def train(s: SparkSession, dir: String,
      m: Int = NumMerges): (Seq[Merge], DataFrame) = {
    val r = trainWords(wordTable(s, dir), m)
    memo.put((dir, m), r)
    r
  }

  /** The applier's entry: reuse the session's last trainer run, training
    * only if none exists yet. A memo hit is only valid for the SAME live
    * session — a checkpointed DataFrame's cached blocks die with its
    * session, so a stale hit would fail (or silently retrain against a
    * dead context); key validation retrains instead (ADVICE r8).
    */
  def trained(s: SparkSession, dir: String,
      m: Int = NumMerges): (Seq[Merge], DataFrame) =
    memo.get((dir, m))
      .filter { case (_, df) => (df.sparkSession eq s) &&
        !s.sparkContext.isStopped }
      .getOrElse(train(s, dir, m))

  /** Minimum pair frequency worth merging — the standard early-stop
    * bound: a pair seen once buys no compression (the merged token would
    * appear exactly once), so training past it is pure memorization.
    */
  val MinPairFreq = 2L

  /** Word-table bound for the DRIVER-SIDE trainer (r21): the merge loop
    * needs only the distinct pre-token frequency table — vocabulary-
    * bounded, not corpus-bounded — and every production BPE trainer
    * (Sennrich's reference, GPT-2's) counts words distributed and
    * merges locally. Below this row count the table is collected once
    * and the M-iteration loop runs on the driver (32 scheduler-bound
    * Spark jobs → microseconds of array folds); above it the
    * distributed loop below is the fallback, unchanged. Both paths are
    * pinned equal by the DuckDB CTE replay (the t4b oracle) and
    * BpeSpec.
    */
  val DriverTrainMaxWords = 2000000L

  /** Byte companion to the row bound (ADVICE r21): 2M collected rows
    * each carrying the word plus a per-CHARACTER String array can be
    * several GB of driver heap on a long-word corpus well under the
    * row count. Gate on the summed word length too (each collected
    * character costs roughly a boxed single-char String ≈ 50 bytes, so
    * 32M chars ≈ 1.6 GB worst case — within the driver heap with
    * room); the same aggregate job that counts the rows measures it,
    * and past either bound the distributed loop is the fallback,
    * unchanged.
    */
  val DriverTrainMaxChars = 32000000L

  /** The driver-side-trainer admission rule, exposed for BpeSpec. */
  private[functions] def fitsDriverTrain(rows: Long, chars: Long): Boolean =
    rows <= DriverTrainMaxWords && chars <= DriverTrainMaxChars

  /** The merge loop over an explicit (word, freq, syms) table — the
    * testable core; specs feed it synthetic corpora.
    *
    * EARLY STOP (VERDICT r8 §next-2): the loop runs to `m` merges OR
    * until no adjacent pair reaches [[MinPairFreq]], whichever comes
    * first — production semantics, where `m` is a vocabulary BUDGET, not
    * a promise. The driver-gate corpus never stops early at
    * [[NumMerges]] = 32 (its rank-32 score is 933), so the fixed-depth
    * DuckDB CTE chain stays a valid oracle; a corpus that does stop
    * early is covered by BpeSpec against the independent local trainer.
    */
  private[functions] def trainWords(wordFreqs: DataFrame,
      m: Int): (Seq[Merge], DataFrame) = {
    val words0 = wordFreqs.localCheckpoint()
    // one aggregate returns rows AND summed word chars — the byte
    // guard costs no extra job over the old count()
    val st = words0.agg(count(lit(1)), sum(length(col("word")))).head()
    val rows = st.getLong(0)
    val chars = if (st.isNullAt(1)) 0L else st.getLong(1)
    if (fitsDriverTrain(rows, chars)) trainWordsLocal(words0, m)
    else trainWordsDistributed(words0, m)
  }

  /** Driver-side merge loop over the collected word table. Semantics
    * are the distributed loop's exactly: all adjacent positions count
    * (overlaps included), argmax ties break by (lhs, rhs) in UTF-8
    * BYTE order (Spark's string sort order — a JVM String compareTo
    * would diverge on supplementary characters), and the greedy
    * left-to-right fold is [[mergeFold]]'s accumulator law verbatim.
    */
  private def trainWordsLocal(words0: DataFrame,
      m: Int): (Seq[Merge], DataFrame) = {
    val s = words0.sparkSession
    val rows = words0.select(col("word"), col("freq"), col("syms"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getSeq[String](2).toArray))
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      x.length < y.length
    }
    def foldLocal(syms: Array[String], lhs: String,
        rhs: String): Array[String] = {
      if (syms.length < 2) return syms
      val acc = scala.collection.mutable.ArrayBuffer(syms(0))
      var i = 1
      while (i < syms.length) {
        if (acc.last == lhs && syms(i) == rhs)
          acc(acc.length - 1) = lhs + rhs
        else acc += syms(i)
        i += 1
      }
      acc.toArray
    }
    var table = rows
    val merges = Seq.newBuilder[Merge]
    var i = 0
    var exhausted = false
    while (i < m && !exhausted) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      table.foreach { case (_, freq, syms) =>
        var j = 0
        while (j + 1 < syms.length) {
          val k = (syms(j), syms(j + 1))
          counts.update(k, counts.getOrElse(k, 0L) + freq)
          j += 1
        }
      }
      val top = counts.reduceOption { (a, b) =>
        if (a._2 != b._2) { if (a._2 > b._2) a else b }
        else if (a._1._1 != b._1._1) {
          if (utf8Lt(a._1._1, b._1._1)) a else b
        } else if (utf8Lt(a._1._2, b._1._2)) a
        else b
      }
      top match {
        case Some(((lhs, rhs), cnt)) if cnt >= MinPairFreq =>
          merges += Merge(i + 1, lhs, rhs, cnt)
          table = table.map { case (w, f, syms) =>
            (w, f, foldLocal(syms, lhs, rhs))
          }
        case _ => exhausted = true
      }
      i += 1
    }
    import s.implicits._
    val out = table.toSeq.map { case (w, f, syms) => (w, f, syms.toSeq) }
      .toDF("word", "freq", "syms")
      .localCheckpoint()
    (merges.result(), out)
  }

  /** The pre-r21 distributed merge loop — the fallback for word tables
    * past [[DriverTrainMaxWords]].
    */
  private def trainWordsDistributed(words0: DataFrame,
      m: Int): (Seq[Merge], DataFrame) = {
    var words = words0
    val merges = Seq.newBuilder[Merge]
    var i = 0
    var exhausted = false
    while (i < m && !exhausted) {
      val top = words
        .select(col("freq"), explode(pairsCol(col("syms"))).as("p"))
        .groupBy(col("p.lhs"), col("p.rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < MinPairFreq) exhausted = true
      else {
        val (lhs, rhs, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(i + 1, lhs, rhs, cnt)
        words = words.withColumn("syms", mergeFold(col("syms"), lhs, rhs))
        if ((i + 1) % CheckpointEvery == 0 && i + 1 < m)
          words = words.localCheckpoint()
      }
      i += 1
    }
    (merges.result(), words.localCheckpoint())
  }

  /** The learned merge table: (merge_rank, lhs, rhs, score). */
  def t4bMerges: Q = (s, dir) => {
    val (merges, _) = train(s, dir)
    import s.implicits._
    merges.map(m => (m.rank, m.lhs, m.rhs, m.score))
      .toDF("merge_rank", "lhs", "rhs", "score")
      .orderBy(col("merge_rank"))
  }

  /** The apply core over ANY (doc_id, text) frame — batch t4c and the
    * streaming twin (StreamingSpec) run THIS one plan: pre-tokenize,
    * broadcast-join the trained word→syms table, aggregate per doc to
    * (n_sub, sequence fingerprint). Stateless projections + one
    * streaming-supported keyed aggregation, so the same code is
    * incremental under readStream (documents tokenized as they arrive —
    * the production serving shape for a trained tokenizer). Docs with
    * zero pre-tokens produce no row here; t4c's batch face backfills
    * them against the full id list (a stream-static backfill join after
    * aggregation is not streaming-expressible, and an arriving stream
    * doc always HAS content).
    */
  private[graft] def applyCore(docs: DataFrame,
      wordSyms: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(regexp_extract_all(lower(col("text")),
          lit(TextAnalysis.BpePattern), lit(0))).as(Seq("pos", "word")))
      .join(broadcast(wordSyms.select(col("word"), col("syms"))), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(size(col("syms"))).as("n_sub"),
        sort_array(collect_list(struct(col("pos"), col("syms")))).as("ps"))
      .select(col("doc_id"), col("n_sub"),
        TextAnalysis.hash60(concat_ws("\u001f",
          flatten(transform(col("ps"), p => p.getField("syms")))))
          .as("sub_fp"))

  /** Learned-BPE tokenization per document: subword count + a 60-bit
    * fingerprint of the full subword sequence (chr(31)-joined in word
    * order). The trained word→syms table rides a broadcast join — the
    * corpus-side plan is one scan + one doc_id-keyed shuffle.
    */
  def t4cApply: Q = (s, dir) => {
    val (_, wordSyms) = trained(s, dir)
    val perDoc = applyCore(Tables.documents(s, dir), wordSyms)
    // docs with zero pre-tokens keep a row: empty-sequence fingerprint
    Tables.documents(s, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sub"), lit(0L)).as("n_sub"),
        coalesce(col("sub_fp"), TextAnalysis.hash60(lit(""))).as("sub_fp"))
      .orderBy(col("doc_id"))
  }

  // ---- DuckDB oracles ------------------------------------------------------

  /** The CTE chain replaying the trainer: w0 (initial word table), then
    * per merge i a 1-row argmax CTE b_i and the rewritten word table
    * w_{i+1}. The merge-apply fold rides `list_reduce` over a
    * chr(31)-joined accumulator string (safe: [[TextAnalysis.BpePattern]]
    * excludes control chars, so no symbol can contain chr(31)).
    */
  private def trainCtes(m: Int): String = {
    val w0 =
      s"""w0 AS MATERIALIZED (SELECT word, count(*) AS freq,
         |    regexp_extract_all(word, '.') AS syms
         |  FROM (SELECT unnest(regexp_extract_all(lower(text),
         |      '${TextAnalysis.BpePattern}')) AS word FROM documents)
         |  GROUP BY word)""".stripMargin
    val iters = (0 until m).map { i =>
      s"""b$i AS MATERIALIZED (SELECT lhs, rhs, cnt FROM (
         |  SELECT p[1] AS lhs, p[2] AS rhs, sum(freq) AS cnt
         |  FROM (SELECT freq, unnest(list_transform(
         |      generate_series(1, len(syms)-1),
         |      j -> [syms[j], syms[j+1]])) AS p FROM w$i)
         |  GROUP BY 1, 2) ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |w${i + 1} AS MATERIALIZED (SELECT word, freq,
         |  string_split(list_reduce(syms, (acc, x) ->
         |    CASE WHEN string_split(acc, chr(31))[-1] = b$i.lhs
         |        AND x = b$i.rhs
         |      THEN substr(acc, 1, length(acc) - length(b$i.lhs)) ||
         |        b$i.lhs || b$i.rhs
         |      ELSE acc || chr(31) || x END), chr(31)) AS syms
         |  FROM w$i, b$i)""".stripMargin
    }
    (w0 +: iters).mkString(",\n")
  }

  def oracles: Map[String, String] = Map(
    "t4b_bpe_merges" -> {
      val rows = (0 until NumMerges).map(i =>
        s"SELECT ${i + 1} AS merge_rank, lhs, rhs, cnt::BIGINT AS score FROM b$i")
      s"""WITH ${trainCtes(NumMerges)}
         |${rows.mkString("", "\nUNION ALL\n", "")}
         |ORDER BY merge_rank""".stripMargin
    },
    "t4c_bpe_apply" ->
      s"""WITH ${trainCtes(NumMerges)},
         |tok AS (SELECT doc_id, unnest(ws) AS word,
         |    unnest(generate_series(1, len(ws))) AS pos
         |  FROM (SELECT doc_id, regexp_extract_all(lower(text),
         |      '${TextAnalysis.BpePattern}') AS ws FROM documents)),
         |agg AS (SELECT doc_id, sum(len(syms))::BIGINT AS n_sub,
         |    ('0x' || substr(md5(array_to_string(
         |      flatten(list(syms ORDER BY pos)), chr(31))), 1, 15))::BIGINT
         |      AS sub_fp
         |  FROM tok JOIN w$NumMerges USING (word)
         |  GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n_sub, 0) AS n_sub,
         |  coalesce(a.sub_fp,
         |    ('0x' || substr(md5(''), 1, 15))::BIGINT) AS sub_fp
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin
  )
}
