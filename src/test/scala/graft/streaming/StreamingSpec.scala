package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sources.Tables

/** Structured Streaming runs of the Events transforms: the SAME logical
  * plan as the batch/oracle path, executed incrementally from a
  * MemoryStream, must converge to the batch answer. Plus a custom-state
  * sessionizer via flatMapGroupsWithState (the KeyValueGroupedDataset
  * path for operators session_window can't express).
  */
// encoders require top-level (non-inner) case classes
case class Ev(ts: Timestamp, user_id: Long, event_type: String,
    value: Double)
case class SessAcc(start: Long, last: Long, n: Long, sum: Double)
case class SessOut(user_id: Long, s_start: Long, n_events: Long,
    total: Double)
case class AsofEv(ts: Timestamp, user_id: Long, event_type: String,
    event_id: Long)
case class ClickState(tsMillis: Long)
case class AsofOut(user_id: Long, event_id: Long, purchase_at: String,
    click_at: Option[String])
case class DocRow(doc_id: Long, n_chars: Long)
case class DocTextRow(doc_id: Long, text: String, source: String)
case class TextRow(doc_id: Long, text: String)
case class PtRow(id: Long, features: Seq[Double])
case class VecRow(vec_id: Long, features: Seq[Double])

class StreamingSpec extends AnyFunSuite with SparkTestBase {

  private def eventRows(): Seq[Ev] = {
    Tables.events(spark, sfDir)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect()
      .map(r => Ev(r.getTimestamp(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSeq
  }

  test("streaming tumbling agg converges to the batch answer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val streamed = Events.tumblingHourly(input.toDF())
    val query = streamed.writeStream
      .format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      val rows = eventRows()
      // feed in two batches to exercise incremental state
      input.addData(rows.take(rows.length / 2))
      query.processAllAvailable()
      input.addData(rows.drop(rows.length / 2))
      query.processAllAvailable()
      val got = spark.table("tumbling_out")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      val want = Events.tumblingHourly(Tables.events(spark, sfDir))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(got === want)
    } finally query.stop()
  }

  test("watermarked append-mode stream emits finalized windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = Events.withWatermarked(input.toDF())
      .writeStream.format("memory").queryName("wm_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      val rows = eventRows().sortBy(_.ts.getTime)
      input.addData(rows)
      query.processAllAvailable()
      // advance watermark far past the data → all windows finalize
      val last = rows.last.ts.getTime
      input.addData(Seq(Ev(new Timestamp(last + 24L * 3600 * 1000), 0L,
        "view", 0.0)))
      query.processAllAvailable()
      val got = spark.table("wm_out")
        .filter(col("event_type") =!= "view" || col("n") > 1)
        .count()
      assert(got > 0, "finalized windows should have been appended")
    } finally query.stop()
  }

  test("file-source readStream over parquet converges to the batch answer") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft-stream-in")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.table(spark, sfDir, "events").schema
    val stream = Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(dir.toString))
    val query = Events.tumblingHourly(stream)
      .writeStream.format("memory").queryName("file_tumbling")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      query.processAllAvailable()
      val got = spark.table("file_tumbling").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      val want = Events.tumblingHourly(Tables.events(spark, sfDir))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(got === want)
    } finally query.stop()
  }

  test("stream-stream interval join matches the batch range join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = Events.clickToPurchase(
      clicks.toDF().withWatermark("ts", "2 hours"),
      purchases.toDF().withWatermark("ts", "2 hours"))
    val query = joined.writeStream
      .format("memory").queryName("attribution_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      val rows = eventRows()
      val c = rows.filter(_.event_type == "click")
      val p = rows.filter(_.event_type == "purchase")
      clicks.addData(c); purchases.addData(p)
      query.processAllAvailable()
      // push watermarks far forward so all joined rows emit
      val last = rows.map(_.ts.getTime).max + 7L * 24 * 3600 * 1000
      clicks.addData(Ev(new Timestamp(last), -1L, "click", 0.0))
      purchases.addData(Ev(new Timestamp(last), -2L, "purchase", 0.0))
      query.processAllAvailable()
      val got = spark.table("attribution_out")
        .filter(col("user_id") >= 0)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSet
      val ev = Tables.events(spark, sfDir)
      val want = Events.clickToPurchase(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSet
      assert(got === want)
      assert(want.nonEmpty)
    } finally query.stop()
  }

  test("streaming dedup: dropDuplicatesWithinWatermark removes replays") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = input.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "ts")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      val base = eventRows().take(100)
      input.addData(base)
      query.processAllAvailable()
      input.addData(base) // exact replay inside the watermark window
      query.processAllAvailable()
      val total = spark.table("dedup_out")
        .agg(sum(col("n"))).head().getLong(0)
      // replayed (user_id, ts) pairs are dropped by streaming state
      assert(total === base.map(e => (e.user_id, e.ts)).distinct.size)
    } finally query.stop()
  }

  test("e3 sessionization recovers from a checkpoint restart exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-sess-ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-sess-out").toString

    val evs = eventRows().filter(_.user_id < 40).sortBy(_.ts.getTime)
    assert(evs.nonEmpty)
    val maxTs = evs.map(_.ts.getTime).max
    val sentinelUser = 999999L

    // one plan, started twice against the same checkpoint + file sink —
    // the operational recovery path a long-lived pipeline rides
    val input = MemoryStream[Ev]
    def start() = Events.sessionsWatermarked(input.toDF())
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .start()

    val (first, second) = evs.splitAt(evs.length / 2)
    val q1 = start()
    try {
      input.addData(first)
      q1.processAllAvailable()
    } finally q1.stop()

    // restart from the checkpoint: sessions left OPEN at the stop (the
    // split lands mid-gap for many users) must merge with their
    // continuation, not re-emit or fork
    val q2 = start()
    try {
      input.addData(second)
      q2.processAllAvailable()
      // the watermark advances at batch boundaries from the PREVIOUS
      // batch's max event time, so push it past every real session twice
      (1 to 2).foreach { k =>
        input.addData(Seq(Ev(new Timestamp(maxTs + k * 24L * 3600 * 1000),
          sentinelUser, "view", 0.0)))
        q2.processAllAvailable()
      }
    } finally q2.stop()

    val got = spark.read.parquet(outDir)
      .filter(col("user_id") =!= sentinelUser)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // exactly-once across the restart: a replayed/re-emitted session would
    // surface as a duplicated finalized row
    assert(got.length === got.distinct.length,
      s"duplicated session rows after restart")
    // and complete: every batch session (the e3 answer) is present once
    val want = Events.sessions(
      Tables.events(spark, sfDir).filter(col("user_id") < 40))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.sorted.toSeq === want.sorted.toSeq)
  }

  test("flatMapGroupsWithState sessionizer matches session_window batch") {
    import spark.implicits._
    val gapMs = 10L * 60 * 1000

    // batch oracle: built-in session_window on the same (second-truncated)
    // timestamps
    val want = Events.sessions(Tables.events(spark, sfDir))
      .select(col("user_id"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap

    // driver-side event feed, processing-time order = event-time order
    val byUser = eventRows()
      .map(e => (e.user_id, e.ts.getTime / 1000 * 1000, e.value))
      .groupBy(_._1)

    // the same state machine flatMapGroupsWithState would run per key —
    // executed per user over the sorted feed (GroupStateTimeout-driven
    // emission collapses to end-of-stream flush here)
    def sessionize(events: Seq[(Long, Long, Double)]): Seq[SessOut] = {
      val sorted = events.sortBy(_._2)
      var state: Option[SessAcc] = None
      val out = Seq.newBuilder[SessOut]
      for ((uid, ts, v) <- sorted) {
        state match {
          // Spark session_window merges touching windows → `<=`
          case Some(acc) if ts - acc.last <= gapMs =>
            state = Some(acc.copy(last = ts, n = acc.n + 1, sum = acc.sum + v))
          case Some(acc) =>
            out += SessOut(uid, acc.start, acc.n, acc.sum)
            state = Some(SessAcc(ts, ts, 1, v))
          case None =>
            state = Some(SessAcc(ts, ts, 1, v))
        }
      }
      for ((uid, _, _) <- sorted.headOption)
        state.foreach(acc => out += SessOut(uid, acc.start, acc.n, acc.sum))
      out.result()
    }

    // run it THROUGH the real flatMapGroupsWithState operator on a batch
    // Dataset (same code path Structured Streaming invokes per trigger)
    val ds = byUser.toSeq.flatMap { case (uid, evs) =>
      evs.map(e => (uid, e._2, e._3))
    }.toDS()
    val got = ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (uid: Long, it: Iterator[(Long, Long, Double)],
            state: GroupState[SessAcc]) => {
          sessionize(it.toSeq).iterator
        })
      .collect()
      .map(s => (s.user_id, s.n_events))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap

    assert(got === want)
  }

  test("streaming as-of via flatMapGroupsWithState matches the e5 batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def fmt(ms: Long): String = {
      val f = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
      f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      f.format(new java.util.Date(ms))
    }

    // per-trigger state machine: clicks update state, purchases emit the
    // latest click at-or-before; within a trigger events sort by
    // (ts, click-before-purchase, event_id) — the e5 tie rule
    def asof(it: Iterator[AsofEv],
        state: GroupState[ClickState]): Iterator[AsofOut] = {
      val sorted = it.toSeq.sortBy(e =>
        (e.ts.getTime, if (e.event_type == "click") 0 else 1, e.event_id))
      var last: Option[Long] = state.getOption.map(_.tsMillis)
      val out = Seq.newBuilder[AsofOut]
      sorted.foreach { e =>
        if (e.event_type == "click") last = Some(e.ts.getTime)
        else out += AsofOut(e.user_id, e.event_id,
          fmt(e.ts.getTime), last.map(fmt))
      }
      last.foreach(ms => state.update(ClickState(ms)))
      out.result().iterator
    }

    val rows = Tables.events(spark, sfDir)
      .filter(col("user_id") < 30 &&
        col("event_type").isin("click", "purchase"))
      .select(col("ts"), col("user_id"), col("event_type"), col("event_id"))
      .collect()
      .map(r => AsofEv(r.getTimestamp(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
      .sortBy(_.ts.getTime) // feed in event-time order across triggers
      .toSeq

    val input = MemoryStream[AsofEv]
    val query = input.toDS()
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (_: Long, it: Iterator[AsofEv], st: GroupState[ClickState]) =>
          asof(it, st))
      .writeStream.format("memory").queryName("asof_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // three triggers: state (the last click) must carry across them
      rows.grouped(math.max(rows.length / 3, 1)).foreach { batch =>
        input.addData(batch)
        query.processAllAvailable()
      }
      val got = spark.table("asof_out")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          Option(r.getString(3)))).toSet
      val want = Events.asofLatestClick(Tables.events(spark, sfDir))
        .filter(col("user_id") < 30)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          Option(r.getString(3)))).toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally query.stop()
  }

  test("streaming hash split converges to the batch split counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
      .collect().map(r => DocRow(r.getLong(0), r.getLong(1))).toSeq
    val input = MemoryStream[DocRow]
    // the SAME splitCounts transform that p2 runs in batch
    val query = graft.functions.Curation.splitCounts(input.toDF())
      .writeStream.format("memory").queryName("split_out")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(docs.take(docs.length / 2))
      query.processAllAvailable()
      input.addData(docs.drop(docs.length / 2))
      query.processAllAvailable()
      val got = spark.table("split_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val want = graft.functions.Curation
        .splitCounts(docs.toDF("doc_id", "n_chars")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want)
      assert(got.map(_._1) === Set("train", "val", "test"))
    } finally query.stop()
  }

  test("streaming BPE apply with the trained table matches batch t4c") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // train ONCE on the fixture corpus (the production decomposition:
    // batch-train, then serve the table to arriving documents)
    val (_, wordSyms) = graft.functions.Bpe.trained(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => TextRow(r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[TextRow]
    // the SAME applyCore plan t4c runs in batch — broadcast join against
    // the static trained table + one keyed aggregation, incremental
    val query = graft.functions.Bpe.applyCore(input.toDF(), wordSyms)
      .writeStream.format("memory").queryName("bpe_apply_out")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(docs.take(docs.length / 2))
      query.processAllAvailable()
      input.addData(docs.drop(docs.length / 2))
      query.processAllAvailable()
      val got = spark.table("bpe_apply_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // batch answer from the ORACLE-CHECKED query face, minus the
      // zero-token backfill rows applyCore deliberately omits
      val want = graft.functions.Bpe.t4cApply(spark, sfDir)
        .where(col("n_sub") > 0).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want)
      assert(got.size === docs.length, "fixture has no zero-token docs")
    } finally query.stop()
  }

  test("streaming BM25 scoring against frozen stats matches batch t11") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the production decomposition of t11 (VERDICT r9 §next-6): corpus
    // stats frozen ONCE in batch, arriving documents scored against the
    // 1-row broadcast — the t4c batch-train/stream-serve pattern. The
    // scoring face has NO aggregation, so it streams append-clean.
    val batchDocs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val stats = graft.functions.TextAnalysis.bm25Stats(batchDocs)
    val docs = batchDocs.collect()
      .map(r => TextRow(r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[TextRow]
    // the SAME bm25Score plan t11 runs in batch, stream-static
    val query = graft.functions.TextAnalysis
      .bm25Score(input.toDF(), stats)
      .writeStream.format("memory").queryName("bm25_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(docs.take(docs.length / 2))
      query.processAllAvailable()
      input.addData(docs.drop(docs.length / 2))
      query.processAllAvailable()
      val got = spark.table("bm25_out").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      val want = graft.functions.TextAnalysis.t11Bm25(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got === want)
      assert(got.size === docs.length)
    } finally query.stop()
  }

  test("streaming LM scoring against the frozen model matches batch t12") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // t12's serving shape: the vocabulary-sized unigram model trained
    // ONCE in batch (a static shuffle-joined table, deliberately never
    // broadcast), arriving documents scored with ONE keyed aggregation
    val batchDocs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val model = graft.functions.TextAnalysis.lmModel(batchDocs)
    val docs = batchDocs.collect()
      .map(r => TextRow(r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[TextRow]
    val query = graft.functions.TextAnalysis
      .lmScoreApply(input.toDF(), model)
      .writeStream.format("memory").queryName("lm_out")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(docs.take(docs.length / 2))
      query.processAllAvailable()
      input.addData(docs.drop(docs.length / 2))
      query.processAllAvailable()
      val got = spark.table("lm_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // the oracle-checked batch face: token-level Σ surp_u equals the
      // distinct-term Σ n·surp_u contraction exactly (integer micro-nats)
      val want = graft.functions.TextAnalysis.t12LmScore(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got === want)
      assert(got.size === docs.length, "fixture has no zero-token docs")
    } finally query.stop()
  }

  test("streaming quality scoring against frozen weights matches batch p7") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // p7's serving shape: the logistic model trained ONCE in batch and
    // frozen as a broadcast token-keyed micro-nat weights table (the
    // persisted served form); arriving documents scored by the exact
    // batch plan (token explode + weight join + one keyed integer
    // aggregation) — the t11/t12 stream-static discipline
    val (w, b) = graft.functions.QualityModel.servedModel(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => TextRow(r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[TextRow]
    val query = graft.functions.QualityModel
      .scoreDocsServed(input.toDF(), w, b)
      .writeStream.format("memory").queryName("quality_out")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(docs.take(docs.length / 2))
      query.processAllAvailable()
      input.addData(docs.drop(docs.length / 2))
      query.processAllAvailable()
      val got = spark.table("quality_out").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      val want = graft.functions.QualityModel
        .queries("p7_quality_score")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got === want)
      assert(got.size === docs.length)
    } finally query.stop()
  }

  test("streaming ANN serving against the frozen index matches batch s7") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the ANN SERVING shape (VERDICT r10 §next-7): arriving query
    // vectors scored per micro-batch against the frozen auto-IVF index
    // by the EXACT batch ranking (foreachBatch reuse — see the
    // serveAnnStream scaladoc for why a stream-static join cannot
    // express a pruned probe). Queries are independent rows, so the
    // union over micro-batches must equal the one-shot batch answer.
    val qs = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < 5)
      .select(col("vec_id"), col("features"))
      .collect()
      .map(r => VecRow(r.getLong(0), r.getSeq[Double](1))).toSeq
    val input = MemoryStream[VecRow]
    val got = scala.collection.mutable.Set[(Long, Int, Long)]()
    val query = graft.functions.Similarity
      .serveAnnStream(input.toDF(), sfDir, nprobe = 1) { scored =>
        got.synchronized {
          got ++= scored.collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        }
      }
    try {
      input.addData(qs.take(2))
      query.processAllAvailable()
      input.addData(qs.drop(2))
      query.processAllAvailable()
      val want = graft.functions.Similarity.s7AnnIvfAuto(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got.toSet === want)
      assert(got.size === qs.length * 5)
    } finally query.stop()
  }

  test("streaming line cleaning against the frozen boilerplate set matches batch t16") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // t16's serving shape: the df-qualified line set persisted once,
    // arriving documents cleaned per micro-batch — restricted to the
    // frozen set removal is per-document, so the union over batches
    // equals the one-shot batch answer when the set came from the
    // same corpus
    val path = java.nio.file.Files.createTempDirectory("t16_stream")
      .toString + "/bp"
    graft.functions.TextAnalysis.writeBoilerplateSet(spark, sfDir, path)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source")).collect()
      .map(r => DocTextRow(r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    val input = MemoryStream[DocTextRow]
    val got = scala.collection.mutable.Set[(Long, Long, Long, String)]()
    val query = graft.functions.TextAnalysis
      .serveLineCleanStream(input.toDF(), path) { cleaned =>
        got.synchronized {
          got ++= cleaned.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        }
      }
    try {
      input.addData(docs.take(docs.length / 2))
      query.processAllAvailable()
      input.addData(docs.drop(docs.length / 2))
      query.processAllAvailable()
      val want = graft.functions.TextAnalysis
        .t16BoilerplateRemoval(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
      assert(got.toSet === want)
      assert(got.size === docs.length)
    } finally query.stop()
  }

  test("streaming cluster assignment against the frozen centroids matches batch p12") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // p12's serving shape: centroids persisted once, arriving embedded
    // documents labeled per micro-batch — the union over batches must
    // equal the one-shot batch assignment of the same rows
    val path = java.nio.file.Files.createTempDirectory("p12_stream")
      .toString + "/cent"
    graft.functions.Curation.writeClusterCentroids(spark, sfDir, path)
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("features")).collect()
      .map(r => VecRow(r.getLong(0), r.getSeq[Double](1))).toSeq
    val input = MemoryStream[VecRow]
    val got = scala.collection.mutable.Set[(Long, Int)]()
    val query = graft.functions.Curation
      .serveClusterAssignStream(input.toDF(), path) { labeled =>
        got.synchronized {
          got ++= labeled.collect()
            .map(r => (r.getLong(0), r.getInt(1)))
        }
      }
    try {
      input.addData(vecs.take(vecs.length / 2))
      query.processAllAvailable()
      input.addData(vecs.drop(vecs.length / 2))
      query.processAllAvailable()
      val want = graft.functions.Curation
        .clusterAssignments(spark, sfDir, path).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got.toSet === want)
      assert(got.size === vecs.length)
    } finally query.stop()
  }

  test("streaming graph assignment against the frozen index matches batch s14") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // s14's serving shape: the graph index persisted once (planes +
    // pre-signed points + components), held-out vectors labeled per
    // micro-batch — the union over batches must equal the one-shot
    // batch assignment of the same rows
    import graft.operators.Clustering
    val path = java.nio.file.Files.createTempDirectory("s14_stream")
      .toString + "/graph"
    val pts = Tables.labeledPoints(spark, sfDir)
      .select(col("id"), col("features"))
    val base = pts.where(pmod(col("id"), lit(Clustering.S14Mod)) =!=
      lit(Clustering.S14Res))
    def build() = Clustering.writeKnnGraphIndexOf(spark, base,
      Clustering.LshPlanes, path, s"spec->$path")
    build()
    assert(jobsDuring(build()) === 0,
      "a repeated build of the same key is a memo hit")
    // the build records the corpus count it was built from; a store
    // whose points/ disagrees would mis-scale the append-wave budget
    val atBuild = spark.read.parquet(s"$path/build_meta")
      .select("points_at_build").head().getLong(0)
    assert(atBuild === spark.read.parquet(s"$path/points").count())
    val delta = pts
      .where(pmod(col("id"), lit(Clustering.S14Mod)) ===
        lit(Clustering.S14Res))
      .collect().map(r => VecRow(r.getLong(0), r.getSeq[Double](1))).toSeq
    val input = MemoryStream[VecRow]
    val got = scala.collection.mutable.Set[(Long, Option[Long], Long)]()
    val query = Clustering.serveGraphAssignStream(
      input.toDF().select(col("vec_id").as("id"), col("features")),
      path) { labeled =>
      got.synchronized {
        got ++= labeled.collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
      }
    }
    try {
      input.addData(delta.take(delta.length / 2))
      query.processAllAvailable()
      input.addData(delta.drop(delta.length / 2))
      query.processAllAvailable()
      val want = Clustering.s14GraphAssign(spark, sfDir).collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
        .toSet
      assert(got.toSet === want)
      assert(got.size === delta.length)
    } finally query.stop()
  }

  test("streaming rotated-ANN serving against the frozen rotation matches batch s10b") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // s10b's serving shape: the PCA rotation persisted once, arriving
    // query vectors projected through the frozen artifact and ranked by
    // the exact batch chain per micro-batch — the union over batches
    // must equal the one-shot batch answer
    val path = java.nio.file.Files.createTempDirectory("s10rot_stream")
      .toString + "/rot"
    graft.functions.Similarity.writeRotation(spark, sfDir, path)
    val qs = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < 5)
      .select(col("vec_id"), col("features"))
      .collect()
      .map(r => VecRow(r.getLong(0), r.getSeq[Double](1))).toSeq
    val input = MemoryStream[VecRow]
    val got = scala.collection.mutable.Set[(Long, Int, Long, Double)]()
    val query = graft.functions.Similarity
      .serveRotatedStream(input.toDF(), sfDir, path) { scored =>
        got.synchronized {
          got ++= scored.collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
              r.getDouble(3)))
        }
      }
    try {
      input.addData(qs.take(2))
      query.processAllAvailable()
      input.addData(qs.drop(2))
      query.processAllAvailable()
      val want = graft.functions.Similarity
        .serveRotated(spark, sfDir, path)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(got.toSet === want)
      assert(got.size === qs.length * 5)
    } finally query.stop()
  }

  test("streaming bigram-LM scoring against the frozen model matches batch t13") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // t13's serving shape mirrors t12's: the bigram model trained once
    // in batch (shuffle-joined, never broadcast), arriving documents
    // scored by the bigram-level apply face with one keyed aggregation;
    // bigrams are a per-row array zip, so a document's bigrams never
    // span micro-batches and the union equals the batch answer
    val batchDocs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val model = graft.functions.TextAnalysis.lm2Model(batchDocs)
    val docs = batchDocs.collect()
      .map(r => TextRow(r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[TextRow]
    val query = graft.functions.TextAnalysis
      .lmScore2Apply(input.toDF(), model)
      .writeStream.format("memory").queryName("lm2_out")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(docs.take(docs.length / 2))
      query.processAllAvailable()
      input.addData(docs.drop(docs.length / 2))
      query.processAllAvailable()
      val got = spark.table("lm2_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = graft.functions.TextAnalysis.t13BigramLm(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got === want)
    } finally query.stop()
  }

  test("streaming IVFADC serving against the frozen index matches batch s9") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the COMPOSED index's serving twin: same foreachBatch shape as the
    // s7 twin, but through the full coarse-probe + ADC + rerank ranking;
    // the trained codebooks are memoized per dir, so micro-batches and
    // the batch query score against the SAME frozen index
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val n = e.count()
    val nlist = graft.functions.Similarity.ivfCellsFor(n)
    val np = graft.functions.Similarity.ivfProbesFor(nlist)
    val rr = graft.functions.Similarity.pqRerankFor(n, nlist, np)
    val qs = e.where(col("vec_id") < 5)
      .select(col("vec_id"), col("features"))
      .collect()
      .map(r => VecRow(r.getLong(0), r.getSeq[Double](1))).toSeq
    val input = MemoryStream[VecRow]
    val got = scala.collection.mutable.Set[(Long, Int, Long)]()
    val query = graft.functions.Similarity
      .serveIvfAdcStream(input.toDF(), sfDir, np, rerank = rr) { scored =>
        got.synchronized {
          got ++= scored.collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        }
      }
    try {
      input.addData(qs.take(2))
      query.processAllAvailable()
      input.addData(qs.drop(2))
      query.processAllAvailable()
      val want = graft.functions.Similarity.s9AnnIvfAdc(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got.toSet === want)
      assert(got.size === qs.length * 5)
    } finally query.stop()
  }

  test("streaming serving from a persisted base+delta index matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val S = graft.functions.Similarity
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    // base-only build; the 20% arrivals land between micro-batches
    val arrF = pmod(xxhash64(col("vec_id"), lit("stale")), lit(5)) === 0L
    val base = e.where(!arrF)
    val path = java.nio.file.Files
      .createTempDirectory("graft_idx_stream").toString
    S.writeIvfAdcIndexOf(spark, base, S.ivfCellsFor(base.count()),
      path, key = path)
    val n = e.count()
    val nlist = S.ivfCellsFor(n)
    val np = S.ivfProbesFor(nlist)
    val rr = S.pqRerankFor(n, nlist, np)
    val qs = e.where(col("vec_id") < 5)
      .select(col("vec_id"), col("features"))
      .collect()
      .map(r => VecRow(r.getLong(0), r.getSeq[Double](1))).toSeq
    def batchServe(ids: Seq[Long]) = S.serveIvfAdcFromIndex(spark, sfDir,
      path, e.where(col("vec_id").isin(ids: _*))
        .select(col("vec_id"), col("features")), np, rr)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val input = MemoryStream[VecRow]
    val got = scala.collection.mutable.Set[(Long, Int, Long)]()
    val query = S.serveIvfAdcStreamFromIndex(input.toDF(), sfDir, path,
      np, rr) { scored =>
      got.synchronized {
        got ++= scored.collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      }
    }
    try {
      // derive the per-batch id sets from the collected rows — the
      // parquet scan's collect() order is not vec_id order
      val batch1 = qs.take(2)
      val batch2 = qs.drop(2)
      input.addData(batch1)
      query.processAllAvailable()
      assert(got.toSet === batchServe(batch1.map(_.vec_id)),
        "base-only batch")
      // append BETWEEN micro-batches: the next batch must see the
      // delta with no restart (parquet re-lists files per read)
      S.appendToIvfAdcIndex(spark, path,
        e.where(arrF).select(col("vec_id"), col("features")))
      got.clear()
      input.addData(batch2)
      query.processAllAvailable()
      assert(got.toSet === batchServe(batch2.map(_.vec_id)),
        "base+delta batch")
      assert(got.size === 15)
    } finally query.stop()
  }

  test("streaming quality gate converges to the batch verdict histogram") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => TextRow(r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[TextRow]
    // the SAME withQualityVerdict transform t7 runs in batch — the
    // verdict is a stateless per-row expression, so it streams as-is
    val query = graft.functions.TextAnalysis
      .withQualityVerdict(input.toDF().withColumn("toks",
        graft.functions.TextAnalysis.tokensCol(col("text"))))
      .groupBy(col("verdict")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("gate_out")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(docs.take(docs.length / 2))
      query.processAllAvailable()
      input.addData(docs.drop(docs.length / 2))
      query.processAllAvailable()
      val got = spark.table("gate_out").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val want = graft.functions.TextAnalysis
        .withQualityVerdict(docs.toDF("doc_id", "text").withColumn("toks",
          graft.functions.TextAnalysis.tokensCol(col("text"))))
        .groupBy(col("verdict")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got === want)
      assert(got.values.sum == docs.length)
    } finally query.stop()
  }

  test("streaming centroid assignment converges to the batch c3 histogram") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // online clustering serving: vectors arrive, the TRAINED centroids
    // ride into the plan as literals (the same c1 assignStruct — a
    // stateless codegen'd argmin, so it streams as-is with no state
    // store), and a Complete-mode agg keeps the live c3 occupancy
    // histogram — the clustering-family face of the e1/t7 twin pattern
    val cs = graft.operators.Clustering.centers(spark, sfDir)
    val pts = Tables.labeledPoints(spark, sfDir)
      .select(col("id"), col("features"))
      .collect().map(r => PtRow(r.getLong(0), r.getSeq[Double](1))).toSeq
    val input = MemoryStream[PtRow]
    val query = input.toDF()
      .withColumn("a",
        graft.operators.Clustering.assignStruct(col("features"), cs))
      .groupBy(col("a.cluster").as("cluster"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("assign_out")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(pts.take(pts.length / 2))
      query.processAllAvailable()
      input.addData(pts.drop(pts.length / 2))
      query.processAllAvailable()
      val got = spark.table("assign_out").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap
      val want = graft.operators.Clustering.c3ClusterHist(spark, sfDir)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(got === want)
      assert(got.values.sum == pts.length)
    } finally query.stop()
  }

  test("streaming exact dedup admits each content exactly once across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TextRow]
    val query = graft.functions.Dedup.streamingExactDedup(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // batch 1: three distinct contents
      input.addData(Seq(TextRow(1, "alpha beta"), TextRow(2, "gamma"),
        TextRow(3, "delta eps")))
      query.processAllAvailable()
      val afterOne = spark.table("dedup_out").collect()
        .map(_.getString(1)).toSet
      assert(afterOne === Set("alpha beta", "gamma", "delta eps"))
      // batch 2: two replays of earlier contents + one new — only the
      // new content may pass (cross-trigger state remembers the hashes)
      input.addData(Seq(TextRow(4, "alpha beta"), TextRow(5, "gamma"),
        TextRow(6, "zeta")))
      query.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      assert(rows.map(_._2).toSet === Set("alpha beta", "gamma",
        "delta eps", "zeta"))
      assert(rows.length === 4, "a replayed content leaked through")
      // first-arrival-wins: the survivors are the batch-1 doc ids + 6
      assert(rows.map(_._1).toSet === Set(1L, 2L, 3L, 6L))
    } finally query.stop()
  }

  test("streaming incremental dedup against the frozen store matches batch d11") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // d11's serving twin: arriving crawl batches assigned per
    // micro-batch against the immutable corpus store by the exact
    // batch plan (foreachBatch — the candidate semi-join prunes the
    // corpus scan per batch). Batches are independent given the frozen
    // store, so the union over micro-batches must equal the one-shot
    // batch assignment.
    val delta = Tables.documents(spark, sfDir)
      .where(pmod(col("doc_id"), lit(graft.functions.Dedup.DeltaMod))
        === graft.functions.Dedup.DeltaResidue)
      .select(col("doc_id"), col("text"))
      .collect().map(r => TextRow(r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[TextRow]
    val got = scala.collection.mutable.Set[(Long, Long, Long)]()
    val query = graft.functions.Dedup.assignStream(input.toDF(), sfDir) {
      assigned => got.synchronized {
        got ++= assigned.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
    }
    try {
      input.addData(delta.take(delta.length / 2))
      query.processAllAvailable()
      input.addData(delta.drop(delta.length / 2))
      query.processAllAvailable()
      val want = graft.functions.Dedup.d11IncrementalDedup(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got.toSet === want)
      assert(got.size === delta.length)
    } finally query.stop()
  }

  test("streaming binned range join matches the batch join") {
    // the binned point-in-interval join is a plain equi-join on the bin
    // key plus filters, so it runs unchanged as a stream-static join —
    // no watermark needed (the static side is bounded, state-free)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val staticEvents = Tables.events(spark, sfDir)
    val campaigns = graft.operators.RangeJoin.campaignsOf(staticEvents)
    val binUs = 12L * 3600 * 1000000
    val input = MemoryStream[Ev]
    val joined = graft.operators.RangeJoin.binnedPointInterval(
      input.toDF().select(col("ts"), col("user_id"), col("value")),
      "ts", campaigns, "start_ts", "end_ts", binUs)
      .select(col("user_id"), col("ts"), col("campaign_day"))
    val query = joined.writeStream
      .format("memory").queryName("range_join_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      val rows = eventRows()
      input.addData(rows.take(rows.length / 2))
      query.processAllAvailable()
      input.addData(rows.drop(rows.length / 2))
      query.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getTimestamp(1).getTime, r.getDate(2).toString)
      val got = spark.table("range_join_out").collect().map(key).sorted
      val want = graft.operators.RangeJoin.binnedPointInterval(
        staticEvents.select(col("ts"), col("user_id"), col("value")),
        "ts", campaigns, "start_ts", "end_ts", binUs)
        .select(col("user_id"), col("ts"), col("campaign_day"))
        .collect().map(key).sorted
      assert(want.nonEmpty && got.toSeq === want.toSeq)
    } finally query.stop()
  }
}
