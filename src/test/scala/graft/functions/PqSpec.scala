package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sources.Tables

/** s8 product quantization: code-table invariants, the self-encoding
  * fixed point of the first-vectors codebook, and the measured recall
  * ordering first-vectors < trained < trained+rerank that justifies the
  * production build (the coarseCentroids trained-quantizer story, PQ
  * edition).
  */
class PqSpec extends AnyFunSuite with SparkTestBase {

  private val M = Similarity.PqSubspaces
  private val Ksub = Similarity.PqCodewords

  test("s8 shape: top-5 per query, scores non-decreasing within a query") {
    val rows = Similarity.queries("s8_ann_pq")(spark, sfDir).collect()
    assert(rows.length === 25, "5 queries x top-5")
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq === (1 to 5))
      val scores = byRank.map(_.getDouble(3)).toSeq
      assert(scores === scores.sorted, "ADC must rank ascending")
    }
  }

  test("codes: M per vector, every code a valid codeword id") {
    val cb = Tables.embeddings(spark, sfDir).where(col("vec_id") < Ksub)
    assert(cb.count() === Ksub, "fixture must cover the codebook")
    val codes = Similarity.pqCodes(spark, sfDir,
      Similarity.pqCodebookOf(spark, sfDir, trained = false)).collect()
    assert(codes.length ===
      Tables.embeddings(spark, sfDir).count())
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length === M)
      assert(cs.forall(c => c >= 1 && c <= Ksub), s"code out of range: $r")
    }
  }

  test("first-vectors codebook: codebook vectors self-encode at distance 0") {
    // vector j−1 IS codeword j in every subspace, so its per-subspace
    // argmin must land on a zero-distance codeword (itself, or a
    // lower-id duplicate also at distance 0) — the reconstruction of a
    // codebook vector from its codes is exact
    val d = Similarity.PqSubDim
    val feats = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < Ksub).select(col("vec_id"), col("features"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .toMap
    val codes = Similarity.pqCodes(spark, sfDir,
      Similarity.pqCodebookOf(spark, sfDir, trained = false))
      .where(col("vec_id") < Ksub).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.size === Ksub)
    codes.foreach { case (v, cs) =>
      (1 to M).foreach { m =>
        val sv = feats(v).slice((m - 1) * d, m * d)
        val cv = feats((cs(m - 1) - 1).toLong).slice((m - 1) * d, m * d)
        val dist = sv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum
        assert(dist === 0.0, s"vec $v subspace $m encoded off itself")
      }
    }
  }

  test("rerank is the recall lever: monotone in budget, near-exact at 100") {
    // The fixture pins the HONEST PQ story, not a flattering one: its
    // exact neighbor distances are nearly FLAT (top-10 within ~5% of
    // each other) while 16-codeword quantization noise is of the same
    // order as the gaps, so raw ADC ranking is weak for EITHER codebook
    // (measured ~0.1–0.3; trained-vs-first differences are noise at 25
    // hit slots). What PQ buys at scale is the 32×-compressed SHORTLIST
    // scan; exactness comes from reranking it — recall is monotone in
    // the shortlist size BY CONSTRUCTION (a larger shortlist is a
    // superset, exactly reranked), and a 100-of-500 shortlist already
    // reads 0.96 here.
    val q = Tables.embeddings(spark, sfDir).where(col("vec_id") < 5)
    val curve = Similarity.pqRecallCurve(spark, sfDir, q,
      Seq((false, 0), (false, 50), (false, 100), (true, 100))).toMap
    info(s"pq recall plain=${curve((false, 0))} rr50=${curve((false, 50))} " +
      s"rr100=${curve((false, 100))} trained+rr100=${curve((true, 100))}")
    assert(curve((false, 50)) >= curve((false, 0)),
      "reranking an ADC shortlist must not lose to raw ADC")
    assert(curve((false, 100)) >= curve((false, 50)),
      "recall must be monotone in the rerank budget (superset rerank)")
    assert(curve((false, 100)) >= 0.9,
      "a 100-candidate rerank must be near-exact on the fixture")
    // 0.88 measured — at this corpus's flat distance profile the two
    // codebooks land within noise of each other at equal rerank budget
    assert(curve((true, 100)) >= 0.85,
      "the trained codebook path must stay within noise of first-vectors")
  }

  test("ivfadc: recall composes as pruning ceiling × shortlist quality") {
    // The fixture is a HARD case for the whole IVF family: its
    // near-uniform geometry scatters even a corpus member's true
    // neighbors across cells (exact-distance recall inside the probed
    // cells — the pruning CEILING — is 0.8 at np = 4 of 10), and weak
    // cells mean residuals span nearly the data range, so residual
    // codewords rank no better than flat ones here (the clustered
    // decade fixtures are where residual coding pays — measured in
    // scale_pq.json). What holds STRUCTURALLY, and is pinned here:
    // any shortlist method's hits nest inside exact-over-probed-members
    // (a global-top-5 item among the candidates always survives an
    // exact rerank), so reranked IVFADC can approach but never exceed
    // the ceiling; rerank never loses to raw ADC; and the measured
    // serving floors hold.
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where(col("vec_id") < 5)
    val nlist = Similarity.ivfCellsFor(e.count())
    val np = Similarity.ivfProbesFor(nlist)
    val ceiling = Similarity.ivfRecallCurve(spark, sfDir, q, Seq(np),
      trained = true).head._2
    val curve = Similarity.ivfAdcRecallCurve(spark, sfDir, q,
      Seq((np, 0), (np, 50), (nlist, 100))).toMap
    info(s"ivfadc np=$np adc=${curve((np, 0))} rr50=${curve((np, 50))} " +
      s"ceiling=$ceiling full-probe rr100=${curve((nlist, 100))}")
    assert(curve((np, 50)) >= curve((np, 0)),
      "rerank of the pruned shortlist must not lose to raw ADC")
    assert(curve((np, 50)) <= ceiling + 1e-9,
      "a shortlist method cannot beat exact ranking over the same cells")
    assert(curve((np, 50)) >= 0.5, "measured serving floor (0.6)")
    assert(curve((nlist, 100)) >= 0.75,
      "full-probe + rerank-100 floor (measured 0.84)")
  }

  test("persisted index serves row-identically to the in-memory ranking") {
    // build → write three parquet tables → serve from disk: the
    // production contract (index built once on the cluster, served
    // from storage). Doubles round-trip parquet bit-exactly, so the
    // served rows must equal s9's — same ranking plan, frames swapped.
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfadc_idx").toString
    Similarity.writeIvfAdcIndex(spark, sfDir, path)
    assert(jobsDuring(Similarity.writeIvfAdcIndex(spark, sfDir, path)) === 0,
      "a repeated write of the same (dir, path) is a memo hit")
    val e = Tables.embeddings(spark, sfDir)
    val n = e.count()
    val nlist = Similarity.ivfCellsFor(n)
    val np = Similarity.ivfProbesFor(nlist)
    val rr = Similarity.pqRerankFor(n, nlist, np)
    // the full output tuple INCLUDING the rounded score — the claim is
    // row-identical serving, so score drift through the parquet round
    // trip (or a tie-break change) must fail this assert (ADVICE r11)
    val served = Similarity.serveIvfAdcFromIndex(spark, sfDir, path,
      e.where(col("vec_id") < 5).select(col("vec_id"), col("features")),
      np, rr)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val inMem = Similarity.s9AnnIvfAdc(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(served === inMem)
    assert(served.size === 25)
    // the persisted shape: codes is the only corpus-sized table
    assert(spark.read.parquet(s"$path/codes").count() === n)
    assert(spark.read.parquet(s"$path/centroids").count() === nlist.toLong)
    assert(spark.read.parquet(s"$path/codebook").count() ===
      Similarity.PqSubspaces.toLong * Similarity.PqCodewords)
  }

  test("incremental append: frozen-quantizer codes equal a rebuild") {
    val e = Tables.embeddings(spark, sfDir)
    // deterministic hash split: ~20% of the corpus arrives AFTER the
    // index is built (quantizers never see it)
    val arrF = pmod(xxhash64(col("vec_id"), lit("stale")), lit(5)) === 0L
    val base = e.where(!arrF)
    val arrivals = e.where(arrF).select(col("vec_id"), col("features"))
    val (nb, na) = (base.count(), arrivals.count())
    assert(nb > 0 && na > 0)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfadc_inc").toString
    Similarity.writeIvfAdcIndexOf(spark, base,
      Similarity.ivfCellsFor(nb), path, key = path)
    assert(spark.read.parquet(s"$path/codes").count() === nb)
    Similarity.appendToIvfAdcIndex(spark, path, arrivals)
    def codeRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
      .toSet
    val appended = codeRows(spark.read.parquet(s"$path/codes"))
    assert(appended.size.toLong === nb + na)
    // the parity law: base-build codes ∪ appended arrival codes must
    // equal encoding the FULL corpus under the same frozen quantizers
    // — appending loses nothing and re-encodes nothing differently
    val rebuilt = codeRows(Similarity.encodeAgainstIndex(spark, path,
      e.select(col("vec_id"), col("features"))))
    assert(appended === rebuilt)
    // and serving from the appended index is whole: corpus queries get
    // full top-5 lists over base + delta with no plan change
    val n = e.count()
    val nlist = Similarity.ivfCellsFor(n)
    val np = Similarity.ivfProbesFor(nlist)
    val served = Similarity.serveIvfAdcFromIndex(spark, sfDir, path,
      e.where(col("vec_id") < 5).select(col("vec_id"), col("features")),
      np, Similarity.pqRerankFor(n, nlist, np))
      .collect()
    assert(served.length === 25)
    // arrivals are REACHABLE: at least one served neighbor is a vector
    // the base build never saw (deterministic fixture — no flake)
    val arrIds = arrivals.select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(served.exists(r => arrIds.contains(r.getLong(2))),
      "no appended vector ever served — the delta is invisible")
  }

  test("trained path is deterministic (memoized seeded k-means)") {
    val q = Tables.embeddings(spark, sfDir).where(col("vec_id") < 3)
    val a = Similarity.pqRankedQueries(spark, sfDir, q, trained = true)
      .collect().map(_.toString).sorted
    val b = Similarity.pqRankedQueries(spark, sfDir, q, trained = true)
      .collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
  }
}
