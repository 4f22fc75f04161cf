package graft.functions

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sources.Tables

/** p7 learned quality scoring: the serving path (weights table + SQL
  * hash bucketing) must replay the fitted MLlib model EXACTLY, the
  * model must actually learn its teacher, and the whole chain must be
  * deterministic — the checks that replace a SQL oracle for the
  * trained family.
  */
class QualitySpec extends AnyFunSuite with SparkTestBase {

  test("serving parity: the weights-table plan replays model.transform") {
    // the load-bearing equivalence: the per-token weight sum over the
    // broadcast table must equal the count-vector dot product MLlib
    // inference computes over the SAME features — scores from the two
    // paths agree to fp noise (this spec is what caught the original
    // HashingTF-vs-functions.hash bucket mismatch)
    val m = QualityModel.fitModel(spark, sfDir)
    val viaModel = m.transform(QualityModel.featurized(spark, sfDir))
      .select(col("doc_id"),
        element_at(vector_to_array(col("probability")), 2).as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (w, b) = QualityModel.weights(spark, sfDir)
    val served = QualityModel.scoreDocs(
        Tables.documents(spark, sfDir), w, b)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(served.keySet === viaModel.keySet)
    served.foreach { case (doc, q) =>
      assert(math.abs(q - viaModel(doc)) < 2e-6,
        s"doc $doc served $q vs model ${viaModel(doc)}")
    }
  }

  test("micro-nat served face is bounded against the full-precision plan") {
    // p7 serves the PERSISTED token-keyed micro-nat table (the oracle's
    // face); quantization error per token ≤ 0.5e-6 nats, so a doc of T
    // tokens drifts ≤ (T+1)·0.5e-6 in z and ≤ a quarter of that in
    // probability. The bound proves the served artifact is the SAME
    // model, not a retrain — any featurization/bucket skew would show
    // up as O(0.1) jumps, exactly what the scoreDocs parity test pins.
    val (w, b) = QualityModel.weights(spark, sfDir)
    val full = QualityModel.scoreDocs(
        Tables.documents(spark, sfDir), w, b)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val micro = QualityModel.queries("p7_quality_score")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val maxToks = Tables.documents(spark, sfDir)
      .select(max(size(graft.functions.TextAnalysis.tokensCol(col("text")))))
      .collect()(0).getInt(0)
    val bound = (maxToks + 1) * 0.5e-6 * 0.25 + 1e-6 // + the round(6) grid
    assert(micro.keySet === full.keySet)
    micro.foreach { case (doc, q) =>
      assert(math.abs(q - full(doc)) <= bound,
        s"doc $doc micro $q vs full ${full(doc)} (bound $bound)")
    }
  }

  test("the model learns its teacher beyond the base rate") {
    val labels = QualityModel.labeled(spark, sfDir)
      .select(col("doc_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val scores = QualityModel.queries("p7_quality_score")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val n = labels.size
    val base = math.max(labels.values.sum, n - labels.values.sum) / n
    val acc = labels.count { case (doc, y) =>
      (scores(doc) >= 0.5) == (y == 1.0) }.toDouble / n
    info(f"teacher accuracy $acc%.3f vs base rate $base%.3f (n=$n)")
    // the fixture corpus has 31 distinct tokens, so a bag-of-unigrams
    // linear model can only partially encode the teacher's length/ratio
    // rules — 0.712 vs base 0.592 measured; the spec pins LEARNING
    // (beats majority by ≥ 5 points), not a vocabulary-starved ceiling
    assert(acc >= base + 0.05,
      "a learned boundary must beat always-predict-majority")
    assert(acc >= 0.65, "measured floor on the fixture (0.712)")
  }

  test("scores are probabilities; degenerate docs score finitely") {
    import spark.implicits._
    val (w, b) = QualityModel.weights(spark, sfDir)
    val out = QualityModel.scoreDocs(
        Seq((1L, ""), (2L, "the of and in to is on a the of"),
          (3L, "zzzz qqqq xxxx")).toDF("doc_id", "text"), w, b)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out.values.foreach(q => assert(q >= 0.0 && q <= 1.0 && !q.isNaN))
    assert(out.size === 3)
  }

  test("deterministic end to end (seeded fit, memoized model)") {
    val a = QualityModel.queries("p7_quality_score")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val b = QualityModel.queries("p7_quality_score")(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(a === b)
    val path = s"${Similarity.artifactRoot(sfDir)}/p7_model"
    assert(jobsDuring(QualityModel.writeServedModel(spark, sfDir, path))
      === 0, "serving wrote the model; writing it again is a memo hit")
  }
}
