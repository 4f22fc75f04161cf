package graft.mopso

import graft.core.Linalg

/** Driver-side evaluation twins of the reference's post-run analysis
  * (SURVEY §2.11) operating on an [[EvalBlock]] — used by the final-result
  * selection, which the reference also runs on collected data
  * (silhouetteCoefficient collects the RDD, Spark_MOPSO_Avg.scala:618).
  */
object Eval {

  /** Exact mean silhouette (E3, Spark_MOPSO_Avg.scala:606-656): a(i) is
    * the self-INCLUSIVE mean distance to the own cluster; b(i) the min
    * over other clusters' mean distances; s = (b−a)/max(a,b). The
    * reference divides 0/0 for empty clusters (NaN that poisons the sum);
    * the engine skips empty clusters — reachable only where the reference
    * returns NaN.
    */
  def silhouette(block: EvalBlock, centers: Array[Array[Double]]): Double = {
    val (clusters, _) =
      FitnessKernel.assign(block.points, centers, block.neighbors)
    val k = centers.length
    val n = block.points.length
    if (n == 0) return 0.0
    var s = 0.0
    var i = 0
    while (i < n) {
      var aSum = 0.0; var aCnt = 0
      val bSum = new Array[Double](k + 1)
      val bCnt = new Array[Int](k + 1)
      var j = 0
      while (j < n) {
        val d = Linalg.euclid(block.points(i), block.points(j))
        if (clusters(j) == clusters(i)) { aSum += d; aCnt += 1 }
        else { bSum(clusters(j)) += d; bCnt(clusters(j)) += 1 }
        j += 1
      }
      val ai = aSum / aCnt // self-pair included: aCnt ≥ 1
      var bi = Double.MaxValue
      var found = false
      var c = 1
      while (c <= k) {
        if (c != clusters(i) && bCnt(c) > 0) {
          val t = bSum(c) / bCnt(c)
          if (t < bi) { bi = t; found = true }
        }
        c += 1
      }
      // all other clusters empty (degenerate single-cluster entry): the
      // standard definition scores 0 — using the MaxValue sentinel here
      // would score ≈1 and make selectBestBySilhouette PREFER degenerate
      // clusterings (the reference NaN-poisons in this case)
      if (found) s += (bi - ai) / math.max(ai, bi)
      i += 1
    }
    s / n
  }

  /** Simplified silhouette — the bounded O(n·K) twin of [[silhouette]]
    * (distributed face: the oracle-checked c20 query). a(i) = distance to
    * the own (nearest) centroid, b(i) = distance to the second-nearest;
    * s = (b−a)/max(a,b). Points equidistant from everything (max = 0)
    * score 0, matching the exact form's degenerate-case convention.
    */
  def simplifiedSilhouette(block: EvalBlock,
      centers: Array[Array[Double]]): Double = {
    val n = block.points.length
    val k = centers.length
    if (n == 0 || k < 2) return 0.0
    var s = 0.0
    var i = 0
    while (i < n) {
      var a = Double.MaxValue
      var b = Double.MaxValue
      var c = 0
      while (c < k) {
        val d = Linalg.euclid(block.points(i), centers(c))
        if (d < a) { b = a; a = d } else if (d < b) b = d
        c += 1
      }
      val m = math.max(a, b)
      if (m > 0) s += (b - a) / m
      i += 1
    }
    s / n
  }

  /** Distributed simplified silhouette for EVERY archive entry in ONE
    * pass over the (never-collected) dataset — the 100 TB face of the E3
    * final-result selection. Each entry's centroid set rides into the
    * plan as literals (the c20 shape), and all ≤ `repository` scores are
    * map-side-partial aggregates of the same scan: one job, zero
    * shuffles beyond the 1-row aggregate, no dataset collect and no
    * dataset broadcast.
    */
  def simplifiedSilhouetteDf(points: org.apache.spark.sql.DataFrame,
      centerSets: Seq[Array[Array[Double]]]): Array[Double] = {
    import org.apache.spark.sql.functions._
    val aggs = centerSets.zipWithIndex.map { case (cs, i) =>
      // coalesce-guarded like the k≥2 branch: avg over ZERO rows is null
      // and getDouble would NPE on an empty dataset (ADVICE r8)
      if (cs.length < 2) coalesce(avg(lit(0.0)), lit(0.0)).as(s"s$i")
      else {
        val sorted = array_sort(array(cs.zipWithIndex.map { case (vec, ci) =>
          struct(
            graft.core.Linalg.euclidCol(col("features"), typedlit(vec))
              .as("dist"),
            lit(ci).as("c"))
        }: _*))
        val a = element_at(sorted, 1).getField("dist")
        val b = element_at(sorted, 2).getField("dist")
        coalesce(avg(when(greatest(a, b) > lit(0.0),
          (b - a) / greatest(a, b)).otherwise(lit(0.0))), lit(0.0))
          .as(s"s$i")
      }
    }
    val row = points.agg(aggs.head, aggs.tail: _*).head()
    centerSets.indices.map(row.getDouble).toArray
  }

  /** selectBestArchiveAsFinalResult (Spark_MOPSO_Avg.scala:578-602):
    * score every archive entry by mean silhouette, return the scores and
    * the winning centroid set sorted ascending by first coordinate.
    * `simplified = true` (config `silhouetteSimplified`) swaps the exact
    * O(n²) scorer for the O(n·K) [[simplifiedSilhouette]] — the form that
    * stays usable on real data sizes.
    *
    * WHEN THE TWO SCORERS CAN DISAGREE (EvalSpec pins the adversarial
    * case): the exact silhouette is a function of the induced PARTITION
    * only — any two entries assigning every point identically score
    * identically — while the simplified form also scores the centroid
    * GEOMETRY: pushing both centroids outward along their axis preserves
    * the decision boundary (same partition, same exact score) but
    * inflates every point's second-nearest distance b(i), so the
    * simplified scorer strictly prefers the wider entry. On overlapping
    * clusters this reorders partition-EQUIVALENT entries — a tie-break
    * by margin, not a clustering change: the selected partitions remain
    * identical, which is why the swap is sound for E3 selection (the
    * reference's contract is "pick a best clustering", and PSO archives
    * hold converged positions, not adversarially inflated centroids).
    * On well-separated blobs the winners coincide outright (the r7 spec
    * case).
    */
  def selectBestBySilhouette(archive: Array[ArchiveEntry],
      block: EvalBlock,
      simplified: Boolean = false): (Array[Double], Array[Array[Double]]) = {
    val sils =
      if (simplified) archive.map(e => simplifiedSilhouette(block, e.position))
      else archive.map(e => silhouette(block, e.position))
    val best = archive(sils.indexOf(sils.max)).position
    (sils, best.sortBy((c: Array[Double]) => c(0)))
  }

  /** E2 accuracy (getAccuracyRate, Spark_MOPSO_Avg.scala:543-554):
    * fraction of rows whose computed cluster equals the true label —
    * driver twin of the c16 query (which uses count(), not the
    * reference's collect().length).
    */
  def accuracy(trueAndComputed: Array[(Int, Int)]): Double =
    if (trueAndComputed.isEmpty) 0.0
    else trueAndComputed.count(p => p._1 == p._2).toDouble / trueAndComputed.length
}
