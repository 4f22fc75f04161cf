package graft.mopso

import graft.core.Linalg

/** Immutable per-partition evaluation state: the partition's points plus
  * each point's L nearest neighbors WITHIN the partition.
  *
  * The reference recomputes the full O(n²) all-pairs distance matrix inside
  * `Conn` for EVERY particle in EVERY iteration
  * (Spark_MOPSO_Avg.scala:1036-1063 called from :843-865) — but the
  * neighbor ranking depends only on the points, never on the particle. So
  * the engine computes neighbor lists ONCE per partition and reuses them
  * across all 50 particles × all iterations: O(n²F) once instead of
  * O(n²F · particles · iters). Purely physical — the ranking (including the
  * reference's stable-sort tie order: ascending scan index for equal
  * distances, Spark_MOPSO_Avg.scala:1048-1050) is identical.
  */
final case class PartData(
    points: Array[Array[Double]],
    neighbors: Array[Array[Int]]) extends Serializable

object FitnessKernel {

  /** Top-L neighbor indices per point via bounded insertion (O(n·L) state
    * per point instead of a full sort). Stability contract: for equal
    * distances the LOWER scan index ranks first — exactly what the
    * reference's stable `sortBy(_._2)` over an ascending-j buffer yields.
    */
  def buildNeighbors(points: Array[Array[Double]], l: Int): Array[Array[Int]] = {
    val n = points.length
    val out = new Array[Array[Int]](n)
    var i = 0
    while (i < n) {
      val cap = math.min(l, math.max(n - 1, 0))
      val bestDist = new Array[Double](cap)
      val bestIdx = new Array[Int](cap)
      var count = 0
      var j = 0
      while (j < n) {
        if (j != i) {
          val d = Linalg.euclid(points(i), points(j))
          // grow while under capacity; once full, only a STRICTLY smaller
          // distance evicts the worst (ties keep the earlier j — matching
          // the reference's stable sortBy + take(L))
          if (count < cap || (cap > 0 && d < bestDist(cap - 1))) {
            var pos = math.min(count, cap - 1)
            while (pos > 0 && bestDist(pos - 1) > d) pos -= 1
            var m = math.min(count, cap - 1)
            while (m > pos) {
              bestDist(m) = bestDist(m - 1); bestIdx(m) = bestIdx(m - 1)
              m -= 1
            }
            bestDist(pos) = d
            bestIdx(pos) = j
            if (count < cap) count += 1
          }
        }
        j += 1
      }
      out(i) = bestIdx.take(count)
      i += 1
    }
    out
  }

  /** Nearest-centroid assignment (calKmeans / calPartitionKmeans,
    * Spark_MOPSO_Avg.scala:660-675): 1-based cluster ids, ties toward the
    * lower id. Returns (cluster per point, Dev summed in point order).
    *
    * One [[CenterSearch]] table serves every point. A point's search
    * starts at the cluster of its first already-assigned neighbor in
    * `neighbors` (lists are rank-ordered, so that is the nearest one),
    * else at the previous point's cluster. `neighbors` may be shorter than
    * `points`, or empty when the caller has no lists.
    */
  def assign(points: Array[Array[Double]], centers: Array[Array[Double]],
      neighbors: Array[Array[Int]] = Array.empty): (Array[Int], Double) = {
    val search = new CenterSearch(centers)
    val n = points.length
    val clusters = new Array[Int](n)
    var dev = 0.0
    var guess = 1
    var i = 0
    while (i < n) {
      if (i < neighbors.length) {
        val nbr = neighbors(i)
        var idx = 0
        while (idx < nbr.length && nbr(idx) > i) idx += 1
        if (idx < nbr.length) guess = clusters(nbr(idx))
      }
      guess = search.nearest(points(i), guess)
      clusters(i) = guess
      dev += search.dist
      i += 1
    }
    (clusters, dev)
  }

  /** One row's (dev, conn) terms from its own features plus its neighbor
    * FEATURES in ascending rank order — per-row bit-identical to the
    * terms [[devConn]] accumulates, enabling a fully distributed exact
    * global evaluation with no driver collect (the neighbor's cluster is
    * recomputed from its features instead of looked up in a shared
    * clusters array: redundant compute, zero shuffle). The row's search
    * starts at `guess`; each neighbor's starts at the row's own cluster.
    * `weights` is [[rankWeights]] of L, built once by the caller.
    * Returns the row's cluster too, the next row's natural guess.
    */
  def rowPartial(feat: Array[Double], nbrs: Array[Array[Double]],
      search: CenterSearch, weights: Array[Double],
      guess: Int): (Int, Double, Double) = {
    val own = search.nearest(feat, guess)
    val dev = search.dist
    var conn = 0.0
    val lim = math.min(weights.length, nbrs.length)
    var idx = 0
    while (idx < lim) {
      if (search.nearest(nbrs(idx), own) == own) conn += weights(idx)
      idx += 1
    }
    (own, dev, conn)
  }

  /** Conn's rank weights for L neighbors: entry idx is 1/(idx+1), the very
    * double the reference adds for the neighbor at rank idx.
    */
  def rankWeights(l: Int): Array[Double] =
    Array.tabulate(math.max(l, 0))(idx => 1.0 / (idx + 1))

  /** (Dev, Conn) of one particle over one scope (partition or whole data).
    *
    * Conn (Spark_MOPSO_Avg.scala:1036-1063): for each point, walk its L
    * nearest neighbors; when the neighbor shares the point's cluster add
    * 1/(rank+1) — the reference REWARDS same-cluster neighbors while both
    * objectives are minimized (SURVEY §7.4.2); replicated as written.
    * Reference indexes nn(0..L-1) unguarded and would throw on partitions
    * with ≤ L points; the engine caps at the available neighbor count
    * (documented divergence — only reachable where the reference crashes).
    */
  def devConn(pd: PartData, centers: Array[Array[Double]], l: Int): (Double, Double) = {
    val (clusters, dev) = assign(pd.points, centers, pd.neighbors)
    val weights = rankWeights(l)
    var conn = 0.0
    var i = 0
    while (i < pd.points.length) {
      val nbr = pd.neighbors(i)
      val lim = math.min(weights.length, nbr.length)
      var idx = 0
      while (idx < lim) {
        if (clusters(i) == clusters(nbr(idx))) conn += weights(idx)
        idx += 1
      }
      i += 1
    }
    (dev, conn)
  }

  /** A8 partition partial (calFitnessNew, Spark_MOPSO_Avg.scala:843-865):
    * (Dev·rate, Conn·rate) with rate = n_partition / n_total.
    */
  def partitionPartial(pd: PartData, centers: Array[Array[Double]], l: Int,
      total: Long): (Double, Double) = {
    val (dev, conn) = devConn(pd, centers, l)
    val rate = pd.points.length.toDouble / total
    (dev * rate, conn * rate)
  }
}

/** Exact nearest-center search over one center set, pruned by the
  * triangle inequality (Elkan, "Using the Triangle Inequality to
  * Accelerate k-Means", ICML 2003). The K×K center-distance table is
  * built once per center set; [[nearest]] then answers any number of
  * points, each from a starting guess.
  *
  * Skip rule: with the current best center b at computed distance d_b,
  * center c is skipped when
  * {{{  d(b, c) − 1e-150 > 2·d_b·m,   m = 1 + max(1e-12, F·1e-15)  }}}
  * and d(b, c) is finite. In exact arithmetic d(x, c) ≥ d(b, c) − d(x, b)
  * > d_b, so c can neither win nor tie. The test is strict and the
  * margins absorb rounding: a computed F-term distance is within a
  * relative (F/2 + 2)·2^-53 of the true one, and three such errors enter
  * the bound, far below m − 1; underflow of squared differences to
  * subnormals adds at most √F·2^-537 absolute error per distance,
  * far below the 1e-150 slack. An overflowed table entry (∞) proves
  * nothing and never skips; a NaN entry compares false and never skips.
  *
  * Result rule, identical to a full scan in id order that keeps the first
  * strict minimum from (cluster 1, Double.MaxValue): the state starts
  * there, the guess is measured first, and the remaining centers are
  * visited in id order, a candidate replacing the best when its distance
  * is smaller or equal with a lower id. The outcome is the least (distance,
  * id) pair, which no visiting order changes, and a skipped center is
  * never that pair. NaN distances never compare smaller; ∞ and MaxValue
  * never beat the start state, so non-finite inputs still answer
  * (1, Double.MaxValue). The reported distance is the winner's
  * [[graft.core.Linalg.euclid]] value, so Dev sums are bit-identical.
  *
  * Not thread-safe ([[dist]] holds the last answer): one per task.
  */
final class CenterSearch(centers: Array[Array[Double]]) {
  private[this] val k = centers.length

  /** half(b)(c): the largest d_b for which d(b, c) still skips c. */
  private[this] val half: Array[Array[Double]] = {
    val f = if (k == 0) 0 else centers(0).length
    val twoM = 2.0 * (1.0 + math.max(1e-12, f * 1e-15))
    Array.tabulate(k, k) { (b, c) =>
      val d = Linalg.euclid(centers(b), centers(c))
      if (d == Double.PositiveInfinity) 0.0 else (d - 1e-150) / twoM
    }
  }

  private[this] var bestDist = 0.0

  /** Distance from the last [[nearest]] query point to its center. */
  def dist: Double = bestDist

  /** 1-based id of the center nearest to `pt`, searched from the 1-based
    * id `guess` (any valid id gives the same answer).
    */
  def nearest(pt: Array[Double], guess: Int): Int = {
    val g = guess - 1
    var best = 0
    var bestD = Double.MaxValue
    if (g < k) {
      val dg = Linalg.euclid(pt, centers(g))
      if (dg < bestD) { best = g; bestD = dg }
    }
    var c = 0
    while (c < k) {
      if (c != g && !(half(best)(c) > bestD)) {
        val d = Linalg.euclid(pt, centers(c))
        if (d < bestD || (d == bestD && c < best)) { best = c; bestD = d }
      }
      c += 1
    }
    bestDist = bestD
    best + 1
  }
}
