package graft.mopso

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Linalg

/** The fitness kernel vs a naive transliteration of the reference's
  * Dev/Conn (MOPSO_Single.scala:1061-1088 / Spark_MOPSO_Avg.scala:
  * 1030-1063): the engine's bounded-insertion neighbor lists and fused
  * assignment must reproduce the O(n²)-sort formulation exactly, ties
  * included.
  */
class FitnessKernelSpec extends AnyFunSuite {

  /** Direct transliteration of reference Conn (stable sortBy + take(L)). */
  private def refConn(points: Array[Array[Double]], clusters: Array[Int],
      l: Int): Double = {
    var result = 0.0
    for (i <- points.indices) {
      val distances = new ArrayBuffer[(Int, Double)]()
      for (j <- points.indices if i != j)
        distances += ((clusters(j), Linalg.euclid(points(i), points(j))))
      val nn = distances.sortBy(_._2).take(l)
      for (index <- nn.indices)
        if (clusters(i) == nn(index)._1) result += 1.0 / (index + 1)
    }
    result
  }

  /** The plain full scan in id order: first strict minimum, starting
    * from (cluster 1, Double.MaxValue).
    */
  private def refAssign(points: Array[Array[Double]],
      centers: Array[Array[Double]]): (Array[Int], Double) = {
    var dev = 0.0
    val ks = points.map { p =>
      var bestK = 1
      var bestD = Double.MaxValue
      for (k <- centers.indices) {
        val d = Linalg.euclid(p, centers(k))
        if (d < bestD) { bestD = d; bestK = k + 1 }
      }
      dev += bestD
      bestK
    }
    (ks, dev)
  }

  private def randomPoints(n: Int, f: Int, rng: Random) =
    Array.fill(n)(Array.fill(f)(rng.nextDouble() * 10))

  test("assignment matches the minBy formulation, 1-based ties to lower id") {
    val rng = new Random(11)
    val pts = randomPoints(200, 5, rng)
    val centers = randomPoints(4, 5, rng)
    val (got, dev) = FitnessKernel.assign(pts, centers)
    val best = pts.map(p => centers.indices.map(k =>
      (k + 1, Linalg.euclid(p, centers(k)))).minBy(_._2))
    assert(got.sameElements(best.map(_._1)))
    assert(math.abs(dev - best.map(_._2).sum) < 1e-9)
  }

  test("assignment tie-break: equidistant centers pick the lower cluster id") {
    val pts = Array(Array(0.0, 0.0))
    val centers = Array(Array(1.0, 0.0), Array(-1.0, 0.0)) // both dist 1
    val (ks, _) = FitnessKernel.assign(pts, centers)
    assert(ks(0) === 1)
  }

  test("devConn matches the reference transliteration on random data") {
    val rng = new Random(23)
    val pts = randomPoints(150, 4, rng)
    val centers = randomPoints(5, 4, rng)
    val nbrs = FitnessKernel.buildNeighbors(pts, 10)
    val (clusters, _) = FitnessKernel.assign(pts, centers)
    val (_, conn) =
      FitnessKernel.devConn(PartData(pts, nbrs), centers, 10)
    assert(math.abs(conn - refConn(pts, clusters, 10)) < 1e-9)
  }

  test("Conn with L > 10 is bit-identical to the reference, both kernels") {
    val rng = new Random(47)
    val l = 23
    val centers = randomPoints(3, 4, rng)
    val pts = Array.fill(90)(
      centers(rng.nextInt(3)).map(_ + rng.nextGaussian()))
    val nbrs = FitnessKernel.buildNeighbors(pts, l)
    val (clusters, _) = FitnessKernel.assign(pts, centers)
    val (_, conn) = FitnessKernel.devConn(PartData(pts, nbrs), centers, l)
    assert(bits(conn) === bits(refConn(pts, clusters, l)))
    // the row kernel: per-row terms from the same weight table
    val search = new CenterSearch(centers)
    val weights = FitnessKernel.rankWeights(l)
    assert(weights.length === l)
    for (i <- pts.indices) {
      val (own, _, rowConn) = FitnessKernel.rowPartial(pts(i),
        nbrs(i).map(pts(_)), search, weights, 1)
      var want = 0.0
      for (idx <- nbrs(i).indices if clusters(nbrs(i)(idx)) == own)
        want += 1.0 / (idx + 1)
      assert(own === clusters(i))
      assert(bits(rowConn) === bits(want), s"row $i")
    }
  }

  test("neighbor lists stable under duplicate distances") {
    // a grid with many exactly-equal pair distances
    val pts = (for (x <- 0 until 5; y <- 0 until 5)
      yield Array(x.toDouble, y.toDouble)).toArray
    val nbrs = FitnessKernel.buildNeighbors(pts, 8)
    // reference ranking for point i: stable sort by (dist), insertion order j
    for (i <- pts.indices) {
      val ref = pts.indices.filter(_ != i)
        .map(j => (j, Linalg.euclid(pts(i), pts(j))))
        .sortBy(_._2).take(8).map(_._1) // Seq#sortBy is stable
      assert(nbrs(i).toSeq === ref,
        s"neighbor mismatch at point $i")
    }
  }

  test("partition partial scales by rate") {
    val rng = new Random(31)
    val pts = randomPoints(60, 3, rng)
    val centers = randomPoints(3, 3, rng)
    val pd = PartData(pts, FitnessKernel.buildNeighbors(pts, 10))
    val (dev, conn) = FitnessKernel.devConn(pd, centers, 10)
    val (sdev, sconn) = FitnessKernel.partitionPartial(pd, centers, 10, 240)
    assert(math.abs(sdev - dev * 60.0 / 240) < 1e-12)
    assert(math.abs(sconn - conn * 60.0 / 240) < 1e-12)
  }

  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  /** One property case: points, centers, L. Families cycle with the case
    * index; every fifth case has K = 1.
    */
  private def propertyCase(c: Int): (Array[Array[Double]], Array[Array[Double]], Int) = {
    val rng = new Random(1000L + c)
    val f = 1 + rng.nextInt(20)
    val k = if (c % 5 == 0) 1 else 2 + rng.nextInt(7)
    val n = 1 + rng.nextInt(60)
    def grid(m: Int, scale: Double) =
      Array.fill(m)(Array.fill(f)(rng.nextInt(4) * scale))
    val (pts, centers) = c % 7 match {
      case 0 => // uniform
        (randomPoints(n, f, rng), randomPoints(k, f, rng))
      case 1 => // well-separated blobs
        val cs = Array.fill(k)(Array.fill(f)(rng.nextDouble() * 1000))
        (Array.fill(n)(cs(rng.nextInt(k)).map(_ + rng.nextGaussian())), cs)
      case 2 => // integer grid: many exact ties and duplicate centers
        (grid(n, 1.0), grid(k, 1.0))
      case 3 => // points on centers, one center duplicated
        val cs = randomPoints(k, f, rng)
        if (k > 1) cs(rng.nextInt(k)) = cs(rng.nextInt(k)).clone()
        (Array.fill(n)(
          if (rng.nextBoolean()) cs(rng.nextInt(k)).clone()
          else Array.fill(f)(rng.nextDouble() * 10)), cs)
      case 4 => // NaN and +∞ coordinates, in points and now and then centers
        def poison(a: Array[Double], p: Double) = {
          if (rng.nextDouble() < p) a(rng.nextInt(f)) =
            if (rng.nextBoolean()) Double.NaN else Double.PositiveInfinity
          a
        }
        (randomPoints(n, f, rng).map(poison(_, 0.3)),
          randomPoints(k, f, rng).map(poison(_, 0.15)))
      case 5 => // midpoints of consecutive centers on a line: ties that
        // only rounding breaks, either way
        val (base, dir) = (randomPoints(1, f, rng)(0), randomPoints(1, f, rng)(0))
        val cs = Array.tabulate(k)(j => Array.tabulate(f)(x => base(x) + j * dir(x)))
        (Array.fill(n) {
          val j = rng.nextInt(math.max(k - 1, 1))
          val (a, b) = (cs(j), cs(math.min(j + 1, k - 1)))
          Array.tabulate(f)(x => (a(x) + b(x)) / 2)
        }, cs)
      case _ => // grids at overflow and subnormal scales
        val scale = Array(1e154, 1e-160, 1e-162)(rng.nextInt(3))
        (grid(n, scale), grid(k, scale))
    }
    (pts, centers, 1 + c % 10)
  }

  test("pruned search is bit-identical to the full scan: 240 cases") {
    for (c <- 0 until 240) {
      val (pts, centers, l) = propertyCase(c)
      val (want, wantDev) = refAssign(pts, centers)
      val nbrs = FitnessKernel.buildNeighbors(pts, l)
      // neighbor-seeded (devConn's path) and previous-point-seeded
      for (lists <- Seq(nbrs, Array.empty[Array[Int]])) {
        val (got, dev) = FitnessKernel.assign(pts, centers, lists)
        assert(got.sameElements(want), s"case $c: clusters differ")
        assert(bits(dev) === bits(wantDev), s"case $c: Dev $dev vs $wantDev")
      }
      val (dev, conn) = FitnessKernel.devConn(PartData(pts, nbrs), centers, l)
      assert(bits(dev) === bits(wantDev), s"case $c: devConn Dev")
      if (pts.forall(_.forall(_.isFinite)))
        assert(bits(conn) === bits(refConn(pts, want, l)), s"case $c: Conn")
      // every starting guess reaches the same center and distance
      val search = new CenterSearch(centers)
      for (i <- pts.indices; g <- 1 to centers.length) {
        assert(search.nearest(pts(i), g) === want(i), s"case $c pt $i guess $g")
        assert(bits(search.dist) ===
          bits(Linalg.euclid(pts(i), centers(want(i) - 1))) ||
          want(i) == 1 && search.dist == Double.MaxValue)
      }
    }
  }

  test("a higher-id guess equidistant with a lower id resolves to the lower") {
    val cases = Seq(
      1.0 -> "unit scale",
      // center-to-center distance overflows to ∞: proves nothing, no skip
      1e154 -> "overflow scale",
      // point-to-center squares underflow to 0 while the center-to-center
      // square rounds up to a subnormal
      1e-162 -> "subnormal scale")
    for ((s, what) <- cases) {
      val search = new CenterSearch(Array(Array(s, 0.0), Array(-s, 0.0)))
      assert(search.nearest(Array(0.0, 0.0), 2) === 1, what)
      assert(search.nearest(Array(0.0, 0.0), 1) === 1, what)
    }
  }

  test("non-finite points keep the full scan's answer: cluster 1 at MaxValue") {
    val search = new CenterSearch(Array(Array(0.0), Array(1.0), Array(2.0)))
    for (x <- Seq(Double.NaN, Double.PositiveInfinity); g <- 1 to 3) {
      assert(search.nearest(Array(x), g) === 1)
      assert(search.dist === Double.MaxValue)
    }
  }
}
