package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math, twice: as driver-side Scala (for the small, hot MOPSO control
  * loop — swarm/archive state is ≤65 rows and never worth a Spark job) and as
  * Column expressions built purely from `org.apache.spark.sql.functions`
  * built-ins, so the data-plane operators stay inside whole-stage codegen
  * (no UDF boundary, no serialization).
  *
  * Semantics mirror the reference's scalar kernels
  * (dist: Spark_MOPSO_Avg.scala:1067-1075, weighted variants :1078-1096)
  * without the `Math.pow` in the inner loop.
  */
object Linalg {

  // ---- driver-side kernels -------------------------------------------------

  /** Euclidean distance (reference `dist`, Spark_MOPSO_Avg.scala:1067-1075). */
  def euclid(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Weight vector x/sum(x) (Spark_MOPSO_Avg.scala:1078-1085). */
  def weightsBySum(x: Array[Double]): Array[Double] = {
    val s = x.sum
    if (s == 0.0) x.map(_ => 0.0) else x.map(_ / s)
  }

  /** Weight vector x/avg(x) — the Particle variant's inconsistent twin
    * (Spark_MOPSO_Particle.scala:823-833). Kept distinct on purpose.
    */
  def weightsByAvg(x: Array[Double]): Array[Double] = {
    val m = x.sum / x.length
    if (m == 0.0) x.map(_ => 0.0) else x.map(_ / m)
  }

  /** Weighted Euclidean distance (Spark_MOPSO_Avg.scala:1088-1096):
    * weights derived from `a` by x/sum(x).
    */
  def weightedEuclid(a: Array[Double], b: Array[Double]): Double = {
    val w = weightsBySum(a)
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += w(i) * d * d; i += 1 }
    math.sqrt(s)
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def norm2(a: Array[Double]): Double = math.sqrt(dot(a, a))

  /** NaN on zero-norm input — matching the Column kernels (0/0), so a
    * computation moved between the driver and DataFrame surfaces ranks
    * identically.
    */
  def cosine(a: Array[Double], b: Array[Double]): Double =
    dot(a, b) / (norm2(a) * norm2(b))

  // ---- Column-expression kernels -------------------------------------------
  // Hot paths route to the native codegen expressions
  // (graft.functions.VectorExpressions — allocation-free loop); the
  // built-in zip_with/aggregate formulations are kept as the
  // cross-validation twins (identical fold order → bit-identical results,
  // LinalgColSpec).

  /** Sign-LSH buckets of one point for `numTables` tables of `numPlanes`
    * planes each (table t reads planes t·numPlanes until (t+1)·numPlanes):
    * bit i of table t's bucket is set iff dot(features, plane) > 0. The
    * one shared definition of the hyperplane-sign fold (Similarity s2/s4
    * buckets, the GlobalNeighbors candidate generator, the graph store's
    * signatures), routed through ONE native
    * [[graft.functions.SignBuckets]] expression: the compositional
    * when/dot chain inlines one DotProduct subtree per plane, which stops
    * JIT-compiling past ~64 inlined dots and de-optimizes the whole scan
    * stage ~100× per row (the r16 scan-stage cliff — SCALE.md §r16); the
    * native expression is layout-size-independent and bit-identical
    * (spec-pinned) ON WELL-FORMED vectors.
    *
    * Ragged input (ADVICE r16/r17): the raw native expression maps a
    * dimension-mismatched vector to NULL, the fold-expression family
    * convention, and every bucket consumer (Similarity's band joins,
    * GlobalNeighbors, the graph chain's posexplode) would then silently
    * DROP the row from candidate generation, an unflagged data loss (the
    * composed twin mapped it to bucket 0, colliding corrupt rows into a
    * real bucket). This entry point therefore FAILS LOUDLY on a
    * dimension-mismatched vector (`raise_error` naming both sizes;
    * spec-pinned in LinalgColSpec and PipelineSpec). A NULL vector still
    * maps to NULL: absence is a modeled state, raggedness is corruption.
    */
  def signBucketsCol(features: Column, planes: Seq[Array[Double]],
      numPlanes: Int, numTables: Int): Column = {
    require(planes.nonEmpty && planes.length == numPlanes * numTables,
      s"expected ${numPlanes * numTables} plane rows, got ${planes.length}")
    val dim = planes.head.length
    when(features.isNotNull && size(features) =!= lit(dim),
      raise_error(concat(
        lit(s"signBucketsCol: expected dimension $dim, got "),
        size(features).cast("string"))))
      .otherwise(graft.functions.VectorExpressions
        .signBuckets(features, planes, numPlanes))
  }

  /** The single-table [[signBucketsCol]]: one bucket id over all `planes`. */
  def signBucketCol(features: Column, planes: Seq[Array[Double]]): Column = {
    require(planes.nonEmpty && planes.length < 63,
      s"signBucket needs 1..62 planes, got ${planes.length}")
    element_at(signBucketsCol(features, planes, planes.length, 1), 1)
  }

  /** The pre-r16 compositional formulation, kept as the cross-validation
    * twin of the native fold (LinalgColSpec convention).
    */
  private[graft] def signBucketColComposed(features: Column,
      planes: Seq[Array[Double]]): Column = {
    require(planes.nonEmpty && planes.length < 63,
      s"signBucket needs 1..62 planes, got ${planes.length}")
    planes.zipWithIndex.map { case (p, i) =>
      when(dotCol(features, typedlit(p)) > 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  def euclidCol(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.euclid(a, b)

  def dotCol(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot(a, b)

  def cosineCol(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosine(a, b)

  def weightedEuclidCol(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.weightedEuclid(a, b)

  /** Built-in-only formulation of [[euclidCol]]: `zip_with` + left-fold
    * `aggregate` (deterministic left-to-right summation).
    */
  def euclidColBuiltin(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _))

  def dotColBuiltin(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  def norm2Col(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), _ + _))

  def cosineColBuiltin(a: Column, b: Column): Column =
    dotColBuiltin(a, b) / (norm2Col(a) * norm2Col(b))

  /** Built-in-only twin of [[weightedEuclidCol]] — same left-to-right fold
    * order AND the same zero-sum guard as the native kernel and the driver
    * twin (weights x/sum(x) degenerate to all-zero when sum(x) == 0), so
    * the three surfaces agree on ALL inputs, not just shifted-positive ones.
    */
  def weightedEuclidColBuiltin(a: Column, b: Column): Column = {
    val sa = aggregate(a, lit(0.0), _ + _)
    // zero-sum must short-circuit BEFORE any x/sa evaluates: Spark 4.1
    // under its default ANSI mode raises SparkArithmeticException
    // DIVIDE_BY_ZERO even for DOUBLE division (verified empirically —
    // this is not the pre-ANSI IEEE Infinity behavior). Within the
    // zero-sum branch, length-mismatched inputs stay NULL like the
    // kernel, which checks lengths before ever looking at the weights
    when(sa === 0.0,
      when(size(a) === size(b), lit(0.0)).otherwise(lit(null).cast("double")))
      .otherwise(
        sqrt(aggregate(
          zip_with(a, b, (x, y) => (x / sa) * (x - y) * (x - y)),
          lit(0.0), _ + _)))
  }
}
