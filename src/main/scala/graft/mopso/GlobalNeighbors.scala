package graft.mopso

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Linalg
import graft.functions.TopKAggregate

/** ScopeGlobal fitness WITHOUT the driver-side collect: each point's
  * global top-L neighbor FEATURES are gathered once through the bounded
  * [[graft.functions.TopKAggregate]] and stored on the row itself, so
  * every subsequent fitness evaluation (and the purity histogram) is one
  * shuffle-free distributed job over self-contained rows.
  *
  * Equivalence to the collected kernel: the ranking key (distance, stable
  * scan index) replicates [[FitnessKernel.buildNeighbors]]'s tie order
  * exactly — ascending index for equal distances, the reference's stable
  * sortBy (Spark_MOPSO_Avg.scala:1048-1050) — and the per-row (dev, conn)
  * terms are bit-identical. Only the cross-row summation ORDER differs:
  * partials merge in partition-id order, which is deterministic across
  * reruns but not fp-associative with the sequential sum (≲1e-12
  * relative drift; GlobalNeighborsSpec pins the bound).
  *
  * Scale shape: the one-off build is the c19 pattern — map-side combine
  * bounds partial aggregate state to L pairs per point, so the exchange
  * carries O(n·L) rows where a window formulation would shuffle and sort
  * the full n² candidate set. Each row then carries (L+1)·F doubles and
  * the per-iteration job does at most (L+1)·K·F multiplies per row per
  * particle ([[CenterSearch]] skips provably farther centers) with zero
  * network beyond the broadcast positions. The all-pairs
  * candidate GENERATION is the exact-KNN cost paid once; at 100 TB the
  * generator swaps for an LSH/IVF candidate set
  * (graft.functions.Similarity) with everything downstream unchanged.
  */
object GlobalNeighbors {

  /** (features, label, neighbor features in ascending global rank order).
    *
    * zipWithIndex order == collect order, so the synthetic ids reproduce
    * the collected kernel's scan order and distance ties rank
    * identically. Output rows are hash-partitioned by id and sorted
    * within partitions — shuffle-fetch-order independent, which keeps the
    * per-partition partial sums byte-deterministic across reruns.
    */
  def build(spark: SparkSession, rows: RDD[(Array[Double], Int)], l: Int)
      : RDD[(Array[Double], Int, Array[Array[Double]])] = {
    val df = indexed(spark, rows)
    val y = df.select(col("id").as("yi"), col("features").as("yv"))
    rankCandidates(df,
      df.crossJoin(y).where(col("id") =!= col("yi")), l)
  }

  /** The 100 TB generator swap made executable: identical output schema
    * and downstream ([[evaluate]]/[[histograms]] unchanged), but the
    * candidate set comes from sign-LSH buckets instead of the all-pairs
    * cross join — rows sharing a hyperplane-sign signature in ANY of
    * `numTables` independent tables are compared, others never meet
    * (the classic AND-of-planes / OR-of-tables amplification: more
    * planes → sharper buckets, more tables → higher recall). Neighbor
    * lists are exact over the candidate graph; their recall against the
    * true KNN is the bucketing's recall (measured in
    * GlobalNeighborsSpec), and cost drops from O(n²) to
    * O(T · Σ bucket²) with (table, bucket) as the shuffle key.
    *
    * Planes are the first `numPlanes · numTables` rows (deterministic,
    * data-derived — the s2 convention), sliced per table.
    */
  def buildLsh(spark: SparkSession, rows: RDD[(Array[Double], Int)], l: Int,
      numPlanes: Int, numTables: Int = 1)
      : RDD[(Array[Double], Int, Array[Array[Double]])] = {
    require(numPlanes > 0 && numPlanes < 63, "numPlanes must be in [1, 62]")
    require(numTables > 0, "numTables must be positive")
    val df = indexed(spark, rows)
    val planes: Seq[Array[Double]] =
      df.orderBy(col("id")).limit(numPlanes * numTables)
        .select(col("features")).collect()
        .map(_.getSeq[Double](0).toArray).toSeq
    // a dataset too small to fill even one plane table is exactly the
    // case where the all-pairs build is cheap — fall back instead of
    // bucketing with a truncated (or empty) plane set
    val effTables = math.min(numTables, planes.length / numPlanes)
    if (effTables == 0) return build(spark, rows, l)
    // one row per (point, table) from a SINGLE source scan: all table
    // buckets are computed in one projection and posexploded (each point
    // needs every table's bucket anyway); same-bucket-same-table rows
    // become candidates, and a pair colliding in several tables dedupes
    // before ranking so no neighbor is counted twice
    val b = df.select(col("id"), col("features"),
      posexplode(array((0 until effTables).map { t =>
        Linalg.signBucketCol(col("features"),
          planes.slice(t * numPlanes, (t + 1) * numPlanes))
      }: _*)).as(Seq("tbl", "bucket")))
    val y = b.select(col("tbl"), col("bucket"), col("id").as("yi"),
      col("features").as("yv"))
    val cands = b.join(y, Seq("tbl", "bucket"))
      .where(col("id") =!= col("yi"))
      .dropDuplicates("id", "yi")
    rankCandidates(df, cands, l)
  }

  private def indexed(spark: SparkSession,
      rows: RDD[(Array[Double], Int)]): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex
      .map { case ((f, lab), i) => (i, f, lab) }
      .toDF("id", "features", "label")
  }

  /** Shared ranking tail: candidate rows (id, features, yi, yv) through
    * the L-bounded aggregate, then a LEFT join back onto the base rows —
    * a point with no candidates (possible under a bucketed generator:
    * singleton buckets) keeps an EMPTY neighbor list rather than
    * vanishing, since every row must still contribute to Dev.
    */
  private def rankCandidates(base: DataFrame, cands: DataFrame, l: Int)
      : RDD[(Array[Double], Int, Array[Array[Double]])] = {
    val agged = cands
      .select(col("id"),
        struct(
          Linalg.euclidCol(col("features"), col("yv")).as("dist"),
          col("yi").as("yi")).as("rank_key"),
        col("yv").as("nbr"))
      .groupBy(col("id"))
      .agg(TopKAggregate.topKByKey(col("rank_key"), col("nbr"), l)
        .as("nbrs"))
    // the join on id leaves the output hash-partitioned by id (both
    // sides exchange on the join key) — deterministic layout, so only a
    // within-partition sort is needed for fetch-order independence
    base.select(col("id"), col("features"), col("label"))
      .join(agged, Seq("id"), "left")
      .select(col("features"), col("label"),
        coalesce(col("nbrs"), typedlit(Seq.empty[Seq[Double]])).as("nbrs"),
        col("id"))
      .sortWithinPartitions(col("id"))
      .select(col("features"), col("label"), col("nbrs"))
      .rdd.map { r =>
        (r.getSeq[Double](0).toArray, r.getInt(1),
          r.getSeq[scala.collection.Seq[Double]](2).map(_.toArray).toArray)
      }
  }

  /** Every particle's exact global (Dev, Conn) in ONE distributed job —
    * the no-collect twin of the broadcast-block evaluation. Partials are
    * merged in partition-id order (deterministic).
    */
  def evaluate(nbrRows: RDD[(Array[Double], Int, Array[Array[Double]])],
      positions: Array[Array[Array[Double]]], l: Int): Array[Array[Double]] =
    Evaluator.partialsJob(nbrRows, positions) { (ps, it) =>
      val searches = ps.map(new CenterSearch(_))
      val weights = FitnessKernel.rankWeights(l)
      val guesses = Array.fill(searches.length)(1)
      val acc = Array.fill(searches.length)((0.0, 0.0))
      it.foreach { case (feat, _, nbrs) =>
        var p = 0
        while (p < searches.length) {
          val (own, dev, conn) =
            FitnessKernel.rowPartial(feat, nbrs, searches(p), weights,
              guesses(p))
          guesses(p) = own
          acc(p) = (acc(p)._1 + dev, acc(p)._2 + conn)
          p += 1
        }
      }
      Iterator.single(acc)
    }

  /** Distributed (label, cluster) histograms for the E1 purity eval —
    * one job for ALL center sets, each partition's rows as one block.
    */
  def histograms(nbrRows: RDD[(Array[Double], Int, Array[Array[Double]])],
      centerSets: Array[Array[Array[Double]]]): Array[Map[(Int, Int), Long]] =
    Evaluator.blockHistograms(nbrRows.mapPartitions { it =>
      val rows = it.toArray
      Iterator.single(EvalBlock(rows.map(_._1), rows.map(_._2), Array.empty))
    }, centerSets)
}
