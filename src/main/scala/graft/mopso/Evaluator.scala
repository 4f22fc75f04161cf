package graft.mopso

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Where one run evaluates fitness: the state one fitness scope builds
  * from the evaluation rows, in one job that also counts them, and what
  * the run asks of it. [[Mopso.run]] releases it on every exit; a build
  * that throws releases what it persisted itself.
  */
private[mopso] sealed trait Evaluator {
  /** The evaluated population: N, or the sample's size. */
  def n: Long
  /** Every particle's (Dev, Conn), in the order of `positions`. */
  def evaluate(positions: Array[Array[Array[Double]]]): Array[Array[Double]]
  /** One (label, cluster) count per center set, for the E1 purity. */
  def histograms(
      centerSets: Array[Array[Array[Double]]]): Array[Map[(Int, Int), Long]]
  /** The evaluated points and labels, for the exact silhouette. */
  def points(): EvalBlock
  def release(): Unit
}

private[mopso] object Evaluator {

  type Rows = RDD[(Array[Double], Int)]

  /** Avg and labelPartition: one persisted block per partition with its
    * partition-local neighbor lists. Each evaluation is one job of
    * rate-scaled partials (rate = block size / `n`), summed on the driver
    * in partition order (Spark_MOPSO_Avg.scala:211-245); the data never
    * moves.
    */
  final class PartitionBlocks(rows: Rows, l: Int) extends Evaluator {
    private[this] val blocks = persistBlocks(rows, l)
    val n: Long = sized(blocks)(_.map(_.points.length.toLong).fold(0L)(_ + _))

    def evaluate(positions: Array[Array[Array[Double]]]) = {
      // locals: a task closure over the fields would ship the evaluator
      val (lIdx, total) = (l, n)
      partialsJob(blocks, positions) { (ps, it) =>
        it.map(b => ps.map(FitnessKernel.partitionPartial(b.partData, _,
          lIdx, total)))
      }
    }

    def histograms(centerSets: Array[Array[Array[Double]]]) =
      blockHistograms(blocks, centerSets)

    // served from the cached blocks: the rows were released after init
    def points() = {
      val all = blocks.collect()
      EvalBlock(all.flatMap(_.points), all.flatMap(_.labels), Array.empty)
    }

    def release(): Unit = blocks.unpersist()
  }

  /** `globalExactDistributed`: exact global fitness with no driver
    * collect; each persisted row carries its global neighbors' features
    * ([[GlobalNeighbors]]), so each evaluation is one shuffle-free job.
    */
  final class NeighborRows(spark: SparkSession, rows: Rows, l: Int)
      extends Evaluator {
    private[this] val nbrRows = GlobalNeighbors.build(spark, rows, l)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n: Long = sized(nbrRows)(_.count()) // while the rows are cached

    def evaluate(positions: Array[Array[Array[Double]]]) =
      GlobalNeighbors.evaluate(nbrRows, positions, l)

    def histograms(centerSets: Array[Array[Array[Double]]]) =
      GlobalNeighbors.histograms(nbrRows, centerSets)

    // the silhouette flag (small-data-only, reference-faithful) is the one
    // consumer on this path that collects the points
    def points() = {
      val rs = nbrRows.map(r => (r._1, r._2)).collect()
      EvalBlock(rs.map(_._1), rs.map(_._2), Array.empty)
    }

    def release(): Unit = nbrRows.unpersist()
  }

  /** Particle and Single: the rows collected into one block with global
    * neighbor lists. `distributed` (Particle on more than one partition)
    * broadcasts the block once and farms the particles out to tasks
    * (Spark_MOPSO_Particle.scala:108-109,175-188), memory-bound by design;
    * otherwise the driver evaluates alone (Single, the behavioral oracle).
    */
  final class WholeBlock(rows: Rows, l: Int, distributed: Boolean)
      extends Evaluator {
    private[this] val block = {
      val rs = rows.collect()
      val pts = rs.map(_._1)
      EvalBlock(pts, rs.map(_._2), FitnessKernel.buildNeighbors(pts, l))
    }
    private[this] val sc = rows.sparkContext
    private[this] val blockBC =
      if (distributed) Some(sc.broadcast(block)) else None
    val n: Long = block.points.length.toLong

    def evaluate(positions: Array[Array[Array[Double]]]) = blockBC match {
      case Some(bBC) =>
        val lIdx = l
        val posBC = sc.broadcast(positions)
        val out = try sc
          .parallelize(positions.indices.toSeq,
            math.min(positions.length, math.max(sc.defaultParallelism, 1)))
          .map(i => (i, fitness(bBC.value, posBC.value(i), lIdx)))
          .collect()
        finally posBC.destroy()
        out.sortBy(_._1).map(_._2)
      case None => positions.map(fitness(block, _, l))
    }

    def histograms(centerSets: Array[Array[Array[Double]]]) =
      centerSets.map(histogram(block, _))

    def points() = block

    def release(): Unit = blockBC.foreach(_.destroy())
  }

  /** Every particle's (Dev, Conn) in one job over `rdd`: `partials` maps
    * a partition's rows, with the positions broadcast, to its (Dev, Conn)
    * per particle; the driver sums them partition by partition in id
    * order (Spark_MOPSO_Avg.scala:230-245), deterministic across reruns.
    */
  def partialsJob[T](rdd: RDD[T], positions: Array[Array[Array[Double]]])(
      partials: (Array[Array[Array[Double]]], Iterator[T]) =>
        Iterator[Array[(Double, Double)]]): Array[Array[Double]] = {
    val bc = rdd.sparkContext.broadcast(positions)
    val parts = try rdd.mapPartitionsWithIndex { (pid, it) =>
      partials(bc.value, it).map((pid, _))
    }.collect()
    finally bc.destroy()
    val fits = Array.fill(positions.length)(Array(0.0, 0.0))
    parts.sortBy(_._1).foreach { case (_, arr) =>
      var p = 0
      while (p < arr.length) {
        fits(p)(0) += arr(p)._1; fits(p)(1) += arr(p)._2; p += 1
      }
    }
    fits
  }

  /** (label, cluster) counts per center set over every block, in one job:
    * per block, per center set, a histogram; the driver sums them.
    */
  def blockHistograms(blocks: RDD[EvalBlock],
      centerSets: Array[Array[Array[Double]]]): Array[Map[(Int, Int), Long]] = {
    val bc = blocks.sparkContext.broadcast(centerSets)
    val parts = try blocks.map(b => bc.value.map(histogram(b, _))).collect()
    finally bc.destroy()
    centerSets.indices.map(i =>
      parts.flatMap(_(i)).groupMapReduce(_._1)(_._2)(_ + _)).toArray
  }

  private def histogram(block: EvalBlock,
      centers: Array[Array[Double]]): Map[(Int, Int), Long] = {
    val (clusters, _) =
      FitnessKernel.assign(block.points, centers, block.neighbors)
    block.labels.indices
      .groupMapReduce(i => (block.labels(i), clusters(i)))(_ => 1L)(_ + _)
  }

  private def fitness(block: EvalBlock, centers: Array[Array[Double]],
      l: Int): Array[Double] = {
    val (dev, conn) = FitnessKernel.devConn(block.partData, centers, l)
    Array(dev, conn)
  }

  private def persistBlocks(rows: Rows, l: Int): RDD[EvalBlock] =
    rows.mapPartitions { it =>
      val rs = it.toArray
      if (rs.isEmpty) Iterator.empty
      else {
        val pts = rs.map(_._1)
        Iterator.single(
          EvalBlock(pts, rs.map(_._2), FitnessKernel.buildNeighbors(pts, l)))
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)

  /** `size(rdd)` of a just-persisted `rdd`, whose job materializes it; a
    * throw unpersists it.
    */
  private def sized[T](rdd: RDD[T])(size: RDD[T] => Long): Long =
    try size(rdd)
    catch { case e: Throwable => rdd.unpersist(); throw e }
}
