package graft

import org.apache.spark.sql.SparkSession

import graft.mopso.{Mopso, MopsoConfig}
import graft.sources.{Report, Tables}

/** Command-line twin of the reference's entry surface
  * (Spark_MOPSO_Avg.scala:49-56: `main(dataName, numberOfWorker,
  * numberOfSubPop, iter_max, labelStartWithZero)`): five positional args
  * in the reference's order, then the engine's variant/output/seed knobs
  * the reference hard-codes per program.
  *
  * Unlike the reference, the data location is a PATH (local or any
  * Hadoop-supported filesystem URI), not a name spliced into a
  * hard-coded cluster URL; `.parquet` inputs (columns `features`,
  * `label`[, `id`]) are read natively, anything else goes through the
  * reference-convention headerless-CSV parser (P1,
  * Spark_MOPSO_Avg.scala:1191-1236).
  */
object Cli {

  final case class CliArgs(
      dataPath: String,
      workers: Int,
      subPop: Int,
      iterMax: Int,
      labelStartWithZero: Boolean,
      variant: String = "avg",
      outDir: String = "mopso-out",
      seed: Long = 42L)

  val usage: String =
    """usage: graft.Cli <dataPath> <workers> <subPop> <iterMax> <labelStartWithZero 0|1>
      |                 [variant avg|labelPartition|particle|single]
      |                 [outDir] [seed]
      |  subPop = 0 (engine extension): auto-size the partition count to
      |  hold ~2500 points per partition — the linear-scaling rule for
      |  the partition-scoped fitness (SCALE.md round 7)""".stripMargin

  private val Variants = Set("avg", "labelPartition", "particle", "single")

  private def numArg(name: String, v: String): Long =
    try v.toLong
    catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$name must be an integer, got '$v'\n$usage")
    }

  def parse(args: Array[String]): CliArgs = {
    require(args.length >= 5 && args.length <= 8, usage)
    val lsz = args(4) match {
      case "0" => false
      case "1" => true
      case other =>
        throw new IllegalArgumentException(
          s"labelStartWithZero must be 0 or 1, got '$other'\n$usage")
    }
    val variant = if (args.length > 5) args(5) else "avg"
    require(Variants.contains(variant),
      s"unknown variant '$variant' (one of ${Variants.mkString("/")})\n$usage")
    CliArgs(
      dataPath = args(0),
      workers = numArg("workers", args(1)).toInt,
      subPop = numArg("subPop", args(2)).toInt,
      iterMax = numArg("iterMax", args(3)).toInt,
      labelStartWithZero = lsz,
      variant = variant,
      outDir = if (args.length > 6) args(6) else "mopso-out",
      seed = if (args.length > 7) numArg("seed", args(7)) else 42L)
  }

  def configFor(a: CliArgs): MopsoConfig = {
    val base = a.variant match {
      case "avg" => MopsoConfig.avg(a.subPop)
      case "labelPartition" => MopsoConfig.labelPartition(a.subPop)
      case "particle" => MopsoConfig.particle
      case "single" => MopsoConfig.single
    }
    // iterMax always comes from the CLI; subPop only governs the
    // partitioned variants (particle/single fix their own partitioning)
    base.copy(iterMax = a.iterMax)
  }

  /** Runs one MOPSO job end-to-end against an existing session and
    * returns the stamped report path (separated from main for specs).
    */
  def run(spark: SparkSession, a: CliArgs): String = {
    val data =
      if (a.dataPath.endsWith(".parquet")) spark.read.parquet(a.dataPath)
      else Tables.labeledCsv(spark, a.dataPath,
        labeled = true, labelStartWithZero = a.labelStartWithZero)
    // subPop = 0 reaches the partitioned variants as numPartitions = 0,
    // which Mopso.run sizes from its input profile (particle/single fix
    // their own partitioning)
    val result = Mopso.run(spark, data, configFor(a), a.seed)
    val path = Report.saveMopsoReport(spark, result, a.outDir, stamp = true)
    // the reference prints its base-info + timing block; the essentials
    println(s"archive=${result.archive.length} k=${result.k} " +
      s"n=${result.totalPoints} elapsedSec=${result.elapsedSec} report=$path")
    path
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val spark = graft.core.GraftSession.local("graft-mopso", a.workers)
    try run(spark, a)
    finally spark.stop()
  }
}
