package graft.perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.SparkEntry
import graft.functions.{Curation, Dedup, Similarity}
import graft.operators.Clustering
import graft.sources.Tables

/** `query_serve`: a fixed mix of the engine's declared queries over the
  * sf0.01 fixture tables, each pass in a seed-shuffled order, every result
  * materialized through the noop sink. One unit of work is one pass.
  */
final class QueryServe(a: Args) extends Workload(a) {
  import QueryServe._

  private val dir = a.data
  private val checkDir = s"${a.work}/check"

  def load(spark: SparkSession): Unit =
    Tables.names.foreach(t => Tables.table(spark, dir, t).count())

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Two passes. The first builds the graph store s14 serves from (on its
    * first call, as a production store is built before serving) and keeps
    * every result for the oracle compare; the second runs the mix in its
    * declared order, so set-up ends at the same point in every run (what
    * the last query leaves referenced sets `live_heap_mb`). The JIT still
    * compiles through the first passes: with one warm-up pass, the third
    * timed pass was up to a quarter faster than the first.
    */
  def warmup(spark: SparkSession): OpRun =
    checkPass(spark) + pass(spark, Mix, None)

  private def checkPass(spark: SparkSession): OpRun = timed {
    new File(checkDir).mkdirs()
    val failed = Mix.map(q => attempt(q)(SparkEntry.queries(q)(spark, dir)
      .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$q"))).sum
    val oracle = SparkEntry.oracleSql.filter(kv => Mix.contains(kv._1))
    java.nio.file.Files.writeString(new File(s"$checkDir/oracle_sql.json").toPath,
      oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}"))
    (Mix.length, failed)
  }

  /** Timed pass `i`, in an order drawn from the seed and `i`. */
  def op(spark: SparkSession, i: Int, tr: Option[Tracer]): OpRun =
    pass(spark, new Random(a.seed * 1000003L + i).shuffle(Mix), tr)

  private def pass(spark: SparkSession, order: Seq[String],
      tr: Option[Tracer]): OpRun = timed {
    val failed = order.map { q =>
      val t0 = System.nanoTime()
      val f = attempt(q) {
        def run(): Unit = noop(SparkEntry.queries(q)(spark, dir))
        tr match {
          case Some(t) => t.span(s"query.$q")(run())
          case None => run()
        }
      }
      System.err.println(f"[perfbench] $q: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      f
    }.sum
    (Mix.length, failed)
  }

  /** Every mix row has an oracle twin, compared with DuckDB by the Python
    * half of the benchmark; here only the traced run's rebuild checks.
    */
  def checks(spark: SparkSession): Seq[(String, Boolean)] = buildChecks

  private var buildChecks: Seq[(String, Boolean)] = Nil

  def layers(spark: SparkSession, tr: Tracer, traced: Span): Map[String, Double] = {
    val perQuery = tr.all.filter(_.name.startsWith("query.")).flatMap { s =>
      val q = s.name.stripPrefix("query.")
      Seq(s"$q.s" -> s.seconds, s"$q.cpu_s" -> s.counts.executorCpuS,
        s"$q.jobs" -> s.counts.jobs.toDouble, s"$q.shuffle_mb" -> s.counts.shuffleMb)
    }
    // the index builds, twice: the second must reproduce the first
    val root = Similarity.artifactRoot(dir)
    val builds = Builds.map { case (b, (artifact, build)) =>
      val path = s"$root/$artifact"
      val (_, s) = tr.span(s"build.$b")(build(spark, dir, path))
      val first = artifactSummary(spark, path)
      build(spark, dir, path)
      val again = artifactSummary(spark, path)
      buildChecks :+= s"$b rebuild keeps row count and content hash" ->
        (first._1 > 0 && first._1 == again._1 && first._2 == again._2)
      (b, s, first._3)
    }
    val perBuild = builds.flatMap { case (b, s, bytes) =>
      Seq(s"$b.s" -> s.seconds, s"$b.cpu_s" -> s.counts.executorCpuS,
        s"$b.jobs" -> s.counts.jobs.toDouble,
        s"$b.shuffle_mb" -> s.counts.shuffleMb) ++
        (if (b == "s14_index_build") Seq(s"$b.artifact_mb" -> bytes / 1e6)
         else Nil)
    }
    (perQuery ++ perBuild).toMap
  }
}

object QueryServe {
  /** One row per layer the mix covers: the closure (d6; the s14 store
    * build runs it too), the graph-store read (s14), the paper's metrics
    * (c10, c14), text (t13) and two relational controls (q3, q16).
    * s13, p10 and m1 are left out: with them a run no longer fits the
    * benchmark's time budget, and their layers (the closure, MOPSO) are
    * measured by d6, the d11 and s14 builds and `mopso_avg`.
    */
  val Mix: Seq[String] = Seq(
    "d6_dedup_groups", "s14_graph_assign", "c10_conn", "c14_silhouette",
    "t13_bigram_lm", "q3_revenue_by_nation", "q16_quantity_percentiles")

  /** The artifact builds `graft.Bench` times whose code an end-to-end
    * path of this benchmark shares: the s14 store build (the warm-up builds
    * s14_graph_assign's store), the d11 closure (d6), the p11 bigram
    * model (t13) and p12's k-means (the MOPSO Init). Each drops its
    * per-JVM memo, then fits and exports. (name, (artifact dir, build))
    */
  val Builds: Seq[(String, (String, (SparkSession, String, String) => Unit))] =
    Seq(
      "s14_index_build" -> ("s14_graph_full", (s, d, p) => {
        Clustering.invalidateKnnGraphIndex(d); Clustering.writeKnnGraphIndex(s, d, p)
        ()
      }),
      "d11_index_build" -> ("dedup_index", (s, d, p) => {
        Dedup.invalidateDedupIndex(d); Dedup.writeDedupIndex(s, d, p)
      }),
      "p11_lm_build" -> ("p11_lm", (s, d, p) => {
        Dedup.invalidateLm(d); Dedup.writeP11LmModel(s, d, p)
      }),
      "p12_centroid_build" -> ("p12_centroids", (s, d, p) => {
        Curation.invalidateCentroids(d); Curation.writeClusterCentroids(s, d, p)
      }))

  /** (rows, content hash, bytes) of an artifact: every parquet table under
    * `path`, read back. The s14 store's `build_meta` table records the
    * build's own wall time, so it counts rows but not content.
    */
  def artifactSummary(spark: SparkSession, path: String): (Long, Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    val files = walk(new File(path))
    val tables = files.filter(_.getName.endsWith(".parquet"))
      .map(_.getParentFile.getPath).distinct
    val (rows, hash) = tables.map { t =>
      val df = spark.read.parquet(t)
      val hashed = if (new File(t).getName == "build_meta") Array.empty[String]
        else df.columns
      val r = df.agg(count(lit(1)),
        sum(xxhash64((hashed.map(c => col(s"`$c`")) :+ lit(0)).toIndexedSeq: _*)
          .cast("decimal(38,0)"))).head()
      (r.getLong(0), Option(r.getDecimal(1)).map(_.longValue).getOrElse(0L))
    }.foldLeft((0L, 0L)) { case ((n, h), (n1, h1)) => (n + n1, h * 31 + h1) }
    (rows, hash, files.filter(_.isFile).map(_.length).sum)
  }
}
