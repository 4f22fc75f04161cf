package graft

import org.apache.spark.sql.SparkSession

import graft.functions.{Curation, Dedup, QualityModel, Similarity}
import graft.operators.Clustering

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Methodology: one untimed warmup pass (JIT + codegen compilation +
  * filesystem cache), then THREE timed passes reporting the per-query
  * MEDIAN — a single-pass outlier (GC pause, compilation stall) moves a
  * min/max but never the median, so cross-round deltas of ~0.2s become
  * readable instead of noise. Each query executes through the noop
  * datasource sink — a full materialization of every output row and
  * column; `.count()` would let Catalyst prune the projections and
  * under-measure expression-heavy queries.
  */
object Bench {
  /** An artifact build timed as its own row by Bench and ScaleBench:
    * `invalidate` drops the per-JVM memo, then `write` exports the
    * artifact under `artifactRoot(dir)/<sub>` and returns its named
    * phases (only s14 reports any). `servedBy` is the query that reads
    * the artifact.
    */
  private[graft] final case class Build(name: String, servedBy: String,
      sub: String, invalidate: String => Unit,
      write: (SparkSession, String, String) => Seq[(String, Double)]) {
    def path(dir: String): String = s"${Similarity.artifactRoot(dir)}/$sub"
    def run(s: SparkSession, dir: String): Seq[(String, Double)] = {
      invalidate(dir)
      write(s, dir, path(dir))
    }
  }

  private def noPhases(w: (SparkSession, String, String) => Unit)
      : (SparkSession, String, String) => Seq[(String, Double)] =
    (s, dir, path) => { w(s, dir, path); Nil }

  /** The six builds, in record order. p7 first: its weights table feeds
    * the p11 LM fit, so each later row times only its own work.
    */
  private[graft] val builds: Seq[Build] = Seq(
    Build("p7_model_build", "p7_quality_score", "p7_model",
      QualityModel.invalidate, noPhases(QualityModel.writeServedModel)),
    Build("p11_lm_build", "p11_pipeline_learned", "p11_lm",
      Dedup.invalidateLm, noPhases(Dedup.writeP11LmModel)),
    // d11's corpus signature store: sign + band + rank + closure
    Build("d11_index_build", "d11_incremental_dedup", "dedup_index",
      Dedup.invalidateDedupIndex, noPhases(Dedup.writeDedupIndex)),
    // p12's induced-domain centroids: the seeded k-means fit + export
    Build("p12_centroid_build", "p12_cluster_budget", "p12_centroids",
      Curation.invalidateCentroids, noPhases(Curation.writeClusterCentroids)),
    // s9's three-table IVFADC index: quantizer fits + code encoding
    Build("s9_index_build", "s9_ann_ivfadc", "ivfadc",
      Similarity.invalidateIvfAdcBuild, noPhases(Similarity.writeIvfAdcIndex)),
    // s14's graph index at the production auto layout: graph build +
    // closure + export
    Build("s14_index_build", "s14_graph_assign", "s14_graph_full",
      Clustering.invalidateKnnGraphIndex, Clustering.writeKnnGraphIndex))

  private[graft] def build(name: String): Build = builds.find(_.name == name)
    .getOrElse(throw new NoSuchElementException(s"no build row $name"))

  /** A driver's positive whole-number env knob, `default` when unset; a
    * bad value throws naming the knob and the value.
    */
  private[graft] def envInt(name: String, default: Int): Int =
    intOf(name, sys.env.get(name), default)

  private[graft] def intOf(name: String, raw: Option[String],
      default: Int): Int =
    raw.fold(Option(default))(_.trim.toIntOption.filter(_ > 0)).getOrElse(
      throw new IllegalArgumentException(
        s"$name must be a positive whole number, got '${raw.get}'"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // shared factory: bench measures the exact session config the engine
    // ships (incl. the object-hash fallback threshold — see GraftSession)
    val spark = graft.core.GraftSession.local("graft-bench",
      envInt("SPARK_GRAFT_CPUS", 32))

    def runOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
    // warmup pass (untimed), then median of three timed passes
    names.foreach(n => runOne(n, SparkEntry.queries(n)))
    val passes = (1 to 3).map(_ =>
      names.map(n => n -> runOne(n, SparkEntry.queries(n))).toMap)
    val timed = names.map { n =>
      val ok = passes.map(_(n)).filter(_ >= 0).sorted
      // median of the successful passes (upper-median when a pass failed:
      // conservative); -1 marks a query that never succeeded
      n -> (if (ok.isEmpty) -1.0 else ok(ok.length / 2))
    }
    // each artifact's BUILD face as its own row (VERDICT r12 next-6):
    // the serving rows above read the artifact the warmup pass wrote;
    // a build row drops the per-JVM memo first, so it times the full
    // fit + export, not the re-export of a cached artifact
    def buildRow(name: String)(body: => Any): (String, Double) =
      name -> {
        val t0 = System.nanoTime()
        try { body; (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      }
    val results =
      timed ++ builds.map(b => buildRow(b.name)(b.run(spark, sfDir)))

    // Locale.ROOT: the f-interpolator is locale-sensitive and would emit
    // comma decimals (invalid JSON) under e.g. de_DE defaults
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    // the full line goes ONLY to the file (tools/bench_ratio.py reads it
    // unchanged): printing it too would put TWO total-metric lines on
    // stdout, and a consumer scanning for the first would pick the
    // oversized one the short line below exists to bypass (ADVICE r16)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // ONE stdout line carrying the FULL per-query map (VERDICT r21
    // next-2: PERF_r21.per_query and the scaling block came back empty
    // because this line carried only the total). Additions-only vs the
    // r17 short line: "queries" joins the object, every existing key —
    // total_ref metric name, sf, n_queries, queries_file pointer —
    // stays, so a consumer that still reads the pointer file parses
    // unchanged, and one that parses this line directly now sees the
    // per-query seconds without any file indirection.
    println(s"""{"metric":"total_ref","value":${fmt(total)},"unit":"sec",""" +
      s""""queries":$qs,"sf":"$sfDir","n_queries":${results.length},""" +
      s""""queries_file":"$outPath"}""")
    spark.stop()
  }
}
