package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // oracle read_parquet paths (p7 weights, s9 index) derive from the
    // dir THIS run verifies — set before queries run AND before the
    // oracle dump, so artifact writer and oracle reader agree at any SF
    System.setProperty("graft.oracle.dir", sfDir)
    // optional 3rd arg: comma-separated query-name filter for fast local
    // iteration on one operator (the driver always passes two args)
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    def keep(name: String) = only.forall(_.contains(name))
    // the shared engine session factory: every conf the queries rely on
    // (UTC, shuffle=cores, AQE, the object-hash fallback threshold) in
    // one place, so the gate runs what the engine ships
    val spark = graft.core.GraftSession.local("graft-verify",
      Bench.envInt("SPARK_GRAFT_CPUS", 4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
