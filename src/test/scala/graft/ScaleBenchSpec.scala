package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins ScaleBench's case table: bad arguments fail before any Spark
  * work, every record a live scaladoc cites is either reproducible by a
  * kept case or listed as retired, and one kept case runs end to end.
  */
class ScaleBenchSpec extends AnyFunSuite with SparkTestBase {

  private def rejection(args: String*): String = {
    var msg = ""
    val jobs = jobsDuring {
      msg = intercept[IllegalArgumentException](
        ScaleBench.main(args.toArray)).getMessage
    }
    assert(jobs === 0, s"${args.mkString(" ")} started $jobs Spark jobs")
    msg
  }

  test("bad arguments are rejected, naming the valid values, before any Spark job") {
    val typo = rejection(sfDir, "2", "/nonexistent", "s14bukcet")
    assert(typo.contains("'s14bukcet'") && typo.contains("s14bucket") &&
      typo.contains("linear") && typo.contains("only:"))
    val perturb = rejection(sfDir, "2", "/nonexistent", "layout", "indpe")
    assert(perturb.contains("'indpe'") && perturb.contains("eps, indep"))
    val mult = rejection(sfDir, "x2", "/nonexistent", "layout")
    assert(mult.contains("mult") && mult.contains("'x2'"))
    assert(rejection(sfDir, "0", "/nonexistent", "layout").contains("'0'"))
    assert(rejection(sfDir, "2", "/nonexistent", "only:q1_pricing_summary,nope")
      .contains("unknown query nope"))
  }

  test("parse resolves kept cases and query sets to their records") {
    val layout = ScaleBench.parse(Array(sfDir, "2", "/w", "layout", "indep"))
    assert(layout.bench.metric === "layout_probe" &&
      layout.outFile === "scale_layout_indep.json" && layout.work === "/w/x2i")
    val full = ScaleBench.parse(Array.empty[String])
    assert(full.bench.metric === "scale_total" && full.mult === 10 &&
      full.outFile === "scale_out.json" && full.bench.tables.isEmpty)
    val onlye = ScaleBench.parse(Array(sfDir, "2", "/w", "onlye:d6_dedup_groups"))
    assert(onlye.bench.tables === Some(Set("documents", "embeddings")))
  }

  test("driver env knobs name themselves in a parse error") {
    assert(Bench.intOf("SPARK_GRAFT_CPUS", None, 4) === 4)
    assert(Bench.intOf("SPARK_GRAFT_CPUS", Some(" 8 "), 4) === 8)
    for (bad <- Seq("four", "0", "-2")) {
      val e = intercept[IllegalArgumentException](
        Bench.intOf("SPARK_GRAFT_PASSES", Some(bad), 3))
      assert(e.getMessage.contains("SPARK_GRAFT_PASSES") &&
        e.getMessage.contains(s"'$bad'"))
    }
  }

  /** A cited name as a file-name regex: `*` is any run, `{a,b}` either
    * alternative, and a name without `.json` a prefix.
    */
  private def citedRegex(cite: String): scala.util.matching.Regex = {
    val body = "\\{([^}]*)\\}|\\*|[^{*]+".r.findAllIn(cite).map {
      case "*" => ".*"
      case b if b.startsWith("{") =>
        b.drop(1).dropRight(1).split(",").map(java.util.regex.Pattern.quote)
          .mkString("(", "|", ")")
      case lit => java.util.regex.Pattern.quote(lit)
    }.mkString
    (if (cite.endsWith(".json")) body else body + ".*\\.json").r
  }

  test("every record a scaladoc cites exists and is kept or listed as retired") {
    val cite = "scale_(?:[A-Za-z0-9_*]|\\{[A-Za-z0-9_,]*\\})+(?:\\.json)?".r
    val cites = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "ScaleBench.scala")
      .flatMap(p => Files.readAllLines(p).asScala
        .filter(l => l.trim.startsWith("*") || l.trim.startsWith("//"))
        .flatMap(cite.findAllIn))
      .toSet
    assert(cites.contains("scale_connlsh.json") &&
      cites.contains("scale_d11stale_x1000.json"))
    val records = Files.list(Paths.get(".")).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("scale_") && n.endsWith(".json")).toSeq
    val scale = new String(Files.readAllBytes(Paths.get("SCALE.md")), "UTF-8")
    val retired = scale.split("\n## ")
      .find(_.startsWith("Retired ScaleBench cases"))
      .getOrElse(fail("SCALE.md has no retired-case table"))
    val kept = ScaleBench.cases.values.map(_.metric).toSet + "scale_total"
    val metric = "\"metric\":\"([^\"]+)\"".r
    for (c <- cites) {
      val files = records.filter(citedRegex(c).matches)
      assert(files.nonEmpty, s"cited record $c does not exist")
      for (f <- files; line <- Files.readAllLines(Paths.get(f)).asScala
           if line.trim.nonEmpty) {
        val m = metric.findFirstMatchIn(line).map(_.group(1)).getOrElse("")
        val covered = kept(m) || retired.contains(s"`$f`")
        assert(covered,
          s"$f (cited as $c) has a '$m' line no kept case writes, " +
            "and SCALE.md's retired-case table does not list it")
      }
    }
  }

  private def deleteTree(root: Path): Unit =
    Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  test("layout runs end to end at x1 and writes one layout_probe record") {
    val root = Files.createTempDirectory("graft_scale_spec")
    try {
      val out = root.resolve("scale_layout.json")
      ScaleBench.run(spark, ScaleBench.parse(
        Array(sfDir, "1", root.resolve("work").toString, "layout")),
        out.toString)
      val lines = Files.readAllLines(out).asScala.filter(_.trim.nonEmpty)
      assert(lines.size === 1)
      assert(lines.head.contains("\"metric\":\"layout_probe\"") &&
        lines.head.contains("\"mult\":1,"))
      val queries = "\"queries\":\\{([^}]*)\\}".r
        .findFirstMatchIn(lines.head).map(_.group(1)).getOrElse("")
      assert(queries.contains("\"connlsh_n_points\":"), lines.head)
    } finally deleteTree(root)
  }

  test("d11bucket runs again in a work dir whose bucketed table survived") {
    val root = Files.createTempDirectory("graft_scale_spec")
    try {
      // what an earlier JVM's run leaves: the table's directory, which the
      // in-memory catalog of this one does not know
      val table = root.resolve("work/x1/d11_bucket_warehouse/d11_bands_b")
      Files.createDirectories(table)
      Files.write(table.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
      val db = spark.catalog.currentDatabase
      val out = root.resolve("scale_d11bucket.json")
      ScaleBench.run(spark, ScaleBench.parse(
        Array(sfDir, "1", root.resolve("work").toString, "d11bucket")),
        out.toString)
      val lines = Files.readAllLines(out).asScala.filter(_.trim.nonEmpty)
      assert(lines.size === 1)
      assert(lines.head.contains("\"metric\":\"d11_bucket_compare\""))
      assert(spark.catalog.currentDatabase === db)
    } finally deleteTree(root)
  }
}
