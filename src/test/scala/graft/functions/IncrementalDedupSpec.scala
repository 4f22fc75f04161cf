package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sources.Tables

/** d11 incremental-dedup laws the oracle hash can't pin by itself:
  * the assignment is independently replayed in Scala FROM the persisted
  * index (so the store really carries the serving state), the store is
  * immutable under serving (batches compose), and the bucket cap keeps
  * a mass-duplicate cluster bounded while still landing on its label.
  */
class IncrementalDedupSpec extends AnyFunSuite with SparkTestBase {

  private def indexPath(dir: String) =
    s"${Similarity.artifactRoot(dir)}/dedup_index"

  test("d11 assignment replays from the persisted index (independent Scala)") {
    val out = Dedup.d11IncrementalDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val path = indexPath(sfDir)
    assert(jobsDuring(Dedup.writeDedupIndex(spark, sfDir, path)) === 0,
      "serving built the index; writing it again is a memo hit")
    // base-side store state, straight from the parquet the query served
    val bands = spark.read.parquet(s"$path/bands").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"),
        r.getAs[String]("key"), r.getAs[Int]("rn")))
    val buckets = bands.groupBy(b => (b._2, b._3))
      .view.mapValues(_.filter(_._4 <= Dedup.MaxBucket).map(_._1).toSet)
      .toMap
    val groups = spark.read.parquet(s"$path/groups").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // delta band keys recomputed through d2 (its own oracle-checked
    // face), NOT through the code path under test
    val sig = Dedup.d2MinhashSig(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val keys = sig.groupBy(t => (t._1, t._2 / Dedup.BandSize))
      .view.mapValues(_.sortBy(_._2).map(_._3).mkString(",")).toMap
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_distinct(TextAnalysis.tokensCol(col("text"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val nBands = Dedup.NumHashes / Dedup.BandSize
    def jac(a: Set[String], b: Set[String]): Double =
      a.intersect(b).size.toDouble / (a.size + b.size - a.intersect(b).size)
    val expected = toks.keys.toSeq
      .filter(_ % Dedup.DeltaMod == Dedup.DeltaResidue).sorted.map { d =>
        val cands = (0 until nBands).flatMap(b =>
          keys.get((d, b)).toSeq.flatMap(k =>
            buckets.getOrElse((b, k), Set.empty))).toSet
        val ver = cands.filter(c => jac(toks(d), toks(c)) >= Dedup.IncrementalJaccard)
        val grp = if (ver.isEmpty) d else ver.map(groups).min
        (d, grp, ver.size.toLong)
      }
    assert(out.toSeq === expected)
    // the gate means something: some delta doc matched, some didn't
    assert(out.exists(_._3 > 0) && out.exists(_._3 == 0))
  }

  test("d11 store is immutable under serving; repeated batches compose") {
    val path = indexPath(sfDir)
    val first = Dedup.d11IncrementalDedup(spark, sfDir).collect()
    val before = spark.read.parquet(s"$path/groups").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val second = Dedup.d11IncrementalDedup(spark, sfDir).collect()
    val after = spark.read.parquet(s"$path/groups").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(before === after)
    assert(first.map(_.toString).toSeq === second.map(_.toString).toSeq)
  }

  test("d11 mass-dup bucket: capped candidates, still lands on the label") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-d11").toString
    val dup = "alpha beta gamma delta"
    val docs = (0L until 130L).map(i => (i, dup)) :+
      (139L, "zz yy xx ww vv uu")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = Dedup.d11IncrementalDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (massDup, fresh) = out.partition(_._1 < 130L)
    // 117 identical base docs >> the cap: every delta twin still lands
    // on the cluster's immutable label (the rep rides rn = 1) with
    // candidate count bounded by MaxBucket, not by cluster size
    assert(massDup.length === 13)
    assert(massDup.forall(_._2 == 0L))
    assert(massDup.forall(_._3 == Dedup.MaxBucket.toLong))
    // a delta doc with no corpus match stays a singleton under its own id
    assert(fresh === Array((139L, 139L, 0L)))
  }
}
