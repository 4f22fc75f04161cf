package graft.functions

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** [[Similarity.topKPerQuery]], the per-query ranking every s-family
  * query shares, on small frames with tied keys: the fixture oracle rows
  * hold no ties, so their hashes cannot tell a tie order apart.
  */
class TopKPerQuerySpec extends AnyFunSuite with SparkTestBase {

  private def ranked(rows: Seq[(Long, Long, Double)], k: Int,
      desc: Boolean = false): Seq[(Long, Long, Int)] = {
    import spark.implicits._
    val key = if (desc) col("d").desc else col("d")
    Similarity.topKPerQuery(rows.toDF("qid", "nid", "d"), key, k)
      .select("qid", "nid", "rank").as[(Long, Long, Int)]
      .collect().toSeq.sortBy(r => (r._1, r._3))
  }

  test("tied keys rank the lower nid first, ascending or descending") {
    val rows = Seq((1L, 9L, 1.0), (1L, 3L, 1.0), (1L, 5L, 0.5),
      (1L, 7L, 1.0))
    assert(ranked(rows, 4) ===
      Seq((1L, 5L, 1), (1L, 3L, 2), (1L, 7L, 3), (1L, 9L, 4)))
    assert(ranked(rows, 4, desc = true) ===
      Seq((1L, 3L, 1), (1L, 7L, 2), (1L, 9L, 3), (1L, 5L, 4)))
  }

  test("the k cut is exact, also inside a tie, and per query") {
    val rows = Seq((1L, 9L, 1.0), (1L, 3L, 1.0), (1L, 5L, 0.5),
      (1L, 7L, 1.0), (2L, 4L, 2.0), (2L, 1L, 2.0))
    // query 1 keeps 3 of its 4 rows, cutting its 3-way tie after nid 7;
    // query 2 has fewer rows than k and keeps both
    assert(ranked(rows, 3) === Seq((1L, 5L, 1), (1L, 3L, 2), (1L, 7L, 3),
      (2L, 1L, 1), (2L, 4L, 2)))
    assert(ranked(rows, 1) === Seq((1L, 5L, 1), (2L, 1L, 1)))
  }

  test("an (np, qid) partition ranks each group on its own") {
    import spark.implicits._
    // the same query under two probe settings: each (np, qid) group
    // numbers its rows from 1 and keeps its own top 2
    val rows = Seq((1, 0L, 8L, 0.3), (1, 0L, 2L, 0.3), (1, 0L, 6L, 0.1),
      (5, 0L, 8L, 0.3), (5, 0L, 2L, 0.3), (5, 0L, 1L, 0.2),
      (5, 0L, 6L, 0.1)).toDF("np", "qid", "nid", "d")
    val got = Similarity.topKPerQuery(rows, col("d"), 2,
        by = Seq(col("np"), col("qid")))
      .select("np", "nid", "rank").as[(Int, Long, Int)]
      .collect().toSeq.sortBy(r => (r._1, r._3))
    assert(got === Seq((1, 6L, 1), (1, 2L, 2), (5, 6L, 1), (5, 1L, 2)))
  }
}
