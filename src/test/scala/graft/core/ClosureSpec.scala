package graft.core

import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.Dedup

/** The connected-components closure: fixpoint against an independent
  * union-find, head-start labels, deep geometry within the round cap,
  * the job counts of its rounds, the bucket entry point, and release of
  * its persisted frames on a throw.
  */
class ClosureSpec extends AnyFunSuite with SparkTestBase {
  import ClosureSpec.unionFind

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  /** The closure over `docs` and `edges` labels every doc with the minimum
    * of its union-find component, one row per doc.
    */
  private def assertUnionFind(name: String, docs: Seq[Long],
      edges: Seq[(Long, Long)],
      init: Option[org.apache.spark.sql.DataFrame]): Unit = {
    import spark.implicits._
    val got = labels(Closure.components(docs.toDF("doc_id"),
      edges.toDF("doc_a", "doc_b"), init))
    val root = unionFind(edges.toSet)
    // normalize union-find roots to the component MIN id
    val minOfRoot = docs.groupBy(root).map {
      case (r, members) => (r, members.min)
    }
    assert(got.size === docs.distinct.size, name)
    docs.foreach { d =>
      assert(got(d) === minOfRoot(root(d)), s"$name, node $d")
    }
  }

  test("bucket-rep init equals a propagation round: same groups, head start") {
    import spark.implicits._
    // overlapping buckets (doc 5 bridges them) + an out-of-bucket doc
    val bands = (Seq((1L, 0, "a"), (5L, 0, "a"), (9L, 0, "a")) ++
      Seq((5L, 1, "b"), (3L, 1, "b")) ++
      Seq((7L, 0, "c"))).toDF("doc_id", "band", "key")
    val buckets = Dedup.bucketArrays(bands)
    val init = labels(Dedup.repInitFromBuckets(buckets))
    // exactly min(own, min bucket-rep): the bridge doc takes the lower rep
    assert(init === Map(1L -> 1L, 5L -> 1L, 9L -> 1L, 3L -> 3L))
    val docs = Seq(1L, 3L, 5L, 7L, 9L).toDF("doc_id")
    val pairs = Dedup.pairsFromBuckets(buckets)
    val plain = labels(Closure.components(docs, pairs))
    val seeded = labels(Closure.components(docs, pairs,
      init = Some(Dedup.repInitFromBuckets(buckets))))
    assert(seeded === plain)
    assert(seeded === Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 9L -> 1L, 7L -> 7L))
  }

  test("min-label propagation resolves transitive groups and singletons") {
    import spark.implicits._
    // a 10-hop chain (forces multiple propagation rounds: diameter 9),
    // a separate triangle, and an isolated singleton
    val docs = (1L to 14L).toDF("doc_id")
    val chain = (1L until 10L).map(i => (i, i + 1))
    val triangle = Seq((11L, 12L), (12L, 13L), (11L, 13L))
    val pairs = (chain ++ triangle).toDF("doc_a", "doc_b")
    val groups = labels(Closure.components(docs, pairs))
    (1L to 10L).foreach(d => assert(groups(d) === 1L, s"chain doc $d"))
    (11L to 13L).foreach(d => assert(groups(d) === 11L, s"triangle doc $d"))
    assert(groups(14L) === 14L) // isolated doc keeps its own group
    // keep-one-representative rule: exactly one doc per group
    assert(groups.count { case (d, g) => d == g } === 3)
    // empty universe: no rounds, no NPE from the null sum aggregate
    val empty = Closure.components(
      Seq.empty[Long].toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(empty.count() === 0L)
    // no pairs at all: every doc is its own group
    assert(labels(Closure.components((1L to 5L).toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))) ===
      (1L to 5L).map(d => (d, d)).toMap)
  }

  test("a sequential-id chain deeper than the round cap converges") {
    import spark.implicits._
    // one hop per round would need n − 1 > MaxRounds rounds; star rounds
    // need O(log n)
    val n = Closure.MaxRounds + 10L
    val docs = (0L until n).toDF("doc_id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val groups = labels(Closure.components(docs, chain))
    assert(groups.size === n)
    assert(groups.values.forall(_ === 0L), "whole chain is one component")
  }

  test("star rounds close a 4096-node RANDOM-id path within the round cap") {
    import spark.implicits._
    // the sequential-id chain above flatters any min-chasing scheme: copy
    // ids ascend along ε-clone chains, so each node's neighbor-min already
    // points far back. Honest geometry has random ids along a long path —
    // label propagation is O(diameter) rounds there, which blew the
    // 30-round cap on the indep x100 rank table (r17). A deterministic
    // multiplicative permutation scrambles ids along a 4096-node path.
    val n = 4096L
    val p = 4099L // prime > n; k=3001 coprime → a permutation of 1..4098
    def perm(i: Long): Long = (i + 1L) * 3001L % p
    val ids = (0L until n).map(perm)
    val docs = ids.toDF("doc_id")
    val path = (0L until n - 1).map(i => (perm(i), perm(i + 1)))
      .toDF("doc_a", "doc_b")
    var comp: org.apache.spark.sql.DataFrame = null
    // one job per round plus the label job: the round count of this graph,
    // pinned so that a change to the rounds shows its cost here
    assert(jobsDuring { comp = Closure.components(docs, path) } === 13)
    val groups = labels(comp)
    assert(groups.size === n)
    val minId = ids.min
    assert(groups.values.forall(_ === minId),
      "random-id path must resolve to one component at the global min")
  }

  test("min-label propagation == union-find on random graphs") {
    import spark.implicits._
    // a handful of randomized graphs (each case runs a real multi-job
    // propagation loop, so the case count stays small); the union-find
    // is an independent algorithm computing the same component minima.
    // Cases past the eighth also pass head-start labels: each seeded doc
    // starts at the min over a short random walk from it (itself
    // included), a valid intermediate propagation state.
    val rng = new scala.util.Random(1234L)
    val walkRng = new scala.util.Random(5678L)
    (1 to 12).foreach { c =>
      val n = 10 + rng.nextInt(40)
      val nEdges = rng.nextInt(2 * n)
      val edges = Seq.fill(nEdges) {
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupMap(_._1)(_._2)
      val init = Option.when(c > 8) {
        (0L until n.toLong).filter(_ => walkRng.nextBoolean()).map { d =>
          val walk = Iterator.iterate(d) { v =>
            adj.get(v).fold(v)(ns => ns(walkRng.nextInt(ns.length)))
          }.take(1 + walkRng.nextInt(6))
          (d, walk.min)
        }.toDF("doc_id", "group_id")
      }
      assertUnionFind(s"case $c", 0L until n.toLong, edges, init)
    }
  }

  test("union-find twin on multigraphs: repeated, reversed and self " +
      "pairs, identity init") {
    import spark.implicits._
    val rng = new scala.util.Random(4321L)
    (1 to 4).foreach { c =>
      val n = 20 + rng.nextInt(20)
      val base = Seq.fill(n) {
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
      }
      // every pair twice, once reversed, plus self-pairs on some docs
      val edges = base ++ base ++ base.map(_.swap) ++
        (0L until n.toLong by 3).map(d => (d, d))
      // identity rows on every fourth doc, isolated or not
      val init = (0L until n.toLong by 4).map(d => (d, d))
        .toDF("doc_id", "group_id")
      assertUnionFind(s"multigraph $c", 0L until n.toLong, edges,
        Some(init))
    }
    // init only on isolated docs: the edges leave 5..9 alone
    assertUnionFind("isolated init", 0L until 10L,
      Seq((0L, 1L), (1L, 2L), (3L, 4L)),
      Some((5L until 10L).map(d => (d, d)).toDF("doc_id", "group_id")))
  }

  test("union-find twin on deep random-id graphs: a 64×64 grid and a " +
      "binary tree") {
    // ids scrambled by a multiplicative permutation of 1..4096 mod the
    // prime 4099, so neither graph's id order follows its geometry
    def perm(i: Long): Long = (i + 1L) * 3001L % 4099L
    val side = 64L
    val grid = for {
      r <- 0L until side; c <- 0L until side
      (dr, dc) <- Seq((0L, 1L), (1L, 0L)) if r + dr < side && c + dc < side
    } yield (perm(r * side + c), perm((r + dr) * side + c + dc))
    assertUnionFind("grid", (0L until side * side).map(perm), grid, None)
    val tree = (1L until 4095L).map(i => (perm((i - 1) / 2), perm(i)))
    assertUnionFind("tree", (0L until 4095L).map(perm), tree, None)
  }

  test("d6's closure over the sf0.001 bands runs a pinned job count") {
    val s = spark
    val bands = Dedup.bandRows(s, sfDir)
    val docs = graft.sources.Tables.documents(s, sfDir)
    // the round count of the rep-seeded d6 graph plus the jobs of the
    // bucket, pair and head-start frames
    assert(jobsDuring(Dedup.dedupGroupsFromBands(bands, docs)) === 9)
  }

  test("bucket entry point closes a random-id 100-node path to its min") {
    import spark.implicits._
    // the d6/p1 face: one two-doc LSH bucket per path edge, ids
    // scrambled along the path: the rep-seeded head start moves each
    // label one hop, and one hop per round would pass the round cap
    val n = 100L
    def perm(i: Long): Long = (i * 37L + 11L) % 101L // distinct for i < 101
    val ids = (0L until n).map(perm)
    val bands = (0L until n - 1).flatMap { i =>
      Seq((perm(i), 0, s"e$i"), (perm(i + 1), 0, s"e$i"))
    }.toDF("doc_id", "band", "key")
    val groups = labels(Dedup.dedupGroupsFromBands(bands, ids.toDF("doc_id")))
    assert(groups.size === n)
    assert(groups.values.toSet === Set(ids.min))
  }

  test("a throw mid-closure leaves nothing it persisted still persisted") {
    import spark.implicits._
    val sc = spark.sparkContext
    val docs = (1L to 20L).toDF("doc_id")
    // the edge list is first evaluated by round 1's job; a range,
    // not a local Seq, whose projection the optimizer would fold (and
    // throw) while planning, before anything is persisted
    val pairs = spark.range(1L, 20L)
      .select(when(col("id") > 10L, raise_error(lit("bad pair")))
        .otherwise(col("id")).cast("long").as("doc_a"),
        (col("id") + 1L).as("doc_b"))
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[Exception] {
      Closure.components(docs, pairs,
        init = Some(Seq((2L, 1L)).toDF("doc_id", "group_id")))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("bad pair")))
    // ids, not a count: the ContextCleaner may drop an earlier test's
    // RDDs meanwhile, which a size comparison would misread
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}

object ClosureSpec {
  /** Driver-side union-find over a (small, collected) edge set. */
  def unionFind(edges: Set[(Long, Long)]): Long => Long = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    find
  }
}
