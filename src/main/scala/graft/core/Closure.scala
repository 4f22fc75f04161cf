package graft.core

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The transitive closure under every grouping query: connected
  * components of an undirected edge list, each node labeled with the
  * minimum id of its component.
  *
  * Alternating large-star and small-star rounds (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014) rewire the
  * edges inside each component until it is a star around its minimum.
  * Large-star links every node's larger neighbors to the minimum of its
  * closed neighborhood; small-star links every node and its smaller
  * neighbors to the minimum among them. Neither step changes which nodes
  * are connected, and the star forest is the only edge set a round leaves
  * unchanged, so the loop stops at the first round that changes no edge.
  * The round count does not follow the diameter: Kiveris et al. bound it
  * by O(log² n), and a 4096-node random-id path closes in 12 rounds, where
  * label propagation needs O(diameter).
  *
  * The rounds are RDD operations on (node, neighbor) pairs, kept in both
  * orientations and partitioned by one HashPartitioner, sized like the
  * pairs' own partitioning and capped by the session's SQL shuffle
  * partitions. Large-star groups the edge list where it lies,
  * small-star and the regrouped result shuffle once each, and one job per
  * round also compares the new edge list with the old, partition by
  * partition. No Catalyst plan is built inside the loop. Each round's
  * edges are persisted and cut from their lineage (`localCheckpoint`),
  * and the previous round's are released.
  */
object Closure {

  /** Round cap: a graph still changing after this many rounds fails
    * loudly rather than emitting half-merged groups.
    */
  val MaxRounds = 30

  /** Connected components of `pairs` over the universe `docs`.
    *
    * Precondition: every `pairs` endpoint is a `docs` id. Unchecked: every
    * caller derives its pairs from its universe.
    *
    * @param docs  (doc_id) universe — isolated docs become singletons
    * @param pairs (doc_a, doc_b) undirected edges
    * @param init  optional (doc_id, group_id) head-start labels — each
    *              label the min of the doc's own id and some ids
    *              reachable from it, e.g. `Dedup.repInitFromBuckets`;
    *              each row enters the rounds as one more edge
    * @return (doc_id, group_id = min reachable doc_id), persisted; on a
    *         throw nothing this call persisted stays persisted
    */
  def components(docs: DataFrame, pairs: DataFrame,
      init: Option[DataFrame] = None): DataFrame = {
    val s = docs.sparkSession
    def longPairs(df: DataFrame, a: String, b: String): RDD[(Long, Long)] =
      df.select(col(a).cast("long"), col(b).cast("long")).rdd
        .map(r => (r.getLong(0), r.getLong(1)))
    val input = longPairs(pairs, "doc_a", "doc_b")
    // the partition count adaptive execution gave the pairs, capped by the
    // session's SQL shuffle partitions: a fixed count would run a small
    // graph's rounds as mostly empty tasks. At least one, for the docs'
    // labels when there are no pairs.
    val part = new HashPartitioner(math.max(1, math.min(
      input.getNumPartitions,
      s.conf.get("spark.sql.shuffle.partitions").toInt)))
    // both orientations, keyed by `part`, without self-loops or duplicates
    def undirected(e: RDD[(Long, Long)]): RDD[(Long, Long)] = e
      .flatMap { case (a, b) => if (a == b) Nil else List((a, b), (b, a)) }
      .groupByKey(part).flatMapValues(_.toSet)
    var held = List.empty[RDD[(Long, Long)]]
    def keep(r: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      held ::= r.localCheckpoint()
      r
    }
    try {
      var edges = keep(undirected(s.sparkContext.union(
        input +: init.map(longPairs(_, "doc_id", "group_id")).toSeq)))
      var changed = true
      var round = 0
      while (changed && round < MaxRounds) {
        // large-star: u's larger neighbors link to min(u, neighbors of u)
        val large = edges.groupByKey().flatMap { case (u, ns) =>
          val m = math.min(u, ns.min)
          ns.iterator.filter(_ > u).map(v => (v, m))
        }
        // small-star: u and its smaller neighbors link to their minimum
        val next = keep(undirected(large.groupByKey(part).flatMap {
          case (u, ns) =>
            val m = ns.min
            (ns.iterator ++ Iterator(u)).map(v => (v, m))
        }))
        changed = edges.zipPartitions(next) { (a, b) =>
          Iterator(a.toSet != b.toSet)
        }.collect().contains(true)
        edges.unpersist(blocking = false)
        edges = next
        round += 1
      }
      require(!changed,
        s"connected components still changing after $MaxRounds rounds")
      // each component is a star around its minimum: a node's label is
      // the least of its own id and its neighbors'
      val labels = keep(longPairs(docs, "doc_id", "doc_id")
        .union(edges.map { case (v, w) => (v, math.min(v, w)) })
        .reduceByKey(part, math.min(_, _)))
      labels.count()
      edges.unpersist(blocking = false)
      s.createDataFrame(labels).toDF("doc_id", "group_id")
    } catch {
      case e: Throwable =>
        held.foreach(_.unpersist(blocking = false))
        throw e
    }
  }
}
