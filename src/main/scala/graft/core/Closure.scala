package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** The transitive closure under every grouping query: connected
  * components of an undirected edge list by min-label propagation, each
  * node labeled with the minimum id of its component.
  *
  * Every node's label starts at its own id (or an `init` head start);
  * each round takes the min over the node's own and its neighbors'
  * labels, then chases the result one level through itself (pointer
  * jumping). Labels only decrease, so one aggregate per round (their
  * sum) detects the fixpoint. From round [[EscalateRound]] on, the step
  * also flows over the label stars (the pointer-jumping half of
  * large-star/small-star, Kiveris et al., SoCC 2014): shallow graphs
  * converge before that round and never pay for it; deep ones (long
  * random-id paths, mutual-kNN chains) converge in O(log diameter)
  * rounds instead of O(diameter).
  */
object Closure {

  /** Round cap: a graph still changing after this many rounds fails
    * loudly rather than emitting half-merged groups.
    */
  val MaxRounds = 30

  /** First round (1-based) that adds the star edges and chases the
    * fresh step through itself (f∘f). 4, down from 10 (r21): the sf0.1
    * ε-clone graph burned nine linear rounds before the round-10
    * escalation converged it in one — measured 10 → 6 rounds and
    * ~8.5 → ~4.5 s on the s13 closure. Graphs that converge within 3
    * rounds never pay the 4n-row star union.
    */
  val EscalateRound = 4

  /** Connected components of `pairs` over the universe `docs`.
    *
    * Precondition: every `pairs` endpoint is a `docs` id. An endpoint
    * outside `docs` still bridges the components it touches and gets an
    * output row, but its own id is never a label. Unchecked: every
    * caller derives its pairs from its universe.
    *
    * @param docs  (doc_id) universe — isolated docs become singletons
    * @param pairs (doc_a, doc_b) undirected edges
    * @param init  optional (doc_id, group_id) head-start labels — each
    *              label the min of the doc's own id and some ids
    *              reachable from it, e.g. `Dedup.repInitFromBuckets`;
    *              docs absent from it start at their own id
    * @return (doc_id, group_id = min reachable doc_id), persisted; on a
    *         throw nothing this call persisted stays persisted
    */
  def components(docs: DataFrame, pairs: DataFrame,
      init: Option[DataFrame] = None): DataFrame = {
    // pre-partitioned on the per-round join key (dst), so the edge list
    // is shuffled ONCE and every round only exchanges the label side.
    // Symmetrized by an explode (one scan of `pairs`, whose plan may be
    // an expensive verify join). One (v, v) self-edge per doc carries
    // the node's own label into each round's min-aggregate, so no
    // re-attachment join is needed and isolated docs still emit a row.
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .unionByName(docs.select(col("doc_id").as("src"),
        col("doc_id").as("dst")))
      .repartition(col("dst"))
      .persist()
    // Each round's labels are cut from their lineage: the plan references
    // `labels` twice per round and would otherwise double every round.
    // Not Dataset.localCheckpoint (r17): Spark 4 pins the origin plan's
    // size estimate into the new leaf, the join estimate multiplies it
    // twice per round, and ~25 rounds overflowed a BigInteger after a
    // 27-minute driver stall. The internal-row cut gives the leaf default
    // stats. Superseded rounds are unpersisted explicitly instead of
    // waiting for the ContextCleaner: round r−1 stays (it is `prevLabels`
    // and the cached parent of round r), r−2 and older go.
    var rounds: List[RDD[_]] = Nil // newest first
    var stepRdd: Option[RDD[_]] = None
    def cut(df: DataFrame): DataFrame = {
      val (c, rdd) = Bridge.cachedLineageCut(df)
      rounds = rdd :: rounds
      c // materialized by the stats job that follows every cut
    }
    // decimal(38,0) checksum: an exact Long sum overflows once n·maxId
    // passes 2^63. The same aggregate counts the rows, so the empty
    // universe costs nothing extra (sum over zero rows is null → ZERO).
    def labelStats(df: DataFrame): (java.math.BigDecimal, Long) = {
      val v = df.agg(sum(col("group_id").cast("decimal(38,0)")),
        count(lit(1))).head()
      (if (v.isNullAt(0)) java.math.BigDecimal.ZERO else v.getDecimal(0),
        v.getLong(1))
    }
    // a's labels chased one level through mapping b (label ∘ label):
    // labels stay component members, so composing never crosses a
    // component boundary
    def compose(a: DataFrame, b: DataFrame): DataFrame = {
      val hop = b.select(col("doc_id").as("h_doc"),
        col("group_id").as("h_grp"))
      a.join(hop, col("group_id") === col("h_doc"), "left")
        .select(col("doc_id"),
          least(col("group_id"), coalesce(col("h_grp"), col("group_id")))
            .as("group_id"))
    }
    // pointer stars v ↔ label(v), both directions
    def starEdges(l: DataFrame): DataFrame = l
      .where(col("doc_id") =!= col("group_id"))
      .select(explode(array(
        struct(col("doc_id").as("src"), col("group_id").as("dst")),
        struct(col("group_id").as("src"), col("doc_id").as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val seed = init match {
      case Some(i) =>
        docs.select(col("doc_id"))
          .join(i.withColumnRenamed("doc_id", "i_doc"),
            col("doc_id") === col("i_doc"), "left")
          .select(col("doc_id"),
            coalesce(col("group_id"), col("doc_id")).as("group_id"))
      case None => docs.select(col("doc_id"), col("doc_id").as("group_id"))
    }
    try {
      var labels = cut(seed)
      val (sum0, n0) = labelStats(labels)
      var prevLabels = labels
      var checksum = sum0
      var converged = n0 == 0L
      var round = 0
      while (!converged && round < MaxRounds) {
        val escalated = round + 1 >= EscalateRound
        // Propagation over a fixed edge set takes Θ(diameter) rounds
        // however labels are chased, and honest geometry has random ids
        // along long paths (the indep x100 rank table, r17). Escalated
        // rounds also step over the current AND previous round's stars:
        // the current star broadcasts a region's min to every member in
        // one hop; the previous one makes region merges O(1), since a
        // boundary node that just defected to a smaller min still has a
        // stale edge to its old center. Stars stay within a component,
        // so the fixpoint is unchanged.
        val effEdges =
          if (!escalated) edges
          else edges.unionByName(starEdges(labels))
            .unionByName(starEdges(prevLabels))
        val stepped = effEdges
          .join(labels, col("dst") === col("doc_id"))
          .groupBy(col("src")).agg(min(col("group_id")).as("group_id"))
          .select(col("src").as("doc_id"), col("group_id"))
        // Rounds 1–3 chase the step through the already-cut labels; shallow
        // graphs converge there without an extra materialization. Escalated
        // rounds chase the FRESH step through itself (f∘f), doubling the
        // influence distance against the post-relaxation state: the step
        // is cut once and backs both sides of the hop join. step(step(v))
        // is reachable by transitivity and labels stay monotone, so the
        // fixpoint is the plain relaxation's.
        val next =
          if (!escalated) cut(compose(stepped, labels))
          else {
            val (st, rdd) = Bridge.cachedLineageCut(stepped)
            stepRdd = Some(rdd)
            cut(compose(st, st))
          }
        val nextSum = labelStats(next)._1
        // the stats job materialized `next`: the step is no longer an
        // input to any future plan
        stepRdd.foreach(_.unpersist(blocking = false))
        stepRdd = None
        prevLabels = labels
        labels = next
        if (rounds.length > 2) {
          rounds.drop(2).foreach(_.unpersist(blocking = false))
          rounds = rounds.take(2)
        }
        converged = nextSum.compareTo(checksum) == 0
        checksum = nextSum
        round += 1
      }
      require(converged,
        s"label propagation still changing after $MaxRounds rounds")
      // only the final round's blocks back the returned frame
      rounds.drop(1).foreach(_.unpersist(blocking = false))
      labels
    } catch {
      case e: Throwable =>
        (stepRdd.toList ++ rounds).foreach(_.unpersist(blocking = false))
        throw e
    } finally edges.unpersist()
  }
}
