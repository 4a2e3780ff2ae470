package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Type-hierarchy reachability validation — the reference's
  * ParentFinder (create_collections.py:548-607) re-expressed for a
  * cluster: member validation asks "does this entity's type reach an
  * allowed target type walking UP the `subclass_of` DAG?", with a
  * one-hop `same_as` redirect fallback wherever a node has no entry
  * of its own (create_collections.py:571-577), applied to every
  * member of every collection (validate_members,
  * create_collections.py:638).
  *
  * The reference DFS-walks the DAG per (member-type, target) pair
  * with an LRU cache. Distributed, the right inversion is to compute
  * — ONCE — the set of types that reach ANY allowed target:
  * has_path(s, t) over subclass edges is exactly "s is a descendant
  * of t", so a reverse BFS from the targets down the redirect-
  * resolved edge list yields the full valid-type set in
  * O(depth) rounds over the TYPE graph (millions of nodes at
  * Wikidata scale — tiny next to the member corpus). Member
  * validation then costs ONE semi-join of member seed types against
  * that set: the 100 TB side of the job never iterates.
  *
  * Cycles (present in real Wikidata subclass data) are harmless: the
  * frontier is a growing set under union-distinct, so a cycle simply
  * stops contributing once absorbed — same fixpoint semantics as the
  * reference's `visited` set.
  */
object Reachability {

  /** Redirect-resolved edge list: a node WITH its own entry keeps its
    * edges; a node with no entry but a `same_as` redirect borrows the
    * redirect target's outgoing edges (one-hop, per the reference —
    * redirects-to-redirects stay unresolved there too).
    *
    * @param subclass columns `child`, `parent`
    * @param sameAs   columns `from`, `to` (one row per redirect)
    */
  def effectiveEdges(subclass: DataFrame, sameAs: DataFrame): DataFrame = {
    // "no entry of its own" = never appears as a subclass child;
    // anti-join keeps the semantics honest even if a caller passes
    // redirects for nodes that DO have entries (entry wins, as in the
    // reference's try/except order)
    val borrowed = sameAs
      .join(subclass.select(col("child").as("has_entry")).distinct(),
        col("from") === col("has_entry"), "left_anti")
      .join(subclass, col("to") === col("child"))
      .select(col("from").as("child"), col("parent"))
    subclass.select("child", "parent").union(borrowed).distinct()
  }

  /** All nodes that reach any target along `edges` (child → parent),
    * targets included. Iterative frontier expansion with the d06/g05
    * loop discipline: every round ends in an EAGER localCheckpoint
    * (the reach set feeds both the join and the union — the plan
    * would double per round) and a non-converged exit THROWS instead
    * of returning a silently partial closure. A type graph under the
    * driver-finish gate ([[SizePolicy]]) is solved EXACTLY in one task
    * (collect + DFS + parallelize the set back) — the
    * Components/PageRank economics: below ~2M edges, per-round job
    * scheduling costs more than walking an adjacency map on the
    * driver. Both paths are spec-pinned identical. The edge caches
    * are released before the call returns or throws.
    *
    * @param edges   columns `child`, `parent`
    * @param targets column `node`
    */
  def reachingSet(edges: DataFrame, targets: DataFrame,
                  maxRounds: Int = 20): DataFrame = {
    val e0 = edges.select(col("child"), col("parent"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the first action materializes the edge cache and sizes both
      // gates
      val (nEdges, nodesUpper) = SizePolicy.measure(e0, "child", "parent")
      if (SizePolicy.driverFinish(nEdges)) return driverFinish(e0, targets)
      // Per-round join-side policy (SizePolicy, guide §2.4/§3.1): the
      // reach set is node-sized and its count is FREE (the convergence
      // check counts it every round) — broadcast it while it fits, so
      // the cached edge list is never re-exchanged or sorted; when the
      // closure can outgrow the cap (node count over the byte gate),
      // pre-partition the edge cache on the join key (parent) once and
      // hint shuffled-hash on the reach side. Spec-pinned: broadcast ==
      // fallback == driver finish (GraphLoopsSpec).
      val allFit = SizePolicy.broadcasts(nodesUpper,
        SizePolicy.keyedLongRowBytes)
      var reach = targets.select(col("node")).distinct()
        .localCheckpoint(true)
      // reach is checkpointed — e0 has no other reader left
      val e = SizePolicy.loopEdges(e0, "parent", allFit)
      try {
        var size = reach.count()
        var converged = false
        var round = 0
        while (!converged && round < maxRounds) {
          val rSide = SizePolicy.sideFor(
            reach.select(col("node").as("parent")),
            SizePolicy.broadcasts(size, SizePolicy.keyedLongRowBytes))
          val next = e
            .join(rSide, Seq("parent"))
            .select(col("child").as("node"))
            .union(reach.select("node"))
            .distinct()
            .localCheckpoint(true)
          val nextSize = next.count()
          converged = nextSize == size
          size = nextSize
          reach = next
          round += 1
        }
        if (!converged) throw new IllegalStateException(
          s"reachingSet: not converged after $maxRounds rounds")
        reach
      } finally e.unpersist(false)
    } finally e0.unpersist(false)
  }

  /** Exact single-task closure for a bounded type graph: reverse
    * adjacency map + stack DFS from the targets — the identical
    * fixpoint, computed without per-round job scheduling. Ids keep
    * their NATIVE type (the Components lesson: a silent cast nulls
    * non-numeric ids). */
  private def driverFinish(e: DataFrame, targets: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val idType = e.schema("child").dataType
    val pairs = e.collect().map(r => (r.get(0), r.get(1)))
    val children =
      scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
    pairs.foreach { case (c, p) =>
      children.getOrElseUpdate(p,
        scala.collection.mutable.ArrayBuffer.empty[Any]) += c
    }
    val seeds = targets.select(col("node")).distinct()
      .collect().map(_.get(0))
    val visited = scala.collection.mutable.HashSet[Any](seeds.toSeq: _*)
    var stack = seeds.toList
    while (stack.nonEmpty) {
      val cur = stack.head
      stack = stack.tail
      children.getOrElse(cur, Nil).foreach { c =>
        if (!visited(c)) { visited += c; stack = c :: stack }
      }
    }
    val rows = visited.iterator.map(Row(_)).toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("node", idType))))
  }

  /** validate_members, distributed: keep the members whose
    * (redirect-resolved) seed types intersect the reaching set. The
    * reaching set is |type graph|-bounded — broadcast it while its
    * estimated bytes fit (one long key + hashed-relation overhead,
    * ~16 B/row against a ~100 MB cap ≈ 6M types) so the member side
    * (the corpus-scale side) never shuffles; past the cap the
    * semi-join shuffles both sides, which is the honest cost — the
    * SizePolicy gate the Triangles closing edges also take.
    *
    * @param memberTypes columns `member`, `tid` (seed type
    *                    assignments, already redirect-resolved)
    * @param reach       column `node` (from [[reachingSet]])
    * @return distinct `member` keys that validate
    */
  def validMembers(memberTypes: DataFrame, reach: DataFrame): DataFrame = {
    val r = reach.select(col("node").as("tid"))
    // reachingSet returns a materialized set — this count is cheap
    val keyed = if (SizePolicy.broadcasts(r.count(), SizePolicy.keyRowBytes))
      broadcast(r) else r
    memberTypes.join(keyed, Seq("tid"), "left_semi")
      .select("member").distinct()
  }
}
