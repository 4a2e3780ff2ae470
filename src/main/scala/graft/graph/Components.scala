package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over a pair graph — the step that
  * turns near-duplicate PAIRS (d02/d03/d04/d05 output) into dedup
  * CLUSTERS so a corpus keeps exactly one representative per group.
  *
  * Reference analog: create_merged.py:992 (remove_duplicates) keeps
  * one collection per duplicate group via an in-RAM dict; at corpus
  * scale the duplicate relation is a graph whose transitive closure
  * must be computed distributed.
  *
  * Algorithm: iterative min-label propagation with POINTER JUMPING.
  * Each round every node adopts the minimum label among itself and
  * its neighbours (one shuffle join + one aggregate), then labels are
  * shortcut through themselves (label := label-of-label, one more
  * join) — the classic pointer-doubling step that halves chain
  * lengths, so convergence is O(log n) rounds instead of O(diameter).
  * That matters beyond asymptotics: a near-dup graph at corpus scale
  * routinely grows a giant sparse component whose diameter is in the
  * thousands (observed at sf0.1: a 2 729-node component that plain
  * propagation left unconverged after 20 rounds). The convergence
  * check (`changed == 0` after the neighbour-min step — a local
  * fixpoint of neighbour-min is constant per component, hence the
  * global minimum) is a scalar count, not a collect; an unconverged
  * exit throws instead of returning silently wrong labels.
  *
  * Each round ends in an EAGER `localCheckpoint`: `labels` feeds the
  * next round twice (neighbour minima + the left side of the update
  * join), so without truncation the logical plan doubles per round —
  * exponentially growing analysis time (observed minutes of
  * `Expression.toString` by round ~8). Checkpointing also pins the
  * round's result so parallel consumers cannot race-recompute it. On
  * a cluster, a reliable `checkpoint` (HDFS/S3) does the same job
  * with executor-loss tolerance; the algorithm is unchanged.
  */
object Components {

  /** PRECONDITION: every edge endpoint appears in `nodes` — an
    * endpoint missing from `nodes` carries no label, so paths through
    * it would not merge (and it is absent from the output). Dedup
    * callers satisfy this trivially (pairs come from the doc set).
    *
    * An edge set under the driver-finish gate ([[SizePolicy]]) is
    * solved EXACTLY in one task (collect + union-find + broadcast the
    * label mapping back) — the same small-side economics as a
    * broadcast join, and the common case once upstream pair
    * generation has pruned a corpus. Larger graphs take the
    * distributed loop. Either way the edge caches are released before
    * the call returns or throws.
    *
    * @param nodes one column `id` — every vertex (isolated vertices
    *              become their own singleton component)
    * @param edges columns `id1`,`id2` — undirected near-dup pairs
    * @return (id, component) where component = min id reachable
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 20): DataFrame = {
    val e = edges.select(col("id1"), col("id2"))
      .filter(col("id1") =!= col("id2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (SizePolicy.driverFinish(e.count()))
        return driverFinish(nodes, e)
      // eager: materialized now, logical plan truncated (see scaladoc)
      var labels = nodes.select(col("id"), col("id").as("component"))
        .localCheckpoint(true)
      // Per-round join-side policy (SizePolicy, guide §2.4/§3.1): the
      // label/nbrMin/ptr sides are all bounded by |nodes| — under the
      // byte gate every per-round join BROADCASTS its node-sized side,
      // so the edge stream is never exchanged or sorted; past it the
      // symmetrized edge list persists pre-partitioned on its join key
      // (dst) and node-sized sides carry shuffled-hash hints. This loop
      // keeps both: its few rounds do not amortize the up-front
      // repartition, and the broadcast branch measured faster on
      // GraphLoopBench's 300K-node graph (CHANGES.md). Spec-pinned:
      // broadcast == fallback == driver finish (GraphLoopsSpec).
      val bcast = SizePolicy.broadcasts(labels.count(),
        SizePolicy.keyedLongRowBytes)
      val sym = SizePolicy.loopEdges(
        e.select(col("id1").as("src"), col("id2").as("dst"))
          .union(e.select(col("id2").as("src"), col("id1").as("dst"))),
        "dst", bcast)
      try {
        var iter = 0
        var converged = false
        while (!converged && iter < maxIter) {
          // neighbour minima: one join (node side broadcast/SHJ-built)
          // + one aggregate
          val nbrMin = sym
            .join(SizePolicy.sideFor(labels.select(col("id").as("dst"),
              col("component").as("nbr")), bcast), Seq("dst"))
            .groupBy("src").agg(min(col("nbr")).as("nbr_min"))
          // materialized eagerly: stepA feeds BOTH sides of the
          // pointer-jump self-join below (different join keys, so
          // ReuseExchange cannot dedupe the subtree) — without the
          // checkpoint the neighbour-min join + aggregate would
          // execute twice per round
          val stepA = labels
            .join(SizePolicy.sideFor(
              nbrMin.select(col("src").as("id"), col("nbr_min")),
              bcast), Seq("id"), "left")
            .select(col("id"),
              least(col("component"), coalesce(col("nbr_min"),
                col("component"))).as("component"),
              (col("nbr_min").isNotNull &&
                col("nbr_min") < col("component")).as("changed"))
            .localCheckpoint(true)
          // convergence check BEFORE the jump: a neighbour-min fixpoint
          // is constant per component, hence already the global minimum
          val changed = stepA.filter(col("changed")).count()
          // pointer jumping: component := label(component). Labels only
          // ever decrease and always name a node of the same component,
          // so the shortcut preserves the invariant while collapsing
          // label chains exponentially.
          val ptr = stepA.select(col("id").as("cid"),
            col("component").as("cc"))
          labels = stepA.as("x")
            .join(SizePolicy.sideFor(ptr, bcast).as("p"),
              col("x.component") === col("p.cid"), "left")
            .select(col("x.id").as("id"),
              coalesce(col("p.cc"), col("x.component")).as("component"))
            .localCheckpoint(true)
          converged = changed == 0
          iter += 1
        }
        if (!converged) throw new IllegalStateException(
          s"connectedComponents: not converged after $maxIter rounds")
        labels
      } finally sym.unpersist(false)
    } finally e.unpersist(false)
  }

  /** Exact single-task finish for a bounded edge set: union-find with
    * path compression, roots normalized to the component minimum, and
    * the (changed-only) mapping broadcast back onto the node set.
    *
    * Ids are collected in their NATIVE type — an unconditional
    * `cast("long")` would turn non-numeric ids into null silently
    * (non-ANSI cast), collapsing unrelated nodes under one union-find
    * key while the distributed loop handled them correctly. The
    * "minimum label" order matches the loop's `least`/`min` for every
    * supported type; an id type neither path can order throws
    * instead of corrupting labels. */
  private def driverFinish(nodes: DataFrame, e: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val idType = e.schema("id1").dataType
    implicit val ord: Ordering[Any] = idOrdering(idType)
    val pairs = e.select(col("id1"), col("id2")).collect()
      .map(r => (r.get(0), r.get(1)))
    e.unpersist(false)
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent(c); parent(c) = r; c = nxt
      }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // union by min keeps the invariant root = component minimum
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    val members = pairs.iterator.flatMap(p => Iterator(p._1, p._2))
      .toSet.iterator.map((m: Any) => Row(m, find(m))).toSeq
    val mapDf = spark.createDataFrame(
      spark.sparkContext.parallelize(members, 1),
      StructType(Seq(StructField("id", idType),
        StructField("graft_cc_root", idType))))
    nodes.select(col("id"))
      .join(broadcast(mapDf), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("graft_cc_root"), col("id")).as("component"))
  }

  /** Natural ordering per id type, matching Catalyst's `min`
    * semantics on the same column so both finish paths agree. */
  private def idOrdering(dt: DataType): Ordering[Any] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Ordering.by((x: Any) => x.asInstanceOf[Number].longValue)
    case FloatType | DoubleType =>
      Ordering.by((x: Any) => x.asInstanceOf[Number].doubleValue)
    case StringType => new Ordering[Any] {
      // Catalyst compares strings as UNSIGNED UTF-8 BYTES; JVM
      // String.compareTo is UTF-16 code units — the two disagree on
      // supplementary-plane characters (U+1F600 sorts below U+FFFF in
      // UTF-16, above it in UTF-8), which would make the two finish
      // paths pick different component roots
      private val utf8 = java.nio.charset.StandardCharsets.UTF_8
      override def compare(x: Any, y: Any): Int =
        java.util.Arrays.compareUnsigned(
          x.asInstanceOf[String].getBytes(utf8),
          y.asInstanceOf[String].getBytes(utf8))
    }
    case _: DecimalType =>
      Ordering.by((x: Any) => x.asInstanceOf[java.math.BigDecimal])
    case other => throw new IllegalArgumentException(
      s"connectedComponents: unsupported id type $other")
  }

  /** Components plus per-component size — the usual dedup report
    * (keep the representative where id == component, drop the rest).
    */
  def componentSizes(nodes: DataFrame, edges: DataFrame,
                     maxIter: Int = 20): DataFrame = {
    val comp = connectedComponents(nodes, edges, maxIter)
    comp.join(
      comp.groupBy("component").agg(count(lit(1)).as("cluster_size")),
      Seq("component"))
      .select("id", "component", "cluster_size")
  }
}
