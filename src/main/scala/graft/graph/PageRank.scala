package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed PageRank with EXACT integer arithmetic — every rank is
  * an integer in 1e-12 units of probability mass, every contribution
  * is a floor division, so iteration results are bit-identical on any
  * engine, any partitioning, any summation order (float power
  * iteration drifts by ulps per round and can never hash-match an
  * oracle). The quantization (≤ 1 unit per edge per round, ~1e-12) is
  * part of the DEFINED semantics, mirrored verbatim by the DuckDB
  * oracle's unrolled CTEs.
  *
  * Per round: one shuffle join (ranks onto the edge list, key = src)
  * and one aggregate (contributions by dst) — the canonical scale
  * shape. The edge list with out-degrees attached is persisted ONCE
  * and reused by every round; ranks (one row per node) end each round
  * eagerly localCheckpoint'ed, truncating the logical plan
  * (CLAUDE.md iterative-loop rule) so round k's plan doesn't embed
  * rounds 1..k-1.
  *
  * Callers pass an undirected-symmetrized or otherwise sink-free edge
  * list: a node with no out-edges (dangling) would leak its mass —
  * this implementation asserts every node has outdeg ≥ 1 by
  * construction (nodes are taken FROM the edge sources).
  *
  * Reference analog: precompute_related.py builds the related-
  * collections graph; ranking nodes by centrality over that graph is
  * the natural "which collections matter" extension.
  */
object PageRank {

  private val total = 1000000000000L // 1e12 mass units

  /** @param edges directed edge list, columns `src`, `dst` (any
    *              integral type; nodes = distinct sources). A row with
    *              a null endpoint is dropped before the gate count, on
    *              every path — as are the persisted edge caches before
    *              the call returns or throws.
    * @param iters fixed iteration count (deterministic by design —
    *              convergence-based stopping would make the output
    *              depend on float comparisons)
    * @return (node, rank_u) where rank_u is the integer rank in
    *         1e-12 mass units after `iters` rounds
    */
  def pageRank(edges: DataFrame, iters: Int = 5,
               dampNum: Long = 17L, dampDen: Long = 20L): DataFrame =
    run(edges, None, iters, dampNum, dampDen)

  /** Personalized PageRank: teleport mass lands ONLY on `seeds`
    * (uniformly, in exact integer units), so ranks measure proximity
    * to the seed set rather than global centrality — the "related to
    * THIS collection" ranking, vs g01's "globally central". Identical
    * arithmetic contract: 1e-12 mass units, floor-division
    * contributions, bit-identical on any engine/partitioning.
    *
    * Seeds outside the node set are ignored (a seed with no out-edges
    * would leak its teleport mass every round); at least one seed
    * must survive the intersection.
    *
    * @param seeds one column `node` (any integral type)
    */
  def personalized(edges: DataFrame, seeds: DataFrame, iters: Int = 5,
                   dampNum: Long = 17L, dampDen: Long = 20L): DataFrame =
    run(edges, Some(seeds), iters, dampNum, dampDen)

  /** BLOCK-personalized PageRank: many seed cohorts through ONE
    * shared loop. Rank state is SPARSE — a (cohort, node, rank) row
    * exists only while rank > 0, and the exact integer arithmetic
    * makes that pruning LOSSLESS (a zero rank contributes exactly
    * zero next round — no float residue), so state grows with each
    * cohort's mass-reached neighbourhood, never |cohorts| × |nodes|.
    * Per round: ONE shuffle join on the edge source and ONE
    * aggregate keyed (cohort, dst) for every cohort together — k
    * separate PPR runs would scan the edge list k times and pay k×
    * the round scheduling. Cohorts whose seeds all fall outside the
    * node set simply vanish (no surviving teleport mass). Below the
    * edge bound, the same exact driver finish as [[pageRank]], per
    * cohort over one collected edge array; spec-pinned identical.
    *
    * `cohortBatchSize` bounds the shared loop's state past the
    * driver bound: with MANY cohorts (a site serving thousands of
    * collections), Σ per-cohort reached-neighbourhood rows can
    * exceed executor memory even though each cohort alone is tiny.
    * Batching runs ⌈k / B⌉ sequential loops of ≤ B cohorts each
    * over the SAME persisted degree-attached edge list (one edge
    * persist total — batches re-scan the cache, not the source), so
    * peak state is the largest batch's neighbourhood while the
    * amortized edge-scan sharing within a batch is kept. Cohorts
    * are independent, so batched output is bit-identical to the
    * single-loop output (spec-pinned). Default = one batch.
    *
    * @param seeds columns `cohort`, `node`
    * @return (cohort, node, rank_u), rows with rank_u > 0 only
    */
  def blockPersonalized(edges: DataFrame, seeds: DataFrame,
                        iters: Int = 5,
                        dampNum: Long = 17L, dampDen: Long = 20L,
                        cohortBatchSize: Int = Int.MaxValue)
    : DataFrame = {
    require(cohortBatchSize > 0, "cohortBatchSize must be positive")
    require(iters >= 0 && dampNum > 0 && dampDen >= dampNum)
    val e0 = rawEdges(edges)
    try {
      val teleport = total - total * dampNum / dampDen
      if (SizePolicy.driverFinish(e0.count())) {
        // raw-edge driver finish (see run()): one cohort iteration each
        val g = distinctTargets(LocalGraph.collect(e0))
        val seedRows = seeds.select(col("cohort").cast("long"),
            col("node").cast("long")).distinct()
          .collect().map(r => (r.getLong(0), g.index(r.getLong(1))))
          .filter { case (_, i) => i >= 0 && g.degree(i) > 0 }
        require(seedRows.nonEmpty,
          "blockPersonalized: no cohort has a seed inside the graph")
        val out = seedRows.groupBy(_._1).toSeq.flatMap { case (c, rows) =>
          val r = iterate(g, rows.map(_._2), iters, dampNum, dampDen)
          r.indices.filter(r(_) > 0L).map(i => (c, g.ids(i), r(i)))
        }
        return g.toDF(out, "cohort", "node", "rank_u")
      }
      val ed = degreeEdges(e0)
      e0.unpersist(false)
      try {
        val sources = ed.select(col("src").as("node")).distinct()
        val svAll = seeds.select(col("cohort").cast("long"),
            col("node").cast("long")).distinct()
          .join(sources, Seq("node"), "left_semi")
          .localCheckpoint(true) // feeds batch splits + every bases build
        // cohort ids are query inputs (thousands at most — each is a
        // curated seed list), so the batch split collects them
        val cohortIds = svAll.select("cohort").distinct()
          .orderBy("cohort").collect().map(_.getLong(0))
        require(cohortIds.nonEmpty,
          "blockPersonalized: no cohort has a seed inside the graph")
        def runBatch(sv: DataFrame): DataFrame = {
          val bases = sv
            .join(sv.groupBy("cohort").agg(count(lit(1)).as("ns")),
              "cohort")
            .select(col("cohort"), col("node"),
              expr(s"$teleport DIV ns").as("base"),
              expr(s"$total DIV ns").as("r0"))
            .localCheckpoint(true) // feeds EVERY round's full-outer join
          var ranks = bases.select(col("cohort"), col("node"),
            col("r0").as("r")).localCheckpoint(true)
          for (_ <- 0 until iters) {
            // the sparse rank side is shuffled-hash built; the cached
            // ed plan is hash-partitioned on src (SizePolicy)
            val contrib = ed
              .join(SizePolicy.sideFor(ranks, bcast = false),
                ed("src") === ranks("node"))
              .select(col("cohort"), col("dst").as("node"),
                expr(s"(r * $dampNum) DIV (deg * $dampDen)").as("c"))
              .groupBy("cohort", "node").agg(sum("c").as("s"))
            // full outer: seeds keep their base even when unreached;
            // reached non-seeds appear with contribution only; exact
            // zeros are dropped — lossless under integer arithmetic
            ranks = bases.select(col("cohort"), col("node"), col("base"))
              .join(contrib, Seq("cohort", "node"), "full_outer")
              .select(col("cohort"), col("node"),
                (coalesce(col("base"), lit(0L)) +
                  coalesce(col("s"), lit(0L))).as("r"))
              .filter(col("r") > 0)
              .localCheckpoint(true)
          }
          ranks.select(col("cohort"), col("node"), col("r").as("rank_u"))
        }
        // every batch's final ranks are eagerly checkpointed, so the
        // union references no live edge lineage when ed unpersists
        cohortIds.grouped(cohortBatchSize).toSeq match {
          case Seq(_) => runBatch(svAll)
          case batches => batches.map { cs =>
            runBatch(svAll.filter(col("cohort").isin(cs: _*)))
          }.reduce(_ unionByName _)
        }
      } finally ed.unpersist(false)
    } finally e0.unpersist(false)
  }

  /** The raw `(src, dst)` projection as longs, persisted, with every
    * row that has a null endpoint dropped. The driver-finish gate
    * counts RAW rows (≥ the distinct count, so strictly conservative)
    * and the bounded path dedups ON THE DRIVER — the global distinct
    * exchange of the full edge list (1.2M rows at sf0.1 for g01/g04's
    * bipartite graph and g06) was the bounded path's biggest stage
    * (guide §2.4). The distributed path distincts from this cache,
    * one scan either way. */
  private def rawEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .na.drop().persist(StorageLevel.MEMORY_AND_DISK)

  /** The distinct edges of `e0` with each source's out-degree
    * attached (`src`, `dst`, `deg`), persisted and materialized for
    * every round; the distinct cache in between is released. */
  private def degreeEdges(e0: DataFrame): DataFrame = {
    val e = e0.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val ed = e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try { e.count(); ed.count(); ed }
    catch { case t: Throwable => ed.unpersist(false); throw t }
    finally e.unpersist(false)
  }

  /** The collected raw edges with each source's repeated targets
    * dropped — the driver-side twin of the distributed path's
    * `distinct` (per CSR slice, so ids may exceed 2^31). */
  private def distinctTargets(g: LocalGraph): LocalGraph = {
    val ts = g.targets.clone()
    val offsets = new Array[Int](g.n + 1)
    val targets = new Array[Int](ts.length)
    var m = 0
    for (i <- 0 until g.n) {
      val (lo, hi) = (g.offsets(i), g.offsets(i + 1))
      java.util.Arrays.sort(ts, lo, hi)
      for (k <- lo until hi if k == lo || ts(k) != ts(k - 1)) {
        targets(m) = ts(k); m += 1
      }
      offsets(i + 1) = m
    }
    g.withAdjacency(offsets, targets)
  }

  /** The driver finish's per-cohort iteration, shared by all three
    * entry points: rank starts at total / |cohort| on each cohort
    * node (all sources), and each of `iters` rounds gives every node
    * its teleport share (cohort nodes only) plus, per in-edge, the
    * source's (r·dampNum) DIV (outdeg·dampDen) — the distributed
    * loop's exact arithmetic. A zero rank contributes zero, so
    * skipping it is lossless. Returns the rank of every node index. */
  private def iterate(g: LocalGraph, cohort: Array[Int], iters: Int,
                      dampNum: Long, dampDen: Long): Array[Long] = {
    val teleport = total - total * dampNum / dampDen
    val base = new Array[Long](g.n)
    var r = new Array[Long](g.n)
    cohort.foreach { i =>
      base(i) = teleport / cohort.length
      r(i) = total / cohort.length
    }
    for (_ <- 0 until iters) {
      val next = base.clone()
      for (i <- 0 until g.n if r(i) > 0L && g.degree(i) > 0) {
        val c = (r(i) * dampNum) / (g.degree(i) * dampDen)
        if (c != 0L)
          for (k <- g.offsets(i) until g.offsets(i + 1))
            next(g.targets(k)) += c
      }
      r = next
    }
    r
  }

  private def run(edges: DataFrame, seeds: Option[DataFrame], iters: Int,
                  dampNum: Long, dampDen: Long): DataFrame = {
    require(iters >= 0 && dampNum > 0 && dampDen >= dampNum)
    val e0 = rawEdges(edges)
    try {
      val teleport = total - total * dampNum / dampDen
      // Exact driver finish on RAW edges: degrees, the node set and
      // the teleport/init vector are all derivable on the driver, so
      // the bounded path skips the deg aggregate, the attach join and
      // the 3-column collect entirely — two whole shuffles less than
      // finishing from the degree-attached list (measured ~1 s per
      // graph query at sf0.1). Arithmetic identical to the distributed
      // loop; the pinning specs cover every variant.
      if (SizePolicy.driverFinish(e0.count())) {
        val g = distinctTargets(LocalGraph.collect(e0))
        val sources = (0 until g.n).filter(g.degree(_) > 0).toArray
        val cohort = seeds match {
          case None =>
            require(sources.nonEmpty, "pageRank: empty graph")
            sources
          case Some(sd) =>
            val seedSet = sd.select(col("node").cast("long")).distinct()
              .collect().map(_.getLong(0)).toSet
            val sn = sources.filter(i => seedSet(g.ids(i)))
            require(sn.nonEmpty,
              "personalized pageRank: no seed is a graph node")
            sn
        }
        val r = iterate(g, cohort, iters, dampNum, dampDen)
        return g.toDF(sources.toSeq.map(i => (g.ids(i), r(i))),
          "node", "rank_u")
      }
      // edge list with out-degree attached, reused every round
      val ed = degreeEdges(e0)
      e0.unpersist(false)
      try {
        val nodeIds = ed.select(col("src").as("node")).distinct()
        // nodes carries each node's per-round teleport share (`base`)
        // and initial rank — a constant for plain PageRank, seed-only
        // for the personalized form; the loop below is shared verbatim
        val nodes = (seeds match {
          case None =>
            val n = nodeIds.count()
            require(n > 0, "pageRank: empty graph")
            nodeIds.withColumn("base", lit(teleport / n))
              .withColumn("r0", lit(total / n))
          case Some(sd) =>
            val seedSet = sd.select(col("node").cast("long")).distinct()
            val sn = nodeIds.join(seedSet, Seq("node"), "left_semi")
            val nSeeds = sn.count()
            require(nSeeds > 0,
              "personalized pageRank: no seed is a graph node")
            nodeIds.join(sn.withColumn("is_seed", lit(true)),
                Seq("node"), "left")
              .select(col("node"),
                when(col("is_seed"), lit(teleport / nSeeds)).otherwise(0L)
                  .as("base"),
                when(col("is_seed"), lit(total / nSeeds)).otherwise(0L)
                  .as("r0"))
        }).localCheckpoint(true)
        var ranks = nodes.select(col("node"), col("r0").as("r"))
          .localCheckpoint(true)
        for (_ <- 0 until iters) {
          val contrib = prContrib(ed, ranks, dampNum, dampDen)
          // every node has out-edges by construction; in a symmetrized
          // graph it therefore also has in-edges, but a directed caller
          // may have sources nobody links to — they keep just the base.
          // Per-round EAGER checkpoint: ranks feeds the next round only
          // once (linear lineage, unlike Components' doubling), and the
          // checkpoint keeps each round's plan flat — one deep 5-round
          // plan measured ~2x slower when its joins fell back to SMJ
          ranks = nodes.join(contrib, Seq("node"), "left")
            .select(col("node"),
              (col("base") + coalesce(col("s"), lit(0L))).as("r"))
            .localCheckpoint(true)
        }
        ranks.select(col("node"), col("r").as("rank_u"))
      } finally ed.unpersist(false)
    } finally e0.unpersist(false)
  }

  /** One PageRank contribution round over the persisted degree-
    * attached edge list — factored out so the round's physical plan
    * is inspectable (tools.GraphLoopBench `plans`). The rank side is
    * shuffled-hash built (SizePolicy): the cached ed plan is already
    * hash-partitioned on src by the deg join, so the edge side is
    * never re-exchanged or sorted. DIV = exact integral division on
    * longs — floor(double-div) could round across an integer boundary
    * and break the oracle. */
  private[graft] def prContrib(ed: DataFrame, ranks: DataFrame,
                               dampNum: Long, dampDen: Long): DataFrame =
    ed.join(SizePolicy.sideFor(ranks, bcast = false),
        ed("src") === ranks("node"))
      .select(col("dst").as("node"),
        expr(s"(r * $dampNum) DIV (deg * $dampDen)").as("c"))
      .groupBy("node").agg(sum("c").as("s"))
}
