package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.LongMap

/** Community detection by synchronous label propagation (Raghavan,
  * Albert & Kumara 2007, public method): every node starts in its own
  * community (label = node id); each round, a node adopts the label
  * most frequent among its neighbours, ties broken toward the
  * SMALLEST label. The round count is FIXED (the [[PageRank]] /
  * [[KCore]] convention) so semantics are deterministic and an oracle
  * can unroll them — synchronous LPA can 2-cycle on bipartite-ish
  * structure, so "run to convergence" is not even well-defined;
  * a fixed horizon is both reproducible and the form the published
  * semi-synchronous variants bound.
  *
  * Determinism: the per-node argmax (count desc, label asc) is packed
  * into ONE BIGINT — `enc = cnt·2^32 − (label + 1)` — so `max(enc)`
  * IS the tie-broken argmax and the aggregate stays a plain codegen'd
  * max (no window, no struct ordering semantics to match across
  * engines; labels are node ids ∈ [0, 2^31), counts ≤ degree, so the
  * packing never collides or overflows). The +1 keeps the offset
  * strictly positive — ids START AT ZERO in this corpus, and a
  * label-0 `enc` would otherwise be an exact 2^32 multiple, which the
  * decode `((enc div 2^32) + 1)·2^32 − enc − 1` mis-buckets.
  *
  * Scale shape, per round: one node-keyed equi-join (labels onto the
  * symmetrized edge list — the edge list is persisted ONCE and every
  * round reuses it) feeding one (node, label) count aggregate and one
  * node-keyed max — both collapse map-side, so the second shuffle
  * carries at most one row per (node, distinct neighbour label).
  * State is one row per node; each round ends eagerly
  * `localCheckpoint(true)`-ed (CLAUDE.md iterative-loop rule).
  *
  * Reference analog: grouping related collections into families —
  * the clustering step precompute_related.py's neighbour lists feed
  * (research/related-collections/precompute-related-collections.py).
  */
object LabelPropagation {

  /** Canonical (a < b, distinct, loop-free) edge view. When the
    * caller GUARANTEES that shape already (`canonical = true` — true
    * of the mined co-purchase pairs: ids come out of sorted-array
    * slices, the support groupBy dedups), skip the distinct: it is a
    * full edge-list shuffle per consumer, pure waste at any scale.
    * Contract for `canonical = true`: the caller has persisted AND
    * materialized `edges` (the mined subtree otherwise recomputes
    * under each consumer — the CLAUDE.md persist rule). */
  private def canon(edges: DataFrame, canonical: Boolean): DataFrame =
    if (canonical)
      edges.select(col("id1").cast("long").as("a"),
        col("id2").cast("long").as("b"))
    else LocalGraph.canonicalEdges(edges)

  /** @param edges  undirected edge list, columns `id1`, `id2` (any
    *               orientation; self-loops ignored)
    * @param rounds fixed synchronous rounds, unrolled by the oracle
    * @param canonical edges are already distinct (a < b) pairs from a
    *               persisted+materialized frame — skip the
    *               re-canonicalizing distinct shuffle (see [[canon]])
    * @return (node, label): the community label after `rounds` rounds
    */
  def run(edges: DataFrame, rounds: Int,
          canonical: Boolean = false): DataFrame = {
    require(rounds >= 1)
    val e0 = canon(edges, canonical)
    // non-canonical: the distinct'd list feeds the gate count AND
    // both symmetrizing arms — persist it (previously each arm of
    // sym recomputed the distinct under sym's own materialization)
    val e = if (canonical) e0
      else e0.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // raw-edge exact driver finish (the PageRank.run economics):
      // under the gate the synchronous rounds run in-memory with the
      // SAME packed-argmax arithmetic — 4 rounds of (join + two
      // aggregate exchanges + eager checkpoint) collapse to one
      // 2-column collect. Spec-pinned equal to the distributed loop
      // (DriverFinishParitySpec, GraphLoopsSpec). Either way the edge
      // caches this call persists are released before it returns or
      // throws.
      if (SizePolicy.driverFinish(e.count()))
        return runLocal(LocalGraph.collect(e, symmetric = true), rounds)
      // per-round edge-side shuffle removal (guide §2.4/§3.1): the
      // symmetrized edge list persists PRE-PARTITIONED on the join key
      // (src) — the per-round sort-merge exchange+sort of the EDGE
      // side becomes one up-front shuffle, and the shuffled-hash hint
      // on the label side keeps the streamed edge side sort-free
      // (SizePolicy).
      val symRaw = e.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      var labels = symRaw.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
        .localCheckpoint(true)
      val sym = SizePolicy.loopEdges(symRaw, "src", bcast = false)
      // sym is its own cache from here on
      if (!canonical) e.unpersist(false)
      try {
        for (_ <- 1 to rounds)
          labels = lpaRound(sym, labels).localCheckpoint(true)
        labels
      } finally sym.unpersist(false)
    } finally if (!canonical) e.unpersist(false)
  }

  /** One synchronous LPA round over the persisted symmetrized edge
    * list — factored out so the round's physical plan is inspectable
    * (tools.GraphLoopBench `plans`). The label side is shuffled-hash
    * built (SizePolicy). */
  private[graft] def lpaRound(sym: DataFrame, labels: DataFrame)
    : DataFrame = {
    val lab = SizePolicy.sideFor(
      labels.withColumnRenamed("node", "src"), bcast = false)
    val msgs = sym.join(lab, Seq("src"))
      .select(col("dst").as("node"), col("label"))
    msgs
      .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
      .groupBy("node")
      .agg(max(col("cnt") * lit(4294967296L)
        - (col("label") + lit(1L))).as("enc"))
      .select(col("node"),
        ((expr("enc DIV 4294967296") + lit(1L)) * lit(4294967296L)
          - col("enc") - lit(1L)).as("label"))
  }

  /** In-memory synchronous LPA over the collected symmetric graph —
    * the [[run]] driver finish. Semantics are the distributed loop's
    * EXACTLY: one message per edge row per direction, and each node
    * adopts the most frequent neighbour label, ties to the smallest
    * (the packed `enc` max) — so duplicate edge rows and ties behave
    * identically (spec-pinned on random graphs). Labels are node
    * indices until the output maps them back to ids; index order is
    * id order, so "smallest" is unchanged. */
  private def runLocal(g: LocalGraph, rounds: Int): DataFrame = {
    var lab = Array.range(0, g.n)
    for (_ <- 1 to rounds) {
      val prev = lab
      lab = Array.tabulate(g.n) { i =>
        // sorted neighbour labels: the first longest run wins
        val ls = java.util.Arrays.copyOfRange(g.targets, g.offsets(i),
          g.offsets(i + 1))
        for (k <- ls.indices) ls(k) = prev(ls(k))
        java.util.Arrays.sort(ls)
        var (best, bestCnt, k) = (ls(0), 0, 0)
        while (k < ls.length) {
          var j = k
          while (j < ls.length && ls(j) == ls(k)) j += 1
          if (j - k > bestCnt) { best = ls(k); bestCnt = j - k }
          k = j
        }
        best
      }
    }
    g.toDF((0 until g.n).map(i => (g.ids(i), g.ids(lab(i)))),
      "node", "label")
  }

  /** Driver-side label sums over the collected edge rows of `e`, with
    * the distributed chains' inner-join semantics (an endpoint with no
    * label row drops out): per label its degree total `dc` and
    * intra-edge count `ec`, and per community pair — key
    * (min << 32) | max, exact for labels in [0, 2^31) (the [[run]]
    * contract) — its between-edge count. */
  private def labelSums(e: DataFrame, labels: DataFrame)
    : (LongMap[Long], LongMap[Long], LongMap[Long]) = {
    val g = LocalGraph.collect(e)
    val lab = Array.fill[Option[Long]](g.n)(None)
    labels.select(col("node").cast("long"), col("label").cast("long"))
      .collect().foreach { r =>
        val i = g.index(r.getLong(0))
        if (i >= 0) lab(i) = Some(r.getLong(1))
      }
    val (dc, ec, between) =
      (new LongMap[Long](), new LongMap[Long](), new LongMap[Long]())
    def bump(m: LongMap[Long], k: Long): Unit =
      m(k) = m.getOrElse(k, 0L) + 1L
    g.foreachEdge { (a, b) =>
      lab(a).foreach(bump(dc, _))
      lab(b).foreach(bump(dc, _))
      for (x <- lab(a); y <- lab(b))
        if (x == y) bump(ec, x)
        else bump(between, (math.min(x, y) << 32) | math.max(x, y))
    }
    (dc, ec, between)
  }

  /** Labels + modularity + community-size histogram off ONE LPA run —
    * the session-sharing shape (the familyReport economics applied to
    * graph state): [[run]] ends eagerly localCheckpoint-ed, so the
    * labels feed all three consumers with ZERO recompute, where
    * running g12 and g13 as independent queries pays the 4-round loop
    * twice. Returns (labels, modularity row, (community, size) table
    * sorted nowhere — callers order). */
  def communityReport(edges: DataFrame, rounds: Int,
                      canonical: Boolean = false)
    : (DataFrame, DataFrame, DataFrame) = {
    // checkpointed ⇒ shared for free
    val labels = run(edges, rounds, canonical)
    val sizes = labels.groupBy("label")
      .agg(count(lit(1)).cast("long").as("size"))
    (labels, modularityPpm(edges, labels, canonical), sizes)
  }

  /** One MONOTONE parallel refinement sweep over a community
    * assignment — the agglomeration step LPA lacks: merge whole
    * communities pairwise when the merge provably raises modularity.
    * Exact-integer gain (the [[modularityPpm]] scale): merging c,d
    * changes Q·4m² by Δ = 4m·e_cd − 2·d_c·d_d, so "improves" is the
    * integer test Δ > 0 — no float, both engines mirror it.
    *
    * Monotonicity without sequential scanning: each community points
    * at its best partner (max Δ, ties to the smallest partner label)
    * and a pair merges only if the choice is MUTUAL and Δ > 0 — a
    * matching, so merged pairs are DISJOINT and the total change is
    * exactly Σ Δ of the merged pairs (each pair's term touches only
    * its own e/d values). Q can only rise or stay. This is the
    * heavy-edge-matching coarsening discipline parallel Louvain
    * implementations use to keep their merge phase monotone.
    *
    * Scale shape: two label joins onto the canonical edge list (the
    * between-community counts) and community-bounded aggregates that
    * collapse map-side — that part is distributed at any scale. The
    * best-partner + mutual-matching tail reads only the bounded
    * between/dc tables: under the driver-finish gate it is an exact
    * driver finish (spec-pinned to the distributed fallback — one
    * row_number window over |communities| rows + a best-pair
    * self-join) and the merge map remaps via a LocalRelation join
    * Catalyst broadcasts itself. Gains reach ~8m², so the
    * distributed branch computes them in DECIMAL(38,0) (exact to
    * m ≈ 3e15 edges — same widening as [[modularityPpm]]) and the
    * driver branch in BigInt; no edge count a real deployment has
    * overflows the merge test.
    *
    * @return (node, label) after the sweep — merged communities take
    *         the smaller of the two labels
    */
  def refineMerge(edges: DataFrame, labels: DataFrame,
                  canonical: Boolean = false): DataFrame = {
    // canonical ⇒ the caller's persisted frame backs every consumer;
    // otherwise the distinct is materialized locally (2+ branches)
    // and released in the `finally` — every branch's result is cut
    // free of it (a LocalRelation join or a checkpoint)
    val e0 = canon(edges, canonical)
    val e = if (canonical) e0
      else e0.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nEdges = e.count() // == m; feeds between AND the degree agg
      // labels feed two edge joins, degrees, and the remap — but every
      // caller passes [[run]]'s output, which is ALREADY eagerly
      // localCheckpoint-ed (materialized); re-persisting it here cost a
      // full redundant scan + cache write + count action (measured in
      // g14's isolated A/B). Contract: pass materialized labels.
      val lab = labels
      // Everything past `between`/`dc` operates on COMMUNITY-bounded
      // tables (|between| ≤ m, |dc| ≤ 2m): under the edge gate, the
      // best-partner + mutual-matching logic is a bounded exact driver
      // finish (the KCore/PageRank economics — the distributed tail is
      // ~6 tiny stages of pure scheduling), spec-pinned equal to the
      // distributed fallback below. The merge map returns as a
      // LocalRelation whose stats Catalyst sees, so the remap join
      // broadcasts itself — the corpus-sized side never reshuffles.
      if (SizePolicy.driverFinish(nEdges)) {
        // RAW-EDGE driver finish (the PageRank.run / modularityPpm
        // economics): between/dc are label-keyed sums over the bounded
        // edge list — computing them driver-side from one 2-column
        // collect skips the two edge-label join jobs the old bounded
        // branch still scheduled (it collected the DISTRIBUTED
        // between/dc). Inner-join semantics mirrored: endpoints with
        // no label row drop from both. Spec-pinned equal to the
        // distributed fallback (Round13OpsSpec/Round15OpsSpec).
        val (dcm, _, betM) = labelSums(e, lab)
        val m = nEdges
        // both directions of every community pair; gains in BigInt so
        // a driver-finish cap raised past ~1e9 edges can't silently wrap
        // 2·d_c·d_d (~8m²) through Long
        val best = LongMap.empty[(Long, BigInt)] // c -> (partner, gain)
        def offer(c: Long, p: Long, ecd: Long): Unit = {
          val gain = BigInt(4) * m * ecd - BigInt(2) * dcm(c) * dcm(p)
          best.get(c) match {
            case Some((bp, bg)) if bg > gain ||
              (bg == gain && bp <= p) => ()
            case _ => best(c) = (p, gain)
          }
        }
        betM.foreachEntry { (k, ecd) =>
          val (c, p) = (k >>> 32, k & 0xFFFFFFFFL)
          offer(c, p, ecd); offer(p, c, ecd)
        }
        val merges = best.iterator.collect {
          case (c, (p, g))
            if g > 0 && c < p && best.get(p).exists(_._1 == c) =>
            (c, p) // (newl, oldl)
        }.toSeq
        val ses = edges.sparkSession
        import ses.implicits._
        val mutualDf = merges.toDF("newl", "oldl")
        // the returned remap reads only `lab` + the LocalRelation — the
        // edge cache has served its two consumers (between/dc collects)
        lab
          .join(mutualDf, lab("label") === mutualDf("oldl"), "left")
          .select(col("node"),
            coalesce(col("newl"), col("label")).cast("long").as("label"))
      } else distributedMerge(e, lab, nEdges)
    } finally if (!canonical) e.unpersist(blocking = false)
  }

  /** [[refineMerge]] past the driver-finish gate: `between` feeds
    * both unionAll arms and `dc` feeds both gains joins — both are
    * persisted and counted before the fan-out (house rule: independent
    * parallel stages otherwise race-recompute the two edge-label join
    * subtrees, exactly on the above-the-gate path where they are most
    * expensive). The caches exist only for this call's fan-out: the
    * result is cut free of them (eager localCheckpoint — |nodes| rows)
    * and both are released, also on a throw, so a session making many
    * refineMerge calls doesn't accumulate cached tables for its
    * lifetime (round-9 advice). */
  private def distributedMerge(e: DataFrame, lab: DataFrame,
                               nEdges: Long): DataFrame = {
    val la = lab.select(col("node").as("a"), col("label").as("la"))
    val lb = lab.select(col("node").as("b"), col("label").as("lb"))
    val betweenP = e.join(la, Seq("a")).join(lb, Seq("b"))
      .filter(col("la") =!= col("lb"))
      .groupBy(least(col("la"), col("lb")).as("c"),
        greatest(col("la"), col("lb")).as("p"))
      .agg(count(lit(1)).as("ecd"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      betweenP.count()
      val dcP = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .join(lab, Seq("node"))
        .groupBy("label").agg(sum("deg").as("dc"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        dcP.count()
        val ordered = betweenP.unionAll(
          betweenP.select(col("p").as("c"), col("c").as("p"), col("ecd")))
        val gains = ordered
          .join(dcP.select(col("label").as("c"), col("dc").as("dcc")),
            Seq("c"))
          .join(dcP.select(col("label").as("p"), col("dc").as("dcp")),
            Seq("p"))
          .select(col("c"), col("p"),
            // DECIMAL(38,0): 2·d_c·d_d reaches ~8m², past 2^63 at
            // m ≈ 1.07e9 edges — decimal keeps the merge test exact to
            // ~3e15 edges at zero cost (community-bounded table)
            (lit(4L) * lit(nEdges) * col("ecd").cast("decimal(38,0)")
              - lit(2L) * col("dcc").cast("decimal(38,0)")
                * col("dcp")).as("gain"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("c").orderBy(col("gain").desc, col("p").asc)
        val best = gains.withColumn("r", row_number().over(w))
          .filter(col("r") === 1).select("c", "p", "gain")
        val mutual = best.as("b1")
          .join(best.as("b2"),
            col("b1.c") === col("b2.p") && col("b1.p") === col("b2.c"))
          .filter(col("b1.gain") > 0 && col("b1.c") < col("b1.p"))
          .select(col("b1.c").as("newl"), col("b1.p").as("oldl"))
        lab.join(mutual, lab("label") === mutual("oldl"), "left")
          .select(col("node"),
            coalesce(col("newl"), col("label")).cast("long").as("label"))
          .localCheckpoint(true)
      } finally dcP.unpersist(blocking = false)
    } finally betweenP.unpersist(blocking = false)
  }

  /** MODULARITY of a node partition — the standard quality score for
    * a community assignment (Newman 2006, public):
    * Q = Σ_c (e_c/m − (d_c/2m)²), where e_c = intra-community edges,
    * d_c = total degree of community c, m = |E|. Computed EXACTLY:
    * Q·4m² = Σ_c (4m·e_c − d_c²) is an integer, so the reported ppm
    * is one sign-aware HALF_UP division — no float ever appears
    * (float Q is a small rational that ties at any rounding digit).
    *
    * Scale shape: two node-keyed label joins onto the canonical edge
    * list (intra-edge count), one degree aggregate + one label join
    * (d_c), both community-bounded aggregates collapse map-side; m
    * and the Σ ride as 1-row scalar cross joins. The label table is
    * data-dependent — join, don't assume broadcast (AQE decides).
    *
    * @param edges  undirected edge list, columns `id1`, `id2`
    * @param labels (node, label) assignment, e.g. [[run]]'s output
    * @return one row: n_communities, m_edges, modularity_ppm
    */
  def modularityPpm(edges: DataFrame, labels: DataFrame,
                    canonical: Boolean = false): DataFrame = {
    val e0 = canon(edges, canonical)
    // not canonical: the distinct edge list is this call's cache,
    // released in the `finally` — both results are cut free of it (a
    // local Seq, a checkpointed row)
    val e = if (canonical) e0
      else e0.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the materializing count IS m (e is canonical+distinct) — ride
      // it as a literal instead of a scalar agg + two cross joins
      val m = e.count()
      // Exact driver finish (the [[run]]/PageRank economics): ec/dc
      // are label-keyed sums over a bounded edge list and labels is
      // node-sized (≤ 2m) — under the gate the two edge-label joins,
      // the degree aggregate and the scalar rollup collapse to two
      // collects + BigInt arithmetic identical to the distributed
      // DECIMAL(38,0) chain. Spec-pinned equal (Round15OpsSpec).
      if (SizePolicy.driverFinish(m)) {
        val (dcM, ecM, _) = labelSums(e, labels)
        var num = BigInt(0)
        dcM.foreachEntry { (label: Long, dc: Long) =>
          val ec: Long = ecM.getOrElse(label, 0L)
          val term: BigInt =
            (BigInt(4) * BigInt(m) * BigInt(ec)) - (BigInt(dc) * BigInt(dc))
          num += term
        }
        val fourM2 = BigInt(4) * BigInt(m) * BigInt(m)
        val eightM2 = fourM2 * 2
        val ppm =
          if (num >= 0) (BigInt(2) * 1000000 * num + fourM2) / eightM2
          else -((BigInt(2) * 1000000 * (-num) + fourM2) / eightM2)
        val ses = edges.sparkSession
        import ses.implicits._
        Seq((dcM.size.toLong, m, ppm.toLong))
          .toDF("n_communities", "m_edges", "modularity_ppm")
      } else {
        val la = labels.select(col("node").as("a"), col("label").as("la"))
        val lb = labels.select(col("node").as("b"), col("label").as("lb"))
        val ec = e.join(la, Seq("a")).join(lb, Seq("b"))
          .filter(col("la") === col("lb"))
          .groupBy(col("la").as("label")).agg(count(lit(1)).as("ec"))
        val dc = e.select(col("a").as("node"))
          .unionAll(e.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
          .join(labels, Seq("node"))
          .groupBy("label").agg(sum("deg").as("dc"))
        // per community: 4m*ec - dc^2 (communities with zero intra edges
        // still contribute -dc^2 — hence the left join from dc). The
        // whole numerator chain runs in DECIMAL(38,0): the scaled ppm
        // product 2e6·Σ(4m·ec − dc²) ≈ 8e6·m² passes 2^63 already at
        // m ≈ 1.07e6 edges, and 4m·ec itself at m ≈ 1.5e9 — both well
        // inside what a 100 TB graph carries. Decimal(38) holds exact
        // integers to 1e38, i.e. m up to ~3e15 edges; the per-community
        // table is bounded, so the wider arithmetic costs nothing.
        val terms = dc.join(ec, Seq("label"), "left")
          .select(col("label"), col("dc"),
            coalesce(col("ec"), lit(0L)).as("ec"))
          .select((lit(4L) * lit(m) * col("ec").cast("decimal(38,0)")
            - col("dc").cast("decimal(38,0)") * col("dc")).as("term"))
        val fourM2 = BigInt(4) * BigInt(m) * BigInt(m)  // HALF_UP bias
        val eightM2 = fourM2 * 2                        // denominator
        terms.agg(count(lit(1)).as("n_communities"),
            sum("term").as("num"))
          .select(col("n_communities"),
            lit(m).as("m_edges"),
            expr(s"CAST(CASE WHEN num >= 0" +
              s" THEN (2 * 1000000 * num" +
              s"       + CAST('$fourM2' AS DECIMAL(38,0)))" +
              s"   DIV CAST('$eightM2' AS DECIMAL(38,0))" +
              s" ELSE -((2 * 1000000 * (-num)" +
              s"       + CAST('$fourM2' AS DECIMAL(38,0)))" +
              s"   DIV CAST('$eightM2' AS DECIMAL(38,0))) END AS BIGINT)")
              .as("modularity_ppm"))
          .localCheckpoint(true)
      }
    } finally if (!canonical) e.unpersist(false)
  }
}
