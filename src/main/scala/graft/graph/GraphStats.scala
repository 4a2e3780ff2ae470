package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Whole-graph summary statistics with exact integer arithmetic. */
object GraphStats {

  /** Degree assortativity — Pearson correlation of endpoint degrees
    * over the SYMMETRIZED directed edge list. Symmetrization makes
    * the x and y marginals identical, so the sqrt denominator
    * collapses: r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) — a pure
    * rational of exact BIGINT moments, emitted sign-aware HALF_UP as
    * integer ppm. Degenerate regular graphs (zero variance) emit 0.
    *
    * One degree aggregate + two degree attaches + one global moment
    * aggregate (partial agg collapses map-side — the shuffle carries
    * four numbers per partition at any graph size). BIGINT holds
    * while 2e6·n·Σdx² < 9.2e18 (e.g. 1e8 directed edges at max
    * degree 200); past that cast the four moments to DECIMAL(38,0)
    * (the DuckDB oracle mirrors in HUGEINT either way).
    */
  def assortativityPpm(edges: DataFrame): DataFrame = {
    // the canonical edge set feeds the union twice, the degree
    // aggregate and the join chain — uncached, the caller's edge
    // pipeline (a co-occurrence join) replays once per consumer
    // (CLAUDE.md persist rule; measured 2.7 s → 1.5 s at sf0.1).
    // deg likewise feeds both attaches. Both are bounded: |E|, |V|;
    // both are released before the call returns or throws.
    val e = LocalGraph.canonicalEdges(edges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // RAW-EDGE exact driver finish (the PageRank/Triangles
      // economics): the four moments are one O(|E|) pass over the
      // collected list, in the SAME Long arithmetic as the distributed
      // expressions (including the documented Long range — overflow
      // behaviour stays identical, and the gate keeps it far from the
      // documented 1e8-edge bound anyway). Spec-pinned equal
      // (DriverFinishParitySpec).
      if (SizePolicy.driverFinish(e.count())) {
        val g = LocalGraph.collect(e, symmetric = true)
        var n = 0L; var sx = 0L; var sxy = 0L; var sxx = 0L
        // one term per direction of the symmetrized list
        g.foreachEdge { (u, v) =>
          val du = g.degree(u).toLong
          n += 1L
          sx += du
          sxy += du * g.degree(v)
          sxx += du * du
        }
        val varx = n * sxx - sx * sx
        val cov = n * sxy - sx * sx
        val ppm =
          if (varx == 0L) 0L
          else if (cov >= 0L) (2L * 1000000L * cov + varx) / (2L * varx)
          else -((2L * 1000000L * (-cov) + varx) / (2L * varx))
        return g.toDF(Seq((n, sx, sxy, sxx, ppm)),
          "n", "sx", "sxy", "sxx", "assortativity_ppm")
      }
      val dir = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val deg = dir.groupBy("u").agg(count(lit(1)).as("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // the result is checkpointed, so it reads neither cache
      try {
        deg.count()
        dir
          .join(deg.select(col("u"), col("deg").as("dx")), "u")
          .join(deg.select(col("u").as("v"), col("deg").as("dy")), "v")
          .agg(count(lit(1)).as("n"), sum("dx").as("sx"),
            sum(col("dx") * col("dy")).as("sxy"),
            sum(col("dx") * col("dx")).as("sxx"))
          .select(col("n"), col("sx").cast("long").as("sx"),
            col("sxy").cast("long").as("sxy"),
            col("sxx").cast("long").as("sxx"),
            expr("""CASE WHEN n * sxx - sx * sx = 0 THEN 0
              |WHEN n * sxy - sx * sx >= 0
              |THEN (2 * 1000000 * (n * sxy - sx * sx) + (n * sxx - sx * sx))
              |  DIV (2 * (n * sxx - sx * sx))
              |ELSE -((2 * 1000000 * (sx * sx - n * sxy) + (n * sxx - sx * sx))
              |  DIV (2 * (n * sxx - sx * sx))) END""".stripMargin)
              .as("assortativity_ppm"))
          .localCheckpoint(true)
      } finally deg.unpersist(false)
    } finally e.unpersist(false)
  }
}
