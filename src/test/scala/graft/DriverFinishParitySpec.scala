package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.SizePolicy.forcing

/** Round-15 optimization pinning: every NEW raw-edge driver finish
  * (LabelPropagation.run / modularityPpm / refineMerge's raw-edge
  * bounded branch, Bfs.hopDistances, HyperBall.neighborhood /
  * harmonicCentrality) must equal its distributed loop ROW FOR ROW —
  * on random graphs (ties, duplicate edge rows, isolated label
  * ranges) and on the real corpus at two SFs.
  * `SizePolicy.forcing(driverMaxEdges = 0L)` around the call forces
  * the distributed path; the default takes the driver finish (the
  * graphs here are far under the bound).
  */
class DriverFinishParitySpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
      .sortBy(_.mkString("\u0000"))

  private def randomEdges(seed: Int, n: Int, m: Int)
    : Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    // a < b canonical pairs, possibly repeated (duplicate rows must
    // behave identically on both paths: one message per row)
    Seq.fill(m) {
      val a = rnd.nextInt(n).toLong
      val b = rnd.nextInt(n).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(t => t._1 != t._2)
  }

  // ---- LabelPropagation.run ---------------------------------------

  test("LPA driver finish == distributed loop on random graphs") {
    (1 to 4).foreach { seed =>
      val edges = randomEdges(seed, 40, 60).toDF("id1", "id2")
      (1 to 3).foreach { rounds =>
        val drv = graft.graph.LabelPropagation
          .run(edges, rounds)
          .as[(Long, Long)].collect().sortBy(_._1).toSeq
        val dist = forcing(driverMaxEdges = 0L)(graft.graph.LabelPropagation
          .run(edges, rounds))
          .as[(Long, Long)].collect().sortBy(_._1).toSeq
        assert(drv == dist, s"seed=$seed rounds=$rounds")
        assert(drv.nonEmpty)
      }
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("LPA driver finish == distributed loop on the corpus @ 2 SFs") {
    Seq("sf0.001", "sf0.01").foreach { sfn =>
      val pairs = Queries.coPurchasePairs(spark, sf(sfn))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pairs.count()
      val drv = graft.graph.LabelPropagation
        .run(pairs, rounds = 4, canonical = true)
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      val dist = forcing(driverMaxEdges = 0L)(graft.graph.LabelPropagation
        .run(pairs, rounds = 4, canonical = true))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(drv == dist, s"paths diverge at $sfn")
      assert(drv.nonEmpty)
      spark.sharedState.cacheManager.clearCache()
    }
  }

  // ---- LabelPropagation.modularityPpm ------------------------------

  test("modularityPpm driver finish == distributed @ 2 SFs + random") {
    Seq("sf0.001", "sf0.01").foreach { sfn =>
      val pairs = Queries.coPurchasePairs(spark, sf(sfn))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pairs.count()
      val labels = graft.graph.LabelPropagation
        .run(pairs, rounds = 4, canonical = true)
      val drv = rows(graft.graph.LabelPropagation
        .modularityPpm(pairs, labels, canonical = true))
      val dist = rows(forcing(driverMaxEdges = 0L)(graft.graph.LabelPropagation
        .modularityPpm(pairs, labels, canonical = true)))
      assert(drv == dist, s"paths diverge at $sfn")
      spark.sharedState.cacheManager.clearCache()
    }
    (1 to 3).foreach { seed =>
      val edges = randomEdges(seed, 30, 45).toDF("id1", "id2")
      val labels = graft.graph.LabelPropagation.run(edges, 2)
      val drv = rows(graft.graph.LabelPropagation
        .modularityPpm(edges, labels))
      val dist = rows(forcing(driverMaxEdges = 0L)(graft.graph.LabelPropagation
        .modularityPpm(edges, labels)))
      assert(drv == dist, s"seed=$seed")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  // ---- refineMerge raw-edge bounded branch -------------------------
  // (Round13OpsSpec already pins driver == distributed on the corpus;
  // this adds random graphs with duplicate-free canonical edges)

  test("refineMerge raw-edge driver finish == distributed, random") {
    (1 to 3).foreach { seed =>
      val edges = randomEdges(seed, 30, 45).distinct.toDF("id1", "id2")
      val labels = graft.graph.LabelPropagation.run(edges, 2)
      val drv = graft.graph.LabelPropagation
        .refineMerge(edges, labels)
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      val dist = forcing(driverMaxEdges = 0L)(graft.graph.LabelPropagation
        .refineMerge(edges, labels))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(drv == dist, s"seed=$seed")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  // ---- Bfs.hopDistances --------------------------------------------

  test("BFS driver finish == distributed loop (random directed + " +
    "duplicate edges, unreachable seeds, hop cap)") {
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val es = Seq.fill(80)((rnd.nextInt(30).toLong,
        rnd.nextInt(30).toLong))
      val edges = es.toDF("src", "dst")
      val seeds = Seq.fill(5)(rnd.nextInt(40).toLong).toDF("node")
      (0 to 3).foreach { hops =>
        val drv = graft.graph.Bfs.hopDistances(edges, seeds, hops)
          .as[(Long, Long)].collect().sortBy(_._1).toSeq
        val dist = forcing(driverMaxEdges = 0L)(
            graft.graph.Bfs.hopDistances(edges, seeds, hops))
          .as[(Long, Long)].collect().sortBy(_._1).toSeq
        assert(drv == dist, s"seed=$seed hops=$hops")
      }
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("g09 driver finish == distributed on the corpus @ 2 SFs") {
    Seq("sf0.001", "sf0.01").foreach { sfn =>
      val d = sf(sfn)
      val e0 = graft.sources.Tables(spark, d, "lineitem")
        .select((col("l_partkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = e0.union(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = graft.sources.Tables(spark, d, "supplier")
        .filter(col("s_suppkey") % 7 === 0)
        .select((col("s_suppkey") * 2 + 1).as("node"))
      val drv = rows(graft.graph.Bfs.hopDistances(edges, seeds, 4))
      val dist = rows(forcing(driverMaxEdges = 0L)(
        graft.graph.Bfs.hopDistances(edges, seeds, 4)))
      assert(drv == dist, s"paths diverge at $sfn")
      assert(drv.nonEmpty)
      spark.sharedState.cacheManager.clearCache()
    }
  }

  // ---- HyperBall ----------------------------------------------------

  test("HyperBall driver finish == distributed (neighborhood + " +
    "harmonic) on random graphs and the corpus") {
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val es = Seq.fill(60)((rnd.nextInt(25).toLong,
        rnd.nextInt(25).toLong))
      // symmetrize like every caller (max-merge needs in-edges)
      val edges = (es ++ es.map(_.swap)).toDF("src", "dst")
      (1 to 3).foreach { rounds =>
        val drvN = rows(graft.graph.HyperBall
          .neighborhood(edges, rounds))
        val distN = rows(forcing(driverMaxEdges = 0L)(graft.graph.HyperBall
          .neighborhood(edges, rounds)))
        assert(drvN == distN, s"neighborhood seed=$seed r=$rounds")
        val drvH = rows(graft.graph.HyperBall
          .harmonicCentrality(edges, rounds))
        val distH = rows(forcing(driverMaxEdges = 0L)(graft.graph.HyperBall
          .harmonicCentrality(edges, rounds)))
        assert(drvH == distH, s"harmonic seed=$seed r=$rounds")
      }
      spark.sharedState.cacheManager.clearCache()
    }
    val d = sf("sf0.001")
    val e0 = graft.sources.Tables(spark, d, "lineitem")
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = e0.union(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    val drv = rows(graft.graph.HyperBall.harmonicCentrality(edges, 2))
    val dist = rows(forcing(driverMaxEdges = 0L)(
      graft.graph.HyperBall.harmonicCentrality(edges, 2)))
    assert(drv == dist)
    assert(drv.nonEmpty)
    spark.sharedState.cacheManager.clearCache()
  }

  // ---- Triangles / LinkPrediction / GraphStats ----------------------

  test("Triangles count+perNode driver finish == distributed") {
    (1 to 4).foreach { seed =>
      val edges = randomEdges(seed, 25, 80).toDF("id1", "id2")
      val drvC = rows(graft.graph.Triangles.count(edges))
      val distC = rows(forcing(driverMaxEdges = 0L)(
        graft.graph.Triangles.count(edges)))
      assert(drvC == distC, s"count seed=$seed")
      val drvP = rows(graft.graph.Triangles.perNode(edges))
      val distP = rows(forcing(driverMaxEdges = 0L)(
        graft.graph.Triangles.perNode(edges)))
      assert(drvP == distP, s"perNode seed=$seed")
      spark.sharedState.cacheManager.clearCache()
    }
    val pairs = Queries.coPurchasePairs(spark, sf("sf0.01"))
    val drv = rows(graft.graph.Triangles.count(pairs))
    val dist = rows(forcing(driverMaxEdges = 0L)(
      graft.graph.Triangles.count(pairs)))
    assert(drv == dist)
    spark.sharedState.cacheManager.clearCache()
  }

  test("jaccardCandidates driver finish == distributed (incl. the " +
    "hub cap and the top-k tiebreak)") {
    (1 to 3).foreach { seed =>
      val edges = randomEdges(seed, 20, 70).toDF("id1", "id2")
      Seq(10000L, 4L).foreach { cap => // 4 exercises the hub cap
        val drv = rows(graft.graph.LinkPrediction
          .jaccardCandidates(edges, topK = 20, maxCenterDegree = cap))
        val dist = rows(forcing(driverMaxEdges = 0L)(graft.graph.LinkPrediction
          .jaccardCandidates(edges, topK = 20, maxCenterDegree = cap)))
        assert(drv == dist, s"seed=$seed cap=$cap")
      }
      spark.sharedState.cacheManager.clearCache()
    }
    val pairs = Queries.coPurchasePairs(spark, sf("sf0.01"))
    val drv = rows(graft.graph.LinkPrediction
      .jaccardCandidates(pairs, topK = 50, maxCenterDegree = 10000L))
    val dist = rows(forcing(driverMaxEdges = 0L)(graft.graph.LinkPrediction
      .jaccardCandidates(pairs, topK = 50, maxCenterDegree = 10000L)))
    assert(drv == dist)
    spark.sharedState.cacheManager.clearCache()
  }

  test("assortativityPpm driver finish == distributed") {
    (1 to 3).foreach { seed =>
      val edges = randomEdges(seed, 25, 60).toDF("id1", "id2")
      val drv = rows(graft.graph.GraphStats.assortativityPpm(edges))
      val dist = rows(forcing(driverMaxEdges = 0L)(
        graft.graph.GraphStats.assortativityPpm(edges)))
      assert(drv == dist, s"seed=$seed")
      spark.sharedState.cacheManager.clearCache()
    }
    val pairs = Queries.coPurchasePairs(spark, sf("sf0.01"))
    val drv = rows(graft.graph.GraphStats.assortativityPpm(pairs))
    val dist = rows(forcing(driverMaxEdges = 0L)(
      graft.graph.GraphStats.assortativityPpm(pairs)))
    assert(drv == dist)
    spark.sharedState.cacheManager.clearCache()
  }

  // ---- UnigramLm pre-tokenized EM == per-round tokenization ---------

  test("t29/t30 pre-tokenized train/encode == per-round retokenize") {
    val d = sf("sf0.001")
    val docs = graft.sources.Tables(spark, d, "documents")
      .select(col("doc_id"), col("text"))
    val tok = graft.text.UnigramLm.tokenize(docs, col("doc_id"),
      "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tok.count()
    val (mTok, vTok) = graft.text.UnigramLm.train(docs, "text",
      maxPieceWords = 3, seedCap = 512, rounds = 2, tok = Some(tok))
    val (mRaw, vRaw) = graft.text.UnigramLm.train(docs, "text",
      maxPieceWords = 3, seedCap = 512, rounds = 2)
    assert(mTok == mRaw)
    assert(vTok == vRaw)
    val encTok = rows(graft.text.UnigramLm.encodeTok(spark, tok,
      mTok, "doc_id"))
    val encRaw = rows(graft.text.UnigramLm.encode(spark, docs, mRaw,
      "doc_id", "text"))
    assert(encTok == encRaw)
    assert(encTok.nonEmpty)
    spark.sharedState.cacheManager.clearCache()
  }
}
