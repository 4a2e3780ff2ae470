package graft

import graft.graph.{SizePolicy, Triangles}
import graft.graph.SizePolicy.forcing
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Round-6 session specs: size-based Triangles broadcast gate and the
  * session's later additions. */
class Round6OpsSpec extends SparkSpec {
  import spark.implicits._

  /** The executed plans of the SQL actions `f` runs. */
  private def plansRun(f: => Unit): Seq[String] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution,
                             ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(name: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { f; org.apache.spark.ListenerDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toSeq)
  }

  test("triangles broadcast gate is a byte estimate, not a row count") {
    val capEdges = SizePolicy.broadcastBytes /
      SizePolicy.keyedLongRowBytes
    assert(SizePolicy.broadcasts(capEdges, SizePolicy.keyedLongRowBytes))
    assert(!SizePolicy.broadcasts(capEdges + 1, SizePolicy.keyedLongRowBytes))
    // ~2M edges under the 100 MB default — 10x below the old 20M rows
    assert(capEdges <= 2200000L && capEdges >= 2000000L)
  }

  test("triangles past the broadcast cap: fallback plan, same counts") {
    val k5 = (for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j))
      .toDF("id1", "id2")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // driverMaxEdges = 0: this spec pins the DISTRIBUTED
      // closing-join plan shapes (the r15 driver finish would
      // otherwise return a LocalRelation with no join at all). The
      // distributed result is checkpointed inside the call, so the
      // plans asserted on are those of the queries the call ran.
      var fallback: org.apache.spark.sql.DataFrame = null
      val fallbackPlans = plansRun {
        fallback = forcing(driverMaxEdges = 0L, broadcastBytes = 1L)(
          Triangles.count(k5))
      }
      val rows = fallback.collect()
      // with auto-broadcast off and the hint gated out, the closing
      // join must have planned as a shuffle join
      assert(!fallbackPlans.exists(_.contains("BroadcastHashJoin")))
      var hinted: org.apache.spark.sql.DataFrame = null
      val hintedPlans = plansRun {
        hinted = forcing(driverMaxEdges = 0L)(Triangles.count(k5))
      }
      val hintedRows = hinted.collect()
      assert(hintedPlans.exists(_.contains("BroadcastHashJoin")))
      assert(rows.toSeq == hintedRows.toSeq)
      // K5: C(5,3) = 10 triangles, every wedge closes
      assert(rows.head.getLong(3) == 10L)
      // and the default path (driver finish) agrees with both
      assert(Triangles.count(k5).collect().toSeq == rows.toSeq)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("d11 length-8 docs chunk as one whole-doc chunk") {
    import graft.dedup.Dedup
    // length exactly 8: the boundary-candidate range [2, len-7] is
    // empty, but sequence(2, 1) steps BACKWARDS — ~1/16 of len-8 docs
    // grew a phantom p=2 boundary the DuckDB oracle (empty
    // generate_series) never saw. 256 distinct docs make that rate
    // deterministic coverage, not luck.
    val docs = (0 until 256).map(i => (i.toLong, f"docs$i%04d"))
      .toDF("id", "text")
    val chunks = Dedup.cdcChunks(docs, "id", "text")
      .as[(Long, Long, Long)].collect()
    assert(chunks.length == 256)
    assert(chunks.forall(_._2 == 8L))
  }

  test("keccak256 matches the published Keccak-256 test vectors") {
    import org.apache.spark.sql.graft.KeccakUtil
    def k(s: String): String = KeccakUtil.keccak256Hex(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
    assert(k("") ==
      "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470")
    assert(k("abc") ==
      "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45")
    assert(k("The quick brown fox jumps over the lazy dog") ==
      "4d741b6f1eb29cb2a9b9911c82f56fa8d73b04959d3d9d222895df6c0b28aa15")
    // the ENS labelhash of 'eth' (ERC-137)
    assert(k("eth") ==
      "4f5b812789fc606be1b3b16908db13fc7a9adf7ca72641f84d75b47069d3d7f0")
    assert(k("a") ==
      "3ac225168df54212a25c1c01fd35bebfea408fdac2e31ddd6f80a4bbf9a5f1cb")
    // multi-block absorb path (rate = 136 bytes): digests around and
    // past the block boundary, cross-checked against an INDEPENDENT
    // from-spec implementation (matrix/lane-walk formulation) that
    // itself reproduces the published short vectors
    val multiBlock = Seq(
      135 -> "34367dc248bbd832f4e3e69dfaac2f92638bd0bbd18f2912ba4ef454919cf446",
      136 -> "a6c4d403279fe3e0af03729caada8374b5ca54d8065329a3ebcaeb4b60aa386e",
      137 -> "d869f639c7046b4929fc92a4d988a8b22c55fbadb802c0c66ebcd484f1915f39",
      272 -> "cf7fcd4f705ee749930d19ca84561a9bf62516bd90a471545fa2f49fdc7e63c8",
      300 -> "5b7e0e47a96f32a88b4f14ca177982790807c40e1a105742ba0fc1babe1ef826")
    multiBlock.foreach { case (n, expect) =>
      assert(k("a" * n) == expect, s"length $n")
    }
  }

  test("namehash matches the ERC-137 specification vectors") {
    import org.apache.spark.sql.graft.KeccakUtil
    def nh(s: String): String = KeccakUtil.namehash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
    assert(nh("") == "0x" + "00" * 32)
    assert(nh("eth") ==
      "0x93cdeb708b7545dc668eb9280176169d1c33cfd8ed6f04690a0bcc88a93fc4ae")
    assert(nh("foo.eth") ==
      "0xde9b09fd7c5f901e23a3f19fecc54828e9c848539801e86591bd9801b019f84f")
  }

  test("q16b: namehash ids through the codegen'd expression") {
    val rows = Queries.q16b_namehash(spark, sf("sf0.001"))
      .as[(Long, String, String)].collect()
    assert(rows.nonEmpty)
    // every node is a 0x-prefixed 32-byte hex and consistent with a
    // direct recomputation from the label
    import org.apache.spark.sql.graft.KeccakUtil
    rows.foreach { case (_, label, node) =>
      assert(node.length == 66 && node.startsWith("0x"))
      assert(node == KeccakUtil.namehash(
        org.apache.spark.unsafe.types.UTF8String
          .fromString(label + ".eth")).toString)
    }
    assert(rows.map(_._3).distinct.length == rows.length)
  }

  test("spearman ppm: identity, reversal, and a hand-computed permutation") {
    import graft.ranking.RankingMetrics
    def rho(items: Seq[(Long, Long, Long)]): Long =
      RankingMetrics.spearmanPpm(
        items.toDF("g", "a", "b").withColumn("grp", lit(1)),
        "grp", Seq(col("a").asc, col("g").asc),
        Seq(col("b").asc, col("g").asc))
        .select("spearman_ppm").as[Long].head()
    val ids = (1L to 5L)
    assert(rho(ids.map(i => (i, i, i))) == 1000000L)
    assert(rho(ids.map(i => (i, i, 6 - i))) == -1000000L)
    // ranks a = [1,2,3,4,5] vs b = [3,1,2,5,4]: sum(d^2) = 8,
    // rho = 1 - 48/120 = 0.6 exactly
    val perm = Seq((1L, 1L, 3L), (2L, 2L, 1L), (3L, 3L, 2L),
      (4L, 4L, 5L), (5L, 5L, 4L))
    assert(rho(perm) == 600000L)
    // negative, non-extreme: swap to get rho < 0
    val neg = Seq((1L, 1L, 5L), (2L, 2L, 4L), (3L, 3L, 3L),
      (4L, 4L, 1L), (5L, 5L, 2L))
    // d^2: (1-5)^2+(2-4)^2+0+(4-1)^2+(5-2)^2 = 16+4+0+9+9 = 38
    // rho = 1 - 228/120 = -0.9 exactly
    assert(rho(neg) == -900000L)
  }

  test("rank eval @5: hand-computed graded/binary NDCG and recall") {
    import graft.ranking.RankingMetrics
    // group 1 (6 rows, predicted = price desc): rel [5,0,4,2,1,1]
    // group 2 (2 rows, short — exercises the default-score padding):
    // rel [5,4]
    val rows = Seq(
      (1L, 1L, 600.0, 5.0), (1L, 2L, 500.0, 0.0), (1L, 3L, 400.0, 4.0),
      (1L, 4L, 300.0, 2.0), (1L, 5L, 200.0, 1.0), (1L, 6L, 100.0, 1.0),
      (2L, 7L, 600.0, 5.0), (2L, 8L, 500.0, 4.0))
      .toDF("cust", "ord", "price", "rel")
    val got = RankingMetrics.evalAtK(rows, "cust", col("rel"),
      predictedOrder = Seq(col("price").desc, col("ord").asc),
      tiebreak = Seq(col("ord").asc), k = 5)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // weights [1.0, .63093, .5, .43068, .38685], W5 = 2.94846
    // g1: dcg = 5 + 0 + 2 + .86136 + .38685 = 8.24821
    //     idcg (ideal [5,4,2,1,1] clamped to >= 2 -> [5,4,2,2,2])
    //          = 5 + 2.52372 + 1 + .86136 + .7737 = 10.15878
    //     binary pred [1,0,1,0,0] -> 1.5; ideal [1,1,0,0,0] -> 1.63093
    val (_, n1, ndcg1, bndcg1, rec1) = got(1L)
    assert(n1 == 6L)
    assert(ndcg1 == math.rint(8.24821 / 10.15878 * 1e4) / 1e4)
    assert(bndcg1 == math.rint(1.5 / 1.63093 * 1e4) / 1e4)
    assert(rec1 == 0.2) // only rel=5 is STRICTLY > 4
    // g2: dcg = idcg_real = 5 + 4*.63093 = 7.52372;
    //     pad = 2*(W5 - W2) = 2*1.31753 = 2.63506 -> idcg = 10.15878
    val (_, n2, ndcg2, bndcg2, rec2) = got(2L)
    assert(n2 == 2L)
    assert(ndcg2 == math.rint(7.52372 / 10.15878 * 1e4) / 1e4)
    assert(bndcg2 == 1.0)
    assert(rec2 == 0.2)
  }

  test("t12 pure-sketch cells == t11's vocab-derived cells; map-side collapse") {
    val dir = sf("sf0.001")
    val pure = Queries.t12_countmin_pure(spark, dir)
    val pureRows = pure.as[(Int, Long, Long)].collect().toSet
    // re-derive the cells the t11 way: exact vocab, then sum counts
    // into cells — associativity says they must be identical
    val exact = Queries.t11_countmin(spark, dir) // warms nothing; just
    // t11 outputs top-k, so rebuild the derived cells directly:
    import graft.text.TextFunctions
    val derived = graft.sources.Tables(spark, dir, "documents")
      .select(explode(TextFunctions.tokens(lower(col("text")))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .select(col("tok"), col("n"),
        explode(array((0 until 4).map(lit(_)): _*)).as("r"))
      .withColumn("cell",
        conv(substring(md5(concat(col("r").cast("string"), lit(":"),
          col("tok"))), 1, 8), 16, 10).cast("long") % 16)
      .groupBy("r", "cell").agg(sum("n").as("cnt"))
      .as[(Int, Long, Long)].collect().toSet
    assert(pureRows == derived)
    assert(pureRows.size <= 64)
    // the sketch collapses map-side: the aggregate is partial+final
    val plan = pure.queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") ||
      plan.contains("Partial") || plan.contains("partial"),
      s"expected a partial aggregate in:\n$plan")
    // consistency with the audit query: every t11 estimate is the min
    // over cells that exist in the pure sketch
    val cellMap = pureRows.map { case (r, c, n) => (r.toLong, c) -> n }
      .toMap
    exact.as[(String, Long, Long)].collect().foreach {
      case (tok, _, nCm) =>
        val est = (0L until 4L).map { r =>
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(s"$r:$tok".getBytes("UTF-8"))
            .take(4).map("%02x".format(_)).mkString
          cellMap((r, java.lang.Long.parseLong(h, 16) % 16))
        }.min
        assert(est == nCm, s"token $tok")
    }
  }

  test("d11 fused CDC expression == declarative pipeline, row for row") {
    import graft.dedup.Dedup
    val docs = graft.sources.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val fused = Dedup.cdcChunks(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val decl = Dedup.cdcChunksDeclarative(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(fused.nonEmpty && fused == decl)
    // multi-byte text: code-point window semantics must agree too
    val uni = Seq(
      (1L, "café au lait café au lait café brioche et confiture"),
      (2L, "日本語のテキストです" * 4),
      (3L, "exactly8"), (4L, "short"))
      .toDF("doc_id", "text")
    val f2 = Dedup.cdcChunks(uni, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val d2 = Dedup.cdcChunksDeclarative(uni, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(f2 == d2)
    assert(!f2.exists(_._1 == 4L)) // len < 8 emits nothing
  }

  test("s08 IVF-PQ: ADC matches a driver recomputation from s06's codes") {
    val dir = sf("sf0.001")
    val rows = Queries.s08_ivfpq(spark, dir)
      .as[(Long, Long, Double, Long)].collect()
    assert(rows.nonEmpty)
    // per-probe invariants: rnk contiguous from 1, adc non-decreasing
    rows.groupBy(_._1).values.foreach { g =>
      val byRnk = g.sortBy(_._4)
      assert(byRnk.map(_._4).toSeq == (1L to byRnk.length).toSeq)
      assert(byRnk.map(_._3).toSeq == byRnk.map(_._3).sorted.toSeq)
      assert(byRnk.length <= 10)
    }
    // recompute every emitted ADC from raw vectors + s06's PQ codes
    // with the same operation order (slice dot, driver-folded c·c)
    val vecs = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    val codes = Queries.s06_pq(spark, dir)
      .select("vec_id", "c0", "c1", "c2", "c3")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5)).toMap
    def dotLR(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    rows.foreach { case (pid, cid, adc, _) =>
      val q = vecs(pid)
      val expect = (0 until 4).map { j =>
        val sub = q.slice(j * 16, j * 16 + 16)
        val cb = vecs(codes(cid)(j)).slice(j * 16, j * 16 + 16)
        dotLR(sub, sub) - 2.0 * dotLR(sub, cb) + dotLR(cb, cb)
      }.reduceLeft(_ + _)
      val rounded = java.math.BigDecimal.valueOf(expect)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(adc == rounded, s"probe $pid cand $cid")
    }
  }

  test("g06 block PPR: cohorts are independent, paths pinned equal") {
    import graft.graph.PageRank
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (3L, 1L), (1L, 3L), (3L, 4L), (4L, 3L), (5L, 6L), (6L, 5L))
      .toDF("src", "dst")
    val seeds = Seq((0L, 1L), (0L, 4L), (1L, 5L))
      .toDF("cohort", "node")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
    val driver = asMap(PageRank.blockPersonalized(edges, seeds, iters = 4))
    val dist = asMap(forcing(driverMaxEdges = 0L)(
      PageRank.blockPersonalized(edges, seeds, iters = 4)))
    assert(driver == dist && driver.nonEmpty)
    // each cohort equals its own standalone personalized run
    // (restricted to the > 0 rows the sparse block form keeps)
    for (c <- Seq(0L, 1L)) {
      val solo = PageRank.personalized(edges,
        seeds.filter(col("cohort") === c).select("node"), iters = 4)
        .as[(Long, Long)].collect().filter(_._2 > 0)
        .map(t => (c, t._1) -> t._2).toMap
      assert(driver.filter(_._1._1 == c) == solo, s"cohort $c")
    }
    // cohort 1 is seeded in the {5,6} component only — no mass may
    // appear on the other component (sparsity is semantic, not just
    // an optimization)
    assert(!driver.keySet.exists(k => k._1 == 1L && k._2 <= 4L))
    // cohort batching past the driver bound: one-cohort-per-batch
    // loops must be bit-identical to the single shared loop
    val batched = asMap(forcing(driverMaxEdges = 0L)(
      PageRank.blockPersonalized(edges, seeds, iters = 4,
        cohortBatchSize = 1)))
    assert(batched == dist)
  }

  test("diversified top-k honors the per-type quota before the cut") {
    import graft.operators.Relational
    // one group, scores descending 10..1; types: two dominant 'a's
    // at the top would crowd out diversity without the quota
    val rows = Seq(
      (1L, 10L, "a", 100.0), (1L, 11L, "a", 90.0), (1L, 12L, "a", 80.0),
      (1L, 13L, "b", 70.0), (1L, 14L, "b", 60.0), (1L, 15L, "b", 50.0),
      (1L, 16L, "c", 40.0))
      .toDF("g", "id", "typ", "score")
    val got = Relational.diversifiedTopK(rows, k = 5, quota = 2,
      groupBy = Seq(col("g")), typeCol = col("typ"),
      order = Seq(col("score").desc, col("id").asc))
      .orderBy("rn").as[(Long, Long, String, Double, Long, Long)]
      .collect()
    // the third 'a' (id 12) and third 'b' (id 15) are quota'd out;
    // survivors ranked by score: 10,11,13,14,16
    assert(got.map(_._2).toSeq == Seq(10L, 11L, 13L, 14L, 16L))
    assert(got.map(_._6).toSeq == (1L to 5L))
    assert(got.count(_._3 == "a") == 2 && got.count(_._3 == "b") == 2)
  }

  test("q54 temperature mixture: rates and membership recompute exactly") {
    val dir = sf("sf0.001")
    val got = Queries.q54_temp_mixture(spark, dir)
      .as[(Long, String, Long)].collect()
    assert(got.nonEmpty)
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .as[(Long, String)].collect()
    val byLang = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val total = docs.length.toLong
    val w = byLang.view.mapValues(n => math.sqrt(n.toDouble).toLong).toMap
    val wsum = w.values.sum
    def ratePpm(lang: String): Long = {
      val n = byLang(lang)
      math.min(1000000L,
        (2L * 1000000L * (total / 2) * w(lang) + n * wsum) /
          (2L * n * wsum))
    }
    got.foreach { case (_, lang, r) => assert(r == ratePpm(lang)) }
    // membership is exactly the md5-bucket rule — no more, no less
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix:$id".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16) % 1000000L
    }
    val expected = docs.filter { case (id, lang) =>
      bucket(id) < ratePpm(lang)
    }.map(_._1).toSet
    assert(got.map(_._1).toSet == expected)
    // flattening direction: the dominant language's keep rate is
    // strictly below the rarest language's
    val maxL = byLang.maxBy(_._2)._1
    val minL = byLang.minBy(_._2)._1
    if (byLang(maxL) > 4 * byLang(minL))
      assert(ratePpm(maxL) < ratePpm(minL))
  }

  test("t13 clean pipeline: every stage's rule holds on the survivors") {
    val dir = sf("sf0.001")
    val out = Queries.t13_clean_pipeline(spark, dir)
      .as[(Long, Long, Double, Long)].collect()
    assert(out.nonEmpty)
    val ids = out.map(_._1).toSet
    // quality gate matches t02's published scores
    val t02 = Queries.t02_quality_score(spark, dir)
      .select("doc_id", "n_tokens", "quality")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    out.foreach { case (id, n, qual, frac) =>
      val (_, n2, q2) = t02(id)
      assert(n == n2 && qual == q2 && q2 >= 0.5 && n2 >= 5)
      assert(frac <= 200000L)
      assert(id % 50 != 0)
    }
    // dedup: no two survivors share d01's fingerprint
    val fps = graft.sources.Tables(spark, dir, "documents")
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
          .as("fp"))
      .as[(Long, String)].collect()
    assert(fps.map(_._2).distinct.length == fps.length)
    // sampling: survivors are exactly the sub-80 md5 buckets of the
    // pre-sample set, so every id must satisfy the bucket rule
    out.foreach { case (id, _, _, _) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"clean:$id".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      assert(java.lang.Long.parseLong(h, 16) % 100 < 80)
    }
    // the pipeline is non-vacuous: it dropped documents
    assert(ids.size < t02.size)
  }

  test("kcore driver finish is identical to the distributed peel") {
    import graft.graph.KCore
    // K4 core {1,2,3,4} with a tail 4-5-6 that peels away at k=2,
    // and an isolated edge 7-8 that dies in round one
    val edges = ((for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j))
      ++ Seq((4L, 5L), (5L, 6L), (7L, 8L))).toDF("id1", "id2")
    def run(bound: Long) = forcing(driverMaxEdges = bound)(
        KCore.kcore(edges, k = 2, rounds = 4))
      .as[(Long, Long)].collect().toMap
    val driver = run(2000000L)
    val dist = run(0L)
    assert(driver == dist)
    assert(driver.keySet == Set(1L, 2L, 3L, 4L))
    assert(driver.values.forall(_ == 3L))
  }

  test("q52 collection stats match a driver-side recomputation") {
    val got = Queries.q52_collection_stats(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val raw = graft.sources.Tables(spark, sf("sf0.001"), "orders")
      .select(col("o_custkey").cast("long"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"),
        col("o_orderpriority"), col("o_orderstatus"))
      .as[(Long, Long, String, String)].collect()
    assert(raw.nonEmpty && got.nonEmpty)
    val grade = Map("1-URGENT" -> 5L, "2-HIGH" -> 4L, "3-MEDIUM" -> 2L,
      "4-NOT SPECIFIED" -> 1L).withDefaultValue(0L)
    raw.groupBy(_._1).foreach { case (cust, rows) =>
      val cents = rows.map(_._2).sorted
      val scores = rows.map(r => grade(r._3)).sorted
      val n = rows.length
      // exact median in half-units: lower + upper middle of the
      // sorted values (odd n picks the same value twice)
      def med2(v: Seq[Long]): Long = v((n - 1) / 2) + v(n / 2)
      def halfUp(num: Long, den: Long): Long = (2 * num + den) / (2 * den)
      val sn = rows.count(_._4 != "O").toLong
      val (_, nm, rmean, rmed, smean, smed, nav, crank) = got(cust)
      assert(nm == n.toLong)
      assert(rmean == math.max(halfUp(10000L * cents.sum, n), 1L))
      assert(rmed == math.max(med2(cents), 1L))
      assert(smean == math.max(halfUp(1000000L * scores.sum, n), 1L))
      assert(smed == math.max(med2(scores), 1L))
      assert(nav == math.max(halfUp(1000000L * sn, n), 1L))
      assert(crank == math.max(cents.max, 1L))
    }
  }

  test("reachability: cycles, redirects, entry-wins on a hand-built DAG") {
    import graft.graph.Reachability
    // 2 ⇄ 3 is a CYCLE (real Wikidata subclass data has them);
    // 4 → 2; 5 has NO entry and redirects to 4 (borrows 4's edges);
    // 6 is isolated; 7 HAS its own entry (7 → 6) AND a redirect to 4
    // — per the reference's try/except order the entry must win, so 7
    // only reaches 6
    val subclass = Seq((2L, 1L), (3L, 2L), (2L, 3L), (4L, 2L), (7L, 6L))
      .toDF("child", "parent")
    val sameAs = Seq((5L, 4L), (7L, 4L)).toDF("from", "to")
    val eff = Reachability.effectiveEdges(subclass, sameAs)
      .as[(Long, Long)].collect().toSet
    assert(eff.contains((5L, 2L)))   // borrowed through the redirect
    assert(!eff.contains((7L, 2L)))  // entry wins over redirect
    val targets = Seq(1L).toDF("node")
    val reach = Reachability.reachingSet(eff.toSeq.toDF("child", "parent"),
      targets).as[Long].collect().toSet
    assert(reach == Set(1L, 2L, 3L, 4L, 5L))
    // the bounded driver finish and the distributed loop are the
    // same fixpoint (the Components/PageRank pinning discipline)
    val loop = forcing(driverMaxEdges = 0L)(Reachability.reachingSet(
      eff.toSeq.toDF("child", "parent"), targets)).as[Long].collect().toSet
    assert(loop == reach)
    // string-typed ids survive the driver path (no silent cast)
    val sEdges = Seq(("Q2", "Q1"), ("Q3", "Q2")).toDF("child", "parent")
    val sReach = Reachability.reachingSet(sEdges,
      Seq("Q1").toDF("node")).as[String].collect().toSet
    assert(sReach == Set("Q1", "Q2", "Q3"))
    // member A's second type reaches; B types onto the isolated node
    val memberTypes = Seq(("a", 6L), ("a", 4L), ("b", 6L))
      .toDF("member", "tid")
    val valid = Reachability.validMembers(
      memberTypes, reach.toSeq.toDF("node")).as[String].collect().toSet
    assert(valid == Set("a"))
    // past the broadcast cap the semi-join falls back to a shuffle
    // plan with identical output (the Triangles size-gate discipline)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fb = forcing(broadcastBytes = 1L)(Reachability.validMembers(
        memberTypes, reach.toSeq.toDF("node")))
      val fbRows = fb.as[String].collect().toSet
      assert(fbRows == valid)
      assert(!fb.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q49: validity matches a driver-side DFS re-implementation") {
    val rows = Queries.q49_reachability(spark, sf("sf0.001"))
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // both outcomes occur — the check is non-vacuous
    assert(rows.exists(_._3 == 1L) && rows.exists(_._3 == 0L))
    assert(rows.exists(r => r._2 == 1L && r._3 == 1L))
    // independent oracle: literal DFS over the same synthetic
    // hierarchy, reference-style (per-source stack walk)
    val typedT = (0L until 64L).filter(_ % 11 != 7).toSet
    val eBase = ((2L until 64L).filter(typedT).map(i => i -> i / 2) ++
      (3L until 64L).filter(i => i % 7 == 0 && typedT(i))
        .map(i => i -> i / 3)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    def parents(n: Long): Set[Long] =
      if (typedT(n)) eBase.getOrElse(n, Set.empty)
      else eBase.getOrElse(n - 1, Set.empty)
    def dfs(src: Long, targets: Set[Long]): Boolean = {
      var visited = Set(src); var stack = List(src)
      while (stack.nonEmpty) {
        val cur = stack.head; stack = stack.tail
        if (targets(cur)) return true
        for (p <- parents(cur) if !visited(p)) {
          visited += p; stack = p :: stack
        }
      }
      false
    }
    val maxKey = rows.map(_._1).max
    rows.foreach { case (m, viaRedirect, isValid) =>
      assert(viaRedirect == (if (m % 13 == 5) 1L else 0L))
      val seedKey = if (m % 13 == 5) m + 1 else m
      val expected =
        if (m % 13 == 5 && seedKey > maxKey) false
        else Set(seedKey % 64, (seedKey * 7 + 3) % 64)
          .exists(dfs(_, Set(3L, 10L)))
      assert(isValid == (if (expected) 1L else 0L),
        s"member $m: got $isValid, dfs says $expected")
    }
  }
}
