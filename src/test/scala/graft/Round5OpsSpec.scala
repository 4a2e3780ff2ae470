package graft

import graft.graph.Triangles
import graft.graph.SizePolicy.forcing
import org.apache.spark.sql.functions._

/** Round-5 operators: per-node triangle counts / local clustering
  * coefficient (g03), and the session's later additions. */
class Round5OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def perNode(edges: Seq[(Long, Long)]) =
    Triangles.perNode(edges.toDF("id1", "id2"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (n, d, t, c) => n -> ((d, t, c)) }.toMap

  test("g03 per-node triangles: K4 is fully clustered") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val m = perNode(k4)
    assert(m.size == 4)
    m.values.foreach { case (d, t, c) =>
      assert(d == 3L && t == 3L && c == 1000000L)
    }
  }

  test("g03 per-node triangles: triangle + tail, deg-1 node excluded") {
    val m = perNode(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))
    // node 4 has degree 1 — coefficient undefined, excluded
    assert(m.keySet == Set(1L, 2L, 3L))
    assert(m(1L) == ((2L, 1L, 1000000L)))
    assert(m(2L) == ((2L, 1L, 1000000L)))
    // 2T/(deg·(deg−1)) = 2/6 — integer-ppm HALF_UP of 1/3
    assert(m(3L) == ((3L, 1L, 333333L)))
  }

  test("g03 per-node triangles: star hub has zero triangles") {
    val star = (2L to 7L).map(i => (1L, i))
    val m = perNode(star)
    // spokes have degree 1 — only the hub survives the deg ≥ 2 cut
    assert(m.keySet == Set(1L))
    assert(m(1L) == ((6L, 0L, 0L)))
  }

  test("g04 personalized == plain PageRank when every node is a seed") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (3L, 1L), (1L, 3L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("node")
    val plain = graft.graph.PageRank.pageRank(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    val pers = graft.graph.PageRank.personalized(edges, nodes, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(plain == pers)
  }

  test("g04 teleport mass stays near the seed component") {
    // two disconnected symmetric components; seeds only in {1,2}
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val r = graft.graph.PageRank.personalized(edges, seeds, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(r(3L) == 0L && r(4L) == 0L)
    assert(r(1L) > 0L && r(2L) > 0L)
    // integer floor losses only: sum ≤ 1e12, within n+|E| units/round
    val total = r.values.sum
    assert(total <= 1000000000000L && total > 999999999900L)
  }

  test("g04 ignores seeds outside the graph, requires one inside") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = graft.graph.PageRank.personalized(edges,
      Seq(1L, 99L).toDF("node"), iters = 2).as[(Long, Long)]
      .collect().toMap
    assert(r.keySet == Set(1L, 2L))
    intercept[IllegalArgumentException] {
      graft.graph.PageRank.personalized(edges,
        Seq(99L).toDF("node"), iters = 2).collect()
    }
  }

  test("g05 k-core peels tails and keeps the dense core") {
    // triangle {1,2,3} with a pendant chain 3-4-5: the 2-core is the
    // triangle; peeling needs 2 rounds (5 drops first, THEN 4)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("id1", "id2")
    val core = graft.graph.KCore.kcore(edges, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // one round is NOT enough — node 4 still sees the un-peeled 5
    val early = graft.graph.KCore.kcore(edges, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(early.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("g05 query reaches its fixpoint within the 5 fixed rounds") {
    import graft.graph.KCore
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val pairs = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .groupBy(col("x.pk").as("id1"), col("y.pk").as("id2"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .select("id1", "id2")
      .localCheckpoint(true)
    val at5 = KCore.kcore(pairs, 2, 5).as[(Long, Long)].collect().toSet
    val at6 = KCore.kcore(pairs, 2, 6).as[(Long, Long)].collect().toSet
    assert(at5.nonEmpty && at5 == at6)
    at5.foreach { case (_, deg) => assert(deg >= 2) }
  }

  test("d09 span dedup finds cross-document spans with sane counts") {
    val rows = Queries.d09_span_dedup(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, nDocs, nOcc) =>
      assert(nDocs >= 2 && nOcc >= nDocs)
    }
    // exact duplicate documents (same fingerprint) must collide on
    // their aligned windows: at least one span repeats ≥ as often as
    // the biggest exact-dup group
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val biggestDupGroup = docs.filter(length(col("text")) >= 64)
      .groupBy(md5(col("text"))).count()
      .agg(max("count")).as[Long].head()
    if (biggestDupGroup >= 2)
      assert(rows.map(_._3).max >= biggestDupGroup)
  }

  test("t11 count-min estimates are one-sided and collide visibly") {
    val rows = Queries.t11_countmin(spark, sf)
      .as[(String, Long, Long)].collect()
    assert(rows.length == 20)
    // CM error is one-sided: the min over rows never undercounts
    rows.foreach { case (_, exact, cm) => assert(cm >= exact) }
    // 16-wide rows vs the ~31-token vocab: collisions must be visible
    assert(rows.exists { case (_, exact, cm) => cm > exact })
  }

  test("Bloom bitset: set bits answer true, others false") {
    import graft.dedup.Bloom
    val bits = Bloom.buildBits(
      Seq(0L, 63L, 64L, 8191L).toDF("pos"), 8192)
    val df = Seq((0L, 63L), (64L, 8191L), (1L, 63L), (0L, 62L))
      .toDF("p1", "p2")
      .withColumn("hit",
        Bloom.mightContain(bits, Seq(col("p1"), col("p2"))))
    val hits = df.select("hit").as[Boolean].collect().toSeq
    // all-positions-set rows are true; any unset position kills it
    assert(hits == Seq(true, true, false, false))
  }

  test("d10 bloom hits dominate exact hits; false positives visible") {
    val rows = Queries.d10_bloom_decontaminate(spark, sf)
      .select("n_shingles", "n_bloom_hits", "n_exact_hits", "n_false_pos")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, b, e, fp) =>
      assert(b >= e && fp == b - e && b <= n && e >= 0)
    }
    // the filter is sized so the FP trade actually shows up
    assert(rows.map(_._4).sum > 0)
  }

  test("d10 exact hit counts agree with d07's exact decontamination") {
    val bloom = Queries.d10_bloom_decontaminate(spark, sf)
      .select("doc_id", "n_exact_hits").as[(Long, Long)].collect().toMap
    val exact = Queries.d07_decontaminate(spark, sf)
      .select("doc_id", "n_hits").as[(Long, Long)].collect().toMap
    assert(bloom == exact)
  }

  test("s06 product quantization: fixture codes, ties to lowest id") {
    import graft.similarity.Similarity
    val cents = Seq(0 -> Seq(0.0, 0.0, 10.0, 10.0),
      1 -> Seq(5.0, 5.0, 0.0, 0.0))
    val vecs = Seq((100L, Seq(4.0, 4.0, 9.0, 9.0)),
      (101L, Seq(2.5, 2.5, 2.5, 2.5)))
      .toDF("vec_id", "embedding")
    val out = Similarity.productQuantize(vecs, nSub = 2, cents)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, c0, c1, e) => id -> ((c0, c1, e)) }.toMap
    // 100: sub0 [4,4] → c1 (d=2 vs 32); sub1 [9,9] → c0 (d=2 vs 162)
    assert(out(100L) == ((1L, 0L, 4.0)))
    // 101: sub0 equidistant (12.5 both) → tie breaks to centroid 0
    val (c0, _, _) = out(101L)
    assert(c0 == 0L)
  }

  test("s06 centroid rows code to themselves with zero error") {
    val rows = Queries.s06_pq(spark, sf)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.length == n)
    rows.foreach { case (_, c0, c1, c2, c3, err) =>
      Seq(c0, c1, c2, c3).foreach(c => assert(c >= 0 && c < 8))
      assert(err >= 0.0)
    }
    rows.filter(_._1 < 8).foreach { case (id, c0, c1, c2, c3, err) =>
      assert(Seq(c0, c1, c2, c3).forall(_ == id) && err == 0.0)
    }
  }

  test("q46 z-order cells bound BOTH dimensions (the pruning property)") {
    val rows = Queries.q46_zorder(spark, sf)
      .select("n", "span_pk", "span_sk").as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // cell = z >> 16 keeps 8 low bits of each dim inside a cell: any
    // cell spans at most a 256x256 rectangle — that IS the file-stat
    // pruning guarantee a z-sorted layout gives a 2-D predicate
    rows.foreach { case (_, spk, ssk) =>
      assert(spk >= 0 && spk <= 255 && ssk >= 0 && ssk <= 255)
    }
    val total = rows.map(_._1).sum
    assert(total == spark.read.parquet(s"$sf/lineitem.parquet").count())
  }

  test("q47 histogram quantiles: ordered, bounded, within bucket width") {
    val rows = Queries.q47_hist_quantile(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val exact = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_orderpriority AS grp",
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v")
      .groupBy("grp")
      .agg(expr("min(v) AS mn"), expr("max(v) AS mx"),
        expr("CAST(percentile(v, 0.5) AS BIGINT) AS ex50"),
        expr("CAST(percentile(v, 0.9) AS BIGINT) AS ex90"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    rows.foreach { case (grp, _, p50, p90, p99) =>
      val (_, mn, mx, ex50, ex90) = exact(grp)
      val width = (mx - mn + 1) / 128 + 1
      assert(mn <= p50 && p50 <= p90 && p90 <= p99 && p99 <= mx)
      // estimate = lower boundary of the bucket holding the rank →
      // within one bucket width of the exact percentile
      assert(math.abs(p50 - ex50) <= width)
      assert(math.abs(p90 - ex90) <= width)
    }
  }

  test("d11 CDC chunks re-synchronize after an insertion (d09 can't)") {
    import graft.dedup.Dedup
    val shared = "the quick brown fox jumps over the lazy dog again " * 8
    val docs = Seq((1L, "AAAA " + shared),
      (2L, "a completely different and much longer prefix ... " + shared))
      .toDF("doc_id", "text")
    val chunks = Dedup.cdcChunks(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect()
    val byDoc = chunks.groupBy(_._1).view
      .mapValues(_.map(c => (c._3, c._2)).toSet).toMap
    val common = byDoc(1L).intersect(byDoc(2L))
    // content-defined boundaries realign inside the shared region
    // despite the different-length prefixes — most of its chunks
    // must be keyed identically in both docs
    assert(common.size >= 3)
    // chunks tile each doc exactly: lengths sum to doc length
    val lens = chunks.groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toMap
    docs.collect().foreach { r =>
      assert(lens(r.getLong(0)) == r.getString(1).length)
    }
  }

  test("d11 query: cross-doc duplicated chunks with sane counts") {
    val rows = Queries.d11_cdc_chunks(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, nDocs, nOcc, clen) =>
      assert(nDocs >= 2 && nOcc >= nDocs && clen >= 1)
    }
  }

  test("PageRank driver finish is bit-identical to the distributed loop") {
    import graft.graph.PageRank
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (3L, 1L), (1L, 3L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val a = PageRank.pageRank(edges, iters = 4)
      .as[(Long, Long)].collect().toMap
    val b = forcing(driverMaxEdges = 0L)(
        PageRank.pageRank(edges, iters = 4))
      .as[(Long, Long)].collect().toMap
    assert(a == b)
    val seeds = Seq(1L).toDF("node")
    val c = PageRank.personalized(edges, seeds, iters = 4)
      .as[(Long, Long)].collect().toMap
    val e = forcing(driverMaxEdges = 0L)(
        PageRank.personalized(edges, seeds, iters = 4))
      .as[(Long, Long)].collect().toMap
    assert(c == e)
    assert(a != c) // personalization actually changes the ranking
  }

  test("e11 gap fill tiles each user's span; LOCF never null") {
    val rows = Queries.e11_gap_fill(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_._1)
    byUser.foreach { case (_, rs) =>
      val hs = rs.map(_._2).sorted
      // the grid is contiguous: every hour between min and max present
      assert(hs.last - hs.head + 1 == hs.length)
      assert(hs.distinct.length == hs.length)
      // first grid hour is observed by construction; LOCF fills gaps
      rs.foreach { case (_, _, n, gap, locf) =>
        assert((gap == 1L) == (n == 0L))
        assert(!locf.isNaN)
      }
    }
    // the fill actually fills something
    assert(rows.exists(_._4 == 1L))
  }

  test("s07 multi-probe is a superset of s03; extras are 1-bit splits") {
    val s03 = Queries.s03_ann_lsh(spark, sf)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val s07 = Queries.s07_multiprobe(spark, sf)
      .select("id1", "id2", "ham_bits").as[(Long, Long, Long)]
      .collect()
    val same = s07.filter(_._3 == 0L).map(t => (t._1, t._2)).toSet
    val extra = s07.filter(_._3 == 1L).map(t => (t._1, t._2)).toSet
    assert(same == s03)
    // probing must recover pairs the single-bucket form missed
    assert(extra.nonEmpty && extra.intersect(s03).isEmpty)
  }

  test("d12 minhash estimate: twelfth-quantized, near exact Jaccard") {
    val rows = Queries.d12_minhash_est(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, est, exact) =>
      assert(est >= 0L && est <= 1000000L)
      assert(exact >= 0L && exact <= 1000000L)
      // est is k/12 for integer k — exactly the sketch's resolution
      assert((0 to 12).map(k => k * 1000000L / 12).contains(est))
      // 12-hash concentration: |est − exact| within ~3σ ≈ 0.45
      assert(math.abs(est - exact) <= 450000L)
    }
    // the sketch is an estimate, not the exact value
    assert(rows.exists { case (_, _, est, exact) => est != exact })
  }

  test("d13 simhash audit: low hamming means high exact similarity") {
    val rows = Queries.d13_simhash_est(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, h, ppm) =>
      assert(h >= 0L && h <= 6L && ppm >= 0L && ppm <= 1000000L)
    }
    // the pairs the 8-bit banding surfaces at hamming <= 6 are real
    // near-dups: mean exact Jaccard across them is high
    val mean = rows.map(_._4).sum / rows.length
    assert(mean >= 500000L)
  }

  test("q48 EWMA: bounded by frame max, exact on a hand fixture") {
    val rows = Queries.q48_ewma(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // the decayed score can never exceed the max event value: the
    // frame weights sum to 1023/1024 < 1
    val maxCents = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("max(CAST(round(value * 100, 0) AS BIGINT))")
      .as[Long].head()
    rows.foreach { case (_, _, m) =>
      assert(m >= 0L && m <= maxCents * 1000L)
    }
    // hand check: cents c at weights [512, 256] over two events:
    // newest event's ewma_milli = (c*512 + prev*256)*1000 DIV 1024
    import org.apache.spark.sql.expressions.Window
    val e = graft.sources.Tables.events(spark, sf)
      .filter(col("user_id") === 0)
      .select(col("event_id"),
        unix_millis(col("ts")).as("ms"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .orderBy("ms", "event_id").limit(2)
      .as[(Long, Long, Long)].collect()
    if (e.length == 2) {
      val expect = (e(1)._3 * 512 + e(0)._3 * 256) * 1000 / 1024
      val byEvent = rows.map(r => r._2 -> r._3).toMap
      assert(byEvent(e(1)._1) == expect)
    }
  }

  test("g03 corner attribution sums to 3x the g02 triangle count") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 3L), (1L, 4L)).toDF("id1", "id2")
    val total = Triangles.count(edges)
      .select("n_triangles").as[Long].head()
    val perCorner = Triangles.perNode(edges)
      .agg(sum("tri")).as[Long].head()
    assert(perCorner == 3 * total)
  }
}
