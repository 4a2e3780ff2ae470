package graft

import graft.graph.SizePolicy.forcing
import graft.text.TextFunctions
import org.apache.spark.sql.functions._

/** Round-13 additions: s14 OPQ-style Householder-rotated PQ. */
class Round13OpsSpec extends SparkSpec {
  import spark.implicits._

  /** Anisotropic fixture where the rotation MUST win: two orthogonal
    * latent directions g1 (dominant) and g2, both spread across every
    * PQ subspace, plus small isotropic noise. In the natural layout
    * every subspace sees a 2-d manifold (its share of BOTH a and b)
    * and its 8 codewords must compromise; after the Householder
    * reflection the dominant direction collapses into coordinate 0,
    * so three of four subspaces drop to ~1 effective dimension and
    * the two degrees of freedom quantize independently — the OPQ
    * mechanism itself, not a data accident. The shipped embeddings
    * are isotropic (intra-label cosine ~0.06) so s14's testdata rows
    * legitimately report ~no improvement; THIS fixture is where the
    * semantics are pinned.
    */
  private lazy val anisoDir: String = {
    val dim = 64
    // g1: all-positive (nonzero overlap with the all-ones power-
    // iteration start), spread across all dims; g2 ⊥ g1 by
    // alternating-sign pairing, also spread across all dims
    val g1r = Array.tabulate(dim)(i => 1.0 + (i % 4) * 0.3)
    val n1 = math.sqrt(g1r.map(x => x * x).sum)
    val g1 = g1r.map(_ / n1)
    val g2r = Array.tabulate(dim)(i => if (i % 2 == 0) g1(i + 1)
      else -g1(i - 1))
    val n2 = math.sqrt(g2r.map(x => x * x).sum)
    val g2 = g2r.map(_ / n2)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { k =>
      val a = rnd.nextDouble() * 2 - 1          // dominant, var 1/3
      val b = (rnd.nextDouble() * 2 - 1) * 0.5  // secondary, var 1/12
      val v = Array.tabulate(dim) { i =>
        (a * g1(i) + b * g2(i) + (rnd.nextDouble() - 0.5) * 0.02)
          .toFloat
      }
      (k.toLong, v.toSeq, k % 10)
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft-aniso").toString
    rows.toDF("vec_id", "embedding", "label")
      .withColumn("label", col("label").cast("int"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("s14: Householder-rotated PQ beats natural layout on " +
    "anisotropic data") {
    val out = Queries.s14_opq_rotate(spark, anisoDir)
      .as[(String, Long, Long)].collect()
      .map { case (k, v, e) => k -> ((v, e)) }.toMap
    val (vecsH, errH) = out("householder")
    val (vecsN, errN) = out("natural")
    assert(vecsH == 300 && vecsN == 300)
    assert(errH > 0 && errN > 0)
    // the rotation must deliver a real reconstruction-error drop,
    // not a rounding artifact — pin a 10% margin
    assert(errH < errN * 0.90,
      s"householder $errH not <90% of natural $errN")
  }

  for (sfName <- Seq("sf0.001", "sf0.01"))
    test(s"g14 monotone: modularity(refined) >= modularity(LPA) " +
      s"@ $sfName") {
      val pairs = Queries.coPurchasePairs(spark, sf(sfName))
      val lpa = graft.graph.LabelPropagation.run(pairs, rounds = 4)
      val refined = graft.graph.LabelPropagation.refineMerge(pairs, lpa)
      def q(labels: org.apache.spark.sql.DataFrame): Long =
        graft.graph.LabelPropagation.modularityPpm(pairs, labels)
          .select("modularity_ppm").as[Long].head()
      val q0 = q(lpa)
      val q1 = q(refined)
      assert(q1 >= q0, s"refinement dropped Q: $q0 -> $q1")
      // same node set, labels are a coarsening (every refined label
      // was an LPA label; merges only ever relabel whole communities)
      val l0 = lpa.as[(Long, Long)].collect().toMap
      val l1 = refined.as[(Long, Long)].collect().toMap
      assert(l0.keySet == l1.keySet)
      assert(l1.values.toSet.subsetOf(l0.values.toSet))
      // coarsening respects LPA boundaries: nodes sharing an LPA
      // community still share a refined community
      l0.groupBy(_._2).values.foreach { grp =>
        assert(grp.keys.map(l1).toSet.size == 1)
      }
      spark.sharedState.cacheManager.clearCache()
    }

  test("g14 driver finish == distributed refinement, row for row") {
    Seq("sf0.001", "sf0.01").foreach { sfn =>
      val pairs = Queries.coPurchasePairs(spark, sf(sfn))
      val lpa = graft.graph.LabelPropagation.run(pairs, rounds = 4)
      val drv = graft.graph.LabelPropagation
        .refineMerge(pairs, lpa)
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      val dist = forcing(driverMaxEdges = 0L)(graft.graph.LabelPropagation
        .refineMerge(pairs, lpa))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(drv == dist, s"paths diverge at $sfn")
      assert(drv.nonEmpty)
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("canonical-edges fast path == general path (run / " +
    "modularityPpm / refineMerge)") {
    val pairs = Queries.coPurchasePairs(spark, sf("sf0.01"))
      .persist()
    pairs.count()
    val lpaC = graft.graph.LabelPropagation
      .run(pairs, rounds = 4, canonical = true)
    val lpaG = graft.graph.LabelPropagation.run(pairs, rounds = 4)
    assert(lpaC.as[(Long, Long)].collect().sorted.toSeq ==
      lpaG.as[(Long, Long)].collect().sorted.toSeq)
    val modC = graft.graph.LabelPropagation
      .modularityPpm(pairs, lpaC, canonical = true).collect().toSeq
    val modG = graft.graph.LabelPropagation
      .modularityPpm(pairs, lpaC).collect().toSeq
    assert(modC == modG && modC.nonEmpty)
    val refC = graft.graph.LabelPropagation
      .refineMerge(pairs, lpaC, canonical = true)
      .as[(Long, Long)].collect().sorted.toSeq
    val refG = graft.graph.LabelPropagation.refineMerge(pairs, lpaC)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(refC == refG && refC.nonEmpty)
    pairs.unpersist()
    spark.sharedState.cacheManager.clearCache()
  }

  test("t25: the trained NB classifier beats the base rate") {
    for (sfn <- Seq("sf0.001", "sf0.01")) {
      val r = Queries.t25_nb_eval(spark, sf(sfn)).collect().head
      val acc = r.getAs[Long]("accuracy_ppm")
      val base = r.getAs[Long]("base_ppm")
      assert(acc > base,
        s"$sfn: accuracy $acc ppm not above base $base ppm")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("t24: weight table is the full 65-row spine, prior row " +
    "carries the doc counts") {
    val w = Queries.t24_nb_train(spark, sf("sf0.001")).collect()
    assert(w.length == 65)
    assert(w.map(_.getAs[Long]("feature_id")).toSeq ==
      (-1L to 63L).toSeq)
    val prior = w.head
    val nDocs = graft.sources.Tables(spark, sf("sf0.001"),
      "documents").count()
    assert(prior.getAs[Long]("n_pos") + prior.getAs[Long]("n_neg")
      == nDocs)
    // smoothing leaves no weight unbounded: |llr| < ln(tp+tn) scale
    assert(w.tail.forall(r =>
      math.abs(r.getAs[Long]("w_micro")) < 20000000L))
    spark.sharedState.cacheManager.clearCache()
  }

  test("g14 non-vacuous at sf0.01: the sweep actually merges") {
    val pairs = Queries.coPurchasePairs(spark, sf("sf0.01"))
    val lpa = graft.graph.LabelPropagation.run(pairs, rounds = 4)
    val refined = graft.graph.LabelPropagation.refineMerge(pairs, lpa)
    val n0 = lpa.select("label").distinct().count()
    val n1 = refined.select("label").distinct().count()
    assert(n1 < n0, s"no merge happened ($n0 -> $n1 communities)")
    spark.sharedState.cacheManager.clearCache()
  }

  test("s14: reflection preserves norms (orthogonality, integer" +
    " tolerance) and testdata report is well-formed") {
    // semantic pin on real testdata: 2 rows, 500 vecs, positive errs
    val rows = Queries.s14_opq_rotate(spark, sf("sf0.001"))
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("householder", "natural"))
    assert(rows.forall(_._2 == 500))
    assert(rows.forall(_._3 > 0))
    // orthogonality: an exact Householder reflection preserves every
    // vector's norm; the integer version may drift only by the
    // HALF_UP quantization (≤ 0.5 per coordinate). Replay the
    // rotation on the fixture in exact arithmetic and check ‖rx‖²
    // stays within the quantization envelope of ‖x‖².
    val e = spark.read.parquet(s"$anisoDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val xm = e.map { case (id, v) =>
      id -> v.map(x => math.round(x * 1000)).toArray }
    // same driver chain s14 uses
    val u = Queries.topEigenMilli(spark, anisoDir)
    val nv = math.sqrt(u.map(x => x * x).sum.toDouble).toLong
    val w = u.clone(); w(0) = u(0) + (if (u(0) >= 0) nv else -nv)
    val ww = w.map(x => x * x).sum
    def hup(num: Long, den: Long): Long =
      if (num >= 0) (2 * num + den) / (2 * den)
      else -((2 * -num + den) / (2 * den))
    xm.take(50).foreach { case (_, x) =>
      val dt = x.indices.map(i => x(i) * w(i)).sum
      val rx = x.indices.map(i => x(i) - hup(2 * dt * w(i), ww))
      val n0 = x.map(v => v * v).sum
      val n1 = rx.map(v => v * v).sum
      // per-coordinate HALF_UP drift ≤ 0.5 → ‖rx‖² within
      // ‖x‖² ± (64 · (|coords| + ...)); use a 1% relative envelope
      assert(math.abs(n1 - n0) <= math.max(n0 / 100, 2000L),
        s"norm not preserved: $n0 vs $n1")
    }
  }

  /** SearchAnalyzeExpr (q60's one-pass analyzer) == the declarative
    * composition it replaced, field for field AS TF MULTISETS: the
    * expression now emits aggregated (fid, tid, tf) postings, so the
    * pin groups the declarative hit arrays into per-term counts,
    * maps terms to vocabulary ids, and compares exactly — including
    * the kw derivation (desc tf >= 3 -> tf 1) and all five lens.
    * Runs over real documents at two SFs PLUS a hostile fixture
    * (punctuation-only tokens, mixed whitespace, case, empties,
    * >8 tokens, adjacent bigram runs). */
  test("q60 one-pass analyzer == declarative five-scan composition") {
    import org.apache.spark.sql.graft.{ColumnBridge, SearchAnalyzeExpr, WordShinglesExpr}
    val qWords = Queries.searchQueryWords
    val qBigrams = Queries.searchQueryBigrams
    def gramsOf(c: org.apache.spark.sql.Column, n: Int) =
      ColumnBridge.column(WordShinglesExpr(ColumnBridge.expression(c), n))
    def hit(arr: org.apache.spark.sql.Column, terms: Seq[String]) =
      filter(arr, x => x.isInCollection(terms))
    def counts(hits: Seq[String], vocab: Seq[String]): Map[Int, Int] =
      hits.groupBy(identity).map { case (t, g) =>
        vocab.indexOf(t) -> g.size
      }
    def bothWays(df: org.apache.spark.sql.DataFrame): Unit = {
      val declarative = df.select(
          col("doc_id"),
          TextFunctions.tokens(col("text")).as("raw"),
          gramsOf(col("text"), 1).as("toks"),
          gramsOf(col("text"), 2).as("big"),
          gramsOf(regexp_replace(lower(col("text")),
            "[^a-z0-9\\s]", ""), 1).as("nrm"),
          gramsOf(regexp_replace(lower(col("text")),
            "[^a-z0-9]+", " "), 1).as("sub"))
        .select(col("doc_id"),
          least(size(col("toks")), lit(8)).cast("long").as("name_len"),
          size(col("toks")).cast("long").as("desc_len"),
          size(col("nrm")).cast("long").as("norm_len"),
          size(col("sub")).cast("long").as("tok_len"),
          size(col("big")).cast("long").as("ph_len"),
          hit(slice(col("toks"), 1, 8), qWords).as("a_name"),
          hit(slice(col("raw"), 1, 8), qWords).as("a_exact"),
          hit(col("toks"), qWords).as("a_desc"),
          hit(col("nrm"), qWords).as("a_norm"),
          hit(col("sub"), qWords).as("a_tok"),
          hit(col("big"), qBigrams).as("a_ph2"))
        .collect().map(r => r.getLong(0) -> r).toMap
      val onePass = df.select(col("doc_id"),
          ColumnBridge.column(SearchAnalyzeExpr(
            ColumnBridge.expression(col("text")),
            qWords, qBigrams)).as("z"))
        .select(col("doc_id"),
          col("z.name_len"), col("z.desc_len"), col("z.norm_len"),
          col("z.tok_len"), col("z.ph_len"), col("z.posts"))
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(declarative.keySet == onePass.keySet)
      declarative.foreach { case (id, d) =>
        val o = onePass(id)
        (1 to 5).foreach(i => assert(d.getLong(i) == o.getLong(i),
          s"doc $id len field $i: ${d.getLong(i)} vs ${o.getLong(i)}"))
        val posts = o.getSeq[org.apache.spark.sql.Row](6)
          .map(p => (p.getInt(0), p.getInt(1)) -> p.getInt(2)).toMap
        def fidOf(fid: Int): Map[Int, Int] =
          posts.collect { case ((f, t), c) if f == fid => t -> c }
        // fid codes: 0 name, 1 exact, 2 desc, 3 kw, 4 norm, 5 tok,
        // 6 ph2
        val descCnt = counts(d.getSeq[String](8), qWords)
        assert(fidOf(0) == counts(d.getSeq[String](6), qWords),
          s"doc $id name postings diverge")
        assert(fidOf(1) == counts(d.getSeq[String](7), qWords),
          s"doc $id exact postings diverge")
        assert(fidOf(2) == descCnt, s"doc $id desc postings diverge")
        assert(fidOf(3) == descCnt.collect {
          case (t, c) if c >= 3 => t -> 1
        }.toMap, s"doc $id kw postings diverge")
        assert(fidOf(4) == counts(d.getSeq[String](9), qWords),
          s"doc $id norm postings diverge")
        assert(fidOf(5) == counts(d.getSeq[String](10), qWords),
          s"doc $id tok postings diverge")
        assert(fidOf(6) == counts(d.getSeq[String](11), qBigrams),
          s"doc $id ph2 postings diverge")
      }
    }
    Seq("sf0.001", "sf0.01").foreach { sfn =>
      bothWays(spark.read.parquet(sf(sfn) + "/documents.parquet")
        .select(col("doc_id"), col("text")))
    }
    // hostile fixture: tf >= 3 keyword runs, punctuation-only
    // tokens, mixed whitespace/case, empties, >8 tokens, adjacent
    // bigram runs; the one-token case is where greatest(size-1, 0)
    // and WordShingles' empty array must agree
    val hostile = Seq(
      (1L, "spark window spark window spark window hash join x y"),
      (2L, "  SPARK\tWindow\nhash   join!! ... (stream) "),
      (3L, "a-b_c9 ...!!... key,value 0spark0 spark.window"),
      (4L, "spark"), (5L, ""), (6L, "   \t\n  "),
      (7L, "vector vector vector scan scan spark spark spark"),
      (8L, (1 to 20).map(i => s"tok$i spark").mkString(" ")))
      .toDF("doc_id", "text")
    bothWays(hostile)
  }

  /** t23 BPE encode == a driver-side replay: learn the merges from
    * q63's output, apply each sequentially to every normalized doc
    * with a literal leftmost-non-overlapping token-pair fuse, and
    * compare per-doc before/after counts and saved_ppm exactly. */
  test("t23 encode counts match a driver-side merge replay") {
    // leftmost-non-overlapping fuse over the token list — the
    // textbook BPE merge application t23's space-doubled replace
    // mirrors
    def fuse(toks: List[String], a: String, b: String): List[String] =
      toks match {
        case x :: y :: rest if x == a && y == b =>
          (a + "_" + b) :: fuse(rest, a, b)
        case x :: rest => x :: fuse(rest, a, b)
        case Nil => Nil
      }
    // batched rounds: merges apply in (round, seq) order — within a
    // round the batch is NON-INTERFERING (no accepted left equals an
    // accepted right, fused names fresh), so occurrences never
    // overlap and sequential application == the single-scan batch
    val merges = Queries.q63_bpe_merges(spark, sf("sf0.001"))
      .as[(Long, Long, String, Long)].collect()
      .sortBy(r => (r._1, r._2))
      .map(r => { val p = r._3.split(" "); (p(0), p(1)) })
    assert(merges.length >= 300, s"only ${merges.length} merges")
    val got = Queries.t23_bpe_encode(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val docs = spark.read
      .parquet(sf("sf0.001") + "/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    assert(got.size == docs.length)
    docs.foreach { case (id, text) =>
      val t0 = text.trim.toLowerCase.split("\\s+")
        .filter(_.nonEmpty).toList
      val enc = merges.foldLeft(t0) { case (ts, (a, b)) =>
        fuse(ts, a, b)
      }
      val nb = t0.length.toLong
      val na = enc.length.toLong
      val ppm = if (nb == 0) 0L else ((nb - na) * 2000000L + nb) / (2 * nb)
      assert(got(id) == ((nb, na, ppm)), s"doc $id")
    }
    // non-vacuous: the merges actually fire somewhere
    assert(got.values.exists(v => v._2 < v._1), "no doc compressed")
    spark.sharedState.cacheManager.clearCache()
  }
}
