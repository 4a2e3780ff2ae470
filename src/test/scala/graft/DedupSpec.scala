package graft

import graft.dedup.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private lazy val docs = Seq(
    (1L, base),
    (2L, base), // exact dup of 1
    (3L, base + " lambda"), // near dup of 1
    (4L, "completely different words entirely unrelated content here now")
  ).toDF("doc_id", "text")

  test("exactClusters groups identical normalized content") {
    val rows = Dedup.exactClusters(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect()
    assert(rows.length == 3)
    val dup = rows.find(_._2 == 2).get
    assert(dup._3 == 1L) // min id survives
  }

  test("ngramJaccardPairs finds exact and near dup pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhashLshPairs agrees with exact jaccard on this corpus") {
    val got = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 12, bands = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(got.contains((1L, 2L))) // identical docs always collide
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhashSignatures leaves no cache entry behind") {
    spark.sharedState.cacheManager.clearCache()
    val sigs = Dedup.simhashSignatures(
      graft.text.TextFunctions.shinglePostings(docs, "doc_id", "text", 3,
        distinct = true))
      .as[(Long, Long)].collect()
    assert(sigs.length == 4 && sigs.find(_._1 == 1L) == sigs.find(_._1 == 2L)
      .map(_.copy(_1 = 1L)))
    assert(spark.sharedState.cacheManager.isEmpty,
      "simhashSignatures left a CacheManager entry")
  }

  test("simhashPairs: identical docs have hamming 0") {
    val got = Dedup.simhashPairs(docs, "doc_id", "text",
        shingleSize = 3, maxHamming = 0)
      .as[(Long, Long, Long)].collect()
    assert(got.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
  }

  test("minhash signature is deterministic across runs") {
    val p = graft.text.TextFunctions.shinglePostings(docs, "doc_id",
      "text", 3, distinct = true)
    val a = Dedup.minhashSignatures(p, 8).as[(Long, Seq[String])]
      .collect().toMap
    val b = Dedup.minhashSignatures(p, 8).as[(Long, Seq[String])]
      .collect().toMap
    assert(a == b)
    assert(a(1L) == a.getOrElse(2L, Nil)) // identical docs, same sig
  }

  test("fused band keys == the interpreted reference chain == the " +
    "aggregate form, row for row, codegen'd and interpreted") {
    import graft.text.TextFunctions
    import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.MinhashBandKeys
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    // case-mapping traps (İ, ß, Σ and final sigma, Ǆ, fullwidth),
    // two separators that are NOT `\s` (no-break and em space) and
    // a tiny vocabulary so shingles repeat across and within docs
    val words = Vector("alpha", "beta", "gamma", "the", "of", "İstanbul",
      "IŞIK", "Straße", "STRASSE", "ß", "ΣΟΦΟΣ", "ΟΔΟΣ", "Σ", "σοφός",
      "ǄEMAL", "ＡＢＣ", "naïve", "ÉCOLE", "日本", "a\u00a0b", "x\u2003y")
    val seps = Vector(" ", " ", " ", "  ", "\t", "\n", " \t ", "\r\n",
      "\u000b", "\u000c")
    val rnd = new scala.util.Random(611L)
    def sep = seps(rnd.nextInt(seps.size))
    def randomDoc: String = {
      val toks = if (rnd.nextInt(5) == 0) { // a repeated phrase
        val phrase = Vector.fill(2 + rnd.nextInt(2))(
          words(rnd.nextInt(words.size)))
        Vector.fill(2 + rnd.nextInt(3))(phrase).flatten
      } else Vector.fill(rnd.nextInt(12))(words(rnd.nextInt(words.size)))
      val body = toks.map(t => t + sep).mkString.dropRight(1)
      (if (rnd.nextBoolean()) sep else "") + body +
        (if (rnd.nextBoolean()) sep else "")
    }
    val fixed = Seq(None, Some(""), Some("   "), Some(" \t\n "),
      Some("two tokens"), Some("three tokens here"),
      Some("exactly four tokens here"), Some("  İ ß  Σ\t"),
      Some("a b c a b c a b c"), Some("ΟΔΟΣ ΣΟΦΟΣ Σ ΣΣ"))
    val texts = (fixed ++ Seq.fill(2000)(Some(randomDoc))).toVector
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val reference = df
      .filter(size(TextFunctions.tokens(col("text"))) >= 3)
      .select(col("doc_id"), Dedup.lshBandKeys(Dedup.minhashSignature(
        array_distinct(TextFunctions.wordShingles(col("text"), 3)), 12),
        4, 3))
      .as[(Long, Seq[String])].collect().toMap
    val aggregate = Dedup.minhashSignatures(TextFunctions.shinglePostings(
        df, "doc_id", "text", 3, distinct = true), 12)
      .select(col("doc_id"), Dedup.lshBandKeys(col("sig"), 4, 3))
      .as[(Long, Seq[String])].collect().toMap
    // short, empty and null docs get null keys, never md5('') ones
    val want = texts.indices.map(i => i.toLong -> reference.get(i)).toMap
    def diff(got: Map[Long, Option[Seq[String]]]) =
      texts.indices.filter(i => got(i.toLong) != want(i.toLong))
        .map(i => s"doc $i ${texts(i)}: ${got(i.toLong)} vs ${want(i.toLong)}")
    def fused() = df
      .select(col("doc_id"), MinhashBandKeys.of(col("text"), 3, 12, 4))
      .as[(Long, Option[Seq[String]])].collect().toMap
    // non-vacuous: both eligible and short docs occur
    assert(reference.size > 1000 && reference.size < texts.size - 100)
    assert(diff(aggregate.map { case (k, v) => k -> Option(v) }
      .withDefaultValue(None)).isEmpty)
    assert(diff(fused()).isEmpty, diff(fused()).take(5))
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(diff(fused()).isEmpty, diff(fused()).take(5))
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    // and the expression's own eval, called directly
    val evaled = texts.zipWithIndex.map { case (t, i) =>
      i.toLong -> Option(MinhashBandKeys(Lower(Literal(
          UTF8String.fromString(t.orNull), StringType)), 3, 12, 4).eval())
        .map(_.asInstanceOf[ArrayData].toSeq[Any](StringType)
          .map(_.toString))
    }.toMap
    assert(diff(evaled).isEmpty, diff(evaled).take(5))
  }

  test("bandsFor picks the fewest recall-preserving bands") {
    // maxHamming 3 → 4 bands of 16 bits (262 144 bucket keys)
    assert(Dedup.bandsFor(64, 3) == 4)
    // maxHamming 7 → needs ≥ 8 bands
    assert(Dedup.bandsFor(64, 7) == 8)
    // maxHamming 0: one band would be 64 bits > 16-bit cap → 4 bands
    assert(Dedup.bandsFor(64, 0) == 4)
    assert(Dedup.bandsFor(32, 3) == 4)
  }

  test("wide-band (scaled) banding returns identical pairs") {
    // the 4×16-bit banding bandsFor prescribes at maxHamming 3 must
    // produce EXACTLY the 8-band default's pairs — recall is a
    // pigeonhole guarantee, not probabilistic
    val docs10 = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(120)
    def pairs(bands: Int) =
      Dedup.simhashPairs(docs10, "doc_id", "text", shingleSize = 3,
          maxHamming = 3, sigBits = 64, bands = bands)
        .as[(Long, Long, Long)].collect().toSet
    assert(pairs(Dedup.bandsFor(64, 3)) == pairs(8))
  }

  test("sourceShingleJaccard: vocabulary intersection + HALF_UP ppm " +
    "over a hand-computable fixture; non-overlapping pairs absent") {
    // A: {a b c, b c d}; B: {b c d, c d e} (inter 1, union 3);
    // C: {x y z} (disjoint); the repeated A doc must NOT double-count
    val docs = Seq(
      ("A", "a b c d"), ("A", "a b c d"),
      ("B", "b c d e"), ("C", "x y z")).toDF("source", "text")
    val got = Dedup.sourceShingleJaccard(docs, "source", "text", 3)
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    // jaccard_ppm = (1*2e6 + 3) DIV 6 = 333333 (HALF_UP of 1/3 * 1e6)
    assert(got == Set(("A", "B", 2L, 2L, 1L, 333333L)))
  }

  test("spanRemoval drops all but the globally first occurrence of " +
    "each segment (C4 keep-first), within and across docs") {
    // segTokens = 2; doc 10: [a b][c d][a b] — within-doc dup at
    // seg 2; doc 20: [c d][x y] — cross-doc dup of doc 10's seg 1;
    // doc 30: [p q] — untouched
    val docs = Seq(
      (10L, "a b c d a b"),
      (20L, "c d x y"),
      (30L, "p q")).toDF("doc_id", "text")
    val got = Dedup.spanRemoval(docs, "doc_id", "text", segTokens = 2)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(10L) == ((10L, "a b c d", 3L, 1L, 2L)))
    assert(got(20L) == ((20L, "x y", 2L, 1L, 2L)))
    assert(got(30L) == ((30L, "p q", 1L, 0L, 0L)))
  }

  test("spanRemoval: a ragged tail segment is its own span, and a " +
    "fully-duplicated doc rewrites to empty") {
    // segTokens = 3; doc 1: [a b c][d e] (ragged tail); doc 2 is a
    // verbatim copy → every segment removed → empty rewrite with
    // 5 tokens removed
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e")).toDF("doc_id", "text")
    val got = Dedup.spanRemoval(docs, "doc_id", "text", segTokens = 3)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "a b c d e", 2L, 0L, 0L)))
    assert(got(2L) == ((2L, "", 2L, 2L, 5L)))
  }

  test("substringRemoval removes a SHIFTED duplicated passage that " +
    "spanRemoval provably misses (offset invariance, r13 verdict #4)") {
    // doc 2 carries doc 1's whole 6-token passage shifted by ONE
    // token — every fixed 3-token segment of doc 2 straddles the
    // alignment, so d20's segment hashes all differ from doc 1's
    val docs = Seq(
      (1L, "p1 p2 p3 p4 p5 p6"),
      (2L, "u0 p1 p2 p3 p4 p5 p6")).toDF("doc_id", "text")
    val d20 = Dedup.spanRemoval(docs, "doc_id", "text", segTokens = 3)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // the miss: d20 leaves the shifted copy fully intact
    assert(d20(2L)._2 == "u0 p1 p2 p3 p4 p5 p6" && d20(2L)._4 == 0L)
    val d21 = Dedup.substringRemoval(docs, "doc_id", "text",
        anchorTokens = 3)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // stride-1 anchors: doc 2's windows @1..4 all match doc 1's —
    // the whole passage goes, the unique prefix token stays
    assert(d21(1L) == ((1L, "p1 p2 p3 p4 p5 p6", 6L, 0L, 0L)))
    assert(d21(2L) == ((2L, "u0", 7L, 6L, 4L)))
  }

  test("substringRemoval keep-first: a within-doc repeat loses only " +
    "its later copy; short docs and unique text are untouched") {
    // doc 5 = "a b c d X a b c d": dup windows abc@{0,5}, bcd@{1,6};
    // redundant @5,@6 cover tokens 5..8 → second "a b c d" removed
    val docs = Seq(
      (5L, "a b c d X a b c d"),
      (6L, "zz yy")).toDF("doc_id", "text")
    val got = Dedup.substringRemoval(docs, "doc_id", "text",
        anchorTokens = 3)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(5L) == ((5L, "a b c d X", 9L, 4L, 2L)))
    // shorter than one anchor window → no windows → untouched
    assert(got(6L) == ((6L, "zz yy", 2L, 0L, 0L)))
  }

  test("substringRemoval equals a driver-side brute-force replica " +
    "over 25 random small-vocab corpora (fixed seed)") {
    // tiny vocab forces heavy window duplication, so keep-first,
    // coverage union and cross/within-doc interactions all fire
    val rnd = new scala.util.Random(42)
    val a = 3
    def replica(docs: Seq[(Long, String)])
      : Map[Long, (String, Long, Long, Long)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.trim.split("\\s+").filter(_.nonEmpty).toVector
      }.filter(_._2.nonEmpty)
      val occ = scala.collection.mutable.LinkedHashMap
        .empty[Vector[String],
          scala.collection.mutable.ArrayBuffer[(Long, Int)]]
      toks.foreach { case (id, tk) =>
        if (tk.length >= a) (0 to tk.length - a).foreach { i =>
          occ.getOrElseUpdate(tk.slice(i, i + a),
            scala.collection.mutable.ArrayBuffer.empty) += ((id, i))
        }
      }
      val redundant = occ.values.filter(_.size >= 2).flatMap { os =>
        val first = os.min
        os.filterNot(_ == first)
      }.toSeq
      val redByDoc = redundant.groupBy(_._1)
      toks.map { case (id, tk) =>
        val red = redByDoc.getOrElse(id, Seq())
        val covered =
          red.flatMap { case (_, i) => i until i + a }.toSet
        val kept = tk.zipWithIndex
          .filterNot { case (_, j) => covered(j) }.map(_._1)
        id -> ((kept.mkString(" "), tk.length.toLong,
          covered.size.toLong, red.size.toLong))
      }.toMap
    }
    (1 to 25).foreach { trial =>
      val vocab = Array("w0", "w1", "w2", "w3")
      val docs = (1L to 12L).map { id =>
        val n = rnd.nextInt(13) // 0..12 tokens; <a and empty included
        (id, List.fill(n)(vocab(rnd.nextInt(vocab.length)))
          .mkString(" "))
      }
      val got = Dedup.substringRemoval(
          docs.toDF("doc_id", "text"), "doc_id", "text",
          anchorTokens = a)
        .as[(Long, String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      val want = replica(docs)
      assert(got == want, s"trial $trial: docs=$docs")
    }
  }

  test("substringRemoval: a verbatim copy rewrites to empty; the " +
    "first occurrence keeps every token") {
    val docs = Seq(
      (1L, "a b c"),
      (2L, "a b c")).toDF("doc_id", "text")
    val got = Dedup.substringRemoval(docs, "doc_id", "text",
        anchorTokens = 3)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "a b c", 3L, 0L, 0L)))
    assert(got(2L) == ((2L, "", 3L, 3L, 1L)))
  }

  test("substringRemovalConverged clears a JUXTAPOSED duplicate that " +
    "one pass provably leaves (d21's declared caveat, r14 verdict #2)") {
    // doc 3 = first half of doc 1's passage + a copy of doc 2's
    // passage + second half of doc 1's: pass 1 removes the doc-2
    // copy, JUXTAPOSING p1 p2|p3 p4 into a new 4-token duplicate of
    // doc 1 that only pass 2 can see
    val docs = Seq(
      (1L, "p1 p2 p3 p4"),
      (2L, "d1 d2 d3 d4"),
      (3L, "p1 p2 d1 d2 d3 d4 p3 p4")).toDF("doc_id", "text")
    val onePass = Dedup.substringRemoval(docs, "doc_id", "text",
        anchorTokens = 4)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // the miss: one pass leaves doc 3 as a verbatim copy of doc 1
    assert(onePass(3L) == ((3L, "p1 p2 p3 p4", 8L, 4L, 1L)))
    val got = Dedup.substringRemovalConverged(docs, "doc_id", "text",
        anchorTokens = 4)
      .as[(Long, String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // pass 2 removes the juxtaposed copy; cumulative counts add up
    assert(got(1L) == ((1L, "p1 p2 p3 p4", 4L, 0L, 0L, 2L)))
    assert(got(2L) == ((2L, "d1 d2 d3 d4", 4L, 0L, 0L, 2L)))
    assert(got(3L) == ((3L, "", 8L, 8L, 2L, 2L)))
  }

  test("fuzzyDecontaminate equals an independent md5 replica " +
    "(banding, both scores, thresholds, reasons) over seeded corpora " +
    "with planted eval leakage") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def shingleSet(text: String): Seq[String] = {
      val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (toks.length < 3) Seq.empty
      else toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
    }
    def replica(docs: Seq[(Long, String)])
      : Set[(Long, Long, Long, Long, String)] = {
      val sh = docs.map { case (id, t) => id -> shingleSet(t) }
        .filter(_._2.nonEmpty).toMap
      val sig = sh.map { case (id, s) =>
        id -> (0 until 12).map(i => s.map(x => md5hex(s"$i:$x")).min)
      }
      val bandsOf = sig.map { case (id, g) =>
        id -> (0 until 4).map(b =>
          s"$b|${md5hex(g.slice(b * 3, b * 3 + 3).mkString(","))}")
          .toSet
      }
      val (ev, tr) = sh.keys.toSeq.partition(_ % 50 == 0)
      (for {
        t <- tr; e <- ev
        if bandsOf(t).exists(bandsOf(e).contains)
      } yield {
        val (st, se) = (sh(t).toSet, sh(e).toSet)
        val inter = (st & se).size.toLong
        val den = st.size + se.size - inter
        val jac = (inter * 2000000L + den) / (2L * den)
        val con = (inter * 2000000L + se.size) / (2L * se.size)
        (t, e, jac, con)
      }).collect {
        case (t, e, j, c) if j >= 500000L || c >= 800000L =>
          val reason =
            if (j >= 500000L && c >= 800000L) "both"
            else if (j >= 500000L) "jaccard" else "containment"
          (t, e, j, c, reason)
      }.toSet
    }
    val rnd = new scala.util.Random(7)
    val vocab = Array("w0", "w1", "w2", "w3", "w4", "w5")
    var sawPair = false
    (1 to 8).foreach { trial =>
      val train = (1L to 12L).map { id =>
        (id, List.fill(rnd.nextInt(10) + 3)(
          vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      // planted leakage: eval 50 is a verbatim copy of a train doc
      // (jaccard 1e6 → 'both'); eval 100 is a train doc QUOTED inside
      // extra text (containment-leaning); eval 150 is fresh text
      val evals = Seq(
        (50L, train(trial % 12)._2),
        (100L, train((trial + 3) % 12)._2),
        (150L, List.fill(8)(vocab(rnd.nextInt(vocab.length)))
          .mkString(" ")))
      // the quote-inclusion goes on the TRAIN side: a train doc
      // containing eval 100's whole text plus more
      val quoter = (13L,
        evals(1)._2 + " " + List.fill(6)(
          vocab(rnd.nextInt(vocab.length))).mkString(" "))
      val docs = train ++ evals :+ quoter
      val got = Dedup.fuzzyDecontaminate(docs.toDF("doc_id", "text"),
          "doc_id", "text", shingleSize = 3, numHashes = 12,
          bands = 4, evalMod = 50)
        .as[(Long, Long, Long, Long, String)].collect().toSet
      val want = replica(docs)
      assert(got == want, s"trial $trial: docs=$docs")
      sawPair ||= got.nonEmpty
      // the verbatim copy MUST band-fire and flag as 'both' (every
      // band of identical shingle sets matches)
      val verbatim = got.filter(_._2 == 50L)
      assert(verbatim.exists(p => p._3 == 1000000L &&
        p._5 == "both"), s"trial $trial: verbatim copy not flagged")
    }
    assert(sawPair, "no trial produced any contamination pair")
  }

  test("substringRemovalConverged: duplicate-free corpus adopts zero " +
    "passes; the pass cap throws instead of returning unconverged") {
    val clean = Seq((1L, "a b c d"), (2L, "e f g h"))
      .toDF("doc_id", "text")
    val got = Dedup.substringRemovalConverged(clean, "doc_id", "text",
        anchorTokens = 3)
      .as[(Long, String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "a b c d", 4L, 0L, 0L, 0L)))
    assert(got(2L) == ((2L, "e f g h", 4L, 0L, 0L, 0L)))
    // the juxtaposition fixture needs 2 passes; cap at 1 must throw
    val docs = Seq(
      (1L, "p1 p2 p3 p4"),
      (2L, "d1 d2 d3 d4"),
      (3L, "p1 p2 d1 d2 d3 d4 p3 p4")).toDF("doc_id", "text")
    intercept[IllegalStateException] {
      Dedup.substringRemovalConverged(docs, "doc_id", "text",
        anchorTokens = 4, maxPasses = 1).collect()
    }
  }
}
