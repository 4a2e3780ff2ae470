package graft.dedup

import graft.graph.SizePolicy
import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Document deduplication family for a 100 TB corpus.
  *
  * Reference analog: create_merged.py:992 (remove_duplicates) dedupes
  * collections by an in-RAM dict over a member-set hash — here each
  * strategy is one shuffle keyed on the dedup signature, which is the
  * scalable shape (hash-partition by signature, keep one winner per
  * group).
  *
  * Caching contract: the LSH/Jaccard builders persist bounded
  * intermediates (postings, signatures — O(docs) rows) that the
  * returned LAZY DataFrame still references, so they cannot unpersist
  * before the caller's action runs. Long-lived sessions running many
  * such queries must release them afterwards
  * (`spark.sharedState.cacheManager.clearCache()` — Bench and Verify
  * both do this between queries).
  */
object Dedup {

  /** Exact dedup: cluster by normalized-content fingerprint; one
    * hash-aggregate shuffle. Emits cluster id + size + surviving doc
    * (min id wins — deterministic). */
  def exactClusters(docs: DataFrame, idCol: String, textCol: String)
    : DataFrame =
    docs
      .withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(count(lit(1)).as("cluster_size"),
        min(col(idCol)).as("keep_id"))

  /** SOURCE-pair shingle-vocabulary Jaccard — feed-mirror detection
    * one level up from per-doc dedup: two feeds scraping the same
    * site share most of their n-gram VOCABULARY even when no single
    * document is an exact duplicate (exact-fp overlap, the t22
    * signal, reads zero there). Per source the DISTINCT n-token
    * shingle set; per unordered source pair the intersection size
    * and HALF_UP Jaccard ppm in exact integers.
    *
    * Scale shape: ONE corpus-scale shuffle (the (source, shingle)
    * distinct — map-side combining); after it every row is
    * vocabulary-, not corpus-, sized. The self-join key is the
    * shingle and each side holds ≤ |sources| rows per key, so the
    * join output is ≤ |S|² rows per shingle, collapsing map-side to
    * ≤ |S|² pair cells total. The shared posting subtree feeds three
    * consumers (sizes + both join sides) and is persisted AND
    * materialized before the fan-out (the CLAUDE.md race-recompute
    * rule). Never an all-pairs relation; |S|²-bounded output. */
  def sourceShingleJaccard(docs: DataFrame, srcCol: String,
                           textCol: String, n: Int): DataFrame = {
    val p = TextFunctions
      .shinglePostings(docs, srcCol, textCol, n, distinct = true)
      .withColumnRenamed("doc_id", "source")
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    p.count() // materialize before the 3-branch fan-out
    val sizes = p.groupBy("source")
      .agg(count(lit(1)).cast("long").as("n"))
    val inter = p.as("a")
      .join(p.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"),
        col("b.source").as("src_b"))
      .agg(count(lit(1)).cast("long").as("inter"))
    inter
      .join(sizes.select(col("source").as("src_a"),
        col("n").as("n_a")), "src_a")
      .join(sizes.select(col("source").as("src_b"),
        col("n").as("n_b")), "src_b")
      .withColumn("jaccard_ppm",
        expr("(inter * 2000000 + (n_a + n_b - inter))" +
          " DIV (2 * (n_a + n_b - inter))"))
      .select("src_a", "src_b", "n_a", "n_b", "inter", "jaccard_ppm")
  }

  /** MinHash signature as an array of `numHashes` hex-string minima.
    *
    * Hash family: md5 of (seed || shingle); the lexicographic MIN of
    * the hex digests is a valid permutation-min estimator and — key
    * property — is reproducible in ANY engine with md5 (the DuckDB
    * oracle computes the identical signature). No RNG, no JVM-specific
    * hashing in the result.
    *
    * This interpreted chain (per seed a `transform` + `array_min`,
    * none of it codegen'd) is the REFERENCE definition: the streaming
    * near-dup twins compute their band keys with the fused
    * [[org.apache.spark.sql.graft.MinhashBandKeys]] expression, which
    * DedupSpec pins, row for row, equal to [[lshBandKeys]] over this
    * signature of the doc's distinct word shingles. Keep this body as
    * it is.
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      seed => array_min(transform(shingles,
        s => md5(concat(seed.cast("string"), lit(":"), s)))))

  /** Per-DISTINCT-shingle hash attach (guide §1.2 per-task work):
    * a signature hash family that evaluates expressions of the
    * SHINGLE alone per POSTING row repeats each distinct shingle's
    * work df times — measured mean df ≈ 9.6 at sf0.1 (260 388
    * posting rows over 27 213 distinct shingles). `build` receives
    * the distinct-shingle table and must return it with the hash
    * columns attached (keeping `shingle`); the result joins back
    * onto the postings, so values are bit-identical (the same
    * strings through the same expressions — oracles untouched) and
    * the join is a bijection per posting row (inner equi-join
    * against exactly the postings' own distinct keys). The hashed
    * side broadcasts under the house byte gate (EXACT count ×
    * estimated row width vs ~100 MB); past it the equi-join shuffles
    * both sides, and the map-side partial aggregation above still
    * collapses per doc. The small hashed table is an eager local
    * checkpoint read by its two consumers (count + join build), so it
    * leaves no CacheManager entry behind. Downstream
    * aggregates must stay order-insensitive (sums / set-intersect) —
    * the join does not preserve posting order.
    *
    * WHEN IT PAYS (r16 A/B): only when the per-shingle work is
    * genuinely expensive AND the attached columns are narrow —
    * simhash's 8 hex→long `conv` parses attach as 8 longs (d04
    * 2.45 → 1.64 s, d06/d08/d13 −16..20% same-session). The minhash
    * family is the counterexample: 12 md5 over short strings are
    * intrinsics, and attaching 12 × 32-char strings per posting plus
    * the fixed distinct+count+broadcast jobs measured 8-15% SLOWER —
    * those sites keep per-posting evaluation (see
    * minhashSignatures). */
  private def withShingleHashes(postings: DataFrame, rowBytes: Long,
                                build: DataFrame => DataFrame)
    : DataFrame = {
    // eager checkpoint, not persist: the table's blocks go with the
    // returned plan, and no CacheManager entry outlives the call
    val hashed = build(postings.select(col("shingle")).distinct())
      .localCheckpoint(true)
    val n = hashed.count()
    val side = if (SizePolicy.broadcasts(n, rowBytes)) broadcast(hashed)
      else hashed
    postings.join(side, Seq("shingle"))
  }

  /** The min-aggregate column per seed of the md5(seed:shingle)
    * family — THE oracle-parity-critical construction (seed format,
    * separator, hash fn are mirrored literally by the DuckDB oracle),
    * shared by every aggregate-form minhash consumer so it cannot
    * silently fork. */
  private def minhashMinExprs(numHashes: Int): Seq[Column] =
    (0 until numHashes).map(i =>
      min(md5(concat(lit(i.toString), lit(":"), col("shingle"))))
        .as(s"h$i"))

  /** [[minhashSignature]] computed the scalable way: explode the
    * shingles and take the `numHashes` minima in ONE codegen'd hash
    * aggregate (partial aggregation map-side, one shuffle on doc_id)
    * instead of interpreted per-row higher-order folds. Values are
    * bit-identical to [[minhashSignature]] (same md5(seed:shingle)
    * family), so the same DuckDB oracle holds.
    */
  def minhashSignatures(postings: DataFrame, numHashes: Int)
    : DataFrame = {
    // NOTE (r16 A/B): computing the 12 md5 per DISTINCT shingle and
    // joining back (withShingleHashes, the simhash win) measured
    // 8-15% SLOWER here — md5 over short strings is an intrinsic
    // (~0.2 µs), so the saving never repays the joined ~400 B
    // 12-string rows plus the fixed distinct+count+broadcast jobs.
    // Per-posting evaluation with map-side partial min IS the floor.
    val mins = minhashMinExprs(numHashes)
    postings
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** LSH banding: split the signature into `bands` equal bands; the
    * band key is (bandIndex, md5 of the band's joined hashes). Docs
    * sharing any band key are near-dup candidates. One explode + one
    * shuffle on the band key; candidate verification happens only
    * within buckets — the standard MinHash-LSH join that avoids the
    * O(n^2) all-pairs comparison at corpus scale.
    */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int)
    : Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => concat(b.cast("string"), lit("|"),
        md5(concat_ws(",", slice(signature, b * rowsPerBand + 1,
          lit(rowsPerBand))))))

  /** Shared MinHash-LSH plumbing for [[minhashLshPairs]] and
    * [[fuzzyDecontaminate]]: ONE doc_id shuffle computes the minhash
    * signature AND the verification shingle set (the
    * md5(seed:shingle) minima are bit-identical to
    * minhashSignatures, so the DuckDB oracles are unchanged), then
    * the band keys explode over ids only. `combined` comes back
    * persisted AND materialized (band join sides + verify joins fan
    * out — parallel stages would otherwise race-recompute it); the
    * banded rows carry ids only, so the (possibly skewed) band join
    * never shuffles shingle payloads, and recomputing the explode
    * per join side is a cheap projection over the materialized
    * cache. */
  private def sigShingleBands(docs: DataFrame, idCol: String,
                              textCol: String, shingleSize: Int,
                              numHashes: Int, bands: Int,
                              cache: Option[ShingleCache])
    : (DataFrame, DataFrame) = {
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val rowsPerBand = numHashes / bands
    val postings = cache
      .map(_.postings(shingleSize, distinct = true))
      .getOrElse(TextFunctions.shinglePostings(docs, idCol, textCol,
        shingleSize, distinct = true))
    // per-posting md5 minima (see the minhashSignatures r16 A/B note:
    // the per-distinct-shingle attach join measured slower here)
    val mins = minhashMinExprs(numHashes)
    val combined = postings
      .groupBy("doc_id")
      .agg(mins.head,
        (mins.tail :+ collect_list(col("shingle")).as("sh")): _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"),
        col("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    combined.count()
    val banded = combined
      .withColumn("band", explode(lshBandKeys(col("sig"), bands,
        rowsPerBand)))
      .select("band", "doc_id")
    (combined, banded)
  }

  /** End-to-end MinHash-LSH near-dup candidate pairs with exact
    * Jaccard verification on the shingle sets.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 12,
                      bands: Int = 4, threshold: Double = 0.5,
                      cache: Option[ShingleCache] = None)
    : DataFrame = {
    val (combined, banded) = sigShingleBands(docs, idCol, textCol,
      shingleSize, numHashes, bands, cache)
    val candidates = banded.as("a")
      .join(banded.as("b"), Seq("band"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    val pairs = candidates
      .join(combined.select(col("doc_id").as("id1"),
        col("sh").as("sh1")), "id1")
      .join(combined.select(col("doc_id").as("id2"),
        col("sh").as("sh2")), "id2")
    verifyJaccard(pairs, threshold)
  }

  /** Exact n-gram Jaccard near-dup pairs via a prefix-filtered
    * inverted-index join (the AllPairs / PPJoin candidate-generation
    * family from the set-similarity-join literature, public):
    *
    *  1. `maxDf` drops ubiquitous shingles (quadratic fanout, no
    *     signal) — document-frequency pruning, mirrored by the oracle.
    *  2. Within the pruned universe each doc's shingles are sorted in
    *     the GLOBAL order (df asc, shingle asc); only the first
    *     n' − ⌈t·n'⌉ + 1 of them (its *prefix*) enter the index. A
    *     pair with pruned-Jaccard ≥ t shares ≥ ⌈t·n'⌉ shingles with
    *     each side, so its prefix must hit the other doc's postings —
    *     recall is EXACT, but candidate generation now lives in the
    *     LOW-df shingle buckets, killing the quadratic blowup that a
    *     plain shingle self-join hits inside frequent-shingle buckets.
    *  3. A length filter (t·max ≤ min) cuts survivors, then exact
    *     verification over the full pruned sets computes
    *     |A∩B| / (|A|+|B|−|A∩B|) with FULL doc sizes — identical
    *     output (and oracle hash) to the unfiltered join.
    *
    * The prefix bound uses t − 1e-4/2 so pairs that only pass the
    * threshold after 4-dp rounding are still generated.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, threshold: Double = 0.5,
                        maxDf: Int = 200,
                        cache: Option[ShingleCache] = None): DataFrame = {
    // rounding slack: final filter is round(j,4) >= t
    val t = threshold - 0.00005
    // shingle strings collapse to 64-bit hashes immediately: every
    // downstream shuffle/join/set carries longs, not ~25-byte strings
    // (3-4x smaller shuffles, cheaper equality). The hash never
    // reaches the output; a 64-bit collision altering a Jaccard count
    // needs two colliding shingles inside one doc pair (~2^-64-scale —
    // below any float-rounding concern).
    // materialize ONCE before fan-out: the df/enriched branches
    // otherwise race to fill the cache from independent parallel
    // stages, recomputing the tokenize/shingle pipeline 2-3x.
    // A family-shared ShingleCache owns this persist instead.
    val posting = cache match {
      case Some(c) => c.hashedPostings(shingleSize, distinct = true)
      case None =>
        val p = TextFunctions.shinglePostings(docs, idCol, textCol,
          shingleSize, distinct = true)
          .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
    }
    val df = posting.groupBy("h").agg(count(lit(1)).as("df"))
    // ONE doc_id window pass attaches everything downstream needs to
    // every posting row: rank `r` in the global (df, h) order with
    // pruned (df <= maxDf) rows first, full size `n`, pruned size
    // `np`. This replaces a separate sizes aggregate plus two
    // size-attach joins — three fewer shuffles on the posting set.
    val wDoc = Window.partitionBy("doc_id")
    val wOrd = wDoc.orderBy(col("keep").desc, col("df").asc,
      col("h").asc)
    val enriched = posting.join(df, Seq("h"))
      .withColumn("keep", col("df") <= maxDf)
      .withColumn("r", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wDoc))
      .withColumn("np", count(when(col("keep"), lit(1))).over(wDoc))
      .select("doc_id", "h", "keep", "r", "n", "np")
      .persist(StorageLevel.MEMORY_AND_DISK)
    enriched.count()
    // enriched is materialized; the postings cache has no consumers
    // left — release it instead of holding both until the caller's
    // cache clear (unless a shared ShingleCache owns it)
    if (cache.isEmpty) posting.unpersist(false)
    val pruned = enriched.filter(col("keep"))
    // 1e-9 guard: if t*np is exactly integer but the double product
    // rounds a hair up, a bare ceil would shorten the prefix by one
    // and silently drop a boundary pair (recall must stay EXACT)
    val prefix = pruned.filter(col("r") <=
      col("np") - ceil(col("np") * t - 1e-9) + 1)
    // candidates: a doc's prefix vs the other doc's FULL pruned
    // postings (prefix-vs-full is exactly recall-complete; the join
    // key is the shingle hash, and prefixes live in rare shingles).
    // Three pair cuts run BEFORE the distinct:
    //  - length filter: j >= t implies t·max <= min (float-boundary
    //    guarded so an exact integer product cannot fail >=)
    //  - PPJoin positional filter: at a match seen at positions
    //    (r_a, r_b) of the pruned orders, the remaining overlap is at
    //    most 1 + min(np_a − r_a, np_b − r_b); a qualifying pair needs
    //    overlap ≥ α = ⌈t/(1+t)·(n_a+n_b)⌉ and always survives via its
    //    FIRST shared prefix shingle (overlap before the first match
    //    is zero), so dropping later matches below α keeps recall
    //    exact while cutting the distinct's input.
    val alpha = ceil((col("a.n") + col("b.n")) * lit(t / (1 + t))
      - 1e-9)
    val cand = prefix.as("a")
      .join(pruned.as("b"), Seq("h"))
      .filter(col("a.doc_id") =!= col("b.doc_id") &&
        col("a.n") >= col("b.n") * t - 1e-9 &&
        col("b.n") >= col("a.n") * t - 1e-9 &&
        lit(1) + least(col("a.np") - col("a.r"),
          col("b.np") - col("b.r")) >= alpha)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id2"),
        when(col("a.doc_id") < col("b.doc_id"), col("a.n"))
          .otherwise(col("b.n")).as("n1"),
        when(col("a.doc_id") < col("b.doc_id"), col("b.n"))
          .otherwise(col("a.n")).as("n2"))
      .distinct()
    // exact verify over the full pruned hash-sets; the grouped collect
    // reuses the enriched cache's doc_id partitioning (window exec
    // partitioning survives the InMemoryTableScan) — no extra shuffle
    val sets = pruned.groupBy("doc_id")
      .agg(collect_list(col("h")).as("sh"))
    cand
      .join(sets.select(col("doc_id").as("id1"), col("sh").as("sh1")),
        "id1")
      .join(sets.select(col("doc_id").as("id2"), col("sh").as("sh2")),
        "id2")
      .withColumn("inter",
        size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard", round(col("inter") /
        (col("n1") + col("n2") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** ASYMMETRIC containment near-dup pairs — the partial-duplicate
    * detector exact Jaccard misses: a short document wholly quoted
    * inside a long one has containment |A∩B|/|A| ≈ 1 while its
    * Jaccard |A∩B|/|A∪B| is tiny (bounded by |A|/|B|). Containment is
    * the standard corpus-dedup companion metric (Broder's original
    * resemblance/containment pair) for catching quote inclusion,
    * boilerplate wrapping and excerpt reposts in LLM training data.
    *
    * Semantics are declared over the PRUNED shingle universe
    * (document-frequency ≤ `maxDf`, exactly as [[ngramJaccardPairs]]):
    * sizes, intersections and thresholds all use pruned sets,
    * mirrored verbatim by the oracle. The threshold is the exact
    * rational `tauNum/tauDen` and every comparison is pure-integer
    * cross-multiplication — no float, no ceil, no rounding tie
    * anywhere in the cut (CLAUDE.md rounding-tie rule taken to its
    * limit: don't round at all).
    *
    * Candidate generation is the prefix-filter adapted to the
    * containment bound: a qualifying pair has overlap ≥ τ·min(n_a,
    * n_b), so the SMALLER doc's prefix (its first n − ⌈τ·n⌉ + 1
    * shingles in the global (df, h) order) must hit the other doc's
    * postings — prefix-vs-full is recall-complete, and prefixes live
    * in the rare-shingle buckets, so the join never sees the
    * frequent-shingle quadratic blowup. The PPJoin positional filter
    * carries over with α = ⌈τ·min(np_a, np_b)⌉ (compared by
    * cross-multiplication). Reported containments are HALF_UP integer
    * ppm per side.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3, tauNum: Int = 7,
                       tauDen: Int = 10, maxDf: Int = 200,
                       cache: Option[ShingleCache] = None): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"containment threshold $tauNum/$tauDen must be in (0, 1]")
    val posting = cache match {
      case Some(c) => c.hashedPostings(shingleSize, distinct = true)
      case None =>
        val p = TextFunctions.shinglePostings(docs, idCol, textCol,
          shingleSize, distinct = true)
          .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
    }
    val df = posting.groupBy("h").agg(count(lit(1)).as("df"))
    // pruned universe FIRST (df ≤ maxDf), then one doc_id window pass
    // attaches rank-in-global-order and pruned size to every posting
    val wDoc = Window.partitionBy("doc_id")
    val pruned = posting.join(df, Seq("h"))
      .filter(col("df") <= maxDf)
      .withColumn("r", row_number()
        .over(wDoc.orderBy(col("df").asc, col("h").asc)).cast("long"))
      .withColumn("np", count(lit(1)).over(wDoc))
      .select("doc_id", "h", "r", "np")
      .persist(StorageLevel.MEMORY_AND_DISK)
    pruned.count()
    if (cache.isEmpty) posting.unpersist(false)
    // r ≤ np − ⌈τ·np⌉ + 1  ⇔  τ·np ≤ np − r + 1 (RHS integer)
    //                      ⇔  np·tauNum ≤ (np − r + 1)·tauDen
    val prefix = pruned.filter(
      col("np") * tauNum <= (col("np") - col("r") + 1) * tauDen)
    // positional filter: remaining-overlap bound vs α = ⌈τ·min(np)⌉,
    // integer X ≥ ⌈q⌉ ⇔ X·tauDen ≥ q·tauDen — cross-multiplied exact
    val cand = prefix.as("a")
      .join(pruned.as("b"), Seq("h"))
      .filter(col("a.doc_id") =!= col("b.doc_id") &&
        (lit(1) + least(col("a.np") - col("a.r"),
          col("b.np") - col("b.r"))) * tauDen >=
          least(col("a.np"), col("b.np")) * tauNum)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id2"))
      .distinct()
    val sets = pruned.groupBy("doc_id")
      .agg(collect_list(col("h")).as("sh"), max(col("np")).as("n"))
    cand
      .join(sets.select(col("doc_id").as("id1"), col("sh").as("sh1"),
        col("n").as("n1")), "id1")
      .join(sets.select(col("doc_id").as("id2"), col("sh").as("sh2"),
        col("n").as("n2")), "id2")
      .withColumn("inter",
        size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
      .filter(col("inter") * tauDen >= col("n1") * tauNum ||
        col("inter") * tauDen >= col("n2") * tauNum)
      .select(col("id1"), col("id2"), col("n1"), col("n2"),
        col("inter"),
        expr("CAST((2 * 1000000 * inter + n1) DIV (2 * n1) AS BIGINT)")
          .as("cont1_ppm"),
        expr("CAST((2 * 1000000 * inter + n2) DIV (2 * n2) AS BIGINT)")
          .as("cont2_ppm"))
  }

  /** MinHash-Jaccard ESTIMATE vs exact over LSH candidates — d12's
    * sketch-accuracy audit as a library builder (see the d12 query
    * scaladoc for semantics): per candidate pair, the estimate is
    * matches·1e6 DIV numHashes next to the exact shingle-set Jaccard
    * in HALF_UP integer ppm. Accepts the family [[ShingleCache]] so
    * the corpus is tokenized once across d02/d03/d12/d14. */
  def minhashEstimatePairs(docs: DataFrame, idCol: String,
                           textCol: String, shingleSize: Int = 3,
                           numHashes: Int = 12, bands: Int = 4,
                           cache: Option[ShingleCache] = None)
    : DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val rowsPerBand = numHashes / bands
    val post = cache
      .map(_.postings(shingleSize, distinct = true))
      .getOrElse(TextFunctions.shinglePostings(docs, idCol, textCol,
        shingleSize, distinct = true))
    // ONE doc_id shuffle carries the signature minima AND the
    // verification shingle set (the d03 fusion lesson); candidates
    // then join this table twice and BOTH columns come from the same
    // two rows — exact Jaccard is an in-row array_intersect, no
    // postings self-join, no second aggregate pass
    // per-posting md5 minima (see the minhashSignatures r16 A/B note)
    val mins = minhashMinExprs(numHashes)
    val combined = post
      .groupBy("doc_id")
      .agg(mins.head,
        (mins.tail :+ collect_list(col("shingle")).as("sh")): _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"),
        col("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    combined.count() // band explode + two candidate joins fan out
    val banded = combined.select(col("doc_id"),
      explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band"))
    val cand = banded.as("a").join(banded.as("b"), Seq("band"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    val matches = (0 until numHashes).map(i =>
      when(element_at(col("s1"), i + 1) === element_at(col("s2"), i + 1),
        1L).otherwise(0L)).reduce(_ + _)
    cand
      .join(combined.select(col("doc_id").as("id1"),
        col("sig").as("s1"), col("sh").as("sh1")), "id1")
      .join(combined.select(col("doc_id").as("id2"),
        col("sig").as("s2"), col("sh").as("sh2")), "id2")
      .select(col("id1"), col("id2"), matches.as("matches"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("long")
          .as("inter"),
        (size(col("sh1")) + size(col("sh2"))).cast("long").as("ns"))
      .select(col("id1"), col("id2"),
        expr(s"(matches * 1000000) DIV $numHashes").as("est_ppm"),
        expr("(inter * 2000000 + (ns - inter)) DIV " +
          "(2 * (ns - inter))").as("exact_ppm"))
  }

  /** The whole lexical-dedup family over ONE shared shingle scan:
    * d02 exact Jaccard, d03 MinHash+LSH, d12 estimate audit, d14
    * containment, all reading one [[ShingleCache]] (one tokenize +
    * shingle pass, one xxhash64 projection — at 100 TB the shingle
    * explode dominates each query alone, so running the family this
    * way approaches the cost of running ONE member). Results are
    * bit-identical to the standalone builders (ShingleCacheSpec).
    * The returned cache must be [[ShingleCache.release released]]
    * after the consuming actions run. */
  def familyReport(docs: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3)
    : (Map[String, DataFrame], ShingleCache) = {
    val c = new ShingleCache(docs, idCol, textCol)
    val m = Map(
      "jaccard" -> ngramJaccardPairs(docs, idCol, textCol,
        shingleSize, cache = Some(c)),
      "minhash_lsh" -> minhashLshPairs(docs, idCol, textCol,
        shingleSize, cache = Some(c)),
      "minhash_est" -> minhashEstimatePairs(docs, idCol, textCol,
        shingleSize, cache = Some(c)),
      "containment" -> containmentPairs(docs, idCol, textCol,
        shingleSize, cache = Some(c)),
      // round-10 adoption: the decontamination pair shares one raw
      // (5, distinct) build (d10 raw probes, d07 its hashed
      // projection); t05's (2, non-distinct) level rides the same
      // session cache
      "decontaminate" -> decontaminate(docs, idCol, textCol,
        cache = Some(c)),
      "bloom_decontam" -> bloomDecontaminate(docs, idCol, textCol,
        cache = Some(c)),
      "ngram_freq" -> TextFunctions.ngramFreq(docs, idCol, textCol,
        2, minFreq = 5, cache = Some(c)))
    (m, c)
  }

  /** Distinct word-shingle sets per doc; documents shorter than one
    * full shingle are dropped (mirrors the oracle's `len(toks) >= n`
    * guard so both engines see the same doc set). */
  private[graft] def shingleDocs(docs: DataFrame, idCol: String,
                                 textCol: String, n: Int): DataFrame =
    docs
      .filter(size(TextFunctions.tokens(col(textCol))) >= n)
      .select(col(idCol).as("doc_id"),
        array_distinct(TextFunctions.wordShingles(col(textCol), n))
          .as("shingles"))

  private def verifyJaccard(pairs: DataFrame, threshold: Double)
    : DataFrame =
    pairs
      .withColumn("inter",
        size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard", round(col("inter") /
        (size(col("sh1")) + size(col("sh2")) - col("inter"))
          .cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")

  /** SimHash signature column: for bit i, a shingle votes +1 if the
    * i-th hex nibble of the digest is odd, where the digest is
    * md5(shingle) for bits 0-31 extended by md5('x:' || shingle) for
    * bits 32-63. Deterministic and engine-portable (md5-based; the
    * DuckDB mirror tests the same nibble parity via
    * strpos('13579bdf', …) over the same concatenated digest).
    *
    * Per-row work is one 8-hex-digit `conv` parse per 8 bits; each
    * vote then reads one bit of those longs (nibble i of a hex group
    * occupies bits [4·(7 − i%8), …], its parity is the lowest of
    * them). The earlier form did substring+conv per BIT — 32 string
    * parses per posting row, measured ~25% of the whole d04 query at
    * sf0.1. Bit 63 of the packed signature is the sign bit — the
    * value is the two's-complement BIGINT on both engines, and all
    * downstream ops (xor, bit_count, shift+mask banding) are
    * representation-based, so the sign is harmless.
    */
  def simhashSignatures(postings: DataFrame, bits: Int = 32)
    : DataFrame = {
    require(bits <= 64, "two md5 digests provide 64 nibble-bits")
    val groups = (bits + 7) / 8
    val digest =
      if (bits <= 32) md5(col("shingle"))
      else concat(md5(col("shingle")),
        md5(concat(lit("x:"), col("shingle"))))
    // digest + conv parses once per DISTINCT shingle, mask longs
    // joined back (withShingleHashes; the vote sums are
    // order-insensitive); ~48 B overhead + 8 B per mask long
    val withMasks = withShingleHashes(postings, 48L + 8L * groups,
        d => d.withColumn("d", digest)
          .select(col("shingle") +: (0 until groups).map(g =>
            conv(substring(col("d"), g * 8 + 1, 8), 16, 10)
              .cast("long").as(s"m$g")): _*))
      .select(col("doc_id") +: (0 until groups).map(g =>
        col(s"m$g")): _*)
    val votes = (0 until bits).map { i =>
      val parity = shiftright(col(s"m${i / 8}"), 4 * (7 - i % 8))
        .bitwiseAND(lit(1L))
      sum(parity * 2L - 1L).as(s"v$i")
    }
    val packed = (0 until bits)
      .map(i => when(col(s"v$i") >= 0, lit(1L)).otherwise(lit(0L)) *
        lit(1L << i))
      .reduce(_ + _)
    withMasks
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), packed.as("sig"))
  }

  /** SimHash near-dup pairs: bucket by the signature's `bands` equal
    * bit-bands, verify by Hamming distance. Pigeonhole: a pair within
    * Hamming distance d shares at least one band whenever
    * d < bands, so recall is EXACT for maxHamming <= bands - 1.
    *
    * Band WIDTH is the scale lever: with 32-bit sigs and 4-bit bands
    * there are only 8·16 = 128 distinct bucket keys in the whole
    * corpus — every bucket holds corpus/128 docs and candidate
    * generation is quadratic regardless of data. 64-bit sigs with
    * 8-bit bands (the defaults here) give 8·256 = 2 048 keys and a
    * 16× thinner bucket at identical recall guarantees; wider sigs
    * also make the Hamming cut a finer similarity measure.
    */
  /** Band-count scaling rule: the FEWEST bands that still guarantee
    * exact recall for `maxHamming` (pigeonhole needs
    * bands ≥ maxHamming + 1). Fewer bands ⇒ wider bands ⇒ more
    * distinct bucket keys (bands · 2^bandBits) ⇒ thinner buckets —
    * the lever that keeps candidate generation linear as the corpus
    * grows 1000×: at maxHamming ≤ 3, 64-bit sigs band into 4×16-bit
    * bands = 262 144 bucket keys, 128× thinner buckets than the 8-band
    * default, with recall untouched. Band bits are capped at 16 so
    * keys stay small longs. */
  def bandsFor(sigBits: Int, maxHamming: Int): Int = {
    require(maxHamming >= 0 && maxHamming < sigBits)
    (maxHamming + 1 to sigBits)
      .find(b => sigBits % b == 0 && sigBits / b <= 16)
      .getOrElse(throw new IllegalArgumentException(
        s"no band count ≥ ${maxHamming + 1} divides $sigBits"))
  }

  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, maxHamming: Int = 4,
                   sigBits: Int = 64, bands: Int = 8)
    : DataFrame = {
    require(sigBits % bands == 0,
      s"sigBits ($sigBits) must split into equal bands ($bands)")
    val bandBits = sigBits / bands
    require(bandBits <= 16, "band keys are materialized as small longs")
    require(maxHamming <= bands - 1,
      s"banding guarantees recall only for maxHamming <= ${bands - 1}")
    // persist + materialize: the band self-join consumes sigs on BOTH
    // sides, and without a materialized cache each side recomputes the
    // whole tokenize/shingle/vote pipeline (measured 2-5x the query).
    // One row per doc — trivially memory-resident at any SF.
    val sigs = simhashSignatures(TextFunctions.shinglePostings(
      docs, idCol, textCol, shingleSize, distinct = true), sigBits)
      .persist(StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    val mask = (1L << bandBits) - 1
    val banded = sigs.withColumn("band", explode(array(
      (0 until bands).map(b => concat(lit(b + "|"),
        shiftright(col("sig"), b * bandBits).bitwiseAND(lit(mask)))): _*)))
    // Hamming cut BEFORE dedup: the filter depends only on the sigs
    // (functionally dependent on the ids), so distinct-then-filter and
    // filter-then-distinct agree — but filtering first shrinks the
    // distinct's shuffle from all band collisions to true matches
    banded.as("a").join(banded.as("b"), Seq("band"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id1", "id2")
      .select("id1", "id2", "hamming")
  }

  /** CONTENT-DEFINED chunking (FastCDC's core idea, declaratively):
    * a chunk boundary sits wherever the 8-char window STARTING at a
    * position hashes to a 0 nibble (p = 1/16 → ~16-char expected
    * chunks), so chunk boundaries are a function of content alone —
    * a duplicated region re-synchronizes on the same boundaries no
    * matter how far an edit shifted it, which is exactly what d09's
    * fixed-stride windows lose after one inserted character.
    * Position 1 is always a boundary; docs shorter than the window
    * are skipped. Returns (id, ckey, clen): 60-bit md5 chunk key +
    * chunk length. One per-doc window pass (bounded by doc length),
    * then the caller aggregates chunk keys — 8-byte shuffle rows. */
  def cdcChunks(docs: DataFrame, idCol: String,
                textCol: String): DataFrame = {
    import org.apache.spark.sql.graft.{CdcChunksExpr, ColumnBridge}
    docs.filter(length(col(textCol)) >= 8)
      .select(col(idCol).as("id"),
        explode(ColumnBridge.column(CdcChunksExpr(
          ColumnBridge.expression(col(textCol))))).as("ch"))
      .select(col("id"), col("ch.clen").as("clen"),
        col("ch.ckey").as("ckey"))
  }

  /** The declarative (explode + filter + lead-window) form of
    * [[cdcChunks]] — kept as the cross-engine reference shape the
    * fused expression is spec-pinned against; the oracle SQL mirrors
    * THIS pipeline step for step. */
  private[graft] def cdcChunksDeclarative(docs: DataFrame, idCol: String,
                                          textCol: String): DataFrame = {
    val base = docs.filter(length(col(textCol)) >= 8)
      .select(col(idCol).as("id"), col(textCol).as("text"))
    val bpos = base
      // the candidate range [2, len-7] exists only for len >= 9: at
      // len = 8 sequence(2, 1) would step BACKWARDS to [2, 1] and
      // emit phantom boundaries the oracle's empty generate_series
      // never sees; explode(null) emits no rows, which matches
      .select(col("id"), col("text"),
        explode(when(length(col("text")) >= 9,
          sequence(lit(2), length(col("text")) - lit(7))))
          .as("p"))
      .filter(substring(md5(expr("substring(text, p, 8)")), 1, 1)
        === "0")
      .select(col("id"), col("text"), col("p").cast("long").as("bp"))
    val bounds = base
      .select(col("id"), col("text"), lit(1L).as("bp"))
      .unionByName(bpos)
    val w = Window.partitionBy("id").orderBy("bp")
    bounds
      .withColumn("np", coalesce(lead(col("bp"), 1).over(w),
        length(col("text")).cast("long") + 1))
      .filter(col("np") > col("bp"))
      .select(col("id"), (col("np") - col("bp")).as("clen"),
        conv(substring(md5(expr(
          "substring(text, CAST(bp AS INT), CAST(np - bp AS INT))")),
          1, 15), 16, 10).cast("long").as("ckey"))
  }

  /** SemDeDup (Abbas et al. 2023, public method): SEMANTIC
    * deduplication via clustering — k-means the embedding space,
    * then compare pairs only WITHIN a cluster; a vector is dropped
    * when a lower-id cluster-mate sits above the cosine threshold
    * (the deterministic keep-lowest-id variant of the paper's
    * representative choice). The clustering is the whole trick: the
    * pairwise quadratic is bounded by cluster size, never corpus
    * size — scale nLists with the corpus (clusters of ~10-100k rows)
    * and the within-cluster join stays tractable at any N, which is
    * exactly why the published method exists.
    *
    * Reuses [[graft.similarity.Similarity.ivfCentroids]] (low-id
    * seeds + Lloyd, the SQL-mirrorable path). Assignments persist
    * once (they feed both sides of the pair join and the final
    * anti-join); the threshold compares the 6-dp ROUNDED cosine on
    * both engines, so the boundary is hash-stable. */
  def semDedup(corpus: DataFrame, nLists: Int, tau: Double,
               idCol: String = "vec_id", vecCol: String = "embedding")
    : DataFrame = {
    import graft.similarity.Similarity
    val cents = Similarity.ivfCentroids(corpus, nLists, iters = 1,
      idCol = idCol, vecCol = vecCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    cents.count()
    val scored = corpus.select(col(idCol).as("vid"),
        col(vecCol).as("v"))
      .join(broadcast(cents))
      .withColumn("cs", Similarity.cosine(col("v"), col("cv")))
    val w = Window.partitionBy("vid")
      .orderBy(col("cs").desc, col("cent_id"))
    val assigned = scored.withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("vid"), col("v"), col("cent_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    assigned.count()
    val drops = assigned.as("a").join(assigned.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.vid") > col("b.vid"))
      .filter(round(Similarity.cosine(col("a.v"), col("b.v")), 6)
        > tau)
      .select(col("a.vid").as("drop_id")).distinct()
    assigned.join(drops, col("vid") === col("drop_id"), "left_anti")
      .select(col("vid").as(idCol),
        col("cent_id").cast("long").as("cluster"))
  }

  /** Benchmark n-gram decontamination (d07): the deterministic
    * 1-in-`evalMod` doc cohort stands in for the eval benchmark; its
    * distinct shingle hashes semi-join back onto the training side,
    * yielding per-doc hit counts and an integer-HALF_UP contaminated
    * fraction. Accepts the family [[ShingleCache]] (the hashed
    * (n, distinct) postings level) so a decontamination session
    * shares one tokenize pass with the Bloom variant. */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 5, evalMod: Int = 50,
                    cache: Option[ShingleCache] = None): DataFrame = {
    val post = cache match {
      case Some(c) => c.hashedPostings(n, distinct = true)
      case None =>
        val p = TextFunctions.shinglePostings(docs, idCol, textCol,
          n, distinct = true)
          .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // eval/train/totals branches fan out — materialize first
        p.count()
        p
    }
    val evalSet = post.filter(col("doc_id") % evalMod === 0)
      .select("h").distinct()
    val train = post.filter(col("doc_id") % evalMod =!= 0)
    val totals = train.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"))
    val hits = train.join(evalSet, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (floor((coalesce(col("n_hits"), lit(0L)) * 20000 +
          col("n_shingles")) / (col("n_shingles").cast("double") * 2))
          / 10000.0).as("contaminated_frac"))
  }

  /** FUZZY benchmark decontamination (d22) — the near-dup companion
    * to [[decontaminate]]'s exact 5-gram pass: the published
    * pipelines this family mirrors (GPT-3 appendix C, Llama) also
    * drop training docs with high n-gram overlap against eval sets,
    * catching paraphrased or lightly-edited eval leakage an exact
    * shingle semi-join misses. Same eval convention as d07
    * (doc_id % evalMod == 0 is the eval set).
    *
    * Candidates come from [[sigShingleBands]]'s MinHash-LSH banding
    * (the d03 machinery) restricted to train×eval band pairs;
    * verification computes, per candidate, BOTH the symmetric
    * shingle Jaccard and the ASYMMETRIC eval-containment
    * |train ∩ eval| / |eval| (the d14 relation — a train doc that
    * quotes a whole eval item inside much more text has low Jaccard
    * but high containment). A pair is contamination when either
    * integer-ppm score (HALF_UP — cross-engine exact, thresholds
    * compare the ppm longs themselves) clears its threshold.
    *
    * Scale shape: identical to d03 — candidate generation is banded
    * (never corpus×eval all-pairs), band rows carry ids only, exact
    * verification touches candidates only. Output: one row per
    * contaminated (train, eval) pair with both scores and the
    * firing reason. */
  def fuzzyDecontaminate(docs: DataFrame, idCol: String,
                         textCol: String, shingleSize: Int = 3,
                         numHashes: Int = 12, bands: Int = 4,
                         evalMod: Int = 50,
                         jaccardPpm: Long = 500000L,
                         containPpm: Long = 800000L,
                         cache: Option[ShingleCache] = None)
    : DataFrame = {
    val (combined, banded) = sigShingleBands(docs, idCol, textCol,
      shingleSize, numHashes, bands, cache)
    val candidates = banded.as("a")
      .filter(col("doc_id") % evalMod =!= 0)
      .join(banded.as("b").filter(col("doc_id") % evalMod === 0),
        Seq("band"))
      .select(col("a.doc_id").as("train_id"),
        col("b.doc_id").as("eval_id"))
      .distinct()
    candidates
      .join(combined.select(col("doc_id").as("train_id"),
        col("sh").as("sh_t")), "train_id")
      .join(combined.select(col("doc_id").as("eval_id"),
        col("sh").as("sh_e")), "eval_id")
      .select(col("train_id"), col("eval_id"),
        size(array_intersect(col("sh_t"), col("sh_e")))
          .cast("long").as("inter"),
        size(col("sh_t")).cast("long").as("n_t"),
        size(col("sh_e")).cast("long").as("n_e"))
      // HALF_UP integer ppm (the d12 idiom) — thresholds compare the
      // ppm longs themselves, so both engines decide identically
      .selectExpr("train_id", "eval_id",
        "CAST((inter * 2000000 + (n_t + n_e - inter)) DIV " +
          "(2 * (n_t + n_e - inter)) AS BIGINT) AS jaccard_ppm",
        "CAST((inter * 2000000 + n_e) DIV (2 * n_e) AS BIGINT) " +
          "AS containment_ppm")
      .filter(col("jaccard_ppm") >= jaccardPpm ||
        col("containment_ppm") >= containPpm)
      .withColumn("reason",
        when(col("jaccard_ppm") >= jaccardPpm &&
          col("containment_ppm") >= containPpm, "both")
          .when(col("jaccard_ppm") >= jaccardPpm, "jaccard")
          .otherwise("containment"))
  }

  /** Bloom-filter decontamination (d10): d07's semantics at the
    * shape 100 TB requires — the eval shingles fold into a plan-
    * constant 32 768-bit filter ([[Bloom]], k=3 md5 probes), so the
    * corpus-side test is three codegen'd probes per shingle and the
    * eval semi-join's shuffle is gone. Exact hits ride along so the
    * false-positive count is part of the verified output. Accepts
    * the family [[ShingleCache]] (the RAW (5, distinct) postings
    * level — the probe positions hash the shingle text). */
  def bloomDecontaminate(docs: DataFrame, idCol: String,
                         textCol: String, evalMod: Int = 50,
                         cache: Option[ShingleCache] = None)
    : DataFrame = {
    val m = 32768
    val post = cache.map(_.postings(5, distinct = true)).getOrElse {
      val p = TextFunctions.shinglePostings(docs, idCol, textCol,
        5, distinct = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // eval-positions, eval-set and train branches fan out
      p.count()
      p
    }
    def posOf(r: Int, sh: Column): Column =
      conv(substring(md5(concat(lit(r.toString), lit(":"), sh)),
        1, 8), 16, 10).cast("long") % m
    val evalPost = post.filter(col("doc_id") % evalMod === 0)
    val bits = Bloom.buildBits(
      evalPost.select(explode(array(
        (0 until 3).map(r => posOf(r, col("shingle"))): _*)).as("pos")),
      m)
    val evalSet = evalPost.select("shingle").distinct()
      .withColumn("ex", lit(1L))
    val train = post.filter(col("doc_id") % evalMod =!= 0)
    train
      .withColumn("bloom_hit", Bloom.mightContain(bits,
        (0 until 3).map(r => posOf(r, col("shingle")))))
      .join(evalSet, Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("bloom_hit"), 1L).otherwise(0L))
          .as("n_bloom_hits"),
        sum(coalesce(col("ex"), lit(0L))).as("n_exact_hits"))
      .withColumn("n_false_pos",
        col("n_bloom_hits") - col("n_exact_hits"))
  }

  /** Edit-distance-1 pair mining via DELETION-NEIGHBORHOOD indexing
    * (Garbe's SymSpell, public method) — the entity-resolution /
    * typo-dedup primitive: two strings within Levenshtein distance 1
    * ALWAYS share a member of each other's {self} ∪ {one-char
    * deletions} set (substitution → both delete the differing
    * position; insert/delete → the shorter string IS a deletion of
    * the longer), so candidate generation is an equi-join on variant
    * keys — recall-COMPLETE for d ≤ 1, never all-pairs. Candidates
    * then verify by exact `levenshtein` (both engines implement the
    * standard DP — integer, no parity risk).
    *
    * Scale shape: ≤ len+1 variant keys per distinct string; the
    * variant join's buckets are the variant-key groups (each shared
    * by the handful of strings one deletion apart — fine-grained,
    * skew-free for id-like vocabularies); `distinct` collapses
    * multi-variant hits before the verify. One variant-key Exchange
    * + one pair distinct; the raw table never self-joins.
    *
    * For `maxDist = 2` (SymSpell's 2-deletion form) the variant set
    * additionally deletes one character from every 1-deletion variant
    * — each 2-deletion string is generated twice (once per deletion
    * order), which only duplicates candidates the pair `distinct`
    * collapses; variant count grows to ~len² per string, still never
    * all-pairs. Recall completeness for d ≤ 2 is the same
    * common-subsequence argument.
    *
    * @return (name_a, name_b, dist) with name_a < name_b,
    *         1 ≤ dist ≤ maxDist
    */
  def editDistancePairs(df: DataFrame, nameCol: String,
                        maxDist: Int = 1): DataFrame = {
    require(maxDist == 1 || maxDist == 2, s"maxDist 1 or 2, got $maxDist")
    val names = df.select(col(nameCol).as("name")).distinct()
    val del1 = "transform(sequence(1, length(name))," +
      " i -> concat(substring(name, 1, i - 1)," +
      " substring(name, i + 1, length(name))))"
    // join on the variant's xxhash64, not the string — the shuffle
    // carries longs; a hash collision only ever ADDS a candidate,
    // which the exact verify below discards
    val varArr =
      if (maxDist == 1)
        s"concat(array(xxhash64(name))," +
          s" transform($del1, s -> xxhash64(s)))"
      else
        s"concat(array(xxhash64(name))," +
          s" transform($del1, s -> xxhash64(s))," +
          s" flatten(transform($del1," +
          " s -> transform(sequence(1, length(s))," +
          " i -> xxhash64(concat(substring(s, 1, i - 1)," +
          " substring(s, i + 1, length(s))))))))"
    val vars = names.select(col("name"),
      explode(expr(varArr)).as("v"))
    // hash-repartition the probe side: the variant table is small
    // enough that AQE otherwise coalesces it to ~1 partition and the
    // ENTIRE verify DP runs in one task (measured 5.3 s vs 2.2 s at
    // sf0.1) — the candidate multiset, not the variant table, is the
    // real work, so spread it before it exists
    val a = vars.select(col("name").as("name_a"), col("v"))
      .repartition(col("v"))
    val b = vars.select(col("name").as("name_b"), col("v"))
    a.join(b, Seq("v"))
      .filter(col("name_a") < col("name_b"))
      // verify BEFORE the pair distinct (cheaper than shuffling the
      // over-generated candidate multiset a second time), with the
      // THRESHOLDED levenshtein — the banded DP early-abandons past
      // maxDist
      .filter(levenshtein(col("name_a"), col("name_b"), maxDist)
        .between(1, maxDist))
      .select("name_a", "name_b").distinct()
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long")
          .as("dist"))
  }

  /** Duplicated-span REMOVAL (C4's dedup rule, Raffel et al. 2020
    * §2.2) as a corpus rewrite: split each document into consecutive
    * `segTokens`-token segments, keep only the globally FIRST
    * occurrence of each segment (min (doc_id, seg_idx) — C4's
    * "discard all but one"), and reassemble the surviving segments
    * in order, with per-doc impact counts.
    *
    * Scale shape: the keep-first decision shuffles only
    * (span_key, doc_id, seg_idx) — a 60-bit md5 span key plus two
    * longs, never segment text — through one map-side-combining
    * min(struct) aggregate; the segment stream shuffles once for the
    * flag join and once for per-doc reassembly. min(struct), not a
    * row_number window: a mega-duplicated span pre-combines
    * map-side instead of serializing through one window partition. */
  /** OFFSET-INVARIANT duplicated-substring removal — the
    * Spark-native approximation of suffix-array ExactSubstr dedup
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better"): where [[spanRemoval]] (d20/C4) hashes FIXED
    * 8-token segments — so a one-token shift of the same duplicated
    * passage defeats the rewrite — this slides an `anchorTokens`-
    * token window at STRIDE 1, making detection alignment-free:
    * every duplicated run of ≥ `anchorTokens` tokens contains an
    * exactly-matching window at EVERY alignment, wherever it starts.
    *
    * Semantics (keep-first, C4/Lee-style): a window occurrence is
    * REDUNDANT iff it is not its key's globally first occurrence
    * (lexicographic min (doc_id, pos) — so the first copy of any
    * duplicated passage keeps all its tokens); a token is removed
    * iff ≥ 1 redundant window covers it. Later copies of a
    * duplicated passage lose the whole passage (every in-passage
    * alignment is redundant); unique text is never touched (a
    * window occurring once is its own first).
    *
    * Scale shape (the d20 discipline, stride-1 edition): window
    * text collapses to a 60-bit md5 key BEFORE any shuffle, so the
    * keep-first decision is ONE map-side-combining min(struct) over
    * (span_key, doc_id, pos) longs — a mega-duplicated window
    * pre-combines map-side. The firsts table is then FILTERED to
    * keys with ≥ 2 occurrences before the redundancy join (unique
    * windows — the overwhelming mass of a real corpus — never build
    * a join side), and coverage explodes only the REDUNDANT windows
    * ×`anchorTokens` into (doc_id, token_idx) long pairs. Every
    * shuffle is keyed on longs; token text shuffles once for the
    * reassembly aggregate. */
  def substringRemoval(docs: DataFrame, idCol: String,
                       textCol: String,
                       anchorTokens: Int = 8): DataFrame = {
    val a = anchorTokens
    val base = docs
      .select(col(idCol).as("doc_id"),
        filter(split(trim(col(textCol)), "\\s+"), x => x =!= "")
          .as("tk"))
      .filter(size(col("tk")) > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    base.count() // windows + token streams both consume it
    // stride-1 windows, keyed by 60-bit md5 of the window text.
    // Persisted+counted: the keep-first decision is a self-join on
    // this subtree (wins ⋈ agg(wins)) — without the persist the
    // whole exploded-window computation over the corpus runs twice
    // (the CLAUDE.md self-join rule; r14 advice)
    val wins = base
      .filter(size(col("tk")) >= a)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("tk")) - lit(a)),
          i => conv(substring(md5(
            array_join(slice(col("tk"), i + 1, lit(a)), " ")),
            1, 15), 16, 10).cast("long"))))
      .select(col("doc_id"), col("pos").cast("long").as("i"),
        col("col").as("span_key"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    wins.count()
    // keep-first over duplicated keys only: min(struct) combines
    // map-side; n_occ >= 2 keeps the join side to actual duplicates
    val dupFirsts = wins
      .groupBy("span_key")
      .agg(min(struct(col("doc_id"), col("i"))).as("f"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("span_key"), col("f.doc_id").as("f_doc"),
        col("f.i").as("f_i"))
    val redundant = wins.join(dupFirsts, Seq("span_key"))
      .filter(col("doc_id") =!= col("f_doc") ||
        col("i") =!= col("f_i"))
      .select(col("doc_id"), col("i"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    redundant.count() // coverage + per-doc window counts fan out
    val cover = redundant
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + lit(a - 1))).as("j"))
      .distinct()
    val redPerDoc = redundant.groupBy("doc_id")
      .agg(count(lit(1)).as("n_red_windows"))
    val toks = base
      .select(col("doc_id"), posexplode(col("tk")))
      .select(col("doc_id"), col("pos").cast("long").as("j"),
        col("col").as("tok"))
    toks
      .join(cover.withColumn("rm", lit(1)), Seq("doc_id", "j"),
        "left")
      .groupBy("doc_id")
      .agg(
        array_join(transform(array_sort(collect_list(
          when(col("rm").isNull, struct(col("j"), col("tok"))))),
          x => x.getField("tok")), " ").as("new_text"),
        count(lit(1)).as("n_toks"),
        sum(when(col("rm") === 1, 1L).otherwise(0L))
          .as("toks_removed"))
      .join(redPerDoc, Seq("doc_id"), "left")
      .withColumn("n_red_windows",
        coalesce(col("n_red_windows"), lit(0L)))
  }

  /** [[substringRemoval]] iterated to FIXPOINT — closes d21's
    * declared one-pass caveat (shared with Lee et al.'s ExactSubstr):
    * removing a redundant span can juxtapose previously-distant text
    * into a NEW ≥ `anchorTokens`-token duplicate that only a further
    * pass catches. Re-runs the rewrite until a pass finds ZERO
    * redundant windows (the pass residual — a one-row driver sum),
    * throwing after `maxPasses` like the graph loops rather than
    * returning silently unconverged text. Each adopted pass ends
    * with an eager localCheckpoint (the CLAUDE.md iterative-loop
    * rule: the state feeds both the next pass and the accumulation
    * join). Expected passes on real corpora: 1 rewrite + 1 clean
    * verify pass (the measured pass-2 residual at every test SF is
    * 0 — see SCALING.md round 15).
    *
    * Output is [[substringRemoval]]'s shape with CUMULATIVE
    * `toks_removed` / `n_red_windows`, `n_toks` = ORIGINAL token
    * count, plus `n_passes` = rewrite passes adopted (0 when the
    * corpus was already duplicate-free). Docs rewritten to empty
    * stay in the output (their text is simply ""). */
  def substringRemovalConverged(docs: DataFrame, idCol: String,
                                textCol: String, anchorTokens: Int = 8,
                                maxPasses: Int = 8): DataFrame = {
    var state = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .select(col("doc_id"), col("text"),
        size(filter(split(trim(col("text")), "\\s+"), x => x =!= ""))
          .cast("long").as("n_toks"))
      .filter(col("n_toks") > 0)
      .withColumn("toks_removed", lit(0L))
      .withColumn("n_red_windows", lit(0L))
      .localCheckpoint(true)
    var pass = 0
    var converged = false
    while (!converged && pass < maxPasses) {
      val r = substringRemoval(
          state.select(col("doc_id"), col("text")),
          "doc_id", "text", anchorTokens)
        .select(col("doc_id"), col("new_text"),
          col("toks_removed").as("tr"), col("n_red_windows").as("nr"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val residual = r.agg(coalesce(sum(col("nr")), lit(0L)))
        .head.getLong(0)
      if (residual == 0L) converged = true
      else {
        pass += 1
        // left join: docs rewritten to "" drop out of the NEXT
        // pass's substringRemoval (no tokens) but stay in state
        state = state.join(r, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("new_text"), col("text")).as("text"),
            col("n_toks"),
            (col("toks_removed") + coalesce(col("tr"), lit(0L)))
              .as("toks_removed"),
            (col("n_red_windows") + coalesce(col("nr"), lit(0L)))
              .as("n_red_windows"))
          .localCheckpoint(true)
      }
      r.unpersist(blocking = false)
    }
    if (!converged) throw new IllegalStateException(
      s"substringRemovalConverged: residual redundant windows after " +
        s"$maxPasses passes (anchorTokens=$anchorTokens) — raise " +
        s"maxPasses or inspect the corpus for pathological overlap")
    state.select(col("doc_id"), col("text").as("new_text"),
      col("n_toks"), col("toks_removed"), col("n_red_windows"),
      lit(pass.toLong).as("n_passes"))
  }

  def spanRemoval(docs: DataFrame, idCol: String, textCol: String,
                  segTokens: Int = 8): DataFrame = {
    val n = segTokens
    val base = docs
      .select(col(idCol).as("doc_id"),
        filter(split(trim(col(textCol)), "\\s+"), x => x =!= "")
          .as("tk"))
      .filter(size(col("tk")) > 0)
    val segs = base
      .select(col("doc_id"), posexplode(
        transform(
          sequence(lit(0),
            ceil(size(col("tk")) / lit(n.toDouble)).cast("int") - 1),
          i => array_join(slice(col("tk"), i * lit(n) + 1, lit(n)),
            " "))))
      .select(col("doc_id"), col("pos").as("seg_idx"),
        col("col").as("seg"),
        conv(substring(md5(col("col")), 1, 15), 16, 10).cast("long")
          .as("span_key"))
    val firsts = segs
      .select(col("span_key"), col("doc_id"), col("seg_idx"))
      .groupBy("span_key")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("f"))
      .select(col("span_key"), col("f.doc_id").as("doc_id"),
        col("f.seg_idx").as("seg_idx"), lit(1).as("keep"))
    segs.join(firsts, Seq("span_key", "doc_id", "seg_idx"), "left")
      .groupBy("doc_id")
      .agg(
        array_join(transform(array_sort(collect_list(
          when(col("keep") === 1,
            struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")), " ").as("new_text"),
        count(lit(1)).as("n_spans"),
        sum(when(col("keep").isNull, 1L).otherwise(0L))
          .as("n_removed"),
        sum(when(col("keep").isNull, size(split(col("seg"), " ")))
          .otherwise(0)).cast("long").as("toks_removed"))
  }
}
