package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.graft.{ColumnBridge, CosineSimilarity, DotProduct, TopKBy}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search over `array<double>` columns.
  *
  * Vector math runs through the custom codegen'd Catalyst expressions
  * ([[org.apache.spark.sql.graft.CosineSimilarity]] /
  * [[org.apache.spark.sql.graft.DotProduct]]) — no UDFs, no
  * interpreted higher-order folds — and top-k uses the bounded-heap
  * [[org.apache.spark.sql.graft.TopKBy]] aggregate, so the same plan
  * runs on 100 TB of embeddings: broadcast the (small) probe set,
  * score map-side, shuffle only |probes| x k rows.
  */
object Similarity {

  /** Dot product via the codegen'd native expression
    * ([[graft.functions.DotProduct]]); `array<double>` in. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in one codegen'd pass (dot + both norms),
    * 6-dp rounded for cross-engine hash stability. */
  def cosine(a: Column, b: Column): Column =
    round(ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b))), 6)

  /** Brute-force top-k cosine neighbors of a probe set: broadcast
    * the probes (they are small by construction), score map-side,
    * per-probe window top-k. One shuffle (the window), no cartesian
    * blowup beyond |corpus| x |probes| map work — the scalable
    * baseline every ANN variant is judged against.
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val scored = corpus.select(col(idCol).as("vec_id"),
        col(vecCol).as("v"))
      .join(broadcast(probes.select(col(idCol).as("probe_id"),
        col(vecCol).as("p"))))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosine(col("v"), col("p")))
      .select("probe_id", "vec_id", "cos")
    // bounded-heap top-k aggregate (map-side partials): no sort, the
    // shuffle carries |probes| x k rows instead of |corpus|x|probes| —
    // see org.apache.spark.sql.graft.TopKBy
    topKPerProbe(scored, k)
  }

  /** Per-probe bounded-heap top-k over an arbitrary pre-scored pair
    * relation `(probe_id, vec_id, cos)` — the same map-side-partial
    * TopKBy aggregate [[bruteForceTopK]] uses, exposed for callers
    * that filter the candidate relation first (e.g. hard-negative
    * mining drops same-cluster candidates before ranking). */
  def topKScored(scored: DataFrame, k: Int): DataFrame =
    topKPerProbe(scored, k)

  private def topKPerProbe(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("probe_id")
      .agg(TopKBy.topKBy(col("cos"), col("vec_id"), k).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("probe_id"), col("s.id").as("vec_id"),
        col("s.score").as("cos"), (col("pos") + 1).cast("long")
          .as("rnk"))

  /** Brute-force top-k without materializing the pair relation: the
    * probe set broadcasts as primitive arrays and each corpus
    * partition keeps per-probe bounded heaps (mapPartitions — the
    * documented last resort, justified here because the declarative
    * form must emit |corpus|x|probes| rows through the join machinery
    * and that row overhead, not the math, dominates). Emits only
    * |partitions| x |probes| x k partial rows, merged by the same
    * TopKBy aggregate. Rounding uses Catalyst's exact semantics
    * (BigDecimal.valueOf + HALF_UP) so results are bit-identical to
    * [[bruteForceTopK]] and the SQL oracle.
    *
    * The probe side is processed in bounded batches of at most
    * `maxProbesInFlight` (split by a deterministic hash of the probe
    * id), so driver memory and broadcast size stay O(batch) no matter
    * how large the probe set is — an unbatched collect of a full-corpus
    * probe set would OOM the driver at scale. Each probe lands in
    * exactly one batch, so unioning the per-batch partials and merging
    * with the same bounded-heap aggregate is bit-identical to the
    * single-pass form (spec-verified).
    */
  def bruteForceTopKPartitioned(corpus: DataFrame, probes: DataFrame,
                                k: Int, idCol: String = "vec_id",
                                vecCol: String = "embedding",
                                maxProbesInFlight: Int = 8192)
    : DataFrame = {
    // persist + materialize before the count + per-batch collects fan
    // out (the probe subtree would otherwise re-run once per batch);
    // safe to release right after — the partials only reference the
    // collected broadcast arrays, never this plan
    val prepared = probes.select(col(idCol).cast("long").as("pid"),
      col(vecCol).as("pv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nProbes = prepared.count()
    val nBatches = math.max(1L,
      (nProbes + maxProbesInFlight - 1) / maxProbesInFlight).toInt
    val partials = (0 until nBatches).map { b =>
      val batch = if (nBatches == 1) prepared
        else prepared.filter(
          pmod(xxhash64(col("pid")), lit(nBatches.toLong)) === b)
      partialTopK(corpus, batch, k, maxProbesInFlight, idCol, vecCol)
    }.reduce(_ unionByName _)
    prepared.unpersist()
    topKPerProbe(partials, k)
  }

  /** One bounded probe batch of [[bruteForceTopKPartitioned]]: collect
    * the (capped) batch, broadcast, heap-scan the corpus. */
  private def partialTopK(corpus: DataFrame, probeBatch: DataFrame,
                          k: Int, maxProbesInFlight: Int,
                          idCol: String, vecCol: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val probeArr: Array[(Long, Array[Double])] = probeBatch
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    // 4x slack over the target batch size absorbs hash-split skew;
    // anything beyond that means the caller bypassed the batching
    require(probeArr.length <= 4L * maxProbesInFlight,
      s"probe batch ${probeArr.length} exceeds 4x maxProbesInFlight " +
        s"($maxProbesInFlight) — unbounded probe collect")
    val bc = spark.sparkContext.broadcast(probeArr)
    corpus
      .select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val ps = bc.value
        val heaps = Array.fill(ps.length)(
          new org.apache.spark.sql.graft.TopKBuffer(k))
        // norms are pair-invariant: sqrt(Σp²) once per probe per task
        // and sqrt(Σv²) once per corpus row, instead of re-summing
        // both inside the O(|corpus|·|probes|) pair loop (3x fewer
        // flops). Norms run over each vector's FULL length — exactly
        // the oracle's list_dot_product(v, v) — while the dot product
        // truncates to min(|v|, |p|); when all vectors share one
        // dimension (true of every registered corpus, spec-pinned in
        // SimilaritySpec's ragged test) the partial sums and the
        // sqrt·sqrt product are the same doubles in the same order as
        // the pre-hoist code, so cos is bit-identical to it. Ragged
        // inputs are still well-defined (full-norm semantics, the
        // oracle's form) but differ from the pre-r15 truncated norms.
        val pids = ps.map(_._1)
        val pvecs = ps.map(_._2)
        val pnorm = pvecs.map { p =>
          var np = 0.0; var j = 0
          while (j < p.length) { np += p(j) * p(j); j += 1 }
          math.sqrt(np)
        }
        rows.foreach { case (id, v) =>
          var nv = 0.0
          var j0 = 0
          while (j0 < v.length) { nv += v(j0) * v(j0); j0 += 1 }
          val sv = math.sqrt(nv)
          var i = 0
          while (i < ps.length) {
            if (pids(i) != id) {
              val p = pvecs(i)
              var dot = 0.0; var j = 0
              val n = math.min(v.length, p.length)
              while (j < n) { dot += v(j) * p(j); j += 1 }
              val denom = sv * pnorm(i)
              val cos = if (denom == 0.0) 0.0 else dot / denom
              // Catalyst Round(…, 6) semantics, bit-identical
              val rounded = java.math.BigDecimal.valueOf(cos)
                .setScale(6, java.math.RoundingMode.HALF_UP)
                .doubleValue()
              heaps(i).insert(rounded, id)
            }
            i += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          (0 until h.n).iterator.map(j =>
            (ps(i)._1, h.ids(j), h.scores(j)))
        }
      }
      .toDF("probe_id", "vec_id", "cos")
  }

  /** Sign-random-projection (hyperplane) LSH bucketing, RNG-free:
    * hyperplane h's component j is derived from md5(h:j) — a
    * deterministic pseudo-random ±1 — so buckets are reproducible
    * across engines and runs. Vectors sharing the bucket key are ANN
    * candidates; exact cosine runs only within buckets.
    *
    * At 100 TB this is the scale path: one shuffle on the bucket key,
    * per-bucket brute force, vs. the broadcast brute-force baseline.
    */
  /** The deterministic ±1 hyperplane components; public so oracle
    * mirrors can inline the identical literals. */
  def planeSigns(planes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until planes).map(h => (0 until dim).map { j =>
      if (Integer.parseInt(md5Hex(s"$h:$j").substring(0, 2), 16) % 2
        == 0) 1.0 else -1.0
    })

  def hyperplaneBucket(vec: Column, planes: Int, dim: Int): Column = {
    val allSigns = planeSigns(planes, dim)
    val bits = (0 until planes).map { h =>
      // codegen'd dot against the literal plane; same left-to-right
      // summation as the interpreted fold, so buckets are unchanged
      val proj = dot(vec, array(allSigns(h).map(lit): _*))
      when(proj >= 0, lit(1)).otherwise(lit(0)) * lit(1 << h)
    }
    bits.reduce(_ + _).cast("long")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** LSH-bucketed ANN pairs: bucket, then exact cosine within each
    * bucket, keep pairs above `minCos`.
    */
  def lshNeighborPairs(corpus: DataFrame, planes: Int, dim: Int,
                       minCos: Double, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val b = corpus.select(col(idCol).as("vec_id"),
        col(vecCol).as("v"))
      .withColumn("bucket", hyperplaneBucket(col("v"), planes, dim))
    b.as("a").join(b.as("b"), Seq("bucket"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosine(col("a.v"), col("b.v")))
      .filter(col("cos") >= minCos)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        col("cos"))
  }

  /** MULTI-PROBE hyperplane LSH: each vector probes its own bucket
    * AND the `planes` buckets at Hamming distance 1 (one sign bit
    * flipped) — the standard recall lever that trades a constant
    * probe fanout (planes+1 keys) for the table blowup more planes
    * or more tables would cost. A near-neighbor pair that a single
    * boundary plane split apart (the common miss: the two vectors
    * project onto opposite sides of ONE hyperplane) is recovered
    * here; the scale shape is unchanged — one equi-join keyed on the
    * probed bucket, exact cosine only within candidates, no
    * all-pairs anywhere. Returns the [[lshNeighborPairs]] superset
    * with `ham_bits` (0 = same bucket, 1 = recovered by probing).
    */
  def multiProbeLshPairs(corpus: DataFrame, planes: Int, dim: Int,
                         minCos: Double, idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val b = corpus.select(col(idCol).as("vec_id"),
        col(vecCol).as("v"))
      .withColumn("bucket", hyperplaneBucket(col("v"), planes, dim))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // probe and index sides both read b — materialize once
    b.count()
    val probes = b.select(col("vec_id"), col("v"), col("bucket"),
      explode(array(col("bucket") +:
        (0 until planes).map(h =>
          col("bucket").bitwiseXOR(lit(1L << h))): _*)).as("probe"))
    // each qualifying pair matches on EXACTLY one probe of the
    // smaller id (hamming 0 → the identity probe, hamming 1 → the
    // single flipped bit), so no dedup shuffle is needed
    probes.as("a").join(b.as("b"),
        col("a.probe") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosine(col("a.v"), col("b.v")))
      .filter(col("cos") >= minCos)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        bit_count(col("a.bucket").bitwiseXOR(col("b.bucket")))
          .cast("long").as("ham_bits"),
        col("cos"))
  }

  /** Banded (OR-amplified) hyperplane-LSH near-neighbor pairs — the
    * semantic-dedup scale path. `bands * bandBits` deterministic
    * hyperplanes are split into `bands` groups; two vectors become
    * candidates iff they agree on EVERY bit of at least ONE band —
    * much higher recall near the threshold than the single
    * all-planes signature in [[lshNeighborPairs]], with the same
    * scale shape: the only shuffles are keyed on (band, bucket) and
    * carry ids only; exact cosine runs within candidate pairs; no
    * all-pairs / BroadcastNestedLoopJoin anywhere. The planes are the
    * md5-derived [[planeSigns]] literals, so any engine can mirror
    * the bucketing exactly (the DuckDB oracle inlines them).
    */
  def bandedLshNeighborPairs(corpus: DataFrame, bands: Int,
                             bandBits: Int, dim: Int, minCos: Double,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    val allSigns = planeSigns(bands * bandBits, dim)
    val v = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val bandKeys = (0 until bands).map { b =>
      val bits = (0 until bandBits).map { i =>
        val proj = dot(col("v"),
          array(allSigns(b * bandBits + i).map(lit): _*))
        when(proj >= 0, lit(1)).otherwise(lit(0)) * lit(1 << i)
      }.reduce(_ + _)
      concat(lit(s"$b|"), bits.cast("string"))
    }
    // both self-join sides consume banded: persist + materialize so
    // the 16 plane projections run once per vector, not twice
    // (bands x one short row per vector — tiny at any SF)
    val banded = v.withColumn("band", explode(array(bandKeys: _*)))
      .select("band", "vec_id") // ids only through the band shuffle
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    banded.count()
    val cand = banded.as("a").join(banded.as("b"), Seq("band"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .distinct()
    cand
      .join(v.select(col("vec_id").as("id1"), col("v").as("v1")), "id1")
      .join(v.select(col("vec_id").as("id2"), col("v").as("v2")), "id2")
      .withColumn("cos", cosine(col("v1"), col("v2")))
      .filter(col("cos") >= minCos)
      .select("id1", "id2", "cos")
  }

  /** Deterministic IVF centroids: a lowest-id seed sample refined by
    * `iters` spherical-k-means (Lloyd) iterations — cosine
    * assignment against broadcast centroids (map-side argmax), then a
    * per-dimension mean update as one partial-aggregating shuffle
    * keyed on (list, dim). Centroid components round to 6 dp so any
    * engine reproduces the EXACT centroids (float-summation order
    * differs across engines by last-ulp amounts; the rounding absorbs
    * that except when a mean sits within one ulp of an exact
    * .xxxxxx5 boundary — ~1e-10 per component, ~1e-7 per full
    * centroid set — the same residual every rounded float aggregate
    * in the suite carries). A list that captures no vectors drops
    * out, identically everywhere.
    */
  /** PRODUCT QUANTIZATION: split each vector into `nSub` contiguous
    * subvectors and code each against its own small codebook — the
    * memory layout every billion-scale ANN index (IVF-PQ) uses:
    * nSub bytes per vector instead of dim·8. This is a pure MAP —
    * codebooks arrive as plan literals, every distance is the
    * codegen'd identity ‖v−c‖² = v·v − 2·v·c + c·c over [[dot]], and
    * the argmin is a coalesce-of-when chain (ties → lowest centroid
    * id), so the operator has ZERO shuffles at any corpus size.
    *
    * Centroids are caller-provided (deterministic low-id rows here,
    * the SQL-mirrorable choice — [[farthestFirstSeeds]] is the
    * quality upgrade exactly as with IVF). Reconstruction error =
    * Σ_j min-distance, summed in subspace order and 6-dp rounded so
    * both engines see the same double.
    *
    * @param cents (centroidId, full-dim vector); subvector j of each
    *              centroid is codebook j's entry
    */
  def productQuantize(corpus: DataFrame, nSub: Int,
                      cents: Seq[(Int, Seq[Double])],
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(cents.nonEmpty && nSub >= 1)
    val dim = cents.head._2.length
    require(dim % nSub == 0,
      s"dim $dim not divisible into $nSub subspaces")
    val sd = dim / nSub
    val perSub = (0 until nSub).map { j =>
      val sub = slice(col(vecCol), j * sd + 1, sd)
      val vv = dot(sub, sub)
      val ds = cents.map { case (cid, cv) =>
        val cSub = cv.slice(j * sd, j * sd + sd).toArray
        // c·c folded on the driver with the same left-to-right sum
        // the engines use for their dot products
        val cc = cSub.foldLeft(0.0)((a, x) => a + x * x)
        (cid, vv - lit(2.0) * dot(sub, lit(cSub)) + lit(cc))
      }
      val m = least(ds.map(_._2): _*)
      val code = coalesce(ds.map { case (cid, dc) =>
        when(dc === m, lit(cid.toLong))
      }: _*)
      (code.as(s"c$j"), m)
    }
    val err = perSub.map(_._2).reduceLeft(_ + _)
    corpus.select(col(idCol) +: perSub.map(_._1)
      :+ round(err, 6).as("err"): _*)
  }

  def ivfCentroids(corpus: DataFrame, nLists: Int, iters: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   kmeansPlusPlus: Boolean = false): DataFrame = {
    // low-id seeding is the SQL-mirrorable default (the s04 oracle
    // reproduces it verbatim); farthest-first is the quality path —
    // same downstream Lloyd/assign machinery either way
    var cents =
      if (kmeansPlusPlus)
        farthestFirstSeeds(corpus, nLists, idCol = idCol,
          vecCol = vecCol)
      else corpus.select(col(idCol).as("cent_id"),
        col(vecCol).as("cv"))
        .orderBy("cent_id").limit(nLists)
    for (_ <- 0 until iters) {
      val scored = corpus
        .select(col(idCol).as("vid"), col(vecCol).as("v"))
        .join(broadcast(cents))
        .withColumn("cs", cosine(col("v"), col("cv")))
      val w = Window.partitionBy("vid")
        .orderBy(col("cs").desc, col("cent_id"))
      val assigned = scored.withColumn("r", row_number().over(w))
        .filter(col("r") === 1)
        .select(col("cent_id"), posexplode(col("v")).as(Seq("pos", "x")))
      cents = assigned.groupBy("cent_id", "pos")
        .agg(round(avg("x"), 6).as("m"))
        .groupBy("cent_id")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cv"))
    }
    cents
  }

  /** Deterministic k-means++-style seeding: farthest-first traversal
    * (the maxmin variant of k-means++ — no RNG, so every engine, run
    * and partitioning produces identical seeds) over a BOUNDED
    * hash-ordered sample. The sample is the `sampleCap` lowest rows
    * by md5(id) — a deterministic uniform draw that TakeOrdered
    * computes without a full sort — collected to the driver
    * (≤ sampleCap vectors, bounded by construction like the
    * WordSegmenter vocab collect) where the k seeds are chosen
    * sequentially: each next seed maximizes its cosine distance to
    * the nearest already-chosen seed (ties broken by id). Sketch-
    * then-solve is the standard scale shape for seeding: the corpus
    * is only ever scanned for the sample, never k times.
    *
    * Versus lowest-id seeding, farthest-first seeds spread across the
    * data's modes instead of clumping wherever the first ids landed —
    * fewer empty lists and tighter assignments for the SAME Lloyd
    * budget (specs pin both the determinism and the spread).
    */
  def farthestFirstSeeds(corpus: DataFrame, nLists: Int,
                         sampleCap: Int = 2048,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    require(nLists > 0 && sampleCap >= nLists)
    val spark = corpus.sparkSession
    val idType = corpus.schema(idCol).dataType
    // ids stay in their NATIVE type (an unconditional long cast nulls
    // non-numeric ids silently — the Components.driverFinish trap);
    // the salted md5 of the id's string form is both the sample order
    // and the engine-portable tiebreak. Duplicate id rows collapse so
    // the traversal's not-already-chosen guard can always make
    // progress.
    val sample = corpus
      .select(md5(col(idCol).cast("string")).as("sk"),
        col(idCol).as("sid"),
        col(vecCol).cast("array<double>").as("sv"))
      .dropDuplicates("sid")
      .orderBy(col("sk"))
      .limit(sampleCap)
      .collect()
      .map(r => (r.getString(0), r.get(1),
        r.getSeq[Double](2).toArray))
    require(sample.nonEmpty, "farthestFirstSeeds: empty corpus")
    def cosDist(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 1.0 else 1.0 - d / den
    }
    val chosen = scala.collection.mutable.ArrayBuffer(
      sample.minBy(_._1))
    val picked = scala.collection.mutable.HashSet(chosen.head._1)
    // minDist(i) = distance of sample(i) to its nearest chosen seed;
    // updated incrementally so the traversal is O(k·|sample|)
    val minDist = sample.map(p => cosDist(p._3, chosen.head._3))
    while (chosen.size < math.min(nLists, sample.length)) {
      var best = -1
      var i = 0
      while (i < sample.length) {
        if (!picked.contains(sample(i)._1) &&
          (best < 0 || minDist(i) > minDist(best) ||
            (minDist(i) == minDist(best) &&
              sample(i)._1 < sample(best)._1))) best = i
        i += 1
      }
      chosen += sample(best)
      picked += sample(best)._1
      i = 0
      while (i < sample.length) {
        val d = cosDist(sample(i)._3, chosen.last._3)
        if (d < minDist(i)) minDist(i) = d
        i += 1
      }
    }
    val rows = chosen.toSeq.map { case (_, id, v) =>
      Row(id, v.toSeq) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cent_id", idType),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
  }

  /** IVF ANN: assign every vector to its nearest of `nLists`
    * centroids (an inverted file), then search only the probe's
    * `nProbe` closest lists. Centroids are the deterministic
    * Lloyd-refined [[ivfCentroids]]. Shapes at scale: centroid
    * assignment is a broadcast (centroids are tiny) + map-side
    * argmax; the search joins probes to lists, so the shuffle key is
    * the list id, never the raw vector pairs.
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              nLists: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              kmeansIters: Int = 1, kmeansPlusPlus: Boolean = false)
    : DataFrame = {
    // both the list build and the probe assignment consume cents;
    // persist + materialize so the Lloyd iterations run once
    val cents = ivfCentroids(corpus, nLists, kmeansIters, idCol,
      vecCol, kmeansPlusPlus).persist(org.apache.spark.storage
      .StorageLevel.MEMORY_AND_DISK)
    cents.count()
    def assign(df: DataFrame, id: String, v: String, keep: Int)
      : DataFrame = {
      val scored = df.select(col(id), col(v))
        .join(broadcast(cents))
        .withColumn("cs", cosine(col(v), col("cv")))
      val w = Window.partitionBy(id)
        .orderBy(col("cs").desc, col("cent_id"))
      scored.withColumn("r", row_number().over(w))
        .filter(col("r") <= keep)
        .select(col(id), col(v), col("cent_id"))
    }
    val lists = assign(corpus.select(col(idCol).as("cand_id"),
      col(vecCol).as("cand_v")), "cand_id", "cand_v", 1)
    val probed = assign(probes.select(col(idCol).as("probe_id"),
      col(vecCol).as("probe_v")), "probe_id", "probe_v", nProbe)
    val scored = probed.join(lists, Seq("cent_id"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("cos", cosine(col("probe_v"), col("cand_v")))
      .select("probe_id", "cand_id", "cos")
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** IVF-PQ search — the COMPOSED layout every billion-scale ANN
    * index runs, assembled from the two pieces this library already
    * verifies separately (s04's IVF routing, s06's PQ codes): probes
    * route to their nProbe nearest lists, and candidates in those
    * lists are scored by ASYMMETRIC distance (ADC) — the probe's raw
    * subvectors against each candidate's CODEBOOK ENTRIES. The
    * candidate's raw vector is never touched at query time, which is
    * the point of the layout: a candidate row is nSub small codes,
    * so the index side of the join carries bytes per vector, not
    * dim·8.
    *
    * Scale shape: centroid routing is a broadcast argmax (map-side);
    * the candidate join is ONE equi-join keyed on the list id; ADC
    * is a per-row coalesce-of-when over plan-literal codebooks (zero
    * extra shuffles); the final top-k is one per-probe window over
    * candidates already thinned by routing. Codebooks/centroids are
    * deterministic low-id rows by default — the SQL-mirrorable
    * choice, [[farthestFirstSeeds]] being the quality upgrade.
    *
    * ADC sums the per-subspace ‖q_j − cb_j[code_j]‖² identities in
    * subspace order and rounds to 6 dp BEFORE ranking (ties → lowest
    * candidate id), the s04/s06 hash-stability discipline.
    */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                nLists: Int, nProbe: Int, nSub: Int,
                cents: Seq[(Int, Seq[Double])],
                idCol: String = "vec_id", vecCol: String = "embedding",
                kmeansIters: Int = 0): DataFrame = {
    require(cents.nonEmpty && nSub >= 1)
    val dim = cents.head._2.length
    require(dim % nSub == 0)
    val sd = dim / nSub
    val route = ivfCentroids(corpus, nLists, kmeansIters, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    route.count() // feeds corpus AND probe assignment
    def assign(df: DataFrame, id: String, v: String, keep: Int)
      : DataFrame = {
      val scored = df.select(col(id), col(v))
        .join(broadcast(route))
        .withColumn("cs", cosine(col(v), col("cv")))
      val w = Window.partitionBy(id)
        .orderBy(col("cs").desc, col("cent_id"))
      scored.withColumn("r", row_number().over(w))
        .filter(col("r") <= keep)
        .select(col(id), col(v), col("cent_id"))
    }
    // index side: list assignment + PQ codes; the raw vector is
    // DROPPED here — candidates carry (list, codes) only
    val coded = assign(corpus.select(col(idCol).as("cand_id"),
        col(vecCol).as("cand_v")), "cand_id", "cand_v", 1)
      .join(productQuantize(corpus, nSub, cents, idCol, vecCol)
        .select(col(idCol).as("cand_id") +:
          (0 until nSub).map(j => col(s"c$j")): _*), Seq("cand_id"))
      .select(col("cand_id") +: col("cent_id") +:
        (0 until nSub).map(j => col(s"c$j")): _*)
    val probed = assign(probes.select(col(idCol).as("probe_id"),
      col(vecCol).as("probe_v")), "probe_id", "probe_v", nProbe)
    // ADC per subspace: ‖q_j − cb_j[c_j]‖² resolved by a when-chain
    // over the literal codebook (same identity as productQuantize)
    def adcSub(j: Int): Column = {
      val sub = slice(col("probe_v"), j * sd + 1, sd)
      val vv = dot(sub, sub)
      coalesce(cents.map { case (cid, cv) =>
        val cSub = cv.slice(j * sd, j * sd + sd).toArray
        val cc = cSub.foldLeft(0.0)((a, x) => a + x * x)
        when(col(s"c$j") === cid.toLong,
          vv - lit(2.0) * dot(sub, lit(cSub)) + lit(cc))
      }: _*)
    }
    val adc = (0 until nSub).map(adcSub).reduceLeft(_ + _)
    val scored = probed.join(coded, Seq("cent_id"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("adc", round(adc, 6))
      .select("probe_id", "cand_id", "adc")
    val w = Window.partitionBy("probe_id")
      .orderBy(col("adc").asc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }
}
