package graft

import graft.dedup.{Dedup, ShingleCache}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The family-shared shingle cache (round-9 candidate from the
  * round-5 verdict): d02/d03/d12/d14 over ONE ShingleCache must be
  * bit-identical to the standalone builders, and the cache must
  * tokenize the corpus exactly once (one raw build, one hashed
  * projection) for the whole family.
  */
class ShingleCacheSpec extends SparkSpec {

  private def docs = spark.read
    .parquet(sf("sf0.001") + "/documents.parquet")

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("family over a shared cache is bit-identical to standalone") {
    val (fam, c) = Dedup.familyReport(docs, "doc_id", "text")
    val cached = fam.view.mapValues(rows).toMap
    c.release()
    val alone = Map(
      "jaccard" -> rows(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text")),
      "minhash_lsh" -> rows(
        Dedup.minhashLshPairs(docs, "doc_id", "text")),
      "minhash_est" -> rows(
        Dedup.minhashEstimatePairs(docs, "doc_id", "text")),
      "containment" -> rows(
        Dedup.containmentPairs(docs, "doc_id", "text")),
      "decontaminate" -> rows(
        Dedup.decontaminate(docs, "doc_id", "text")),
      "bloom_decontam" -> rows(
        Dedup.bloomDecontaminate(docs, "doc_id", "text")),
      "ngram_freq" -> rows(graft.text.TextFunctions.ngramFreq(
        docs, "doc_id", "text", 2, minFreq = 5)))
    spark.sharedState.cacheManager.clearCache()
    assert(cached.keySet == alone.keySet)
    cached.keySet.foreach { k =>
      assert(cached(k).nonEmpty, s"$k empty — vacuous family test")
      assert(cached(k) == alone(k), s"$k diverges under the cache")
    }
  }

  test("one tokenize pass per shingle level serves the family") {
    val (fam, c) = Dedup.familyReport(docs, "doc_id", "text")
    // building the plans already materialized the shared levels
    // (the builders count() their inputs); consuming every member
    // must not add builds. Three raw levels exist — (3, distinct)
    // for the dedup four, (5, distinct) shared by d07/d10, and
    // (2, plain) for the n-gram freq table — with hashed projections
    // of the first two.
    fam.values.foreach(_.collect())
    assert(c.rawBuilds.get() == 3,
      s"raw postings built ${c.rawBuilds.get()}x — family re-tokenized")
    assert(c.hashedBuilds.get() == 2,
      s"hashed postings built ${c.hashedBuilds.get()}x")
    c.release()
    spark.sharedState.cacheManager.clearCache()
  }

  test("release unpersists and a fresh cache rebuilds on demand") {
    val c = new ShingleCache(docs, "doc_id", "text")
    val p1 = c.postings(3, distinct = true)
    assert(p1.storageLevel.useMemory || p1.storageLevel.useDisk)
    c.release()
    assert(!p1.storageLevel.useMemory && !p1.storageLevel.useDisk)
    val c2 = new ShingleCache(docs, "doc_id", "text")
    assert(rows(c2.postings(3, distinct = true)) == rows(p1))
    c2.release()
  }

  test("d16's two audit sides build from ONE ShingleCache tokenize " +
    "pass (raw postings once, hashed projection once)") {
    // the d16 QFn shape: truth = ngramJaccardPairs over the cache's
    // HASHED postings, signatures = minhashSignatures over the RAW
    // postings — one tokenize+shingle pass total (VERDICT r15 item 3:
    // prove the single-subtree claim, not just state it)
    val docs = graft.sources.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val c = new ShingleCache(docs, "doc_id", "text")
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id",
      "text", 3, cache = Some(c))
    val sigs = Dedup.minhashSignatures(
      c.postings(3, distinct = true), 12)
    assert(truth.count() >= 0 && sigs.count() > 0)
    assert(c.rawBuilds.get() == 1,
      s"raw postings built ${c.rawBuilds.get()}x — d16 re-tokenized")
    assert(c.hashedBuilds.get() == 1,
      s"hashed postings built ${c.hashedBuilds.get()}x")
    c.release()
    spark.sharedState.cacheManager.clearCache()
  }
}
